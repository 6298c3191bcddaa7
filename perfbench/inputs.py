"""Seeded input generator for the benchmark workloads.

Every table is a pure function of ``(workload, seed, size)``: the same
triple writes byte-identical Parquet files.  Output is cached under the
checkout's ``.perfbench/inputs`` directory (gitignored), keyed by that
triple and a digest of this file, so the per-seed cost is paid once.

Text is drawn from a generated Zipf vocabulary, never by amplifying the
fixture corpus: the fixture text has only 31 distinct words, and copies
of it make MinHash band buckets collide until the dedup self-join
explodes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 20_000
ZIPF_S = 1.0
N_CLASSES = 10
DIM = 64
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# Row counts per workload; `size_label` digests them into the cache key.
SIZES = {
    "search_intent": {"queries": 3_000, "vectors": 3_000},
    "corpus_dedup": {"docs": 3_000, "dup_share": 0.07, "row_groups": 8},
    "table_upsert": {
        "rows": 100_000,
        "files": 16,
        "batches": 64,
        "update_share": 0.01,
        "inserts": 500,
        "delete_share": 0.001,
    },
}


def _write(table: pa.Table, path: str, row_groups: int = 1) -> None:
    """Write `table` as one Parquet file with `row_groups` row groups."""
    n = max(table.num_rows, 1)
    pq.write_table(
        table, path, row_group_size=-(-n // row_groups), compression="snappy"
    )


def vocabulary(n: int = VOCAB_SIZE) -> np.ndarray:
    """`n` distinct lowercase words of 3-9 letters.  The vocabulary is
    the same for every seed, so seeds vary the sample, not the
    language."""
    rng = np.random.default_rng(0)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    words: dict[str, None] = {}
    while len(words) < n:
        lens = rng.integers(3, 10, size=n)
        codes = rng.choice(letters, size=(n, 9))
        for row, k in zip(codes, lens):
            words.setdefault(row[:k].tobytes().decode(), None)
            if len(words) == n:
                break
    return np.array(list(words))


def zipf_probs(n: int = VOCAB_SIZE, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _texts(
    rng: np.random.Generator,
    words: np.ndarray,
    probs: np.ndarray,
    lo: int,
    hi: int,
    n: int,
) -> list[str]:
    """`n` space-joined texts of `lo`..`hi` tokens drawn from `probs`."""
    lens = rng.integers(lo, hi + 1, size=n)
    toks = rng.choice(len(words), size=int(lens.sum()), p=probs)
    out, at = [], 0
    for k in lens:
        out.append(" ".join(words[toks[at : at + k]]))
        at += k
    return out


def _documents(ids, texts, rng) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=len(ids), p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, spread: float) -> pa.Table:
    """`n` labelled 64-dim vectors: class centroid + Gaussian noise of
    std `spread` (a large spread makes labels nearly independent of
    the vectors, as in the fixture)."""
    centroids = rng.normal(0.0, 1.0, size=(N_CLASSES, DIM))
    labels = rng.integers(0, N_CLASSES, size=n)
    vecs = (centroids[labels] + rng.normal(0.0, spread, size=(n, DIM))).astype(
        np.float32
    )
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), DIM).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


def search_log(out: str, seed: int, size: dict) -> None:
    """A search-query log (2-12 tokens per query over the Zipf
    vocabulary) plus labelled intent vectors with planted class
    centroids, so the classifier's accuracy floor is meaningful."""
    rng = np.random.default_rng([seed, 2])
    words = vocabulary()
    n_q = size["queries"]
    texts = _texts(rng, words, zipf_probs(), 2, 12, n_q)
    _write(_documents(np.arange(n_q), texts, rng), os.path.join(out, "documents.parquet"), 4)
    emb = _embeddings(rng, size["vectors"], spread=1.5)
    _write(emb, os.path.join(out, "embeddings.parquet"), 4)


def corpus(out: str, seed: int, size: dict) -> None:
    """A web-corpus sample of 25-90-token documents over the Zipf
    vocabulary with planted exact and near duplicates (half each), in
    several row groups per file."""
    rng = np.random.default_rng([seed, 3])
    words = vocabulary()
    n = size["docs"]
    texts = _texts(rng, words, zipf_probs(), 25, 90, n)
    n_dup = int(n * size["dup_share"])
    dst = rng.choice(np.arange(n // 10, n), size=n_dup, replace=False)
    for i, d in enumerate(dst):
        src = int(rng.integers(0, d))
        toks = texts[src].split(" ")
        if i % 2:  # near duplicate: swap ~5% of the tokens
            for j in rng.choice(len(toks), size=max(1, len(toks) // 20), replace=False):
                toks[j] = words[rng.integers(0, len(words))]
        texts[d] = " ".join(toks)
    rg = size["row_groups"]
    _write(_documents(np.arange(n), texts, rng), os.path.join(out, "documents.parquet"), rg)
    emb = _embeddings(rng, n // 2, spread=8.0)
    _write(emb, os.path.join(out, "embeddings.parquet"), rg)


def orders_table(out: str, seed: int, size: dict) -> None:
    """Initial order rows in `files` files, plus `batches` merge
    batches (random-key updates + fresh-key inserts) and delete-key
    batches.  Prices are integer cents so every check is exact."""
    rng = np.random.default_rng([seed, 4])
    n, n_files = size["rows"], size["files"]
    keys = rng.permutation(n).astype(np.int64)
    base = pa.table(
        {
            "o_orderkey": pa.array(keys),
            "o_custkey": pa.array(rng.integers(0, n // 10, n), pa.int64()),
            "o_orderstatus": rng.choice(["O", "F", "P"], n),
            "price_cents": pa.array(rng.integers(90_000, 45_000_000, n), pa.int64()),
        }
    )
    os.makedirs(os.path.join(out, "base"))
    per = -(-n // n_files)
    for i in range(n_files):
        _write(base.slice(i * per, per), os.path.join(out, "base", f"part-{i:03d}.parquet"))
    os.makedirs(os.path.join(out, "merge"))
    os.makedirs(os.path.join(out, "delete"))
    n_upd, n_ins = int(n * size["update_share"]), size["inserts"]
    n_del = int(n * size["delete_share"])
    for b in range(size["batches"]):
        upd = rng.choice(n, size=n_upd, replace=False).astype(np.int64)
        ins = np.arange(n + b * n_ins, n + (b + 1) * n_ins, dtype=np.int64)
        k = np.concatenate([upd, ins])
        m = len(k)
        _write(
            pa.table(
                {
                    "o_orderkey": pa.array(k),
                    "o_custkey": pa.array(rng.integers(0, n // 10, m), pa.int64()),
                    "o_orderstatus": rng.choice(["O", "F", "P"], m),
                    "price_cents": pa.array(
                        rng.integers(90_000, 45_000_000, m), pa.int64()
                    ),
                    "_delete": pa.array(np.zeros(m, dtype=bool)),
                }
            ),
            os.path.join(out, "merge", f"batch-{b:03d}.parquet"),
        )
        dk = rng.choice(n + (b + 1) * n_ins, size=n_del, replace=False)
        _write(
            pa.table({"o_orderkey": pa.array(dk.astype(np.int64))}),
            os.path.join(out, "delete", f"batch-{b:03d}.parquet"),
        )


GENERATORS = {
    "search_intent": search_log,
    "corpus_dedup": corpus,
    "table_upsert": orders_table,
}


def tree_stats(path: str) -> dict:
    """Parquet files, rows and bytes under `path`."""
    files = rows = size = 0
    for root, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                files += 1
                rows += pq.read_metadata(p).num_rows
                size += os.path.getsize(p)
    return {"files": files, "rows": rows, "bytes": size}


def size_label(workload: str) -> str:
    """Short digest of the workload's size table and of this module's
    source: the cache key's size part, so neither resizing a workload
    nor changing a generator ever reads stale inputs or oracles."""
    with open(__file__, "rb") as fh:
        src = fh.read()
    blob = json.dumps(SIZES[workload], sort_keys=True).encode() + src
    return hashlib.sha1(blob).hexdigest()[:8]


def ensure(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Return (input dir, stats) for (workload, seed, size), generating
    on a miss.
    Generation writes to a temporary sibling and renames it into place,
    so an interrupted run never leaves a half-written cache entry."""
    out = os.path.join(cache_root, f"{workload}-s{seed}-{size_label(workload)}")
    meta = os.path.join(out, "_inputs.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            return out, json.load(fh)
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](tmp, seed, SIZES[workload])
    stats = tree_stats(tmp)
    with open(os.path.join(tmp, "_inputs.json"), "w") as fh:
        json.dump(stats, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, stats
