"""The one word n-gram kernel, `text.analysis.ngrams`, and its consumers.

- ``ngrams`` / ``shingle_rows_of`` equal a plain-Python reference (the
  generator the package used before the kernel was native) for
  n ∈ {2, 3, 8, 13}, on the sf0.001 corpus and on short and
  odd-spacing texts.
- Every registry key built on the kernel matches its DuckDB oracle on
  a corpus holding an empty, a one-token and a two-token document
  (the positional ``element_at`` forms it replaced raised
  ``INVALID_ARRAY_INDEX_IN_ELEMENT_AT`` there).
- No consumer's optimized plan re-evaluates the tokenizer inside a
  higher-order-function lambda (O(k²) per document).
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from morphl_model_user_search_intent_spark import REGISTRY
from morphl_model_user_search_intent_spark.io import TABLES, table
from morphl_model_user_search_intent_spark.llm.dedup import shingle_rows_of
from morphl_model_user_search_intent_spark.text.analysis import (
    ngrams,
    tokens,
)

from conftest import SF_DIR, fetch_duck, fetch_spark, jobs_during

ODD_TEXTS = [
    "",
    "solo",
    "two words",
    "a  b",
    "  padded  text here  ",
    "x  y  z",
    "rep rep rep rep rep rep rep rep rep rep rep rep rep rep",
    " ".join(f"w{i % 5}" for i in range(30)),
]


def reference_ngrams(text: str, n: int) -> list[str]:
    """Positional n-grams of ``tokens()``: trim spaces, split on single
    spaces (runs leave empty tokens), join each window of ``n``."""
    toks = text.strip(" ").split(" ")
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def reference_shingles(text: str, n: int) -> list[str]:
    """Distinct n-grams in first-seen order."""
    return list(dict.fromkeys(reference_ngrams(text, n)))


def reference_fingerprint(text: str) -> str:
    """Min md5 over the 3-grams; a document under 3 tokens hashes its
    whole token run."""
    toks = text.strip(" ").split(" ")
    return min(
        hashlib.md5(" ".join(toks[i : i + 3]).encode("utf-8")).hexdigest()
        for i in range(max(len(toks) - 2, 1))
    )


def _corpus():
    docs = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()
    base = max(r["doc_id"] for r in docs) + 1
    return docs + [
        {"doc_id": base + i, "text": t} for i, t in enumerate(ODD_TEXTS)
    ]


@pytest.mark.parametrize("n", [2, 3, 8, 13])
def test_ngrams_match_python_reference(spark, n):
    docs = _corpus()
    d = spark.createDataFrame(docs, "doc_id bigint, text string")
    t = F.col("toks")
    got = {
        r.doc_id: (r.pos, r.dist)
        for r in d.select("doc_id", tokens().alias("toks"))
        .select(
            "doc_id",
            ngrams(t, n).alias("pos"),
            F.array_distinct(ngrams(t, n)).alias("dist"),
        )
        .collect()
    }
    for r in docs:
        assert got[r["doc_id"]] == (
            reference_ngrams(r["text"], n),
            reference_shingles(r["text"], n),
        ), r["text"]
    rows = Counter(tuple(r) for r in shingle_rows_of(d, n).collect())
    want = Counter(
        (r["doc_id"], s)
        for r in docs
        for s in reference_shingles(r["text"], n)
    )
    assert rows == want


# Every key whose plan calls `ngrams`, directly or through
# `shingle_rows_of` / `jaccard_pairs`.
KERNEL_KEYS = (
    "q_text_ngrams",
    "q_text_repetition",
    "q_text_pmi",
    "q_text_novelty",
    "q_text_contamination",
    "q_dedup_jaccard",
    "q_dedup_clusters",
    "q_dedup_containment",
    "q_dedup_minhash_portable",
    "q_dedup_eval",
    "q_dedup_boilerplate",
    "q_dedup_substring",
    "q_corpus_funnel",
)

SHORT_TEXTS = ("", "solo", "two words")


@pytest.fixture(scope="module")
def short_sf(tmp_path_factory):
    """The sf0.001 tables with three documents' texts replaced by an
    empty, a one-token and a two-token text."""
    root = tmp_path_factory.mktemp("short_docs")
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet"))
    rows = docs.to_pylist()
    for r, text in zip(rows[10:13], SHORT_TEXTS):
        r["text"], r["n_chars"] = text, len(text)
    pq.write_table(pa.Table.from_pylist(rows, schema=docs.schema),
                   root / "documents.parquet")
    for t in TABLES:
        if t != "documents":
            os.symlink(os.path.join(SF_DIR, f"{t}.parquet"),
                       root / f"{t}.parquet")
    return str(root)


def test_kernel_keys_match_oracles_on_short_documents(spark, short_sf):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{short_sf}/{t}.parquet')"
        )
    mismatched = {}
    for name in KERNEL_KEYS:
        try:
            scols, srows = fetch_spark(REGISTRY[name].fn(spark, short_sf))
        except Exception as exc:  # a crash is reported like a mismatch
            mismatched[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
            continue
        dcols, drows = fetch_duck(con, REGISTRY[name].oracle)
        if (scols, Counter(srows)) != (dcols, Counter(drows)):
            mismatched[name] = f"spark {len(srows)} rows, duck {len(drows)}"
    con.close()
    assert not mismatched, "\n".join(
        f"{k}: {v}" for k, v in mismatched.items()
    )

    # The fingerprint oracles index past the end of a short token list,
    # which DuckDB answers with NULL, so they give NULL for documents
    # under 3 tokens where the engine hashes the truncated run; those
    # two keys are checked against the Python reference instead.
    docs = pq.read_table(
        os.path.join(short_sf, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()
    want = {r["doc_id"]: reference_fingerprint(r["text"]) for r in docs}
    got = {
        r.doc_id: r.fp
        for r in REGISTRY["q_text_fingerprint"].fn(spark, short_sf).collect()
    }
    assert got == want
    groups = Counter(want.values())
    assert sorted(
        (r.fp, r.n_docs)
        for r in REGISTRY["q_dedup_fingerprint"].fn(spark, short_sf).collect()
    ) == sorted((fp, n) for fp, n in groups.items() if n > 1)


def _lambda_bodies(plan: str):
    """The argument text of every ``lambdafunction(...)`` in a plan."""
    start = 0
    while (i := plan.find("lambdafunction(", start)) >= 0:
        depth, j = 0, i + len("lambdafunction")
        while True:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
            if depth == 0:
                break
        yield plan[i:j]
        start = i + 1


# Kernel consumers whose build launches no Spark job, so the returned
# DataFrame's optimized plan holds the whole n-gram pipeline.
LAZY_KERNEL_KEYS = (
    "q_text_ngrams",
    "q_text_repetition",
    "q_text_novelty",
    "q_text_fingerprint",
    "q_text_contamination",
    "q_dedup_jaccard",
    "q_dedup_boilerplate",
    "q_corpus_funnel",
)


def test_tokenizer_stays_out_of_ngram_lambdas(spark):
    # warm the scan cache: a table's first read infers its schema with
    # a job
    d = table(spark, SF_DIR, "documents").select("doc_id", "text")
    frames = {"shingle_rows_of": shingle_rows_of(d)}
    for name in LAZY_KERNEL_KEYS:
        frames[name], jobs = jobs_during(
            spark, lambda: REGISTRY[name].fresh(spark, SF_DIR)
        )
        assert not jobs, f"{name} launched jobs while building"
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        bodies = list(_lambda_bodies(plan))
        assert bodies, f"{name}: no lambda in the optimized plan"
        assert not [b for b in bodies if "split(" in b], name
