"""Round-9 probe (r8 verdict item 2): manifest resolution cost at
production file counts, indexed vs linear.

Synthesizes manifests (no Spark, no I/O — this measures the metadata
op itself) at n_files x n_partitions grids, then times
``resolve_files`` three ways:

- linear: the pre-round-9 walk (pidx stripped) — O(n_files);
- indexed: the committed ``pidx`` path — O(distinct values of the
  filter column + matched files), i.e. O(touched partitions);
- indexed-10p: an IN-list of 10 partitions through the index.

Also checks, at every grid point, that the indexed result EQUALS the
linear result (same files, same order) for single-value, IN-list,
multi-column, and evolution-style (unrecorded-file) filters.

Usage: python tools/manifest_index_probe.py
Prints one JSON line per grid point.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from morphl_model_user_search_intent_spark.sources.acid import (  # noqa: E402
    _build_pidx,
    resolve_files,
)


def synth_manifest(n_parts: int, files_per_part: int) -> dict:
    """A manifest shaped like a date-partitioned ingest table:
    ``day`` int partition, plus 1% legacy files that predate the
    column (partition evolution)."""
    files, partitions = [], {}
    for p in range(n_parts):
        for i in range(files_per_part):
            b = f"f{p:05d}-{i:04d}.parquet"
            files.append(f"/t/data/{b}")
            if (p * files_per_part + i) % 100 != 99:
                partitions[b] = {"day": p}
    m = {"files": files, "partitions": partitions}
    m["pidx"] = _build_pidx(files, partitions)
    return m


def timed(fn, reps: int = 20) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    grids = [(100, 8), (1_000, 10), (1_000, 100), (10_000, 10)]
    for n_parts, fpp in grids:
        m = synth_manifest(n_parts, fpp)
        linear = {k: v for k, v in m.items() if k != "pidx"}
        probes = {
            "one_part": {"day": n_parts // 2},
            "in_10": {"day": list(range(0, n_parts, n_parts // 10))},
        }
        # correctness first: indexed == linear on every probe shape
        for name, f in list(probes.items()) + [
            ("missing_col", {"region": "eu"}),
            ("multi", {"day": [1, 2], "region": "eu"}),
        ]:
            got = resolve_files(m, f)
            want = resolve_files(linear, f)
            assert got == want, (name, len(got), len(want))
        row = {
            "n_files": len(m["files"]),
            "n_partitions": n_parts,
        }
        for name, f in probes.items():
            row[f"linear_{name}_ms"] = round(
                timed(lambda: resolve_files(linear, f)) * 1e3, 3
            )
            row[f"indexed_{name}_ms"] = round(
                timed(lambda: resolve_files(m, f)) * 1e3, 3
            )
            row[f"{name}_matched"] = len(resolve_files(m, f))
        row["pidx_build_ms"] = round(
            timed(lambda: _build_pidx(m["files"], m["partitions"]), 3)
            * 1e3,
            1,
        )
        print(json.dumps(row))


def tree_section() -> None:
    """Round-10 extension: the TWO-LEVEL manifest's end-to-end costs
    on REAL on-disk tables (the round-9 section above measures only
    in-memory resolution).  At each grid point — up to 10⁶ files —
    this times, against a committed format-2 table:

    - read_resolve: read_manifest + one-partition resolve_files
      (O(n_chunks descriptors + matched chunk));
    - commit_append: commit_delta appending 10 files to ONE partition
      (O(delta + descriptors), never re-serializing carried chunks);
    - commit_remove: resolve one partition, commit_delta removing 10
      of its files — O(touched chunks) via the Manifest's exact
      membership routing, with the loader-call count printed (the
      round-10 review showed the earlier [lo,hi] basename bound never
      prunes uuid names, silently degrading removals to every-chunk
      reads);
    - commit_dv: a zero-file-delta commit (DV-style) — descriptors
      only;
    - v1_parse / v1_serialize: the single-JSON manifest's costs at
      the same size, the pre-round-10 baseline both replace.

    Basenames are uuid-style uniform hex, like _write_files actually
    produces — partition-prefixed sorted names would make the [lo,hi]
    bounds look useful when on real tables they are not.

    Also asserts, at every grid point, that delta-committed state
    hydrates to exactly full-commit state (files ∪ delta)."""
    import hashlib
    import shutil
    import tempfile

    from morphl_model_user_search_intent_spark.sources.acid import (
        commit,
        commit_delta,
        read_manifest,
    )

    grids = [(100, 100), (1_000, 100), (1_000, 1_000)]
    for n_parts, fpp in grids:
        td = tempfile.mkdtemp(prefix="mtree-")
        root = os.path.join(td, "t")
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        files, partitions = [], {}
        for p in range(n_parts):
            for i in range(fpp):
                b = (
                    hashlib.sha1(f"{p}/{i}".encode()).hexdigest()
                    + ".parquet"
                )
                files.append(f"{root}/data/{b}")
                partitions[b] = {"day": p}
        row = {"n_files": len(files), "n_partitions": n_parts}
        t0 = time.perf_counter()
        commit(root, files, "create", parent=0,
               partition_cols=["day"], partitions=partitions)
        row["commit_full_s"] = round(time.perf_counter() - t0, 3)

        def read_resolve():
            m = read_manifest(root)
            return resolve_files(m, {"day": n_parts // 2})

        row["read_resolve_ms"] = round(timed(read_resolve, 5) * 1e3, 2)
        row["matched"] = len(read_resolve())

        new = [f"{root}/data/x{i:06d}.parquet" for i in range(10)]
        newp = {os.path.basename(f): {"day": 0} for f in new}

        def append_delta():
            m = read_manifest(root)
            return commit_delta(
                root, m, "append", added=new, partitions=newp
            )

        t0 = time.perf_counter()
        v = append_delta()
        row["commit_append_ms"] = round(
            (time.perf_counter() - t0) * 1e3, 2
        )
        m2 = read_manifest(root, v)
        assert sorted(m2["files"]) == sorted(files + new)
        t0 = time.perf_counter()
        v = commit_delta(root, m2, "delete",
                         dv_files=[f"{root}/dv/d.parquet"])
        row["commit_dv_ms"] = round(
            (time.perf_counter() - t0) * 1e3, 2
        )
        # removal: resolve ONE partition on a fresh manifest object,
        # drop 10 of its files — the loader-call count proves only
        # that partition's chunks are opened (plus the tail-coalesce
        # none: removal-only commits add nothing)
        m3 = read_manifest(root, v)
        part = resolve_files(m3, {"day": 1})
        drop = part[:10]
        loads: list[str] = []
        orig = m3.load_chunk
        m3.load_chunk = (
            lambda d: (loads.append(d["id"]), orig(d))[1]
        )
        t0 = time.perf_counter()
        v = commit_delta(root, m3, "remove", removed=drop)
        row["commit_remove_ms"] = round(
            (time.perf_counter() - t0) * 1e3, 2
        )
        row["remove_chunk_loads"] = len(set(loads))
        m4 = read_manifest(root, v)
        assert m4["nfiles"] == len(files) + len(new) - len(drop)
        # the pre-round-10 baseline: one JSON carrying everything
        v1 = {"version": 1, "files": sorted(files),
              "partitions": partitions,
              "pidx": _build_pidx(files, partitions)}
        p1 = os.path.join(td, "v1.json")
        t0 = time.perf_counter()
        with open(p1, "w") as fh:
            json.dump(v1, fh)
        row["v1_serialize_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        with open(p1) as fh:
            json.load(fh)
        row["v1_parse_s"] = round(time.perf_counter() - t0, 3)
        print(json.dumps(row))
        shutil.rmtree(td, ignore_errors=True)


if __name__ == "__main__":
    main()
    tree_section()
