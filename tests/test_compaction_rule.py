"""OPTIMIZE's compaction rule (`sources.acid._compaction_pick`).

- OPTIMIZE rewrites the small-file tail and the files whose tombstones
  pass the bound, and carries every other file by reference with its
  deletion-vector entries; a second OPTIMIZE with nothing to do
  commits nothing.
- `maybe_fold_dv` is the full fold: it clears the DV list.
- `dv_fraction` reads row counts from the manifest, opening a data
  file's footer only when the file has no recorded stats.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from morphl_model_user_search_intent_spark.sources import acid


def _keys(spark, lo: int, hi: int, parts: int = 1):
    return spark.range(lo, hi, numPartitions=parts).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )


def _table(spark, root: str) -> dict:
    """4 right-sized 250-row files, two 20-row appends, 40 tombstones
    in the file holding keys 0..249 (over the 10% bound) and 5 in the
    file holding 250..499 (under it)."""
    acid.create_table(spark, root, _keys(spark, 0, 1000, parts=4))
    acid.append_table(spark, root, _keys(spark, 5000, 5020))
    acid.append_table(spark, root, _keys(spark, 6000, 6020))
    doomed = _keys(spark, 0, 40).union(_keys(spark, 250, 255)).select("k")
    acid.delete_from_table(spark, root, doomed, "k")
    m = acid.read_manifest(root)
    first = {
        pq.read_table(f, columns=["k"])["k"][0].as_py(): f
        for f in m["files"]
    }
    return {lo: first[lo] for lo in (0, 250, 500, 750, 5000, 6000)}


def _tombstoned(m: dict) -> set[str]:
    return {
        b
        for d in m.get("dv_files") or ()
        for b in pq.read_table(d, columns=["_file"])["_file"].to_pylist()
    }


def _rows(spark, root: str) -> set[tuple[int, int]]:
    return {(r.k, r.v) for r in acid.read_table(spark, root).collect()}


def test_optimize_rewrites_small_and_deleted_files_only(spark, tmp_path):
    root = str(tmp_path / "t")
    by_key = _table(spark, root)
    model = {
        (k, 3 * k)
        for k in [*range(40, 250), *range(255, 1000)]
        + [*range(5000, 5020), *range(6000, 6020)]
    }
    m1 = acid.read_manifest(root)

    v = acid.optimize_table(spark, root, target_files=4)
    m2 = acid.read_manifest(root)
    assert v == m1["version"] + 1 and m2["op"] == "optimize"
    replaced = {by_key[0], by_key[5000], by_key[6000]}
    carried = {by_key[250], by_key[500], by_key[750]}
    assert set(m1["files"]) - set(m2["files"]) == replaced
    assert carried <= set(m2["files"])
    # 250 live rows at T = 995 / 4 make one file
    assert len(set(m2["files"]) - set(m1["files"])) == 1
    # the carried file keeps its tombstones; none names a replaced file
    assert _tombstoned(m2) == {os.path.basename(by_key[250])}
    assert _rows(spark, root) == model

    # nothing left to compact: no commit
    assert acid.optimize_table(spark, root, target_files=4) == v
    assert acid.latest_version(root) == v

    # the full fold clears the DV list
    acid.maybe_fold_dv(spark, root, threshold=0.0, target_files=4)
    assert not acid.read_manifest(root).get("dv_files")
    assert _rows(spark, root) == model


def test_dv_fraction_reads_row_counts_from_the_manifest(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "t")
    acid.create_table(spark, root, _keys(spark, 0, 1000, parts=4))
    src = _keys(spark, 900, 1100).withColumn(
        "_delete", F.col("k") % 50 == 0
    )
    acid.merge_table(spark, root, src, "k")
    acid.delete_from_table(spark, root, _keys(spark, 0, 30).select("k"), "k")

    m = acid.read_manifest(root)
    n_rows = sum(pq.read_metadata(f).num_rows for f in m["files"])
    n_dv = sum(pq.read_metadata(f).num_rows for f in m["dv_files"])
    with_stats = set(m.stats_for(m["files"]))
    merged = set(m["files"]) - set(acid.read_manifest(root, 1)["files"])
    assert {os.path.basename(f) for f in merged} <= with_stats

    opened = []
    real = pq.read_metadata

    def spy(path, *a, **kw):
        opened.append(os.path.basename(path))
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "read_metadata", spy)
    assert acid.dv_fraction(root) == n_dv / n_rows
    assert opened and not set(opened) & with_stats


def test_partitioned_optimize_sizes_files_per_partition(spark, tmp_path):
    """T is per partition: a compacted multi-partition table is a
    no-op for both entry points, and an append's small files are
    the only ones rewritten in their partition."""
    root = str(tmp_path / "t")

    def part(df):
        return df.withColumn("p", F.col("k") % 4)

    acid.create_table_partitioned(
        spark, root, part(_keys(spark, 0, 1000, parts=4)), ["p"]
    )
    assert len(acid.read_manifest(root)["files"]) == 16
    v = acid.optimize_table_partitioned(spark, root, {}, target_files=1)
    assert len(acid.read_manifest(root)["files"]) == 4
    assert acid.optimize_table_partitioned(spark, root, {}) == v
    assert acid.optimize_table(spark, root) == v
    assert acid.latest_version(root) == v

    # two 20-row appends, both in partition p = 1
    for lo in (5001, 6001):
        rows = spark.range(lo, lo + 80, 4, numPartitions=1).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        )
        acid.append_table_partitioned(spark, root, part(rows))
    m1 = acid.read_manifest(root)
    appended = set(m1["files"]) - set(acid.read_manifest(root, v)["files"])
    assert len(appended) == 2
    v2 = acid.optimize_table_partitioned(spark, root, {}, target_files=1)
    m2 = acid.read_manifest(root)
    assert v2 == m1["version"] + 1
    assert set(m1["files"]) - set(m2["files"]) == appended
    assert len(m2["files"]) == 5
    model = {
        (k, 3 * k, k % 4)
        for k in [*range(1000), *range(5001, 5081, 4), *range(6001, 6081, 4)]
    }
    got = {(r.k, r.v, r.p) for r in acid.read_table(spark, root).collect()}
    assert got == model
    assert acid.optimize_table_partitioned(spark, root, {}) == v2
