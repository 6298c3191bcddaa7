"""Gates for the full-file rewrite kernel (``sources/acid.py::_rewrite``)
behind OPTIMIZE, Z-order and the generated-column and row-tracking
backfills: every writer keeps the logical rows and their hidden row
ids, retires the deletion-vector entries of the files it replaces,
and re-homogenizes a mixed column map when it rewrites every file.
"""

from __future__ import annotations

import os

import pytest

from morphl_model_user_search_intent_spark.io import table
from morphl_model_user_search_intent_spark.sources import acid

from conftest import SF_DIR

_IDENTITY = {
    "identity": {
        "col": "_row_id",
        "order": ["o_orderkey"],
        "buckets": 8,
        "high": 0,
        "hidden": True,
    }
}
_GEN = "CAST(floor(price / 50.0) AS BIGINT)"

_WRITERS = {
    "optimize": lambda s, r: acid.optimize_table(s, r, target_files=2),
    "optimize_partitioned": lambda s, r: acid.optimize_table_partitioned(
        s, r, {"o_year": 1996}
    ),
    "zorder": lambda s, r: acid.optimize_table_zorder(
        s, r, ["o_orderkey", "price"], target_files=2
    ),
    "zorder_partitioned": lambda s, r: acid.optimize_table_zorder_partitioned(
        s, r, ["o_orderkey", "price"], {"o_year": 1996}, target_files=2
    ),
    "add_generated": lambda s, r: acid.add_generated_column(s, r, "pb", _GEN),
    "row_tracking": lambda s, r: acid.enable_row_tracking(
        s, r, order=["o_orderkey"]
    ),
}
_PARTIAL = {"optimize_partitioned", "zorder_partitioned"}


def _orders(spark):
    import pyspark.sql.functions as F

    return table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    )


def _mixed_table(spark, root, partitioned, row_ids):
    """A table with a dropped-and-re-added column (a mixed column map),
    hidden row ids unless ``row_ids`` is False, and a DV backlog over
    every file.  The partitioned one evolves a flat table to an
    ``o_year`` spec and appends partitioned files after it, so it also
    holds files that record no partition value."""
    import pyspark.sql.functions as F

    base = _orders(spark)
    k = F.col("o_orderkey")
    acid.create_table(
        spark,
        root,
        base.filter(k % 3 != 0).repartition(3),
        schema_meta=_IDENTITY if row_ids else None,
    )
    acid.drop_column(spark, root, "o_orderpriority")
    readd = base.filter(k % 3 == 0)
    if not partitioned:
        acid.append_table(spark, root, readd, allow_evolution=True)
    else:
        old = F.col("o_year") <= 1994
        acid.append_table(
            spark, root, readd.filter(old), allow_evolution=True
        )
        acid.evolve_partition_spec(root, ["o_year"])
        acid.append_table_partitioned(spark, root, readd.filter(~old))
    acid.delete_from_table(
        spark, root, base.filter(k % 7 == 0).select("o_orderkey"), "o_orderkey"
    )
    m = acid.read_manifest(root)
    assert m["colmap"]["mixed"] is True and m.get("dv_files")


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _tombstoned(m):
    import pyarrow.parquet as pq

    return {
        f
        for d in m.get("dv_files") or []
        for f in pq.read_table(d, columns=["_file"]).column("_file").to_pylist()
    }


@pytest.mark.parametrize(
    "writer,layout",
    [
        (w, "flat")
        for w in ("optimize", "zorder", "add_generated", "row_tracking")
    ]
    + [
        (w, "partitioned")
        for w in (
            "optimize",
            "optimize_partitioned",
            "zorder_partitioned",
            "add_generated",
            "row_tracking",
        )
    ],
)
def test_rewrite_keeps_rows_and_ids_and_retires_dv(
    spark, tmp_path, writer, layout
):
    """Each compaction-shaped writer on a mixed, DV-masked table with
    hidden row ids (the flat Z-order refuses a partition spec and the
    partition-scoped writers need one, so those run on one layout)."""
    import pyspark.sql.functions as F

    root = str(tmp_path / "t")
    _mixed_table(spark, root, layout == "partitioned", writer != "row_tracking")
    m0 = acid.read_manifest(root)
    before = _rows(acid.read_table(spark, root, with_row_ids=True))
    _WRITERS[writer](spark, root)
    m1 = acid.read_manifest(root)
    after = acid.read_table(spark, root, with_row_ids=True)
    if writer == "add_generated":
        bad = after.filter(~F.col("pb").eqNullSafe(F.expr(_GEN)))
        assert bad.count() == 0
        after = after.drop("pb")
    if writer == "row_tracking":
        ids = [r._row_id for r in after.select("_row_id").collect()]
        assert sorted(ids) == list(range(1, len(before) + 1))
        after = after.drop("_row_id")
    assert _rows(after) == before
    replaced = {os.path.basename(f) for f in set(m0["files"]) - set(m1["files"])}
    assert replaced
    assert not (_tombstoned(m1) & replaced)
    full = writer not in _PARTIAL
    assert m1["colmap"]["mixed"] is (not full)
    if full:
        assert not m1.get("dv_files")
    if layout == "partitioned":
        new = set(m1["files"]) - set(m0["files"])
        assert all(os.path.basename(f) in m1["partitions"] for f in new)


def test_zorder_commits_empty_and_all_null_inputs(spark, tmp_path):
    """Z-order of a table whose rows are all deleted, and on a cluster
    column that is entirely NULL: the missing [min, max] bound is a
    zero span, and the rewrite commits the rows unchanged."""
    import pyspark.sql.functions as F

    base = _orders(spark).drop("o_year").limit(50)
    gone = str(tmp_path / "gone")
    acid.create_table(spark, gone, base.repartition(2))
    acid.delete_from_table(spark, gone, base.select("o_orderkey"), "o_orderkey")
    v = acid.optimize_table_zorder(spark, gone, ["o_orderkey", "price"])
    assert acid.read_manifest(gone, v)["op"] == "zorder:o_orderkey,price"
    assert acid.read_table(spark, gone).count() == 0
    assert not acid.read_manifest(gone).get("dv_files")

    nulls = str(tmp_path / "nulls")
    acid.create_table(
        spark,
        nulls,
        base.withColumn("price", F.lit(None).cast("double")).repartition(2),
    )
    before = _rows(acid.read_table(spark, nulls))
    acid.optimize_table_zorder(spark, nulls, ["price", "o_orderkey"])
    assert _rows(acid.read_table(spark, nulls)) == before
