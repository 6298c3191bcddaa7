"""Shared fixtures: one SparkSession, per-sf DuckDB connections, and
the oracle-parity comparator that mirrors the driver's check."""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
from collections import Counter
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
# the suite's data is small; session.py's 16g default heap can outgrow
# a small host's RAM and get the JVM OOM-killed mid-suite
os.environ.setdefault("SPARK_DRIVER_MEM", "6g")

from morphl_model_user_search_intent_spark import get_spark  # noqa: E402
from morphl_model_user_search_intent_spark.io import TABLES  # noqa: E402

# sf0.001 keeps the suite fast; the driver runs sf0.01 — override with
# TEST_SF_DIR=/root/testdata/sf0.01 for a full-fidelity local run.
SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def jobs_during(spark, fn):
    """(fn(), ids of the Spark jobs fn launched on this thread)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def dispatch_of(df, prefix):
    """The plan a dispatching operator chose for ``df``: the suffix of
    the outermost ``observe()`` metric named ``<prefix><plan>`` in its
    logical plan."""
    import re

    plan = df._jdf.queryExecution().logical().toString()
    return re.search(re.escape(prefix) + r"(\w+)", plan).group(1)


def _norm(v):
    """Normalize a cell for cross-engine comparison (mirrors the type
    bridges the driver faces: Decimal↔float, µs timestamps, lists)."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def fetch_spark(df):
    """Collect with columns sorted by name (driver hash discipline)."""
    cols = sorted(df.columns)
    rows = [tuple(_norm(r[c]) for c in cols) for r in df.collect()]
    return cols, rows


def fetch_duck(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(row[i]) for i in order) for row in cur.fetchall()]
    return sorted(cols), rows


def assert_parity(df, con, sql, name=""):
    scols, srows = fetch_spark(df)
    dcols, drows = fetch_duck(con, sql)
    assert scols == dcols, f"{name}: columns spark={scols} duck={dcols}"
    assert len(srows) == len(drows), (
        f"{name}: rowcount spark={len(srows)} duck={len(drows)}"
    )
    sc, dc = Counter(srows), Counter(drows)
    if sc != dc:
        only_s = list((sc - dc).elements())[:5]
        only_d = list((dc - sc).elements())[:5]
        raise AssertionError(
            f"{name}: value mismatch; spark-only={only_s} duck-only={only_d}"
        )
