"""Table loading for the 10 driver-provided Parquet tables.

Schemas are ground truth from FIXTURES.md (read from Parquet footers).
``events.ts`` arrives as Parquet TIMESTAMP(NANOS); with
``spark.sql.legacy.parquet.nanosAsLong=true`` Spark surfaces it as a
long (ns since epoch) which we convert EXACTLY to a microsecond
timestamp via integer division (``ts div 1000``) — matching DuckDB's
native ns→µs truncation, with no double-precision round-trip.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import configure

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a session-tz (UTC) TIMESTAMP regardless
    of the on-disk layout.  Two layouts observed across driver testdata
    generations:

    - Parquet TIMESTAMP(NANOS): surfaced as ``bigint`` ns under
      ``nanosAsLong=true`` → exact integer ``div 1000`` to µs.
    - Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): surfaced as
      ``timestamp_ntz`` → plain cast; exact because the session
      timezone is pinned to UTC (session.RUNTIME_CONFS).
    """
    t = dict(df.dtypes).get("ts")
    if t == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if t == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Per-session scan cache: building a reader + normalization chain is
# pure py4j round-trips (~50-150 ms/query build); the resulting
# DataFrame is an immutable logical plan, safe to share across
# queries.  Keyed by session id with a weakref identity check so a
# recycled id after GC can never serve another session's plans.
_SCAN_CACHE: dict[int, tuple[object, dict[tuple[str, str], DataFrame]]] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table; applies the events timestamp normalization.
    Scan plans are cached per (session, dir, table) — the engine's
    in-process catalog."""
    import weakref

    configure(spark)
    ent = _SCAN_CACHE.get(id(spark))
    if ent is None or ent[0]() is not spark:
        ent = (weakref.ref(spark), {})
        _SCAN_CACHE[id(spark)] = ent
    cache = ent[1]
    key = (os.path.abspath(sf_dir), name)
    df = cache.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events":
            df = normalize_events_ts(df)
        cache[key] = df
    return df


def load(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all 10 tables as a dict keyed by table name."""
    return {name: table(spark, sf_dir, name) for name in TABLES}


# Per-table row-group count, keyed by resolved file path.  Footer
# metadata only (no data pages).  A row group is never split across
# scan tasks, so this is an UPPER bound on the tasks a scan can keep
# busy; see `scan_splits` for when the real count is lower.
_SPLIT_CACHE: dict[str, int] = {}


def scan_splits(sf_dir: str, name: str) -> int:
    """Total parquet row groups across the table's file(s) — an upper
    bound on the scan's useful task count (Spark assigns a row group to
    the byte-range split holding its midpoint; splits beyond that read
    nothing).  The scan only reaches it when the files are cut into
    that many splits: Spark cuts a file at
    ``min(maxPartitionBytes, max(openCostInBytes, bytes per core))``,
    so a file under the 4 MB ``openCostInBytes`` default scans as ONE
    task whatever its row-group count.  Those split sizes are session
    confs (``spark.sql.files.*``); a read has no per-scan option."""
    path = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    hit = _SPLIT_CACHE.get(path)
    if hit is not None:
        return hit
    try:
        import pyarrow.parquet as pq

        files = (
            sorted(
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
            if os.path.isdir(path)
            else [path]
        )
        n = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    except Exception:  # missing/odd footer — assume splittable enough
        n = 1 << 20
    _SPLIT_CACHE[path] = max(n, 1)
    return _SPLIT_CACHE[path]


def spread(
    df: DataFrame, spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Parallelism floor for compute-bound work above an UNSPLITTABLE
    scan (guide §2.5: "one huge unsplittable file … repartition
    immediately after the read").

    The fixture tables are single-row-group parquet, so every scan runs
    exactly one useful task regardless of maxPartitionBytes /
    openCostInBytes; per-row-expensive stages above it (JSON parse,
    array dot products) serialize on one core.  When — and only when —
    the table's row-group count is below the session's shuffle
    parallelism, a round-robin repartition fans the downstream work
    out.  The row-group count is an upper bound (`scan_splits`): a file
    with many row groups but under the 4 MB ``openCostInBytes`` floor
    still scans as one task and is NOT fanned out here.  Fanning it
    out shuffles every selected column, so a caller whose rows carry
    the document text pays in bytes moved what it gains in cores.  On a production layout (many ≥128 MB row groups) the
    condition is false and this is a plan no-op, so the exchange can
    never become a scale-side regression.  Row-to-partition assignment
    is deterministic under retries (sortBeforeRepartition, Spark's
    default, stays on)."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if scan_splits(sf_dir, name) * 2 <= n_part:
        return df.repartition(n_part)
    return df
