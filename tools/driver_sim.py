"""Simulate the driver's verify pass end-to-end.

Loads ``__spark_entry__.py`` exactly as the driver does (vanilla
SparkSession, none of the engine's confs pre-applied), runs
``entry()``, then every ``queries()`` entry at sf0.01 compared against
``oracle_sql()`` through DuckDB (row-count + sorted-column value
multiset).  Exit code 0 only if everything matches.

Usage: python tools/driver_sim.py [sf_dir]
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
import time
from collections import Counter

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
# Optional substring filter: DRIVER_SIM_ONLY=q_foo,q_bar runs just those.
ONLY = [s for s in os.environ.get("DRIVER_SIM_ONLY", "").split(",") if s]

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# ---- oracle result cache (round 10, opt-in) -------------------------
# The sf1.0 sweep's wall is dominated by DuckDB recomputing a handful
# of recursive-CTE oracles (dedup clustering 224 s, corpus funnel
# 230 s) whose results are DETERMINISTIC functions of (oracle SQL,
# input parquet bytes).  With DRIVER_SIM_ORACLE_CACHE=<dir> the
# canonicalized oracle multiset is pickled under a key of
# sha1(query name + SQL text + sf_dir + per-table size/mtime
# fingerprint) — any change to the SQL or the data misses the cache,
# so matches are byte-identical to a fresh run.  Off by default: the
# real driver never uses it, and a vanilla `python tools/driver_sim.py`
# stays a faithful replica.
_OCACHE_DIR = os.environ.get("DRIVER_SIM_ORACLE_CACHE", "")


def _data_fingerprint() -> str:
    parts = []
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        files = (
            sorted(
                os.path.join(r, f)
                for r, _, fs in os.walk(p)
                for f in fs
                if f.endswith(".parquet")
            )
            if os.path.isdir(p)
            else ([p] if os.path.exists(p) else [])
        )
        sz = sum(os.path.getsize(f) for f in files)
        mt = max((int(os.path.getmtime(f)) for f in files), default=0)
        parts.append(f"{t}:{len(files)}:{sz}:{mt}")
    return ";".join(parts)


def _oracle_cache_path(name: str, sql: str) -> str | None:
    if not _OCACHE_DIR:
        return None
    import hashlib

    key = hashlib.sha1(
        f"{name}\n{sql}\n{SF_DIR}\n{_data_fingerprint()}".encode()
    ).hexdigest()
    return os.path.join(_OCACHE_DIR, f"{name}-{key[:16]}.pkl")


def _oracle_cache_get(name: str, sql: str):
    p = _oracle_cache_path(name, sql)
    if not p or not os.path.exists(p):
        return None
    import pickle

    try:
        with open(p, "rb") as fh:
            return pickle.load(fh)
    except Exception:  # noqa: BLE001 — a corrupt cache is a miss
        return None


def _oracle_cache_put(name: str, sql: str, dcols, drows) -> None:
    p = _oracle_cache_path(name, sql)
    if not p:
        return
    import pickle

    os.makedirs(_OCACHE_DIR, exist_ok=True)
    tmp = f"{p}.tmp-{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump((dcols, drows), fh)
    os.replace(tmp, p)


def norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


# ---- driver-faithful canonicalization gates (round-1 ERR/FAIL classes) ----
# The real driver routes both result sets through a pandas
# ``sort_values`` + value-hash.  Two whole classes of locally-green
# queries died there in round 1:
#   (a) Array/Map/Struct output columns -> pandas cannot sort/hash
#       ndarray cells -> driver ERR;
#   (b) DuckDB windowed integer SUMs return HUGEINT -> pandas float64
#       -> hash-mismatch vs Spark int64 -> driver FAIL.
# Both are gated structurally here (and in tests/test_canon_gates.py)
# so they cannot be reintroduced.

_DUCK_BANNED = ("HUGEINT", "UHUGEINT")


def spark_schema_violations(df) -> list:
    """Columns whose type the driver's pandas canonicalizer cannot
    hash (ERR class (a)).  Plan-only: no job is triggered."""
    from pyspark.sql import types as T

    return [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def duck_type_violations(con, sql: str) -> list:
    """Oracle result columns typed HUGEINT/LIST/STRUCT/MAP (FAIL class
    (b) + ERR class (a) on the oracle side).  Plan-only: binding the
    relation resolves types without executing it."""
    rel = con.sql(sql)
    bad = []
    for c, t in zip(rel.columns, rel.types):
        ts = str(t).upper()
        if ts in _DUCK_BANNED or ts.endswith("[]") or ts.startswith(
            ("STRUCT", "MAP", "UNION")
        ):
            bad.append(f"{c}:{ts}")
    return bad


def _spark_hash_class(dt) -> str:
    """Bucket a Spark type by how the driver's pandas value-hash sees
    it.  int64 bytes != float64 bytes != Decimal objects, so integral,
    float, and decimal are DISTINCT classes even when values are
    numerically equal (the r03 q_math_funcs failure: Spark LONG vs
    DuckDB DOUBLE, values identical, hash differs)."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.BinaryType):
        return "bin"
    return f"other({dt.simpleString()})"


def _duck_hash_class(type_str: str) -> str:
    """Same bucketing for a DuckDB relation type string."""
    ts = str(type_str).upper()
    if ts in {
        "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT",
    }:
        return "int"
    if ts in {"FLOAT", "REAL", "DOUBLE"}:
        return "float"
    if ts.startswith("DECIMAL"):
        return "decimal"
    if ts == "BOOLEAN":
        return "bool"
    if ts in {"VARCHAR", "STRING", "TEXT"}:
        return "str"
    if ts == "DATE":
        return "date"
    if ts.startswith("TIMESTAMP"):
        return "ts"
    if ts == "BLOB":
        return "bin"
    return f"other({ts})"


def type_parity_violations(df, con, sql: str) -> list:
    """Per-column cross-engine type-class check, PLAN-ONLY on both
    sides (Spark ``df.schema`` vs DuckDB relation ``.types`` — neither
    executes anything).

    This is the structural fix for the third sim/driver
    canonicalization gap in three rounds (r1 HUGEINT, r3 int-vs-float):
    the multiset compare below uses Python ``==`` where ``8 == 8.0``,
    but the driver's pandas hash is dtype-sensitive, so a Spark LONG
    column against a DuckDB DOUBLE oracle passes the sim and fails the
    driver.  Any class mismatch (integral vs float, decimal vs float,
    decimal vs integral, ...) is flagged before values are compared.
    """
    rel = con.sql(sql)
    duck = {c: str(t) for c, t in zip(rel.columns, rel.types)}
    bad = []
    for f in df.schema.fields:
        dt = duck.get(f.name)
        if dt is None:
            continue  # name mismatch → caught by the column compare
        sc, dc = _spark_hash_class(f.dataType), _duck_hash_class(dt)
        if sc != dc:
            bad.append(
                f"{f.name}: spark {f.dataType.simpleString()}({sc}) "
                f"vs duck {dt}({dc})"
            )
    return bad


def pandas_sortable(rows, cols) -> str | None:
    """Emulate the driver's pandas sort_values canonicalization; any
    exception here is exactly what the driver reports as ERR."""
    import pandas as pd

    try:
        pdf = pd.DataFrame(rows, columns=cols)
        pdf.sort_values(by=list(cols), kind="mergesort")
    except Exception as ex:  # noqa: BLE001
        return f"{type(ex).__name__}: {ex}"
    return None


def main() -> int:
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from morphl_model_user_search_intent_spark.registry import clear_plan_cache

    n = len(e.entry(spark).collect())
    print(f"entry(): {n} rows  {'OK' if n > 0 else 'FAIL'}")

    con = duckdb.connect()
    # Bound the oracle engine: DuckDB defaults to ~80% of HOST RAM
    # per process, which let a sharded big-SF sweep (six sims + six
    # 24g Spark JVMs) drive the kernel OOM killer.  A bounded limit
    # makes heavy oracles (recursive CTEs at sf1.0) spill to disk
    # instead of ballooning.
    duck_mem = os.environ.get("DRIVER_SIM_DUCK_MEM", "")
    if duck_mem:
        con.execute(f"SET memory_limit='{duck_mem}'")
        # per-process spill dir, parents pre-created: DuckDB does not
        # mkdir -p the parent, and sharded sweeps must not share (or
        # clean up) each other's spill space
        spill = os.path.join(REPO, ".tmp", f"duckspill-{os.getpid()}")
        os.makedirs(spill, exist_ok=True)
        con.execute(f"SET temp_directory='{spill}'")
        # reclaim our spill dir on exit, and reap stale dirs whose
        # owning pid is gone — repeated sharded sweeps otherwise
        # accumulate duckspill-* directories unboundedly
        import atexit
        import shutil as _sh

        atexit.register(_sh.rmtree, spill, ignore_errors=True)
        tmp_root = os.path.join(REPO, ".tmp")
        for d in os.listdir(tmp_root):
            if not d.startswith("duckspill-"):
                continue
            try:
                pid = int(d.split("-", 1)[1])
                os.kill(pid, 0)  # raises if the owner is gone
            except ValueError:
                continue
            except OSError:
                _sh.rmtree(
                    os.path.join(tmp_root, d), ignore_errors=True
                )
    duck_threads = os.environ.get("DRIVER_SIM_DUCK_THREADS", "")
    if duck_threads:
        con.execute(f"SET threads TO {int(duck_threads)}")
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written dir (e.g. amplified sets)
            p = f"{p}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    if ONLY:
        qs = {n: f for n, f in qs.items() if any(s in n for s in ONLY)}
    # DRIVER_SIM_SHARD=i/n partitions the key set (sorted order) for
    # parallel full sweeps at big scale factors — one process per
    # shard, disjoint and exhaustive by construction.
    shard = os.environ.get("DRIVER_SIM_SHARD", "")
    if shard:
        i, n = (int(x) for x in shard.split("/"))
        names = sorted(qs)
        qs = {k: qs[k] for j, k in enumerate(names) if j % n == i}
    # DRIVER_SIM_SKIP_FILE: newline-separated exact key names to skip
    # (resume support for interrupted big-SF sweeps).
    skip_file = os.environ.get("DRIVER_SIM_SKIP_FILE", "")
    if skip_file:
        with open(skip_file) as fh:
            done = {line.strip() for line in fh if line.strip()}
        qs = {k: f for k, f in qs.items() if k not in done}
    # DRIVER_SIM_FIRST=N replicates the driver's sampling: it checks
    # only the first N keys of queries() in registry order.
    first_n = int(os.environ.get("DRIVER_SIM_FIRST", "0"))
    if first_n:
        qs = {n: f for i, (n, f) in enumerate(qs.items()) if i < first_n}
    fails = 0
    for qi, name in enumerate(sorted(qs)):
        if qi and qi % 25 == 0:
            # A full-registry sweep accumulates every .cache()'d edge
            # set / training frame from ~400 queries in one JVM; at
            # sf0.1 that exhausted the heap late in the sweep once
            # (executor death at q_graph_twohop).  Periodic eviction
            # keeps the long-sweep memory profile flat; the driver's
            # own 50-query pass never needs this.  The plan cache is
            # evicted too: executed DataFrames pin their materialized
            # broadcast relations (r4 sweep OOM'd at q_tpch_q08
            # without this).
            spark.catalog.clearCache()
            clear_plan_cache()
        t0 = time.perf_counter()
        t_engine = t_oracle = None  # engine-vs-oracle wall split
        try:
            df = qs[name](spark, SF_DIR)
            cols = sorted(df.columns)
            sv = spark_schema_violations(df) if name in oracles else []
            if sv:
                status = f"FAIL canon spark schema {sv}"
                fails += 1
                print(f"  {name:24s} {time.perf_counter()-t0:6.2f}s  {status}")
                continue
            collected = df.collect()
            t_engine = time.perf_counter() - t0
            srows = Counter(
                tuple(norm(r[c]) for c in cols) for r in collected
            )
            if name not in oracles:
                status = f"rows-only ({sum(srows.values())} rows)"
            else:
                dv = duck_type_violations(con, oracles[name])
                if dv:
                    status = f"FAIL canon duck types {dv}"
                    fails += 1
                    print(
                        f"  {name:24s} {time.perf_counter()-t0:6.2f}s  {status}"
                    )
                    continue
                tv = type_parity_violations(df, con, oracles[name])
                if tv:
                    status = f"FAIL type parity {tv}"
                    fails += 1
                    print(
                        f"  {name:24s} {time.perf_counter()-t0:6.2f}s  {status}"
                    )
                    continue
                sort_err = pandas_sortable(
                    [tuple(r[c] for c in cols) for r in collected], cols
                )
                if sort_err:
                    status = f"FAIL canon pandas sort {sort_err}"
                    fails += 1
                    print(
                        f"  {name:24s} {time.perf_counter()-t0:6.2f}s  {status}"
                    )
                    continue
                t1 = time.perf_counter()
                cached = _oracle_cache_get(name, oracles[name])
                if cached is not None:
                    dcols, drows = cached
                else:
                    cur = con.execute(oracles[name])
                    dcols = [d[0] for d in cur.description]
                    order = sorted(
                        range(len(dcols)), key=lambda i: dcols[i]
                    )
                    drows = Counter(
                        tuple(norm(row[i]) for i in order)
                        for row in cur.fetchall()
                    )
                    _oracle_cache_put(name, oracles[name], dcols, drows)
                t_oracle = time.perf_counter() - t1
                if sorted(dcols) != cols:
                    status = f"FAIL cols spark={cols} duck={sorted(dcols)}"
                elif srows != drows:
                    s_only = list((srows - drows).elements())[:2]
                    d_only = list((drows - srows).elements())[:2]
                    status = f"FAIL values s={s_only} d={d_only}"
                else:
                    status = f"match ({sum(srows.values())} rows)"
        except Exception as ex:  # noqa: BLE001
            status = f"FAIL error {type(ex).__name__}: {ex}"
        fails += status.startswith("FAIL")
        # Engine-vs-oracle wall split (round-6 verdict item 2): the
        # sweep's per-row total conflates the engine under grade with
        # DuckDB recomputing the oracle; the split makes long-tail
        # rows attributable.  Appended AFTER the status so a
        # line regex keyed on the status prefix still parses.
        split = ""
        if t_engine is not None:
            split = f"  [eng {t_engine:.2f}s"
            split += (
                f" orc {t_oracle:.2f}s]" if t_oracle is not None else "]"
            )
        print(
            f"  {name:24s} {time.perf_counter()-t0:6.2f}s  {status}{split}"
        )
    print(f"{len(qs)} queries, {fails} failures")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
