"""Structured Streaming operators (SURVEY.md §2.9 streaming variants).

Each registry entry runs a real streaming query (parquet file source →
memory sink, availableNow trigger) to completion and returns the sink
table — rows-only driver checks; the pytest gates assert twin-parity
against the batch operators in operators/events.py.

Scale posture: file-source micro-batches here stand in for Kafka; the
operator graphs (watermark → window agg, dedup-within-watermark,
per-key state) are exactly what runs against a real stream — state
store size is bounded by the watermark horizon (windows) or key count
(dedup/stateful), which is the property that survives at 100 TB/day.

Stateful APIs: BOTH per-key state APIs are covered —
q_stream_stateful uses the stable applyInPandasWithState, and
q_stream_stateful_tws runs Spark 4's successor
transformWithStateInPandas (named StatefulProcessor + ValueState)
under the RocksDB state-store provider.  As of round 6 the REAL TWS
codepath executes in this container: compat/protobuf_shim.py injects
a pure-Python protobuf runtime found on disk into the worker
PYTHONPATH (through round 5 the missing runtime forced the
output-identical applyInPandasWithState fallback, which remains the
path on hosts with no protobuf at all).  See :func:`tws_available`.
"""

from __future__ import annotations

import atexit
import functools
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import normalize_events_ts
from ..registry import register
from ..session import configure

#: Spark's disk-backed state-store provider (rocksdbjni ships inside
#: the pyspark 4 jars — no network needed).  The default in-memory
#: HDFSBackedStateStoreProvider keeps every key's state on the heap;
#: at 100 TB/day streaming state exceeds executor memory, so RocksDB
#: (bounded block cache + SST files on local disk) is the provider a
#: production deployment of these operators would run.  The TWS path
#: requires it; the parity suite (tests/test_streaming.py) runs the
#: whole stateful family under it via the rocksdb_session fixture.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def _pid_scratch(kind: str, sf_dir: str) -> str:
    """``SCRATCH/<kind>-<sf tag>-<pid>``, emptied now and removed when
    this process exits.  The pid keeps two engine processes (e.g. a
    pytest run and a concurrent tools/driver_sim.py sweep) from
    overwriting each other's sink or table mid-read."""
    import os

    from ..sources.formats import SCRATCH

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    d = os.path.join(SCRATCH, f"{kind}-{tag}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    _rmtree_at_exit(d)
    return d


@functools.cache
def _rmtree_at_exit(d: str) -> None:
    atexit.register(shutil.rmtree, d, True)


def _staged_dir(sf_dir: str) -> str:
    """The file stream source requires a DIRECTORY; stage symlinks to
    the (read-only) fixture parquet under the repo-local scratch.

    The fixture may be a single parquet FILE (the generated testdata)
    or a Spark-written DIRECTORY of part files (amplified staging like
    scale10x).  A directory must be staged as flat per-FILE symlinks:
    Spark's file listing does not recurse into non-partition
    subdirectories, so a symlinked subdir yields zero footers and
    UNABLE_TO_INFER_SCHEMA — the sf1.0 sweep caught exactly that in
    the three `_staged_dir`-fed streaming keys.  Staged atomically
    (tmp dir + rename; losers adopt the winner)."""
    import os
    import shutil

    from ..sources.formats import SCRATCH

    tag = os.path.basename(sf_dir.rstrip("/"))
    d = os.path.join(SCRATCH, f"stream-events-{tag}")
    src = os.path.join(sf_dir, "events.parquet")
    done = os.path.join(d, "_STAGED")
    if os.path.exists(done):
        return d
    shutil.rmtree(d, ignore_errors=True)  # pre-round-6 subdir layout
    tmp = f"{d}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if os.path.isdir(src):
        files = sorted(
            os.path.join(src, f)
            for f in os.listdir(src)
            if f.endswith(".parquet")
        )
    else:
        files = [src]
    for i, f in enumerate(files):
        link = os.path.join(tmp, f"events-{i:05d}.parquet")
        try:
            os.symlink(f, link)
        except OSError:  # symlinks unavailable → copy
            shutil.copyfile(f, link)
    with open(os.path.join(tmp, "_STAGED"), "w") as fh:
        fh.write(src)
    try:
        os.rename(tmp, d)
    except OSError:
        if os.path.exists(done):  # concurrent stager won
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            shutil.rmtree(d, ignore_errors=True)
            os.rename(tmp, d)
    return d


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a stream (schema from the batch reader; the
    nanos→µs cast applied the same way as io.table)."""
    configure(spark)
    path = _staged_dir(sf_dir)
    schema = spark.read.parquet(path).schema
    s = spark.readStream.schema(schema).parquet(path)
    return normalize_events_ts(s)


def _staged_four_files(spark: SparkSession, sf_dir: str) -> str:
    """events.parquet re-staged as 4 files (for maxFilesPerTrigger=1
    multi-batch sources).  Same atomic stage-then-rename protocol as
    ``_staged_time_buckets``: Spark-overwriting a SHARED dir lets a
    concurrent process stream over a half-written directory."""
    import os
    import shutil

    from ..io import table as _table
    from ..sources.formats import SCRATCH

    tag = os.path.basename(sf_dir.rstrip("/"))
    final = os.path.join(SCRATCH, f"stream4-{tag}")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    (
        _table(spark, sf_dir, "events")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    try:
        os.rename(tmp, final)
    except OSError:
        if os.path.exists(os.path.join(final, "_SUCCESS")):
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            shutil.rmtree(final, ignore_errors=True)
            os.rename(tmp, final)
    return final


def _source_bytes(path: str) -> int:
    """Total bytes of a fixture file or staged directory (symlinks
    followed — the staged dirs are symlink farms over the fixture)."""
    import os

    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    try:
        for root, _dirs, files in os.walk(path, followlinks=True):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    except OSError:
        pass
    return total


def _adaptive_stream_partitions(spark: SparkSession, nbytes: int) -> int:
    """Scale-adaptive shuffle/state partition count for a stream about
    to start (round-10 optimization, guide §2 "make partitioning
    scale-adaptive ... rather than a constant tuned for either local
    mode or the cluster").

    Stateful streaming operators pin their state partitioning to
    ``spark.sql.shuffle.partitions`` at query start and AQE never
    coalesces it, so the session default (≈ cores) makes every
    micro-batch open/commit that many RocksDB stores PER STATEFUL
    OPERATOR (a stream-stream join holds 4 per partition) regardless
    of state size — pure fixed cost when the keyed state is small.
    Deriving the count from the source's size keeps tiny streams on a
    handful of stores while a 100 TB/day source (the formula's
    numerator) rides the cap, which a production cluster sets to its
    real parallelism.  Env overrides: SPARK_STREAM_STATE_PARTITIONS
    pins the count; SPARK_STREAM_STATE_BYTES_PER_PART (default 32 MiB)
    tunes the per-partition target.
    """
    import os

    ov = os.environ.get("SPARK_STREAM_STATE_PARTITIONS")
    if ov:
        return max(1, int(ov))
    per = int(
        os.environ.get("SPARK_STREAM_STATE_BYTES_PER_PART", str(32 << 20))
    )
    try:
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        cap = 32
    return max(2, min(cap, (nbytes + per - 1) // per))


class _stream_shuffle_scope:
    """Context manager: set ``spark.sql.shuffle.partitions`` for the
    duration of one stream's start→drain, restore afterwards.  The
    conf is read once at streaming-query start, so the scope only
    needs to cover ``.start()``; restoring immediately after the drain
    keeps every batch query on the session's normal parallelism."""

    def __init__(self, spark: SparkSession, nbytes: int | None) -> None:
        self._spark = spark
        self._n = (
            _adaptive_stream_partitions(spark, nbytes)
            if nbytes is not None
            else None
        )
        self._old: str | None = None

    def __enter__(self) -> "_stream_shuffle_scope":
        if self._n is not None:
            try:
                self._old = self._spark.conf.get(
                    "spark.sql.shuffle.partitions"
                )
                self._spark.conf.set(
                    "spark.sql.shuffle.partitions", str(self._n)
                )
            except Exception:
                self._old = None
        return self

    def __exit__(self, *exc) -> None:
        if self._old is not None:
            try:
                self._spark.conf.set(
                    "spark.sql.shuffle.partitions", self._old
                )
            except Exception:
                pass


def _events_bytes(sf_dir: str) -> int | None:
    """Size of the events fixture under ``sf_dir`` (every
    _run_to_memory-drained stream reads a re-staging of it)."""
    import os

    if not sf_dir:
        return None
    return _source_bytes(os.path.join(sf_dir, "events.parquet")) or None


def _run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    sf_dir: str = "",
    adaptive: bool = True,
) -> DataFrame:
    """Drain ``df`` into a memory sink and return the sink table.

    The sink name is tagged with the sf_dir (like the scratch dirs):
    the registry's plan cache memoizes the returned ``spark.table()``
    per (session, sf_dir), so a FIXED sink name re-run against a
    different sf_dir on the same session would overwrite the shared
    memory table and turn the cached DataFrame for the first sf_dir
    into a silent reader of the second one's data.

    Every stream drained here runs under :data:`ROCKSDB_PROVIDER`
    (round 6): the in-memory default keeps all keyed state on the
    executor heap, which is exactly what breaks first at 100 TB/day —
    RocksDB spills state to local SST files with a bounded block
    cache, so the whole streaming suite (and its twin-parity pytests)
    now exercises the provider a production deployment would run.
    The conf is a dynamic SQL conf read at query START, so setting it
    here covers plans built earlier; it intentionally stays set on
    the session afterwards (stateless batch queries ignore it).
    """
    import os
    import re

    spark = df.sparkSession
    try:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            ROCKSDB_PROVIDER,
        )
        # Commit deltas as changelogs instead of zipping a full RocksDB
        # snapshot every micro-batch — the recommended production
        # setting (snapshot cost becomes periodic + async, commit cost
        # ∝ batch change size, not total state size).
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
        # Round-10 optimization: every RocksDB put/delete otherwise
        # pays extra point-lookups just to maintain the
        # numTotalStateRows metric — Spark's documented write-heavy
        # production tuning is to turn the metric off.  Measured on
        # the chained dedup→window query at sf0.1: 7.7 s → 3.2 s
        # drain, identical sink rows.  (Nothing in the engine or its
        # tests reads numTotalStateRows.)
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb."
            "trackTotalNumberOfRows",
            "false",
        )
    except Exception:  # pinned static on an exotic build — best effort
        pass
    if sf_dir:
        tag = re.sub(
            r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/"))
        )
        name = f"{name}_{tag}"
    with _stream_shuffle_scope(
        spark, _events_bytes(sf_dir) if adaptive else None
    ):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)
            _unload_state_stores(spark)
    return spark.table(name)


def _unload_state_stores(spark: SparkSession) -> None:
    """Release the session's cached state-store providers once no
    stream is active (round-10 optimization).

    Each drained query leaves its RocksDB provider instances (one per
    state partition per stateful operator — a stream-stream join holds
    4 × shuffle-partitions of them) in the executor's provider cache;
    their background work (maintenance snapshots, RocksDB compaction
    threads) keeps running against checkpoints that will never be read
    again.  Across a many-query session (full sweep, driver verify)
    that contention compounds — measured on repeated
    q_stream_outer_join drains at sf0.1: 24→33 s and climbing without
    the unload, flat/improving with it.  A live production stream is
    untouched: the unload only fires when ``spark.streams.active`` is
    empty, and the NEXT query start lazily re-creates providers from
    its checkpoint (the documented recovery path)."""
    try:
        if not spark.streams.active:
            jvm = spark._jvm
            jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass  # py4j shape drift — cache cleanup is best-effort


@register(
    "q_stream_watermark",
    oracle="""
    WITH agg AS (
      SELECT date_trunc('hour', ts) AS bucket, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT bucket, event_type, n_events FROM agg
    WHERE bucket + INTERVAL 1 HOUR
          <= (SELECT MAX(ts) FROM events) - INTERVAL 10 MINUTE
    """,
)
def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling aggregation in append mode: late data
    beyond 10 minutes is dropped and only finalized windows emit.

    ORACLE-CHECKED (round-8 promotion, the q_stream_session_window
    recipe): under availableNow the final no-data batch advances the
    watermark to max(ts) − 10 min and exactly the windows whose end
    the watermark has passed emit — the closed form is the batch
    hourly count filtered to finalized buckets (end = bucket + 1 h ≤
    watermark).  A dropped emission, a double emission, or a
    watermark mis-advance hash-mismatches; the open tail is excluded
    on both sides by the same arithmetic.
    """
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("bucket"), "event_type", "n_events")
    )
    return _run_to_memory(agg, "stream_watermark_sink", "append", sf_dir)


@register(
    "q_stream_dedup",
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: the stream unioned with itself (every
    event duplicated) → ``dropDuplicatesWithinWatermark`` on event_id
    → exactly one survivor per event (state bounded by the watermark
    horizon, unlike unbounded ``dropDuplicates``).

    ORACLE-CHECKED (round-7 promotion): event_id is unique in the
    fixture, so the drained sink must be exactly the events table's
    (event_id, user_id, event_type) projection — a doubled survivor,
    a dropped event, or a mixed-up payload all hash-mismatch.  Safe
    to oracle because determinism holds under availableNow here: both
    union branches read the same files in the same micro-batch, so
    each event meets its duplicate inside one batch and the watermark
    never classifies either copy late (the APPEND-mode window
    queries, whose unemitted tail depends on the final watermark,
    stay rows-only with twin tests)."""
    ev = _stream_events(spark, sf_dir)
    doubled = ev.unionByName(ev)
    deduped = doubled.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return _run_to_memory(
        deduped.select("event_id", "user_id", "event_type"),
        "stream_dedup_sink",
        "append",
        sf_dir,
    )


@register(
    "q_stream_session_window",
    oracle="""
    WITH flags AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN date_diff('microsecond', lag(ts) OVER w, ts)
                       >= 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM flags
    ), agg AS (
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sessions GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events
    FROM agg
    WHERE session_end
          <= (SELECT MAX(ts) FROM events) - INTERVAL 10 MINUTE
    """,
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming sessionization: ``F.session_window(ts, '30
    minutes')`` per user — merging windows maintained in the state
    store, emitted when the watermark passes their gap.

    ORACLE-CHECKED (round-8 promotion, the q_stream_dedup recipe):
    the drained append-mode sink is deterministic under availableNow —
    the final no-data batch advances the watermark to max(ts) − 10 min
    and every session whose end (last event + 30-min gap) the
    watermark has passed emits exactly once, so the closed form is
    the batch sessionizer (lag-gap ≥ 30 min in integer microseconds —
    session_window's half-open [ts, ts+gap) intervals make an
    exactly-30-minute gap a BREAK, unlike q_sessionize's strict->)
    filtered to finalized windows.  A lost emission, a double
    emission, a watermark mis-advance, or a boundary-comparator drift
    all hash-mismatch.  The still-open tail is excluded on both sides
    by the same watermark arithmetic.
    """
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    return _run_to_memory(agg, "stream_session_sink", "append", sf_dir)


@register(
    "q_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS c_user_id, c.ts AS click_ts,
           p.ts AS purchase_ts
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each click joined to the purchases of
    the same user within the following hour — both sides unbounded
    streams, both watermarked so the join state (buffered unmatched
    rows) is evicted once the time-range condition can no longer
    match.  Without the range condition + watermarks this state grows
    forever; with them it is bounded by one hour of traffic per side,
    which is the property that survives a 100 TB/day stream.

    ORACLE-CHECKED (round-8 promotion): an INNER time-range join's
    emitted set is exactly the batch join — matches emit as they are
    found and state eviction can never cancel a row that already
    matched; under availableNow both sides drain the same staged
    files, so no match is split across an eviction boundary.  (The
    OUTER variant stays rows-only: its null-padded rows depend on
    watermark timing by construction.)
    """
    ev = _stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
        ),
        "inner",
    ).select(
        "click_id", "purchase_id", "c_user_id", "click_ts", "purchase_ts"
    )
    return _run_to_memory(joined, "stream_join_sink", "append", sf_dir)


@register("q_stream_stateful", oracle=None)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: running per-user event count via
    ``applyInPandasWithState`` — arbitrary per-key state the built-in
    windows can't express.  Emits one row per (user, micro-batch) with
    the cumulative count; the final row per user must equal the batch
    count (asserted in tests).

    State is one int per user — O(keys) memory, the shape that scales.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def running_count(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events_so_far": [n]}
        )

    ev = _stream_events(spark, sf_dir)
    out = ev.groupBy("user_id").applyInPandasWithState(
        running_count,
        outputStructType="user_id bigint, n_events_so_far bigint",
        stateStructType="n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # adaptive=False: per-key work here is PYTHON-executed
    # (applyInPandasWithState) — A/B at sf0.1 shows worker parallelism,
    # not store-open overhead, bounds this query (32 parts 2.2 s,
    # 2 parts 3.2 s), the opposite of the JVM-stateful streams
    return _run_to_memory(
        out, "stream_stateful_sink", "update", sf_dir, adaptive=False
    )


def tws_available() -> bool:
    """Is Spark 4's ``transformWithStateInPandas`` runnable here?

    The API itself ships with pyspark 4.1, but its Python worker
    protocol serializes state requests through protobuf — without the
    ``google.protobuf`` runtime the stream dies at initialization
    (verified in this container:
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE).  Round 6: the
    :mod:`..compat.protobuf_shim` locates a pure-Python protobuf
    runtime bundled in another public SDK on disk and injects it into
    the worker PYTHONPATH, so the REAL TWS codepath now executes in
    this container (end-to-end proof: the twin-parity pytest runs it
    under the RocksDB provider).  Environments with neither pip
    protobuf nor a bundled copy fall back to the semantically
    identical applyInPandasWithState graph.  The path actually taken
    is named by an ``observe()`` metric on the drained result
    (``stateful_api_<name>``), so tests assert the selection, not a
    prediction.
    """
    from ..compat import protobuf_shim

    if not protobuf_shim.enable():
        return False
    try:
        from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
            StatefulProcessor,
        )
    except Exception:
        return False
    return True


def _make_tws_processor():
    """The real Spark-4 ``StatefulProcessor``: two ValueStates per
    user (cumulative event count, micro-batches seen), update-mode
    emission — defined lazily because importing the class pulls the
    protobuf-backed state-server client."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n bigint")
            self._b = handle.getValueState("b", "b bigint")

        def handleInputRows(self, key, rows, timerValues):
            n = self._n.get()[0] if self._n.exists() else 0
            b = self._b.get()[0] if self._b.exists() else 0
            for pdf in rows:
                n += len(pdf)
            b += 1
            self._n.update((n,))
            self._b.update((b,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events_so_far": [n],
                    "n_batches_seen": [b],
                }
            )

        def close(self) -> None:
            pass

    return RunningCount()


@register("q_stream_stateful_tws", oracle=None)
def q_stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running state via Spark 4's ``transformWithStateInPandas``
    — the successor API to applyInPandasWithState (SURVEY §2.9 names
    it first): an object-style StatefulProcessor with NAMED state
    variables (two ValueStates here: cumulative count + batches
    seen) instead of one opaque tuple, plus an init/close lifecycle.

    The source is the 4-file time-bucketed stage with
    ``maxFilesPerTrigger=1``, so state provably accumulates across
    ≥4 micro-batches (n_batches_seen > 1 for returning users).

    Runtime selection: the TWS Python worker needs the protobuf
    runtime; compat/protobuf_shim.py locates one on disk and injects
    it into the worker PYTHONPATH, so the REAL API runs here (under
    the RocksDB state-store provider TWS requires — set for every
    drained stream by _run_to_memory).  On hosts with no protobuf at
    all — or if the worker dies at runtime despite the driver-side
    probe — the SAME output contract is produced by an
    applyInPandasWithState graph with a (n, b) tuple state.  Both
    paths emit one row per (user, micro-batch) in update mode, and
    the batch twin asserts the final row per user equals the batch
    count — tests/test_streaming.py also asserts the path taken
    matches :func:`tws_available`: the returned frame carries an
    ``observe()`` metric ``stateful_api_<name>`` naming the API that
    drained, set only after a successful drain (a prediction is not a
    proof).

    State is two longs per user — O(keys), the shape that scales.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def drained(api: str, res: DataFrame) -> DataFrame:
        return res.observe(
            f"stateful_api_{api}", F.count(F.lit(1)).alias("n_rows")
        )

    configure(spark)
    path = _staged_time_buckets(spark, sf_dir)
    schema = spark.read.parquet(path).schema
    ev = normalize_events_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out_type = (
        "user_id bigint, n_events_so_far bigint, n_batches_seen bigint"
    )

    if tws_available():
        from ..compat import protobuf_shim

        # Workers need the protobuf runtime too: prepend the shim to
        # the per-function worker env BEFORE the processor is wrapped.
        protobuf_shim.inject_worker_env(spark)
        # The RocksDB provider TWS requires is set by _run_to_memory
        # for every drained stream.
        try:
            out = ev.groupBy("user_id").transformWithStateInPandas(
                statefulProcessor=_make_tws_processor(),
                outputStructType=out_type,
                outputMode="Update",
                timeMode="None",
            )
            # adaptive=False: the TWS state server is a per-partition
            # Python worker; A/B at sf0.1 is monotone in partitions
            # (32→9.1 s, 8→10.6, 4→12.8, 2→16.5) — keep parallelism
            res = _run_to_memory(
                out,
                "stream_stateful_tws_sink",
                "update",
                sf_dir,
                adaptive=False,
            )
            # Only a DRAINED stream proves the TWS path ran; claiming
            # it before the run mislabels the API when the worker
            # runtime fails at initialization.
            return drained("transformWithStateInPandas", res)
        except Exception:
            # Runtime-only failure (e.g. worker protobuf init dies
            # even though the driver-side probe passed): fall through
            # to the output-identical applyInPandasWithState graph
            # instead of propagating a dead stream.
            pass

    def running_count(key, pdfs, state: GroupState):
        n, b = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
        b += 1
        state.update((n, b))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events_so_far": [n],
                "n_batches_seen": [b],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        running_count,
        outputStructType=out_type,
        stateStructType="n bigint, b bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return drained(
        "applyInPandasWithState",
        _run_to_memory(
            out, "stream_stateful_tws_sink", "update", sf_dir, adaptive=False
        ),
    )


@register("q_stream_foreach_batch", oracle=None)
def q_stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` sink: the escape hatch that connects streaming
    to ANY batch writer — here each micro-batch atomically refreshes a
    parquet "serving table" of per-type event counts (complete-mode
    aggregate → overwrite), the pattern used in production for sinks
    with no native streaming connector (JDBC, Cassandra-style upsert
    stores: the reference's serving layer).

    Batch twin: plain groupBy counts over the static table (asserted
    in tests).  State: the aggregate is the only state; the sink write
    is idempotent per batch (overwrite), so replays are safe.
    """
    out_dir = _pid_scratch("fb-counts", sf_dir)
    ev = _stream_events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))

    def refresh_serving_table(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    with _stream_shuffle_scope(spark, _events_bytes(sf_dir)):
        q = (
            agg.writeStream.foreachBatch(refresh_serving_table)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)
            _unload_state_stores(spark)
    return spark.read.parquet(out_dir)


@register(
    "q_stream_static_join",
    oracle="""
    WITH j AS (
      SELECT date_trunc('hour', e.ts) AS bucket, c.c_mktsegment
      FROM events e JOIN customer c ON c.c_custkey = e.user_id
    )
    SELECT bucket, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM j GROUP BY bucket, c_mktsegment
    HAVING bucket + INTERVAL 1 HOUR
           <= (SELECT MAX(ts) FROM events) - INTERVAL 10 MINUTE
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    dimension (customer market segment keyed by user_id), then a
    watermarked hourly count per segment — the canonical streaming
    enrichment topology (stream ⋈ slowly-changing lookup ⋈ window
    agg).

    The static side is planned as a regular batch relation inside the
    streaming query — broadcast per micro-batch, re-read on restart,
    no state store cost (unlike stream-stream joins, which this
    complements — q_stream_join).

    ORACLE-CHECKED (round-8 promotion): the drained append sink is
    the batch join + hourly count filtered to finalized windows
    (the q_stream_watermark recipe) — the static enrichment adds no
    nondeterminism because the dimension is immutable for the run.
    """
    from ..io import table as load_table

    ev = _stream_events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .join(F.broadcast(dim), "user_id")
        .groupBy(
            F.window("ts", "1 hour").alias("w"), "c_mktsegment"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("bucket"), "c_mktsegment", "n_events"
        )
    )
    return _run_to_memory(agg, "stream_static_join_sink", "append", sf_dir)


def _staged_bucket_files(spark: SparkSession, sf_dir: str) -> str:
    """events re-staged as FOUR files, one per ``event_id % 4``
    bucket (round 9): each file holds exactly one CONTENT-derived
    bucket, so per-micro-batch aggregates keyed by the bucket are
    deterministic regardless of the order the file stream lists the
    files in — the property that lets q_stream_multi_batch carry a
    SQL oracle.  Same atomic stage-then-rename protocol as
    :func:`_staged_four_files`."""
    import os
    import shutil

    from ..io import table as _table
    from ..sources.formats import SCRATCH

    tag = os.path.basename(sf_dir.rstrip("/"))
    final = os.path.join(SCRATCH, f"streambuck4-{tag}")
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    ev = _table(spark, sf_dir, "events")
    for b in range(4):
        part = f"{tmp}/stage-{b}"
        (
            ev.filter(F.col("event_id") % 4 == b)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(part)
        )
        for f in sorted(os.listdir(part)):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(part, f),
                    os.path.join(tmp, f"bucket-{b}.parquet"),
                )
        shutil.rmtree(part, ignore_errors=True)
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        fh.write("ok")
    try:
        os.rename(tmp, final)
    except OSError:
        if os.path.exists(os.path.join(final, "_DONE")):
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            shutil.rmtree(final, ignore_errors=True)
            os.rename(tmp, final)
    return final


# the pytest twin reads the per-batch sink to prove ≥4 distinct
# micro-batches ran (the batch ids are NOT part of the query output —
# batch↔file order is the one nondeterministic thing here)
_MB_SINKS: dict[str, str] = {}


@register(
    "q_stream_multi_batch",
    oracle="""
    SELECT event_id % 4 AS bucket, event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_multi_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental multi-micro-batch processing: the source is
    re-staged as FOUR files — one per ``event_id % 4`` bucket — and
    read with ``maxFilesPerTrigger=1``, so availableNow drains it in
    ≥4 micro-batches; foreachBatch appends per-batch
    (bucket, event_type) counts to an accumulator dir.  This is the
    backfill/catch-up shape (process a day of files in bounded
    batches) — and the proof the engine actually incrementalizes
    instead of swallowing the directory whole.

    ORACLE-PROMOTED in round 9 (r8 verdict item 6): the previous form
    keyed output rows by ``batch_id``, and the file→batch assignment
    order is NOT provably stable (FileStreamSource orders candidate
    files by modification time with listing-order ties — four files
    written in one job share an mtime).  Keying each staged file by a
    CONTENT-derived bucket instead makes the accumulated output a
    plain GROUP BY — independent of drain order — while the batch
    boundaries still do the work: a duplicated or lost micro-batch
    double-counts or drops its bucket's rows and breaks the hash
    (exactly-once across batch boundaries, now oracle-checked).  The
    pytest twin still proves ≥4 distinct batches ran from the sink's
    batch_id column, which stays in the SINK but not the output.

    Sink discipline: each micro-batch APPENDS its aggregate rows to a
    scratch parquet dir and the result is read back once at the end —
    the aggregate never touches the driver, so a 100×-longer stream
    costs zero driver memory."""
    import os

    src = _staged_bucket_files(spark, sf_dir)
    configure(spark)
    schema = spark.read.parquet(
        os.path.join(src, "bucket-0.parquet")
    ).schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    s = normalize_events_ts(s)

    out_dir = _pid_scratch("mb-counts", sf_dir)
    _MB_SINKS[sf_dir] = out_dir

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy(
                (F.col("event_id") % 4).alias("bucket"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.lit(batch_id).cast("bigint").alias("batch_id"),
                "bucket",
                "event_type",
                "n_events",
            )
            .write.mode("append")
            .parquet(out_dir)
        )

    q = (
        s.writeStream.foreachBatch(append_batch)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
        _unload_state_stores(spark)
    # localCheckpoint decouples the returned frame from the scratch
    # dir (a later same-process run rmtree's and rewrites it — a lazy
    # handle over the old files would break); the pytest reads the
    # sink via _MB_SINKS before any such re-run
    return (
        spark.read.parquet(out_dir)
        .select("bucket", "event_type", "n_events")
        .localCheckpoint()
    )


@register("q_stream_countmin", oracle=None)
def q_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained Count-Min sketch over a micro-batched
    stream: the same 3×512 portable-hash sketch as the batch twin
    (q_sketch_countmin), kept as a streaming aggregation that merges
    each micro-batch's partial cells into the running sketch —
    demonstrating WHY CM is the streaming frequency structure (cell
    counts are sums, so micro-batch merge = the same groupBy).

    The staged 4-file source drains with maxFilesPerTrigger=1, so
    the sketch provably builds across ≥4 increments; the final
    estimates for five probe users are compared inline against
    exact batch counts (estimate ≥ exact always — the one-sided
    CM guarantee — equality when no collision).  Rows-only: the
    memory-sink accumulation isn't expressible to a SQL oracle,
    but the estimates themselves are deterministic.
    """
    import os

    from ..text.analysis import h32

    tag = os.path.basename(sf_dir.rstrip("/"))
    src = _staged_four_files(spark, sf_dir)
    configure(spark)
    schema = spark.read.parquet(src).schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    hw = F.expr(h32("CAST(user_id AS STRING)"))
    seeds = F.array(F.lit(131), F.lit(137), F.lit(139))
    hashed = s.select(
        hw.alias("hw"), F.explode(seeds).alias("seed")
    ).select(
        "seed",
        (((F.col("hw") * F.col("seed")) % 2147483647) % 512).alias(
            "cc"
        ),
    )
    cells = hashed.groupBy("seed", "cc").count()
    qname = f"cm_cells_{tag.replace('.', '_')}"
    with _stream_shuffle_scope(spark, _events_bytes(sf_dir)):
        q = (
            cells.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    sketch = spark.table(qname)
    probe_ids = [(str(i),) for i in (1, 2, 3, 4, 5)]
    probes = spark.createDataFrame(probe_ids, "uid string").select(
        "uid", F.expr(h32("uid")).alias("hw")
    )
    seed_df = spark.createDataFrame(
        [(131,), (137,), (139,)], "seed bigint"
    )
    pc = probes.crossJoin(F.broadcast(seed_df)).select(
        "uid",
        "seed",
        (((F.col("hw") * F.col("seed")) % 2147483647) % 512).alias(
            "cc"
        ),
    )
    est = (
        pc.join(sketch, ["seed", "cc"], "left")
        .groupBy("uid")
        .agg(F.min(F.coalesce("count", F.lit(0))).alias("cm_estimate"))
    )
    exact = (
        spark.read.parquet(src)
        .groupBy(F.col("user_id").cast("string").alias("uid"))
        .agg(F.count("*").alias("n_exact"))
    )
    return (
        est.join(exact, "uid", "left")
        .select(
            F.col("uid").alias("user_id"),
            "cm_estimate",
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            (
                F.col("cm_estimate")
                - F.coalesce("n_exact", F.lit(0))
            ).alias("overestimate"),
        )
        .orderBy("user_id")
    )


def _staged_time_buckets(
    spark: SparkSession, sf_dir: str, n_buckets: int = 4
) -> str:
    """Stage events.parquet as ``n_buckets`` time-ordered files (one
    per uniform time-range bucket, written sequentially so
    modification-time order == event-time order).  The single-file stage
    (`_staged_dir`) yields ONE availableNow micro-batch, under which
    an outer join can never emit its null-extended rows — the
    watermark only advances BETWEEN batches.  Multi-file + 
    maxFilesPerTrigger=1 gives a real multi-batch timeline."""
    import os

    from ..sources.formats import SCRATCH

    tag = os.path.basename(sf_dir.rstrip("/"))
    final = os.path.join(SCRATCH, f"stream-events-tb{n_buckets}v2-{tag}")
    if os.path.exists(os.path.join(final, "_STAGED")):
        return final
    # Stage into a process-private dir and atomically rename into
    # place: a marker-file-last protocol over a SHARED dir lets a
    # concurrent process (pytest + driver_sim is the real scenario)
    # observe a half-staged directory and stream over partial input.
    d = f"{final}.tmp-{os.getpid()}"
    os.makedirs(d, exist_ok=True)
    ev = normalize_events_ts(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    )
    lo_hi = ev.select(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).first()
    # Exact-integer bucket rule: b = min(n-1, (ts_us - lo_us)·n DIV
    # span_us).  No float division — q_source_lineage's oracle replays
    # the identical rule in DuckDB, and a float span could flip a
    # boundary row's bucket by one ulp (the band-grouping bug class).
    lo_us, hi_us = lo_hi["lo"], lo_hi["hi"]
    span_us = (hi_us - lo_us) or 1
    bounded = ev.withColumn(
        "_b",
        F.least(
            F.lit(n_buckets - 1),
            F.expr(
                f"(unix_micros(ts) - {lo_us}L) * {n_buckets} "
                f"div {span_us}L"
            ).cast("int"),
        ),
    )
    import shutil
    import time as _time

    for b in range(n_buckets):
        tmp = os.path.join(d, f"_tmp_{b}")
        (
            bounded.filter(F.col("_b") == b)
            .drop("_b")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        src = next(
            os.path.join(tmp, f)
            for f in os.listdir(tmp)
            if f.endswith(".parquet")
        )
        dst = os.path.join(d, f"bucket-{b}.parquet")
        shutil.move(src, dst)
        os.utime(dst, (_time.time() + b, _time.time() + b))
        shutil.rmtree(tmp)
    with open(os.path.join(d, "_STAGED"), "w") as fh:
        fh.write("ok")
    try:
        os.rename(d, final)  # atomic on one filesystem
    except OSError:
        if os.path.exists(os.path.join(final, "_STAGED")):
            # a concurrent stager won the rename; use its complete copy
            shutil.rmtree(d, ignore_errors=True)
        else:  # markerless leftover (crashed old-protocol run)
            shutil.rmtree(final, ignore_errors=True)
            os.rename(d, final)
    return final


@register("q_stream_outer_join", oracle=None)
def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click joined to same-user
    purchases within the following hour — and clicks with NO such
    purchase still emitted (purchase columns null) once the watermark
    guarantees no match can arrive.  The outer variant is a different
    state machine from q_stream_join's inner: unmatched left rows are
    HELD in the state store until ``click_ts + 1h < watermark``, then
    null-emitted and evicted — bounded state, delayed-but-complete
    output, the semantics a funnel/abandonment stream needs at
    100 TB/day.

    The null-extended rows only materialize if the watermark advances
    DURING the run, so the source is staged as 4 time-ordered files
    with maxFilesPerTrigger=1 (4 micro-batches; watermark re-computed
    between each).  At stream end the final hour's unmatched clicks
    remain in state (no later batch to flush them) — tests assert
    inner-part exact parity with the batch twin, null-part ⊆ batch
    anti-join, and that eviction actually fired (non-empty null part).
    """
    configure(spark)
    path = _staged_time_buckets(spark, sf_dir)
    schema = spark.read.parquet(path).schema
    ev = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(path)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
        ),
        "leftOuter",
    ).select(
        "click_id", "purchase_id", "c_user_id", "click_ts", "purchase_ts"
    )
    return _run_to_memory(joined, "stream_outer_join_sink", "append", sf_dir)


@register(
    "q_stream_dedup_window",
    oracle="""
    WITH agg AS (
      SELECT date_trunc('hour', ts) AS bucket, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT bucket, event_type, n_events FROM agg
    WHERE bucket + INTERVAL 1 HOUR
          <= (SELECT MAX(ts) FROM events) - INTERVAL 10 MINUTE
    """,
)
def q_stream_dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query:
    dropDuplicatesWithinWatermark → tumbling 1h aggregation — the
    ingest-dedup-then-rollup topology every at-least-once delivery
    pipeline needs (upstream replays must not inflate the counts).
    Spark 4 supports multiple stateful operators per query when the
    downstream one is a time-window aggregation; both share one
    watermark frontier, and each keeps its own bounded state (dedup:
    keys within the horizon; window: open windows).

    ORACLE-CHECKED (round-8 promotion, composing the q_stream_dedup
    and q_stream_watermark recipes): the input doubles every event,
    the dedup stage must collapse each pair inside its micro-batch
    (both union branches read the same files per batch), and the
    drained append sink is the batch hourly count over the ORIGINAL
    events filtered to watermark-finalized buckets — an uncollapsed
    duplicate inflates a count and breaks the hash.
    """
    ev = _stream_events(spark, sf_dir)
    doubled = ev.unionByName(ev)
    deduped = (
        doubled.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = (
        deduped.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("bucket"), "event_type", "n_events"
        )
    )
    return _run_to_memory(agg, "stream_dedup_window_sink", "append", sf_dir)


@register("q_stream_update_mode", oracle=None)
def q_stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode: the per-type running count re-emits a key's
    latest value on every micro-batch that changes it — the mode a
    live dashboard sink consumes (upserts keyed on event_type), vs
    append's finalized-only and complete's full-table rewrite.  Over
    the 4-file staged source each key emits up to 4 progressively
    larger counts; the LAST update per key must equal the batch count
    (asserted in tests — the memory sink retains the full update
    history, so the test also sees the monotone progression).

    State is one count per key; update mode needs no watermark for
    this agg, so the state is permanent by design here — bounded by
    key cardinality, the right trade for a small dashboard dimension.
    """
    path = _staged_time_buckets(spark, sf_dir)
    schema = spark.read.parquet(path).schema
    ev = normalize_events_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return _run_to_memory(agg, "stream_update_sink", "update", sf_dir)


def _staged_doc_buckets(
    spark: SparkSession, sf_dir: str, n_buckets: int = 4
) -> str:
    """documents.parquet staged as ``n_buckets`` doc_id-ordered files
    (bucket = exact-integer id range, written sequentially so
    modification-time order == id order).  Gives the incremental
    dedup stream a corpus that ARRIVES in ingest order: every doc in
    batch k has a strictly larger doc_id than all of batches < k."""
    import os
    import shutil
    import time as _time

    from ..sources.formats import SCRATCH

    tag = os.path.basename(sf_dir.rstrip("/"))
    final = os.path.join(SCRATCH, f"stream-docs-db{n_buckets}-{tag}")
    if os.path.exists(os.path.join(final, "_STAGED")):
        return final
    d = f"{final}.tmp-{os.getpid()}"
    os.makedirs(d, exist_ok=True)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    lo_hi = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).first()
    lo, span = lo_hi["lo"], (lo_hi["hi"] - lo_hi["lo"]) or 1
    bounded = docs.withColumn(
        "_b",
        F.least(
            F.lit(n_buckets - 1),
            F.expr(f"(doc_id - {lo}L) * {n_buckets} div {span}L").cast(
                "int"
            ),
        ),
    )
    for b in range(n_buckets):
        tmp = os.path.join(d, f"_tmp_{b}")
        (
            bounded.filter(F.col("_b") == b)
            .drop("_b")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        src = next(
            os.path.join(tmp, f)
            for f in os.listdir(tmp)
            if f.endswith(".parquet")
        )
        dst = os.path.join(d, f"bucket-{b}.parquet")
        shutil.move(src, dst)
        os.utime(dst, (_time.time() + b, _time.time() + b))
        shutil.rmtree(tmp)
    with open(os.path.join(d, "_STAGED"), "w") as fh:
        fh.write("ok")
    try:
        os.rename(d, final)
    except OSError:
        if os.path.exists(os.path.join(final, "_STAGED")):
            shutil.rmtree(d, ignore_errors=True)
        else:
            shutil.rmtree(final, ignore_errors=True)
            os.rename(d, final)
    return final


def _staged_odd_vec_buckets(
    spark: SparkSession, sf_dir: str, n_buckets: int = 4
) -> str:
    """The ODD-vec_id half of embeddings.parquet staged as
    ``n_buckets`` id-ranged files (written sequentially so
    modification-time order == id order) — the vector APPEND stream
    for q_stream_index_append; the even half is the pre-built stale
    index (llm.index.build_half_index)."""
    import os
    import shutil
    import time as _time

    from ..io import table as _table
    from ..sources.formats import SCRATCH

    tag = os.path.basename(sf_dir.rstrip("/"))
    final = os.path.join(SCRATCH, f"stream-vecs-odd{n_buckets}-{tag}")
    if os.path.exists(os.path.join(final, "_STAGED")):
        return final
    d = f"{final}.tmp-{os.getpid()}"
    os.makedirs(d, exist_ok=True)
    vecs = (
        _table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") % 2 == 1)
    )
    lo_hi = vecs.agg(
        F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")
    ).first()
    lo, span = lo_hi["lo"], (lo_hi["hi"] - lo_hi["lo"]) or 1
    bounded = vecs.withColumn(
        "_b",
        F.least(
            F.lit(n_buckets - 1),
            F.expr(f"(vec_id - {lo}L) * {n_buckets} div {span}L").cast(
                "int"
            ),
        ),
    )
    for b in range(n_buckets):
        tmp = os.path.join(d, f"_tmp_{b}")
        (
            bounded.filter(F.col("_b") == b)
            .drop("_b")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        src = next(
            os.path.join(tmp, f)
            for f in os.listdir(tmp)
            if f.endswith(".parquet")
        )
        dst = os.path.join(d, f"bucket-{b}.parquet")
        shutil.move(src, dst)
        os.utime(dst, (_time.time() + b, _time.time() + b))
        shutil.rmtree(tmp)
    with open(os.path.join(d, "_STAGED"), "w") as fh:
        fh.write("ok")
    try:
        os.rename(d, final)
    except OSError:
        if os.path.exists(os.path.join(final, "_STAGED")):
            shutil.rmtree(d, ignore_errors=True)
        else:
            shutil.rmtree(final, ignore_errors=True)
            os.rename(d, final)
    return final


@register(
    "q_stream_index_append",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.qid, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(q.qv, e.v), 6) AS cos_sim
      FROM q JOIN e ON e.vec_id <> q.qid
    )
    SELECT qid, neighbor_id, cos_sim, rank FROM (
      SELECT qid, neighbor_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def q_stream_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN ingestion: vectors ARRIVE as a micro-batched
    stream and are queryable immediately — the live half of the
    persisted-index lifecycle (llm/index.py).

    Topology: the EVEN-vec_id half of the corpus is a pre-built
    stale index (build_half_index, staged once); the ODD half
    arrives as 4 id-ranged files drained with maxFilesPerTrigger=1,
    each micro-batch APPENDING its vectors to a parquet delta store
    (foreachBatch — no state, no driver accumulation).  After the
    drain, one serve call (serve_topk, exhaustive probe) answers
    top-5 from stale-index ∪ delta.

    ORACLE-CHECKED end-to-end — rare for a streaming query: with the
    exhaustive probe, index ∪ delta covers the whole corpus and the
    rerank fold is bit-identical to q_sim_knn's, so the post-drain
    serve must hash-match the same DuckDB brute-force oracle no
    matter how the stream sliced the appends.  The pytest twin
    additionally asserts ≥2 micro-batches really ran and the delta
    store holds exactly the odd half.

    At 100 TB this is the standard serving design: immutable index
    snapshots + an append-only delta scanned brute-force (bounded by
    the rebuild cadence), folded in by q_sim_index_rebuild's path.
    """
    import os

    from ..llm.index import _K_LISTS, build_half_index, serve_topk

    configure(spark)
    index_path = build_half_index(spark, sf_dir)
    src = _staged_odd_vec_buckets(spark, sf_dir)
    schema = spark.read.parquet(src).schema

    delta_dir = _pid_scratch("index-delta", sf_dir)

    def append_delta(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(delta_dir)

    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    try:
        q = (
            s.writeStream.foreachBatch(append_delta)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)
            _unload_state_stores(spark)
        delta = spark.read.parquet(delta_dir)
        return serve_topk(
            spark, index_path, nprobe=_K_LISTS, top_k=5, delta=delta
        ).localCheckpoint()
    finally:
        shutil.rmtree(delta_dir, ignore_errors=True)


@register("q_stream_neardup", oracle=None)
def q_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-duplicate detection: incremental MinHash-LSH
    over a micro-batched document stream.  Each micro-batch computes
    the portable md5-minhash signatures (the q_dedup_minhash_portable
    kernel — byte-identical to batch) for its NEW docs only, probes
    the accumulated band index for colliding earlier docs, verifies
    candidates by signature agreement (≥4/8 rows), emits the verified
    pairs tagged with the batch id that surfaced them, and appends
    the new signatures/bands to the index.  Per-increment cost scales
    with the BATCH (signatures) plus the collision set — never the
    corpus — which is what lets a crawler dedup at ingest instead of
    re-running global dedup per snapshot.

    The 4 doc_id-ranged source files arrive in id order, so the index
    side of every candidate pair is always the earlier (smaller-id)
    doc: (doc_a < doc_b) holds by construction for cross-batch pairs
    and by an explicit filter within a batch.  Rows-only: LSH
    bucketing has no SQL oracle; the pytest gate asserts the drained
    pair set EQUALS the batch twin's (same signatures → same bands →
    same candidates, regardless of arrival slicing) and that each
    pair is emitted exactly once, at doc_b's batch.

    At scale the index dirs are a bucketed table keyed by (b, bk)
    (collision probe = bucket-pruned join) and a doc-keyed signature
    table; both are append-only, exactly as here.
    """
    import os

    from ..llm.dedup import (
        _portable_sig,
        agreement,
        band_pairs,
        bands_of,
        doc_shingles,
    )

    configure(spark)
    src = _staged_doc_buckets(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    base = _pid_scratch("neardup", sf_dir)
    sig_store = os.path.join(base, "sig")
    band_store = os.path.join(base, "bands")
    pairs_dir = os.path.join(base, "pairs")

    def on_batch(bdf: DataFrame, batch_id: int) -> None:
        # Round-10 optimization (guide §2.5 "repartition immediately
        # after the read" for unsplittable inputs): a 1-file micro-
        # batch scans as ONE task, serializing the n-gram explode
        # + md5/minhash mixing + partial agg on one core.  Fan
        # the batch out only when its scan parallelism is below the
        # session's cores (a production batch of many files/row-groups
        # skips this); half the cores measured best (interleaved A/B
        # at sf0.1: none 2.07 s, 8-way 1.63, 16-way 1.41, 32-way 1.78
        # per quarter-corpus signature pass on local[32]).
        new_docs = bdf.select("doc_id", "text")
        _dp = spark.sparkContext.defaultParallelism
        if new_docs.rdd.getNumPartitions() * 2 <= _dp:
            new_docs = new_docs.repartition(max(4, _dp // 2))
        sig = _portable_sig(doc_shingles(new_docs)).localCheckpoint()
        bands = bands_of(sig)
        if os.path.isdir(band_store):
            # index docs all precede this batch's ids (id-ordered
            # arrival): probing index ∪ batch bands with the batch's
            # finds every pair whose doc_b is new
            probe = spark.read.parquet(band_store).unionByName(bands)
            all_sig = spark.read.parquet(sig_store).unionByName(sig)
        else:
            probe, all_sig = bands, sig
        # verify only the signatures of docs in a candidate pair, so
        # the agreement join touches the batch plus the collision set,
        # never the corpus so far.  No broadcast hint: cdocs grows with
        # the collision set, and cand is checkpointed, so AQE knows its
        # size and broadcasts it only while it is small.
        cand = band_pairs(probe, bands).localCheckpoint()
        cdocs = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        all_sig = all_sig.join(cdocs, "doc_id", "leftsemi")
        verified = (
            agreement(cand, all_sig)
            .filter(F.col("matches") >= 4)
            .select(
                "doc_a",
                "doc_b",
                F.round(F.col("matches").cast("double") / 8.0, 6).alias(
                    "minhash_est"
                ),
                F.lit(batch_id).cast("bigint").alias("batch_id"),
            )
        )
        verified.write.mode("append").parquet(pairs_dir)
        sig.write.mode("append").parquet(sig_store)
        bands.write.mode("append").parquet(band_store)
        # per-batch state must not accumulate: free this batch's
        # checkpoint blocks (DataFrame.unpersist cannot — they belong
        # to the RDD under the checkpoint's LogicalRDD)
        for ckpt in (cand, sig):
            ckpt._jdf.queryExecution().analyzed().rdd().unpersist(False)

    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    try:
        # adaptive scope also pays for STATELESS foreachBatch drains
        # whose per-batch jobs are many small shuffles (A/B at sf0.1:
        # 14.3 → 9.3 s) — each micro-batch joins/aggregates a quarter
        # of the corpus, where 32-way exchanges are pure task overhead
        with _stream_shuffle_scope(spark, _source_bytes(src)):
            q = (
                s.writeStream.foreachBatch(on_batch)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
                q.awaitTermination(30)
                _unload_state_stores(spark)
        # Materialize the pair set off the scratch tree
        # (localCheckpoint pins the blocks in this session) so the
        # per-pid sig/band/pairs stores can be removed — repeated
        # runs were accumulating parquet trees in SCRATCH forever
        # (round-4 advisor finding).
        return spark.read.parquet(pairs_dir).localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


#: Table root used by the last q_stream_table_ingest run (test hook:
#: the pytest asserts one committed version per micro-batch and
#: snapshot-stable historical reads).
LAST_INGEST_ROOT: str | None = None


@register(
    "q_stream_table_ingest",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_units
    FROM events
    """,
)
def q_stream_table_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion INTO the ACID table layer: each micro-batch
    COMMITS one append version through the manifest protocol
    (sources/acid.py) — the streaming-lakehouse write path (Delta's
    streaming sink shape) built on this repo's own commit primitive.

    Topology: the 4-file time-bucketed stage drained with
    ``maxFilesPerTrigger=1`` → foreachBatch calls
    :func:`..sources.acid.append_table`, so the table history gains
    one version per micro-batch (v1 = empty create, v2..v5 = the four
    batches) and every historical version remains a stable snapshot.

    ORACLE-CHECKED end-to-end: the final table read must equal the
    whole events table row-for-row no matter how the stream sliced
    the appends — a lost, duplicated, or double-committed batch
    cannot hash-match.  The pytest twin additionally asserts ≥4
    committed versions, per-version monotone growth, and that
    version k's snapshot re-reads identically after later commits.

    Scale: appends commute (conflict = re-read + retry, no data
    rewrite), so N concurrent writers/streams interleave safely; each
    micro-batch writes only its own files and the manifest grows by
    reference — exactly how a 100 TB/day stream lands in a lake table.
    """
    import os

    from ..sources.acid import append_table, create_table, read_table

    global LAST_INGEST_ROOT

    configure(spark)
    src = _staged_time_buckets(spark, sf_dir)
    schema = spark.read.parquet(src).schema

    root = _pid_scratch("stream-acid", sf_dir)
    LAST_INGEST_ROOT = root

    cols = [
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("value_units"),
    ]
    # v1: the empty table (schema from a zero-row slice)
    create_table(
        spark,
        root,
        spark.read.parquet(src).select(*cols).limit(0),
    )

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once on failure/retry; the txn
        # identity (query-scoped app id + batch id) makes a replayed
        # batch a no-op — exactly-once table growth (acid.py txn
        # ledger, the Delta txn-action contract)
        append_table(
            spark,
            root,
            batch_df.select(*cols),
            txn_app=f"ingest-{os.path.basename(root)}",
            txn_version=batch_id,
        )

    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        s.writeStream.foreachBatch(commit_batch)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
        _unload_state_stores(spark)
    return read_table(spark, root)


@register(
    "q_stream_table_mirror",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS price
    FROM orders
    WHERE o_orderkey % 7 != 0 AND o_orderkey % 13 != 0
    UNION ALL
    SELECT o_orderkey, o_orderpriority,
           CAST(o_totalprice * 1.1 AS DOUBLE) AS price
    FROM orders
    WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 != 0
    UNION ALL
    SELECT o_orderkey + 10000000 AS o_orderkey,
           'NEW-ROW' AS o_orderpriority,
           CAST(o_totalprice * 0.5 AS DOUBLE) AS price
    FROM orders
    WHERE o_orderkey % 1000 = 0
    """,
)
def q_stream_table_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous MIRROR maintenance (round 7) — the full lakehouse
    streaming loop in one oracle-checked query: the source table's
    change feed streams through the versioned-offset CDC source
    (q_stream_table_cdc_source's reader), and foreachBatch MERGES each
    micro-batch's delta into a DOWNSTREAM ACID table that was
    shallow-cloned from the source's version 1.  Update post-images
    and inserts become upsert arms, deletes become delete arms,
    pre-images drop (the post-image carries the key).  Each applied
    batch commits with the txn ledger (app = the mirror's consumer id,
    version = batch id), so foreachBatch's at-least-once replay
    upgrades to exactly-once mirror growth — the same contract
    q_stream_table_ingest proves for appends, here proven for MERGE.

    The ORACLE is the closed-form final source state: the mirror must
    converge to EXACTLY the source's latest version through feed
    application alone (it never reads a source data file after the
    initial clone) — incomplete feeds, replayed deltas, or mis-tagged
    images cannot converge.  At 100 TB: per-sync cost is O(feed) +
    the merge's touched files; the initial clone is O(metadata).
    """
    import os
    import re
    import shutil

    from ..sources.acid import (
        _orders_fingerprint,
        clone_table,
        configure,
        ensure_cdc_stream_exercise,
        merge_table,
        read_manifest,
        read_table,
    )
    from ..sources.formats import SCRATCH, _tag
    from ..sources.pysource import TableChangesStreamSource

    configure(spark)
    src = ensure_cdc_stream_exercise(spark, sf_dir)
    dst = os.path.join(SCRATCH, f"acidtable-mirror-{_tag(sf_dir)}")
    src_m = read_manifest(src)
    # deterministic digest — Python's str hash is salted per process
    # (PYTHONHASHSEED), which would invalidate the note every run and
    # silently re-run the full CDC mirror on every new process
    import hashlib

    src_id = hashlib.md5(
        "\n".join(src_m["files"]).encode()
    ).hexdigest()[:8]
    note = (
        f"mirror-of {_orders_fingerprint(sf_dir)} "
        f"src-v{src_m['version']}-{src_id}"
    )
    ready = os.path.join(dst, "_READY_MIRROR")
    try:
        if open(ready).read().strip() == note:
            return read_table(spark, dst)
    except OSError:
        pass
    shutil.rmtree(dst, ignore_errors=True)
    clone_table(spark, src, dst, version=1)

    try:
        spark.dataSource.register(TableChangesStreamSource)
    except Exception:
        pass  # already registered in this session

    app = f"mirror-{_tag(sf_dir)}"

    def apply_batch(batch, batch_id: int) -> None:
        import pyspark.sql.functions as BF

        delta = (
            batch.filter(BF.col("_change_type") != "update_preimage")
            .select(
                "o_orderkey",
                "o_orderpriority",
                "price",
                (BF.col("_change_type") == "delete").alias("_delete"),
            )
        )
        merge_table(
            batch.sparkSession,
            dst,
            delta,
            "o_orderkey",
            cdc=False,
            txn_app=app,
            txn_version=batch_id,
        )

    # the mirror's downstream snapshot is the clone pinned at source
    # version 1 — pass that version explicitly so the CDC source
    # starts exactly where the clone left off, rather than relying on
    # the reader's default happening to coincide
    s = (
        spark.readStream.format("acid_table_changes")
        .option("root", src)
        .option("startingVersion", 1)
        .load()
    )
    q = s.writeStream.foreachBatch(apply_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
        _unload_state_stores(spark)
    with open(ready, "w") as fh:
        fh.write(note)
    return read_table(spark, dst)


@register(
    "q_stream_table_ingest_partitioned",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_units
    FROM events
    """,
)
def q_stream_table_ingest_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming ingestion into a PARTITIONED ACID table (round 8):
    q_stream_table_ingest's exactly-once foreachBatch loop, landing in
    a table partitioned by event_type — every micro-batch's append is
    one hive-partitioned write whose files carry partition values in
    the manifest (append_table_partitioned), so the table is
    partition-prunable the moment each commit lands, with no
    re-clustering step between ingest and query.  That composition —
    commit-per-batch exactly-once + per-file partitionValues — is the
    standard streaming-lakehouse landing zone at 100 TB/day.

    ORACLE-CHECKED like the unpartitioned twin: the final read must
    equal the whole events table however the stream sliced it.  The
    pytest twin additionally pins pruning on the freshly-ingested
    table (a one-type partition filter lists a strict file subset)
    and per-batch txn idempotence."""
    import os

    from ..sources.acid import (
        append_table_partitioned,
        create_table_partitioned,
        read_table,
    )

    global LAST_INGEST_PART_ROOT

    configure(spark)
    src = _staged_time_buckets(spark, sf_dir)

    root = _pid_scratch("stream-acid-part", sf_dir)
    LAST_INGEST_PART_ROOT = root

    cols = [
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("value_units"),
    ]
    create_table_partitioned(
        spark,
        root,
        spark.read.parquet(src).select(*cols).limit(0),
        partition_cols=["event_type"],
    )

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        append_table_partitioned(
            spark,
            root,
            batch_df.select(*cols),
            txn_app=f"ingest-part-{os.path.basename(root)}",
            txn_version=batch_id,
        )

    schema = spark.read.parquet(src).schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        s.writeStream.foreachBatch(commit_batch)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
        _unload_state_stores(spark)
    return read_table(spark, root)


LAST_INGEST_PART_ROOT: str | None = None


@register(
    "q_stream_table_ingest_hidden",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_units
    FROM events
    """,
)
def q_stream_table_ingest_hidden(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming ingestion into a HIDDEN-PARTITIONED ACID table
    (round 9): the exactly-once foreachBatch loop of
    q_stream_table_ingest_partitioned, landing in a table laid out by
    the TRANSFORM bucket(user_id, 8) — the partition value is
    computed by each micro-batch's write job and never exists as a
    data column, so the landing zone is prunable by raw user_id
    predicates the moment each commit lands while producers remain
    completely unaware of the layout.  This is the composition a
    streaming lakehouse actually wants: transforms keep layout
    decisions on the TABLE (evolvable later, metadata-only) instead
    of baked into every producer's output schema.

    ORACLE-CHECKED like its siblings: the final read must equal the
    whole events table however the stream sliced it.  The pytest twin
    pins bucket pruning on the freshly-ingested table (a user_id
    IN-list lists ~1/8 of the files) and per-batch txn idempotence."""
    import os

    from ..sources.acid import (
        append_table_partitioned,
        create_table_transformed,
        read_table,
    )

    global LAST_INGEST_HIDDEN_ROOT

    configure(spark)
    src = _staged_time_buckets(spark, sf_dir)

    root = _pid_scratch("stream-acid-hidden", sf_dir)
    LAST_INGEST_HIDDEN_ROOT = root

    cols = [
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("value_units"),
    ]
    create_table_transformed(
        spark,
        root,
        spark.read.parquet(src).select(*cols).limit(0),
        transforms=[
            {
                "name": "u_bucket",
                "src": "user_id",
                "kind": "bucket",
                "param": 8,
            }
        ],
    )

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        append_table_partitioned(
            spark,
            root,
            batch_df.select(*cols),
            txn_app=f"ingest-hidden-{os.path.basename(root)}",
            txn_version=batch_id,
        )

    schema = spark.read.parquet(src).schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        s.writeStream.foreachBatch(commit_batch)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
        _unload_state_stores(spark)
    return read_table(spark, root)


LAST_INGEST_HIDDEN_ROOT: str | None = None

#: Table root used by the last q_stream_table_wap run (test hook).
LAST_INGEST_WAP_ROOT: str | None = None


@register(
    "q_stream_table_wap",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_units
    FROM events
    """,
)
def q_stream_table_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming WRITE-AUDIT-PUBLISH (round 10): the exactly-once
    micro-batch ingest of q_stream_table_ingest, but STAGED — every
    batch appends to a BRANCH of the table while main keeps serving
    the pre-stream snapshot; when the stream drains, the staged
    snapshot is AUDITED (null keys / negative units gate) and
    PUBLISHED as one zero-churn fast-forward commit.  This is how a
    production lake gates a firehose: downstream readers of main
    never observe a half-loaded or bad batch, yet the publish costs
    O(descriptors), not a rewrite of what streamed in.

    ORACLE-CHECKED end-to-end: main's post-publish read must equal
    the whole events table row-for-row — a lost/duplicated batch,
    a leak of pre-publish state into main, or a publish that dropped
    a staged file cannot hash-match.  The pytest twin pins the
    staging physics: main stays at v1 (one snapshot) while the
    branch grows one version per batch, and the publish commit adds
    and removes zero files."""
    import os

    from ..sources.acid import (
        append_table,
        create_branch,
        create_table,
        publish_branch,
        read_table,
    )

    global LAST_INGEST_WAP_ROOT

    configure(spark)
    src = _staged_time_buckets(spark, sf_dir)
    schema = spark.read.parquet(src).schema

    root = _pid_scratch("stream-wap", sf_dir)
    LAST_INGEST_WAP_ROOT = root

    cols = [
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("value_units"),
    ]
    create_table(
        spark,
        root,
        spark.read.parquet(src).select(*cols).limit(0),
    )
    broot = create_branch(root, "ingest")

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        # same exactly-once txn ledger as the direct ingest — the
        # branch IS a table, so replayed batches no-op identically
        append_table(
            spark,
            broot,
            batch_df.select(*cols),
            txn_app=f"wap-{os.path.basename(root)}",
            txn_version=batch_id,
        )

    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        s.writeStream.foreachBatch(commit_batch)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
        _unload_state_stores(spark)
    # AUDIT the staged snapshot, then promote atomically
    staged = read_table(spark, broot)
    bad = staged.filter(
        "event_id IS NULL OR value_units < 0"
    ).limit(1).count()
    if bad:
        raise ValueError(
            "streaming WAP audit failed: staged snapshot has null "
            "ids or negative units"
        )
    publish_branch(root, "ingest")
    return read_table(spark, root)


@register(
    "q_stream_text_index",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS len
           FROM toks GROUP BY doc_id),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     SUM(len) / COUNT(*) AS avglen
              FROM dl),
    tf AS (SELECT doc_id, word, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM toks WHERE word IN ('hash', 'join', 'scan')
           GROUP BY 1, 2),
    df AS (SELECT word, CAST(COUNT(*) AS DOUBLE) AS df
           FROM tf GROUP BY word)
    SELECT tf.doc_id,
           ROUND(SUM(
             ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.len / s.avglen))
           ), 6) AS bm25
    FROM tf
    JOIN df ON df.word = tf.word
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats s
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, tf.doc_id LIMIT 15
    """,
)
def q_stream_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING inverted-index maintenance (round 8): the corpus
    arrives as a document stream (4 staged id-ordered buckets,
    maxFilesPerTrigger=1) and every micro-batch folds its postings
    into the persisted index via append_text_index — pure file
    addition into the terms' bucket dirs, the same fold the batch
    append key proves — then the drained index serves the standing
    BM25 query.  ORACLE-CHECKED against the full-corpus from-scratch
    SQL: a lost batch, a doubled fold, or stale global stats cannot
    hash-match (df/N/avgdl are derived at serve, so every fold is
    exact the moment its files land — the property that lets a
    search index track a 100 TB/day ingest without rebuild cycles).

    Exactly-once posture: availableNow + file source is effectively-
    once here; a production deployment lands postings through the
    ACID table's txn ledger (q_stream_table_ingest) to make replayed
    batches no-ops — the composition is documented, not duplicated.
    """
    import os

    from ..text.searchindex import append_text_index, serve_bm25

    configure(spark)
    src = _staged_doc_buckets(spark, sf_dir)
    root = _pid_scratch("stream-textindex", sf_dir)
    os.makedirs(root, exist_ok=True)

    schema = spark.read.parquet(src).schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def fold_batch(batch_df, batch_id: int) -> None:
        # Fan a 1-file micro-batch out before the tokenize→explode→
        # partial-agg chain (all pre-exchange, so otherwise one task;
        # same rule as q_stream_neardup's signature pass, guide §2.5)
        new_docs = batch_df.select("doc_id", "text")
        _dp = spark.sparkContext.defaultParallelism
        if new_docs.rdd.getNumPartitions() * 2 <= _dp:
            new_docs = new_docs.repartition(max(4, _dp // 2))
        append_text_index(spark, root, new_docs)

    # adaptive scope (A/B at sf0.1: 5.9 → 5.1 s): the per-batch index
    # fold shuffles a quarter-corpus posting list — see q_stream_neardup
    with _stream_shuffle_scope(spark, _source_bytes(src)):
        q = (
            s.writeStream.foreachBatch(fold_batch)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)
            _unload_state_stores(spark)
    return serve_bm25(spark, root)


@register(
    "q_stream_table_erasure",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_units
    FROM events
    WHERE user_id % 13 != 0
    """,
)
def q_stream_table_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ERASURE QUEUE (round 8) — the GDPR topology every
    100 TB training-data lake runs: a stream of right-to-be-forgotten
    requests (here: all users ≡ 0 mod 13, arriving as 4 micro-batches)
    applied to the events table as DELETION-VECTOR commits —
    O(request batch) each, zero data files rewritten — with the txn
    ledger making replayed batches no-ops (foreachBatch is
    at-least-once; an erasure replay must not grow the version chain
    or the tombstone backlog), and the DV FOLD POLICY
    (maybe_fold_dv) compacting the mask away once tombstones exceed
    10% of the table.

    ORACLE-CHECKED end-to-end: the final masked read must equal the
    events table minus every erased user's rows — a lost batch, an
    over-erase, or a replay-grown mask cannot hash-match.  The pytest
    twin pins the physics: one delete commit per batch, 0 data files
    rewritten before the fold, replay no-op, and the fold clearing
    dv_files while preserving content."""
    import os

    from ..io import table as load_table
    from ..sources.acid import (
        create_table,
        delete_from_table,
        maybe_fold_dv,
        read_table,
    )

    global LAST_ERASURE_ROOT

    configure(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("value_units"),
    )
    root = _pid_scratch("stream-erasure", sf_dir)
    LAST_ERASURE_ROOT = root
    create_table(spark, root, ev.repartition(4))

    # the request queue: erased user ids staged as 4 id-ranged files
    req_dir = os.path.join(root, ".requests")
    doomed = ev.filter(F.col("user_id") % 13 == 0).select(
        "user_id"
    ).distinct()
    doomed.repartitionByRange(4, "user_id").write.parquet(req_dir)

    s = (
        spark.readStream.schema("user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(req_dir)
    )

    def erase_batch(batch_df, batch_id: int) -> None:
        delete_from_table(
            spark,
            root,
            batch_df.select("user_id"),
            "user_id",
            txn_app=f"erasure-{os.path.basename(root)}",
            txn_version=batch_id,
        )
        maybe_fold_dv(spark, root, threshold=0.10)

    q = (
        s.writeStream.foreachBatch(erase_batch)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
        _unload_state_stores(spark)
    return read_table(spark, root)


LAST_ERASURE_ROOT: str | None = None
