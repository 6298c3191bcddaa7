"""Streaming-shaped operators over the batch ``events`` table
(SURVEY.md §2.9).

These are the batch twins of the Structured Streaming operators in
:mod:`..streaming` — identical window semantics (`F.window`,
sessionization) checked against SQL oracles here, with the streaming
variants covered by rows-only memory-sink tests.  The `events` table
stands in for the reference's time-series of per-keyword metrics
(SURVEY.md §1.1: Google Search Console rows keyed by date).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.exact import lsum, units, units_nn
from ..io import table
from ..registry import register


@register(
    "q_stream_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           (SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window × event_type (B7: 3,600 groups at sf0.1).

    Uses `F.window` — the exact construct the streaming twin uses with
    a watermark — and unwraps `window.start` for the oracle.  Tumbling
    aggregation is a plain hash aggregate on (bucket, type): fully
    partial-aggregated map-side, the canonical streaming-at-scale
    shape.
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            lsum(units_nn("value", 100), 100, "total_value"),
        )
        .select(
            F.col("w.start").alias("bucket"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "q_stream_sliding",
    oracle="""
    SELECT start AS bucket, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM (
      SELECT time_bucket(INTERVAL 15 MINUTE, ts)
               - k * INTERVAL 15 MINUTE AS start,
             ts, event_type
      FROM events CROSS JOIN UNNEST([0, 1, 2, 3]) AS t(k)
    )
    WHERE ts < start + INTERVAL 1 HOUR
    GROUP BY 1, 2
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1h length, 15m slide (each event lands in 4
    windows).  The oracle reconstructs Spark's window set by shifting
    the 15-minute bucket 0–3 slides back and keeping starts within 1h.
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("bucket"), "event_type", "n_events"
        )
    )


@register(
    "q_sessionize",
    oracle="""
    WITH flags AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN date_diff('microsecond', lag(ts) OVER w, ts)
                       > 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, event_id, ts, value,
             CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_id
      FROM flags
    )
    SELECT user_id, session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           (SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0) AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap (B6).

    Batch algorithm: lag-gap flag + running sum per user — one shuffle
    on user_id, then two sequential window passes over each user's
    (bounded) history.  Gap comparison is done in integer microseconds
    (`unix_micros`) so sub-second timestamps can't straddle the
    threshold differently across engines.  The streaming twin is
    `F.session_window(ts, '30 minutes')` (see streaming module).

    Parallelism: the user_id shuffle is pinned with an explicit
    ``repartition(N, user_id)`` (N = session shuffle partitions).  AQE
    never coalesces a user-specified repartition, so the two window
    passes keep all cores busy even though the shuffle is small at
    test scale — without the global AQE minPartitionSize floor that
    regressed every other small-shuffle query in round 2.  The
    downstream groupBy(user_id, session_id) reuses this partitioning
    (subset-key clustering), so the whole query is still ONE shuffle.
    """
    return sessionize(table(spark, sf_dir, "events"))


def sessionize(ev: DataFrame) -> DataFrame:
    """The monolithic per-user sessionizer (q_sessionize's body, as a
    reusable transform over any events frame — see that docstring for
    the plan discussion).  Prefer :func:`sessionize_auto` on inputs
    whose key distribution is unknown: this form serializes each
    user's whole history in one window partition."""
    # Round-10 optimization: window expressions built as parsed SQL
    # strings (single py4j round-trip each) — plan-diffed identical to
    # the Column-by-Column form, results bit-identical.
    spark = ev.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ev = ev.repartition(n_part, "user_id")
    over = "PARTITION BY user_id ORDER BY ts, event_id"
    return (
        ev.withColumn(
            "new_session",
            F.expr(
                f"CASE WHEN (lag(ts) OVER ({over})) IS NULL THEN 1"
                f" WHEN (unix_micros(ts)"
                f"       - unix_micros(lag(ts) OVER ({over})))"
                f"      > 1800000000 THEN 1 ELSE 0 END"
            ),
        )
        .withColumn(
            "session_id",
            F.expr(
                f"CAST(sum(new_session) OVER ({over}"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                " AS BIGINT)"
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.expr("COUNT(1)").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.expr(
                "SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0D"
            ).alias("session_value"),
        )
    )


@register(
    "q_sessionize_chunked",
    oracle="""
    WITH flags AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN date_diff('microsecond', lag(ts) OVER w, ts)
                       > 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, event_id, ts, value,
             CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_id
      FROM flags
    )
    SELECT user_id, session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           (SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0) AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def q_sessionize_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-robust sessionization — oracle-identical to
    q_sessionize, different physical shape (round-4 verdict item 3:
    SKEW.md documents q_sessionize's per-user serial window bound on
    a hot user).

    Two-phase chunked plan (the q_events_concurrency carry-in
    pattern applied to sessions):

    1. LOCAL pass, parallel in (user_id, day): lag-gap flag + running
       sum within each user-day chunk (every chunk's first event
       opens a local session — day boundaries are provisional
       splits), then collapse to ONE ROW PER LOCAL SESSION carrying
       (n_events, start, end, value-units).  A user with 30% of all
       events sessionizes as ~days_spanned independent chunks
       instead of one serial partition, so the hot key's wall-clock
       is bounded by its BUSIEST DAY, not its lifetime.
    2. BOUNDARY MERGE on the tiny per-session frame (rows =
       sessions, not events — the ≤48-sessions/day/user collapse is
       what makes this frame small): a per-user window over local
       sessions ordered by start re-applies the same >30 min gap
       rule between a chunk's first session and the previous chunk's
       last (session_start − prev session_end in integer
       microseconds — exactly the event-level gap, since those ARE
       the boundary events), and a running sum renumbers globally.
       Cross-midnight sessions merge here; within-chunk splits stay
       (their gaps are >30 min by construction).  Aggregates merge
       as sums/min/max of the local partials; the single
       units→double division happens once at the end, keeping the
       value bit-identical to q_sessionize's lsum discipline.

    The phase-2 window is still per-user serial, but over ~#sessions
    rows (≥30 min each, so ≤48/day) — at 100× events per hot user the
    serial part grows with sessions, not events.  Oracle + the
    planted-30%-hot-user parity test (tests/test_events.py) gate it.
    """
    ev = table(spark, sf_dir, "events")
    return sessionize_chunked(ev, F.col("ts").cast("date"))


def sessionize_chunked(ev: DataFrame, chunk: "F.Column") -> DataFrame:
    """Two-phase sessionization over an arbitrary ``chunk`` column.

    CORRECT FOR ANY CHUNKING, not just time intervals: phase 1 can
    only over-split (a within-chunk gap >30 min may be bridged by
    another chunk's events), never under-split, and phase 2 heals
    every false split because the merge test compares each local
    session's start against the RUNNING MAX of all earlier session
    ends (``max(s_end) over rows unbounded preceding → 1 preceding``)
    — not ``lag(s_end)``.  With interval chunks (day/hour) the two
    are identical (local sessions can't overlap), but under an
    interleaved chunking an earlier long session can overlap several
    later ones, and lag(s_end) would compare against the wrong
    predecessor; the running max is the serial algorithm's exact
    "distance to the covered timeline" test.  Grain independence is
    property-tested in tests/test_events.py (day == hour == 6h ==
    pathological event_id%3 == serial).
    """
    spark = ev.sparkSession
    ev = ev.withColumn("chunk", chunk)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ev = ev.repartition(n_part, "user_id", "chunk")
    w1 = W.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.lag("ts").over(w1)
    )
    new_local = (
        F.when(F.lag("ts").over(w1).isNull(), 1)
        .when(gap_us > 1800 * 1_000_000, 1)
        .otherwise(0)
    )
    run1 = w1.rowsBetween(W.unboundedPreceding, W.currentRow)
    local = (
        ev.withColumn("new_local", new_local)
        .withColumn("local_id", F.sum("new_local").over(run1))
        .groupBy("user_id", "chunk", "local_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("s_start"),
            F.max("ts").alias("s_end"),
            F.sum(units_nn("value", 100)).alias("v_units"),
        )
    )
    # phase 2: per-user window over LOCAL SESSIONS (tiny frame).
    # Order by (s_start, s_end, local ids) — with interval chunks
    # s_start alone is already unique per user; the tie-breaks make
    # the order total under arbitrary chunkings too.
    w2 = W.partitionBy("user_id").orderBy(
        "s_start", "s_end", "chunk", "local_id"
    )
    prev_frontier = F.max(F.unix_micros(F.col("s_end"))).over(
        w2.rowsBetween(W.unboundedPreceding, -1)
    )
    boundary_gap = F.unix_micros(F.col("s_start")) - prev_frontier
    new_global = (
        F.when(prev_frontier.isNull(), 1)
        .when(boundary_gap > 1800 * 1_000_000, 1)
        .otherwise(0)
    )
    run2 = w2.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        local.withColumn("new_global", new_global)
        .withColumn(
            "session_id",
            F.sum("new_global").over(run2).cast("bigint"),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.min("s_start").alias("session_start"),
            F.max("s_end").alias("session_end"),
            (F.sum("v_units") / F.lit(100.0)).alias("session_value"),
        )
    )


# ---- auto-skew dispatch (round-5 verdict item 7) --------------------
# q_profile_skew detects hot keys and sessionize_chunked survives
# them, but through round 5 nothing connected the two: a user calling
# sessionize on skewed data still hit the monolithic window's serial
# bound.  sessionize_auto closes the loop: one cheap sampled profile
# of the key distribution picks the physical plan, and the choice is
# named by an ``observe()`` metric on the returned frame (the
# QueryExecutionListener sees "sessionize_dispatch_<plan>" with the
# sampled hot-key share on every run).

#: Fraction of (sampled) events one key must hold before the chunked
#: plan wins.  Below it the monolithic single-shuffle plan is faster
#: (no second window pass); above it the serial hot partition
#: dominates wall-clock long before 5% of 100 TB fits one task.
SESSIONIZE_SKEW_THRESHOLD = 0.05


def max_key_share(
    df: DataFrame, key: str = "user_id", fraction: float = 0.1
) -> float:
    """Sampled share of the hottest key: one pass over a seeded
    sample, a partial-aggregated groupBy, and a single summary row
    back to the driver (bounded by construction — the canon gate
    whitelists exactly this function).  At 100 TB the fraction drops
    (1e-4 of 100 TB still samples millions of rows); the estimate
    only needs to be right about ORDER OF MAGNITUDE to pick a plan."""
    row = (
        df.sample(fraction=fraction, seed=7)
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"), F.sum("n").alias("tot"))
        .collect()[0]
    )
    return float(row["mx"] / row["tot"]) if row["tot"] else 0.0


def sessionize_auto(
    ev: DataFrame,
    threshold: float = SESSIONIZE_SKEW_THRESHOLD,
    fraction: float = 0.1,
) -> DataFrame:
    """Skew-dispatched sessionization: profile-sample the user_id
    distribution, run the monolithic single-shuffle plan on balanced
    keys and the chunked two-phase plan (bounded serial span) when a
    hot key exceeds ``threshold`` — both plans are oracle-identical,
    so the dispatch changes physics, never results (the planted-skew
    pytest proves both halves)."""
    share = max_key_share(ev, "user_id", fraction)
    chunked = share > threshold
    out = (
        sessionize_chunked(ev, F.col("ts").cast("date"))
        if chunked
        else sessionize(ev)
    )
    return out.observe(
        f"sessionize_dispatch_{'chunked' if chunked else 'monolithic'}",
        F.count(F.lit(1)).alias("n_sessions"),
        F.max(F.lit(float(share))).alias("max_key_share_sampled"),
        F.max(F.lit(int(chunked))).alias("chose_chunked"),
    )


@register(
    "q_sessionize_auto",
    oracle="""
    WITH flags AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN date_diff('microsecond', lag(ts) OVER w, ts)
                       > 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, event_id, ts, value,
             CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_id
      FROM flags
    )
    SELECT user_id, session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           (SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0) AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def q_sessionize_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-dispatched sessionization (see :func:`sessionize_auto`) —
    same oracle as q_sessionize/q_sessionize_chunked; on the balanced
    driver fixture the profiler picks the monolithic plan, and the
    planted-skew pytest (tests/test_events.py) proves the hot-key
    path flips to chunked and still matches the serial ground truth."""
    return sessionize_auto(table(spark, sf_dir, "events"))


@register(
    "q_events_concurrency",
    oracle="""
    WITH deltas AS (
      SELECT ts AS t, 1 AS delta, event_id FROM events
      UNION ALL
      SELECT ts + INTERVAL 5 MINUTE, -1, event_id FROM events
    ),
    swept AS (
      SELECT t,
             SUM(delta) OVER (ORDER BY t, delta, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS concurrency
      FROM deltas
    )
    SELECT date_trunc('hour', t) AS hour,
           CAST(MAX(concurrency) AS BIGINT) AS peak_concurrency
    FROM swept
    GROUP BY 1
    """,
)
def q_events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per hour via a sweep line: each event opens a
    5-minute activity interval; +1/−1 boundary deltas accumulate into
    the number of simultaneously-active intervals — the concurrent-
    sessions / capacity-planning query that plain windowed counts
    cannot answer (intervals span bucket boundaries).

    The naive form is one global running sum (a single-partition
    window).  This implementation is the SCALABLE two-phase form:
    (1) running sums computed per day-partition in parallel, and
    (2) each day's carry-in — the sum of ALL previous days' deltas —
    computed on the tiny per-day aggregate frame and broadcast back.
    concurrency = carry_in + within-day running sum, exactly equal to
    the global scan (the oracle computes the naive global form).  The
    deterministic sweep order (t, delta, id) resolves boundary ties
    identically in both engines: an interval closing at t ends before
    one opening at t begins.
    """
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    opens = ev.select(
        F.col("ts").alias("t"), F.lit(1).alias("delta"), "event_id"
    )
    closes = ev.select(
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("t"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    deltas = opens.unionByName(closes).withColumn(
        "day", F.col("t").cast("date")
    )
    within_w = (
        W.partitionBy("day")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    within = deltas.withColumn("run_in_day", F.sum("delta").over(within_w))
    day_totals = deltas.groupBy("day").agg(F.sum("delta").alias("day_sum"))
    carry_w = (
        W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    )
    carry = day_totals.select(
        "day",
        F.coalesce(F.sum("day_sum").over(carry_w), F.lit(0)).alias(
            "carry_in"
        ),
    )
    swept = within.join(F.broadcast(carry), "day").withColumn(
        "concurrency", F.col("carry_in") + F.col("run_in_day")
    )
    return swept.groupBy(
        F.date_trunc("hour", "t").alias("hour")
    ).agg(F.max("concurrency").cast("bigint").alias("peak_concurrency"))


@register(
    "q_events_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS t FROM daily
    ),
    cus AS (
      SELECT day, x,
             tot.n * CAST(SUM(x) OVER (ORDER BY day) AS BIGINT)
               - (ROW_NUMBER() OVER (ORDER BY day)) * tot.t AS cusum,
             CAST(SUM(x) OVER (ORDER BY day) AS BIGINT) AS cum,
             ROW_NUMBER() OVER (ORDER BY day) AS k,
             tot.n AS n, tot.t AS t
      FROM daily CROSS JOIN tot
    ),
    m AS (SELECT CAST(MAX(ABS(cusum)) AS BIGINT) AS mx FROM cus)
    SELECT MIN(cus.day) AS change_day,
           m.mx AS cusum_peak,
           ROUND(CAST(MIN(cus.cum) AS DOUBLE)
                 / CAST(MIN(cus.k) AS DOUBLE), 6) AS mean_before,
           CASE WHEN MIN(cus.n) > MIN(cus.k) THEN
             ROUND(CAST(MIN(cus.t) - MIN(cus.cum) AS DOUBLE)
                   / CAST(MIN(cus.n) - MIN(cus.k) AS DOUBLE), 6)
           END AS mean_after
    FROM cus CROSS JOIN m
    WHERE ABS(cus.cusum) = m.mx
    GROUP BY m.mx
    """,
)
def q_events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily event-count series:
    the day k maximizing |Σ_{d≤k}(x_d·n − T)| (the integer-scaled
    cumulative deviation from the global mean), with level estimates
    either side — the drift alarm that tells a pipeline WHEN a
    metric shifted, where q_events_anomaly tells it which days are
    outliers.

    Everything up to the final two divisions is 64-bit integer
    (cusum_k = n·cum_k − k·T), so the argmax needs no float
    compare and ties resolve to the earliest day.  The daily
    rollup is the only fact shuffle; the scan stays in
    whole-stage codegen and the windows run over |days| rows.
    """
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n"), F.sum("x").alias("t")
    )
    wd = W.orderBy("day")
    cus = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "day",
            "x",
            "n",
            "t",
            F.sum("x").over(wd).alias("cum"),
            F.row_number().over(wd).alias("k"),
        )
        .withColumn(
            "cusum",
            F.col("n") * F.col("cum") - F.col("k") * F.col("t"),
        )
    )
    m = cus.agg(F.max(F.abs("cusum")).alias("mx"))
    return (
        cus.join(F.broadcast(m))
        .filter(F.abs("cusum") == F.col("mx"))
        .groupBy("mx")
        .agg(
            F.min("day").alias("change_day"),
            F.min("cum").alias("cum"),
            F.min("k").alias("k"),
            F.min("n").alias("n"),
            F.min("t").alias("t"),
        )
        .select(
            "change_day",
            F.col("mx").alias("cusum_peak"),
            F.round(
                F.col("cum").cast("double") / F.col("k").cast("double"),
                6,
            ).alias("mean_before"),
            F.when(
                F.col("n") > F.col("k"),
                F.round(
                    (F.col("t") - F.col("cum")).cast("double")
                    / (F.col("n") - F.col("k")).cast("double"),
                    6,
                ),
            ).alias("mean_after"),
        )
    )


@register(
    "q_events_trigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS trigram,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq
    WHERE e3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, trigram
    LIMIT 10
    """,
)
def q_events_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent behavioral trigrams: the top consecutive 3-event
    sequences per user — one order of sequence context beyond the
    Markov transition matrix (q_events_markov), the n-gram view of
    user journeys that intent models consume as path features.

    The window is (user_id, ts, event_id)-ordered — the event_id
    tie-break makes equal-timestamp sequences identical in both
    engines.  One shuffle on user_id serves both LEADs; counts are
    exact integers, so the top-10 tie-breaks on the trigram text.
    """
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("trigram")
        )
        .groupBy("trigram")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "trigram")
        .limit(10)
    )


@register(
    "q_events_backtest",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    f AS (
      SELECT day, x, LAG(x, 7) OVER (ORDER BY day) AS fc
      FROM daily
    ),
    e AS (
      SELECT x, fc, ABS(x - fc) AS ae,
             CAST(ROUND(CAST(ABS(x - fc) AS DOUBLE)
                        / CAST(x AS DOUBLE), 6)
                  AS DECIMAL(27, 6)) AS ape,
             CAST(ROUND(2.0 * CAST(ABS(x - fc) AS DOUBLE)
                        / CAST(x + fc AS DOUBLE), 6)
                  AS DECIMAL(27, 6)) AS sape
      FROM f WHERE fc IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(ae) AS DOUBLE) / COUNT(*), 6) AS mae,
           ROUND(CAST(SUM(ape) AS DOUBLE) / COUNT(*), 6) AS mape,
           ROUND(CAST(SUM(sape) AS DOUBLE) / COUNT(*), 6) AS smape
    FROM e
    """,
)
def q_events_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest on the daily event-count
    series: forecast(d) = actual(d−7 observations), scored with MAE,
    MAPE, and sMAPE — the baseline every real forecasting model must
    beat, and the evaluation harness shape (point forecast + error
    sweep) a metrics pipeline runs continuously.

    MAE stays integer until one division; the per-day percentage
    errors are rounded to 6 dp and summed as DECIMAL(27,6) so the
    reduction is order-free.  The lag is over observed days (the
    gap-filled calendar variant composes with q_events_gapfill).
    One fact shuffle for the daily rollup; the backtest frame is
    |days| rows.
    """
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    f = daily.select(
        "x", F.lag("x", 7).over(W.orderBy("day")).alias("fc")
    ).filter(F.col("fc").isNotNull())
    ae = F.abs(F.col("x") - F.col("fc"))
    e = f.select(
        ae.alias("ae"),
        F.round(ae.cast("double") / F.col("x").cast("double"), 6)
        .cast("decimal(27,6)")
        .alias("ape"),
        F.round(
            2.0 * ae.cast("double")
            / (F.col("x") + F.col("fc")).cast("double"),
            6,
        )
        .cast("decimal(27,6)")
        .alias("sape"),
    )
    return e.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(
            F.sum("ae").cast("double") / F.count("*"), 6
        ).alias("mae"),
        F.round(
            F.sum("ape").cast("double") / F.count("*"), 6
        ).alias("mape"),
        F.round(
            F.sum("sape").cast("double") / F.count("*"), 6
        ).alias("smape"),
    )


@register(
    "q_events_interval_union",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) - CAST(900 AS BIGINT) * 1000000 AS s,
             epoch_us(ts) + CAST(900 AS BIGINT) * 1000000 AS e
      FROM events WHERE user_id < 20
    ),
    sweep AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING) AS prev_max_e
      FROM iv
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                  THEN 1 ELSE 0 END AS is_new
      FROM sweep
    ),
    islands AS (
      SELECT user_id, s, e,
             SUM(is_new) OVER (PARTITION BY user_id
               ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS island
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island,
             MIN(s) AS ms, MAX(e) AS me
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           ROUND(CAST(SUM(me - ms) AS DOUBLE) / 1000000.0, 6)
             AS covered_seconds
    FROM merged GROUP BY user_id
    """,
)
def q_events_interval_union(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interval UNION (coalescing): every event spawns a ±15-minute
    activity interval; overlapping intervals merge, and the output
    is each user's merged-interval count and total covered seconds
    — the measure-of-union sweep (gaps-and-islands over intervals)
    that naive SUM-of-lengths double-counts and DISTINCT can't fix.
    This is the "total active time" feature behind engagement
    scoring, and the complement of q_join_interval_overlap's
    intersection.

    The sweep is one window per user: an interval starts a new
    island iff its start exceeds the running max end of all
    EARLIER intervals (the 1-PRECEDING frame keeps the test
    strictly causal; (s, e) ordering is a total tie-break).  All
    integer microseconds; per-user state is a single running max —
    the property that scales to any event density.
    """
    iv = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .select(
            "user_id",
            (F.unix_micros("ts") - F.lit(900000000).cast("bigint"))
            .alias("s"),
            (F.unix_micros("ts") + F.lit(900000000).cast("bigint"))
            .alias("e"),
        )
    )
    wseq = W.partitionBy("user_id").orderBy("s", "e")
    sweep = iv.select(
        "user_id",
        "s",
        "e",
        F.max("e")
        .over(wseq.rowsBetween(W.unboundedPreceding, -1))
        .alias("prev_max_e"),
    )
    flagged = sweep.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.col("prev_max_e").isNull()
            | (F.col("s") > F.col("prev_max_e")),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    islands = flagged.select(
        "user_id",
        "s",
        "e",
        F.sum("is_new")
        .over(wseq.rowsBetween(W.unboundedPreceding, 0))
        .alias("island"),
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.round(
            F.sum(F.col("me") - F.col("ms")).cast("double")
            / 1000000.0,
            6,
        ).alias("covered_seconds"),
    )


@register(
    "q_events_rolling_distinct",
    oracle="""
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
    ),
    du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    )
    SELECT days.day,
           CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS wau
    FROM days JOIN du
      ON du.day <= days.day AND du.day >= days.day - 6
    GROUP BY days.day
    """,
)
def q_events_rolling_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling 7-day distinct users per day (true WAU on every day,
    not just week boundaries like q_events_dau_wau) — the sliding
    COUNT DISTINCT that resists windowing because distinct counts
    don't decompose: a user active twice in the window still counts
    once.

    Formulation: dedupe to (day, user) first — the cheap exact
    shrink — then a 7-day band self-join against the day spine and
    a distinct count per day.  At 100 TB the exact version keeps
    the band join but pre-aggregates (day, user) per partition; the
    sublinear path swaps the distinct for mergeable HLL/KMV
    sketches per day, union-merged over the window
    (q_sketch_bottomk is exactly that building block).
    """
    ev = table(spark, sf_dir, "events")
    days = ev.select(
        F.col("ts").cast("date").alias("day")
    ).distinct()
    du = ev.select(
        F.col("ts").cast("date").alias("uday"), "user_id"
    ).distinct()
    return (
        days.join(
            du,
            (F.col("uday") <= F.col("day"))
            & (F.col("uday") >= F.date_sub(F.col("day"), 6)),
        )
        .groupBy("day")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("wau")
        )
    )


@register(
    "q_events_heatmap_dowhour",
    oracle="""
    SELECT CAST((FLOOR(epoch_us(ts) / 86400000000.0) + 4) % 7
                AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_heatmap_dowhour(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap (0=Sunday) — the
    operational calendar grid behind staffing and anomaly
    baselines, and the weekly-seasonality feature matrix a model
    consumes.

    The weekday comes from pure epoch-day arithmetic
    ((⌊epoch_us/86.4e9⌋+4) mod 7 — 1970-01-01 was a Thursday)
    instead of each engine's dayofweek() (Spark counts 1–7 from
    Sunday, DuckDB 0–6: an off-by-one the hash would catch but
    portable arithmetic never risks).  One map-side-combinable
    aggregation into ≤168 cells.
    """
    ev = table(spark, sf_dir, "events")
    dow = (
        (
            F.floor(
                F.unix_micros("ts") / 86400000000.0
            )
            + 4
        )
        % 7
    ).cast("int")
    return ev.groupBy(
        dow.alias("dow"), F.hour("ts").cast("int").alias("hod")
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        (
            F.sum(
                F.round(F.col("value") * 100).cast("bigint")
            ).cast("double")
            / 100.0
        ).alias("total_value"),
    )


@register(
    "q_events_peaks",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    ctx AS (
      SELECT d, n,
             LAG(n, 1) OVER (ORDER BY d) AS p1,
             LAG(n, 2) OVER (ORDER BY d) AS p2,
             LAG(n, 3) OVER (ORDER BY d) AS p3,
             LEAD(n, 1) OVER (ORDER BY d) AS f1,
             LEAD(n, 2) OVER (ORDER BY d) AS f2,
             LEAD(n, 3) OVER (ORDER BY d) AS f3
      FROM daily
    )
    SELECT d, n AS n_events
    FROM ctx
    WHERE p1 IS NOT NULL AND p2 IS NOT NULL AND p3 IS NOT NULL
      AND f1 IS NOT NULL AND f2 IS NOT NULL AND f3 IS NOT NULL
      AND n > p1 AND n > p2 AND n > p3
      AND n > f1 AND n > f2 AND n > f3
    """,
)
def q_events_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum (peak) detection on the daily event-count series:
    days strictly busier than the 3 days either side — the spike
    detector feeding incident review and campaign attribution,
    complementing q_events_changepoint (level shifts) and
    q_events_anomaly (z-score outliers) with a shape-based rule.

    Pure integer comparisons over 6 lag/lead columns on the
    aggregated daily series (bounded by calendar; the window's single
    partition is the CORRECT shape after the map-side-combined
    count).  Boundary days are excluded (incomplete context window).
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count("*").cast("bigint").alias("n"))
    wd = W.orderBy("d")
    ctx = daily.select(
        "d",
        "n",
        F.lag("n", 1).over(wd).alias("p1"),
        F.lag("n", 2).over(wd).alias("p2"),
        F.lag("n", 3).over(wd).alias("p3"),
        F.lead("n", 1).over(wd).alias("f1"),
        F.lead("n", 2).over(wd).alias("f2"),
        F.lead("n", 3).over(wd).alias("f3"),
    )
    cond = (
        F.col("p1").isNotNull()
        & F.col("p2").isNotNull()
        & F.col("p3").isNotNull()
        & F.col("f1").isNotNull()
        & F.col("f2").isNotNull()
        & F.col("f3").isNotNull()
        & (F.col("n") > F.col("p1"))
        & (F.col("n") > F.col("p2"))
        & (F.col("n") > F.col("p3"))
        & (F.col("n") > F.col("f1"))
        & (F.col("n") > F.col("f2"))
        & (F.col("n") > F.col("f3"))
    )
    return ctx.filter(cond).select("d", F.col("n").alias("n_events"))


@register(
    "q_events_iat_burstiness",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             (epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                PARTITION BY event_type ORDER BY ts, event_id))
             // 1000000 AS g
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(g) AS BIGINT) AS sg,
             CAST(SUM(g * g) AS BIGINT) AS sg2
      FROM gaps WHERE g IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n AS n_gaps,
           ROUND(CAST(sg AS DOUBLE) / n, 4) AS mean_iat_s,
           ROUND(SQRT(CAST(sg2 AS DOUBLE) / n
                      - (CAST(sg AS DOUBLE) / n)
                        * (CAST(sg AS DOUBLE) / n)), 4) AS sd_iat_s,
           ROUND((SQRT(CAST(sg2 AS DOUBLE) / n
                       - (CAST(sg AS DOUBLE) / n)
                         * (CAST(sg AS DOUBLE) / n))
                  - CAST(sg AS DOUBLE) / n)
                 / (SQRT(CAST(sg2 AS DOUBLE) / n
                         - (CAST(sg AS DOUBLE) / n)
                           * (CAST(sg AS DOUBLE) / n))
                    + CAST(sg AS DOUBLE) / n), 6) AS burstiness
    FROM s
    """,
)
def q_events_iat_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness B = (σ−μ)/(σ+μ) of inter-arrival times
    per event type — B→−1 for clockwork streams, 0 for Poisson, →1
    for heavy bursts; the arrival-process characterization behind
    rate-limit and capacity decisions, complementing
    q_stats_dispersion (counts view) with the gap view.

    Gaps are computed as exact integer SECONDS (µs difference with
    integer division — identical truncation in both engines) so Σg²
    stays far inside BIGINT at any scale; μ and σ come from those two
    exact sums in one fixed float expression.  One shuffle on
    event_type for the lag window, then a map-side-combined aggregate.
    """
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    g = F.expr(
        "(unix_micros(ts) - lag(unix_micros(ts)) OVER "
        "(PARTITION BY event_type ORDER BY ts, event_id)) div 1000000"
    )
    gaps = e.select("event_type", g.alias("g")).filter(
        F.col("g").isNotNull()
    )
    s = gaps.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("sg"),
        F.sum(F.col("g") * F.col("g")).cast("bigint").alias("sg2"),
    )
    mu = F.col("sg").cast("double") / F.col("n")
    sd = F.sqrt(F.col("sg2").cast("double") / F.col("n") - mu * mu)
    return s.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.round(mu, 4).alias("mean_iat_s"),
        F.round(sd, 4).alias("sd_iat_s"),
        F.round((sd - mu) / (sd + mu), 6).alias("burstiness"),
    )


@register(
    "q_events_stickiness",
    oracle="""
    WITH days AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    dau AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1
    ),
    mau AS (
      SELECT days.d,
             CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS mau
      FROM days
      JOIN events e
        ON CAST(date_trunc('day', e.ts) AS DATE) <= days.d
       AND CAST(date_trunc('day', e.ts) AS DATE) >= days.d - 27
      GROUP BY days.d
    )
    SELECT dau.d, dau.dau, mau.mau,
           ROUND(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
    FROM dau JOIN mau ON mau.d = dau.d
    WHERE dau.d >= (SELECT MIN(d) FROM days) + 27
    """,
)
def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness ratio per day (trailing-28-day MAU) — the
    engagement KPI product teams track; complements q_events_dau_wau
    (point counts) and q_events_rolling_distinct (7-day window) with
    the canonical 28-day ratio, reported once the trailing window is
    complete.

    The MAU side is the classic distinct-over-sliding-window problem:
    spelled as a band join of the (day, user) DEDUPED pair set against
    the day spine, then one distinct-count per day — the pair set is
    bounded by users×days, far smaller than raw events, and the band
    join fans out ≤28× before the final map-side-combinable count.
    """
    e = table(spark, sf_dir, "events")
    day_user = e.select(
        F.date_trunc("day", "ts").cast("date").alias("ed"),
        "user_id",
    ).distinct()
    days = day_user.select(F.col("ed").alias("d")).distinct()
    dau = day_user.groupBy(F.col("ed").alias("d")).agg(
        F.count("*").cast("bigint").alias("dau")
    )
    mau = (
        days.join(
            day_user,
            (F.col("ed") <= F.col("d"))
            & (F.col("ed") >= F.date_sub(F.col("d"), 27)),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("mau"))
    )
    first_day = days.agg(F.min("d").alias("d0"))
    return (
        dau.join(mau, "d")
        .crossJoin(F.broadcast(first_day))
        .filter(F.col("d") >= F.date_add(F.col("d0"), 27))
        .select(
            "d",
            "dau",
            "mau",
            F.round(
                F.col("dau").cast("double") / F.col("mau"), 6
            ).alias("stickiness"),
        )
    )


@register(
    "q_events_half_life",
    oracle="""
    WITH dau AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1
    ),
    xy AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) - 1 AS BIGINT) AS x,
             CAST(ROUND(LN(CAST(dau AS DOUBLE)), 8)
                  AS DECIMAL(20,8)) AS y
      FROM dau
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             SUM(y) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             SUM(x * y) AS sxy
      FROM xy
    )
    SELECT n AS n_days,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * sxx
                    - CAST(sx AS DOUBLE) * sx), 8) AS decay_slope,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * sx) < 0
                THEN ROUND(-LN(2) /
                     ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * sxx
                         - CAST(sx AS DOUBLE) * sx)), 4)
                ELSE NULL END AS half_life_days
    FROM m
    """,
)
def q_events_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement decay half-life: fit ln(DAU) ~ day OLS and report
    −ln2/slope — "days until daily actives halve", the retention
    summary a launch post-mortem quotes (NULL when the series isn't
    decaying, as a healthy steady-state product shows).

    ln(DAU) values round to DECIMAL(20,8) before the moment sums
    (order-independent); x-moments are exact integers; slope and
    half-life are single fixed float expressions.  DAU rollup
    map-side-combines; the regression runs on the bounded daily
    series.
    """
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    dau = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.countDistinct("user_id").cast("bigint").alias("dau"))
    xy = dau.select(
        (F.row_number().over(W.orderBy("d")) - 1)
        .cast("bigint")
        .alias("x"),
        F.round(F.log(F.col("dau").cast("double")), 8)
        .cast("decimal(20,8)")
        .alias("y"),
    )
    m = xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    slope = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
    return m.select(
        F.col("n").alias("n_days"),
        F.round(slope, 8).alias("decay_slope"),
        F.when(
            slope < 0, F.round(-F.log(F.lit(2.0)) / slope, 4)
        ).alias("half_life_days"),
    )
