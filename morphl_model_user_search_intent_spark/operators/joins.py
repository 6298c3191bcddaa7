"""Join operators (SURVEY.md §2.3).

Join-strategy policy (the 100 TB posture):

* Dimension tables (region/nation/customer at dim scale) are joined
  with an explicit ``F.broadcast`` hint → BroadcastHashJoin, no
  shuffle of the fact side.
* Fact⋈fact equi-joins shuffle on the join key (sort-merge by
  default); AQE handles skew splitting at runtime.
* Theta/band joins keep an equi prefix (brand, user) so Catalyst
  plans a hash join with a non-equi residual — never a raw
  BroadcastNestedLoopJoin over the full cross product.
* As-of joins are window-emulated (join candidates → row_number = 1)
  with fully deterministic tie-breaking, matching DuckDB's ASOF
  semantics but portable and order-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dsum, lsum, units, units_nn
from ..io import table
from ..registry import register


@register(
    "q_join_broadcast",
    oracle="""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash join: 25-row nation dim × customer fact.

    ``F.broadcast(nation)`` pins BroadcastHashJoinExec — the dim ships
    to every executor once; the fact table never shuffles.  At 100 TB
    the alternative (sort-merge) would shuffle the entire fact table
    to co-locate 25 keys.
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dsum("c_acctbal", "total_bal"),
        )
    )


@register(
    "q_join_shuffle",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle (sort-merge) join: orders ⋈ lineitem, both sides large.

    The ``merge`` hint documents the intended physical strategy — both
    sides exchange on the join key and merge sorted runs; this is the
    scalable fact⋈fact shape (broadcast is impossible, and AQE can
    still split skewed partitions at runtime).
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum(rev, "revenue"))
    )


@register(
    "q_join_multiway",
    oracle="""
    SELECT r_name, n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           (SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0) AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    GROUP BY r_name, n_name
    """,
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way star join (B3): region⋈nation⋈customer⋈orders.

    Both dims broadcast; the only shuffle is customer⋈orders (and the
    final 25-group aggregate).  Catalyst is free to reorder the
    broadcast steps.  Revenue sums exact cents (scaled-long fast
    path).
    """
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            lsum(units_nn("o_totalprice", 100), 100, "revenue"),
        )
    )


@register(
    "q_join_unshipped",
    oracle="""
    SELECT l_orderkey,
           (SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
            / 10000.0) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_join_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 / TPC-H-Q3 shape: top-10 unshipped revenue.

    Filters push to both scans before the joins; the final top-10 is
    TakeOrderedAndProject (no global sort).  Revenue runs on the
    scaled-long fast path (cents × discount-pct as exact 1e-4-dollar
    integer units, one division at the end).

    Agg-BEFORE-join: lineitem revenue is pre-aggregated per
    l_orderkey ahead of the SMJ — semantics-preserving because orders
    is unique on o_orderkey, so the original group by (l_orderkey,
    o_orderdate) after the join collapses to one row per orderkey
    anyway, and integer-unit sums are associative.  The big exchange
    then carries map-side-combined (orderkey, partial-sum) state
    instead of raw line rows (~4 lines/order → ~4× fewer shuffle
    rows, 2 narrow columns), which is what kept the r3 form
    spill-bound at 100x on one box.  A/B (tools/unshipped_ab.py at
    commit 177b011, identical top-10 asserted): 0.92→0.67 s at sf0.1,
    2.73→2.28 s at 100x; 10x→100x wall ratio 3.5× for 10× data (was
    16.3× in the r3
    SCALING.md — most of that was also the round→floor units fix,
    which removed a per-row BigDecimal over 30M rows).
    """
    # Round-10 optimization: expression trees built as parsed SQL
    # strings (guide §1.2 step 2 — per-task work includes the driver's
    # plan build, ~0.3-0.6 s of py4j round-trips per headline query at
    # local[32]); plan-diffed identical, results bit-identical.
    c = table(spark, sf_dir, "customer").where(
        "c_mktsegment = 'BUILDING'"
    )
    o = table(spark, sf_dir, "orders").where(
        "o_orderdate < TIMESTAMP_NTZ'1998-01-01'"
    )
    li = table(spark, sf_dir, "lineitem").where(
        "l_shipdate > TIMESTAMP_NTZ'1998-01-01'"
    )
    li_rev = li.groupBy("l_orderkey").agg(
        F.expr(
            "SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
            " * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))"
        ).alias("rev_u")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li_rev, o.o_orderkey == li_rev.l_orderkey)
        .selectExpr(
            "l_orderkey", "rev_u / 10000.0D AS revenue", "o_orderdate"
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q_join_outer",
    oracle="""
    SELECT c_custkey,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(27,6))), 0) AS DOUBLE) AS total_spent
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: every customer kept, order-less customers get
    n_orders=0 / total_spent=0."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias(
                "total_spent"
            ),
        )
    )


@register(
    "q_join_outer_full",
    oracle="""
    WITH big AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_big
      FROM orders WHERE o_totalprice > 200000.0 GROUP BY o_custkey
    ), urgent AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_urgent
      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
    )
    SELECT COALESCE(big.k, urgent.k) AS custkey, n_big, n_urgent
    FROM big FULL OUTER JOIN urgent ON big.k = urgent.k
    """,
)
def q_join_outer_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with nulls surviving on both sides."""
    o = table(spark, sf_dir, "orders")
    big = (
        o.filter(F.col("o_totalprice") > 200000.0)
        .groupBy(F.col("o_custkey").alias("bk"))
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_custkey").alias("uk"))
        .agg(F.count(F.lit(1)).alias("n_urgent"))
    )
    return big.join(urgent, big.bk == urgent.uk, "full").select(
        F.coalesce("bk", "uk").alias("custkey"), "n_big", "n_urgent"
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_nationkey
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): customers with ≥1 urgent order — no
    duplication of the left side, right columns never materialize."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_nationkey")


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= DATE '1995-01-01'
                        AND o_orderdate < DATE '1996-01-01')
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS): customers with no 1995 orders.

    The right side is date-restricted so the result is provably
    NON-empty at every fixture scale — an anti join whose output is 0
    rows is vacuous evidence (both engines agreeing on "nothing" can
    hide a broken join), whereas this shape exercises real exclusion:
    the filter pushes below the join, and the anti join itself stays a
    shuffled hash join on o_custkey."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
    )
    return c.join(
        o, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_mktsegment")


@register(
    "q_join_theta",
    oracle="""
    SELECT a.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand
     AND a.p_partkey <> b.p_partkey
     AND b.p_retailprice >= a.p_retailprice
     AND b.p_retailprice <= a.p_retailprice * 1.05
    GROUP BY a.p_brand
    """,
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (band) join: parts of the same brand priced within +5%.

    Scale design: the equi prefix (p_brand) keeps this a hash join
    with a non-equi residual filter.  Dropping the equi key would give
    BroadcastNestedLoopJoin — O(n²) work that cannot survive 100 TB —
    so band joins in this engine always carry a bucketing/equi key.
    """
    a = table(spark, sf_dir, "part").alias("a")
    b = table(spark, sf_dir, "part").alias("b")
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") != F.col("b.p_partkey"))
            & (F.col("b.p_retailprice") >= F.col("a.p_retailprice"))
            & (
                F.col("b.p_retailprice")
                <= F.col("a.p_retailprice") * 1.05
            ),
        )
        .groupBy(F.col("a.p_brand").alias("p_brand"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "q_join_range",
    oracle="""
    SELECT s.event_id AS signup_id,
           CAST(COUNT(e.event_id) AS BIGINT) AS n_follow,
           CAST(COALESCE(SUM(CAST(e.value AS DECIMAL(27,6))), 0) AS DOUBLE) AS follow_value
    FROM events s LEFT JOIN events e
      ON e.user_id = s.user_id
     AND e.ts >= s.ts
     AND e.ts < s.ts + INTERVAL 1 HOUR
     AND e.event_id <> s.event_id
    WHERE s.event_type = 'signup'
    GROUP BY s.event_id
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join: activity within 1h after each signup.

    Spark has no native interval join; the equi key (user_id) bounds
    the candidate set and the range predicate is a join residual.  At
    100 TB the upgrade is bucketing both sides by time_bucket(1h) and
    joining on (user, bucket±1) — same semantics, bounded fan-out;
    kept here as the documented scale path since user_id already
    bounds candidates in this schema.
    """
    ev = table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").alias("s")
    e = ev.alias("e")
    cond = (
        (F.col("e.user_id") == F.col("s.user_id"))
        & (F.col("e.ts") >= F.col("s.ts"))
        & (F.col("e.ts") < F.col("s.ts") + F.expr("INTERVAL 1 HOUR"))
        & (F.col("e.event_id") != F.col("s.event_id"))
    )
    return (
        s.join(e, cond, "left")
        .groupBy(F.col("s.event_id").alias("signup_id"))
        .agg(
            F.count("e.event_id").alias("n_follow"),
            F.coalesce(dsum(F.col("e.value")), F.lit(0.0)).alias(
                "follow_value"
            ),
        )
    )


@register(
    "q_join_asof",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    cand AS (
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
             c.event_id AS click_id, c.ts AS click_ts,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY c.ts DESC NULLS LAST, c.event_id DESC NULLS LAST
             ) AS rn
      FROM p LEFT JOIN events c
        ON c.user_id = p.user_id
       AND c.event_type = 'click'
       AND c.ts <= p.ts
    )
    SELECT purchase_id, user_id, purchase_ts, click_id, click_ts
    FROM cand WHERE rn = 1
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest click at-or-
    before it for the same user (left: purchases with no prior click
    keep a NULL match).

    Emulation: candidate join on the equi key + time bound, then
    ``row_number() = 1`` ordered by (click_ts DESC, click_id DESC) —
    the explicit tie-break makes the result deterministic where native
    ASOF implementations (e.g. DuckDB's) leave equal-timestamp winners
    unspecified.  Scale path: same plan — the window partitions by the
    left key, so state is bounded per purchase; for dense histories,
    pre-bucket clicks by day and join (user, day) first.
    """
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    cand = p.join(
        c,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "left",
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("click_ts").desc_nulls_last(),
        F.col("click_id").desc_nulls_last(),
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id", "user_id", "purchase_ts", "click_id", "click_ts"
        )
    )


@register(
    "q_join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberate Cartesian product (dim × dim only — the engine never
    cross-joins fact tables; similarity brute-force uses a broadcast
    side, see llm/similarity.py)."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "q_fuzzy_match",
    oracle="""
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM (SELECT DISTINCT p_name FROM part) a
    JOIN (SELECT DISTINCT p_name FROM part) b
      ON a.p_name < b.p_name
     AND levenshtein(a.p_name, b.p_name) <= 1
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching (entity resolution): pairs of catalog
    names within edit distance 1 — near-identical spellings that an
    ingestion pipeline must canonicalize before names become join
    keys.

    Shape: DISTINCT first (2,000 rows → 64 names — the vocabulary,
    not the fact table), then a broadcast self theta-join with the
    levenshtein predicate.  The distinct-to-vocabulary collapse is
    the scale lever: catalogs have bounded name domains, so the
    quadratic step runs on |vocab|², not |rows|².  When the
    vocabulary itself is huge, the documented upgrade is multi-key
    blocking (length band + prefix keys) feeding the same predicate —
    an edit-distance-≤1 pair differs by ≤1 in length, so length
    blocks have guaranteed recall.
    """
    names = (
        table(spark, sf_dir, "part").select("p_name").distinct()
    )
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(
            F.broadcast(b),
            (F.col("name_a") < F.col("name_b")) & (dist <= 1),
        )
        .select("name_a", "name_b", dist.cast("bigint").alias("edit_dist"))
    )


@register(
    "q_join_asof_forward",
    oracle="""
    WITH s AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'signup'),
    cand AS (
      SELECT s.event_id AS signup_id, s.user_id, s.ts AS signup_ts,
             p.event_id AS purchase_id, p.ts AS purchase_ts,
             row_number() OVER (
               PARTITION BY s.event_id
               ORDER BY p.ts ASC NULLS LAST, p.event_id ASC NULLS LAST
             ) AS rn
      FROM s LEFT JOIN events p
        ON p.user_id = s.user_id
       AND p.event_type = 'purchase'
       AND p.ts > s.ts
    )
    SELECT signup_id, user_id, signup_ts, purchase_id, purchase_ts
    FROM cand WHERE rn = 1
    """,
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each signup matched to the user's FIRST
    purchase strictly after it (time-to-convert attribution — the
    mirror of q_join_asof's backward lookup, and together they
    complete the asof direction pair native engines expose).

    Same decorrelated emulation: equi-key + time-bound candidate join,
    then ``row_number() = 1`` ordered ascending with id tie-break.
    Left join keeps never-converting signups with NULL matches, so
    conversion rate falls out of the same result.
    """
    ev = table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("signup_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    from pyspark.sql import Window as W

    cand = s.join(
        p,
        (s.user_id == p.p_user_id) & (F.col("purchase_ts") > F.col("signup_ts")),
        "left",
    )
    w = W.partitionBy("signup_id").orderBy(
        F.asc_nulls_last("purchase_ts"), F.asc_nulls_last("purchase_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "signup_id", "user_id", "signup_ts", "purchase_id", "purchase_ts"
        )
    )


@register(
    "q_join_asof_nearest",
    oracle="""
    WITH s AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'signup'),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase'),
    cand AS (
      SELECT s.event_id AS signup_id, s.user_id, s.ts AS signup_ts,
             p.event_id AS purchase_id, p.ts AS purchase_ts,
             abs(date_diff('microsecond', s.ts, p.ts)) AS gap_us,
             row_number() OVER (
               PARTITION BY s.event_id
               ORDER BY abs(date_diff('microsecond', s.ts, p.ts)),
                        p.event_id
             ) AS rn
      FROM s JOIN p ON p.user_id = s.user_id
    )
    SELECT signup_id, user_id, purchase_id,
           CAST(gap_us // 1000000 AS BIGINT) AS gap_seconds,
           (purchase_ts >= signup_ts) AS is_after
    FROM cand WHERE rn = 1
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event as-of join: each signup paired with the user's
    closest purchase in EITHER direction (min |Δt|, event-id
    tiebreak) — completing the asof family (backward q_join_asof,
    forward q_join_asof_forward) with the variant sensor-fusion and
    log-correlation pipelines use.

    Same decorrelated shape: equi-join on the user key, then one
    rank-1 window over the bounded per-key candidate set; the gap is
    exact integer microseconds, so ordering and output are engine-
    identical.  Inner join drops signups from never-purchasing users
    (the left variant is q_join_asof_forward's).
    """
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("signup_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    gap = F.abs(
        F.unix_micros("purchase_ts") - F.unix_micros("signup_ts")
    )
    w = W.partitionBy("signup_id").orderBy(
        F.col("gap_us"), F.col("purchase_id")
    )
    return (
        s.join(p, s.user_id == p.p_user_id)
        .withColumn("gap_us", gap)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "signup_id",
            "user_id",
            "purchase_id",
            F.expr("gap_us div 1000000").alias("gap_seconds"),
            (F.col("purchase_ts") >= F.col("signup_ts")).alias(
                "is_after"
            ),
        )
    )


@register(
    "q_join_nullsafe",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    a AS (SELECT CASE WHEN user_id % 7 = 0 THEN NULL
                      ELSE user_id END AS k FROM u),
    b AS (SELECT CASE WHEN user_id % 5 = 0 THEN NULL
                      ELSE user_id END AS k FROM u)
    SELECT CASE WHEN a.k IS NULL THEN 'null_pair'
                ELSE 'value_pair' END AS kind,
           CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY 1
    """,
)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL
    keys match each other instead of vanishing — required when NULL
    is a legitimate key value (unknown-attribution bucket, optional
    foreign keys) and an inner join would silently drop those rows.

    Spark executes ``<=>`` as an ordinary hash join (NULL hashes to a
    regular bucket under null-safe semantics — no nested-loop
    fallback), but the null bucket is by construction a self-cross of
    all NULL rows: the one hot key this join always has.  At scale,
    split the NULL partition out (it usually aggregates, not joins)
    — here it stays to prove the n_null² count is exact.
    """
    ev = table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    mk = lambda mod: F.when(
        F.col("user_id") % mod != 0, F.col("user_id")
    ).alias("k")
    a = u.select(mk(7))
    b = u.select(mk(5)).withColumnRenamed("k", "k2")
    return (
        a.join(b, a.k.eqNullSafe(F.col("k2")))
        .groupBy(
            F.when(F.col("k").isNull(), "null_pair")
            .otherwise("value_pair")
            .alias("kind")
        )
        .agg(F.count("*").alias("n_matches"))
    )


@register(
    "q_join_interval_overlap",
    oracle="""
    WITH base AS (
      SELECT MIN(epoch_us(ts)) AS b FROM events
    ),
    win AS (
      SELECT k,
             base.b + (CAST(3 AS BIGINT) + 7 * k) * 86400000000
               + CAST(2 AS BIGINT) * 3600000000 AS ws,
             base.b + (CAST(3 AS BIGINT) + 7 * k) * 86400000000
               + CAST(8 AS BIGINT) * 3600000000 AS we
      FROM (SELECT UNNEST([0, 1, 2]) AS k) CROSS JOIN base
    ),
    spans AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             MIN(epoch_us(ts)) AS s, MAX(epoch_us(ts)) AS e
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(win.k AS INT) AS window_id,
           CAST(COUNT(*) AS BIGINT) AS n_user_days,
           ROUND(CAST(SUM(LEAST(spans.e, win.we)
                          - GREATEST(spans.s, win.ws)) AS DOUBLE)
                 / 1000000.0, 6) AS total_overlap_seconds
    FROM spans JOIN win
      ON spans.s <= win.we AND spans.e >= win.ws
    GROUP BY win.k
    """,
)
def q_join_interval_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interval-overlap join with overlap DURATION: per-user daily
    activity spans intersected against three maintenance windows,
    reporting how many user-days each window touched and the total
    overlapping seconds — the interval-intersection aggregate
    (impact analysis, SLA accounting) that q_join_range's
    containment predicate and q_events_concurrency's sweep don't
    express.

    The windows derive from the corpus min instant in exact integer
    microseconds — no timestamp literals anywhere, so no timezone
    parsing in either engine.  Overlap = least(ends) −
    greatest(starts), exact µs.  The 3-row window table broadcasts
    into a nested-loop with the (already small) per-user-day span
    rollup; at scale the span side stays partitioned and only the
    window frame ships.
    """
    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    base = e.agg(F.min(us).alias("b"))
    ks = spark.createDataFrame([(0,), (1,), (2,)], "k bigint")
    day_us = F.lit(86400000000).cast("bigint")
    hour_us = F.lit(3600000000).cast("bigint")
    win = ks.crossJoin(F.broadcast(base)).select(
        "k",
        (F.col("b") + (3 + 7 * F.col("k")) * day_us + 2 * hour_us)
        .alias("ws"),
        (F.col("b") + (3 + 7 * F.col("k")) * day_us + 8 * hour_us)
        .alias("we"),
    )
    spans = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.min(us).alias("s"), F.max(us).alias("e"))
    joined = spans.join(
        F.broadcast(win),
        (F.col("s") <= F.col("we")) & (F.col("e") >= F.col("ws")),
    )
    return (
        joined.groupBy("k")
        .agg(
            F.count("*").cast("bigint").alias("n_user_days"),
            F.round(
                F.sum(
                    F.least(F.col("e"), F.col("we"))
                    - F.greatest(F.col("s"), F.col("ws"))
                ).cast("double")
                / 1000000.0,
                6,
            ).alias("total_overlap_seconds"),
        )
        .select(
            F.col("k").cast("int").alias("window_id"),
            "n_user_days",
            "total_overlap_seconds",
        )
    )


# Portable md5-derived 32-bit hash (see text/analysis.py).
from ..text.analysis import _H32_DG, h32_of_digest

_BLOOM_SEEDS = (131, 137, 139)


def _bloom_oracle() -> str:
    hw_dim = _H32_DG.format(d="dg")
    seeds_probe = ", ".join(
        f"(((hw * {s}) % 2147483647) % 8192) AS bit{s}"
        for s in _BLOOM_SEEDS
    )
    exists_all = " AND ".join(
        f"EXISTS (SELECT 1 FROM bits{s} WHERE bits{s}.bit"
        f" = probe.bit{s})"
        for s in _BLOOM_SEEDS
    )
    bits_ctes = ", ".join(
        f"bits{s} AS (SELECT DISTINCT (((hw * {s}) % 2147483647)"
        f" % 8192) AS bit FROM dimh)"
        for s in _BLOOM_SEEDS
    )
    return f"""
    WITH dim AS (
      SELECT c_custkey FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
    ),
    dimh AS (
      SELECT c_custkey, {hw_dim} AS hw
      FROM (SELECT c_custkey, md5(CAST(c_custkey AS VARCHAR)) AS dg
            FROM dim)
    ),
    {bits_ctes},
    probe AS (
      SELECT o_orderkey, o_custkey, o_totalprice, {seeds_probe}
      FROM (SELECT o_orderkey, o_custkey, o_totalprice,
                   {_H32_DG.format(d='dg')} AS hw
            FROM (SELECT o_orderkey, o_custkey, o_totalprice,
                         md5(CAST(o_custkey AS VARCHAR)) AS dg
                  FROM orders))
    ),
    passed AS (SELECT * FROM probe WHERE {exists_all}),
    truth AS (
      SELECT p.o_orderkey, p.o_totalprice FROM passed p
      WHERE EXISTS (SELECT 1 FROM dim
                    WHERE dim.c_custkey = p.o_custkey)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM passed)
             AS n_bloom_pass,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM passed)
             - (SELECT CAST(COUNT(*) AS BIGINT) FROM truth)
             AS n_false_pass,
           (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100)
                                 AS BIGINT)) AS DOUBLE) / 100.0
            FROM truth) AS revenue_true
    """


@register("q_join_bloom_prefilter", oracle=_bloom_oracle())
def q_join_bloom_prefilter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Explicit Bloom-filter join pre-pruning: build a 8192-bit k=3
    filter from the small dimension side (high-balance BUILDING
    customers), test every fact row against it BEFORE the join, and
    report pass/true/false-pass counts plus the verified revenue —
    the runtime-filter mechanic Spark applies implicitly (see
    q_join_dpp) made explicit and measurable, with the false-pass
    column quantifying the filter's selectivity loss.

    Plan shape (round-3 rewrite; the original expanded every fact row
    3x through a 45M-row shuffle groupBy at 100x — 15.1 s):  the fact
    side is hashed ONCE per row (md5 digest stored, digit-decoded —
    not 16 inline md5 calls), its three bit positions become plain
    columns, and membership in each seed's bit-set is three chained
    BROADCAST LEFT-SEMI hash joins (each bit-set is <= 8192 rows
    regardless of dimension size).  No row expansion, no shuffle, one
    codegen stage over the fact scan; the pass/true/revenue counters
    fold into a single aggregate cross-joined with the count-star leg,
    so the whole operator is ONE action with no driver-side collect.
    At 100 TB fact rows failing any bit probe never reach the (exact)
    broadcast semi-join.  Same portable hash discipline as the sketch
    family, so the oracle checks the exact pass-set, not just totals.
    """
    c = table(spark, sf_dir, "customer")
    dim = c.filter(
        (F.col("c_mktsegment") == "BUILDING")
        & (F.col("c_acctbal") > 9000)
    ).select("c_custkey")
    dimh = dim.select(
        F.md5(F.col("c_custkey").cast("string")).alias("dg")
    ).select(F.expr(h32_of_digest("dg")).alias("hw"))

    def bitcol(s: int) -> F.Column:
        # coalesce makes the join key NON-NULLABLE (o_custkey's parquet
        # nullability otherwise propagates through the hash), so
        # Catalyst emits no isnotnull(key) filter — which it would push
        # BELOW the digest-once projections, re-inlining the full md5
        # decode once per seed into the scan filter (measured 3x cost).
        return F.coalesce(
            ((F.col("hw") * s) % 2147483647) % 8192, F.lit(0)
        )

    o = table(spark, sf_dir, "orders")
    probe = (
        o.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.md5(F.col("o_custkey").cast("string")).alias("dg"),
        )
        .withColumn("hw", F.expr(h32_of_digest("dg")))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            *[bitcol(s).alias(f"bit{s}") for s in _BLOOM_SEEDS],
        )
    )
    passed = probe
    for s in _BLOOM_SEEDS:
        bits_s = dimh.select(bitcol(s).alias(f"bit{s}")).distinct()
        passed = passed.join(
            F.broadcast(bits_s), f"bit{s}", "left_semi"
        )
    flagged = passed.join(
        F.broadcast(dim.withColumn("is_true", F.lit(True))),
        passed.o_custkey == dim.c_custkey,
        "left",
    )
    agg = flagged.agg(
        F.count("*").cast("bigint").alias("n_bloom_pass"),
        F.count("is_true").cast("bigint").alias("n_true"),
        (F.count("*") - F.count("is_true"))
        .cast("bigint")
        .alias("n_false_pass"),
        (
            F.sum(
                F.when(
                    F.col("is_true"),
                    F.round(F.col("o_totalprice") * 100).cast(
                        "bigint"
                    ),
                )
            ).cast("double")
            / 100.0
        ).alias("revenue_true"),
    )
    n_orders = o.agg(F.count("*").cast("bigint").alias("n_orders"))
    return n_orders.crossJoin(agg).select(
        "n_orders",
        "n_bloom_pass",
        "n_true",
        "n_false_pass",
        "revenue_true",
    )


@register(
    "q_join_asof_tolerance",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    cand AS (
      SELECT p.event_id AS purchase_id, p.user_id,
             p.ts AS purchase_ts,
             c.event_id AS click_id, c.ts AS click_ts,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY c.ts DESC NULLS LAST,
                        c.event_id DESC NULLS LAST
             ) AS rn
      FROM p LEFT JOIN events c
        ON c.user_id = p.user_id
       AND c.event_type = 'click'
       AND c.ts <= p.ts
       AND epoch_us(p.ts) - epoch_us(c.ts)
           <= CAST(1800 AS BIGINT) * 1000000
    )
    SELECT purchase_id, user_id, purchase_ts, click_id, click_ts,
           CASE WHEN click_id IS NOT NULL THEN
             ROUND(CAST(epoch_us(purchase_ts) - epoch_us(click_ts)
                        AS DOUBLE) / 1000000.0, 6)
           END AS gap_seconds
    FROM cand WHERE rn = 1
    """,
)
def q_join_asof_tolerance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """As-of join with a TOLERANCE bound (pandas merge_asof's
    ``tolerance=``): latest same-user click at-or-before each
    purchase, but only within 30 minutes — stale matches become
    NULL instead of attributing a purchase to an hours-old click.
    The practical attribution semantics q_join_asof's unbounded
    lookback overstates.

    The tolerance predicate enters the JOIN condition (exact
    integer microseconds), so out-of-window candidates never reach
    the ranking window — at scale this is also the pruning that
    makes the candidate join bounded per purchase (the day-bucket
    prejoin the unbounded variant needs becomes unnecessary: the
    window IS the bucket).
    """
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    pus = F.unix_micros(F.col("purchase_ts"))
    cus = F.unix_micros(F.col("click_ts"))
    cand = p.join(
        c,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & ((pus - cus) <= F.lit(1800000000).cast("bigint")),
        "left",
    )
    w = W.partitionBy("purchase_id").orderBy(
        F.col("click_ts").desc_nulls_last(),
        F.col("click_id").desc_nulls_last(),
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            "user_id",
            "purchase_ts",
            "click_id",
            "click_ts",
            F.when(
                F.col("click_id").isNotNull(),
                F.round((pus - cus).cast("double") / 1000000.0, 6),
            ).alias("gap_seconds"),
        )
    )


@register(
    "q_join_division",
    oracle="""
    WITH years AS (
      SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS y
      FROM orders
    ),
    cy AS (
      SELECT DISTINCT o_custkey,
             CAST(year(o_orderdate) AS BIGINT) AS y
      FROM orders
    ),
    winners AS (
      SELECT o_custkey
      FROM cy
      GROUP BY o_custkey
      HAVING CAST(COUNT(*) AS BIGINT)
             = (SELECT CAST(COUNT(*) AS BIGINT) FROM years)
    )
    SELECT w.o_custkey AS custkey, c.c_mktsegment,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM years) AS n_years
    FROM winners w JOIN customer c ON c.c_custkey = w.o_custkey
    """,
)
def q_join_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION — "customers who ordered in EVERY calendar
    year the business has been active" — the universally-quantified join
    (÷) that completes the join algebra next to semi (∃) and anti
    (∄).  Spelled the scale-correct way: dedup to (customer, month)
    pairs, count per customer, compare against the divisor
    cardinality — never a 12-way self-join.

    All counts exact; the divisor count broadcasts as a scalar.  The
    pair dedup and the per-customer count are the only shuffles, both
    map-side-combinable.
    """
    o = table(spark, sf_dir, "orders")
    cy = o.select(
        "o_custkey", F.year("o_orderdate").cast("bigint").alias("y")
    ).distinct()
    n_years = cy.select("y").distinct().count()
    winners = (
        cy.groupBy("o_custkey")
        .agg(F.count("*").cast("bigint").alias("ny"))
        .filter(F.col("ny") == n_years)
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return winners.join(
        F.broadcast(c), winners.o_custkey == c.c_custkey
    ).select(
        F.col("o_custkey").alias("custkey"),
        "c_mktsegment",
        F.lit(n_years).cast("bigint").alias("n_years"),
    )


@register(
    "q_join_bloom",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           (SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0)
             AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    """,
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join: a selective dimension predicate
    (urgent orders) is turned into a bloom filter that prunes the fact
    scan BEFORE the shuffle — Catalyst's InjectRuntimeFilter rewrites
    the fact side to ``might_contain(bloom, xxhash64(l_orderkey))``.
    At 100 TB this is the difference between shuffling the whole
    lineitem table and shuffling only the ~20% that can survive the
    join.

    The injection thresholds default to cluster scale
    (applicationSideScanSizeThreshold = 10 GB), so at fixture scale
    they are lowered on a DEDICATED ``spark.newSession()`` (same
    SparkContext, private SQLConf): the overrides are visible only to
    this query's planning, so concurrent planning on the caller's
    session (threads, parallel test runners, another cached query
    being built) keeps its broadcast joins — session-global
    set-then-restore was racy.  tests/test_plans.py gates the
    might_contain filter's presence.
    """
    iso = spark.newSession()
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "1KB",
    )
    l = table(iso, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = table(iso, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            lsum(units_nn("l_extendedprice", 100), 100, "revenue"),
        )
    )


@register(
    "q_join_shuffle_hash",
    oracle="""
    SELECT l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                AS DOUBLE) / 100.0 AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_linestatus
    """,
)
def q_join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE_HASH-hinted fact join: same shuffle as sort-merge but
    the smaller (filtered-urgent orders) side builds an in-memory
    hash map per partition instead of BOTH sides sorting — no sort
    cost, one pass per side.  The right call when one side is
    reliably the smaller after filtering but too big to broadcast —
    exactly this shape at 100 TB (orders ≈ ¼ of lineitem, urgent ≈
    1/5 of that).  The hint is a per-plan override; Catalyst still
    plans the partitioning.  Plan gate: ShuffledHashJoin, no
    SortMergeJoin (tests/test_plans.py).
    """
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
        .hint("shuffle_hash")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_extendedprice"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast(
                        "bigint"
                    )
                ).cast("double")
                / 100.0
            ).alias("revenue"),
        )
    )
