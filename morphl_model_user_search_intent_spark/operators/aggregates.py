"""Aggregation operators (SURVEY.md §2.4).

Float discipline: every double sum/avg goes through the exact-decimal
helpers (:mod:`..functions.exact`) so Spark and DuckDB produce
bit-identical doubles regardless of accumulation order.  Statistical
moments (var/stddev/corr) are computed from those exact sums with one
shared closed-form formula in both engines — again bit-deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import DEC, dsum, lsum, units, units_nn
from ..io import spread, table
from ..registry import register

# Flagship cutoff — TPC-H Q1 shape over the fixture lineitem.
_Q1_CUTOFF = "1998-09-02"


# floor(x·s + 0.5) units — see functions/exact.py units_nn (these
# columns are non-negative; floor form skips Spark's per-value
# BigDecimal round, ~40% faster on the serial scan stage).
_Q1_QTY = "CAST(floor(l_quantity + 0.5) AS BIGINT)"
_Q1_PRICE = "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
_Q1_DISC = "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"
_Q1_TAX = "CAST(floor(l_tax * 100 + 0.5) AS BIGINT)"


@register(
    "q_agg_hash",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           (SUM({_Q1_QTY}) / 1.0) AS sum_qty,
           (SUM({_Q1_PRICE}) / 100.0) AS sum_base_price,
           (SUM({_Q1_PRICE} * (100 - {_Q1_DISC})) / 10000.0) AS sum_disc_price,
           (SUM({_Q1_PRICE} * (100 - {_Q1_DISC}) * (100 + {_Q1_TAX})) / 1000000.0) AS sum_charge,
           (SUM({_Q1_QTY}) / 1.0) / COUNT(l_quantity) AS avg_qty,
           (SUM({_Q1_PRICE}) / 100.0) / COUNT(l_extendedprice) AS avg_price,
           (SUM({_Q1_DISC}) / 100.0) / COUNT(l_discount) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary (filter → partial/final
    hash aggregate).

    Physical plan (verified): FileScan with PushedFilters + 7-of-11
    ReadSchema → partial HashAggregate → Exchange on the 2 group keys →
    final HashAggregate, all inside WholeStageCodegen.  At 100 TB the
    shuffle carries only |groups| × partial-state rows (6 groups here),
    i.e. the map-side combine does ~all the work — the canonical
    scalable aggregation shape.

    Money math runs on the scaled-long fast path (functions/exact.py):
    cents as BIGINT via floor-form units (units_nn — these columns are
    non-negative, and floor skips the per-value BigDecimal that
    Spark's round(double) pays), products as exact 1e-4/1e-6-dollar
    integer units, one division at the end — bit-deterministic
    cross-engine.  Re-measured at sf0.1 (warm collect, serial 1-row-
    group scan): floor-units 0.47 s vs round-units 0.68 s vs plain
    float 0.41 s vs decimal(27,6) 1.3 s.
    """
    # Round-10 optimization: the aggregate trees are built as parsed
    # SQL expression strings (one py4j round-trip each) instead of
    # ~100 Column-operator round-trips — measured 0.147 -> 0.066 s
    # plan-build at local[32], with a canonicalized-identical physical
    # plan (same floor-units partial/final HashAggregate) and
    # bit-identical results.  `0.5D`/`100.0D` double-literal suffixes
    # matter: a bare `100.0` parses as DECIMAL and would change the
    # division's type (and the value hash).
    li = table(spark, sf_dir, "lineitem")
    dp = f"{_Q1_PRICE} * (100 - {_Q1_DISC})"  # 1e-4 dollar units
    ch = f"({dp}) * (100 + {_Q1_TAX})"  # 1e-6 dollar units
    return (
        li.where(f"l_shipdate <= TIMESTAMP_NTZ'{_Q1_CUTOFF}'")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"SUM({_Q1_QTY}) / 1.0D").alias("sum_qty"),
            F.expr(f"SUM({_Q1_PRICE}) / 100.0D").alias("sum_base_price"),
            F.expr(f"SUM({dp}) / 10000.0D").alias("sum_disc_price"),
            F.expr(f"SUM({ch}) / 1000000.0D").alias("sum_charge"),
            F.expr(f"(SUM({_Q1_QTY}) / 1.0D) / COUNT(l_quantity)").alias(
                "avg_qty"
            ),
            F.expr(
                f"(SUM({_Q1_PRICE}) / 100.0D) / COUNT(l_extendedprice)"
            ).alias("avg_price"),
            F.expr(
                f"(SUM({_Q1_DISC}) / 100.0D) / COUNT(l_discount)"
            ).alias("avg_disc"),
            F.expr("COUNT(1)").alias("count_order"),
        )
    )


@register(
    "q_agg_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (Catalyst expands multi-distinct into an
    Expand + two-phase aggregate; still one shuffle per distinct set)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct("o_orderstatus").alias("n_status"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register("q_agg_approx", oracle=None)
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct (HyperLogLog++).

    Rows-only: HLL estimates are engine-specific (SURVEY.md §5.2), so
    there is no value-parity oracle; the pytest mirror asserts the
    estimate is within the configured rsd of the exact count instead.
    Scale: HLL state is a fixed few KB per group vs the unbounded
    hash-set of an exact distinct — this IS the 100 TB path.

    Mixing COUNT(DISTINCT) with the HLL aggregate plans a double
    HashAggregate — first keyed by (flag, partkey), then by flag —
    whose rows are 412 columns wide (the 410-word HLL++ buffer at
    rsd 0.02) at every level, one such row per distinct pair;
    instead the pairs are deduplicated first (map-side combine, no
    sketch buffer) and both counts run over the distinct pairs — HLL
    registers are insensitive to duplicates, so ``approx_parts`` is
    bit-identical, and ``count(l_partkey)`` over distinct (flag,
    partkey) IS the exact distinct count (measured 1.41 → 0.55 s at
    sf0.1).
    """
    li = table(spark, sf_dir, "lineitem")
    pairs = li.select("l_returnflag", "l_partkey").distinct()
    return pairs.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.count("l_partkey").alias("exact_parts"),
    )


@register(
    "q_agg_filtered",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
                FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS sum_finished,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 150000.0) AS BIGINT) AS n_big,
           CAST(COUNT(*) AS BIGINT) AS n_all
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered/conditional aggregation — SUM(x) FILTER (WHERE …)
    expressed as the sum-of-CASE Catalyst idiom."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.sum(
            F.when(
                F.col("o_orderstatus") == "F", F.col("o_totalprice")
            ).cast(DEC)
        )
        .cast("double")
        .alias("sum_finished"),
        F.count(F.when(F.col("o_totalprice") > 150000.0, 1)).alias("n_big"),
        F.count(F.lit(1)).alias("n_all"),
    )


@register(
    "q_agg_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (status → priority → grand
    total), with GROUPING flags distinguishing real NULLs from
    subtotal rows."""
    o = table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total"),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "g_status",
            "g_priority",
            "n_orders",
            "total",
        )
    )


@register(
    "q_agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations via CUBE (flag × status)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_quantity", "sum_qty"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "g_flag",
            "g_status",
            "n_items",
            "sum_qty",
        )
    )


@register(
    "q_agg_groupingsets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def q_agg_groupingsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets: by-status and by-priority in one pass
    (Catalyst Expand — the input is scanned once, not per set)."""
    o = table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"]],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "q_agg_collect",
    oracle="""
    SELECT c_nationkey,
           array_to_string(list_sort(list_distinct(list(c_mktsegment))), '␟')
             AS segments,
           CAST(COUNT(*) AS BIGINT) AS n_cust
    FROM customer
    GROUP BY c_nationkey
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect aggregates — per-group sorted distinct lists.

    Determinism trap (SURVEY.md §7.3): collect_set order is
    partition-dependent, so the list is sorted before it reaches the
    hash.  The sorted list is then ␟-joined to a string: the driver's
    pandas canonicalizer cannot hash array cells (round-1 ERR class).
    Scale note: bounded-cardinality lists only (5 segments);
    unbounded collect_list at 100 TB is an OOM by design and is not
    offered.
    """
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_set("c_mktsegment")), "␟").alias(
            "segments"
        ),
        F.count(F.lit(1)).alias("n_cust"),
    )


# Shared formula text for the deterministic moment statistics:
#   var_samp = (sxx - sx^2/n) / (n-1)
#   corr     = (n*sxy - sx*sy) / (sqrt(n*sxx - sx^2) * sqrt(n*syy - sy^2))
# computed from exact decimal sums cast to double → bit-identical in
# both engines (same IEEE ops on identical inputs).
_STATS_ORACLE = """
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sxy,
             ROUND(median(l_quantity), 4) AS median_qty
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (sxx - sx * sx / n) / (n - 1) AS var_qty,
           sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
           ROUND((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9) AS corr_qty_price,
           median_qty
    FROM s
"""


@register("q_agg_stats", oracle=_STATS_ORACLE)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (variance, stddev, correlation, median)
    via moment sums — deterministic cross-engine (module docstring).

    The exact median is a TypedImperativeAggregate whose partial
    buffers hold every value, so the unsplittable single-row-group
    fixture scan would build the whole buffer on one core —
    ``spread`` fans the partials out (plan no-op on splittable
    layouts; measured 2.27 → 1.30 s at sf0.1)."""
    li = spread(
        table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice"
        ),
        spark,
        sf_dir,
        "lineitem",
    )
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(x, "sx"),
        dsum(x * x, "sxx"),
        dsum(y, "sy"),
        dsum(y * y, "syy"),
        dsum(x * y, "sxy"),
        F.round(F.median("l_quantity"), 4).alias("median_qty"),
    )
    n = F.col("n")
    sx, sxx = F.col("sx"), F.col("sxx")
    sy, syy = F.col("sy"), F.col("syy")
    sxy = F.col("sxy")
    var_qty = (sxx - sx * sx / n) / (n - 1)
    # corr's numerator is a catastrophic cancellation (n·sxy ≈ sx·sy);
    # a 1-ulp FMA difference between engines surfaces there, so round.
    corr = F.round(
        (n * sxy - sx * sy)
        / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
        9,
    )
    return s.select(
        "l_returnflag",
        "n",
        var_qty.alias("var_qty"),
        F.sqrt(var_qty).alias("stddev_qty"),
        corr.alias("corr_qty_price"),
        "median_qty",
    )


@register(
    "q_agg_argmax",
    oracle="""
    SELECT o_orderpriority,
           max_by(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
                              * 10000000 + o_orderkey) AS top_order,
           min_by(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
                              * 10000000 + o_orderkey) AS bottom_order,
           CAST(MAX(o_totalprice) AS DOUBLE) AS top_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin aggregation (``max_by``/``min_by``): per priority
    class, WHICH order has the highest/lowest total price — the
    select-the-row-behind-the-extreme pattern that otherwise costs a
    window + filter pass.

    ``o_totalprice`` has duplicate values (256 tied groups at sf0.1),
    and both engines leave tied-argmax winners unspecified — so the
    ordering value is a composite BIGINT ``round(price·100)·1e7 +
    orderkey``: price in exact cents, orderkey as tiebreak, every
    intermediate < 2^53.  Deterministic argmax, one ordinary hash
    aggregate (partial+final, no window, no second pass).
    """
    o = table(spark, sf_dir, "orders")
    ordv = (
        F.round(F.col("o_totalprice") * 100).cast("bigint")
        * F.lit(10000000)
        + F.col("o_orderkey")
    )
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", ordv).alias("top_order"),
        F.min_by("o_orderkey", ordv).alias("bottom_order"),
        F.max("o_totalprice").cast("double").alias("top_price"),
    )


@register(
    "q_agg_bool",
    oracle="""
    SELECT l_returnflag,
           bool_and(l_quantity >= 1)       AS all_qty_positive,
           bool_or(l_discount > 0.09)      AS any_deep_discount,
           bool_and(l_shipdate >= TIMESTAMP '1992-01-01') AS all_shipped_modern,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (``bool_and``/``bool_or`` a.k.a.
    every/any): per-group invariant checks — the data-quality
    assertion shape a pipeline runs on every ingest batch.

    Short-circuit-friendly algebraic aggregates: partial AND/OR
    map-side, single boolean per group shuffled.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") >= 1).alias("all_qty_positive"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.bool_and(
            F.col("l_shipdate") >= F.lit("1992-01-01").cast("timestamp_ntz")
        ).alias("all_shipped_modern"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register("q_sketch_hll", oracle=None)
def q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog sketches as first-class state (Spark 3.5+
    DataSketches): build one HLL per day over user_id, then MERGE the
    daily sketches into a month total — the pre-aggregation pattern
    that answers "distinct users over any date range" from kilobytes
    of sketch instead of re-scanning 100 TB of raw events.

    Output: per-day approx vs exact distinct counts plus one 'TOTAL'
    row whose approx comes only from the sketch union.  Rows-only
    (sketch estimates are engine-specific); the pytest gate bounds the
    relative error at lgK=12's theoretical ±1.6% (3σ).
    """
    ev = table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    per_day = daily.select(
        F.col("day").cast("string").alias("day"),
        F.hll_sketch_estimate("sk").cast("bigint").alias("approx_users"),
        "exact_users",
    )
    total = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("bigint")
        .alias("approx_users"),
        F.lit(None).cast("bigint").alias("exact_users"),
    ).select(F.lit("TOTAL").alias("day"), "approx_users", "exact_users")
    return per_day.unionByName(total)


@register(
    "q_agg_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
           CAST(MIN(floor(o_totalprice / 50000) * 50000) AS DOUBLE) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM orders
    GROUP BY 1
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (the data-profiling primitive): bucket =
    floor(price / width).  A single hash aggregate over computed
    buckets — fully partial-aggregated map-side, so profiling a
    100 TB column costs one scan + a |buckets|-row shuffle."""
    o = table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000)
    return o.groupBy(bucket.alias("bucket")).agg(
        F.min(F.floor(F.col("o_totalprice") / 50000) * 50000)
        .cast("double")
        .alias("bucket_lo"),
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
    )


@register(
    "q_profile_table",
    oracle="""
    SELECT 'o_custkey' AS col,
           CAST(COUNT(o_custkey) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_custkey) AS DOUBLE) AS min_val,
           CAST(MAX(o_custkey) AS DOUBLE) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(MIN(o_totalprice) AS DOUBLE),
           CAST(MAX(o_totalprice) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_orderkey',
           CAST(COUNT(o_orderkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
           CAST(MIN(o_orderkey) AS DOUBLE),
           CAST(MAX(o_orderkey) AS DOUBLE)
    FROM orders
    """,
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling summary (ANALYZE-style): per-column non-null /
    distinct / min / max in ONE pass over the table — the statistics
    the optimizer's CBO and a data-quality dashboard both need.

    Spark shape: a single wide aggregate computes all columns' stats
    together (one scan), then unpivots to the per-column row layout.
    The exact distincts expand via Catalyst's Expand operator — at
    100 TB swap `countDistinct` for `approx_count_distinct` (the
    q_agg_approx path) to keep it one cheap pass.
    """
    o = table(spark, sf_dir, "orders")
    wide = o.agg(
        F.count("o_custkey").alias("nn_custkey"),
        F.countDistinct("o_custkey").alias("nd_custkey"),
        F.min("o_custkey").cast("double").alias("mn_custkey"),
        F.max("o_custkey").cast("double").alias("mx_custkey"),
        F.count("o_totalprice").alias("nn_totalprice"),
        F.countDistinct("o_totalprice").alias("nd_totalprice"),
        F.min("o_totalprice").cast("double").alias("mn_totalprice"),
        F.max("o_totalprice").cast("double").alias("mx_totalprice"),
        F.count("o_orderkey").alias("nn_orderkey"),
        F.countDistinct("o_orderkey").alias("nd_orderkey"),
        F.min("o_orderkey").cast("double").alias("mn_orderkey"),
        F.max("o_orderkey").cast("double").alias("mx_orderkey"),
    )
    rows = [
        ("o_custkey", "custkey"),
        ("o_totalprice", "totalprice"),
        ("o_orderkey", "orderkey"),
    ]
    stacked = wide.selectExpr(
        "stack({n}, {args}) as (col, n_nonnull, n_distinct, min_val, max_val)".format(
            n=len(rows),
            args=", ".join(
                f"'{name}', nn_{suf}, nd_{suf}, mn_{suf}, mx_{suf}"
                for name, suf in rows
            ),
        )
    )
    return stacked


@register(
    "q_having_in",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           (SUM(CAST(round(l.l_quantity) AS BIGINT)) / 1.0) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(round(l_quantity) AS BIGINT)) > 180
    )
    GROUP BY o.o_orderkey, o.o_custkey, o.o_orderdate
    """,
)
def q_having_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18 shape: orders whose total line quantity exceeds a
    threshold — HAVING on an aggregate feeding an IN-subquery
    (aggregate → filter → semi join back to the fact).

    Spark shape: the HAVING subquery is an aggregate + filter whose
    result semi-joins orders (left_semi — the IN), then the surviving
    orders re-join lineitem for the final per-order totals.  Both
    joins and both aggregates share the orderkey hash partitioning, so
    AQE collapses the exchanges; the HAVING filter shrinks the semi
    side to a broadcast-able survivor set at any scale where the
    threshold is selective.
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    qty_u = units("l_quantity", 1)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty_u).alias("q"))
        .filter(F.col("q") > 180)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_custkey", "o_orderdate")
        .agg(lsum(qty_u, 1, "total_qty"))
    )


@register("q_agg_approx_quantile", oracle=None)
def q_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch) next to the
    exact answers: p50/p95/p99 of order totals per priority class.

    Rows-only (sketch results are engine-specific); the pytest gate
    bounds |approx − exact| by the sketch's rank-error guarantee.
    Scale: the GK sketch is O(1/ε · log εN) state per group vs a full
    sort for exact percentiles — the only viable path at 100 TB, same
    pattern as q_agg_approx / q_sketch_hll.
    """
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile_approx(
            "o_totalprice", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), 1000
        ).alias("approx_pcts"),
        F.percentile(
            "o_totalprice", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))
        ).alias("exact_pcts"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "q_agg_bitmap",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting via bitmap aggregation (Spark 3.5+
    ``bitmap_construct_agg``/``bitmap_or_agg``): each 32k-key bucket
    becomes one fixed-size bitmap, partials OR together — a mergeable,
    re-aggregatable exact-distinct state (the exact-answer sibling of
    q_sketch_hll's approximate sketches).

    Two-level plan: per (group, bucket) construct bitmaps from the
    key's low bits, then OR the buckets and sum popcounts per group.
    The shuffle carries |groups| × |buckets| fixed 4 KB bitmaps, not
    per-row keys — at 100 TB that is the difference between shuffling
    1e12 keys and a few MB of bitmap state.  The oracle is the plain
    COUNT(DISTINCT): the bitmap pipeline must reproduce it exactly.
    """
    o = table(spark, sf_dir, "orders")
    bucketed = o.select(
        "o_orderpriority",
        F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
        F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
    )
    per_bucket = bucketed.groupBy("o_orderpriority", "bucket").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm")
    )
    return per_bucket.groupBy("o_orderpriority").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_cust")
    )


@register(
    "q_agg_mode",
    oracle="""
    SELECT c_mktsegment, o_orderpriority AS mode_priority, n FROM (
      SELECT c.c_mktsegment, o.o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             row_number() OVER (
               PARTITION BY c.c_mktsegment
               ORDER BY COUNT(*) DESC, o.o_orderpriority
             ) AS rn
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ) WHERE rn = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE (most frequent value) per group: the top
    order priority per market segment, ties broken by priority text —
    the categorical summary statistic SQL's nondeterministic mode()
    can't give a stable hash for.

    Count-then-rank: the (segment, priority) counts are a tiny
    |groups|×|values| frame after map-side partial aggregation, so
    the ranking window is negligible whatever the fact-table size.
    The customer dimension broadcasts into the fact scan.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    from pyspark.sql import Window as W

    counts = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("n").desc(), "o_orderpriority"
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("mode_priority"),
            "n",
        )
    )


@register(
    "q_feature_binning",
    oracle="""
    WITH th AS (
      SELECT quantile_cont(o_totalprice,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS th
      FROM orders
    )
    SELECT 1 + len(list_filter(th.th, t -> o.o_totalprice >= t)) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders o CROSS JOIN th
    GROUP BY 1
    """,
)
def q_feature_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile feature binning by exact global percentiles — the
    discretization stage of feature engineering, and the documented
    scale substitute for a global ntile (q_customer_rfm): compute the
    9 thresholds once (one aggregate), broadcast them, and bucket
    each row with a scan-local fold — no global sort, no
    single-partition window.

    Threshold robustness: both engines sort exactly and interpolate
    between the same neighboring data values, and a data point can
    only tie a threshold when the percentile lands exactly on it
    (where both interpolation formulas return that value bit-exactly),
    so the ≥-comparisons agree.  Bucket populations are ±1-row equal
    by construction, unlike fixed-width bins on skewed money columns.
    """
    o = table(spark, sf_dir, "orders")
    th = o.agg(
        F.percentile(
            "o_totalprice",
            F.array(*[F.lit(i / 10) for i in range(1, 10)]),
        ).alias("th")
    )
    bucket = F.lit(1) + F.aggregate(
        "th",
        F.lit(0),
        lambda acc, t: acc
        + F.when(F.col("o_totalprice") >= t, 1).otherwise(0),
    )
    return (
        o.crossJoin(F.broadcast(th))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@register(
    "q_agg_countif_median",
    oracle="""
    SELECT l_returnflag,
           CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
           median(l_quantity) AS median_qty,
           any_value(l_linestatus ORDER BY l_linestatus) AS a_status
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_countif_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern-SQL aggregate surface: ``count_if``, exact ``median``,
    and a DETERMINISTIC ``any_value`` (pinned to the ordered minimum —
    plain any_value is free to return whatever partial arrives first,
    which can never hash-match across engines).

    median = quantile_cont(0.5): both engines sort exactly and
    interpolate the same two middle values, so the doubles agree
    bit-for-bit (same argument as q_feature_binning).  count_if is
    sugar for SUM(CASE...) — partial-aggregatable, no extra pass.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.median("l_quantity").alias("median_qty"),
        F.min("l_linestatus").alias("a_status"),
    )


@register(
    "q_agg_listagg",
    oracle="""
    WITH cn AS (
      SELECT DISTINCT n.n_name, c.c_mktsegment
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT n_name,
           string_agg(c_mktsegment, '|' ORDER BY c_mktsegment)
             AS segments,
           CAST(COUNT(*) AS BIGINT) AS n_segments
    FROM cn GROUP BY n_name
    """,
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg) — the report
    primitive for 'all distinct values, concatenated'.

    ``collect_list`` is partial-order nondeterministic, so the list is
    sorted before joining: ``array_join(array_sort(collect_list(x)))``
    is the deterministic Spark spelling of DuckDB's
    ``string_agg(x ORDER BY x)``.  Dedup happens pre-aggregation
    (DISTINCT pair projection), keeping per-group state bounded by
    domain cardinality, not row count — safe when a nation has 1e9
    customers but only 5 segments.
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    cn = (
        c.join(
            F.broadcast(n), c.c_nationkey == n.n_nationkey
        )
        .select("n_name", "c_mktsegment")
        .distinct()
    )
    return cn.groupBy("n_name").agg(
        F.array_join(
            F.array_sort(F.collect_list("c_mktsegment")), "|"
        ).alias("segments"),
        F.count("*").alias("n_segments"),
    )


@register(
    "q_agg_grouping_id",
    oracle="""
    SELECT CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT)
             AS gid,
           CASE WHEN GROUPING(o_orderstatus) = 0
                THEN o_orderstatus END AS status,
           CASE WHEN GROUPING(o_orderpriority) = 0
                THEN o_orderpriority END AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0
             AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with ``grouping_id``/``grouping`` disambiguation: the
    subtotal lattice where a NULL cell means "rolled up", proven by
    the grouping bits rather than guessed from NULL-ness — required
    the moment real data can itself contain NULLs.

    Spark expands CUBE into one aggregate over 4 grouping-set
    replicas (Expand operator) with partial aggregation below the
    shuffle — 4× map-side rows, still one exchange.  Revenue sums
    exact cents; the projected status/priority are masked through the
    grouping bits so both engines emit identical subtotal rows.
    """
    o = table(spark, sf_dir, "orders")
    gid = F.grouping_id("o_orderstatus", "o_orderpriority")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            (
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                )
                / 100.0
            ).alias("revenue"),
            gid.cast("bigint").alias("gid"),
            F.grouping("o_orderstatus").alias("g_status"),
            F.grouping("o_orderpriority").alias("g_priority"),
        )
        .select(
            "gid",
            F.when(F.col("g_status") == 0, F.col("o_orderstatus")).alias(
                "status"
            ),
            F.when(
                F.col("g_priority") == 0, F.col("o_orderpriority")
            ).alias("priority"),
            "n_orders",
            "revenue",
        )
    )


@register(
    "q_agg_weighted",
    oracle="""
    WITH x AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS w,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                        l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS totw
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(SUM(cents * w) AS DOUBLE) / SUM(w) / 100.0
             AS weighted_mean,
           MIN(CASE WHEN 2 * cumw >= totw THEN cents END) / 100.0
             AS weighted_median
    FROM x GROUP BY l_returnflag
    """,
)
def q_agg_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted mean and median price per return flag — the
    unit-economics statistics where every line counts as many units,
    not once (plain avg/median over-weights small orders).

    Weighted mean is one exact integer aggregate (Σ cents·qty /
    Σ qty — same scaled-long discipline as the flagship).  Weighted
    median is the smallest price whose running weight reaches half
    the total — a per-group ordered window with a unique
    (cents, orderkey, linenumber) sort key so both engines walk one
    deterministic order.  The demo sorts full groups; at extreme
    scale the same cut comes from the histogram/quantile-bucket
    two-pass (q_feature_binning's machinery) without a global sort.
    """
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    wcol = F.col("l_quantity").cast("bigint")
    x = li.select(
        "l_returnflag",
        cents.alias("cents"),
        wcol.alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    run = (
        W.partitionBy("l_returnflag")
        .orderBy("cents", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    tot = W.partitionBy("l_returnflag")
    x = x.select(
        "l_returnflag",
        "cents",
        "w",
        F.sum("w").over(run).alias("cumw"),
        F.sum("w").over(tot).alias("totw"),
    )
    return x.groupBy("l_returnflag").agg(
        (
            F.sum(F.col("cents") * F.col("w")).cast("double")
            / F.sum("w")
            / 100.0
        ).alias("weighted_mean"),
        (
            F.min(
                F.when(2 * F.col("cumw") >= F.col("totw"), F.col("cents"))
            )
            / 100.0
        ).alias("weighted_median"),
    )


@register(
    "q_agg_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s1,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s2,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s3,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s4
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND(s1 / n, 6) AS mean_qty,
           ROUND((s3 / n - 3 * (s1 / n) * (s2 / n)
                  + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 6)
             AS skewness,
           ROUND((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                 / pow(s2 / n - (s1 / n) * (s1 / n), 2.0) - 3, 6)
             AS excess_kurtosis
    FROM s
    """,
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis from exact integer
    power sums — the distribution-shape monitors a feature-drift
    detector tracks beyond mean/variance (native ``skewness``/
    ``kurtosis`` accumulate doubles in engine-specific orders and can
    never hash-match; the moment-sum route is also one partial-
    aggregatable pass, the only viable shape at 100 TB).

    Quantities are small integers, so Σx⁴ stays ~1e12·rows — far
    inside BIGINT.  The closed forms are written token-identically in
    both engines: same operands, same IEEE order, same doubles.
    """
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("s1"),
        F.sum(x * x).cast("double").alias("s2"),
        F.sum(x * x * x).cast("double").alias("s3"),
        F.sum(x * x * x * x).cast("double").alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1") / n
    m2 = F.col("s2") / n
    m3 = F.col("s3") / n
    m4 = F.col("s4") / n
    var = m2 - m1 * m1
    return s.select(
        "l_returnflag",
        F.round(m1, 6).alias("mean_qty"),
        F.round(
            (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(var, 1.5), 6
        ).alias("skewness"),
        F.round(
            (m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1)
            / F.pow(var, 2.0)
            - 3,
            6,
        ).alias("excess_kurtosis"),
    )


@register(
    "q_agg_cond_distinct",
    oracle="""
    SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
           CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                    THEN user_id END) AS BIGINT)
             AS purchasers,
           CAST(COUNT(DISTINCT CASE WHEN event_type = 'view'
                                    THEN user_id END) AS BIGINT)
             AS viewers,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS actives
    FROM events GROUP BY 1
    """,
)
def q_agg_cond_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional exact distincts — monthly purchasers, viewers, and
    actives from ONE aggregation (COUNT(DISTINCT CASE…)) instead of
    three filtered jobs, the everyday audience-overlap rollup.

    Spark plans multiple distinct aggregates via a single Expand (one
    replica per distinct spec) + two-phase exact distinct — 3× map
    rows for two scans saved, same trade as q_agg_multigrain and the
    right one while the scan dominates.  Months are compared as
    DATEs (trunc-type portability).
    """
    ev = table(spark, sf_dir, "events")
    who = lambda t: F.countDistinct(
        F.when(F.col("event_type") == t, F.col("user_id"))
    )
    return ev.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("month")
    ).agg(
        who("purchase").alias("purchasers"),
        who("view").alias("viewers"),
        F.countDistinct("user_id").alias("actives"),
    )


@register(
    "q_bitmap_overlap",
    oracle="""
    WITH a AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase'
        AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01'
                                 AND DATE '2024-01-07'
    ),
    b AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase'
        AND CAST(ts AS DATE) BETWEEN DATE '2024-01-08'
                                 AND DATE '2024-01-14'
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_week1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_week2,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM (SELECT user_id FROM a UNION
                  SELECT user_id FROM b)) AS n_union,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM a JOIN b ON a.user_id = b.user_id) AS n_overlap
    """,
)
def q_bitmap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap via mergeable exact bitmaps: week-1 vs week-2
    purchasers, with the union computed by OR-ing the per-week
    bitmaps (``bitmap_or_agg``) and the overlap by inclusion-
    exclusion — no re-scan, no distinct-join.  This is why bitmap
    state beats raw COUNT(DISTINCT) at scale: any segment
    combination (union, overlap, added/lost) is bitmap algebra over
    a few KB per bucket, computed WITHOUT touching the fact table
    again.

    The oracle derives the same four numbers relationally (distinct
    sets + join), proving the bitmap algebra exact.
    """
    ev = table(spark, sf_dir, "events")

    def wk(lo: str, hi: str, tag: int):
        return (
            ev.filter(
                (F.col("event_type") == "purchase")
                & F.col("ts").cast("date").between(lo, hi)
            )
            .select(
                F.lit(tag).alias("wk"),
                F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
                F.expr("bitmap_bit_position(user_id)").alias("pos"),
            )
        )

    w1 = wk("2024-01-01", "2024-01-07", 1)
    w2 = wk("2024-01-08", "2024-01-14", 2)
    both = w1.unionByName(w2)
    per_bucket = both.groupBy("wk", "bucket").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm")
    )
    counts = per_bucket.groupBy("wk").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n")
    )
    union_bm = per_bucket.groupBy("bucket").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    n_union = union_bm.agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_union")
    )
    pick = lambda k: F.max(F.when(F.col("wk") == k, F.col("n")))
    wide = counts.agg(
        pick(1).alias("n_week1"), pick(2).alias("n_week2")
    )
    return wide.crossJoin(F.broadcast(n_union)).select(
        "n_week1",
        "n_week2",
        "n_union",
        (
            F.col("n_week1") + F.col("n_week2") - F.col("n_union")
        ).alias("n_overlap"),
    )


@register(
    "q_agg_percentile_disc",
    oracle="""
    WITH x AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
      FROM lineitem
    ),
    r AS (
      SELECT l_returnflag, c,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY c)
               AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM x
    )
    SELECT l_returnflag,
           MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                    THEN c END) / 100.0 AS p50_disc,
           MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                    THEN c END) / 100.0 AS p90_disc
    FROM r GROUP BY l_returnflag
    """,
)
def q_agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (the value AT rank ⌈p·n⌉, never an
    interpolated phantom) — required when the percentile must be an
    actual observed value (a real order to sample, a real latency to
    inspect), complementing the continuous `percentile`/
    `quantile_cont` parity used elsewhere.

    Both engines spell the SAME selection rule explicitly
    (row_number over the value order, pick rank ⌈p·n⌉), sidestepping
    their differing native quantile_disc conventions — ties in the
    value don't matter because the selected VALUE at any rank within
    a tie run is identical.  One sort per group; at scale the
    binning two-pass replaces the full sort as usual.
    """
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    x = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
    )
    r = x.select(
        "l_returnflag",
        "c",
        F.row_number()
        .over(W.partitionBy("l_returnflag").orderBy("c"))
        .alias("rn"),
        F.count("*").over(W.partitionBy("l_returnflag")).alias("n"),
    )
    at = lambda p: F.max(
        F.when(
            F.col("rn")
            == F.ceil(F.lit(p) * F.col("n")).cast("bigint"),
            F.col("c"),
        )
    )
    return r.groupBy("l_returnflag").agg(
        (at(0.5) / 100.0).alias("p50_disc"),
        (at(0.9) / 100.0).alias("p90_disc"),
    )


@register(
    "q_agg_ratio_metrics",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
               AS gross_c,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                            * 10000) AS BIGINT)) AS net_u
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(n_items) AS DOUBLE) / COUNT(*), 6)
             AS items_per_order,
           ROUND(CAST(SUM(gross_c) AS DOUBLE) / COUNT(*) / 100.0, 6)
             AS aov_gross,
           ROUND(1 - CAST(SUM(net_u) AS DOUBLE)
                     / (CAST(SUM(gross_c) AS DOUBLE) * 100), 6)
             AS discount_depth
    FROM per_order
    """,
)
def q_agg_ratio_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The everyday unit-economics scorecard in one pass: order
    count, items per order, gross AOV, and realized discount depth
    (1 − net/gross) — ratio-of-sums metrics, never sum-of-ratios
    (a per-order discount average would over-weight small orders;
    the scorecard divides corpus-level exact totals once).

    Two-level aggregation (order rollup → global), both partial-
    aggregated; every numerator/denominator is an exact scaled-long
    (cents for gross, 1e-4 units for the discounted product), so
    the four doubles are engine-identical before the display round.
    """
    li = table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_items"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
        ).alias("gross_c"),
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                * 10000
            ).cast("bigint")
        ).alias("net_u"),
    )
    return per_order.agg(
        F.count("*").alias("n_orders"),
        F.round(
            F.sum("n_items").cast("double") / F.count("*"), 6
        ).alias("items_per_order"),
        F.round(
            F.sum("gross_c").cast("double") / F.count("*") / 100.0, 6
        ).alias("aov_gross"),
        F.round(
            1
            - F.sum("net_u").cast("double")
            / (F.sum("gross_c").cast("double") * 100),
            6,
        ).alias("discount_depth"),
    )


@register(
    "q_feature_winsorize",
    oracle="""
    WITH pct AS (
      SELECT ROUND(quantile_cont(c_acctbal, 0.05), 2) AS lo,
             ROUND(quantile_cont(c_acctbal, 0.95), 2) AS hi
      FROM customer
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN c_acctbal < lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_low,
           CAST(SUM(CASE WHEN c_acctbal > hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_high,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(27, 6)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_raw,
           ROUND(CAST(SUM(CAST(GREATEST(lo, LEAST(hi, c_acctbal))
                               AS DECIMAL(27, 6)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_winsorized
    FROM customer CROSS JOIN pct
    GROUP BY c_mktsegment
    """,
)
def q_feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization feature-prep: clip account balances to the exact
    [p05, p95] band and report, per market segment, how many rows
    each tail clipped and the raw-vs-winsorized mean shift — the
    outlier treatment a modeling pipeline applies before scaling
    (q_feature_scale) so one whale doesn't own the feature range.

    The thresholds use the exact-percentile parity (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``, both linear) rounded
    to 2 dp so every clipped value is an exact 2-dp money value and
    the means run on the decimal path.  One pass computes both
    percentiles; the 2-row threshold frame broadcasts to the
    clipping scan — no second shuffle of the fact table.
    """
    c = table(spark, sf_dir, "customer")
    pct = c.agg(
        F.round(F.expr("percentile(c_acctbal, 0.05)"), 2).alias("lo"),
        F.round(F.expr("percentile(c_acctbal, 0.95)"), 2).alias("hi"),
    )
    clipped = F.greatest(
        F.col("lo"), F.least(F.col("hi"), F.col("c_acctbal"))
    )
    return (
        c.crossJoin(F.broadcast(pct))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum((F.col("c_acctbal") < F.col("lo")).cast("int"))
            .cast("bigint")
            .alias("n_clipped_low"),
            F.sum((F.col("c_acctbal") > F.col("hi")).cast("int"))
            .cast("bigint")
            .alias("n_clipped_high"),
            F.round(
                F.sum(F.col("c_acctbal").cast(DEC)).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_raw"),
            F.round(
                F.sum(clipped.cast(DEC)).cast("double") / F.count("*"),
                6,
            ).alias("mean_winsorized"),
        )
    )


@register(
    "q_feature_target_encode",
    oracle="""
    WITH j AS (
      SELECT l.l_orderkey, l.l_linenumber, p.p_brand,
             CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    g AS (
      SELECT p_brand, SUM(cents) AS tot,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM j GROUP BY p_brand
    )
    SELECT j.l_orderkey, j.l_linenumber, j.p_brand,
           ROUND(CAST(j.cents AS DOUBLE) / 100.0, 2) AS price,
           CASE WHEN g.n > 1 THEN
             ROUND(CAST(g.tot - j.cents AS DOUBLE)
                   / (g.n - 1) / 100.0, 6)
           END AS loo_brand_mean
    FROM j JOIN g ON j.p_brand = g.p_brand
    ORDER BY j.l_orderkey, j.l_linenumber
    LIMIT 25
    """,
)
def q_feature_target_encode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-one-out target encoding of part brand by line price:
    enc(i) = (Σ_brand − xᵢ)/(n_brand − 1) — the leakage-safe
    categorical encoding (each row's own target is excluded from its
    encoding, so the feature never memorizes the label it predicts).

    Exact integer cents make the LOO subtraction exact; the single
    division per row is the only float op.  The per-brand totals
    frame is |brands| rows — broadcast back to the fact scan, so the
    encode costs one shuffle (the brand aggregation) plus the
    dimension join, which AQE turns into a broadcast at any scale.
    The n>1 guard keeps ANSI division safe for singleton categories.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(
        F.broadcast(p), li.l_partkey == p.p_partkey
    ).select("l_orderkey", "l_linenumber", "p_brand", "cents")
    g = j.groupBy("p_brand").agg(
        F.sum("cents").alias("tot"),
        F.count("*").cast("bigint").alias("n"),
    )
    return (
        j.join(F.broadcast(g), "p_brand")
        .select(
            "l_orderkey",
            "l_linenumber",
            "p_brand",
            F.round(F.col("cents").cast("double") / 100.0, 2).alias(
                "price"
            ),
            F.when(
                F.col("n") > 1,
                F.round(
                    (F.col("tot") - F.col("cents")).cast("double")
                    / (F.col("n") - 1)
                    / 100.0,
                    6,
                ),
            ).alias("loo_brand_mean"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(25)
    )


@register(
    "q_agg_median_scalable",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6)
             AS median_price
    FROM lineitem
    """,
)
def q_agg_median_scalable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT median without a global sort — the value-counts
    formulation that scales where single-node ``percentile`` cannot:
    group the fact table by value (map-side combinable), take a
    cumulative count over the (small) distinct-value frame, and read
    off the value(s) straddling position n/2, interpolating the even
    case.  The oracle is DuckDB's ``quantile_cont(0.5)``, proving
    the composition IS the textbook median.

    The fact table is touched once by a hash aggregation; the window
    runs over |distinct prices| rows.  This is the pattern to reach
    for when q_agg_approx_quantile's error bounds aren't acceptable
    and the value domain is materially smaller than the row count —
    true for prices, ages, durations, scores at any scale.
    """
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    vc = li.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.count("*").alias("c")
    )
    wc = W.orderBy("v")
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    o = vc.select(
        "v",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    p1 = F.floor((F.col("n") + 1) / 2.0).cast("bigint")
    p2 = F.floor(F.col("n") / 2.0).cast("bigint") + 1
    return o.agg(
        F.max("n").cast("bigint").alias("n"),
        F.round(
            (
                F.min(F.when(F.col("cum") >= p1, F.col("v")))
                + F.min(F.when(F.col("cum") >= p2, F.col("v")))
            )
            / 2.0,
            6,
        ).alias("median_price"),
    )


@register(
    "q_agg_multiquantile",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(c_acctbal, [0.25, 0.5, 0.75])[1], 6) AS p25,
           ROUND(quantile_cont(c_acctbal, [0.25, 0.5, 0.75])[2], 6) AS p50,
           ROUND(quantile_cont(c_acctbal, [0.25, 0.5, 0.75])[3], 6) AS p75
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_agg_multiquantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass exact multi-quantile per segment: p25/p50/p75 from a
    single ``percentile(col, array(...))`` aggregation — the grouped
    box-plot statistic, computed without three separate percentile
    passes (the array is computed once and unpacked to scalar
    columns; array-typed outputs are banned by the driver's pandas
    canonicalizer, round-1 ERR class).

    Spark's ``percentile(col, array(...))`` and DuckDB's
    ``quantile_cont(col, [...])`` share the linear-interpolation
    definition (the established exact-percentile parity), rounded
    at 6 dp.  Exact percentile sorts within each (small) group
    partition; for groups that outgrow an executor the scalable path
    is the value-counts median formulation (q_agg_median_scalable)
    applied per quantile.
    """
    c = table(spark, sf_dir, "customer")
    q = F.expr("percentile(c_acctbal, array(0.25D, 0.5D, 0.75D))")
    agg = c.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n"),
        q.alias("_q"),
    )
    return agg.select(
        "c_mktsegment",
        "n",
        F.round(F.col("_q")[0], 6).alias("p25"),
        F.round(F.col("_q")[1], 6).alias("p50"),
        F.round(F.col("_q")[2], 6).alias("p75"),
    )


@register(
    "q_agg_hist2d",
    oracle="""
    SELECT CAST(FLOOR(l_quantity / 10.0) AS INT) AS qty_bin,
           CAST(FLOOR(ROUND(l_discount * 100) / 2.0) AS INT)
             AS disc_bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                AS DOUBLE) / 100.0 AS revenue
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def q_agg_hist2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram (heatmap): quantity-decile × discount band cells
    with counts and exact revenue per cell — the joint-distribution
    readout behind pricing heatmaps and the binned co-occurrence
    grid a feature-analysis notebook renders first.

    Bin edges are exact arithmetic on the raw values, with FLOOR
    spelled out everywhere — DuckDB's double→INT cast rounds to
    nearest where Spark's truncates, the kind of silent semantic
    skew only the value-hash catches — so cell membership is
    identical in both engines — no percentile-based
    edges needed for fixed business bins.  One map-side-combinable
    aggregation; cells are bounded (6×6) regardless of row count.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.floor(F.col("l_quantity") / 10.0).cast("int").alias(
            "qty_bin"
        ),
        F.floor(F.round(F.col("l_discount") * 100) / 2.0)
        .cast("int")
        .alias("disc_bin"),
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        (
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).cast("double")
            / 100.0
        ).alias("revenue"),
    )


@register(
    "q_agg_approx_topk",
    oracle="""
    SELECT p.p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    """,
)
def q_agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via Spark 4's ``approx_top_k`` sketch: brands
    ranked by line-item volume after a broadcast part join — the
    single-pass mergeable-state top-k path (each partition keeps a
    bounded candidate map, partial states merge associatively) that
    replaces sort-the-world at 100 TB.

    Parity trick: with ``maxItemsTracked`` (1024) above the true
    brand cardinality (25) the sketch is EXACT, so the driver
    value-hashes real counts against the plain GROUP BY oracle — the
    same capacity≥cardinality gate q_sketch_* use.  The array<struct>
    sketch output is exploded back to scalar rows (driver canon bans
    nested columns); ties need no ordering because k covers every
    item.
    """
    li = table(spark, sf_dir, "lineitem").select("l_partkey")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = li.join(
        F.broadcast(p), li.l_partkey == p.p_partkey
    ).select("p_brand")
    sk = joined.agg(
        F.expr("approx_top_k(p_brand, 100, 1024)").alias("tk")
    )
    return sk.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("brand"),
        F.col("e.count").cast("bigint").alias("n_items"),
    )


@register(
    "q_agg_crosstab",
    oracle="""
    SELECT l_returnflag AS l_returnflag_l_linestatus,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS F,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS O
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table via ``df.stat.crosstab`` — the
    DataFrameStatFunctions surface (pair-count pivot in one pass,
    column per distinct right-hand value).  Under the hood it is a
    count-pivot: one shuffle on the pair key, then a local pivot —
    same cost envelope as GROUP BY both keys.  The oracle spells the
    pivot as conditional counts with identical column names, so the
    dynamic column generation (value → column label) is itself
    hash-checked.
    """
    li = table(spark, sf_dir, "lineitem")
    ct = li.stat.crosstab("l_returnflag", "l_linestatus")
    return ct.select(
        "l_returnflag_l_linestatus",
        F.col("F").cast("bigint").alias("F"),
        F.col("O").cast("bigint").alias("O"),
    )
