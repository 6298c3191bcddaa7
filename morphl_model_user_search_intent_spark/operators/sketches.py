"""Mergeable cardinality sketches with EXACT cross-engine oracles
(SURVEY.md §2.11 scale path): theta-sketch set operations and a
portable HyperLogLog.

Existing sketch exhibits: Count-Min / Bloom / KMV bottom-k live in
text/analysis.py; q_sketch_hll there is Spark's native
approx_count_distinct (rows-only — HLL++ internals aren't portable).
This module adds the two missing sketch capabilities a 100 TB
warehouse leans on daily:

* q_sketch_theta — set algebra ON SKETCHES (|A∪B|, |A∩B| without ever
  materializing either set): the audience-overlap primitive.
* q_sketch_hllpp — a from-scratch HLL whose registers are built from
  the same portable md5-derived 32-bit hashes as the other sketches,
  so the whole sketch — registers, harmonic sum, estimate — is
  bit-reproducible in DuckDB and oracle-checked, unlike any native
  approx function.

Both shuffle O(k)/O(m) state per partition regardless of input size —
the defining property that makes them the 100 TB path where exact
DISTINCT is a full shuffle of every key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from ..registry import register
from ..text.analysis import _H32, h32

# ---------------------------------------------------------------- theta

_K = 128  # sketch size (nominal entries retained)

# Two overlapping "user-day activity" sets: A = days 0–19, B = days
# 9–29 — real overlap (days 9–19) without being identical.

# Portable day index: events span 2024-01-01..01-30; day 0 = Jan 1.
# floor(epoch_micros / 86400e6) − 19723 avoids engine-specific
# day()/timezone functions entirely.
_EPOCH_DAY_SQL = "CAST(FLOOR(CAST(epoch_us(ts) AS DOUBLE) / 86400000000) AS BIGINT) - 19723"


def _theta_half_sql(pred: str) -> str:
    """DuckDB CTE body: bottom-k hash sketch of user-day keys matching
    ``pred``."""
    return f"""
      SELECT h, ROW_NUMBER() OVER (ORDER BY h, s) AS rn
      FROM (
        SELECT DISTINCT s, {_H32.format(x='s')} AS h
        FROM (
          SELECT user_id || ':' || CAST({_EPOCH_DAY_SQL} AS VARCHAR) AS s
          FROM events
          WHERE ({_EPOCH_DAY_SQL}) {pred}
        )
      )
    """


@register(
    "q_sketch_theta",
    oracle=f"""
    WITH sa AS (SELECT h FROM ({_theta_half_sql('<= 19')}) WHERE rn <= {_K}),
    sb AS (SELECT h FROM ({_theta_half_sql('>= 9')}) WHERE rn <= {_K}),
    tha AS (SELECT CASE WHEN COUNT(*) < {_K} THEN 1.0
                        ELSE MAX(h) / 4294967296.0 END AS th FROM sa),
    thb AS (SELECT CASE WHEN COUNT(*) < {_K} THEN 1.0
                        ELSE MAX(h) / 4294967296.0 END AS th FROM sb),
    th AS (SELECT LEAST(tha.th, thb.th) AS theta FROM tha, thb),
    uni AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_u FROM (
        SELECT h FROM sa UNION SELECT h FROM sb
      ) u, th WHERE u.h / 4294967296.0 < th.theta
    ),
    inter AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_i FROM (
        SELECT h FROM sa INTERSECT SELECT h FROM sb
      ) i, th WHERE i.h / 4294967296.0 < th.theta
    ),
    ex AS (
      SELECT
        CAST(COUNT(DISTINCT CASE WHEN ({_EPOCH_DAY_SQL}) <= 19
             THEN user_id || ':' || CAST({_EPOCH_DAY_SQL} AS VARCHAR)
             END) AS BIGINT) AS exact_a,
        CAST(COUNT(DISTINCT CASE WHEN ({_EPOCH_DAY_SQL}) >= 9
             THEN user_id || ':' || CAST({_EPOCH_DAY_SQL} AS VARCHAR)
             END) AS BIGINT) AS exact_b,
        CAST(COUNT(DISTINCT user_id || ':'
             || CAST({_EPOCH_DAY_SQL} AS VARCHAR)) AS BIGINT)
          AS exact_union
      FROM events
    )
    SELECT CAST({_K} AS BIGINT) AS k,
           ROUND(uni.n_u / th.theta, 2) AS est_union,
           ROUND(inter.n_i / th.theta, 2) AS est_intersection,
           ex.exact_a, ex.exact_b, ex.exact_union,
           CAST(ex.exact_a + ex.exact_b - ex.exact_union AS BIGINT)
             AS exact_intersection,
           ROUND((uni.n_u / th.theta - ex.exact_union)
                 / ex.exact_union, 4) AS union_rel_err
    FROM th, uni, inter, ex
    """,
)
def q_sketch_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra: estimate |A∪B| and |A∩B| of two
    user-day activity sets from their bottom-k hash sketches alone —
    union = merge sketches below θ = min(θ_A, θ_B), intersection =
    shared hashes below θ, estimate = retained/θ (Dasgupta et al.,
    the Apache DataSketches theta model).

    Each sketch is k order statistics of the same portable md5-derived
    32-bit hash used by every sketch in this engine, so union,
    intersection, θ and the estimates are EXACTLY reproducible in SQL
    — this is the only fully oracle-checked sketch-intersection
    exhibit; native HLLs can only union.  At 100 TB each partition
    keeps its bottom-k (WindowGroupLimit bounds the sort), the merge
    shuffles k rows per partition, and set algebra on sketches replaces
    a full-corpus distinct-pair shuffle.
    """
    e = table(spark, sf_dir, "events")
    eday = (
        F.floor(
            F.unix_micros(F.col("ts")).cast("double") / 86400000000
        ).cast("bigint")
        - 19723
    )
    keyed = e.select(
        eday.alias("d"),
        F.concat_ws(
            ":", F.col("user_id"), eday.cast("string")
        ).alias("s"),
    )

    from pyspark.sql import Window as W

    def sketch(pred):
        ids = keyed.filter(pred).select("s").distinct()
        hashed = ids.select(
            "s", F.expr(h32("s")).alias("h")
        )
        return hashed.select(
            "h",
            F.row_number().over(W.orderBy("h", "s")).alias("rn"),
        ).filter(F.col("rn") <= _K)

    sa = sketch(F.col("d") <= 19).select("h")
    sb = sketch(F.col("d") >= 9).select("h")

    def theta(sk):
        return sk.agg(
            F.when(F.count("*") < _K, F.lit(1.0))
            .otherwise(F.max("h") / F.lit(4294967296.0))
            .alias("th")
        )

    th = (
        theta(sa)
        .crossJoin(theta(sb).toDF("th_b"))
        .select(F.least("th", "th_b").alias("theta"))
    )
    uni = (
        sa.union(sb)
        .distinct()
        .crossJoin(F.broadcast(th))
        .filter(F.col("h") / 4294967296.0 < F.col("theta"))
        .agg(F.count("*").cast("bigint").alias("n_u"))
    )
    inter = (
        sa.intersect(sb)
        .crossJoin(F.broadcast(th))
        .filter(F.col("h") / 4294967296.0 < F.col("theta"))
        .agg(F.count("*").cast("bigint").alias("n_i"))
    )
    key_all = F.concat_ws(
        ":", F.col("user_id"), eday.cast("string")
    )
    ex = e.agg(
        F.countDistinct(
            F.when(eday <= 19, key_all)
        ).cast("bigint").alias("exact_a"),
        F.countDistinct(
            F.when(eday >= 9, key_all)
        ).cast("bigint").alias("exact_b"),
        F.countDistinct(key_all).cast("bigint").alias("exact_union"),
    )
    return (
        th.crossJoin(uni)
        .crossJoin(inter)
        .crossJoin(ex)
        .select(
            F.lit(_K).cast("bigint").alias("k"),
            F.round(F.col("n_u") / F.col("theta"), 2).alias("est_union"),
            F.round(F.col("n_i") / F.col("theta"), 2).alias(
                "est_intersection"
            ),
            "exact_a",
            "exact_b",
            "exact_union",
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_union"))
            .cast("bigint")
            .alias("exact_intersection"),
            F.round(
                (F.col("n_u") / F.col("theta") - F.col("exact_union"))
                / F.col("exact_union"),
                4,
            ).alias("union_rel_err"),
        )
    )


# ---------------------------------------------------------------- HLL

_P = 8  # precision bits
_M = 1 << _P  # 256 registers
# alpha_m for m=256 (Flajolet et al. 2007) — identical literal on both
# engines so the estimate arithmetic matches bit-for-bit.
_ALPHA = 0.7213 / (1 + 1.079 / _M)

# First-set-bit position of the 24-bit remainder as a branch chain —
# portable across engines, no floating log2 boundary risk.
_RHO = (
    "CASE "
    + " ".join(
        f"WHEN rem >= {1 << (23 - i)} THEN {i + 1}" for i in range(24)
    )
    + " ELSE 25 END"
)


@register(
    "q_sketch_hllpp",
    oracle=f"""
    WITH ids AS (
      SELECT DISTINCT user_id || ':'
             || CAST({_EPOCH_DAY_SQL} AS VARCHAR) AS s
      FROM events
    ),
    hashed AS (SELECT s, {_H32.format(x='s')} AS h FROM ids),
    parts AS (
      SELECT CAST(FLOOR(h / 16777216.0) AS BIGINT) AS bucket,
             CAST(h % 16777216 AS BIGINT) AS rem
      FROM hashed
    ),
    regs AS (
      SELECT bucket, MAX({_RHO}) AS r
      FROM parts GROUP BY bucket
    ),
    summ AS (
      SELECT SUM(POWER(2.0, -r)) AS s_present,
             CAST(COUNT(*) AS BIGINT) AS n_buckets
      FROM regs
    ),
    est AS (
      SELECT (CAST({_ALPHA!r} AS DOUBLE) * {_M} * {_M})
             / (s_present + ({_M} - n_buckets)) AS e_raw,
             {_M} - n_buckets AS v_zero
      FROM summ
    ),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ids)
    SELECT ex.n_exact, CAST({_M} AS BIGINT) AS m,
           CAST(est.v_zero AS BIGINT) AS v_zero,
           (est.e_raw <= 2.5 * {_M} AND est.v_zero > 0)
             AS small_range_corrected,
           ROUND(CASE WHEN est.e_raw <= 2.5 * {_M} AND est.v_zero > 0
                      THEN {_M} * LN(CAST({_M} AS DOUBLE) / est.v_zero)
                      ELSE est.e_raw END, 2) AS hll_estimate,
           ROUND((CASE WHEN est.e_raw <= 2.5 * {_M} AND est.v_zero > 0
                       THEN {_M} * LN(CAST({_M} AS DOUBLE) / est.v_zero)
                       ELSE est.e_raw END - ex.n_exact)
                 / ex.n_exact, 4) AS rel_err
    FROM est, ex
    """,
)
def q_sketch_hllpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog (p=8, 256 registers) over user-day
    keys, fully oracle-checked — registers from portable md5-derived
    hashes (top 8 bits → bucket, leading-zero rank of the 24-bit
    remainder → ρ via a branch chain, no float log2), harmonic sum of
    2^-ρ (exact in doubles: every term is a power of two ≥ 2⁻²⁵ and
    the total < 2⁹, so any summation order is bit-identical), raw
    estimate αm²/Σ with the Flajolet small-range linear-counting
    correction m·ln(m/V).

    This is the mergeable-across-partitions design Spark's own
    approx_count_distinct uses (HLL++): each partition computes its
    256-register vector from a map pass, the shuffle carries max-merge
    register vectors (256 bytes per partition — constant, vs an exact
    distinct's shuffle of every key), and the estimate is read off the
    merged vector.  Here the per-bucket MAX(ρ) aggregate IS that
    merge, expressed relationally so DuckDB reproduces it exactly.
    """
    e = table(spark, sf_dir, "events")
    eday = (
        F.floor(
            F.unix_micros(F.col("ts")).cast("double") / 86400000000
        ).cast("bigint")
        - 19723
    )
    ids = e.select(
        F.concat_ws(":", F.col("user_id"), eday.cast("string")).alias(
            "s"
        )
    ).distinct()
    hashed = ids.select(F.expr(h32("s")).alias("h"))
    parts = hashed.select(
        F.floor(F.col("h") / 16777216.0).cast("bigint").alias("bucket"),
        (F.col("h") % 16777216).cast("bigint").alias("rem"),
    )
    regs = parts.groupBy("bucket").agg(
        F.max(F.expr(_RHO)).alias("r")
    )
    summ = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("s_present"),
        F.count("*").cast("bigint").alias("n_buckets"),
    )
    est = summ.select(
        (
            F.lit(_ALPHA * _M * _M)
            / (F.col("s_present") + (F.lit(_M) - F.col("n_buckets")))
        ).alias("e_raw"),
        (F.lit(_M) - F.col("n_buckets")).cast("bigint").alias("v_zero"),
    )
    ex = ids.agg(F.count("*").cast("bigint").alias("n_exact"))
    corrected = (F.col("e_raw") <= 2.5 * _M) & (F.col("v_zero") > 0)
    final = F.when(
        corrected,
        F.lit(_M)
        * F.log(F.lit(float(_M)) / F.col("v_zero").cast("double")),
    ).otherwise(F.col("e_raw"))
    return est.crossJoin(ex).select(
        "n_exact",
        F.lit(_M).cast("bigint").alias("m"),
        "v_zero",
        corrected.alias("small_range_corrected"),
        F.round(final, 2).alias("hll_estimate"),
        F.round((final - F.col("n_exact")) / F.col("n_exact"), 4).alias(
            "rel_err"
        ),
    )


@register(
    "q_sketch_ams",
    oracle=f"""
    WITH f AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    exact AS (SELECT CAST(SUM(c * c) AS BIGINT) AS f2 FROM f),
    seeds AS (SELECT UNNEST(generate_series(0, 15)) AS j),
    signs AS (
      SELECT f.user_id, f.c, seeds.j,
             CASE WHEN {_H32.format(
                 x="CAST(seeds.j AS VARCHAR) || ':' || "
                   "CAST(f.user_id AS VARCHAR)")}
                  % 2 = 0 THEN 1 ELSE -1 END AS sgn
      FROM f CROSS JOIN seeds
    ),
    sj AS (
      SELECT j, CAST(SUM(sgn * c) AS BIGINT) AS s
      FROM signs GROUP BY j
    ),
    est AS (
      SELECT CAST(SUM(s * s) AS BIGINT) AS sum_sq,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM sj
    )
    SELECT exact.f2 AS exact_f2,
           CAST(est.sum_sq // est.k AS BIGINT) AS ams_estimate,
           ROUND(ABS(CAST(est.sum_sq // est.k AS DOUBLE) - exact.f2)
                 / exact.f2, 6) AS rel_error
    FROM exact CROSS JOIN est
    """,
)
def q_sketch_ams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) F₂ sketch over the user-activity
    stream: 16 portable ±1 hash signs, S_j = Σ sgn_j(user)·freq, and
    F̂₂ = mean(S_j²) — the second-frequency-moment estimator whose
    real job is JOIN-SIZE estimation (Σf² is exactly the self-join
    row count), reported against the exact F₂ so the error is
    auditable.  Completes the sketch shelf next to Count-Min (point
    freq), KMV/HLL/theta (distinct), and Bloom (membership).

    Everything is exact integers — signs from the portable md5 hash,
    counts, and the 16 sign-sums — so both engines compute identical
    estimates; the only float is the final displayed relative error.
    One pass for frequencies, one 16× fan-out for the sketch.
    """
    e = table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.count("*").cast("bigint").alias("c"))
    exact = f.agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("f2")
    )
    seeds = spark.range(16).select(F.col("id").alias("j"))
    signs = f.crossJoin(F.broadcast(seeds)).select(
        "c",
        "j",
        F.when(
            F.expr(h32("concat(cast(j as string), ':', cast(user_id as string))"))
            % 2
            == 0,
            1,
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    sj = signs.groupBy("j").agg(
        F.sum(F.col("sgn") * F.col("c")).cast("bigint").alias("s")
    )
    est = sj.agg(
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("sum_sq"),
        F.count("*").cast("bigint").alias("k"),
    )
    return exact.crossJoin(est).select(
        F.col("f2").alias("exact_f2"),
        F.expr("CAST(sum_sq div k AS BIGINT)").alias("ams_estimate"),
        F.round(
            F.abs(
                F.expr("CAST(sum_sq div k AS DOUBLE)") - F.col("f2")
            )
            / F.col("f2"),
            6,
        ).alias("rel_error"),
    )
