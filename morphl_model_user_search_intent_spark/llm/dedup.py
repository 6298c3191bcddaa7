"""Near-duplicate detection over the document corpus (SURVEY.md
§2.11).  The fixtures plant 28 doc pairs with 3-shingle Jaccard ≥ 0.95
at sf0.001 (FIXTURES.md) — the acceptance artifact for every detector
here.

Three tiers, trading exactness for scale:

* q_dedup_jaccard — exact pairwise Jaccard via an inverted shingle
  index (oracle-checked).  Candidate generation joins on shared
  shingles; O(Σ postings²) worst case — correct baseline, not the
  100 TB path.
* q_dedup_minhash — MinHashLSH (MLlib): fixed-size signatures, banded
  candidate generation, exact distance re-check on candidates.  The
  production path: linear signature pass + bounded bucket joins.
* q_dedup_simhash — 64-bit SimHash with banded Hamming candidate
  join, pure DataFrame higher-order functions (no Python, no MLlib).

Exact dedup (hash-groupBy) is q_dedup_exact in operators/setops.py;
embedding-cosine near-dup is q_sim_threshold in llm/similarity.py.
"""

from __future__ import annotations

import uuid

import pyspark
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import spread, table
from ..registry import register
from ..text.analysis import _H32_DG, h32, h32_of_digest, ngrams, tokens

_JACCARD_TAU = 0.5

# Shared DuckDB CTE block: exact 3-shingle Jaccard pairs above τ.
# q_dedup_jaccard selects from it directly; q_dedup_clusters builds a
# recursive reachability query on top of the same pair set.
# The expensive members are MATERIALIZED (round 8, r7 verdict item 5):
# without the hint DuckDB inlines the shingle pipeline into every
# consumer and the sf1.0 funnel oracle needed an 80 GB memory_limit to
# fit its spill budget; materialized, each stage evaluates once and
# spills as a finished temp relation — the whole sweep runs at ≤16 GB.
_PAIRS_CTE = f"""
    sh AS MATERIALIZED (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(string_split(trim(text), ' ')) - 1),
               i -> string_split(trim(text), ' ')[i] || ' ' ||
                    string_split(trim(text), ' ')[i+1] || ' ' ||
                    string_split(trim(text), ' ')[i+2]))) AS shingle
      FROM documents
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY doc_id),
    common AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
      SELECT doc_a, doc_b,
             ROUND(CAST(n_common AS DOUBLE)
                   / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
            > {_JACCARD_TAU}
    )
"""


def _shingle_rows(
    spark: SparkSession, sf_dir: str, n: int = 3
) -> DataFrame:
    """(doc_id, shingle) rows of the ``documents`` table — see
    `shingle_rows_of`."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return shingle_rows_of(d, n)


def doc_shingles(d: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sh) of an arbitrary (doc_id, text) frame: ``sh`` the
    array of distinct word n-grams of the document's `tokens()`, one
    row per document.  Documents shorter than ``n`` tokens yield no
    row, which is also what the DuckDB oracles' ``range(1, len-n+2)``
    produces.  The batch and streaming MinHash paths sign these
    arrays, so their signatures agree byte-for-byte."""
    t = d.select("doc_id", tokens().alias("toks"))
    return t.filter(F.size("toks") >= n).select(
        "doc_id", F.array_distinct(ngrams(F.col("toks"), n)).alias("sh")
    )


def shingle_rows_of(d: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) rows of an arbitrary (doc_id, text) frame:
    `doc_shingles` exploded, one row per distinct n-gram.

    ``sh`` is never empty, so ``explode_outer`` yields the rows
    ``explode`` would; a plain ``explode`` of the column makes the
    optimizer infer a ``size(sh) > 0`` filter and push it below the
    projection, which re-tokenizes inside the n-gram lambda."""
    return doc_shingles(d, n).select(
        "doc_id", F.explode_outer("sh").alias("shingle")
    )


def jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard pairs above τ — shared by
    q_dedup_jaccard (reported as-is) and q_dedup_clusters (edge set).
    """
    return jaccard_pairs_of(_shingle_rows(spark, sf_dir))


def jaccard_pairs_of(sh: DataFrame) -> DataFrame:
    """`jaccard_pairs` over an arbitrary (doc_id, shingle) frame —
    the sampled eval grades the detector against exact truth computed
    on the SAME document sample with the identical kernel."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        common.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac > _JACCARD_TAU)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "q_dedup_jaccard",
    oracle=f"""
    WITH {_PAIRS_CTE}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-shingle) Jaccard near-dup pairs above τ=0.5.

    Inverted-index candidate generation: explode distinct shingles,
    self-join on the shingle, count shared shingles per pair, compute
    |A∩B| / (|A|+|B|-|A∩B|).  Hot shingles create join skew — AQE
    splits them at runtime; the unconditional scale path is
    q_dedup_minhash.
    """
    return jaccard_pairs(spark, sf_dir)


def cc_min_labels(
    edges: DataFrame, max_rounds: int = 60
) -> tuple[DataFrame, int]:
    """Connected components by min-label propagation WITH POINTER
    DOUBLING (round 8, r7 verdict item 4): each round every node
    takes the minimum of (its label, its neighbors' labels, ITS
    LABEL'S label).  The third term is the Shiloach-Vishkin
    shortcutting step — the hop a plain min-label round is missing:
    a length-d chain needs d plain rounds, but label-chasing doubles
    the collapsed distance per round, so convergence is O(log
    diameter) (the same bound the large-star/small-star formulation
    of Kiveris et al. achieves; this shape reuses the existing
    join/agg blocks and keeps one labels relation).  The planted
    4096-node chain pytest pins ≤ 2·log₂(n) rounds.

    Correctness at the fixpoint: edges are symmetrized, so an
    unchanged round means l(u) ≤ l(v) for every edge in BOTH
    directions → labels are constant per component; the component's
    minimum node keeps its own id (labels only ever take existing
    node ids and never drop below the component min), so the constant
    is the min id.

    Each round is two shuffle joins + a hash aggregate on the EDGE
    set only (never the corpus); ``localCheckpoint`` truncates the
    lineage so round N's plan doesn't replay rounds 1..N-1; the
    driver loop inspects one scalar.  Hitting ``max_rounds`` without
    convergence RAISES (the r7 verdict's silent-cap blemish) —
    with doubling that needs a component of diameter ≳ 2⁶⁰.

    Round 10: the per-round shuffle partition count is derived from
    the MATERIALIZED edge count (one 100k-edge unit per partition,
    floor 2, capped at — and restored to — the session setting, which
    is what a cluster raises).  The pair graphs this loop runs on are
    orders of magnitude smaller than their corpora, so a session-wide
    constant (≈ cores) made every tiny round pay cores× exchange +
    task fixed cost: measured at sf0.1 on q_dedup_embedding's
    1,840-edge graph, the 13-round loop fell 11.2 s → 5.0 s with no
    other change (guide §2 "make partitioning scale-adaptive …
    rather than a constant tuned for either local mode or the
    cluster").

    Returns (labels(node, lbl), rounds_used)."""
    edges = edges.localCheckpoint()
    spark = edges.sparkSession
    _CONF = "spark.sql.shuffle.partitions"
    old = spark.conf.get(_CONF)
    cap = int(old)
    n_edges = edges.count()  # cheap: counts the materialized RDD
    target = max(2, min(cap, (n_edges + 99_999) // 100_000))
    try:
        spark.conf.set(_CONF, str(target))
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("lbl", F.col("node"))
            .localCheckpoint()
        )
        for r in range(1, max_rounds + 1):
            neigh_min = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("lbl").alias("neighbor_min"))
            )
            # pointer doubling: my label's label (labels self-join)
            hop = labels.select(
                F.col("node").alias("lnode"), F.col("lbl").alias("llbl")
            )
            updated = (
                labels.join(
                    neigh_min, labels.node == neigh_min.src, "left"
                )
                .join(hop, labels.lbl == hop.lnode, "left")
                .select(
                    "node",
                    "lbl",
                    F.least(
                        F.col("lbl"),
                        F.coalesce(F.col("neighbor_min"), F.col("lbl")),
                        F.coalesce(F.col("llbl"), F.col("lbl")),
                    ).alias("new_lbl"),
                )
                .localCheckpoint()
            )
            if updated.filter(F.col("new_lbl") < F.col("lbl")).isEmpty():
                return updated.select(
                    "node", F.col("new_lbl").alias("lbl")
                ), r
            labels = updated.select(
                "node", F.col("new_lbl").alias("lbl")
            )
    finally:
        spark.conf.set(_CONF, old)
    raise RuntimeError(
        f"connected components did not converge in {max_rounds} rounds"
    )


@register(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT reach.node, edges.dst
      FROM reach JOIN edges ON edges.src = reach.r
    )
    SELECT node AS doc_id, MIN(r) AS cluster_id,
           (node = MIN(r)) AS is_canonical
    FROM reach
    GROUP BY node
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *clustering*: connected components over the Jaccard
    pair graph, labeling every duplicate doc with its cluster's
    minimum doc_id — the step after pair detection in an LLM dedup
    pipeline (keep one canonical doc per cluster, drop the rest).

    Labeling runs :func:`cc_min_labels` — min-label propagation with
    pointer doubling, O(log diameter) rounds, loud failure instead of
    a silent cap (round 8; see that docstring for the convergence
    argument).  Oracle: recursive reachability CTE computing
    MIN(reachable id) per node.
    """
    pairs = jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b"), F.col("doc_a"))
    ).toDF("src", "dst")
    labels, _ = cc_min_labels(edges)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("node") == F.col("lbl")).alias("is_canonical"),
    )


@register("q_dedup_minhash", oracle=None)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs (rows-only: LSH bucketing is
    hash-randomized; the pytest gate asserts it recovers exactly the
    planted pairs that q_dedup_jaccard finds).

    Pipeline: distinct 3-shingles → HashingTF (2²⁰-dim sparse binary)
    → MinHashLSH signatures (8 tables, fixed seed) →
    approxSimilarityJoin at Jaccard distance < 0.5.  Spark's
    implementation re-checks the EXACT distance on candidates, so
    false positives are impossible — only LSH misses, with
    P(miss) = (1-J)⁸ ≈ 4e-11 at the planted J ≥ 0.95.

    Scale: signatures are O(1) per doc; candidates join only within
    matching bands — this is the 100 TB dedup path (MMDS ch.3 /
    PAPERS.md grounding).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark, sf_dir, "documents",
    ).select("doc_id", tokens().alias("toks"))
    # guard: MinHash requires ≥1 non-zero entry, i.e. ≥1 trigram.  The
    # lazy checkpoint lets both sides of the LSH self-join read one
    # computed copy, and stops the join's inferred non-empty-hashes
    # filter from being pushed below the tokenizer, where the split
    # lands inside the n-gram lambda (sf0.1 warm on 4 cores: 3.9–5.1 s
    # without it, 2.2–2.4 s with it).
    d = d.filter(F.size("toks") >= 3).select(
        "doc_id", F.array_distinct(ngrams(F.col("toks"), 3)).alias("sh")
    ).localCheckpoint(eager=False)
    tf = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=1 << 20, binary=True
    )
    feat = tf.transform(d)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    )
    model = lsh.fit(feat)
    pairs = model.approxSimilarityJoin(
        feat, feat, threshold=_JACCARD_TAU, distCol="jacc_dist"
    )
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(1.0 - F.col("jacc_dist"), 6).alias("jaccard"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )


@register("q_dedup_simhash", oracle=None)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (rows-only: xxhash64-derived).

    64-bit SimHash per document from token hashes (per-bit majority
    vote), entirely with higher-order array functions — one pass, no
    shuffle until the candidate join.  Candidates: split the 64 bits
    into 4 bands of 16; pairs sharing any band signature are checked
    for Hamming distance ≤ 8 (two docs differing in a few tokens flip
    few bits).  Pigeonhole: Hamming ≤ 8 pairs missing all 4 bands
    would need ≥... every miss needs ≥1 flipped bit in every band, so
    recall is high for the planted ≥0.95-Jaccard pairs (verified in
    tests).
    """
    # Round-10 (guide §2.5): the explode + 64 conditional partial sums
    # are the per-row cost and ran on the unsplittable scan's single
    # task — spread fans the tokenize/vote pass across the session's
    # cores (no-op on splittable production layouts).
    d = spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark, sf_dir, "documents",
    )
    # votes[b] = Σ_tokens (bit b of xxhash64(token) ? +1 : -1).
    # Explode tokens and hash ONCE per token, then take 64 conditional
    # sums in a single hash aggregate — all whole-stage codegen.  (A
    # per-row higher-order aggregate would recompute xxhash64 per bit:
    # measured 10× slower.)
    ex = d.select(
        "doc_id", F.explode(tokens()).alias("w")
    ).withColumn("h", F.xxhash64("w"))
    # (batch-1 discipline: the 64 aggregate terms are built as parsed
    # SQL strings — one py4j round trip instead of ~200 Column calls)
    votes = ex.groupBy("doc_id").agg(
        *[
            F.expr(
                f"SUM(CASE WHEN (shiftright(h, {b}) & 1) = 1 "
                f"THEN 1 ELSE -1 END) AS v{b}"
            )
            for b in range(64)
        ]
    )
    # Round-10 (guide §2.3 "narrower types", §1.2 per-task work): the
    # 64 majority bits pack into ONE BIGINT — the candidate join then
    # carries 8 bytes per side instead of a 64-int array, band keys
    # are shift/mask codegen, and the per-pair Hamming distance is
    # bit_count(sig_a ^ sig_b) in whole-stage codegen rather than an
    # interpreted 64-element zip_with fold over ~230k candidate pairs
    # (measured the dominant term at sf0.1: noop 4.3 s → 0.9 s).
    # Candidacy and distances are bit-identical: sharing a band's 16
    # bits is encoding-independent, and popcount(xor) ≡ Σ|bit diffs|.
    sig = F.expr(
        " + ".join(
            f"(CASE WHEN v{b} > 0 THEN "
            f"shiftleft(CAST(1 AS BIGINT), {b}) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for b in range(64)
        )
    )
    band_sigs = F.expr(
        "array("
        + ", ".join(
            f"shiftright(sig, {band * 16}) & CAST(65535 AS BIGINT)"
            for band in range(4)
        )
        + ")"
    )
    docs = (
        votes.withColumn("sig", sig)
        .withColumn("band_sigs", band_sigs)
        .select("doc_id", "sig", "band_sigs")
    )
    exploded = docs.select(
        "doc_id",
        "sig",
        F.posexplode("band_sigs").alias("band", "bsig"),
    )
    a = exploded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sig").alias("sig_a"),
        "band",
        "bsig",
    )
    b = exploded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sig").alias("sig_b"),
        "band",
        "bsig",
    )
    return (
        a.join(b, ["band", "bsig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            F.expr("bit_count(sig_a ^ sig_b)")
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 8)
    )


@register(
    "q_dedup_hash",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
      WHERE doc_id % 10 = 0
    ),
    h AS (SELECT doc_id, md5(text) AS content_hash FROM corpus)
    SELECT content_hash,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc
    FROM h GROUP BY content_hash HAVING COUNT(*) > 1
    """,
)
def q_dedup_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressable exact dedup: group by MD5 of the document
    body, emit every hash with >1 copy and its min-id canonical — the
    first (and cheapest) dedup pass of any corpus build, and the
    storage key for content-addressed blob stores.  A deterministic
    re-ingestion (every 10th doc appended under a shifted id) stands
    in for the double-crawl the pass exists to catch.

    Both engines produce identical MD5 hex, so the digest itself is
    oracle-checked — at scale this is the point: the 32-character
    hex digest shuffles instead of the document body, making the groupBy
    key-size-bounded no matter how large documents get (the same
    reason the production pass hashes before the exchange).
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    reingested = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return (
        d.unionByName(reingested)
        .select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("n_copies") > 1)
    )


@register(
    "q_dedup_incremental",
    oracle="""
    WITH existing AS (
      SELECT md5(text) AS h FROM documents WHERE doc_id < 400
      GROUP BY 1
    ),
    incoming AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= 400
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
      WHERE doc_id < 400 AND doc_id % 10 = 0
    ),
    batch AS (
      SELECT doc_id, md5(text) AS h,
             row_number() OVER (PARTITION BY md5(text)
                                ORDER BY doc_id) AS rn
      FROM incoming
    )
    SELECT CASE
             WHEN e.h IS NOT NULL THEN 'dup_of_corpus'
             WHEN b.rn > 1 THEN 'dup_within_batch'
             ELSE 'accepted'
           END AS verdict,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM batch b LEFT JOIN existing e ON e.h = b.h
    GROUP BY 1
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: a new batch (doc_id ≥ 400, plus a
    deterministic re-crawl of every 10th corpus doc) checked
    against the EXISTING corpus's content-hash index (doc_id < 400)
    AND against itself — the two-stage verdict every resumable
    corpus build runs per increment, so ingestion cost scales with
    the batch, never the corpus.

    The corpus side reduces to its distinct 16-byte hashes (the
    persisted index); the batch anti/semi-membership is one hash
    join on that index plus a within-batch first-writer-wins window.
    At 100 TB the index is a bucketed table the batch broadcast- or
    bucket-joins against — no full-corpus rescan per increment.
    """
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    existing = (
        d.filter(F.col("doc_id") < 400)
        .select(F.md5("text").alias("h"))
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    incoming = d.filter(F.col("doc_id") >= 400).select(
        "doc_id", "text"
    ).unionByName(
        d.filter((F.col("doc_id") < 400) & (F.col("doc_id") % 10 == 0))
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    batch = incoming.select("doc_id", F.md5("text").alias("h"))
    rn = F.row_number().over(W.partitionBy("h").orderBy("doc_id"))
    verdict = (
        F.when(F.col("in_corpus").isNotNull(), "dup_of_corpus")
        .when(F.col("rn") > 1, "dup_within_batch")
        .otherwise("accepted")
    )
    return (
        batch.withColumn("rn", rn)
        .join(existing, "h", "left")
        .groupBy(verdict.alias("verdict"))
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "q_dedup_containment",
    oracle="""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(string_split(trim(text), ' ')) - 1),
               i -> string_split(trim(text), ' ')[i] || ' ' ||
                    string_split(trim(text), ' ')[i+1] || ' ' ||
                    string_split(trim(text), ' ')[i+2]))) AS shingle
      FROM documents
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / sa.n_sh, 6) AS c_ab,
           ROUND(CAST(n_common AS DOUBLE) / sb.n_sh, 6) AS c_ba,
           ROUND(CAST(n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / sa.n_sh >= 0.8
       OR CAST(n_common AS DOUBLE) / sb.n_sh >= 0.8
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs: C(A→B) = |A∩B|/|A| ≥ 0.8
    in either direction — the quote/subset detector Jaccard
    (q_dedup_jaccard) structurally misses: a short doc fully embedded
    in a long one has tiny Jaccard but containment ≈ 1, and LLM
    dedup pipelines treat that as a duplicate of the SHORT side
    (Broder's containment, the same sketch-able quantity).

    Identical inverted-index candidate generation as the Jaccard
    pair path (one shingle self-join, AQE handles hot-shingle skew);
    only the acceptance predicate differs, so the two operators
    share their scale story — and their costs — exactly.
    """
    # The size aggregate and both self-join sides read the shingle
    # frame: checkpoint it once for all three.
    sh = _shingle_rows(spark, sf_dir).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")
    )
    nc = F.col("n_common").cast("double")
    return (
        common.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(
            (nc / F.col("na") >= 0.8) | (nc / F.col("nb") >= 0.8)
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(nc / F.col("na"), 6).alias("c_ab"),
            F.round(nc / F.col("nb"), 6).alias("c_ba"),
            F.round(
                nc / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


_MINHASH_SEEDS = 8
_BAND_MIX = 8388593          # prime multiplier for band-key mixing
_BAND_MOD = 9007199254740881  # large prime < 2^53

# Per-seed min-hash from ONE md5-derived 32-bit shingle hash: the
# classic universal-hash construction h_j(x) = mix(base(x), j) instead
# of hashing the (seed|shingle) STRING per seed.  Round 2 computed
# md5 16 times per (shingle × seed) row — 128 md5 calls per shingle
# across the 8 seeds; this does ONE md5 per shingle plus four BIGINT
# ops per seed (same Lehmer/MINSTD mix as llm/curation._MASK_FLAG —
# all intermediates < 2^62, exact in both engines).  Seed-mixed
# min-hashes remain i.i.d.-enough for the matches/8 Jaccard
# estimator; the planted-pair recovery and estimator-error tests gate
# that empirically.
_MH_MIX = (
    "(((({h} % 2147483647) + {j} * 2654435761) % 2147483647)"
    " * 48271) % 2147483647"
)

# Shared oracle CTE tail: expects a CTE named ``sh(doc_id, shingle)``
# to be in scope; yields ``sig(doc_id, j, mh)``.
_SIG_ORACLE_CTES = f"""
    shd AS (
      SELECT doc_id, {_H32_DG.format(d='dg')} AS h32
      FROM (SELECT doc_id, md5(shingle) AS dg FROM sh)
    ),
    seeds AS (SELECT UNNEST(generate_series(0, {_MINHASH_SEEDS - 1}))
              AS j),
    sig AS (
      SELECT doc_id, j, MIN({_MH_MIX.format(h='h32', j='j')}) AS mh
      FROM shd CROSS JOIN seeds
      GROUP BY doc_id, j
    )"""


def _signed(sh: DataFrame) -> DataFrame:
    """(doc_id, sh, m0..m7) from a `doc_shingles` frame: each
    document's shingle array beside its 8 min-hashes, ``m{j}`` the
    minimum over the array of ``mix(h32(shingle), j)`` — Spark twin of
    ``_SIG_ORACLE_CTES``, whose long ``(doc_id, j, mh)`` rows are this
    row unpivoted.

    A narrow projection, one row per document: each shingle is hashed
    once (``hs``; the md5 is too costly for the optimizer to inline
    into the 8 readers) and the 8 minima are ``array_min`` over ``hs``,
    so no plan explodes the shingles, regroups them or shuffles one
    row per (doc, seed)."""
    hs = sh.selectExpr("doc_id", "sh", f"transform(sh, s -> {h32('s')}) AS hs")
    return hs.select(
        "doc_id",
        "sh",
        *[
            F.expr(
                f"array_min(transform(hs, h -> {_MH_MIX.format(h='h', j=j)}))"
            ).alias(f"m{j}")
            for j in range(_MINHASH_SEEDS)
        ],
    )


def _portable_sig(sh: DataFrame) -> DataFrame:
    """(doc_id, m0..m7): `_signed` without the shingle array, the row
    that `bands_of` and `agreement` read."""
    return _signed(sh).drop("sh")


def bands_of(sig: DataFrame) -> DataFrame:
    """(doc_id, b, bk) LSH band keys from a wide signature frame:
    4 bands of 2 minima each, band key = (m₂ᵦ·p + m₂ᵦ₊₁) mod P in
    exact int64 — one narrow ``stack`` projection, shared by the batch
    portable pipeline, its eval and the streaming incremental path so
    their buckets coincide."""
    keys = ", ".join(
        f"CAST({b} AS BIGINT), "
        f"(m{2 * b} * {_BAND_MIX} + m{2 * b + 1}) % {_BAND_MOD}"
        for b in range(_MINHASH_SEEDS // 2)
    )
    return sig.selectExpr(
        "doc_id", f"stack({_MINHASH_SEEDS // 2}, {keys}) AS (b, bk)"
    )


def band_pairs(left: DataFrame, right: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) candidate pairs, doc_a < doc_b, of a
    ``left`` and a ``right`` doc that share a band bucket — never all
    pairs."""
    a = left.select(F.col("doc_id").alias("doc_a"), "b", "bk")
    b = right.select(F.col("doc_id").alias("doc_b"), "b", "bk")
    return (
        a.join(b, ["b", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def agreement(cand: DataFrame, sig: DataFrame) -> DataFrame:
    """(doc_a, doc_b, matches): each candidate pair joined to its two
    wide signature rows, ``matches`` the number of the 8 min-hashes
    they share — a sum of equality flags in one projection, so no
    per-seed rows and no regrouping by pair."""
    cols = [f"m{j}" for j in range(_MINHASH_SEEDS)]
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(c).alias(f"a_{c}") for c in cols]
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(c).alias(f"b_{c}") for c in cols]
    )
    matches = " + ".join(f"CAST(a_{c} = b_{c} AS BIGINT)" for c in cols)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr("doc_a", "doc_b", f"{matches} AS matches")
    )


@register(
    "q_dedup_minhash_portable",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(string_split(trim(text), ' ')) - 1),
               i -> string_split(trim(text), ' ')[i] || ' ' ||
                    string_split(trim(text), ' ')[i+1] || ' ' ||
                    string_split(trim(text), ' ')[i+2]))) AS shingle
      FROM documents
    ),
    {_SIG_ORACLE_CTES},
    bands AS (
      SELECT doc_id, CAST(j // 2 AS BIGINT) AS b,
             (MAX(CASE WHEN j % 2 = 0 THEN mh END) * {_BAND_MIX}
              + MAX(CASE WHEN j % 2 = 1 THEN mh END))
             % {_BAND_MOD} AS bk
      FROM sig GROUP BY doc_id, CAST(j // 2 AS BIGINT)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM bands a JOIN bands b2
        ON a.b = b2.b AND a.bk = b2.bk AND a.doc_id < b2.doc_id
    ),
    agree AS (
      SELECT cand.doc_a, cand.doc_b,
             CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)
                  AS BIGINT) AS matches
      FROM cand
      JOIN sig sa ON sa.doc_id = cand.doc_a
      JOIN sig sb ON sb.doc_id = cand.doc_b AND sb.j = sa.j
      GROUP BY cand.doc_a, cand.doc_b
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b2
        ON a.shingle = b2.shingle AND a.doc_id < b2.doc_id
      GROUP BY 1, 2
    )
    SELECT agree.doc_a, agree.doc_b,
           ROUND(CAST(agree.matches AS DOUBLE) / 8.0, 6)
             AS minhash_est,
           ROUND(CAST(COALESCE(common.n_common, 0) AS DOUBLE)
                 / (sa.n_sh + sb.n_sh
                    - COALESCE(common.n_common, 0)), 6)
             AS exact_jaccard
    FROM agree
    LEFT JOIN common ON common.doc_a = agree.doc_a
                    AND common.doc_b = agree.doc_b
    JOIN sizes sa ON sa.doc_id = agree.doc_a
    JOIN sizes sb ON sb.doc_id = agree.doc_b
    WHERE agree.matches >= 4
    """,
)
def q_dedup_minhash_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash + LSH with PORTABLE md5-derived signatures — unlike
    the Spark-ML variant (q_dedup_minhash, rows-only because its
    hash family is JVM-internal), every stage here hash-checks
    against the oracle: 8 min-hashes per doc, 4 bands × 2 rows,
    prime-mixed band keys, candidate pairs from the band-bucket
    self-join, and the signature-agreement Jaccard estimate
    (matches/8 ≥ 0.5) reported NEXT TO the exact Jaccard so the
    sketch's estimation error is itself part of the checked output.

    Scale shape is the real MinHash one: one row per doc carries its
    shingle array and 8 ints (a narrow projection, no explode), banding
    is a narrow projection, candidates come from joining band buckets —
    never all pairs — each candidate is verified against its two
    signature rows, and each detected pair's exact Jaccard is the
    intersection of its two shingle arrays.
    The band-key mix ((m₀·p) + m₁ mod P) is exact int64; collisions
    are deterministic and identical in both engines, which is all
    LSH needs (they only ever ADD candidates).
    """
    sig = _signed(doc_shingles(table(spark, sf_dir, "documents")))
    sig = sig.localCheckpoint()
    bands = bands_of(sig)
    agree = agreement(band_pairs(bands, bands), sig).filter(
        F.col("matches") >= 4
    )
    # exact Jaccard of each detected pair from its two shingle arrays
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    nc = F.size(F.array_intersect("sa", "sb"))
    return (
        agree.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("matches").cast("double") / 8.0, 6).alias(
                "minhash_est"
            ),
            F.round(
                nc.cast("double") / (F.size("sa") + F.size("sb") - nc), 6
            ).alias("exact_jaccard"),
        )
    )


@register(
    "q_corpus_shards",
    oracle="""
    WITH sized AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS nb,
             SUM(CAST(n_chars AS BIGINT)) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS offset_b
      FROM documents
    ),
    assigned AS (
      SELECT doc_id, nb,
             CAST(FLOOR(CAST(COALESCE(offset_b, 0) AS DOUBLE)
                        / 50000.0) AS BIGINT) AS shard
      FROM sized
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nb) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM assigned GROUP BY shard
    """,
)
def q_corpus_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus shard planning (webdataset/TFRecord style):
    documents stream in doc_id order into ~50 KB shards — a doc
    starts a new shard when the RUNNING byte offset crosses the
    budget — and the manifest reports each shard's doc range and
    actual size.  This is the packing stage downstream of
    sequence packing (q_corpus_pack): contiguous id ranges per
    shard mean a reader can seek a shard without an index.

    Shard assignment is floor(prefix-sum/budget) — exact integer
    prefix sums via the 1-PRECEDING frame (a doc's own size never
    decides its shard), one ordered window + one aggregation.  At
    100 TB the prefix sum distributes via per-partition totals +
    driver offsets (the two-pass pattern), not a single sort.
    """
    d = table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    sized = d.select(
        "doc_id", F.col("n_chars").cast("bigint").alias("nb")
    ).select(
        "doc_id",
        "nb",
        F.sum("nb")
        .over(
            W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
        )
        .alias("offset_b"),
    )
    assigned = sized.select(
        "doc_id",
        "nb",
        F.floor(
            F.coalesce(F.col("offset_b"), F.lit(0)).cast("double")
            / 50000.0
        )
        .cast("bigint")
        .alias("shard"),
    )
    return assigned.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("nb").cast("bigint").alias("total_chars"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


@register(
    "q_dedup_prefix",
    oracle="""
    WITH p AS (
      SELECT doc_id, substring(trim(text), 1, 50) AS prefix
      FROM documents
    )
    SELECT md5(prefix) AS prefix_hash,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM p
    GROUP BY md5(prefix)
    HAVING COUNT(*) > 1
    """,
)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix dedup — the cheapest pass in a dedup cascade: documents
    sharing their first 50 characters collapse to the minimum doc_id
    (boilerplate pages, mirrored headers, and template spam fall to
    this before any shingling runs).  Production cascades order
    passes by cost: exact hash (q_dedup_hash) → prefix →
    MinHash/containment — each pass shrinks the set the next,
    more expensive one sees.

    md5 of the prefix is byte-identical cross-engine (the
    content-hash discipline), so the surviving groups — not just
    their counts — are oracle-checked.  One hash aggregation,
    map-side combinable.
    """
    d = table(spark, sf_dir, "documents")
    p = d.select(
        "doc_id",
        F.md5(F.substring(F.trim(F.col("text")), 1, 50)).alias(
            "prefix_hash"
        ),
    )
    return (
        p.groupBy("prefix_hash")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keep_doc"),
            (F.count("*") - 1).cast("bigint").alias("n_dropped"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "q_dedup_boilerplate",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(string_split(trim(text), ' ')) - 6),
               i -> array_to_string(
                      list_slice(string_split(trim(text), ' '),
                                 i, i + 7), ' ')))) AS g
      FROM documents
    ),
    dup AS (
      SELECT g,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM sh
      GROUP BY g
      HAVING COUNT(*) >= 2
    )
    SELECT g AS ngram, n_docs
    FROM dup
    ORDER BY n_docs DESC, g
    LIMIT 20
    """,
)
def q_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document 8-gram boilerplate audit — the n-gram-level view
    of duplication that line/sentence dedup (CCNet §4.2-style) acts
    on: every 8-token shingle occurring in ≥2 distinct documents,
    ranked by spread.  (Within-doc repeats are collapsed first via
    distinct shingles per doc, so n_docs counts documents, not
    occurrences.)  On the fixture corpus the planted near-duplicate
    pairs light up as shared runs.

    Shape: bounded explode (n_tokens − 7 shingles/doc) → one
    partial-aggregated groupBy; at 100 TB the group key would be a
    64-bit shingle hash (shuffle bytes ↓ ~10×) with raw text
    recovered only for the reported top-k.  Total ordering
    (n_docs, ngram) makes the LIMIT boundary deterministic.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(ngrams(F.col("toks"), 8))).alias("g"),
    )
    dup = (
        sh.groupBy("g")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    return (
        dup.orderBy(F.col("n_docs").desc(), "g")
        .limit(20)
        .select(F.col("g").alias("ngram"), "n_docs")
    )


# Sampled-eval gate (round 10): above this corpus size the eval grades
# the detector on a deterministic ~19% document sample (md5 hex digit
# of doc_id in 0-2) — precision/recall on a uniform doc sample are
# unbiased estimates of the full metric (a pair survives iff both
# endpoints survive), and the quadratic exact-truth cost drops ~28x.
# At sf<=0.1 (<=5k docs) the eval stays EXACT, so the committed
# oracle artifacts are unchanged there.
_EVAL_EXACT_MAX = 10_000
_EVAL_SAMPLE_HEX = ("0", "1", "2")
_EVAL_TRUTH_TIMEOUT_S = 3600  # the exact-truth thread's join bound


@register(
    "q_dedup_eval",
    oracle=f"""
    WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    uni AS (
      SELECT doc_id, text FROM documents
      WHERE (SELECT n FROM nd) <= {_EVAL_EXACT_MAX}
         OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
            IN {_EVAL_SAMPLE_HEX}
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(string_split(trim(text), ' ')) - 1),
               i -> string_split(trim(text), ' ')[i] || ' ' ||
                    string_split(trim(text), ' ')[i+1] || ' ' ||
                    string_split(trim(text), ' ')[i+2]))) AS shingle
      FROM uni
    ),
    {_SIG_ORACLE_CTES},
    bands AS (
      SELECT doc_id, CAST(j // 2 AS BIGINT) AS b,
             (MAX(CASE WHEN j % 2 = 0 THEN mh END) * {_BAND_MIX}
              + MAX(CASE WHEN j % 2 = 1 THEN mh END))
             % {_BAND_MOD} AS bk
      FROM sig GROUP BY doc_id, CAST(j // 2 AS BIGINT)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM bands a JOIN bands b2
        ON a.b = b2.b AND a.bk = b2.bk AND a.doc_id < b2.doc_id
    ),
    agree AS (
      SELECT cand.doc_a, cand.doc_b
      FROM cand
      JOIN sig sa ON sa.doc_id = cand.doc_a
      JOIN sig sb ON sb.doc_id = cand.doc_b AND sb.j = sa.j
      GROUP BY cand.doc_a, cand.doc_b
      HAVING CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)
                  AS BIGINT) >= 4
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b2
        ON a.shingle = b2.shingle AND a.doc_id < b2.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT common.doc_a, common.doc_b
      FROM common
      JOIN sizes sa ON sa.doc_id = common.doc_a
      JOIN sizes sb ON sb.doc_id = common.doc_b
      WHERE CAST(n_common AS DOUBLE)
            / (sa.n_sh + sb.n_sh - n_common) > 0.5
    ),
    m AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM agree) AS n_detected,
        (SELECT CAST(COUNT(*) AS BIGINT)
         FROM agree JOIN truth
           ON truth.doc_a = agree.doc_a
          AND truth.doc_b = agree.doc_b) AS tp
    )
    SELECT n_truth, n_detected, tp,
           CAST(n_detected - tp AS BIGINT) AS fp,
           CAST(n_truth - tp AS BIGINT) AS fn,
           ROUND(CAST(tp AS DOUBLE) / n_detected, 6) AS precision_,
           ROUND(CAST(tp AS DOUBLE) / n_truth, 6) AS recall_,
           (SELECT n FROM nd) > {_EVAL_EXACT_MAX} AS sampled
    FROM m
    """,
)
def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector evaluation for the portable MinHash-LSH near-dup
    pipeline: its final pair verdicts (band candidates with ≥4/8
    signature agreement) graded against the EXACT 3-shingle Jaccard
    > 0.5 ground truth — TP/FP/FN, precision, recall, all
    hash-checked in both engines.  This is the audit a dedup rollout
    publishes before destructive deletion is enabled: the sketch is
    only trusted because this table says how often it lies.

    Every stage reuses the bit-identical portable machinery
    (md5-derived min-hashes, prime-mixed band keys), so the eval is
    deterministic; the exact-truth side is the bounded inverted-index
    join of q_dedup_jaccard.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = d.count()
    sampled = n_docs > _EVAL_EXACT_MAX
    if sampled:
        # deterministic, engine-agnostic sample: both this pipeline
        # and the DuckDB oracle keep a doc iff the first hex digit of
        # md5(doc_id) is 0-2 — truth AND detector run on the same
        # sampled universe, so the graded metrics stay exact
        # within-sample
        d = d.filter(
            F.substring(
                F.md5(F.col("doc_id").cast("string")), 1, 1
            ).isin(*_EVAL_SAMPLE_HEX)
        )
    # the detector and the exact-truth side read one checkpoint of the
    # shingle arrays; truth runs on its own thread, so its jobs fill
    # the cores the detector's small stages leave idle
    sig = _signed(doc_shingles(d)).localCheckpoint()
    sc = spark.sparkContext
    tag = f"q_dedup_eval-truth-{uuid.uuid4().hex}"
    truth_box: list = []

    def _truth() -> None:
        try:
            sc.addJobTag(tag)
            sh = sig.select("doc_id", F.explode("sh").alias("shingle"))
            truth_box.append(
                jaccard_pairs_of(sh)
                .select("doc_a", "doc_b")
                .localCheckpoint()
            )
        except BaseException as exc:  # re-raised on the main thread
            truth_box.append(exc)

    def _cancel_truth() -> None:
        # a cancel that lands between two of truth's jobs misses the
        # next one: repeat until the thread is gone
        while truth_thread.is_alive():
            sc.cancelJobsWithTag(tag)
            truth_thread.join(1)

    truth_thread = pyspark.InheritableThread(
        target=_truth, session=spark
    )
    truth_thread.start()
    try:
        bands = bands_of(sig)
        detected = (
            agreement(band_pairs(bands, bands), sig)
            .filter(F.col("matches") >= 4)
            .select("doc_a", "doc_b")
            # n_detected and the TP join are separate actions
            .localCheckpoint()
        )
    except BaseException:
        _cancel_truth()
        raise
    truth_thread.join(_EVAL_TRUTH_TIMEOUT_S)
    if truth_thread.is_alive():
        _cancel_truth()
        raise RuntimeError(
            "q_dedup_eval: the exact-truth job did not finish within "
            f"{_EVAL_TRUTH_TIMEOUT_S} s"
        )
    if isinstance(truth_box[0], BaseException):
        raise truth_box[0]
    truth = truth_box[0]
    n_truth = truth.count()
    n_detected = detected.count()
    tp = detected.join(truth, ["doc_a", "doc_b"]).count()
    return spark.createDataFrame(
        [
            (
                n_truth,
                n_detected,
                tp,
                n_detected - tp,
                n_truth - tp,
                round(tp / n_detected, 6) if n_detected else 0.0,
                round(tp / n_truth, 6) if n_truth else 0.0,
                bool(sampled),
            )
        ],
        "n_truth bigint, n_detected bigint, tp bigint, fp bigint, "
        "fn bigint, precision_ double, recall_ double, "
        "sampled boolean",
    )


@register(
    "q_dedup_substring",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
    ),
    g AS (
      SELECT doc_id,
             array_to_string(list_slice(ws, i, i + 7), ' ') AS gram
      FROM w, unnest(range(1, len(ws) - 6)) AS t(i)
      WHERE len(ws) >= 8
    ),
    shared AS (
      SELECT gram FROM g GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) > 1
    ),
    per AS (
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(COUNT(s.gram) AS BIGINT) AS n_dup
      FROM g LEFT JOIN shared s USING (gram)
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_grams, n_dup,
           ROUND(CAST(n_dup AS DOUBLE) / n_grams, 6) AS dup_frac
    FROM per
    ORDER BY dup_frac DESC, doc_id
    LIMIT 20
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): the fraction of each document's positional
    8-word spans that also occur verbatim in at least one OTHER
    document — the substring-level signal that catches boilerplate
    and licence blocks which whole-document Jaccard misses.  Reports
    the 20 most span-duplicated documents (deterministic doc_id
    tiebreak).

    Scale shape: one explode (positions, not distinct — every
    occurrence counts), one shuffle on the span key for the
    shared-span set, one shuffle back to doc_id.  At 100 TB the span
    string (~40-60 bytes) is replaced by ``xxhash64(span)`` before
    the shuffle — 8-byte keys cut shuffle volume ~5x with a 2^-64
    per-pair collision floor; kept as the raw string here for exact
    oracle parity.  The suffix-array approach of the paper is
    single-node; the shingle-grouping formulation is its
    shuffle-native equivalent.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    g = (
        d.select("doc_id", F.explode(ngrams(F.col("toks"), 8)).alias("gram"))
        # Round-10: materialize the positional-gram explode ONCE —
        # the shared-span aggregate and the per-doc join consume it
        # through DIFFERENT exchanges (partial-agg rows vs raw rows),
        # so ReuseExchange cannot collapse them and the interpreted
        # transform+concat_ws ran twice.
        .localCheckpoint()
    )
    shared = (
        g.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gram")
    )
    per = (
        g.join(shared.withColumn("is_dup", F.lit(1)), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.count("is_dup").cast("bigint").alias("n_dup"),
        )
    )
    return (
        per.select(
            "doc_id",
            "n_grams",
            "n_dup",
            F.round(
                F.col("n_dup").cast("double") / F.col("n_grams"), 6
            ).alias("dup_frac"),
        )
        .orderBy(F.col("dup_frac").desc(), "doc_id")
        .limit(20)
    )



def canonicalize_url(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Append a ``canonical_url`` column: lower scheme/host, strip the
    default port (:443 for https, :80 for http), drop the fragment and
    any trailing slashes, remove utm_* query params and sort the
    survivors.  Pure JVM codegen string expressions (the only regex is
    an anchored trailing-slash strip) — idempotent by construction
    (property-tested: canonicalize(canonicalize(u)) == canonicalize(u))
    and shared by q_dedup_url so the tested transform IS the shipped
    one.  Intermediate columns use a reserved ``_cu_`` prefix and are
    dropped before return, so callers' own columns (host, path, …)
    survive untouched — don't pass columns named ``_cu_*``."""
    tmp = ["_cu_nofrag", "_cu_base", "_cu_qraw", "_cu_scheme", "_cu_rest", "_cu_hostport",
           "_cu_path", "_cu_host", "_cu_pnorm", "_cu_qnorm"]
    out = (
        df.withColumn("_cu_nofrag", F.substring_index(url_col, "#", 1))
        .withColumn("_cu_base", F.substring_index("_cu_nofrag", "?", 1))
        .withColumn(
            "_cu_qraw",
            F.expr(
                "CASE WHEN instr(_cu_nofrag, '?') > 0"
                " THEN substring(_cu_nofrag, instr(_cu_nofrag, '?') + 1)"
                " ELSE '' END"
            ),
        )
        .withColumn(
            "_cu_scheme", F.lower(F.substring_index("_cu_base", "://", 1))
        )
        .withColumn("_cu_rest", F.substring_index("_cu_base", "://", -1))
        .withColumn(
            "_cu_hostport", F.lower(F.substring_index("_cu_rest", "/", 1))
        )
        .withColumn(
            "_cu_path",
            F.expr(
                "substring(_cu_rest,"
                " length(substring_index(_cu_rest, '/', 1)) + 1)"
            ),
        )
        .withColumn(
            "_cu_host",
            F.expr(
                "CASE WHEN _cu_scheme = 'https' AND _cu_hostport LIKE '%:443'"
                " THEN substring(_cu_hostport, 1, length(_cu_hostport) - 4)"
                " WHEN _cu_scheme = 'http' AND _cu_hostport LIKE '%:80'"
                " THEN substring(_cu_hostport, 1, length(_cu_hostport) - 3)"
                " ELSE _cu_hostport END"
            ),
        )
        .withColumn(
            "_cu_pnorm",
            F.expr(
                "CASE WHEN regexp_replace(_cu_path, '/+$', '') = ''"
                " THEN '/' ELSE regexp_replace(_cu_path, '/+$', '') END"
            ),
        )
        .withColumn(
            "_cu_qnorm",
            F.expr(
                "array_join(array_sort(filter(split(_cu_qraw, '&'),"
                " p -> NOT startswith(p, 'utm_') AND p <> '')), '&')"
            ),
        )
        .withColumn(
            "canonical_url",
            F.expr(
                "concat(_cu_scheme, '://', _cu_host, _cu_pnorm,"
                " CASE WHEN _cu_qnorm = '' THEN ''"
                " ELSE concat('?', _cu_qnorm) END)"
            ),
        )
    )
    return out.drop(*tmp)


@register(
    "q_dedup_url",
    oracle="""
    WITH corpus AS (
      SELECT doc_id * 6 AS crawl_id,
             'https://' || source || '.example.org/doc/' ||
             CAST(doc_id AS VARCHAR) || '?lang=' || COALESCE(lang, 'und') AS url
      FROM documents
      UNION ALL
      SELECT doc_id * 6 + 1,
             'HTTPS://' || UPPER(source) || '.EXAMPLE.ORG:443/doc/' ||
             CAST(doc_id AS VARCHAR) || '/?utm_source=feed&lang=' || COALESCE(lang, 'und')
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id * 6 + 2,
             'https://' || source || '.example.org/doc/' ||
             CAST(doc_id AS VARCHAR) || '?lang=' || COALESCE(lang, 'und') ||
             '&utm_campaign=promo#sec-2'
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id * 6 + 3,
             'http://' || source || '.example.org/alt/' ||
             CAST(doc_id AS VARCHAR)
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id * 6 + 4,
             'http://' || source || '.example.org:80/alt/' ||
             CAST(doc_id AS VARCHAR) || '/'
      FROM documents WHERE doc_id % 7 = 0
    ),
    parts AS (
      SELECT crawl_id,
             split_part(url, '#', 1) AS nofrag
      FROM corpus
    ),
    split_q AS (
      SELECT crawl_id,
             split_part(nofrag, '?', 1) AS base,
             CASE WHEN position('?' IN nofrag) > 0
                  THEN substr(nofrag, position('?' IN nofrag) + 1)
                  ELSE '' END AS qraw
      FROM parts
    ),
    comps AS (
      SELECT crawl_id,
             lower(split_part(base, '://', 1)) AS scheme,
             lower(split_part(split_part(base, '://', 2), '/', 1))
               AS hostport,
             substr(split_part(base, '://', 2),
                    length(split_part(split_part(base, '://', 2),
                                      '/', 1)) + 1) AS path,
             qraw
      FROM split_q
    ),
    norm AS (
      SELECT crawl_id, scheme,
             CASE WHEN scheme = 'https' AND hostport LIKE '%:443'
                    THEN substr(hostport, 1, length(hostport) - 4)
                  WHEN scheme = 'http' AND hostport LIKE '%:80'
                    THEN substr(hostport, 1, length(hostport) - 3)
                  ELSE hostport END AS host,
             CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
                  ELSE regexp_replace(path, '/+$', '') END AS pnorm,
             COALESCE(array_to_string(list_sort(list_filter(
               string_split(qraw, '&'),
               p -> NOT starts_with(p, 'utm_') AND p <> '')), '&'), '')
               AS qnorm
      FROM comps
    ),
    canon AS (
      SELECT crawl_id,
             scheme || '://' || host || pnorm ||
             CASE WHEN qnorm = '' THEN '' ELSE '?' || qnorm END
               AS canonical_url
      FROM norm
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_crawls,
           CAST(MIN(crawl_id) AS BIGINT) AS keeper_crawl
    FROM canon
    GROUP BY canonical_url
    HAVING COUNT(*) > 1
    """,
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the crawl-frontier stage that runs
    BEFORE any content dedup: the same page fetched under scheme/host
    case variants, default ports, trailing slashes, fragments, and
    utm_* tracking params must collapse to one canonical URL so it is
    fetched/stored once.  The corpus synthesizes those five messy
    variants deterministically per doc (the fixture tables carry no
    real URLs), then canonicalizes with pure JVM string expressions:

      lower(scheme) + lower(host) − default port (:443/:80) − fragment
      − trailing slash − utm_* params, surviving params sorted.

    Emits each duplicate group (canonical URL, crawl count, min-id
    keeper).  Scale shape: one map stage (string expressions inside
    whole-stage codegen, no UDF, no regex beyond an anchored trailing
    -slash strip) + one map-side-combined groupBy on the canonical
    string — the exact-dedup template, linear at 100 TB.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.coalesce("lang", F.lit("und")).alias("lang")
    )
    ds = F.col("doc_id").cast("string")
    mk = lambda cid, url: d.select(  # noqa: E731
        cid.cast("bigint").alias("crawl_id"), url.alias("url")
    )
    corpus = (
        mk(
            F.col("doc_id") * 6,
            F.concat(
                F.lit("https://"), F.col("source"),
                F.lit(".example.org/doc/"), ds,
                F.lit("?lang="), F.col("lang"),
            ),
        )
        .unionByName(
            mk(
                F.col("doc_id") * 6 + 1,
                F.concat(
                    F.lit("HTTPS://"), F.upper("source"),
                    F.lit(".EXAMPLE.ORG:443/doc/"), ds,
                    F.lit("/?utm_source=feed&lang="), F.col("lang"),
                ),
            ).where(F.col("doc_id") % 3 == 0)
        )
        .unionByName(
            mk(
                F.col("doc_id") * 6 + 2,
                F.concat(
                    F.lit("https://"), F.col("source"),
                    F.lit(".example.org/doc/"), ds,
                    F.lit("?lang="), F.col("lang"),
                    F.lit("&utm_campaign=promo#sec-2"),
                ),
            ).where(F.col("doc_id") % 5 == 0)
        )
        .unionByName(
            mk(
                F.col("doc_id") * 6 + 3,
                F.concat(
                    F.lit("http://"), F.col("source"),
                    F.lit(".example.org/alt/"), ds,
                ),
            ).where(F.col("doc_id") % 7 == 0)
        )
        .unionByName(
            mk(
                F.col("doc_id") * 6 + 4,
                F.concat(
                    F.lit("http://"), F.col("source"),
                    F.lit(".example.org:80/alt/"), ds, F.lit("/"),
                ),
            ).where(F.col("doc_id") % 7 == 0)
        )
    )
    canon = canonicalize_url(corpus)
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_crawls"),
            F.min("crawl_id").cast("bigint").alias("keeper_crawl"),
        )
        .filter(F.col("n_crawls") > 1)
    )


# High half of the portable 64-bit SimHash signature: hex chars 9-16
# of the SAME md5 digest (chars 1-8 are _H32_DG's low half) — one
# md5 per token yields 64 independent bits, same trick both engines
# evaluate with identical integer arithmetic.  DuckDB oracle form; the
# Spark side decodes the same chars with `h32_of_digest`.
_H32T_HI_DG = "(" + " + ".join(
    f"(CAST(instr('0123456789abcdef', substring({{d}}, {i + 9}, 1))"
    f" - 1 AS BIGINT)) * {16 ** (7 - i)}"
    for i in range(8)
) + ")"

_SIMHASH_TAU = 8  # max Hamming distance over 64 bits


@register(
    "q_dedup_simhash_portable",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(trim(text), ' ')) AS w
      FROM documents
    ),
    h AS (
      SELECT doc_id, {_H32_DG.format(d='dg')} AS hlo,
             {_H32T_HI_DG.format(d='dg')} AS hhi
      FROM (SELECT doc_id, md5(w) AS dg FROM tok)
    ),
    bits AS (
      SELECT doc_id, b,
             CASE WHEN SUM(CASE WHEN b < 32
                           THEN ((hlo >> b) & 1)
                           ELSE ((hhi >> (b - 32)) & 1)
                           END * 2 - 1) > 0
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
             END AS bit
      FROM h CROSS JOIN
           (SELECT UNNEST(generate_series(0, 63)) AS b) bs
      GROUP BY doc_id, b
    ),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN b < 32 THEN bit << b ELSE 0 END)
                  AS BIGINT) AS slo,
             CAST(SUM(CASE WHEN b >= 32 THEN bit << (b - 32) ELSE 0 END)
                  AS BIGINT) AS shi
      FROM bits GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, slo, shi, k,
             CASE k WHEN 0 THEN slo & 65535
                    WHEN 1 THEN (slo >> 16) & 65535
                    WHEN 2 THEN shi & 65535
                    ELSE (shi >> 16) & 65535 END AS bk
      FROM sig CROSS JOIN
           (SELECT UNNEST(generate_series(0, 3)) AS k) ks
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
             a.slo AS salo, a.shi AS sahi,
             b2.slo AS sblo, b2.shi AS sbhi
      FROM bands a JOIN bands b2
        ON a.k = b2.k AND a.bk = b2.bk AND a.doc_id < b2.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(salo, sblo))
                + bit_count(xor(sahi, sbhi)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(salo, sblo)) + bit_count(xor(sahi, sbhi))
          <= {_SIMHASH_TAU}
    """,
)
def q_dedup_simhash_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SimHash with PORTABLE md5-derived token hashes (round 8: the
    q_dedup_minhash_portable promotion recipe applied to SimHash —
    r7 verdict item 2).  Unlike q_dedup_simhash (rows-only: its
    xxhash64 family is JVM-internal), every stage here hash-checks
    against DuckDB: a 64-bit signature (two 32-bit halves from hex
    chars 1-8 / 9-16 of ONE md5 per distinct token) from per-bit
    majority votes, 4 bands of 16 bits (65k buckets per band — the
    same bucket granularity as the production 64-bit variant, so
    candidate volume stays ~n²/65536 per band, not n²/256), and
    exact Hamming (bit_count of XOR over both halves) ≤ 8 as the
    acceptance predicate.

    Scale shape is identical to q_dedup_simhash: the signature is one
    explode + hash-agg pass (64 conditional sums, all whole-stage
    codegen), banding is bit arithmetic, candidates come from joining
    band buckets — never all pairs.  Band collisions are
    deterministic integers, identical in both engines.
    """
    # Round-11 (the r10 batch-8 q_dedup_simhash treatment, applied to
    # the oracle twin): the 64 vote aggregates and the two 32-term
    # packing sums are built as parsed SQL strings (one py4j
    # round-trip each instead of ~6 per term — build 1.2 → 0.3 s),
    # and the tokenize/vote pass is spread off the single-task scan
    # (guide §2.5).  Measured 2.55 → 1.13 s warm at sf0.1, identical
    # pair set.
    d = spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark, sf_dir, "documents",
    )
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("w"),
    )
    h = tok.withColumn("dg", F.md5("w")).select(
        "doc_id",
        F.expr(h32_of_digest("dg")).alias("hlo"),
        F.expr(h32_of_digest("substring(dg, 9, 8)")).alias("hhi"),
    )

    def vote_sql(b: int) -> str:
        col, off = ("hlo", b) if b < 32 else ("hhi", b - 32)
        return f"SUM(((shiftright({col}, {off}) & 1) * 2 - 1)) AS v{b}"

    votes = h.groupBy("doc_id").agg(
        *[F.expr(vote_sql(b)) for b in range(64)]
    )

    def half_sql(lo: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN v{b} > 0 THEN {1 << (b - lo)} ELSE 0 END)"
            for b in range(lo, lo + 32)
        )
        # a BIGINT first term makes every addition 64-bit, whatever
        # the order of the INT-typed terms
        return f"(CAST(0 AS BIGINT) + {terms})"

    sig = votes.selectExpr(
        "doc_id", half_sql(0) + " AS slo", half_sql(32) + " AS shi"
    )
    band_exprs = [
        F.col("slo").bitwiseAND(65535),
        F.shiftright(F.col("slo"), 16).bitwiseAND(65535),
        F.col("shi").bitwiseAND(65535),
        F.shiftright(F.col("shi"), 16).bitwiseAND(65535),
    ]
    bands = sig.select(
        "doc_id",
        "slo",
        "shi",
        F.posexplode(F.array(*band_exprs)).alias("k", "bk"),
    )
    b2 = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("slo").alias("sblo"),
        F.col("shi").alias("sbhi"),
        "k",
        "bk",
    )
    cand = (
        bands.select(
            F.col("doc_id").alias("doc_a"),
            F.col("slo").alias("salo"),
            F.col("shi").alias("sahi"),
            "k",
            "bk",
        )
        .join(b2, ["k", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "salo", "sahi", "sblo", "sbhi")
        .distinct()
    )
    ham = F.bit_count(
        F.col("salo").bitwiseXOR(F.col("sblo"))
    ) + F.bit_count(F.col("sahi").bitwiseXOR(F.col("sbhi")))
    return (
        cand.select(
            "doc_a", "doc_b", ham.cast("bigint").alias("hamming")
        )
        .filter(F.col("hamming") <= _SIMHASH_TAU)
    )
