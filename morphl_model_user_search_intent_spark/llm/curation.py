"""Training-corpus curation operators (SURVEY.md §2.11 extension):
benchmark decontamination, embedding-space dedup manifests, and
mixture/sampling planning — the steps between "deduped corpus" and
"training-ready dataset" in an LLM data pipeline.

All three are pure DataFrame plans (no Python UDFs) with exact DuckDB
oracles; scale notes inline per operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..io import spread, table
from ..registry import register
from ..text.analysis import (
    _H32,
    _H32_DG,
    h32,
    h32_of_digest,
    ngrams,
    tokens,
)
from .dedup import _PAIRS_CTE as _DEDUP_PAIRS_CTE

# Decontamination shingle width — 13 tokens is the published standard
# (GPT-3 appendix C; The Pile; Dolma all use 13-gram overlap).
_NGRAM = 13

# Benchmark stand-in: every 5th doc_id plays the role of an eval set.
_BENCH_MOD = 5

_SH13 = """
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(string_split(trim(text), ' ')) - 11),
               i -> array_to_string(
                      list_slice(string_split(trim(text), ' '),
                                 i, i + 12), ' ')))) AS g
      FROM documents
"""


@register(
    "q_text_contamination",
    oracle=f"""
    WITH sh AS ({_SH13}),
    bench AS (SELECT * FROM sh WHERE doc_id % {_BENCH_MOD} = 0),
    train AS (SELECT * FROM sh WHERE doc_id % {_BENCH_MOD} <> 0),
    bsizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bench_sh
               FROM bench GROUP BY doc_id)
    SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(bs.n_bench_sh), 6)
             AS bench_frac
    FROM train t
    JOIN bench b ON t.g = b.g
    JOIN bsizes bs ON bs.doc_id = b.doc_id
    GROUP BY 1, 2
    """,
)
def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find training docs sharing any
    13-token n-gram with an eval-benchmark doc (the published
    GPT-3/Pile/Dolma overlap rule), with the contaminated fraction of
    the benchmark doc's shingles.

    Plan shape: one shingle explode per side, an equi-join on the
    shingle string, one hash aggregate per (train, bench) pair.  The
    benchmark side is tiny by construction (eval suites are ~10⁴ docs
    even when the corpus is 10¹⁰), so it is broadcast — at 100 TB the
    corpus side streams through map tasks with NO shuffle of the
    corpus itself; only the matched pairs (rare) reach the aggregate.
    Production variant: hash each shingle to 64-bit before the join
    (same plan, 8-byte keys instead of ~80-byte strings); kept as the
    raw string here so the oracle is byte-exact.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(ngrams(F.col("toks"), _NGRAM))).alias(
            "g"
        ),
    )
    bench = sh.filter(F.col("doc_id") % _BENCH_MOD == 0)
    train = sh.filter(F.col("doc_id") % _BENCH_MOD != 0)
    bsizes = bench.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bench_sh")
    )
    return (
        train.toDF("train_doc", "g")
        .join(F.broadcast(bench.toDF("bench_doc", "g")), "g")
        .groupBy("train_doc", "bench_doc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .join(
            F.broadcast(
                bsizes.toDF("bench_doc", "n_bench_sh")
            ),
            "bench_doc",
        )
        .select(
            "train_doc",
            "bench_doc",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.col("n_bench_sh"), 6
            ).alias("bench_frac"),
        )
    )


# Embedding near-dup threshold: fixture max pairwise cosine is ~0.48
# (FIXTURES.md), so the production τ≈0.95 finds nothing at test scale;
# τ=0.4 exercises the same plan with non-trivial clusters.
_EMB_TAU = 0.4

_COS_PAIRS = f"""
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings) a
      JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings) b
        ON a.vec_id < b.vec_id
      WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= {_EMB_TAU}
"""


@register(
    "q_dedup_embedding",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_COS_PAIRS}),
    edges AS (
      SELECT va AS src, vb AS dst FROM pairs
      UNION ALL
      SELECT vb, va FROM pairs
    ),
    reach(node, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT reach.node, edges.dst
      FROM reach JOIN edges ON edges.src = reach.r
    ),
    comp AS (
      SELECT node, MIN(r) AS canonical FROM reach GROUP BY node
    )
    SELECT e.vec_id,
           COALESCE(comp.canonical, e.vec_id) AS canonical_id,
           (COALESCE(comp.canonical, e.vec_id) = e.vec_id) AS is_kept
    FROM embeddings e
    LEFT JOIN comp ON comp.node = e.vec_id
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup KEEP-LIST: every vector mapped to the
    canonical (minimum-id) member of its cosine-similarity component,
    with the survivorship flag — the decision manifest an LLM dedup
    cascade actually applies (q_sim_threshold finds the pairs; this
    closes them into clusters and picks survivors, singletons
    included).

    Components via :func:`llm.dedup.cc_min_labels` — min-label
    propagation WITH POINTER DOUBLING, O(log diameter) rounds (round
    10: the plain min-label loop this key used before needed 17
    rounds at sf0.1 — the τ=0.4 cosine graph contains a long chain —
    at ~0.6 s/round ≈ 9 s of the query's 10 s; doubling closes the
    same components in ≤6 rounds, identical keep-list by the
    fixpoint argument in cc_min_labels' docstring).  At 100 TB the
    pair graph comes from the LSH path (q_sim_ann), not the O(n²)
    exact join used here for oracle parity — the component/keep-list
    machinery downstream is identical.
    """
    from .dedup import cc_min_labels
    from .similarity import _blocked_pair_cosines

    pairs = (
        _blocked_pair_cosines(spark, sf_dir, _EMB_TAU)
        .filter(F.round("c", 6) >= _EMB_TAU)
        .select("va", "vb")
        # materialize the O(n²) kernel ONCE: the symmetrizing union
        # below references the pair frame twice, which would run the
        # blocked-cosine pass twice inside cc_min_labels' checkpoint
        .localCheckpoint()
    )
    edges = pairs.union(pairs.select("vb", "va")).toDF("src", "dst")
    labels, _rounds = cc_min_labels(edges)
    ids = table(spark, sf_dir, "embeddings").select("vec_id")
    return (
        ids.join(
            labels.toDF("vec_id", "canonical"), "vec_id", "left"
        )
        .select(
            "vec_id",
            F.coalesce("canonical", "vec_id").alias("canonical_id"),
            (
                F.coalesce("canonical", "vec_id") == F.col("vec_id")
            ).alias("is_kept"),
        )
    )


# Mixture planning: temperature-reweighted source sampling at α=0.5
# (the multilingual-C4 / mT5 recipe: w_s ∝ p_s^α upsamples tail
# sources); token budget = 60% of the corpus.
_ALPHA_BUDGET = 0.6


@register(
    "q_corpus_mixture",
    oracle=f"""
    WITH per_src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ),
    -- sqrt weights in exact 1e-6 integer units so the normalizer Z is
    -- an order-independent BIGINT sum (cross-engine bit-identical)
    wtd AS (
      SELECT source, n_docs, n_tokens,
             CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000)
                  AS BIGINT) AS sq6
      FROM per_src
    ),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens,
             CAST(SUM(sq6) AS BIGINT) AS z
      FROM wtd
    )
    SELECT source, n_docs, n_tokens,
           ROUND(CAST(sq6 AS DOUBLE) / z, 6) AS weight,
           ROUND({_ALPHA_BUDGET} * corpus_tokens * sq6 / z, 2)
             AS target_tokens,
           ROUND({_ALPHA_BUDGET} * corpus_tokens * sq6 / z / n_tokens, 6)
             AS sampling_rate
    FROM wtd CROSS JOIN tot
    """,
)
def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture sampling plan: temperature-reweighted source
    weights (w_s ∝ tokens_s^0.5, the mT5/mC4 α-sampling recipe) and
    the per-source sampling rate that hits a 60%-of-corpus token
    budget.  A rate > 1 means the source repeats (epochs); < 1 means
    subsampling.

    One tiny aggregate per source (20 rows) joined against a 1-row
    corpus total — the planner output is driver-sized by definition,
    while the input scan is a single map pass over the corpus that
    Catalyst prunes to the two needed columns.  The plan's rates then
    drive a `TABLESAMPLE`/filter pass per source at training-set
    materialization time.
    """
    d = table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(tokens())).cast("bigint").alias("n_tokens"),
    )
    # sqrt weight in exact 1e-6 integer units → the normalizer Z is an
    # order-independent BIGINT sum (bit-identical to the oracle's).
    wtd = per_src.withColumn(
        "sq6",
        F.round(F.sqrt(F.col("n_tokens").cast("double")) * 1000000)
        .cast("bigint"),
    )
    tot = wtd.agg(
        F.sum("n_tokens").cast("bigint").alias("corpus_tokens"),
        F.sum("sq6").cast("bigint").alias("z"),
    )
    tgt = (
        F.lit(_ALPHA_BUDGET) * F.col("corpus_tokens") * F.col("sq6")
        / F.col("z")
    )
    return (
        wtd.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("sq6").cast("double") / F.col("z"), 6)
            .alias("weight"),
            F.round(tgt, 2).alias("target_tokens"),
            F.round(tgt / F.col("n_tokens"), 6).alias("sampling_rate"),
        )
    )


_DSIR_B = 64  # hashed feature buckets




@register(
    "q_corpus_dsir",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split(trim(text), ' ')) AS tok
      FROM documents
    ),
    feat AS (
      SELECT doc_id, lang,
             {_H32.format(x='tok')} % {_DSIR_B} AS bucket
      FROM toks WHERE tok <> ''
    ),
    raw_d AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS rc FROM feat GROUP BY 1
    ),
    tgt_d AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS tc
      FROM feat WHERE lang = 'en' GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(rc) AS BIGINT) AS rn,
             (SELECT CAST(SUM(tc) AS BIGINT) FROM tgt_d) AS tn
      FROM raw_d
    ),
    lr AS (
      SELECT r.bucket,
             CAST(ROUND(
               LN((COALESCE(t.tc, 0) + 1.0) / (tot.tn + {_DSIR_B}))
               - LN((r.rc + 1.0) / (tot.rn + {_DSIR_B})), 8)
               AS DECIMAL(20,8)) AS lr
      FROM raw_d r LEFT JOIN tgt_d t ON r.bucket = t.bucket
      CROSS JOIN tot
    ),
    scored AS (
      SELECT f.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_toks,
             SUM(lr.lr) AS imp
      FROM feat f JOIN lr ON f.bucket = lr.bucket
      GROUP BY f.doc_id
    )
    SELECT doc_id, n_toks,
           ROUND(CAST(imp AS DOUBLE), 6) AS importance
    FROM scored
    ORDER BY imp DESC, doc_id
    LIMIT 15
    """,
)
def q_corpus_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection via importance resampling (Xie et al.
    2023, arXiv:2302.03169): score every raw document by how much its
    hashed-unigram feature distribution looks like the TARGET domain
    (here: the ``lang='en'`` slice) vs the raw corpus — importance =
    Σ_tokens log(p_target(bucket)/p_raw(bucket)) with add-one
    smoothing over the 64-bucket hashed feature space.  Top-15 docs by
    importance are the ones a target-seeking sampler keeps first.

    Spark-first shape: tokens → portable md5 bucket → two tiny
    bucket-distribution aggregates (64 rows each) broadcast back onto
    the token stream — the big table is touched twice, joined only
    against broadcast sides, so the plan survives any corpus size.
    Log-ratios are rounded to DECIMAL(20,8) BEFORE the per-doc sum
    (order-independent); ranking compares exact decimals with doc_id
    tie-break.
    """
    # Round-10 optimization: the hashed-feature stream is consumed by
    # THREE independent subtrees (raw dist, target dist, the per-doc
    # score join), each of which re-ran tokenize+md5 on the
    # single-task scan; spread parallelizes the tokenize (guide §2.5)
    # and the localCheckpoint materializes the bucket stream once.
    # Measured at sf0.1 (warm): 4.9 s -> ~1.5 s, identical top-15.
    d = spread(
        table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        spark, sf_dir, "documents",
    )
    toks = d.select(
        "doc_id", "lang", F.explode(tokens()).alias("tok")
    ).filter(F.col("tok") != "")
    feat = toks.select(
        "doc_id",
        "lang",
        (F.expr(h32("tok")) % _DSIR_B).alias("bucket"),
    ).localCheckpoint()
    raw_d = feat.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("rc")
    )
    tgt_d = (
        feat.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("tc"))
    )
    tot = raw_d.agg(F.sum("rc").cast("bigint").alias("rn")).crossJoin(
        tgt_d.agg(F.sum("tc").cast("bigint").alias("tn"))
    )
    lr = (
        raw_d.join(tgt_d, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                F.log(
                    (F.coalesce(F.col("tc"), F.lit(0)) + 1.0)
                    / (F.col("tn") + _DSIR_B)
                )
                - F.log((F.col("rc") + 1.0) / (F.col("rn") + _DSIR_B)),
                8,
            )
            .cast("decimal(20,8)")
            .alias("lr"),
        )
    )
    scored = (
        feat.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_toks"),
            F.sum("lr").alias("imp"),
        )
    )
    return (
        scored.orderBy(F.col("imp").desc(), "doc_id")
        .limit(15)
        .select(
            "doc_id",
            "n_toks",
            F.round(F.col("imp").cast("double"), 6).alias("importance"),
        )
    )


@register(
    "q_corpus_gopher",
    oracle="""
    WITH feat AS (
      SELECT lang,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS nw,
             CAST(n_chars AS BIGINT) AS nc,
             CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS BIGINT)
               AS npunct,
             CASE WHEN lower(text) LIKE '% the %'
                    OR lower(text) LIKE '% and %'
                    OR lower(text) LIKE '% of %'
                    OR lower(text) LIKE '% to %'
                  THEN 1 ELSE 0 END AS has_stop
      FROM documents
    ),
    flags AS (
      SELECT lang,
        CASE WHEN nw BETWEEN 30 AND 100000 THEN 1 ELSE 0 END AS r_wc,
        CASE WHEN (CAST(nc - nw + 1 AS DOUBLE) / nw) BETWEEN 3 AND 10
             THEN 1 ELSE 0 END AS r_mwl,
        CASE WHEN CAST(npunct AS DOUBLE) / nw <= 0.2 THEN 1 ELSE 0 END
          AS r_sym,
        has_stop AS r_stop
      FROM feat
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(r_wc) AS BIGINT) AS pass_wordcount,
           CAST(SUM(r_mwl) AS BIGINT) AS pass_meanwordlen,
           CAST(SUM(r_sym) AS BIGINT) AS pass_symbolratio,
           CAST(SUM(r_stop) AS BIGINT) AS pass_stopwords,
           CAST(SUM(r_wc * r_mwl * r_sym * r_stop) AS BIGINT)
             AS pass_all
    FROM flags
    GROUP BY lang
    """,
)
def q_corpus_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021,
    arXiv:2112.11446 §A1.1, adapted to fixture scale): word-count
    bounds, mean-word-length ∈ [3,10], symbol-to-word ratio, and a
    stopword-presence check — reported as per-language pass counts per
    rule plus the all-rules pass rate, the triage table a curation run
    produces before committing to a filter config.

    Mean word length needs no second tokenizer pass: with single-space
    text it is (n_chars − nw + 1)/nw exactly.  All flags are integer;
    the ratios are fixed float comparisons (no accumulation), so the
    whole report is one map-side-combinable aggregate over the scan.
    """
    d = table(spark, sf_dir, "documents")
    nw = F.size(tokens()).cast("bigint")
    nc = F.col("n_chars").cast("bigint")
    npunct = F.size(
        F.expr("regexp_extract_all(text, '[.!?,;:]', 0)")
    ).cast("bigint")
    low = F.lower("text")
    has_stop = F.when(
        low.like("% the %")
        | low.like("% and %")
        | low.like("% of %")
        | low.like("% to %"),
        1,
    ).otherwise(0)
    feat = d.select(
        "lang",
        nw.alias("nw"),
        nc.alias("nc"),
        npunct.alias("npunct"),
        has_stop.alias("r_stop"),
    )
    mwl = (F.col("nc") - F.col("nw") + 1).cast("double") / F.col("nw")
    flags = feat.select(
        "lang",
        F.when(F.col("nw").between(30, 100000), 1).otherwise(0).alias("r_wc"),
        F.when(mwl.between(3, 10), 1).otherwise(0).alias("r_mwl"),
        F.when(
            F.col("npunct").cast("double") / F.col("nw") <= 0.2, 1
        )
        .otherwise(0)
        .alias("r_sym"),
        "r_stop",
    )
    return flags.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("r_wc").cast("bigint").alias("pass_wordcount"),
        F.sum("r_mwl").cast("bigint").alias("pass_meanwordlen"),
        F.sum("r_sym").cast("bigint").alias("pass_symbolratio"),
        F.sum("r_stop").cast("bigint").alias("pass_stopwords"),
        F.sum(
            F.col("r_wc") * F.col("r_mwl") * F.col("r_sym") * F.col("r_stop")
        )
        .cast("bigint")
        .alias("pass_all"),
    )


@register(
    "q_corpus_c4",
    oracle="""
    WITH flags AS (
      SELECT source,
        CASE WHEN text LIKE '%.' OR text LIKE '%!' OR text LIKE '%?'
             THEN 1 ELSE 0 END AS r_endpunct,
        CASE WHEN text NOT LIKE '%{%' AND text NOT LIKE '%}%'
             THEN 1 ELSE 0 END AS r_nobrace,
        CASE WHEN lower(text) NOT LIKE '%lorem ipsum%'
             THEN 1 ELSE 0 END AS r_nolorem,
        CASE WHEN len(regexp_extract_all(text, '[.!?]')) >= 3
             THEN 1 ELSE 0 END AS r_minsent,
        CASE WHEN lower(text) NOT LIKE '%javascript%'
             THEN 1 ELSE 0 END AS r_nojs
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(r_endpunct) AS BIGINT) AS pass_endpunct,
           CAST(SUM(r_nobrace) AS BIGINT) AS pass_nobrace,
           CAST(SUM(r_nolorem) AS BIGINT) AS pass_nolorem,
           CAST(SUM(r_minsent) AS BIGINT) AS pass_minsent,
           CAST(SUM(r_nojs) AS BIGINT) AS pass_nojs,
           CAST(SUM(r_endpunct * r_nobrace * r_nolorem * r_minsent
                    * r_nojs) AS BIGINT) AS pass_all
    FROM flags
    GROUP BY source
    """,
)
def q_corpus_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cleaning rules (Raffel et al. 2020, arXiv:1910.10683
    §2.2): terminal-punctuation ending, no curly braces (code/JSON
    leakage), no "lorem ipsum", ≥3 sentences, no "javascript" —
    reported per source as rule-level pass counts, the standard
    before/after audit a web-corpus clean emits.

    Pure predicate flags over one scan (LIKE + one bounded regex
    count), aggregated map-side; at 100 TB this is the shape you want
    — the filter itself never shuffles, only the 2-group report does.
    """
    d = table(spark, sf_dir, "documents")
    low = F.lower("text")
    flags = d.select(
        "source",
        F.when(
            F.col("text").like("%.")
            | F.col("text").like("%!")
            | F.col("text").like("%?"),
            1,
        )
        .otherwise(0)
        .alias("r_endpunct"),
        F.when(
            ~F.col("text").like("%{%") & ~F.col("text").like("%}%"), 1
        )
        .otherwise(0)
        .alias("r_nobrace"),
        F.when(~low.like("%lorem ipsum%"), 1).otherwise(0).alias("r_nolorem"),
        F.when(
            F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)")) >= 3, 1
        )
        .otherwise(0)
        .alias("r_minsent"),
        F.when(~low.like("%javascript%"), 1).otherwise(0).alias("r_nojs"),
    )
    return flags.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("r_endpunct").cast("bigint").alias("pass_endpunct"),
        F.sum("r_nobrace").cast("bigint").alias("pass_nobrace"),
        F.sum("r_nolorem").cast("bigint").alias("pass_nolorem"),
        F.sum("r_minsent").cast("bigint").alias("pass_minsent"),
        F.sum("r_nojs").cast("bigint").alias("pass_nojs"),
        F.sum(
            F.col("r_endpunct")
            * F.col("r_nobrace")
            * F.col("r_nolorem")
            * F.col("r_minsent")
            * F.col("r_nojs")
        )
        .cast("bigint")
        .alias("pass_all"),
    )


@register(
    "q_corpus_token_budget",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_toks,
             CAST(len(list_distinct(string_split(trim(text), ' ')))
                  AS DOUBLE)
               / len(string_split(trim(text), ' ')) AS ttr
      FROM documents
    ),
    tot AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS total FROM d),
    r AS (
      SELECT doc_id, lang, n_toks, ttr,
             CAST(SUM(n_toks) OVER (ORDER BY ttr DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_toks AS BIGINT) AS start_tok
      FROM d
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS tokens_selected,
           ROUND(MIN(ttr), 6) AS min_ttr
    FROM r CROSS JOIN tot
    WHERE start_tok < total // 4
    GROUP BY lang
    """,
)
def q_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation: fill 25% of the corpus's token budget
    with the highest-type-token-ratio documents — the "pick the best
    N tokens, not the best N documents" selection every pretraining
    mix does once a quality score exists.

    Greedy-by-rank is expressed as a windowed running sum over the
    (ttr DESC, doc_id) total order: a document is selected iff its
    START offset lies inside the budget, so exactly one document
    straddles the boundary and selection is a deterministic prefix —
    no driver-side loop.  TTR is an exact integer ratio computed
    identically in both engines, so the global order (and hence the
    prefix) is engine-independent.  At 100 TB the global sort is a
    range-partitioned TakeOrdered-style shuffle on (ttr, doc_id);
    the running sum then needs only per-partition offsets (partial
    sums of each range partition — the classic distributed prefix-sum
    two-pass), which Spark's window over an un-partitioned frame
    computes with a single-partition final pass over pre-aggregated
    range chunks; for the fixture scale the direct window is used.
    """
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    feats = d.select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("n_toks"),
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks)
        ).alias("ttr"),
    )
    total = feats.agg(F.sum("n_toks").cast("bigint").alias("total"))
    w = W.orderBy(F.col("ttr").desc(), "doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    ranked = feats.withColumn(
        "start_tok",
        (F.sum("n_toks").over(w) - F.col("n_toks")).cast("bigint"),
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .filter(F.col("start_tok") < F.expr("total div 4"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("tokens_selected"),
            F.round(F.min("ttr"), 6).alias("min_ttr"),
        )
    )


# Per-source document cap (RefinedWeb/FineWeb-style "domain cap"):
# keep at most this many documents from any one source.
_SOURCE_CAP = 15


@register(
    "q_corpus_source_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT source, n_chars,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rn <= {_SOURCE_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn > {_SOURCE_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN rn <= {_SOURCE_CAP} THEN n_chars
                    ELSE 0 END) AS BIGINT) AS kept_chars
    FROM ranked
    GROUP BY source
    """,
)
def q_corpus_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap — the "domain cap" every production web
    corpus applies (RefinedWeb, Penedo et al. 2023, arXiv:2306.01116
    §3.4 caps URLs per domain; C4 and FineWeb do the same) so that a
    handful of mirror-heavy hosts cannot dominate the training
    mixture.  Keeps the top {_SOURCE_CAP} documents per source by
    length (doc_id tiebreak — deterministic survivor, same discipline
    as q_dedup_exact) and reports the kept/dropped budget per source.

    Scale shape: one shuffle on source, rank + filter inside the
    partition.  The rn <= K predicate is exactly the
    WindowGroupLimit-pushdown shape (see q_win_topk), so executors
    keep a bounded K-row heap per source instead of materializing the
    full partition sort at 100 TB.  Skewed sources (one domain = half
    the crawl) are the realistic hazard: AQE skew-split handles the
    rank stage because row_number needs only a per-source sort, not
    co-location of the whole source in one task after the cap.
    """
    d = table(spark, sf_dir, "documents")
    rn = F.row_number().over(
        W.partitionBy("source").orderBy(
            F.col("n_chars").desc(), "doc_id"
        )
    )
    kept = F.col("rn") <= _SOURCE_CAP
    return (
        d.select("source", "n_chars", "doc_id")
        .withColumn("rn", rn.cast("bigint"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(kept, 0).otherwise(1))
            .cast("bigint")
            .alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
    )


@register(
    "q_corpus_epoch_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             {{h}} AS k
      FROM documents
    ),
    placed AS (
      SELECT doc_id, k,
             k % 8 AS shard_id,
             CAST(row_number() OVER (ORDER BY k, doc_id)
                  AS BIGINT) AS pos
      FROM keyed
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(pos) AS first_pos,
           MAX(pos) AS last_pos,
           CAST(SUM(pos * doc_id) AS BIGINT) AS order_fingerprint
    FROM placed
    GROUP BY shard_id
    """.format(h=_H32.format(x="concat('e7|', CAST(doc_id AS VARCHAR))")),
)
def q_corpus_epoch_shuffle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic epoch shuffle — the reproducible global
    permutation a training run applies to the corpus each epoch
    (seeded shuffle, cf. T5/Megatron data loaders: same seed ⇒ same
    sample order on every restart and every worker).  Each document's
    sort key is a portable hash of ``'e7|' + doc_id`` (epoch 7), the
    permutation is the rank under that key, and documents land in
    ``hash % 8`` shards; the manifest reports per-shard counts plus
    an order-sensitive fingerprint (Σ pos·doc_id) so two runs can
    assert bit-identical ordering without comparing full lists.

    Scale shape: no rand() (non-reproducible across retries and
    engines) and no global sort at 100 TB — the hash key is uniform,
    so rank assignment distributes as range-partition on k with
    per-partition offsets (the same two-pass prefix pattern as
    q_corpus_shards); here the single window states the semantics.
    """
    d = table(spark, sf_dir, "documents")
    k = F.expr(
        h32("concat('e7|', CAST(doc_id AS STRING))")
    )
    placed = d.select("doc_id", k.alias("k")).select(
        "doc_id",
        "k",
        (F.col("k") % 8).alias("shard_id"),
        F.row_number()
        .over(W.orderBy("k", "doc_id"))
        .cast("bigint")
        .alias("pos"),
    )
    return placed.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("pos").alias("first_pos"),
        F.max("pos").alias("last_pos"),
        F.sum(F.col("pos") * F.col("doc_id"))
        .cast("bigint")
        .alias("order_fingerprint"),
    )


# RAG / context-window chunking: 32-token windows, stride 24 (8-token
# overlap) — the standard retrieval-corpus preparation step between
# "curated documents" and "indexed passages".
_CHUNK_W = 32
_CHUNK_S = 24


@register(
    "q_corpus_chunk",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks,
             len(string_split(trim(text), ' ')) AS n
      FROM documents
    ),
    sized AS (
      SELECT doc_id, toks,
             1 + (greatest(n - {_CHUNK_W}, 0) + {_CHUNK_S - 1})
                 // {_CHUNK_S} AS m
      FROM base
    ),
    ex AS (
      SELECT doc_id, toks, unnest(range(0, m)) AS k FROM sized
    )
    SELECT doc_id,
           CAST(k AS BIGINT) AS chunk_id,
           CAST(k * {_CHUNK_S} + 1 AS BIGINT) AS start_tok,
           CAST(len(list_slice(toks, k * {_CHUNK_S} + 1,
                               k * {_CHUNK_S} + {_CHUNK_W}))
                AS INT) AS n_chunk_toks,
           array_to_string(
             list_slice(toks, k * {_CHUNK_S} + 1,
                        k * {_CHUNK_S} + {_CHUNK_W}), ' ') AS chunk_text
    FROM ex
    """,
)
def q_corpus_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (RAG indexing prep): split
    every document into {W}-token chunks with a {S}-token stride
    ({O}-token overlap so no answer span is cut at a boundary), the
    step that turns a curated corpus into retrievable passages.

    Chunk count per doc is ``1 + ceil(max(n-W, 0) / S)`` computed with
    integer arithmetic (identical in both engines); chunk k covers
    1-based token positions ``[k·S+1, k·S+W]`` via ``slice`` /
    ``list_slice`` (both clamp at the end of the list, so the final
    chunk is simply shorter — never padded, never dropped).  Output is
    one row per chunk with the chunk text re-joined to a plain string
    (canon-safe; tokens are space-delimited so the join round-trips).

    Scale shape: embarrassingly parallel — tokenize + sequence +
    explode all stay inside whole-stage codegen with NO shuffle at
    all; output partitioning inherits the scan.  At 100 TB the only
    knob that matters is output file sizing (chunks ≈ n/S ≈ 1.3×
    input rows; repartition by range(doc_id) before the sink to keep
    shard sizes even — cf. q_corpus_shards).
    """
    d = table(spark, sf_dir, "documents")
    t = tokens()
    n = F.size(t)
    m = F.lit(1) + F.floor(
        (F.greatest(n - _CHUNK_W, F.lit(0)) + (_CHUNK_S - 1)) / _CHUNK_S
    ).cast("int")
    ex = d.select(
        "doc_id",
        t.alias("toks"),
        F.explode(F.sequence(F.lit(0), m - 1)).alias("k"),
    )
    start = F.col("k") * _CHUNK_S + 1
    chunk = F.slice("toks", start, F.lit(_CHUNK_W))
    return ex.select(
        "doc_id",
        F.col("k").cast("bigint").alias("chunk_id"),
        start.cast("bigint").alias("start_tok"),
        F.size(chunk).alias("n_chunk_toks"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


q_corpus_chunk.__doc__ = q_corpus_chunk.__doc__.format(
    W=_CHUNK_W, S=_CHUNK_S, O=_CHUNK_W - _CHUNK_S
)


# MLM / denoising mask rate (percent of token positions).
_MASK_PCT = 15

# Lehmer-style positional mask from ONE md5-derived per-document seed.
# flag(i) for 1-based position i:
#   t = ((seed % p) + i * 2654435761) % p        -- p = 2^31 - 1
#   flag = ((t * 48271) % p) % 100 < MASK_PCT    -- Lehmer / MINSTD mix
# All intermediates stay under 2^62 (t < 2^31, multiplier 48271 < 2^16),
# so the arithmetic is exact BIGINT in both engines (DuckDB raises on
# BIGINT overflow; Spark wraps — identical here because neither path
# overflows for documents up to ~3.4e9 tokens).  One md5 per DOCUMENT
# replaces round 2's one md5 per TOKEN (which itself replaced 16/token):
# the per-position cost drops to four integer ops.  Measured at 100x
# amplification (50M tokens): Spark side 4.22 s -> 3.17 s (the residue
# is output-string building, not hashing); the DuckDB oracle template,
# which must inline the digest-decode per call site, drops from 16
# md5 calls per token to 16 per document — the parity check at 100x
# goes from ~250 s to single-digit seconds.
_MASK_FLAG = (
    "((((seed % 2147483647) + {i} * 2654435761) % 2147483647)"
    f" * 48271) % 2147483647 % 100 < {_MASK_PCT}"
)


def _mask_oracle() -> str:
    flag = _MASK_FLAG.format(i="i")
    return f"""
    WITH base AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks,
             md5(CAST(doc_id AS VARCHAR)) AS dg
      FROM documents
    ),
    seeded AS (
      SELECT doc_id, toks, {_H32_DG.format(d='dg')} AS seed
      FROM base
    )
    SELECT doc_id,
           array_to_string(
             list_transform(range(1, len(toks) + 1), i ->
               CASE WHEN {flag} THEN '<MASK>'
                    ELSE toks[CAST(i AS INT)] END), ' ') AS masked_text,
           COALESCE(array_to_string(
             list_filter(
               list_transform(range(1, len(toks) + 1), i ->
                 CASE WHEN {flag}
                      THEN concat(CAST(i AS VARCHAR), ':',
                                  toks[CAST(i AS INT)]) END),
               t -> t IS NOT NULL), ' '), '') AS targets,
           CAST(len(list_filter(range(1, len(toks) + 1),
                                i -> {flag}))
                AS INT) AS n_masked
    FROM seeded
    """


def _register_mask() -> None:
    # Decode the stored per-doc digest to the 32-bit seed once, then
    # each position is pure integer math inside one codegen stage.
    flags_expr = (
        "transform(sequence(1, size(toks)), i -> "
        + _MASK_FLAG.format(i="i")
        + ")"
    )
    seed_expr = h32_of_digest("dg")

    @register("q_corpus_mask", oracle=_mask_oracle())
    def q_corpus_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Deterministic MLM-style token masking (pretraining sample
    prep): mask ~15%% of token positions per document — one
    md5-derived 32-bit seed per document, then a Lehmer/MINSTD
    integer mix per position (see ``_MASK_FLAG``) — emitting the
    corrupted text plus the ``pos:token`` recovery targets (the
    BERT/T5-denoising input pair).  Hash-seeded masking (not rand())
    means every engine, retry, and epoch-worker derives the identical
    mask — the reproducibility property data loaders actually need.

    Scale shape: pure scan-side higher-order functions (transform /
    filter over the token array) — zero shuffle, zero Python; the
    whole operator is one codegen stage and parallelism is exactly
    input-split parallelism at any corpus size.  Hash cost is one md5
    per DOCUMENT (stored digest, digit-decoded once); each position is
    four BIGINT ops inside the lambda, and both output lambdas index
    into the precomputed flags array.
    """
        d = (
            table(spark, sf_dir, "documents")
            .withColumn("toks", tokens())
            .withColumn("dg", F.md5(F.col("doc_id").cast("string")))
            .withColumn("seed", F.expr(seed_expr))
            .withColumn("flags", F.expr(flags_expr))
        )
        masked = F.expr(
            "transform(toks, (x, i) -> CASE WHEN flags[i] "
            "THEN '<MASK>' ELSE x END)"
        )
        targets = F.expr(
            "filter(transform(toks, (x, i) -> CASE WHEN flags[i] "
            "THEN concat(CAST(i + 1 AS STRING), ':', x) END), "
            "t -> t IS NOT NULL)"
        )
        return d.select(
            "doc_id",
            F.array_join(masked, " ").alias("masked_text"),
            # symmetric NULL guard: the oracle COALESCEs targets to ''
            # — on a NULL text Spark's array_join(NULL) is NULL, so
            # coalesce here too (latent until a fixture carries NULL
            # text; same class as the round-3 dtype asymmetries)
            F.coalesce(F.array_join(targets, " "), F.lit("")).alias(
                "targets"
            ),
            F.size(targets).alias("n_masked"),
        )


_register_mask()


# Span-corruption flag: same exact-BIGINT Lehmer mix as _MASK_FLAG but
# over BLOCK indices (+101 salt so the chosen spans differ from the
# token-level mask's choices on the same document).  Bounds identical
# to the mask note above: exact in both engines for any realistic doc.
_SPAN_PCT = 15
_SPAN_FLAG = (
    "((((seed % 2147483647) + ({b} + 101) * 2654435761) % 2147483647)"
    f" * 48271) % 2147483647 % 100 < {_SPAN_PCT}"
)


def _register_span_corrupt() -> None:
    seed_expr = h32_of_digest("dg")

    def k_spark(b: str) -> str:
        inner = _SPAN_FLAG.format(b="bb")
        return (
            f"CASE WHEN {b} = 0 THEN 0 ELSE "
            f"size(filter(sequence(0, {b} - 1), bb -> {inner})) END"
        )

    def k_duck(b: str) -> str:
        inner = _SPAN_FLAG.format(b="bb")
        return (
            f"CASE WHEN {b} = 0 THEN 0 ELSE "
            f"len(list_filter(range(0, {b}), bb -> {inner})) END"
        )

    flag_b = _SPAN_FLAG.format(b="b")
    spark_corrupted = (
        "array_join(transform(sequence(0, nb - 1), b -> "
        f"CASE WHEN {flag_b} THEN "
        f"concat('<extra_id_', CAST({k_spark('b')} AS STRING), '>') "
        "ELSE array_join(slice(toks, b * 3 + 1, 3), ' ') END), ' ')"
    )
    spark_targets = (
        "array_join(transform("
        f"filter(sequence(0, nb - 1), b -> {flag_b}), b -> "
        f"concat('<extra_id_', CAST({k_spark('b')} AS STRING), '>', ' ', "
        "array_join(slice(toks, b * 3 + 1, 3), ' '))), ' ')"
    )
    spark_nspans = (
        f"CAST(size(filter(sequence(0, nb - 1), b -> {flag_b})) AS INT)"
    )
    duck_oracle = f"""
    WITH base AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks,
             md5(CAST(doc_id AS VARCHAR)) AS dg
      FROM documents
    ),
    seeded AS (
      SELECT doc_id, toks, (len(toks) + 2) // 3 AS nb,
             {_H32_DG.format(d='dg')} AS seed
      FROM base
    )
    SELECT doc_id,
           array_to_string(list_transform(range(0, nb), b ->
             CASE WHEN {flag_b}
                  THEN concat('<extra_id_',
                              CAST({k_duck('b')} AS VARCHAR), '>')
                  ELSE array_to_string(
                         toks[(b * 3 + 1):(b * 3 + 3)], ' ')
             END), ' ') AS corrupted_text,
           COALESCE(array_to_string(list_transform(
             list_filter(range(0, nb), b -> {flag_b}), b ->
               concat('<extra_id_', CAST({k_duck('b')} AS VARCHAR),
                      '>', ' ',
                      array_to_string(
                        toks[(b * 3 + 1):(b * 3 + 3)], ' '))), ' '),
             '') AS targets,
           CAST(len(list_filter(range(0, nb), b -> {flag_b}))
                AS INT) AS n_spans
    FROM seeded
    """

    @register("q_corpus_span_corrupt", oracle=duck_oracle)
    def q_corpus_span_corrupt(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """T5-style span corruption (Raffel et al. 2020): the document
        is cut into fixed 3-token blocks; a deterministic hash-seeded
        Lehmer draw (same exact-integer mix as q_corpus_mask, block
        -granular, +101 salt) corrupts ~15% of blocks; each corrupted
        block is replaced by an ordinal `<extra_id_k>` sentinel in the
        input and emitted as `<extra_id_k> tok…` in the target — the
        seq-to-seq denoising objective's data layout.

        rand()-free: a task retry reproduces the same spans (the
        q_corpus_mask discipline).  Shuffle-free scan-side plan; the
        ordinal k is recomputed per block as |{{b' < b : flag(b')}}| —
        O(blocks²) per document in pure codegen integer math, chosen
        over a window (which would force a doc-keyed shuffle of every
        token) because blocks ≈ tokens/3 per document is bounded by
        document length, not corpus size.
        """
        d = table(spark, sf_dir, "documents").select("doc_id", "text")
        return (
            d.withColumn("dg", F.md5(F.col("doc_id").cast("string")))
            .withColumn("seed", F.expr(seed_expr))
            .withColumn("toks", tokens("text"))
            .withColumn("nb", F.expr("(size(toks) + 2) div 3"))
            .select(
                "doc_id",
                F.expr(spark_corrupted).alias("corrupted_text"),
                # coalesce mirrors the oracle's COALESCE: with no
                # corrupted block the filtered array is EMPTY (join
                # '' both engines), but a NULL text nulls the whole
                # array — Spark array_join(NULL) is NULL where the
                # oracle's COALESCE says '' (symmetric-guard rule)
                F.coalesce(F.expr(spark_targets), F.lit("")).alias(
                    "targets"
                ),
                F.expr(spark_nspans).alias("n_spans"),
            )
        )


_register_span_corrupt()


_SEM_TAU = 0.35  # matches q_sim_threshold's fixture-calibrated τ


@register(
    "q_dedup_semantic",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    pairs AS (
      SELECT a.label, a.vec_id AS ka, b.vec_id AS dup,
             ROUND(list_cosine_similarity(a.v, b.v), 6) AS c
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= {_SEM_TAU}
    ),
    pick AS (
      SELECT label, dup, ka, c,
             row_number() OVER (PARTITION BY dup ORDER BY ka) AS rn
      FROM pairs
    )
    SELECT CAST(dup AS BIGINT) AS vec_id, label,
           CAST(ka AS BIGINT) AS keeper_id, c AS cos_to_keeper
    FROM pick WHERE rn = 1
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style clustered semantic dedup: pairwise cosine is
    evaluated ONLY within a cluster (here the `label` column stands in
    for the k-means assignment — q_ml_kmeans / q_sim_nearest_centroid
    exhibit the real clustering step, whose float iteration is not
    cross-engine-reproducible); a vector is dropped when some
    lower-id same-cluster vector sits within cosine ≥ τ, and the
    emitted manifest names its minimum-id keeper plus the cosine to
    that keeper.

    This is the Abbas et al. 2023 (SemDeDup) shape: cluster first,
    then dedup inside clusters.  Scale: the self-join is equi-keyed
    on the cluster id, so pair work is Σ|cluster|² — bounded by
    capping cluster size at the k-means stage — instead of the O(n²)
    global join; each cluster's pairs co-locate in one task after the
    hash partition on `label`.  Cosines run through the Arrow
    vectorized pairwise kernel (`_cos_udf`), rounded to 6 dp on the
    JVM side before the τ test and the keeper pick, so the survivor
    set is deterministic and engine-identical.
    """
    from .similarity import _cos_udf

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    a = e.select(
        "label",
        F.col("vec_id").alias("ka"),
        F.col("embedding").alias("va_vec"),
    )
    b = e.select(
        F.col("label").alias("lb"),
        F.col("vec_id").alias("dup"),
        F.col("embedding").alias("vb_vec"),
    )
    cos = _cos_udf()
    pairs = (
        a.join(b, (a.label == F.col("lb")) & (F.col("ka") < F.col("dup")))
        .select(
            "label",
            "ka",
            "dup",
            F.round(cos("va_vec", "vb_vec"), 6).alias("c"),
        )
        .filter(F.col("c") >= _SEM_TAU)
    )
    w = W.partitionBy("dup").orderBy("ka")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("dup").alias("vec_id"),
            "label",
            F.col("ka").alias("keeper_id"),
            F.col("c").alias("cos_to_keeper"),
        )
    )


@register(
    "q_corpus_funnel",
    oracle="""
    WITH {pairs_cte},
    dups AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
    fl AS (
      SELECT d.doc_id,
        (d.doc_id = MIN(d.doc_id) OVER (PARTITION BY d.text)) AS ek,
        ((d.text LIKE '%.' OR d.text LIKE '%!' OR d.text LIKE '%?')
         AND d.text NOT LIKE '%{{%' AND d.text NOT LIKE '%}}%'
         AND lower(d.text) NOT LIKE '%lorem ipsum%'
         AND len(regexp_extract_all(d.text, '[.!?]')) >= 3
         AND lower(d.text) NOT LIKE '%javascript%') AS c4,
        (len(string_split(trim(d.text), ' ')) BETWEEN 30 AND 100000
         AND (CAST(d.n_chars
                   - len(string_split(trim(d.text), ' ')) + 1 AS DOUBLE)
              / len(string_split(trim(d.text), ' '))) BETWEEN 3 AND 10
         AND CAST(len(regexp_extract_all(d.text, '[.!?,;:]')) AS DOUBLE)
             / len(string_split(trim(d.text), ' ')) <= 0.2
         AND (lower(d.text) LIKE '% the %' OR lower(d.text) LIKE '% and %'
              OR lower(d.text) LIKE '% of %' OR lower(d.text) LIKE '% to %'))
          AS gopher,
        (dups.doc_id IS NULL) AS nk
      FROM documents d LEFT JOIN dups ON dups.doc_id = d.doc_id
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN ek THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN ek AND c4 THEN 1 ELSE 0 END) AS BIGINT)
               AS n2,
             CAST(SUM(CASE WHEN ek AND c4 AND gopher THEN 1 ELSE 0 END)
               AS BIGINT) AS n3,
             CAST(SUM(CASE WHEN ek AND c4 AND gopher AND nk
                      THEN 1 ELSE 0 END) AS BIGINT) AS n4
      FROM fl
    )
    SELECT CAST(1 AS BIGINT) AS stage_id, 'exact_dedup' AS stage,
           n0 AS n_in, n0 - n1 AS n_dropped, n1 AS n_out FROM agg
    UNION ALL SELECT 2, 'c4_filters', n1, n1 - n2, n2 FROM agg
    UNION ALL SELECT 3, 'gopher_filters', n2, n2 - n3, n3 FROM agg
    UNION ALL SELECT 4, 'near_dedup', n3, n3 - n4, n4 FROM agg
    """.format(pairs_cte=_DEDUP_PAIRS_CTE),
)
def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel report: the survivor counts a corpus build
    emits after each pipeline stage — exact dedup → C4 cleaning →
    Gopher quality rules → 3-shingle near-dup removal — as
    (stage, n_in, n_dropped, n_out) rows.  This is the one table a
    100 TB data run is judged by ("we started with X docs and
    shipped Y"), and the per-stage drop attribution is what makes a
    filter-config change reviewable.

    Stage flags are computed independently per document in ONE pass
    over the corpus (the near-dup flag's candidate universe is the
    full corpus, matching production where dedup consults the whole
    index), then sequentially conjoined, so stage k's n_in is exactly
    stage k-1's n_out.  All counts are exact integers.

    Scale: the text-rule flags are shuffle-free predicates on the
    scan; exact-dedup keeps one hash partition by text (the
    q_dedup_exact shape); the near-dup flag joins against the
    LSH-candidate pair set at production scale (here the exact
    inverted-index pairs, for oracle parity).  The final funnel is a
    4-row arithmetic unpivot of a single aggregate row.
    """
    from .dedup import jaccard_pairs

    d = table(spark, sf_dir, "documents")
    ek = F.col("doc_id") == F.min("doc_id").over(
        W.partitionBy("text")
    )
    low = F.lower("text")
    c4 = (
        (
            F.col("text").like("%.")
            | F.col("text").like("%!")
            | F.col("text").like("%?")
        )
        & ~F.col("text").like("%{%")
        & ~F.col("text").like("%}%")
        & ~low.like("%lorem ipsum%")
        & (F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)")) >= 3)
        & ~low.like("%javascript%")
    )
    nw = F.size(tokens()).cast("bigint")
    mwl = (F.col("n_chars") - nw + 1).cast("double") / nw
    npunct = F.size(
        F.expr("regexp_extract_all(text, '[.!?,;:]', 0)")
    ).cast("bigint")
    gopher = (
        nw.between(30, 100000)
        & mwl.between(3, 10)
        & (npunct.cast("double") / nw <= 0.2)
        & (
            low.like("% the %")
            | low.like("% and %")
            | low.like("% of %")
            | low.like("% to %")
        )
    )
    dups = (
        jaccard_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    fl = (
        d.withColumn("ek", ek)
        .withColumn("c4", c4)
        .withColumn("gopher", gopher)
        .join(dups, "doc_id", "left")
        .withColumn("nk", F.col("is_dup").isNull())
    )
    b = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    agg = fl.agg(
        F.count("*").cast("bigint").alias("n0"),
        b(F.col("ek")).alias("n1"),
        b(F.col("ek") & F.col("c4")).alias("n2"),
        b(F.col("ek") & F.col("c4") & F.col("gopher")).alias("n3"),
        b(
            F.col("ek") & F.col("c4") & F.col("gopher") & F.col("nk")
        ).alias("n4"),
    )

    def _stage(i: int, name: str, nin: str, nout: str):
        return F.struct(
            F.lit(i).cast("bigint").alias("stage_id"),
            F.lit(name).alias("stage"),
            F.col(nin).alias("n_in"),
            (F.col(nin) - F.col(nout)).alias("n_dropped"),
            F.col(nout).alias("n_out"),
        )

    return agg.select(
        F.explode(
            F.array(
                _stage(1, "exact_dedup", "n0", "n1"),
                _stage(2, "c4_filters", "n1", "n2"),
                _stage(3, "gopher_filters", "n2", "n3"),
                _stage(4, "near_dedup", "n3", "n4"),
            )
        ).alias("s")
    ).select("s.*")
