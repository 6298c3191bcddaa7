"""Text analysis operators (SURVEY.md §2.10 SQL-checkable half +
§2.11 quality filters).

This is the reference's own NLP core re-expressed declaratively: the
MorphL search-intent pipeline tokenizes keyword text, removes
stopwords, and derives frequency features before classification
(SURVEY.md §1.1/§2.10 [K]).  Everything here is built-in Spark SQL
functions — JVM-side, whole-stage-codegen — no Python UDFs; the MLlib
mirror stages (Tokenizer/StopWordsRemover/NGram) live in ml/pipeline.py
with rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.exact import davg
from ..io import spread, table
from ..registry import register

# Small function-word stoplist over the fixture vocabulary.
STOPWORDS = ("the", "a", "of", "to", "and")

LANG_ALLOW = ("en", "de", "es", "fr")


def tokens(col: F.Column = None) -> F.Column:
    """Canonical tokenizer: trim then split on single spaces (the
    fixture corpus is single-space separated; trailing blanks exist)."""
    c = F.col("text") if col is None else col
    return F.split(F.trim(c), " ")


def ngrams(toks: F.Column, n: int) -> F.Column:
    """Positional word n-grams of a token array, joined by single
    spaces: ``k - n + 1`` of them for ``k`` tokens, none below ``n``
    (the guard is needed because ``sequence(1, m)`` with m ≤ 0 runs
    descending).  Set consumers wrap it in ``array_distinct``; row
    consumers ``explode`` it.

    ``toks`` must be a column reference to a projected ``tokens()``:
    a ``tokens()`` expression placed inside the lambda is re-evaluated
    per element, O(k²) per document.  A filter on a column built from
    the result is pushed below that projection with the same effect;
    filter on ``size(toks)`` instead."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


@register(
    "q_text_tokenize",
    oracle="""
    SELECT doc_id, lang,
           array_to_string(string_split(trim(text), ' '), '␟') AS toks,
           CAST(len(string_split(trim(text), ' ')) AS INT) AS n_toks
    FROM documents
    """,
)
def q_text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization (the pipeline's first stage).

    The token list is serialized with a U+241F unit-separator join
    before returning: the driver canonicalizes results through a pandas
    sort, which cannot hash array cells (round-1 ERR).  The separator
    cannot occur in the fixture text, so the string round-trips the
    exact list (order + duplicates preserved)."""
    d = table(spark, sf_dir, "documents")
    t = tokens()
    return d.select(
        "doc_id",
        "lang",
        F.array_join(t, "␟").alias("toks"),
        F.size(t).alias("n_toks"),
    )


@register(
    "q_text_stopwords",
    oracle=f"""
    SELECT doc_id,
           array_to_string(
             list_filter(string_split(trim(text), ' '),
                         w -> NOT list_contains({list(STOPWORDS)!r}, w)),
             '␟') AS content_toks,
           CAST(len(list_filter(string_split(trim(text), ' '),
                    w -> NOT list_contains({list(STOPWORDS)!r}, w))) AS INT) AS n_content
    FROM documents
    """,
)
def q_text_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword removal via a higher-order filter (keeps duplicates
    and order, unlike array_except which dedups — that distinction is
    load-bearing for downstream term frequencies).  Output list is
    ␟-joined for driver canonicalization safety (see q_text_tokenize)."""
    d = table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(w) for w in STOPWORDS])
    filtered = F.filter(
        tokens(), lambda w: ~F.array_contains(stop, w)
    )
    return d.select(
        "doc_id",
        F.array_join(filtered, "␟").alias("content_toks"),
        F.size(filtered).alias("n_content"),
    )


@register(
    "q_text_wordcount",
    oracle="""
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(trim(text), ' ')) AS word
          FROM documents)
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
)
def q_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequency, top-20 (B9).

    explode → hash aggregate; partial aggregation collapses each
    partition to its vocabulary before the shuffle, so 100 TB of text
    shuffles |vocab|·partitions rows, not |tokens|.
    """
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(20)
    )


@register(
    "q_text_ngrams",
    oracle="""
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT unnest(list_transform(
               range(1, len(string_split(trim(text), ' '))),
               i -> string_split(trim(text), ' ')[i] || ' ' ||
                    string_split(trim(text), ' ')[i + 1])) AS bigram
      FROM documents)
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def q_text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-gram extraction + top-20 frequency.

    Bigrams are built positionally by :func:`ngrams` (JVM-side; the
    MLlib NGram stage is the rows-only twin in ml/pipeline.py).
    """
    d = table(spark, sf_dir, "documents").select(
        tokens().alias("toks")
    )
    return (
        d.select(F.explode(ngrams(F.col("toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


@register(
    "q_text_stats",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(27,6))) AS DOUBLE)
             / COUNT(n_chars) AS avg_chars,
           CAST(SUM(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_consistent,
           CAST(SUM(CAST(
             CAST(len(list_distinct(string_split(trim(text), ' '))) AS DOUBLE)
             / len(string_split(trim(text), ' ')) AS DECIMAL(27,6)))
             AS DOUBLE) / COUNT(*) AS avg_ttr
    FROM documents
    GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document statistics: doc counts, average length,
    metadata consistency (n_chars == length(text)), and mean
    type-token ratio."""
    d = table(spark, sf_dir, "documents")
    t = tokens()
    ttr = F.size(F.array_distinct(t)).cast("double") / F.size(t)
    return (
        d.withColumn("ttr", ttr)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            davg("n_chars", "avg_chars"),
            F.sum(
                F.when(F.col("n_chars") == F.length("text"), 1).otherwise(0)
            ).alias("n_consistent"),
            davg("ttr", "avg_ttr"),
        )
    )


@register(
    "q_text_quality",
    oracle=f"""
    SELECT doc_id, lang, n_chars,
           CAST(len(string_split(trim(text), ' ')) AS INT) AS n_toks,
           ROUND(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
                 / length(text), 6) AS alpha_ratio
    FROM documents
    WHERE n_chars BETWEEN 150 AND 600
      AND lang IN {LANG_ALLOW!r}
      AND len(string_split(trim(text), ' ')) >= 25
      AND CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
          / length(text) >= 0.7
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style quality filter: length bounds, language allow-list,
    minimum token count, alphabetic-character ratio.

    All predicates are JVM expressions; at 100 TB this is a single
    scan-side filter with no shuffle at all.
    """
    d = table(spark, sf_dir, "documents")
    t = tokens()
    alpha = F.length(
        F.regexp_replace(F.col("text"), "[^a-z]", "")
    ).cast("double") / F.length("text")
    return (
        d.withColumn("n_toks", F.size(t))
        .withColumn("alpha_ratio_raw", alpha)
        .filter(
            F.col("n_chars").between(150, 600)
            & F.col("lang").isin(*LANG_ALLOW)
            & (F.col("n_toks") >= 25)
            & (F.col("alpha_ratio_raw") >= 0.7)
        )
        .select(
            "doc_id",
            "lang",
            "n_chars",
            "n_toks",
            F.round(F.col("alpha_ratio_raw"), 6).alias("alpha_ratio"),
        )
    )


@register(
    "q_text_langid",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(trim(text), ' '),
                  w -> list_contains(['the','a','of','to','and'], w)))
                  AS DOUBLE)
               / len(string_split(trim(text), ' ')) AS en_score
      FROM documents
    )
    SELECT doc_id, lang,
           ROUND(en_score, 6) AS en_score,
           CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'other' END AS pred_lang
    FROM scored
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: English function-word density.

    A real n-gram language model is a per-language score table joined
    against character shingles; the fixture corpus shares one
    vocabulary across langs, so the operator demonstrates the
    shape (score → argmax bucket) with a stopword-density feature.
    """
    d = table(spark, sf_dir, "documents")
    t = tokens()
    stop = F.array(*[F.lit(w) for w in STOPWORDS])
    en_score = F.size(
        F.filter(t, lambda w: F.array_contains(stop, w))
    ).cast("double") / F.size(t)
    return d.select(
        "doc_id",
        "lang",
        F.round(en_score, 6).alias("en_score"),
        F.when(en_score >= 0.05, "en").otherwise("other").alias("pred_lang"),
    )


# BPE-ish lexer: alpha runs capped at 6 chars (subword splits), each
# digit its own token, any other non-space char its own token.  POSIX-
# simple on purpose — identical semantics under Java regex and DuckDB's
# RE2 (SURVEY.md §5.2 dialect pitfall).
_BPE_RE = "[A-Za-z]{1,6}|[0-9]|[^A-Za-z0-9 ]"


@register(
    "q_text_tokencount",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(trim(text), ' ')) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS INT)
             AS n_bpe_tokens,
           ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(regexp_extract_all(text, '{_BPE_RE}')), 6)
             AS chars_per_bpe
    FROM documents
    """,
)
def q_text_tokencount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for LLM-corpus budgeting: whitespace tokens plus
    a BPE-ish subword estimate (alpha runs split every 6 chars, digits
    and punctuation one token each — the usual pre-tokenizer shape).

    Pure JVM regexp — at 100 TB this is a map-only pass with no
    shuffle; counts roll up with a plain partial/final aggregate.
    """
    d = table(spark, sf_dir, "documents")
    n_bpe = F.regexp_count("text", F.lit(_BPE_RE))
    return d.select(
        "doc_id",
        F.size(tokens()).alias("n_ws_tokens"),
        n_bpe.cast("int").alias("n_bpe_tokens"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            .cast("double")
            / n_bpe,
            6,
        ).alias("chars_per_bpe"),
    )


@register(
    "q_text_fingerprint",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
    )
    SELECT doc_id,
           list_min(list_transform(
             range(1, greatest(len(t) - 1, 2)),
             i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS fp
    FROM toks
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min MD5 over 3-token shingles (a
    1-permutation MinHash / winnowing-style sketch).  Near-identical
    documents almost surely share their minimum shingle hash, so
    grouping by ``fp`` is a shuffle-light first-pass dedup at 100 TB:
    one map pass + one groupBy on a 32-char key, no pairwise compare.

    MD5 (not xxhash) so the DuckDB oracle computes the identical
    digest.  A document under 3 tokens has no trigram and emits the
    md5 of its whole (truncated) token run instead.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    t = F.col("toks")
    return d.select(
        "doc_id",
        F.coalesce(
            F.array_min(F.transform(ngrams(t, 3), F.md5)),
            F.md5(F.concat_ws(" ", t)),
        ).alias("fp"),
    )


@register(
    "q_dedup_fingerprint",
    oracle="""
    WITH fps AS (
      SELECT doc_id,
             list_min(list_transform(
               range(1, greatest(len(string_split(trim(text),' ')) - 1, 2)),
               i -> md5(string_split(trim(text),' ')[i] || ' ' ||
                        string_split(trim(text),' ')[i+1] || ' ' ||
                        string_split(trim(text),' ')[i+2]))) AS fp
      FROM documents
    )
    SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keep_doc_id
    FROM fps GROUP BY fp HAVING COUNT(*) > 1
    """,
)
def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-collision dedup groups: documents sharing a min-
    shingle fingerprint, with the deterministic survivor (min doc_id).
    The O(n) companion to the O(candidate-pairs) MinHash-LSH join in
    llm/dedup.py — run this first at scale, LSH only on survivors.
    """
    fp = q_text_fingerprint(spark, sf_dir)
    return (
        fp.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "q_text_heavyhitters",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(trim(text), ' ')) AS word
      FROM documents
    )
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n
    FROM toks
    GROUP BY word
    HAVING COUNT(*) > (SELECT COUNT(*) FROM toks) / 50.0
    """,
)
def q_text_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (> 1/50 of all tokens) via two-phase
    Misra-Gries: per-partition streaming summaries propose a small
    candidate set, then only the candidates are exactly recounted.

    Phase 1 (`mapInPandas`) runs the classic k-counter Misra-Gries
    sketch over each partition's token stream — O(k) memory, one
    pass, no shuffle.  The merge guarantee: any word with global
    count > N/k must exceed n_p/k in at least one partition (else
    Σ c_p ≤ Σ n_p/k = N/k), and MG(k) always retains such words —
    so the union of partition candidates is a superset of the true
    heavy hitters.  Phase 2 recounts ONLY candidate words (left-semi
    against the broadcast candidate set) and applies the exact
    threshold, discarding false positives.  At 100 TB the shuffle
    carries ≤ k·partitions candidate words instead of every token —
    while the final answer stays exact, which is why the plain
    GROUP BY ... HAVING is a valid oracle.
    """
    import pandas as pd

    K = 50

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for text in pdf["text"]:
                for tok in text.strip(' ').split(" "):
                    if tok in counters:
                        counters[tok] += 1
                    elif len(counters) < K:
                        counters[tok] = 1
                    else:
                        for key in list(counters):
                            counters[key] -= 1
                            if counters[key] == 0:
                                del counters[key]
        yield pd.DataFrame({"word": list(counters)})

    d = table(spark, sf_dir, "documents")
    cands = d.select("text").mapInPandas(mg_partition, "word string").distinct()
    toks = d.select(F.explode(tokens()).alias("word"))
    total = toks.agg(F.count(F.lit(1)).alias("_total"))
    return (
        toks.join(F.broadcast(cands), "word", "left_semi")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") > F.col("_total") / F.lit(50.0))
        .select("word", "n")
    )


@register(
    "q_text_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
      FROM documents
    ),
    tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
    df AS (SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM toks GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)
    SELECT doc_id, word, tfidf, rank FROM (
      SELECT tf.doc_id, tf.word,
             ROUND(tf * ln(n.n / df.df), 6) AS tfidf,
             CAST(row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY ROUND(tf * ln(n.n / df.df), 6) DESC, tf.word
             ) AS BIGINT) AS rank
      FROM tf JOIN df USING (word) CROSS JOIN n
      WHERE tf.doc_id < 100
    ) WHERE rank <= 3
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF, pure SQL surface: top-3 terms per document (first
    100 docs) scored tf·ln(N/df) — the oracle-checked twin of the
    MLlib HashingTF/IDF stage (q_ml_tfidf), with real words instead of
    hash buckets.

    Float discipline: tf/df/N are exact integers; the only float ops
    are one ln, one multiply — identical expression both engines —
    and ranking happens on the ROUNDED score with a word tie-break,
    so the top-3 set is engine-stable even when scores collide.
    Scale: tf and df are partial-aggregated map-side; the df side is
    |vocab|-sized and broadcasts; nothing shuffles per-token twice.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens()).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("word").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    tfidf = F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6)
    scored = (
        tf.filter(F.col("doc_id") < 100)
        .join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "word", tfidf.alias("tfidf"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("word")
    )
    return (
        scored.withColumn(
            "rank", F.row_number().over(w).cast("bigint")
        )
        .filter(F.col("rank") <= 3)
        .select("doc_id", "word", "tfidf", "rank")
    )


@register(
    "q_text_bm25",
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
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking for the query {hash, join, scan} — the lexical
    retrieval scorer between raw TF-IDF and a learned ranker, i.e.
    exactly what a search-intent pipeline serves as its candidate
    generator (k1=1.2, b=0.75).

    All inputs are exact integer counts (tf, df, doc length, N), so
    both engines evaluate the identical closed form; ``ln`` may differ
    in the final ulp, hence the 6-dp round before the deterministic
    (score, doc_id) top-15.  The doc-length side stays |docs|-sized,
    the tf side |matching terms|-sized — both partial-aggregated
    before their shuffles, and the corpus stats ride along as a
    broadcast 1-row cross join.
    """
    # Round-10 optimization: tokenization is the per-row cost and this
    # plan consumes `toks` from four independent subtrees (dl, the
    # stats broadcast, tf, the df broadcast) — broadcast subtrees
    # execute as separate jobs, so the explode ran up to 4x on the
    # single-row-group scan's one core.  `spread` fans the tokenize
    # out (guide §2.5) and the localCheckpoint materializes it once
    # for every consumer.  Measured at sf0.1: 11.3 s -> ~2 s cold,
    # identical top-15.
    d = spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark, sf_dir, "documents",
    )
    toks = d.select(
        "doc_id", F.explode(tokens()).alias("word")
    ).localCheckpoint()
    dl = toks.groupBy("doc_id").agg(
        F.count("*").cast("double").alias("len")
    )
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("len") / F.count("*")).alias("avglen"),
    )
    tf = (
        toks.filter(F.col("word").isin("hash", "join", "scan"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        1
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term = (
        idf
        * F.col("tf")
        * 2.2
        / (
            F.col("tf")
            + 1.2 * (0.25 + 0.75 * F.col("len") / F.col("avglen"))
        )
    )
    return (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(15)
    )


@register(
    "q_corpus_pack",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS BIGINT) AS start_tok
      FROM t
    )
    SELECT start_tok // 2048 AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           ROUND(CAST(SUM(n_tokens) AS DOUBLE) / 2048, 6) AS fill
    FROM c GROUP BY 1
    """,
)
def q_corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: documents laid end-to-end in
    deterministic doc_id order and cut into 2048-token bins (each doc
    assigned to the bin where it starts) — the contiguous-packing
    pass that turns a ragged corpus into fixed-length training
    sequences with measurable fill.

    The running offset is one integer window cum-sum; bin assignment
    is integer division — all exact, both engines identical.  The
    demo packs one global stream (single window partition); the
    production layout shards the corpus first (hash(doc_id) % shards)
    and packs per shard in parallel, same code with one extra
    partitionBy — packing quality is unchanged because bins never
    span shards.
    """
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(tokens()).cast("bigint").alias("n_tokens"),
    )
    run = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    c = t.select(
        "doc_id",
        "n_tokens",
        (F.sum("n_tokens").over(run) - F.col("n_tokens")).alias(
            "start_tok"
        ),
    )
    return c.groupBy(
        F.expr("start_tok div 2048").alias("bin_id")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.round(
            F.sum("n_tokens").cast("double") / 2048, 6
        ).alias("fill"),
    )


# The corpus-cleaning cascade shared by q_corpus_clean and
# q_pipeline_e2e: every document's first failing stage (length →
# language → token floor → alphabetic ratio), else 'duplicate' when an
# earlier doc_id has the same text (exact dedup, min-doc_id survivor),
# else 'kept'.
_VERDICTS_CTES = f"""
    base AS (
      SELECT doc_id, text, lang, n_chars,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT)
               AS n_toks,
             CAST(length(regexp_replace(text, '[^a-z]', '', 'g'))
                  AS DOUBLE) / length(text) AS alpha
      FROM documents
    ),
    verdicts AS (
      SELECT *,
             CASE
               WHEN n_chars NOT BETWEEN 150 AND 600 THEN 'length'
               WHEN lang NOT IN {LANG_ALLOW!r} THEN 'lang'
               WHEN n_toks < 25 THEN 'tokens'
               WHEN alpha < 0.7 THEN 'alpha'
               WHEN row_number() OVER (PARTITION BY text
                                       ORDER BY doc_id) > 1
                 THEN 'duplicate'
               ELSE 'kept'
             END AS verdict
      FROM base
    )"""


def _verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_toks, verdict) of every document — Spark twin of
    ``_VERDICTS_CTES``.  All cascade predicates are scan-side
    expressions.  The dedup window partitions by the SHA-256 digest of
    the text, not the text, so ``text`` is dropped before the exchange
    and its key is 32 bytes whatever the document's length (the
    q_dedup_hash move).  A SHA-256 collision stays out of reach even at
    10¹¹ documents and against crafted input (a 64-bit hash would
    expect hundreds there), so the partitions are the text's."""
    d = table(spark, sf_dir, "documents")
    alpha = F.length(
        F.regexp_replace(F.col("text"), "[^a-z]", "")
    ).cast("double") / F.length("text")
    base = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(tokens()).cast("bigint").alias("n_toks"),
        alpha.alias("alpha"),
        F.unhex(F.sha2("text", 256)).alias("text_digest"),
    )
    rn = F.row_number().over(
        W.partitionBy("text_digest").orderBy("doc_id")
    )
    verdict = (
        F.when(~F.col("n_chars").between(150, 600), "length")
        .when(~F.col("lang").isin(*LANG_ALLOW), "lang")
        .when(F.col("n_toks") < 25, "tokens")
        .when(F.col("alpha") < 0.7, "alpha")
        .when(rn > 1, "duplicate")
        .otherwise("kept")
    )
    return base.select("doc_id", "n_toks", verdict.alias("verdict"))


@register(
    "q_corpus_clean",
    oracle=f"""
    WITH {_VERDICTS_CTES}
    SELECT verdict, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM verdicts GROUP BY 1
    """,
)
def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-cleaning funnel: every document gets a
    verdict — first failing stage of the C4-style cascade (length →
    language → token floor → alphabetic ratio) or 'duplicate' (exact
    text dedup, min-doc_id survivor) or 'kept' — and the report
    counts docs and tokens per verdict.  This is the audit table a
    training-data pipeline publishes with every corpus build: the
    same filters as q_text_quality/q_dedup_exact, composed, with
    nothing silently dropped.

    The only shuffles are the digest-keyed dedup window of
    `_verdicts` (duplicate clusters are tiny, so no skew) and a
    6-row aggregate.
    """
    return (
        _verdicts(spark, sf_dir)
        .groupBy("verdict")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
    )


@register(
    "q_text_pii",
    oracle="""
    WITH aug AS (
      SELECT doc_id, (doc_id % 20 = 0) AS injected,
             CASE WHEN doc_id % 20 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com now'
                  ELSE text END AS t
      FROM documents
    ),
    red AS (
      SELECT doc_id, injected,
             len(regexp_extract_all(t, '[a-z0-9]+@[a-z]+\\.[a-z]+'))
               AS n_found,
             len(regexp_extract_all(
                   regexp_replace(t, '[a-z0-9]+@[a-z]+\\.[a-z]+',
                                  '<EMAIL>', 'g'),
                   '[a-z0-9]+@[a-z]+\\.[a-z]+')) AS n_left
      FROM aug
    )
    SELECT injected, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_found) AS BIGINT) AS n_emails,
           CAST(SUM(n_left) AS BIGINT) AS n_leftover
    FROM red GROUP BY 1
    """,
)
def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: find-and-redact email addresses, then PROVE the
    redaction by re-scanning the output (leftover must be 0) — the
    compliance gate every training corpus passes before release.
    Synthetic emails are injected into every 20th document so the
    operator demonstrably fires on this fixture.

    Pure scan-side regexp work (``regexp_extract_all`` to count,
    ``regexp_replace`` to redact, re-extract to verify) — no shuffle
    until the 2-row report; the pattern is dialect-portable (no
    lookarounds), so Java regex and RE2 agree.
    """
    d = table(spark, sf_dir, "documents")
    pat = "[a-z0-9]+@[a-z]+\\.[a-z]+"
    aug = d.select(
        "doc_id",
        (F.col("doc_id") % 20 == 0).alias("injected"),
        F.when(
            F.col("doc_id") % 20 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    red = aug.select(
        "injected",
        F.size(F.regexp_extract_all("t", F.lit(pat), F.lit(0))).alias(
            "n_found"
        ),
        F.size(
            F.regexp_extract_all(
                F.regexp_replace("t", pat, "<EMAIL>"),
                F.lit(pat),
                F.lit(0),
            )
        ).alias("n_left"),
    )
    return red.groupBy("injected").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_found").alias("n_emails"),
        F.sum("n_left").alias("n_leftover"),
    )


_STEM_SQL = """
    CASE
      WHEN {w} LIKE '%ies' AND length({w}) > 4
        THEN substring({w}, 1, length({w}) - 3) || 'y'
      WHEN {w} LIKE '%ing' AND length({w}) > 5
        THEN substring({w}, 1, length({w}) - 3)
      WHEN {w} LIKE '%ed' AND length({w}) > 4
        THEN substring({w}, 1, length({w}) - 2)
      WHEN {w} LIKE '%s' AND {w} NOT LIKE '%ss' AND length({w}) > 3
        THEN substring({w}, 1, length({w}) - 1)
      ELSE {w}
    END
"""


@register(
    "q_text_stem",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents
    ),
    stems AS (SELECT {_STEM_SQL.format(w='w')} AS stem FROM toks)
    SELECT stem, CAST(COUNT(*) AS BIGINT) AS n
    FROM stems GROUP BY stem
    ORDER BY n DESC, stem LIMIT 20
    """,
)
def q_text_stem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based suffix stemming (Porter-lite: -ies/-ing/-ed/-s with
    length guards) before term counting — the normalization pass that
    merges 'joins/joined/joining' into one vocabulary entry, shrinking
    the feature space a keyword model trains on.

    The rule chain is a pure CASE over string primitives (LIKE +
    substring — no regex dialect to disagree on), applied inside the
    explode projection, so stemming rides the scan with zero extra
    passes; the count rollup partial-aggregates per partition
    vocabulary as usual.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens()).alias("w"))
    stems = toks.select(F.expr(_STEM_SQL.format(w="w")).alias("stem"))
    return (
        stems.groupBy("stem")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "stem")
        .limit(20)
    )


@register(
    "q_text_zipf",
    oracle="""
    WITH counts AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(trim(text), ' ')) AS word
            FROM documents)
      GROUP BY word
    ),
    ranked AS (
      SELECT word, n,
             CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT)
               AS rnk
      FROM counts
    ),
    pts AS (
      SELECT ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y
      FROM ranked WHERE rnk <= 100
    ),
    s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS cnt, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM pts
    )
    SELECT CAST(cnt AS BIGINT) AS n_points,
           ROUND((cnt * sxy - sx * sy) / (cnt * sxx - sx * sx), 6)
             AS zipf_slope,
           ROUND((sy - (cnt * sxy - sx * sy) / (cnt * sxx - sx * sx)
                  * sx) / cnt, 6) AS zipf_intercept
    FROM s
    """,
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of ln(frequency) on ln(rank) over the
    top-100 vocabulary — natural corpora sit near −1, so the slope is
    a one-number "does this look like real language?" detector for
    scraped/generated text (synthetic or templated corpora flatten
    it).

    Term counts reduce to exact integers, the top-100 cut is a
    deterministic (count, word) TakeOrdered, and the regression uses
    the same closed-form moment sums as q_stats_regression — the
    only float noise is ln's ulp and 100-term sum association,
    absorbed at 6 dp.
    """
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    ranked = counts.withColumn(
        "rnk",
        F.row_number().over(W.orderBy(F.col("n").desc(), "word")),
    ).filter(F.col("rnk") <= 100)
    pts = ranked.select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("double").alias("cnt"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    cnt, sx, sy = F.col("cnt"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope = (cnt * sxy - sx * sy) / (cnt * sxx - sx * sx)
    return s.select(
        cnt.cast("bigint").alias("n_points"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / cnt, 6).alias("zipf_intercept"),
    )


@register(
    "q_pipeline_e2e",
    oracle=f"""
    WITH {_VERDICTS_CTES},
    kept AS (
      SELECT doc_id, n_toks,
             CASE WHEN ((doc_id * 2654435761) % 4294967296) % 10 < 8
                    THEN 'train'
                  WHEN ((doc_id * 2654435761) % 4294967296) % 10 = 8
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM verdicts WHERE verdict = 'kept'
    )
    SELECT k.split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(k.n_toks) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_embedding,
           ROUND(CAST(SUM(k.n_toks) AS DOUBLE) / COUNT(*), 6)
             AS mean_tokens
    FROM kept k LEFT JOIN embeddings e ON e.vec_id = k.doc_id
    GROUP BY k.split
    """,
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data pipeline in one plan: quality
    cascade + exact dedup (q_corpus_clean's verdicts) → survivors
    only → deterministic 80/10/10 split (q_split_assign's Knuth
    hash) → embedding-coverage join → the per-split manifest
    (docs, tokens, embedding coverage) that a training run consumes
    as its data card.

    Every stage is the already-proven primitive composed
    declaratively, so Catalyst fuses the cascade into the scan, the
    dedup window shuffles a text digest, never the text, the split is
    arithmetic, and the embeddings join hashes on the id — the whole
    pipeline is 3 shuffles end to end regardless of corpus size.
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id")
    bucket = (
        (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    ) % 10
    kept = (
        _verdicts(spark, sf_dir)
        .filter(F.col("verdict") == "kept")
        .select(
            "doc_id",
            "n_toks",
            F.when(bucket < 8, "train")
            .when(bucket == 8, "val")
            .otherwise("test")
            .alias("split"),
        )
    )
    return (
        kept.join(emb, kept.doc_id == emb.vec_id, "left")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.sum(
                F.when(F.col("vec_id").isNotNull(), 1).otherwise(0)
            ).alias("n_with_embedding"),
            F.round(
                F.sum("n_toks").cast("double") / F.count("*"), 6
            ).alias("mean_tokens"),
        )
    )


@register(
    "q_text_heaps",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
      FROM documents
    ),
    firsts AS (
      SELECT word, MIN(doc_id) // 50 AS first_bucket
      FROM toks GROUP BY word
    ),
    new_vocab AS (
      SELECT first_bucket AS bucket, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY 1
    ),
    tok_counts AS (
      SELECT doc_id // 50 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_toks
      FROM toks GROUP BY 1
    )
    SELECT t.bucket,
           CAST(SUM(t.n_toks) OVER (ORDER BY t.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS tokens_seen,
           CAST(SUM(COALESCE(v.n_new, 0)) OVER (ORDER BY t.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS vocab_size
    FROM tok_counts t LEFT JOIN new_vocab v ON v.bucket = t.bucket
    """,
)
def q_text_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: distinct vocabulary vs tokens
    seen as the corpus streams in doc_id order (50-doc buckets) —
    sublinear growth is the signature of natural text, and the curve
    sizes tokenizer vocabularies and dedup hash tables before a full
    pass.

    Same first-seen trick as q_events_cumulative_users, applied to
    words: a word counts at its MIN(doc_id) bucket, and the running
    sum of first-appearances is the exact distinct-to-date — no
    repeated distinct over growing prefixes.  Two aggregations plus
    a window over ≤|buckets| rows.
    """
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens()).alias("word"))
    firsts = toks.groupBy("word").agg(
        F.expr("min(doc_id) div 50").alias("bucket")
    )
    new_vocab = firsts.groupBy("bucket").agg(
        F.count("*").alias("n_new")
    )
    tok_counts = toks.groupBy(
        F.expr("doc_id div 50").alias("bucket")
    ).agg(F.count("*").alias("n_toks"))
    run = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    return (
        tok_counts.join(new_vocab, "bucket", "left")
        .select(
            "bucket",
            F.col("n_toks"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .select(
            "bucket",
            F.sum("n_toks").over(run).alias("tokens_seen"),
            F.sum("n_new").over(run).alias("vocab_size"),
        )
    )


@register(
    "q_text_jsd",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(trim(text), ' ')) AS word
      FROM documents
    ),
    pair AS (
      SELECT word,
             CAST(SUM(CASE WHEN source = (SELECT MIN(source)
                                          FROM documents)
                           THEN 1 ELSE 0 END) AS DOUBLE) AS ca,
             CAST(SUM(CASE WHEN source = (SELECT MAX(source)
                                          FROM documents)
                           THEN 1 ELSE 0 END) AS DOUBLE) AS cb
      FROM toks GROUP BY word
    ),
    tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM pair),
    terms AS (
      SELECT (ca / tot.na) AS p, (cb / tot.nb) AS q
      FROM pair CROSS JOIN tot WHERE ca + cb > 0
    )
    SELECT ROUND(SUM(
             CASE WHEN p > 0
                  THEN 0.5 * p * ln(p / ((p + q) / 2)) ELSE 0 END
             + CASE WHEN q > 0
                    THEN 0.5 * q * ln(q / ((p + q) / 2)) ELSE 0 END
           ) / ln(2), 6) AS jsd_bits,
           CAST(COUNT(*) AS BIGINT) AS n_vocab
    FROM terms
    """,
)
def q_text_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (in bits) between the two extreme
    sources' word distributions — the bounded, symmetric drift metric
    for "did this feed's language change?" monitoring between corpus
    snapshots (0 = identical mix, 1 = disjoint).

    One token pass builds both distributions via conditional counts
    (exact integers); the JSD sum runs over the shared vocabulary
    with guards on zero masses exactly as DuckDB evaluates them.
    Association noise across ~vocab-size terms of magnitude ≤1e-2
    sits at ~1e-15 — absorbed by the 6-dp round.
    """
    d = table(spark, sf_dir, "documents")
    bounds = d.agg(
        F.min("source").alias("src_a"), F.max("source").alias("src_b")
    )
    toks = d.select("source", F.explode(tokens()).alias("word"))
    pair = (
        toks.crossJoin(F.broadcast(bounds))
        .groupBy("word")
        .agg(
            F.sum(
                F.when(F.col("source") == F.col("src_a"), 1).otherwise(0)
            )
            .cast("double")
            .alias("ca"),
            F.sum(
                F.when(F.col("source") == F.col("src_b"), 1).otherwise(0)
            )
            .cast("double")
            .alias("cb"),
        )
    )
    tot = pair.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    terms = (
        pair.crossJoin(F.broadcast(tot))
        .filter(F.col("ca") + F.col("cb") > 0)
        .select(
            (F.col("ca") / F.col("na")).alias("p"),
            (F.col("cb") / F.col("nb")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    term = F.when(
        F.col("p") > 0, 0.5 * F.col("p") * F.log(F.col("p") / m)
    ).otherwise(0.0) + F.when(
        F.col("q") > 0, 0.5 * F.col("q") * F.log(F.col("q") / m)
    ).otherwise(0.0)
    return terms.agg(
        F.round(F.sum(term) / F.log(F.lit(2.0)), 6).alias("jsd_bits"),
        F.count("*").alias("n_vocab"),
    )


@register(
    "q_text_repetition",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, len(string_split(trim(text), ' ')) - 1),
               i -> string_split(trim(text), ' ')[i] || ' ' ||
                    string_split(trim(text), ' ')[i + 1] || ' ' ||
                    string_split(trim(text), ' ')[i + 2])) AS g
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct
      FROM grams GROUP BY doc_id
    )
    SELECT doc_id, n_grams,
           ROUND(1 - CAST(n_distinct AS DOUBLE) / n_grams, 6)
             AS repetition_ratio
    FROM per_doc WHERE n_grams >= 20
    ORDER BY repetition_ratio DESC, doc_id LIMIT 25
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-trigram ratio per document (1 − distinct/total) — the
    boilerplate/loop detector LLM corpus builds threshold on: spam,
    templated pages, and degenerate generations repeat 3-grams far
    above natural prose, and this catches them without any model.

    Trigrams come from the same :func:`ngrams` kernel as the
    n-gram/fingerprint ops; per-doc distinct counts are exact and
    state is bounded by document length.  Top-25 most
    repetitive docs via deterministic TakeOrdered.
    """
    # Round-10 optimization (guide §2.5): trigram explode + per-doc
    # distinct all ran inside the single-row-group scan's one task
    # (3.4 s of a 3.8 s query at sf0.1); spread fans the per-doc work
    # out, no-op on splittable layouts.
    d = spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark, sf_dir, "documents",
    ).select("doc_id", tokens().alias("toks"))
    grams = d.select(
        "doc_id", F.explode(ngrams(F.col("toks"), 3)).alias("g")
    )
    per_doc = grams.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.countDistinct("g").alias("n_distinct"),
    )
    return (
        per_doc.filter(F.col("n_grams") >= 20)
        .select(
            "doc_id",
            "n_grams",
            F.round(
                1
                - F.col("n_distinct").cast("double")
                / F.col("n_grams"),
                6,
            ).alias("repetition_ratio"),
        )
        .orderBy(F.col("repetition_ratio").desc(), "doc_id")
        .limit(25)
    )


@register(
    "q_text_pmi",
    oracle="""
    WITH toks AS (
      SELECT string_split(trim(text), ' ') AS ws FROM documents
    ),
    uni AS (
      SELECT w, CAST(COUNT(*) AS DOUBLE) AS n
      FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY w
    ),
    bi AS (
      SELECT b, CAST(COUNT(*) AS DOUBLE) AS n_ab
      FROM (
        SELECT unnest(list_transform(range(1, len(ws)),
                 i -> ws[i] || ' ' || ws[i + 1])) AS b
        FROM toks) GROUP BY b
    ),
    tot AS (
      SELECT (SELECT SUM(n) FROM uni) AS n_uni,
             (SELECT SUM(n_ab) FROM bi) AS n_bi
    )
    SELECT bi.b AS bigram, CAST(bi.n_ab AS BIGINT) AS n_pair,
           ROUND(ln((bi.n_ab / tot.n_bi)
                    / ((ua.n / tot.n_uni) * (ub.n / tot.n_uni))), 6)
             AS pmi
    FROM bi
    JOIN uni ua ON ua.w = string_split(bi.b, ' ')[1]
    JOIN uni ub ON ub.w = string_split(bi.b, ' ')[2]
    CROSS JOIN tot
    WHERE bi.n_ab >= 25
    ORDER BY pmi DESC, bigram LIMIT 20
    """,
)
def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining via pointwise mutual information: adjacent
    bigrams scored ln(p(ab)/(p(a)p(b))) with a min-support floor —
    high-PMI pairs are multiword units ("machine learning"-style
    compounds) that tokenizers and phrase-aware dedup should treat
    as one token.

    Unigram and bigram counts reduce per-partition before their
    shuffles (vocabulary-bounded state); the PMI expression divides
    exact integer counts under identical IEEE order (ln ulp → 6-dp
    round), and the support floor keeps the ranked output stable.

    Round-10 optimization (guide §2.4 "don't recompute what you can
    reuse", §2.5 unsplittable scan): the plan consumed ``uni`` from
    THREE independent subtrees (the ``tot`` aggregate plus the two
    per-side broadcasts) and ``bi`` from two — broadcast subtrees
    execute as separate jobs, so the corpus was re-tokenized up to
    five times, each time serialized on the single-row-group scan's
    one core.  ``spread`` fans the explode out and one eager
    ``localCheckpoint`` per count table materializes each exactly
    once.  Measured at sf0.1: noop-sink 3.7 s → ~0.9 s, identical
    top-20.
    """
    from pyspark.sql import Window as W  # noqa: F401  (module norm)

    d = spread(
        table(spark, sf_dir, "documents").select("text"),
        spark, sf_dir, "documents",
    ).select(tokens().alias("toks"))
    t = F.col("toks")
    uni = (
        d.select(F.explode(t).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("double").alias("n"))
        .localCheckpoint()
    )
    bi = (
        d.select(F.explode(ngrams(t, 2)).alias("b"))
        .groupBy("b")
        .agg(F.count("*").cast("double").alias("n_ab"))
        .localCheckpoint()
    )
    tot = (
        uni.agg(F.sum("n").alias("n_uni"))
        .crossJoin(bi.agg(F.sum("n_ab").alias("n_bi")))
    )
    parts = F.split("b", " ")
    scored = (
        bi.filter(F.col("n_ab") >= 25)
        .withColumn("wa", parts.getItem(0))
        .withColumn("wb", parts.getItem(1))
        .join(
            F.broadcast(uni.select(F.col("w").alias("wa"),
                                   F.col("n").alias("na"))),
            "wa",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("wb"),
                                   F.col("n").alias("nb"))),
            "wb",
        )
        .crossJoin(F.broadcast(tot))
    )
    pmi = F.log(
        (F.col("n_ab") / F.col("n_bi"))
        / (
            (F.col("na") / F.col("n_uni"))
            * (F.col("nb") / F.col("n_uni"))
        )
    )
    return (
        scored.select(
            F.col("b").alias("bigram"),
            F.col("n_ab").cast("bigint").alias("n_pair"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(20)
    )


# Portable 32-bit string hash: the first 8 hex chars of md5 read as an
# unsigned integer (md5 hex is byte-identical in Spark and DuckDB,
# unlike xxhash64 vs DuckDB hash()).  Spark decodes them natively with
# conv(); the DuckDB oracles, which have no conv(), decode digit by digit
# with instr/substring: ``_H32`` over md5({x}) and ``_H32_DG`` over a
# stored md5 hex {d}.  Both give the same BIGINT, NULL for NULL input.
def h32_of_digest(d: str) -> str:
    """Spark SQL for the 32-bit hash of a stored md5 hex column ``d``."""
    return f"CAST(conv(substring({d}, 1, 8), 16, 10) AS BIGINT)"


def h32(x: str) -> str:
    """Spark SQL for the portable 32-bit hash of string expression ``x``."""
    return h32_of_digest(f"md5({x})")


_H32 = "((CAST(instr('0123456789abcdef', substring(md5({x}), 1, 1)) - 1 AS BIGINT)) * 268435456 + (CAST(instr('0123456789abcdef', substring(md5({x}), 2, 1)) - 1 AS BIGINT)) * 16777216 + (CAST(instr('0123456789abcdef', substring(md5({x}), 3, 1)) - 1 AS BIGINT)) * 1048576 + (CAST(instr('0123456789abcdef', substring(md5({x}), 4, 1)) - 1 AS BIGINT)) * 65536 + (CAST(instr('0123456789abcdef', substring(md5({x}), 5, 1)) - 1 AS BIGINT)) * 4096 + (CAST(instr('0123456789abcdef', substring(md5({x}), 6, 1)) - 1 AS BIGINT)) * 256 + (CAST(instr('0123456789abcdef', substring(md5({x}), 7, 1)) - 1 AS BIGINT)) * 16 + (CAST(instr('0123456789abcdef', substring(md5({x}), 8, 1)) - 1 AS BIGINT)) * 1)"
_H32_DG = _H32.replace("md5({x})", "{d}")


@register(
    "q_sketch_countmin",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(trim(text), ' ')) AS w
      FROM documents
    ),
    hashed AS (SELECT w, {_H32.format(x='w')} AS hw FROM toks),
    seeds AS (SELECT UNNEST([131, 137, 139]) AS seed),
    cells AS (
      SELECT seeds.seed,
             ((hashed.hw * seeds.seed) % 2147483647) % 512 AS col,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM hashed CROSS JOIN seeds
      GROUP BY 1, 2
    ),
    queries AS (
      SELECT q.w, {_H32.format(x='q.w')} AS hw
      FROM (SELECT UNNEST(['hash', 'join', 'scan', 'merge',
                           'quantum']) AS w) q
    ),
    est AS (
      SELECT queries.w,
             MIN(COALESCE(cells.n, 0)) AS cm_estimate
      FROM queries CROSS JOIN seeds
      LEFT JOIN cells
        ON cells.seed = seeds.seed
       AND cells.col = ((queries.hw * seeds.seed) % 2147483647) % 512
      GROUP BY queries.w
    ),
    exact AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM toks GROUP BY w
    )
    SELECT est.w AS word,
           CAST(est.cm_estimate AS BIGINT) AS cm_estimate,
           COALESCE(exact.n_exact, 0) AS n_exact,
           CAST(est.cm_estimate - COALESCE(exact.n_exact, 0)
                AS BIGINT) AS overestimate
    FROM est LEFT JOIN exact ON exact.w = est.w
    """,
)
def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (3 rows x 512 columns) over the corpus term
    stream, with point queries for five words against exact truth —
    the mergeable frequency sketch for when the vocabulary is too
    large to count exactly (CM state is fixed-size per partition and
    sums across partitions; estimates only ever OVER-count, which
    the overestimate column exhibits, including for the absent word
    'quantum').

    Cross-engine determinism: the row hashes derive from md5 hex
    (byte-identical in both engines) parsed to a 32-bit integer by
    explicit instr/substring arithmetic — xxhash64 and DuckDB's
    hash() are DIFFERENT functions and can never parity-check.  All
    sketch updates and queries are exact integer arithmetic.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens()).alias("w"))
    hashed = toks.select("w", F.expr(h32("w")).alias("hw"))
    seed_df = spark.createDataFrame(
        [(131,), (137,), (139,)], "seed bigint"
    )
    col = ((F.col("hw") * F.col("seed")) % 2147483647) % 512
    cells = (
        hashed.crossJoin(F.broadcast(seed_df))
        .groupBy("seed", col.alias("col"))
        .agg(F.count("*").alias("n"))
    )
    qwords = spark.createDataFrame(
        [("hash",), ("join",), ("scan",), ("merge",), ("quantum",)],
        "w string",
    )
    queries = qwords.select(
        "w", F.expr(h32("w")).alias("hw")
    )
    est = (
        queries.crossJoin(F.broadcast(seed_df))
        .withColumn("col", col)
        .join(cells, ["seed", "col"], "left")
        .groupBy("w")
        .agg(
            F.min(F.coalesce("n", F.lit(0))).alias("cm_estimate")
        )
    )
    exact = toks.groupBy("w").agg(F.count("*").alias("n_exact"))
    return est.join(exact, "w", "left").select(
        F.col("w").alias("word"),
        "cm_estimate",
        F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
        (F.col("cm_estimate") - F.coalesce("n_exact", F.lit(0))).alias(
            "overestimate"
        ),
    )


@register(
    "q_sketch_bloom",
    oracle=f"""
    WITH vocab AS (
      SELECT DISTINCT unnest(string_split(trim(text), ' ')) AS w
      FROM documents
    ),
    seeds AS (SELECT UNNEST([131, 137, 139]) AS seed),
    bits AS (
      SELECT DISTINCT seeds.seed,
             (({_H32.format(x='vocab.w')} * seeds.seed)
              % 2147483647) % 4096 AS bit
      FROM vocab CROSS JOIN seeds
    ),
    probes AS (
      SELECT q.w, {_H32.format(x='q.w')} AS hw
      FROM (SELECT UNNEST(['hash', 'scan', 'merge', 'quantum',
                           'chimera', 'zzyzx']) AS w) q
    ),
    checked AS (
      SELECT probes.w, CAST(COUNT(bits.bit) AS BIGINT) AS hits
      FROM probes CROSS JOIN seeds
      LEFT JOIN bits
        ON bits.seed = seeds.seed
       AND bits.bit = ((probes.hw * seeds.seed) % 2147483647) % 4096
      GROUP BY probes.w
    )
    SELECT checked.w AS word,
           CAST(checked.hits = 3 AS BOOLEAN) AS bloom_hit,
           CAST(COALESCE(iv.present, FALSE) AS BOOLEAN) AS in_vocab,
           CAST(checked.hits = 3
                AND NOT COALESCE(iv.present, FALSE)
                AS BOOLEAN) AS false_positive
    FROM checked
    LEFT JOIN (SELECT w, TRUE AS present FROM vocab) iv
      ON iv.w = checked.w
    """,
)
def q_sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter (4096 bits, k=3) over the corpus vocabulary, with
    probe-word membership tests against exact truth — the fixed-size
    set sketch that answers "definitely absent / probably present"
    without holding the vocabulary.  The bit set is a distinct
    (seed, bit) aggregation: mergeable across partitions by union,
    so it builds in one shuffle regardless of corpus size, and the
    probe check is a broadcast join against the (tiny) bit set.

    One-sided-error property is visible in the output: in_vocab=true
    ⇒ bloom_hit=true always; false_positive marks any absent probe
    the filter wrongly admits.  The same portable md5-derived 32-bit
    hash as the Count-Min sketch keeps both engines bit-identical
    (xxhash64 and DuckDB hash() can never parity-check).
    """
    d = table(spark, sf_dir, "documents")
    vocab = d.select(F.explode(tokens()).alias("w")).distinct()
    hashed = vocab.select("w", F.expr(h32("w")).alias("hw"))
    seed_df = spark.createDataFrame(
        [(131,), (137,), (139,)], "seed bigint"
    )
    bitpos = ((F.col("hw") * F.col("seed")) % 2147483647) % 4096
    bits = (
        hashed.crossJoin(F.broadcast(seed_df))
        .select("seed", bitpos.alias("bit"))
        .distinct()
        .withColumn("isset", F.lit(1))
    )
    probes = spark.createDataFrame(
        [("hash",), ("scan",), ("merge",), ("quantum",),
         ("chimera",), ("zzyzx",)],
        "w string",
    ).select("w", F.expr(h32("w")).alias("hw"))
    checked = (
        probes.crossJoin(F.broadcast(seed_df))
        .withColumn("bit", bitpos)
        .join(bits, ["seed", "bit"], "left")
        .groupBy("w")
        .agg(F.count("isset").alias("hits"))
    )
    iv = vocab.select("w", F.lit(True).alias("present"))
    return checked.join(iv, "w", "left").select(
        F.col("w").alias("word"),
        (F.col("hits") == 3).alias("bloom_hit"),
        F.coalesce("present", F.lit(False)).alias("in_vocab"),
        (
            (F.col("hits") == 3)
            & ~F.coalesce("present", F.lit(False))
        ).alias("false_positive"),
    )


@register(
    "q_text_rake",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(toks) AS w,
             unnest(generate_series(1, len(toks))) AS pos
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks
            FROM documents)
    ),
    content AS (
      SELECT doc_id, pos, w,
             pos - ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY pos) AS grp
      FROM toks
      WHERE NOT list_contains({list(STOPWORDS)!r}, w)
    ),
    runs AS (
      SELECT doc_id, grp, pos, w,
             COUNT(*) OVER (PARTITION BY doc_id, grp) AS run_len
      FROM content
    ),
    wstats AS (
      SELECT w,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(run_len) AS BIGINT) AS deg
      FROM runs GROUP BY w
    ),
    phrases AS (
      SELECT runs.doc_id, runs.grp,
             string_agg(runs.w, ' ' ORDER BY runs.pos) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             SUM(CAST(ROUND(wstats.deg * 1000000.0 / wstats.freq)
                      AS BIGINT)) AS micro
      FROM runs JOIN wstats ON wstats.w = runs.w
      GROUP BY runs.doc_id, runs.grp
    )
    SELECT phrase,
           MAX(n_words) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           ROUND(CAST(MAX(micro) AS DOUBLE) / 1000000.0, 6) AS score
    FROM phrases
    GROUP BY phrase
    ORDER BY score DESC, phrase
    LIMIT 15
    """,
)
def q_text_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; each word scores
    degree/frequency (degree = Σ lengths of runs containing it) and
    a phrase scores the sum of its word scores — the unsupervised
    keyphrase stage between raw tokens (q_text_tokenize) and TF-IDF
    (q_text_tfidf).

    The run segmentation is the gaps-and-islands idiom
    (pos − row_number within non-stopword rows), all integer.  Word
    scores are fixed to exact micro-units (round(deg·1e6/freq) as
    BIGINT) so the phrase score is an integer SUM — no
    order-dependent double accumulation — with one final /1e6.
    Identical phrase texts score identically by construction
    (global word stats), so the final dedup uses MAX.  Shuffles:
    one window by doc, one groupBy word (|vocab|-sized, broadcast
    back), one groupBy phrase — each key-partitioned, no global
    sort until the top-15.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(tokens()).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    from pyspark.sql import Window as W

    content = toks.filter(~F.col("w").isin(*STOPWORDS)).select(
        "doc_id",
        "pos",
        "w",
        (
            F.col("pos")
            - F.row_number().over(
                W.partitionBy("doc_id").orderBy("pos")
            )
        ).alias("grp"),
    )
    runs = content.select(
        "doc_id",
        "grp",
        "pos",
        "w",
        F.count("*")
        .over(W.partitionBy("doc_id", "grp"))
        .alias("run_len"),
    )
    wstats = runs.groupBy("w").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("run_len").cast("bigint").alias("deg"),
    )
    phrases = (
        runs.join(F.broadcast(wstats), "w")
        .groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "w"))
                    ),
                    lambda x: x.w,
                ),
                " ",
            ).alias("phrase"),
            F.count("*").cast("bigint").alias("n_words"),
            F.sum(
                F.round(
                    F.col("deg") * 1000000.0 / F.col("freq")
                ).cast("bigint")
            ).alias("micro"),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.max("n_words").alias("n_words"),
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.round(
                F.max("micro").cast("double") / 1000000.0, 6
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), "phrase")
        .limit(15)
    )


@register(
    "q_text_burstiness",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
      FROM documents
    ),
    dc AS (
      SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY w, doc_id
    ),
    d AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
    ws AS (
      SELECT w, SUM(c) AS tot, SUM(c * c) AS sumsq
      FROM dc GROUP BY w
    )
    SELECT w AS word,
           CAST(tot AS BIGINT) AS n_occurrences,
           ROUND(CAST(d.nd * sumsq - tot * tot AS DOUBLE)
                 / CAST(d.nd * tot AS DOUBLE), 6) AS burstiness_vmr
    FROM ws CROSS JOIN d
    ORDER BY n_occurrences DESC, word
    LIMIT 20
    """,
)
def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness via the variance-to-mean ratio of per-document
    counts (docs without the word count as zero): VMR ≈ 1 means the
    word scatters Poisson-like (function words); VMR ≫ 1 means it
    clumps into few documents (topical words) — the corpus signal
    that separates content terms from glue beyond raw frequency
    (q_text_wordcount) or document frequency (q_text_tfidf's DF).

    With zeros included, var·D² = D·Σc² − (Σc)² over only the
    nonzero rows — so the whole statistic is exact 64-bit integer
    arithmetic until one final division.  Two hash aggregations
    ((word, doc) then word), both map-side combinable; no windows,
    no sort until the top-20.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens()).alias("w"))
    dc = toks.groupBy("w", "doc_id").agg(
        F.count("*").cast("bigint").alias("c")
    )
    nd = d.agg(F.count("*").cast("bigint").alias("nd"))
    ws = dc.groupBy("w").agg(
        F.sum("c").alias("tot"),
        F.sum(F.col("c") * F.col("c")).alias("sumsq"),
    )
    return (
        ws.crossJoin(F.broadcast(nd))
        .select(
            F.col("w").alias("word"),
            F.col("tot").cast("bigint").alias("n_occurrences"),
            F.round(
                (
                    F.col("nd") * F.col("sumsq")
                    - F.col("tot") * F.col("tot")
                ).cast("double")
                / (F.col("nd") * F.col("tot")).cast("double"),
                6,
            ).alias("burstiness_vmr"),
        )
        .orderBy(F.col("n_occurrences").desc(), "word")
        .limit(20)
    )


@register(
    "q_sketch_bottomk",
    oracle=f"""
    WITH ids AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) AS s
      FROM events
    ),
    hashed AS (SELECT s, {_H32.format(x='s')} AS h FROM ids),
    ranked AS (
      SELECT h, ROW_NUMBER() OVER (ORDER BY h, s) AS rn
      FROM hashed
    ),
    exact AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ids),
    sk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS held,
             MAX(h) AS maxh
      FROM ranked WHERE rn <= 256
    )
    SELECT exact.n_exact,
           CAST(256 AS BIGINT) AS k,
           CASE WHEN sk.held < 256 THEN CAST(sk.held AS DOUBLE)
                ELSE ROUND(255.0 / (CAST(sk.maxh AS DOUBLE)
                                    / 4294967296.0), 2)
           END AS kmv_estimate,
           ROUND((CASE WHEN sk.held < 256
                       THEN CAST(sk.held AS DOUBLE)
                       ELSE ROUND(255.0 / (CAST(sk.maxh AS DOUBLE)
                                           / 4294967296.0), 2)
                  END - exact.n_exact)
                 / exact.n_exact, 6) AS rel_err
    FROM sk CROSS JOIN exact
    """,
)
def q_sketch_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k distinct-count sketch (k=256) over event users:
    keep the k smallest normalized hashes; estimate distinct count as
    (k−1)/u₍ₖ₎ — the mergeable cardinality sketch whose estimate,
    unlike HLL's (q_sketch_hll, rows-only), is EXACTLY reproducible
    cross-engine because it is pure order statistics over the same
    portable md5-derived 32-bit hashes as Count-Min/Bloom.

    Below saturation (distinct < k) the sketch holds every hash and
    the estimate IS the exact held-count — the estimator switches to
    (k−1)/u₍ₖ₎ only once the k-th order statistic exists (this
    regime change is itself oracle-checked at both fixture scales).
    The bottom-k set merges by union+truncate, so each partition
    keeps k candidates and the shuffle carries k·|partitions| rows
    regardless of data size (here expressed as a row_number
    rank-filter, which Catalyst bounds per partition via
    WindowGroupLimit).  Hash ties are impossible to order-break
    wrongly: the (h, s) sort is total.
    """
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    ids = e.select(
        F.col("user_id").cast("string").alias("s")
    ).distinct()
    hashed = ids.select(
        "s", F.expr(h32("s")).alias("h")
    )
    ranked = hashed.select(
        "h",
        "s",
        F.row_number().over(W.orderBy("h", "s")).alias("rn"),
    ).filter(F.col("rn") <= 256)
    exact = ids.agg(F.count("*").cast("bigint").alias("n_exact"))
    sk = ranked.agg(
        F.count("*").cast("bigint").alias("held"),
        F.max("h").alias("maxh"),
    )
    est = F.when(
        F.col("held") < 256, F.col("held").cast("double")
    ).otherwise(
        F.round(
            255.0 / (F.col("maxh").cast("double") / 4294967296.0), 2
        )
    )
    return sk.crossJoin(F.broadcast(exact)).select(
        "n_exact",
        F.lit(256).cast("bigint").alias("k"),
        est.alias("kmv_estimate"),
        F.round(
            (est - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("rel_err"),
    )


@register(
    "q_text_coverage",
    oracle="""
    WITH wc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(trim(text), ' ')) AS w
            FROM documents) GROUP BY w
    ),
    r AS (
      SELECT w, c,
             ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rn,
             SUM(c) OVER (ORDER BY c DESC, w) AS cum,
             SUM(c) OVER () AS tot,
             COUNT(*) OVER () AS vocab
      FROM wc
    ),
    hit AS (
      SELECT MIN(rn) AS k80 FROM r WHERE 5 * cum >= 4 * tot
    )
    SELECT CAST(r.tot AS BIGINT) AS total_tokens,
           CAST(r.vocab AS BIGINT) AS vocab_size,
           CAST(hit.k80 AS BIGINT) AS k_words_80pct,
           r.w AS cutoff_word,
           ROUND(CAST(r.cum AS DOUBLE) / CAST(r.tot AS DOUBLE), 6)
             AS coverage_at_k
    FROM r JOIN hit ON r.rn = hit.k80
    """,
)
def q_text_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve readout: the minimal number of
    most-frequent words covering ≥80% of all tokens (and the word at
    the cutoff) — the tokenizer-budget statistic behind "how big
    must the vocab be", complementing the Heaps-law growth fit
    (q_text_heaps) and the Zipf exponent (q_text_zipf).

    The 80% threshold test is exact integer cross-multiplication
    (5·cum ≥ 4·total — no float CDF anywhere), over a fully
    tie-broken (count DESC, word) ranking, so the minimal k is
    unambiguous in both engines.  One token-count aggregation
    (map-combinable) and one window over |vocab| rows.
    """
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    wo = W.orderBy(F.col("c").desc(), "w")
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    r = wc.select(
        "w",
        "c",
        F.row_number().over(wo).alias("rn"),
        F.sum("c").over(wo.rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c").over(wall).alias("tot"),
        F.count("*").over(wall).alias("vocab"),
    )
    hit = r.filter(5 * F.col("cum") >= 4 * F.col("tot")).agg(
        F.min("rn").alias("k80")
    )
    return (
        r.join(F.broadcast(hit), F.col("rn") == F.col("k80"))
        .select(
            F.col("tot").cast("bigint").alias("total_tokens"),
            F.col("vocab").cast("bigint").alias("vocab_size"),
            F.col("k80").cast("bigint").alias("k_words_80pct"),
            F.col("w").alias("cutoff_word"),
            F.round(
                F.col("cum").cast("double")
                / F.col("tot").cast("double"),
                6,
            ).alias("coverage_at_k"),
        )
    )


@register(
    "q_text_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(toks) AS w,
             unnest(generate_series(1, len(toks))) AS pos
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks
            FROM documents)
    ),
    bi AS (
      SELECT a.doc_id, a.pos, a.w AS w1, b.w AS w2
      FROM toks a JOIN toks b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    ),
    bc AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
      FROM bi GROUP BY w1, w2
    ),
    uc AS (
      SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu
      FROM bc GROUP BY w1
    ),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM toks
    ),
    nll AS (
      SELECT bi.doc_id,
             CAST(FLOOR(-LN((CAST(bc.cb AS DOUBLE) + 1.0)
                            / (CAST(uc.cu AS DOUBLE)
                               + CAST(vocab.v AS DOUBLE)))
                        * 1000000.0 + 0.5) AS BIGINT) AS t_micro
      FROM bi
      JOIN bc ON bc.w1 = bi.w1 AND bc.w2 = bi.w2
      JOIN uc ON uc.w1 = bi.w1
      CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(t_micro) AS BIGINT) AS nll_micro,
           CAST(FLOOR(CAST(SUM(t_micro) AS DOUBLE) / COUNT(*) + 0.5)
                AS BIGINT) AS avg_nll_micro,
           ROUND(EXP(CAST(FLOOR(CAST(SUM(t_micro) AS DOUBLE)
                                / COUNT(*) + 0.5) AS DOUBLE)
                     / 1000000.0), 2) AS ppl
    FROM nll GROUP BY doc_id
    """,
)
def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under an add-one-smoothed bigram
    language model trained on the corpus itself: PPL =
    exp(−1/N Σ ln p(wᵢ|wᵢ₋₁)) — the classic LM quality signal a
    data-curation pipeline uses to rank documents (gibberish and
    boilerplate sit at the tails), one level above the
    compressibility proxy (q_text_compressibility).

    p = (c(w₁,w₂)+1)/(c(w₁)+V) is a ratio of exact integers, so
    both engines compute identical doubles; each −ln term is then
    quantized to integer micro-nats via ``FLOOR(x*1e6 + 0.5)`` — the
    SAME double-space arithmetic in both engines (Spark's ROUND(dbl)
    rounds the exact binary expansion via BigDecimal while DuckDB
    rounds in scaled double space, and at sf0.1's bigram count those
    boundary flips accumulated into visible 1e-6 diffs — found by the
    full sf0.1 parity sweep, CORRECTNESS_sf01_r3.txt).  The per-doc
    sums and the mean are exact BIGINT integer math from there; only
    the final PPL touches a transcendental again (EXP of an
    identical-integer mean, rounded at 2 dp).  Counts are
    two hash aggregations; the bigram stream joins its own model
    tables by key — broadcastable (|vocab|-sized) at any corpus
    scale.
    """
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(tokens()).alias("pos", "w")
    )
    w2 = F.lead("w").over(
        W.partitionBy("doc_id").orderBy("pos")
    )
    bi = toks.select(
        "doc_id", "w", w2.alias("w2")
    ).filter(F.col("w2").isNotNull()).withColumnRenamed("w", "w1")
    bc = bi.groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("cb")
    )
    uc = bc.groupBy("w1").agg(
        F.sum("cb").cast("bigint").alias("cu")
    )
    vocab = toks.agg(
        F.countDistinct("w").cast("bigint").alias("v")
    )
    nll = (
        bi.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(uc), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.floor(
                -F.log(
                    (F.col("cb").cast("double") + 1.0)
                    / (
                        F.col("cu").cast("double")
                        + F.col("v").cast("double")
                    )
                )
                * 1000000.0
                + 0.5
            )
            .cast("bigint")
            .alias("t_micro"),
        )
    )
    avg_micro = F.floor(
        F.sum("t_micro").cast("double") / F.count("*") + 0.5
    ).cast("bigint")
    return nll.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.sum("t_micro").cast("bigint").alias("nll_micro"),
        avg_micro.alias("avg_nll_micro"),
        F.round(
            F.exp(avg_micro.cast("double") / 1000000.0), 2
        ).alias("ppl"),
    )


@register(
    "q_text_stopword_discovery",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
      FROM documents
    ),
    d AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
    df AS (
      SELECT w,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM toks GROUP BY w
    )
    SELECT w AS word,
           ROUND(CAST(n_docs AS DOUBLE) / CAST(d.nd AS DOUBLE), 6)
             AS doc_frequency,
           n_occ AS n_occurrences,
           CAST(list_contains({list(STOPWORDS)!r}, w) AS BOOLEAN)
             AS is_known_stopword
    FROM df CROSS JOIN d
    WHERE 2 * n_docs >= d.nd
    ORDER BY doc_frequency DESC, word
    """,
)
def q_text_stopword_discovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus-adaptive stopword discovery: words appearing in ≥50%
    of documents — the data-driven replacement for a hand-curated
    stopword list when the corpus domain shifts (a medical corpus's
    'patient' is a stopword; no static list knows that).  The
    is_known_stopword column cross-references the engine's static
    list (q_text_stopwords), making the discovery self-validating:
    the planted function words surface, and anything else that
    crosses the threshold is a real corpus property.

    The threshold test is integer cross-multiplication (2·df ≥ D);
    document frequency is one (word, doc) distinct aggregation —
    the same two-level hash-agg shape as burstiness, map-side
    combinable at any corpus size.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens()).alias("w"))
    nd = d.agg(F.count("*").cast("bigint").alias("nd"))
    df_ = toks.groupBy("w").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_occ"),
    )
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    return (
        df_.crossJoin(F.broadcast(nd))
        .filter(2 * F.col("n_docs") >= F.col("nd"))
        .select(
            F.col("w").alias("word"),
            F.round(
                F.col("n_docs").cast("double")
                / F.col("nd").cast("double"),
                6,
            ).alias("doc_frequency"),
            F.col("n_occ").alias("n_occurrences"),
            F.array_contains(stop, F.col("w")).alias(
                "is_known_stopword"
            ),
        )
        .orderBy(F.col("doc_frequency").desc(), "word")
    )


@register(
    "q_text_readability",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS words,
             GREATEST(
               CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
               1) AS sents,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS sylls
      FROM documents
    ),
    scored AS (
      SELECT lang, words, sents, sylls,
             CAST(ROUND(
               206.835
               - 1.015 * (CAST(words AS DOUBLE) / sents)
               - 84.6 * (CAST(sylls AS DOUBLE) / words),
               6) AS DECIMAL(18,6)) AS flesch
      FROM per_doc
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS total_words,
           ROUND(CAST(SUM(flesch) AS DOUBLE) / COUNT(*), 4)
             AS avg_flesch,
           CAST(SUM(CASE WHEN flesch < 30 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hard,
           CAST(SUM(CASE WHEN flesch >= 70 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_easy
    FROM scored
    GROUP BY lang
    """,
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring per language — the classic
    readability quality filter an LLM-corpus pipeline applies before
    mixing (easy/hard buckets feed curriculum or filtering policies).
    Syllables are approximated as [aeiouy]+ vowel-group runs and
    sentences as [.!?]+ runs (≥1) — both deterministic regexes that
    evaluate identically in Spark and DuckDB.

    Float discipline: the per-doc score is one fixed float expression
    over exact integers, rounded to 6 then summed as DECIMAL(18,6)
    (order-independent); only the final mean divides as double.  One
    narrow projection + map-side-combinable groupBy on a 4-value key:
    scan-dominated at any scale, no UDFs, whole-stage codegen
    end-to-end.
    """
    d = table(spark, sf_dir, "documents")
    words = F.size(F.split(F.trim("text"), " ")).cast("bigint")
    sents = F.greatest(
        F.size(
            F.expr("regexp_extract_all(text, '[.!?]+', 0)")
        ).cast("bigint"),
        F.lit(1).cast("bigint"),
    )
    sylls = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("bigint")
    per_doc = d.select(
        "lang",
        words.alias("words"),
        sents.alias("sents"),
        sylls.alias("sylls"),
    )
    flesch = F.round(
        F.lit(206.835)
        - 1.015 * (F.col("words").cast("double") / F.col("sents"))
        - 84.6 * (F.col("sylls").cast("double") / F.col("words")),
        6,
    ).cast("decimal(18,6)")
    scored = per_doc.withColumn("flesch", flesch)
    return scored.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("total_words"),
        F.round(
            F.sum("flesch").cast("double") / F.count("*"), 4
        ).alias("avg_flesch"),
        F.sum(F.when(F.col("flesch") < 30, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hard"),
        F.sum(F.when(F.col("flesch") >= 70, 1).otherwise(0))
        .cast("bigint")
        .alias("n_easy"),
    )


@register(
    "q_text_chao1",
    oracle="""
    WITH toks AS (
      SELECT lang, unnest(string_split(trim(text), ' ')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks WHERE tok <> '' GROUP BY 1, 2
    ),
    s AS (
      SELECT lang,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS d_observed,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM tf GROUP BY lang
    )
    SELECT lang, n_tokens, d_observed, f1, f2,
           ROUND(d_observed
                 + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1)),
                 4) AS chao1,
           ROUND(CAST(f1 AS DOUBLE) / n_tokens, 6) AS gt_unseen_mass
    FROM s
    """,
)
def q_text_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimate of the TRUE vocabulary size per
    language, plus the Good-Turing unseen-probability mass f₁/N — the
    coverage diagnostic that tells an LLM-corpus builder how much
    vocabulary the crawl has NOT seen yet (high f₁/N ⇒ keep crawling).
    Bias-corrected Chao1 = D + f₁(f₁−1)/(2(f₂+1)) never divides by
    zero.

    Two map-side-combinable aggregates (token counts, then frequency-
    of-frequency sums) — the same shuffle shape as word-count; all
    inputs exact integers, two fixed float expressions at the end.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(F.split(F.trim("text"), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("lang", "tok").agg(
        F.count("*").cast("bigint").alias("c")
    )
    s = tf.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("d_observed"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("f2"),
    )
    return s.select(
        "lang",
        "n_tokens",
        "d_observed",
        "f1",
        "f2",
        F.round(
            F.col("d_observed")
            + F.col("f1").cast("double")
            * (F.col("f1") - 1)
            / (2.0 * (F.col("f2") + 1)),
            4,
        ).alias("chao1"),
        F.round(
            F.col("f1").cast("double") / F.col("n_tokens"), 6
        ).alias("gt_unseen_mass"),
    )


@register(
    "q_text_burrows",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(trim(text), ' ')) AS tok
      FROM documents
    ),
    src_tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1
    ),
    topw AS (
      SELECT tok FROM toks GROUP BY tok
      ORDER BY COUNT(*) DESC, tok LIMIT 10
    ),
    rel AS (
      SELECT t.source, t.tok,
             CAST(ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(st.n), 8)
                  AS DECIMAL(18,8)) AS rf
      FROM toks t
      JOIN topw USING (tok)
      JOIN src_tot st ON st.source = t.source
      GROUP BY t.source, t.tok
    ),
    stats AS (
      SELECT tok,
             ROUND(CAST(SUM(rf) AS DOUBLE) / 20, 8) AS mu,
             ROUND(SQRT(CAST(SUM(rf * rf) AS DOUBLE) / 20
                        - (CAST(SUM(rf) AS DOUBLE) / 20)
                          * (CAST(SUM(rf) AS DOUBLE) / 20)), 8) AS sd
      FROM rel GROUP BY tok
    ),
    z AS (
      SELECT r.source, r.tok,
             CAST(ROUND((CAST(r.rf AS DOUBLE) - s.mu) / s.sd, 8)
                  AS DECIMAL(18,8)) AS z
      FROM rel r JOIN stats s ON s.tok = r.tok
    ),
    delta AS (
      SELECT a.source AS src_a, b.source AS src_b,
             SUM(ABS(a.z - b.z)) AS dsum,
             CAST(COUNT(*) AS BIGINT) AS nw
      FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           ROUND(CAST(dsum AS DOUBLE) / nw, 6) AS burrows_delta
    FROM delta
    ORDER BY dsum, src_a, src_b
    LIMIT 15
    """,
)
def q_text_burrows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between corpus sources —
    the authorship-attribution metric (mean |Δz| of the top-10
    function-word frequencies) a corpus-governance pipeline uses to
    spot sources that are really the same upstream feed.  Reports the
    15 most stylistically similar source pairs.

    Relative frequencies and z-scores are rounded to DECIMAL(18,8)
    before every cross-row sum (order-independent); the only
    unbounded aggregate is the token count, map-side-combined.  The
    pair join runs over 20 sources × 10 words — bounded regardless of
    corpus size, which is the point: Delta compresses any corpus to a
    sources×words matrix first.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tokens()).alias("tok")
    )
    src_tot = toks.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n")
    )
    topw = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(10)
        .select("tok")
    )
    rel = (
        toks.join(F.broadcast(topw), "tok")
        .groupBy("source", "tok")
        .agg(F.count("*").cast("double").alias("c"))
        .join(F.broadcast(src_tot), "source")
        .select(
            "source",
            "tok",
            F.round(F.col("c") / F.col("n"), 8)
            .cast("decimal(18,8)")
            .alias("rf"),
        )
    )
    stats = rel.groupBy("tok").agg(
        F.round(F.sum("rf").cast("double") / 20, 8).alias("mu"),
        F.round(
            F.sqrt(
                F.sum(F.col("rf") * F.col("rf")).cast("double") / 20
                - (F.sum("rf").cast("double") / 20)
                * (F.sum("rf").cast("double") / 20)
            ),
            8,
        ).alias("sd"),
    )
    z = rel.join(F.broadcast(stats), "tok").select(
        "source",
        "tok",
        F.round(
            (F.col("rf").cast("double") - F.col("mu")) / F.col("sd"), 8
        )
        .cast("decimal(18,8)")
        .alias("z"),
    )
    a = z.select(
        F.col("source").alias("src_a"), "tok", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("src_b"), "tok", F.col("z").alias("zb")
    )
    delta = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.abs(F.col("za") - F.col("zb"))).alias("dsum"),
            F.count("*").cast("bigint").alias("nw"),
        )
    )
    return (
        delta.orderBy("dsum", "src_a", "src_b")
        .limit(15)
        .select(
            "src_a",
            "src_b",
            F.round(F.col("dsum").cast("double") / F.col("nw"), 6).alias(
                "burrows_delta"
            ),
        )
    )


@register(
    "q_text_ttr_curve",
    oracle="""
    WITH per_doc AS (
      SELECT doc_id,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS nt,
             CAST(len(list_distinct(string_split(trim(text), ' ')))
                  AS BIGINT) AS nd
      FROM documents
    ),
    ranked AS (
      SELECT nt, nd,
             NTILE(10) OVER (ORDER BY nt, doc_id) AS decile,
             CAST(ROUND(CAST(nd AS DOUBLE) / nt, 8) AS DECIMAL(18,8))
               AS ttr
      FROM per_doc
    )
    SELECT CAST(decile AS BIGINT) AS length_decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(nt) AS BIGINT) AS min_tokens,
           CAST(MAX(nt) AS BIGINT) AS max_tokens,
           ROUND(CAST(SUM(ttr) AS DOUBLE) / COUNT(*), 6) AS avg_ttr,
           CAST(SUM(nd) AS BIGINT) AS total_types
    FROM ranked
    GROUP BY decile
    """,
)
def q_text_ttr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio by document-length decile — the
    length-controlled lexical-diversity curve (TTR falls with length;
    comparing raw TTRs across different-length docs is the classic
    mistake this layout avoids).  Complements q_text_heaps (corpus-
    level vocabulary growth) with a per-document view a quality
    filter can threshold on.

    NTILE runs over the (n_tokens, doc_id) total order so decile
    boundaries are engine-identical; per-doc TTRs round to DECIMAL
    before the per-decile mean (order-independent sums).  One scan,
    one bounded window, one 10-group aggregate.
    """
    d = table(spark, sf_dir, "documents")
    t = tokens()
    per_doc = d.select(
        "doc_id",
        F.size(t).cast("bigint").alias("nt"),
        F.size(F.array_distinct(t)).cast("bigint").alias("nd"),
    )
    ranked = per_doc.select(
        "nt",
        "nd",
        F.ntile(10).over(W.orderBy("nt", "doc_id")).alias("decile"),
        F.round(F.col("nd").cast("double") / F.col("nt"), 8)
        .cast("decimal(18,8)")
        .alias("ttr"),
    )
    return ranked.groupBy(
        F.col("decile").cast("bigint").alias("length_decile")
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("nt").cast("bigint").alias("min_tokens"),
        F.max("nt").cast("bigint").alias("max_tokens"),
        F.round(F.sum("ttr").cast("double") / F.count("*"), 6).alias(
            "avg_ttr"
        ),
        F.sum("nd").cast("bigint").alias("total_types"),
    )


@register(
    "q_text_vocab_overlap",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT source,
             unnest(string_split(trim(text), ' ')) AS tok
      FROM documents
    ),
    vsize AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS nv
      FROM vocab GROUP BY source
    ),
    common AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM vocab a JOIN vocab b
        ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, c AS n_common,
           sa.nv AS vocab_a, sb.nv AS vocab_b,
           ROUND(CAST(c AS DOUBLE) / (sa.nv + sb.nv - c), 6)
             AS vocab_jaccard
    FROM common
    JOIN vsize sa ON sa.source = src_a
    JOIN vsize sb ON sb.source = src_b
    ORDER BY CAST(c AS DOUBLE) / (sa.nv + sb.nv - c) DESC,
             src_a, src_b
    LIMIT 20
    """,
)
def q_text_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-overlap matrix between corpus sources (Jaccard of
    distinct-token sets, top-20 most overlapping pairs) — the
    content-level counterpart to q_text_burrows (which compares
    frequency STYLE): near-total vocabulary overlap between two
    "different" sources is the fingerprint of a shared upstream crawl
    that per-document dedup misses.

    The corpus collapses to (source, token) distinct pairs first —
    bounded by Σ vocabularies, far smaller than token occurrences —
    then a self-join on token with src_a < src_b and one exact count
    per pair; degree tables broadcast.  Hot tokens (stopwords shared
    by all 20 sources) fan out at most C(20,2) = 190× — bounded by
    the SOURCE count, not the corpus, so the shape holds at 100 TB.
    """
    d = table(spark, sf_dir, "documents")
    vocab = d.select(
        "source", F.explode(tokens()).alias("tok")
    ).distinct()
    vsize = vocab.groupBy("source").agg(
        F.count("*").cast("bigint").alias("nv")
    )
    a = vocab.select(F.col("source").alias("src_a"), "tok")
    b = vocab.select(F.col("source").alias("src_b"), "tok")
    common = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    sa = vsize.select(
        F.col("source").alias("src_a"), F.col("nv").alias("vocab_a")
    )
    sb = vsize.select(
        F.col("source").alias("src_b"), F.col("nv").alias("vocab_b")
    )
    jac = F.col("c").cast("double") / (
        F.col("vocab_a") + F.col("vocab_b") - F.col("c")
    )
    return (
        common.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .orderBy(jac.desc(), "src_a", "src_b")
        .limit(20)
        .select(
            "src_a",
            "src_b",
            F.col("c").alias("n_common"),
            "vocab_a",
            "vocab_b",
            F.round(jac, 6).alias("vocab_jaccard"),
        )
    )


@register(
    "q_text_novelty",
    oracle="""
    WITH bi AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               range(1, len(string_split(trim(text), ' '))),
               i -> string_split(trim(text), ' ')[i] || ' ' ||
                    string_split(trim(text), ' ')[i + 1])) AS g
      FROM documents
    ),
    df AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS nd FROM bi GROUP BY g
    ),
    per_doc AS (
      SELECT bi.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CASE WHEN df.nd = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique
      FROM bi JOIN df ON df.g = bi.g
      GROUP BY bi.doc_id
    )
    SELECT doc_id, n_bigrams, n_unique,
           ROUND(CAST(n_unique AS DOUBLE) / n_bigrams, 6) AS novelty
    FROM per_doc
    ORDER BY CAST(n_unique AS DOUBLE) / n_bigrams, doc_id
    LIMIT 25
    """,
)
def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram novelty score per document — the fraction of a doc's
    distinct bigrams seen in NO other document; the memorization /
    template-reuse audit run on synthetic or crawled corpora (low
    novelty ⇒ the doc is stitched from corpus boilerplate; the 25
    least-novel docs reported are the near-duplicate suspects, and on
    this fixture they recover the planted near-dup pairs).

    Shape: distinct (doc, bigram) pairs → bigram document-frequency →
    broadcast-sized? No — the df table is corpus-sized, so the join
    back is a shuffle join on the bigram key with partial aggs on
    both sides; at 100 TB the bigram key would be a 64-bit hash.
    TakeOrdered with (novelty, doc_id) total order.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    bi = d.select(
        "doc_id",
        F.explode(F.array_distinct(ngrams(F.col("toks"), 2))).alias("g"),
    )
    df_ = bi.groupBy("g").agg(F.count("*").cast("bigint").alias("nd"))
    per_doc = (
        bi.join(df_, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(F.when(F.col("nd") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unique"),
        )
    )
    nov = F.col("n_unique").cast("double") / F.col("n_bigrams")
    return (
        per_doc.orderBy(nov, "doc_id")
        .limit(25)
        .select(
            "doc_id",
            "n_bigrams",
            "n_unique",
            F.round(nov, 6).alias("novelty"),
        )
    )


@register(
    "q_text_bpe_merges",
    oracle="""
    WITH wf AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(trim(text), ' ')) AS w
            FROM documents)
      WHERE length(w) >= 2
      GROUP BY w
    ),
    pairs AS (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
      FROM wf, unnest(list_transform(
             range(1, length(word)),
             i -> substring(word, CAST(i AS INT), 2))) AS t(pair)
      GROUP BY pair
    )
    SELECT pair, n,
           CAST(row_number() OVER (ORDER BY n DESC, pair)
                AS BIGINT) AS merge_rank
    FROM pairs
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge step, distributed (Sennrich et al. 2016,
    arXiv:1508.07909; the GPT-2/SentencePiece training primitive):
    count adjacent character pairs across the corpus weighted by word
    frequency and rank the merge candidates — the argmax pair is what
    a BPE trainer would fuse into a new symbol.  Training a tokenizer
    over a 100 TB corpus is exactly this aggregation iterated ~50k
    times; one step is the oracle-checkable unit.

    Scale shape: the word-frequency table is the standard vocab-sized
    reduction (map-side combine), and pair extraction explodes each
    DISTINCT word once — corpus occurrences are carried by the freq
    weight, never re-exploded, so the pair stream is |vocab|·avg_len
    rows regardless of corpus row count.  Subsequent BPE iterations
    only rescan words containing the merged pair (a semi-join on a
    substring filter), which is how the full trainer stays
    sub-linear per round.
    """
    d = table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(tokens()).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    pairs = wf.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    agg = pairs.groupBy("pair").agg(
        F.sum("freq").cast("bigint").alias("n")
    )
    return (
        agg.select(
            "pair",
            "n",
            F.row_number()
            .over(W.orderBy(F.col("n").desc(), "pair"))
            .cast("bigint")
            .alias("merge_rank"),
        )
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


# Ordered BPE merge ranks for q_text_bpe_encode — the "learned
# vocabulary" a trainer (q_text_bpe_merges iterated) would emit.
# Fixed here so Spark and the oracle apply the identical table; each
# entry "a b" fuses adjacent symbols a,b into ab, in rank order.
_BPE_MERGES = (
    "t h", "i n", "a n", "r e", "o n", "a t", "e n", "o r",
    "e s", "a r", "th e", "an d", "s t", "l e", "a s", "k e",
    "s c", "t a", "v a", "r o",
)


def _bpe_encode_sql(col: str = "word") -> str:
    """DuckDB expression: space-pad the char-split word, then apply
    the merge table in rank order via sequential replace()."""
    e = f"' ' || trim(regexp_replace({col}, '(.)', '\\1 ', 'g')) || ' '"
    for m in _BPE_MERGES:
        a, b = m.split()
        e = f"replace({e}, ' {a} {b} ', ' {a}{b} ')"
    return e


@register(
    "q_text_bpe_encode",
    oracle=f"""
    WITH wf AS (
      SELECT source, w AS word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT source, unnest(string_split(trim(text), ' ')) AS w
            FROM documents)
      WHERE regexp_matches(w, '^[a-z]+$')
      GROUP BY source, w
    ),
    vocab AS (SELECT DISTINCT word FROM wf),
    enc AS (
      SELECT word,
             CAST(length(trim(E)) - length(replace(trim(E), ' ', ''))
                  + 1 AS BIGINT) AS n_tok
      FROM (SELECT word, {{expr}} AS E FROM vocab)
    )
    SELECT wf.source,
           CAST(SUM(freq) AS BIGINT) AS n_words,
           CAST(COUNT(DISTINCT wf.word) AS BIGINT) AS n_vocab,
           CAST(SUM(freq * n_tok) AS BIGINT) AS n_tokens,
           FLOOR(CAST(SUM(freq * n_tok) AS DOUBLE) / SUM(freq) * 1e6
                 + 0.5) / 1e6 AS tokens_per_word
    FROM wf JOIN enc ON enc.word = wf.word
    GROUP BY wf.source
    """.format(expr=_bpe_encode_sql()),
)
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE, distributed — apply a learned merge table (the
    output side of q_text_bpe_merges iterated; Sennrich et al. 2016)
    to tokenize the corpus, reporting words/vocab/subword-token
    counts and tokens-per-word per source.  This is the tokenization
    pass every LLM training pipeline runs over its full corpus.

    Scale shape — the classic vocab trick: the merge chain (20
    sequential replaces over the space-padded char sequence) runs
    over DISTINCT words only (|vocab| rows, not corpus rows); corpus
    mass is carried by per-(source, word) frequencies and the encoded
    token counts re-attach via a broadcast join.  At 100 TB the
    encode cost is |vocab|·|merges| — independent of corpus size —
    and the frequency aggregation is a map-side-combinable groupBy.
    All merge arithmetic is pure JVM string functions (no Python in
    the loop); the tokens_per_word ratio is quantized with the
    engine-portable FLOOR(x·1e6+0.5) discipline.
    """
    d = table(spark, sf_dir, "documents")
    wf = (
        d.select(
            "source", F.explode(tokens()).alias("word")
        )
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    vocab = wf.select("word").distinct()
    enc_col = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace("word", "(.)", "$1 ")),
        F.lit(" "),
    )
    for m in _BPE_MERGES:
        a, b = m.split()
        enc_col = F.replace(
            enc_col, F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
        )
    trimmed = F.trim(enc_col)
    enc = vocab.select(
        "word",
        (
            F.length(trimmed)
            - F.length(F.replace(trimmed, F.lit(" "), F.lit("")))
            + 1
        )
        .cast("bigint")
        .alias("n_tok"),
    )
    joined = wf.join(F.broadcast(enc), "word")
    tpw = F.sum(F.col("freq") * F.col("n_tok")).cast("double") / F.sum(
        "freq"
    )
    return joined.groupBy("source").agg(
        F.sum("freq").cast("bigint").alias("n_words"),
        F.countDistinct("word").cast("bigint").alias("n_vocab"),
        F.sum(F.col("freq") * F.col("n_tok"))
        .cast("bigint")
        .alias("n_tokens"),
        (F.floor(tpw * 1e6 + 0.5) / 1e6).alias("tokens_per_word"),
    )


@register(
    "q_text_prf",
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
    seed AS (SELECT * FROM (VALUES ('hash', 1.0), ('join', 1.0),
                                   ('scan', 1.0)) AS s(word, w)),
    tf1 AS (SELECT doc_id, word, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM toks WHERE word IN (SELECT word FROM seed)
            GROUP BY 1, 2),
    df1 AS (SELECT word, CAST(COUNT(*) AS DOUBLE) AS df
            FROM tf1 GROUP BY word),
    s1 AS (
      SELECT tf1.doc_id,
             ROUND(SUM(
               ln(1 + (s.n_docs - df1.df + 0.5) / (df1.df + 0.5))
               * tf1.tf * 2.2
               / (tf1.tf + 1.2 * (0.25 + 0.75 * dl.len / s.avglen))
             ), 6) AS bm25
      FROM tf1
      JOIN df1 ON df1.word = tf1.word
      JOIN dl ON dl.doc_id = tf1.doc_id
      CROSS JOIN stats s
      GROUP BY tf1.doc_id
      ORDER BY bm25 DESC, tf1.doc_id LIMIT 3
    ),
    expansion AS (
      SELECT word, 0.5 AS w
      FROM toks
      WHERE doc_id IN (SELECT doc_id FROM s1)
        AND len(word) >= 4
        AND word NOT IN (SELECT word FROM seed)
      GROUP BY word
      ORDER BY CAST(COUNT(*) AS BIGINT) DESC, word LIMIT 2
    ),
    terms AS (SELECT * FROM seed UNION ALL SELECT * FROM expansion),
    tf2 AS (SELECT t.doc_id, t.word, q.w,
                   CAST(COUNT(*) AS DOUBLE) AS tf
            FROM toks t JOIN terms q ON q.word = t.word
            GROUP BY 1, 2, 3),
    df2 AS (SELECT word, CAST(COUNT(*) AS DOUBLE) AS df
            FROM tf2 GROUP BY word)
    SELECT doc_id, prf_score, rank FROM (
      SELECT tf2.doc_id,
             ROUND(SUM(
               tf2.w
               * ln(1 + (s.n_docs - df2.df + 0.5) / (df2.df + 0.5))
               * tf2.tf * 2.2
               / (tf2.tf + 1.2 * (0.25 + 0.75 * dl.len / s.avglen))
             ), 6) AS prf_score,
             CAST(row_number() OVER (
               ORDER BY ROUND(SUM(
                 tf2.w
                 * ln(1 + (s.n_docs - df2.df + 0.5) / (df2.df + 0.5))
                 * tf2.tf * 2.2
                 / (tf2.tf + 1.2 * (0.25 + 0.75 * dl.len / s.avglen))
               ), 6) DESC, tf2.doc_id) AS BIGINT) AS rank
      FROM tf2
      JOIN df2 ON df2.word = tf2.word
      JOIN dl ON dl.doc_id = tf2.doc_id
      CROSS JOIN stats s
      GROUP BY tf2.doc_id)
    WHERE rank <= 10
    """,
)
def q_text_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio-style query expansion) —
    the two-pass retrieval upgrade between plain BM25 and a learned
    ranker: pass 1 scores the seed query {hash, join, scan}, the
    top-3 documents are ASSUMED relevant, their two most frequent
    long terms (≥4 chars, seed excluded) join the query at half
    weight, and pass 2 re-scores the expanded query for the final
    top-10.  Every stage is exact integer counts + one 6-dp-rounded
    closed form, so the whole two-pass pipeline is value-hash
    oracle-checkable.

    Plan shape: the expansion term set is derived DISTRIBUTED (a semi
    join against the pass-1 winners, never a collect) and both term
    relations broadcast into the token stream — the corpus-sized toks
    relation is scanned twice and shuffled only by its partial
    aggregations, which is the two-pass cost PRF inherently pays (and
    why it's served from inverted indexes in production — the BM25
    candidate-generator shape q_sim_hybrid_rrf composes)."""
    # Round-10 optimization: tokenization is the per-row cost and this
    # plan consumes `toks` from four independent subtrees (dl, the
    # stats broadcast, tf, the df broadcast) — broadcast subtrees
    # execute as separate jobs, so the explode ran up to 4x on the
    # single-row-group scan's one core.  `spread` fans the tokenize
    # out (guide §2.5) and the localCheckpoint materializes it once
    # for every consumer.  Measured at sf0.1: 11.3 s -> ~2 s cold,
    # identical top-15.
    d = spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark, sf_dir, "documents",
    )
    toks = d.select(
        "doc_id", F.explode(tokens()).alias("word")
    ).localCheckpoint()
    # dl feeds three independent subtrees (the stats broadcast plus
    # one shuffle join per BM25 pass) — materialize the corpus-sized
    # groupBy once as well (round-10, same guide §2.4 reasoning)
    dl = toks.groupBy("doc_id").agg(
        F.count("*").cast("double").alias("len")
    ).localCheckpoint()
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("len") / F.count("*")).alias("avglen"),
    )
    seed = spark.createDataFrame(
        [("hash", 1.0), ("join", 1.0), ("scan", 1.0)],
        "word string, w double",
    )

    def bm25(tf_rel: DataFrame, weighted: bool) -> DataFrame:
        df_rel = tf_rel.groupBy("word").agg(
            F.count("*").cast("double").alias("df")
        )
        idf = F.log(
            1
            + (F.col("n_docs") - F.col("df") + 0.5)
            / (F.col("df") + 0.5)
        )
        term = (
            idf
            * F.col("tf")
            * 2.2
            / (
                F.col("tf")
                + 1.2 * (0.25 + 0.75 * F.col("len") / F.col("avglen"))
            )
        )
        if weighted:
            term = F.col("w") * term
        return (
            tf_rel.join(F.broadcast(df_rel), "word")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(F.round(F.sum(term), 6).alias("score"))
        )

    tf1 = (
        toks.join(F.broadcast(seed.select("word")), "word")
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    s1 = (
        bm25(tf1, weighted=False)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(3)
    )
    expansion = (
        toks.join(s1.select("doc_id"), "doc_id", "semi")
        .filter(F.length("word") >= 4)
        .join(seed.select("word"), "word", "anti")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(2)
        .select("word", F.lit(0.5).alias("w"))
    )
    terms = seed.unionByName(expansion)
    tf2 = (
        toks.join(F.broadcast(terms), "word")
        .groupBy("doc_id", "word", "w")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    # explicit distributed top-k (TakeOrderedAndProject), THEN rank
    # assignment over the 10 surviving rows — r7 verdict nit: the
    # previous global row_number window relied on Spark's
    # WindowGroupLimit rewrite to avoid a single-partition sort; the
    # limit-first form makes the top-k contract visible in the plan
    w = W.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        bm25(tf2, weighted=True)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select("doc_id", F.col("score").alias("prf_score"), "rank")
    )
