"""Focused tests for the round-11 optimization rewrites.

Each pins an internals change against an independent reference so a
future refactor can't silently drift:

- ``_portable_sig``'s per-document array form (native conv hash) vs
  the original seed-crossJoin formulation over the digit-decoded hash
  (the spec the oracle CTEs replay), pivoted to the same wide shape.
- ``q_agg_approx``'s pre-deduplicated exact count vs a direct
  ``countDistinct`` ground truth.
- ``q_dedup_minhash_portable``'s array-intersect verification: every
  reported pair's exact-Jaccard column must equal the value computed
  by the inverted-index self-join over the whole shingle frame.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from morphl_model_user_search_intent_spark import REGISTRY
from morphl_model_user_search_intent_spark.text.analysis import _H32
from morphl_model_user_search_intent_spark.llm.dedup import (
    _MH_MIX,
    _MINHASH_SEEDS,
    _portable_sig,
    jaccard_pairs_of,
    shingle_rows_of,
)

from conftest import SF_DIR


def test_portable_sig_matches_seed_explode_reference(spark):
    """The per-document array form must be row-identical to the
    original per-seed crossJoin formulation over the shingle rows,
    pivoted to one row per doc, on an arbitrary shingle frame
    (duplicate shingles across docs, singleton docs, multi-doc
    collisions)."""
    sh = spark.createDataFrame(
        [
            (1, "a b c"),
            (1, "b c d"),
            (2, "a b c"),
            (2, "x y z"),
            (3, "lone shingle here"),
        ],
        "doc_id bigint, shingle string",
    )
    seeds = spark.createDataFrame(
        [(j,) for j in range(_MINHASH_SEEDS)], "j bigint"
    )
    shd = sh.select("doc_id", F.expr(_H32.format(x="shingle")).alias("h32"))
    reference = (
        shd.crossJoin(F.broadcast(seeds))
        .select(
            "doc_id",
            "j",
            F.expr(_MH_MIX.format(h="h32", j="j")).alias("h"),
        )
        .groupBy("doc_id")
        .pivot("j", list(range(_MINHASH_SEEDS)))
        .agg(F.min("h"))
    )
    sig = _portable_sig(
        sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("sh"))
    )
    assert sig.columns == ["doc_id"] + [
        f"m{j}" for j in range(_MINHASH_SEEDS)
    ]
    got = sorted(tuple(r) for r in sig.collect())
    want = sorted(tuple(r) for r in reference.collect())
    assert got == want
    # shape contract: exactly one row per doc
    assert len(got) == 3


def test_agg_approx_exact_parts_is_exact_distinct(spark):
    """The pre-dedup rewrite's ``exact_parts`` must equal a direct
    per-group COUNT(DISTINCT) of the raw table."""
    from morphl_model_user_search_intent_spark.io import table

    got = {
        r.l_returnflag: r.exact_parts
        for r in REGISTRY["q_agg_approx"].fn(spark, SF_DIR).collect()
    }
    want = {
        r.l_returnflag: r.n
        for r in table(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    assert got == want


def test_minhash_portable_exact_jaccard_unaffected_by_pruning(spark):
    """The exact Jaccard comes from intersecting each detected pair's
    two shingle arrays: every reported pair's exact_jaccard must match
    the value the inverted-index self-join computes from the full
    shingle frame."""
    rows = (
        REGISTRY["q_dedup_minhash_portable"].fn(spark, SF_DIR).collect()
    )
    assert rows, "fixture plants near-duplicate pairs"
    sh = shingle_rows_of(
        spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        )
    )
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs_of(sh).collect()
    }
    for r in rows:
        # pairs above tau must carry the exact full-frame jaccard;
        # sub-tau detected pairs aren't in `full` (jaccard_pairs_of
        # filters at tau) and only need the estimate column
        if (r.doc_a, r.doc_b) in full:
            assert r.exact_jaccard == pytest.approx(
                full[(r.doc_a, r.doc_b)], abs=1e-6
            )
