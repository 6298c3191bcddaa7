"""Gates for the rows-only UDF and MLlib operators: determinism under
fixed seeds, schema contracts, and semantic twins computed with
built-in ops."""

from __future__ import annotations

import math

import pytest

from morphl_model_user_search_intent_spark import REGISTRY

from conftest import SF_DIR, jobs_during


def test_grouped_map_pct_matches_window_twin_exactly(spark):
    """The grouped-map percentile transform is exactly-reproducible
    arithmetic (one IEEE division of exact integers), so the built-in
    window twin must match BIT-FOR-BIT — no tolerance (this is what
    earned the key its oracle in round 7)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W
    from morphl_model_user_search_intent_spark.io import table

    got = {
        r.event_id: r.pct
        for r in REGISTRY["q_udf_grouped_map"].fn(spark, SF_DIR).collect()
    }
    ev = table(spark, SF_DIR, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    cnt = W.partitionBy("event_type")
    twin = ev.select(
        "event_id",
        F.when(
            F.count("*").over(cnt) > 1,
            (F.row_number().over(w) - 1).cast("double")
            / (F.count("*").over(cnt) - 1).cast("double"),
        )
        .otherwise(0.0)
        .alias("pct"),
    )
    rows = twin.collect()
    assert len(rows) == len(got)
    for r in rows:
        assert got[r.event_id] == r.pct, r.event_id


def test_embed_text_long_twin_pins_wide_form(spark):
    """q_embed_text (rows-only: array output) is value-anchored by its
    oracle-checked long twin: exploding the wide vectors and rounding
    at 6 dp must reproduce q_embed_text_long row-for-row."""
    wide = REGISTRY["q_embed_text"].fn(spark, SF_DIR).collect()
    long_rows = {
        (r.doc_id, r.dim): r.weight
        for r in REGISTRY["q_embed_text_long"].fn(spark, SF_DIR).collect()
    }
    assert len(long_rows) == 16 * len(wide)
    for r in wide:
        for dim, x in enumerate(r.embedding):
            assert long_rows[(r.doc_id, dim)] == round(x, 6) or (
                # JVM HALF_UP vs Python banker's can differ on exact
                # 5e-7 ties; compare against the JVM discipline
                abs(long_rows[(r.doc_id, dim)] - x) <= 5.000001e-7
            )


def test_udtf_bursts_semantics(spark):
    rows = REGISTRY["q_udtf_explode_sessions"].fn(spark, SF_DIR).collect()
    assert rows, "expected at least one ≥2-event burst"
    for r in rows:
        assert r.n >= 2
        assert (r.burst_end - r.burst_start).total_seconds() <= 3600


def test_embed_text_deterministic_unit_vectors(spark):
    df = REGISTRY["q_embed_text"].fn(spark, SF_DIR)
    rows = df.collect()
    assert all(len(r.embedding) == 16 for r in rows)
    for r in rows[:20]:
        norm = math.sqrt(sum(x * x for x in r.embedding))
        assert math.isclose(norm, 1.0, rel_tol=1e-9)
    # deterministic across runs (md5-based, not PYTHONHASHSEED);
    # fresh plan so no stage of the first run is reused
    again = {
        r.doc_id: r.embedding
        for r in REGISTRY["q_embed_text"].fresh(spark, SF_DIR).collect()
    }
    assert all(again[r.doc_id] == r.embedding for r in rows)


def test_tfidf_contract(spark):
    rows = REGISTRY["q_ml_tfidf"].fn(spark, SF_DIR).collect()
    assert rows and all(r.nnz > 0 and r.tfidf_norm >= 0 for r in rows)


def test_word2vec_seeded(spark):
    a = {r.doc_id: r.w2v_norm for r in REGISTRY["q_ml_word2vec"].fn(spark, SF_DIR).collect()}
    assert a and all(v >= 0 for v in a.values())


def test_intent_classifier_metrics(spark):
    rows = REGISTRY["q_ml_intent_classifier"].fn(spark, SF_DIR).collect()
    assert {int(r.label) for r in rows} <= set(range(10))
    acc = rows[0].overall_accuracy
    n_test = sum(r.n_test for r in rows)
    n_correct = sum(r.n_correct for r in rows)
    assert math.isclose(acc, round(n_correct / n_test, 6), abs_tol=1e-6)
    # labels are independent of features (verified in fixtures), so
    # accuracy should hover near the 10-class chance rate.
    assert 0.0 <= acc <= 0.35


def test_logreg_tolerance_stop_matches_converged_fit(spark):
    """The shared estimator stops on its tolerance well before the
    20-round cap, yet predicts every held-out row of a planted-centroid
    set exactly as a fit run to ``tol=1e-9`` does."""
    import numpy as np
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors

    from morphl_model_user_search_intent_spark.ml.pipeline import _logreg

    rng = np.random.default_rng(5)
    centroids = rng.normal(0.0, 1.0, size=(10, 64))
    labels = rng.integers(0, 10, size=2000)
    vecs = centroids[labels] + rng.normal(0.0, 1.5, size=(2000, 64))
    data = spark.createDataFrame(
        [
            (i, Vectors.dense(v.tolist()), float(y))
            for i, (v, y) in enumerate(zip(vecs, labels))
        ],
        ["id", "features", "label"],
    )
    train, test = data.randomSplit([0.8, 0.2], seed=42)
    fast = _logreg().fit(train)
    slow = LogisticRegression(maxIter=200, regParam=0.01, tol=1e-9).fit(train)

    def predictions(model):
        return dict(model.transform(test).select("id", "prediction").collect())

    assert fast.summary.totalIterations < 20
    assert slow.summary.totalIterations > fast.summary.totalIterations
    want = predictions(slow)
    assert len(want) > 300 and predictions(fast) == want


def test_intent_classifier_job_ceiling(spark):
    """Build + collect of the classifier: one L-BFGS job per round
    until the tolerance stop, then one pass over the predictions (a
    fit that runs all 20 rounds lands at 27)."""
    key = REGISTRY["q_ml_intent_classifier"]
    rows, jobs = jobs_during(spark, lambda: key.fn(spark, SF_DIR).collect())
    assert rows
    assert len(jobs) <= 14, f"classifier ran {len(jobs)} jobs"


def test_intent_classifier_agrees_with_confusion(spark):
    """Both keys score the same split with the same fit: per class,
    n_test is the confusion row's sum and n_correct its diagonal."""
    cells = REGISTRY["q_ml_confusion"].fn(spark, SF_DIR).collect()
    rows = REGISTRY["q_ml_intent_classifier"].fn(spark, SF_DIR).collect()
    want = {}
    for c in cells:
        n, hits = want.get(c.label, (0, 0))
        want[c.label] = (n + c.n, hits + (c.n if c.label == c.prediction else 0))
    assert {r.label: (r.n_test, r.n_correct) for r in rows} == want


def test_crossval_selects_from_grid(spark):
    rows = REGISTRY["q_ml_crossval"].fn(spark, SF_DIR).collect()
    assert {r.reg_param for r in rows} == {0.01, 0.5}
    assert len({r.best_reg_param for r in rows}) == 1
    assert rows[0].best_reg_param in {0.01, 0.5}
    for r in rows:
        assert 0.0 <= r.mean_f1 <= 1.0


def test_kmeans_partitions_space_deterministically(spark):
    from morphl_model_user_search_intent_spark.io import table as _table

    a = REGISTRY["q_ml_kmeans"].fn(spark, SF_DIR).collect()
    n_total = _table(spark, SF_DIR, "embeddings").count()
    assert len(a) == 10  # k clusters, none empty
    assert sum(r.n_members for r in a) == n_total  # full coverage
    assert all(r.mean_dist > 0 for r in a)
    b = REGISTRY["q_ml_kmeans"].fresh(spark, SF_DIR).collect()  # seeded rerun, fresh plan
    assert sorted((r.cluster, r.n_members, r.mean_dist) for r in a) == sorted(
        (r.cluster, r.n_members, r.mean_dist) for r in b
    )


def test_user_model_metrics(spark):
    row = REGISTRY["q_ml_user_model"].fn(spark, SF_DIR).collect()[0]
    assert row.n_train > 0 and row.n_test > 0
    # must at least match blind majority-class guessing
    majority = max(row.purchase_rate, 1.0 - row.purchase_rate)
    assert row.accuracy >= majority - 0.25


def test_als_recommendations_shape(spark):
    df = REGISTRY["q_ml_als"].fn(spark, SF_DIR)
    rows = df.collect()
    n_users = len({r.o_custkey for r in rows})
    assert len(rows) == 3 * n_users  # exactly top-3 per customer
    assert {r.rec_rank for r in rows} == {1, 2, 3}
    assert all(r.score is not None for r in rows)


def test_observe_metrics_match_independent_aggregate(spark):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from morphl_model_user_search_intent_spark.io import table as _t

    o = _t(spark, SF_DIR, "orders").filter(
        (F.col("o_orderstatus") == "O")
        & (F.col("o_totalprice") > 200000.0)
    )
    expected_n = o.count()
    expected_cents = o.select(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
    ).collect()[0][0]

    obs = Observation("m")
    df = (
        o.select("o_orderkey", "o_totalprice")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("total_cents"),
        )
    )
    df.collect()  # materialize so the observation fires
    got = obs.get
    assert got["n_rows"] == expected_n
    assert got["total_cents"] == expected_cents


def test_pca_retains_reasonable_variance(spark):
    df = REGISTRY["q_ml_pca"].fn(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) >= 2  # one row per label present
    ev = rows[0].explained_variance
    # 8 of 64 isotropic-ish dims: retained share must be positive and
    # a strict subset of total variance
    assert 0.0 < ev < 1.0
    assert all(r.mean_norm > 0 for r in rows)


def test_compressibility_deterministic_and_bounded(spark):
    df = REGISTRY["q_text_compressibility"].fn(spark, SF_DIR)
    a = {r.source: r for r in df.collect()}
    b = {
        r.source: r
        for r in REGISTRY["q_text_compressibility"]
        .fresh(spark, SF_DIR)
        .collect()
    }  # rerun on a fresh plan: identical
    assert a.keys() == b.keys() and len(a) > 0
    for k in a:
        assert a[k].mean_ratio == b[k].mean_ratio
        assert 0.0 < a[k].min_ratio <= a[k].max_ratio < 1.2


def test_gbt_calibration_monotone_overall(spark):
    df = REGISTRY["q_ml_gbt"].fn(spark, SF_DIR)
    rows = sorted(df.collect(), key=lambda r: r.bucket)
    assert sum(r.n_users for r in rows) > 0
    if len(rows) >= 2:  # higher-score buckets should not be emptier
        lo, hi = rows[0], rows[-1]
        assert hi.mean_score > lo.mean_score  # buckets genuinely differ


def test_confusion_cells_sum_to_test_split(spark):
    df = REGISTRY["q_ml_confusion"].fn(spark, SF_DIR)
    rows = df.collect()
    total = sum(r.n for r in rows)
    assert total > 0
    assert all(0 <= r.label <= 9 and 0 <= r.prediction <= 9 for r in rows)


def test_multimodal_audio_windows_exact(spark):
    """The audio stub's windows are exactly reproducible: recompute
    one document's per-window energies in pure Python."""
    from morphl_model_user_search_intent_spark import REGISTRY, table
    from conftest import SF_DIR

    rows = (
        REGISTRY["q_multimodal_audio"].fn(spark, SF_DIR)
        .filter("doc_id = 1")
        .orderBy("window_idx")
        .collect()
    )
    text = (
        table(spark, SF_DIR, "documents")
        .filter("doc_id = 1")
        .collect()[0]
        .text
    )
    buf = text.encode("utf-8")
    usable = (len(buf) // 2) * 2
    samples = [
        int.from_bytes(buf[i:i + 2], "little") for i in range(0, usable, 2)
    ]
    expect = []
    start, idx = 0, 0
    while start < len(samples):
        win = samples[start:start + 64]
        e = sum(v * v for v in win)
        expect.append((idx, len(win), e, int(e >= 120_000_000)))
        idx += 1
        start += 32
    got = [(r.window_idx, r.n_samples, r.energy, r.active) for r in rows]
    assert got == expect
    assert any(r.active for r in rows) or all(not r.active for r in rows)
