"""The portable MinHash path keeps one row per document from shingling
through verification:

- building ``q_dedup_minhash_portable`` checkpoints one frame, the
  per-document shingle arrays beside their signatures, with one job;
- no exchange in its plans carries a string shingle (no per-shingle
  rows are regrouped or self-joined);
- the signature projection hashes each shingle once: one ``md5(``;
- ``q_dedup_eval`` cancels its exact-truth job when that job outlives
  the timeout or the detector chain raises, instead of leaving it
  running past the call.
"""

from __future__ import annotations

import re
import time

import pytest
from pyspark.sql import functions as F

from morphl_model_user_search_intent_spark import REGISTRY
from morphl_model_user_search_intent_spark.io import table
from morphl_model_user_search_intent_spark.llm import dedup
from morphl_model_user_search_intent_spark.plans.inspect import explain_str

from conftest import SF_DIR, jobs_during


def _exchange_inputs(plan: str) -> list[str]:
    """The ``Input [...]`` line of every shuffle or broadcast Exchange
    of a formatted plan."""
    return re.findall(
        r"\) (?:Broadcast)?Exchange\s*\nInput \[\d+\]: (\[[^\n]*\])", plan
    )


def test_minhash_portable_signs_one_row_per_document(spark, monkeypatch):
    # warm the scan cache: a table's first read infers its schema with
    # a job
    table(spark, SF_DIR, "documents").columns
    checkpointed = []
    cls = type(spark.range(1))  # the session's concrete DataFrame class
    real = cls.localCheckpoint

    def recording(self, *a, **kw):
        checkpointed.append(self)
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    df, jobs = jobs_during(
        spark, lambda: REGISTRY["q_dedup_minhash_portable"].fresh(spark, SF_DIR)
    )
    assert len(jobs) == 1, jobs
    assert len(checkpointed) == 1
    (sig,) = checkpointed
    assert sig.columns == ["doc_id", "sh"] + [f"m{j}" for j in range(8)]

    plans = [explain_str(f, "formatted") for f in (sig, df)]
    inputs = [i for p in plans for i in _exchange_inputs(p)]
    assert inputs, plans
    assert not [i for i in inputs if re.search(r"\bshingle#\d+", i)], inputs

    sig_plan = explain_str(sig, "simple")
    assert sig_plan.count("md5(") == 1, sig_plan
    assert "Generate" not in sig_plan and "Exchange" not in sig_plan, sig_plan


@pytest.mark.parametrize("failure", ["truth_timeout", "detector_raises"])
def test_eval_cancels_its_truth_job(spark, monkeypatch, failure):
    @F.udf("bigint")
    def slow(x):
        time.sleep(45)
        return x

    def slow_truth(sh):
        return sh.sparkSession.range(1).select(
            slow(F.col("id")).alias("doc_a"), F.col("id").alias("doc_b")
        )

    monkeypatch.setattr(dedup, "jaccard_pairs_of", slow_truth)
    monkeypatch.setattr(dedup, "_EVAL_TRUTH_TIMEOUT_S", 1)
    if failure == "detector_raises":

        def boom(cand, sig):
            raise RuntimeError("planted detector failure")

        monkeypatch.setattr(dedup, "agreement", boom)
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="did not finish|planted"):
        REGISTRY["q_dedup_eval"].fresh(spark, SF_DIR)
    assert time.monotonic() - t0 < 30
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 10
    while tracker.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.2)
    assert not tracker.getActiveJobsIds()
