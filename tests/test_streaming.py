"""Twin-parity gates for the Structured Streaming operators: each
streaming variant must agree with its batch twin (modulo windows still
open at end-of-stream, which availableNow + watermark may hold back).
"""

from __future__ import annotations

from morphl_model_user_search_intent_spark import REGISTRY
from morphl_model_user_search_intent_spark.io import table

from conftest import SF_DIR, dispatch_of


def test_watermark_tumbling_matches_batch_twin(spark):
    stream = {
        (r.bucket, r.event_type): r.n_events
        for r in REGISTRY["q_stream_watermark"].fn(spark, SF_DIR).collect()
    }
    batch = {
        (r.bucket, r.event_type): r.n_events
        for r in REGISTRY["q_stream_tumbling"].fn(spark, SF_DIR).collect()
    }
    assert stream, "append-mode sink produced no finalized windows"
    # every emitted window must match the batch result exactly
    for key, n in stream.items():
        assert batch[key] == n, key
    # only the tail (past the final watermark) may be missing
    missing = set(batch) - set(stream)
    max_bucket = max(b for b, _ in batch)
    assert all(b == max_bucket for b, _ in missing), (
        f"non-tail windows missing from stream: {sorted(missing)[:5]}"
    )


def test_stream_dedup_exactly_one_survivor(spark):
    out = REGISTRY["q_stream_dedup"].fn(spark, SF_DIR)
    n_events = table(spark, SF_DIR, "events").count()
    assert out.count() == n_events  # doubled stream → one survivor each
    assert out.select("event_id").distinct().count() == n_events


def test_session_window_matches_batch_sessionizer(spark):
    stream = REGISTRY["q_stream_session_window"].fn(spark, SF_DIR)
    batch = REGISTRY["q_sessionize"].fn(spark, SF_DIR)
    s = {
        (r.user_id, r.session_start): r.n_events for r in stream.collect()
    }
    b = {
        (r.user_id, r.session_start): r.n_events for r in batch.collect()
    }
    assert s, "no sessions emitted"
    for key, n in s.items():
        assert b.get(key) == n, key
    # sessions still open at the watermark horizon may be held back
    assert len(s) >= 0.9 * len(b)


def test_stream_join_matches_batch_twin(spark):
    import pyspark.sql.functions as F

    out = REGISTRY["q_stream_join"].fn(spark, SF_DIR)
    ev = table(spark, SF_DIR, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = c.join(
        p,
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    s = {(r.click_id, r.purchase_id) for r in out.collect()}
    b = {(r.click_id, r.purchase_id) for r in batch.collect()}
    assert s == b  # single availableNow batch: nothing held back


def test_stateful_running_count_final_equals_batch(spark):
    out = REGISTRY["q_stream_stateful"].fn(spark, SF_DIR)
    import pyspark.sql.functions as F

    final = (
        out.groupBy("user_id")
        .agg(F.max("n_events_so_far").alias("n"))
        .collect()
    )
    batch = {
        r.user_id: r.n
        for r in table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert final
    for r in final:
        assert batch[r.user_id] == r.n


def test_stateful_tws_twin_matches_batch_and_declares_api(spark):
    """q_stream_stateful_tws (transformWithStateInPandas where the
    protobuf worker runtime exists, output-identical
    applyInPandasWithState fallback otherwise): the final cumulative
    count per user equals the batch count, multi-batch state really
    accumulated (some user saw >1 micro-batch), and the API path the
    run took matches what tws_available() says this environment
    supports — so the selection logic is asserted, not trusted."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.streaming import ops

    out = REGISTRY["q_stream_stateful_tws"].fn(spark, SF_DIR)
    expected_api = (
        "transformWithStateInPandas"
        if ops.tws_available()
        else "applyInPandasWithState"
    )
    assert dispatch_of(out, "stateful_api_") == expected_api
    rows = out.collect()
    assert rows
    final = {}
    batches = {}
    for r in rows:
        if (
            r.user_id not in final
            or r.n_events_so_far > final[r.user_id]
        ):
            final[r.user_id] = r.n_events_so_far
        batches[r.user_id] = max(
            batches.get(r.user_id, 0), r.n_batches_seen
        )
    batch = {
        r.user_id: r.n
        for r in table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(final) == set(batch)
    for uid, n in final.items():
        assert batch[uid] == n, uid
    # the 4-file staged source must have produced real multi-batch
    # state accumulation for at least one returning user
    assert max(batches.values()) >= 2


def test_foreach_batch_serving_table_matches_batch(spark):
    import pyspark.sql.functions as F

    out = {
        r.event_type: r.n_events
        for r in REGISTRY["q_stream_foreach_batch"].fn(spark, SF_DIR).collect()
    }
    batch = {
        r.event_type: r.n
        for r in table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert out == batch


def test_per_process_scratch_is_removed_at_exit():
    """A streaming key's per-process scratch directory (the pid-suffixed
    sink under SCRATCH) exists while its process runs and is gone once
    the process exits."""
    import glob
    import os
    import subprocess
    import sys
    import textwrap

    from morphl_model_user_search_intent_spark.sources.formats import (
        SCRATCH,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = textwrap.dedent(
        f"""
        import glob, os, sys
        sys.path.insert(0, {repo!r})
        from morphl_model_user_search_intent_spark import REGISTRY, get_spark
        spark = get_spark(app_name="scratch-exit", cpus=1,
                          shuffle_partitions=2)
        assert REGISTRY["q_stream_foreach_batch"].fn(
            spark, {SF_DIR!r}).count() > 0
        mine = glob.glob(os.path.join({SCRATCH!r}, f"*-{{os.getpid()}}"))
        print(os.getpid(), len(mine))
        """
    )
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", child],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    pid, n_live = map(int, out.stdout.split()[-2:])
    assert n_live == 1, "the key should hold one scratch dir while running"
    assert not glob.glob(os.path.join(SCRATCH, f"*-{pid}"))


def test_stream_static_join_matches_batch_twin(spark):
    import pyspark.sql.functions as F

    stream = {
        (r.bucket, r.c_mktsegment): r.n_events
        for r in REGISTRY["q_stream_static_join"].fn(spark, SF_DIR).collect()
    }
    ev = table(spark, SF_DIR, "events")
    dim = table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    batch = {
        (r.bucket, r.c_mktsegment): r.n_events
        for r in (
            ev.join(dim, "user_id")
            .groupBy(
                F.window("ts", "1 hour").alias("w"), "c_mktsegment"
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("w.start").alias("bucket"),
                "c_mktsegment",
                "n_events",
            )
            .collect()
        )
    }
    assert stream
    for key, n in stream.items():
        assert batch[key] == n, key
    missing = set(batch) - set(stream)
    max_bucket = max(b for b, _ in batch)
    assert all(b == max_bucket for b, _ in missing), sorted(missing)[:5]


def test_multi_batch_increments_and_conserves(spark):
    from pyspark.sql import functions as F
    from morphl_model_user_search_intent_spark import REGISTRY
    from morphl_model_user_search_intent_spark.io import table as _t

    df = REGISTRY["q_stream_multi_batch"].fn(spark, SF_DIR)
    rows = df.collect()
    # really incremental: the SINK keeps per-batch ids (not part of
    # the oracle-checked output — batch↔file order isn't stable)
    from morphl_model_user_search_intent_spark.streaming.ops import (
        _MB_SINKS,
    )

    sink = spark.read.parquet(_MB_SINKS[SF_DIR]).collect()
    assert len({r.batch_id for r in sink}) >= 4
    # each micro-batch held exactly one content bucket
    seen = {}
    for r in sink:
        seen.setdefault(r.batch_id, set()).add(r.bucket)
    assert all(len(b) == 1 for b in seen.values())
    got = {}
    for r in rows:
        got[r.event_type] = got.get(r.event_type, 0) + r.n_events
    expected = {
        r.event_type: r.n
        for r in _t(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected  # exactly-once across batch boundaries


def test_stream_countmin_one_sided_and_matches_batch_sketch(spark):
    rows = REGISTRY["q_stream_countmin"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5
    # CM estimates can only OVER-count, never under
    assert all(r.overestimate >= 0 for r in rows)
    # every probed user actually exists in the fixture
    assert all(r.n_exact > 0 for r in rows)


def test_csv_malformed_quarantine_exact_split(spark):
    row = REGISTRY["q_source_csv_malformed"].fn(spark, SF_DIR).collect()[0]
    # 6 physical lines: 3 fully-parseable, 3 quarantined
    # (non-numeric k, short row with missing k parses as NULL k but
    # stays well-formed only if arity matches — pinned here exactly)
    assert row.n_rows == row.n_good + row.n_corrupt
    assert row.n_corrupt >= 2
    assert row.sum_k_good >= 80  # 10 + 20 + 50 at minimum


def test_stream_outer_join_semantics(spark):
    """Left-outer stream-stream join: (1) the matched part is exactly
    the batch inner join, (2) null-extended rows are a subset of the
    batch anti-join (clicks with no purchase within 1h), (3) state
    eviction actually fired (non-empty null part — the multi-batch
    staging advanced the watermark), (4) no click is both matched and
    null-extended."""
    import pyspark.sql.functions as F

    out = REGISTRY["q_stream_outer_join"].fn(spark, SF_DIR).collect()
    ev = table(spark, SF_DIR, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
        )
    )
    batch_inner = {
        (r.click_id, r.purchase_id) for r in c.join(p, cond).collect()
    }
    batch_unmatched = {
        r.click_id
        for r in c.join(p, cond, "left_anti").collect()
    }
    s_inner = {
        (r.click_id, r.purchase_id)
        for r in out
        if r.purchase_id is not None
    }
    s_null = {r.click_id for r in out if r.purchase_id is None}
    assert s_inner == batch_inner
    assert s_null <= batch_unmatched
    assert s_null  # eviction fired: null-extended rows were emitted
    assert not (s_null & {ci for ci, _ in s_inner})


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Checkpoint recovery: a file-source stream stopped after the
    first half of its input and RESTARTED from the same checkpoint
    must process each input file exactly once — offsets come back
    from the WAL, and the parquet sink's metadata log makes the
    output exactly-once (no loss, no double-write across the
    restart boundary)."""
    import os
    import shutil

    from morphl_model_user_search_intent_spark.streaming.ops import (
        _staged_time_buckets,
    )

    src_all = _staged_time_buckets(spark, SF_DIR)
    buckets = sorted(
        f for f in os.listdir(src_all) if f.endswith(".parquet")
    )
    assert len(buckets) == 4
    watch = str(tmp_path / "watch")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(watch)
    schema = spark.read.parquet(src_all).schema

    def run_available():
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(watch)
        )
        q = (
            s.select("event_id", "user_id", "ts")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)

    for b in buckets[:2]:
        shutil.copyfile(os.path.join(src_all, b), os.path.join(watch, b))
    run_available()
    n_first = spark.read.parquet(out).count()

    for b in buckets[2:]:
        shutil.copyfile(os.path.join(src_all, b), os.path.join(watch, b))
    run_available()

    result = spark.read.parquet(out)
    total = spark.read.parquet(src_all).count()
    assert 0 < n_first < total  # the restart really split the work
    assert result.count() == total  # nothing lost, nothing doubled
    assert result.select("event_id").distinct().count() == total


def test_chained_dedup_window_matches_batch_twin(spark):
    """Dedup → tumbling agg chained in ONE streaming query: every
    finalized window's count must equal the batch tumbling count over
    the ORIGINAL (un-doubled) events — the dedup stage absorbed the
    replay — and only tail windows may be withheld."""
    stream = {
        (r.bucket, r.event_type): r.n_events
        for r in REGISTRY["q_stream_dedup_window"]
        .fn(spark, SF_DIR)
        .collect()
    }
    batch = {
        (r.bucket, r.event_type): r.n_events
        for r in REGISTRY["q_stream_tumbling"].fn(spark, SF_DIR).collect()
    }
    assert stream, "no finalized windows emitted"
    for key, n in stream.items():
        assert batch[key] == n, key
    missing = set(batch) - set(stream)
    max_bucket = max(b for b, _ in batch)
    assert all(b == max_bucket for b, _ in missing), (
        f"non-tail windows missing: {sorted(missing)[:5]}"
    )


def test_update_mode_converges_to_batch_counts(spark):
    """UPDATE mode: each key's LAST emitted count equals the batch
    count, and per-key emissions are strictly increasing (counts only
    grow across micro-batches)."""
    import pyspark.sql.functions as F
    from collections import defaultdict

    out = REGISTRY["q_stream_update_mode"].fn(spark, SF_DIR).collect()
    batch = {
        r.event_type: r.n
        for r in table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    hist = defaultdict(list)
    for r in out:  # memory sink preserves emission order per batch
        hist[r.event_type].append(r.n_events)
    assert set(hist) == set(batch)
    for k, seq in hist.items():
        assert seq == sorted(seq), f"{k}: non-monotone updates {seq}"
        assert len(seq) >= 2, f"{k}: only one update — no progression"
        assert seq[-1] == batch[k], k


def test_stream_neardup_matches_batch_minhash(spark):
    """Incremental streaming MinHash-LSH: the drained pair set must
    EQUAL the batch portable-minhash twin's (same shingle→signature→
    band kernels, so arrival slicing must not change the outcome),
    each pair exactly once, ordered doc_a < doc_b, and the emitting
    batch must be the LATER doc's batch (pairs surface at ingest of
    the second copy, never retroactively re-emitted)."""
    from collections import Counter

    jsc = spark.sparkContext._jsc.sc()

    def pinned() -> int:  # RDDs holding cached blocks, per the UI store
        jsc.listenerBus().waitUntilEmpty()
        return jsc.statusStore().rddList(True).size()

    before = pinned()
    rows = REGISTRY["q_stream_neardup"].fn(spark, SF_DIR).collect()
    # per-batch checkpoints are freed; only the returned pair set stays
    assert pinned() - before <= 1, "per-batch checkpoints leaked"
    batch = REGISTRY["q_dedup_minhash_portable"].fn(spark, SF_DIR).collect()
    s_pairs = Counter((r.doc_a, r.doc_b) for r in rows)
    b_pairs = {(r.doc_a, r.doc_b) for r in batch}
    assert s_pairs, "stream emitted no near-dup pairs"
    assert set(s_pairs) == b_pairs
    assert all(v == 1 for v in s_pairs.values()), "pair re-emitted"
    assert all(r.doc_a < r.doc_b for r in rows)
    # id-ordered arrival: a pair with a larger doc_b can never surface
    # in an earlier batch than a pair whose doc_b precedes it within
    # the same batch partitioning — batch_id must be monotone in the
    # bucket that contains doc_b, which the staged source makes
    # monotone in doc_b itself.
    by_b = sorted(rows, key=lambda r: r.doc_b)
    assert all(
        a.batch_id <= b.batch_id for a, b in zip(by_b, by_b[1:])
    ), "batch_id not monotone in doc_b under id-ordered arrival"


def test_memory_sink_isolated_per_sf_dir(spark):
    """Regression for the round-3 advisor's cache-aliasing finding:
    the registry memoizes the returned spark.table() per (session,
    sf_dir), so a FIXED memory-sink name would make A → B → A on one
    session silently serve B's data under A's cache key.  Sink names
    are sf_dir-tagged; running the same streaming query against two
    dirs and re-reading the first must return the FIRST dir's counts."""
    import pyspark.sql.functions as F

    sf_a, sf_b = SF_DIR, "/root/testdata/sf0.01"
    spec = REGISTRY["q_stream_tumbling"]
    total_a = spec.fn(spark, sf_a).agg(
        F.sum("n_events")
    ).collect()[0][0]
    total_b = spec.fn(spark, sf_b).agg(F.sum("n_events")).collect()[0][0]
    assert total_a != total_b  # different scales → different corpora
    again_a = spec.fn(spark, sf_a).agg(F.sum("n_events")).collect()[0][0]
    assert again_a == total_a, (
        "cached sf0.001 plan now reads another sf_dir's sink table"
    )
    n_events_a = table(spark, sf_a, "events").count()
    assert total_a == n_events_a  # tumbling counts partition all events


def test_pydatasource_stream_resumes_from_checkpoint(spark):
    """Kill the custom-Python-source stream mid-flight and restart it
    from the same checkpoint: the wrapper must replay the uncommitted
    batch via readBetweenOffsets(start, end) and resume read() from
    the committed offset — the recovery contract a real API/Kafka
    connector depends on.  The complete-mode end state must equal the
    exact totals (nothing lost, nothing double-counted)."""
    import shutil
    import tempfile
    import time

    import pyspark.sql.functions as F
    import pytest

    from morphl_model_user_search_intent_spark.sources.pysource import (
        GROUPS,
        N_STREAM_BATCHES,
        ROWS_PER_BATCH,
        SyntheticEventsStreamSource,
    )

    try:
        spark.dataSource.register(SyntheticEventsStreamSource)
    except Exception:
        pass

    class _StartupStall(Exception):
        """Source produced no micro-batch inside the deadline —
        host-load noise, not a resume defect."""

    def scenario(attempt: int) -> None:
        ckpt = tempfile.mkdtemp(prefix="pyds-resume-")
        name = f"pyds_resume_sink_{attempt}"

        def start():
            s = spark.readStream.format(
                "synthetic_events_stream"
            ).load()
            agg = s.groupBy("grp").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("h").cast("bigint").alias("h_sum"),
            )
            return (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .start()
            )

        try:
            q = start()
            # let a couple of micro-batches commit, then kill mid-stream
            deadline = time.time() + 60
            made_progress = False
            while time.time() < deadline:
                p = q.lastProgress
                if p and p["batchId"] >= 2:
                    made_progress = True
                    break
                time.sleep(0.05)
            if not made_progress:
                # Separate "startup stalled" (this host shows
                # intermittent ~3x disk dips; a concurrent sweep makes
                # it worse) from a genuine resume bug — stall retries
                # once on a FRESH checkpoint (r7: the best-of-2 the
                # perf gate needed for the same reason); a real
                # resume defect still fails both attempts.
                last = q.lastProgress
                q.stop()
                raise _StartupStall(f"lastProgress={last}")
            q.stop()
            q.awaitTermination(30)
            try:
                n_first = (
                    spark.table(name)
                    .agg(F.sum("n_rows"))
                    .collect()[0][0]
                    or 0
                )
            except Exception:  # stopped before the sink's 1st commit
                n_first = 0

            q2 = start()
            q2.processAllAvailable()
            q2.stop()
            q2.awaitTermination(30)

            total = N_STREAM_BATCHES * ROWS_PER_BATCH
            rows = {r.grp: r for r in spark.table(name).collect()}
            assert set(rows) == set(GROUPS)
            assert sum(r.n_rows for r in rows.values()) == total
            exact: dict[str, int] = {g: 0 for g in GROUPS}
            counts: dict[str, int] = {g: 0 for g in GROUPS}
            for i in range(total):
                g = GROUPS[i % 5]
                exact[g] += (i * 2654435761) % 4294967296
                counts[g] += 1
            for g in GROUPS:
                assert rows[g].n_rows == counts[g], g
                assert rows[g].h_sum == exact[g], g
            if n_first < total:  # the restart really resumed mid-way
                assert n_first > 0
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

    try:
        scenario(0)
    except _StartupStall:
        try:
            scenario(1)
        except _StartupStall as e:
            pytest.fail(
                "no micro-batch progress within the 60s deadline on "
                f"two fresh attempts (source startup stall; {e})"
            )


def test_stateful_streams_materialize_rocksdb_state(spark, tmp_path):
    """_run_to_memory pins the RocksDB state-store provider for every
    drained stream; this proves RocksDB ran by its on-disk artifact
    shape, not by reading a conf back.  The HDFS-backed default writes
    ``N.delta``/``N.snapshot`` files per state partition; RocksDB
    checkpoints ``N.zip`` (snapshot) / ``N.changelog`` uploads.  A
    stateful aggregation with an explicit checkpoint under the same
    provider conf must leave RocksDB-shaped state files."""
    import os

    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.streaming.ops import (
        ROCKSDB_PROVIDER,
        _stream_events,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    ev = _stream_events(spark, SF_DIR)
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ckpt = str(tmp_path / "ckpt")
    q = (
        agg.writeStream.format("memory")
        .queryName("rocksdb_evidence")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    state_files = []
    for root, _, files in os.walk(os.path.join(ckpt, "state")):
        state_files += files
    assert state_files, "no state checkpoint written"
    rocks = [
        f for f in state_files
        if f.endswith((".zip", ".changelog"))
    ]
    hdfs_default = [f for f in state_files if f.endswith(".delta")]
    assert rocks, f"no RocksDB-shaped state files: {state_files[:10]}"
    assert not hdfs_default, (
        f"HDFS-provider .delta files present: {hdfs_default[:5]}"
    )


def test_tws_runtime_failure_falls_back_and_stays_honest(
    spark, monkeypatch
):
    """Round-5 advisory: if TWS fails AT RUNTIME despite the
    driver-side probe passing (e.g. the worker runtime dies at
    initialization), the query must fall back to the
    applyInPandasWithState graph and its ``stateful_api_`` metric must
    name the path that actually drained — never the prediction."""
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.streaming import ops

    def boom():
        raise RuntimeError("planted TWS runtime failure")

    monkeypatch.setattr(ops, "_make_tws_processor", boom)
    out = REGISTRY["q_stream_stateful_tws"].fresh(spark, SF_DIR)
    assert dispatch_of(out, "stateful_api_") == "applyInPandasWithState"
    final = {
        r.user_id: r.n
        for r in out.groupBy("user_id")
        .agg(F.max("n_events_so_far").alias("n"))
        .collect()
    }
    batch = {
        r.user_id: r.n
        for r in table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert final == batch


def test_table_ingest_commits_one_version_per_batch(spark):
    """q_stream_table_ingest: the streaming lakehouse write path.
    Beyond the driver's oracle (final table ≡ events), the HISTORY
    must be right: one committed version per micro-batch on top of
    the empty create, per-version row counts strictly growing, and an
    early version re-reading IDENTICALLY after later commits landed
    (streaming appends never mutate a published snapshot)."""
    from morphl_model_user_search_intent_spark.sources.acid import (
        list_versions,
        read_manifest,
        read_table,
    )
    from morphl_model_user_search_intent_spark.streaming import ops

    out = REGISTRY["q_stream_table_ingest"].fn(spark, SF_DIR)
    root = ops.LAST_INGEST_ROOT
    versions = list_versions(root)
    assert versions[0] == 1 and len(versions) >= 5  # create + ≥4 batches
    assert read_manifest(root, 1)["op"] == "create"
    assert all(
        read_manifest(root, v)["op"] == "append" for v in versions[1:]
    )
    counts = [read_table(spark, root, v).count() for v in versions]
    assert counts[0] == 0
    assert all(a < b for a, b in zip(counts, counts[1:]))
    assert counts[-1] == out.count()
    # snapshot stability: version 2 (first batch) unchanged by later
    # commits — same rows now as the manifest's files held at commit
    v2_rows = {r.event_id for r in read_table(spark, root, 2).collect()}
    assert len(v2_rows) == counts[1]
    all_rows = {r.event_id for r in out.collect()}
    assert v2_rows < all_rows


def test_table_changes_stream_reader_offset_contract(spark):
    """The versioned-offset CDC reader, driven directly (no streaming
    machinery): offsets resolve from the manifest log, the version
    window maps to exactly that window's change files, and
    executor-side read() reproduces read_changes row-for-row.  Also
    pins replayability: reading the same window twice is identical
    (the property checkpoint resume rests on)."""
    from morphl_model_user_search_intent_spark.sources.acid import (
        ensure_cdc_stream_exercise,
        latest_version,
        read_changes,
    )
    from morphl_model_user_search_intent_spark.sources.pysource import (
        _TableChangesStreamReader,
    )

    root = ensure_cdc_stream_exercise(spark, SF_DIR)
    r = _TableChangesStreamReader(root)
    assert r.initialOffset() == {"version": 1}
    last = r.latestOffset()
    assert last["version"] == latest_version(root) >= 4  # 3 cdc merges

    def drain(start, end):
        # read() yields Arrow RecordBatches (round-10 fast path) —
        # flatten to row tuples, which is what Spark's Arrow ingest
        # does on the JVM side
        rows = []
        for p in r.partitions(start, end):
            for batch in r.read(p):
                rows.extend(
                    zip(*(c.to_pylist() for c in batch.columns))
                )
        return sorted(rows)

    full = drain({"version": 1}, last)
    assert full == drain({"version": 1}, last)  # deterministic replay

    # per-version windows partition the full feed (no loss, no overlap)
    parts = []
    for v in range(2, last["version"] + 1):
        parts.extend(drain({"version": v - 1}, {"version": v}))
    assert sorted(parts) == full

    # row-for-row identical to the committed change files via Spark
    expected = sorted(
        tuple(x)
        for v in range(2, last["version"] + 1)
        for x in read_changes(spark, root, v, key="o_orderkey")
        .select("o_orderkey", "o_orderpriority", "price", "_change_type")
        .collect()
    )
    assert full == expected

    # a cdc-less window yields one empty sentinel task, not a crash
    empty = r.partitions({"version": 1}, {"version": 1})
    assert len(empty) == 1 and list(r.read(empty[0])) == []


def test_partitioned_ingest_prunes_and_is_idempotent(spark):
    """r8: the partitioned streaming ingest leaves a table whose
    partition filter lists a strict file subset the moment the stream
    drains, and a replayed batch append is a no-op."""
    import os

    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.registry import REGISTRY
    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table_partitioned,
        latest_version,
        read_manifest,
        read_table,
        resolve_files,
    )
    from morphl_model_user_search_intent_spark.streaming import ops

    full = REGISTRY["q_stream_table_ingest_partitioned"].fn(
        spark, SF_DIR
    )
    n_full = full.count()
    root = ops.LAST_INGEST_PART_ROOT
    m = read_manifest(root)
    assert m["partition_cols"] == ["event_type"]
    # ≥1 create + ≥2 micro-batch appends
    assert latest_version(root) >= 3
    types = [
        r[0]
        for r in full.select("event_type").distinct().collect()
    ]
    one = sorted(types)[0]
    pruned = resolve_files(m, {"event_type": one})
    # strict subset, modulo the schema-seed file (no partition value)
    assert 0 < len(pruned) < len(m["files"])
    got = read_table(
        spark, root, partition_filter={"event_type": one}
    )
    assert (
        got.count()
        == full.filter(F.col("event_type") == one).count()
    )
    # replay the last batch id: must be a no-op (txn ledger)
    v_before = latest_version(root)
    app = f"ingest-part-{os.path.basename(root)}"
    append_table_partitioned(
        spark,
        root,
        read_table(spark, root).limit(5),
        txn_app=app,
        txn_version=0,  # already-committed batch id
    )
    assert latest_version(root) == v_before
    assert read_table(spark, root).count() == n_full


def test_erasure_stream_physics_and_replay_noop(spark):
    """r8 GDPR erasure queue: one delete commit per request batch,
    zero data files rewritten until the fold, replayed batches are
    no-ops (txn ledger), and the fold — when the tombstone share
    crosses the threshold — clears dv_files preserving content."""
    import os

    from morphl_model_user_search_intent_spark.registry import REGISTRY
    from morphl_model_user_search_intent_spark.sources.acid import (
        delete_from_table,
        dv_fraction,
        latest_version,
        list_versions,
        read_manifest,
        read_table,
    )
    from morphl_model_user_search_intent_spark.streaming import ops

    final = REGISTRY["q_stream_table_erasure"].fn(spark, SF_DIR)
    n_final = final.count()
    root = ops.LAST_ERASURE_ROOT
    versions = list_versions(root)
    ops_log = [read_manifest(root, v)["op"] for v in versions]
    assert ops_log[0] == "create"
    assert ops_log.count("delete") >= 2  # one per micro-batch
    # every delete commit carried the create's files verbatim
    # (0 rewrites) — only optimize commits change the file list
    m1 = read_manifest(root, 1)
    for v, op in zip(versions, ops_log):
        if op == "delete":
            prev = read_manifest(root, v - 1)
            assert read_manifest(root, v)["files"] == prev["files"]
    # replay the last batch id: version chain must not grow
    import pyspark.sql.functions as F

    v_before = latest_version(root)
    app = f"erasure-{os.path.basename(root)}"
    last_batch = max(
        int(read_manifest(root, v)["txn"]["version"])
        for v, op in zip(versions, ops_log)
        if op == "delete"
    )
    delete_from_table(
        spark,
        root,
        read_table(spark, root).select(
            F.col("user_id")
        ).limit(3),
        "user_id",
        txn_app=app,
        txn_version=last_batch,  # already committed: no-op
    )
    assert latest_version(root) == v_before
    assert read_table(spark, root).count() == n_final
    # ~7.4% of users are erased (1 in 13.5), below the 10% threshold
    # at this fixture — if a fold ran, dv_files is cleared; if not,
    # the backlog is within budget
    m = read_manifest(root)
    if "optimize" in ops_log:
        assert not m.get("dv_files")
    else:
        assert dv_fraction(root) <= 0.10 or m.get("dv_files")


def test_stream_ingest_hidden_prunes_and_is_idempotent(spark):
    """r9 hidden-partitioned streaming landing zone: after the
    exactly-once ingest, a raw user_id IN-list prunes through the
    bucket transform (~1/8 of files), and replaying a batch id is a
    no-op (txn ledger)."""
    from pyspark.sql import functions as F

    from morphl_model_user_search_intent_spark import REGISTRY
    from morphl_model_user_search_intent_spark.sources.acid import (
        append_table_partitioned,
        latest_version,
        read_manifest,
        read_table,
        resolve_files,
        _derive_hidden_filters,
    )
    from morphl_model_user_search_intent_spark.streaming import ops

    df = REGISTRY["q_stream_table_ingest_hidden"].fn(spark, SF_DIR)
    root = ops.LAST_INGEST_HIDDEN_ROOT
    m = read_manifest(root)
    assert m.get("transforms") and m["partition_cols"] == ["u_bucket"]
    keys = [8, 16, 24]  # all bucket 0
    pf, _ = _derive_hidden_filters(m, {"user_id": keys}, None)
    assert pf["u_bucket"] == [0]
    kept = resolve_files(m, pf)
    with_vals = [
        f
        for f in m["files"]
        if m["partitions"].get(
            __import__("os").path.basename(f)
        )
    ]
    assert len(kept) <= len(with_vals) / 4  # 1-of-8 buckets
    total = df.count()
    # replayed batch id: no-op, no new version
    v = latest_version(root)
    append_table_partitioned(
        spark,
        root,
        read_table(spark, root).limit(5),
        txn_app=f"ingest-hidden-{__import__('os').path.basename(root)}",
        txn_version=0,
    )
    assert latest_version(root) == v
    assert read_table(spark, root).count() == total


def test_stream_wap_stages_on_branch_until_publish(spark):
    """q_stream_table_wap staging physics: while batches stream into
    the branch, MAIN serves one unchanged (empty) snapshot; the
    branch gains one version per batch; the publish is a zero-churn
    fast-forward whose result equals the staged snapshot exactly."""
    from morphl_model_user_search_intent_spark.sources.acid import (
        branch_root,
        list_versions,
        read_manifest,
        read_table,
    )
    from morphl_model_user_search_intent_spark.streaming import ops

    out = REGISTRY["q_stream_table_wap"].fn(spark, SF_DIR)
    root = ops.LAST_INGEST_WAP_ROOT
    broot = branch_root(root, "ingest")
    # main: exactly create + publish — no per-batch versions leaked
    assert [read_manifest(root, v)["op"][:7] for v in
            list_versions(root)] == ["create", "publish"]
    head = read_manifest(root)
    assert head["metrics"]["n_added"] == 0
    assert head["metrics"]["n_removed"] == 0
    assert head["metrics"]["published_branch"] == "ingest"
    # branch: fork + one append per micro-batch, txn-ledgered
    bvs = list_versions(broot)
    assert len(bvs) >= 5  # fork + >=4 batches
    assert all(
        read_manifest(broot, v)["op"] == "append" for v in bvs[1:]
    )
    # pre-publish main (v1) was empty; post-publish equals the branch
    assert read_table(spark, root, 1).count() == 0
    assert out.count() == read_table(spark, broot).count() > 0
