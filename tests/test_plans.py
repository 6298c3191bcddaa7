"""Plan-shape regression gates: the physical properties each operator
relies on at scale, asserted against the live Catalyst plan."""

from __future__ import annotations

from morphl_model_user_search_intent_spark import REGISTRY
from morphl_model_user_search_intent_spark.plans.inspect import (
    assert_in_plan,
    assert_not_in_plan,
    explain_str,
)

from conftest import SF_DIR


def _df(spark, name):
    # fresh (uncached) build: plan assertions need the initial plan,
    # not the AQE-finalized one a cached+executed DataFrame prints
    return REGISTRY[name].fresh(spark, SF_DIR)


def test_pushdown_reaches_scan(spark):
    plan = assert_in_plan(
        _df(spark, "q_scan_pushdown"), "PushedFilters: [", "IsNotNull"
    )
    # projection pruning: only the 3 selected + 2 filter columns decode
    assert "l_tax" not in plan and "l_returnflag" not in plan


def test_flagship_is_partial_final_hashagg(spark):
    # simple mode lists each physical operator exactly once
    plan = explain_str(_df(spark, "q_agg_hash"), "simple")
    assert plan.count("HashAggregate") == 2  # partial + final
    assert "hashpartitioning(l_returnflag" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in explain_str(
        _df(spark, "q_agg_hash")
    )


def test_dim_joins_broadcast(spark):
    assert_in_plan(_df(spark, "q_join_broadcast"), "BroadcastHashJoin")
    plan = explain_str(_df(spark, "q_join_multiway"), "simple")
    # region+nation must broadcast; at fixture scale customer fits
    # under autoBroadcastJoinThreshold too, so ≥2 broadcasts and no
    # cartesian anywhere is the scale-invariant property.
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_topk_avoids_global_sort(spark):
    assert_in_plan(_df(spark, "q_sort_limit"), "TakeOrderedAndProject")
    assert_not_in_plan(
        _df(spark, "q_sort_limit"), "Exchange rangepartitioning"
    )


def test_window_topk_uses_group_limit(spark):
    # Spark ≥3.5 pushes rn<=k into the window sort
    assert_in_plan(_df(spark, "q_win_topk"), "WindowGroupLimit")


def test_merge_hint_respected(spark):
    assert_in_plan(_df(spark, "q_join_shuffle"), "SortMergeJoin")


def test_semi_anti_join_shapes(spark):
    assert_in_plan(_df(spark, "q_join_semi"), "LeftSemi")
    assert_in_plan(_df(spark, "q_join_anti"), "LeftAnti")


def test_knn_broadcasts_query_side(spark):
    assert_in_plan(
        _df(spark, "q_sim_knn"), "BroadcastExchange", "BroadcastNestedLoopJoin"
    )


def test_no_python_udf_in_relational_core(spark):
    # the relational/text operator families must stay JVM-side
    for name in (
        "q_agg_hash",
        "q_join_multiway",
        "q_win_topk",
        "q_text_wordcount",
        "q_dedup_jaccard",
        "q_stream_tumbling",
    ):
        assert_not_in_plan(
            _df(spark, name), "BatchEvalPython", "ArrowEvalPython"
        )


def test_partitioned_sink_prunes_partitions(spark):
    # the 3-day filter must bind to partition VALUES (directory
    # pruning), not row-level filters: 3 of 30 date dirs scanned.
    df = _df(spark, "q_sink_partitioned")
    plan = explain_str(df)
    assert "PartitionFilters:" in plan and "event_date" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]


def test_gapfill_spine_broadcasts(spark):
    # the dense spine side is tiny (hours × types) and must broadcast
    # into the hourly aggregate, never the other way around.
    plan = explain_str(_df(spark, "q_events_gapfill"), "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_salted_join_shuffles_on_salt(spark):
    # the merge hint + salt must yield a shuffle keyed on BOTH the
    # join key and the salt shard — that key spread is the point.
    plan = explain_str(_df(spark, "q_join_salted"))
    assert "_jsalt" in plan
    assert "SortMergeJoin" in explain_str(_df(spark, "q_join_salted"), "simple")


def test_bucketed_join_has_no_shuffle(spark):
    # bucket i joins bucket i: SMJ with zero Exchange on either input,
    # and the groupBy on the join key rides the same partitioning.
    df = _df(spark, "q_join_bucketed")
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SelectedBucketsCount" in explain_str(df)


def test_dpp_join_injects_runtime_filter(spark):
    # the Monday dim is only known at runtime: the fact scan must carry
    # a dynamicpruningexpression in its PartitionFilters, proving the
    # 26 non-Monday date directories are skipped at execution time.
    plan = explain_str(_df(spark, "q_join_dpp")).lower()
    assert "dynamicpruning" in plan


def test_bucketed_range_join_avoids_nested_loop(spark):
    # bucketing must turn the pure range predicate into an equi hash
    # join with a residual filter — no nested-loop fallback.
    plan = explain_str(_df(spark, "q_join_range_bucketed")).lower()
    assert "nestedloop" not in plan
    assert "hashjoin" in plan


def test_skyline_broadcasts_frontier_frame(spark):
    # the per-price window frame must broadcast back to the part scan;
    # the O(n^2) NOT-EXISTS shape (nested loop over the fact) is what
    # the sort formulation exists to avoid
    plan = explain_str(_df(spark, "q_skyline"), "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_target_encode_broadcasts_both_dims(spark):
    # part dim and the per-brand stats frame are both broadcast: the
    # fact table shuffles once (the brand aggregation), never for joins
    plan = explain_str(_df(spark, "q_feature_target_encode"), "simple")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_ewma_lags_share_one_window(spark):
    # all ten LAG terms must evaluate in a single Window operator —
    # one sort, not ten
    plan = explain_str(_df(spark, "q_win_ewma"), "simple")
    assert plan.count("Window") == 1


def test_lift_gains_single_fact_shuffle(spark):
    # the only Exchange over fact-sized data is the per-customer
    # rollup; decile windows run on the rolled-up frame
    plan = explain_str(_df(spark, "q_ml_lift_gains"), "simple")
    assert plan.count("HashAggregate") >= 2  # partial+final rollup
    assert "CartesianProduct" not in plan


def test_contamination_broadcasts_benchmark_side(spark):
    # corpus side must never shuffle: the (tiny) benchmark shingle set
    # broadcasts into both the match join and the size join
    plan = explain_str(_df(spark, "q_text_contamination"), "simple")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_holt_lags_share_one_window(spark):
    # the 8-lag Holt filter is one Window operator — one sort pass
    plan = explain_str(_df(spark, "q_win_holt"), "simple")
    assert plan.count("Window") == 1


def test_labelprop_rounds_are_checkpoint_truncated(spark):
    # after 3 LPA rounds the final plan must read the checkpointed
    # label RDD (bounded lineage), then partial+final aggregate — the
    # unrolled 3-round join tree must NOT replay inside one plan
    plan = explain_str(_df(spark, "q_graph_labelprop"), "simple")
    assert "ExistingRDD" in plan
    assert plan.count("HashAggregate") == 2
    assert "CartesianProduct" not in plan


def test_theta_sketch_bounded_rank(spark):
    # the bottom-k rank filter must run bounded (top-k or per-group
    # limit), never as a full materialized global sort
    plan = explain_str(_df(spark, "q_sketch_theta"), "simple")
    assert (
        "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan
    )


def test_adamic_topk_avoids_global_sort(spark):
    # pair scoring must end in TakeOrdered, not a full rangepartition sort
    assert_in_plan(_df(spark, "q_graph_adamic"), "TakeOrderedAndProject")
    assert_not_in_plan(
        _df(spark, "q_graph_adamic"), "Exchange rangepartitioning"
    )


def test_dsir_joins_broadcast_bucket_sides(spark):
    # the 64-row log-ratio table must broadcast onto the token stream —
    # a shuffle join here would re-shuffle the whole corpus
    plan = explain_str(_df(spark, "q_corpus_dsir"), "simple")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan


def test_readability_single_scan_partial_agg(spark):
    # one documents scan, partial+final hashagg, regexes evaluated in
    # a projection (not re-derived per aggregate)
    plan = explain_str(_df(spark, "q_text_readability"), "simple")
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") == 2


def test_corpus_filters_are_scan_dominated(spark):
    for name in ("q_corpus_gopher", "q_corpus_c4"):
        plan = explain_str(_df(spark, name), "simple")
        assert plan.count("Scan parquet") == 1
        assert plan.count("HashAggregate") == 2
        assert "Join" not in plan


def test_partitioned_source_prunes(spark):
    # the partition-column predicate must prune at the scan, not filter
    # rows post-hoc: PartitionFilters populated, only 3 date dirs read
    plan = explain_str(_df(spark, "q_source_partition_pruning"))
    assert "PartitionFilters: [" in plan
    assert "event_date" in plan.split("PartitionFilters")[1][:200]


def test_bloom_join_injects_runtime_filter(spark):
    # InjectRuntimeFilter must rewrite the fact side to a
    # might_contain(bloom, xxhash64(l_orderkey)) filter under the
    # query's scoped thresholds — and the override must not leak.
    before = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold"
    )
    plan = explain_str(_df(spark, "q_join_bloom")).lower()
    assert "might_contain" in plan
    after = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold"
    )
    assert after == before, "bloom threshold override leaked"


def test_xml_source_roundtrip_schema(spark):
    # explicit-schema XML read: the declared types survive the text
    # round-trip (no inference), and the agg matches the CSV twin.
    xml = _df(spark, "q_source_xml")
    csv = _df(spark, "q_source_csv")
    assert xml.schema == csv.schema
    assert sorted(map(tuple, xml.collect())) == sorted(
        map(tuple, csv.collect())
    )


def test_approx_topk_broadcasts_part_dim(spark):
    # The sketch path must keep the dim join broadcast (no shuffle of
    # lineitem for the join) and aggregate in two phases (partial
    # sketch per partition, merged at the final agg).
    plan = explain_str(_df(spark, "q_agg_approx_topk"), "simple")
    assert "BroadcastHashJoin" in plan
    assert plan.count("ObjectHashAggregate") == 2  # partial + merge


def test_fill_forward_single_user_shuffle(spark):
    # LOCF is one window pass: exactly one exchange, on user_id.
    plan = explain_str(_df(spark, "q_win_fill_forward"), "simple")
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(user_id" in plan


def test_lineage_rollup_is_map_side_combined(spark):
    # _metadata.file_name is scan-local: partial agg before the one
    # exchange, no join, no extra scan of the base table.
    plan = explain_str(_df(spark, "q_source_lineage"), "simple")
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1


def test_str_urls_stays_jvm_side(spark):
    # parse_url + regexp_extract_all are codegen expressions — no
    # Python evaluation anywhere in the plan.
    plan = explain_str(_df(spark, "q_str_urls"), "simple")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_shuffle_hash_hint_respected(spark):
    plan = explain_str(_df(spark, "q_join_shuffle_hash"), "simple")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_table_merge_read_is_pure_pinned_scan(spark):
    """The committed ACID table read after a merge-on-read MERGE is
    the manifest-pinned data scan masked by ONE broadcast anti join
    against the merge's tombstone sidecar scan — no hash-partitioned
    exchange, no other join, no Python: the table layer's read-path
    overhead is the broadcast of one batch-sized sidecar."""
    import re

    plan = explain_str(_df(spark, "q_table_merge"), "simple")
    assert plan.count("Scan parquet") == 2  # data + sidecars
    assert len(re.findall(r"BroadcastHashJoin .*LeftAnti", plan)) == 1
    assert plan.count("Join") == 1
    for bad in (
        "Exchange hashpartitioning",
        "BatchEvalPython",
        "ArrowEvalPython",
    ):
        assert bad not in plan, bad
    # and the scan reads the acid data files, not the source table
    assert "acidtable-" in explain_str(_df(spark, "q_table_merge"))


def test_sessionize_auto_carries_observe_metrics(spark):
    """The dispatcher's choice must be observable: the plan carries
    the named CollectMetrics node (observe()) so a listener sees the
    sampled hot-key share and the plan taken on every run."""
    plan = explain_str(_df(spark, "q_sessionize_auto"))
    assert "CollectMetrics" in plan
    assert "sessionize_dispatch_" in plan
    assert "max_key_share_sampled" in plan


def test_index_compact_serve_scans_snapshot_not_source(spark):
    """Post-compaction serve reads ONLY the compacted snapshot's
    lists (annindex-store snapshots dir) — never the embeddings
    source table and never a delta path."""
    plan = explain_str(_df(spark, "q_sim_index_compact"))
    assert "annindex-store-" in plan and "snapshots" in plan
    assert "embeddings.parquet" not in plan


def test_maxsim_broadcasts_queries_and_combines_map_side(spark):
    """q_sim_maxsim's scale contract: the tiny query-token side is
    BROADCAST (no shuffle of the corpus-token stream to meet it) and
    both reductions are partial/final HashAggregates (MAX per query
    token, SUM per doc combine map-side before the exchange)."""
    plan = explain_str(_df(spark, "q_sim_maxsim"), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # 2x (partial + final)


def test_filtered_serve_prefilters_before_scoring(spark):
    """q_sim_index_filtered's contract: the metadata predicate lands
    as a semi JOIN on the candidate scan — before the window-ranked
    scoring — and the label filter is pushed into the sidecar scan."""
    plan = explain_str(_df(spark, "q_sim_index_filtered"), "simple")
    assert "LeftSemi" in plan
    # the predicate reaches the attribute scan, not a post-filter
    assert "label" in plan
    assert "Window" in plan  # scoring still rank-based downstream


def test_table_cdc_reads_only_changed_files(spark, tmp_path):
    """table_changes' scale contract: the feed of a merge-on-read
    MERGE is built from the commit's appended data files, the files
    its new tombstones name, and its new sidecars only — a carried
    file no tombstone names is never scanned.  Needs a
    range-partitioned table so the merge's keys provably miss most
    files (the hash-partitioned driver exercise hits all 4 at
    sf0.001)."""
    import os

    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.io import table
    from morphl_model_user_search_intent_spark.sources.acid import (
        create_table,
        merge_table,
        read_manifest,
        table_changes,
    )

    root = str(tmp_path / "t")
    base = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    create_table(spark, root, base.repartitionByRange(6, "o_orderkey"))
    hi = base.agg(F.max("o_orderkey")).collect()[0][0]
    src = base.filter(F.col("o_orderkey") > hi * 5 // 6).select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("price") * 2).alias("price"),
        F.lit(False).alias("_delete"),
    )
    merge_table(spark, root, src, "o_orderkey")
    m1, m2 = read_manifest(root, 1), read_manifest(root, 2)
    assert set(m1["files"]) < set(m2["files"])  # nothing removed
    added = {
        os.path.basename(f) for f in set(m2["files"]) - set(m1["files"])
    }
    sidecars = {os.path.basename(f) for f in m2["dv_files"]}
    named = {
        f
        for d in m2["dv_files"]
        for f in pq.read_table(d, columns=["_file"])
        .column("_file")
        .to_pylist()
    }
    assert added and named
    # the range merge's keys sit in the top sixth: most files carry
    # with no tombstone
    assert len(named) < len(m1["files"]) - 1
    feed = table_changes(spark, root, version=2, key="o_orderkey")
    scanned = {
        os.path.basename(f.replace("file:", "")) for f in feed.inputFiles()
    }
    assert scanned == added | named | sidecars
    # and the feed reads as update pairs, not delete + insert
    kinds = {r[0] for r in feed.select("_change_type").distinct().collect()}
    assert kinds == {"update_preimage", "update_postimage"}


def test_table_skipping_prunes_files_by_zone_maps(spark):
    """q_table_skipping's scale contract: the manifest's per-file
    min/max zones must drop non-intersecting files BEFORE the scan is
    planned — inputFiles is a strict subset — while a file with no
    recorded stats is conservatively kept (skipping is never lossy)."""
    import os

    from morphl_model_user_search_intent_spark.sources.acid import (
        ensure_skipping_exercise,
        read_manifest,
        scan_table,
    )

    root = ensure_skipping_exercise(spark, SF_DIR)
    m = read_manifest(root)
    all_files = {os.path.basename(f) for f in m["files"]}
    assert len(all_files) == 8

    pruned = scan_table(spark, root, "o_orderkey", 1000, 2000)
    scanned = {
        os.path.basename(f.replace("file:", ""))
        for f in pruned.inputFiles()
    }
    assert scanned < all_files  # strict subset: zones really pruned
    # correctness of the pruned read vs the unpruned filter
    import pyspark.sql.functions as F

    from morphl_model_user_search_intent_spark.sources.acid import (
        read_table,
    )

    full = (
        read_table(spark, root)
        .filter(F.col("o_orderkey").between(1000, 2000))
        .count()
    )
    assert pruned.count() == full

    # losslessness: strip one PRUNED file's stats -> it must be scanned.
    # The stats live in the manifest's chunk files, so the edit goes
    # there (the original bytes are restored afterwards)
    victim = sorted(all_files - scanned)[0]
    import json

    from morphl_model_user_search_intent_spark.sources.acid import (
        _chunks_dir,
        _read_chunk,
    )

    (chunk,) = [
        os.path.join(_chunks_dir(root), d["id"] + ".json")
        for d in m["chunks"]
        if victim in _read_chunk(root, d["id"])["stats"]
    ]
    with open(chunk) as fh:
        orig = fh.read()
    stripped = json.loads(orig)
    del stripped["stats"][victim]
    with open(chunk, "w") as fh:
        json.dump(stripped, fh)
    try:
        again = scan_table(spark, root, "o_orderkey", 1000, 2000)
        scanned2 = {
            os.path.basename(f.replace("file:", ""))
            for f in again.inputFiles()
        }
        assert victim in scanned2  # no stats -> conservatively kept
        assert again.count() == full
    finally:
        with open(chunk, "w") as fh:
            fh.write(orig)
