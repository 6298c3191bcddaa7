"""Calibrate tests/test_perf_gate.py budgets.

Runs the 10 bench headline queries warm (2nd run timed) at sf0.01
under the SAME session shape the pytest gate uses (local[8],
shuffle.partitions=8 — the tests/conftest.py session), prints the
measured seconds and the 2.5× budget to paste into the gate.

Run on an otherwise idle machine: python tools/perf_gate_calibrate.py
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from morphl_model_user_search_intent_spark import REGISTRY, get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
HEADLINE = bench.HEADLINE + [
    # round-5 driver-window additions guarded against plan regressions
    # (serve assumes a staged index — build cost excluded by marker)
    "q_sessionize_chunked", "q_sim_index_serve",
    # round-6 driver-window additions (table reads assume the staged
    # ACID exercise / compacted store — one-time staging excluded)
    "q_sessionize_auto", "q_sim_index_compact", "q_table_merge",
    "q_table_time_travel", "q_win_fill_forward", "q_tpch_q09",
    "q_dedup_semantic", "q_dedup_clusters",
    # round-7 driver-window rotation (delete store staged once;
    # triangles = the vectorized edge-build rewrite this gate must
    # keep honest)
    "q_graph_triangles", "q_scd2_intervals", "q_sim_quantized",
    "q_text_bpe_encode", "q_join_asof_tolerance", "q_udf_grouped_map",
    "q_udtf_explode_sessions", "q_embed_text_long",
    "q_sim_index_delete",
]


def main() -> None:
    spark = get_spark(app_name="perf-gate-cal", cpus=8, shuffle_partitions=8)
    print("BUDGETS = {")
    for name in HEADLINE:
        fn = REGISTRY[name].fresh
        fn(spark, SF_DIR).collect()  # warm-up
        t0 = time.perf_counter()
        fn(spark, SF_DIR).collect()
        dt = time.perf_counter() - t0
        print(f'    "{name}": {max(0.25, round(dt * 2.5, 2))},'
              f'  # measured {dt:.3f}s warm')
    print("}")


if __name__ == "__main__":
    main()
