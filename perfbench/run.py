"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload search_intent --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates (or reuses) the seeded
inputs and their oracle results, starts the engine's session on
``local[nproc]``, stages through the program and runs the workload's
untimed warm-up passes (`setup_s` is the wall time from process start to the
first timed op, less input generation and oracles), then measures whole
passes of ops in a closed loop with one client for ``--seconds``.  With
``--trace 1`` a traced window of the same length follows the untraced
one and per-layer metrics are reported instead of end-to-end ones.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  The exit code is 0 only when every op ran
and passed its correctness check.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "morphl_model_user_search_intent_spark"
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "2g"
TAIL_BEYOND = 10

# (name, unit) of the JSON metrics of --trace 0 and --trace 1, as listed
# in BENCHMARK.json.  The end-to-end line also prints op_p50_s, op_tail_s
# and failed_op_share.  The median and tail of a few dozen ops of three
# to five kinds are each one kind's order statistics, and over ten seeds
# they spread more than ops_per_s (1 / mean op time), which follows the
# same latencies; failed_op_share is 0 on a healthy run (the JSON
# carries it as failed / attempted).
END_TO_END = [
    ("ops_per_s", "1/s"),
    ("jvm_peak_rss_mb", "MiB"),
    ("bytes_moved_per_input_byte", "ratio"),
    ("setup_s", "s"),
]
# Per-layer metrics of the JSON line.  Times here are nonzero on every
# workload; the counts and ratios of a layer a workload does not call
# (ml, udf, llm, acid) read 0 there.  Times of such layers
# (registry.build_s, ml.fit_s, key.*.s, acid.*_s) would read a constant
# 0, and acid.commit_retries is 0 by construction with one client, so
# those are only in the printed per-layer report and the trace file.
PER_LAYER = [
    ("session.start_s", "s"),
    ("registry.build_jobs", "count"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("io.scan_tasks", "count"),
    ("io.input_bytes", "B"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.drain_s", "s"),
    ("exec.task_run_s", "s"),
    ("exec.busy_ratio", "ratio"),
    ("exec.shuffle_write_bytes", "B"),
    ("exec.shuffle_read_bytes", "B"),
    ("exec.spill_bytes", "B"),
    ("exec.peak_exec_memory_bytes", "B"),
    ("exec.failed_tasks", "count"),
    ("transfer.collect_s", "s"),
    ("transfer.s", "s"),
    ("ml.fit_jobs", "count"),
    ("udf.python_rows", "count"),
    ("udf.python_bytes_sent", "B"),
    ("udf.python_bytes_received", "B"),
    ("llm.dedup.pairs", "count"),
    ("acid.files_rewritten", "count"),
    ("acid.write_amp", "ratio"),
    ("acid.live_files", "count"),
    ("acid.dv_fraction", "ratio"),
    ("trace.overhead_ratio", "ratio"),
]
def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def setup_env(cpus: int) -> None:
    """Pin the session and keep every file Spark, the JVM and Python
    workers write inside the checkout.  The driver heap is fixed
    (-Xms = -Xmx): with a growable heap, VmHWM followed G1's
    GC-timing-driven resizing and spread 0.2-0.34 over seeds."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}" '
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.ui.retainedJobs=100000 "
            "--conf spark.ui.retainedStages=100000 "
            "--conf spark.sql.ui.retainedExecutions=100000 "
            "pyspark-shell"
        ),
    )


def tail(walls: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples beyond it) for the highest integer
    nearest-rank percentile with at least TAIL_BEYOND samples beyond."""
    xs, n = sorted(walls), len(walls)
    for q in range(99, 0, -1):
        k = -(-q * n // 100)
        if n - k >= TAIL_BEYOND:
            return xs[k - 1], q, n - k
    return xs[-1], 100, 0


def run_window(w, tr, rng, seconds: float, log: list[str]) -> dict:
    """Whole passes of ops until `seconds` have elapsed (one pass when
    `seconds` is 0).  Returns per-op names, wall times and failures."""
    names, walls, failed = [], [], 0
    t_end = time.perf_counter() + seconds
    passes = 0
    while True:
        for op in w.next_pass(rng):
            tr.op = (tr.op or 0) + 1
            err = None
            t0 = time.perf_counter()
            try:
                with tr.span("op", op.name):
                    payload = op.run()
                wall = time.perf_counter() - t0
                err = op.check(payload)
            except Exception as ex:  # an op that raises counts as failed
                wall = time.perf_counter() - t0
                err = f"{op.name}: {type(ex).__name__}: {ex}"
            if tr.enabled:
                wall -= sum(s["end"] - s["start"] for s in tr.op_spans(tr.op) if s["diag"])
            names.append(op.name)
            walls.append(wall)
            if err:
                failed += 1
                log.append(err[:2000])
        passes += 1
        if time.perf_counter() >= t_end:
            return {"names": names, "walls": walls, "failed": failed, "passes": passes}


def median_by(names: list[str], walls: list[float]) -> dict[str, float]:
    out: dict[str, list[float]] = {}
    for n, x in zip(names, walls):
        out.setdefault(n, []).append(x)
    return {n: statistics.median(v) for n, v in out.items()}


def per_layer(spark, w, tr, traced: dict, untraced_p50: float, start_s: float, cpus: int) -> dict:
    """Every per-layer metric of the traced window (values, or a string
    saying why a metric cannot be measured from outside)."""
    import tracer as T

    stages = T.stages(spark)
    span_jobs: dict[int, list[dict]] = {}
    for j in T.jobs(spark):
        g = j.get("jobGroup") or ""
        if g.startswith("span-"):
            span_jobs.setdefault(int(g[5:]), []).append(j)
    ops = sorted({s["op"] for s in tr.spans})
    n_ops = len(ops)
    by_op = {o: [] for o in ops}
    for s in tr.spans:
        by_op[s["op"]].append(s)

    def dur(s):
        return s["end"] - s["start"]

    def op_sum(name, keys=None):
        """Per op: total seconds in spans called `name`."""
        return [
            sum(dur(s) for s in by_op[o] if s["name"] == name and (keys is None or s["key"] in keys))
            for o in ops
        ]

    def jobs_of(pred) -> list[dict]:
        return [j for s in tr.spans if pred(s) for j in span_jobs.get(s["id"], [])]

    def med_nonzero(xs):
        xs = [x for x in xs if x > 0]
        return statistics.median(xs) if xs else 0.0

    # The noop drains exist only in the traced run, so the work counts
    # leave their jobs out and describe the op as the timed run runs it.
    all_jobs = jobs_of(lambda s: not s["diag"])
    st = T.stage_totals([stages[i] for j in all_jobs for i in j["stageIds"] if i in stages])
    ml_keys = {k for k in w.keys if k.startswith("q_ml_")}
    build_jobs = jobs_of(lambda s: s["name"] == "registry.fresh")
    py = T.python_node_metrics(spark, {j["jobId"] for j in all_jobs})
    phases = [T.catalyst_phases(df) for _, _, df in w.actions]
    drains = op_sum("exec.drain")
    collects = op_sum("action.collect")
    wall_sum = sum(traced["walls"])
    layer = {
        "session.start_s": start_s,
        "registry.build_s": med_nonzero(op_sum("registry.fresh")),
        "registry.build_jobs": len(build_jobs) / n_ops,
        "catalyst.analysis_ms": statistics.mean(p.get("analysis", 0.0) for p in phases),
        "catalyst.optimization_ms": statistics.mean(p.get("optimization", 0.0) for p in phases),
        "catalyst.planning_ms": statistics.mean(p.get("planning", 0.0) for p in phases),
        "io.scan_tasks": st["scanTasks"] / n_ops,
        "io.input_bytes": st["inputBytes"] / n_ops,
        "exec.jobs": len(all_jobs) / n_ops,
        "exec.stages": st["stages"] / n_ops,
        "exec.tasks": st["numTasks"] / n_ops,
        "exec.drain_s": med_nonzero(drains),
        "exec.task_run_s": st["executorRunTime"] / 1000.0 / n_ops,
        "exec.busy_ratio": st["executorRunTime"] / 1000.0 / (wall_sum * cpus),
        "exec.shuffle_write_bytes": st["shuffleWriteBytes"] / n_ops,
        "exec.shuffle_read_bytes": st["shuffleReadBytes"] / n_ops,
        "exec.spill_bytes": st["diskBytesSpilled"] / n_ops,
        "exec.peak_exec_memory_bytes": st["peakExecutionMemory"],
        "exec.failed_tasks": st["numFailedTasks"],
        "transfer.collect_s": med_nonzero(collects),
        "transfer.s": statistics.median(c - d for c, d in zip(collects, drains) if c > 0 and d > 0),
        "ml.fit_s": med_nonzero(op_sum("registry.fresh", ml_keys)),
        "ml.fit_jobs": len(jobs_of(lambda s: s["name"] == "registry.fresh" and s["key"] in ml_keys)) / n_ops,
        "udf.python_rows": py["rows"] / n_ops,
        "udf.python_bytes_sent": py["sent"] / n_ops,
        "udf.python_bytes_received": py["received"] / n_ops,
        "udf.python_run_s": py["run_s"] / n_ops,
        "udf.python_task_share": py["run_s"] / max(st["executorRunTime"] / 1000.0, 1e-9),
        "llm.dedup.useful_ratio": (
            "deferred: the candidate-pair count is produced inside the builder's "
            "localCheckpoint, whose SQL metrics do not name the band join's output"
        ),
        "trace.overhead_ratio": statistics.median(traced["walls"]) / untraced_p50 - 1.0,
    }
    for name in ("llm.dedup.pairs", "acid.files_rewritten", "acid.write_amp",
                 "acid.live_files", "acid.dv_fraction"):
        vals = w.layer.get(name, [])
        layer[name] = statistics.mean(vals) if vals else 0.0
    layer["acid.commit_retries"] = sum(w.layer.get("acid.commit_retries", []))
    for name, x in median_by(traced["names"], traced["walls"]).items():
        if name in w.keys:
            layer[f"key.{name}.s"] = x
        else:
            layer[f"acid.{name}_s"] = x
    # Where the traced op time goes: self time per span name, and each
    # op name's share of it (traced op time includes the noop drain).
    selfs = T.self_times(tr.spans)
    by_span: dict[str, float] = {}
    by_name: dict[str, float] = {}
    for s in tr.spans:
        by_span[s["name"]] = by_span.get(s["name"], 0.0) + selfs[s["id"]]
        if s["parent"] is None:
            by_name[s["key"]] = by_name.get(s["key"], 0.0) + dur(s)
    total = sum(by_name.values())
    layer["self_s"] = {k: v / n_ops for k, v in sorted(by_span.items())}
    layer["self_share"] = {k: v / total for k, v in sorted(by_span.items())}
    layer["op_share"] = {k: v / total for k, v in by_name.items()}
    return layer


def host_info(spark, cpus: int) -> dict:
    return {
        "nproc": cpus,
        "load_1m": os.getloadavg()[0],
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE} package beside {HERE}", file=sys.stderr)
        return 2
    t_start = time.perf_counter() - process_age()
    cpus = len(os.sched_getaffinity(0))
    setup_env(cpus)
    sys.path.insert(0, ROOT)

    import numpy as np

    import inputs
    from morphl_model_user_search_intent_spark import get_spark
    from tracer import Tracer, jvm_peak_rss_mb, max_job_id, window_totals

    t0 = time.perf_counter()
    input_dir, stats = inputs.ensure(os.path.join(WORK, "inputs"), args.workload, args.seed)
    work_dir = os.path.join(WORK, "run", f"{args.workload}-{os.getpid()}")
    tr = Tracer()
    w = WORKLOADS[args.workload](input_dir, stats, work_dir, tr)
    w.prepare()
    excluded = time.perf_counter() - t0  # input generation + oracles
    rng = np.random.default_rng([args.seed, 7])
    log: list[str] = []
    attempted = failed = 0

    spark = None
    try:
        a = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        start_s = time.perf_counter() - a
        tr.sc = spark.sparkContext
        w.stage(spark)
        warm = [time.perf_counter()]
        for _ in range(w.warm_passes):
            res = run_window(w, tr, rng, 0, log)
            attempted += len(res["walls"])
            failed += res["failed"]
            warm.append(time.perf_counter())
        setup_s = warm[-1] - t_start - excluded
        setup_phases = {
            "session_s": start_s,
            "stage_s": warm[0] - a - start_s,
            "warm_pass_s": [end - begin for begin, end in zip(warm, warm[1:])],
        }

        fence = max_job_id(spark)
        w.bytes_written = 0
        timed = run_window(w, tr, rng, args.seconds, log)
        totals = window_totals(spark, fence)
        moved = w.bytes_written
        attempted += len(timed["walls"])
        failed += timed["failed"]
        p50 = statistics.median(timed["walls"])
        n = len(timed["walls"])
        tail_v, tail_q, beyond = tail(timed["walls"])
        e2e = {
            "ops_per_s": n / sum(timed["walls"]),
            "jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
            "bytes_moved_per_input_byte": (
                totals["shuffleWriteBytes"] + totals["diskBytesSpilled"] + moved
            ) / (timed["passes"] * w.pass_input_bytes()),
            "setup_s": setup_s,
        }
        host = host_info(spark, cpus)
        print(f"host: {json.dumps(host)}")
        print(
            f"inputs: {args.workload} seed={args.seed} rows={stats['rows']} "
            f"bytes={stats['bytes']} files={stats['files']} dir={os.path.relpath(input_dir, ROOT)}"
        )
        print(
            f"end-to-end ({n} ops in {timed['passes']} passes, closed loop, 1 client): "
            + f"op_p50_s={p50:.6g} s, op_tail_s={tail_v:.6g} s (p{tail_q}, {beyond} of {n} samples beyond), "
            + ", ".join(f"{k}={e2e[k]:.6g} {u}" for k, u in END_TO_END)
            + f", failed_op_share={timed['failed'] / n:.6g} ratio ({timed['failed']}/{n})"
        )
        print(f"setup: {json.dumps(setup_phases)}")
        print(f"op medians (s): {json.dumps(median_by(timed['names'], timed['walls']))}")
        print(f"op walls (s): {json.dumps(list(zip(timed['names'], timed['walls'])))}")
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}

        if args.trace:
            tr.enabled = True
            w.layer = {}
            traced = run_window(w, tr, rng, args.seconds, log)
            tr.enabled = False
            attempted += len(traced["walls"])
            failed += traced["failed"]
            layer = per_layer(spark, w, tr, traced, p50, start_s, cpus)
            print(f"per-layer ({len(traced['walls'])} traced ops): {json.dumps(layer)}")
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            path = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json")
            with open(path, "w") as fh:
                json.dump(
                    {"host": host, "inputs": stats, "end_to_end": e2e, "per_layer": layer, "spans": tr.spans},
                    fh,
                )
            print(f"trace: {os.path.relpath(path, ROOT)}")
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}
    finally:
        for line in log[:20]:
            print(f"FAILED {line}", file=sys.stderr)
        if spark is not None:
            stop(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
