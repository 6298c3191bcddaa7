"""Outside-in tracer: spans around the benchmark's calls into the
engine, plus Spark's own accounting read back over py4j.

Spans (name, start, end, parent, op id) are kept in memory and written
when the run ends.  Each span sets its own Spark job group, so every
job -- including the eager fits and checkpoints a query builder runs --
is attributed to the innermost span that launched it.  Stage metrics
come from the live status store (it works with the UI off); operator
SQL metrics come from the SQL status store's plan graphs, which, unlike
a walk of one DataFrame's ``executedPlan()``, also cover the executions
an eager ``localCheckpoint`` runs inside a query builder.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

# Operator names whose SQL metrics count Python-worker traffic.
PYTHON_NODES = re.compile(r"(Python|Pandas|Arrow)")
# Display units of size (to bytes) and timing (to seconds) SQL metrics.
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1, "m": 60, "h": 3600,
}


class Tracer:
    """Records spans when `enabled`; a disabled tracer is a no-op so the
    timed run pays nothing for it."""

    def __init__(self):
        self.sc = None  # the SparkContext, set once the session is up
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = None

    @contextmanager
    def span(self, name: str, key: str | None = None, diag: bool = False):
        """Time the enclosed call.  `diag` marks a span that exists only
        in the traced run (the noop drain that splits execution from
        result transfer); it is left out of the traced op time."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "key": key,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "diag": diag,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"span-{self._stack[-1]}", "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(kids[s["id"]]):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _mapper(spark):
    jvm = spark._jvm
    om = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    om.registerModule(getattr(scala, "MODULE$"))
    return om


def jobs(spark) -> list[dict]:
    """Every retained job from the live status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    return json.loads(_mapper(spark).writeValueAsString(store.jobsList(None)))


def stages(spark) -> dict[int, dict]:
    """Every retained stage (last attempt) from the live status store."""
    sc, jvm = spark.sparkContext, spark._jvm
    empty = jvm.java.util.ArrayList()
    raw = sc._jsc.sc().statusStore().stageList(
        empty, False, False, sc._gateway.new_array(jvm.double, 0), empty
    )
    by_id: dict[int, dict] = {}
    for st in json.loads(_mapper(spark).writeValueAsString(raw)):
        if st["attemptId"] >= by_id.get(st["stageId"], {}).get("attemptId", -1):
            by_id[st["stageId"]] = st
    return by_id


def max_job_id(spark) -> int:
    return max((j["jobId"] for j in jobs(spark)), default=-1)


STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",
    "inputBytes",
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "diskBytesSpilled",
)


def stage_totals(stages: list[dict]) -> dict:
    """Sums of the stage fields above, plus scan tasks (tasks of stages
    that read input) and the largest per-stage peak execution memory."""
    out = {f: sum(st.get(f, 0) for st in stages) for f in STAGE_FIELDS}
    out["scanTasks"] = sum(st["numTasks"] for st in stages if st.get("inputBytes", 0) > 0)
    out["peakExecutionMemory"] = max((st.get("peakExecutionMemory", 0) for st in stages), default=0)
    out["stages"] = len(stages)
    return out


def window_totals(spark, after_job: int) -> dict:
    """Stage totals over every job with id > `after_job`."""
    ids = {s for j in jobs(spark) if j["jobId"] > after_job for s in j["stageIds"]}
    by_id = stages(spark)
    return stage_totals([by_id[i] for i in ids if i in by_id])


def _metric_number(text: str) -> float:
    """Parse an SQL metric's display string: '1,234' or, for size and
    timing metrics, 'total (min, med, max ...)\\n12.3 MiB (...)', to
    a count, bytes or seconds."""
    line = text.strip().splitlines()[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B|ms|s|m|h)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


def python_node_metrics(spark, job_ids: set[int]) -> dict:
    """Rows and bytes exchanged with Python workers, and the seconds
    tasks spent running them, by the operators of every SQL execution
    that ran any job in `job_ids`."""
    sql = spark._jsparkSession.sharedState().statusStore()
    om = _mapper(spark)
    execs = json.loads(om.writeValueAsString(sql.executionsList()))
    out = {"rows": 0.0, "sent": 0.0, "received": 0.0, "run_s": 0.0}
    for ex in execs:
        if not job_ids.intersection(int(j) for j in ex["jobs"]):
            continue
        if not PYTHON_NODES.search(ex.get("physicalPlanDescription") or ""):
            continue
        values = {int(k): v for k, v in (ex.get("metricValues") or {}).items()}
        graph = sql.planGraph(ex["executionId"])
        for node in json.loads(om.writeValueAsString(graph.allNodes())):
            if not PYTHON_NODES.search(node["name"]):
                continue
            for met in node["metrics"]:
                v = _metric_number(values.get(met["accumulatorId"], "0"))
                name = met["name"]
                if name == "data sent to Python workers":
                    out["sent"] += v
                elif name == "data returned from Python workers":
                    out["received"] += v
                elif name == "time to run Python workers":
                    out["run_s"] += v
                elif name == "number of output rows":
                    out["rows"] += v
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning milliseconds of the
    DataFrame's own QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out, it = {}, phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (MiB)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
