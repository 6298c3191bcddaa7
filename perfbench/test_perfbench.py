"""Self-tests of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The last two tests start Spark (about a minute each on 4 cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
from tracer import _metric_number, self_times  # noqa: E402


def _digests(path: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(path):
        for f in names:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(inputs.GENERATORS))
def test_same_seed_same_inputs(tmp_path, workload):
    a, sa = inputs.ensure(str(tmp_path / "a"), workload, 5)
    b, sb = inputs.ensure(str(tmp_path / "b"), workload, 5)
    c, _ = inputs.ensure(str(tmp_path / "c"), workload, 6)
    assert sa == sb and sa["rows"] > 0
    assert _digests(a) == _digests(b)
    assert _digests(a) != _digests(c)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_self_times_of_nested_spans():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 4.0, "end": 6.0},
        {"id": 3, "parent": 2, "start": 4.5, "end": 6.0},
    ]
    st = self_times(spans)
    assert st == {0: 5.0, 1: 3.0, 2: 0.5, 3: 1.5}
    assert sum(st.values()) == 10.0


def test_sql_metric_display_strings():
    assert _metric_number("1,234") == 1234.0
    assert _metric_number("total (min, med, max)\n12.0 KiB (1.0 KiB, ...)") == 12 * 1024
    assert _metric_number("total (min, med, max)\n1.5 s (0.1 s, ...)") == 1.5
    assert _metric_number("total (min, med, max)\n150 ms (1 ms, ...)") == 0.15


def test_tail_percentile_keeps_ten_beyond():
    walls = [float(i) for i in range(1, 101)]
    value, q, beyond = run.tail(walls)
    assert (q, beyond) == (90, 10) and value == 90.0
    assert run.tail([1.0] * 5)[2] == 0


def _bench(*args: str) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return p.returncode, p.stdout


def test_timed_run_prints_end_to_end_metrics():
    rc, out = _bench("--workload", "corpus_dedup", "--seed", "3", "--seconds", "2", "--trace", "0")
    res = json.loads(out.strip().splitlines()[-1])
    assert rc == 0 and res["correct"] and res["failed"] == 0
    assert [(k, v["unit"]) for k, v in res["metrics"].items()] == run.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_self_times_within_op_wall():
    rc, out = _bench("--workload", "table_upsert", "--seed", "3", "--seconds", "4", "--trace", "1")
    res = json.loads(out.strip().splitlines()[-1])
    assert rc == 0 and res["correct"]
    assert [(k, v["unit"]) for k, v in res["metrics"].items()] == run.PER_LAYER
    with open(os.path.join(ROOT, ".perfbench", "traces", "table_upsert-s3.json")) as fh:
        spans = json.load(fh)["spans"]
    st = self_times(spans)
    for root in (s for s in spans if s["parent"] is None):
        mine = [s for s in spans if s["op"] == root["op"]]
        assert sum(st[s["id"]] for s in mine) <= root["end"] - root["start"] + 1e-6
