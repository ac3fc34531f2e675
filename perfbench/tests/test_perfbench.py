"""The benchmark's own tests: tiny-seed smoke runs of every workload, the
output contract, the correctness checks and the trace bookkeeping.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

from perfbench import inputs, ops, run, trace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)

WORKLOAD_LINES = {
    "kg_build": {"triples_per_s": "1/s", "triple_precision": "ratio", "triple_recall": "ratio"},
    "kg_stream": {"mentions_per_s": "1/s", "epoch_p50_s": "s", "epoch_tail_s": "s@"},
    "doc_dedup": {"docs_per_s": "1/s"},
}


def bench(workload: str, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "1"]
    return subprocess.run(
        [sys.executable if c == "python3" else c for c in cmd] + list(extra),
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.fixture
def scratch():
    """A fresh directory under the benchmark's ignored work area."""
    path = os.path.join(ROOT, ".perfbench", f"test-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def report(stdout: str) -> tuple[dict, dict[str, tuple[float, str]]]:
    """(final JSON object, {name: (value, unit)} of the '# name value unit' lines)."""
    lines = stdout.strip().splitlines()
    named = {}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) == 4 and parts[0] == "#":
            try:
                named[parts[1]] = (float(parts[2]), parts[3])
            except ValueError:
                pass
    return json.loads(lines[-1]), named


def test_spec_matches_code():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert len(SPEC["per_layer"]) <= 128


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_every_metric_with_unit(workload):
    p = bench(workload, "--trace", "0", "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out, named = report(p.stdout)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert named["fail_ratio"] == (0.0, "ratio")
    assert named["job_wall_s"][0] > 0 and named["job_wall_s"][1] == "s"
    for name, unit in WORKLOAD_LINES[workload].items():
        assert named[name][1].startswith(unit), name
    assert "inputs" in p.stdout.splitlines()[0]


def test_corrupted_output_counts_as_failed():
    p = bench("kg_stream", "--trace", "0", "--tiny", "--corrupt")
    assert p.returncode == 0, p.stderr[-3000:]
    out, named = report(p.stdout)
    assert not out["correct"]
    assert out["failed"] == out["attempted"] >= 1
    assert named["fail_ratio"] == (1.0, "ratio")


#: modules whose spans must record time in a workload's traced run
TRACED_MODULES = {
    "kg_build": ("extract", "normalize", "link", "resolve", "pipeline", "materialize", "quality"),
    "kg_stream": ("link", "resolve", "materialize", "streaming"),
    "doc_dedup": ("textstats", "curation", "dedup", "spandedup", "materialize"),
}


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_run_reports_every_layer_metric(workload):
    p = bench(workload, "--trace", "1", "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out, _ = report(p.stdout)
    assert out["correct"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.PER_LAYER
    m = {k: v["value"] for k, v in out["metrics"].items()}
    for module in TRACED_MODULES[workload]:
        assert m[f"{module}.wall_s"] > 0, module
    assert m["materialize.tasks"] > 0 and m["materialize.commits"] >= 1
    assert 0 <= m["trace.unexplained_share"] < 0.5
    layers = os.path.join(ROOT, ".perfbench", f"layers-{workload}-s7.json")
    with open(layers, encoding="utf-8") as fh:
        assert "trace.overhead" in json.load(fh)["metrics"]


def test_substituted_restores_originals():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    with pytest.raises(RuntimeError):
        with ops.substituted((mod, "f", lambda real: lambda x: real(x) * 10)):
            assert mod.f(1) == 20
            raise RuntimeError
    assert mod.f is orig


def test_fails_without_the_program(scratch):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), scratch)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path),
            os.path.join(scratch, path),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    p = bench("kg_build", "--trace", "0", cwd=scratch)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_inputs_are_seeded(scratch):
    a, b, c = (
        inputs.make_docs(seed, inputs.TINY["doc_dedup"], os.path.join(scratch, name))
        for seed, name in ((3, "a"), (3, "b"), (4, "c"))
    )
    assert a["digest"] == b["digest"] != c["digest"]
    reasons = set(a["truth"]["reason"].values())
    assert reasons == {"low-quality", "exact-dup", "near-dup"}
    assert set(a["truth"]["cut"].values()) == {inputs.TINY["doc_dedup"].span_words}


def test_tail_percentile_keeps_ten_beyond():
    p, v = trace.tail_percentile([float(i) for i in range(100)])
    assert v == 89.0 and sum(x > v for x in range(100)) == 10
    assert p == pytest.approx(100 * 89 / 99)
    assert trace.tail_percentile([3.0, 1.0, 2.0]) == (None, 3.0)


def test_span_counters_attribute_by_tag_then_time():
    spans = [
        trace.Span(0, "op", "op", 0, start=10.0, parent=None, end=20.0),
        trace.Span(1, "link", "link", 0, start=11.0, parent=0, end=15.0),
        trace.Span(2, "resolve", "resolve", 0, start=15.0, parent=0, end=19.0),
    ]

    def task(stage, cpu_ns, secs, shuffle):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Launch Time": 0, "Finish Time": int(secs * 1000)},
            "Task Metrics": {
                "Executor CPU Time": cpu_ns,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Memory Bytes Spilled": 0,
                "Disk Bytes Spilled": 0,
            },
        }

    events = [
        # tagged with span 1 although submitted inside span 2's window
        {"Event": "SparkListenerJobStart", "Submission Time": 16000,
         "Stage IDs": [0], "Properties": {trace.SPAN_PROPERTY: "1"}},
        # untagged: falls back to the innermost span open at submission
        {"Event": "SparkListenerJobStart", "Submission Time": 17000, "Stage IDs": [1]},
        task(0, 2e9, 0.5, 2**20),
        task(1, 1e9, 0.25, 0),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 17000, "Completion Time": 18000}},
    ]
    c = trace.span_counters(events, spans)
    assert c[1]["exec_cpu_s"] == 2.0 and c[1]["shuffle_write_mb"] == 1.0
    assert c[2]["tasks"] == 1 and c[2]["stage_s"] == 1.0
    per_op = trace.module_totals(spans, c)[0]
    assert per_op["op"]["wall_s"] == pytest.approx(2.0)
    assert per_op["resolve"]["driver_gap_s"] == pytest.approx(3.0)
    assert trace.unexplained_shares(spans) == [pytest.approx(0.2)]
