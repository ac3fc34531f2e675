"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root: the benchmark imports ``kgtm`` from there and
keeps all its files (inputs, stores, Spark scratch, event logs) under
``.perfbench/`` there. The last line of standard output is one JSON object
{"correct", "attempted", "failed", "metrics"}; the lines before it are the
human-readable report (input digest, traffic facts, every metric by name
with its unit). ``--trace 1`` reports the per-layer metrics instead of the
end-to-end ones and writes the full per-layer JSON next to the inputs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, ops, trace  # noqa: E402
from perfbench.trace import GENERIC, median  # noqa: E402

WORKLOADS = ("kg_build", "kg_stream", "doc_dedup")

#: ops a run times at the least, whatever --seconds is. Ops still get faster
#: after the warm-up op, so a run that timed one op fewer than another would
#: report a slower median: a kg_build op (~3 s) whose first op runs past a
#: 4 s window on a loaded host would otherwise stop at one.
MIN_OPS = {"kg_build": 2, "kg_stream": 1, "doc_dedup": 1}

#: end-to-end metrics, reported on every workload: name -> unit. setup_s and
#: op_cpu_s are CPU seconds of the whole process tree (Python driver, JVM,
#: Python workers). job_s is wall time scaled by the share of the op's CPU
#: demand the hypervisor served: on a shared host, CPU time stolen by other
#: guests moves raw wall times by up to 43% across seeds (see README.md).
#: All three are then scaled toward the reference CPU speed PROBE_REF_S: the
#: host's speed moved by up to 30% for minutes at a time with no steal.
END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}

#: modules whose calls the traced run spans (each records GENERIC)
MODULES = (
    "extract",
    "normalize",
    "link",
    "resolve",
    "pipeline",
    "materialize",
    "streaming",
    "quality",
    "textstats",
    "curation",
    "dedup",
    "spandedup",
)

#: module-specific per-layer metrics: name -> unit
SPECIFIC = {
    "session.start_s": "s",
    "extract.rows_out": "count",
    "normalize.rows_out": "count",
    "link.rows_in": "count",
    "link.linked_ratio": "ratio",
    "link.dict_rows": "count",
    "link.max_rows_per_host": "count",
    "resolve.snapshot_ratio": "ratio",
    "pipeline.eager_s": "s",
    "pipeline.fact_join_s": "s",
    "materialize.write_s": "s",
    "materialize.files": "count",
    "materialize.bytes_per_row": "B",
    "materialize.list_commits_s": "s",
    "materialize.commits": "count",
    "materialize.read_s": "s",
    "streaming.epochs": "count",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.rows_per_epoch": "count",
    "textstats.kept_ratio": "ratio",
    "curation.kept_ratio": "ratio",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.pair_yield": "ratio",
    "spandedup.words_removed": "count",
    "trace.unexplained_share": "ratio",
    "trace.overhead": "ratio",
}

GENERIC_UNITS = {
    "wall_s": "s",
    "plan_s": "s",
    "exec_cpu_s": "s",
    "tasks": "count",
    "task_max_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "driver_gap_s": "s",
}

PER_LAYER = {
    **{f"{m}.{k}": GENERIC_UNITS[k] for m in MODULES for k in GENERIC},
    **SPECIFIC,
}

#: CPU seconds of trace.probe_cpu_s at the reference speed (the common speed
#: of the 4-vCPU host the benchmark was tuned on)
PROBE_REF_S = 0.6
#: how strongly the benchmark's times follow the probe: a time scales with
#: (probe speed)^SPEED_ELASTICITY. Fitted log-log slopes of op times on the
#: probe ranged 0.2-1.0 by workload (an op waits on I/O, polling and
#: scheduling as well as on the CPU, and its working set is far larger than
#: the probe's). Over the seed sets tried on kg_build and kg_stream, 0.5
#: gave smaller op-time spreads than 0 or 1.
SPEED_ELASTICITY = 0.5
#: driver JVM heap (min = max)
DRIVER_MEM = "2g"
#: (part name in the trace) -> specific metric it reports
PART_METRICS = {
    ("pipeline", "eager"): "pipeline.eager_s",
    ("pipeline", "fact_join"): "pipeline.fact_join_s",
    ("materialize", "write"): "materialize.write_s",
    ("materialize", "read"): "materialize.read_s",
    ("materialize", "list_commits"): "materialize.list_commits_s",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    p.add_argument(
        "--corrupt",
        action="store_true",
        help="drop one committed row before each check (tests the checks)",
    )
    return p.parse_args(argv)


class Session:
    """The one Spark session of a run, with its scratch directories."""

    def __init__(self, work: str, traced: bool) -> None:
        self.work = work
        for d in ("tmp", "local", "eventlog"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        tmp = os.path.join(work, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["KGTM_DRIVER_MEM"] = DRIVER_MEM
        self.conf = {
            # a fixed-size heap under the parallel collector: its eden is one
            # contiguous space, so peak RSS tracks old-generation growth
            # instead of which heap regions G1 happened to touch
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseParallelGC -Xms{DRIVER_MEM}"
            ),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        if traced:
            self.conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None

    def start(self) -> tuple[float, float, float]:
        """(wall, CPU, stolen) seconds of session start, JVM launch included,
        through the first trivial job."""
        from kgtm.session import get_spark

        clock = trace.Stopwatch()
        self.spark = get_spark(app_name="perfbench", cores=self.cores, extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        return clock.read()

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return trace.vm_hwm_mb(int(jvm)) + trace.vm_hwm_mb(os.getpid())

    def close(self) -> None:
        """Stop Spark and the JVM it launched, and wait for the JVM to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=60)


def make_inputs(workload: str, seed: int, tiny: bool, out_dir: str) -> dict:
    size = (inputs.TINY if tiny else inputs.SIZES)[workload]
    if workload == "doc_dedup":
        return inputs.make_docs(seed, size, out_dir)
    return inputs.make_kg(seed, size, out_dir)


def make_workload(name: str, spark, data: dict, listener):
    if name == "kg_build":
        return ops.KgBuild(spark, data)
    if name == "kg_stream":
        return ops.KgStream(spark, data, listener)
    return ops.DocDedup(spark, data)


def corrupt(store: str, table: str) -> None:
    """Delete the first row of a committed data file, keeping the file valid."""
    import glob

    import pyarrow.parquet as pq

    pattern = os.path.join(store, table, "commit=*", "**", "*.parquet")
    for path in sorted(glob.glob(pattern, recursive=True)):
        data = pq.read_table(path)
        if data.num_rows:
            pq.write_table(data.slice(1), path)
            # the rewritten file no longer matches Hadoop's checksum sidecar
            crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            return


def run_op(wl, store: str, tracer, broken: bool, verify: bool = True) -> ops.OpResult:
    """One op, isolated: an exception is a failed op, not a failed run."""
    if broken:
        orig = wl.check

        def check(st, *a, **kw):
            corrupt(st, wl.TABLE)
            return orig(st, *a, **kw)

        wl.check = check
    t0 = time.perf_counter()
    try:
        return wl.traced_op(store, tracer) if tracer else wl.op(store, verify)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return ops.OpResult(time.perf_counter() - t0, 0, False, "op raised")
    finally:
        if broken:
            wl.check = orig
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(store + "_ckpt", ignore_errors=True)


def measure(wl, stores: str, seconds: float, tracer=None, broken=False, first=0, min_ops=1, probe=None) -> list:
    """Closed loop: the next op starts when the previous one has ended, until
    the ops' timed seconds reach ``seconds`` and at least ``min_ops`` ran
    (checks run outside the clock). ``probe``, when given, is called before
    the first op and after each op; an op's ``probe_s`` is the mean of the
    calls just before and just after it."""
    results = []
    before = probe() if probe else 0.0
    while len(results) < min_ops or sum(r.job_s for r in results) < seconds:
        if tracer:
            tracer.op = first + len(results)
        res = run_op(wl, os.path.join(stores, f"op{first + len(results):03d}"), tracer, broken)
        if probe:
            after = probe()
            res.probe_s, before = (before + after) / 2, after
        if not res.ok:
            print(f"# op {first + len(results)} failed: {res.why}", file=sys.stderr)
        results.append(res)
    return results


def rows_per_s(results: list) -> float:
    """Median over the ops that passed of committed rows per timed second."""
    ok = [r for r in results if r.ok] or results
    return median([r.rows / r.job_s for r in ok if r.job_s > 0])


def unstolen_wall_s(r: ops.OpResult) -> float:
    """Wall seconds of an op times cpu / (cpu + stolen): the wall time
    stretched by CPU time the hypervisor gave to other guests is taken out,
    in proportion to how much of the op's CPU demand went unserved."""
    return r.job_s * r.cpu_s / (r.cpu_s + r.stolen_s) if r.cpu_s > 0 else r.job_s


def at_ref_speed(seconds: float, probe_s: float) -> float:
    """``seconds`` measured while the speed probe took ``probe_s``, scaled
    toward the reference speed by SPEED_ELASTICITY."""
    return seconds * (PROBE_REF_S / probe_s) ** SPEED_ELASTICITY


def end_to_end(results: list, setup: tuple[float, float, float], setup_probe_s: float, rss: float) -> dict:
    ok = [r for r in results if r.ok] or results
    values = {
        "setup_s": at_ref_speed(setup[1], setup_probe_s),
        "job_s": median([at_ref_speed(unstolen_wall_s(r), r.probe_s) for r in ok]),
        "op_cpu_s": median([at_ref_speed(r.cpu_s, r.probe_s) for r in ok]),
        "peak_rss_mb": rss,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def workload_report(name: str, results: list) -> list[tuple[str, float, str]]:
    """The unbounded end-to-end figures: wall times and rates, by their own names."""
    ok = [r for r in results if r.ok] or results
    rate = rows_per_s(results)
    lines = [
        ("fail_ratio", sum(not r.ok for r in results) / len(results), "ratio"),
        ("job_wall_s", median([r.job_s for r in ok]), "s"),
    ]
    if name == "kg_build":
        lines += [
            ("triples_per_s", rate, "1/s"),
            ("triple_precision", median([r.extra["precision"] for r in ok if r.extra]), "ratio"),
            ("triple_recall", median([r.extra["recall"] for r in ok if r.extra]), "ratio"),
        ]
    elif name == "kg_stream":
        epochs = [e["ms"]["triggerExecution"] / 1000 for r in ok for e in r.extra.get("epochs", [])]
        p, tail = trace.tail_percentile(epochs) if epochs else (None, 0.0)
        at = "max" if p is None else f"p{p:.1f}"
        lines += [
            ("mentions_per_s", rate, "1/s"),
            ("epoch_p50_s", median(epochs), "s"),
            ("epoch_tail_s", tail, f"s@{at}/n={len(epochs)}"),
        ]
    else:
        lines.append(("docs_per_s", rate, "1/s"))
    return lines


def per_layer(spans, counters, results, untraced, facts, start_s) -> tuple[dict, dict]:
    """(metrics, detail): every per-layer metric as the median over traced
    ops of its per-op value; modules a workload does not run read 0."""
    per_op = trace.module_totals(spans, counters)
    ops_ = sorted(i for i in per_op if "op" in per_op[i])
    values = {name: 0.0 for name in PER_LAYER}
    for m in MODULES:
        for k in GENERIC:
            values[f"{m}.{k}"] = median([per_op[i].get(m, {}).get(k, 0.0) for i in ops_])
    for (m, part), name in PART_METRICS.items():
        values[name] = median([per_op[i].get(m, {}).get("parts", {}).get(part, 0.0) for i in ops_])
    traced = [r for r in results if r.counts]
    for name in SPECIFIC:
        got = [r.counts[name] for r in traced if name in r.counts]
        if got:
            values[name] = median(got)
    epochs = [r.extra.get("epochs", []) for r in traced]
    if any(epochs):
        per = lambda key: median([sum(e["ms"].get(key, 0) for e in ep) / 1000 for ep in epochs])  # noqa: E731
        values["streaming.epochs"] = median([len(ep) for ep in epochs])
        values["streaming.add_batch_s"] = per("addBatch")
        values["streaming.query_planning_s"] = per("queryPlanning")
        values["streaming.wal_commit_s"] = per("walCommit")
        values["streaming.rows_per_epoch"] = median([e["rows"] for ep in epochs for e in ep])
    values["session.start_s"] = start_s
    values["link.dict_rows"] = facts.get("dict_rows", 0) if values["link.rows_in"] else 0
    values["link.max_rows_per_host"] = facts.get("max_rows_per_host", 0) if values["link.rows_in"] else 0
    values["trace.unexplained_share"] = median(trace.unexplained_shares(spans))
    traced_job = median([r.job_s for r in traced])
    plain_job = median([r.job_s for r in untraced if r.ok])
    values["trace.overhead"] = traced_job / plain_job - 1 if plain_job else 0.0
    detail = {
        "per_op": {str(i): per_op[i] for i in ops_},
        "traced_job_s": traced_job,
        "untraced_job_s": plain_job,
    }
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}, detail


def run(args, run_dir: str, phase) -> dict:
    """Generate inputs, set up, measure and report; returns the result line."""
    traced = bool(args.trace)
    data = make_inputs(args.workload, args.seed, args.tiny, os.path.join(run_dir, "inputs"))
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace} inputs {data['digest']}")
    phase("inputs")

    sess = Session(run_dir, traced)
    probe = lambda: trace.probe_cpu_s(sess.cores)  # noqa: E731
    try:
        setup_probe_s = probe()
        setup = sess.start()
        setup_probe_s = (setup_probe_s + probe()) / 2
        spark = sess.spark
        phase("session")
        listener = trace.EpochListener()
        spark.streams.addListener(listener)
        wl = make_workload(args.workload, spark, data, listener)
        facts = wl.setup()
        print("# facts " + json.dumps(facts, sort_keys=True))
        phase("setup")
        stores = os.path.join(run_dir, "stores")
        run_op(wl, os.path.join(stores, "warmup"), None, False, verify=False)  # untimed
        phase("warmup")
        untraced = []
        if traced:
            untraced = measure(wl, stores, args.seconds / 2, broken=args.corrupt)
            tracer = trace.Tracer(spark.sparkContext)
            results = measure(wl, stores, args.seconds / 2, tracer, args.corrupt, first=len(untraced))
        else:
            results = measure(
                wl, stores, args.seconds, broken=args.corrupt, min_ops=MIN_OPS[args.workload], probe=probe
            )
        phase("measure")
        rss = sess.peak_rss_mb()
        app_id = spark.sparkContext.applicationId
    finally:
        sess.close()
    phase("close")

    if traced:
        events = trace.event_log_lines(os.path.join(run_dir, "eventlog"), app_id)
        counters = trace.span_counters(events, tracer.spans)
        metrics, detail = per_layer(tracer.spans, counters, results, untraced, facts, setup[0])
        out = os.path.join(ROOT, ".perfbench", f"layers-{args.workload}-s{args.seed}.json")
        with open(out, "w", encoding="utf-8") as fh:
            json.dump({"metrics": metrics, "facts": facts, "inputs": data["digest"], **detail}, fh, indent=1, default=str)
        print(f"# per-layer JSON: {os.path.relpath(out, ROOT)}")
    else:
        metrics = end_to_end(results, setup, setup_probe_s, rss)
        for name, value, unit in workload_report(args.workload, results):
            print(f"# {name} {value:.6g} {unit}")
        print("# per_op_wall_cpu_stolen_probe_s " + json.dumps([[round(x, 4) for x in (r.job_s, r.cpu_s, r.stolen_s, r.probe_s)] for r in results]))
        print("# session_start_wall_cpu_stolen_probe_s " + json.dumps([round(x, 4) for x in (*setup, setup_probe_s)]))
    for name, m in metrics.items():
        print(f"# {name} {m['value']:.6g} {m['unit']}")
    results += untraced
    failed = sum(not r.ok for r in results)
    return {"correct": failed == 0, "attempted": len(results), "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    phases, t_run = {}, time.perf_counter()

    def phase(name: str) -> None:
        phases[name] = round(time.perf_counter() - t_run - sum(phases.values()), 3)

    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        result = run(args, run_dir, phase)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    phase("report")
    print("# phases_s " + json.dumps(phases))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
