"""Seeded benchmark of the data engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process, one closed-loop client, a
``local[k]`` Spark session (k = min(4, available cores)) whose files all
live in a fresh run directory under ``.perfbench_run/``. Set-up (session
start, input generation, warm-up and, for ``ingest_batches``, the state
build) is timed from process start; then whole units of the workload run
until ``--seconds`` have passed. Every op's output is checked.

Output: a report line with every end-to-end metric, its unit, the tail
percentile and the failing ops, then, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer metrics
(``--trace 1``). The same records are written to ``.perfbench_out/``.

With ``--trace 1`` the first half of the time runs untraced and the
second half traced, so the tracing overhead is measured in the same run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.tracing import (  # noqa: E402
    UNITS,
    NullTracer,
    ProcessCounters,
    Tracer,
    cpu_ticks,
    descendants,
    ended,
    driver_only_s,
    layer_metrics,
    tail_percentile,
)
from perfbench.workloads import WORKLOADS, Recorder  # noqa: E402

MAX_CORES = 4
# The end-to-end metrics BENCHMARK.json gates; every workload prints them.
GATED = ("setup_s", "op_p50_s", "rows_per_s")


def process_start() -> float:
    """Wall-clock time at which this process started: now, minus the
    uptime, plus the process's start time since boot."""
    now = time.time()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        raw = f.read()
    ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    return now - uptime + ticks / os.sysconf("SC_CLK_TCK")


def isolate(run_dir: str) -> None:
    """Point every scratch location of this process, the JVM and the
    Python workers into ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the launcher JVM that spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = ROOT
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_session(run_dir: str, cores: int):
    from data__converter_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # no web UI; the status store the traced run reads stays
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # the traced run reads every job and stage of an op back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def shutdown(spark) -> None:
    """Stop the session, then end the JVM and its Python workers and wait
    for them."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    gw.shutdown()
    # The session is stopped; what the JVM would still do before it
    # exits (its shutdown hooks delete files in the run directory, which
    # is removed anyway) takes about 1.5 s, so end it now.
    for pid in kids:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    if proc is not None:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while not ended(pid) and time.time() < deadline:
            time.sleep(0.01)


def measure(workload, rec, seconds: float, unit: int) -> int:
    """Run whole units until ``seconds`` have passed; next unit number."""
    t0 = time.time()
    while True:
        workload.run_unit(rec, unit)
        unit += 1
        if time.time() - t0 >= seconds:
            return unit


def e2e(workload_name: str, rec, setup: float) -> dict:
    ops = rec.samples["op"]
    out = {
        "setup_s": (setup, "s"),
        "op_p50_s": (statistics.median(ops) if ops else None, "s"),
        "rows_per_s": (rec.rows / rec.timed_s if rec.timed_s else 0.0, "rows/s"),
        "error_rate": (len(rec.failures) / rec.attempted if rec.attempted else 0.0, "ratio"),
    }
    # the tail needs at least 10 samples beyond it; shorter runs report
    # it as null beside their sample count
    pct, tail, beyond = tail_percentile(ops) or (None, None, None)
    out["op_tail_s"] = (tail, "s")
    out["op_tail_pct"] = (pct, "percentile")
    out["op_tail_beyond"] = (beyond, "count")
    out["op_samples"] = (len(ops), "count")
    if workload_name == "ingest_batches":
        reads, compacts = rec.samples["read"], rec.samples["compact"]
        out["read_p50_s"] = (statistics.median(reads) if reads else None, "s")
        out["compact_s"] = (statistics.median(compacts) if compacts else None, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def per_layer(workload, rec, tracer, counters: dict, overhead_s: float) -> dict:
    n = max(1, rec.attempted)
    roots = [s for s in tracer.spans if s.parent is None and s.name.startswith("op.")]
    vals = layer_metrics(tracer.spans, n)
    vals["session.jobs_per_op"] = sum(s.end_job - s.first_job for s in roots) / n
    vals["session.driver_only_s"] = sum(driver_only_s(s) for s in roots) / n
    vals["session.jvm_cpu_s"] = counters["jvm_cpu_s"] / n
    vals["session.pyworker_cpu_s"] = counters["pyworker_cpu_s"] / n
    vals["session.peak_rss_mb"] = counters["peak_rss_mb"]
    vals["session.trace_overhead_s"] = overhead_s
    state = getattr(workload, "pipeline_metrics", None)
    vals.update(state(rec) if state else {})
    return {k: {"value": vals.get(k, 0.0), "unit": u} for k, u in UNITS.items()}


def bench(args, run_dir: str) -> tuple[dict, dict]:
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    workload = WORKLOADS[args.workload]()
    spark = None
    try:
        t0, steal0 = process_start(), cpu_ticks()
        spark = start_session(run_dir, cores)
        t1 = time.time()
        workload.generate(args.seed, os.path.join(run_dir, "inputs"))
        t2 = time.time()
        workload.prepare(spark, NullTracer(), os.path.join(run_dir, "work"))
        t3 = time.time()
        setup = t3 - t0
        steal1 = cpu_ticks()
        phases = {"session_s": t1 - t0, "generate_s": t2 - t1, "prepare_s": t3 - t2,
                  "steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])}

        report = {"workload": args.workload, "seed": args.seed, "cores": cores,
                  "setup_phases": phases}
        if not args.trace:
            rec = Recorder(NullTracer())
            measure(workload, rec, args.seconds, 0)
            metrics = e2e(args.workload, rec, setup)
            recs = [rec]
        else:
            plain = Recorder(NullTracer())
            unit = measure(workload, plain, args.seconds / 2, 0)
            tracer = Tracer(spark)
            procs = ProcessCounters(spark.sparkContext._gateway.proc.pid)
            before = procs.sample()
            rec = Recorder(tracer)
            measure(workload, rec, args.seconds / 2, unit)
            after = procs.sample()
            counters = {k: after[k] - before[k] for k in ("jvm_cpu_s", "pyworker_cpu_s")}
            counters["peak_rss_mb"] = after["peak_rss_mb"]
            untraced, traced = e2e(args.workload, plain, setup), e2e(args.workload, rec, setup)
            overhead = (traced["op_p50_s"]["value"] or 0.0) - (untraced["op_p50_s"]["value"] or 0.0)
            metrics = per_layer(workload, rec, tracer, counters, overhead)
            report["untraced"], report["traced"] = untraced, traced
            recs = [plain, rec]
            tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                     f"{args.workload}-seed{args.seed}-spans.json"))
        report["metrics"] = metrics
        report["ops"] = {k: sum(len(r.samples[k]) for r in recs) for k in recs[0].samples}
        report["failures"] = [f for r in recs for f in r.failures]
        report["latency_by_kind_s"] = [r.by_kind for r in recs]
        notes: dict[str, list[float]] = {}
        for r in recs:
            for k, v in r.notes.items():
                notes.setdefault(k, []).extend(v)
        report["notes"] = {k: statistics.fmean(v) for k, v in notes.items()}
        result = {
            "correct": not report["failures"],
            "attempted": sum(r.attempted for r in recs),
            "failed": len(report["failures"]),
            "metrics": {
                k: metrics[k]
                for k in (metrics if args.trace else GATED)
            },
        }
        return report, result
    finally:
        shutdown(spark)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "data__converter_spark")):
        print("perfbench: engine package data__converter_spark not found "
              f"under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    try:
        report, result = bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"report": report, "result": result}, f, indent=1)
    for fail in report["failures"]:
        print(f"perfbench: op {fail['op']} ({fail['kind']}) failed: {fail['cause']}", file=sys.stderr)
    print(json.dumps(report), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
