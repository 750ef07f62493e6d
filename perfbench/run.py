"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 \\
        --seconds 10 --trace 0

Runs one workload in a fresh JVM against a fresh scratch root under
the checkout, prints one human-readable line per metric and, as the
last line of standard output, the JSON result.  See README.md."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import procstat
import spans
from workloads import MIX, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "data_ingestion_challenge_spark"
SETUP_REPS = 3
SPARK_CPUS = "2"
MAX_OVERRUN = 4
TAIL_LADDER = (99.9, 99.0, 90.0, 50.0)

# name: (unit, analytics meaning, doc_admission meaning)
END_TO_END = {
    "setup_s": ("s", "setup_s", "setup_s"),
    "cpu_ms_per_unit": ("ms", "cpu_ms_per_query", "cpu_ms_per_doc"),
}
# Wall-clock figures, printed with every run but kept out of the
# result: on the shared 4-vCPU box they follow host steal, which moved
# between 0.2% and 20% from one run to the next, and their quartile
# spread over ten seeds reached 0.40, beyond the largest bound a gate
# may use (README.md, "Noise").
WALL_CLOCK = {
    "work_per_s": ("1/s", "queries_per_s", "docs_per_s"),
    "op_p50_ms": ("ms", "query_p50_ms", "admit_p50_ms"),
    "read_p50_ms": ("ms", "lookup_p50_ms", "corpus_read_p50_ms"),
}
# No query or drain series reaches the 100 samples a tail needs
# within one run; the lookup p90 is the one tail with enough samples.
TAILS = {"analytics": ("query_tail_ms", "lookup_tail_ms"),
         "doc_admission": ("admit_tail_ms", "corpus_read_tail_ms")}
_COLUMN = {"analytics": 1, "doc_admission": 2}


def tail(values: list[float]) -> tuple[float, str]:
    """The highest ladder percentile with at least ten samples beyond
    it; below 100 samples no percentile above the median qualifies and
    the median is reported."""
    n = len(values)
    for p in TAIL_LADDER:
        if n * (100 - p) / 100 >= 10:
            break
    else:
        p = 50.0
    return percentile(values, p), f"p{p:g} of n={n}"


def percentile(values: list[float], p: float) -> float:
    """The p-th percentile; 0.0 when every operation failed."""
    if not values:
        return 0.0
    if p == 50.0:
        return statistics.median(values)
    return statistics.quantiles(values, n=1000, method="inclusive")[
        round(p * 10) - 1]


def _env(root: str) -> None:
    """Point everything the run writes at the scratch root.  These are
    process settings, not Spark confs: the program's own session
    builder decides the configuration."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": SPARK_CPUS,
        "SPARK_LOCAL_DIRS": os.path.join(root, "local"),
        "TMPDIR": os.path.join(root, "tmp"),
        "TZ": "UTC",
        "PYTHONPATH": os.pathsep.join(
            [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={root}/tmp -XX:-UsePerfData",
    })
    time.tzset()
    tempfile.tempdir = os.path.join(root, "tmp")


def _stop(spark) -> None:
    """Stop Spark, close the JVM and wait until the JVM and every
    Python worker under this process have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(procstat.tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def measure(wl, seconds: float, trace: bool, counter) -> dict:
    """The timed closed loop over whole cycles of the workload.  In a
    traced run every odd cycle is traced, so one run yields both the
    per-layer numbers and the tracing overhead, from like operations."""
    tracer = wl.tracer
    walls: dict[bool, dict[str, list[float]]] = {False: {}, True: {}}
    counts: list[tuple[int, int, int]] = []
    progress_mark: list[tuple[int, int, int]] = []
    cpu0, steal0 = procstat.cpu(), procstat.host_ticks()
    gc0 = spans.gc_ms(wl.spark)
    t0 = time.perf_counter()
    i = 0
    # A traced run needs one untraced and one traced cycle at least.
    # The loop ends only after a whole cycle (query mix, fold cycle),
    # within MAX_OVERRUN times the measured seconds.
    fixed_ops = wl.fixed_cycles * wl.cycle
    while (time.perf_counter() - t0 < seconds or i < fixed_ops
           or (trace and i < 2 * wl.cycle) or (
            i % wl.cycle
            and time.perf_counter() - t0 < MAX_OVERRUN * seconds)):
        traced = trace and (i // wl.cycle) % 2 == 1
        if traced:
            high, p0 = counter.high(), len(wl.progress)
        tracer.enabled, tracer.op = traced, i
        s0 = time.perf_counter()
        try:
            wl.units += wl.step()
        except Exception:
            wl.attempted += 1
            wl.failed += 1
            traceback.print_exc()
        walls[traced].setdefault(wl.kind, []).append(
            time.perf_counter() - s0)
        tracer.enabled = False
        if traced:
            counts.append(counter.since(high))
            progress_mark.append((i, p0, len(wl.progress)))
        i += 1
        if i == fixed_ops:
            fixed = (procstat.cpu() - cpu0, wl.units)
    wall = time.perf_counter() - t0
    cpu = procstat.cpu() - cpu0
    return {"wall": wall, "cpu": cpu, "fixed": fixed,
            "steal": procstat.steal_share(steal0, procstat.host_ticks()),
            "gc_ms": spans.gc_ms(wl.spark) - gc0, "walls": walls,
            "counts": counts, "progress_mark": progress_mark}


def end_to_end(wl, setup_s: float, m: dict) -> dict:
    col = _COLUMN[wl.name]
    busy = wl.busy_s or m["wall"]
    fixed_cpu, fixed_units = m["fixed"]
    values = {
        "setup_s": setup_s,
        "cpu_ms_per_unit": (1000 * fixed_cpu.total / fixed_units
                            if fixed_units else 0.0),
    }
    wall = {
        "work_per_s": wl.units / busy,
        "op_p50_ms": percentile(wl.op_ms, 50.0),
        "read_p50_ms": percentile(wl.read_ms, 50.0),
    }
    notes = {"op_p50_ms": f"n={len(wl.op_ms)}",
             "read_p50_ms": f"n={len(wl.read_ms)}"}
    print(f"{wl.name} host steal share over the timed loop = "
          f"{m['steal']:.4f}; process-tree CPU = {m['cpu'].total:.2f} s")
    for table, kept in ((END_TO_END, values), (WALL_CLOCK, wall)):
        for name, v in kept.items():
            unit, named = table[name][0], table[name][col]
            where = name if table is END_TO_END else "not in the result"
            note = f"; {notes[name]}" if name in notes else ""
            print(f"{wl.name} {named} = {v:.4f} {unit}  [{where}{note}]")
    for named, series in zip(TAILS[wl.name], (wl.op_ms, wl.read_ms)):
        v, at = tail(series)
        print(f"{wl.name} {named} = {v:.4f} ms  [not in the result; {at}]")
    return {k: {"value": v, "unit": END_TO_END[k][0]}
            for k, v in values.items()}


LAYER_UNITS = {"_ms": "ms", "_s": "s", "_calls": "count",
               "_per_op": "count", "_files": "count",
               "_generations": "count", "_per_doc": "B",
               "_ratio": "ratio", "_share": "ratio", "_pct": "%"}

# Per-layer metrics that are the median duration of one span name.
SPAN_MEDIANS = {
    "serving.lookup": "serving.lookup_ms",
    "streaming.drain": "streaming.drain_ms",
    "txn.compact_runs": "txn.compact_runs_ms",
    "txn.read": "txn.read_ms",
    "txn.append_run": "txn.append_run_ms",
    "plans.plan": "plans.plan_ms",
    "plans.exec": "plans.exec_ms",
    "admission.batch": "admission.batch_ms",
    "admission.compact": "admission.compact_ms",
}

PER_LAYER = (
    "session.start_s", "serving.publish_s", "serving.lookup_ms",
    "streaming.drain_ms", "streaming.start_stop_ms",
    *(f"streaming.{v}" for v in spans.PROGRESS_KEYS.values()),
    "txn.compact_runs_ms", "txn.compact_runs_calls", "txn.read_ms",
    "txn.append_run_ms", "txn.run_generations", "txn.live_files",
    "txn.bytes_per_doc",
    "plans.plan_ms", "plans.exec_ms", *(f"plans.{q}_ms" for q in MIX),
    "admission.batch_ms", "admission.compact_ms",
    "admission.posting_files", "admission.kept_ratio",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "jvm.gc_ms", "proc.driver_cpu_s", "proc.jvm_cpu_s",
    "proc.worker_cpu_s", "host.steal_share", "trace.overhead_pct")


def per_layer(wl, m: dict, session_s: float) -> dict:
    """Every PER_LAYER metric; a layer absent from the workload is 0."""
    tr = wl.tracer
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = session_s
    for span, name in SPAN_MEDIANS.items():
        if tr.durations_ms(span):
            out[name] = statistics.median(tr.durations_ms(span))
    out["txn.compact_runs_calls"] = len(tr.durations_ms("txn.compact_runs"))
    # Per-trigger durations of the traced drains, and the drain time no
    # trigger accounts for (query start, stop, and source set-up).
    batches: dict[str, list[float]] = {
        v: [] for v in spans.PROGRESS_KEYS.values()}
    start_stop = []
    for op, p0, p1 in m["progress_mark"]:
        events = wl.progress[p0:p1]
        for dur, rows in events:
            if rows > 0:
                for k, name in spans.PROGRESS_KEYS.items():
                    batches[name].append(float(dur.get(k, 0)))
        drain = sum(1000 * (s.end - s.start) for s in tr.spans
                    if s.op == op and s.name == "streaming.drain")
        if drain:
            start_stop.append(drain - sum(d.get("triggerExecution", 0)
                                          for d, _ in events))
    for name, vals in batches.items():
        if vals:
            out[f"streaming.{name}"] = statistics.median(vals)
    if start_stop:
        out["streaming.start_stop_ms"] = statistics.median(start_stop)
    out.update(wl.layer_metrics())
    # Scheduler counts over the first traced cycle: the same operations
    # in every run of a seed.
    counts = m["counts"][:wl.cycle]
    if counts:
        for j, name in enumerate(("jobs", "stages", "tasks")):
            out[f"spark.{name}_per_op"] = sum(c[j] for c in counts) / len(
                counts)
    out["jvm.gc_ms"] = m["gc_ms"]
    out["proc.driver_cpu_s"] = m["cpu"].driver
    out["proc.jvm_cpu_s"] = m["cpu"].jvm
    out["proc.worker_cpu_s"] = m["cpu"].workers
    out["host.steal_share"] = m["steal"]
    plain, traced = m["walls"][False], m["walls"][True]
    out["trace.overhead_pct"] = 100 * (statistics.median(
        statistics.median(traced[k]) / statistics.median(plain[k])
        for k in traced if k in plain) - 1)
    if len(out) != len(PER_LAYER):
        raise KeyError(f"unknown per-layer metrics: "
                       f"{set(out) - set(PER_LAYER)}")
    for name, ms in sorted(tr.self_ms().items()):
        print(f"{wl.name} self time {name} = {ms:.1f} ms")
    for name, v in out.items():
        print(f"{wl.name} {name} = {v:.4f} {_layer_unit(name)}")
    return {k: {"value": v, "unit": _layer_unit(k)} for k, v in out.items()}


def _layer_unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


def install_tracing(tracer, spark, progress: list) -> None:
    from data_ingestion_challenge_spark import api, serving
    from data_ingestion_challenge_spark.streaming import admission
    from data_ingestion_challenge_spark.txn import TxnTable

    tracer.wrap(api.Engine, "ingest_documents", "streaming.drain")
    tracer.wrap(TxnTable, "compact_runs", "txn.compact_runs")
    tracer.wrap(TxnTable, "read", "txn.read")
    tracer.wrap(TxnTable, "append_run", "txn.append_run")
    tracer.wrap(admission, "compact_store_in_place", "admission.compact")
    tracer.wrap(serving, "point_lookup_fast", "serving.lookup")

    def wrap_admit(built):
        admit, table = built
        return tracer.traced(admit, "admission.batch"), table

    tracer.wrap(admission, "document_admission_sink", "admission.sink",
                on_result=wrap_admit)
    spark.streams.addListener(spans.progress_listener(progress))


class _Phases:
    """Prints the wall time of each phase of a run to standard error."""

    def __init__(self) -> None:
        self.t = time.perf_counter()

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        print(f"perfbench phase {name}: {now - self.t:.2f} s",
              file=sys.stderr, flush=True)
        self.t = now


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}: run it from a "
              f"checkout of the repository", file=sys.stderr)
        return 2
    runs = os.path.join(REPO, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    _env(root)
    sys.path.insert(0, REPO)
    os.chdir(root)
    try:
        result = run(args, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, root: str) -> dict:
    tracer = spans.Tracer()
    wl = WORKLOADS[args.workload](None, root, args.seed, tracer)
    phase = _Phases()
    wl.generate()
    phase("generate")
    t0 = time.perf_counter()
    from data_ingestion_challenge_spark.session import get_spark
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    phase("session")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl.spark = spark
        if args.trace:
            install_tracing(tracer, spark, wl.progress)
        reps = []
        for k in range(SETUP_REPS):
            s0 = time.perf_counter()
            wl.setup(k)
            reps.append(time.perf_counter() - s0)
        phase("setup x%d" % SETUP_REPS)
        w0 = time.perf_counter()
        wl.warm()
        phase("warm")
        setup_s = session_s + statistics.median(reps) + (
            time.perf_counter() - w0)
        wl.reset_samples()
        m = measure(wl, args.seconds, bool(args.trace),
                    spans.SchedulerCounts(spark) if args.trace else None)
        phase("measure")
        wl.verify()
        phase("verify")
        if args.trace:
            metrics = per_layer(wl, m, session_s)
            out = os.path.join(REPO, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(
                out, f"spans-{wl.name}-seed{args.seed}.jsonl"))
        else:
            metrics = end_to_end(wl, setup_s, m)
        phase("report")
    finally:
        tracer.uninstall()
        _stop(spark)
        phase("stop")
    return {"correct": wl.failed == 0, "attempted": wl.attempted,
            "failed": wl.failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
