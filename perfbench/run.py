"""Benchmark of bitfilters_spark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload prefilter_join --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run starts a Spark session with
``make_session`` defaults on ``local[<cores>]``, generates the workload's
inputs from the seed, discards the warm-up ops, then runs ops back to back
(one client, closed loop) for ``--seconds`` and checks every op's result.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, from spans the benchmark records around its calls into each layer.
The line before it holds run context that is not gated (seed, cores,
versions, host steal, ops discarded, tracing overhead). Scratch files go
under ``.perfbench_work/`` at the checkout root; a traced run leaves its
spans there.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import procstat
from spans import Tracer, layer_self_ms, subtree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# metric names and units are those of BENCHMARK.json at the checkout root
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

KINDS = ("xor8", "fuse8", "quotient", "duckdb_bloom")
LAYERS = ("plans", "functions", "core", "streaming")
# per-layer metric -> span whose per-op duration it reports
SPAN_MS = {
    "plans.prefiltered_join_ms": "plans.prefiltered_join",
    "functions.build_filter_ms": "functions.build_filter",
    "functions.probe_filter_ms": "functions.probe_filter",
    "functions.build_filters_multi_ms": "functions.build_filters_multi",
    **{f"core.build_ms.{k}": f"core.build.{k}" for k in KINDS},
    "core.bloom_merge_ms": "core.bloom_merge",
    "streaming.batch_ms": "streaming.batch",
    "streaming.state_io_read_ms": "streaming.state_io_read",
    "streaming.state_io_write_ms": "streaming.state_io_write",
    "streaming.precheck_ms": "streaming.precheck",
}
GEN_REPEATS = 3  # input generation runs this often; setup_s takes the median


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke test")
    return ap.parse_args(argv)


def start_session(work_dir: str):
    """make_session with its defaults on all cores. Only where files go is
    set: Spark's scratch and the JVM's temporary directory are under
    ``work_dir``, and ``-XX:-UsePerfData`` stops the JVM writing its
    perf-data file to the system temporary directory."""
    from bitfilters_spark.session import make_session

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = make_session(
        app="perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(procstat.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _drain_listener_bus(spark) -> None:
    """Status-tracker counts arrive through Spark's asynchronous listener
    bus; wait until it has delivered every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def run_benchmark(spark, workload: str, seed: int, seconds: float, trace: bool,
                  size: str = "full", work_dir: str | None = None,
                  session_s: float = 0.0, expect_offset: int = 0) -> tuple[dict, dict, list]:
    """One run on an existing session. Returns (result, context, spans)."""
    from workloads import WORKLOADS

    work_dir = work_dir or os.path.join(ROOT, ".perfbench_work")
    tracer = Tracer(spark.sparkContext, enabled=trace)
    if trace and session_s:
        tracer.record("session.start", session_s)
    jit = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    wl = WORKLOADS[workload](spark, seed, size, work_dir)
    wl.expect_offset = expect_offset
    steal0 = procstat.steal_s()

    gen_s = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        wl.generate()
        gen_s.append(time.perf_counter() - t0)

    ops: list[dict] = []

    def one_op(i: int, traced: bool) -> None:
        wl.prepare(i)
        pids = procstat.tree_pids()
        cpu0 = procstat.tree_cpu_s(pids)
        tracer.enabled = traced
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.op(i):
                    res = wl.run(i, tracer)
            else:
                res = wl.run(i)
            dt = time.perf_counter() - t0
            ok = wl.check(i, res)
        except Exception:  # an op that raises is a failed op; the run goes on
            dt = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
            ok = False
        pids = procstat.tree_pids()
        ops.append({"i": i, "s": dt, "cpu": procstat.tree_cpu_s(pids) - cpu0,
                    "pss": procstat.tree_pss_mb(pids), "ok": bool(ok), "traced": traced})

    try:
        t_warm = time.perf_counter()
        jit0 = jit.getTotalCompilationTime()
        for i in range(wl.warmup_ops):
            one_op(i, False)
        warmup_s = time.perf_counter() - t_warm
        jit1 = jit.getTotalCompilationTime()
        # timed phase; a traced run alternates untraced and traced ops so
        # the two can be compared for tracing overhead
        i = wl.warmup_ops
        t_end = time.perf_counter() + seconds
        with wl.tracing(tracer) if trace else contextlib.nullcontext():
            while i == wl.warmup_ops or (trace and i == wl.warmup_ops + 1) or time.perf_counter() < t_end:
                one_op(i, trace and (i - wl.warmup_ops) % 2 == 1)
                i += 1
        jit2 = jit.getTotalCompilationTime()
        wl.measure_quality()
    finally:
        wl.close()

    warm = [o for o in ops if o["i"] < wl.warmup_ops]
    timed = [o for o in ops if o["i"] >= wl.warmup_ops]
    plain = [o for o in timed if not o["traced"]]
    q = wl.quality
    failed = sum(not o["ok"] for o in ops)
    op_p50 = _median([o["s"] for o in plain])

    if not trace:
        metrics = {
            "setup_s": session_s + _median(gen_s) + warmup_s,
            "throughput_per_s": wl.work_per_op() / op_p50 if op_p50 else 0.0,
            "op_p50_ms": 1e3 * op_p50,
            "cpu_s_per_op": _median([o["cpu"] for o in plain]),
            "peak_rss_mb": max(o["pss"] for o in ops),
            "filter_fpr": q.fpr(),
            "filter_bits_per_key": q.bits_per_key(),
        }
        units = END_TO_END
    else:
        metrics = _layer_metrics(spark, tracer, wl, timed, session_s)
        units = PER_LAYER

    traced_ops = {o["i"] for o in timed if o["traced"]}
    primary = [
        sum(r["end"] - r["start"] for r in tracer.spans if r["op"] == i and r["name"] == wl.primary_span)
        for i in sorted(traced_ops)
    ]
    context = {
        "workload": workload, "seed": seed, "size": size, "trace": int(trace),
        "nproc": len(os.sched_getaffinity(0)),
        "python": sys.version.split()[0],
        "pyspark": __import__("pyspark").__version__,
        "jdk": spark._jvm.java.lang.System.getProperty("java.version"),
        "steal_s": round(procstat.steal_s() - steal0, 3),
        "warmup_ops_discarded": wl.warmup_ops,
        "timed_ops": len(plain),
        "session_s": round(session_s, 3),
        "gen_s": [round(x, 3) for x in gen_s],
        "warmup_s": round(warmup_s, 3),
        "warmup_op_ms": [round(1e3 * o["s"], 1) for o in warm],
        "pss_mb": [round(o["pss"]) for o in ops],
        "jit_ms_warmup": jit1 - jit0,
        "jit_ms_timed": jit2 - jit1,
        "trace_overhead_ms": round(1e3 * (_median(primary) - op_p50), 2) if primary else None,
    }
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return result, context, tracer.spans


def _layer_metrics(spark, tracer, wl, timed, session_s) -> dict:
    traced = [o["i"] for o in timed if o["traced"]]
    by_op: dict[int, dict[str, float]] = {i: {} for i in traced}
    for r in tracer.spans:
        if r["op"] in by_op:
            d = by_op[r["op"]]
            d[r["name"]] = d.get(r["name"], 0.0) + (r["end"] - r["start"])

    def span_median(name: str, scale: float) -> float:
        return _median([scale * d.get(name, 0.0) for d in by_op.values()])

    m = {"session.start_ms": 1e3 * session_s}
    _drain_listener_bus(spark)
    # jobs and tasks of the part of an op that an untraced op runs, on the
    # first traced op, which has the same index in every run, so the counts
    # repeat exactly for a seed
    primary = [subtree(tracer.spans, i, wl.primary_span) for i in traced]
    jobs, tasks = tracer.jobs_and_tasks(primary[0])
    m["session.jobs_per_op"] = float(jobs)
    m["session.tasks_per_op"] = float(tasks)
    counts = wl.quality.counts
    survivors = counts.get("survivors", [])
    m["plans.survivor_ratio"] = sum(survivors) / (wl.work_per_op() * len(survivors)) if survivors else 0.0
    for name, span in SPAN_MS.items():
        m[name] = span_median(span, 1e3)
    for k in KINDS:
        m[f"core.probe_ns_per_key.{k}"] = span_median(f"core.probe.{k}", 1e9 / wl.probe_keys) if wl.probe_keys else 0.0
        m[f"functions.filter_bytes.{k}"] = _median(counts.get(f"filter_bytes.{k}", []))
    m["streaming.blob_bytes"] = _median(counts.get("blob_bytes", []))
    m["streaming.fill_ratio"] = _median(counts.get("fill_ratio", []))
    selfs = [layer_self_ms(tracer.spans, ids) for ids in primary]
    for layer in LAYERS:
        m[f"{layer}.self_ms"] = _median([s.get(layer, 0.0) for s in selfs])
    return m


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[:0] = [HERE, ROOT]
    import bitfilters_spark  # noqa: F401  fails here, before any output, outside a checkout
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work_dir = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work_dir, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    # Spark's Python workers import the package from the checkout; Python's
    # own temporary files stay in the scratch directory
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    try:
        t0 = time.perf_counter()
        spark = start_session(run_dir)
        session_s = time.perf_counter() - t0
        try:
            result, context, spans = run_benchmark(
                spark, args.workload, args.seed, args.seconds, bool(args.trace),
                size=args.size, work_dir=run_dir, session_s=session_s,
            )
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        path = os.path.join(work_dir, f"spans-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(spans, f)
        context["spans_file"] = os.path.relpath(path, ROOT)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
