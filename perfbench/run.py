"""The repo's benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload sample_interactive --seed 1 --seconds 10 --trace 0

Workloads are described in ``workloads.py``, their choice in
``BENCHMARK.json``. A run:

1. sets up once, cold, and reports it as ``setup_s``: from process start
   through the package import, ``get_session`` (which launches the JVM)
   and a ``load_table`` of every table, so parquet footer reads land
   here too;
2. warms up with untimed ops, so each plan's first-run costs and the
   first part of JIT warming land there rather than in a timed op (the
   warm-up is reported on the detail line);
3. runs whole rounds of ops for about ``--seconds``: at least one round,
   and another only while it is expected to end in time;
4. reads the driver's peak RSS, then checks every op's output (oracles
   stay outside every timed interval) and prints a detail line, then the
   result line.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs every
timed op twice, untraced and traced, back to back in alternating order,
and prints the per-layer metrics of the traced ops: time metrics are
self times per op (the span's duration minus its children's), Spark
counters are those of the jobs started inside each op's spans, and the
overhead of tracing is the traced round time minus the untraced one.
The spans are written to ``perfbench/.work/traces``.

Everything the run writes stays under ``perfbench/.work``.
"""

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import layout  # noqa: E402
from quantiles import percentile, summarize  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: span name -> per-layer self-time metric
LAYER_TIMES = {
    "io.load_table": "io.load_table_s",
    "operators.sample": "operators.sample_s",
    "queries.build": "queries.build_s",
    "client.plan": "client.plan_s",
    "spark.action": "spark.action_s",
    "op": "self.op_s",
}
#: Spark counter -> (per-layer metric, scale, unit)
LAYER_COUNTERS = {
    "input_bytes": ("io.input_bytes", 1, "B"),
    "input_rows": ("io.input_rows", 1, "rows"),
    "executor_run_ms": ("spark.executor_run_s", 1e-3, "s"),
    "executor_cpu_ns": ("spark.executor_cpu_s", 1e-9, "s"),
    "gc_ms": ("spark.gc_s", 1e-3, "s"),
    "jobs": ("spark.jobs", 1, "count"),
    "stages": ("spark.stages", 1, "count"),
    "tasks": ("spark.tasks", 1, "count"),
    "shuffle_read_bytes": ("spark.shuffle_read_bytes", 1, "B"),
    "shuffle_write_bytes": ("spark.shuffle_write_bytes", 1, "B"),
    "spill_bytes": ("spark.spill_bytes", 1, "B"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def fill_oracle_cache() -> bool:
    """Compute any oracle answer the cache lacks, once per checkout, in a
    child process so none of it lands in this run's measurements.
    Returns whether it ran."""
    marker = os.path.join(layout.WORK, "oracles.ok")
    if os.path.exists(marker):
        return False
    subprocess.run(
        [sys.executable, os.path.join(layout.HERE, "oracle.py")],
        check=True,
        timeout=800,
        stdout=sys.stderr,
    )
    with open(marker, "w"):
        pass
    return True


def setup(tracer):
    """``get_session`` plus a ``load_table`` of every table."""
    from ballista_extensions_spark.io import TABLES, load_table
    from ballista_extensions_spark.session import get_session

    with tracer.span("setup"):
        with tracer.span("session.get_session"):
            spark = get_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        tracer.rebind(spark)
        for t in TABLES:
            with tracer.span("io.load_table"):
                load_table(spark, layout.SMALL_DATA, t)
    return spark


def peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    started) to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def steal_s() -> float:
    """CPU time the hypervisor took from this machine's vCPUs since boot,
    summed over them. On a shared host it is the usual cause of a run
    that is slow throughout."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(setup_s, ops, counters) -> dict:
    lat = ops.latencies
    written = counters.get("output_bytes", 0) + counters.get("shuffle_write_bytes", 0)
    return {
        "setup_s": metric(setup_s, "s"),
        "wall_s": metric(statistics.median(ops.round_walls), "s"),
        "latency_p50_s": metric(percentile(lat, 50).value, "s"),
        "latency_p90_s": metric(percentile(lat, 90).value, "s"),
        "written_bytes_per_input_byte": metric(written / counters["input_bytes"], "B/B"),
    }


def per_layer(tracer, untraced, traced, per_span, cores, rss_mb) -> dict:
    from tracer import per_op

    ops = traced.ids
    out = {
        "session.get_session_s": metric(
            statistics.median(s.dur for s in tracer.spans if s.name == "session.get_session"), "s"
        ),
    }
    for span_name, m in LAYER_TIMES.items():
        out[m] = metric(
            per_op(tracer, ops, lambda ss: sum(tracer.self_time(s) for s in ss if s.name == span_name)),
            "s",
        )
    for field, (m, scale, unit) in LAYER_COUNTERS.items():
        out[m] = metric(
            per_op(tracer, ops, lambda ss: sum(per_span.get(s.sid, {}).get(field, 0) for s in ss)) * scale,
            unit,
        )
    out["queries.build_jobs"] = metric(
        per_op(tracer, ops, lambda ss: sum(per_span.get(s.sid, {}).get("jobs", 0) for s in ss if s.name == "queries.build")),
        "count",
    )
    timed = set(ops)
    run_ms = sum(c.get("executor_run_ms", 0) for sid, c in per_span.items() if tracer.spans[sid].op in timed)
    out["spark.busy_frac"] = metric(run_ms / 1e3 / (sum(traced.round_walls) * cores), "ratio")
    u, t = statistics.median(untraced.round_walls), statistics.median(traced.round_walls)
    out["driver.peak_rss_mb"] = metric(rss_mb, "MB")
    out["trace.untraced_wall_s"] = metric(u, "s")
    out["trace.traced_wall_s"] = metric(t, "s")
    out["trace.overhead_s"] = metric(t - u, "s")
    return out


def run(args) -> int:
    if not os.path.isdir(layout.PACKAGE):
        print(f"no package at {layout.PACKAGE}: run from the root of a checkout", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(layout.TRACES, exist_ok=True)
    setup_start = time.perf_counter() if fill_oracle_cache() else PROCESS_START
    run_dir = os.path.join(layout.WORK, f"run-{os.getpid()}")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update(layout.fit_environment(run_dir))
    sys.path.insert(0, layout.REPO)

    from tracer import NullTracer, Tracer, attribute, group_counters

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tracer = Tracer(None) if args.trace else NullTracer()
    spark = None
    try:
        spark = setup(tracer)
        setup_s = time.perf_counter() - setup_start

        wl = WORKLOADS[args.workload](spark, args.seed, run_dir)
        t0 = time.perf_counter()
        warm = wl.warm_up()
        warm["s"] = time.perf_counter() - t0

        sc = spark.sparkContext
        steal0, t0 = steal_s(), time.perf_counter()
        if args.trace:
            passes = list(wl.paired_passes(args.seconds, tracer))
        else:
            sc.setJobGroup("timed", "timed rounds")
            passes = [wl.timed_pass(args.seconds)]
            sc.setLocalProperty("spark.jobGroup.id", None)
        steal_frac = (steal_s() - steal0) / ((time.perf_counter() - t0) * cores)
        counters = group_counters(spark)
        rss_mb = peak_rss_mb(spark)

        reasons = [r for p in passes for r in wl.check(p)]
        attempted = sum(len(p.ids) for p in passes)
        failed = sum(len(p.failed) for p in passes)
        if args.trace:
            metrics = per_layer(tracer, *passes, attribute(tracer, counters), cores, rss_mb)
            tracer.dump(os.path.join(layout.TRACES, f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(setup_s, passes[0], counters.get("timed", {}))
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores,
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "setup_s": setup_s,
            "warmup": warm,
            "rounds": [p.round_walls for p in passes],
            "steal_frac": steal_frac,
            "latency": summarize(passes[0].latencies),
            "peak_rss_mb": rss_mb,
            "check_failures": reasons[:20],
            "run_s": time.perf_counter() - PROCESS_START,
        }
    except Exception:  # noqa: BLE001 — a broken program gets no result line
        traceback.print_exc()
        return 1
    finally:
        shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    for r in reasons:
        print(f"check failed: {r}", file=sys.stderr)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": not reasons, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(run(parse_args(sys.argv[1:])))
