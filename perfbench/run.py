#!/usr/bin/env python3
"""Benchmark harness for gordo_spark: model serving (with the fleet build
that produces the served models) and the operator library, end to end and
per layer.

Usage (from the repository root)::

    python3 perfbench/run.py --workload serve_mixed --seed 0 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 0          # every workload, one process

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` turns on the Spark event log and the harness's spans and
prints the per-layer metrics. Human-readable lines come first; the last
line of standard output is one JSON object. The exit code is 1 when an
output check fails and 2 when the program under test cannot be imported.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("serve_mixed", "ops_iterative")
# set-ups per run; the median is reported (serve_mixed's set-up builds
# the served fleet, so it runs once)
SETUP_REPEATS = {"serve_mixed": 1, "ops_iterative": 3}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="smallest inputs and one set-up, for the smoke test")
    return p.parse_args(argv)


def declared_metrics() -> tuple[dict, dict]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def make_workload(name: str, work: str, seed: int, smoke: bool):
    from workloads import OpsIterative, ServeMixed

    os.makedirs(work, exist_ok=True)
    return {"serve_mixed": ServeMixed, "ops_iterative": OpsIterative}[name](work, seed, smoke)


def start_session(work: str, trace: bool):
    from gordo_spark import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        from probes import event_log_conf

        conf.update(event_log_conf(os.path.join(work, "events")))
    spark = get_spark("perfbench", extra_conf=conf)
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(entry))
            except (OSError, IndexError, ValueError):
                pass
    return out


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = _children(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.time() + 30
    while workers and time.time() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)


def run_workload(spark, name, args, work, book, session_s, trace):
    """Set up, measure and check one workload. Returns the end-to-end
    metrics, the per-layer metrics (traced runs), attempted and failed
    operation counts, report lines, and the event-log windows of the fleet
    build and of the traced executions."""
    import numpy as np

    from probes import Tracer, calibrate, leak_counters, peak_rss_mb, tail_percentile

    calib = [calibrate(spark)] if trace else []
    setups, wl = [], None
    for k in range(1 if args.smoke else SETUP_REPEATS[name]):
        t0 = time.perf_counter()
        wl = make_workload(name, os.path.join(work, f"{name}-setup{k}"), args.seed, args.smoke)
        wl.setup(spark, book, Tracer() if trace else None)
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm_up(spark)
    warm_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(setups) + warm_s

    # a traced run runs every request or query untraced, traced, untraced
    # (see workloads._executions); the untraced ones give the plain figures
    res = wl.measure(spark, args.seconds, book, Tracer() if trace else None)
    attempted, failed = res.attempted, wl.failed + res.failed
    op_p50_ms = float(np.median(res.latencies_s)) * 1000.0
    metrics = {"setup_s": setup_s, "op_p50_ms": op_p50_ms}
    layer: dict[str, float] = {}
    if trace:
        layer.update(wl.setup_layer)
        layer.update(res.layer)
        layer.update(leak_counters(spark))
        layer["trace.ops"] = float(len(res.traced_s))
        layer["trace_overhead.op_p50_ms"] = float(np.median(res.traced_s)) * 1000.0 - op_p50_ms
    if name == "ops_iterative":
        failed += wl.check(spark, book)
    if trace:
        calib.append(calibrate(spark))
        layer["host.calib_s"] = float(np.mean(calib))
        layer["host.peak_rss_mb"] = peak_rss_mb(spark.sparkContext._gateway.proc.pid)

    q = tail_percentile(len(res.latencies_s))
    lines = [f"{name}: {len(res.latencies_s)} units in {res.wall_s:.2f} s "
             f"({len(res.latencies_s) / res.wall_s:.3f}/s); "
             f"p{q} {np.percentile(res.latencies_s, q) * 1000:.1f} ms; "
             f"setups {[round(s, 3) for s in setups]} s; warm-up {warm_s:.2f} s; "
             f"session {session_s:.2f} s",
             f"  units (s): {[round(x, 4) for x in res.latencies_s]}"]
    for query, (b, r) in res.detail.items():
        lines.append(f"  {query:24s} build {b:7.3f} s  run {r:7.3f} s")
    windows = {"build": [getattr(wl, "build_window", (0.0, 0.0))], "traced": res.windows}
    return metrics, layer, attempted, failed, lines, windows


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(REPO, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(REPO, "gordo_spark"))):
        print("perfbench: gordo_spark and __spark_entry__.py not found beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    e2e_units, layer_units = declared_metrics()

    from workloads import DigestBook

    book = DigestBook(os.path.join(
        HERE, ".digests", f"seed{args.seed}{'-smoke' if args.smoke else ''}.json"))
    try:
        return run(args, work, book, e2e_units, layer_units, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work, book, e2e_units, layer_units, cores) -> int:
    from probes import spark_counters

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    spark = start_session(work, bool(args.trace))
    session_s = start_s = time.perf_counter() - T_START
    results, attempted, failed = {}, 0, 0
    try:
        for name in names:
            m, layer, a, f, lines, windows = run_workload(
                spark, name, args, work, book, session_s, bool(args.trace))
            layer["spark.session_start_s"] = start_s
            results[name] = (m, layer, windows)
            attempted += a
            failed += f
            for line in lines:
                print(line, flush=True)
            session_s = 0.0  # later workloads in one process share the session
    finally:
        stop_session(spark)

    out: dict[str, dict] = {}
    for name, (m, layer, windows) in results.items():
        if args.trace:
            events = os.path.join(work, "events")
            counters = spark_counters(events, windows["traced"], cores)
            layer.update(counters)
            if name == "serve_mixed":
                built = spark_counters(events, windows["build"], cores)["spark.jobs"]
                layer["spark.jobs_per_machine"] = built / layer["builder.machines"]
                layer["spark.jobs_per_request"] = (
                    counters["spark.jobs"] / max(1.0, layer["trace.ops"]))
            chosen = {k: (layer.get(k, 0.0), u) for k, u in layer_units.items()}
        else:
            chosen = {k: (m[k], u) for k, u in e2e_units.items()}
        prefix = f"{name}." if args.workload == "all" else ""
        for k, (v, u) in chosen.items():
            print(f"{name:14s} {k:36s} {v:14.6f} {u}")
            out[prefix + k] = {"value": v, "unit": u}
    correct = failed == 0 and not book.mismatches
    for msg in book.mismatches:
        print(f"check failed: {msg}")
    print(f"error_share {failed}/{attempted}")
    book.save()
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
