#!/usr/bin/env python3
"""Benchmark of the Iceberg engine: one closed-loop client, one process.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload commit_mix --seed 1 --seconds 10 --trace 0

The workloads are defined in ``workloads.py`` and described in
``BENCHMARK.json``. A run starts a local Spark session sized to the
host, sets up the workload's tables several times (``setup_s`` is the
median), runs one untimed warm-up unit, then runs whole units (an
episode of commits or a round of queries) until ``--seconds`` have
passed, at least two. Every op's result is checked. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics from the span recorder in ``spans.py`` with
``--trace 1``). A run record
(code revision, core count, load average at start and end) goes to
standard error and to ``.bench_work/runs.jsonl``.

Exit codes: 0 when every op was correct, 1 when one was not, 2 when the
checkout or the arguments are unusable (no result is printed then).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# one unit runs untimed; the JVM keeps getting faster over the next one
# too (JIT, codegen cache), so at least two are measured and the best
# one counts
WARMUP_UNITS = 1
MIN_UNITS = 2
END_TO_END = {
    "setup_s": "s",
    "read_p50_ms": "ms",
    "ops_per_s": "1/s",
    "stored_bytes_per_input_byte": "B/B",
}


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    return "count"


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def code_rev(root: str) -> str:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha1()
    pkg = os.path.join(root, "duckdb_iceberg_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return "tree-" + h.hexdigest()[:12]


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """Aggregate CPU time counters of /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def rss_peak_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Context:
    """What a workload needs from the run: paths, seed, Spark, tracer."""

    def __init__(self, args, root, work, spark, tracer):
        self.root, self.work, self.seed = root, work, args.seed
        self.smoke = args.smoke
        self.spark, self.tracer = spark, tracer

    def collect(self, df):
        self.tracer.note_action(df)
        with self.tracer.span("driver.action"):
            return df.collect()


def start_spark(root: str, work: str):
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    sys.path.insert(0, root)
    from duckdb_iceberg_spark import get_spark

    spark = get_spark(
        "perfbench",
        **{
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed heap: otherwise G1 grows it in some runs and not in
            # others, and GC cost (and RSS) differ between runs of the
            # same code
            "spark.driver.extraJavaOptions":
                f"-Xms{mem} -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_unit(ops, tracer, traced: bool, lat: dict, stats: dict, log) -> float:
    """Run one unit's ops, with spans if ``traced``; append each op's
    latency to ``lat[kind]`` and return the unit's ops per second. An op
    that raises ends the unit, since later ops depend on its commit."""
    t_unit = time.perf_counter()
    done = 0
    for op in ops:
        if traced:
            tracer.begin_op(stats["attempted"])
        stats["attempted"] += 1
        t0 = time.perf_counter()
        try:
            got = op.run()
        except Exception as e:  # noqa: BLE001  (benchmark boundary: count and report)
            if traced:
                tracer.end_op()
            stats["failed"] += 1
            log(f"op {op.kind} raised {type(e).__name__}: {e}")
            break
        dt = (time.perf_counter() - t0) * 1000.0
        if traced:
            tracer.end_op()
        if not op.check(got):
            stats["failed"] += 1
            log(f"op {op.kind} returned a wrong result: {got!r:.200}")
        lat.setdefault(("traced " if traced else "") + op.kind, []).append(dt)
        done += 1
    return done / (time.perf_counter() - t_unit)


def tracing_overhead(lat: dict) -> float:
    """Geometric mean over op kinds of traced / untraced mean latency,
    minus one."""
    logs = []
    for kind, xs in lat.items():
        ys = lat.get("traced " + kind)
        if not kind.startswith("traced ") and ys:
            logs.append(math.log((sum(ys) / len(ys)) / (sum(xs) / len(xs))))
    return math.exp(sum(logs) / len(logs)) - 1.0 if logs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="self-test size: sf0.001 inputs, one set-up, two measured units")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: perturb one expected result; the run must report a failed op")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for need in ("duckdb_iceberg_spark/__init__.py", "tools/gen_sf.py"):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"run from the root of a checkout: {need} not found in {root}")
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    bench_root = os.path.join(root, ".bench_work")
    work = os.path.join(bench_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "rev": code_rev(root), "nproc": len(os.sched_getaffinity(0)),
              "loadavg_start": loadavg()}
    ticks = cpu_ticks()

    def log(msg):
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(root, work)
        record["session_start_s"] = time.perf_counter() - t0
        from spans import Tracer

        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Context(args, root, work, spark, tracer)
        wl = WORKLOADS[args.workload](ctx)

        setup_times = []
        reps = 1 if args.smoke else wl.SETUP_REPS
        for rep in range(reps):
            t0 = time.perf_counter()
            wl.setup(rep)
            setup_times.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(os.path.join(work, f"{wl.PREFIX}{rep - 1}"), ignore_errors=True)
        record["setup_times_s"] = setup_times
        if args.corrupt_expected:
            wl.corrupt()

        stats = {"attempted": 0, "failed": 0}
        for _ in range(WARMUP_UNITS):
            run_unit(wl.unit(), tracer, False, {}, stats, log)
        wl.reset_counters()

        if args.trace:
            tracer.install()
        lat: dict = {}
        units: list[dict] = []  # per unit: op kind -> latencies
        rates = []
        start = time.perf_counter()
        while True:
            # a traced run traces every other unit: the untraced units
            # run the same ops and give the tracing overhead
            traced = bool(args.trace) and len(rates) % 2 == 0
            units.append({})
            rates.append(run_unit(wl.unit(), tracer, traced, units[-1], stats, log))
            for k, v in units[-1].items():
                lat.setdefault(k, []).extend(v)
            if len(rates) >= MIN_UNITS and (args.smoke or time.perf_counter() - start >= args.seconds):
                break

        # best unit, as min-of-N: a unit slowed by the hypervisor lending
        # the CPU to another guest does not move the figures
        read_p50 = {k: min(statistics.median(u[k]) for u in units if k in u)
                    for k in lat if k.startswith(("read.", "query."))}
        rss = {"python": rss_peak_mb(os.getpid()), "jvm": rss_peak_mb(spark.sparkContext._gateway.proc.pid)}
        record["peak_rss_mb"] = rss
        if args.trace:
            metrics = tracer.layer_metrics()
            metrics["trace.overhead_ratio"] = tracing_overhead(lat)
            metrics["driver.session_start_ms"] = record["session_start_s"] * 1000.0
            metrics["driver.peak_rss_mb"] = rss["python"] + rss["jvm"]
            tracer.dump(os.path.join(bench_root, f"trace-{args.workload}-{args.seed}.jsonl"))
            out = {k: {"value": float(v), "unit": layer_unit(k)} for k, v in sorted(metrics.items())}
        else:
            values = {
                "setup_s": statistics.median(setup_times),
                "read_p50_ms": math.exp(sum(math.log(v) for v in read_p50.values()) / len(read_p50)),
                "ops_per_s": max(rates),
                "stored_bytes_per_input_byte": wl.stored_per_input(),
            }
            out = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in values.items()}
        record.update({
            "units": len(rates), "unit_ops_per_s": rates, "measured_s": time.perf_counter() - start,
            "latency_ms": {k: {"n": len(v), "p50": statistics.median(v)} for k, v in sorted(lat.items())},
        })
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    record["loadavg_end"] = loadavg()
    # share of CPU time the hypervisor gave to others: high values mark
    # runs slowed by neighbours
    delta = [b - a for a, b in zip(ticks, cpu_ticks())]
    record["steal_pct"] = 100.0 * delta[7] / max(sum(delta), 1)
    rec = json.dumps(record)
    print(rec, file=sys.stderr)
    with open(os.path.join(bench_root, "runs.jsonl"), "a") as f:
        f.write(rec + "\n")
    result = {"correct": stats["failed"] == 0, "attempted": stats["attempted"],
              "failed": stats["failed"], "metrics": out}
    print(json.dumps(result), flush=True)
    return 0 if stats["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
