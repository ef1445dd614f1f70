"""sparkbit benchmark: one workload, one seed, one measured window.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload parse_route --seed 1 --seconds 6 --trace 0

Workloads: parse_route, query_mix (see workloads.py and BENCHMARK.json for
why each exists).

A run generates its inputs from the seed (cached under perfbench/.work,
not counted in set-up), sets up a Spark session three times (start plus
warm-up; the first also launches the JVM) and reports the median as
``setup_s``, runs untimed settling passes so the JVM has compiled the hot
paths, runs passes of the workload until ``--seconds`` have elapsed and at
least the workload's minimum, checks every output, and prints one JSON
line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, measured with tracing off.
``--trace 1`` alternates untraced and traced passes (at least three),
reports the per-layer metrics over the traced ones
(``tracing.overhead_pct`` is traced vs untraced median operation latency,
leaving out the first pass)
and writes the spans and every layer number to
perfbench/.work/trace-<workload>-<seed>.json.

The exit code is 0 when every operation and output check passed, 1 when
one failed, 2 when the engine cannot be found or the arguments are wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUPS = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment() -> None:
    """Keep every file the run writes inside the checkout."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM the launcher starts: no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)  # local[nproc]
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)  # the package default
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _session(app: str):
    from fluent_bit_spark import get_spark

    return get_spark(app, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    })


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait until every child has exited."""
    from pyspark import SparkContext

    from probe import descendants

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its parent's pipe closes
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    me = os.getpid()
    deadline = time.time() + 15
    while descendants(me) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(me):
        try:
            os.kill(pid, 9)
        except OSError:
            pass  # already gone
    while descendants(me) and time.time() < deadline + 5:
        time.sleep(0.1)


def _host_ms() -> float:
    """Median time of a fixed single-threaded Python loop: a control for
    the host's speed, taken while no engine work runs. It is printed, not
    a metric, so that a run on a slow host can be told from a slow run."""
    times = []
    for _ in range(9):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3


def _quantile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method); the max of fewer than two."""
    if len(values) < 2:
        return max(values) if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _loop(w, spark, rng, tracer, seconds: float, alternate: bool = False) -> list:
    """Run whole passes until ``seconds`` have elapsed and at least the
    workload's ``MIN_PASSES``. With ``alternate``, odd passes are traced and
    even ones not, and at least three passes run: the first pass is still
    the slowest, so the tracing overhead compares the later ones only."""
    least = max(w.MIN_PASSES, 3 if alternate else 1)
    passes = []
    t_end = time.perf_counter() + seconds
    while True:
        tracer.enabled = alternate and len(passes) % 2 == 1
        t0 = time.perf_counter()
        ops = w.run_pass(spark, rng, tracer)
        passes.append((time.perf_counter() - t0, ops, tracer.enabled))
        if time.perf_counter() >= t_end and len(passes) >= least:
            tracer.enabled = alternate
            return passes


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "fluent_bit_spark")) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        _fail(f"the engine (fluent_bit_spark/, __spark_entry__.py) is not under {ROOT}")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as exc:
        _fail(f"cannot read the metric list: {exc}")
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    sys.path[:0] = [ROOT, HERE]
    _environment()

    from probe import RssSampler, StatusCollector, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    import duckdb
    import pyarrow
    import pyspark

    settings = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__, "python": sys.version.split()[0],
    }
    w = WORKLOADS[args.workload](WORK, args.seed)
    rng = random.Random(args.seed)
    spark = None
    host_ms = [_host_ms()]
    try:
        t0 = time.perf_counter()
        w.prepare()
        gen_s = time.perf_counter() - t0

        # the program's memory, from the first set-up to the last pass; input
        # generation and the output checks are the harness's own
        with RssSampler() as rss:
            setups, starts = [], []
            for i in range(SETUPS):
                t0 = time.perf_counter()
                if spark is not None:
                    spark.stop()
                spark = _session(f"perfbench-{args.workload}")
                starts.append(time.perf_counter() - t0)
                settings["spark.driver.memory"] = spark.conf.get("spark.driver.memory", None)
                w.warm(spark)
                setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            w.settle(spark)
            settle_s = time.perf_counter() - t0

            tracer = Tracer(False)
            if args.trace:
                w.instrument(tracer)
            passes = _loop(w, spark, rng, tracer, args.seconds, alternate=bool(args.trace))
        ops = [op for _, pass_ops, _ in passes for op in pass_ops]
        failures = [op.failed for op in ops if op.failed]
        failures += w.check(spark)

        layers = {}
        if args.trace:
            traced = [op for _, p, on in passes if on for op in p if not op.failed]
            plain = [op for _, p, on in passes[1:] if not on for op in p if not op.failed]
            coll = StatusCollector(spark)
            # the micro-batches of one drain share its interval and span:
            # its engine figures are collected once; every total is then
            # shared out over the operations
            windows = {(op.start, op.end): (op.start, op.end, op.span) for op in traced}
            engine = coll.collect(list(windows.values()), tracer)
            n_ops = max(1, len(traced))
            layers = {k: v / n_ops for k, v in engine.items()}
            layers.update(w.layers(spark, tracer, traced))
            layers["tracing.overhead_pct"] = (
                statistics.median(op.seconds for op in traced)
                / statistics.median(op.seconds for op in plain) - 1.0
            ) * 100.0
            layers["session.start_s"] = statistics.median(starts)
    finally:
        _shutdown(spark)
    host_ms.append(_host_ms())

    wall = [secs for secs, _, _ in passes]
    rates = [sum(op.records for op in p) / secs for secs, p, _ in passes]
    lat_ms = [op.seconds * 1e3 for op in ops if not op.failed]
    attempted = len(ops)
    failed = min(attempted, len(failures))
    e2e = {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median(wall),
        "records_per_s": statistics.median(rates),
        "latency_p50_ms": statistics.median(lat_ms) if lat_ms else 0.0,
        "latency_p95_ms": _quantile(lat_ms, 95),
        "peak_rss_mb": rss.peak / 2**20,
    }

    print(f"settings {json.dumps(settings)}")
    print(f"host control loop {host_ms[0]:.2f} ms before the run, {host_ms[1]:.2f} ms after")
    print(f"inputs generated in {gen_s:.3f} s and settling took {settle_s:.3f} s "
          f"(neither part of setup_s); setups {[round(s, 3) for s in setups]} s")
    print(f"{len(passes)} passes {[round(x, 3) for x in wall]} s, {len(ops)} operations "
          f"({len(lat_ms)} latency samples), failed_ratio {failed / max(1, attempted):.4f}")
    for name, unit in e2e_units.items():
        print(f"  {name:16s} {e2e[name]:14.4f} {unit}")
    for f in failures:
        print(f"FAILED {f}")
    if args.trace:
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"settings": settings, "layers": layers, "spans": tracer.spans}, f)
        print(f"layers {json.dumps({k: round(v, 6) for k, v in sorted(layers.items())})}")
        print(f"trace written to {os.path.relpath(path, ROOT)} ({len(tracer.spans)} spans)")
        # a layer the workload does not run reports 0 (no bound applies)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in e2e_units.items()}
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
