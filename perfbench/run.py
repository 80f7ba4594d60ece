"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog_scan --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (tracing off); with
``--trace 1`` they are the per-layer ones, from a run whose passes
alternate untraced and traced.  A full record of the run (every op, and
the spans of a traced run) is written to ``perfbench/results/``.  See
``perfbench/README.md`` for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
#: set-ups per run; ``setup_s`` is their median
N_SETUPS = 3


def tail(values: list[float]) -> float:
    """p90 of the op times, interpolated between the two order statistics
    around it (``statistics.quantiles(method="inclusive")``).  At the 24 to
    30 ops a run times it lies between the third and fourth slowest op, so
    one stalled op cannot set it alone."""
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def start_session(workdir: str):
    from lms_etl_pipeline_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    spark = get_spark(
        "perfbench",
        **{
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def environment(workdir: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the engine and the benchmark."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def run(wl, seconds: float, traced: bool) -> dict:
    """Set up, verify, then time whole passes of ops for ``seconds``."""
    from perfbench import trace
    from perfbench.layers import layer_metrics

    phases = {}
    t = time.perf_counter()
    wl.prepare()
    phases["prepare_s"] = time.perf_counter() - t
    setups = []
    spark = None
    for i in range(N_SETUPS):
        if spark is not None:
            spark.stop()
        if i == 1:
            wl.wait_prepared()
        t0 = time.perf_counter()
        spark = start_session(wl.workdir)
        t1 = time.perf_counter()
        wl.warmup(spark)
        setups.append((t1 - t0, time.perf_counter() - t1))
    t = time.perf_counter()
    wl.verify(spark)
    phases["verify_s"] = time.perf_counter() - t

    tracer = trace.Tracer() if traced else None
    stats = trace.SparkStats(spark) if traced else None
    jvm = spark.sparkContext._gateway.proc.pid
    t_start = time.perf_counter()
    with trace.RssSampler([os.getpid(), jvm]) as rss:
        loop = timed_passes(wl, spark, seconds, tracer, stats)
    ops, passes = loop["ops"], loop["passes"]
    phases["timed_s"] = time.perf_counter() - t_start
    heap = live_heap_mb(spark)
    t = time.perf_counter()
    final_error = wl.final_check()
    phases["final_check_s"] = time.perf_counter() - t

    attempted, failed = count_failures(ops, final_error)
    record = {
        "workload": wl.name, "seed": wl.seed, "seconds": seconds, "traced": traced,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]), "scale": wl.scale,
        "setups": [{"start_s": a, "warmup_s": b} for a, b in setups],
        "phases": phases, "passes": passes, "ops": ops, "final_error": final_error,
        "attempted": attempted, "failed": failed,
        "failed_ops_frac": failed / attempted,
        "wrong_queries": getattr(wl, "wrong", {}),
        "peak_rss_by_process_mb": {"driver": rss.peaks[os.getpid()], "jvm": rss.peaks[jvm]},
        "live_heap_mb": heap,
    }
    plain = [o for o in ops if not o["traced"]]
    e2e = end_to_end(plain, [p for p in passes if not p["traced"]], setups, rss.peak)
    record["end_to_end"] = e2e
    if traced:
        record["per_layer"] = layer_metrics(
            loop["traced_ops"], loop["load_table_calls"], setups, tracer, passes,
            record["cores"],
        )
        record["per_layer"].update({"session.peak_rss_mb": rss.peak, "session.live_heap_mb": heap})
        record["spans"] = [vars(s) for s in tracer.spans]
    return record


def live_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the run keeps
    live (caches, state), apart from the garbage the heap may hold."""
    gc.collect()  # release the JVM objects that dead Python handles still pin
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def timed_passes(wl, spark, seconds: float, tracer=None, stats=None) -> dict:
    """Run whole passes until ``seconds`` have passed, and at least the
    workload's ``min_passes`` untraced ones.  With a tracer, passes
    alternate untraced and traced, at least one of them traced."""
    from perfbench.layers import OpTrace

    epoch = time.time() - time.perf_counter()
    out = {"ops": [], "passes": [], "traced_ops": [], "load_table_calls": []}
    t_start = time.perf_counter()
    n = 0
    while True:
        on = tracer is not None and n % 2 == 1
        pass_ops = wl.next_pass(n)
        if on and hasattr(wl, "load_tables"):
            wl.tr = tracer
            tracer.op = f"p{n}.load_tables"
            groups = wl.load_tables(spark, n)
            wl.tr = None
            stats.drain()
            out["load_table_calls"].append(
                (tracer.op_spans(tracer.op), [stats.jobs(stats.job_ids(g)) for g in groups])
            )
        pass_s = 0.0
        for op in pass_ops:
            wl.before_op(op)
            op_id = len(out["ops"])
            if on:
                tracer.op = op.info["op"] = op_id
                sql_before = stats.sql_count()
            wall, err = timed_op(wl, spark, op, tracer if on else None)
            out["ops"].append({"op": op_id, "pass": n, "name": op.name, "wall_s": wall,
                               "rows": op.rows, "traced": on, "error": err})
            pass_s += wall
            if on:
                stats.drain()
                out["traced_ops"].append(OpTrace.collect(
                    wl, op, wall, tracer.op_spans(op_id), stats, sql_before, epoch,
                ))
        out["passes"].append({"pass": n, "wall_s": pass_s, "traced": on})
        n += 1
        plain = sum(not p["traced"] for p in out["passes"])
        done = time.perf_counter() - t_start >= seconds and plain >= wl.min_passes
        if done and (tracer is None or n > plain):
            return out


def timed_op(wl, spark, op, tracer=None) -> tuple[float, str | None]:
    """Time one op; check its output after the clock stops.  Returns the
    wall time and the failure (``None`` when the op is correct)."""
    from perfbench.workloads import patched

    wl.tr = tracer
    err = None
    t0 = time.perf_counter()
    try:
        if tracer is None:
            result = wl.run_op(spark, op)
        else:
            with patched(tracer, wl.trace_patches()), tracer.span("bench.op"):
                result = wl.run_op(spark, op)
    except Exception as exc:  # noqa: BLE001 - a raising op is a failed op
        result, err = None, f"raised {type(exc).__name__}: {exc}"[:500]
    wall = time.perf_counter() - t0
    wl.tr = None
    if err is None:
        try:
            err = wl.check_op(op, result)
        except Exception as exc:  # noqa: BLE001 - a check that cannot run fails the op
            err = f"check raised {type(exc).__name__}: {exc}"[:500]
    return wall, err


def count_failures(ops: list[dict], final_error: str | None) -> tuple[int, int]:
    """``(attempted, failed)``: an op fails when it raised or its output
    was wrong; a wrong final table fails at least one op."""
    failed = sum(1 for o in ops if o["error"])
    if final_error and failed == 0:
        failed = 1
    return len(ops), failed


def end_to_end(ops: list[dict], passes: list[dict], setups, peak_rss: float) -> dict:
    walls = [o["wall_s"] for o in ops]
    return {
        "setup_s": statistics.median(a + b for a, b in setups),
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "op_p50_s": statistics.median(walls),
        "op_tail_s": tail(walls),
        "op_samples": len(walls),
        "rows_per_s": sum(o["rows"] for o in ops) / sum(walls),
        "peak_rss_mb": peak_rss,
    }


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import lms_etl_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    contract = load_contract()
    workdir = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    environment(workdir)
    wl = WORKLOADS[args.workload](args.seed, workdir)
    try:
        record = run(wl, args.seconds, bool(args.trace))
    finally:
        with contextlib.suppress(Exception):
            wl.close()
        stop_spark()
        shutil.rmtree(workdir, ignore_errors=True)

    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    out = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    wanted = contract["per_layer"] if args.trace else contract["end_to_end"]
    values = record["per_layer"] if args.trace else record["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    e2e = record["end_to_end"]
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(
        f"{args.workload} failed_ops_frac = {record['failed_ops_frac']:.6g} "
        f"({record['failed']}/{record['attempted']}); op_tail_s is the p90 of "
        f"{e2e['op_samples']} ops; live heap after the timed "
        f"region {record['live_heap_mb']:.1f} MB; record: {os.path.relpath(out, ROOT)}"
    )
    for o in record["ops"]:
        if o["error"]:
            print(f"  failed op {o['op']} {o['name']}: {o['error']}")
    if record["final_error"]:
        print(f"  final table check: {record['final_error']}")
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
