#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload migrate|analytics \\
        --seed N --seconds S --trace 0|1

Run from the repository root.  The run generates its inputs from the seed
under ``.perfbench/``, builds the engine's Spark session (session build
+ warmup = ``setup_s``), runs one cold iteration and then measured
iterations (``workloads.MIN_WARM`` per workload, more while ``--seconds``
have not passed), checks every output, and prints the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``, Spark event log
and streaming listener on) as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

A record with the host context, all op samples, the spans and every
metric is written to ``.perfbench/records/``.  Spark runs as
``local[nproc]`` from this one process and one client thread; no engine
knob is set, only deployment paths.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time

PACKAGE = "cassandra_cql_streaming_db_migrator_spark"
ROOT = os.getcwd()


def _identity(batches):
    for b in batches:
        yield b


def warmup(spark) -> None:
    """JVM + codegen on an aggregate, then one Arrow round trip per task
    slot so every Python worker is spawned."""
    par = spark.sparkContext.defaultParallelism
    spark.range(0, par * 50_000, 1, par).selectExpr("sum(id) AS s").write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(0, par * 32, 1, par).mapInPandas(_identity, "id long").write.format("noop").mode(
        "overwrite"
    ).save()


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait until it has exited
    (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def host_context() -> dict:
    """nproc, load1, the cgroup throttle counters (read as bench.py reads
    them) and the host's CPU jiffies, whose steal share shows a noisy
    host window in the record."""
    from bench import _cgroup_cpu

    with open("/proc/stat") as fh:
        jiffies = [int(v) for v in fh.readline().split()[1:]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load1": os.getloadavg()[0],
        "cgroup": _cgroup_cpu(),
        "cpu_total_jiffies": sum(jiffies),
        "cpu_steal_jiffies": jiffies[7] if len(jiffies) > 7 else 0,
    }


def steal_pct(before: dict, after: dict) -> float:
    total = after["cpu_total_jiffies"] - before["cpu_total_jiffies"]
    return 100.0 * (after["cpu_steal_jiffies"] - before["cpu_steal_jiffies"]) / max(total, 1)


def tracing_overhead(records: str, workload: str, seed: int, traced_wall: float) -> dict | None:
    """Traced wall_s minus the latest untraced wall_s of the same workload
    (same seed when there is one)."""
    best = None
    for path in sorted(glob.glob(os.path.join(records, f"{workload}-*-trace0-*.json")), key=os.path.getmtime):
        with open(path) as fh:
            rec = json.load(fh)
        if best is None or rec["seed"] == seed or best["seed"] != seed:
            best = rec
    if best is None:
        return None
    untraced = best["end_to_end"]["values"]["wall_s"]
    return {"untraced_seed": best["seed"], "untraced_wall_s": untraced, "overhead_s": traced_wall - untraced}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["migrate", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: run from the repository root ({PACKAGE}/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    records = os.path.join(base, "records")
    os.makedirs(records, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    # deployment paths only: every write stays inside the checkout
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_ARTIFACTS": os.path.join(work, "artifacts"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            # every JVM spark-submit starts (the launcher and the driver)
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # Arrow workers unpickle package functions by import path
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        }
    )
    import tempfile

    tempfile.tempdir = tmp

    from perfbench import inputs, metrics, trace, workloads

    try:
        return _run(args, work, records, nproc, inputs, metrics, trace, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, records, nproc, inputs, metrics, trace, workloads) -> int:
    import pyspark
    from pyspark import SparkContext

    from cassandra_cql_streaming_db_migrator_spark.session import build_session

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}"
    host_before = host_context()
    scale = inputs.DEFAULT_SCALE[args.workload]
    info = inputs.MAKERS[args.workload](args.seed, os.path.join(work, "inputs"), scale)

    events = os.path.join(work, "events")
    conf = {}
    if args.trace:
        os.makedirs(events)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    tracer = trace.Tracer(run_id)
    spark = None
    try:
        with tracer.span("setup"):
            with tracer.span("session.build"):
                spark = build_session(app_name="perfbench", extra_conf=conf)
            with tracer.span("session.warmup"):
                warmup(spark)
        jvm_pid = SparkContext._gateway.proc.pid
        progress: list[dict] = []
        if args.trace:
            spark.streams.addListener(trace.progress_listener(progress))
        res = workloads.RUNNERS[args.workload](spark, tracer, info, work, args.seconds)
        time.sleep(0.5 if args.trace else 0)  # let the listener bus drain
        peak_rss = jvm_peak_rss_mb(jvm_pid)
        spark_version = spark.version
    finally:
        if spark is not None:
            stop_spark(spark)

    e2e = metrics.end_to_end(tracer, res)
    if args.trace:
        for p in progress:
            p["start_ms"] = workloads.progress_start_ms(p)
        log = trace.read_event_log(events)
        layer = metrics.per_layer(args.workload, tracer, res, log, progress, nproc, peak_rss)
        warm = [s for s in tracer.named("op") if s["phase"] == "warm"]
        problems = trace.python_problems(log, warm, layer)
        if problems:
            res.ops.append(workloads.Op("pyworker", "check", -1, "check", 0.0, False, "; ".join(problems[:5])))
    attempted = len(res.ops)
    failed = sum(not o.ok for o in res.ops)
    host_after = host_context()
    record = {
        "run": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "scale": scale,
        "trace": args.trace,
        "host": {
            "before": host_before,
            "after": host_after,
            "steal_pct": steal_pct(host_before, host_after),
            "spark_version": spark_version,
            "pyspark_version": pyspark.__version__,
            "master": f"local[{nproc}]",
        },
        "loop": metrics.layer_table()["workloads"][args.workload]["loop"],
        "end_to_end": e2e,
        "attempted": attempted,
        "failed": failed,
        "failed_ops_ratio": failed / attempted,
        "failures": [o.__dict__ for o in res.ops if not o.ok],
        "ops": [o.__dict__ for o in res.ops],
        "iterations": res.iterations,
    }
    if args.trace:
        record["per_layer"] = layer
        record["spans"] = tracer.spans
        record["tracing_overhead"] = tracing_overhead(
            records, args.workload, args.seed, e2e["values"]["wall_s"]
        )
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(records, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    measured = record["per_layer"] if args.trace else e2e["values"]
    values = {m["name"]: (measured[m["name"]], m["unit"]) for m in listed}
    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
        f"{record['loop'].split(':')[0]}, local[{nproc}], {e2e['warm_iterations']} warm iterations"
    )
    for k, (v, unit) in values.items():
        print(f"  {k:34s} {v:14.4f} {unit}")
    print(
        f"  op_tail_s is p{e2e['op_tail_percentile']:.0f} of {e2e['warm_op_samples']} warm ops; "
        f"failed_ops_ratio {failed}/{attempted} = {failed / attempted:.4f}"
    )
    for f in record["failures"][:5]:
        print(f"  FAILED {f['name']} (iteration {f['iteration']}): {f['error']}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in values.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
