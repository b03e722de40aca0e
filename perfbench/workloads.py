"""The two closed-loop workloads.

One client thread; each op starts when the previous one has finished.
An iteration is the workload's declared unit of work and is the same on
every seed:

* ``migrate``   five ``run_pipeline`` batch jobs, then an upsert drain and
                a counter drain through ``migrate_stream_to_parquet``;
* ``analytics`` the query list once, in seeded order.

Every call is an ``Op`` that is checked and counted in ``attempted`` /
``failed``.  The op latencies (``op_p50_s``, ``op_tail_s``) are those of
one kind: a ``run_pipeline`` call on migrate (drain calls are in the
iteration wall; their microbatch phases are per-layer ``streaming.*``
metrics), a query rep on analytics.

Every run does one cold iteration (the first execution of each op in the
process: ``cold_s``) and then measured ("warm") iterations until
``--seconds`` have passed, at least ``MIN_WARM`` of them.  Outputs are
checked between ops, outside the op timings.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import warnings
from dataclasses import dataclass, field
from datetime import datetime

from . import checks
from .inputs import STREAM_COUNTER_SPEC, STREAM_LINEITEM_SPEC

FENCED_MARKER = "non-empty epochs were fenced"
# Measured iterations per run (at least; more while --seconds have not
# passed).  migrate: 2 x 5 run_pipeline calls keep op_tail_s a true tail
# (the maximum of 10 samples).  analytics: 4 x 7 query reps put it at p64
# of 28 samples; with 3 it would equal the median.
MIN_WARM = {"migrate": 2, "analytics": 4}


@dataclass
class Op:
    name: str
    kind: str  # "pipeline" | "drain" | "query" | "check" (a traced-run check)
    iteration: int
    phase: str  # "cold" | "warm"
    latency: float
    ok: bool = True
    error: str | None = None


@dataclass
class Result:
    ops: list[Op] = field(default_factory=list)
    # per iteration: {"index", "phase", "wall", "rows"}
    iterations: list[dict] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def warm(self) -> list[dict]:
        return [it for it in self.iterations if it["phase"] == "warm"]


def _loop(workload: str, seconds: float, iteration) -> None:
    iteration(0, "cold")
    t0 = time.perf_counter()
    i = 1
    while i <= MIN_WARM[workload] or time.perf_counter() - t0 < seconds:
        iteration(i, "warm")
        i += 1


def _copy_seed(src_file: str, target_dir: str) -> None:
    shutil.rmtree(target_dir, ignore_errors=True)
    os.makedirs(target_dir)
    shutil.copyfile(src_file, os.path.join(target_dir, "part-00000.parquet"))


def _err(e: BaseException) -> str:
    return f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"


def progress_start_ms(p: dict) -> float:
    """Trigger start (epoch ms) of a streaming progress event."""
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000.0


# ---------------------------------------------------------------------------
# migrate


def run_migrate(spark, tracer, inputs: dict, work: str, seconds: float) -> Result:
    from cassandra_cql_streaming_db_migrator_spark.pipeline import run_pipeline
    from cassandra_cql_streaming_db_migrator_spark.plans.spec import load_spec
    from cassandra_cql_streaming_db_migrator_spark.sinks.sinks import (
        counter_merge_parquet,
        upsert_parquet,
    )
    from cassandra_cql_streaming_db_migrator_spark.streaming.migrate import (
        migrate_stream_to_parquet,
    )

    src = inputs["dir"]
    tgt = os.path.join(work, "targets")
    res = Result()
    source_tables = {
        "lineitem": f"{src}/lineitem.parquet",
        "lineitem_delta": f"{src}/lineitem_delta.parquet",
        "orders": f"{src}/orders.parquet",
        "events": f"{src}/events.parquet",
    }
    res.extra["targets"] = {}
    res.extra["target_bytes_per_row"] = {}
    drains = [
        ("upsert", f"{src}/li_chunks", STREAM_LINEITEM_SPEC, inputs["li_rows"]),
        ("counter", f"{src}/ev_chunks", STREAM_COUNTER_SPEC, inputs["ev_rows"]),
    ]
    res.extra["chunk_rows"] = {kind: rows for kind, _d, _s, rows in drains}
    # one file per microbatch, in chunk order: the file source orders by
    # modification time
    for _kind, chunk_dir, _spec, _rows in drains:
        for k, path in enumerate(sorted(glob.glob(f"{chunk_dir}/*.parquet"))):
            os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
    schemas = {d: spark.read.parquet(d).schema for _k, d, _s, _r in drains}

    def sink_for(op_span: dict):
        def sink(df, table):
            path = os.path.join(tgt, table.target)
            res.extra["targets"][table.target] = path
            with tracer.span("sinks.write", parent=op_span["id"], target=table.target):
                if table.counter_columns:
                    counter_merge_parquet(df, path, table.key_columns, table.counter_columns)
                else:
                    upsert_parquet(df, path, table.key_columns)

        return sink

    def batch_job(job: str, i: int, phase: str) -> tuple[Op, int]:
        with tracer.span("op", job=job, iteration=i, phase=phase) as op:
            try:
                with tracer.span("plans.load_spec"):
                    spec = load_spec(f"{src}/specs/{job}.yaml")
                tables = {
                    t.table_name: spark.read.parquet(source_tables[t.table_name])
                    for t in spec.tables
                }
                targets = {
                    t.target: spark.read.parquet(f"{tgt}/{t.target}")
                    for t in spec.tables
                    if os.path.isdir(f"{tgt}/{t.target}")
                }
                sources = [source_tables[t.table_name] for t in spec.tables]
                with tracer.span("pipeline.run_pipeline", tables=len(spec.tables), sources=sources):
                    results = run_pipeline(spark, spec, tables, targets, sink=sink_for(op))
                error = None
            except Exception as e:  # an op failure is counted, the loop goes on
                results, error = None, _err(e)
        o = Op(job, "pipeline", i, phase, op["dur"])
        if error is not None:
            o.ok, o.error = False, error
            return o, 0
        with tracer.span("check", job=job):
            problems = checks.check_migrate_job(job, src, tgt, results)
        if problems:
            o.ok, o.error = False, "; ".join(problems)
        op["delivered"] = [(r.target, r.rows_migrated) for r in results if not r.simulated]
        return o, sum(n for _t, n in op["delivered"])

    def drain(kind: str, chunk_dir: str, spec_dict: dict, i: int, phase: str) -> Op:
        target = os.path.join(tgt, f"stream_{kind}")
        ckpt = os.path.join(work, "checkpoints", f"{kind}-{i}")
        with tracer.span("op", drain=kind, iteration=i, phase=phase) as op:
            try:
                with tracer.span("plans.load_spec"):
                    spec = load_spec({"tables": [spec_dict]}).tables[0]
                stream = (
                    spark.readStream.schema(schemas[chunk_dir])
                    .option("maxFilesPerTrigger", 1)
                    .parquet(chunk_dir)
                )
                with tracer.span("streaming.migrate_stream_to_parquet"):
                    query = migrate_stream_to_parquet(stream, spec, target, ckpt)
                progress, problems = [json.loads(p.json) for p in query.recentProgress], []
            except Exception as e:
                progress, problems = [], [_err(e)]
        if not problems:
            with tracer.span("check", drain=kind):
                problems = checks.check_stream_drain(kind, chunk_dir, target)
            if len(progress) != len(glob.glob(f"{chunk_dir}/*.parquet")):
                problems.append(f"{kind}: {len(progress)} triggers for one-file chunks")
            res.extra["target_bytes_per_row"][f"stream_{kind}"] = checks.parquet_bytes_per_row(target)
        for p in progress:
            p.update(drain=kind, iteration=i, phase=phase, start_ms=progress_start_ms(p))
            res.progress.append(p)
        shutil.rmtree(ckpt, ignore_errors=True)
        # the drain's latency is the whole call, query start and stop included
        o = Op(f"stream_{kind}", "drain", i, phase, op["dur"])
        if problems:
            o.ok, o.error = False, "; ".join(problems)
        return o

    def iteration(i: int, phase: str) -> None:
        shutil.rmtree(tgt, ignore_errors=True)
        os.makedirs(tgt)
        _copy_seed(f"{src}/orders_v2_seed.parquet", f"{tgt}/orders_v2")
        _copy_seed(f"{src}/event_counts_seed.parquet", f"{tgt}/event_counts")
        wall, rows = 0.0, 0
        for job in inputs["jobs"]:
            o, delivered = batch_job(job, i, phase)
            res.ops.append(o)
            wall, rows = wall + o.latency, rows + delivered
        for kind, chunk_dir, spec_dict, chunk_rows in drains:
            o = drain(kind, chunk_dir, spec_dict, i, phase)
            res.ops.append(o)
            wall, rows = wall + o.latency, rows + chunk_rows
        res.iterations.append({"index": i, "phase": phase, "wall": wall, "rows": rows})

    _loop("migrate", seconds, iteration)
    for name, path in res.extra["targets"].items():
        res.extra["target_bytes_per_row"][name] = checks.parquet_bytes_per_row(path)
    return res


# ---------------------------------------------------------------------------
# analytics


def _artifact_census(root: str) -> tuple[int, int]:
    built, nbytes = 0, 0
    for dirpath, _dirs, files in os.walk(root):
        if "_SUCCESS" in files:
            built += 1
        nbytes += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return built, nbytes


def run_analytics(spark, tracer, inputs: dict, work: str, seconds: float) -> Result:
    from cassandra_cql_streaming_db_migrator_spark.queries import all_queries

    registry = all_queries()
    sf_dir = inputs["sf_dir"]
    res = Result()
    res.extra["modules"] = {
        n: registry[n].fn.__module__.rsplit(".", 1)[-1] for n in inputs["queries"]
    }
    collected: dict[str, dict] = {}
    res.extra["artifacts"] = []  # (query, iteration, phase, built, bytes)
    res.extra["fenced"] = 0

    def iteration(i: int, phase: str) -> None:
        wall, rows = 0.0, 0
        for name in inputs["queries"]:
            q = registry[name]
            root = os.path.join(work, "artifacts", f"{i}-{name}")
            os.environ["SPARK_GRAFT_ARTIFACTS"] = root
            spark.catalog.clearCache()
            error = None
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                with tracer.span("op", query=name, iteration=i, phase=phase) as op:
                    try:
                        with tracer.span("queries.fn"):
                            df = q.fn(spark, sf_dir)
                        with tracer.span("queries.action"):
                            if phase == "cold":
                                # the first execution also yields the rows
                                # the oracle check compares
                                columns = sorted(df.columns)
                                collected[name] = {
                                    "columns": columns,
                                    "rows": [[r[c] for c in columns] for r in df.collect()],
                                }
                            else:
                                df.write.format("noop").mode("overwrite").save()
                    except Exception as e:
                        error = _err(e)
            fenced = sum(FENCED_MARKER in str(w.message) for w in caught)
            res.extra["fenced"] += fenced
            built, nbytes = _artifact_census(root)
            shutil.rmtree(root, ignore_errors=True)
            res.extra["artifacts"].append((name, i, phase, built, nbytes))
            o = Op(name, "query", i, phase, op["dur"])
            if error:
                o.ok, o.error = False, error
            elif fenced:
                o.ok, o.error = False, f"{fenced} fully fenced drain(s): the rep applied nothing"
            res.ops.append(o)
            wall += o.latency
            rows += len(collected[name]["rows"]) if name in collected else 0
        res.iterations.append({"index": i, "phase": phase, "wall": wall, "rows": rows})

    _loop("analytics", seconds, iteration)

    # oracle checks, after the timed phase
    with tracer.span("check"):
        verdicts = checks.check_queries(registry, sf_dir, collected)
    reps: dict[str, set] = {}
    for name, _i, _phase, built, _b in res.extra["artifacts"]:
        reps.setdefault(name, set()).add(built)
    for o in res.ops:
        problem = verdicts.get(o.name)
        if problem is None and len(reps.get(o.name, ())) > 1:
            problem = f"artifacts built differ across reps: {sorted(reps[o.name])}"
        if problem and o.ok:
            o.ok, o.error = False, problem
    return res


RUNNERS = {"migrate": run_migrate, "analytics": run_analytics}
