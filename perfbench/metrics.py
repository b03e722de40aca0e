"""End-to-end and per-layer metrics of one benchmark run.

End-to-end metrics come from the op timings alone and are measured with
tracing off.  Per-layer metrics need the traced run's event log and
streaming progress events; they are per measured iteration unless
``layers.json`` says otherwise.
"""

from __future__ import annotations

import json
import os
import statistics

from . import trace

HERE = os.path.dirname(os.path.abspath(__file__))


def layer_table() -> dict:
    with open(os.path.join(HERE, "layers.json")) as fh:
        return json.load(fh)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least 10
    samples beyond it, by nearest rank.  With 10 or fewer samples no
    percentile qualifies and the maximum is reported as percentile 100."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    j = n - 11  # s[j] has exactly 10 samples above it
    return s[j], 100.0 * (j + 1) / n, n


# Kinds of op whose latencies op_p50_s / op_tail_s report: a run_pipeline
# call (migrate), a query rep (analytics).  Drain calls are left out.
LATENCY_KINDS = ("pipeline", "query")


def end_to_end(tracer, res) -> dict:
    warm_ops = [o.latency for o in res.ops if o.phase == "warm" and o.kind in LATENCY_KINDS]
    warm_iters = res.warm()
    wall = statistics.median(it["wall"] for it in warm_iters)
    rows = statistics.median(it["rows"] for it in warm_iters)
    tail_value, tail_pct, n = tail(warm_ops)
    return {
        "values": {
            "setup_s": tracer.named("setup")[0]["dur"],
            "wall_s": wall,
            "rows_per_s": rows / wall,
            "op_p50_s": statistics.median(warm_ops),
            "op_tail_s": tail_value,
            "cold_s": next(it["wall"] for it in res.iterations if it["phase"] == "cold"),
        },
        "op_tail_percentile": tail_pct,
        "warm_op_samples": n,
        "warm_iterations": len(warm_iters),
    }


def per_layer(
    workload: str, tracer, res, log: trace.EventLog, progress: list[dict], cores: int, peak_rss_mb: float
) -> dict:
    out = dict.fromkeys((m["name"] for m in layer_table()["per_layer"]), 0.0)
    out["spark.driver_peak_rss_mb"] = peak_rss_mb
    per = len(res.warm())
    ops = [s for s in tracer.named("op") if s["phase"] == "warm"]

    def under(name: str) -> list[dict]:
        return [c for op in ops for c in tracer.children(op, name)]

    out["session.build_s"] = tracer.named("session.build")[0]["dur"]
    out["session.warmup_s"] = tracer.named("session.warmup")[0]["dur"]
    out["plans.load_spec_s"] = sum(s["dur"] for s in under("plans.load_spec")) / per
    out.update(trace.spark_layer(log, ops, per, cores))

    if workload == "migrate":
        runs = under("pipeline.run_pipeline")
        op_ids = {o["id"] for o in ops}
        sinks = [s for s in tracer.named("sinks.write") if s["parent"] in op_ids]
        drains = [o for o in ops if "drain" in o]
        warm_p = [p for p in res.progress if p["phase"] == "warm"]
        sink_s = sum(s["dur"] for s in sinks)
        out["pipeline.plan_s"] = (sum(r["dur"] for r in runs) - sink_s) / per
        out["pipeline.jobs_per_table"] = len(trace.within(log.jobs, runs)) / sum(r["tables"] for r in runs)
        sources = [p for r in runs for p in r["sources"]]
        out["pipeline.source_reads_per_table"] = trace.scan_bytes(log, runs, sources) / sum(
            os.path.getsize(p) for p in sources
        )
        # sink work: the batch sink callable, and each drain's foreachBatch
        # merge (its addBatch phase)
        add_batch_s = sum(p["durationMs"].get("addBatch", 0) for p in warm_p) / 1000.0
        out["sinks.write_s"] = (sink_s + add_batch_s) / per
        target_root = os.path.commonpath(list(res.extra["targets"].values()))
        out["sinks.target_read_bytes"] = trace.scan_bytes(log, sinks + drains, [target_root]) / per
        bpr = res.extra["target_bytes_per_row"]
        delivered = sum(rows * bpr[t] for op in ops for t, rows in op.get("delivered", []))
        delivered += per * sum(rows * bpr[f"stream_{k}"] for k, rows in res.extra["chunk_rows"].items())
        written = sum(t["output"] for t in trace.within(log.tasks, sinks + drains))
        out["sinks.write_amplification"] = written / delivered
        out["streaming.triggers"] = len(warm_p) / per
        out.update(trace.trigger_phases(warm_p))
        out["streaming.scan_amplification"] = sum(p["numInputRows"] for p in warm_p) / (
            per * sum(res.extra["chunk_rows"].values())
        )

    if workload == "analytics":
        mine = trace.within(progress, ops, key="start_ms")
        out["streaming.triggers"] = len(mine) / per
        out.update(trace.trigger_phases(mine))
        out["queries.fn_s"] = sum(s["dur"] for s in under("queries.fn")) / per
        out["queries.fn_jobs"] = len(trace.within(log.jobs, under("queries.fn"))) / per
        out["queries.action_s"] = sum(s["dur"] for s in under("queries.action")) / per
        modules = res.extra["modules"]
        for module in ("relational", "analytics", "llm", "corpus", "streaming"):
            out[f"queries.{module}_s"] = (
                sum(op["dur"] for op in ops if modules[op["query"]] == module) / per
            )
        warm_art = [a for a in res.extra["artifacts"] if a[2] == "warm"]
        out["artifacts.built"] = sum(a[3] for a in warm_art) / per
        out["artifacts.bytes"] = sum(a[4] for a in warm_art) / per
        out["streaming.fenced_drains"] = res.extra["fenced"]
    return out
