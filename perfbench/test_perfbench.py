"""Tests of the benchmark itself (no Spark session is started).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

from perfbench import checks, inputs, metrics, trace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _tree(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root) for d, _s, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize("workload", sorted(inputs.MAKERS))
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    make = inputs.MAKERS[workload]
    make(5, str(tmp_path / "a"))
    make(5, str(tmp_path / "b"))
    make(6, str(tmp_path / "c"))
    files = _tree(str(tmp_path / "a"))
    assert files and files == _tree(str(tmp_path / "b")) == _tree(str(tmp_path / "c"))
    same = [filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False) for f in files]
    assert all(same)
    parquet = [f for f in files if f.endswith(".parquet")]
    differ = [not filecmp.cmp(tmp_path / "a" / f, tmp_path / "c" / f, shallow=False) for f in parquet]
    # region/nation are fixed tables; everything else depends on the seed
    assert sum(differ) >= len(parquet) - 2
    # same row counts on every seed: the work per run does not depend on it
    for f in parquet:
        assert pq.ParquetFile(tmp_path / "a" / f).metadata.num_rows == pq.ParquetFile(
            tmp_path / "c" / f
        ).metadata.num_rows


def _materialize(sql: str, target_dir) -> None:
    os.makedirs(target_dir, exist_ok=True)
    with duckdb.connect() as con:
        con.execute(f"COPY ({sql}) TO '{target_dir}/part-0.parquet' (FORMAT parquet)")


def _perturb(target_dir, column: str) -> None:
    path = os.path.join(target_dir, "part-0.parquet")
    with duckdb.connect() as con:
        con.execute(
            f"COPY (SELECT * REPLACE (CASE WHEN row_number() OVER () = 7 THEN {column} + 1 "
            f"ELSE {column} END AS {column}) FROM '{path}') TO '{path}.new' (FORMAT parquet)"
        )
    os.replace(path + ".new", path)


@pytest.mark.parametrize("kind,column", [("upsert", "l_quantity"), ("counter", "hits")])
def test_stream_check_flags_one_changed_row(kind, column, tmp_path):
    info = inputs.make_migrate_inputs(3, str(tmp_path / "in"))
    chunk_dir = os.path.join(info["dir"], "li_chunks" if kind == "upsert" else "ev_chunks")
    target = tmp_path / "target"
    _materialize(checks.expected_stream(kind, chunk_dir), target)
    assert checks.check_stream_drain(kind, chunk_dir, str(target)) == []
    _perturb(target, column)
    assert checks.check_stream_drain(kind, chunk_dir, str(target))


class _Result:
    def __init__(self, table, read, passed, migrated, simulated=False, target="x"):
        self.table, self.target, self.simulated = table, target, simulated
        self.rows_read, self.rows_passed_filter, self.rows_migrated = read, passed, migrated
        self.rows_failed = 0
        self.rows_filtered = read - passed


def test_migrate_check_flags_one_changed_row_and_bad_counts(tmp_path):
    info = inputs.make_migrate_inputs(4, str(tmp_path / "in"))
    src, tgt = info["dir"], tmp_path / "targets"
    exp = checks.expected_migrate("counter_merge", src)
    _name, sql = exp["target"]
    _materialize(sql, tgt / "event_counts")
    read, passed, _m = (checks._count(q) for q in exp["rows"]["events"])
    good = [_Result("events", read, passed, passed, target="event_counts")]
    assert checks.check_migrate_job("counter_merge", src, str(tgt), good) == []
    # the reference's conservation rule and the row counts are checked too
    bad = [_Result("events", read + 1, passed, passed, target="event_counts")]
    assert checks.check_migrate_job("counter_merge", src, str(tgt), bad)
    _perturb(tgt / "event_counts", "weight")
    assert checks.check_migrate_job("counter_merge", src, str(tgt), good)


def test_query_check_flags_one_changed_row(tmp_path):
    from cassandra_cql_streaming_db_migrator_spark.queries import all_queries

    info = inputs.make_analytics_inputs(8, str(tmp_path / "in"))
    registry = all_queries()
    name = "q1_pricing_summary"
    with duckdb.connect() as con:
        for t in ("lineitem", "orders"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{info['sf_dir']}/{t}.parquet'")
        cur = con.execute(registry[name].oracle)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    got = {"columns": sorted(cols), "rows": [[r[i] for i in order] for r in rows]}
    assert checks.check_queries(registry, info["sf_dir"], {name: got}) == {}
    got["rows"][0][-1] = got["rows"][0][-1] + 1
    assert name in checks.check_queries(registry, info["sf_dir"], {name: got})


def test_metric_names_and_units_are_well_formed():
    bench = _bench()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", m["name"]) and len(m["name"]) <= 64
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]+", m["unit"]) and len(m["unit"]) <= 16
        assert m["better"] in ("lower", "higher")
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in bench["end_to_end"]
    assert max(m["bound"] for m in bench["end_to_end"]) == 0.25


def test_every_layer_metric_names_what_it_should_move():
    bench, table = _bench(), metrics.layer_table()
    e2e = {m["name"] for m in bench["end_to_end"]}
    workloads = {w["name"] for w in bench["workloads"]}
    assert [m["name"] for m in table["per_layer"]] == [m["name"] for m in bench["per_layer"]]
    for m in table["per_layer"]:
        assert m["moves"] and set(m["moves"]) <= e2e, m["name"]
        assert m["workloads"] and set(m["workloads"]) <= workloads, m["name"]
    assert set(table["workloads"]) == workloads
    assert set(table["end_to_end"]) == e2e
    for p in table["predictions"]:
        assert set(p["layer_metrics"]) <= {m["name"] for m in table["per_layer"]}
        assert set(p["moves"]) | set(p["no_change"]) <= workloads


def test_tail_percentile_keeps_ten_samples_beyond():
    samples = [float(i) for i in range(1, 41)]
    value, pct, n = metrics.tail(samples)
    assert n == 40 and value == 30.0 and pct == 75.0
    assert sum(s > value for s in samples) == 10
    assert metrics.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_event_log_attribution_by_time_window(tmp_path):
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5100},
    ]
    for start, run in ((1100, 200), (1150, 100), (5010, 50)):
        lines.append(
            {
                "Event": "SparkListenerTaskEnd",
                "Stage ID": 0 if start < 5000 else 1,
                "Task Info": {
                    "Launch Time": start,
                    "Finish Time": start + run,
                    "Accumulables": [{"Name": "time to run Python workers", "Update": "40"}],
                },
                "Task Metrics": {"Executor Run Time": run, "Input Metrics": {"Bytes Read": 10}},
            }
        )
    (tmp_path / "app").mkdir()
    (tmp_path / "app" / "events_1").write_text("\n".join(json.dumps(e) for e in lines))
    log = trace.read_event_log(str(tmp_path))
    op = {"start": 0.9, "end": 2.0, "dur": 1.1}
    layer = trace.spark_layer(log, [op], per=1, cores=4)
    assert layer["spark.jobs"] == 1 and layer["spark.tasks"] == 2
    assert layer["spark.task_s"] == pytest.approx(0.3)
    assert layer["spark.input_bytes"] == 20 and layer["pyworker.total_s"] == pytest.approx(0.08)
    assert layer["spark.driver_gap_s"] == pytest.approx(0.7)
    assert layer["spark.task_skew"] == pytest.approx(200 / 150)


def _python_log(tmp_path, tasks) -> trace.EventLog:
    """An event log with one Python plan node (accumulators 10-12) and one
    task per (run ms, {metric name: update})."""
    names = ["time to start Python workers", "time to initialize Python workers", "time to run Python workers"]
    plan = {
        "nodeName": "MapInArrow",
        "metrics": [{"name": n, "accumulatorId": 10 + i, "metricType": "timing"} for i, n in enumerate(names)],
        "children": [],
    }
    lines = [
        {
            "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "executionId": 0,
            "time": 1000,
            "sparkPlanInfo": plan,
        }
    ]
    for k, (run, updates) in enumerate(tasks):
        lines.append(
            {
                "Event": "SparkListenerTaskEnd",
                "Stage ID": 0,
                "Task Info": {
                    "Launch Time": 1100 + k,
                    "Finish Time": 1100 + k + run,
                    "Accumulables": [
                        {"ID": 10 + names.index(n), "Name": n, "Update": str(v)} for n, v in updates.items()
                    ],
                },
                "Task Metrics": {"Executor Run Time": run},
            }
        )
    (tmp_path / "app").mkdir()
    (tmp_path / "app" / "events_1").write_text("\n".join(json.dumps(e) for e in lines))
    return trace.read_event_log(str(tmp_path))


def test_python_worker_times_skip_a_reused_workers_idle_wait(tmp_path):
    fresh = {"time to start Python workers": 30, "time to initialize Python workers": 20, "time to run Python workers": 150}
    # a reused worker: boot < 0 is not reported, init holds the idle wait
    reused = {"time to initialize Python workers": 900, "time to run Python workers": 60}
    log = _python_log(tmp_path, [(200, fresh), (100, reused)])
    op = {"start": 0.9, "end": 2.0, "dur": 1.1}
    layer = trace.spark_layer(log, [op], per=1, cores=4)
    assert layer["pyworker.boot_s"] == pytest.approx(0.03)
    assert layer["pyworker.init_s"] == pytest.approx(0.02)
    assert layer["pyworker.total_s"] == pytest.approx(0.21)
    assert trace.python_problems(log, [op], layer) == []
    # the bound the traced run checks: no pyworker time above spark.task_s
    layer["pyworker.init_s"] = layer["spark.task_s"] + 0.1
    assert trace.python_problems(log, [op], layer)


def test_python_runner_longer_than_its_task_is_flagged(tmp_path):
    log = _python_log(tmp_path, [(100, {"time to run Python workers": 500})])
    assert log.py_problems


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    cmd = _bench()["command"] + ["--workload", "migrate", "--seed", "1", "--seconds", "1", "--trace", "0"]
    p = subprocess.run(
        [sys.executable if c == "python3" else c for c in cmd],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
