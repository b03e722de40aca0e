"""Pipeline-level tests mirroring the reference's operational semantics
(SURVEY §5.2: conservation, limits, if-not-exists)."""

from __future__ import annotations

import threading
import time

import pytest

from cassandra_cql_streaming_db_migrator_spark.pipeline import run_pipeline
from cassandra_cql_streaming_db_migrator_spark.plans.spec import load_spec
from cassandra_cql_streaming_db_migrator_spark.sources.parquet import load_tables


def test_simulate_conservation(spark, sf_dir):
    """rows_read == rows_passed + rows_filtered, zero writes (K5/A2,
    DbMigrator.java:101-106)."""
    spec = load_spec(
        {
            "tables": [
                {
                    "tableName": "lineitem",
                    "keyColumns": ["l_orderkey", "l_linenumber"],
                    "filters": [{"expression": "row.l_discount >= 0.03 && row.l_discount < 0.07"}],
                    "continueOnRowError": False,
                }
            ]
        }
    )
    tables = load_tables(spark, sf_dir)
    [res] = run_pipeline(spark, spec, tables)
    assert res.simulated is True
    assert res.rows_read == tables["lineitem"].count()
    assert res.rows_read == res.rows_passed_filter + res.rows_filtered
    assert res.rows_migrated == res.rows_passed_filter


def test_write_cap_exact(spark, sf_dir):
    """maxWriteRowCount caps exactly (no overshoot — unlike the reference's
    racy check, SURVEY §7.4)."""
    spec = load_spec(
        {
            "tables": [
                {
                    "tableName": "orders",
                    "keyColumns": ["o_orderkey"],
                    "maxWriteRowCount": 37,
                    "continueOnRowError": False,
                }
            ]
        }
    )
    tables = load_tables(spark, sf_dir)
    [res] = run_pipeline(spark, spec, tables)
    assert res.rows_migrated == 37


def test_error_policy_continue_counts_failed(spark, sf_dir):
    """T5: invalid rows (NULL PK) are quarantined and counted, not written."""
    from pyspark.sql import Row

    from cassandra_cql_streaming_db_migrator_spark.plans.spec import TableMigration, PipelineSpec

    src = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=None, v="bad"), Row(k=3, v="c")], "k long, v string"
    )
    spec = PipelineSpec(
        tables=[TableMigration(table_name="t", key_columns=["k"], continue_on_row_error=True)]
    )
    [res] = run_pipeline(spark, spec, {"t": src})
    assert res.rows_failed == 1
    assert res.rows_migrated == 2
    assert res.rows_read == 3
    assert res.rows_read == res.rows_passed_filter + res.rows_filtered + res.rows_failed


def test_error_policy_failfast_aborts(spark, sf_dir):
    """T5: continue_on_row_error=False aborts the table on any invalid row
    (MigrateTableTask.java:496-517 fail-fast parity)."""
    import pytest
    from pyspark.sql import Row

    from cassandra_cql_streaming_db_migrator_spark.plans.spec import TableMigration, PipelineSpec

    src = spark.createDataFrame([Row(k=None, v="bad")], "k long, v string")
    spec = PipelineSpec(
        tables=[TableMigration(table_name="t", key_columns=["k"], continue_on_row_error=False)]
    )
    with pytest.raises(RuntimeError, match="fail validity"):
        run_pipeline(spark, spec, {"t": src})


def test_thread_pool_scheduling(spark, sf_dir):
    """T7: thread_count > 1 runs table tasks concurrently (session.overlap);
    results keep declared order (DbMigrator.java:78-80) whatever order the
    tasks finish in; every task's jobs keep the caller's job description
    (pinned-thread mode gives a plain pool thread none); and a failing
    task re-raises only after its slower siblings finish, leaving no
    thread behind."""
    spec = load_spec(
        {
            "threadCount": 2,
            "tables": [
                {
                    "tableName": n,
                    "keyColumns": [k],
                    "continueOnRowError": False,
                    "simulateOnly": False,
                }
                for n, k in [
                    ("region", "r_regionkey"),
                    ("nation", "n_nationkey"),
                    ("customer", "c_custkey"),
                ]
            ],
        }
    )
    tables = load_tables(spark, sf_dir)
    sc = spark.sparkContext
    seen: dict[str, str | None] = {}
    finished: list[str] = []

    def sink(df, t):
        # the first table finishes last: order must come from the legs
        time.sleep(0.5 if t.table_name == "region" else 0)
        seen[t.table_name] = sc.getLocalProperty("spark.job.description")
        return df.count()

    def failing_sink(df, t):
        if t.table_name == "region":
            raise RuntimeError("region sink failed")
        time.sleep(0.5)
        finished.append(t.table_name)
        return df.count()

    threads_before = threading.active_count()
    sc.setJobDescription("__t7__")
    try:
        results = run_pipeline(spark, spec, tables, sink=sink)
        with pytest.raises(RuntimeError, match="region sink failed"):
            run_pipeline(spark, spec, tables, sink=failing_sink)
    finally:
        sc.setJobDescription(None)
    assert [r.table for r in results] == ["region", "nation", "customer"]
    assert [r.rows_migrated for r in results] == [5, 25, 150]
    assert seen == dict.fromkeys(["region", "nation", "customer"], "__t7__")
    assert sorted(finished) == ["customer", "nation"]
    assert threading.active_count() == threads_before


def test_ordered_multi_table_and_plan_all_then_run(spark, sf_dir):
    """Tables run in declared order (O3/T7); plans built before any runs."""
    spec = load_spec(
        {
            "tables": [
                {"tableName": "region", "keyColumns": ["r_regionkey"], "continueOnRowError": False},
                {"tableName": "nation", "keyColumns": ["n_nationkey"], "continueOnRowError": False},
            ]
        }
    )
    tables = load_tables(spark, sf_dir)
    results = run_pipeline(spark, spec, tables)
    assert [r.table for r in results] == ["region", "nation"]
    assert results[0].rows_migrated == 5 and results[1].rows_migrated == 25


def test_container_and_exotic_types_roundtrip(spark, tmp_path):
    """§1.3 type-system parity: list/set/map/decimal/uuid-string/timestamp
    columns flow through plan, validation, and the upsert sink unchanged —
    types the reference hard-rejects (CassandraSchemaUtil.java:153-157)
    are first-class here."""
    from cassandra_cql_streaming_db_migrator_spark.plans.spec import (
        PipelineSpec,
        TableMigration,
    )
    from cassandra_cql_streaming_db_migrator_spark.sinks.sinks import upsert_parquet

    src = spark.sql(
        """
        SELECT * FROM VALUES
          (1, array(1, 2, 2), map('a', 1.5), CAST(12.3456 AS DECIMAL(10,4)),
           '123e4567-e89b-12d3-a456-426614174000', TIMESTAMP '2024-06-01 12:00:00'),
          (2, array(7), map('b', 2.5), CAST(99.0001 AS DECIMAL(10,4)),
           'ffffffff-ffff-ffff-ffff-ffffffffffff', TIMESTAMP '2025-01-01 00:00:00')
          AS t(k, xs, kv, price, id_uuid, created)
        """
    )
    spec = PipelineSpec(
        tables=[
            TableMigration(
                table_name="typed",
                key_columns=["k"],
                simulate_only=False,
                continue_on_row_error=True,
            )
        ]
    )
    target = str(tmp_path / "typed.parquet")

    def sink(df, t):
        upsert_parquet(df, target, t.key_columns)
        return None

    [res] = run_pipeline(spark, spec, {"typed": src}, sink=sink)
    assert res.rows_migrated == 2

    back = spark.read.parquet(target)
    assert dict(back.dtypes) == dict(src.dtypes)
    # denest the map in the query (Spark 4 toPyRow cannot collect MapType
    # rows directly in this configuration)
    rows = {
        r["k"]: r
        for r in back.selectExpr(
            "k", "xs", "kv['a'] AS kv_a", "kv['b'] AS kv_b",
            "CAST(price AS STRING) AS price", "id_uuid", "year(created) AS yr"
        ).collect()
    }
    assert rows[1]["xs"] == [1, 2, 2]
    assert rows[1]["kv_a"] == 1.5 and rows[2]["kv_b"] == 2.5
    assert rows[1]["price"] == "12.3456"
    assert rows[1]["id_uuid"].endswith("174000")
    assert rows[2]["yr"] == 2025


class TestCompaction:
    def test_compacts_many_small_files_preserving_data(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from cassandra_cql_streaming_db_migrator_spark.sinks.maintenance import (
            compact_parquet_dir,
        )

        path = str(tmp_path / "t")
        df = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
        df.repartition(20).write.parquet(path)

        before = df.agg(F.sum("id"), F.sum("v")).collect()[0]
        stats = compact_parquet_dir(spark, path, target_file_bytes=10**9)
        assert stats.compacted and stats.files_before == 20 and stats.files_after == 1

        back = spark.read.parquet(path)
        after = back.agg(F.sum("id"), F.sum("v")).collect()[0]
        assert tuple(before) == tuple(after)
        assert back.count() == 10000

    def test_noop_when_already_compact(self, spark, tmp_path):
        from cassandra_cql_streaming_db_migrator_spark.sinks.maintenance import (
            compact_parquet_dir,
        )

        path = str(tmp_path / "t2")
        spark.range(0, 100).coalesce(1).write.parquet(path)
        stats = compact_parquet_dir(spark, path, target_file_bytes=10**9)
        assert not stats.compacted and stats.files_after == 1
