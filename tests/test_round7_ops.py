"""Round-7 batteries: the ADVICE r06 hardening fixes (BPE unknown-symbol
degradation, MMR zero-norm guard, warehouse GC for pid-suffixed tables)."""

from __future__ import annotations

import os

from pyspark.sql import Row


# --- bpe_encode: out-of-vocabulary symbols (ADVICE r06 #1) ------------------

def test_bpe_encode_unknown_symbol_maps_to_unk(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.bpe import (
        bpe_encode_docs,
    )

    # tokenizer trained on {a, b} with one merge "ab"; encode corpus
    # contains 'q', never seen at train time
    base_vocab = ["a", "b"]
    merges = [(0, "a", "b", 7)]
    df = spark.createDataFrame(
        [Row(doc_id=1, text="ab q a"), Row(doc_id=2, text="qq")]
    )
    out = {
        r["doc_id"]: r
        for r in bpe_encode_docs(df, merges, base_vocab).collect()
    }
    unk = len(base_vocab) + len(merges)  # one past every assigned id
    # doc 1: "ab" -> merge id 2, "q" -> unk, "a" -> 0
    assert out[1]["token_ids"] == [2, unk, 0]
    assert out[1]["n_tokens"] == 3
    # doc 2: both chars unknown — degrades, does not crash the stage
    assert out[2]["token_ids"] == [unk, unk]


def test_bpe_encode_unk_does_not_shift_known_ids(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.bpe import (
        bpe_encode_docs,
    )

    df = spark.createDataFrame([Row(doc_id=1, text="b a")])
    out = bpe_encode_docs(df, [], ["a", "b"]).collect()[0]
    assert out["token_ids"] == [1, 0]


# --- mmr_rerank: zero-norm guard (ADVICE r06 #3) ----------------------------

def test_mmr_zero_norm_candidate_does_not_crash(spark):
    from cassandra_cql_streaming_db_migrator_spark.operators.similarity import (
        mmr_rerank,
    )

    # 6 unit-ish vectors plus one all-zero embedding; with k_candidates
    # covering the whole frame the zero-norm row reaches the greedy loop
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1]),
        Row(vec_id=2, embedding=[0.0, 0.0]),  # degenerate
        Row(vec_id=3, embedding=[0.5, 0.5]),
        Row(vec_id=4, embedding=[0.1, 0.9]),
    ]
    emb = spark.createDataFrame(rows)
    query = spark.createDataFrame([Row(embedding=[1.0, 0.0])])
    out = mmr_rerank(emb, query, k=4, k_candidates=5).collect()
    assert len(out) == 4
    # rank 1 is the most relevant non-degenerate match
    assert out[0]["rank"] == 1
    assert out[0]["vec_id"] == 0
    # the zero-norm row's cosine is NULL (0/0), so it never enters the pool
    assert 2 not in {r["vec_id"] for r in out}


# --- warehouse GC for pid-suffixed tables (ADVICE r06 #4) -------------------

def test_gc_stale_pid_tables_drops_dead_keeps_live(spark):
    from cassandra_cql_streaming_db_migrator_spark.sinks.bucketing import (
        gc_stale_pid_tables,
    )

    from cassandra_cql_streaming_db_migrator_spark.sinks import bucketing

    dead_pid = 2 ** 22 + 12345  # beyond pid_max default — never alive
    live = f"b_orders_gc_test_{os.getpid()}"
    dead = f"b_orders_gc_test_{dead_pid}"
    df = spark.createDataFrame([Row(o_orderkey=1)])
    for t in (live, dead):
        df.write.mode("overwrite").format("parquet").saveAsTable(t)
    # the sweep is once-per-process per prefix set (r13); this test
    # plants a dead table AFTER any earlier sweep, so reset the memo
    bucketing._GC_SWEPT.clear()
    try:
        dropped = gc_stale_pid_tables(spark, ["b_orders_gc_test_"])
        assert dropped >= 1
        names = {t.name for t in spark.catalog.listTables()}
        assert live in names
        assert dead not in names
    finally:
        for t in (live, dead):
            spark.sql(f"DROP TABLE IF EXISTS `{t}`")


def test_dagscheduler_accumulator_race_filter_attached(spark):
    # bench-tail hygiene (VERDICT r06): the benign localCheckpoint/
    # ContextCleaner accumulator race must not print ERROR lines into the
    # driver-captured tail.  The filter is message-precise and scoped to
    # the DAGScheduler logger — other DAGScheduler ERRORs still log.
    jvm = spark.sparkContext._jvm
    ctx = jvm.org.apache.logging.log4j.core.LoggerContext.getContext(False)
    name = "org.apache.spark.scheduler.DAGScheduler"
    logger_cfg = ctx.getConfiguration().getLoggerConfig(name)
    assert logger_cfg.getName() == name  # dedicated config, not root
    flt = logger_cfg.getFilter()
    assert flt is not None
    result = jvm.org.apache.logging.log4j.core.Filter.Result
    level_error = jvm.org.apache.logging.log4j.Level.ERROR
    # The race's message-level signature (ADVICE r07): the accumulator is
    # already freed, so DAGScheduler's class-name lookup falls back to the
    # literal "(Unknown class)".  A still-registered accumulator whose
    # update failed logs its REAL class name — that genuine failure must
    # keep printing.
    suppressed = flt.filter(
        None, level_error, None,
        "Failed to update accumulator 5 (Unknown class) for task 3.0",
    )
    kept_real = flt.filter(
        None, level_error, None,
        "Failed to update accumulator 5 "
        "(org.apache.spark.util.LongAccumulator) for task 3.0",
    )
    kept = flt.filter(None, level_error, None, "Job 7 failed: collect")
    assert str(suppressed) == "DENY"
    assert str(kept_real) == "NEUTRAL"
    assert str(kept) == "NEUTRAL"


def test_gc_ignores_unrelated_tables(spark):
    from cassandra_cql_streaming_db_migrator_spark.sinks.bucketing import (
        gc_stale_pid_tables,
    )

    from cassandra_cql_streaming_db_migrator_spark.sinks import bucketing

    other = "unrelated_gc_test_99999999"
    spark.createDataFrame([Row(x=1)]).write.mode("overwrite").format(
        "parquet"
    ).saveAsTable(other)
    try:
        bucketing._GC_SWEPT.clear()
        gc_stale_pid_tables(spark, ["b_orders_gc_test_"])
        names = {t.name for t in spark.catalog.listTables()}
        assert other in names
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{other}`")
