"""Output checks, run outside the op timings.

Migrate and stream targets are compared with a DuckDB recomputation from
the same generated inputs: last writer wins for upserts, anti-join for
insert-if-not-exists, sums for counters.  Every ``TableRunResult`` must
satisfy the reference's conservation rule rows_read = passed + filtered +
failed.  Analytics results are compared with each query's DuckDB oracle
using the strict ``canon``/``rowset`` compare of
``tools/check_correctness.py``.

Each check returns a list of problems; an empty list means correct.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow.parquet as pq

# The lineitem transform of the migrate specs, in SQL (written by hand, not
# by the engine's MVEL translator, so the check is independent of it).
_LI_FILTER = "l_quantity >= 3 AND l_discount >= 0.01 AND l_discount <= 0.09"
_LI_COLUMNS = (
    "*, abs(l_partkey * 2654435761) % 64 AS part_bucket, "
    "l_extendedprice * (1 - l_discount) AS net_price, "
    "CAST(172800 - (86400 - row_ttl_value) AS INTEGER) AS target_ttl"
)
_LI_KEYS = "l_orderkey, l_linenumber"


def _pq(path: str) -> str:
    """DuckDB source for a parquet file or a directory of part files."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}')"


# One DuckDB connection per process.  Expected results read only the
# generated inputs, which do not change during a run, so each is computed
# once and kept as a table; every check still reads its target afresh.
_con = None
_expected_tables: dict[str, str] = {}
_counts: dict[str, int] = {}


def _connection():
    global _con
    if _con is None:
        _con = duckdb.connect()
        _con.execute("SET enable_progress_bar = false")
    return _con


def _expected(sql: str) -> str:
    """Name of the table holding the rows of ``sql``."""
    name = _expected_tables.get(sql)
    if name is None:
        name = f"expected_{len(_expected_tables)}"
        _connection().execute(f"CREATE TEMP TABLE {name} AS {sql}")
        _expected_tables[sql] = name
    return name


def _same_rows(expected_sql: str, target: str, label: str) -> list[str]:
    """Multiset equality of the target and the expected rows, by column name."""
    if not glob.glob(os.path.join(target, "*.parquet")):
        return [f"{label}: target {os.path.basename(target)} missing"]
    con, table = _connection(), _expected(expected_sql)
    cols = [d[0] for d in con.execute(f"SELECT * FROM {table} LIMIT 0").description]
    got = {d[0] for d in con.execute(f"SELECT * FROM {_pq(target)} LIMIT 0").description}
    if got != set(cols):
        return [f"{label}: columns {sorted(got)} != expected {sorted(cols)}"]
    sel = ", ".join(cols)
    exp = f"SELECT {sel} FROM {table}"
    tgt = f"SELECT {sel} FROM {_pq(target)}"
    n_exp = _count(expected_sql)
    n_tgt = con.execute(f"SELECT count(*) FROM ({tgt})").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM ({exp} EXCEPT ALL {tgt})").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM ({tgt} EXCEPT ALL {exp})").fetchone()[0]
    if n_exp != n_tgt or missing or extra:
        return [f"{label}: {n_tgt} rows vs {n_exp} expected, {missing} missing, {extra} unexpected"]
    return []


def conservation(results) -> list[str]:
    out = []
    for r in results:
        if r.rows_read != r.rows_passed_filter + r.rows_filtered + r.rows_failed:
            out.append(
                f"{r.table}: rows_read {r.rows_read} != passed {r.rows_passed_filter} "
                f"+ filtered {r.rows_filtered} + failed {r.rows_failed}"
            )
    return out


def _count(sql: str) -> int:
    if sql not in _counts:
        _counts[sql] = _connection().execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    return _counts[sql]


def expected_migrate(job: str, src: str) -> dict:
    """Expected target SQL (or None for the dry run) plus expected per-table
    (rows_read, rows_passed, rows_migrated)."""
    li = f"SELECT {_LI_COLUMNS} FROM {_pq(src + '/lineitem.parquet')} WHERE {_LI_FILTER}"
    delta = f"SELECT {_LI_COLUMNS} FROM {_pq(src + '/lineitem_delta.parquet')} WHERE {_LI_FILTER}"
    orders = f"{_pq(src + '/orders.parquet')}"
    seed = f"{_pq(src + '/orders_v2_seed.parquet')}"
    new_orders = (
        f"SELECT o.* FROM {orders} o ANTI JOIN {seed} s USING (o_orderkey) "
        "WHERE o.o_orderstatus != 'P'"
    )
    deltas = (
        f"SELECT user_id, event_type, count(*) AS hits, sum(user_id % 7 + 1) AS weight "
        f"FROM {_pq(src + '/events.parquet')} WHERE event_type != 'error' GROUP BY ALL"
    )
    counts = f"{_pq(src + '/event_counts_seed.parquet')}"
    if job == "initial_load":
        return {"target": ("lineitem_v2", li), "rows": {"lineitem": (
            f"SELECT * FROM {_pq(src + '/lineitem.parquet')} WHERE l_quantity >= 3", li, li)}}
    if job == "incremental_upsert":
        merged = (
            f"SELECT t.* FROM ({li}) t ANTI JOIN ({delta}) d USING ({_LI_KEYS}) "
            f"UNION ALL {delta}"
        )
        return {"target": ("lineitem_v2", merged), "rows": {"lineitem_delta": (
            f"SELECT * FROM {_pq(src + '/lineitem_delta.parquet')} WHERE l_quantity >= 3",
            delta, delta)}}
    if job == "insert_if_not_exists":
        return {
            "target": ("orders_v2", f"SELECT * FROM {seed} UNION ALL {new_orders}"),
            "rows": {"orders": (f"SELECT * FROM {orders}", new_orders, new_orders)},
        }
    if job == "counter_merge":
        merged = (
            f"SELECT user_id, event_type, coalesce(c.hits, 0) + coalesce(d.hits, 0) AS hits, "
            f"coalesce(c.weight, 0) + coalesce(d.weight, 0) AS weight "
            f"FROM {counts} c FULL OUTER JOIN ({deltas}) d USING (user_id, event_type)"
        )
        return {"target": ("event_counts", merged), "rows": {"events": (
            f"SELECT * FROM {_pq(src + '/events.parquet')} WHERE event_type != 'error'",
            deltas, deltas)}}
    if job == "dry_run":
        orders_read = f"SELECT * FROM {orders} WHERE o_totalprice >= 1000.0"
        return {"target": None, "rows": {
            "lineitem": (f"SELECT * FROM {_pq(src + '/lineitem.parquet')} WHERE l_quantity >= 3", li, li),
            "orders": (orders_read, orders_read, orders_read),
        }}
    raise ValueError(job)


def check_migrate_job(job: str, src: str, tgt: str, results) -> list[str]:
    exp = expected_migrate(job, src)
    problems = conservation(results)
    for r in results:
        read_sql, passed_sql, migrated_sql = exp["rows"][r.table]
        want = (_count(read_sql), _count(passed_sql), _count(migrated_sql))
        got = (r.rows_read, r.rows_passed_filter, r.rows_migrated)
        if got != want or r.rows_failed:
            problems.append(f"{job}/{r.table}: read/passed/migrated {got} != {want}")
        if r.simulated and os.path.exists(os.path.join(tgt, r.target)):
            problems.append(f"{job}/{r.table}: dry run wrote {r.target}")
    if exp["target"] is not None:
        name, sql = exp["target"]
        problems += _same_rows(sql, os.path.join(tgt, name), job)
    return problems


def expected_stream(kind: str, chunk_dir: str) -> str:
    chunks = f"read_parquet('{chunk_dir}/*.parquet', filename = true)"
    if kind == "upsert":
        # last writer wins in chunk (arrival) order, among rows that pass
        # the spec's filter
        return (
            "SELECT * EXCLUDE (filename, chunk), l_extendedprice * (1 - l_discount) AS net_price "
            f"FROM (SELECT *, filename AS chunk FROM {chunks} WHERE l_discount <= 0.09) "
            f"QUALIFY row_number() OVER (PARTITION BY {_LI_KEYS} ORDER BY chunk DESC) = 1"
        )
    return (
        f"SELECT user_id, event_type, count(*) AS hits FROM {chunks} GROUP BY ALL"
    )


def check_stream_drain(kind: str, chunk_dir: str, target: str) -> list[str]:
    return _same_rows(expected_stream(kind, chunk_dir), target, f"stream {kind}")


def parquet_bytes_per_row(path: str) -> float:
    files = glob.glob(os.path.join(path, "*.parquet")) if os.path.isdir(path) else [path]
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return sum(os.path.getsize(f) for f in files) / max(rows, 1)


def check_queries(registry: dict, sf_dir: str, collected: dict[str, dict]) -> dict[str, str]:
    """Strict oracle compare of each collected result (``{"columns":
    sorted names, "rows": values in that order}``); returns the problem
    per failing query."""
    from cassandra_cql_streaming_db_migrator_spark.sources.parquet import TABLES
    from tools.check_correctness import rowset

    out: dict[str, str] = {}
    with duckdb.connect() as con:
        con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name, got in collected.items():
            q, srows = registry[name], got["rows"]
            if q.oracle is None:
                if not srows:
                    out[name] = "no rows"
                continue
            cur = con.execute(q.oracle)
            ocols = [d[0] for d in cur.description]
            order = sorted(range(len(ocols)), key=lambda i: ocols[i])
            orows = [[r[i] for i in order] for r in cur.fetchall()]
            if got["columns"] != sorted(ocols):
                out[name] = f"columns {got['columns']} != oracle {sorted(ocols)}"
            elif len(srows) != len(orows):
                out[name] = f"rowcount {len(srows)} != oracle {len(orows)}"
            elif rowset(srows) != rowset(orows):
                out[name] = "values differ from the oracle"
    return out
