"""Seeded input generation for the two workloads.

Everything the engine sees in a benchmark run is written here, from the
workload seed alone: parquet tables, YAML job specs, one-file stream
chunks and the analytics query order.  The same seed gives byte-identical
files; a different seed gives different values at the same row counts, so
the amount of work per run does not depend on the seed.

Only numpy and pyarrow are used (no Spark), so generation is cheap and is
not billed to any metric.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts are derived from the TPC-H sf0.1 fixture sizes (lineitem
# ~600k rows from 150k orders, events 100k, ...) times a per-workload
# scale.  The stream chunk size is kept at 50k rows at every scale, so a
# microbatch does the same work as at sf0.1 (one chunk = one trigger) and
# only the number of chunks shrinks with the scale.
SF01_ROWS = {
    "orders": 150_000,  # lineitem: 4 lines per order on average
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
STREAM_CHUNK_ROWS = 50_000
STREAM_LI_CHUNKS_SF01 = 12
# Default share of sf0.1 per workload.  One run (set-up, a cold
# iteration, the measured iterations and the output checks) must stay
# near a minute on 4 cores (a migrate run at sf0.1 takes ~2 minutes).
# At 0.25 the per-layer shares stay close to sf0.1: addBatch ~0.85 of a
# trigger, the sink ~0.75 of a run_pipeline call.
DEFAULT_SCALE = {"migrate": 0.25, "analytics": 0.1}


def scaled(table: str, scale: float) -> int:
    return max(1, round(SF01_ROWS[table] * scale))


# The analytics query list: one or more registry queries per queries/
# module, covering TPC-H / join / window shapes, a graph loop, an Arrow
# text kernel, a corpus kernel and a registry streaming drain.
# jaccard_pairs is left out: its DuckDB oracle is an all-pairs self-join
# that alone takes ~8 s per run at this size, outside the timed phase but
# inside the run budget.
ANALYTICS_QUERIES = [
    "q1_pricing_summary",
    "join_large",
    "window_running",
    "link_prediction",
    "minhash_pairs",
    "decontaminate",
    "stream_tumbling_agg",
]

LINEITEM_KEYS = ["l_orderkey", "l_linenumber"]
COUNTER_KEYS = ["user_id", "event_type"]

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window index"
).split()
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["large", "hot", "small", "cold", "red", "blue", "steel", "brass"]
_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "spring"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01 UTC in microseconds
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC in microseconds


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, table): adding a table never
    shifts the values of another."""
    return np.random.default_rng([seed, sum(ord(c) * 31**i for i, c in enumerate(stream)) % 2**32])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    # cents / 100 is the correctly rounded double of the 2-decimal literal
    return rng.integers(lo_cents, hi_cents + 1, n) / 100.0


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


# ---------------------------------------------------------------------------
# Tables


def lineitem_table(rng: np.random.Generator, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    # 1..7 lines per order in a fixed pattern: the row count (the work)
    # is the same on every seed, the values are not
    lines = 1 + (np.arange(n_orders) * 5) % 7
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in lines])
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.integers(90_000, 210_000, n)) / 100.0
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    status = np.array(["F", "O"])[rng.integers(0, 2, n)]
    ship = _EPOCH_1995 + rng.integers(1, 2500, n) * _DAY_US
    return pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, n_part, n)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n)),
            "l_linenumber": pa.array(lnum),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(flags),
            "l_linestatus": pa.array(status),
            "l_shipdate": _ts(ship),
        }
    )


def orders_table(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(_money(rng, 90_000, 50_000_000, n)),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, n) * _DAY_US),
            "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n)]),
        }
    )


def events_table(rng: np.random.Generator, n: int, n_users: int, first_id: int = 0) -> pa.Table:
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, n)),
            "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(_money(rng, 1, 49_000, n)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over a small vocabulary, a fifth of them near-copies of
    an earlier document with one word, or one word in twelve, replaced —
    so the dedup and similarity kernels (Jaccard >= 0.9 among them) find
    real pairs."""
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split(" ")
            edits = 1 if rng.random() < 0.5 else max(1, len(words) // 12)
            for j in rng.integers(0, len(words), edits):
                words[j] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 100)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centers[label] + rng.normal(0.0, 0.8, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def star_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten fixture tables the registry queries read, at ``scale`` x sf0.1."""
    s = {t: scaled(t, scale) for t in SF01_ROWS}
    n_orders = s["orders"]
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
    }
    r = _rng(seed, "customer")
    n = s["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_money(r, -99_999, 999_999, n)),
            "c_mktsegment": pa.array(np.array(_SEGMENTS)[r.integers(0, 5, n)]),
        }
    )
    r = _rng(seed, "supplier")
    n = s["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": pa.array(_money(r, -99_999, 999_999, n)),
        }
    )
    r = _rng(seed, "part")
    n = s["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": pa.array(
                [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(r.integers(0, 8, n), r.integers(0, 8, n))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)]),
            "p_type": pa.array(np.array(_PTYPES)[r.integers(0, 6, n)]),
            "p_size": pa.array(r.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": pa.array((90_000 + (np.arange(n) % 1000) * 10) / 100.0),
        }
    )
    tables["orders"] = orders_table(_rng(seed, "orders"), n_orders, s["customer"])
    tables["lineitem"] = lineitem_table(_rng(seed, "lineitem"), n_orders, s["part"], s["supplier"])
    tables["events"] = events_table(_rng(seed, "events"), s["events"], 150)
    tables["documents"] = documents_table(_rng(seed, "documents"), s["documents"])
    tables["embeddings"] = embeddings_table(_rng(seed, "embeddings"), s["embeddings"])
    return tables


# ---------------------------------------------------------------------------
# Job specs (the reference's YAML field spellings)

LINEITEM_TRANSFORM = """
    keyColumns: [l_orderkey, l_linenumber]
    continueOnRowError: true
    whereClause: "l_quantity >= 3"
    dataFilters:
      - expression: "row.l_discount >= 0.01 && row.l_discount <= 0.09"
    calculatedColumns:
      part_bucket: "abs(row.l_partkey * 2654435761) % 64"
      net_price: "row.l_extendedprice * (1 - row.l_discount)"
    respectTTL: true
    sourceDefaultTTL: 86400
    targetDefaultTTL: 172800"""

SPECS = {
    # 1. initial load into an empty target (writes only)
    "initial_load": f"""
threadCount: 1
tables:
  - tableName: lineitem
    targetTableName: lineitem_v2
    simulateOnly: false{LINEITEM_TRANSFORM}
""",
    # 2. seeded slice upserted into the target job 1 wrote
    "incremental_upsert": f"""
threadCount: 1
tables:
  - tableName: lineitem_delta
    targetTableName: lineitem_v2
    simulateOnly: false{LINEITEM_TRANSFORM}
""",
    # 3. insert-if-not-exists against a target pre-seeded with half the keys
    "insert_if_not_exists": """
threadCount: 1
tables:
  - tableName: orders
    targetTableName: orders_v2
    simulateOnly: false
    keyColumns: [o_orderkey]
    continueOnRowError: true
    insertOnlyIfNotExist: true
    dataFilters:
      - expression: "row.o_orderstatus != 'P'"
""",
    # 4. counter-table additive merge
    "counter_merge": """
threadCount: 1
tables:
  - tableName: events
    targetTableName: event_counts
    simulateOnly: false
    keyColumns: [user_id, event_type]
    continueOnRowError: true
    counterColumns: [hits, weight]
    whereClause: "event_type != 'error'"
    calculatedColumns:
      hits: "1"
      weight: "row.user_id % 7 + 1"
""",
    # 5. dry run of two tables on a two-thread pool
    "dry_run": f"""
threadCount: 2
tables:
  - tableName: lineitem
    targetTableName: lineitem_dry
    simulateOnly: true{LINEITEM_TRANSFORM}
  - tableName: orders
    targetTableName: orders_dry
    simulateOnly: true
    keyColumns: [o_orderkey]
    continueOnRowError: true
    whereClause: "o_totalprice >= 1000.0"
""",
}

STREAM_LINEITEM_SPEC = {
    "tableName": "lineitem",
    "targetTableName": "lineitem_stream",
    "simulateOnly": False,
    "keyColumns": LINEITEM_KEYS,
    "continueOnRowError": True,
    "dataFilters": [{"expression": "row.l_discount <= 0.09"}],
    "calculatedColumns": {"net_price": "row.l_extendedprice * (1 - row.l_discount)"},
}
STREAM_COUNTER_SPEC = {
    "tableName": "events",
    "targetTableName": "event_counts_stream",
    "simulateOnly": False,
    "keyColumns": COUNTER_KEYS,
    "continueOnRowError": True,
    "counterColumns": ["hits"],
    "calculatedColumns": {"hits": "1"},
}


# ---------------------------------------------------------------------------
# Per-workload input sets


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def make_migrate_inputs(seed: int, root: str, scale: float = DEFAULT_SCALE["migrate"]) -> dict:
    d = _fresh_dir(root)
    n_orders, n_events = scaled("orders", scale), scaled("events", scale)
    n_part, n_supp, n_cust = scaled("part", scale), scaled("supplier", scale), scaled("customer", scale)
    li = lineitem_table(_rng(seed, "m.lineitem"), n_orders, n_part, n_supp)
    r = _rng(seed, "m.ttl")
    li = li.append_column("row_ttl_value", pa.array(r.integers(0, 86_400, li.num_rows).astype(np.int32)))
    _write(li, f"{d}/lineitem.parquet")

    # delta: a quarter of the existing keys with new values, plus new keys
    r = _rng(seed, "m.delta")
    pick = np.sort(r.choice(li.num_rows, li.num_rows // 4, replace=False))
    fresh = lineitem_table(r, n_orders // 20, n_part, n_supp)
    fresh = fresh.set_column(0, "l_orderkey", pa.array(fresh["l_orderkey"].to_numpy() + n_orders))
    changed = lineitem_table(r, n_orders, n_part, n_supp).slice(0, len(pick))
    changed = changed.set_column(0, "l_orderkey", li["l_orderkey"].take(pa.array(pick)))
    changed = changed.set_column(3, "l_linenumber", li["l_linenumber"].take(pa.array(pick)))
    delta = pa.concat_tables([changed, fresh])
    delta = delta.append_column(
        "row_ttl_value", pa.array(r.integers(0, 86_400, delta.num_rows).astype(np.int32))
    )
    _write(delta, f"{d}/lineitem_delta.parquet")

    orders = orders_table(_rng(seed, "m.orders"), n_orders, n_cust)
    _write(orders, f"{d}/orders.parquet")
    r = _rng(seed, "m.orders_seed")
    half = np.sort(r.choice(orders.num_rows, orders.num_rows // 2, replace=False))
    seeded = orders_table(r, orders.num_rows, n_cust).take(pa.array(half))
    seeded = seeded.set_column(0, "o_orderkey", orders["o_orderkey"].take(pa.array(half)))
    _write(seeded, f"{d}/orders_v2_seed.parquet")

    events = events_table(_rng(seed, "m.events"), n_events, 2_000)
    _write(events, f"{d}/events.parquet")
    r = _rng(seed, "m.counts_seed")
    users = np.sort(r.choice(2_000, 800, replace=False))
    counts = pa.table(
        {
            "user_id": pa.array(np.repeat(users, 2).astype(np.int64)),
            "event_type": pa.array(np.array(_EVENT_TYPES)[np.tile([0, 3], len(users))]),
            "hits": pa.array(r.integers(1, 50, 2 * len(users)).astype(np.int64)),
            "weight": pa.array(r.integers(1, 400, 2 * len(users)).astype(np.int64)),
        }
    )
    _write(counts, f"{d}/event_counts_seed.parquet")

    os.makedirs(f"{d}/specs")
    for name, text in SPECS.items():
        with open(f"{d}/specs/{name}.yaml", "w") as fh:
            fh.write(text.lstrip())
    return {"dir": d, "jobs": list(SPECS), "scale": scale, **_stream_chunks(seed, d, scale)}


def _stream_chunks(seed: int, d: str, scale: float) -> dict:
    """One-file arrival chunks for the streaming drains (one chunk = one
    microbatch, the reference's page): 50k-row lineitem chunks, 12 of them
    at sf0.1, drawn from the keys of a scaled lineitem table; the events
    table split into two or more chunks."""
    r = _rng(seed, "s.lineitem")
    pool = lineitem_table(r, scaled("orders", scale), scaled("part", scale), scaled("supplier", scale))
    keys_o = pool["l_orderkey"].to_numpy()
    keys_l = pool["l_linenumber"].to_numpy()
    os.makedirs(f"{d}/li_chunks")
    li_rows = 0
    li_chunk = min(STREAM_CHUNK_ROWS, len(keys_o) // 2)
    for i in range(max(2, round(STREAM_LI_CHUNKS_SF01 * scale))):
        # keys unique within a chunk, repeated across chunks
        pick = np.sort(r.choice(len(keys_o), li_chunk, replace=False))
        t = lineitem_table(r, li_chunk, scaled("part", scale), scaled("supplier", scale)).slice(0, li_chunk)
        t = t.set_column(0, "l_orderkey", pa.array(keys_o[pick]))
        t = t.set_column(3, "l_linenumber", pa.array(keys_l[pick]))
        _write(t, f"{d}/li_chunks/part-{i:04d}.parquet")
        li_rows += t.num_rows
    os.makedirs(f"{d}/ev_chunks")
    r = _rng(seed, "s.events")
    ev_rows = 0
    ev_chunk = min(STREAM_CHUNK_ROWS, scaled("events", scale) // 2)
    for i in range(scaled("events", scale) // ev_chunk):
        t = events_table(r, ev_chunk, 1_500, first_id=i * ev_chunk)
        _write(t, f"{d}/ev_chunks/part-{i:04d}.parquet")
        ev_rows += t.num_rows
    return {"li_rows": li_rows, "ev_rows": ev_rows}


def make_analytics_inputs(seed: int, root: str, scale: float = DEFAULT_SCALE["analytics"]) -> dict:
    d = _fresh_dir(root)
    sf = os.path.join(d, "sf")
    os.makedirs(sf)
    for name, table in star_tables(seed, scale).items():
        _write(table, f"{sf}/{name}.parquet")
    order = [ANALYTICS_QUERIES[i] for i in _rng(seed, "a.order").permutation(len(ANALYTICS_QUERIES))]
    with open(f"{d}/queries.json", "w") as fh:
        json.dump(order, fh)
    return {"dir": d, "sf_dir": sf, "queries": order, "scale": scale}


MAKERS = {"migrate": make_migrate_inputs, "analytics": make_analytics_inputs}
