"""Seeded input generator of the benchmark.

Writes the TESTDATA parquet layout (one file per table) for the batch
workloads, mirroring the value distributions of graft's `GenScale` with the
seed mixed into every hash, and the changelog feed of the streaming workload.
The same seed always gives the same files. graft only ever sees these files.

    python3 perfbench/gen.py --workload cdc_batch_olap --seed 1 --out /tmp/in
"""
import argparse
import json
import os
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table cardinalities of sf0.1 (GenScale's unit); the batch workloads run at
# TABLE_MULT of them. Documents and embeddings keep the 500-row floor that
# the small testdata scales use.
TABLE_MULT = 0.1
N_DOCS = 500
N_VECS = 500

# Streaming feed (cdc_stream_upsert). Files arrive every FILE_INTERVAL_MS
# with ROWS_PER_FILE changes each; keys follow a Zipf(ZIPF_S) law over KEYS
# keys; every REDELIVER_EVERY-th file is an at-least-once redelivery of an
# earlier file; the outage leaves BACKLOG_FILES files behind. The measured
# feed (--seconds long) follows WARMUP_MS of the same feed, unmeasured: the
# first few micro-batches at full rate run 2-4x slower while the JIT warms,
# and the next ones keep getting faster for about 10 s more.
FILE_INTERVAL_MS = 50
WARMUP_MS = 10000
ROWS_PER_FILE = 100
KEYS = 200_000
ZIPF_S = 1.05
REDELIVER_EVERY = 10
BACKLOG_FILES = 300
EVENTS_BASE_US = 1704067200000000  # 2024-01-01T00:00:00Z

SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
                 ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
                 ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
             ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
               ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
                 ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
                 ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
                 ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
                 ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us"))],
    "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
               ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())],
    "documents": [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())],
    "embeddings": [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}

CHANGE_SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.int64()), ("user_id", pa.int64()),
                           ("op", pa.string()), ("value", pa.float64())])

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
OPS = {"signup": "INSERT", "error": "DELETE"}


def _sql_list(words):
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _table_sql(seed: int):
    """DuckDB SELECTs of GenScale's tables; h(...) mixes the seed into every
    hash and pm(x, n) is its non-negative remainder."""
    m = TABLE_MULT
    n_cust, n_supp, n_part = int(15000 * m), int(1000 * m), int(20000 * m)
    n_orders, n_events = int(150000 * m), int(100000 * m)

    def h(*args):
        return "hash(" + ", ".join([f"{seed}::BIGINT"] + [f"({a})::BIGINT" for a in args]) + ")"

    def pm(expr, n):
        return f"(({expr}) % {n})::BIGINT"

    def pick(words, expr):
        return f"{_sql_list(words)}[{pm(expr, len(words))} + 1]"

    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    adjs = ["large", "hot", "blue", "small", "dark", "light", "round", "flat"]
    nouns = ["ring", "bolt", "gear", "cog", "pin", "rod", "cap", "nut"]
    types = ["ECONOMY", "SMALL", "LARGE", "STANDARD", "PROMO", "MEDIUM"]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    lk = ("l_orderkey", "l_linenumber")
    return {
        "region": "SELECT range AS r_regionkey, "
                  "['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][range + 1] AS r_name "
                  "FROM range(5)",
        "nation": "SELECT range AS n_nationkey, 'NATION_' || range AS n_name, "
                  "range % 5 AS n_regionkey FROM range(25)",
        "customer": f"""SELECT range AS c_custkey, printf('Customer#%09d', range) AS c_name,
            {pm(h('range', 1), 25)} AS c_nationkey,
            round({pm(h('range', 2), 1100000)} / 100.0 - 1000.0, 2) AS c_acctbal,
            {pick(segs, h('range', 3))} AS c_mktsegment FROM range({n_cust})""",
        "supplier": f"""SELECT range AS s_suppkey, printf('Supplier#%09d', range) AS s_name,
            {pm(h('range', 4), 25)} AS s_nationkey,
            round({pm(h('range', 5), 1100000)} / 100.0 - 1000.0, 2) AS s_acctbal
            FROM range({n_supp})""",
        "part": f"""SELECT range AS p_partkey,
            {pick(adjs, h('range', 6))} || ' ' || {pick(nouns, h('range', 7))} AS p_name,
            'Brand#' || ({pm(h('range', 8), 25)} + 1) AS p_brand,
            {pick(types, h('range', 9))} AS p_type,
            {pm(h('range', 10), 50)} + 1 AS p_size,
            round(900.0 + {pm(h('range', 11), 1000)} / 10.0, 2) AS p_retailprice
            FROM range({n_part})""",
        "orders": f"""SELECT range AS o_orderkey, {pm(h('range', 12), n_cust)} AS o_custkey,
            {pick(['O', 'P', 'F'], h('range', 13))} AS o_orderstatus,
            round(1000.0 + {pm(h('range', 14), 49900000)} / 100.0, 2) AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days({pm(h('range', 15), 2404)}::INTEGER) AS o_orderdate,
            {pick(prios, h('range', 16))} AS o_orderpriority
            FROM range({n_orders})""",
        "lineitem": f"""WITH l AS (
              SELECT range AS l_orderkey,
                     unnest(range(1, {pm(h('range', 17), 7)} + 2)) AS l_linenumber
              FROM range({n_orders}))
            SELECT l_orderkey, {pm(h(*lk, 18), n_part)} AS l_partkey,
              {pm(h(*lk, 19), n_supp)} AS l_suppkey, l_linenumber,
              ({pm(h(*lk, 20), 50)} + 1)::DOUBLE AS l_quantity,
              round(900.0 + {pm(h(*lk, 21), 10410000)} / 100.0, 2) AS l_extendedprice,
              {pm(h(*lk, 22), 11)} / 100.0 AS l_discount,
              {pm(h(*lk, 23), 9)} / 100.0 AS l_tax,
              {pick(['A', 'N', 'R'], h(*lk, 24))} AS l_returnflag,
              {pick(['O', 'P'], h(*lk, 25))} AS l_linestatus,
              TIMESTAMP '1995-01-01' + to_days({pm(h(*lk, 26), 2500)}::INTEGER) AS l_shipdate
            FROM l""",
        "events": f"""SELECT range AS event_id,
            make_timestamp({EVENTS_BASE_US} + {pm(h('range', 27), 30 * 86400 * 1000000)}) AS ts,
            {pm(h('range', 28), n_cust // 10)} AS user_id,
            {pick(EVENT_TYPES, h('range', 29))} AS event_type,
            round(least(560.0, -50.0 * ln(({pm(h('range', 30), 100000)} + 1) / 100000.0)), 6)
              AS value,
            printf('{{"k": %d}}', {pm(h('range', 31), 100)}) AS props
            FROM range({n_events})""",
        "documents": f"""WITH d AS (
              SELECT range AS doc_id,
                array_to_string(list_transform(
                  range(1, {pm(h('range', 33), 90)} + 11),
                  i -> {_sql_list(VOCAB)}[(hash({seed}::BIGINT, range, i, 34::BIGINT) % 31)::BIGINT + 1]),
                  ' ') AS text,
                {pm(h('range', 32), 20)} AS lang_sel,
                'src' || {pm(h('range', 35), 20)} AS source
              FROM range({N_DOCS}))
            SELECT doc_id, text,
              CASE WHEN lang_sel < 8 THEN 'en' WHEN lang_sel < 11 THEN 'de'
                   WHEN lang_sel < 14 THEN 'es' WHEN lang_sel < 17 THEN 'fr' ELSE 'zh' END AS lang,
              source, length(text) AS n_chars
            FROM d""",
        "embeddings": f"""SELECT range AS vec_id,
            list_transform(range(0, 64), dd ->
              ((((hash({seed}::BIGINT, range % 10, dd, 36::BIGINT) % 2001)::BIGINT - 1000) / 1000.0) * 0.05
               + (((hash({seed}::BIGINT, range, dd, 37::BIGINT) % 2001)::BIGINT - 1000) / 1000.0) * 0.25
              )::FLOAT) AS embedding,
            (range % 10)::INTEGER AS label
            FROM range({N_VECS})""",
    }


WORKLOAD_TABLES = {
    "cdc_batch_olap": ["region", "nation", "customer", "supplier", "part", "orders",
                       "lineitem", "events"],
    "llm_dedup_ann": ["documents", "embeddings", "events"],
}


def _write(tbl: pa.Table, name: str, path: Path):
    schema = pa.schema(SCHEMAS[name])
    pq.write_table(tbl.select(schema.names).cast(schema), path)


def gen_tables(workload: str, seed: int, out: Path) -> dict:
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    sqls = _table_sql(seed)
    rows = {}
    for name in WORKLOAD_TABLES[workload]:
        tbl = con.execute(sqls[name]).arrow()
        _write(tbl, name, out / f"{name}.parquet")
        rows[name] = tbl.num_rows
    return rows


def gen_feed(seed: int, seconds: int, out: Path) -> dict:
    """Changelog feed of cdc_stream_upsert: staged change files plus a
    manifest (name, kind, due_ms, rows) and the fed changelog as an
    `events` table. Event ids (and timestamps) rise with delivery order."""
    rng = np.random.default_rng(seed)
    staged = out / "staged"
    staged.mkdir(parents=True, exist_ok=True)
    n_steady = max(1, seconds * 1000 // FILE_INTERVAL_MS)
    ranks = np.arange(1, KEYS + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -ZIPF_S)
    cdf /= cdf[-1]
    key_of_rank = rng.permutation(KEYS).astype(np.int64)
    type_names = np.array(EVENT_TYPES, dtype=object)
    op_of_type = np.array([OPS.get(e, "UPDATE") for e in EVENT_TYPES], dtype=object)

    def changes(first_id: int, n: int) -> pa.Table:
        ids = np.arange(first_id, first_id + n, dtype=np.int64)
        rank = np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), KEYS - 1)
        users = key_of_rank[rank]
        types = rng.integers(0, len(EVENT_TYPES), size=n)
        cents = rng.integers(0, 56000, size=n)
        ts = EVENTS_BASE_US + ids * 1000 + rng.integers(0, 1000, size=n)
        return pa.table({
            "event_id": ids, "ts": ts, "user_id": users,
            "event_type": pa.array(type_names[types], pa.string()),
            "op": pa.array(op_of_type[types], pa.string()), "value": cents / 100.0,
        })

    def to_change(t: pa.Table) -> pa.Table:
        return t.select(CHANGE_SCHEMA.names).cast(CHANGE_SCHEMA)

    manifest, originals, fed = [], [], []
    next_id = 0

    def emit(kind: str, due_ms: int, tbl: pa.Table):
        name = f"{len(manifest):05d}-{kind}-due{due_ms}.parquet"
        pq.write_table(to_change(tbl), staged / name)
        manifest.append({"name": name, "kind": kind, "due_ms": due_ms, "rows": tbl.num_rows})

    def fresh(kind: str, due_ms: int):
        nonlocal next_id
        tbl = changes(next_id, ROWS_PER_FILE)
        next_id += ROWS_PER_FILE
        fed.append(tbl)
        if kind == "steady":
            originals.append(tbl)
        emit(kind, due_ms, tbl)

    fresh("warm", 0)
    n_warmup = WARMUP_MS // FILE_INTERVAL_MS
    for i in range(n_warmup + n_steady):
        due = i * FILE_INTERVAL_MS
        if i < n_warmup:
            fresh("warmup", due)
        elif i % REDELIVER_EVERY == REDELIVER_EVERY - 1 and originals:
            emit("redeliver", due, originals[int(rng.integers(0, len(originals)))])
        else:
            fresh("steady", due)
    for _ in range(BACKLOG_FILES):
        fresh("backlog", 0)

    events = pa.concat_tables(fed)
    fed_dir = out / "fed"
    fed_dir.mkdir(exist_ok=True)
    ts = pa.array(events["ts"].to_numpy(), pa.timestamp("us"))
    props = pa.array([f'{{"k": {v % 100}}}' for v in events["event_id"].to_pylist()], pa.string())
    _write(pa.table({"event_id": events["event_id"], "ts": ts, "user_id": events["user_id"],
                     "event_type": events["event_type"], "value": events["value"],
                     "props": props}), "events", fed_dir / "events.parquet")
    with open(out / "manifest.tsv", "w") as f:
        for e in manifest:
            f.write(f"{e['name']}\t{e['kind']}\t{e['due_ms']}\t{e['rows']}\n")
    kinds = {}
    for e in manifest:
        kinds[e["kind"]] = kinds.get(e["kind"], 0) + 1
    return {"files": kinds, "fed_events": events.num_rows, "keys": KEYS}


def generate(workload: str, seed: int, seconds: int, out: Path) -> dict:
    if workload == "cdc_stream_upsert":
        return gen_feed(seed, seconds, out)
    return gen_tables(workload, seed, out)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.seconds, Path(os.path.abspath(a.out)))))
