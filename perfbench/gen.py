"""Seeded generator of the benchmark's input tables.

Writes the ten tables the query registry reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one
`<name>.parquet` file each) with the same column names, types and value
shapes as the library's test tables, so every registered query runs on
them unchanged.

Every value is a pure function of (seed, table, row, column) through
DuckDB's `hash`, so the same seed always writes the same bytes, on any
thread count.

`amplify` builds the 10x workload input: each replica shifts every key
that references another scaled table by `replica * (max(key) + 1)`, so a
replica's orders join only that replica's customers and per-replica join
and group cardinalities match a larger scale factor. Bounded dimensions
(nation, region) are not replicated. Replica document texts get a
per-replica token salt chosen by the seed, so shingles differ across
replicas the way a growing corpus does; embedding vectors are payload
and are copied as they are.
"""
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

TS = pa.timestamp("us")
SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", TS), ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", TS)],
    "events": [("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
               ("event_type", pa.string()), ("value", pa.float64()),
               ("props", pa.string())],
    "documents": [("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64())],
    "embeddings": [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}

VOCAB = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter key agg scan slow table part a "
         "merge window order column join vector").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def sizes(sf):
    """Row counts of the scaled tables at scale factor `sf`."""
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": max(1, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _sql_list(xs):
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


def table_sql(seed, sf):
    """One SELECT per table; `u(k)` is a uniform double in [0, 1) keyed on
    (seed, row, k)."""
    n = sizes(sf)
    u = lambda k: f"(hash(i, {seed}, {k}) % 1000000007) / 1000000007.0"
    pick = lambda k, m: f"CAST(hash(i, {seed}, {k}) % {m} AS BIGINT)"
    day = "TIMESTAMP '1995-01-01'"
    vocab, adj, noun = _sql_list(VOCAB), _sql_list(ADJ), _sql_list(NOUN)
    base_text = (f"array_to_string(list_transform(range(10 + {pick(1, 90)}), "
                 f"j -> {vocab}[1 + CAST(hash(i, j, {seed}, 2) % {len(VOCAB)} AS BIGINT)]), ' ')")
    return {
        "region": "SELECT CAST(i AS INTEGER) r_regionkey, "
                  "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] r_name "
                  "FROM range(5) t(i)",
        "nation": "SELECT CAST(i AS INTEGER) n_nationkey, 'NATION_' || i n_name, "
                  "CAST(i % 5 AS INTEGER) n_regionkey FROM range(25) t(i)",
        "customer": f"""SELECT i c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') c_name,
            CAST({pick(1, 25)} AS INTEGER) c_nationkey,
            round(-999.99 + {u(2)} * 10999.98, 2) c_acctbal,
            ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][1 + {pick(3, 5)}] c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') s_name,
            CAST({pick(11, 25)} AS INTEGER) s_nationkey,
            round(-999.99 + {u(12)} * 10999.98, 2) s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i p_partkey,
            {adj}[1 + {pick(21, len(ADJ))}] || ' ' || {noun}[1 + {pick(22, len(NOUN))}] p_name,
            'Brand#' || (1 + {pick(23, 25)}) p_brand,
            ['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD'][1 + {pick(24, 6)}] p_type,
            CAST(1 + {pick(25, 50)} AS INTEGER) p_size,
            900 + (i % 1000) / 10.0 p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i o_orderkey, {pick(31, n['customer'])} o_custkey,
            ['F','O','P'][1 + {pick(32, 3)}] o_orderstatus,
            round(1000 + {u(33)} * 499000, 2) o_totalprice,
            {day} + to_days(CAST({pick(34, 2404)} AS INTEGER)) o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][1 + {pick(35, 5)}] o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT {pick(41, n['orders'])} l_orderkey,
            {pick(42, n['part'])} l_partkey, {pick(43, n['supplier'])} l_suppkey,
            CAST(1 + {pick(44, 7)} AS INTEGER) l_linenumber,
            CAST(1 + {pick(45, 50)} AS DOUBLE) l_quantity,
            round(900 + {u(46)} * 104100, 2) l_extendedprice,
            {pick(47, 11)} / 100.0 l_discount, {pick(48, 9)} / 100.0 l_tax,
            ['A','N','R'][1 + {pick(49, 3)}] l_returnflag,
            ['F','O'][1 + {pick(50, 2)}] l_linestatus,
            {day} + to_days(CAST(1 + {pick(51, 2499)} AS INTEGER)) l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        # stratified timestamps: sorted by event_id, uniform over 30 days
        "events": f"""SELECT i event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(CAST(
              (i + {u(61)}) * (2592000000000.0 / {n['events']}) AS BIGINT)) ts,
            {pick(62, n['users'])} user_id,
            ['click','error','purchase','signup','view'][1 + {pick(63, 5)}] event_type,
            greatest(0.01, round(-50 * ln(1 - {u(64)}), 2)) AS value,
            '{{"k": ' || {pick(65, 100)} || '}}' props
            FROM range({n['events']}) t(i)""",
        # 5% of the documents repeat another document's text plus ' dup'
        "documents": f"""WITH base AS (SELECT i, {base_text} txt FROM range({n['documents']}) t(i)),
            d AS (SELECT b.i doc_id,
              CASE WHEN hash(b.i, {seed}, 4) % 20 = 0 THEN o.txt || ' dup' ELSE b.txt END AS text
              FROM base b JOIN base o ON o.i = CAST(hash(b.i, {seed}, 3) % {n['documents']} AS BIGINT))
            SELECT doc_id, text,
              CASE WHEN hash(doc_id, {seed}, 5) % 100 < 44 THEN 'en'
                   ELSE ['de','es','fr','zh'][1 + CAST(hash(doc_id, {seed}, 6) % 4 AS BIGINT)] END lang,
              'src' || (doc_id % 20) source, CAST(length(text) AS BIGINT) n_chars
            FROM d ORDER BY doc_id""",
        # unit-norm gaussian vectors (Box-Muller), uniform labels
        "embeddings": f"""WITH g AS (SELECT i, list_transform(range(64), j ->
              sqrt(-2 * ln(1 - (hash(i, j, {seed}, 71) % 1000000007) / 1000000007.0))
              * cos(2 * pi() * (hash(i, j, {seed}, 72) % 1000000007) / 1000000007.0)) v
              FROM range({n['embeddings']}) t(i))
            SELECT i vec_id,
              CAST(list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS FLOAT[]) embedding,
              CAST(hash(i, {seed}, 73) % 10 AS INTEGER) AS label
            FROM g""",
    }


def _write(con, sqls, name, out_dir):
    """Concatenate the results of `sqls` in order and write them as one
    parquet file with the table's exact arrow schema."""
    schema = pa.schema(SCHEMAS[name])
    parts = []
    for sql in sqls:
        tbl = con.sql(sql).arrow()
        if isinstance(tbl, pa.RecordBatchReader):
            tbl = tbl.read_all()
        parts.append(tbl.select([f.name for f in schema]).cast(schema))
    tbl = pa.concat_tables(parts)
    # one row group per million rows, like the library's test tables
    pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 20)


def generate(out_dir, seed, sf):
    """Write the ten tables at scale factor `sf` into `out_dir`."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, sql in table_sql(seed, sf).items():
        _write(con, [sql], name, out_dir)
    con.close()


def amplify(base_dir, out_dir, seed, factor):
    """Write a `factor`-times copy of `base_dir` with foreign-key-consistent
    key shifts; replica r > 0 salts every document token with a suffix
    chosen by (seed, r)."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{base_dir}/{t}.parquet')")
    shift = {k: con.sql(f"SELECT max({k}) + 1 FROM {t}").fetchone()[0] for k, t in [
        ("c_custkey", "customer"), ("o_orderkey", "orders"), ("s_suppkey", "supplier"),
        ("p_partkey", "part"), ("event_id", "events"), ("doc_id", "documents"),
        ("vec_id", "embeddings")]}
    # events.user_id joins c_custkey, so it moves with the customer step
    keys = {
        "customer": {"c_custkey": shift["c_custkey"]},
        "supplier": {"s_suppkey": shift["s_suppkey"]},
        "part": {"p_partkey": shift["p_partkey"]},
        "orders": {"o_orderkey": shift["o_orderkey"], "o_custkey": shift["c_custkey"]},
        "lineitem": {"l_orderkey": shift["o_orderkey"], "l_partkey": shift["p_partkey"],
                     "l_suppkey": shift["s_suppkey"]},
        "events": {"event_id": shift["event_id"], "user_id": shift["c_custkey"]},
        "documents": {"doc_id": shift["doc_id"]},
        "embeddings": {"vec_id": shift["vec_id"]},
    }
    for t in TABLES:
        cols = [name for name, _ in SCHEMAS[t]]
        if t not in keys:
            _write(con, [f"SELECT * FROM {t}"], t, out_dir)
            continue
        parts = []
        for r in range(factor):
            salt = f"'_' || (hash({seed}, {r}, 91) % 1000000)"
            salted = f"array_to_string(list_transform(string_split(text, ' '), w -> w || {salt}), ' ')"
            proj = []
            for c in cols:
                if c in keys[t]:
                    proj.append(f"{c} + {r * keys[t][c]} AS {c}")
                elif t == "documents" and r > 0 and c == "text":
                    proj.append(f"{salted} AS text")
                elif t == "documents" and r > 0 and c == "n_chars":
                    proj.append(f"CAST(length({salted}) AS BIGINT) AS n_chars")
                else:
                    proj.append(c)
            parts.append(f"SELECT {', '.join(proj)} FROM {t}")
        _write(con, parts, t, out_dir)
    con.close()
