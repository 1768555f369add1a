"""Seeded input generator for the benchmark.

Writes the star-schema parquet tables the program reads (`graft.Tables`:
region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) with the column names and types of the program's
test data, scaled by `sf`. Every value is a pure function of
(seed, row index, column), computed with DuckDB's `hash`, so one seed
gives byte-identical tables whatever the thread count.
"""
import os

import duckdb

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
PART_WORDS_A = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
PART_WORDS_B = ["bolt", "gear", "plate", "ring", "rod", "widget", "anvil",
                "nut"]


def _macros(con, seed):
    # u(i, salt): uniform double in [0, 1) keyed by seed, row and column
    con.execute(f"CREATE MACRO u(i, salt) AS "
                f"(hash(i, salt, {int(seed)}) % 1000000007) / 1000000007.0")
    con.execute("CREATE MACRO ri(i, salt, n) AS CAST(floor(u(i, salt) * n) AS BIGINT)")


def _sizes(sf):
    return {
        "customer": max(150, int(150000 * sf)),
        "supplier": max(10, int(10000 * sf)),
        "part": max(200, int(200000 * sf)),
        "orders": max(1500, int(1500000 * sf)),
        "lineitem": max(6000, int(6000000 * sf)),
        "events": max(1000, int(1000000 * sf)),
        "documents": max(50, int(50000 * sf)),
        "embeddings": max(200, int(20000 * sf)),
    }


def generate(out_dir, seed, sf, tables=None, lineitem_rows=None, null_flag_share=0.0):
    """Write `<table>.parquet` files under out_dir; returns {table: rows}.

    `null_flag_share` of the lineitem rows get a NULL `l_returnflag`; the
    program's test data has none, and the oracles of the queries that
    group by it assume so (DuckDB sorts NULLs last, Spark first).
    """
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    _macros(con, seed)
    n = _sizes(sf)
    if lineitem_rows:
        n["lineitem"] = lineitem_rows
    n_orders = n["orders"]
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    pa = "[" + ", ".join(f"'{w}'" for w in PART_WORDS_A) + "]"
    pb = "[" + ", ".join(f"'{w}'" for w in PART_WORDS_B) + "]"
    segs = "['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']"
    sql = {
        "region": """SELECT CAST(i AS INTEGER) AS r_regionkey,
            ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) AS n_nationkey,
            'NATION_' || i AS n_name, CAST(i % 5 AS INTEGER) AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey,
            'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
            CAST(ri(i, 1, 25) AS INTEGER) AS c_nationkey,
            round(-999.99 + u(i, 2) * 10999.0, 2) AS c_acctbal,
            {segs}[ri(i, 3, 5) + 1] AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey,
            'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
            CAST(ri(i, 11, 25) AS INTEGER) AS s_nationkey,
            round(-999.99 + u(i, 12) * 10999.0, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            {pa}[ri(i, 21, 8) + 1] || ' ' || {pb}[ri(i, 22, 8) + 1] AS p_name,
            'Brand#' || (ri(i, 23, 25) + 1) AS p_brand,
            ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'][ri(i, 24, 6) + 1] AS p_type,
            CAST(ri(i, 25, 50) + 1 AS INTEGER) AS p_size,
            round(900.0 + (i % 1000) / 10.0, 1) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, ri(i, 31, {n['customer']}) AS o_custkey,
            ['F', 'O', 'P'][ri(i, 32, 3) + 1] AS o_orderstatus,
            round(1000.0 + u(i, 33) * 499000.0, 2) AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(CAST(ri(i, 34, 2405) AS INTEGER)) AS o_orderdate,
            ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'][ri(i, 35, 5) + 1] AS o_orderpriority
            FROM range({n_orders}) t(i)""",
        "lineitem": f"""SELECT ri(i, 41, {n_orders}) AS l_orderkey,
            ri(i, 42, {n['part']}) AS l_partkey,
            ri(i, 43, {n['supplier']}) AS l_suppkey,
            CAST(ri(i, 44, 7) + 1 AS INTEGER) AS l_linenumber,
            CAST(ri(i, 45, 50) + 1 AS DOUBLE) AS l_quantity,
            round(900.0 + u(i, 46) * 104099.0, 2) AS l_extendedprice,
            ri(i, 47, 11) / 100.0 AS l_discount,
            ri(i, 48, 9) / 100.0 AS l_tax,
            CASE WHEN u(i, 49) < {null_flag_share} THEN NULL
                 ELSE ['A', 'N', 'R'][ri(i, 50, 3) + 1] END AS l_returnflag,
            ['F', 'O'][ri(i, 51, 2) + 1] AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(CAST(ri(i, 52, 2497) AS INTEGER)) AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "events": f"""SELECT i AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(CAST(floor(u(i, 61) * 2592000000000) AS BIGINT)) AS ts,
            ri(i, 62, {max(10, n['customer'] // 10)}) AS user_id,
            ['click', 'error', 'purchase', 'signup', 'view'][ri(i, 63, 5) + 1] AS event_type,
            round(u(i, 64) * 560.0, 2) AS value,
            '{{"k": ' || ri(i, 65, 100) || '}}' AS props
            FROM range({n['events']}) t(i)""",
        # the last tenth of the documents repeat an earlier text, half of
        # them with a trailing token, so exact and near-duplicate
        # detection both have work
        "documents": f"""WITH base AS (
              SELECT i, CASE WHEN i >= {n['documents'] * 9 // 10}
                             THEN ri(i, 71, {n['documents'] * 9 // 10}) ELSE i END AS src_i
              FROM range({n['documents']}) t(i)),
            words AS (
              SELECT i, src_i, string_agg({vocab}[ri(src_i * 131 + j, 73, {len(VOCAB)}) + 1], ' ' ORDER BY j) AS w
              FROM base, range(100) r(j)
              WHERE j < 10 + ri(src_i, 72, 91)
              GROUP BY i, src_i),
            txt AS (
              SELECT i, src_i,
                w || CASE WHEN i <> src_i AND i % 2 = 0 THEN ' dup' ELSE '' END AS text
              FROM words)
            SELECT i AS doc_id, text,
              ['en', 'en', 'en', 'zh', 'de', 'fr', 'es'][ri(i, 74, 7) + 1] AS lang,
              'src' || ri(i, 75, 20) AS source,
              CAST(length(text) AS BIGINT) AS n_chars
            FROM txt ORDER BY i""",
        "embeddings": f"""WITH raw AS (
              SELECT i, ri(i, 81, 10) AS label,
                list_transform(range(64), j ->
                  (u(ri(i, 81, 10) * 64 + j, 82) - 0.5)
                  + 0.35 * (u(i * 64 + j, 83) - 0.5)) AS v
              FROM range({n['embeddings']}) t(i))
            SELECT i AS vec_id,
              CAST(list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS FLOAT[]) AS embedding,
              CAST(label AS INTEGER) AS label
            FROM raw ORDER BY i""",
    }
    rows = {}
    for t in tables or sql:
        path = os.path.join(out_dir, f"{t}.parquet")
        con.execute(f"COPY ({sql[t]}) TO '{path}' (FORMAT PARQUET)")
        rows[t] = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    con.close()
    return rows
