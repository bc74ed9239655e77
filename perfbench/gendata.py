"""Deterministic input tables for the benchmark, written with DuckDB.

The ten tables have the schemas and value domains of the engine's
catalogue data (TPC-H-like star schema, an events stream, documents
and their embeddings), at roughly a 0.01 scale factor: 60k lineitem
rows, 500 documents. Every value is a hash of (row, column salt,
data seed), so the same seed always yields byte-identical tables.
"""
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# rows per table
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "events": 10000, "documents": 500}
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DIM = 64


def sql_list(xs):
    return "[" + ",".join("'" + x + "'" for x in xs) + "]"


def generate(out_dir, seed):
    """Write <table>.parquet for every table under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=1")
    # u(row, salt): uniform in [0, 1), a pure function of its arguments
    con.execute(f"""CREATE MACRO u(i, salt) AS
        (hash(CAST(i AS BIGINT) * 1000003 + salt * 7919 + {int(seed)} * 104729)
         % 1000000007) / 1000000007.0""")
    con.execute("CREATE MACRO pick(xs, x) AS xs[1 + CAST(floor(x * len(xs)) AS INTEGER)]")
    n = SIZES
    ddl = {
        "region": """SELECT CAST(i AS INTEGER) AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
            CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
            CAST(floor(u(i, 1) * 25) AS INTEGER) AS c_nationkey,
            round(-999.99 + u(i, 2) * 10999.98, 2) AS c_acctbal,
            pick(['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'], u(i, 3)) AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
            CAST(floor(u(i, 4) * 25) AS INTEGER) AS s_nationkey,
            round(-999.99 + u(i, 5) * 10999.98, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            pick(['blue','cold','hot','large','new','old','red','small'], u(i, 6)) || ' ' ||
            pick(['anvil','bolt','gear','gizmo','plate','ring','rod','widget'], u(i, 7)) AS p_name,
            'Brand#' || CAST(1 + floor(u(i, 8) * 25) AS INTEGER) AS p_brand,
            pick(['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD'], u(i, 9)) AS p_type,
            CAST(1 + floor(u(i, 10) * 50) AS INTEGER) AS p_size,
            round(900 + (i % 1000) * 0.1, 1) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, CAST(floor(u(i, 11) * {n['customer']}) AS BIGINT) AS o_custkey,
            pick(['F','O','P'], u(i, 12)) AS o_orderstatus,
            round(1000 + u(i, 13) * 499000, 2) AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(CAST(floor(u(i, 14) * 2404) AS INTEGER)) AS o_orderdate,
            pick(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'], u(i, 15)) AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        # TPC-H shape: each order has 1..7 lines numbered from 1
        "lineitem": f"""WITH l AS (
              SELECT o AS l_orderkey, CAST(k + 1 AS INTEGER) AS l_linenumber, o * 8 + k AS r
              FROM range({n['orders']}) t(o), range(7) s(k)
              WHERE k < 1 + floor(u(o, 16) * 7))
            SELECT l_orderkey, CAST(floor(u(r, 17) * {n['part']}) AS BIGINT) AS l_partkey,
              CAST(floor(u(r, 18) * {n['supplier']}) AS BIGINT) AS l_suppkey, l_linenumber,
              CAST(1 + floor(u(r, 19) * 50) AS DOUBLE) AS l_quantity,
              round(900 + u(r, 20) * 104100, 2) AS l_extendedprice,
              round(floor(u(r, 21) * 11) / 100.0, 2) AS l_discount,
              round(floor(u(r, 22) * 9) / 100.0, 2) AS l_tax,
              pick(['A','N','R'], u(r, 23)) AS l_returnflag,
              pick(['F','O'], u(r, 24)) AS l_linestatus,
              TIMESTAMP '1995-01-02' + to_days(CAST(floor(u(r, 25) * 2498) AS INTEGER)) AS l_shipdate
            FROM l ORDER BY l_orderkey, l_linenumber""",
        "events": f"""SELECT i AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(CAST(i * 259000000 + floor(u(i, 26) * 259000000) AS BIGINT)) AS ts,
            CAST(floor(u(i, 27) * {n['customer'] // 10}) AS BIGINT) AS user_id,
            pick(['click','error','purchase','signup','view'], u(i, 28)) AS event_type,
            round(0.01 - 50 * ln(1 - u(i, 29)), 2) AS value,
            '{{"k": ' || CAST(floor(u(i, 30) * 100) AS INTEGER) || '}}' AS props
            FROM range({n['events']}) t(i)""",
    }
    for t, q in ddl.items():
        con.execute(f"COPY ({q}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)")

    # documents: word soup over VOCAB; one doc in twenty is a near
    # duplicate of an earlier doc (its text plus the token 'dup')
    nd = n["documents"]
    con.execute(f"""CREATE TABLE base AS SELECT i AS doc_id,
        array_to_string(list_transform(range(CAST(10 + floor(u(i, 31) * 91) AS BIGINT)),
          k -> {sql_list(VOCAB)}[1 + CAST(floor(u(i * 128 + k, 32) * {len(VOCAB)}) AS INTEGER)]), ' ') AS text
        FROM range({nd}) t(i)""")
    con.execute(f"""CREATE TABLE docs AS SELECT b.doc_id,
          CASE WHEN b.doc_id >= 10 AND u(b.doc_id, 33) < 0.05
               THEN src.text || ' dup' ELSE b.text END AS text,
          pick(['de','en','en','en','es','fr','zh'], u(b.doc_id, 34)) AS lang,
          'src' || CAST(floor(u(b.doc_id, 35) * 20) AS INTEGER) AS source
        FROM base b JOIN base src
          ON src.doc_id = CAST(floor(u(b.doc_id, 36) * b.doc_id) AS BIGINT)""")
    con.execute(f"""COPY (SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars
        FROM docs ORDER BY doc_id) TO '{out_dir}/documents.parquet' (FORMAT PARQUET)""")

    # embeddings: unit vectors from Box-Muller normals, one per document
    con.execute(f"""COPY (WITH g AS (
          SELECT i AS vec_id, list_transform(range({DIM}), d ->
            sqrt(-2 * ln(1 - u(i * {DIM} + d, 37))) * cos(2 * pi() * u(i * {DIM} + d, 38))) AS v
          FROM range({nd}) t(i))
        SELECT vec_id,
          CAST(list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS FLOAT[]) AS embedding,
          CAST(floor(u(vec_id, 39) * 10) AS INTEGER) AS label
        FROM g ORDER BY vec_id) TO '{out_dir}/embeddings.parquet' (FORMAT PARQUET)""")
    con.close()
