"""The benchmark's input tables, made from its seed.

The ten tables have the names, schemas and row counts of the engine's
sf0.1 fixtures (TPC-H-like region, nation, customer, supplier, part,
orders and lineitem, plus events, documents and embeddings), and, like
those fixtures, columns drawn independently and uniformly. The workloads
read lineitem, part, orders and documents; the other tables are there
because the oracle check opens every fixture table.

The same seed gives the same tables: every value is a hash of the seed,
the row number and a salt naming the column, and each table is written
in row order as one row group, as the fixtures are. That hash is hashed
once more: DuckDB combines the hashes of several values by xor, which
would leave the low bits of all the columns of a row in step.
"""
import os

import duckdb

N = {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
     "part": 20000, "orders": 150000, "lineitem": 600000,
     "events": 100000, "documents": 5000, "embeddings": 2000}

WORDS = ["batch", "part", "spark", "line", "column", "order", "small",
         "sort", "fast", "value", "scan", "a", "vector", "query", "agg",
         "table", "hash", "slow", "filter", "customer", "stream", "key",
         "group", "join", "index", "plan", "cache", "merge", "row", "file"]


def pick(i, salt, xs):
    """SQL for one of `xs`, drawn by row `i` and `salt`."""
    items = ", ".join(f"'{x}'" for x in xs)
    return f"[{items}][1 + rnd({i}, '{salt}', {len(xs)})::INTEGER]"


TABLES = {
    "region": f"""
        SELECT i::INTEGER AS r_regionkey,
               ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1]
                 AS r_name
        FROM range({N['region']}) t(i)""",
    "nation": f"""
        SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
               (i % 5)::INTEGER AS n_regionkey
        FROM range({N['nation']}) t(i)""",
    "customer": f"""
        SELECT i AS c_custkey,
               'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
               rnd(i, 'c_nation', 25)::INTEGER AS c_nationkey,
               round(unif(i, 'c_acctbal') * 10999.98 - 999.99, 2) AS c_acctbal,
               {pick('i', 'c_seg', ['AUTOMOBILE', 'BUILDING', 'FURNITURE',
                                    'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment
        FROM range({N['customer']}) t(i)""",
    "supplier": f"""
        SELECT i AS s_suppkey,
               'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
               rnd(i, 's_nation', 25)::INTEGER AS s_nationkey,
               round(unif(i, 's_acctbal') * 10999.98 - 999.99, 2) AS s_acctbal
        FROM range({N['supplier']}) t(i)""",
    "part": f"""
        SELECT i AS p_partkey,
               {pick('i', 'p_color', ['large', 'hot', 'blue', 'green', 'red',
                                      'dark', 'pale', 'smooth'])} || ' ' ||
               {pick('i', 'p_noun', ['ring', 'bolt', 'nut', 'gear', 'pipe',
                                     'valve', 'screw', 'spring'])} AS p_name,
               'Brand#' || (1 + rnd(i, 'p_brand', 25)) AS p_brand,
               {pick('i', 'p_type', ['LARGE', 'ECONOMY', 'STANDARD', 'PROMO',
                                     'SMALL', 'MEDIUM'])} AS p_type,
               (1 + rnd(i, 'p_size', 50))::INTEGER AS p_size,
               900 + (i % 1000) / 10.0 AS p_retailprice
        FROM range({N['part']}) t(i)""",
    "orders": f"""
        SELECT i AS o_orderkey, rnd(i, 'o_cust', {N['customer']}) AS o_custkey,
               {pick('i', 'o_status', ['O', 'F', 'P'])} AS o_orderstatus,
               round(1000 + unif(i, 'o_price') * 499000, 2) AS o_totalprice,
               TIMESTAMP '1995-01-01'
                 + to_days(rnd(i, 'o_date', 2404)::INTEGER) AS o_orderdate,
               {pick('i', 'o_prio', ['1-URGENT', '2-HIGH', '3-MEDIUM',
                                     '4-NOT SPECIFIED', '5-LOW'])}
                 AS o_orderpriority
        FROM range({N['orders']}) t(i)""",
    "lineitem": f"""
        SELECT rnd(i, 'l_order', {N['orders']}) AS l_orderkey,
               rnd(i, 'l_part', {N['part']}) AS l_partkey,
               rnd(i, 'l_supp', {N['supplier']}) AS l_suppkey,
               (1 + rnd(i, 'l_line', 7))::INTEGER AS l_linenumber,
               (1 + rnd(i, 'l_qty', 50))::DOUBLE AS l_quantity,
               round(1000 + unif(i, 'l_price') * 99000, 2) AS l_extendedprice,
               rnd(i, 'l_disc', 11) / 100.0 AS l_discount,
               rnd(i, 'l_tax', 9) / 100.0 AS l_tax,
               {pick('i', 'l_rflag', ['A', 'N', 'R'])} AS l_returnflag,
               {pick('i', 'l_lstatus', ['O', 'F'])} AS l_linestatus,
               TIMESTAMP '1995-01-01'
                 + to_days(rnd(i, 'l_date', 2600)::INTEGER) AS l_shipdate
        FROM range({N['lineitem']}) t(i)""",
    "events": f"""
        SELECT i AS event_id,
               TIMESTAMP '2024-01-01' + to_microseconds(
                 (i * 30000000 + rnd(i, 'e_ts', 30000000))::BIGINT) AS ts,
               rnd(i, 'e_user', 2000) AS user_id,
               {pick('i', 'e_type', ['signup', 'click', 'error', 'view',
                                     'purchase'])} AS event_type,
               round(unif(i, 'e_value') * 200, 2) AS value,
               '{{"k": ' || rnd(i, 'e_k', 100) || '}}' AS props
        FROM range({N['events']}) t(i)""",
    # 10 to 94 words a document, as a string_agg over (document, word) rows
    "documents": f"""
        SELECT i AS doc_id, txt AS text,
               {pick('i', 'd_lang', ['en', 'zh', 'de', 'fr', 'es'])} AS lang,
               'src' || rnd(i, 'd_src', 20) AS source,
               length(txt)::BIGINT AS n_chars
        FROM (SELECT i, string_agg({pick('i * 100 + j', 'd_word', WORDS)}, ' '
                                   ORDER BY j) AS txt
              FROM range({N['documents']}) t(i), range(94) w(j)
              WHERE j < 10 + rnd(i, 'd_len', 85)
              GROUP BY i)
        ORDER BY i""",
    "embeddings": f"""
        SELECT i AS vec_id,
               list_transform(range(64),
                 j -> (unif(i * 64 + j, 'v_x') * 2 - 1)::FLOAT) AS embedding,
               rnd(i, 'v_label', 10)::INTEGER AS label
        FROM range({N['embeddings']}) t(i)""",
}


def generate(out_dir, seed):
    """Write the ten tables of `seed` as `<out_dir>/<table>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE MACRO rnd(i, salt, n) AS "
                    f"CAST(hash(hash(i, salt, {int(seed)})) % n AS BIGINT)")
        con.execute(f"CREATE MACRO unif(i, salt) AS "
                    f"(hash(hash(i, salt, {int(seed)})) % 1000000) / 1000000.0")
        for name, sql in TABLES.items():
            path = os.path.join(out_dir, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, "
                        "COMPRESSION SNAPPY, ROW_GROUP_SIZE 1000000)")
    finally:
        con.close()
