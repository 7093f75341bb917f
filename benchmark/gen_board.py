"""Generates the operator board's input tables as parquet, deterministically.

The tables have the schemas of the repository's synthetic test data (documents,
embeddings, events and a TPC-H-like star schema); every value is a hash of
(seed, table, row, column), so the same seed writes the same rows on any
machine. Near-duplicate documents are planted so the dedup rows have work.

    python3 benchmark/gen_board.py <out_dir> <seed> <docs> <events> <lineitem>
"""
import os
import sys

import duckdb

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "the", "value", "vector", "window"]
LANGS = ["en"] * 44 + ["zh"] * 15 + ["de"] * 14 + ["es"] * 14 + ["fr"] * 13


def generate(out, seed, docs, events, lineitem):
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=1")
    con.execute("SET TimeZone='UTC'")
    # u(t, i, k): uniform [0, 1) from (seed, table tag, row, column)
    con.execute(f"CREATE MACRO h(t, i, k) AS hash({int(seed)}, t, i, k)")
    con.execute("CREATE MACRO u(t, i, k) AS (h(t, i, k) % 1000000007) / 1000000007.0")
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    langs = "[" + ",".join(f"'{w}'" for w in LANGS) + "]"
    nv = len(VOCAB)

    def copy(name, sql):
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")

    con.execute(f"""CREATE TABLE base AS SELECT i AS doc_id,
        array_to_string(list_transform(range(10 + CAST(h('dn', i, 0) % 90 AS BIGINT)),
            j -> {vocab}[1 + CAST(h('dw', i, j) % {nv} AS BIGINT)]), ' ') AS text
        FROM range({docs}) t(i)""")
    # one document in ten repeats an earlier one with a word appended
    copy("documents", f"""SELECT b.doc_id,
        CASE WHEN u('dd', b.doc_id, 0) < 0.1 AND b.doc_id > 0
             THEN p.text || ' dup' ELSE b.text END AS text,
        {langs}[1 + CAST(h('dl', b.doc_id, 0) % {len(LANGS)} AS BIGINT)] AS lang,
        'src' || CAST(b.doc_id % 20 AS VARCHAR) AS source,
        CAST(length(CASE WHEN u('dd', b.doc_id, 0) < 0.1 AND b.doc_id > 0
             THEN p.text || ' dup' ELSE b.text END) AS BIGINT) AS n_chars
        FROM base b JOIN base p ON p.doc_id = CAST(h('dp', b.doc_id, 0) % greatest(b.doc_id, 1) AS BIGINT)
        ORDER BY b.doc_id""")
    copy("embeddings", f"""SELECT vec_id,
        CAST(list_transform(raw, x -> x / norm) AS FLOAT[]) AS embedding, label FROM (
          SELECT i AS vec_id, CAST(h('el', i, 0) % 10 AS INTEGER) AS label, raw,
                 sqrt(list_sum(list_transform(raw, x -> x * x))) AS norm
          FROM (SELECT i, list_transform(range(64), k ->
                  sqrt(-2 * ln(1 - u('ea', i, k))) * cos(2 * pi() * u('eb', i, k))) AS raw
                FROM range({docs}) t(i)))
        ORDER BY vec_id""")
    users = max(events // 67, 10)
    copy("events", f"""SELECT i AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds(CAST(
          (i + u('et', i, 0)) * (30 * 86400 * 1e6 / {events}) AS BIGINT)) AS ts,
        CAST(h('eu', i, 0) % {users} AS BIGINT) AS user_id,
        ['click', 'view', 'purchase', 'signup', 'error'][1 + CAST(h('ey', i, 0) % 5 AS BIGINT)] AS event_type,
        round(0.01 - ln(1 - u('ev', i, 0)) * 50, 2) AS value,
        '{{"k": ' || CAST(h('ep', i, 0) % 100 AS VARCHAR) || '}}' AS props
        FROM range({events}) t(i)""")
    orders, cust = lineitem // 4, max(lineitem // 40, 10)
    parts, supp = max(lineitem // 30, 10), max(lineitem // 600, 5)
    copy("region", """SELECT i::INTEGER AS r_regionkey,
        ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name FROM range(5) t(i)""")
    copy("nation", """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
        (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""")
    copy("customer", f"""SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
        CAST(h('cn', i, 0) % 25 AS INTEGER) AS c_nationkey,
        round(-999.99 + u('cb', i, 0) * 10999.98, 2) AS c_acctbal,
        ['MACHINERY','AUTOMOBILE','HOUSEHOLD','BUILDING','FURNITURE'][1 + CAST(h('cs', i, 0) % 5 AS BIGINT)] AS c_mktsegment
        FROM range({cust}) t(i)""")
    copy("supplier", f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
        CAST(h('sn', i, 0) % 25 AS INTEGER) AS s_nationkey,
        round(-999.99 + u('sb', i, 0) * 10999.98, 2) AS s_acctbal FROM range({supp}) t(i)""")
    copy("part", f"""SELECT i AS p_partkey,
        ['small','red','blue','large','green'][1 + CAST(h('pa', i, 0) % 5 AS BIGINT)] || ' ' ||
        ['ring','widget','bolt','gear','pipe'][1 + CAST(h('pb', i, 0) % 5 AS BIGINT)] AS p_name,
        'Brand#' || CAST(1 + h('pr', i, 0) % 25 AS VARCHAR) AS p_brand,
        ['ECONOMY','SMALL','STANDARD','LARGE','MEDIUM','PROMO'][1 + CAST(h('pt', i, 0) % 6 AS BIGINT)] AS p_type,
        CAST(1 + h('ps', i, 0) % 50 AS INTEGER) AS p_size,
        CAST(round(900 + (i % 1000) * 0.1, 2) AS DOUBLE) AS p_retailprice FROM range({parts}) t(i)""")
    copy("orders", f"""SELECT i AS o_orderkey, CAST(h('oc', i, 0) % {cust} AS BIGINT) AS o_custkey,
        ['F','O','P'][1 + CAST(h('os', i, 0) % 3 AS BIGINT)] AS o_orderstatus,
        round(1000 + u('ot', i, 0) * 499000, 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(CAST(h('od', i, 0) % 2400 AS INTEGER)) AS o_orderdate,
        ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][1 + CAST(h('op', i, 0) % 5 AS BIGINT)] AS o_orderpriority
        FROM range({orders}) t(i)""")
    copy("lineitem", f"""SELECT CAST(h('lo', i, 0) % {orders} AS BIGINT) AS l_orderkey,
        CAST(h('lp', i, 0) % {parts} AS BIGINT) AS l_partkey,
        CAST(h('ls', i, 0) % {supp} AS BIGINT) AS l_suppkey,
        CAST(1 + i % 7 AS INTEGER) AS l_linenumber,
        CAST(1 + h('lq', i, 0) % 50 AS DOUBLE) AS l_quantity,
        round(900 + u('le', i, 0) * 104000, 2) AS l_extendedprice,
        CAST(h('ld', i, 0) % 11 AS DOUBLE) / 100 AS l_discount,
        CAST(h('lt', i, 0) % 9 AS DOUBLE) / 100 AS l_tax,
        ['A','N','R'][1 + CAST(h('lr', i, 0) % 3 AS BIGINT)] AS l_returnflag,
        ['O','F'][1 + CAST(h('lf', i, 0) % 2 AS BIGINT)] AS l_linestatus,
        TIMESTAMP '1995-01-02' + to_days(CAST(h('lh', i, 0) % 2500 AS INTEGER)) AS l_shipdate
        FROM range({lineitem}) t(i)""")
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]), int(sys.argv[5]))
