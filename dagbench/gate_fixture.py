"""Seeded tables for the `gate_mix` workload, and the DuckDB oracle check.

The tables have the schemas of the program's test data (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`), one parquet file each,
at about a hundredth of TPC-H scale factor 1. Every value is a hash of the
seed and the row, so the same seed gives the same files.
"""
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("the a data table row column key value join merge scan sort group agg "
         "window filter query order line part customer spark stream batch fast "
         "slow big small hash vector index cluster shard sample token text "
         "quality score model train eval split source mix dedup near copy").split()


def generate(out, seed, scale=1.0):
    """Writes `<table>.parquet` for every table into `out`."""
    os.makedirs(out)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_docs, n_vec = int(15000 * scale), int(500 * scale), int(500 * scale)

    def u(salt, *cols):
        """Uniform [0, 1) from the seed, a salt and the row's columns."""
        return f"(hash({seed}, {salt}, {', '.join(cols)}) % 1000000) / 1000000.0"

    def n(salt, m, *cols):
        return f"CAST(hash({seed}, {salt}, {', '.join(cols)}) % {m} AS INTEGER)"

    def copy(name, sql):
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")

    copy("region", "SELECT CAST(i AS INTEGER) AS r_regionkey, "
         "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name FROM range(5) t(i)")
    copy("nation", "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
         "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)")
    copy("customer", f"""
        SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
               {n(1, 25, 'i')} AS c_nationkey, round({u(2, 'i')} * 10000 - 1000, 2) AS c_acctbal,
               ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][{n(3, 5, 'i')} + 1]
                 AS c_mktsegment
        FROM range({n_cust}) t(i)""")
    copy("supplier", f"""
        SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
               {n(4, 25, 'i')} AS s_nationkey, round({u(5, 'i')} * 10000, 2) AS s_acctbal
        FROM range({n_supp}) t(i)""")
    copy("part", f"""
        SELECT i AS p_partkey,
               ['small','red','blue','large','green'][{n(6, 5, 'i')} + 1] || ' ' ||
                 ['ring','widget','bolt','gear','pipe'][{n(7, 5, 'i')} + 1] AS p_name,
               'Brand#' || ({n(8, 25, 'i')} + 1) AS p_brand,
               ['ECONOMY','SMALL','STANDARD','PROMO','LARGE'][{n(9, 5, 'i')} + 1] AS p_type,
               {n(10, 50, 'i')} + 1 AS p_size, round(900 + i * 0.1, 2) AS p_retailprice
        FROM range({n_part}) t(i)""")
    copy("orders", f"""
        SELECT i AS o_orderkey, CAST({n(11, n_cust, 'i')} AS BIGINT) AS o_custkey,
               ['P','O','F'][{n(12, 3, 'i')} + 1] AS o_orderstatus,
               round(1000 + {u(13, 'i')} * 499000, 2) AS o_totalprice,
               TIMESTAMP '1995-01-01' + to_days({n(14, 2400, 'i')}) AS o_orderdate,
               ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][{n(15, 5, 'i')} + 1]
                 AS o_orderpriority
        FROM range({n_ord}) t(i)""")
    # one to seven lines per order; about 2% of orders have none, so the
    # anti-join gates have rows to return
    copy("lineitem", f"""
        SELECT o AS l_orderkey, CAST({n(16, n_part, 'o', 'l')} AS BIGINT) AS l_partkey,
               CAST({n(17, n_supp, 'o', 'l')} AS BIGINT) AS l_suppkey,
               CAST(l AS INTEGER) AS l_linenumber, q AS l_quantity,
               round(q * (900 + {u(18, 'o', 'l')} * 1200), 2) AS l_extendedprice,
               {n(19, 11, 'o', 'l')} / 100.0 AS l_discount, {n(20, 9, 'o', 'l')} / 100.0 AS l_tax,
               ['A','N','R'][{n(21, 3, 'o', 'l')} + 1] AS l_returnflag,
               ['O','F'][{n(22, 2, 'o', 'l')} + 1] AS l_linestatus,
               TIMESTAMP '1995-02-01' + to_days({n(23, 2400, 'o', 'l')}) AS l_shipdate
        FROM (SELECT o, l, CAST({n(24, 50, 'o', 'l')} + 1 AS DOUBLE) AS q
              FROM range({n_ord}) a(o), range(1, 8) b(l)
              WHERE l <= {n(25, 7, 'o')} + 1 AND {n(26, 50, 'o')} > 0)""")
    copy("events", f"""
        SELECT i AS event_id, TIMESTAMP '2024-01-01' + to_seconds(i * 180 + {n(27, 180, 'i')})
                 AS ts,
               CAST({n(28, 100, 'i')} AS BIGINT) AS user_id,
               ['view','click','purchase','error'][{n(29, 4, 'i')} + 1] AS event_type,
               round({u(30, 'i')} * 20, 2) AS value, '{{"k": ' || {n(31, 100, 'i')} || '}}' AS props
        FROM range({int(10000 * scale)}) t(i)""")
    # every tenth document is a near copy of the one five before it, with
    # about one word in twenty replaced, so the dedup gates find clusters
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    copy("documents", f"""
        SELECT d AS doc_id, text,
               ['en','en','en','de','es','fr','zh'][{n(32, 7, 'd')} + 1] AS lang,
               'src' || {n(33, 20, 'd')} AS source, CAST(length(text) AS BIGINT) AS n_chars
        FROM (SELECT d, array_to_string(list_transform(range(20 + {n(34, 60, 'b')}), j ->
                 CASE WHEN d <> b AND {n(35, 20, 'd', 'j')} = 0
                      THEN {vocab}[{n(36, len(VOCAB), 'd', 'j')} + 1]
                      ELSE {vocab}[{n(37, len(VOCAB), 'b', 'j')} + 1] END), ' ') AS text
              FROM (SELECT d, CASE WHEN d % 10 = 7 THEN d - 5 ELSE d END AS b
                    FROM range({n_docs}) t(d)))""")
    # 64-dim unit vectors around ten label centroids
    copy("embeddings", f"""
        SELECT v AS vec_id, CAST(list_transform(x, e -> e / sqrt(list_sum(list_transform(x, y -> y * y))))
                 AS FLOAT[]) AS embedding, label
        FROM (SELECT v, {n(38, 10, 'v')} AS label,
                     list_transform(range(64), k -> ({u(39, n(38, 10, 'v'), 'k')} - 0.5)
                       + 0.6 * ({u(40, 'v', 'k')} - 0.5)) AS x
              FROM range({n_vec}) t(v))""")
    return sum(os.path.getsize(os.path.join(out, f"{t}.parquet")) for t in TABLES)


def oracle_check(repo, fixture, out_dirs, oracle_sql):
    """For each directory of gate outputs (one parquet directory per gate),
    the gates whose output differs from their DuckDB oracle SQL on the same
    fixture, with the reason. Both sides are canonicalised as the
    repository's own `tools/compare.py` does.
    """
    sys.path.insert(0, os.path.join(repo, "tools"))
    from compare import canon
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    oracle = {}
    for name, sql in oracle_sql.items():
        df = con.execute(sql).df()
        oracle[name] = (sorted(df.columns), canon(df))
    found = []
    for out in out_dirs:
        bad = {}
        for name in sorted(os.listdir(out) if os.path.isdir(out) else []):
            if name not in oracle:
                bad[name] = "no oracle SQL"
                continue
            df = con.execute(f"SELECT * FROM '{out}/{name}/*.parquet'").df()
            cols, rows = oracle[name]
            if sorted(df.columns) != cols:
                bad[name] = f"columns {sorted(df.columns)}, oracle {cols}"
            elif canon(df) != rows:
                bad[name] = f"{len(df)} rows differ from the oracle's {len(rows)}"
        found.append(bad)
    return found

