"""query_batch workload: sf0.1-shaped tables generated from the seed, a
fixed list of registered queries, and the DuckDB oracle check.

The generator writes the ten tables the registered queries read
(region nation customer supplier part orders lineitem events documents
embeddings) with the column names and types the engine's loaders
expect. Every random draw is a hash of (seed, row, salt), so the
tables do not depend on DuckDB's thread count.
"""
import math
import os

import duckdb
import numpy as np

# At least one query per family: queries (relational and CDC parity),
# ext-text, ext-dedup and ext-ANN. Trimmed so that the list runs a few
# times in a 10 s run at 4 cores, and so that every DuckDB twin takes
# well under a second at sf0.1.
QUERIES = [
    "q_join_activity_employee",
    "q1_pricing_summary",
    "x_token_stats",
    "x_dedup_bow",
    "x_ann_ivf",
]

# The loop runs whole passes over the list, one per PASS_SECONDS of the
# run length and at least one (a pass takes about 1.6 s at 4 cores), so
# every run of one length times the same number of passes and its tail
# averages the same number of them.
PASS_SECONDS = 1.6

# Shared staging keys the listed queries read (a subset of
# graft.ext.Shared.registry, in registry order).
STAGED = ["ivf_cells"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("a the data spark stream batch query table row column key value "
         "group sort join merge filter scan hash window order line part "
         "customer vector agg fast slow big small index shard commit log "
         "state event time late early cache plan").split()


def _u(seed, salt, expr="i"):
    """Uniform [0, 1) from a hash of (seed, salt, row expression)."""
    return f"((hash({expr}, {seed}, {salt}) % 1000003) / 1000003.0)"


def _pick(seed, salt, n, expr="i"):
    """Integer in [0, n) from a hash of (seed, salt, row expression)."""
    return f"(hash({expr}, {seed}, {salt}) % {n})::BIGINT"


def generate(out_dir, seed, sf=0.1, threads=4, only=None):
    """Write the ten tables (or those in `only`) as `<out_dir>/<table>.parquet`."""
    only = set(only or TABLES)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute("SET enable_progress_bar = false")
    n_orders = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = int(10_000 * sf)
    n_events = int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    n_vecs = int(20_000 * sf)
    s = seed
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    sql = {
        "region": "SELECT i::INTEGER AS r_regionkey, "
                  f"({'['+','.join(repr(r) for r in regions)+']'})[i + 1] AS r_name "
                  "FROM range(5) t(i)",
        "nation": "SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
                  "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)",
        "customer": f"SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name, "
                    f"{_pick(s, 1, 25)}::INTEGER AS c_nationkey, "
                    f"round({_u(s, 2)} * 10000 - 1000, 2) AS c_acctbal, "
                    f"({'['+','.join(repr(x) for x in segs)+']'})[{_pick(s, 3, 5)} + 1] AS c_mktsegment "
                    f"FROM range({n_cust}) t(i)",
        "supplier": f"SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name, "
                    f"{_pick(s, 4, 25)}::INTEGER AS s_nationkey, "
                    f"round({_u(s, 5)} * 10000 - 1000, 2) AS s_acctbal FROM range({n_supp}) t(i)",
        "part": f"SELECT i AS p_partkey, "
                f"(['large','hot','blue','small','green'])[{_pick(s, 6, 5)} + 1] || ' ' || "
                f"(['ring','bolt','nut','gear','pipe'])[{_pick(s, 7, 5)} + 1] AS p_name, "
                f"'Brand#' || ({_pick(s, 8, 25)} + 1) AS p_brand, "
                f"(['LARGE','ECONOMY','SMALL','STANDARD','PROMO'])[{_pick(s, 9, 5)} + 1] AS p_type, "
                f"({_pick(s, 10, 50)} + 1)::INTEGER AS p_size, "
                f"round(900 + (i % 1000) * 0.1, 2)::DOUBLE AS p_retailprice FROM range({n_part}) t(i)",
        "orders": f"SELECT i AS o_orderkey, {_pick(s, 11, n_cust)} AS o_custkey, "
                  f"(['F','O','P'])[{_pick(s, 12, 3)} + 1] AS o_orderstatus, "
                  f"round({_u(s, 13)} * 450000 + 900, 2) AS o_totalprice, "
                  f"(TIMESTAMP '1995-01-01' + to_days({_pick(s, 14, 2404)}::INTEGER)) AS o_orderdate, "
                  f"(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'])[{_pick(s, 15, 5)} + 1] "
                  f"AS o_orderpriority FROM range({n_orders}) t(i)",
        "events": f"SELECT i AS event_id, "
                  f"(TIMESTAMP '2024-01-01' + to_microseconds(({_u(s, 16)} * 2592000000000)::BIGINT)) AS ts, "
                  f"{_pick(s, 17, n_cust // 10)} AS user_id, "
                  f"(['signup','click','error','view','purchase'])[{_pick(s, 18, 5)} + 1] AS event_type, "
                  f"round({_u(s, 19)} * {_u(s, 20)} * 560, 2) AS value, "
                  f"'{{\"k\": ' || {_pick(s, 21, 100)} || '}}' AS props FROM range({n_events}) t(i)",
    }
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "events"]:
        if t in only or t == "orders" and "lineitem" in only:
            con.execute(f"COPY ({sql[t]}) TO '{out_dir}/{t}.parquet' (FORMAT parquet)")
    if "events" in only:  # ordered by time, like a stream table
        con.execute(f"COPY (SELECT * FROM '{out_dir}/events.parquet' ORDER BY ts) "
                    f"TO '{out_dir}/events_sorted.parquet' (FORMAT parquet)")
        os.replace(f"{out_dir}/events_sorted.parquet", f"{out_dir}/events.parquet")
    if "lineitem" in only:
        con.execute(
        f"""COPY (
          SELECT o_orderkey AS l_orderkey,
                 {_pick(s, 22, n_part, 'o_orderkey * 8 + ln')} AS l_partkey,
                 {_pick(s, 23, n_supp, 'o_orderkey * 8 + ln')} AS l_suppkey,
                 ln::INTEGER AS l_linenumber,
                 ({_pick(s, 24, 50, 'o_orderkey * 8 + ln')} + 1)::DOUBLE AS l_quantity,
                 round({_u(s, 25, 'o_orderkey * 8 + ln')} * 100000 + 900, 2) AS l_extendedprice,
                 ({_pick(s, 26, 11, 'o_orderkey * 8 + ln')} / 100.0)::DOUBLE AS l_discount,
                 ({_pick(s, 27, 9, 'o_orderkey * 8 + ln')} / 100.0)::DOUBLE AS l_tax,
                 (['A','N','R'])[{_pick(s, 28, 3, 'o_orderkey * 8 + ln')} + 1] AS l_returnflag,
                 (['O','F'])[{_pick(s, 29, 2, 'o_orderkey * 8 + ln')} + 1] AS l_linestatus,
                 o_orderdate + to_days(({_pick(s, 30, 121, 'o_orderkey * 8 + ln')} + 1)::INTEGER)
                   AS l_shipdate
          FROM '{out_dir}/orders.parquet',
               LATERAL (SELECT unnest(range(1, {_pick(s, 31, 7, 'o_orderkey')} + 2)) AS ln)
          ORDER BY l_orderkey, l_linenumber
        ) TO '{out_dir}/lineitem.parquet' (FORMAT parquet)""")
    if "documents" in only:
        _documents(con, out_dir, s, n_docs)
    if "embeddings" in only:
        _embeddings(con, out_dir, s, n_vecs)
    con.close()


def _documents(con, out_dir, s, n_docs):
    """Bag-of-words text; 1 in 600 documents is an exact copy of an
    earlier one and 1 in 300 a near copy, so dedup finds pairs."""
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    con.execute(
        f"""CREATE TABLE base_docs AS
          SELECT i AS doc_id,
                 array_to_string(list_transform(range(8 + {_pick(s, 32, 80)}),
                   w -> {vocab}[(hash(i, w, {s}, 33) % {len(VOCAB)})::BIGINT + 1]), ' ') AS text,
                 (['en','en','en','de','es','fr','zh'])[{_pick(s, 34, 7)} + 1] AS lang,
                 'src' || {_pick(s, 35, 20)} AS source
          FROM range({n_docs}) t(i)""")
    con.execute(
        f"""COPY (
          SELECT d.doc_id,
                 CASE WHEN d.doc_id % 600 = 599 THEN src.text
                      WHEN d.doc_id % 300 = 149 THEN src.text || ' ' || d.text[1:12]
                      ELSE d.text END AS text,
                 d.lang, d.source,
                 length(CASE WHEN d.doc_id % 600 = 599 THEN src.text
                      WHEN d.doc_id % 300 = 149 THEN src.text || ' ' || d.text[1:12]
                      ELSE d.text END)::BIGINT AS n_chars
          FROM base_docs d JOIN base_docs src
            ON src.doc_id = (d.doc_id * 7919) % greatest(d.doc_id, 1)
          ORDER BY d.doc_id
        ) TO '{out_dir}/documents.parquet' (FORMAT parquet)""")


def _embeddings(con, out_dir, s, n_vecs):
    """64-d vectors around ten label centres."""
    con.execute(
        f"""COPY (
          SELECT i AS vec_id,
                 list_transform(range(64), dd ->
                   (sin((hash(i % 10, dd, {s}, 36) % 1000) / 100.0)
                    + ({_u(s, 37, 'i * 64 + dd')} - 0.5) * 0.6)::FLOAT) AS embedding,
                 (i % 10)::INTEGER AS label
          FROM range({n_vecs}) t(i)
        ) TO '{out_dir}/embeddings.parquet' (FORMAT parquet)""")


def _norm(v):
    """A hashable, order-stable form of a nested cell (lists, structs)."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def result_frame(con, sql):
    """A query's result with columns sorted by name and rows sorted by
    every column (floats rounded to 6 decimals for the sort only)."""
    df = con.sql(sql).df()
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: v if v is None or isinstance(v, str) else repr(_norm(v)))
    keys = df.copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            keys[c] = df[c].round(6)
    order = keys.sort_values(list(df.columns), na_position="last").index
    return df.loc[order].reset_index(drop=True)


def frame_diff(want, got):
    """None when two sorted result frames match, else a one-line reason."""
    if list(want.columns) != list(got.columns):
        return f"columns {list(got.columns)} != oracle {list(want.columns)}"
    if len(want) != len(got):
        return f"{len(got)} rows != oracle {len(want)}"
    for c in want.columns:
        a, b = want[c], got[c]
        if a.dtype.kind in "fiu" and b.dtype.kind in "fiu" and "f" in a.dtype.kind + b.dtype.kind:
            same = np.isclose(a.astype(float), b.astype(float), rtol=1e-6, atol=1e-6, equal_nan=True)
        else:
            same = ((a == b) | (a.isna() & b.isna())).to_numpy()
        if not same.all():
            i = int(np.flatnonzero(~same)[0])
            return f"column {c} row {i}: {got[c].iloc[i]!r} != oracle {want[c].iloc[i]!r}"
    return None


def oracle_check(sf_dir, result_dir, oracle_sql):
    """Compare each dumped engine result with its DuckDB twin.

    Returns {query: None if equal else a one-line reason}.
    """
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    verdict = {}
    for name in QUERIES:
        sql = oracle_sql.get(name)
        path = os.path.join(result_dir, name)
        if sql is None:
            verdict[name] = "no oracle twin"
            continue
        if not os.path.isdir(path):
            verdict[name] = "no engine result"
            continue
        try:
            verdict[name] = frame_diff(result_frame(con, sql),
                                       result_frame(con, f"SELECT * FROM '{path}/*.parquet'"))
        except Exception as e:  # a failing twin fails the query, not the run
            verdict[name] = f"compare error: {str(e).splitlines()[0][:200]}"
    con.close()
    return verdict
