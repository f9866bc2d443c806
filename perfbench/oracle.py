"""DuckDB oracle checks, once per seed and outside every timer.

`check(workload, input_dir, record)` replays the workload in DuckDB over
the generated inputs once, then compares every pass's stored output with
it; it returns one error string (or None) per pass.

- graph_fixpoint and corpus_rebuild: the product's own oracle SQL
  (`SparkEntry.oracleSql("graph_mst")` and `("llm_pipeline_e2e")`,
  copied into the record by the harness), compared with the canonical
  column sort, row sort, exact value compare and hash of
  `tools/check_correctness.py`. Every top-level CTE of the SQL is run
  `AS MATERIALIZED`: DuckDB otherwise inlines a CTE at each reference,
  and the pipeline's stage CTEs, each referenced several times, re-run
  the whole chain below them (26 s instead of 0.2 s at 100 documents,
  with the same result). The result of a deterministic query does not
  depend on it.
- elt_build: a replay of `fct_orders.sql` (staging renames, per-order item
  sums, two left joins, NULL-propagating total) over the generated CSVs,
  compared with each pass's stored `fct_orders` table by row count and
  the sum of per-row hashes (an order-free multiset digest). The
  five test nodes reporting 0 failures is checked inside the pass.
"""
import os
import re

import duckdb
import pandas as pd
import pandas.util

CSV_COLUMNS = {
    "olist_customers_dataset": {
        "customer_id": "VARCHAR", "customer_unique_id": "VARCHAR",
        "customer_zip_code_prefix": "VARCHAR", "customer_city": "VARCHAR",
        "customer_state": "VARCHAR"},
    "olist_orders_dataset": {
        "order_id": "VARCHAR", "customer_id": "VARCHAR", "order_status": "VARCHAR",
        "order_purchase_timestamp": "TIMESTAMP", "order_approved_at": "TIMESTAMP",
        "order_delivered_carrier_date": "TIMESTAMP",
        "order_delivered_customer_date": "TIMESTAMP",
        "order_estimated_delivery_date": "TIMESTAMP"},
    "olist_order_items_dataset": {
        "order_id": "VARCHAR", "order_item_id": "INTEGER", "product_id": "VARCHAR",
        "seller_id": "VARCHAR", "shipping_limit_date": "TIMESTAMP",
        "price": "DECIMAL(12,2)", "freight_value": "DECIMAL(12,2)"},
}

FCT_ORDERS_SQL = """
WITH o AS (SELECT order_id, customer_id, order_status,
                  order_purchase_timestamp AS purchased_at
           FROM olist_orders_dataset),
     c AS (SELECT customer_id, customer_city AS city, customer_state AS state
           FROM olist_customers_dataset),
     i AS (SELECT order_id, sum(price) AS total_item_revenue,
                  sum(freight_value) AS total_shipping_revenue
           FROM olist_order_items_dataset GROUP BY order_id)
SELECT o.order_id, o.customer_id, o.order_status, o.purchased_at, c.city, c.state,
       i.total_item_revenue, i.total_shipping_revenue,
       i.total_item_revenue + i.total_shipping_revenue AS total_order_value
FROM o LEFT JOIN c ON o.customer_id = c.customer_id
       LEFT JOIN i ON o.order_id = i.order_id"""

# every fct_orders column as text, so types cannot mask a value difference
FCT_COLUMNS = ("order_id", "customer_id", "order_status", "purchased_at", "city",
               "state", "total_item_revenue", "total_shipping_revenue",
               "total_order_value")
FCT_TEXT = ", ".join(f"CAST({c} AS VARCHAR) AS {c}" for c in FCT_COLUMNS)


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frame_diff(spark, oracle):
    """check_correctness.py's verdict: None when equal, else the reason."""
    s, o = canon(spark), canon(oracle)
    if len(s) != len(o):
        return f"rows {len(s)} != oracle {len(o)}"
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != oracle {list(o.columns)}"
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + str(e).splitlines()[0]
    hs = pandas.util.hash_pandas_object(s.astype(str)).sum()
    ho = pandas.util.hash_pandas_object(o.astype(str)).sum()
    return None if hs == ho else "hash differs"


def _elt(con, input_dir, passes):
    for table, cols in CSV_COLUMNS.items():
        spec = ", ".join(f"'{c}': '{t}'" for c, t in cols.items())
        con.execute(f"""CREATE VIEW {table} AS SELECT * FROM read_csv(
            '{input_dir}/{table}.csv', header=true, nullstr='', columns={{{spec}}})""")
    cols = ", ".join(FCT_COLUMNS)
    digest = f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {{}}"
    con.execute(f"CREATE TEMP TABLE oracle AS SELECT {FCT_TEXT} FROM ({FCT_ORDERS_SQL})")
    want = con.execute(digest.format("oracle")).fetchone()
    out = []
    for p in passes:
        got = con.execute(digest.format(f"""(SELECT {FCT_TEXT} FROM
            read_parquet('{os.path.join(p["out"], "fct_orders")}/*.parquet'))""")).fetchone()
        out.append(None if got == want else
                   f"fct_orders (rows, row-hash sum) {got} != oracle {want}")
    return out


# `name AS (` at the start of a line: the top-level CTEs of an oracle
# entry (the recursive `walk(node, reach) AS (` does not match)
TOP_LEVEL_CTE = re.compile(r"(?m)^(WITH RECURSIVE |WITH )?([a-z_0-9]+) AS \(")

# per workload: the oracle entry and the one input table it reads
PRODUCT_ORACLE = {"graph_fixpoint": ("graph_mst", "lineitem"),
                  "corpus_rebuild": ("llm_pipeline_e2e", "documents")}


def _product(con, input_dir, passes, sql, table):
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{input_dir}/{table}.parquet'")
    oracle = con.execute(TOP_LEVEL_CTE.sub(r"\1\2 AS MATERIALIZED (", sql)).df()
    return [frame_diff(pd.read_parquet(p["out"]), oracle) for p in passes]


def check(workload, input_dir, record):
    """One error string (None = matches the oracle) per completed pass."""
    passes = [p for p in record["passes"] if p["error"] is None]
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        if workload == "elt_build":
            found = _elt(con, input_dir, passes)
        else:
            entry, table = PRODUCT_ORACLE[workload]
            found = _product(con, input_dir, passes,
                             record["oracle_sql"][entry], table)
    finally:
        con.close()
    verdict = dict(zip((p["out"] for p in passes), found))
    return [p["error"] or verdict[p["out"]] for p in record["passes"]]
