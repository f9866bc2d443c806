"""Seeded input generation (DuckDB), outside every timer.

Each generator writes the tables one workload reads into `out_dir` and
returns the number of input rows. The same seed gives the same bytes.
Shapes follow the sf0.1 test tables (TESTDATA.md) and
`graft.olist.Seeds.synthesizeCsv`; they are synthesized here rather than
read, so the benchmark reads nothing outside its checkout.
"""
import hashlib

import duckdb


def _h(seed, tag, key):
    """A well-mixed 64-bit hash of (seed, tag, key). DuckDB combines the
    hashes of several arguments by xor, which correlates draws that share
    a key, so the parts are joined into one string first."""
    return f"hash('{seed}/{tag}/' || ({key}))"


def _u01(seed, tag, key):
    """A pseudo-uniform double in [0, 1)."""
    return f"({_h(seed, tag, key)} % 1000000) / 1000000.0"


def olist_csvs(con, out_dir, seed, n_orders):
    """The three synthesized Olist seeds as CSV files, with the quirks of
    `Seeds.synthesizeCsv`: 32-hex md5 keys, zip codes with leading zeros,
    customers shared by two orders, ~5% of orders with no items and empty
    fields for NULL timestamps. The seed salts every key and draw."""
    n_cust = max(n_orders // 2, 1)
    cities = ("['sao paulo', 'rio de janeiro', 'belo horizonte', 'brasilia', "
              "'curitiba', 'campinas', 'porto alegre', 'salvador']")
    states = "['SP', 'RJ', 'MG', 'DF', 'PR', 'SP', 'RS', 'BA']"
    ts = (f"TIMESTAMP '2017-01-01 00:00:00' + "
          f"to_seconds(CAST({_h(seed, 'ts', 'id')} % (86400 * 600) AS BIGINT))")
    rows = 0

    def copy(table, query):
        nonlocal rows
        con.execute(f"CREATE OR REPLACE TEMP TABLE t AS {query}")
        con.execute(f"COPY t TO '{out_dir}/{table}.csv' (HEADER, DELIMITER ',')")
        rows += con.execute("SELECT count(*) FROM t").fetchone()[0]

    copy("olist_customers_dataset", f"""
        SELECT md5('cust-{seed}-' || id) AS customer_id,
               md5('cuniq-{seed}-' || (id // 5)) AS customer_unique_id,
               lpad(CAST({_h(seed, 'zip', 'id')} % 100000 AS VARCHAR), 5, '0')
                 AS customer_zip_code_prefix,
               {cities}[1 + id % 8] AS customer_city,
               {states}[1 + id % 8] AS customer_state
        FROM range({n_cust}) t(id)""")
    copy("olist_orders_dataset", f"""
        SELECT md5('ord-{seed}-' || id) AS order_id,
               md5('cust-{seed}-' || (id % {n_cust})) AS customer_id,
               CASE WHEN {_u01(seed, 'st', 'id')} < 0.97 THEN 'delivered'
                    WHEN {_u01(seed, 'st', 'id')} < 0.99 THEN 'shipped'
                    ELSE 'canceled' END AS order_status,
               {ts} AS order_purchase_timestamp,
               CASE WHEN {_u01(seed, 'ap', 'id')} < 0.95
                    THEN {ts} + INTERVAL 1 HOUR END AS order_approved_at,
               CASE WHEN {_u01(seed, 'ca', 'id')} < 0.90
                    THEN {ts} + INTERVAL 2 DAY END AS order_delivered_carrier_date,
               CASE WHEN {_u01(seed, 'dl', 'id')} < 0.85
                    THEN {ts} + INTERVAL 9 DAY END AS order_delivered_customer_date,
               {ts} + INTERVAL 14 DAY AS order_estimated_delivery_date
        FROM range({n_orders}) t(id)""")
    copy("olist_order_items_dataset", f"""
        WITH n AS (
          SELECT id, CASE WHEN {_u01(seed, 'ni', 'id')} < 0.05 THEN 0
                          ELSE 1 + {_h(seed, 'k', 'id')} % 4 END AS n_items
          FROM range({n_orders}) t(id))
        SELECT md5('ord-{seed}-' || id) AS order_id,
               CAST(i AS INTEGER) AS order_item_id,
               md5('prod-' || {_h(seed, 'p', 'id * 8 + i')} % 3000) AS product_id,
               md5('sell-' || {_h(seed, 's', 'id * 8 + i')} % 300) AS seller_id,
               TIMESTAMP '2017-01-05 00:00:00'
                 + to_seconds(CAST({_h(seed, 'sl', 'id')} % 1000 * 3600 AS BIGINT))
                 AS shipping_limit_date,
               CAST(floor({_u01(seed, 'pr', 'id * 8 + i')} * 50000) / 100 + 5
                    AS DECIMAL(12, 2)) AS price,
               CAST(floor({_u01(seed, 'fr', 'id * 8 + i')} * 5000) / 100
                    AS DECIMAL(12, 2)) AS freight_value
        FROM n JOIN range(1, 5) r(i) ON i <= n_items""")
    return rows


def lineitem(con, out_dir, seed, n_lines, n_supp):
    """`lineitem` in the sf0.1 shape (~4 lines per order, suppliers drawn
    uniformly), as a seeded key remap of one fixed base table: the seed
    permutes order and part keys and maps supplier keys through an
    increasing `k * step + offset`. Supplier order, and so every tie-break
    and minimum label of the MSF, is the same for every seed: the seed
    changes the keys, not the work."""
    n_orders, n_parts = n_lines // 4, n_supp * 20
    step = 2 + int(hashlib.sha256(f"{seed}/step".encode()).hexdigest(), 16) % 97
    offset = int(hashlib.sha256(f"{seed}/offset".encode()).hexdigest(), 16) % step

    def perm(tag, n):
        return f"""(SELECT k, CAST(row_number() OVER (ORDER BY {_h(seed, tag, 'k')}, k)
                   - 1 AS BIGINT) AS v FROM range({n}) t(k))"""
    con.execute(f"""
        COPY (
          WITH base AS (
            SELECT id, {_h('base', 'o', 'id')} % {n_orders} AS o,
                   {_h('base', 'p', 'id')} % {n_parts} AS p,
                   {_h('base', 's', 'id')} % {n_supp} AS s
            FROM range({n_lines}) t(id))
          SELECT po.v AS l_orderkey, pp.v AS l_partkey,
                 CAST(s * {step} + {offset} AS BIGINT) AS l_suppkey,
                 CAST(1 + id % 7 AS INTEGER) AS l_linenumber,
                 CAST(1 + {_h('base', 'q', 'id')} % 50 AS DOUBLE) AS l_quantity
          FROM base JOIN {perm('o', n_orders)} po ON po.k = base.o
                    JOIN {perm('p', n_parts)} pp ON pp.k = base.p
          ORDER BY l_orderkey, l_suppkey, id)
        TO '{out_dir}/lineitem.parquet' (FORMAT PARQUET)""")
    return n_lines


VOCAB = ("['spark', 'window', 'merge', 'table', 'column', 'vector', 'stream', "
         "'value', 'data', 'small', 'join', 'filter', 'big', 'group', 'hash', "
         "'customer', 'sort', 'order', 'slow', 'line', 'part', 'fast', 'row', "
         "'the', 'agg', 'key', 'query', 'a', 'scan', 'batch']")


def documents(con, out_dir, seed, n_docs):
    """`documents` in the sf0.1 shape: 10 to 100 words drawn from the
    same 30-word vocabulary, 20 sources, 5 languages. As there, ~5% of
    documents are an earlier document plus the token `dup` (near
    duplicates); another ~3% repeat an earlier document exactly. The
    seed salts every draw."""
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE raw AS
        SELECT id,
               array_to_string(list_transform(
                 range(CAST(10 + {_h(seed, 'n', 'id')} % 91 AS BIGINT)),
                 i -> {VOCAB}[CAST(1 + {_h(seed, 'w', 'id * 128 + i')} % 30 AS BIGINT)]), ' ')
                 AS text,
               {_u01(seed, 'd', 'id')} AS u,
               {_h(seed, 'of', 'id')} % greatest(id, 1) AS of
        FROM range({n_docs}) t(id)""")
    con.execute(f"""
        COPY (
          SELECT doc_id, text, lang, source,
                 CAST(length(text) AS BIGINT) AS n_chars
          FROM (SELECT CAST(r.id AS BIGINT) AS doc_id,
                       CASE WHEN r.id = 0 OR r.u >= 0.08 THEN r.text
                            WHEN r.u < 0.05 THEN o.text || ' dup'
                            ELSE o.text END AS text,
                       ['en', 'en', 'en', 'zh', 'de', 'fr', 'es'][
                         CAST(1 + {_h(seed, 'l', 'r.id')} % 7 AS BIGINT)] AS lang,
                       'src' || (r.id % 20) AS source
                FROM raw r JOIN raw o ON o.id = r.of)
          ORDER BY doc_id)
        TO '{out_dir}/documents.parquet' (FORMAT PARQUET)""")
    return n_docs


def generate(workload, out_dir, seed, size):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        if workload == "elt_build":
            return olist_csvs(con, out_dir, seed, size["orders"])
        if workload == "graph_fixpoint":
            return lineitem(con, out_dir, seed, size["lines"], size["suppliers"])
        if workload == "corpus_rebuild":
            return documents(con, out_dir, seed, size["documents"])
        raise ValueError(workload)
    finally:
        con.close()
