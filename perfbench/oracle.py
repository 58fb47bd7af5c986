"""DuckDB oracle check of every output a benchmark run writes.

An output matches when it holds the same multiset of rows under the same
column names as its oracle query, which is the canonical form of
tools/check_oracle.py (columns sorted by name, rows sorted by every
column) evaluated inside DuckDB instead of pandas, so a large fact table
costs a second, not a sort in Python.
"""
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# The sales events as parsed from the JSON-lines dump
# (graft.sources.Sources.parseSalesEvents), after the harness's upsert
# batch: every event whose numeric id is divisible by 100 comes back
# 1 ms later with qty + 1000.
SALES_SQL = """
WITH raw AS (
  SELECT key AS event_key, json_extract_string(value, '$.event_id') AS event_id,
         CAST(CAST(json_extract_string(value, '$.ts') AS TIMESTAMPTZ) AS TIMESTAMP) AS ts,
         CAST(json_extract_string(value, '$.customer_id') AS BIGINT) AS customer_id,
         CAST(json_extract_string(value, '$.product_id') AS BIGINT) AS product_id,
         CAST(json_extract_string(value, '$.qty') AS INTEGER) AS qty,
         CAST(json_extract_string(value, '$.unit_price') AS DOUBLE) AS unit_price
  FROM read_json('{dir}/events_dump/*.json', format = 'newline_delimited',
                 columns = {{key: 'VARCHAR', value: 'VARCHAR'}}))
SELECT event_key, event_id,
       CASE WHEN upd THEN ts + INTERVAL 1 MILLISECOND ELSE ts END AS ts,
       customer_id, product_id,
       CASE WHEN upd THEN qty + 1000 ELSE qty END AS qty, unit_price
FROM (SELECT *, CAST(substr(event_id, 2) AS BIGINT) % 100 = 0 AS upd FROM raw)
"""

# Inventory snapshots with the date taken from the object key, as
# graft.sources.Sources.csvWithDateFromKey infers it.
INVENTORY_SQL = """
SELECT product_id, warehouse_id, stock_units,
       CAST(strptime(regexp_extract(filename, '(\\d{{8}})\\.csv$', 1), '%Y%m%d') AS DATE) AS date
FROM read_csv('{dir}/inventory/*/*/*.csv', header = true, filename = true,
              columns = {{product_id: 'BIGINT', warehouse_id: 'VARCHAR', stock_units: 'INTEGER'}})
"""

# the range graft.perfbench.Harness reads through the zone-map manifest
PRUNED_LO, PRUNED_HI = "2024-03-01 00:00:00", "2024-03-10 23:59:59"


def connect(data_dir=None, tmp_dir=None):
    """A DuckDB connection with a view per input table of `data_dir`,
    spilling (if ever) into `tmp_dir`."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET enable_progress_bar = false")
    if tmp_dir:
        con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES if data_dir else ():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def read_output(path, hive=False, drop=()):
    """SQL reading one written output, partition and provenance columns dropped."""
    pattern = f"{path}/*/*.parquet" if hive else f"{path}/*.parquet"
    excl = f" EXCLUDE ({', '.join(drop)})" if drop else ""
    return (f"SELECT *{excl} FROM read_parquet('{pattern}', "
            f"hive_partitioning = {str(hive).lower()})")


def compare(con, got_sql, want_sql):
    """None when both relations hold the same multiset of rows under the
    same column names (order of rows and columns ignored), else the first
    problem found."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS {got_sql}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {want_sql}")
    cols = lambda t: sorted(r[0] for r in con.execute(f"DESCRIBE {t}").fetchall())
    g, w = cols("got"), cols("want")
    if g != w:
        return f"cols {g} != {w}"
    n_got, n_want = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                     for t in ("got", "want"))
    if n_got != n_want:
        return f"rows {n_got} != {n_want}"
    sel = ", ".join(f'"{c}"' for c in g)
    diff = con.execute(f"SELECT {sel} FROM got EXCEPT ALL SELECT {sel} FROM want").fetchall()
    if diff:
        return f"{len(diff)} rows differ, e.g. {diff[0]!r}"[:400]
    return None


def outputs(workload, data_dir, out_dir, oracle_sql):
    """(name, SQL reading the output, oracle SQL) for every output of the run."""
    if workload != "etl_star_load":
        return [(name, read_output(f"{out_dir}/{name}"), sql)
                for name, sql in sorted(oracle_sql.items())]
    hive = {"etl/fact_sales", "etl/fact_inventory"}
    checks = [(name, read_output(f"{out_dir}/{name}", name in hive,
                                 ("ym",) if name in hive else ()), sql)
              for name, sql in sorted(oracle_sql.items())]
    sales = SALES_SQL.format(dir=data_dir)
    pruned = (f"SELECT * FROM ({sales}) WHERE ts >= TIMESTAMP '{PRUNED_LO}' "
              f"AND ts <= TIMESTAMP '{PRUNED_HI}'")
    checks += [
        ("inventory", read_output(f"{out_dir}/inventory", True, ("ym", "object")),
         INVENTORY_SQL.format(dir=data_dir)),
        ("sales_events", read_output(f"{out_dir}/sales_events", True, ("ym",)), sales),
        ("manifest_sales", read_output(f"{out_dir}/manifest_sales", False, ("ym",)), sales),
        ("pruned", read_output(f"{out_dir}/pruned", False, ("ym",)), pruned),
    ]
    return checks


def check(workload, data_dir, out_dir, oracle_sql, tmp_dir):
    """{output name: None if it matches its oracle, else the problem}."""
    con = connect(data_dir, tmp_dir)
    result = {}
    for name, got_sql, want_sql in outputs(workload, data_dir, out_dir, oracle_sql):
        try:
            result[name] = compare(con, got_sql, want_sql)
        except Exception as e:  # noqa: BLE001 -- any failure is a mismatch
            result[name] = f"{type(e).__name__}: {e}"[:400]
    return result
