"""Checks the program's outputs against results computed apart from it,
with DuckDB over the same raw inputs. Each check returns {operation: None when it matches, else the
reason}; a mismatch fails that operation.
"""
import decimal
import glob
import json
import os

import duckdb
import pandas as pd


def _canon(df):
    """Columns sorted by name, rows sorted by every value, datetimes at
    microsecond resolution (the comparison tools/check_oracle.py makes)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare_frames(got, want):
    """None when the frames hold the same rows, else the first difference."""
    g, w = _canon(got), _canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                      check_exact=True)
    except AssertionError as e:
        return "values differ: " + str(e).replace("\n", " ")[:300]
    return None


def _read_parquet_dir(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet output under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


# The documented rules of the reference job (FIXTURES.md section A), as SQL
# over the raw CSVs: latest record per key, null order dates dropped,
# UNKNOWN '-1' member, null and dangling customer ids mapped to '-1', sales
# without a published work order dropped, prices cast with null as 0.
MEDALLION_SQL = """
CREATE TABLE cust_s AS SELECT * EXCLUDE rn FROM (
  SELECT *, row_number() OVER (PARTITION BY customer_id
    ORDER BY created_at DESC) rn FROM customers) WHERE rn = 1;
CREATE TABLE dim_customer AS
  SELECT customer_id, customer_name, segment, state FROM cust_s
  UNION ALL SELECT '-1', 'UNKNOWN', 'UNKNOWN', 'UNKNOWN';
CREATE TABLE wo_s AS SELECT * EXCLUDE rn FROM (
  SELECT *, row_number() OVER (PARTITION BY work_order_id
    ORDER BY updated_at DESC) rn FROM work_orders)
  WHERE rn = 1 AND order_date IS NOT NULL;
CREATE TABLE fact_work_order AS
  SELECT work_order_id,
    CASE WHEN customer_id IN (SELECT customer_id FROM dim_customer)
      THEN customer_id ELSE '-1' END AS customer_id,
    order_date, status, labor_hours, labor_cost FROM wo_s;
CREATE TABLE ps_s AS SELECT sale_id, work_order_id, sku,
    TRY_CAST(quantity AS INTEGER) AS quantity,
    TRY_CAST(coalesce(unit_price, '0') AS DECIMAL(10,2)) AS unit_price,
    sale_date FROM (
  SELECT *, row_number() OVER (PARTITION BY sale_id
    ORDER BY updated_at DESC) rn FROM parts_sales) WHERE rn = 1;
CREATE TABLE fact_parts_sales AS
  SELECT sale_id, work_order_id, sku, quantity, unit_price,
    CAST(quantity * unit_price AS DECIMAL(12,2)) AS total_price, sale_date
  FROM ps_s WHERE work_order_id IN (SELECT work_order_id FROM fact_work_order);
CREATE TABLE dim_date AS SELECT DISTINCT CAST(d AS DATE) AS date FROM (
  SELECT order_date AS d FROM fact_work_order
  UNION ALL SELECT sale_date FROM fact_parts_sales) WHERE d IS NOT NULL;
"""

GOLD_COLUMNS = {
    "dim_customer": "customer_id, customer_name, segment, state",
    "fact_work_order": "work_order_id, customer_id, order_date, status, "
                       "labor_hours, labor_cost",
    "fact_parts_sales": "sale_id, work_order_id, sku, "
                        "CAST(quantity AS VARCHAR), CAST(unit_price AS VARCHAR), "
                        "CAST(total_price AS VARCHAR), sale_date",
}


def _set_diff(con, a, b):
    return con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})"
                       ).fetchone()[0]


def medallion(pub, metrics_dir, input_dir, today):
    """The gold tables, DQ ledger and run log published under `pub`, and
    the three metric results under `metrics_dir`, against the DuckDB replica
    of the documented rules."""
    con = duckdb.connect()
    for t in ("customers", "work_orders", "parts_sales"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_csv("
                    f"'{input_dir}/{t}.csv', header=true, all_varchar=true)")
    con.execute(MEDALLION_SQL)
    out = {}
    try:
        problems = []
        for t, cols in GOLD_COLUMNS.items():
            con.execute(f"CREATE VIEW pub_{t} AS SELECT * FROM read_csv("
                        f"'{pub}/gold/{t}.csv', header=true, all_varchar=true)")
            mine = f"SELECT {cols} FROM {t}"
            theirs = f"SELECT * FROM pub_{t}"
            n_mine = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            n_pub = con.execute(f"SELECT count(*) FROM pub_{t}").fetchone()[0]
            if n_mine != n_pub:
                problems.append(f"{t} rows {n_pub} vs {n_mine}")
            elif _set_diff(con, mine, theirs) or _set_diff(con, theirs, mine):
                problems.append(f"{t} rows differ")
        n_dates = con.execute("SELECT count(*) FROM dim_date").fetchone()[0]
        pub_dates = con.execute(
            f"SELECT count(*), count(DISTINCT date) FROM read_csv("
            f"'{pub}/gold/dim_date.csv', header=true, all_varchar=true)"
        ).fetchone()
        if pub_dates != (n_dates, n_dates):
            problems.append(f"dim_date rows {pub_dates} vs {n_dates}")
        # properties of the published tables
        for t, key in (("dim_customer", "customer_id"),
                       ("fact_work_order", "work_order_id"),
                       ("fact_parts_sales", "sale_id")):
            if con.execute(f"SELECT count(*) - count(DISTINCT {key}) "
                           f"FROM pub_{t}").fetchone()[0]:
                problems.append(f"{t}.{key} not unique")
        if not con.execute("SELECT count(*) FROM pub_dim_customer "
                           "WHERE customer_id = '-1'").fetchone()[0]:
            problems.append("no UNKNOWN -1 member")
        if con.execute("SELECT count(*) FROM pub_fact_parts_sales WHERE "
                       "work_order_id NOT IN (SELECT work_order_id FROM "
                       "pub_fact_work_order)").fetchone()[0]:
            problems.append("fact_parts_sales has orphans")
        dq = con.execute(f"SELECT check_name, status, CAST(metric_value AS "
                         f"DOUBLE) FROM read_csv('{pub}/dq/dq_results.csv', "
                         f"header=true, all_varchar=true)").fetchall()
        if len(dq) != 4 or any(s != "PASS" or v != 0.0 for _, s, v in dq):
            problems.append(f"dq ledger {dq}")
        runs = con.execute(f"SELECT rows_dim_customer, rows_fact_work_order, "
                           f"rows_fact_parts_sales FROM read_csv("
                           f"'{pub}/dq/pipeline_runs.csv', header=true, "
                           f"all_varchar=true)").fetchall()
        want = tuple(str(con.execute(f"SELECT count(*) FROM {t}").fetchone()[0])
                     for t in GOLD_COLUMNS)
        if runs != [want]:
            problems.append(f"run log {runs} vs {want}")
        out["pipeline"] = "; ".join(problems) or None
    except Exception as e:
        out["pipeline"] = f"{type(e).__name__}: {e}"[:300]
    out.update(_medallion_metrics(con, metrics_dir, today))
    return out


def _medallion_metrics(con, mdir, today):
    out = {}
    q = decimal.Decimal("0.000001")

    def run(name, fn):
        try:
            out[name] = fn(_read_parquet_dir(f"{mdir}/{name}"))
        except Exception as e:
            out[name] = f"{type(e).__name__}: {e}"[:300]

    def ordered(values, reverse):
        """Sorted, with nulls last (Spark's default for both directions
        of these ORDER BYs)."""
        values = list(values)
        known = [v for v in values if v is not None]
        return (values[:len(known)] == known
                and known == sorted(known, reverse=reverse))

    def revenue(got):
        want = con.execute(f"""
          SELECT c.customer_id, c.customer_name,
                 CAST(SUM(ps.total_price) AS VARCHAR) AS total_revenue
          FROM fact_parts_sales ps
          JOIN fact_work_order wo ON ps.work_order_id = wo.work_order_id
          JOIN dim_customer c ON wo.customer_id = c.customer_id
          WHERE CAST(ps.sale_date AS DATE) >= DATE '{today}' - INTERVAL 90 DAY
          GROUP BY 1, 2""").df()
        if not ordered(got["total_revenue"], True):
            return "not ordered by total_revenue desc"
        got = got.assign(total_revenue=got["total_revenue"].map(
            lambda d: None if d is None else
            str(decimal.Decimal(d).quantize(decimal.Decimal("0.01")))))
        return compare_frames(got, want)

    def by_month(got):
        want = con.execute("""
          SELECT strftime(date_trunc('month', CAST(order_date AS DATE)),
                          '%Y-%m-%d') AS month, status,
                 count(*) AS total_orders
          FROM fact_work_order GROUP BY 1, 2""").df()
        got = got.assign(month=pd.to_datetime(got["month"])
                         .dt.strftime("%Y-%m-%d"))
        if not ordered(zip(got["month"], got["status"]), False):
            return "not ordered by month, status"
        return compare_frames(got, want)

    def avg_ticket(got):
        rows = con.execute("""
          SELECT work_order_id, CAST(SUM(total_price) AS VARCHAR),
                 count(total_price)
          FROM fact_parts_sales GROUP BY 1""").fetchall()
        want = pd.DataFrame(
            [(w, None if n == 0 else str((decimal.Decimal(s) / n)
                                         .quantize(q, decimal.ROUND_HALF_UP)))
             for w, s, n in rows], columns=["work_order_id", "avg_ticket"])
        if not ordered(got["avg_ticket"], True):
            return "not ordered by avg_ticket desc"
        got = got.assign(avg_ticket=got["avg_ticket"].map(
            lambda d: None if d is None else str(decimal.Decimal(d))))
        return compare_frames(got, want)

    run("revenue_per_customer", revenue)
    run("orders_by_status_month", by_month)
    run("avg_ticket", avg_ticket)
    return out


def registry(tables_dir, results_dir):
    """Each registry query's result under `results_dir` against its oracle
    SQL from `graft.SparkEntry.oracleSql` (`results_dir/oracle_sql.json`),
    run by DuckDB over the same parquet tables, compared as
    tools/check_oracle.py does."""
    con = duckdb.connect()
    for p in sorted(glob.glob(f"{tables_dir}/*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(f"{results_dir}/oracle_sql.json") as f:
        sqls = json.load(f)
    out = {}
    for name, sql in sorted(sqls.items()):
        try:
            out[name] = compare_frames(
                _read_parquet_dir(f"{results_dir}/{name}"),
                con.execute(sql).df())
        except Exception as e:
            out[name] = f"{type(e).__name__}: {e}"[:300]
    return out


def stream(check_dir):
    """Final windowed counts against a batch group-by of every generated
    event; dedup output against the generator's distinct keys."""
    con = duckdb.connect()
    for t in ("events", "counts", "dedup"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_csv("
                    f"'{check_dir}/{t}.csv', header=true)")
    problems = []
    want = """SELECT (ts_us // 3600000000) * 3600000 AS window_start_ms,
                event_type, count(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
              FROM events GROUP BY 1, 2"""
    got = """SELECT window_start_ms, event_type, n, total_value FROM counts"""
    for a, b in ((want, got), (got, want)):
        n = _set_diff(con, a, b)
        if n:
            problems.append(f"{n} window counts differ")
    dups = con.execute("SELECT count(*) FROM dedup WHERE times <> 1"
                       ).fetchone()[0]
    if dups:
        problems.append(f"{dups} keys emitted more than once")
    for a, b in (("SELECT DISTINCT event_id FROM events",
                  "SELECT event_id FROM dedup"),
                 ("SELECT event_id FROM dedup",
                  "SELECT DISTINCT event_id FROM events")):
        n = _set_diff(con, a, b)
        if n:
            problems.append(f"{n} dedup keys differ")
    return {"stream_outputs": "; ".join(problems) or None}
