"""Seeded input generators for the benchmark workloads.

`medallion_csvs` writes the reference job's three dirty CSVs with the
dirt profile of FIXTURES.md section A at a larger scale, as a pure function
of the seed and the UTC date they are made on, and returns a manifest of how
much of each kind of dirt was injected. `orders_parquet` writes a seeded
`orders` table in the schema of the TPC-H-style test tables, for the
registry queries the medallion workload runs.

Stream events are generated inside the harness JVM (perfbench.EventGen),
batch by batch from the seed, and written out for the check.
"""
import datetime as dt
import os

import numpy as np
import pandas as pd


def _dates(r, start, n_days, n):
    base = np.datetime64(start, "D")
    return np.datetime_as_string(base + r.integers(0, n_days, n), unit="D")


def _blank(values, mask):
    values = values.astype(object)
    values[mask] = None
    return values


def medallion_csvs(out, seed, n_customers, today=None):
    """Writes customers/work_orders/parts_sales CSVs (all values strings,
    empty = null). Work orders are 5x and sales 12x the customers. Sale
    dates fall in the year before the UTC `today`, never within two days
    of the 90-day cut of the revenue metric. Returns the dirt manifest.
    """
    os.makedirs(out, exist_ok=True)
    today = today or dt.datetime.now(dt.timezone.utc).date()
    r = np.random.default_rng(seed)
    n_c, n_w, n_s = n_customers, 5 * n_customers, 12 * n_customers

    # a duplicate repeats a key with a strictly different order column, so
    # "latest record" is always decided by it (no tie-breaks involved)
    def with_dups(n, rate):
        dup = np.flatnonzero(r.random(n) < rate)
        return np.concatenate([np.arange(n), dup]), len(dup)

    c_idx, c_dups = with_dups(n_c, 0.06)
    c_ids = np.array([f"C{i:06d}" for i in range(n_c)])
    created = np.where(np.arange(len(c_idx)) < n_c,
                       _dates(r, "2023-01-01", 300, len(c_idx)),
                       _dates(r, "2023-11-01", 300, len(c_idx)))
    c_seg_null = r.random(len(c_idx)) < 0.03
    customers = pd.DataFrame({
        "customer_id": c_ids[c_idx],
        "customer_name": [f"Cliente {i}-{j}" for j, i in enumerate(c_idx)],
        "segment": _blank(r.choice(["A", "B", "C"], len(c_idx)), c_seg_null),
        "state": r.choice(["BA", "SP", "GO", "MG", "RJ", "PR"], len(c_idx)),
        "created_at": created})

    w_idx, w_dups = with_dups(n_w, 0.025)
    w_ids = np.array([f"WO{i:07d}" for i in range(n_w)])
    cust = c_ids[r.integers(0, n_c, len(w_idx))].astype(object)
    w_orphan = r.random(len(w_idx)) < 0.02
    cust[w_orphan] = [f"C9{i:07d}" for i in r.integers(0, 10**7,
                                                       w_orphan.sum())]
    w_null_fk = (r.random(len(w_idx)) < 0.01) & ~w_orphan
    cust[w_null_fk] = None
    w_null_date = r.random(len(w_idx)) < 0.01
    first = np.arange(len(w_idx)) < n_w
    work_orders = pd.DataFrame({
        "work_order_id": w_ids[w_idx],
        "customer_id": cust,
        "order_date": _blank(_dates(r, "2025-01-01", 365, len(w_idx)),
                             w_null_date),
        "status": r.choice(["OPEN", "IN_PROGRESS", "CLOSED", "CANCELLED"],
                           len(w_idx), p=[0.52, 0.21, 0.16, 0.11]),
        "labor_hours": [f"{x:.2f}" for x in r.uniform(0.5, 12, len(w_idx))],
        "labor_cost": [f"{x:.2f}" for x in r.uniform(40, 900, len(w_idx))],
        "updated_at": np.where(first, _dates(r, "2025-01-01", 200, len(w_idx)),
                               _dates(r, "2025-07-21", 160, len(w_idx)))})

    s_idx, s_dups = with_dups(n_s, 0.0125)
    s_ids = np.array([f"PS{i:08d}" for i in range(n_s)])
    wo = w_ids[r.integers(0, n_w, len(s_idx))].astype(object)
    s_orphan = r.random(len(s_idx)) < 0.01
    wo[s_orphan] = [f"WO9{i:07d}" for i in r.integers(0, 10**7,
                                                      s_orphan.sum())]
    s_null_fk = (r.random(len(s_idx)) < 0.005) & ~s_orphan
    wo[s_null_fk] = None
    s_null_price = r.random(len(s_idx)) < 0.005
    s_bad_qty = r.random(len(s_idx)) < 0.002
    s_null_date = r.random(len(s_idx)) < 0.005
    qty = r.integers(1, 6, len(s_idx)).astype(str).astype(object)
    qty[s_bad_qty] = "n/a"
    # days before today, skipping 88..92 so a run crossing midnight cannot
    # move a sale across the 90-day cut
    back = r.integers(0, 360, len(s_idx))
    back = np.where((back >= 88) & (back <= 92), back + 5, back)
    sale = np.datetime_as_string(np.datetime64(today, "D") - back, unit="D")
    first = np.arange(len(s_idx)) < n_s
    parts_sales = pd.DataFrame({
        "sale_id": s_ids[s_idx],
        "work_order_id": wo,
        "sku": [f"P{i:05d}" for i in r.integers(0, 500, len(s_idx))],
        "quantity": qty,
        "unit_price": _blank(np.array([f"{x:.2f}" for x in
                                       r.uniform(5, 999, len(s_idx))]),
                             s_null_price),
        "sale_date": _blank(sale, s_null_date),
        "updated_at": np.where(first, _dates(r, "2025-01-01", 200, len(s_idx)),
                               _dates(r, "2025-07-21", 160, len(s_idx))),
        "total_price": _blank(np.array([f"{x:.2f}" for x in
                                        r.uniform(5, 5000, len(s_idx))]),
                              r.random(len(s_idx)) < 0.005)})

    customers.to_csv(f"{out}/customers.csv", index=False)
    work_orders.to_csv(f"{out}/work_orders.csv", index=False)
    parts_sales.to_csv(f"{out}/parts_sales.csv", index=False)
    return {
        "today_utc": str(today),
        "customers": {"rows": len(customers), "duplicate_ids": c_dups,
                      "null_segment": int(c_seg_null.sum())},
        "work_orders": {"rows": len(work_orders), "duplicate_ids": w_dups,
                        "orphan_customer_ids": int(w_orphan.sum()),
                        "null_customer_ids": int(w_null_fk.sum()),
                        "null_order_dates": int(w_null_date.sum())},
        "parts_sales": {"rows": len(parts_sales), "duplicate_ids": s_dups,
                        "orphan_work_order_ids": int(s_orphan.sum()),
                        "null_work_order_ids": int(s_null_fk.sum()),
                        "null_unit_prices": int(s_null_price.sum()),
                        "bad_quantities": int(s_bad_qty.sum()),
                        "null_sale_dates": int(s_null_date.sum())},
    }


ORDER_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                    "5-LOW"]


def orders_parquet(out, seed, n_rows):
    """Writes `orders.parquet` (one file, as the test tables are): order
    dates over 1995-1997 at midnight, so the 1996-01-01 cut of x108 splits
    them, prices with two decimals, about 1% of them null. Returns its
    make-up."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out, exist_ok=True)
    r = np.random.default_rng([seed, 108])
    days = r.integers(0, 3 * 365, n_rows)
    null_price = r.random(n_rows) < 0.01
    price = np.round(r.uniform(850, 560000, n_rows), 2)
    table = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_rows + 1), pa.int64()),
        "o_custkey": pa.array(r.integers(1, n_rows // 10 + 2, n_rows),
                              pa.int64()),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n_rows)),
        "o_totalprice": pa.array(price, pa.float64(), mask=null_price),
        "o_orderdate": pa.array(np.datetime64("1995-01-01", "us")
                                + days.astype("timedelta64[D]"),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(r.choice(ORDER_PRIORITIES, n_rows)),
    })
    pq.write_table(table, f"{out}/orders.parquet")
    return {"rows": n_rows, "null_prices": int(null_price.sum()),
            "before_1996": int((days < 365).sum())}
