"""Independent expected results for ``ingest_daily``, computed with DuckDB
straight from the generated CSV files, and the check of one episode's
zones against them.

Two pipeline defects are known (see README.md):

1. A second batch for an already ingested day overwrites that day's ``dt``
   partition in the validated zone, so the first batch's rows drop out of
   the validated zone and the KPIs recomputed from it.
2. ``products`` is partitioned by ``current_date()``, so a run that spans
   UTC midnight sees the catalogue twice and double counts category KPIs.

Every KPI row is compared with the true expected value (all admitted rows
of all batches).  A row that differs counts in ``wrong_rows``.  The check
passes when each differing row lies on the redelivered day and equals
what defect 1 predicts (a replay of the batches under partition-overwrite
semantics), and the quarantined row counts equal the generator's injected
counts exactly.  If the products zone holds more than one ``dt`` partition
(defect 2 fired) the category rows are reported, not judged.
"""

from __future__ import annotations

import glob
import os
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow.parquet as pq

from ingestgen import IngestInputs

TYPED = {
    "orders": {"order_id": "BIGINT", "user_id": "BIGINT", "created_at": "TIMESTAMP",
               "returned_at": "TIMESTAMP", "shipped_at": "TIMESTAMP",
               "delivered_at": "TIMESTAMP", "num_of_item": "INTEGER"},
    "order_items": {"id": "BIGINT", "order_id": "BIGINT", "user_id": "BIGINT",
                    "product_id": "BIGINT", "created_at": "TIMESTAMP",
                    "shipped_at": "TIMESTAMP", "delivered_at": "TIMESTAMP",
                    "returned_at": "TIMESTAMP", "sale_price": "DECIMAL(12,2)"},
    "products": {"id": "BIGINT", "cost": "DECIMAL(12,2)",
                 "retail_price": "DECIMAL(12,2)"},
}
REQUIRED = {"orders": ["order_id", "user_id", "created_at"],
            "order_items": ["id", "order_id", "product_id", "created_at"],
            "products": ["id", "sku", "cost"]}


def _avg(cents: int, count: int) -> Decimal:
    """Spark's avg over decimal(12,2): decimal(16,6), rounded half-up."""
    return (Decimal(cents) / Decimal(100) / Decimal(count)).quantize(
        Decimal("0.000001"), rounding=ROUND_HALF_UP)


def _load(con, inputs: IngestInputs) -> None:
    """Admitted rows of every batch: parsed, non-null, FK-closed within the
    batch; plus each batch's raw and quarantined counts."""
    for entity, typed in TYPED.items():
        parts = []
        for b, batch in enumerate(inputs.batches):
            parts.append(f"SELECT *, {b} AS batch FROM read_csv('{batch.files[entity]}', "
                         "header=true, all_varchar=true)")
        con.execute(f"CREATE TABLE raw_{entity} AS " + " UNION ALL ".join(parts))
        cols = [r[0] for r in con.execute(f"DESCRIBE raw_{entity}").fetchall()]
        select = ", ".join(f"TRY_CAST({c} AS {typed[c]}) AS {c}" if c in typed else c
                           for c in cols)
        bad = " OR ".join(f"({c} IS NOT NULL AND TRY_CAST({c} AS {t}) IS NULL)"
                          for c, t in typed.items())
        nulls = " OR ".join(f"{c} IS NULL" for c in REQUIRED[entity])
        con.execute(f"CREATE TABLE parsed_{entity} AS SELECT {select}, ({bad}) AS malformed "
                    f"FROM raw_{entity}")
        con.execute(f"CREATE TABLE gated_{entity} AS SELECT * EXCLUDE (malformed), "
                    f"({nulls}) AS null_gated FROM parsed_{entity} WHERE NOT malformed")
    con.execute("""CREATE TABLE ok_orders AS SELECT * FROM gated_orders WHERE NOT null_gated""")
    con.execute("""CREATE TABLE ok_products AS SELECT * FROM gated_products WHERE NOT null_gated""")
    con.execute("""CREATE TABLE ok_items AS SELECT i.* FROM gated_order_items i
        WHERE NOT null_gated
          AND EXISTS (SELECT 1 FROM ok_orders o WHERE o.order_id = i.order_id AND o.batch = i.batch)
          AND EXISTS (SELECT 1 FROM ok_products p WHERE p.id = i.product_id AND p.batch = i.batch)""")


def _kpis(con, visible: str) -> dict[tuple, tuple]:
    """KPI rows from the admitted rows ``visible`` selects (a predicate on
    the row ``t``)."""
    out = {}
    for r in con.execute(f"""
        WITH o AS (SELECT * FROM ok_orders t WHERE {visible}),
             i AS (SELECT * FROM ok_items t WHERE {visible})
        SELECT CAST(o.created_at AS DATE), count(DISTINCT o.order_id),
               CAST(sum(i.sale_price * 100) AS BIGINT), count(i.id),
               count(*) FILTER (WHERE i.status = 'returned'), count(DISTINCT o.user_id)
        FROM o JOIN i ON o.order_id = i.order_id GROUP BY 1""").fetchall():
        day, orders, cents, items, returned, users = r
        out[("order", day)] = (orders, Decimal(cents) / 100, items, returned / items, users)
    for r in con.execute(f"""
        WITH i AS (SELECT * FROM ok_items t WHERE {visible}),
             p AS (SELECT * FROM ok_products WHERE batch = (SELECT max(batch) FROM ok_products))
        SELECT p.category, CAST(i.created_at AS DATE), CAST(sum(i.sale_price * 100) AS BIGINT),
               count(*), count(*) FILTER (WHERE i.status = 'returned')
        FROM i JOIN p ON i.product_id = p.id WHERE p.category IS NOT NULL GROUP BY 1, 2
        """).fetchall():
        cat, day, cents, n, returned = r
        out[("category", cat, day)] = (Decimal(cents) / 100, _avg(cents, n), returned / n)
    return out


def _defect_model(con, n_batches: int) -> dict[tuple, tuple]:
    """KPIs as the pipeline computes them when a batch overwrites the dt
    partitions it writes: after batch b a date shows only the rows of the
    latest batch <= b that wrote it; each upsert replaces the keys it
    recomputes and keeps the rest."""
    merged: dict[tuple, tuple] = {}
    for b in range(n_batches):
        visible = (f"t.batch = (SELECT max(x.batch) FROM ok_orders x WHERE x.batch <= {b} "
                   "AND CAST(x.created_at AS DATE) = CAST(t.created_at AS DATE))")
        merged.update(_kpis(con, visible))
    return merged


def _actual(zones: str) -> dict[tuple, tuple]:
    out = {}
    path = os.path.join(zones, "kpis", "order")
    for r in pq.read_table(path).to_pylist() if os.path.isdir(path) else []:
        out[("order", r["order_date"])] = (r["total_orders"], r["total_revenue"],
                                           r["total_items_sold"], r["return_rate"],
                                           r["unique_customers"])
    path = os.path.join(zones, "kpis", "category")
    for r in pq.read_table(path).to_pylist() if os.path.isdir(path) else []:
        out[("category", r["category"], r["order_date"])] = (
            r["daily_revenue"], r["avg_order_value"], r["avg_return_rate"])
    return out


def _quarantined(zones: str) -> Counter:
    got: Counter = Counter()
    for entity in TYPED:
        path = os.path.join(zones, "rejected", entity)
        if os.path.isdir(path):
            for r in pq.read_table(path, columns=["error_type"]).to_pylist():
                got[f"{entity}.{r['error_type']}"] += 1
    return got


def check_episode(inputs: IngestInputs, base: str) -> dict:
    zones = os.path.join(base, "zones")
    con = duckdb.connect()
    try:
        _load(con, inputs)
        raw_rows = sum(con.execute(f"SELECT count(*) FROM raw_{e}").fetchone()[0]
                       for e in TYPED)
        truth = _kpis(con, "true")
        model = _defect_model(con, len(inputs.batches))
    finally:
        con.close()
    actual = _actual(zones)
    redelivered = {d for b in inputs.batches if b.redelivery for d in b.days}
    products_parts = len(glob.glob(os.path.join(zones, "validated", "products", "dt=*")))
    wrong, unexplained, known = 0, [], Counter()
    for key in sorted(set(truth) | set(actual), key=str):
        got, want = actual.get(key), truth.get(key)
        if got == want:
            continue
        wrong += 1
        day = key[-1].isoformat()
        if day in redelivered and got == model.get(key):
            known["partition_overwrite"] += 1
        elif key[0] == "category" and products_parts > 1:
            known["products_current_date"] += 1
        else:
            unexplained.append({"key": str(key), "got": str(got), "want": str(want),
                                "defect_model": str(model.get(key))})
    quarantined = _quarantined(zones)
    injected = {f"{e}.{t}": n for (e, t), n in inputs.injected.items()}
    state = pq.read_table(os.path.join(base, "state"), columns=["status"]).to_pylist()
    failed_batches = sum(r["status"] != "done" for r in state)
    return {
        "correct": not unexplained and dict(quarantined) == injected and not failed_batches,
        "wrong_rows": wrong,
        "known_defect_rows": dict(known),
        "unexplained": unexplained[:10],
        "kpi_rows": len(actual),
        "quarantined": dict(quarantined),
        "injected": injected,
        "quarantined_total": sum(quarantined.values()),
        "raw_rows": raw_rows,
        "products_partitions": products_parts,
        "failed_batches": failed_batches,
    }
