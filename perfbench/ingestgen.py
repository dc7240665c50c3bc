"""Seeded raw CSV daily extracts for the ``ingest_daily`` workload.

Each batch is an ``orders`` + ``order_items`` extract plus a ``products``
catalogue snapshot.  Every day's rows and every snapshot carry the same
injected defects, each in rows that nothing else references, so no defect
cascades into another gate and the expected quarantine counts are exact:

- ``orders``: null ``user_id`` (null gate), malformed ``order_id`` (CSV
  parse error);
- ``order_items``: null ``product_id`` (null gate), orphan ``order_id``
  and orphan ``product_id`` (referential gate), malformed ``sale_price``
  (CSV parse error);
- ``products``: null ``cost`` (null gate) and null ``category`` (admitted,
  skipped by the category KPIs).

The traffic is one extract holding ``days`` days of orders, then a late
redelivery: a second batch for the extract's last day, with new orders,
whose file events land after the first batch's debounce window closed.
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass
from datetime import date, datetime, timedelta

CATEGORIES = [f"cat_{i:02d}" for i in range(12)]
ORDER_STATUS = ["delivered", "shipped", "returned", "cancelled"]
ITEM_STATUS = ["complete", "shipped", "returned", "cancelled"]
FIRST_DAY = date(2024, 3, 1)
EXTRACT_HOUR = 23
REDELIVERY_DELAY = timedelta(minutes=20)  # > the 90 s debounce gap
SOURCE = "shop"  # debounce group key of every file event

# Injected defects (entity, error_type) -> rows, per day of orders and,
# for products, per catalogue snapshot.
DEFECTS = {
    ("orders", "NULL_VALIDATION_ERROR"): 3,
    ("orders", "SCHEMA_ERROR"): 2,
    ("order_items", "NULL_VALIDATION_ERROR"): 4,
    ("order_items", "REFERENTIAL_ERROR"): 6,  # 3 orphan orders + 3 orphan products
    ("order_items", "SCHEMA_ERROR"): 2,
    ("products", "NULL_VALIDATION_ERROR"): 2,
}
NULL_CATEGORY_PRODUCTS = 5

ORDERS_HEADER = ["order_id", "user_id", "status", "created_at", "returned_at",
                 "shipped_at", "delivered_at", "num_of_item"]
ITEMS_HEADER = ["id", "order_id", "user_id", "product_id", "status", "created_at",
                "shipped_at", "delivered_at", "returned_at", "sale_price"]
PRODUCTS_HEADER = ["id", "sku", "cost", "category", "name", "brand",
                   "retail_price", "department"]


@dataclass
class Batch:
    days: list[str]              # order dates the extract covers
    files: dict[str, str]        # entity -> csv path
    arrival: datetime            # first file event of the batch
    raw_bytes: int
    injected: dict[tuple[str, str], int]  # (entity, error_type) -> rows
    redelivery: bool = False


@dataclass
class IngestInputs:
    batches: list[Batch]

    @property
    def raw_bytes(self) -> int:
        return sum(b.raw_bytes for b in self.batches)

    @property
    def injected(self) -> dict[tuple[str, str], int]:
        out: dict[tuple[str, str], int] = {}
        for b in self.batches:
            for k, n in b.injected.items():
                out[k] = out.get(k, 0) + n
        return out

    def file_events(self) -> list[tuple[datetime, str, str]]:
        """(event_ts, group_key, file_path): one event per file, a few
        seconds apart within a batch."""
        out = []
        for b in self.batches:
            for k, path in enumerate(sorted(b.files.values())):
                out.append((b.arrival + timedelta(seconds=5 * k), SOURCE, path))
        return out


def _money(rng: random.Random, lo: int, hi: int) -> str:
    cents = rng.randint(lo, hi)
    return f"{cents // 100}.{cents % 100:02d}"


def _ts(t: datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _write(path: str, header: list[str], rows: list[list]) -> int:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)
    return os.path.getsize(path)


def _products(rng: random.Random, n: int) -> tuple[list[list], list[int]]:
    """Catalogue snapshot; returns rows and the ids items may reference."""
    rows, good = [], []
    for pid in range(1, n + 1):
        cat = rng.choice(CATEGORIES)
        if pid <= NULL_CATEGORY_PRODUCTS:
            cat = ""
        rows.append([pid, f"SKU-{pid:06d}", _money(rng, 100, 20_000), cat,
                     f"product {pid}", f"brand_{pid % 17}", _money(rng, 500, 40_000),
                     "Women" if pid % 2 else "Men"])
        good.append(pid)
    for k in range(DEFECTS[("products", "NULL_VALIDATION_ERROR")]):
        pid = n + 1 + k  # never referenced by an item
        rows.append([pid, f"SKU-{pid:06d}", "", rng.choice(CATEGORIES),
                     f"product {pid}", "brand_x", _money(rng, 500, 40_000), "Men"])
    return rows, good


def _extract(rng, day: date, n_orders: int, next_order: int, next_item: int,
             product_ids: list[int]):
    """One day's orders + order_items rows with the injected defects."""
    orders, items = [], []
    day0 = datetime(day.year, day.month, day.day)

    def when() -> datetime:
        return day0 + timedelta(seconds=rng.randint(0, 86_399))

    for _ in range(n_orders):
        oid, uid, t = next_order, rng.randint(1, 5_000), when()
        next_order += 1
        n_items = rng.randint(1, 4)
        orders.append([oid, uid, rng.choice(ORDER_STATUS), _ts(t), "", "", "", n_items])
        for _ in range(n_items):
            status = rng.choice(ITEM_STATUS)
            items.append([next_item, oid, uid, rng.choice(product_ids), status, _ts(t),
                          "", "", _ts(t) if status == "returned" else "",
                          _money(rng, 199, 25_000)])
            next_item += 1
    anchor = orders[0]
    # orders: null user_id, malformed order_id — neither has items
    for _ in range(DEFECTS[("orders", "NULL_VALIDATION_ERROR")]):
        orders.append([next_order, "", "shipped", _ts(when()), "", "", "", 0])
        next_order += 1
    for k in range(DEFECTS[("orders", "SCHEMA_ERROR")]):
        orders.append([f"X{k}-{next_order}", 7, "shipped", _ts(when()), "", "", "", 0])
    # order_items: null product_id, orphan order, orphan product, malformed price
    t = anchor[3]
    for _ in range(DEFECTS[("order_items", "NULL_VALIDATION_ERROR")]):
        items.append([next_item, anchor[0], anchor[1], "", "complete", t, "", "", "", "9.99"])
        next_item += 1
    for k in range(DEFECTS[("order_items", "REFERENTIAL_ERROR")]):
        orphan_order = k % 2 == 0
        items.append([next_item, 10**12 + next_item if orphan_order else anchor[0],
                      anchor[1], product_ids[0] if orphan_order else 10**9 + k,
                      "complete", t, "", "", "", "5.00"])
        next_item += 1
    for _ in range(DEFECTS[("order_items", "SCHEMA_ERROR")]):
        items.append([next_item, anchor[0], anchor[1], product_ids[0], "complete", t,
                      "", "", "", "1.2.3"])
        next_item += 1
    return orders, items, next_order, next_item


def make_ingest_inputs(root: str, seed: int, days: int, orders_per_day: int,
                       n_products: int, redelivery_orders: int) -> IngestInputs:
    """Write the extract and its redelivery under ``root``."""
    rng = random.Random(seed)
    products, product_ids = _products(rng, n_products)
    next_order, next_item = 1, 1
    plan = [(list(range(days)), orders_per_day, False),
            ([days - 1], redelivery_orders, True)]
    batches = []
    for n, (day_numbers, n_orders, redelivery) in enumerate(plan):
        orders, items = [], []
        for d in day_numbers:
            o, i, next_order, next_item = _extract(
                rng, FIRST_DAY + timedelta(days=d), n_orders, next_order, next_item,
                product_ids)
            orders += o
            items += i
        bdir = os.path.join(root, f"batch_{n:02d}")
        os.makedirs(bdir)
        files, raw = {}, 0
        for entity, header, rows in (("orders", ORDERS_HEADER, orders),
                                     ("order_items", ITEMS_HEADER, items),
                                     ("products", PRODUCTS_HEADER, products)):
            files[entity] = os.path.join(bdir, f"{entity}.csv")
            raw += _write(files[entity], header, rows)
        last = FIRST_DAY + timedelta(days=day_numbers[-1])
        arrival = datetime(last.year, last.month, last.day, EXTRACT_HOUR)
        if redelivery:
            arrival += REDELIVERY_DELAY
        injected = {(e, t): n * (1 if e == "products" else len(day_numbers))
                    for (e, t), n in DEFECTS.items()}
        batches.append(Batch([(FIRST_DAY + timedelta(days=d)).isoformat()
                              for d in day_numbers], files, arrival, raw, injected,
                             redelivery))
    return IngestInputs(batches)
