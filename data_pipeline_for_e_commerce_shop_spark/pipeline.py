"""Medallion pipeline runner — the reference's two Spark jobs
(validation + transformation) as one coherent, distributed-correct flow.

Reference lifecycle (SURVEY §3): raw CSVs -> validation job (null gate,
RI gate, write Delta partitioned by dt) -> transformation job (star
join, category/order KPIs, DynamoDB coalescing upsert).

This runner re-expresses it:
raw CSVs --schema+null gates--> quarantine or validated parquet
(partitioned by per-row dt, dynamic overwrite) --star join + aggs-->
KPI DataFrames --coalescing merge--> serving tables.

Differences from the reference, by design (SURVEY §4.3):
- per-row ``dt = to_date(created_at)`` instead of one batch date from
  ``first()`` (reference scripts/validation.py:191);
- RI violations quarantined as rows (left_anti), not printed;
- partition-scoped dynamic overwrite instead of whole-table overwrite;
- set-based MERGE instead of per-row get_item/put_item.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_for_e_commerce_shop_spark.functions.scalars import event_date, ratio
from data_pipeline_for_e_commerce_shop_spark.operators.merge import upsert_parquet_table
from data_pipeline_for_e_commerce_shop_spark.quality.gates import (
    NULL_VALIDATION_ERROR,
    REFERENTIAL_ERROR,
    SCHEMA_ERROR,
    DataValidationError,
)
from data_pipeline_for_e_commerce_shop_spark.schemas import (
    ENTITY_SCHEMAS,
    FOREIGN_KEYS,
    NON_NULL_COLUMNS,
    REQUIRED_COLUMNS,
)
from data_pipeline_for_e_commerce_shop_spark.sources.readers import (
    CORRUPT_COL,
    read_csv_entity,
    schema_probe,
)
from data_pipeline_for_e_commerce_shop_spark.sources.sinks import (
    write_partitioned,
    write_quarantine,
)


# The gates' per-row verdict: the reason a row is rejected, null when it
# is admitted.  The first gate a row fails decides it, as if the gates ran
# one after another: corrupt, then nulls, then orphans in FOREIGN_KEYS
# order.  ``NULLS`` stands for the null reason, which names every gated
# column with a null in the batch and so is known after the count.
REASON = "reason"
CORRUPT_REASON = "corrupt csv record"
NULLS = "nulls"


@dataclass
class ValidationResult:
    status: str                      # 'SUCCESS' | 'FAILED'
    error_type: str | None = None
    message: str | None = None
    null_counts: dict = field(default_factory=dict)
    ri_violation_counts: dict = field(default_factory=dict)


class MedallionPipeline:
    """raw -> validated -> KPI zones rooted at ``base_dir``."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        self._cached: list[DataFrame] = []

    def _classify(
        self, df: DataFrame, verdict: Column, counts: dict[str, Column]
    ) -> tuple[DataFrame, dict[str, int]]:
        """Cache ``df`` with each row's verdict in ``REASON`` and evaluate
        ``counts`` in the one job that fills the cache (observed metrics
        over a noop write), so the quarantine and the admitted rows read
        the cache instead of the input.  ``run_batch`` releases it."""
        df = df.withColumn(REASON, verdict).cache()
        self._cached.append(df)
        obs = Observation()
        metrics = [c.alias(name) for name, c in counts.items()]
        df.observe(obs, *metrics).write.format("noop").mode("overwrite").save()
        return df, obs.get

    # ---------------------------------------------------- validation

    def validate_and_load(
        self, entity: str, paths: list[str], strict: bool = False
    ) -> tuple[DataFrame, ValidationResult]:
        """Schema + null gates for one entity (reference
        scripts/validation.py:145-199).

        Non-strict mode quarantines violating rows and admits the rest
        (the scalable posture); strict mode reproduces the reference's
        fail-the-batch behavior via typed DataValidationError.  One
        classification pass counts both gates; one append quarantines
        every rejected row.
        """
        schema = ENTITY_SCHEMAS[entity]
        # Header gate against the ACTUAL file header (S8 schema probe —
        # reading with an imposed schema would mask missing columns;
        # the reference peeks the first line, lambda/s3_validation.py:53-56).
        for p in [paths] if isinstance(paths, str) else paths:
            actual = set(schema_probe(self.spark, p))
            missing = REQUIRED_COLUMNS[entity] - actual
            if missing:
                raise DataValidationError(
                    "SCHEMA_ERROR",
                    f"{entity}: {p} missing columns {sorted(missing)}",
                )
        gated = NON_NULL_COLUMNS[entity]
        corrupt = F.col(CORRUPT_COL).isNotNull()
        # The cache is also what lets Spark query _corrupt_record.
        df, n = self._classify(
            read_csv_entity(self.spark, paths, schema),
            F.when(corrupt, CORRUPT_REASON).when(
                reduce(lambda a, b: a | b, [F.col(c).isNull() for c in gated]), NULLS
            ),
            {
                CORRUPT_COL: F.count_if(corrupt),
                **{c: F.count_if(~corrupt & F.col(c).isNull()) for c in gated},
            },
        )
        nulls = {c: n[c] for c in gated if n[c] > 0}
        reason = F.col(REASON)
        rejected = f"{self.base}/rejected/{entity}"
        if nulls and strict:
            if n[CORRUPT_COL]:
                write_quarantine(
                    df.filter(reason == CORRUPT_REASON),
                    rejected,
                    CORRUPT_REASON,
                    SCHEMA_ERROR,
                )
            raise DataValidationError(
                NULL_VALIDATION_ERROR, f"{entity}: nulls in {nulls}"
            )
        if n[CORRUPT_COL] or nulls:
            write_quarantine(
                df.filter(reason.isNotNull()),
                rejected,
                F.when(
                    reason == NULLS, f"nulls in required columns {sorted(nulls)}"
                ).otherwise(reason),
                F.when(reason == NULLS, NULL_VALIDATION_ERROR).otherwise(SCHEMA_ERROR),
            )
        admitted = df.filter(reason.isNull()).drop(CORRUPT_COL, REASON)
        return admitted, ValidationResult(status="SUCCESS", null_counts=nulls)

    def enforce_referential_integrity(
        self, dfs: dict[str, DataFrame], strict: bool = False
    ) -> tuple[dict[str, DataFrame], dict[str, int]]:
        """FK gates (reference scripts/validation.py:94-118 via
        collect+isin — SURVEY §4.3), one classification pass per child.

        A child row is orphaned on a key with no equal non-null parent
        key (an IN-subquery, planned as a distributed existence join —
        the left_anti semantics, without materializing keys on the
        driver); the first FK in FOREIGN_KEYS order names it.  One
        classification pass counts every FK; one append quarantines
        every orphan.  Returns cleaned dfs + violation counts.
        """
        counts: dict[str, int] = {}
        out = dict(dfs)
        for child in dict.fromkeys(c for c, _, _, _ in FOREIGN_KEYS):
            fks = [
                (ckey, parent, pkey)
                for c, ckey, parent, pkey in FOREIGN_KEYS
                if c == child and c in out and parent in out
            ]
            if not fks:
                continue
            orphans = []
            for ckey, parent, pkey in fks:
                keys = out[parent].select(pkey).where(F.col(pkey).isNotNull())
                has_parent = F.coalesce(F.col(ckey).isin(keys), F.lit(False))
                orphans.append((~has_parent, f"orphaned {ckey}"))
            reason = F.col(REASON)
            df, n = self._classify(
                out[child],
                reduce(lambda v, o: v.when(*o), orphans[1:], F.when(*orphans[0])),
                {ckey: F.count_if(reason == f"orphaned {ckey}") for ckey, _, _ in fks},
            )
            for ckey, parent, pkey in fks:
                counts[f"{child}.{ckey}"] = n[ckey]
                if n[ckey] and strict:
                    raise DataValidationError(
                        REFERENTIAL_ERROR,
                        f"{child}.{ckey}: {n[ckey]} rows with no parent"
                        f" in {parent}.{pkey}",
                    )
            if any(n.values()):
                write_quarantine(
                    df.filter(reason.isNotNull()),
                    f"{self.base}/rejected/{child}",
                    reason,
                    REFERENTIAL_ERROR,
                )
            out[child] = df.filter(reason.isNull()).drop(REASON)
        return out, counts

    def write_validated(self, entity: str, df: DataFrame) -> str:
        """Validated zone write: per-row dt partition, dynamic overwrite
        (fixes reference whole-table overwrite, scripts/validation.py:129)."""
        ts_col = "created_at" if "created_at" in df.columns else None
        out = df.withColumn(
            "dt",
            event_date(ts_col) if ts_col else F.current_date(),
        )
        path = f"{self.base}/validated/{entity}"
        write_partitioned(out, path, "dt")
        return path

    # ------------------------------------------------ transformation

    def read_validated(self, entity: str) -> DataFrame | None:
        path = f"{self.base}/validated/{entity}"
        if not os.path.isdir(path):
            return None
        # Pinned schema: no footer-inference job per read.
        schema = T.StructType(
            ENTITY_SCHEMAS[entity].fields + [T.StructField("dt", T.DateType())]
        )
        return self.spark.read.schema(schema).parquet(path)

    def compute_category_kpis(
        self, items: DataFrame, products: DataFrame
    ) -> DataFrame:
        """Category KPIs (reference transformation.py:187-191): works
        with or without orders present (J3 partial-data branch)."""
        n = F.count(F.lit(1))
        return (
            items.alias("oi")
            .join(
                F.broadcast(products.alias("p")),
                F.col("oi.product_id") == F.col("p.id"),
            )
            .where(F.col("p.category").isNotNull())
            .groupBy(
                F.col("p.category").alias("category"),
                event_date(F.col("oi.created_at")).alias("order_date"),
            )
            .agg(
                F.sum("oi.sale_price").alias("daily_revenue"),
                F.avg("oi.sale_price").alias("avg_order_value"),
                ratio(
                    F.count(F.when(F.col("oi.status") == "returned", True)), n
                ).alias("avg_return_rate"),
            )
            .withColumn("data_sources", F.array(F.lit("order_items")))
        )

    def compute_order_kpis(
        self, orders: DataFrame | None, items: DataFrame | None
    ) -> DataFrame:
        """Order KPIs with the reference's partial-source branch matrix
        (transformation.py:177-248) folded into nullable columns: each
        side fills what it knows; the merge coalesces."""
        if items is not None and orders is not None:
            joined = orders.alias("o").join(
                items.alias("oi"), F.col("o.order_id") == F.col("oi.order_id")
            )
            n = F.count(F.lit(1))
            return (
                joined.groupBy(
                    event_date(F.col("o.created_at")).alias("order_date")
                )
                .agg(
                    F.countDistinct("o.order_id").alias("total_orders"),
                    F.sum("oi.sale_price").alias("total_revenue"),
                    F.count("oi.id").alias("total_items_sold"),
                    ratio(
                        F.count(F.when(F.col("oi.status") == "returned", True)),
                        F.count("oi.id"),
                    ).alias("return_rate"),
                    F.countDistinct("o.user_id").alias("unique_customers"),
                )
                .withColumn(
                    "data_sources", F.array(F.lit("orders"), F.lit("order_items"))
                )
            )
        if items is not None:  # order_items_only (transformation.py:211-233)
            return (
                items.groupBy(event_date("created_at").alias("order_date"))
                .agg(
                    F.sum("sale_price").alias("total_revenue"),
                    F.count("id").alias("total_items_sold"),
                    ratio(
                        F.count(F.when(F.col("status") == "returned", True)),
                        F.count("id"),
                    ).alias("return_rate"),
                )
                .withColumn("total_orders", F.lit(None).cast("long"))
                .withColumn("unique_customers", F.lit(None).cast("long"))
                .withColumn("data_sources", F.array(F.lit("order_items")))
            )
        if orders is not None:  # orders_only (transformation.py:238-246)
            return (
                orders.groupBy(event_date("created_at").alias("order_date"))
                .agg(
                    F.countDistinct("order_id").alias("total_orders"),
                    F.countDistinct("user_id").alias("unique_customers"),
                )
                .withColumn("total_revenue", F.lit(None).cast("decimal(22,2)"))
                .withColumn("total_items_sold", F.lit(None).cast("long"))
                .withColumn("return_rate", F.lit(None).cast("double"))
                .withColumn("data_sources", F.array(F.lit("orders")))
            )
        raise DataValidationError("UNKNOWN", "no sources available")

    def upsert_kpis(self, category_kpis, order_kpis) -> None:
        """Serving-zone coalescing merge (reference
        helperfunction.py:53-208 -> operators/merge.py)."""
        if category_kpis is not None:
            upsert_parquet_table(
                self.spark,
                f"{self.base}/kpis/category",
                category_kpis,
                keys=["category", "order_date"],
                value_cols=["daily_revenue", "avg_order_value", "avg_return_rate"],
            )
        if order_kpis is not None:
            upsert_parquet_table(
                self.spark,
                f"{self.base}/kpis/order",
                order_kpis,
                keys=["order_date"],
                value_cols=[
                    "total_orders",
                    "total_revenue",
                    "total_items_sold",
                    "return_rate",
                    "unique_customers",
                ],
            )

    # ------------------------------------------------------ end-to-end

    def run_batch(self, paths: dict[str, list[str]]) -> ValidationResult:
        """Full batch: validate every provided entity, enforce RI,
        write validated zone, compute+merge KPIs.  Entities absent from
        ``paths`` exercise the reference's partial-source branches."""
        dfs: dict[str, DataFrame] = {}
        result = ValidationResult(status="SUCCESS")
        first_cached = len(self._cached)
        try:
            for entity, entity_paths in paths.items():
                df, res = self.validate_and_load(entity, entity_paths)
                dfs[entity] = df
                result.null_counts.update(
                    {f"{entity}.{c}": n for c, n in res.null_counts.items()}
                )
            dfs, ri_counts = self.enforce_referential_integrity(dfs)
            result.ri_violation_counts = ri_counts
            for entity, df in dfs.items():
                self.write_validated(entity, df)
        finally:
            # Release what this batch's gates cached, on success or failure:
            # nothing reads it after the validated writes.
            for df in self._cached[first_cached:]:
                df.unpersist()
            del self._cached[first_cached:]

        orders = self.read_validated("orders") if "orders" in dfs else None
        items = self.read_validated("order_items") if "order_items" in dfs else None
        products = self.read_validated("products") if "products" in dfs else None
        cat = (
            self.compute_category_kpis(items, products)
            if items is not None and products is not None
            else None
        )
        okpi = (
            self.compute_order_kpis(orders, items)
            if orders is not None or items is not None
            else None
        )
        self.upsert_kpis(cat, okpi)
        return result
