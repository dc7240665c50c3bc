"""T5-T10: batch state machine + single-flight FIFO runner.

Reference: a DynamoDB ``batch_chunks`` table driven by two racing
Lambdas — a stream trigger (lambda/lab6-ttl.py:36-119) and a scheduled
controller (lambda/controller.py:38-133) — with an UNguarded
pending->processing transition (they can both launch the same chunk;
SURVEY §4.3).  Status flow: pending -> processing -> done|failed with
retry/backoff handled by Step Functions
(stepfunction/stepfunction.json:71-79,196-204).

Here the job-state table is a parquet-backed table of O(batches) control
rows, and every transition is one driver-side read-modify-write: read the
rows (schema pinned, one job), apply the CONDITIONAL transition in Python
(only a pending row moves to processing, so a duplicate trigger cannot
double-claim), write them back (one job, skipped when nothing changed).
This relies on the single-writer contract the runner already keeps: one
controller owns the table, as for ``operators/merge.upsert_parquet_table``.
On Delta this is ``MERGE ... WHEN MATCHED AND t.status='pending'``.
The runner loop is the controller's FIFO probe: oldest pending batch,
one in flight, N attempts with recorded history.
"""

from __future__ import annotations

import datetime as dt
import os
import traceback
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

BATCH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("group_key", T.StringType(), True),
        T.StructField("file_paths", T.ArrayType(T.StringType()), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("processing_started_at", T.TimestampType(), True),
        T.StructField("completed_at", T.TimestampType(), True),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("last_error", T.StringType(), True),
    ]
)
ARROW_SCHEMA = to_arrow_schema(BATCH_STATE_SCHEMA)


class BatchStateTable:
    """Parquet-backed job-state table (reference DynamoDB batch_chunks,
    readme.md:113-114; Delta table in production)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

    def read(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], BATCH_STATE_SCHEMA)
        return self.spark.read.schema(BATCH_STATE_SCHEMA).parquet(self.path)

    def rows(self) -> list[dict]:
        """Every state row on the driver, in one job: job-state is control
        metadata, O(batches) and tiny.  Rows travel as Arrow both ways, so
        timestamps are UTC-aware and the write-back is a local relation."""
        return self.read().toArrow().to_pylist() if self._exists() else []

    def _overwrite(self, rows: list[dict]) -> None:
        out = self.spark.createDataFrame(pa.Table.from_pylist(rows, ARROW_SCHEMA))
        out.coalesce(1).write.mode("overwrite").parquet(self.path)

    def enqueue(self, batches: DataFrame) -> None:
        """T4: append newly closed debounce windows as pending rows,
        idempotent on batch_id (re-running the debounce can't double-
        enqueue — already-known ids are dropped)."""
        rows = self.rows()
        known = {r["batch_id"] for r in rows}
        fresh = batches.select(
            "batch_id",
            "group_key",
            "file_paths",
            F.coalesce(F.col("batch_start"), F.current_timestamp()).alias("created_at"),
        ).toArrow().to_pylist()
        new = [
            dict(
                b,
                status="pending",
                processing_started_at=None,
                completed_at=None,
                attempts=0,
                last_error=None,
            )
            for b in fresh
            if b["batch_id"] not in known
        ]
        if new:
            self._overwrite(rows + new)

    def claim_next(self) -> Row | None:
        """T6: single-flight FIFO claim with a CONDITIONAL transition.

        If any batch is 'processing', claim nothing (reference
        controller probe, lambda/controller.py:52-61).  Otherwise move
        the OLDEST pending row (ties broken by batch_id) to processing —
        only a pending row can move, so a concurrent duplicate trigger
        (the reference's T5/T6 race) cannot double-claim.
        """
        rows = self.rows()
        if any(r["status"] == "processing" for r in rows):
            return None
        pending = [r for r in rows if r["status"] == "pending"]
        if not pending:
            return None
        row = min(pending, key=lambda r: (r["created_at"], r["batch_id"]))
        row["status"] = "processing"
        row["attempts"] += 1
        if row["processing_started_at"] is None:
            row["processing_started_at"] = dt.datetime.now(dt.timezone.utc)
        self._overwrite(rows)
        return Row(**row)

    def finish(self, batch_id: str, status: str, error: str | None = None) -> None:
        """T7: processing -> done|failed stamp (reference
        lambda/confirm_status.py:31-46)."""
        rows = self.rows()
        now = dt.datetime.now(dt.timezone.utc)
        for r in rows:
            if r["batch_id"] == batch_id:
                r.update(status=status, completed_at=now, last_error=error)
        self._overwrite(rows)

    def requeue_failed(self, max_attempts: int = 3) -> int:
        """T9: failed batches under the attempt budget go back to
        pending (reference Step Functions Retry 3x,
        stepfunction.json:71-79)."""
        rows = self.rows()
        retry = [
            r for r in rows if r["status"] == "failed" and r["attempts"] < max_attempts
        ]
        for r in retry:
            r["status"] = "pending"
        if retry:
            self._overwrite(rows)
        return len(retry)


def run_until_drained(
    table: BatchStateTable,
    process: Callable[[Row], None],
    max_attempts: int = 3,
    max_iterations: int = 1000,
) -> dict[str, int]:
    """The controller loop (reference lambda/controller.py:38-133 +
    Step Functions retry): claim oldest pending, run, stamp
    done/failed, requeue retryable failures, until nothing is pending.

    Returns {'done': n, 'failed': n} terminal counts.
    """
    for _ in range(max_iterations):
        row = table.claim_next()
        if row is None:
            if table.requeue_failed(max_attempts) == 0:
                break
            continue
        try:
            process(row)
            table.finish(row["batch_id"], "done")
        except Exception:
            table.finish(row["batch_id"], "failed", traceback.format_exc()[-2000:])
    statuses = [r["status"] for r in table.rows()]
    return {"done": statuses.count("done"), "failed": statuses.count("failed")}
