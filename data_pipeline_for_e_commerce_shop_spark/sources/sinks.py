"""Sink operators S5-S7, S9-S11 (SURVEY §2.1).

No Delta Lake runtime is available in this environment, so tables are
parquet directories with Hive-style ``dt=`` partitions and sinks use
dynamic partition overwrite.  On a production cluster these map 1:1 onto
Delta/Iceberg tables (noted per function); the operator semantics —
partition-scoped overwrite, quarantine-with-reason, idempotent manifest —
are identical.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_partitioned(df: DataFrame, path: str, partition_col: str = "dt") -> None:
    """S5: partitioned table write with DYNAMIC partition overwrite.

    The reference's ``mode('overwrite')`` on the whole table
    (scripts/validation.py:121-129) deletes every previous day each
    batch — SURVEY §4.3.  Dynamic overwrite replaces only the partitions
    present in this batch (Delta equivalent: ``replaceWhere``).
    """
    (
        df.write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_quarantine(
    bad_rows: DataFrame, path: str, reason: str | Column, error_type: str | Column
) -> None:
    """S9: quarantine failing rows with reason/provenance columns —
    replaces the copy-to-rejected/-plus-JSON flow
    (reference lambda/s3_validation.py:138-157).

    ``reason`` and ``error_type`` are literals or per-row expressions
    over ``bad_rows``; both see its columns as they are on input."""
    (
        bad_rows.withColumns(
            {
                "reason": F.lit(reason),
                "error_type": F.lit(error_type),
                "rejected_at": F.current_timestamp(),
            }
        )
        .write.mode("append")
        .parquet(path)
    )


def write_manifest(path: str, payload: dict) -> None:
    """S6: one-row JSON result manifest
    (reference scripts/validation.py:132-142) — driver-side by design;
    it is control metadata, not data."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(payload, f, sort_keys=True)


def write_alert(alerts_path: str, payload: dict) -> None:
    """S10: alert append (reference SNS publish,
    lambda/s3_validation.py:160-177) represented as an alerts table row."""
    os.makedirs(alerts_path, exist_ok=True)
    fname = f"alert_{abs(hash(json.dumps(payload, sort_keys=True)))}.json"
    with open(os.path.join(alerts_path, fname), "w") as f:
        json.dump(payload, f, sort_keys=True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort: bool = True,
) -> None:
    """Hash-bucketed (and per-bucket sorted) catalog table.

    Both sides of a join bucketed on their join keys with the same
    bucket count are CO-LOCATED: the join needs no shuffle at all —
    the single biggest cost elimination available for a repeated
    fact-to-fact join at 100 TB (every query on `order_id` pays a full
    fact shuffle otherwise; bucketing pays it once, at write time).

    Repartitioning by the bucket column first keeps one file per
    bucket, which also lets Spark trust the sort order and skip the
    sort before a merge join.
    """
    w = (
        df.repartition(n_buckets, F.col(bucket_col))
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
    )
    if sort:
        w = w.sortBy(bucket_col)
    w.saveAsTable(table)


def compact_table(
    spark,
    path: str,
    target_rows_per_file: int = 1_000_000,
    partition_col: str | None = None,
) -> int:
    """Small-file compaction — the maintenance job every streaming or
    per-batch writer eventually needs (each micro-batch/day writes its
    own files; a year later the table is a million 2 MB files and scan
    planning dominates query time).

    Rewrites the table with a row-count-targeted file size:
    `maxRecordsPerFile` bounds file size without a global repartition;
    the `coalesce` merges existing small partitions WITHOUT a shuffle
    (coalesce only unions read splits).  With `partition_col` the
    partition directory layout is re-created so readers' partition
    pruning keeps working; note the row target then applies per task x
    partition, so tune `target_rows_per_file` to the largest partition,
    and the WHOLE table is rewritten — compact one partition at a time
    by passing that partition's path instead.  Returns the number of
    files after compaction.

    LOCAL-FILESYSTEM ONLY: the finishing swap uses directory renames,
    which (a) do not exist atomically on object stores and (b) leave a
    window between the two moves where the table directory is absent —
    a crash there is rolled back on the next call only manually.  At
    100 TB use a transactional table format (Delta/Iceberg OPTIMIZE);
    this utility is the plain-parquet equivalent for dev/CI data.
    """
    import glob
    import os
    import shutil

    df = spark.read.parquet(path)
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    tmp = path.rstrip("/") + "._compact_tmp"
    old = path.rstrip("/") + "._compact_old"
    shutil.rmtree(tmp, ignore_errors=True)  # debris from a crashed run
    shutil.rmtree(old, ignore_errors=True)
    w = (
        df.coalesce(n_files)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
    )
    if partition_col:
        w = w.partitionBy(partition_col)
    w.parquet(tmp)
    shutil.move(path, old)
    try:
        shutil.move(tmp, path)
    except BaseException:
        shutil.move(old, path)  # roll the original back into place
        raise
    shutil.rmtree(old)
    return len(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def expire_partitions(
    spark, path: str, partition_col: str, keep_latest: int
) -> dict:
    """Retention expiry for a partitioned table: drop all but the
    latest N partitions, return an audit of what was removed.

    On plain parquet this is a directory-level delete (partition
    pruning makes it metadata-only — no data files are read); the
    Delta form is ``DELETE WHERE dt < cutoff`` + VACUUM.  Partition
    deletion, not row filtering, is what keeps retention O(partitions)
    at 100 TB.
    """
    import shutil

    def _order_key(dirname: str):
        # "latest" must follow the partition VALUE, not the directory
        # string: numeric values sort lexicographically wrong
        # (day=9 > day=10 as strings)
        v = dirname.split("=", 1)[1]
        try:
            return (0, int(v), "")
        except ValueError:
            return (1, 0, v)

    parts = sorted(
        (d for d in os.listdir(path)
         if d.startswith(f"{partition_col}=")),
        key=_order_key,
    )
    kept = parts[-keep_latest:] if keep_latest > 0 else []
    drop = parts[: len(parts) - len(kept)]
    for d in drop:
        shutil.rmtree(os.path.join(path, d))
    return {
        "path": path,
        "dropped": [d.split("=", 1)[1] for d in drop],
        "kept": [d.split("=", 1)[1] for d in kept],
    }
