"""Small-file compaction for parquet table directories.

The chronic operational failure mode of long-lived Spark tables:
every micro-batch / incremental write adds a few files, and a year
later the table is a million 2 MB files — list+open overhead dwarfs
the actual scan, and the NameNode/object-store listing itself becomes
the bottleneck.  Compaction rewrites a directory into size-targeted
files (Delta calls this OPTIMIZE; this is the OSS-parquet analog,
published via the same atomic tmp+rename swap as ``SilverStore``).

Scale notes: the rewrite is one shuffle sized by ``ceil(bytes /
target)``; for hive-partitioned tables ``repartition(partition_cols)``
lands each partition's rows in one task → one output file per
partition, which is the right end-state for low-cardinality
(year, month) layouts.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import SparkSession

from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.readers import read_parquet

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def _dir_stats(path: str) -> tuple[int, int]:
    """(total_bytes, n_files) over the parquet data files under path."""
    total = 0
    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
                n += 1
    return total, n


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    partition_cols: list[str] | None = None,
) -> dict[str, int]:
    """Rewrite a parquet directory into size-targeted files.

    Unpartitioned: ``repartition(ceil(bytes / target))``.
    Partitioned: ``repartition(*partition_cols)`` (one file per hive
    partition — callers with huge single partitions should compact
    those separately with a larger target).  The rewrite lands in a
    temp dir and publishes via two sequential renames (path -> .old,
    tmp -> path).  Readers never observe a *partial* table, but the
    pair is not atomic: a concurrent reader in the instant between the
    renames sees no table at all — the same brief window ``SilverStore``
    documents.  If the second rename fails, the original directory is
    restored from .old rather than left stranded.  Returns
    before/after file counts and bytes.
    """
    bytes_before, files_before = _dir_stats(path)
    df = read_parquet(spark, path)
    if partition_cols:
        out = df.repartition(*partition_cols)
        writer = out.write.mode("overwrite").partitionBy(*partition_cols)
    else:
        n = max(1, math.ceil(bytes_before / target_file_bytes))
        out = df.repartition(n)
        writer = out.write.mode("overwrite")
    tmp = f"{path}.compact-{uuid.uuid4().hex[:8]}"
    writer.parquet(tmp)
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    os.replace(path, old)
    try:
        os.replace(tmp, path)
    except BaseException:
        os.replace(old, path)  # roll back — never leave the path missing
        raise
    shutil.rmtree(old)
    bytes_after, files_after = _dir_stats(path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes_before": bytes_before,
        "bytes_after": bytes_after,
    }


def zorder_table(
    spark: SparkSession,
    path: str,
    cluster_cols: list[str],
    num_files: int | None = None,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    bits_per_dim: int = 8,
) -> dict[str, int]:
    """Rewrite a parquet directory Z-order-clustered on
    ``cluster_cols`` (the maintenance form of
    ``sources.writers.write_zordered`` — OPTIMIZE ... ZORDER BY as a
    table rewrite).  File count defaults to the compaction size
    target; publish/rollback protocol is identical to
    :func:`compact_table` (temp write + two renames, restore-on-
    failure).  Returns before/after file counts and bytes."""
    from hospital_data_engineering_pipeline_end_to_end_project_spark.sources.writers import write_zordered

    bytes_before, files_before = _dir_stats(path)
    df = read_parquet(spark, path)
    n = num_files or max(1, math.ceil(bytes_before / target_file_bytes))
    tmp = f"{path}.zorder-{uuid.uuid4().hex[:8]}"
    write_zordered(df, tmp, cluster_cols, num_files=n, bits_per_dim=bits_per_dim)
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    os.replace(path, old)
    try:
        os.replace(tmp, path)
    except BaseException:
        os.replace(old, path)  # roll back — never leave the path missing
        raise
    shutil.rmtree(old)
    bytes_after, files_after = _dir_stats(path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes_before": bytes_before,
        "bytes_after": bytes_after,
    }
