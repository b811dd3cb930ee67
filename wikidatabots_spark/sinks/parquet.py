"""Partitioned parquet sink — the scale-out write path.

The reference's only sink is stdout RDF (S7); a 100 TB engine also needs
a real table writer. Rules encoded here:

- **Partition by low-cardinality query keys** (date, category): readers
  with a matching predicate scan only the touched directories
  (PartitionFilters in the plan — test-asserted in test_sinks_parquet).
- **Control files-per-partition**: a blind ``partitionBy`` writes
  (input-partitions × key-values) small files; repartitioning by the
  partition columns first gives one file per (shuffle-partition, value)
  — the classic small-files guard.
- ``maxRecordsPerFile`` caps runaway file sizes at the other extreme.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    mode: str = "overwrite",
    coalesce_per_partition: bool = True,
    max_records_per_file: int | None = None,
) -> None:
    out = df
    if coalesce_per_partition and partition_by:
        out = df.repartition(*partition_by)
    w = out.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Lazy scan; partition columns come back from directory names and
    predicates on them prune directories before any file I/O."""
    return spark.read.parquet(path)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    spread: Sequence[str] = (),
) -> None:
    """Incremental load: replace ONLY the partitions present in ``df``,
    leaving sibling partitions untouched (dynamic partition overwrite —
    the standard daily-batch upsert pattern without a lakehouse format).
    The mode is a per-write option: with the session default (static)
    the same call would wipe the whole table root.

    The rows are repartitioned on the partition columns first, so each
    touched partition directory gets one AQE-sized file instead of one
    per write task (tasks x partition values small files). ``spread``
    adds high-cardinality columns to that key, so a large batch still
    writes in parallel.
    """
    (
        df.repartition(*partition_by, *spread)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )
