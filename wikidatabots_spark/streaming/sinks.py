"""Streaming sinks: checkpointed parquet append and foreachBatch RDF.

Closes the streaming loop end-to-end: file stream → watermarked
transform → durable sink. The parquet sink is the built-in exactly-once
path (checkpoint + write-ahead manifest); the RDF sink reuses the batch
printer semantics per micro-batch via ``foreachBatch`` (the standard
adapter for sinks Spark doesn't ship natively).
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import IO

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def stream_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: Sequence[str] | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Append micro-batches to a parquet table, exactly-once via the
    checkpoint. ``available_now`` drains the current backlog and stops —
    the batch-like mode used in tests and backfills; pass False for a
    continuously running query."""
    w = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_rdf_statements(
    df: DataFrame,
    checkpoint: str,
    file: IO[str],
    available_now: bool = True,
) -> StreamingQuery:
    """Print one RDF statement per appended row via foreachBatch.

    The frame must be the sink schema (single ``rdf_statement`` string
    column — asserted like the batch sink). No global row cap: a stream
    has no global count; bound output upstream (limit/filter) instead.
    """
    assert df.columns == ["rdf_statement"], f"bad sink schema: {df.columns}"

    def emit(batch: DataFrame, _batch_id: int) -> None:
        for row in batch.toLocalIterator():
            print(row.rdf_statement, file=file)

    w = (
        df.writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_upsert_parquet(
    changes: DataFrame,
    table_dir: str,
    checkpoint: str,
    key: str,
    version_col: str,
    available_now: bool = True,
) -> StreamingQuery:
    """CDC ingestion end-to-end: a stream of keyed change rows is folded
    into the parquet table per micro-batch via ``foreachBatch`` +
    ``sinks.upsert.upsert_parquet`` — latest-wins, tombstones honored,
    one atomic pointer swap per batch (``sinks.compaction``), so a
    reader always sees a complete consistent table. The checkpoint makes delivery exactly-once at the
    BATCH level; within-batch the merge itself is idempotent (change
    rows at an already-applied version resolve identically), so a
    replayed batch after a crash converges to the same table — the
    combination every CDC pipeline needs.

    Scale: each micro-batch pays one merge shuffle keyed on ``key`` and
    a table rewrite; production partitions the table and rewrites only
    touched partitions (see sinks.upsert docstring).
    """
    from wikidatabots_spark.sinks.upsert import upsert_parquet

    def apply(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        upsert_parquet(batch.sparkSession, table_dir, batch, key, version_col)

    w = (
        changes.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
