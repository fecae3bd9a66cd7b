"""Sinks: quarantine writer and the topic multiplexer.

Quarantine (consumer.ex:98-100): failed events are stored as the
``{event, queue}`` pair plus the error and a timestamp — an append-only
parquet table partitioned by topic name so per-topic redrive jobs prune
to their own files.

Topic multiplexer (SURVEY.md §4.2): the reference runs one WebSocket
channel per topic; a naive Spark translation runs one streaming query
per topic, re-reading the source N times. The multiplexer is the
scale-correct shape: ONE streaming query, and inside each micro-batch
the (cached) batch is routed to every topic's sink — one source pass
regardless of consumer count. Sinks are batch_id-keyed directories
written with overwrite, so a replayed batch cannot duplicate rows.
"""

from __future__ import annotations

from typing import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def write_quarantine(
    failed: DataFrame, quarantine_dir: str, partition_by_topic: bool = True
) -> None:
    """Append failed {event, queue, error} rows with quarantined_at."""
    out = failed.withColumn("quarantined_at", F.current_timestamp())
    writer = out.write.mode("append")
    if partition_by_topic:
        writer = writer.partitionBy("name")
    writer.parquet(quarantine_dir)


def topic_multiplexer(
    stream: DataFrame,
    topic_sinks: Mapping[str, str],
    checkpoint_dir: str,
    name_col: str = "name",
) -> StreamingQuery:
    """One pass over the stream, N topic-filtered parquet sinks.

    Each micro-batch is persisted once, then each topic's subset is
    written to ``<sink>/batch_id=<id>`` with overwrite; the persist
    guarantees the source (and any upstream computation) is evaluated
    once per batch, not per topic. A batch replayed after a crash
    overwrites its own directories instead of appending a second copy.
    """

    def route(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            for topic, path in topic_sinks.items():
                batch.filter(F.col(name_col) == F.lit(topic)).write.mode(
                    "overwrite"
                ).parquet(f"{path}/batch_id={batch_id}")
        finally:
            batch.unpersist()

    return (
        stream.writeStream.foreachBatch(route)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet layout (``col=value/`` dirs).

    The 100 TB read-path contract: a filter on a partition column becomes
    a PartitionFilters entry in the scan — pruned directories are never
    listed, let alone read (asserted in tests/test_storage.py). Choose
    low-cardinality, always-filtered columns (lang, date, topic);
    high-cardinality partitioning produces millions of tiny files.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Bucketed (hash-clustered) table: rows are pre-partitioned into
    ``n_buckets`` files by ``bucket_col`` at write time, so a join or
    aggregation on that column needs NO shuffle at read time — the
    exchange both sides would pay on every query is paid once at write.
    The standard layout for fact tables joined repeatedly on the same
    key (orders ⋈ lineitem on orderkey); asserted shuffle-free in
    tests/test_storage.py.
    """
    writer = (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)
