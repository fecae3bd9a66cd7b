"""Streaming observability: a StreamingQueryListener that captures
per-microbatch progress into queryable records.

The reference client logs per-event processing and quarantine outcomes
(lib/hivent/consumer.ex:73-77) — its only observability surface. A
production stream processor needs the aggregate view: rows/second,
batch durations, state size, and watermark lag per query. Structured
Streaming already EMITS all of this through query-progress events; this
module collects them so health checks (is the consumer keeping up? is
state growing without bound?) become DataFrame queries instead of log
greps.

At scale this is the backpressure/SLA monitor: `lagging()` answers
"which queries process slower than data arrives" directly from the
captured `processedRowsPerSecond` vs `inputRowsPerSecond`.
"""

from __future__ import annotations

import json
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

# Micro-batch phases reported in a progress event's ``durationMs``, in
# the order MicroBatchExecution runs them → record field. A phase a batch
# did not run (e.g. no new data) is recorded as 0.
PHASE_FIELDS = {
    "latestOffset": "latest_offset_ms",
    "walCommit": "wal_commit_ms",
    "getBatch": "get_batch_ms",
    "queryPlanning": "query_planning_ms",
    "addBatch": "add_batch_ms",
    "commitOffsets": "commit_offsets_ms",
}

PROGRESS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("query_name", T.StringType()),
        T.StructField("batch_id", T.LongType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField("num_input_rows", T.LongType()),
        T.StructField("input_rows_per_second", T.DoubleType()),
        T.StructField("processed_rows_per_second", T.DoubleType()),
        T.StructField("batch_duration_ms", T.LongType()),
        *(T.StructField(f, T.LongType()) for f in PHASE_FIELDS.values()),
        T.StructField("state_rows", T.LongType()),
        T.StructField("watermark", T.StringType()),
    ]
)


class ProgressMonitor(StreamingQueryListener):
    """Collects one record per microbatch from every query on the
    session it is attached to. Records accumulate in-process (bounded
    by ``max_records``, oldest dropped) — the test/driver seam; a
    production deployment points ``sink`` at a durable writer instead.
    """

    def __init__(self, max_records: int = 10_000):
        self.max_records = max_records
        self.records: list[dict] = []
        self.started: list[str] = []
        self.terminated: list[str] = []

    # -- listener callbacks (called from the listener bus thread) -----
    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        state = p.get("stateOperators") or []
        durations = p.get("durationMs") or {}
        self.records.append(
            {
                "query_id": p.get("id"),
                "run_id": p.get("runId"),
                "query_name": p.get("name"),
                "batch_id": p.get("batchId"),
                "timestamp": p.get("timestamp"),
                "num_input_rows": p.get("numInputRows", 0),
                "input_rows_per_second": float(
                    p.get("inputRowsPerSecond") or 0.0
                ),
                "processed_rows_per_second": float(
                    p.get("processedRowsPerSecond") or 0.0
                ),
                "batch_duration_ms": durations.get("triggerExecution", 0),
                **{f: durations.get(k, 0) for k, f in PHASE_FIELDS.items()},
                "state_rows": sum(
                    s.get("numRowsTotal", 0) for s in state
                ),
                "watermark": (p.get("eventTime") or {}).get("watermark"),
            }
        )
        if len(self.records) > self.max_records:
            del self.records[: len(self.records) - self.max_records]

    def onQueryIdle(self, event) -> None:  # pragma: no cover - timing
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.append(str(event.id))

    # -- analysis surface --------------------------------------------
    def metrics_df(self, spark: SparkSession) -> DataFrame:
        """The captured progress records as a DataFrame (explicit
        schema, so an empty capture still has queryable columns)."""
        return spark.createDataFrame(self.records, schema=PROGRESS_SCHEMA)

    def total_input_rows(self, query_name: Optional[str] = None) -> int:
        return sum(
            r["num_input_rows"]
            for r in self.records
            if query_name is None or r["query_name"] == query_name
        )

    def lagging(self, threshold: float = 1.0) -> list[dict]:
        """Batches where processing throughput fell below ``threshold``
        times the arrival rate — the keeping-up check. Rate fields are
        0 on the first batch of a run; those are skipped."""
        return [
            r
            for r in self.records
            if r["input_rows_per_second"] > 0
            and r["processed_rows_per_second"]
            < threshold * r["input_rows_per_second"]
        ]


def attach(spark: SparkSession, max_records: int = 10_000) -> ProgressMonitor:
    """Create a ProgressMonitor and register it on the session's
    listener bus. Returns the monitor; call ``detach`` when done (tests
    must detach so later streams don't leak into earlier monitors)."""
    m = ProgressMonitor(max_records)
    spark.streams.addListener(m)
    return m


def detach(spark: SparkSession, monitor: ProgressMonitor) -> None:
    spark.streams.removeListener(monitor)
