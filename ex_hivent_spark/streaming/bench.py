"""Streaming micro-bench: throughput and per-batch latency through the
one-pass multi-subscriber ``route()`` dispatch (``consumer.route`` and
its per-batch body ``consumer.route_batch``).

The batch suite (bench.py) times every registered query; this is the
missing number for the streaming surface: rows/s through a 3-subscriber
route() and the foreachBatch latency distribution, measured end-to-end
(read → one pinned evaluation of every subscription's check →
concurrent ok/quarantine parquet sinks, checkpointed). Synthetic
envelope events are generated JVM-side (spark.range + format_string —
no Python row loop) and written as one parquet file per intended
micro-batch (maxFilesPerTrigger=1).

Numbers are wall-clock on a warm session; the point is (a) a recorded
baseline so regressions in the dispatch path are visible round-over-
round, and (b) the fast-path (Column expression) process cost — the
row-at-a-time UDF path is deliberately not the default here, matching
the engine guidance that expressions are the hot path.
"""

from __future__ import annotations

import shutil
import statistics
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ex_hivent_spark.envelope import enrich
from ex_hivent_spark.streaming.consumer import Subscription, route

_TOPICS = ("order:created", "user:signup", "cart:item_added")


def _write_ingress(
    spark: SparkSession, ingress_dir: str, n_rows: int, n_files: int
) -> None:
    """n_files parquet files of n_rows/n_files enriched envelopes each;
    topics round-robin over _TOPICS so every subscription matches ~1/3
    of every micro-batch."""
    per = n_rows // n_files
    for f in range(n_files):
        raw = spark.range(f * per, (f + 1) * per).select(
            F.element_at(
                F.array(*[F.lit(t) for t in _TOPICS]),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("name"),
            F.format_string(
                '{"v": %d, "user": "u%d"}', F.col("id"), F.col("id") % 997
            ).alias("payload"),
            F.lit(1).alias("version"),
            F.lit(None).cast("string").alias("cid"),
            F.format_string("k%d", F.col("id") % 64).alias("key"),
        )
        enrich(raw, producer="bench").coalesce(1).write.mode(
            "append"
        ).parquet(ingress_dir)


def run_streaming_bench(
    spark: SparkSession, n_rows: int = 60_000, n_files: int = 6
) -> dict:
    """Drive route() with 3 expression-process subscriptions over
    ``n_files`` micro-batches totalling ``n_rows`` events; returns one
    JSON-able dict (rows/s + batch latency percentiles)."""
    root = tempfile.mkdtemp(prefix="ehs_stream_bench_")
    try:
        ingress = f"{root}/ingress"
        _write_ingress(spark, ingress, n_rows, n_files)
        # ~1/97 of events fail the check → the quarantine sink write is
        # exercised per batch, not just the ok path
        check = F.when(
            F.get_json_object("payload", "$.v").cast("long") % 97 == 0,
            F.lit("synthetic failure"),
        )
        subs = [
            Subscription(
                service=f"svc{i}",
                topic=topic,
                process=check,
                processed_dir=f"{root}/ok{i}",
                quarantine_dir=f"{root}/bad{i}",
            )
            for i, topic in enumerate(_TOPICS)
        ]
        t0 = time.perf_counter()
        q = route(spark, ingress, subs, f"{root}/chk")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)
        wall = time.perf_counter() - t0
        progress = [
            p
            for p in (q.recentProgress or [])
            if p and p.get("numInputRows", 0) > 0
        ]
        batch_ms = sorted(
            p["durationMs"]["triggerExecution"] for p in progress
        )

        def pct(p: float) -> float:
            if not batch_ms:
                return 0.0
            k = min(len(batch_ms) - 1, int(round(p * (len(batch_ms) - 1))))
            return float(batch_ms[k])

        return {
            "n_rows": n_rows,
            "n_batches": len(batch_ms),
            "subscriptions": len(subs),
            "wall_sec": round(wall, 3),
            "rows_per_sec": round(n_rows / wall, 1),
            "batch_ms": {
                "p50": round(statistics.median(batch_ms), 1)
                if batch_ms
                else 0.0,
                "p90": pct(0.9),
                "max": float(batch_ms[-1]) if batch_ms else 0.0,
            },
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
