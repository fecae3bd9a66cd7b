"""Streaming consumer: topic subscription + per-event processing +
quarantine, on Structured Streaming.

Reference lifecycle (lib/hivent/consumer.ex):
- subscribe: join channel ``event:<topic>`` with ``partition_count``
  (consumer.ex:105-107) → here: ``readStream`` + ``filter(name == topic)``;
  the partition is the envelope's ``partition_id``, stamped from the key
  at emit time (envelope.enrich), so consuming needs no shuffle.
- process: user ``process/1`` callback per event (consumer.ex:25, 68-81);
  ``:ok`` → done, ``{:error, reason}`` → quarantine the ``{event, queue}``
  pair (consumer.ex:98-100).
- consumer identity: ``service`` is the consumer group → one streaming
  query + checkpoint dir per service; queue name = ``service:partition``
  (the (service, partition) claim of the Redis backend).
- delivery: the reference is at-least-once with no success ack
  (consumer.ex:75-77); checkpointed ``foreachBatch`` upgrades sink writes
  to effectively-once — documented deviation (SURVEY.md §3.2).
- restart: bounded reconnect attempts with linearly growing backoff
  (consumer.ex:110-127, emitter.ex:113-139) → ``run_with_restarts``.

Processing supports two callback shapes:
- an *expression* (Column → error-message-or-null): the fast path, stays
  in codegen — use whenever the check is expressible;
- a *Python callable* ``(event_dict) -> None | str``: the literal
  ``process/1`` semantics, applied via a UDF (the slow path, as in the
  reference where every event crosses into user code).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any, Callable, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ex_hivent_spark.envelope import EVENT_SCHEMA

INGRESS_SCHEMA = T.StructType(
    [*EVENT_SCHEMA.fields, T.StructField("partition_id", T.IntegerType())]
)

ProcessFn = Callable[[Mapping[str, Any]], "None | str"]


def _error_column(process: "Column | ProcessFn", topic: str) -> Column:
    """The subscription's error message (null = ok). It is evaluated on
    the rows of ``topic`` only and is null on every other row, so a check
    never sees another topic's payload."""
    if isinstance(process, Column):
        return F.when(F.col("name") == F.lit(topic), process)

    @F.udf("string")
    def _proc_udf(name, payload, version, uuid):
        if name != topic:
            return None
        try:
            result = process(
                {"name": name, "payload": payload, "version": version, "uuid": uuid}
            )
            return None if result is None else str(result)
        except Exception as ex:  # the reference quarantines on {:error, _}
            return str(ex)

    return _proc_udf(
        F.col("name"), F.col("payload"), F.col("meta.version"), F.col("meta.uuid")
    )


@dataclass
class Consumer:
    """One consumer group (``service``) over one topic: ``route`` with a
    single subscription."""

    spark: SparkSession
    source_dir: str
    service: str
    topic: str
    process: "Column | ProcessFn"
    checkpoint_dir: str
    processed_dir: str
    quarantine_dir: str

    @property
    def subscription(self) -> Subscription:
        return Subscription(
            self.service,
            self.topic,
            self.process,
            self.processed_dir,
            self.quarantine_dir,
        )

    def start(self) -> StreamingQuery:
        return route(
            self.spark, self.source_dir, [self.subscription], self.checkpoint_dir
        )

    def run_available(self) -> None:
        """Process everything currently in the source, then stop —
        the batch-ish drain used by tests and catch-up jobs."""
        q = self.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)


@dataclass
class Subscription:
    """One subscriber's slice of a multiplexed stream: the topic
    filter + process callback + its own sinks (the per-subscription
    {matcher, mapper, callback} triple of the reference's channel
    client, /root/reference/lib/hivent/phoenix/channel_client.ex:363-390)."""

    service: str
    topic: str
    process: "Column | ProcessFn"
    processed_dir: str
    quarantine_dir: str


def route_batch(
    batch: DataFrame, batch_id: int, subscriptions: list[Subscription]
) -> None:
    """Route one micro-batch to every subscription's ok and quarantine
    sinks (the reference's ok/quarantine split, consumer.ex:71-81).

    One job evaluates every subscription: the batch, filtered to the
    subscribed topics, gains one error column per subscription and is
    pinned with ``localCheckpoint``. The pin is what lets a
    non-deterministic or stateful process callback see each row exactly
    once across the ok and quarantine writes; all Python callbacks run
    in that one job. The 2×N sink writes then start together from the
    pin, so a batch costs 1 + 2×N jobs.

    Idempotent replay: each write overwrites a batch_id-keyed directory.
    If the stream crashes between writes (or before the checkpoint
    commits), the replayed batch overwrites the same directories instead
    of appending duplicates — effectively-once sink contents on an
    at-least-once source. A failed write fails the batch, so the
    checkpoint does not commit."""
    base = batch.columns
    pinned = (
        batch.filter(F.col("name").isin(sorted({s.topic for s in subscriptions})))
        .select(
            *base,
            *(
                _error_column(sub.process, sub.topic).alias(f"_err{i}")
                for i, sub in enumerate(subscriptions)
            ),
        )
        .localCheckpoint(eager=True)
    )

    def _write(i: int, sub: Subscription, quarantine: bool) -> None:
        error = F.col(f"_err{i}")
        mine = F.col("name") == F.lit(sub.topic)
        queue = F.concat_ws(
            ":", F.lit(sub.service), F.col("partition_id").cast("string")
        ).alias("queue")
        if quarantine:
            rows = pinned.where(mine & error.isNotNull()).select(
                *base,
                error.alias("error"),
                queue,
                F.current_timestamp().alias("quarantined_at"),
            )
            path = sub.quarantine_dir
        else:
            rows = pinned.where(mine & error.isNull()).select(*base, queue)
            path = sub.processed_dir
        rows.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    # Each write also builds its plan in its own thread, so driver-side
    # analysis overlaps the other writes' jobs.
    with ThreadPoolExecutor(max_workers=max(1, 2 * len(subscriptions))) as pool:
        done = [
            pool.submit(_write, i, sub, quarantine)
            for i, sub in enumerate(subscriptions)
            for quarantine in (False, True)
        ]
    for f in done:
        f.result()


def route(
    spark: SparkSession,
    source_dir: str,
    subscriptions: list[Subscription],
    checkpoint_dir: str,
) -> StreamingQuery:
    """One-pass multi-subscriber dispatch: ONE readStream feeds every
    subscription through a single foreachBatch (``route_batch``) — the
    reference's single socket fanning out to N subscribers
    (channel_client.ex:363-390, each with its own matcher + callback),
    where N separate queries would re-read the source N times.

    Each micro-batch is evaluated once, in one pinned job, and its 2×N
    ok/quarantine writes run concurrently: 1 + 2×N jobs per batch, with
    no shuffle. Sinks are batch_id-keyed directories (idempotent
    overwrite on replay → effectively-once per sink), with per-topic
    quarantine isolation. All subscriptions advance on the shared
    checkpoint: one source offset log, N logical consumers."""
    raw = (
        spark.readStream.schema(INGRESS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        raw.writeStream.foreachBatch(
            lambda batch, batch_id: route_batch(batch, batch_id, subscriptions)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_with_restarts(
    start_query: Callable[[], StreamingQuery],
    max_tries: int = 3,
    backoff_s: float = 1.0,
) -> StreamingQuery:
    """Bounded-restart supervisor for a streaming query: on failure,
    retry after a linearly growing delay; give up (re-raise) after
    ``max_tries`` (emitter.ex:113-139 — including its linear
    ``timer += backoff`` growth; the reference's off-by-one ``<=`` that
    admits an extra attempt is NOT reproduced). Recovery is from the
    query's checkpoint, so no data is lost or reprocessed into sinks."""
    attempt = 0
    while True:
        query = start_query()
        try:
            query.awaitTermination()
            return query
        except Exception:
            attempt += 1
            if attempt >= max_tries:
                raise
            time.sleep(backoff_s * attempt)
