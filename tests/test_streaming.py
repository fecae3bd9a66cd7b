"""Streaming tests mirroring the reference's consumer/emitter suites
(SURVEY.md §5.2.3-4): quarantine split (≙ consumer_test.exs:90-111),
checkpoint restart (≙ reconnect tests emitter_test.exs:74-94), window
aggregations with batch-twin equivalence, watermark late-data dropping,
and streaming dedup.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ex_hivent_spark.streaming.consumer import Consumer, route_batch
from ex_hivent_spark.streaming.emitter import StreamEmitter
from ex_hivent_spark.streaming.windows import (
    dedup_within_watermark,
    session_counts,
    tumbling_counts,
)


@pytest.fixture()
def dirs(tmp_path):
    d = {
        name: str(tmp_path / name)
        for name in ("ingress", "checkpoint", "processed", "quarantine")
    }
    return d


def make_consumer(spark, dirs, process, topic="some:event"):
    return Consumer(
        spark=spark,
        source_dir=dirs["ingress"],
        service="a_service",
        topic=topic,
        process=process,
        checkpoint_dir=dirs["checkpoint"],
        processed_dir=dirs["processed"],
        quarantine_dir=dirs["quarantine"],
    )


def make_process_response():
    """≙ the reference test consumer: payload.response drives ok/error
    (consumer_test.exs:75-81, 91-97). Built as a nested closure so
    cloudpickle serializes it by value (a module-level test function
    would be pickled by reference, which executors can't import)."""

    def process_response(event) -> "None | str":
        payload = json.loads(event["payload"])
        if payload.get("response") == "error":
            raise ValueError("boom")
        return None

    return process_response


class TestConsumerQuarantine:
    def test_ok_error_split(self, spark, dirs):
        em = StreamEmitter(spark, dirs["ingress"], producer="svc", partition_count=2)
        em.emit("some:event", {"response": "ok"}, version=1, key="k1")
        em.emit("some:event", {"response": "error"}, version=1, key="k2")
        em.emit("other:event", {"response": "error"}, version=1)  # other topic

        make_consumer(spark, dirs, make_process_response()).run_available()

        ok = spark.read.parquet(dirs["processed"])
        bad = spark.read.parquet(dirs["quarantine"])
        assert ok.count() == 1 and bad.count() == 1
        assert json.loads(ok.take(1)[0].payload) == {"response": "ok"}
        qrow = bad.take(1)[0]
        # quarantined as the {event, queue} pair + error (consumer.ex:98-100)
        assert qrow.queue.startswith("a_service:")
        assert "boom" in qrow.error
        assert qrow.name == "some:event"
        assert qrow.quarantined_at is not None

    def test_expression_process_path(self, spark, dirs):
        em = StreamEmitter(spark, dirs["ingress"], producer="svc")
        em.emit("some:event", {"response": "ok"}, version=1)
        em.emit("some:event", {"response": "error"}, version=1)
        # codegen fast path: error-or-null expression instead of a UDF
        expr = F.when(
            F.get_json_object("payload", "$.response") == "error",
            F.lit("rejected by expression"),
        )
        make_consumer(spark, dirs, expr).run_available()
        assert spark.read.parquet(dirs["processed"]).count() == 1
        bad = spark.read.parquet(dirs["quarantine"])
        assert bad.count() == 1
        assert bad.take(1)[0].error == "rejected by expression"

    def test_checkpoint_restart_exactly_once(self, spark, dirs):
        em = StreamEmitter(spark, dirs["ingress"], producer="svc")
        em.emit("some:event", {"n": 1}, version=1)
        consumer = make_consumer(spark, dirs, lambda e: None)
        consumer.run_available()
        em.emit("some:event", {"n": 2}, version=1)
        consumer.run_available()  # same checkpoint — only the new file runs

        ok = spark.read.parquet(dirs["processed"])
        assert ok.count() == 2  # each event exactly once despite restart
        ns = sorted(json.loads(r.payload)["n"] for r in ok.collect())
        assert ns == [1, 2]


def _write_events(spark, path, rows):
    import datetime as dt

    rows = [
        (eid, dt.datetime.fromisoformat(ts), uid, et, v)
        for eid, ts, uid, et, v in rows
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).write.mode("append").parquet(path)


def _stream_events(spark, path):
    return (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _run_to_memory(spark, df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    return spark.sql(f"SELECT * FROM {name}")


class TestWindows:
    def test_tumbling_stream_matches_batch_twin(self, spark, sf_dir, tmp_path):
        from ex_hivent_spark.catalog import load_table

        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        src = str(tmp_path / "ev")
        events.write.parquet(src)

        streamed = _run_to_memory(
            spark,
            tumbling_counts(_stream_events(spark, src), watermark=None),
            "tumbling_out",
            "complete",
        ).select("window_start", "event_type", "n_events", "sum_value")

        batch = (
            events.groupBy(
                F.date_trunc("hour", "ts").alias("window_start"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(25,6)")).cast("double")
                .alias("sum_value"),
            )
        )
        assert sorted(map(repr, streamed.collect())) == sorted(
            map(repr, batch.collect())
        )

    def test_ohlc_stream_matches_batch_twin(self, spark, sf_dir, tmp_path):
        """Streaming OHLC bars (min_by/max_by over the (ts, event_id)
        total order) must equal the registered batch twin
        q_ts_ohlc_bars row for row on static data."""
        from ex_hivent_spark.catalog import load_table
        from ex_hivent_spark.plans.registry import all_specs
        from ex_hivent_spark.streaming.windows import ohlc_bars

        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        src = str(tmp_path / "ev_ohlc")
        events.write.parquet(src)

        streamed = _run_to_memory(
            spark,
            ohlc_bars(_stream_events(spark, src), watermark=None),
            "ohlc_out",
            "complete",
        ).select(
            (F.unix_timestamp("window_start") / 3600).cast("bigint")
            .alias("hour_id"),
            "event_type", "n_events", "open", "high", "low", "close",
            "volume",
        )
        batch = all_specs()["q_ts_ohlc_bars"].spark(spark, sf_dir).select(
            "hour_id", "event_type", "n_events", "open", "high", "low",
            "close", "volume",
        )
        assert sorted(map(repr, streamed.collect())) == sorted(
            map(repr, batch.collect())
        )

    def test_sliding_stream_matches_batch_twin(self, spark, sf_dir, tmp_path):
        """Sliding window (stream) must agree with the registered batch
        twin q_win_sliding_batch on static data: same (window_start,
        event_type, n_events) groups for 1h windows sliding 30m."""
        from ex_hivent_spark.catalog import load_table
        from ex_hivent_spark.plans.registry import all_specs
        from ex_hivent_spark.streaming.windows import sliding_counts

        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        src = str(tmp_path / "ev")
        events.write.parquet(src)

        streamed = _run_to_memory(
            spark,
            sliding_counts(
                _stream_events(spark, src), slide="30 minutes", watermark=None
            ),
            "sliding_out",
            "complete",
        ).select("window_start", "event_type", "n_events")
        batch = (
            all_specs()["q_win_sliding_batch"]
            .spark(spark, sf_dir)
            .select("window_start", "event_type", "n_events")
        )
        assert sorted(map(repr, streamed.collect())) == sorted(
            map(repr, batch.collect())
        )

    def test_session_stream_matches_batch_twin(self, spark, sf_dir, tmp_path):
        """session_window (stream) must agree with the gaps-and-islands
        batch twin q_win_sessionize on static data (SURVEY.md §5.2.3)."""
        from ex_hivent_spark.catalog import load_table
        from ex_hivent_spark.plans.registry import all_specs

        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        src = str(tmp_path / "ev")
        events.write.parquet(src)

        sessions = _run_to_memory(
            spark,
            session_counts(_stream_events(spark, src), watermark=None),
            "session_out",
            "complete",
        )
        per_user = (
            sessions.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_sessions"),
                F.max("n_events").alias("longest_session_events"),
                F.sum("n_events").alias("total_events"),
                F.max("duration_us").alias("max_session_duration_us"),
            )
        )
        batch = all_specs()["q_win_sessionize"].spark(spark, sf_dir)
        assert sorted(map(repr, per_user.collect())) == sorted(
            map(repr, batch.collect())
        )

    def test_stream_stream_interval_join_matches_batch(
        self, spark, sf_dir, tmp_path
    ):
        """Stream-stream inner join (view→click attribution within 1h)
        must agree with the identical join on static DataFrames."""
        from ex_hivent_spark.catalog import load_table
        from ex_hivent_spark.streaming.joins import interval_join

        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type"
        )
        views = events.filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("l_ts")
        )
        clicks = events.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("r_ts")
        )
        vdir, cdir = str(tmp_path / "views"), str(tmp_path / "clicks")
        views.write.parquet(vdir)
        clicks.write.parquet(cdir)

        def _stream(path, ts_name):
            return (
                spark.readStream.schema(f"user_id long, {ts_name} timestamp")
                .option("maxFilesPerTrigger", 1)
                .parquet(path)
            )

        streamed = _run_to_memory(
            spark,
            interval_join(_stream(vdir, "l_ts"), _stream(cdir, "r_ts")),
            "ssjoin_out",
            "append",
        )
        batch = interval_join(views, clicks, watermark=None)
        assert sorted(map(repr, streamed.collect())) == sorted(
            map(repr, batch.collect())
        )

    def test_watermark_drops_late_rows(self, spark, tmp_path):
        """Late rows beyond the watermark are excluded from finalized
        windows (allowed-lateness parity, SURVEY.md §2.B streaming)."""
        src = str(tmp_path / "ev")
        sink = str(tmp_path / "sink")
        cp = str(tmp_path / "cp")

        def run():
            q = (
                tumbling_counts(
                    _stream_events(spark, src), window="1 hour", watermark="2 hours"
                )
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", cp)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(30)

        # batch 1: two events in the 10:00 window
        _write_events(
            spark,
            src,
            [
                (1, "2024-01-01 10:00:00", 1, "click", 1.0),
                (2, "2024-01-01 10:30:00", 1, "click", 1.0),
            ],
        )
        # batch 2: advances watermark to 12:00 -> finalizes the 10:00 window
        _write_events(spark, src, [(3, "2024-01-01 14:00:00", 1, "click", 1.0)])
        run()
        out1 = spark.read.parquet(sink)
        w10 = out1.filter(F.col("window_start") == "2024-01-01 10:00:00")
        assert [r.n_events for r in w10.collect()] == [2]

        # batch 3: a late row at 09:00 (< 12:00 watermark) must be DROPPED;
        # batch 4 advances watermark to finalize the 14:00 window.
        _write_events(spark, src, [(4, "2024-01-01 09:00:00", 1, "click", 1.0)])
        _write_events(spark, src, [(5, "2024-01-01 18:00:00", 1, "click", 1.0)])
        run()
        out2 = spark.read.parquet(sink)
        # the 10:00 window was already emitted with 2 events and the late
        # row created no new 09:00 window
        assert out2.filter(F.col("window_start") == "2024-01-01 09:00:00").count() == 0
        w10b = out2.filter(F.col("window_start") == "2024-01-01 10:00:00")
        assert [r.n_events for r in w10b.collect()] == [2]
        w14 = out2.filter(F.col("window_start") == "2024-01-01 14:00:00")
        assert [r.n_events for r in w14.collect()] == [1]

    def test_streaming_dedup_within_watermark(self, spark, tmp_path):
        """≙ uuid-identity dedup (memory.ex:90) as
        dropDuplicatesWithinWatermark."""
        src = str(tmp_path / "ev")
        _write_events(
            spark,
            src,
            [
                (1, "2024-01-01 10:00:00", 1, "click", 1.0),
                (1, "2024-01-01 10:00:00", 1, "click", 1.0),  # duplicate id
                (2, "2024-01-01 10:05:00", 1, "click", 1.0),
            ],
        )
        out = _run_to_memory(
            spark,
            dedup_within_watermark(
                _stream_events(spark, src), ["event_id"], watermark="1 hour"
            ),
            "dedup_out",
            "append",
        )
        assert sorted(r.event_id for r in out.collect()) == [1, 2]


class TestUpsertView:
    def test_upsert_view_matches_batch_last_event(self, spark, sf_dir, tmp_path):
        """Feeding the events table through the streaming upsert view
        must converge to exactly the batch latest-per-user reduction."""
        from ex_hivent_spark.catalog import load_table
        from ex_hivent_spark.streaming.upsert import UpsertView, latest_per_key

        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        src = str(tmp_path / "ev")
        # several files so the stream sees multiple micro-batches
        events.repartition(4).write.parquet(src)

        view = UpsertView(
            spark, str(tmp_path / "view"), key="user_id", ts_col="ts",
            cols=["event_id", "event_type", "value"],
        )
        q = view.start(
            _stream_events(spark, src), checkpoint_dir=str(tmp_path / "cp")
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

        got = view.read().select("user_id", "ts", "event_id")
        want = latest_per_key(
            events, "user_id", "ts", ["event_id", "event_type", "value"]
        ).select("user_id", "ts", "event_id")
        assert sorted(map(repr, got.collect())) == sorted(
            map(repr, want.collect())
        )


class TestConsumerIdempotency:
    def test_batch_replay_does_not_duplicate(self, spark, dirs):
        """Crash-replay semantics: re-running the same micro-batch
        (same batch_id) must overwrite, not append — sink contents are
        effectively-once even though delivery is at-least-once."""
        em = StreamEmitter(spark, dirs["ingress"], producer="svc")
        em.emit("some:event", {"response": "ok"}, version=1, key="k1")
        em.emit("some:event", {"response": "error"}, version=1, key="k2")

        subs = [make_consumer(spark, dirs, make_process_response()).subscription]
        batch = spark.read.schema(
            spark.read.parquet(dirs["ingress"]).schema
        ).parquet(dirs["ingress"])

        route_batch(batch, 7, subs)
        once_ok = spark.read.parquet(dirs["processed"]).count()
        once_bad = spark.read.parquet(dirs["quarantine"]).count()
        # the crash-replay: same batch_id delivered again
        route_batch(batch, 7, subs)
        assert spark.read.parquet(dirs["processed"]).count() == once_ok == 1
        assert spark.read.parquet(dirs["quarantine"]).count() == once_bad == 1
        # a NEW batch id appends
        route_batch(batch, 8, subs)
        assert spark.read.parquet(dirs["processed"]).count() == 2


class TestStreamStreamOuter:
    def test_left_outer_emits_unmatched_after_watermark(
        self, spark, tmp_path
    ):
        """Stream-stream LEFT OUTER interval join: matched pairs emit
        immediately; an unmatched view emits with null click columns
        only after the watermark proves no click can still arrive."""
        from datetime import datetime

        from ex_hivent_spark.streaming.joins import interval_join

        vdir, cdir = str(tmp_path / "v"), str(tmp_path / "c")
        cp = str(tmp_path / "cp")

        def write(path, ts_name, rows, fname):
            spark.createDataFrame(
                rows, f"user_id long, {ts_name} timestamp"
            ).coalesce(1).write.mode("append").parquet(path)

        def stream(path, ts_name):
            return (
                spark.readStream.schema(f"user_id long, {ts_name} timestamp")
                .option("maxFilesPerTrigger", 1)
                .parquet(path)
            )

        # round 1: user 1 view never clicks; user 2 view->click matches
        write(vdir, "l_ts", [(1, datetime(2024, 1, 1, 0, 0)),
                             (2, datetime(2024, 1, 1, 0, 30))], "f1")
        write(cdir, "r_ts", [(2, datetime(2024, 1, 1, 1, 0))], "f1")

        joined = interval_join(
            stream(vdir, "l_ts"), stream(cdir, "r_ts"), how="leftOuter"
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("ss_outer")
            .outputMode("append")
            .option("checkpointLocation", cp)
            .start()
        )
        q.processAllAvailable()
        # rounds 2..3: watermark pushers on BOTH sides (combined
        # watermark = min of sides); each extra batch lets the engine
        # evict state the previous batch's watermark already expired
        for h in (10, 20):
            write(vdir, "l_ts", [(90 + h, datetime(2024, 1, 1, h, 0))], "p")
            write(cdir, "r_ts", [(90 + h, datetime(2024, 1, 1, h, 1))], "p")
            q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

        rows = spark.sql("SELECT * FROM ss_outer").collect()
        by_user = {}
        for r in rows:
            by_user.setdefault(r.user_id, []).append(r)
        # the matched pair emitted with a real lag
        assert by_user[2][0].lag_us == 30 * 60 * 1_000_000
        # the unmatched view emitted exactly once, with null right side
        assert len(by_user[1]) == 1
        assert by_user[1][0].r_ts is None and by_user[1][0].lag_us is None

    def test_left_outer_without_watermark_rejected(self, spark, tmp_path):
        import pytest

        from ex_hivent_spark.streaming.joins import interval_join

        left = spark.createDataFrame([], "user_id long, l_ts timestamp")
        right = spark.createDataFrame([], "user_id long, r_ts timestamp")
        with pytest.raises(ValueError, match="leftOuter requires"):
            interval_join(left, right, watermark=None, how="leftOuter")


class TestBackfillHandoff:
    def test_bootstrap_then_tail_equals_full_batch(self, spark, tmp_path):
        """Kappa catch-up: archive bootstrap (one batch job) + live
        streaming tail must together equal the full-batch transform —
        no loss, no double-processing across the handoff; restart with
        the same checkpoint must not re-run the bootstrap."""
        from ex_hivent_spark.streaming.backfill import (
            bootstrap_and_tail,
            read_derived,
        )

        archive = str(tmp_path / "archive")
        live = str(tmp_path / "live")
        out = str(tmp_path / "derived")
        ckpt = str(tmp_path / "ckpt")
        full = spark.range(1000).selectExpr(
            "id", "id % 13 AS k", "CAST(id * 2 AS DOUBLE) AS v"
        )
        full.filter("id < 600").write.parquet(archive)
        import os

        os.makedirs(live)

        def enrich(df):
            return df.withColumn("vv", df.v * 10).filter("k <> 5")

        schema = "id LONG, k LONG, v DOUBLE"
        q = bootstrap_and_tail(
            spark, archive, live, schema, enrich, out, ckpt
        )
        try:
            # live data arrives after the tail is up
            full.filter("id >= 600").write.mode("append").parquet(live)
            q.processAllAvailable()
        finally:
            q.stop()

        got = read_derived(spark, out)
        want = enrich(full)
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

        # restart: checkpoint exists -> bootstrap skipped, no dupes
        q2 = bootstrap_and_tail(
            spark, archive, live, schema, enrich, out, ckpt
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        assert read_derived(spark, out).count() == want.count()


class TestDimEnrichment:
    def test_dim_refresh_visible_mid_stream(self, spark, tmp_path):
        """Per-batch dimension re-read: a dim row updated between
        micro-batches must enrich the NEXT batch with the new value —
        the slowly-changing-dimension contract a pinned static join
        cannot give."""
        import os

        from ex_hivent_spark.streaming.enrich import dim_enriched_stream

        src = str(tmp_path / "src")
        dim = str(tmp_path / "dim")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)
        spark.createDataFrame(
            [(0, "bronze"), (1, "silver")], ["k", "segment"]
        ).write.parquet(dim)

        # batch 1 data before start (deterministic batch boundaries)
        spark.createDataFrame(
            [(100, 0), (101, 1)], ["id", "k"]
        ).write.mode("append").json(src)
        q = dim_enriched_stream(
            spark,
            spark.readStream.schema("id LONG, k LONG").json(src),
            dim,
            "k",
            out,
            ckpt,
        )
        try:
            q.processAllAvailable()
            # dim changes between batches (atomic republish)
            spark.createDataFrame(
                [(0, "GOLD"), (1, "silver"), (2, "new")], ["k", "segment"]
            ).write.mode("overwrite").parquet(dim)
            spark.createDataFrame(
                [(200, 0), (201, 2)], ["id", "k"]
            ).write.mode("append").json(src)
            q.processAllAvailable()
        finally:
            q.stop()

        got = {r.id: r.segment for r in spark.read.parquet(out).collect()}
        assert got[100] == "bronze"  # batch 1 saw the old dim
        assert got[200] == "GOLD"    # batch 2 saw the update
        assert got[201] == "new"     # and the new key


class TestMultiplexRoute:
    """One-pass multi-subscriber dispatch (route): two consumers fed
    from ONE source query, with per-topic quarantine isolation and
    idempotent (effectively-once) sinks."""

    def _subs(self, tmp_path):
        from ex_hivent_spark.streaming.consumer import Subscription

        def dirs(svc):
            return (
                str(tmp_path / f"{svc}_ok"),
                str(tmp_path / f"{svc}_bad"),
            )

        a_ok, a_bad = dirs("a")
        b_ok, b_bad = dirs("b")
        subs = [
            Subscription(
                service="svc_a",
                topic="some:event",
                process=make_process_response(),
                processed_dir=a_ok,
                quarantine_dir=a_bad,
            ),
            Subscription(
                service="svc_b",
                topic="other:event",
                process=make_process_response(),
                processed_dir=b_ok,
                quarantine_dir=b_bad,
            ),
        ]
        return subs, (a_ok, a_bad, b_ok, b_bad)

    def test_two_consumers_one_source_pass(self, spark, tmp_path):
        from ex_hivent_spark.streaming.consumer import route

        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc", partition_count=2)
        em.emit("some:event", {"response": "ok"}, version=1, key="k1")
        em.emit("some:event", {"response": "error"}, version=1, key="k2")
        em.emit("other:event", {"response": "ok"}, version=1, key="k3")
        em.emit("third:event", {"response": "ok"}, version=1)  # unclaimed

        subs, (a_ok, a_bad, b_ok, b_bad) = self._subs(tmp_path)
        q = route(spark, ingress, subs, str(tmp_path / "chk"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        assert spark.read.parquet(a_ok).count() == 1
        bad_a = spark.read.parquet(a_bad)
        assert bad_a.count() == 1  # svc_a's failure …
        assert bad_a.take(1)[0].queue.startswith("svc_a:")
        assert spark.read.parquet(b_ok).count() == 1
        assert spark.read.parquet(b_bad).count() == 0  # … not svc_b's

    def test_replay_is_effectively_once_per_sink(self, spark, tmp_path):
        from ex_hivent_spark.streaming.consumer import route

        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc", partition_count=2)
        em.emit("some:event", {"response": "ok"}, version=1, key="k1")
        subs, (a_ok, _, _, _) = self._subs(tmp_path)

        q = route(spark, ingress, subs, str(tmp_path / "chk"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        em.emit("some:event", {"response": "ok"}, version=1, key="k9")
        # restart on the SAME checkpoint: only the new file is processed,
        # and re-delivered batches overwrite their batch_id directories
        q2 = route(spark, ingress, subs, str(tmp_path / "chk"))
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        ok = spark.read.parquet(a_ok)
        assert ok.count() == 2  # exactly once each, no duplicates

    def test_sink_failure_midbatch_restart_exactly_once_all_subs(
        self, spark, tmp_path
    ):
        """Failure injection on the shared-checkpoint multiplex: sub 2
        of 3's ok-sink write fails MID-BATCH (after sub 1 already wrote
        its slice, before sub 3 ran). The batch must not commit; on
        restart the replayed batch overwrites EVERY subscription's
        batch_id directory — sub 1's pre-failure rows don't duplicate,
        sub 3's never-written slice appears, and sub 2 lands once."""
        import os

        from ex_hivent_spark.streaming.consumer import Subscription, route

        ingress = str(tmp_path / "ingress")
        em = StreamEmitter(spark, ingress, producer="svc", partition_count=2)
        em.emit("topic:a", {"response": "ok"}, version=1, key="ka")
        em.emit("topic:b", {"response": "ok"}, version=1, key="kb")
        em.emit("topic:c", {"response": "ok"}, version=1, key="kc")

        subs, sink_dirs = [], {}
        for svc, topic in (
            ("svc_a", "topic:a"), ("svc_b", "topic:b"), ("svc_c", "topic:c")
        ):
            ok_dir = str(tmp_path / f"{svc}_ok")
            bad_dir = str(tmp_path / f"{svc}_bad")
            sink_dirs[svc] = ok_dir
            subs.append(
                Subscription(
                    service=svc,
                    topic=topic,
                    process=make_process_response(),
                    processed_dir=ok_dir,
                    quarantine_dir=bad_dir,
                )
            )
        # inject: svc_b's ok sink path is a plain FILE, so the parquet
        # write of its slice throws inside the shared foreachBatch
        with open(sink_dirs["svc_b"], "w") as f:
            f.write("not a directory")

        chk = str(tmp_path / "chk")
        q = route(spark, ingress, subs, chk)
        with pytest.raises(Exception):
            q.processAllAvailable()
        q.stop()
        # awaitTermination re-raises the stream's failure — expected
        with pytest.raises(Exception):
            q.awaitTermination(30)

        # sub 1 got at least one batch dir written before the failure;
        # none of svc_b's batches committed
        assert os.path.isdir(sink_dirs["svc_a"])
        assert os.path.isfile(sink_dirs["svc_b"])

        # repair the sink and restart on the SAME checkpoint
        os.remove(sink_dirs["svc_b"])
        q2 = route(spark, ingress, subs, chk)
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
            q2.awaitTermination(30)

        for svc in ("svc_a", "svc_b", "svc_c"):
            got = spark.read.parquet(f"{sink_dirs[svc]}/batch_id=*")
            assert got.count() == 1, svc  # exactly once, every sub
        # continued progress after recovery stays exactly-once too
        em.emit("topic:a", {"response": "ok"}, version=1, key="ka2")
        q3 = route(spark, ingress, subs, chk)
        try:
            q3.processAllAvailable()
        finally:
            q3.stop()
            q3.awaitTermination(30)
        assert spark.read.parquet(
            f"{sink_dirs['svc_a']}/batch_id=*"
        ).count() == 2
        assert spark.read.parquet(
            f"{sink_dirs['svc_b']}/batch_id=*"
        ).count() == 1


def _write_ingress(spark, path, events):
    """Enriched envelopes for ``events`` ((topic, payload dict) pairs) as
    ONE parquet file, so route() sees them in a single micro-batch."""
    from ex_hivent_spark.envelope import enrich

    raw = spark.createDataFrame(
        [(t, json.dumps(p), 1) for t, p in events],
        "name string, payload string, version int",
    )
    enrich(raw, producer="svc").coalesce(1).write.parquet(path)


def make_strict_process(topic):
    """A process/1 callable that raises on any event not of ``topic``."""

    def process(event):
        if event["name"] != topic:
            raise ValueError(f"foreign event {event['name']}")
        return None

    return process


def make_random_process(log_path):
    """A process/1 callable with a random outcome that logs the uuid of
    every event it is called on."""

    def process(event):
        import random

        with open(log_path, "a") as f:
            f.write(event["uuid"] + "\n")
        return "unlucky" if random.random() < 0.5 else None

    return process


class TestRouteSubscriptions:
    """route() with Column checks, shared topics, checks that must not
    see other topics' events, and single evaluation per event."""

    @staticmethod
    def _sub(tmp_path, service, topic, process):
        from ex_hivent_spark.streaming.consumer import Subscription

        return Subscription(
            service=service,
            topic=topic,
            process=process,
            processed_dir=str(tmp_path / f"{service}_ok"),
            quarantine_dir=str(tmp_path / f"{service}_bad"),
        )

    @staticmethod
    def _route(spark, tmp_path, subs):
        from ex_hivent_spark.streaming.consumer import route

        q = route(spark, str(tmp_path / "ingress"), subs, str(tmp_path / "chk"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)

    @staticmethod
    def _vs(spark, path):
        return sorted(
            json.loads(r.payload)["v"]
            for r in spark.read.parquet(path).select("payload").collect()
        )

    def test_column_checks(self, spark, tmp_path):
        _write_ingress(
            spark,
            str(tmp_path / "ingress"),
            [("topic:a", {"v": v}) for v in range(10)]
            + [("topic:b", {"v": v}) for v in range(10)],
        )
        v = F.get_json_object("payload", "$.v").cast("int")
        a = self._sub(tmp_path, "svc_a", "topic:a", F.when(v % 3 == 0, F.lit("div3")))
        b = self._sub(tmp_path, "svc_b", "topic:b", F.when(v > 7, F.lit("big")))
        self._route(spark, tmp_path, [a, b])

        assert self._vs(spark, a.processed_dir) == [1, 2, 4, 5, 7, 8]
        assert self._vs(spark, a.quarantine_dir) == [0, 3, 6, 9]
        assert self._vs(spark, b.processed_dir) == list(range(8))
        assert self._vs(spark, b.quarantine_dir) == [8, 9]
        bad_a = spark.read.parquet(a.quarantine_dir).collect()
        assert {r.error for r in bad_a} == {"div3"}
        assert {r.name for r in bad_a} == {"topic:a"}
        assert all(r.queue == f"svc_a:{r.partition_id}" for r in bad_a)

    def test_two_services_same_topic(self, spark, tmp_path):
        _write_ingress(
            spark,
            str(tmp_path / "ingress"),
            [("topic:a", {"v": v}) for v in range(6)] + [("topic:b", {"v": 99})],
        )
        x = self._sub(tmp_path, "svc_x", "topic:a", F.lit(None).cast("string"))
        y = self._sub(tmp_path, "svc_y", "topic:a", make_strict_process("topic:a"))
        self._route(spark, tmp_path, [x, y])

        for sub in (x, y):
            ok = spark.read.parquet(sub.processed_dir).collect()
            assert sorted(json.loads(r.payload)["v"] for r in ok) == list(range(6))
            assert all(r.queue == f"{sub.service}:{r.partition_id}" for r in ok)
            assert spark.read.parquet(sub.quarantine_dir).count() == 0

    def test_column_check_never_sees_other_topics(self, spark, tmp_path):
        """Under ANSI the check raises on topic:b's text ``v``; it must be
        evaluated on topic:a's rows only, so the batch does not fail."""
        ingress = str(tmp_path / "ingress")
        _write_ingress(
            spark,
            ingress,
            [("topic:a", {"v": v}) for v in (1, 5, 9)]
            + [("topic:b", {"v": "text"}), ("topic:b", {"v": "more"})],
        )
        check = F.when(
            F.expr("cast(get_json_object(payload, '$.v') as int)") > 4,
            F.lit("big"),
        )
        ansi = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "true")
        try:
            with pytest.raises(Exception):
                spark.read.parquet(ingress).select(check).collect()
            a = self._sub(tmp_path, "svc_a", "topic:a", check)
            b = self._sub(tmp_path, "svc_b", "topic:b", F.lit(None).cast("string"))
            self._route(spark, tmp_path, [a, b])
        finally:
            spark.conf.set("spark.sql.ansi.enabled", ansi)

        assert self._vs(spark, a.processed_dir) == [1]
        assert self._vs(spark, a.quarantine_dir) == [5, 9]
        assert spark.read.parquet(b.processed_dir).count() == 2

    def test_python_callable_never_sees_other_topics(self, spark, tmp_path):
        _write_ingress(
            spark,
            str(tmp_path / "ingress"),
            [("topic:a", {"v": v}) for v in range(5)]
            + [("topic:b", {"v": v}) for v in range(3)]
            + [("topic:c", {"v": 0})],
        )
        subs = [
            self._sub(tmp_path, "svc_a", "topic:a", make_strict_process("topic:a")),
            self._sub(tmp_path, "svc_b", "topic:b", make_strict_process("topic:b")),
        ]
        self._route(spark, tmp_path, subs)

        assert spark.read.parquet(subs[0].quarantine_dir).count() == 0
        assert spark.read.parquet(subs[1].quarantine_dir).count() == 0
        assert self._vs(spark, subs[0].processed_dir) == list(range(5))
        assert self._vs(spark, subs[1].processed_dir) == list(range(3))

    def test_random_outcome_lands_exactly_once(self, spark, tmp_path):
        ingress = str(tmp_path / "ingress")
        _write_ingress(
            spark,
            ingress,
            [("topic:a", {"v": v}) for v in range(40)]
            + [("topic:b", {"v": v}) for v in range(30)],
        )
        logs = {t: str(tmp_path / f"{t[-1]}.log") for t in ("topic:a", "topic:b")}
        subs = [
            self._sub(tmp_path, f"svc_{t[-1]}", t, make_random_process(log))
            for t, log in logs.items()
        ]
        self._route(spark, tmp_path, subs)

        events = spark.read.parquet(ingress).select("name", "meta.uuid").collect()
        for sub in subs:
            want = sorted(r.uuid for r in events if r.name == sub.topic)
            got = [
                r.uuid
                for d in (sub.processed_dir, sub.quarantine_dir)
                for r in spark.read.parquet(d).select("meta.uuid").collect()
            ]
            assert sorted(got) == want
            # the callback ran exactly once per event of its own topic
            with open(logs[sub.topic]) as f:
                assert sorted(f.read().split()) == want

    def test_sink_schemas(self, spark, tmp_path):
        """The ok and quarantine sink columns (names, order, types)."""
        _write_ingress(
            spark, str(tmp_path / "ingress"), [("topic:a", {"v": v}) for v in range(4)]
        )
        v = F.get_json_object("payload", "$.v").cast("int")
        subs = [
            self._sub(tmp_path, "svc_c", "topic:a", F.when(v % 2 == 0, F.lit("even"))),
            self._sub(tmp_path, "svc_p", "topic:a", make_random_process(
                str(tmp_path / "calls.log")
            )),
        ]
        self._route(spark, tmp_path, subs)

        base = (
            "name:string,payload:string,meta:struct<name:string,version:int,"
            "producer:string,cid:string,uuid:string,key:string,"
            "created_at:timestamp>,partition_id:int"
        )
        for sub in subs:
            ok = spark.read.parquet(f"{sub.processed_dir}/batch_id=0")
            bad = spark.read.parquet(f"{sub.quarantine_dir}/batch_id=0")
            assert ok.schema.simpleString() == f"struct<{base},queue:string>"
            assert bad.schema.simpleString() == (
                f"struct<{base},error:string,queue:string,quarantined_at:timestamp>"
            )
