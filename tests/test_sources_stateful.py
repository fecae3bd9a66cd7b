"""Source readers, topic multiplexer sink, and the custom stateful
operator."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ex_hivent_spark.sources.readers import (
    read_events_csv,
    read_events_json,
    stream_ingress,
)
from ex_hivent_spark.sources.sinks import topic_multiplexer
from ex_hivent_spark.streaming.emitter import StreamEmitter
from ex_hivent_spark.streaming.stateful import user_running_totals


def test_read_events_json(spark, tmp_path):
    p = tmp_path / "ev.json"
    rows = [
        {"name": "a:b", "payload": json.dumps({"x": 1}),
         "meta": {"name": "a:b", "version": 1, "producer": "p", "cid": "c",
                  "uuid": "u", "key": "k", "created_at": "2024-01-01T00:00:00Z"}},
    ]
    p.write_text("\n".join(json.dumps(r) for r in rows))
    df = read_events_json(spark, str(p))
    row = df.take(1)[0]
    assert row.name == "a:b" and row.meta.version == 1
    assert json.loads(row.payload) == {"x": 1}


def test_read_events_csv(spark, tmp_path):
    p = tmp_path / "ev.csv"
    p.write_text(
        "event_id,ts,user_id,event_type,value,props\n"
        '1,2024-01-01 10:00:00,7,click,3.5,"{""k"": 1}"\n'
    )
    row = read_events_csv(spark, str(p)).take(1)[0]
    assert row.event_id == 1 and row.user_id == 7 and row.value == 3.5
    assert row.ts is not None


def test_topic_multiplexer_single_pass(spark, tmp_path):
    ingress = str(tmp_path / "in")
    em = StreamEmitter(spark, ingress, producer="svc")
    em.emit("topic:a", {"i": 1}, version=1)
    em.emit("topic:b", {"i": 2}, version=1)
    em.emit("topic:a", {"i": 3}, version=1)

    sinks = {"topic:a": str(tmp_path / "a"), "topic:b": str(tmp_path / "b")}
    q = topic_multiplexer(
        stream_ingress(spark, ingress), sinks, str(tmp_path / "cp")
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)

    a = spark.read.parquet(sinks["topic:a"])
    b = spark.read.parquet(sinks["topic:b"])
    assert a.count() == 2 and b.count() == 1
    assert {r.name for r in a.select("name").distinct().collect()} == {"topic:a"}


def test_topic_multiplexer_replay_does_not_duplicate(spark, tmp_path):
    """A batch replayed after a crash (its commit never written)
    overwrites its own sink directories instead of appending again."""
    import os

    ingress = str(tmp_path / "in")
    em = StreamEmitter(spark, ingress, producer="svc")
    em.emit("topic:a", {"i": 1}, version=1)
    em.emit("topic:b", {"i": 2}, version=1)
    em.emit("topic:a", {"i": 3}, version=1)

    sinks = {"topic:a": str(tmp_path / "a"), "topic:b": str(tmp_path / "b")}
    cp = str(tmp_path / "cp")

    def run():
        q = topic_multiplexer(stream_ingress(spark, ingress), sinks, cp)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
        return [spark.read.parquet(sinks[t]).count() for t in sorted(sinks)]

    assert run() == [2, 1]
    commits = os.path.join(cp, "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    for f in (last, f".{last}.crc"):
        os.remove(os.path.join(commits, f))
    assert run() == [2, 1]


def test_stateful_running_totals(spark, tmp_path):
    import datetime as dt

    src = str(tmp_path / "ev")
    spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 10, 0), 1, "click", 2.0),
            (2, dt.datetime(2024, 1, 1, 10, 1), 1, "click", 3.0),
            (3, dt.datetime(2024, 1, 1, 10, 2), 2, "view", 5.0),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    ).write.parquet(src)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).parquet(src)
    )
    q = (
        user_running_totals(stream)
        .writeStream.format("memory")
        .queryName("totals")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    got = {
        r.user_id: (r.n_events, r.total_value, r.closed)
        for r in spark.sql("SELECT * FROM totals").collect()
    }
    assert got[1] == (2, 5.0, False)
    assert got[2] == (1, 5.0, False)


def test_tws_processor_equivalence_harness(spark):
    """Runtime evidence for the transformWithStateInPandas operator in
    a container without its transport deps: drive the REAL
    ``RunningTotals`` StatefulProcessor through its full lifecycle
    (init → per-key handleInputRows across micro-batches → close)
    against a stub StatefulProcessorHandle implementing the ValueState
    contract (exists/get/update), and assert the final emissions equal
    a batch groupBy aggregation of the same static data.

    This proves the operator's state threading and accumulation logic —
    everything above the protobuf state-server wire protocol, which is
    engine transport, not operator semantics.  The e2e streaming test
    below still runs wherever google.protobuf exists (it cannot be
    vendored here: no network and no installs in this container)."""
    import pandas as pd

    from ex_hivent_spark.streaming.stateful import make_running_totals_processor

    class StubValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class StubHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, StubValueState())

    rows = [(i, i % 3, float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, value double")

    # Three micro-batches with uneven splits; within each, rows arrive
    # grouped by key (the engine's groupBy guarantee), possibly split
    # across several pandas chunks — both shapes must accumulate right.
    batches = [rows[:7], rows[7:18], rows[18:]]
    handles = {}
    emissions = {}
    proc = make_running_totals_processor()
    for batch in batches:
        by_key = {}
        for r in batch:
            by_key.setdefault(r[1], []).append(r)
        for key, krows in sorted(by_key.items()):
            handle = handles.setdefault(key, StubHandle())
            proc.init(handle)  # re-init binds the same named state
            pdf = pd.DataFrame(krows, columns=["event_id", "user_id", "value"])
            chunks = [pdf.iloc[:1], pdf.iloc[1:]] if len(pdf) > 1 else [pdf]
            for out in proc.handleInputRows((key,), iter(chunks), None):
                emissions[key] = (
                    int(out["n_events"].iloc[-1]),
                    float(out["total_value"].iloc[-1]),
                )
    proc.close()

    want = {
        r.user_id: (r.n, r.total)
        for r in df.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert emissions == want


def test_transform_with_state_running_totals(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 typed-state API) computes the
    same per-user running totals as a batch aggregation after draining
    the stream. Skips when the TWS runtime deps (protobuf) are absent
    from the environment."""
    import datetime as dt

    from ex_hivent_spark.streaming.stateful import running_totals_tws, tws_available

    if not tws_available():
        pytest.skip("transformWithStateInPandas needs google.protobuf "
                    "(absent in this container)")

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "ev")
        rows = [
            (i, dt.datetime(2024, 1, 1, 0, i), i % 3, "click", float(i))
            for i in range(30)
        ]
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double",
        ).write.parquet(src)

        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double"
            )
            .parquet(src)
        )
        q = (
            running_totals_tws(stream)
            .writeStream.format("memory")
            .queryName("tws_out")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "cp"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

        # last update per user == the batch totals
        out = spark.sql(
            "SELECT user_id, max_by(n_events, n_events) AS n, "
            "max_by(total_value, n_events) AS total "
            "FROM tws_out GROUP BY user_id"
        ).collect()
        got = {r.user_id: (r.n, r.total) for r in out}
        want = {
            u: (
                sum(1 for r in rows if r[2] == u),
                sum(r[4] for r in rows if r[2] == u),
            )
            for u in {r[2] for r in rows}
        }
        assert got == want
    finally:
        if prev:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
