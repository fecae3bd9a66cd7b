"""The ``stream_route`` workload: the paper's emit → route → quarantine
path through ``streaming.consumer.route`` with three subscriptions.

Inputs are envelopes enriched by ``envelope.enrich`` and staged as one
parquet file per micro-batch (the source reads one file per trigger).
Topics and partition keys are drawn from the workload seed; keys follow a
Zipf law, so a few keys are hot. Two subscriptions check events with a
Column expression and one with a Python ``process/1`` callable; all three
send an event to quarantine when its payload value ``v`` is a multiple
of 97.

Set-up starts ``route()`` and processes a few warm-up files. Then the same
running query goes through several rounds, so that both phases are sampled
across the whole run and a passing burst of load on the machine moves the
medians little. Each round has two phases:

1. drain (closed loop): a staged backlog of a few files is processed with
   ``processAllAvailable``; ``pass_s`` is the median over rounds of the
   time this takes;
2. live (open loop): a generator thread renames pre-enriched files into
   the watched directory on a fixed schedule, whatever the consumer does.
   An event's latency runs from its file's due time to the end of the
   micro-batch that wrote it to its sink; ``latency_ms`` is the median
   over the live events of every round.

Afterwards every sink is read back: each event must land exactly once in
its topic's ok or quarantine sink, and the quarantine set must equal the
set of events that fail the check.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import statistics
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import probes

TOPICS = ("order:created", "user:signup", "cart:item_added")
TOPIC_P = (0.5, 0.3, 0.2)
QUARANTINE_MOD = 97
# Set-up processes this many files, closed loop, before the rounds: the
# first micro-batches of a fresh query are the slowest (JIT and heap warm-up).
WARMUP_FILES = 6
# Files per round: a backlog of DRAIN_FILES, then LIVE_FILES released one
# at a time. A run has at least MIN_ROUNDS rounds, so the live p50 and p90
# rest on at least MIN_ROUNDS * LIVE_FILES micro-batches.
DRAIN_FILES = 2
LIVE_FILES = 2
MIN_ROUNDS = 5
# Live phase release interval, frozen at about half the drain capacity
# measured on 4 cores after warm-up when the benchmark was defined (a
# 2-file backlog drained in 2.4-3.0 s, so one file every 1.2-1.5 s).
LIVE_INTERVAL_S = 2.5
# Start of the live schedule after the drain ends.
LIVE_LEAD_S = 0.1
STAGING_ROUNDS = 3


def events_per_file(sf: float) -> int:
    return max(100, int(100_000 * sf))


def _make_process():
    """The Python ``process/1`` callable of the third subscription. Built
    in a closure so that it is pickled by value for the Python workers."""
    import json

    def process(event):
        if json.loads(event["payload"])["v"] % QUARANTINE_MOD == 0:
            return "synthetic failure"
        return None

    return process


def _raw_events(rng: np.random.Generator, n_files: int, per_file: int) -> pa.Table:
    n = n_files * per_file
    v = np.arange(n, dtype=np.int64)
    topic = rng.choice(len(TOPICS), size=n, p=TOPIC_P)
    key = np.minimum(rng.zipf(1.3, n), 100_000)
    return pa.table(
        {
            "file_idx": pa.array(v // per_file),
            "name": pa.array(np.asarray(TOPICS, dtype=object)[topic], pa.string()),
            "payload": pa.array(
                [f'{{"v": {i}, "user": "u{i % 997}"}}' for i in v], pa.string()
            ),
            "version": pa.array(np.ones(n, dtype=np.int32)),
            "key": pa.array([f"k{k}" for k in key], pa.string()),
        }
    )


def _stage(ctx, raw_path: str, out_dir: str, per_file: int, n_files: int) -> list[str]:
    """Enrich the raw events (one Spark job) and write one parquet file
    per file index; returns the files in index order."""
    from pyspark.sql import functions as F

    from ex_hivent_spark.envelope import enrich

    staged = enrich(ctx.spark.read.parquet(raw_path), producer="perfbench").withColumn(
        "file_idx",
        F.expr(f"cast(get_json_object(payload, '$.v') as bigint) div {per_file}"),
    )
    staged.repartition(n_files, "file_idx").write.partitionBy("file_idx").parquet(out_dir)
    files = []
    for k in range(n_files):
        (part,) = glob.glob(f"{out_dir}/file_idx={k}/*.parquet")
        files.append(part)
    return files


def _subscriptions(root: str):
    from pyspark.sql import functions as F

    from ex_hivent_spark.streaming.consumer import Subscription

    def check():
        return F.when(
            F.get_json_object("payload", "$.v").cast("long") % QUARANTINE_MOD == 0,
            F.lit("synthetic failure"),
        )

    processes = [check(), check(), _make_process()]
    return [
        Subscription(
            service=f"svc{i}",
            topic=topic,
            process=processes[i],
            processed_dir=f"{root}/ok{i}",
            quarantine_dir=f"{root}/bad{i}",
        )
        for i, topic in enumerate(TOPICS)
    ]


def _epoch_s(iso: str) -> float:
    return (
        dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def _release(moves: list[tuple[str, float, str]], released: list[float]) -> None:
    """Open-loop generator: for each (file, due time, target), rename the
    file to the target in the watched directory at its due time (wall
    clock), recording when it did."""
    for path, due, target in moves:
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(path, target)
        released.append(time.time())


def _process_all(ctx, q) -> None:
    with ctx.tracer.span("consumer.process_all"):
        q.processAllAvailable()


def _stop(q) -> None:
    q.stop()
    q.awaitTermination(60)


def _read_sink(path: str) -> list[tuple[int, int]]:
    """(payload v, batch_id) of every row under a batch_id-partitioned sink."""
    if not glob.glob(f"{path}/batch_id=*/*.parquet"):
        return []
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["payload", "batch_id"]
    )
    vs = [int(p.split(",", 1)[0][6:]) for p in t.column("payload").to_pylist()]
    return list(zip(vs, t.column("batch_id").to_pylist()))


def _sink_files_mb(root: str) -> tuple[int, float]:
    files = glob.glob(f"{root}/*/batch_id=*/*.parquet")
    return len(files), sum(os.path.getsize(f) for f in files) / probes.MB


def run(ctx) -> None:
    spark, tracer = ctx.spark, ctx.tracer
    per_file = events_per_file(ctx.sf)
    # A round takes about DRAIN_FILES * 1.4 s + LIVE_FILES * LIVE_INTERVAL_S
    # on 4 cores; the rounds fill the measured seconds, with at least
    # MIN_ROUNDS.
    round_s = DRAIN_FILES * 1.4 + LIVE_FILES * LIVE_INTERVAL_S
    n_rounds = max(MIN_ROUNDS, int(round(ctx.seconds / round_s)))
    per_round = DRAIN_FILES + LIVE_FILES
    n_files = WARMUP_FILES + n_rounds * per_round
    raw = _raw_events(ctx.rng, n_files, per_file)
    raw_path = f"{ctx.work}/raw.parquet"
    pq.write_table(raw, raw_path)

    # -- set-up: stage the enriched envelopes (repeated; median counts) --
    stage_s = []
    for i in range(STAGING_ROUNDS):
        with tracer.span("envelope.enrich", "setup"):
            t0 = time.perf_counter()
            files = _stage(ctx, raw_path, f"{ctx.work}/staged{i}", per_file, n_files)
            stage_s.append(time.perf_counter() - t0)
    ctx.layer["ingress.prepare_s"] = statistics.median(stage_s)
    warm_files = files[:WARMUP_FILES]

    # -- set-up: start route() and process the warm-up files -------------
    from ex_hivent_spark.streaming.consumer import route

    watched, root = f"{ctx.work}/watched", f"{ctx.work}/sinks"
    os.makedirs(watched)
    for k, f in enumerate(warm_files):
        os.rename(f, f"{watched}/warm-{k:05d}.parquet")
    t_warm = time.perf_counter()
    with tracer.span("warmup", "setup"):
        with tracer.span("consumer.route"):
            q = route(spark, watched, _subscriptions(root), f"{root}/chk")
        _process_all(ctx, q)
    warm_s = time.perf_counter() - t_warm
    ctx.setup_s = ctx.session_start_s + ctx.layer["ingress.prepare_s"] + warm_s
    last_warm_batch = q.lastProgress["batchId"]

    # -- rounds: drain (closed loop), then live (open loop) ---------------
    drain_s: list[float] = []
    drain_jobs: list[int] = []
    drain_batches: set[int] = set()
    live_batches: set[int] = set()
    due: dict[int, float] = {}  # live file index -> due time (epoch s)
    released: list[float] = []
    gc_s = 0.0
    try:
        for r in range(n_rounds):
            first = WARMUP_FILES + r * per_round
            label = f"round{r}"
            for k in range(first, first + DRAIN_FILES):
                os.rename(files[k], f"{watched}/drain-{k:05d}.parquet")
            b0 = q.lastProgress["batchId"]
            job0 = probes.next_job_id(spark)
            gc0 = probes.gc_seconds(spark) if ctx.trace else 0.0
            t0 = time.perf_counter()
            with tracer.span("drain", label):
                _process_all(ctx, q)
            drain_s.append(time.perf_counter() - t0)
            drain_jobs.extend(range(job0, probes.next_job_id(spark)))
            if ctx.trace:
                gc_s += probes.gc_seconds(spark) - gc0
            b1 = q.lastProgress["batchId"]
            drain_batches.update(range(b0 + 1, b1 + 1))

            live = list(range(first + DRAIN_FILES, first + per_round))
            t_live = time.time() + LIVE_LEAD_S
            for i, k in enumerate(live):
                due[k] = t_live + i * LIVE_INTERVAL_S
            gen = threading.Thread(
                target=_release,
                args=([(files[k], due[k], f"{watched}/live-{k:05d}.parquet") for k in live],
                      released),
                daemon=True,
            )
            with tracer.span("live", label):
                gen.start()
                gen.join()
                q.processAllAvailable()
            live_batches.update(range(b1 + 1, q.lastProgress["batchId"] + 1))
        pins = probes.pinned_storage(spark) if ctx.trace else (0, 0.0)
    finally:
        progress = [
            p for p in q.recentProgress
            if p["numInputRows"] > 0 and p["batchId"] > last_warm_batch
        ]
        _stop(q)

    # -- outputs: exactly once, quarantine = failing set, latency ---------
    topic_of = np.asarray(raw.column("name").to_pylist(), dtype=object)
    batch_end = {
        p["batchId"]: _epoch_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
        for p in progress
    }
    bad_events: set[int] = set()
    latencies: list[float] = []
    ok_rows = bad_rows = 0
    for i, topic in enumerate(TOPICS):
        ok = _read_sink(f"{root}/ok{i}")
        bad = _read_sink(f"{root}/bad{i}")
        ok_rows += len(ok)
        bad_rows += len(bad)
        expected = {v for v in range(len(topic_of)) if topic_of[v] == topic}
        seen: dict[int, int] = {}
        for v, _ in ok + bad:
            seen[v] = seen.get(v, 0) + 1
        bad_events.update(v for v, c in seen.items() if c != 1 or v not in expected)
        bad_events.update(expected - seen.keys())
        quarantined = {v for v, _ in bad}
        should = {v for v in expected if v % QUARANTINE_MOD == 0}
        bad_events.update(quarantined ^ should)
        for v, b in ok + bad:
            k = v // per_file
            if k in due and b in batch_end:
                latencies.append(batch_end[b] - due[k])
    n_events = len(topic_of)
    ctx.attempted += n_events
    if bad_events:
        ctx.fail(
            f"{len(bad_events)} events not exactly once in their topic's ok or "
            f"quarantine sink, e.g. v={sorted(bad_events)[:10]}",
            count=len(bad_events),
        )
    if not latencies:
        ctx.fail("live phase: no event reached a sink")
        latencies = [float("nan")]

    ctx.metric("pass_s", statistics.median(drain_s), "s")
    ctx.metric("latency_ms", 1e3 * ctx.quantile(latencies, 0.5), "ms")
    late = [r - d for r, d in zip(released, sorted(due.values()))]
    ctx.detail.update(
        events=n_events,
        events_per_file=per_file,
        rounds=n_rounds,
        drain_files_per_round=DRAIN_FILES,
        drain_s_all=drain_s,
        drain_rows_per_s=DRAIN_FILES * per_file / statistics.median(drain_s),
        live_files=len(due),
        live_interval_s=LIVE_INTERVAL_S,
        latency_p50_ms=1e3 * ctx.quantile(latencies, 0.5),
        latency_p90_ms=1e3 * ctx.quantile(latencies, 0.9),
        latency_events=len(latencies),
        live_batches=len(live_batches & batch_end.keys()),
        **{"gen.late_ms_max": 1e3 * max(late) if late else 0.0},
    )

    if ctx.trace:
        drain_p = [p for p in progress if p["batchId"] in drain_batches]

        def dur(ps: list[dict], phase: str) -> list[float]:
            return [float(p["durationMs"].get(phase, 0)) for p in ps]

        probes.drain_listener_bus(spark)
        total = probes.exec_totals(spark, drain_jobs)
        ctx.layer.update(
            {
                "plan.build_s": sum(dur(drain_p, "queryPlanning")) / 1e3,
                "plan.build_jobs": 0.0,
                "exec.s": sum(dur(drain_p, "addBatch")) / 1e3,
                "exec.gc_s": gc_s,
                "exec.core_busy_share": total.executor_run_s / (sum(drain_s) * ctx.cores),
                "pins.rdds": float(pins[0]),
                "pins.storage_mb": pins[1],
                "unit.count": float(len(progress)),
                "unit.plan_ms_p50": statistics.median(dur(progress, "queryPlanning")),
                "unit.exec_ms_p50": statistics.median(dur(progress, "addBatch")),
                "unit.total_ms_p50": statistics.median(dur(progress, "triggerExecution")),
                "unit.jobs_mean": total.jobs / max(1, len(drain_p)),
            }
        )
        for f in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            ctx.layer[f"exec.{f}"] = float(getattr(total, f))
        n_sink_files, sink_mb = _sink_files_mb(root)
        ctx.layer.update(
            {
                "sink.ok_rows": float(ok_rows),
                "sink.quarantine_rows": float(bad_rows),
                "sink.files": float(n_sink_files),
                "sink.mb": sink_mb,
                "stream.backlog_max_files": float(
                    _backlog_max(released, sorted(batch_end[b] for b in live_batches
                                                  if b in batch_end))
                ),
            }
        )
        _batch_spans(ctx.tracer, progress)
        for k in ("getBatch", "latestOffset", "walCommit", "commitOffsets"):
            ctx.detail[f"stream.{k}_ms_p50"] = statistics.median(dur(progress, k))
        ctx.detail["stream.rows_per_batch"] = statistics.median(
            p["numInputRows"] for p in progress
        )


# Phases of a micro-batch in the order MicroBatchExecution runs them.
_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def _batch_spans(tracer, progress: list[dict]) -> None:
    """One span per micro-batch (trace id ``batch<N>``) from its progress
    event, with its phases as child spans laid end to end: progress
    reports each phase's duration, not its start."""
    shift = time.perf_counter() - time.time()
    for p in progress:
        start = _epoch_s(p["timestamp"]) + shift
        d = p["durationMs"]
        tid = f"batch{p['batchId']}"
        end = start + d["triggerExecution"] / 1e3
        batch = tracer.record("microbatch", tid, start, end, None)
        t = start
        for phase in _PHASES:
            ms = d.get(phase, 0) / 1e3
            tracer.record(f"stream.{phase}", tid, t, t + ms, batch.span_id)
            t += ms


def _backlog_max(released: list[float], ends: list[float]) -> int:
    """Largest number of released files not yet committed, sampled at
    each release (each live micro-batch commits one file)."""
    worst = 0
    for k, r in enumerate(released):
        done = sum(1 for e in ends if e <= r)
        worst = max(worst, k + 1 - done)
    return worst
