#!/usr/bin/env python3
"""Benchmark of the ex_hivent_spark engine, run from the repository root:

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 10 --trace 0

Workloads (``--seed`` sets the query order of every pass and the stream's
topic/key draw; the tables themselves are fixed):

- ``relational``: 17 scan/join/window queries over lineitem/orders/events;
- ``llm_corpus``: 12 dedup/similarity queries over documents/embeddings,
  which build plans that fire jobs, pin frames and share session memos;
- ``stream_route``: enriched envelopes routed to three subscriptions with
  ok/quarantine sinks, in rounds of a drained backlog and an open-loop feed.

The session runs at ``local[<cores>]`` with as many shuffle partitions.
Every run checks outputs (DuckDB oracles for the batch queries, exactly-once
sinks for the stream) and prints, as its last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is the run's record: environment, counts and, when traced,
per-query and per-phase figures, span self times and the tracing overhead.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root: the batch workloads' tables and oracle results, cached by
``prepare.py`` on a checkout's first run, and the spans of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("relational", "llm_corpus", "stream_route")
DEFAULT_SF = 0.01


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Context:
    """State of one benchmark run, passed to the workload."""

    def __init__(self, args, work: str, say):
        import numpy as np

        from spans import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.sf = args.sf
        self.work = work
        self.say = say
        self.rng = np.random.default_rng(args.seed)
        self.tracer = Tracer(self.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.data_dir = None
        self.session_start_s = 0.0
        self.setup_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {}

    def fail(self, message: str, count: int = 1) -> None:
        self.failed += count
        self.say(f"FAILED: {message}")

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    @staticmethod
    def quantile(values, q: float) -> float:
        import numpy as np

        return float(np.percentile(np.asarray(values, dtype=float), 100.0 * q))


def _start_session(ctx: Context):
    from ex_hivent_spark.session import get_session

    local = f"{ctx.work}/local"
    os.makedirs(local)
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.work}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": f"{ctx.work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    with ctx.tracer.span("session.get_session", "setup"):
        t0 = time.perf_counter()
        spark = get_session(
            app_name=f"perfbench-{ctx.workload}",
            master=f"local[{ctx.cores}]",
            shuffle_partitions=ctx.cores,
            extra_conf=conf,
        )
        ctx.session_start_s = time.perf_counter() - t0
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_session(spark) -> None:
    """Stop Spark, then end the driver JVM and every process under it and
    wait until each has exited."""
    import probes

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = probes.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - escalate below
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 20
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def _record(ctx: Context) -> dict:
    sc = ctx.spark.sparkContext
    return {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "seconds": ctx.seconds,
        "trace": int(ctx.trace),
        "sf": ctx.sf,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(ctx.spark.conf.get("spark.sql.shuffle.partitions")),
        "nproc": ctx.cores,
        "spark": ctx.spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def _measure(ctx: Context, jvm_log: str) -> dict:
    import batch
    import probes
    import stream

    queries = {"relational": batch.RELATIONAL, "llm_corpus": batch.LLM_CORPUS}
    if ctx.workload in queries:
        batch.stage_inputs(ctx, queries[ctx.workload])
    load = probes.MachineLoad()
    ctx.spark = _start_session(ctx)
    ctx.layer["session.start_s"] = ctx.session_start_s
    record = _record(ctx)
    pid = probes.jvm_pid(ctx.spark)
    try:
        if ctx.workload in queries:
            batch.run(ctx, queries[ctx.workload])
        else:
            stream.run(ctx)
        ctx.metric("setup_s", ctx.setup_s, "s")
        py_mb, jvm_mb = probes.peak_rss_mb(pid)
        ctx.layer["mem.peak_rss_mb"] = py_mb + jvm_mb
        ctx.detail.update(peak_rss_python_mb=py_mb, peak_rss_jvm_mb=jvm_mb)
        record["machine"] = load.finish()
    finally:
        _stop_session(ctx.spark)
    ctx.layer["jvm.error_lines"] = float(probes.count_error_lines(jvm_log))
    ctx.layer["trace.overhead_s"] = ctx.tracer.overhead_s
    record["session.start_s"] = ctx.session_start_s
    record["attempted"], record["failed"] = ctx.attempted, ctx.failed
    record["end_to_end"] = {k: v for k, (v, _) in ctx.metrics.items()}
    record["jvm.error_lines"] = ctx.layer["jvm.error_lines"]
    record.update(ctx.detail)
    if ctx.trace:
        record["layers"] = dict(ctx.layer)
        record["span_self_s"] = ctx.tracer.self_times()
        trace_path = os.path.join(
            os.path.dirname(ctx.work), f"trace-{ctx.workload}-{ctx.seed}.json"
        )
        ctx.tracer.write(trace_path)
        record["trace_file"] = os.path.relpath(trace_path, ROOT)
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", type=float, default=DEFAULT_SF,
        help="table scale factor; the stream's file size scales with it too",
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ex_hivent_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = f"{work}/tmp"
    tempfile.tempdir = f"{work}/tmp"
    # spark-submit runs a small launcher JVM first; keep its perf-data
    # file out of the system temp directory too.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    # The JVM and the Python workers inherit fds 1 and 2: point both at a
    # log, so JVM errors are counted and stdout carries only our lines.
    jvm_log = f"{work}/jvm.log"
    out_fd, err_fd = os.dup(1), os.dup(2)
    log_fd = os.open(jvm_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    sys.stdout.flush()
    sys.stderr.flush()
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)

    def say(msg: str) -> None:
        os.write(err_fd, f"perfbench: {msg}\n".encode())

    ctx = Context(args, work, say)
    code = 0
    try:
        record = _measure(ctx, jvm_log)
    except Exception:  # noqa: BLE001 - a crashed run prints no result
        say(traceback.format_exc())
        code = 1
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(out_fd, 1)
        os.dup2(err_fd, 2)
        if code == 0:
            shutil.rmtree(work, ignore_errors=True)
    if code:
        return code

    names = metric_units("per_layer" if args.trace else "end_to_end")
    metrics = {}
    for name, unit in names.items():
        value = ctx.layer.get(name) if args.trace else ctx.metrics.get(name, (None,))[0]
        if value is None:
            say(f"metric {name} was not measured")
            return 1
        metrics[name] = {"value": float(value), "unit": unit}
    print(json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
