"""The batch workloads: timed passes over a fixed list of registered
queries, each query planned through ``QuerySpec.spark`` and executed
through the noop sink.

The tables and the DuckDB oracle results come from the cache that
``prepare.py`` builds before the session starts. Set-up reads the tables
through the catalog, then runs one untimed warm-up pass that collects every
result; after it, each result is checked against its cached oracle result.
Each timed pass first clears the session memos, so its time does not
depend on which passes ran before it, and runs the queries in an order
drawn from the workload seed.
"""

from __future__ import annotations

import math
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import datagen
import prepare
import probes

RELATIONAL = (
    "q_agg_pricing_summary",
    "q_join_star_multiway",
    "q_join_broadcast",
    "q_join_asof",
    "q_win_sessionize",
    "q_win_rolling_median",
    "q_agg_count_distinct",
    "q_set_except",
    "q_dedup_exact",
    "q_ts_ewma",
    "q_ts_anomaly",
    "q_tpch_q3_shipping_priority",
    "q_tpch_q5_local_supplier",
    "q_tpch_q9_product_profit",
    "q_tpch_q13_order_distribution",
    "q_tpch_q17_small_qty_revenue",
    "q_tpch_q21_sole_supplier",
)

LLM_CORPUS = (
    "q_llm_minhash_neardup",
    "q_llm_containment_dedup",
    "q_llm_ngram_jaccard",
    "q_llm_cross_dedup",
    "q_llm_lsh_topk",
    "q_llm_ivf_topk",
    "q_llm_pq_encode",
    "q_llm_ivfpq_search",
    "q_emb_isotropy",
    "q_llm_softdedup_weights",
    "q_llm_ngram_novelty",
    "q_llm_decontaminate",
)

CATALOG_ROUNDS = 3
WARMUP_THREADS = 3


def stage_inputs(ctx, queries: tuple[str, ...]) -> None:
    """Before the session starts: have the tables and the queries' oracle
    results cached (built in a child process on a checkout's first run)."""
    from ex_hivent_spark.plans.registry import all_specs

    specs = all_specs()
    missing = [q for q in queries if q not in specs]
    if missing:
        raise RuntimeError(f"queries not registered: {missing}")
    oracles = {q: specs[q].oracle for q in queries if specs[q].oracle}
    ctx.data_dir, err = prepare.ensure(ctx.sf, oracles)
    if err:
        ctx.say(f"building the oracle cache failed:\n{err}")


def run(ctx, queries: tuple[str, ...]) -> None:
    from ex_hivent_spark.catalog import clear_table_cache, load_table
    from ex_hivent_spark.plans.registry import all_specs
    from ex_hivent_spark.session_memo import clear_session_memos
    from tests.test_oracle_parity import canonical_rows

    spark, tracer, sc = ctx.spark, ctx.tracer, ctx.spark.sparkContext
    specs = all_specs()
    data_dir = ctx.data_dir

    # -- set-up: read the tables through the catalog (repeated on a
    # cleared table cache; the median counts) ----------------------------
    catalog_s = []
    for _ in range(CATALOG_ROUNDS):
        clear_table_cache(spark)
        sc.setJobGroup("catalog", "load_table")
        with tracer.span("catalog.load_table", "setup"):
            t0 = time.perf_counter()
            for t in datagen.TABLES:
                load_table(spark, data_dir, t)
            catalog_s.append(time.perf_counter() - t0)
    ctx.layer["ingress.prepare_s"] = statistics.median(catalog_s)

    # -- set-up: untimed warm-up pass that collects every result --------
    # The first query runs alone (it ships the package to the workers);
    # the rest run WARMUP_THREADS at a time, as JIT warm-up of a fresh
    # driver JVM is mostly single-threaded per query.
    results: dict[str, tuple[list[str], list[tuple]]] = {}
    errors: dict[str, str] = {}

    def warm(q: str) -> None:
        sc.setJobGroup(f"warmup:{q}", q)
        try:
            with tracer.span("query", f"warmup:{q}"):
                df = specs[q].spark(spark, data_dir)
                results[q] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as ex:  # noqa: BLE001 - counted as a failed operation
            errors[q] = f"{type(ex).__name__}: {ex}"

    warm_order = list(ctx.rng.permutation(queries))
    t_warm = time.perf_counter()
    with tracer.span("warmup", "setup"):
        warm(warm_order[0])
        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            list(pool.map(warm, warm_order[1:]))
    warm_s = time.perf_counter() - t_warm
    ctx.setup_s = ctx.session_start_s + ctx.layer["ingress.prepare_s"] + warm_s
    ctx.detail["warmup_s"] = warm_s

    # -- correctness: every collected result against its oracle ---------
    checked = 0
    for q in queries:
        ctx.attempted += 1
        if q in errors:
            ctx.fail(f"{q} (warm-up): {errors[q]}")
            continue
        rows = canonical_rows(*results.pop(q))
        sql = specs[q].oracle
        expected = prepare.load_oracle(ctx.sf, q, sql) if sql else None
        if sql and expected is None:
            ctx.fail(f"{q}: no oracle result (its DuckDB run failed)")
        elif sql and rows != expected:
            ctx.fail(f"{q}: result differs from oracle ({len(rows)} vs {len(expected)} rows)")
        elif not sql and not rows:
            ctx.fail(f"{q}: no oracle and an empty result")
        checked += expected is not None
    ctx.detail["oracle_checked"] = checked

    # -- timed passes ----------------------------------------------------
    def noop_pass(label: str) -> tuple[list[str], dict[str, tuple[float, float]], float]:
        """One pass over the queries in a seeded order, after clearing the
        session memos; returns (order, query -> (build s, exec s), wall s)."""
        clear_session_memos(spark)
        order = list(ctx.rng.permutation(queries))
        runs: dict[str, tuple[float, float]] = {}
        t0 = time.perf_counter()
        with tracer.span("pass", label):
            for q in order:
                ctx.attempted += 1
                try:
                    with tracer.span("query", f"{label}:{q}"):
                        sc.setJobGroup(f"{label}:{q}:build", q)
                        with tracer.span("registry.build"):
                            tb = time.perf_counter()
                            df = specs[q].spark(spark, data_dir)
                            te = time.perf_counter()
                        sc.setJobGroup(f"{label}:{q}:exec", q)
                        with tracer.span("exec.noop_write"):
                            df.write.format("noop").mode("overwrite").save()
                            tx = time.perf_counter()
                    runs[q] = (te - tb, tx - te)
                except Exception as ex:  # noqa: BLE001 - counted as a failed operation
                    ctx.fail(f"{q} ({label}): {type(ex).__name__}: {ex}")
        return order, runs, time.perf_counter() - t0

    pass_s: list[float] = []
    pass_runs: list[dict[str, tuple[float, float]]] = []
    layer_passes: list[dict] = []
    t_run = time.perf_counter()
    while not pass_s or time.perf_counter() - t_run < ctx.seconds:
        label = f"pass{len(pass_s)}"
        gc0 = probes.gc_seconds(spark) if ctx.trace else 0.0
        order, runs, wall = noop_pass(label)
        pass_s.append(wall)
        pass_runs.append(runs)
        if ctx.trace:
            layer_passes.append(_pass_layers(ctx, label, order, runs, gc0, wall))
    sc.setJobGroup("perfbench", "after passes")

    units = [bx for runs in pass_runs for bx in runs.values()]
    lat = [b + x for b, x in units]
    ctx.metric("pass_s", statistics.median(pass_s), "s")
    # A query suite's typical latency: the geometric mean over queries.
    ctx.metric("latency_ms", 1e3 * math.exp(statistics.fmean(math.log(t) for t in lat)), "ms")
    ctx.detail.update(
        latency_p50_ms=1e3 * ctx.quantile(lat, 0.5),
        latency_p90_ms=1e3 * ctx.quantile(lat, 0.9),
    )
    ctx.detail.update(passes=len(pass_s), pass_s_all=pass_s, query_runs=len(lat))

    if ctx.trace:
        for key in layer_passes[0]:
            ctx.layer[key] = statistics.median(lp[key] for lp in layer_passes)
        # Batch queries write to the noop sink and read no stream.
        for k in ("sink.ok_rows", "sink.quarantine_rows", "sink.files", "sink.mb",
                  "stream.backlog_max_files"):
            ctx.layer[k] = 0.0
        ctx.layer["unit.count"] = float(len(units))
        ctx.layer["unit.plan_ms_p50"] = 1e3 * statistics.median(b for b, _ in units)
        ctx.layer["unit.exec_ms_p50"] = 1e3 * statistics.median(x for _, x in units)
        ctx.layer["unit.total_ms_p50"] = 1e3 * statistics.median(lat)
        for q in queries:
            mine = [runs[q] for runs in pass_runs if q in runs]
            if mine:
                ctx.detail[f"q.{q}.s"] = statistics.median(b + x for b, x in mine)
                ctx.detail[f"q.{q}.build_s"] = statistics.median(b for b, _ in mine)


def _pass_layers(ctx, label, order, runs, gc0, wall) -> dict:
    """Layer metrics of one finished pass, read after it ended."""
    spark = ctx.spark
    gc_s = probes.gc_seconds(spark) - gc0
    rdds, storage_mb = probes.pinned_storage(spark)
    probes.drain_listener_bus(spark)
    total = probes.ExecTotals()
    build_jobs = 0
    for q in order:
        build = probes.group_job_ids(spark, f"{label}:{q}:build")
        exe = probes.group_job_ids(spark, f"{label}:{q}:exec")
        build_jobs += len(build)
        t = probes.exec_totals(spark, build + exe)
        total.add(t)
        ctx.detail.setdefault(f"q.{q}.jobs", len(build) + len(exe))
        ctx.detail.setdefault(f"q.{q}.build_jobs", len(build))
        ctx.detail.setdefault(f"q.{q}.executor_run_s", t.executor_run_s)
    out = {
        "plan.build_s": sum(b for b, _ in runs.values()),
        "plan.build_jobs": float(build_jobs),
        "exec.s": sum(x for _, x in runs.values()),
        "exec.gc_s": gc_s,
        "exec.core_busy_share": total.executor_run_s / (wall * ctx.cores),
        "pins.rdds": float(rdds),
        "pins.storage_mb": storage_mb,
        "unit.jobs_mean": total.jobs / len(order),
    }
    for f in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        out[f"exec.{f}"] = float(getattr(total, f))
    return out
