"""Steadiness check of the benchmark: runs one workload under several seeds
and reports, per end-to-end metric, the median and the spread (first to
third quartile, as a share of the median); given two sets of runs, also how
far the second set's median lies from the first's, against the metric's
bound in BENCHMARK.json. Each run's machine load (steal and foreign CPU
share, 1-minute load) is shown too, so that a set taken on a busy machine
can be told apart:

    python3 perfbench/steadiness.py run llm_corpus 1-10 runs_a.jsonl
    python3 perfbench/steadiness.py report runs_a.jsonl [runs_b.jsonl]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_set(workload: str, seeds: str, out: str) -> int:
    lo, _, hi = seeds.partition("-")
    seconds = str(_bench()["run_seconds"])
    for seed in range(int(lo), int(hi or lo) + 1):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
             "--seconds", seconds, "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        if proc.returncode:
            print(proc.stderr[-3000:], file=sys.stderr)
            return proc.returncode
        *_, record, result = proc.stdout.strip().splitlines()
        with open(out, "a") as f:
            f.write(json.dumps({"workload": workload, "seed": seed,
                                "wall_s": time.perf_counter() - t0,
                                "record": json.loads(record),
                                "result": json.loads(result)}) + "\n")
        print(f"{workload} seed {seed}: {json.loads(result)['metrics']}", flush=True)
    return 0


def _load(path: str) -> dict[str, list[dict]]:
    runs: dict[str, list[dict]] = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            runs.setdefault(r["workload"], []).append(r)
    return runs


def _spread(values: list[float]) -> tuple[float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2


def report(paths: list[str]) -> int:
    bounds = {m["name"]: m["bound"] for m in _bench()["end_to_end"]}
    sets = [_load(p) for p in paths]
    ok = True
    for workload in sorted(sets[0]):
        print(f"== {workload}")
        for i, s in enumerate(sets):
            runs = s.get(workload, [])
            m = [r["record"].get("machine", {}) for r in runs]
            failed = sum(r["result"]["failed"] for r in runs)
            wall = statistics.median(r.get("wall_s", 0) for r in runs)
            print(f"  set {i + 1}: {len(runs)} runs, failed={failed}, "
                  f"median run {wall:.1f} s, machine median "
                  f"steal={statistics.median(x.get('steal_share', 0) for x in m):.4f} "
                  f"foreign_cpu={statistics.median(x.get('foreign_cpu_share', 0) for x in m):.4f} "
                  f"load1={statistics.median(x.get('load1_start', 0) for x in m):.2f} "
                  f"cpu_ref_ms={statistics.median(x.get('cpu_ref_ms_start', 0) for x in m):.1f}")
        for name, bound in bounds.items():
            cells, medians = [], []
            for s in sets:
                med, iqr = _spread([r["result"]["metrics"][name]["value"] for r in s[workload]])
                medians.append(med)
                cells.append(f"median {med:10.4f} spread {iqr:.3f}")
                ok &= name == "setup_s" or iqr <= bound
            line = f"  {name:12s} bound {bound:.2f} | " + " | ".join(cells)
            if len(medians) == 2:
                drift = (medians[1] - medians[0]) / medians[0]
                ok &= abs(drift) <= bound
                line += f" | drift {drift:+.3f}"
            print(line)
    print("within bounds" if ok else "OUTSIDE BOUNDS")
    return 0 if ok else 1


def main(argv: list[str]) -> int:
    if len(argv) == 4 and argv[0] == "run":
        return run_set(*argv[1:])
    if argv and argv[0] == "report" and len(argv) in (2, 3):
        return report(argv[1:])
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
