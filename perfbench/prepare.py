"""Inputs of the batch workloads, built once per checkout and cached: the
ten tables (``datagen.py``) and each query's DuckDB oracle result in the
canonical row form of the oracle-parity tests.

The cache lives under ``.perfbench_work/cache/``, keyed by the table
generator's source and, per query, by the oracle SQL text, so a changed
generator or oracle is rebuilt. Building runs in its own process, before
the Spark session starts, so that neither its time nor its memory counts
in a measured run:

    python3 perfbench/prepare.py --sf 0.01 q_llm_minhash_neardup q_emb_isotropy
"""

from __future__ import annotations

import argparse
import hashlib
import os
import pickle
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cache_dir(sf: float) -> str:
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    return os.path.join(ROOT, ".perfbench_work", "cache", f"sf{sf:g}-{tag}")


def tables_dir(sf: float) -> str:
    return os.path.join(cache_dir(sf), "tables")


def oracle_path(sf: float, name: str, sql: str) -> str:
    tag = hashlib.sha256(sql.encode()).hexdigest()[:16]
    return os.path.join(cache_dir(sf), "oracle", f"{name}-{tag}.pkl")


def load_oracle(sf: float, name: str, sql: str) -> list[tuple] | None:
    """The cached canonical oracle rows, or None when there are none."""
    try:
        with open(oracle_path(sf, name, sql), "rb") as f:
            return pickle.load(f)
    except OSError:
        return None


def ensure(sf: float, oracles: dict[str, str]) -> tuple[str, str]:
    """Build whatever of the cache is missing, in a child process; returns
    (tables directory, the child's stderr when it failed, else "")."""
    todo = [q for q, sql in oracles.items() if not os.path.exists(oracle_path(sf, q, sql))]
    if todo or not os.path.isdir(tables_dir(sf)):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "prepare.py"), "--sf", repr(sf), *todo],
            cwd=ROOT, capture_output=True, text=True,
        )
        if proc.returncode:
            return tables_dir(sf), proc.stderr[-3000:]
    return tables_dir(sf), ""


def _write_tables(sf: float) -> None:
    import datagen

    final = tables_dir(sf)
    if os.path.isdir(final):
        return
    tmp = f"{final}.tmp{os.getpid()}"
    datagen.write_tables(datagen.build_tables(sf), tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # another process finished it first
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args(argv)
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [HERE, ROOT]

    from ex_hivent_spark.plans.registry import all_specs
    from tests.test_oracle_parity import canonical_rows, duck_connection

    _write_tables(args.sf)
    specs = all_specs()
    con = duck_connection(tables_dir(args.sf))
    failed = 0
    for q in args.queries:
        sql = specs[q].oracle
        try:
            res = con.execute(sql)
            rows = canonical_rows([d[0] for d in res.description], res.fetchall())
        except Exception as ex:  # noqa: BLE001 - reported, left uncached
            print(f"{q}: oracle failed: {type(ex).__name__}: {ex}", file=sys.stderr)
            failed += 1
            continue
        path = oracle_path(args.sf, q, sql)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(f"{path}.tmp{os.getpid()}", "wb") as f:
            pickle.dump(rows, f)
        os.replace(f"{path}.tmp{os.getpid()}", path)
    con.close()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
