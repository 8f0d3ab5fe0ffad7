"""Read the per-query CPU ledgers that ``bench.py`` writes.

Usage:
  python tools/ledger.py [sf_dir]                 # markdown table to stdout
  python tools/ledger.py --compare OLD_BENCH.json # BENCH_local.json vs OLD

The table puts each query's engine median and min (BENCH_local.json)
beside its DuckDB oracle, timed as the median of the same number of reps
on ``time.process_time()``. DuckDB runs in this process, so that clock
counts its threads, and both columns are CPU seconds.

``--compare`` prints the total and per-query CPU ratios of two ledgers. It
refuses a ledger taken with any other action than bench.py's: a count
ledger times plans Catalyst has pruned, and a wall-clock one follows the
host's load.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import ACTION, RUNS
from medvedi_spark.queries.registry import QUERIES, _ensure_loaded
from medvedi_spark.session import DEFAULT_SF_DIR
from tools.check_oracle import duck_connect

LEDGER = os.path.join(ROOT, "BENCH_local.json")


def load(path: str) -> dict:
    """A bench ledger, refused unless it was taken with ``ACTION``."""
    with open(path) as fh:
        ledger = json.load(fh)
    if ledger.get("action") != ACTION:
        raise SystemExit(
            f"{path} was not taken with the {ACTION} action "
            f"(action={ledger.get('action')!r}); re-run bench.py"
        )
    return ledger


def compare(cur_path: str, old_path: str) -> None:
    """Total and per-query CPU ratios of two ledgers, current over old."""
    cur, old = load(cur_path)["queries"], load(old_path)["queries"]
    shared = sorted(set(cur) & set(old))
    print(f"total CPU: {sum(cur.values()):.1f} s over {len(cur)} vs "
          f"{sum(old.values()):.1f} s over {len(old)}")
    if not shared:
        return
    print(f"shared-rows CPU ratio: "
          f"{sum(cur[k] for k in shared) / sum(old[k] for k in shared):.3f} "
          f"over {len(shared)}")
    print("\n| query | cur s | old s | ratio |")
    print("|---|---|---|---|")
    for k in shared:
        r = f"{cur[k] / old[k]:.2f}" if old[k] else "—"
        print(f"| {k} | {cur[k]:.3f} | {old[k]:.3f} | {r} |")


def oracle_cpu(sf_dir: str, names) -> dict[str, float]:
    """Median CPU seconds of ``RUNS`` runs of each query's DuckDB oracle."""
    con = duck_connect(sf_dir)
    out: dict[str, float] = {}
    for name in names:
        samples = []
        try:
            for _ in range(max(1, RUNS)):
                t0 = time.process_time()
                con.execute(QUERIES[name].oracle).fetchall()
                samples.append(time.process_time() - t0)
        except Exception as e:  # noqa: BLE001
            print(f"<!-- oracle error {name}: {e} -->", file=sys.stderr)
            continue
        out[name] = sorted(samples)[len(samples) // 2]
    return out


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--compare":
        compare(LEDGER, sys.argv[2])
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    bench = load(LEDGER)
    engine, engine_min = bench["queries"], bench["queries_min"]
    _ensure_loaded()
    duck = oracle_cpu(sf_dir, [n for n in engine if n in QUERIES and QUERIES[n].oracle])
    print("| query | engine CPU s | engine min CPU s | duckdb CPU s |")
    print("|---|---|---|---|")
    for name in engine:
        d = f"{duck[name]:.3f}" if name in duck else "—"
        print(f"| {name} | {engine[name]:.3f} | {engine_min[name]:.3f} | {d} |")
    print(
        f"\nengine total {sum(engine.values()):.1f} CPU s "
        f"(min-sum {sum(engine_min.values()):.1f}) over {len(engine)}; "
        f"duckdb oracle total {sum(duck.values()):.1f} CPU s over {len(duck)}"
    )


if __name__ == "__main__":
    main()
