"""Benchmark harness: runs every registered query over the tables at
``session.DEFAULT_SF_DIR`` ($SPARK_GRAFT_SF_DIR) and records the median
and the min CPU seconds of $SPARK_GRAFT_BENCH_RUNS warm reps (default 3)
per query.

A rep builds the query and collects ``testing.checksum`` of its output
(row count and ``sum(xxhash64(*cols))``), the action ``perfbench`` times,
so Catalyst cannot prune the work away. Its cost is the CPU time of this
process, the JVM and its Python workers, exited workers included
(``cpu_clock.TreeClock``), which leaves out the time the host gives to
other guests.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from medvedi_spark.cpu_clock import TreeClock
from medvedi_spark.queries.registry import QUERIES, _ensure_loaded
from medvedi_spark.session import DEFAULT_SF_DIR, get_spark
from medvedi_spark.testing import checksum

RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
#: the timed action and clock; ``tools/ledger.py --compare`` refuses
#: ledgers taken any other way
ACTION = "checksum_cpu"


def main() -> None:
    sf_dir = DEFAULT_SF_DIR
    if not os.path.isdir(sf_dir):
        raise SystemExit(f"bench: SPARK_GRAFT_SF_DIR={sf_dir!r} is not a directory")
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", "")) if base.startswith("sf") else 0.1
    except ValueError:
        sf = 0.1
    _ensure_loaded()
    spark = get_spark("medvedi-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from medvedi_spark.operators._persist import release_persisted

    # Untimed session warm-up: the first queries of a fresh session
    # otherwise absorb JVM/codegen/Arrow/python-worker spin-up into
    # their "median of 3" (ledger sessions have read c1 at 3.5 s vs
    # 0.66 s warm). Three cheap representatives cover the machinery
    # families: Arrow interchange, window exprs, hash aggregation.
    for wname in ("c1_arrow_roundtrip", "q13_window_funcs", "d1_exact_dedup"):
        wq = QUERIES.get(wname)
        if wq is not None and "nobench" not in wq.tags:
            try:
                checksum(wq.builder(spark, sf_dir)).collect()
            except Exception:  # noqa: BLE001 — warm-up must never fail the bench
                pass
    release_persisted()

    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    errors: dict[str, str] = {}
    with TreeClock() as clock:
        for name, q in QUERIES.items():
            if "nobench" in q.tags:
                continue
            samples = []
            for i in range(max(1, RUNS)):
                # Label the jobs so the UI/event-log trace attributes every
                # job to its query and rep (guide §1.3); thread-local, no
                # effect on the timed work itself.
                spark.sparkContext.setJobDescription(f"bench:{name}:run{i}")
                t0 = clock.seconds()
                # Per-query isolation: one broken query must cost one ledger
                # row, never the whole bench (round-2 lost ALL numbers to a
                # single load error).
                try:
                    checksum(q.builder(spark, sf_dir)).collect()
                except Exception as exc:  # noqa: BLE001
                    errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                    break
                samples.append(clock.seconds() - t0)
            # operator-persisted inputs (adaptive-Jaccard gram tables etc.)
            # are released between queries so a 100+-query session doesn't
            # accumulate stale cache blocks (round-4 ADVICE)
            spark.sparkContext.setJobDescription(f"bench:{name}:release")
            release_persisted()
            if samples:
                samples.sort()
                timings[name] = round(samples[len(samples) // 2], 4)
                timings_min[name] = round(samples[0], 4)

    total = round(sum(timings.values()), 4)
    total_min = round(sum(timings_min.values()), 4)
    out = {
        "metric": "bench_total_cpu",
        "value": total,
        "value_min": total_min,
        "unit": "cpu_sec",
        "action": ACTION,
        "queries": timings,
        "queries_min": timings_min,
        "sf": sf,
    }
    if errors:
        out["errors"] = errors
    # Emission order matters: the driver captures only a ~2 KB TAIL of
    # stdout (rounds 2 and 3 both lost their bench number to this — the
    # full 105-query ledger is ~4 KB, so the head with "metric"/"value"
    # was truncated away). Write the full ledger to a file and print it
    # first, then end with a compact final line that always survives the
    # tail capture.
    ledger_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json")
    try:
        with open(ledger_path, "w") as fh:
            json.dump(out, fh)
            fh.write("\n")
    except OSError:
        ledger_path = ""
    print(json.dumps(out))
    # Per-query medians in driver-parseable form (VERDICT r10 directive
    # #2b): the driver retains only the last 2000 chars of stdout (the
    # BENCH_r10.json "tail" is exactly 2000), and the 145-entry map
    # serializes to ~3.9 KB — it cannot fit in ONE parseable line without
    # losing the headline to head-truncation (the round-2/3 failure).
    # Instead the map is emitted as small self-contained JSON lines of
    # ~15 queries each, sorted ASCENDING by median so the chunks nearest
    # the tail (the retained ones) carry the slowest, most informative
    # rows. Each line parses on its own; the compact contract line stays
    # last. The full map is always in the BENCH_local.json ledger
    # (committed) and in the full-ledger line above.
    by_time = sorted(timings.items(), key=lambda kv: (kv[1], kv[0]))
    chunk_n = max(1, (len(by_time) + 14) // 15)
    for part in range(chunk_n):
        chunk = dict(by_time[part * 15:(part + 1) * 15])
        print(json.dumps({
            "metric": "bench_per_query",
            "part": part + 1,
            "parts": chunk_n,
            "queries": {k: round(v, 3) for k, v in chunk.items()},
        }))
    compact = {
        "metric": "bench_total_cpu",
        "value": total,
        "value_min": total_min,
        "unit": "cpu_sec",
        "action": ACTION,
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "ledger": ledger_path,
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
