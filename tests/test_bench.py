"""The benchmark's timed action and its ledgers."""

from __future__ import annotations

import json
import re
import subprocess
import sys

import pytest

from medvedi_spark.cpu_clock import TreeClock
from medvedi_spark.operators._persist import release_persisted
from medvedi_spark.queries.registry import QUERIES, _ensure_loaded
from medvedi_spark.testing import checksum
from tools import ledger

_JOIN = re.compile(r"^[\s:+\-]*Join ", re.M)


def _write(path, **fields) -> str:
    path.write_text(json.dumps(fields))
    return str(path)


def test_compare_refuses_a_count_ledger(tmp_path, capsys):
    """A ledger without bench.py's action is refused; two checksum
    ledgers compare by total and per query."""
    count = _write(tmp_path / "count.json", metric="bench_total_wall", value=2.0,
                   queries={"q1_pricing_summary": 2.0}, sf=0.1)
    old = _write(tmp_path / "old.json", action="checksum_cpu", value=4.0,
                 queries={"q1_pricing_summary": 3.0, "q2_top_orders": 1.0}, sf=0.1)
    cur = _write(tmp_path / "cur.json", action="checksum_cpu", value=3.0,
                 queries={"q1_pricing_summary": 1.5, "q2_top_orders": 1.5}, sf=0.1)
    for a, b in ((count, old), (cur, count)):
        with pytest.raises(SystemExit, match="checksum_cpu"):
            ledger.compare(a, b)
    ledger.compare(cur, old)
    out = capsys.readouterr().out
    assert "shared-rows CPU ratio: 0.750 over 2" in out
    assert "| q1_pricing_summary | 1.500 | 3.000 | 0.50 |" in out
    assert "| q2_top_orders | 1.500 | 1.000 | 1.50 |" in out


def test_checksum_keeps_the_joins_count_prunes(spark, sf_dir):
    """d18 left-joins each document's duplicate spans back onto it, which
    cannot change the row count: ``count()`` plans no join, and
    the checksum action keeps them. This is why the benchmarks time it."""
    _ensure_loaded()
    df = QUERIES["d18_exact_substring_removal"].builder(spark, sf_dir)
    try:
        counted = df.groupBy().count()._jdf.queryExecution().optimizedPlan().toString()
        summed = checksum(df)._jdf.queryExecution().optimizedPlan().toString()
    finally:
        release_persisted()
    assert len(_JOIN.findall(counted)) == 0, counted
    assert len(_JOIN.findall(summed)) >= 1, summed


# A parent that ignores SIGCHLD, as the pyspark daemon does, and a child
# that burns 0.5 CPU s and exits: the kernel reaps the child without adding
# its CPU to the parent's cutime. Under SIG_IGN, waitpid blocks until the
# child is gone and then fails.
_UNWAITED_CHILD = """
import os, signal, time
signal.signal(signal.SIGCHLD, signal.SIG_IGN)
pid = os.fork()
if pid == 0:
    t = time.process_time()
    while time.process_time() - t < 0.5:
        pass
    os._exit(0)
try:
    os.waitpid(pid, 0)
except ChildProcessError:
    pass
"""


def test_tree_clock_keeps_the_cpu_of_an_unwaited_child():
    """The clock counts a worker the daemon never waits for after it
    exits; a one-shot reading of the tree loses it."""
    with TreeClock() as clock:
        t0 = clock.seconds()
        subprocess.run([sys.executable, "-c", _UNWAITED_CHILD], check=True)
        spent = clock.seconds() - t0
    assert spent >= 0.45, spent
