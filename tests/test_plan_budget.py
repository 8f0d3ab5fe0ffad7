"""Shuffle-budget regression guard.

`tools/plan_budget.json` pins every batch query's shuffle-exchange count,
shuffle-join count, broadcast-nested-loop count, and Python-UDF count
(snapshotted by `tools/plan_budget.py`). A refactor that silently adds an
exchange or demotes a broadcast join to a shuffle join fails HERE, not as
a straggler at 100 TB. Intentional plan changes regenerate the snapshot:

    python tools/plan_budget.py

Budgets are scale-factor-bound: broadcast-vs-shuffle decisions follow
input-size stats, so a snapshot taken at one sf_dir can spuriously fail
(or silently under-guard) at another — the snapshot records its sf_dir
and the comparison SKIPS with a warning when the test runs elsewhere
(round-4 ADVICE).
"""

from __future__ import annotations

import json
import os
import warnings

import pytest

from tools.explain_audit import plan_facts
from tools.plan_budget import BUDGET_PATH, skip_in_sweep

from medvedi_spark.queries.registry import QUERIES, _ensure_loaded


def _snapshot():
    with open(BUDGET_PATH) as fh:
        return json.load(fh)


def test_every_batch_query_has_a_budget():
    _ensure_loaded()
    budgets = _snapshot()["budgets"]
    for name in QUERIES:
        if skip_in_sweep(name):
            continue
        assert name in budgets, f"{name} lacks a plan budget — run tools/plan_budget.py"


def test_plans_stay_within_budget(spark, sf_dir):
    _ensure_loaded()
    snap = _snapshot()
    snap_sf = snap.get("sf_dir")
    if snap_sf is not None and os.path.normpath(snap_sf) != os.path.normpath(sf_dir):
        warnings.warn(
            f"plan budgets were snapshotted at {snap_sf}, test runs at {sf_dir} — "
            "broadcast decisions differ with input stats; skipping the comparison. "
            "Regenerate with: python tools/plan_budget.py " + sf_dir,
            UserWarning,
        )
        pytest.skip(f"budget snapshot sf_dir {snap_sf} != test sf_dir {sf_dir}")
    # Budgets are defined against a CLEAN cache PER QUERY: tests earlier
    # in the shared session — and the budget loop's own builders — leave
    # tracked persists (gram tables, IVF routing), and Spark's cache
    # manager substitutes InMemoryRelation into any matching subplan,
    # whose stats can demote a broadcast join to a shuffle join and
    # spuriously blow the budget (order-dependent full-suite failure).
    # Per query, not once upfront: this loop iterates alphabetically
    # while the snapshot generator iterates in registration order, so a
    # single upfront clear still leaves the two sides seeing different
    # mid-loop cache states whenever two queries share a cacheable
    # subplan and their relative order differs.
    from medvedi_spark.operators._persist import release_persisted

    over: list[str] = []
    for name, budget in snap["budgets"].items():
        if name not in QUERIES or skip_in_sweep(name):
            continue
        release_persisted()
        spark.catalog.clearCache()
        facts = plan_facts(QUERIES[name].builder(spark, sf_dir))
        got = {
            "exch": facts["exch"],
            "shuffle_joins": facts["smj"] + facts["shj"],
            "bnlj": facts["bnlj"],
            "pyudf": facts["pyudf"],
        }
        for key, limit in budget.items():
            if got[key] > limit:
                over.append(f"{name}: {key} {got[key]} > budget {limit}")
    assert not over, "plan regressions:\n" + "\n".join(over)
