"""Physical-plan audit: scale anti-pattern detector for every query.

For each registered query, prints one line of plan facts:

- ``exch=N``    shuffle exchanges (every one is a full-data network pass)
- ``bhj/bnlj``  broadcast hash / nested-loop joins (good: small side stays
                local) vs ``smj/shj`` shuffle joins
- ``push=Y/N``  at least one parquet scan has PushedFilters
- ``prune=a/b`` columns read vs columns in the widest scanned table
- ``pyudf=N``   row-at-a-time Python UDF operators (BatchEvalPython) — the
                slow path; Arrow variants (ArrowEvalPython,
                FlatMapGroupsInPandas*, MapInPandas, MapInArrow) are
                reported as ``arrow=N``
- ``wscg=N``    whole-stage-codegen spans

Usage: python tools/explain_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medvedi_spark.queries.registry import QUERIES, _ensure_loaded
from medvedi_spark.session import get_spark


def _art_depth(line: str) -> int:
    """Tree-art depth of a plan line (index of the first payload char)."""
    return len(line) - len(line.lstrip(" :+-"))


def _dedupe_cached_subtrees(plan: str, cached_blocks: list[str] | None = None) -> str:
    """Drop repeated prints of the SAME InMemoryRelation cached plan.

    ``executedPlan().toString()`` re-prints a cached pipeline under every
    InMemoryTableScan that references it, so a plan that persists one
    subtree consumed N times textually shows N copies of the subtree's
    exchanges/joins — while physically the cached pipeline runs ONCE.
    Keep the first print of each distinct cached subtree (normalized of
    tree art and expression ids) and cut the rest, so the counted facts
    match executed work.
    """
    lines = plan.split("\n")
    out: list[str] = []
    seen: set[str] = set()
    i = 0
    while i < len(lines):
        line = lines[i]
        if "InMemoryRelation" in line:
            depth = _art_depth(line)
            j = i + 1
            while j < len(lines) and lines[j].strip() and _art_depth(lines[j]) > depth:
                j += 1
            key = "\n".join(
                re.sub(r"#\d+L?", "#", ln.lstrip(" :+-")) for ln in lines[i:j]
            )
            if key in seen:
                i = j
                continue
            seen.add(key)
            if cached_blocks is not None:
                cached_blocks.append("\n".join(lines[i:j]))
            out.extend(lines[i:j])
            i = j
        else:
            out.append(line)
            i += 1
    return "\n".join(out)


def plan_facts(df) -> dict:
    qe = df._jdf.queryExecution()
    cached_blocks: list[str] = []
    plan = _dedupe_cached_subtrees(qe.executedPlan().toString(), cached_blocks)
    formatted = qe.explainString(df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    facts = {
        "exch": len(re.findall(r"\bExchange hashpartitioning", plan)),
        "bhj": len(re.findall(r"\bBroadcastHashJoin", plan)),
        "bnlj": len(re.findall(r"\bBroadcastNestedLoopJoin", plan)),
        "smj": len(re.findall(r"\bSortMergeJoin", plan)),
        "shj": len(re.findall(r"\bShuffledHashJoin", plan)),
        "pyudf": len(re.findall(r"\bBatchEvalPython", plan)),
        "arrow": len(re.findall(r"\bArrowEvalPython|\bFlatMapGroupsInPandas|\bMapIn(?:Pandas|Arrow)", plan)),
        "wscg": len(set(re.findall(r"\*\((\d+)\)", plan))),
    }
    # Scan facts need BOTH renderings: the formatted explain prints full
    # (untruncated) ReadSchema but omits the cached pipeline under an
    # InMemoryTableScan entirely — a fully-persisted query would falsely
    # read push=N scans=[] — while toString includes cached FileScans
    # but TRUNCATES long lines mid-schema. So: formatted for the
    # uncached scans, plus each cached FileScan (appears once in the
    # deduped toString) via its projected-column bracket list and
    # PushedFilters, which survive truncation at realistic widths.
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", formatted)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", formatted)
    facts["scan_cols"] = [len([c for c in s.split(",") if c]) for s in schemas]
    for block in cached_blocks:
        for cols in re.findall(r"FileScan \w+ \[([^\]]*)\]", block):
            facts["scan_cols"].append(len([c for c in cols.split(",") if c]))
        pushed += re.findall(r"PushedFilters: \[([^\]]*)\]", block)
    facts["push"] = any(p.strip() for p in pushed)
    return facts


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    _ensure_loaded()
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    for name, q in QUERIES.items():
        if only and name not in only:
            continue
        try:
            df = q.builder(spark, sf_dir)
            f = plan_facts(df)
        except Exception as e:  # streaming memory-sink queries re-plan on read
            print(f"{name:28s} SKIP ({type(e).__name__}: {str(e)[:60]})")
            continue
        joins = f"bhj={f['bhj']} bnlj={f['bnlj']} smj={f['smj']} shj={f['shj']}"
        warn = []
        if f["pyudf"]:
            warn.append("PYUDF")
        if f["smj"] + f["shj"] > 0 and f["bhj"] + f["bnlj"] == 0 and f["exch"] > 4:
            warn.append("SHUFFLE-HEAVY")
        print(
            f"{name:28s} exch={f['exch']:2d} {joins} push={'Y' if f['push'] else 'N'} "
            f"scans={f['scan_cols']} arrow={f['arrow']} wscg={f['wscg']}"
            + ("  !! " + ",".join(warn) if warn else "")
        )


if __name__ == "__main__":
    main()
