"""The user docs name code that exists: every ``operators.<module>.<name>``
in README.md, COVERAGE.md and COOKBOOK.md resolves, and every package
import line in COOKBOOK's code blocks runs."""

from __future__ import annotations

import importlib
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ("README.md", "COVERAGE.md", "COOKBOOK.md")

# dotted (operators.llm.exact_dedup), path-style (operators/jaccard.token_jaccard_pairs)
# or brace-expanded (operators.ann_index.ivf_sq8_{build,save})
_REF = re.compile(r"\boperators[./]([a-z_]+)\.(?!py\b)([A-Za-z_][A-Za-z_0-9]*)(?:\{([A-Za-z_0-9,]+)\})?")
_IMPORT = re.compile(r"^\s*from medvedi_spark[\w.]* import .+$", re.M)


def _read(doc: str) -> str:
    with open(os.path.join(ROOT, doc), encoding="utf-8") as fh:
        return fh.read()


def test_operator_references_resolve():
    refs = {
        (doc, mod, stem + suffix)
        for doc in DOCS
        for mod, stem, braces in _REF.findall(_read(doc))
        for suffix in (braces.split(",") if braces else [""])
    }
    assert refs, "no operator references found"
    missing = []
    for doc, mod, name in sorted(refs):
        try:
            module = importlib.import_module(f"medvedi_spark.operators.{mod}")
        except ImportError:
            missing.append(f"{doc}: operators.{mod} (no such module)")
            continue
        if not hasattr(module, name):
            missing.append(f"{doc}: operators.{mod}.{name}")
    assert not missing, missing


def test_cookbook_imports_run():
    blocks = re.findall(r"```python\n(.*?)```", _read("COOKBOOK.md"), re.S)
    lines = [m.group(0).strip() for b in blocks for m in _IMPORT.finditer(b)]
    assert lines, "no package imports in COOKBOOK code blocks"
    for line in lines:
        exec(line, {})  # noqa: S102 — the doc's own import line
