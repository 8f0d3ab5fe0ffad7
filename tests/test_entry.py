"""Driver-contract smoke tests: entry(), queries(), oracle_sql() coherence."""

from __future__ import annotations

import importlib

import duckdb

entry_mod = importlib.import_module("__spark_entry__")


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_queries_all_run(spark, sf_dir):
    qs = entry_mod.queries()
    assert qs, "no queries registered"
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name


def test_oracle_sql_keys_subset_of_queries():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)


def test_oracle_sql_parses_in_duckdb(sf_dir):
    con = duckdb.connect()
    import os

    from medvedi_spark.catalog import TABLES

    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, name)}.parquet')")
    for name, sql in entry_mod.oracle_sql().items():
        con.execute(sql).fetchall()


def test_gate_window_composition():
    """The driver verifies the FIRST GATE_WINDOW entries of queries().

    Round-2 regression: registration order silently pushed 9 operator
    families out of the gate. Pin: gated queries fill exactly the window,
    every family keeps an in-window entry, and every gated-out extra
    documents its in-window proxy.
    """
    from medvedi_spark.queries.registry import GATE_WINDOW, QUERIES, _ensure_loaded

    _ensure_loaded()
    from medvedi_spark.queries.registry import GATE_ROTATION

    names = list(entry_mod.queries())
    gated = [n for n in names if QUERIES[n].gate]
    # a typo'd / renamed entry in the rotation set would silently shrink
    # the driver gate below the window — pin exact membership and count
    assert GATE_ROTATION <= set(QUERIES), sorted(GATE_ROTATION - set(QUERIES))
    assert len(gated) == min(GATE_WINDOW, len(GATE_ROTATION))
    assert names[: len(gated)] == gated, "gated queries must sort first"

    window = set(names[:GATE_WINDOW])
    # Every operator family has at least one driver-gated representative.
    families = ("c", "d", "s", "q", "st", "t", "m")
    for fam in families:
        prefix = tuple(f"{fam}{i}" for i in range(10)) if len(fam) == 1 else (fam,)
        in_window = [
            n
            for n in window
            if (n.startswith(fam) and n[len(fam) :][:1].isdigit())
        ]
        assert in_window, f"family {fam!r} lost its gate window slot"

    # Every out-of-window extra needs hard evidence on record: either its
    # doc names the in-window query that proves its operator, or it holds
    # a driver-verified green row from a previous round (the round-4
    # rotation moved the r1-r3 gated set out of the window).
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    driver_green: set[str] = set()
    for fn in sorted(os.listdir(root)):
        if fn.startswith("CORRECTNESS_r") and fn.endswith(".json"):
            try:
                rec = json.load(open(os.path.join(root, fn)))
            except Exception:
                continue
            for qn, row in rec.items():
                if isinstance(row, dict) and row.get("hash_match") and row.get("rows_match"):
                    driver_green.add(qn)
    for n in names[GATE_WINDOW:]:
        assert not QUERIES[n].gate
        documented = "Gate duplicate" in QUERIES[n].doc or "proven" in QUERIES[n].doc
        assert documented or n in driver_green, n


def test_gated_queries_all_have_oracles():
    """Inside the window, only justified non-SQL ops may omit an oracle."""
    from medvedi_spark.queries.registry import GATE_WINDOW

    names = list(entry_mod.queries())[:GATE_WINDOW]
    oracles = entry_mod.oracle_sql()
    missing = [n for n in names if n not in oracles]
    assert missing == [], f"gated queries without oracle: {missing}"


def test_every_registered_query_has_a_bench_row():
    """No registration without a committed sf0.1 bench row (VERDICT r7 #3).

    st16 entered the registry and the correctness sweep with a '~1.5 s'
    ESTIMATE and benched 41.2 s in the driver run — the first wall-clock
    number anyone saw. This pins the discipline structurally: every name
    in queries() must have a measured row in the committed
    BENCH_local.json ledger (and the ledger must be the sf0.1 one — a
    stray sf0.01 run that clobbers it also fails here)."""
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ledger = json.load(open(os.path.join(root, "BENCH_local.json")))
    assert ledger.get("sf") == 0.1, (
        f"BENCH_local.json is an sf={ledger.get('sf')} ledger — restore the "
        "sf0.1 one (git checkout -- BENCH_local.json) and re-bench"
    )
    assert ledger.get("action") == "checksum_cpu", (
        f"BENCH_local.json was taken with action={ledger.get('action')!r}; "
        "re-bench with the current bench.py"
    )
    benched = set(ledger.get("queries", {}))
    unbenched = sorted(set(entry_mod.queries()) - benched)
    assert unbenched == [], (
        f"registered without a bench row (run `python bench.py` on an idle "
        f"machine and commit the ledger): {unbenched}"
    )


def test_package_zip_one_per_process_removed_at_exit(tmp_path, monkeypatch):
    """Two sessions of one process ship one zip, named by content hash
    and pid, and the exit hook removes it."""
    import os
    import tempfile
    from types import SimpleNamespace

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(entry_mod, "_SHIPPED", set())
    monkeypatch.setattr(entry_mod, "_ZIPS", set())
    shipped: list[str] = []
    sessions = [SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append)) for _ in range(2)]
    for session in (*sessions, sessions[0]):
        entry_mod._ship_package(session)
    zips = [f for f in os.listdir(tmp_path) if f.startswith("medvedi_spark_pkg_")]
    assert len(zips) == 1 and zips[0].endswith(f"_{os.getpid()}.zip")
    assert shipped == [str(tmp_path / zips[0])] * 2
    entry_mod._remove_zips()
    assert not os.listdir(tmp_path)
