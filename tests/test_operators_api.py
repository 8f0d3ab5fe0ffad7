"""The operators/ package as a user-facing API: non-default parameters,
custom frames — proving the registered queries are just instances."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from medvedi_spark.operators import bloom, jaccard, llm, quantized, relational, vector


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def test_asof_join_backward_with_keys_and_tolerance(spark):
    quotes = spark.createDataFrame(
        [("A", _ts(9), 10.0), ("A", _ts(11), 11.0), ("B", _ts(10), 20.0)],
        "sym string, qts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [("A", _ts(10)), ("A", _ts(12)), ("B", _ts(9)), ("B", _ts(23))],
        "sym string, tts timestamp",
    )
    out = relational.asof_join(
        trades, quotes, "tts", "qts", by=["sym"], value_cols=["px"], tolerance_seconds=4 * 3600
    )
    got = {(r.sym, r.tts.hour): r.px for r in out.collect()}
    assert got[("A", 10)] == 10.0   # latest quote at/before 10:00
    assert got[("A", 12)] == 11.0
    assert got[("B", 9)] is None    # no quote yet
    assert got[("B", 23)] is None   # 10:00 quote outside 4h tolerance


def test_asof_merge_plan_agrees_with_rangejoin(spark):
    """The merge-asof (union+window) plan and the range-join+max_by plan
    are the same function; randomized-ish fixture with ties, duplicate
    left rows, empty groups, and no-match rows."""
    import random

    rng = random.Random(7)
    # unique (sym, qts) pairs: with right-side timestamp ties the picked
    # row is nondeterministic in ANY distributed asof (no order tiebreak),
    # so the comparand fixture stays tie-free.
    pairs = rng.sample([(k, h) for k in range(4) for h in range(24)], 40)
    quotes = [(f"k{k}", _ts(h), float(i)) for i, (k, h) in enumerate(pairs)]
    trades = [(f"k{rng.randrange(5)}", _ts(rng.randrange(24))) for _ in range(30)]
    trades += trades[:5]  # duplicate left rows must be preserved
    q = spark.createDataFrame(quotes, "sym string, qts timestamp, px double")
    t = spark.createDataFrame(trades, "sym string, tts timestamp")
    for direction in ("backward", "forward"):
        for tol in (None, 3600 * 3):
            a = relational.asof_join(
                t, q, "tts", "qts", by=["sym"], value_cols=["px"], direction=direction, tolerance_seconds=tol
            )
            b = relational.asof_join_rangejoin(
                t, q, "tts", "qts", by=["sym"], value_cols=["px"], direction=direction, tolerance_seconds=tol
            )
            key = lambda r: (r.sym, r.tts, r.px if r.px is not None else -1.0, r.asof_qts or _ts(0))
            ra, rb = sorted(a.collect(), key=key), sorted(b.collect(), key=key)
            assert len(ra) == len(rb) == len(trades)
            assert ra == rb, f"direction={direction} tol={tol}"


def test_asof_join_global_empty_by_agrees_with_rangejoin(spark):
    """The empty-``by`` (global) as-of join — range-partitioned with
    per-range carry-in — must agree with the range-join comparand across
    directions and tolerances, including duplicate left rows, pre-first
    left rows, and rows landing in different range partitions."""
    import random

    rng = random.Random(11)
    hours = rng.sample(range(1, 24 * 30), 60)  # unique right timestamps
    quotes = [(dt.datetime(2024, 1, 1) + dt.timedelta(hours=h), float(i)) for i, h in enumerate(hours)]
    trades = [(dt.datetime(2024, 1, 1) + dt.timedelta(hours=rng.randrange(0, 24 * 31), minutes=30),) for _ in range(50)]
    trades += trades[:5]
    q = spark.createDataFrame(quotes, "qts timestamp, px double")
    t = spark.createDataFrame(trades, "tts timestamp")
    for direction in ("backward", "forward"):
        for tol in (None, 3600 * 12):
            a = relational.asof_join(
                t, q, "tts", "qts", by=(), value_cols=["px"], direction=direction, tolerance_seconds=tol
            )
            b = relational.asof_join_rangejoin(
                t, q, "tts", "qts", by=(), value_cols=["px"], direction=direction, tolerance_seconds=tol
            )
            key = lambda r: (r.tts, r.px if r.px is not None else -1.0, r.asof_qts or _ts(0))
            ra, rb = sorted(a.collect(), key=key), sorted(b.collect(), key=key)
            assert len(ra) == len(rb) == len(trades)
            assert ra == rb, f"direction={direction} tol={tol}"


def test_asof_join_global_no_single_partition_window(spark):
    """by=() must not plan a SinglePartition exchange over the data —
    the only single-partition stage is the partition-count-sized carry
    table."""
    q = spark.createDataFrame([(_ts(9), 1.0)], "qts timestamp, px double")
    t = spark.createDataFrame([(_ts(10),)], "tts timestamp")
    out = relational.asof_join(t, q, "tts", "qts", by=(), value_cols=["px"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan, "global asof must range-partition the stream"
    # the data-bearing window partitions on __pid__, not SinglePartition;
    # the carry window's SinglePartition input is the #ranges-row table
    import re

    for m in re.finditer(r"Window \[[^\n]*__pick_loc__[^\n]*", plan):
        assert "__pid__" in m.group(0)


def test_asof_join_forward(spark):
    ref = spark.createDataFrame([(1, _ts(12), "x")], "k int, rts timestamp, v string")
    probe = spark.createDataFrame([(1, _ts(10)), (1, _ts(13))], "k int, pts timestamp")
    out = relational.asof_join(probe, ref, "pts", "rts", by=["k"], direction="forward")
    got = {r.pts.hour: r.v for r in out.collect()}
    assert got[10] == "x" and got[13] is None


def test_sessionize_custom_gap(spark):
    ev = spark.createDataFrame(
        [(1, _ts(9, 0)), (1, _ts(9, 4)), (1, _ts(9, 20)), (2, _ts(9, 0))],
        "uid int, ts timestamp",
    )
    out = relational.sessionize(ev, "ts", gap_seconds=600, by=["uid"])
    sessions = {(r.uid, r.ts.minute): r.session_id for r in out.collect()}
    assert sessions[(1, 0)] == sessions[(1, 4)]      # 4 min gap < 10 min
    assert sessions[(1, 20)] == sessions[(1, 0)] + 1  # 16 min gap splits
    assert sessions[(2, 0)] == 0


def test_top_k_per_group(spark):
    df = spark.createDataFrame([("a", i) for i in range(5)] + [("b", 9)], "g string, v int")
    out = relational.top_k_per_group(df, ["g"], [F.desc("v")], k=2)
    got = sorted((r.g, r.v) for r in out.collect())
    assert got == [("a", 3), ("a", 4), ("b", 9)]


def test_token_jaccard_custom_threshold(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
        "id long, body string",
    )
    # J(1,2) = 3/5 = 0.6 — visible at 0.5, gone at 0.7
    lo = jaccard.token_jaccard_pairs(docs, "id", "body", threshold=0.5)
    hi = jaccard.token_jaccard_pairs(docs, "id", "body", threshold=0.7)
    assert [(r.doc_a, r.doc_b, round(r.jaccard, 3)) for r in lo.collect()] == [(1, 2, 0.6)]
    assert hi.count() == 0


def test_exact_dedup_custom_frame(spark):
    docs = spark.createDataFrame([(1, "same"), (2, "same"), (3, "other")], "id long, body string")
    out = llm.exact_dedup(docs, "body", "id")
    got = {r.keeper_id: r.n_copies for r in out.collect()}
    assert got == {1: 2, 3: 1}


def test_simhash_identical_docs_hamming_zero(spark):
    docs = spark.createDataFrame([(1, "p q r s"), (2, "p q r s"), (3, "entirely different words here")],
                                 "id long, body string")
    out = llm.simhash_pairs(docs, "id", "body", max_hamming=0)
    rows = out.collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in rows] == [(1, 2, 0)]


@pytest.mark.parametrize("edge_cap", [5_000_000, 0])  # numpy-contract path / distributed path
def test_connected_components_chain_and_islands(spark, edge_cap, monkeypatch):
    from medvedi_spark.operators import graph
    from medvedi_spark.operators.graph import connected_components

    monkeypatch.setattr(graph, "_SMALL_GRAPH_EDGES", edge_cap)

    # chain 1-2-3-4 (one component), pair 10-11, isolated via self-loop 99-99
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (99, 99)], "doc_a long, doc_b long"
    )
    out = {
        r.node: r.component
        for r in connected_components(edges).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_t5_winnowing_shared_substring_guarantee(spark, tmp_path):
    """Winnowing guarantee: documents sharing a substring of length
    >= w + k - 1 share at least one fingerprint; disjoint documents
    (over a disjoint alphabet) share none."""
    import os

    import pandas as pd

    from medvedi_spark.queries.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    shared = "THE-COMMON-RUN-OF-CHARACTERS"  # length 28 >= 4 + 5 - 1
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "aaaa " + shared + " bbbb",
                "cccc " + shared + " dddd",
                "zzzzzzzzzzzzzzzzzzzzzzzzzzzz",
            ],
        }
    )
    sf_dir = str(tmp_path)
    docs.to_parquet(os.path.join(sf_dir, "documents.parquet"))

    # fingerprint SETS per doc (rebuild the query's mins column directly)
    from pyspark.sql import functions as F

    from medvedi_spark.catalog import load

    K, W, P = 5, 4, 2_147_483_647
    grams = F.expr(
        f"transform(sequence(1, greatest(length(text) - {K} + 1, 1)), "
        f"p -> cast(conv(substr(md5(substr(text, p, {K})), 1, 15), 16, 10) as bigint) % {P})"
    )
    mins = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(grams) - {W} + 1, 1)), "
        f"s -> array_min(slice(grams, {'s'}, {W}))))"
    )
    rows = (
        load(spark, sf_dir, "documents")
        .select("doc_id", grams.alias("grams"))
        .select("doc_id", mins.alias("mins"))
        .collect()
    )
    fps = {r.doc_id: set(r.mins) for r in rows}
    assert fps[1] & fps[2], "docs sharing a long substring must share a fingerprint"
    assert not fps[1] & fps[3]
    assert not fps[2] & fps[3]

    # and the registered query runs end-to-end on the synthetic dir
    out = QUERIES["t5_winnow_fingerprint"].builder(spark, sf_dir)
    assert out.count() == 3


def test_pack_sequences_next_fit_invariants(spark):
    rows = [
        # group g: 300+200 fit in bin0 (cap 512), 100 overflows -> bin1,
        # 600 oversized -> own bin2, 500 -> bin3
        ("g", 1, 300), ("g", 2, 200), ("g", 3, 100), ("g", 4, 600), ("g", 5, 500),
        # group h: single doc
        ("h", 1, 512),
    ]
    df = spark.createDataFrame(rows, "grp string, doc_id bigint, n bigint")
    out = llm.pack_sequences(df, "doc_id", "n", 512, group_cols=("grp",))
    got = {(r.grp, r.doc_id): (r.bin, r.fill) for r in out.collect()}
    assert got[("g", 1)] == (0, 300)
    assert got[("g", 2)] == (0, 500)
    assert got[("g", 3)] == (1, 100)
    assert got[("g", 4)] == (2, 600)  # oversized doc: bin of its own
    assert got[("g", 5)] == (3, 500)
    assert got[("h", 1)] == (0, 512)  # exactly-full first bin
    # invariants: bins contiguous from 0 per group; fill <= cap unless
    # the bin holds a single oversized doc
    import collections
    per_bin = collections.defaultdict(list)
    for (grp, doc), (b, _) in got.items():
        per_bin[(grp, b)].append(doc)
    for (grp, b), docs in per_bin.items():
        total = sum(n for (g2, d, n) in rows if g2 == grp and d in docs)
        assert total <= 512 or len(docs) == 1


def test_pack_sequences_requires_group(spark):
    df = spark.createDataFrame([(1, 10)], "doc_id bigint, n bigint")
    with pytest.raises(ValueError):
        llm.pack_sequences(df, "doc_id", "n", 512, group_cols=())


def test_decontaminate_span_semantics(spark):
    corpus = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w v"), (3, "c d e f g")],
        "doc_id bigint, text string",
    )
    eval_df = spark.createDataFrame([(100, "b c d e f")], "doc_id bigint, text string")
    out = bloom.decontaminate(corpus, eval_df, "doc_id", "text", n=3)
    got = {r.doc_id: (r.n_shared_grams, r.n_eval_docs) for r in out.collect()}
    # doc 1 shares "b c d"/"c d e"; doc 3 shares "c d e"/"d e f"; doc 2 clean
    assert got[1] == (2, 1) and got[3] == (2, 1) and 2 not in got
    # docs shorter than n produce no grams -> never flagged
    short = spark.createDataFrame([(9, "b c")], "doc_id bigint, text string")
    assert bloom.decontaminate(short, eval_df, "doc_id", "text", n=3).count() == 0


def test_bloom_decontaminate_no_false_negatives(spark, sf_dir):
    """Bloom membership can only over-approximate: every doc the exact
    d9-style decontaminate flags must also be flagged by the Bloom
    prefilter, at ANY filter size."""
    from medvedi_spark.catalog import load

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    eval_df = docs.filter(F.col("doc_id") % 50 == 0)
    exact = {r.doc_id for r in bloom.decontaminate(corpus, eval_df, "doc_id", "text", n=4).collect()}
    for m_bits in (256, 65536):
        words, m = bloom.bloom_fit(eval_df, "text", n=4, m_bits=m_bits, k_hashes=3)
        flagged = {
            r.doc_id: r.hit_grams
            for r in bloom.bloom_flag(corpus, "doc_id", "text", words, m, n=4, k_hashes=3).collect()
        }
        assert exact <= set(flagged), f"false negatives at m_bits={m_bits}"
    # At a deliberately-saturated 256-bit filter the deterministic
    # false-positive tail must appear (that's the prefilter contract:
    # recall 1.0, precision < 1.0, resolved by the exact pass downstream).
    assert len(flagged := set(flagged)) >= len(exact)


def test_bloom_member_matches_position_set(spark):
    """bloom_member's bit arithmetic is exactly 'all k positions in the
    distinct position set' under the BLOCKED scheme — the property the
    SQL oracle relies on. Positions are replayed INDEPENDENTLY in Python
    (one md5; word = hex[0:15] % (m/64); bit_i = hex[15+5i:20+5i] % 64;
    p = word*64 + bit_i), so an engine-side slice drift breaks here."""
    import hashlib

    vals = [f"tok{i}" for i in range(64)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    m_bits, k = 512, 3
    bits = bloom.bloom_build_bits(df.limit(20), "v", m_bits=m_bits, k_hashes=k)

    def positions(v: str) -> list[int]:
        d = hashlib.md5(v.encode()).hexdigest()
        w = int(d[0:15], 16) % (m_bits // 64)
        return [w * 64 + int(d[15 + 5 * i : 20 + 5 * i], 16) % 64 for i in range(k)]

    pos = {p for v in vals[:20] for p in positions(v)}
    # the fitted bitmap IS the python-replayed position set
    fitted = {wi * 64 + b for wi, word in enumerate(bits) for b in range(64) if (word >> b) & 1}
    assert fitted == pos
    got = {
        r.v: r.m
        for r in df.select(
            "v", bloom.bloom_member("v", bits, m_bits, k).alias("m")
        ).collect()
    }
    for v in vals:
        assert got[v] == all(p in pos for p in positions(v)), v
    assert any(got.values()) and not all(got.values())


def test_bloom_decontaminate_plan_is_joinless(spark, sf_dir):
    """The corpus side is a pure projection: no join operator anywhere in
    the physical plan — the bitmap rides along as an 8 KB literal."""
    from medvedi_spark.catalog import load

    docs = load(spark, sf_dir, "documents")
    words, m_bits = bloom.bloom_fit(docs.filter(F.col("doc_id") % 50 == 0), "text", n=4)
    out = bloom.bloom_flag(docs.filter(F.col("doc_id") % 50 != 0), "doc_id", "text", words, m_bits, n=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan


def test_cross_group_overlap_matches_self_join(spark):
    """The in-row pair expansion must equal the classic fp-keyed
    self-join (which the SQL oracle uses), including keys in 1 group
    (no pairs), all groups, and duplicate (key, group) rows."""
    rows = [
        ("k1", "a"), ("k1", "b"), ("k1", "c"),
        ("k2", "a"), ("k2", "a"),            # dup rows: still 1 group -> no pair
        ("k3", "b"), ("k3", "c"),
        ("k4", "c"),
    ]
    df = spark.createDataFrame(rows, "k string, g string")
    got = {
        (r.group_a, r.group_b): r.shared_keys
        for r in llm.cross_group_overlap(df, "g", "k").collect()
    }
    h = df.distinct()
    ref = {
        ((a, b) if a < b else (b, a))
        for (ka, a) in h.collect()
        for (kb, b) in h.collect()
        if ka == kb and a < b
    }
    expect = {}
    for (ka, a) in set(rows):
        for (kb, b) in set(rows):
            if ka == kb and a < b:
                expect[(a, b)] = expect.get((a, b), 0) + 1
    assert got == expect == {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 2}
    assert ref == set(expect)
    # no self-join anywhere: one agg shuffle + the matrix agg
    plan = llm.cross_group_overlap(df, "g", "k")._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_kmeans_lloyd_matches_numpy(spark, sf_dir):
    import numpy as np
    from medvedi_spark.catalog import load

    emb = load(spark, sf_dir, "embeddings")
    assign, cents = vector.kmeans_lloyd(emb, "vec_id", "embedding", k=4, n_iter=2)

    rows = sorted(emb.select("vec_id", "embedding").collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    X = np.array([[float(x) for x in r.embedding] for r in rows])
    C = X[:4].copy()
    for _ in range(2):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        lab = d2.argmin(axis=1)  # ties: argmin takes lowest index = lowest cent_id
        for j in range(4):
            if (lab == j).any():
                C[j] = X[lab == j].mean(axis=0)
    got = {r.vec_id: r.cell for r in assign.collect()}
    exp = dict(zip(ids.tolist(), lab.tolist()))
    assert got == exp
    assert np.allclose(np.array(cents), C, atol=1e-9)


def test_pq_encode_matches_numpy(spark, sf_dir):
    import numpy as np
    from medvedi_spark.catalog import load

    emb = load(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 16).selectExpr(
        "vec_id AS cent_id", "embedding AS c_emb"
    )
    out = quantized.pq_encode(emb, cent, "vec_id", "embedding", n_subspaces=8)

    rows = sorted(emb.select("vec_id", "embedding").collect(), key=lambda r: r.vec_id)
    X = np.array([[float(x) for x in r.embedding] for r in rows])
    C = X[:16]
    got = {r.vec_id: [r[f"code{s}"] for s in range(8)] for r in out.collect()}
    for i, r in enumerate(rows):
        for s in range(8):
            d2 = ((X[i, s * 8 : s * 8 + 8] - C[:, s * 8 : s * 8 + 8]) ** 2).sum(axis=1)
            assert got[r.vec_id][s] == int(d2.argmin()), (r.vec_id, s)


def test_sq8_topk_matches_numpy(spark, sf_dir):
    """SQ8 codes and integer distances re-derived in numpy must match
    the engine exactly — quantization is affine double arithmetic with a
    fixed op order, scoring is pure int64."""
    import numpy as np
    from medvedi_spark.catalog import load

    emb = load(spark, sf_dir, "embeddings")
    out = quantized.sq8_topk(emb, "vec_id", "embedding", probe=F.col("vec_id") < 3, k=5)
    rows = sorted(emb.select("vec_id", "embedding").collect(), key=lambda r: r.vec_id)
    X = np.array([[float(x) for x in r.embedding] for r in rows])
    vmin, vmax = X.min(axis=0), X.max(axis=0)
    scale = np.where(vmax > vmin, 255.0 / np.where(vmax > vmin, vmax - vmin, 1.0), 0.0)
    # numpy rounds half-to-even; the engines round half away from zero —
    # use floor(x + 0.5), correct for the nonnegative scaled values here
    codes = np.floor((X - vmin) * scale + 0.5).astype(np.int64)
    ids = np.array([r.vec_id for r in rows])
    got = {(r.query_id, r.neighbor_id): (r.rank, r.d2) for r in out.collect()}
    for qi in range(3):
        d2 = ((codes - codes[qi]) ** 2).sum(axis=1)
        order = sorted((int(d2[j]), int(ids[j])) for j in range(len(ids)) if ids[j] != ids[qi])
        for rank, (dist, nid) in enumerate(order[:5], start=1):
            assert got[(ids[qi], nid)] == (rank, dist), (ids[qi], nid)


def test_sq8_codes_range_and_constant_dim(spark):
    """Codes live in [0, 255]; a constant dimension (vmax == vmin) codes
    to 0 instead of dividing by zero; corpus extremes hit the endpoints."""
    emb = spark.createDataFrame(
        [(0, [0.0, 7.5]), (1, [1.0, 7.5]), (2, [0.25, 7.5])],
        "vec_id int, embedding array<double>",
    )
    stats = {r.dim: (r.vmin, r.vmax) for r in quantized.sq8_minmax(emb, "embedding").collect()}
    assert stats == {1: (0.0, 1.0), 2: (7.5, 7.5)}
    out = quantized.sq8_topk(emb, "vec_id", "embedding", probe=F.col("vec_id") == 0, k=2)
    rows = {r.neighbor_id: r.d2 for r in out.collect()}
    # neighbor 2 is 0.25 of the dim-1 range away = code 64; neighbor 1 = 255
    assert rows == {2: 64 * 64, 1: 255 * 255}


def test_gram_containment_detects_subset_doc(spark):
    """A doc whose grams all appear in a longer container must surface as
    contained (containment 1.0) while symmetric-jaccard-dissimilar; the
    reverse direction must NOT qualify."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    container = base + " " + "iota kappa lamda mu nu xi omicron pi rho sigma tau upsilon"
    df = spark.createDataFrame(
        [(1, base), (2, container), (3, "totally different words here entirely now")],
        "doc_id int, text string",
    )
    rows = {(r.doc_a, r.doc_b): r.containment for r in
            jaccard.gram_containment_pairs(df, "doc_id", "text", n=3, threshold=0.8).collect()}
    assert rows == {(1, 2): 1.0}  # contained→container only, not reversed


def _gopher_plan(docs):
    from medvedi_spark.queries.text_ops import gopher_rules_frame

    return gopher_rules_frame(docs)


def _bloom_plan(docs):
    return bloom.bloom_flag(docs, "doc_id", "text", [0, -1, 5, 1 << 62], 256, n=4, k_hashes=3)


@pytest.mark.parametrize("build", [_gopher_plan, _bloom_plan], ids=["gopher_rules_frame", "bloom_flag"])
def test_text_kernel_build_py4j_budget(spark, monkeypatch, build):
    """Building the t14/st15 and d14/st14 kernels over a document frame
    stays within a fixed number of py4j round-trips: the kernels are SQL
    text, parsed JVM-side, not Column trees sent one node at a time
    (more than 1,000 calls each when they were). Reference releases of
    dead Java objects are not counted: when they are sent depends on
    Python's garbage collector, not on the kernel."""
    import py4j.clientserver
    import py4j.protocol

    docs = spark.createDataFrame([(1, "the cat sat on the mat")], "doc_id long, text string")
    calls = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith(py4j.protocol.MEMORY_COMMAND_NAME):
            calls.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    build(docs)
    monkeypatch.undo()
    assert len(calls) <= 60, len(calls)
