"""Property-based differential testing: MDF vs pandas on random frames.

SURVEY §5 notes the reference has NO property-based or differential
testing — this goes beyond it: hypothesis generates small frames and the
MDF result must match the equivalent pandas computation row-for-row.
Generators stay small (Spark job per example); examples are capped so
the suite stays fast.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from medvedi_spark.frame import MDF, concat

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

keys = st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=8)
vals = st.lists(st.integers(min_value=-5, max_value=5), min_size=1, max_size=8)


@given(k=keys, v=vals)
@settings(**SETTINGS)
def test_sort_values_matches_pandas(spark, k, v):
    n = min(len(k), len(v))
    k, v = k[:n], v[:n]
    mdf = MDF({"k": k, "v": v}, spark=spark).sort_values(["k", "v"])
    pdf = pd.DataFrame({"k": k, "v": v}).sort_values(["k", "v"], kind="mergesort")
    np.testing.assert_array_equal(mdf["k"], pdf["k"].to_numpy())
    np.testing.assert_array_equal(mdf["v"], pdf["v"].to_numpy())


@given(k=keys)
@settings(**SETTINGS)
def test_drop_duplicates_keep_first_matches_pandas(spark, k):
    mdf = MDF({"k": k}, spark=spark).drop_duplicates(["k"], keep="first")
    pdf = pd.DataFrame({"k": k}).drop_duplicates(["k"], keep="first")
    np.testing.assert_array_equal(mdf["k"], pdf["k"].to_numpy())


@given(k=keys)
@settings(**SETTINGS)
def test_duplicated_mask_matches_pandas(spark, k):
    mdf = MDF({"k": k}, spark=spark)
    np.testing.assert_array_equal(
        mdf.duplicated(["k"], keep="first"),
        pd.DataFrame({"k": k}).duplicated(["k"], keep="first").to_numpy(),
    )


@given(a=vals, b=vals)
@settings(**SETTINGS)
def test_concat_matches_pandas(spark, a, b):
    mdf = concat(MDF({"x": a}, spark=spark), MDF({"x": b}, spark=spark), ignore_index=True)
    np.testing.assert_array_equal(mdf["x"], np.concatenate([a, b]))


@given(k=keys, v=vals)
@settings(**SETTINGS)
def test_groupby_sum_matches_pandas(spark, k, v):
    n = min(len(k), len(v))
    k, v = k[:n], v[:n]
    out = MDF({"k": k, "v": v}, spark=spark).groupby("k").agg(total=("v", "sum")).to_pandas()
    exp = pd.DataFrame({"k": k, "v": v}).groupby("k", sort=True)["v"].sum()
    np.testing.assert_array_equal(out["total"].to_numpy(), exp.to_numpy())
    np.testing.assert_array_equal(out["k"].to_numpy(), exp.index.to_numpy())


@given(col=vals, hay=st.lists(st.integers(min_value=-5, max_value=5), min_size=0, max_size=6))
@settings(**SETTINGS)
def test_isin_literal_and_join_paths_agree(spark, col, hay, monkeypatch):
    """The IN-list path and the marker-join path are the same function:
    force the join path by dropping the literal cap to 0 and compare
    against both pandas and the literal path."""
    mdf = MDF({"k": col}, spark=spark)
    expected = pd.Series(col).isin(hay).to_numpy()
    lit = mdf.isin("k", hay)
    monkeypatch.setattr(MDF, "_ISIN_LITERAL_MAX", 0)
    joined = mdf.isin("k", hay)
    np.testing.assert_array_equal(lit, expected)
    np.testing.assert_array_equal(joined, expected)
    np.testing.assert_array_equal(
        mdf.isin("k", hay, invert=True), ~expected
    )


@given(k=keys, start=st.integers(min_value=-10, max_value=10), stop=st.integers(min_value=-10, max_value=10))
@settings(**SETTINGS)
def test_iloc_slice_matches_numpy(spark, k, start, stop):
    """The OFFSET/LIMIT fast path agrees with numpy slicing for every
    (start, stop) combination including negatives and empty results."""
    mdf = MDF({"k": k}, spark=spark)
    out = mdf.iloc[start:stop]
    np.testing.assert_array_equal(out["k"], np.asarray(k)[start:stop])


sizes = st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=12)


@given(n=sizes, cap=st.integers(min_value=8, max_value=64))
@settings(**SETTINGS)
def test_pack_sequences_matches_reference_next_fit(spark, n, cap):
    """Distributed next-fit (applyInPandas) vs the sequential definition."""
    from medvedi_spark.operators.llm import pack_sequences

    df = spark.createDataFrame(
        [("g", i, int(s)) for i, s in enumerate(n)], "grp string, doc_id bigint, n bigint"
    )
    out = pack_sequences(df, "doc_id", "n", cap, group_cols=("grp",))
    got = {r.doc_id: (r.bin, r.fill) for r in out.collect()}
    b, fill = 0, 0
    for i, s in enumerate(n):
        if i > 0 and fill + s <= cap:
            fill += s
        else:
            b += 1 if i > 0 else 0
            fill = s
        assert got[i] == (b, fill), (i, n, cap, got)


# -- round-4 additions: global asof join and duplicate spans ----------------


@given(
    lts=st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=8),
    rts=st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=8, unique=True),
    direction=st.sampled_from(["backward", "forward"]),
    tol=st.sampled_from([None, 50]),
)
@settings(**SETTINGS)
def test_global_asof_matches_pandas_merge_asof(spark, lts, rts, direction, tol):
    """asof_join(by=()) — the range-partitioned carry-in path — must match
    pandas.merge_asof exactly (right timestamps unique so every engine's
    tie handling is irrelevant)."""
    import datetime as dt

    from medvedi_spark.operators.relational import asof_join

    base = dt.datetime(2024, 1, 1)
    lrows = [(base + dt.timedelta(hours=h),) for h in lts]
    rrows = [(base + dt.timedelta(hours=h), float(i)) for i, h in enumerate(rts)]
    left = spark.createDataFrame(lrows, "tts timestamp")
    right = spark.createDataFrame(rrows, "qts timestamp, px double")
    got = asof_join(
        left, right, "tts", "qts", by=(), value_cols=["px"],
        direction=direction, tolerance_seconds=tol,
    ).collect()
    lp = pd.DataFrame({"tts": [r[0] for r in lrows]}).sort_values("tts")
    rp = pd.DataFrame({"qts": [r[0] for r in rrows], "px": [r[1] for r in rrows]}).sort_values("qts")
    exp = pd.merge_asof(
        lp, rp, left_on="tts", right_on="qts", direction=direction,
        tolerance=(pd.Timedelta(seconds=tol) if tol is not None else None),
    )
    key = lambda t, p: (t, -1.0 if p is None or p != p else p)
    got_s = sorted(key(r.tts, r.px) for r in got)
    exp_s = sorted(
        key(t.to_pydatetime(), (None if pd.isna(p) else p))
        for t, p in zip(exp["tts"], exp["px"])
    )
    assert got_s == exp_s


def _brute_duplicate_spans(docs, k):
    grams: dict[str, set] = {}
    for d, t in docs:
        for i in range(len(t) - k + 1):
            grams.setdefault(t[i : i + k], set()).add(d)
    out = {}
    for d, t in docs:
        pos = [i + 1 for i in range(len(t) - k + 1) if len(grams[t[i : i + k]]) > 1]
        if not pos:
            continue
        spans, start, prev = [], pos[0], pos[0]
        for p in pos[1:]:
            if p > prev + k:
                spans.append((start, prev + k - 1))
                start = p
            prev = p
        spans.append((start, prev + k - 1))
        out[d] = (
            len(spans),
            sum(e - s + 1 for s, e in spans),
            ";".join(f"{s}-{e}" for s, e in spans),
        )
    return out


@given(
    texts=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=24), min_size=2, max_size=4
    )
)
@settings(**SETTINGS)
def test_duplicate_spans_matches_bruteforce(spark, texts):
    """The aggregate+semi-join shape must produce exactly the brute-force
    cross-doc duplicate spans on adversarial tiny-alphabet corpora."""
    from medvedi_spark.operators.bloom import duplicate_spans

    k = 4
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r.doc_id: (r.n_spans, r.dup_chars, r.spans)
        for r in duplicate_spans(df, "doc_id", "text", k=k).collect()
    }
    grams_present = any(len(t) >= k for t in texts)
    expected = _brute_duplicate_spans(docs, k) if grams_present else {}
    assert got == expected


def _brute_containment(docs, n, t):
    gsets = {}
    for d, text in docs:
        toks = [w for w in text.split(" ") if w]
        gsets[d] = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    out = {}
    for a, ga in gsets.items():
        if not ga:
            continue
        for b, gb in gsets.items():
            if a == b:
                continue
            c = len(ga & gb) / len(ga)
            if c >= t:
                out[(a, b)] = round(c, 9)
    return out


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=8).map(" ".join),
        min_size=2,
        max_size=4,
    ),
    t=st.sampled_from([0.5, 0.8, 1.0]),
)
@settings(**SETTINGS)
def test_gram_containment_matches_bruteforce(spark, texts, t):
    """The SSJoin prefix filter must lose NO qualifying pair (an
    off-by-one in the m - ceil(t*m) + 1 prefix size silently drops
    candidates) — brute-force containment over tiny-alphabet corpora is
    the ground truth."""
    from medvedi_spark.operators.jaccard import gram_containment_pairs

    n = 2
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        (r.doc_a, r.doc_b): round(r.containment, 9)
        for r in gram_containment_pairs(df, "doc_id", "text", n=n, threshold=t).collect()
    }
    assert got == _brute_containment(docs, n, t)
