"""Contracts for the wave-4 operators: audio fingerprint dedup (m5),
multi-resolution rollup (q38), CDC upsert (c17/operators.relational.upsert)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medvedi_spark.catalog import load
from medvedi_spark.operators.relational import upsert
from medvedi_spark.queries.relational import q38_multires_rollup
from medvedi_spark.queries.text_ops import m5_audio_fingerprint_dedup


def test_audio_fingerprint_partitions_docs(spark, sf_dir):
    """Fingerprint groups partition the corpus; identical texts share a
    fingerprint (codec is deterministic)."""
    res = m5_audio_fingerprint_dedup(spark, sf_dir)
    total = res.agg(F.sum("n_docs")).first()[0]
    assert total == load(spark, sf_dir, "documents").count()
    docs = load(spark, sf_dir, "documents")
    dup_texts = docs.groupBy("text").count().filter("count > 1").count()
    multi_fp = res.filter("n_docs > 1").count()
    assert multi_fp >= dup_texts  # same text -> same bytes -> same energies


def test_multires_rollup_consistency(spark, sf_dir):
    """Each resolution tier independently sums to the full table; hour
    buckets nest inside day buckets."""
    res = q38_multires_rollup(spark, sf_dir).cache()
    ev_n = load(spark, sf_dir, "events").count()
    for tier in ("1h", "6h", "1d"):
        assert res.filter(F.col("resolution") == tier).agg(F.sum("n")).first()[0] == ev_n
    hours = res.filter("resolution = '1h'").select(
        F.date_trunc("day", "bucket_start").alias("d"), "event_type", "n"
    ).groupBy("d", "event_type").agg(F.sum("n").alias("n"))
    days = res.filter("resolution = '1d'").select(
        F.col("bucket_start").alias("d"), "event_type", F.col("n").cast("bigint").alias("n_day")
    )
    joined = hours.join(days, ["d", "event_type"])
    assert joined.filter("n <> n_day").isEmpty()
    res.unpersist()


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_upsert_semantics(spark):
    base = _mk(spark, [(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    changes = _mk(
        spark,
        [(2, "B", "U"), (3, None, "D"), (4, "d", "I")],
        "k int, v string, op string",
    )
    out = {r.k: r.v for r in upsert(base, changes, ["k"], op_col="op").collect()}
    assert out == {1: "a", 2: "B", 4: "d"}


def test_upsert_without_opcol_is_pure_replace(spark):
    base = _mk(spark, [(1, "a"), (2, "b")], "k int, v string")
    changes = _mk(spark, [(2, "B"), (9, "z")], "k int, v string")
    out = {r.k: r.v for r in upsert(base, changes, ["k"]).collect()}
    assert out == {1: "a", 2: "B", 9: "z"}


def test_upsert_rejects_mismatched_payload(spark):
    base = _mk(spark, [(1, "a")], "k int, v string")
    changes = _mk(spark, [(1, 5)], "k int, other int")
    with pytest.raises(ValueError, match="must match base columns"):
        upsert(base, changes, ["k"])


def test_duplicate_spans_are_genuinely_duplicated(spark, sf_dir):
    """Every reported span of length >= k contains a k-substring that
    occurs in at least one OTHER document (soundness); spans are merged
    maximally (no two spans of a doc overlap or touch within k)."""
    from medvedi_spark.operators.bloom import duplicate_spans

    docs = {r.doc_id: r.text for r in load(spark, sf_dir, "documents").collect()}
    res = duplicate_spans(load(spark, sf_dir, "documents"), "doc_id", "text", k=20).collect()
    assert res, "word-salad corpus must share 20-char substrings"
    texts = list(docs.items())
    for r in res[:25]:
        prev_e = None
        for span in r.spans.split(";"):
            s, e = map(int, span.split("-"))
            assert e - s + 1 >= 20
            if prev_e is not None:
                # merge rule: anchors <= k apart fuse, so the next span's
                # first ANCHOR is > prev_last_anchor + k, i.e. its start
                # is at least prev_e + 2
                assert s > prev_e + 1
            prev_e = e
            sub = docs[r.doc_id][s - 1 : s - 1 + 20]
            assert any(
                sub in t for d, t in texts if d != r.doc_id
            ), (r.doc_id, span, sub)


def test_video_scene_cuts_contract(spark, sf_dir):
    """Cut indices are within frame range; single-frame videos have no
    cuts; n_cuts matches the cut list."""
    from medvedi_spark.queries.text_ops import m6_video_scene_cuts

    res = m6_video_scene_cuts(spark, sf_dir).collect()
    assert len(res) == load(spark, sf_dir, "documents").count()
    assert any(r.n_cuts > 0 for r in res)
    for r in res:
        cuts = [int(c) for c in r.cuts.split(";") if c]
        assert len(cuts) == r.n_cuts
        assert all(1 <= c < r.n_frames for c in cuts)
        if r.n_frames == 1:
            assert r.n_cuts == 0


def test_domain_mixing_equalizes_token_shares(spark, sf_dir):
    """Accepted token mass per language approaches the uniform target
    (binomial noise aside); no language exceeds ~1.3x target."""
    from medvedi_spark.queries.text_ops import p7_domain_mixing

    res = p7_domain_mixing(spark, sf_dir)
    per_lang = {r.lang: r.s for r in res.groupBy("lang").agg(F.sum("n_tokens").alias("s")).collect()}
    target = sum(per_lang.values()) / len(per_lang)
    for lang, s in per_lang.items():
        assert s < 1.35 * target, (lang, s, target)
    # rates derived from data: languages over target must be downsampled
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    orig = {r.lang: r.s for r in docs.select("lang", F.size(toks).alias("n")).groupBy("lang").agg(F.sum("n").alias("s")).collect()}
    big = max(orig, key=orig.get)
    assert per_lang[big] < orig[big]


def test_image_neardup_includes_exact_dups_and_is_symmetric_free(spark, sf_dir):
    """Every exact-aHash duplicate pair appears with hamming 0; pairs are
    emitted once (doc_a < doc_b)."""
    from medvedi_spark.queries.text_ops import m4_image_ahash_dedup, m7_image_ahash_neardup

    pairs = m7_image_ahash_neardup(spark, sf_dir).collect()
    assert all(r.doc_a < r.doc_b for r in pairs)
    assert all(0 <= r.hamming <= 3 for r in pairs)
    n_exact_pairs = sum(
        r.n_docs * (r.n_docs - 1) // 2 for r in m4_image_ahash_dedup(spark, sf_dir).collect()
    )
    n_zero = sum(1 for r in pairs if r.hamming == 0)
    assert n_zero == n_exact_pairs


def test_bpe_learn_matches_pure_python(spark, sf_dir):
    """bpe_learn's distributed count + model loop equals a pure-python
    replay; merged symbols shrink segmentations monotonically."""
    import collections

    from medvedi_spark.operators.llm import bpe_learn

    docs = load(spark, sf_dir, "documents")
    merges, segs = bpe_learn(docs, "text", n_merges=3)
    freq = collections.Counter(
        w for r in docs.collect() for w in r.text.split(" ") if w
    )
    psegs = {w: tuple(w) for w in freq}
    for it in range(1, 4):
        pc = collections.Counter()
        for w, f in freq.items():
            s = psegs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        (x, y), cnt = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        assert merges[it - 1] == (it, x, y, cnt)
        for w, s in psegs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == x and s[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            psegs[w] = tuple(out)
    assert segs == psegs
    assert all(len(segs[w]) <= len(w) for w in segs)
    assert all("".join(segs[w]) == w for w in segs)  # lossless
