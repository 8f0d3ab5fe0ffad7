"""Round-7 late additions: binary Hamming ANN (s14), Gopher quality
rules (t14), split-leakage audit (p11).

The s14 tests prove the multi-index block prefilter LOSSLESS by
comparing against a brute-force Hamming scan computed in plain Python —
the same guarantee the DuckDB oracle checks at sf0.01, here on planted
adversarial codes (pairs sitting exactly at the radius boundary).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medvedi_spark.operators import llm as ops
from medvedi_spark.queries.registry import QUERIES, _ensure_loaded

_ensure_loaded()


def _vec_for_sig(sig: int, n_bits: int = 60) -> list[float]:
    """A 64-float vector whose first n_bits sign bits pack to ``sig``."""
    v = [1.0 if (sig >> i) & 1 else -1.0 for i in range(n_bits)]
    return v + [1.0] * (64 - n_bits)


def _brute_topk(corpus, queries, k, radius):
    out = []
    for pid, psig in queries:
        hits = sorted(
            (bin(psig ^ sig).count("1"), nid)
            for nid, sig in corpus
            if bin(psig ^ sig).count("1") <= radius
        )
        for rnk, (hm, nid) in enumerate(hits[:k], start=1):
            out.append((pid, nid, hm, rnk))
    return sorted(out)


class TestHammingTopk:
    def _frames(self, spark, corpus, queries):
        cdf = spark.createDataFrame(
            [(i, _vec_for_sig(s)) for i, s in corpus],
            "vec_id long, embedding array<float>",
        )
        qdf = spark.createDataFrame(
            [(i, _vec_for_sig(s)) for i, s in queries],
            "vec_id long, embedding array<float>",
        )
        return cdf, qdf

    def test_matches_bruteforce_at_radius_boundary(self, spark):
        # neighbors at hamming 0, exactly radius, and radius+1 (must drop)
        base = 0b1010 * 0x111111111  # arbitrary 60-bit-ish pattern
        base &= (1 << 60) - 1
        corpus = [
            (0, base),
            (1, base ^ 0b11111),          # hamming 5 == radius -> kept
            (2, base ^ 0b111111),         # hamming 6 -> dropped
            (3, base ^ (0b11 << 30)),     # hamming 2, different block
            (4, (~base) & ((1 << 60) - 1)),  # hamming 60
        ]
        queries = [(100, base)]
        cdf, qdf = self._frames(spark, corpus, queries)
        got = sorted(
            tuple(r)
            for r in ops.hamming_topk(
                cdf, qdf, "vec_id", "embedding", k=10, radius=5
            ).collect()
        )
        assert got == _brute_topk(corpus, queries, k=10, radius=5)
        # and the radius cut really happened
        assert all(hm <= 5 for (_, _, hm, _) in got)
        assert {nid for (_, nid, _, _) in got} == {0, 1, 3}

    def test_ties_break_on_neighbor_id(self, spark):
        base = (1 << 60) - 1
        corpus = [(7, base ^ 0b1), (3, base ^ 0b10), (5, base ^ 0b100)]
        queries = [(0, base)]
        cdf, qdf = self._frames(spark, corpus, queries)
        rows = (
            ops.hamming_topk(cdf, qdf, "vec_id", "embedding", k=3, radius=5)
            .orderBy("rnk")
            .collect()
        )
        assert [r.neighbor_id for r in rows] == [3, 5, 7]
        assert [r.rnk for r in rows] == [1, 2, 3]

    def test_pigeonhole_guard_raises(self, spark):
        cdf, qdf = self._frames(spark, [(0, 1)], [(1, 1)])
        with pytest.raises(ValueError, match="pigeonhole"):
            ops.hamming_topk(cdf, qdf, "vec_id", "embedding", radius=6, n_blocks=6)
        with pytest.raises(ValueError, match="split evenly"):
            ops.hamming_topk(cdf, qdf, "vec_id", "embedding", n_bits=60, n_blocks=7)

    def test_srp_signature_packs_sign_bits(self, spark):
        sig_val = 0b1011_0001
        df = spark.createDataFrame(
            [(1, _vec_for_sig(sig_val))], "vec_id long, embedding array<float>"
        )
        [row] = ops.srp_signature(df, "vec_id", "embedding").collect()
        assert row.sig == sig_val


class TestGopherRules:
    def test_keep_flag_on_crafted_docs(self, spark, tmp_path):
        good = " ".join(
            ["the", "of", "and", "with"] + ["solid"] * 56
        )  # 60 words, mean len ~4.9, stopwords present
        short = "the of tiny doc"  # < 50 words
        symbols = " ".join(["the", "of"] + ["###"] * 58)  # symbol ratio 58/60
        docs = spark.createDataFrame(
            [(1, good), (2, short), (3, symbols)], "doc_id long, text string"
        )
        docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        out = {
            r.doc_id: r
            for r in QUERIES["t14_gopher_rules"].builder(spark, str(tmp_path)).collect()
        }
        assert out[1].keep is True
        assert out[2].keep is False  # word-count floor
        assert out[3].keep is False  # symbol ratio + alpha fraction
        assert out[1].stop_hits == 4
        assert out[3].symbol_frac > 0.9
        assert abs(out[1].mean_word_len - (4 * 3 + 56 * 5) / 60.0) < 1e-12

    def test_zero_word_doc_reports_zero_ratios(self, spark, tmp_path):
        docs = spark.createDataFrame([(1, " ")], "doc_id long, text string")
        docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        [row] = QUERIES["t14_gopher_rules"].builder(spark, str(tmp_path)).collect()
        assert row.n_words == 0
        assert row.mean_word_len == 0.0 and row.alpha_frac == 0.0
        assert row.keep is False


class TestSplitLeakage:
    def test_crossing_pairs_only_and_complete(self, spark, sf_dir):
        from medvedi_spark.catalog import load
        from medvedi_spark.functions.hashing import token_hash

        out = QUERIES["p11_split_leakage"].builder(spark, sf_dir).collect()
        assert all(r.split_a != r.split_b for r in out)
        # completeness: every near-dup pair with differing split labels
        # appears — recompute pairs + splits independently
        docs = load(spark, sf_dir, "documents")
        pairs = ops.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
        split = docs.select(
            "doc_id",
            (token_hash(F.col("doc_id").cast("string")) % 10 == 0).alias("is_val"),
        )
        expected = (
            pairs.join(split.withColumnRenamed("doc_id", "doc_a")
                       .withColumnRenamed("is_val", "va"), "doc_a")
            .join(split.withColumnRenamed("doc_id", "doc_b")
                  .withColumnRenamed("is_val", "vb"), "doc_b")
            .filter(F.col("va") != F.col("vb"))
            .select("doc_a", "doc_b")
            .collect()
        )
        assert {(r.doc_a, r.doc_b) for r in out} == {
            (r.doc_a, r.doc_b) for r in expected
        }


class TestExactSubstringRemoval:
    BOILER = "SHARED-BOILERPLATE-BLOCK-THAT-REPEATS-ACROSS-DOCS"  # 49 chars

    def test_removes_planted_cross_doc_span(self, spark):
        a = "unique prefix aaaa " + self.BOILER + " unique suffix aaaa"
        b = "totally different start " + self.BOILER + " different end here"
        c = "a clean document with no duplication at all in it anywhere"
        docs = spark.createDataFrame(
            [(1, a), (2, b), (3, c)], "doc_id long, text string"
        )
        out = {
            r.doc_id: r
            for r in ops.exact_substring_removal(docs, "doc_id", "text", k=20).collect()
        }
        # clean doc passes through verbatim
        assert out[3].clean_text == c and out[3].removed_chars == 0
        # the boilerplate is gone from both carriers
        for i in (1, 2):
            assert self.BOILER not in out[i].clean_text
            assert out[i].removed_chars > 0
        # unique material survives (k-1 chars adjacent to the span may be
        # absorbed into the maximal span — check the far ends)
        assert out[1].clean_text.startswith("unique prefix")
        assert out[2].clean_text.endswith("end here")

    def test_matches_char_rebuild(self, spark):
        # independent construction: rebuild from kept chars in python
        a = "xx " + self.BOILER + " mid " + self.BOILER + " yy"
        b = "zz " + self.BOILER + " ww"
        docs = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
        spans = {
            (r.doc_id): []
            for r in docs.collect()
        }
        for r in ops.duplicate_span_rows(docs, "doc_id", "text", k=20).collect():
            spans[r.doc_id].append((r.s, r.e))
        texts = {1: a, 2: b}
        expected = {}
        for did, t in texts.items():
            covered = set()
            for s, e in spans[did]:
                covered.update(range(s, e + 1))
            expected[did] = "".join(
                ch for i, ch in enumerate(t, start=1) if i not in covered
            )
        got = {
            r.doc_id: r.clean_text
            for r in ops.exact_substring_removal(docs, "doc_id", "text", k=20).collect()
        }
        assert got == expected

    def test_fully_duplicated_doc_empties(self, spark):
        t = self.BOILER  # the whole doc is the shared block
        docs = spark.createDataFrame([(1, t), (2, t)], "doc_id long, text string")
        out = ops.exact_substring_removal(docs, "doc_id", "text", k=20).collect()
        assert all(r.clean_text == "" for r in out)
        assert all(r.removed_chars == len(t) for r in out)


class TestStreamQualityGate:
    def test_stream_equals_batch(self, spark, sf_dir):
        batch = sorted(
            tuple(r) for r in QUERIES["t14_gopher_rules"].builder(spark, sf_dir).collect()
        )
        streamed = sorted(
            tuple(r)
            for r in QUERIES["st15_stream_quality_gate"].builder(spark, sf_dir).collect()
        )
        assert streamed == batch
        assert len(batch) > 0


# ---------------------------------------------------------------------------
# Property-based reference checks for the two trickiest new kernels: the
# s14 block prefilter (losslessness is a pigeonhole THEOREM — hypothesis
# hunts for a counterexample) and the d18 gap-fold (off-by-ones in span
# stitching are the classic failure; the reference implementation is an
# independent kept-chars rebuild in plain python).
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_HSETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_sigs = st.lists(
    st.integers(min_value=0, max_value=(1 << 60) - 1),
    min_size=1, max_size=10, unique=True,
)


class TestHammingTopkProperty:
    @given(corpus_sigs=_sigs, probe_sigs=_sigs)
    @settings(**_HSETTINGS)
    def test_prefilter_lossless_on_random_codes(self, spark, corpus_sigs, probe_sigs):
        corpus = list(enumerate(corpus_sigs))
        queries = [(100 + i, s) for i, s in enumerate(probe_sigs)]
        cdf = spark.createDataFrame(
            [(i, _vec_for_sig(s)) for i, s in corpus],
            "vec_id long, embedding array<float>",
        )
        qdf = spark.createDataFrame(
            [(i, _vec_for_sig(s)) for i, s in queries],
            "vec_id long, embedding array<float>",
        )
        got = sorted(
            tuple(r)
            for r in ops.hamming_topk(
                cdf, qdf, "vec_id", "embedding", k=5, radius=5
            ).collect()
        )
        assert got == _brute_topk(corpus, queries, k=5, radius=5)


# word-salad texts over a tiny vocab so cross-doc 20-gram collisions are
# common — the regime where span merging and stitching actually exercise
_texts = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "the", "xx"]),
        min_size=0, max_size=30,
    ).map(" ".join),
    min_size=2, max_size=6,
)


class TestExactSubstringRemovalProperty:
    @given(texts=_texts)
    @settings(**_HSETTINGS)
    def test_matches_python_kept_chars_rebuild(self, spark, texts):
        rows = [(i, t) for i, t in enumerate(texts)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        spans: dict[int, list[tuple[int, int]]] = {i: [] for i, _ in rows}
        for r in ops.duplicate_span_rows(docs, "doc_id", "text", k=20).collect():
            spans[r.doc_id].append((r.s, r.e))
        expected = {}
        for did, t in rows:
            covered = set()
            for s, e in spans[did]:
                covered.update(range(s, e + 1))
            expected[did] = (
                "".join(ch for i, ch in enumerate(t, start=1) if i not in covered),
                len(covered & set(range(1, len(t) + 1))),
            )
        got = {
            r.doc_id: (r.clean_text, r.removed_chars)
            for r in ops.exact_substring_removal(docs, "doc_id", "text", k=20).collect()
        }
        assert got == expected


class TestBloomModelCache:
    def test_d14_and_st14_share_one_fit(self, spark, sf_dir):
        from medvedi_spark import catalog
        from medvedi_spark.queries import llm_ops

        catalog._MODEL_STATE.clear()
        a = llm_ops._bloom_model(spark, sf_dir)
        assert len(catalog._MODEL_STATE) == 1
        b = llm_ops._bloom_model(spark, sf_dir)
        assert a is b  # second consumer reuses the fitted artifact
        words, m_bits = a
        assert m_bits > 0 and len(words) == m_bits // 64


class TestStreamSpanFlag:
    def test_no_false_negatives_and_stream_equals_batch(self, spark, sf_dir):
        from medvedi_spark.catalog import load
        from medvedi_spark.queries.stream_ops import (
            _ST16_H,
            _ST16_K,
            _span_bloom_model,
        )

        docs = load(spark, sf_dir, "documents")
        words, m_bits = _span_bloom_model(spark, sf_dir)
        batch = {
            r.doc_id: r
            for r in ops.bloom_span_flag(
                docs, "doc_id", "text", words, m_bits, _ST16_K, _ST16_H
            ).collect()
        }
        streamed = {
            r.doc_id: r
            for r in QUERIES["st16_stream_span_flag"].builder(spark, sf_dir).collect()
        }
        # the stateless projection is plan-identical batch vs stream
        assert {k: tuple(v) for k, v in streamed.items()} == {
            k: tuple(v) for k, v in batch.items()
        }
        # no false negatives: every true d11 span is contained in a
        # flagged span (bloom has no false negatives; merging only widens)
        def parse(s):
            return [tuple(map(int, x.split("-"))) for x in s.split(";")] if s else []

        d11 = ops.duplicate_spans(docs, "doc_id", "text", k=_ST16_K).collect()
        for row in d11:
            flagged = parse(batch[row.doc_id].spans) if row.doc_id in batch else []
            for s, e in parse(row.spans):
                assert any(fs <= s and e <= fe for fs, fe in flagged), (
                    row.doc_id, s, e, flagged,
                )

    def test_bloom_cache_reused(self, spark, sf_dir):
        from medvedi_spark import catalog
        from medvedi_spark.queries import stream_ops

        catalog._MODEL_STATE.clear()
        a = stream_ops._span_bloom_model(spark, sf_dir)
        b = stream_ops._span_bloom_model(spark, sf_dir)
        assert a is b and len(catalog._MODEL_STATE) == 1
