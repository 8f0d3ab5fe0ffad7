"""10× scale probe for the flagship LLM-pipeline operators (VERDICT r5
directive #2): measured evidence that the "scales by design" plans hold
when the corpus grows an order of magnitude.

Generates a deterministic synthetic corpus (seeded numpy; same schema
and content flavor as /root/testdata — word-salad docs over a small
vocab with injected near-duplicates, 64-dim float embeddings) at 1×
(sf0.1-sized: 5 000 docs / 2 000 vectors) and 10× (50 000 / 20 000),
then runs d2, d3, d11, d13, s6, s10 — plus the round-6 wave-2 flagships
d16 (end-to-end fuzzy dedup), t12 (bigram-LM scoring) and s13 (JL
projection ANN) — at both sizes in ONE session
(machine drift makes cross-session comparisons meaningless — BASELINE.md
round-5 control experiment) and asserts:

(a) plan budgets are SIZE-INVARIANT: exchange / shuffle-join / BNLJ /
    python-UDF counts identical at both sizes (an operator whose plan
    gains exchanges with data size has a hidden scale cliff). Documented
    exception: the d2/d7 adaptive router MAY legitimately flip a
    broadcast to its shuffled fallback when a side crosses the 32 MB
    cap — the probe reports such flips separately instead of lying
    about them.
(b) wall time grows SUB-QUADRATICALLY: t(10×)/t(1×) must stay far below
    the ~100× a quadratic (all-pairs) shape would show. The default gate
    is 30× (near-linear plus constant overhead amortization).

Timing action: ``testing.checksum``, the row count and a hash sum over
every output column, NOT ``count()`` — found via d18, whose
row-preserving left-join rewrite Catalyst prunes entirely under a bare
count (0.97 s counted vs 3.39 s evaluated at sf0.01): a count-based
probe would grade passthrough-shaped operators on a plan that never
runs their work. The checksum forces every column of every row while
adding only a map-side hash. Reports carry ``action:
checksum_full_eval`` so curve points measured under the old count
action are never silently compared against these.

Usage: python tools/scale_probe.py [--json OUT] [--factor 10] [--ops a,b]
Writes a JSON report (default SCALE_PROBE_local.json) and prints a
table; exits nonzero on a violated gate. The time gate scales with the
factor (30× per decade). The recorded 100× curve point
(SCALE_PROBE_100x.json) runs `--factor 100 --ops
d3_minhash_lsh,s10_ivf_sq8_topk,t12_bigram_surprisal,d16_fuzzy_dedup_corpus`
— the cheaper flagships, so the 500k-doc/200k-vector run finishes in
minutes while still giving a three-point 1×/10×/100× scaling curve.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.explain_audit import plan_facts

PROBE_OPS = (
    "d2_token_jaccard",
    "d3_minhash_lsh",
    "d11_duplicate_spans",
    "d13_repeated_block_removal",
    "s6_ivfadc_topk",
    "s10_ivf_sq8_topk",
    # round-6 wave-2 flagships
    "d16_fuzzy_dedup_corpus",
    "t12_bigram_surprisal",
    "s13_jl_projection_topk",
    # round-7 additions
    "s14_hamming_topk",
    "p11_split_leakage",
    "d18_exact_substring_removal",
    # round-10 additions (VERDICT r9 directive #5: the only 9-10
    # exchange plans never scale-probed)
    "d4_simhash",
    "d12_gram_containment",
)

BASE_DOCS = 5_000  # sf0.1-sized
BASE_VECS = 2_000
VOCAB = (
    "spark batch sort line column order small fast value scan hash slow group "
    "query table key stream filter big merge agg join part vector window the a "
    "customer row shard token text index cache block plan stage task node"
).split()
SUBLINEAR_GATE = 30.0  # t(10x)/t(1x) above this fails (quadratic ~ 100)

# Ops with a DESIGNED adaptive router (size-capped broadcast / persist
# with a shuffled fallback) — the only ops whose plan-fact change across
# probe sizes may be classified as an adaptive flip instead of a fatal
# violation (round-6 ADVICE: a structural heuristic alone would also
# excuse a genuine lost-broadcast regression in any other op).
ADAPTIVE_ROUTED_OPS = frozenset(
    {
        "d2_token_jaccard",      # _jaccard_adaptive tier router
        "d3_minhash_lsh",        # size-guarded signature persist + bc cap
        "d16_fuzzy_dedup_corpus",  # wraps d3's router
        "t12_bigram_surprisal",  # vsz-capped context-count broadcast
        "p11_split_leakage",     # wraps d3's router (minhash_lsh_pairs)
        # r8: the duplicated-gram verdict broadcast is row-count-routed
        # (persist+count under the cap, shuffled semi join above it) —
        # d18 wraps d11's span kernel
        "d11_duplicate_spans",
        "d18_exact_substring_removal",
    }
)

# Ops whose router picks a WHOLE TIER (bitset / wide-bitset / prefix)
# from corpus statistics — a cross-size facts change here is a designed
# tier flip when the larger size lands on the more conservative plan
# (see the classification below). Their cross-size TIME ratio can span
# two different plans; the same-tier ratio is the honest scaling number
# (recorded in D2_DECOMP_r9.json for d2).
TIER_ROUTED_OPS = frozenset({"d2_token_jaccard", "d7_ngram_jaccard"})

# Bump when gen_corpus's CONTENT changes (vocab growth law, doc/near-dup
# mix, embedding distribution) — cached corpora regenerate on mismatch
# so curve points stay comparable (round-6 ADVICE: the growing-vocab fix
# silently probed stale fixed-vocab caches on any host that had them).
# v3: embeddings centered to [-0.5, 0.5) — uniform [0,1) made every SRP
# sign bit 1, so every vector packed to the SAME 60-bit signature and
# the s14 probe row graded a degenerate all-pairs-candidate regime
# instead of the documented ~2^-10-per-block prefilter (review catch).
CORPUS_VERSION = 3


def gen_corpus(path: str, n_docs: int, n_vecs: int, seed: int = 7) -> str:
    """Deterministic synthetic documents+embeddings parquet under
    ``path`` (skips regeneration when already present).

    The vocabulary GROWS with the corpus (Heap's-law-like: the 44 base
    words plus one synthetic token per 25 docs, capped at 20k) so
    shingle diversity scales the way real text does. A fixed vocab makes
    the distinct-bigram space saturate (~44² shingles): by 500k docs
    EVERY doc pair shares most shingles and the banded LSH degenerates
    into an all-near-dup regime no real dedup corpus exhibits — the
    first recorded 100× run (BASELINE.md) measured exactly that
    pathology before this fix.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    docs_p = os.path.join(path, "documents.parquet")
    vecs_p = os.path.join(path, "embeddings.parquet")
    mani_p = os.path.join(path, "manifest.json")
    manifest = {
        "corpus_version": CORPUS_VERSION,
        "n_docs": n_docs,
        "n_vecs": n_vecs,
        "seed": seed,
    }
    if os.path.exists(docs_p) and os.path.exists(vecs_p):
        try:
            with open(mani_p) as f:
                cached = json.load(f)
        except (OSError, ValueError):
            cached = None
        if cached == manifest:
            return path
        # generator content or params changed since this corpus was
        # written — regenerate so curve points stay comparable
        for p in (docs_p, vecs_p):
            os.remove(p)
    rng = np.random.default_rng(seed)
    vocab = VOCAB + [f"tok{i}" for i in range(min(n_docs // 25, 20_000))]
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and i % 10 == 0:
            # near-duplicate: mutate ~10% of an earlier doc's tokens so
            # the dedup ops have real cross-doc structure at every size
            src = texts[int(rng.integers(0, i))].split()
            for j in range(len(src)):
                if rng.random() < 0.1:
                    src[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(src))
            continue
        ln = max(5, int(rng.normal(50, 20)))
        texts.append(" ".join(vocab[int(k)] for k in rng.integers(0, len(vocab), ln)))
    langs = np.array(["en", "de", "fr", "zh", "es"])[rng.integers(0, 5, n_docs)]
    sources = np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n_docs)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
                "source": pa.array(sources, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        docs_p,
    )
    # centered: sign-based ops (SRP signatures, s14's blocks) need both
    # signs present — uniform [0,1) collapses every signature to all-ones
    emb = rng.random((n_vecs, 64), dtype=np.float32) - np.float32(0.5)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
            }
        ),
        vecs_p,
    )
    with open(mani_p, "w") as f:
        json.dump(manifest, f)
    return path


def _facts(df) -> dict[str, int]:
    f = plan_facts(df)
    return {
        "exch": f["exch"],
        "shuffle_joins": f["smj"] + f["shj"],
        "bnlj": f["bnlj"],
        "pyudf": f["pyudf"],
    }


def probe(
    factor: int = 10,
    runs: int = 2,
    ops: tuple[str, ...] = PROBE_OPS,
    root: str | None = None,
) -> dict:
    from medvedi_spark.operators._persist import release_persisted
    from medvedi_spark.queries.registry import QUERIES, _ensure_loaded
    from medvedi_spark.session import get_spark
    from medvedi_spark.testing import checksum

    _ensure_loaded()
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    import tempfile

    if root is None:
        root = os.path.join(tempfile.gettempdir(), f"medvedi_scale_probe_{os.getpid()}")
    dirs = {
        1: gen_corpus(os.path.join(root, "x1"), BASE_DOCS, BASE_VECS),
        factor: gen_corpus(
            os.path.join(root, f"x{factor}"), BASE_DOCS * factor, BASE_VECS * factor
        ),
    }

    # untimed warm-up (JVM/codegen spin-up otherwise lands on the first op)
    checksum(QUERIES["d1_exact_dedup"].builder(spark, dirs[1])).collect()
    release_persisted()

    report: dict = {
        "factor": factor,
        "action": "checksum_full_eval",
        "ops": {},
        "violations": [],
    }
    for name in ops:
        q = QUERIES[name]
        entry: dict = {}
        for size, sf_dir in dirs.items():
            release_persisted()
            spark.catalog.clearCache()
            facts = _facts(q.builder(spark, sf_dir))
            samples = []
            for _ in range(runs):
                release_persisted()
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                checksum(q.builder(spark, sf_dir)).collect()
                samples.append(time.perf_counter() - t0)
            entry[f"x{size}"] = {"facts": facts, "sec": round(min(samples), 3)}
        f1, fN = entry["x1"]["facts"], entry[f"x{factor}"]["facts"]
        t1, tN = entry["x1"]["sec"], entry[f"x{factor}"]["sec"]
        entry["ratio"] = round(tN / t1, 2) if t1 > 0 else None
        entry["facts_invariant"] = f1 == fN
        report["ops"][name] = entry
        if not entry["facts_invariant"]:
            # Adaptive routers (d2/d7's broadcast caps, minhash's
            # size-guarded signature persist) legitimately flip a
            # broadcast/cached plan to its SHUFFLED fallback past a size
            # cap — that is the designed behavior at scale. A flip is
            # classified adaptive ONLY when (a) the op is in the
            # ADAPTIVE_ROUTED_OPS allowlist — an op with no router has
            # no designed flip, so any plan mutation there is a
            # regression (round-6 ADVICE) — AND (b) the change has the
            # broadcast->shuffle shape (shuffle-join count grew, no new
            # python UDFs, no new nested-loop joins, exchange count grew
            # with it). Anything else stays a fatal violation.
            benign = (
                name in ADAPTIVE_ROUTED_OPS
                and fN["pyudf"] == f1["pyudf"]
                and fN["bnlj"] <= f1["bnlj"]
                and fN["shuffle_joins"] >= f1["shuffle_joins"]
                and fN["exch"] >= f1["exch"]
            )
            # Tier-routed ops (the jaccard family's bitset/wide/prefix
            # router) legitimately change WHOLE PLAN SHAPE with corpus
            # statistics, not just broadcast→shuffle: the r9 fat-posting
            # arm routes a small fat corpus to the wide tier (which
            # carries a designed, broadcast-capped BNLJ for the distinct-
            # mask compare) while the larger corpus keeps prefix — a
            # flip that REMOVES exchanges at scale, so ADVICE r9's
            # conservative exchange-direction condition misfiled it
            # (observed: this round's 10× run, wide x1 exch 20 → prefix
            # x10 exch 10). ADVICE's option 2 instead: a flip is benign
            # only when the at-scale plan LANDS ON a known router-tier
            # signature — pyudf/bnlj never grow at scale AND the larger
            # size is either the prefix tier's shape (no BNLJ, no
            # shuffle-join: its joins are equi-joins AQE may broadcast;
            # a lost broadcast inside it would surface as shuffle_joins
            # > 0 and fall off the signature) or the broadcast→shuffled
            # conservative direction (shuffle-joins and exchanges both
            # grew — the wide_shuffled fallback).
            lands_prefix = fN["bnlj"] == 0 and fN["shuffle_joins"] == 0
            conservative = (
                fN["shuffle_joins"] >= f1["shuffle_joins"] and fN["exch"] >= f1["exch"]
            )
            tier_flip = (
                name in TIER_ROUTED_OPS
                and fN["pyudf"] <= f1["pyudf"]
                and fN["bnlj"] <= f1["bnlj"]
                and (lands_prefix or conservative)
            )
            bucket = "adaptive_flips" if (benign or tier_flip) else "violations"
            entry_rec = {"op": name, "kind": "plan_facts_changed", "x1": f1, f"x{factor}": fN}
            if tier_flip and not benign:
                entry_rec["kind"] = "tier_flip"
            report.setdefault(bucket, []).append(entry_rec)
        # the gate is calibrated per decade: 30x at factor 10 (linear = 10,
        # quadratic ~ 100); scale it with the factor so a 100x probe judges
        # against 300 (linear = 100, quadratic ~ 10 000)
        gate = SUBLINEAR_GATE * (factor / 10.0)
        if entry["ratio"] is not None and entry["ratio"] > gate:
            rec = {"op": name, "kind": "super_linear_time", "ratio": entry["ratio"], "gate": gate}
            if name in TIER_ROUTED_OPS and not entry["facts_invariant"]:
                # the ratio spans two DIFFERENT designed plans (tier
                # flip): still recorded as a violation — the gate is not
                # waived — but flagged so the reader checks the
                # same-tier ratio instead of reading a quadratic cliff
                rec["kind"] = "super_linear_time_cross_tier"
                rec["note"] = (
                    "x1 and x10 routed to different tiers; compare the "
                    "same-tier ratio (D2_DECOMP_r9.json) before "
                    "diagnosing a quadratic"
                )
            report["violations"].append(rec)
    return report


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--json", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE_PROBE_local.json"
    ))
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--ops", default=None,
        help="comma-separated op subset (default: all PROBE_OPS) — used for "
        "the expensive 100x curve point, where only the cheaper flagships "
        "finish in sane wall time",
    )
    args = ap.parse_args()
    ops = tuple(args.ops.split(",")) if args.ops else PROBE_OPS
    rep = probe(args.factor, args.runs, ops)
    with open(args.json, "w") as fh:
        json.dump(rep, fh, indent=1)
    xn = "x%d" % rep["factor"]
    print("%-28s %8s %8s %6s  facts==" % ("op", "t(1x)", "t(%s)" % xn, "ratio"))
    for name, e in rep["ops"].items():
        print(
            "%-28s %8.3f %8.3f %6s %8s"
            % (name, e["x1"]["sec"], e[xn]["sec"], e["ratio"], e["facts_invariant"])
        )
    if rep.get("adaptive_flips"):
        print("ADAPTIVE FLIPS (designed size-cap behavior):", json.dumps(rep["adaptive_flips"]))
    if rep["violations"]:
        print("VIOLATIONS:", json.dumps(rep["violations"]))
        raise SystemExit(1)
    print("ALL GATES PASS")


if __name__ == "__main__":
    main()
