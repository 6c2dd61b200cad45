"""Tests for LLM-pipeline operators (SURVEY.md §5.4d): LSH recall against
exact baselines, SimHash discrimination, ANN vs brute force, dedup keeper
semantics, language-ID, winnowing robustness, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from time_series_spark_spark.operators.llm import (
    attach_binary_payload,
    cosine_topk,
    exact_dedup,
    extract_multimodal_features,
    lang_id,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    winnow_fingerprints,
)
from time_series_spark_spark.sources.io import load

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def true_pairs(spark, docs):
    return {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }


def test_corpus_has_planted_near_dups(true_pairs):
    assert len(true_pairs) >= 10  # the fixture corpus plants near-dups


def test_minhash_lsh_recall(docs, true_pairs):
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, threshold=0.4).collect()
    }
    recall = len(got & true_pairs) / len(true_pairs)
    assert recall >= 0.9


def test_minhash_lsh_recall_tau08(docs):
    """Second-threshold recall guard (τ=0.8): protects the banding
    parameters (b=32, r=2 → collision p ≈ 1−(1−J²)³² ≈ 1.0 at J=0.8)
    against future retuning that would keep the τ=0.4 bar but lose the
    high-similarity regime."""
    exact08 = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert len(exact08) >= 3  # corpus plants high-overlap dups too
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    recall = len(got & exact08) / len(exact08)
    assert recall >= 0.9


def test_simhash_recall_and_precision(docs, true_pairs):
    got = {
        (r.id_a, r.id_b)
        for r in simhash_near_pairs(docs, max_hamming=10).collect()
    }
    recall = len(got & true_pairs) / len(true_pairs)
    assert recall >= 0.9
    # near-dup candidates shouldn't drown in random-pair noise
    assert len(got) <= 4 * len(true_pairs)


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [
            (10, "Hello  World"),
            (3, "hello world"),  # same after normalization → keeper (min id)
            (7, "another doc"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert kept == [3, 7]


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(50, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    got = cosine_topk(df, None, k=3, query_filter=F.col("vec_id") < 5).collect()
    v = vecs.astype("float64")
    sims = (v @ v.T) / (
        np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :]
    )
    for q in range(5):
        order = [
            i for i in np.argsort(-np.round(sims[q], 6), kind="stable") if i != q
        ][:3]
        got_q = [r.cand_id for r in sorted(got, key=lambda r: r.rk) if r.query_id == q]
        assert got_q == order


def test_srp_lsh_topk_recall(spark):
    from time_series_spark_spark.operators.llm import srp_lsh_topk

    emb = load(spark, SF, "embeddings")
    exact = cosine_topk(emb, None, k=5, query_filter=F.col("vec_id") < 5)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.cand_id)
    approx = srp_lsh_topk(emb, k=5, n_queries=5)
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r.query_id, set()).add(r.cand_id)
    recalls = [
        len(approx_sets.get(q, set()) & s) / len(s) for q, s in exact_sets.items()
    ]
    assert float(np.mean(recalls)) >= 0.5  # LSH on near-orthogonal vectors


def test_shuffle_shards_dense_layout_invariant_and_salted(spark, docs):
    """K9c: shard∈[0,n); positions dense 0..n_s-1 per shard; the full
    corpus is covered exactly once; the assignment is a pure function of
    (salt, id) — identical under a different partition layout — and a new
    salt yields a different permutation (epoch re-shuffle)."""
    from time_series_spark_spark.operators.llm import shuffle_shards

    out = shuffle_shards(docs, n_shards=8, salt=0).collect()
    assert len(out) == docs.count()
    by_shard = {}
    for r in out:
        assert 0 <= r.shard < 8
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    relaid = shuffle_shards(docs.repartition(7), n_shards=8, salt=0).collect()
    key = lambda rows: sorted((r.doc_id, r.shard, r.pos) for r in rows)
    assert key(relaid) == key(out)
    resalted = shuffle_shards(docs, n_shards=8, salt=1).collect()
    assert key(resalted) != key(out)


def test_token_budget_fill_is_greedy_prefix(spark, docs):
    """K9d: every kept row's running total fits the budget, the kept set
    per stratum is EXACTLY the greedy prefix of the md5-ordered walk
    (recomputed in pandas), and the result is partition-layout
    invariant."""
    import hashlib

    from time_series_spark_spark.operators.llm import token_budget_fill

    budget = 500
    out = token_budget_fill(docs, budget=budget).collect()
    assert all(r.cum_tokens <= budget for r in out)
    pdf = docs.select("lang", "doc_id", "text").toPandas()
    pdf["n_tokens"] = pdf["text"].str.split(" ").map(len)
    pdf["ok"] = pdf["doc_id"].map(
        lambda i: hashlib.md5(str(i).encode()).hexdigest()
    )
    expect = set()
    for lang, g in pdf.sort_values(["ok", "doc_id"]).groupby("lang"):
        total = 0
        for r in g.itertuples():
            total += r.n_tokens
            if total > budget:
                break
            expect.add((lang, r.doc_id, r.n_tokens, total))
    assert {(r.lang, r.doc_id, r.n_tokens, r.cum_tokens) for r in out} == expect
    relaid = token_budget_fill(docs.repartition(5), budget=budget).collect()
    assert {(r.lang, r.doc_id, r.cum_tokens) for r in relaid} == {
        (r.lang, r.doc_id, r.cum_tokens) for r in out
    }


def test_cosine_pairs_lsh_equals_exact(spark):
    """Round-4 rewrite guard: the corpus-scale LSH pair path must reproduce
    the exact blocked-GEMM pair set EXACTLY (recall and precision 1.0,
    same rounded cosines) on the driver's gate corpus at both registered
    parameterizations (emb_semantic_dedup τ=0.45 and emb_near_dup_pairs
    τ=0.35) — the exact path stays as the test-side oracle."""
    from time_series_spark_spark.operators.llm import (
        cosine_pairs_lsh,
        cosine_pairs_threshold,
    )

    emb = load(spark, SF, "embeddings")
    for tau, r, b in ((0.45, 4, 32), (0.35, 3, 48)):
        exact = {
            (x.id_a, x.id_b, x.cos)
            for x in cosine_pairs_threshold(emb, threshold=tau).collect()
        }
        got = {
            (x.id_a, x.id_b, x.cos)
            for x in cosine_pairs_lsh(
                emb, threshold=tau, rows_per_band=r, bands=b, seed=42
            ).collect()
        }
        assert got == exact, (
            f"τ={tau}: LSH path diverged from exact "
            f"(missing={len(exact - got)}, extra={len(got - exact)})"
        )


def test_srp_lsh_candidates_bounded_on_self_similar_corpus(spark):
    """The failure mode that killed the OR-only pyspark.ml LSH paths: on
    a corpus with real near-dup structure, candidate pairs must stay a
    small multiple of corpus size, not approach corpus². 150 clusters ×
    10 jittered copies: AND-banded sign-LSH candidates are dominated by
    the intra-cluster pairs (45 per cluster ≈ 4.5·N total); assert the
    corpus-wide candidate-pair count ≤ 20·N, two orders of magnitude
    under the ~N²/2 an unbounded scheme produces here.

    rows_per_band is the AND-window knob and is set FOR the similarity
    of interest, as with any LSH: jittered copies sit at cos ≈ 0.998
    (bit-agreement p ≈ 0.98), so r=16 keeps band collision ≈ 0.7 for
    true pairs while a random pair (p = 0.5) collides with prob
    2⁻¹⁶·b ≈ 0.04%. The registered emb_lsh_topk uses r=6 because its
    corpus is near-orthogonal noise — there the goal is recall of weak
    neighbours and candidates stay bounded by n_queries·N, not N²."""
    from time_series_spark_spark.operators.llm import srp_band_hashes

    rng = np.random.RandomState(7)
    base = rng.standard_normal((150, 64))
    vecs = []
    for c, b in enumerate(base):
        for j in range(10):
            v = b + 0.05 * rng.standard_normal(64)
            vecs.append((c * 10 + j, [float(x) for x in v]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    n = len(vecs)
    banded = srp_band_hashes(df, rows_per_band=16, bands=24)
    a = banded.select(F.col("id").alias("id_a"), "band", "bh")
    b_ = banded.select(F.col("id").alias("id_b"), "band", "bh")
    n_cand = (
        a.join(b_, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    assert n_cand <= 20 * n, f"candidate blowup: {n_cand} pairs for {n} vectors"
    # and the clusters themselves must collide (recall side of the curve)
    assert n_cand >= 150 * 40  # ≥ ~90% of the 45 intra-cluster pairs each


def test_lang_id_on_real_sentences(spark):
    samples = [
        (1, "the cat sat on the mat and looked at the dog", "en"),
        (2, "der Hund ist nicht in das Haus und die Katze", "de"),
        (3, "le chat est sur la table et les livres sont là", "fr"),
        (4, "el perro es un animal que vive en la casa", "es"),
        (5, "这是一个中文句子", "zh"),
    ]
    df = spark.createDataFrame(samples, "doc_id long, text string, expected string")
    got = {r.doc_id: r.pred_lang for r in lang_id(df).collect()}
    for doc_id, _, expected in samples:
        assert got[doc_id] == expected


def test_winnow_fingerprints_shift_robust(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    shifted = "PREFIX " + base  # winnowing keeps most interior fingerprints
    df = spark.createDataFrame(
        [(1, base), (2, shifted)], "doc_id long, text string"
    )
    fp = {r.doc_id: set(r.fps) for r in winnow_fingerprints(df).collect()}
    overlap = len(fp[1] & fp[2]) / len(fp[1])
    assert overlap >= 0.5


def test_multimodal_features_deterministic_schema(spark, docs):
    out = extract_multimodal_features(attach_binary_payload(docs.limit(20)))
    rows = out.collect()
    assert len(rows) == 20
    assert set(out.columns) == {"doc_id", "n_bytes", "features"}
    for r in rows:
        assert len(r.features) == 4
        assert all(0.0 <= f <= 1.0 for f in r.features)
    rows2 = extract_multimodal_features(
        attach_binary_payload(docs.limit(20))
    ).collect()
    assert sorted(map(str, rows)) == sorted(map(str, rows2))


def test_ivf_topk_recall_and_shape(spark):
    """IVF ANN: recall@5 vs exact brute force, plus exactness inside the
    probed region — the reranked cosines must equal the exact ones for
    every returned pair (IVF only loses candidates, never mis-scores)."""
    from time_series_spark_spark.operators.llm import ivf_topk

    emb = load(spark, SF, "embeddings")
    exact = cosine_topk(emb, None, k=5, query_filter=F.col("vec_id") < 10)
    exact_cos = {(r.query_id, r.cand_id): r.cos for r in exact.collect()}
    exact_sets = {}
    for (q, c) in exact_cos:
        exact_sets.setdefault(q, set()).add(c)

    approx = ivf_topk(emb, k=5, n_queries=10, n_clusters=16, n_probe=6)
    rows = approx.collect()
    approx_sets = {}
    for r in rows:
        approx_sets.setdefault(r.query_id, set()).add(r.cand_id)
        if (r.query_id, r.cand_id) in exact_cos:
            assert abs(r.cos - exact_cos[(r.query_id, r.cand_id)]) < 1e-9

    recalls = [
        len(approx_sets.get(q, set()) & s) / len(s)
        for q, s in exact_sets.items()
    ]
    assert float(np.mean(recalls)) >= 0.5  # near-orthogonal 64-d vectors
    assert all(len(s) == 5 for s in approx_sets.values())


def test_stratified_sample_proportions_and_determinism(spark):
    from time_series_spark_spark.operators.llm import stratified_sample

    docs = load(spark, SF, "documents")
    frac = {"en": 0.3, "de": 0.9}
    s1 = stratified_sample(docs, "lang", frac, seed=7)
    s2 = stratified_sample(docs, "lang", frac, seed=7)
    # deterministic under a fixed seed
    assert sorted(r.doc_id for r in s1.collect()) == sorted(
        r.doc_id for r in s2.collect()
    )
    # only requested strata appear; proportions within Bernoulli tolerance
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r.lang: r.n for r in s1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) <= set(frac)
    for lang, f in frac.items():
        expect = totals[lang] * f
        assert abs(got.get(lang, 0) - expect) < 4 * (expect * (1 - f)) ** 0.5 + 5


def test_weighted_mix_hits_target_proportions(spark):
    from time_series_spark_spark.operators.llm import weighted_mix

    docs = load(spark, SF, "documents")
    # ask for a 2:1:1:1:1 mixture — en is already dominant, so everything
    # else gets downsampled relative to it
    weights = {"en": 2.0, "de": 1.0, "zh": 1.0, "fr": 1.0, "es": 1.0}
    mixed = weighted_mix(docs, "lang", weights, seed=11)
    got = {r.lang: r.n for r in mixed.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(got.values())
    for lang, w in weights.items():
        target = total * w / sum(weights.values())
        assert abs(got[lang] - target) < 0.25 * target + 10, (lang, got, target)


def test_pack_sequences_invariants(spark):
    """Every doc packed exactly once; no bin over budget (except singleton
    oversized docs); fill rate is sane."""
    from time_series_spark_spark.operators.llm import pack_sequences

    docs = load(spark, SF, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    packed = pack_sequences(docs, budget=128, n_shards=4)
    rows = packed.collect()
    assert sorted(r.doc_id for r in rows) == sorted(
        r.doc_id for r in docs.collect()
    )
    by_bin = {}
    for r in rows:
        by_bin.setdefault(r.bin_id, []).append(r.n_tokens)
    for sizes in by_bin.values():
        assert sum(sizes) <= 128 or len(sizes) == 1  # oversized → singleton
    # greedy FFD should fill bins reasonably: average fill ≥ 50% of budget
    fills = [min(sum(s), 128) for s in by_bin.values()]
    assert sum(fills) / (128 * len(fills)) >= 0.5


def test_upsample_repeat_counts(spark):
    from time_series_spark_spark.operators.llm import upsample_repeat

    base = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, s string"
    )
    up = upsample_repeat(base, "s", {"a": 3})
    got = {(r.doc_id, r.repeat_idx) for r in up.collect()}
    assert got == {(1, 0), (1, 1), (1, 2), (2, 0), (2, 1), (2, 2), (3, 0)}


def test_sq8_topk_recall_and_rescore_fidelity(spark):
    """int8 scalar-quantized ANN: high recall@5 vs exact brute force (int8
    on 64-d vectors loses ~0.4% per component — candidate generation at
    k*4 should rarely drop a true neighbor), and every returned cosine is
    the EXACT float value (the rescore step never reports quantized
    scores)."""
    from time_series_spark_spark.operators.llm import sq8_topk

    emb = load(spark, SF, "embeddings")
    exact = cosine_topk(emb, None, k=5, query_filter=F.col("vec_id") < 10)
    exact_cos = {(r.query_id, r.cand_id): r.cos for r in exact.collect()}
    exact_sets = {}
    for (q, c) in exact_cos:
        exact_sets.setdefault(q, set()).add(c)

    rows = sq8_topk(emb, k=5, n_queries=10).collect()
    approx_sets = {}
    for r in rows:
        approx_sets.setdefault(r.query_id, set()).add(r.cand_id)
        if (r.query_id, r.cand_id) in exact_cos:
            assert abs(r.cos - exact_cos[(r.query_id, r.cand_id)]) < 1e-9

    recalls = [
        len(approx_sets.get(q, set()) & s) / len(s)
        for q, s in exact_sets.items()
    ]
    assert float(np.mean(recalls)) >= 0.9, recalls
    assert all(len(s) == 5 for s in approx_sets.values())


def test_redact_pii_masks_and_counts(spark):
    from time_series_spark_spark.operators.llm import redact_pii
    from time_series_spark_spark.sources.io import from_rows

    rows = from_rows(
        spark,
        [
            (1, "mail a@b.co and c.d+x@e.org plus +1-555-12345 done"),
            (2, "clean text, no pii; not-an-email @ nor 555-1234 alone"),
        ],
        "id int, text string",
    )
    got = {r.id: (r.n_pii, r.redacted) for r in redact_pii(rows, "text").collect()}
    assert got[1] == (3, "mail <EMAIL> and <EMAIL> plus <PHONE> done")
    assert got[2][0] == 0
    assert got[2][1] == "clean text, no pii; not-an-email @ nor 555-1234 alone"


def test_hash_sample_per_group_exact_k_and_stable(spark):
    from time_series_spark_spark.operators.llm import hash_sample_per_group

    docs = load(spark, SF, "documents")
    s1 = hash_sample_per_group(docs, "lang", "doc_id", 3)
    s2 = hash_sample_per_group(docs.repartition(13), "lang", "doc_id", 3)
    r1 = sorted((r.lang, r.doc_id, r.rk) for r in s1.collect())
    r2 = sorted((r.lang, r.doc_id, r.rk) for r in s2.collect())
    assert r1 == r2  # invariant under partition layout (md5 order, not rand)
    from collections import Counter

    per_lang = Counter(lang for lang, _, _ in r1)
    assert all(v == 3 for v in per_lang.values())


def test_weighted_sample_layout_invariant_and_biased(spark):
    """A-Res with md5-derived uniforms: (a) exactly k per stratum,
    (b) identical result under any partition layout, (c) an
    overwhelming weight is always selected (u^(1/w) -> 1)."""
    from time_series_spark_spark.operators.llm import weighted_reservoir_sample

    rows = [(i, "s", 10 + (i % 7)) for i in range(200)]
    rows.append((999, "s", 10_000_000))  # whale weight
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    a = weighted_reservoir_sample(
        df.repartition(1), "doc_id", "n_chars", ["lang"], k=5
    ).collect()
    b = weighted_reservoir_sample(
        df.repartition(13), "doc_id", "n_chars", ["lang"], k=5
    ).collect()
    assert sorted(r.doc_id for r in a) == sorted(r.doc_id for r in b)
    assert len(a) == 5
    assert any(r.doc_id == 999 for r in a)


def test_dup_span_stats_flags_shared_spans_only(spark):
    from time_series_spark_spark.operators.llm import dup_span_stats

    span = "one two three four five six seven eight"  # exactly w=8 tokens
    rows = [
        (1, f"intro alpha {span} outro beta"),
        (2, f"different start {span} different end"),
        (3, "totally unrelated words that never repeat anywhere at all ok"),
        (4, "short doc"),  # < 8 tokens: span-ineligible, absent from output
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dup_span_stats(df, w=8).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["n_dup"] == 1 and out[2]["n_dup"] == 1  # the one shared 8-gram
    assert out[3]["n_dup"] == 0
    assert out[1]["n_grams"] == 12 - 8 + 1


def test_repetition_stats_counts_degenerate_text(spark):
    from time_series_spark_spark.operators.llm import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "all tokens here are unique")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    r1 = out[1]
    assert (r1["n_1gram"], r1["d_1gram"]) == (6, 2)
    assert (r1["n_2gram"], r1["d_2gram"]) == (5, 2)  # 'a b' x3, 'b a' x2
    assert (r1["n_3gram"], r1["d_3gram"]) == (4, 2)
    r2 = out[2]
    assert r2["n_1gram"] == r2["d_1gram"] == 5
    assert r2["n_2gram"] == r2["d_2gram"] == 4


def test_bloom_no_false_negatives_and_fp_bound(spark):
    """The two Bloom properties the incremental-dedup path rests on:
    every key present in the history MUST be flagged (no false
    negatives, by construction), and the false-positive rate of fresh
    keys stays within the standard (1 − e^{−kn/m})^k bound (asserted at
    3× to absorb sampling noise; m is shrunk so the bound is actually
    exercised instead of being ~0)."""
    import math

    from time_series_spark_spark.operators.llm import (
        bloom_maybe_member,
        bloom_partials,
    )

    m_bits, k, n_hist = 1 << 12, 5, 500
    hist = spark.range(n_hist).select(
        F.concat(F.lit("key_"), F.col("id")).alias("h")
    )
    partials = bloom_partials(hist, F.col("h"), m_bits=m_bits, k=k)
    # batch: 250 keys duplicated from history + 500 fresh keys
    batch = spark.range(750).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 250, F.concat(F.lit("key_"), F.col("id") * 2))
        .otherwise(F.concat(F.lit("fresh_"), F.col("id")))
        .alias("h"),
    )
    flags = {
        r["doc_id"]: r["maybe_dup"]
        for r in bloom_maybe_member(
            batch, partials, F.col("h"), m_bits=m_bits, k=k
        ).collect()
    }
    assert len(flags) == 750
    # no false negatives: every history key flagged
    assert all(flags[i] for i in range(250))
    fp = sum(flags[i] for i in range(250, 750))
    bound = (1 - math.exp(-k * n_hist / m_bits)) ** k
    assert fp / 500 <= 3 * bound, f"fp rate {fp / 500} vs bound {bound}"


def test_bloom_probe_plan_is_map_only(spark):
    """The probe (100 TB) side must not shuffle: no Exchange may appear
    above the batch scan — only the one-row broadcast of the collapsed
    filter map."""
    from time_series_spark_spark.operators.llm import (
        bloom_maybe_member,
        bloom_partials,
    )

    hist = spark.range(100).select(F.col("id").cast("string").alias("h"))
    batch = spark.range(50).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("h")
    )
    out = bloom_maybe_member(
        batch, bloom_partials(hist, F.col("h")), F.col("h")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    first_join = plan.index("Join")
    probe_side = plan[:first_join]
    assert "Exchange" not in probe_side


def test_contamination_stats_known_overlap(spark):
    from time_series_spark_spark.operators.llm import contamination_stats

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),  # shares 3-grams with bench
            (2, "entirely different text with no overlap present"),
            (3, "too short"),  # < w tokens -> zero grams, still emitted
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox runs away")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in contamination_stats(corpus, bench, w=3).collect()
    }
    assert len(out) == 3
    # doc 1: 3 grams; 'the quick brown' and 'quick brown fox' hit
    assert (out[1]["n_grams"], out[1]["n_hit"]) == (3, 2)
    assert (out[2]["n_grams"], out[2]["n_hit"]) == (5, 0)
    assert (out[3]["n_grams"], out[3]["n_hit"]) == (0, 0)


def test_chunk_token_windows_edges(spark):
    """Boundary semantics pinned: n == size -> exactly one full chunk;
    n == size+1 -> second chunk starts at stride and is short; NULL text
    -> no chunks; empty text -> one single-empty-token chunk (split('')
    = [''], identical in DuckDB)."""
    from time_series_spark_spark.operators.llm import chunk_token_windows

    size, stride = 64, 48

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    df = spark.createDataFrame(
        [
            (1, words(64)),   # n == size
            (2, words(65)),   # one over
            (3, words(112)),  # n == size + stride: second chunk exactly full
            (4, words(113)),  # third chunk begins
            (5, None),        # NULL -> no chunks
            (6, ""),          # empty string -> one chunk of ['']
            (7, words(5)),    # n < size
        ],
        "doc_id long, text string",
    )
    rows = chunk_token_windows(df, size=size, stride=stride).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    counts = {d: len(v) for d, v in by_doc.items()}
    assert counts == {1: 1, 2: 2, 3: 2, 4: 3, 6: 1, 7: 1}
    assert 5 not in by_doc
    assert [r["n_tokens"] for r in sorted(by_doc[2], key=lambda r: r["chunk_idx"])] == [64, 17]
    assert [r["n_tokens"] for r in sorted(by_doc[3], key=lambda r: r["chunk_idx"])] == [64, 64]
    assert by_doc[6][0]["n_tokens"] == 1
    assert by_doc[7][0]["n_tokens"] == 5


def test_remove_dup_spans_planted_duplicate(spark):
    """Canonical (min-id) owner keeps the duplicated span; every other
    doc loses exactly the covered tokens; short and unique docs pass
    through untouched."""
    import hashlib

    from time_series_spark_spark.operators.llm import remove_dup_spans

    span = "one two three four five six seven eight"  # exactly w=8 tokens
    docs = [
        (1, f"{span} tail1 tail2 tail3"),        # canonical owner of span
        (2, f"head1 head2 {span} tail9"),        # loses the 8 span tokens
        (3, "totally unique words that repeat nowhere else at all ok"),
        (4, "short doc"),                         # < w tokens
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_dup_spans(df, w=8).collect()}

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert out[1]["n_removed"] == 0
    assert out[1]["cleaned_hash"] == h(docs[0][1])
    assert out[2]["n_removed"] == 8
    assert out[2]["cleaned_hash"] == h("head1 head2 tail9")
    assert out[3]["n_removed"] == 0
    assert out[4]["n_removed"] == 0 and out[4]["n_tokens"] == 2


def test_lm_perplexity_separates_gibberish(spark, docs):
    """The char-trigram LM must rank in-distribution text far below
    random-character gibberish — the discriminative property the CCNet
    quality filter rests on."""
    from time_series_spark_spark.operators.llm import char_ngram_lm_scores

    import random

    rng = random.Random(4)
    alphabet = "abcdefghijklmnopqrstuvwxyz "
    gibberish = "".join(rng.choice(alphabet) for _ in range(400))
    # in-distribution probe: words drawn from the corpus' own vocabulary
    vocab = [
        w
        for (t,) in docs.select("text").limit(20).collect()
        for w in t.split()
    ]
    natural = " ".join(rng.choice(vocab) for _ in range(80))
    probe = spark.createDataFrame(
        [(900001, natural), (900002, gibberish)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["ppl"]
        for r in char_ngram_lm_scores(probe, docs).collect()
    }
    assert out[900001] * 2 < out[900002], out


def test_lm_scores_reject_width_below_two(docs):
    from time_series_spark_spark.operators.llm import char_ngram_lm_scores

    with pytest.raises(ValueError, match="n >= 2"):
        char_ngram_lm_scores(docs, docs, n=1)


# ---------------------------------------------------------------------------
# K3 product quantization
# ---------------------------------------------------------------------------
def test_pq_codebooks_deterministic_and_shaped(spark):
    from time_series_spark_spark.operators.llm import pq_train_codebooks

    emb = load(spark, SF, "embeddings")
    b1 = pq_train_codebooks(emb, m=8, nbits=4, sample_n=200)
    b2 = pq_train_codebooks(emb, m=8, nbits=4, sample_n=200)
    assert b1.shape == (8, 16, 8)
    assert (b1 == b2).all()  # seeded init + fixed iters → bit-identical


def test_pq_encode_codes_in_range(spark):
    from time_series_spark_spark.operators.llm import (
        pq_encode,
        pq_train_codebooks,
    )

    emb = load(spark, SF, "embeddings")
    books = pq_train_codebooks(emb, m=8, nbits=4, sample_n=200)
    rows = pq_encode(emb, books).select("codes").collect()
    codes = np.array([r["codes"] for r in rows])
    assert codes.shape[1] == 8
    assert codes.min() >= 0 and codes.max() < 16


def test_pq_topk_recall_vs_exact(spark):
    """PQ ADC + k*4 exact rescore must recover most of the exact top-5
    (the published PQ regime: coarse candidates, exact refine)."""
    from time_series_spark_spark.operators.llm import cosine_topk, pq_topk

    emb = load(spark, SF, "embeddings")
    exact = cosine_topk(emb, None, k=5, query_filter=F.col("vec_id") < 10)
    approx = pq_topk(emb, k=5, n_queries=10)
    e = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["cand_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, recall
    # rescored cosines are exact: any pair present in both sides agrees
    ec = {(r["query_id"], r["cand_id"]): r["cos"] for r in exact.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["cand_id"])
        if key in ec:
            assert abs(r["cos"] - ec[key]) < 1e-9


# ---------------------------------------------------------------------------
# K14 BPE tokenizer training
# ---------------------------------------------------------------------------
def _bpe_reference(word_freqs: dict, n_merges: int, marker="▁"):
    """Textbook BPE trainer (Sennrich 2016) — driver-side reference."""
    vocab = {tuple(marker + w): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + f
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        new_vocab = {}
        for syms, f in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_bpe_train_matches_reference(spark):
    from time_series_spark_spark.operators.llm import bpe_train

    text = "low low low lower lower newest newest newest newest widest"
    df = spark.createDataFrame([(text,)], "text string")
    freqs = {}
    for w in text.split():
        freqs[w] = freqs.get(w, 0) + 1
    got = bpe_train(df, n_merges=10)
    want = _bpe_reference(freqs, 10)
    assert got == want, (got, want)


def test_bpe_apply_roundtrip(spark):
    """Applying the learned merges re-segments every word consistently:
    tokens concatenate back to the marked words, and frequent words
    collapse to single tokens."""
    from time_series_spark_spark.operators.llm import (
        bpe_apply_merges,
        bpe_train,
    )

    text = "low low low lower lower newest newest newest newest widest"
    train = spark.createDataFrame([(text,)], "text string")
    merges = bpe_train(train, n_merges=12)
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    toks = sorted(
        bpe_apply_merges(docs, merges).collect(),
        key=lambda r: (r["pos"], r["tok_idx"]),
    )
    joined = "".join(r["token"] for r in toks)
    assert joined == "".join("▁" + w for w in text.split())
    # 'newest' (freq 4) is fully merged into one token by 12 merges
    assert "▁newest" in {r["token"] for r in toks}


# ---------------------------------------------------------------------------
# K15 PPMI + SVD embeddings
# ---------------------------------------------------------------------------
def test_ppmi_cooccurrence_counts_exact(spark):
    """Hand-computable corpus: window-2 symmetric counts and PPMI signs."""
    from time_series_spark_spark.operators.llm import ppmi_cooccurrence

    df = spark.createDataFrame(
        [(0, "a b a b a b a b"), (1, "c d c d c d c d")],
        "doc_id long, text string",
    )
    out = {
        (r["w"], r["c"]): (r["n_wc"], r["ppmi"])
        for r in ppmi_cooccurrence(df, window=1, min_count=1).collect()
    }
    # each doc: 7 adjacent pairs; symmetric → ab=ba=7, cd=dc=7
    assert out[("a", "b")][0] == 7 and out[("b", "a")][0] == 7
    assert out[("c", "d")][0] == 7 and out[("d", "c")][0] == 7
    assert ("a", "c") not in out  # never co-occur
    # PPMI of exclusive pairs: ln(n_wc*N/(n_w*n_c)) = ln(7*28/(7*7)) = ln 4
    assert abs(out[("a", "b")][1] - np.log(4)) < 1e-9


def test_ppmi_svd_separates_planted_clusters(spark):
    """Two disjoint co-occurrence cliques: SVD vectors put within-clique
    cosine far above cross-clique cosine."""
    from time_series_spark_spark.operators.llm import ppmi_svd_vectors

    rng = np.random.default_rng(4)
    docs = []
    for i in range(60):
        fam = ["red", "green", "blue"] if i % 2 == 0 else ["cat", "dog", "fox"]
        docs.append((i, " ".join(rng.choice(fam, 12))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    vecs = {
        r["term"]: np.array(r["vec"])
        for r in ppmi_svd_vectors(
            df, window=2, dim=4, top_vocab=6, min_count=2
        ).collect()
    }
    assert set(vecs) == {"red", "green", "blue", "cat", "dog", "fox"}

    def cos(a, b):
        return float(
            vecs[a] @ vecs[b]
            / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]) + 1e-12)
        )

    within = min(cos("red", "green"), cos("cat", "dog"))
    across = max(cos("red", "cat"), cos("blue", "fox"))
    assert within > across + 0.3, (within, across)


# ---------------------------------------------------------------------------
# K16 distributed PCA
# ---------------------------------------------------------------------------
def test_embedding_pca_matches_numpy(spark):
    from time_series_spark_spark.operators.llm import embedding_pca

    emb = load(spark, SF, "embeddings")
    comps, vals, mean = embedding_pca(emb, k=8)
    X = np.stack([r["embedding"] for r in emb.collect()]).astype(np.float64)
    ref_mean = X.mean(axis=0)
    ref_cov = np.cov(X.T, bias=True)
    rv, rvec = np.linalg.eigh(ref_cov)
    rv = np.sort(rv)[::-1][:8]
    assert np.allclose(mean, ref_mean, atol=1e-9)
    assert np.allclose(vals, rv, atol=1e-7)
    # components are orthonormal eigenvectors of the covariance
    assert np.allclose(comps @ comps.T, np.eye(8), atol=1e-8)
    for i in range(8):
        assert np.allclose(ref_cov @ comps[i], vals[i] * comps[i], atol=1e-7)


def test_projection_diagonalizes_covariance(spark):
    from time_series_spark_spark.operators.llm import (
        embedding_pca,
        project_embeddings,
    )

    emb = load(spark, SF, "embeddings")
    comps, vals, mean = embedding_pca(emb, k=4)
    proj = project_embeddings(emb, comps, mean).collect()
    P = np.array([[r[f"pc{i}"] for i in range(4)] for r in proj])
    pcov = np.cov(P.T, bias=True)
    assert np.allclose(np.diag(pcov), vals[:4], atol=1e-7)
    off = pcov - np.diag(np.diag(pcov))
    assert np.abs(off).max() < 1e-7


# ---------------------------------------------------------------------------
# learned-artifact persistence
# ---------------------------------------------------------------------------
def test_pq_codebook_roundtrip_and_identical_search(spark, tmp_path):
    from time_series_spark_spark.operators.llm import (
        load_pq_codebooks,
        pq_encode,
        pq_train_codebooks,
        save_pq_codebooks,
    )

    emb = load(spark, SF, "embeddings")
    books = pq_train_codebooks(emb, m=8, nbits=4, sample_n=300)
    path = str(tmp_path / "pq_books")
    save_pq_codebooks(spark, books, path)
    loaded = load_pq_codebooks(spark, path)
    assert (books == loaded).all()  # bit-identical artifact
    a = sorted(
        (r["id"], tuple(r["codes"]))
        for r in pq_encode(emb, books).select("id", "codes").collect()
    )
    b = sorted(
        (r["id"], tuple(r["codes"]))
        for r in pq_encode(emb, loaded).select("id", "codes").collect()
    )
    assert a == b


def test_bpe_merge_roundtrip(spark, tmp_path):
    from time_series_spark_spark.operators.llm import (
        bpe_train,
        load_bpe_merges,
        save_bpe_merges,
    )

    df = spark.createDataFrame(
        [("low low lower newest newest newest",)], "text string"
    )
    merges = bpe_train(df, n_merges=6)
    path = str(tmp_path / "bpe_merges")
    save_bpe_merges(spark, merges, path)
    assert load_bpe_merges(spark, path) == merges  # order preserved


def test_mips_norm_augmentation_reduction_equivalent(spark):
    """K3c: the Bachrach RecSys'14 reduction — items augmented with
    sqrt(M² − |x|²), queries with 0 — makes cosine ranking ≡ exact MIPS
    ranking (the augmented-item norm is constant M, so cosine order =
    inner-product order). Verified: augmented cosine_topk returns the
    same (query, cand) sets as mips_topk on the real corpus."""
    import pyspark.sql.functions as F

    from time_series_spark_spark.operators.llm import cosine_topk, mips_topk
    from time_series_spark_spark.sources.io import load

    emb = load(spark, SF, "embeddings")
    exact = mips_topk(emb, None, k=5, query_filter=F.col("vec_id") < 10)

    # augment: items get sqrt(M^2 - |x|^2) appended; queries get 0.
    # Build both from one frame so ids stay aligned.
    with_norm = emb.withColumn(
        "sq",
        F.expr(
            "aggregate(transform(embedding, x -> cast(x AS double)),"
            " 0D, (s, x) -> s + x * x)"
        ),
    )
    m2 = with_norm.agg(F.max("sq")).collect()[0][0]
    items = with_norm.select(
        "vec_id",
        F.expr(
            f"concat(transform(embedding, x -> cast(x AS double)),"
            f" array(sqrt({m2} - sq)))"
        ).alias("embedding"),
    )
    queries = with_norm.filter(F.col("vec_id") < 10).select(
        "vec_id",
        F.expr(
            "concat(transform(embedding, x -> cast(x AS double)),"
            " array(0D))"
        ).alias("embedding"),
    )
    aug = cosine_topk(items, queries, k=5)
    got = {
        (r["query_id"], r["cand_id"]) for r in aug.collect()
    }
    want = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    assert got == want


def test_temperature_weights_laws():
    from time_series_spark_spark.operators.llm import temperature_weights

    counts = {"en": 800, "de": 100, "sw": 10}
    w1 = temperature_weights(counts, 1.0)
    assert abs(w1["en"] - 800 / 910) < 1e-12  # τ=1 → natural proportions
    w0 = temperature_weights(counts, 0.0)
    assert all(abs(v - 1 / 3) < 1e-12 for v in w0.values())  # τ=0 → uniform
    w5 = temperature_weights(counts, 0.5)
    # τ<1 upweights low-resource strata relative to natural share
    assert w5["sw"] > w1["sw"] and w5["en"] < w1["en"]
    assert abs(sum(w5.values()) - 1.0) < 1e-12


def test_frame_sample_rows_shape_laws(spark):
    import hashlib
    import math

    import pyspark.sql.functions as F

    from time_series_spark_spark.operators.llm import (
        attach_binary_payload,
        frame_sample_rows,
    )
    from time_series_spark_spark.sources.io import load

    docs = attach_binary_payload(load(spark, SF, "documents").limit(50))
    frames = frame_sample_rows(docs, frame_bytes=64, stride=2).toPandas()
    sizes = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.octet_length("payload").alias("n")
        ).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    for doc_id, grp in frames.groupby("doc_id"):
        n = sizes[doc_id]
        assert len(grp) == math.ceil(n / 128), (doc_id, n, len(grp))
        assert (grp.byte_offset % 128 == 0).all()
        assert list(grp.sort_values("frame_idx").frame_idx) == list(
            range(len(grp))
        )
        # frame hash is the sha of the actual payload slice
        first = grp.sort_values("frame_idx").iloc[0]
        payload = texts[doc_id].encode("utf-8")
        assert (
            first.frame_sha
            == hashlib.sha256(payload[0:64]).hexdigest()
        )


def test_bm25_matches_reference_formula(spark):
    """K23b: scores equal a by-hand BM25 computation on a toy corpus,
    and ranking prefers term-dense short docs."""
    import math

    from time_series_spark_spark.operators.llm import bm25_search

    texts = {
        1: "hash join hash join hash",     # dense in query terms
        2: "hash scan filter filter",      # some
        3: "filter sort window table",     # none
        4: "join",                         # short, one term
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["bm25"] for r in bm25_search(docs, ["hash", "join"], k=10).collect()}
    assert 3 not in got  # no query terms -> never scored

    # reference computation
    N = 4
    toks = {i: t.split(" ") for i, t in texts.items()}
    avgdl = sum(len(v) for v in toks.values()) / N
    df = {"hash": 2, "join": 2}
    k1, b = 1.2, 0.75

    def score(i):
        s = 0.0
        for t in ("hash", "join"):
            tf = toks[i].count(t)
            if tf == 0:
                continue
            idf = math.log(1.0 + (N - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks[i]) / avgdl))
        return round(s, 4)

    for i in (1, 2, 4):
        assert abs(got[i] - score(i)) < 1e-9, (i, got[i], score(i))
    assert got[1] > got[2]  # term-dense doc outranks


def test_inverted_index_postings_head(spark):
    from time_series_spark_spark.operators.llm import inverted_index

    docs = spark.createDataFrame(
        [(3, "a b"), (1, "a"), (2, "a c")], ["doc_id", "text"]
    )
    got = {r["term"]: r for r in inverted_index(docs, postings_cap=2).collect()}
    assert got["a"]["df"] == 3 and got["a"]["cf"] == 3
    assert got["a"]["postings_head"] == "1,2"  # capped, ascending
    assert got["b"]["postings_head"] == "3"


def test_feature_hashing_conserves_mass_and_dimension(spark):
    from time_series_spark_spark.queries import REGISTRY

    fn = REGISTRY["docs_feature_hashing"].fn
    sf = "/root/testdata/sf0.001"
    rows = fn(spark, sf).collect()
    assert 0 < len(rows) <= 64
    assert all(0 <= r["bucket"] < 64 for r in rows)
    # raw mass conserved: sum over buckets == corpus token count
    from time_series_spark_spark.operators.llm import tokens as _toks
    from time_series_spark_spark.sources.io import load as _load

    n_tokens = (
        _load(spark, sf, "documents")
        .select(F.explode(_toks()).alias("t"))
        .count()
    )
    assert sum(r["total_mass"] for r in rows) == n_tokens
    # signs actually mix: signed mass differs from raw mass somewhere
    assert any(r["signed_mass"] != r["total_mass"] for r in rows)
    assert all(abs(r["signed_mass"]) <= r["total_mass"] for r in rows)


def test_bpe_apply_matches_python_greedy_encoder(spark):
    """K14b: the codegen merge-fold encodes exactly like the textbook
    per-word greedy apply (merges replayed in training order)."""
    from time_series_spark_spark.operators.llm import (
        bpe_apply_merges,
        bpe_train,
    )
    from time_series_spark_spark.sources.io import load

    sf = "/root/testdata/sf0.001"
    docs = load(spark, sf, "documents").limit(20).cache()
    merges = bpe_train(docs, n_merges=10)
    from pyspark.sql import functions as F

    got = {
        r["doc_id"]: sorted(r["t"])
        for r in (
            bpe_apply_merges(docs, merges)
            .groupBy("doc_id")
            .agg(F.collect_list("token").alias("t"))
            .collect()
        )
    }

    def encode_word(w):
        syms = ["▁"] + list(w)
        # the fold applies ONE merge pass per learned pair, in order
        for left, right, _ in merges:
            out = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            syms = out
        return syms

    for row in docs.select("doc_id", "text").collect():
        toks = []
        for w in row["text"].split():
            if w:
                toks.extend(encode_word(w))
        assert sorted(toks) == got[row["doc_id"]], row["doc_id"]


def test_neardup_quality_report_recall_floors(spark):
    """K2d: dashboard is internally consistent and each generator clears
    its recall floor at sf0.01 (minhash 1.0 and simhash 0.9 — both
    already pinned individually by the recall tests; here the REPORT's
    own arithmetic is checked too)."""
    from time_series_spark_spark.queries import REGISTRY

    rows = {
        r["method"]: r
        for r in REGISTRY["docs_neardup_quality_report"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
    }
    assert set(rows) == {"minhash_lsh", "simhash"}
    for r in rows.values():
        assert r["n_hits"] <= min(r["n_exact"], r["n_candidates"])
        assert abs(r["recall"] - round(r["n_hits"] / r["n_exact"], 4)) < 1e-9
        assert (
            abs(
                r["candidate_ratio"]
                - round(r["n_candidates"] / r["n_exact"], 4)
            )
            < 1e-9
        )
    assert rows["minhash_lsh"]["recall"] >= 0.95
    assert rows["simhash"]["recall"] >= 0.9


def test_cluster_keep_best_is_argmax_of_cluster(spark):
    """K1c: every multi-doc cluster from docs_dup_clusters appears
    exactly once, and its keeper is the member with the maximum
    distinct-token count (min doc_id on ties) — checked against an
    independent pandas argmax over the same membership."""
    import pandas as pd

    from time_series_spark_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"
    comp = (
        REGISTRY["docs_dup_clusters"].fn(spark, sf).toPandas()
    )
    docs = pd.read_parquet(f"{sf}/documents.parquet", columns=["doc_id", "text"])
    docs["n_distinct"] = docs["text"].map(
        lambda t: len(set(t.split(" ")))
    )
    m = comp.merge(docs[["doc_id", "n_distinct"]], on="doc_id")
    sizes = m.groupby("cluster_id")["doc_id"].size()
    multi = sizes[sizes >= 2].index
    m = m[m["cluster_id"].isin(multi)].sort_values(
        ["cluster_id", "n_distinct", "doc_id"],
        ascending=[True, False, True],
        kind="mergesort",
    )
    want = {
        int(r.cluster_id): (int(r.doc_id), int(r.n_distinct))
        for r in m.groupby("cluster_id").head(1).itertuples()
    }
    got_rows = REGISTRY["docs_cluster_keep_best"].fn(spark, sf).collect()
    got = {
        r["cluster_id"]: (r["keeper_doc_id"], r["keeper_n_distinct"])
        for r in got_rows
    }
    assert got == want
    assert all(
        r["n_members"] == sizes[r["cluster_id"]] for r in got_rows
    )


def test_lexical_diversity_matches_python_replay(spark):
    """K11: the frequency-spectrum identities hold vs a plain-Python
    Counter replay on sf0.001, and Yule's K is invariant under
    corpus duplication while TTR is not (the reason K exists)."""
    import math
    from collections import Counter

    import pandas as pd

    from time_series_spark_spark.queries import REGISTRY

    def diversity(tokens):
        tf = Counter(tokens)
        n = sum(tf.values())
        v = len(tf)
        v1 = sum(1 for f in tf.values() if f == 1)
        m2 = sum(f * f for f in tf.values())
        ss = sum(f * (f - 1) for f in tf.values())
        return (
            n, v, v1,
            v / n, v1 / v,
            10000.0 * (m2 - n) / (float(n) * n),
            ss / (float(n) * (n - 1)),
        )

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    rows = {
        r["lang"]: r
        for r in REGISTRY["docs_lexical_diversity"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    langs = sorted(docs["lang"].unique())
    assert sorted(rows) == langs
    for lang in langs:
        toks = [
            w
            for t in docs.loc[docs["lang"] == lang, "text"]
            for w in t.split(" ")
        ]
        n, v, v1, ttr, hapax, yk, sd = diversity(toks)
        r = rows[lang]
        assert (r["n_tokens"], r["n_types"], r["n_hapax"]) == (n, v, v1)
        assert math.isclose(r["ttr"], round(ttr, 6), abs_tol=1e-9)
        assert math.isclose(r["hapax_ratio"], round(hapax, 6), abs_tol=1e-9)
        assert math.isclose(r["yule_k"], round(yk, 6), abs_tol=1e-6)
        assert math.isclose(r["simpson_d"], round(sd, 6), abs_tol=1e-9)

    base = ["a", "b", "b", "c", "c", "c", "d", "e", "f", "g"]
    # K converges under corpus growth (the -N correction washes out as
    # sum(f^2) >> N), while TTR collapses — the reason K exists:
    k10 = diversity(base * 10)[5]
    k100 = diversity(base * 100)[5]
    assert abs(k10 - k100) / k100 < 0.1
    ttr1, ttr2 = diversity(base)[3], diversity(base * 10)[3]
    assert ttr2 < ttr1 / 5  # TTR collapses under duplication


def test_jl_projection_distortion_bounds(spark):
    """K12: the report's buckets are a partition of all consecutive-id
    pairs, ratios concentrate near 1 (JL: E[ratio]=1, sd ~ sqrt(2/16)),
    and a numpy replay of the md5 sign matrix reproduces the Spark
    projection exactly for the first vector."""
    import hashlib

    import numpy as np
    import pandas as pd

    from time_series_spark_spark.queries import REGISTRY

    rows = (
        REGISTRY["emb_jl_projection_report"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    emb = pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet")
    n_pairs = sum(r["n_pairs"] for r in rows)
    assert n_pairs == len(emb) - 1  # every consecutive pair counted once
    # mass concentrates near ratio 1: buckets 2..5 cover [0.5, 1.5),
    # i.e. +-1.4 sd at sd = sqrt(2/16) ~ 0.35 -> expect ~84% mass
    near = sum(r["n_pairs"] for r in rows if 2 <= r["ratio_bucket"] <= 5)
    assert near / n_pairs > 0.8
    for r in rows:
        assert r["ratio_bucket"] / 4.0 <= r["min_ratio"] + 1e-9
        assert r["max_ratio"] < (r["ratio_bucket"] + 1) / 4.0 + 1e-9
        assert r["min_ratio"] <= r["max_ratio"]

    # replay the md5-derived sign matrix for one coordinate
    def sign(r, j):
        h = hashlib.md5(f"jl-v1:{r}:{j}".encode()).hexdigest()
        return 1.0 if h[0] < "8" else -1.0

    v = np.array(emb["embedding"].iloc[0], dtype=np.float64)
    y0 = sum(sign(0, j) * v[j] for j in range(64))
    # recompute via the registered projection path: distances must be
    # consistent with this matrix — check through a direct Spark eval
    from pyspark.sql import functions as F

    one = spark.createDataFrame(
        [(0, [float(x) for x in v])], "vec_id long, v array<double>"
    ).select(
        F.expr(
            "aggregate(zip_with(v, transform(sequence(0, 63), j ->"
            " CASE WHEN substring(md5(concat('jl-v1:0:',"
            " CAST(j AS STRING))), 1, 1) < '8'"
            " THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END),"
            " (x, w) -> x * w), 0D, (acc, t) -> acc + t)"
        ).alias("y0")
    ).collect()[0]["y0"]
    assert abs(one - y0) < 1e-9


def test_vocab_unseen_estimate_matches_counter_replay(spark):
    """K13: Chao1 and Good-Turing mass equal a Counter replay on
    sf0.001; Chao1 >= V always; a fully-duplicated corpus (V1 = 0)
    estimates zero unseen mass."""
    import math
    from collections import Counter

    import pandas as pd

    from time_series_spark_spark.queries import REGISTRY

    def est(tokens):
        tf = Counter(tokens)
        n = sum(tf.values())
        v = len(tf)
        v1 = sum(1 for f in tf.values() if f == 1)
        v2 = sum(1 for f in tf.values() if f == 2)
        chao = v + (v1 * v1) / (2.0 * v2) if v2 else v + v1 * (v1 - 1) / 2.0
        return n, v, v1, v2, chao, v1 / n

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    toks = [w for t in docs["text"] for w in t.split(" ")]
    n, v, v1, v2, chao, gt = est(toks)
    row = (
        REGISTRY["docs_vocab_unseen_estimate"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()[0]
    )
    assert (row["n_tokens"], row["n_types"]) == (n, v)
    assert (row["v1"], row["v2"]) == (v1, v2)
    assert math.isclose(row["chao1_richness"], round(chao, 4),
                        abs_tol=1e-9)
    assert math.isclose(row["gt_unseen_mass"], round(gt, 6), abs_tol=1e-9)
    assert row["chao1_richness"] >= row["n_types"]

    dup = est(["a", "b", "c"] * 10)
    assert dup[4] == 3 and dup[5] == 0.0


def test_source_overlap_matrix_matches_python_replay(spark):
    """K14: shared counts and Jaccard equal a set replay on sf0.001;
    every pair is reported once (a < b); self-overlap is excluded."""
    import math

    import pandas as pd

    from time_series_spark_spark.queries import REGISTRY

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    grams = {}
    for src, g in docs.groupby("source"):
        s = set()
        for t in g["text"]:
            toks = t.split(" ")
            for i in range(len(toks) - 4):
                s.add(" ".join(toks[i : i + 5]))
        grams[src] = s
    rows = (
        REGISTRY["docs_source_overlap_matrix"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    seen = set()
    for r in rows:
        a, b = r["source_a"], r["source_b"]
        assert a < b and (a, b) not in seen
        seen.add((a, b))
        inter = len(grams[a] & grams[b])
        assert r["shared"] == inter
        assert (r["grams_a"], r["grams_b"]) == (len(grams[a]),
                                                len(grams[b]))
        want_j = inter / (len(grams[a]) + len(grams[b]) - inter)
        assert math.isclose(r["jaccard"], round(want_j, 6), abs_tol=1e-9)
    # all overlapping pairs reported
    srcs = sorted(grams)
    expect_pairs = {
        (a, b)
        for i, a in enumerate(srcs)
        for b in srcs[i + 1 :]
        if grams[a] & grams[b]
    }
    assert seen == expect_pairs


def test_farthest_point_sample_matches_numpy_greedy(spark):
    """K15: the selected exemplar sequence equals a numpy greedy
    max-min replay exactly (ids and distances) on sf0.001, and the
    min pairwise distance within the selected set beats a
    same-size id-prefix sample's (the whole point of the op)."""
    import math

    import numpy as np
    import pandas as pd

    from time_series_spark_spark.queries import REGISTRY

    emb = pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = {
        int(r.vec_id): np.array(r.embedding, dtype=np.float64)
        for r in emb.itertuples()
    }

    def greedy(k=8):
        sel = [min(vecs)]
        dists = [0.0]
        while len(sel) < k:
            best_id, best_d = None, -1.0
            for vid in sorted(vecs):
                if vid in sel:
                    continue
                d = min(
                    float(((vecs[vid] - vecs[s]) ** 2).sum()) for s in sel
                )
                if d > best_d + 1e-12:
                    best_id, best_d = vid, d
            sel.append(best_id)
            dists.append(math.sqrt(best_d))
        return sel, dists

    sel_ref, d_ref = greedy()
    rows = sorted(
        REGISTRY["emb_diverse_exemplars"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect(),
        key=lambda r: r["pick_order"],
    )
    assert [r["vec_id"] for r in rows] == sel_ref
    for r, d in zip(rows, d_ref):
        assert math.isclose(r["dist_at_pick"], round(d, 6), abs_tol=1e-6)

    def min_pairwise(ids):
        return min(
            float(((vecs[a] - vecs[b]) ** 2).sum()) ** 0.5
            for i, a in enumerate(ids)
            for b in ids[i + 1:]
        )

    prefix = sorted(vecs)[:8]
    assert min_pairwise(sel_ref) > min_pairwise(prefix)


def test_audio_window_features_matches_python_replay(spark):
    """K7c: per-window energy and zero-crossings equal a byte-level
    Python replay on sf0.001; window tiling is exact (offsets step by
    the hop, count = floor((len-32)/16)+1); a planted alternating
    'ababab' stream maximizes crossings while 'aaaa' has zero energy
    variance and zero crossings."""
    import pandas as pd

    from time_series_spark_spark.queries import REGISTRY

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    rows = (
        REGISTRY["docs_audio_window_features"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)

    def replay(text):
        v = [ord(c) - 96 for c in text]
        out = []
        for s in range(0, len(v) - 31, 16):
            w = v[s : s + 32]
            energy = sum(x * x for x in w)
            zcr = sum(
                1 for a, b in zip(w, w[1:]) if a * b < 0
            )
            out.append((s, energy, zcr))
        return out

    for d in docs.itertuples():
        if len(d.text) < 32:
            assert d.doc_id not in by_doc
            continue
        want = replay(d.text)
        got = sorted(
            by_doc[d.doc_id], key=lambda r: r["sample_offset"]
        )
        assert len(got) == len(want)
        for r, (off, e, z) in zip(got, want):
            assert (r["sample_offset"], r["energy_i64"],
                    r["zero_crossings"]) == (off, e, z)

    alt = replay("az" * 32)  # a=1, z=26 -> no sign change (both > 0)
    assert all(z == 0 for _, _, z in alt)
    mix = replay("a " * 32)  # space = -64 -> sign flips every step
    assert all(z == 31 for _, _, z in mix)


def test_dedup_impact_report_identities(spark):
    """K16: each strategy row's counts EQUAL the individual operators'
    outputs (exact_dedup keeper count; cluster keeper count), the
    none row is the full corpus, and aggressiveness is monotone."""
    from time_series_spark_spark.operators.graph import dup_clusters
    from time_series_spark_spark.operators.llm import (
        exact_dedup,
        ngram_jaccard_pairs,
    )
    from time_series_spark_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"
    d = load(spark, sf, "documents")
    rows = {
        r["strategy"]: r
        for r in REGISTRY["docs_dedup_impact_report"]
        .fn(spark, sf)
        .collect()
    }
    assert rows["none"]["docs_kept"] == d.count()
    assert rows["none"]["doc_retention"] == 1.0

    exact_n = exact_dedup(d).count()
    assert rows["exact_hash"]["docs_kept"] == exact_n

    pairs = ngram_jaccard_pairs(d, k=3, threshold=0.5)
    clusters = dup_clusters(d, pairs)
    keep_n = clusters.filter("is_canonical").count()
    assert rows["near_dup_cluster_keep_one"]["docs_kept"] == keep_n

    assert (
        rows["none"]["docs_kept"]
        >= rows["exact_hash"]["docs_kept"]
        >= rows["near_dup_cluster_keep_one"]["docs_kept"]
    )
    # the sf0.01 corpus plants near-dups: the cluster pass must bite
    assert rows["near_dup_cluster_keep_one"]["docs_kept"] < rows[
        "none"
    ]["docs_kept"]
    for r in rows.values():
        assert 0 < r["token_retention"] <= 1.0


def test_farthest_point_sample_guards(spark):
    """Degenerate inputs: NaN/Inf vectors are excluded (they would
    splice as invalid SQL literals and poison distances), k past the
    clean row count truncates instead of IndexError, and an all-bad
    frame returns []."""
    import math

    from time_series_spark_spark.operators.llm import farthest_point_sample

    rows = [
        (1, [0.0, 0.0]),
        (2, [3.0, 4.0]),
        (3, [float("nan"), 1.0]),
        (4, [float("inf"), 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sel = farthest_point_sample(df, k=5)
    assert [i for i, _ in sel] == [1, 2]  # 3, 4 excluded; k truncated
    assert sel[0][1] == 0.0 and abs(sel[1][1] - 5.0) < 1e-12
    assert all(math.isfinite(d) for _, d in sel)
    bad = spark.createDataFrame(
        [(7, [float("nan")])], "vec_id long, embedding array<double>"
    )
    assert farthest_point_sample(bad, k=3) == []



@pytest.mark.parametrize(
    "error", [ConnectionRefusedError(), ValueError("bug")], ids=["gateway_gone", "bug"]
)
def test_persist_replacing_swallows_only_a_gone_context(monkeypatch, error):
    from unittest import mock

    from time_series_spark_spark.operators import llm

    prev, new = mock.Mock(), mock.Mock()
    prev.unpersist.side_effect = error
    monkeypatch.setattr(llm, "_PERSISTED", {"t": prev})
    if isinstance(error, ValueError):
        with pytest.raises(ValueError):
            llm._persist_replacing("t", new)
    else:
        assert llm._persist_replacing("t", new) is new.persist.return_value
