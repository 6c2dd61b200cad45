"""LLM-training-data pipeline operators (SURVEY.md §2.K).

Deduplication (exact hash, MinHash+LSH, SimHash, exact n-gram Jaccard),
embedding similarity search (brute-force cosine + LSH scale path), text
analysis (tokenization, quality scoring, language-ID heuristic, BPE-ish
token counting, winnowing fingerprints), and multimodal binary-column
plumbing.

Scale design (100 TB corpus):
- exact dedup = one hash-shuffle (groupBy normalized-hash);
- near-dup = MinHash banding so the join key is the band hash, never an
  all-pairs comparison; the exact Jaccard path exists for oracle checking
  and uses a shingle-inverted-index join (pairs sharing ≥1 shingle), which
  is the standard similarity-join pruning;
- brute-force cosine top-k broadcasts only the (small) query set against
  the full corpus — the corpus side never shuffles; the LSH path buckets
  with AND-banded signed random projections (sign-LSH) so candidate
  generation is bounded by band-bucket collisions, never all-pairs;
- multimodal payloads ride as opaque ``binary`` columns with typed
  metadata; feature extraction streams batches through ``mapInPandas``
  (decoders are stubbed deterministically — the real image/audio libs are
  not in this container; the Spark-side plumbing is real).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from time_series_spark_spark.session import local_df
from pyspark.sql.window import Window

from time_series_spark_spark.functions.vectors import cosine

# --------------------------------------------------------------------------
# persisted-frame registry: the shingle frames below are consumed by several
# DAG branches of one returned plan, so they persist; re-invoking the same
# operator in a long-lived session (bench loops, test suites) must not
# accumulate cached blocks in executor storage. Each tag holds at most one
# cached frame — a new invocation unpersists its predecessor (whose consumer
# plan has normally been materialized by then; if not, it just recomputes).
# --------------------------------------------------------------------------
_PERSISTED: dict[str, DataFrame] = {}


def _persist_replacing(tag: str, df: DataFrame) -> DataFrame:
    prev = _PERSISTED.pop(tag, None)
    if prev is not None:
        try:
            prev.unpersist()
        except (Py4JError, OSError):
            # the context is stopped (Py4JJavaError) or the gateway is gone
            # (ConnectionRefusedError): nothing is cached any more
            pass
    out = df.persist()
    _PERSISTED[tag] = out
    return out

# --------------------------------------------------------------------------
# text normalization / tokenization
# --------------------------------------------------------------------------
def normalized_text(col: str = "text") -> Column:
    """lower → trim → collapse whitespace (the canonical dedup key)."""
    return F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")


def content_hash(col: str = "text") -> Column:
    return F.md5(normalized_text(col))


def tokens(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


def shingles_expr(tokens_col: str, k: int = 3) -> str:
    """Word k-gram shingles as a SQL expression over a token array.

    Guarded: Spark ``sequence(0, -1)`` DESCENDS, so short docs must map to
    an empty array explicitly.
    """
    parts = " , ' ', ".join(f"{tokens_col}[i + {j}]" for j in range(k))
    return (
        f"CASE WHEN size({tokens_col}) >= {k} THEN "
        f"transform(sequence(0, size({tokens_col}) - {k}), "
        f"i -> concat({parts})) "
        f"ELSE array() END"
    )


def shingle_set_udf(k: int = 3):
    """Arrow-vectorized distinct word-k-gram shingler: text → array<string>.

    Byte-identical output to ``array_distinct(shingles_expr(split(text)))``
    (same ' '-join, same first-occurrence dedup order) but ~8× faster —
    the HOF ``transform`` lambda is interpreted per element while this runs
    one Arrow batch per task. Used on the shingling hot paths (Jaccard /
    MinHash near-dup); the SQL-expression form remains for call sites that
    embed shingles inside larger JVM expressions (SimHash, UDTF).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _shingles(texts: pd.Series) -> pd.Series:
        def f(t):
            if t is None:
                return []
            w = t.split(" ")
            if len(w) < k:
                return []
            return list(
                dict.fromkeys(" ".join(w[i : i + k]) for i in range(len(w) - k + 1))
            )

        return texts.map(f)

    return _shingles


# --------------------------------------------------------------------------
# K1: exact dedup
# --------------------------------------------------------------------------
def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id document per normalized-content hash (one
    hash-shuffle; deterministic keeper)."""
    w = Window.partitionBy("_h").orderBy(id_col)
    return (
        df.withColumn("_h", content_hash(text_col))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def dedup_report(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row dataset-card summary of exact duplication."""
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(content_hash(text_col)).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(content_hash(text_col))).alias(
            "n_dupes"
        ),
    )


def bloom_partials(
    df: DataFrame,
    key: Column,
    m_bits: int = 1 << 22,
    k: int = 5,
) -> DataFrame:
    """Distributed Bloom filter over ``key`` as (word_idx, bits) int64
    partials — the incremental-dedup membership sketch.

    Each key sets ``k`` bit positions ``xxhash64(i, key) mod m_bits``; bits
    are packed 64 per word and OR-merged by one hash aggregation (map-side
    partial combine makes the shuffle ≤ m/64 rows per mapper). The result
    is bounded by ``m_bits/64`` rows REGARDLESS of input size and is
    mergeable across corpus batches by the same bit_or — the property that
    lets a 100 TB history compress to a few MB of filter state.
    """
    positions = F.array(
        *[F.pmod(F.xxhash64(F.lit(i), key), F.lit(m_bits)) for i in range(k)]
    )
    return (
        df.select(F.explode(positions).alias("pos"))
        .select(
            F.shiftright(F.col("pos"), 6).alias("word_idx"),
            F.expr("shiftleft(1L, cast(pos % 64 AS int))").alias("b"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("b").alias("bits"))
    )


def bloom_maybe_member(
    df: DataFrame,
    partials: DataFrame,
    key: Column,
    id_col: str = "doc_id",
    m_bits: int = 1 << 22,
    k: int = 5,
) -> DataFrame:
    """Flag each row of ``df`` whose ``key`` is POSSIBLY in the Bloom
    filter ``partials`` (same m_bits/k as ``bloom_partials``): all ``k``
    probed bits set ⇒ maybe-member (false positives possible, false
    negatives impossible). The filter collapses to ONE broadcast row
    holding a ``map<word_idx, bits>`` (≤ m/64 entries), so the probe
    side — the 100 TB side — is truly map-only: scan → one-row broadcast
    join → per-row ``forall`` over the k probe positions. No explode, no
    shuffle, no aggregation of the new batch at all.

    Returns ``df``'s ``id_col`` plus ``maybe_dup`` boolean.
    """
    positions = F.array(
        *[F.pmod(F.xxhash64(F.lit(i), key), F.lit(m_bits)) for i in range(k)]
    )
    filter_row = partials.agg(
        F.map_from_entries(
            F.collect_list(F.struct("word_idx", "bits"))
        ).alias("__bloom")
    )
    probe_all = (
        "forall(__pos, p -> coalesce("
        "(try_element_at(__bloom, p DIV 64) "
        "& shiftleft(1L, cast(p % 64 AS int))) != 0, false))"
    )
    return (
        df.select(F.col(id_col), positions.alias("__pos"))
        .join(F.broadcast(filter_row))
        .select(id_col, F.expr(probe_all).alias("maybe_dup"))
    )


# --------------------------------------------------------------------------
# K2: near-dup — exact n-gram Jaccard (oracle-checkable path)
# --------------------------------------------------------------------------
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold (exact).

    AllPairs/PPJoin prefix filtering (Bayardo et al., WWW'07): rank each
    document's shingles by global document frequency (rarest first) and
    index only the first ``|sh| − ⌈τ·|sh|⌉ + 1`` of them — any pair with
    Jaccard ≥ τ must collide on at least one prefix shingle, so joining
    prefix×prefix generates a complete candidate set while frequent
    shingles (the quadratic blowup at corpus scale) mostly fall outside
    prefixes. Two further PPJoin prunes run inside the candidate join:
    the length filter (J ≥ τ needs set sizes within a factor of τ) and
    the positional filter — a collision at prefix positions (i, j) can
    contribute at most ``1 + min(|a|−i, |b|−j)`` total common shingles,
    which must reach the overlap threshold ``⌈τ/(1+τ)·(|a|+|b|)⌉``.
    Candidates are then verified exactly with a codegen
    ``array_intersect`` on the full shingle sets — no exploded
    join+group-by over every colliding pair. Output: (id_a, id_b,
    jaccard), id_a < id_b — identical to a brute-force inverted-index
    join, which the DuckDB oracle computes.

    Everything after the shingling UDF runs on ``xxhash64`` int64
    shingle ids, not strings: the explode/shuffle rows are 8-byte longs
    and the verification intersect compares longs. A 64-bit collision
    merging two distinct shingles has probability ~n²/2⁶⁵ (≈1e-9 at the
    test corpus' 260k shingles) — negligible against the oracle.
    """
    sh = (
        df.select(F.col(id_col), shingle_set_udf(k)(text_col).alias("sh0"))
        .select(
            id_col, F.expr("transform(sh0, x -> xxhash64(x))").alias("sh")
        )
        .withColumn("n_sh", F.size("sh"))
    )
    # this frame is consumed by 4 DAG branches (freq, prefix, and both
    # verify joins) — persist so shingling is computed once, not per branch
    sh = _persist_replacing("jaccard_shingles", sh)
    inv = sh.select(id_col, "n_sh", F.explode("sh").alias("g"))
    freq = inv.groupBy("g").agg(F.count(F.lit(1)).alias("df_g"))
    w = Window.partitionBy(id_col).orderBy("df_g", "g")
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(float(threshold)) * F.col("n_sh")) + 1
    )
    prefix = (
        inv.join(freq, "g")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= prefix_len)
        .select(id_col, "n_sh", "rk", "g")
    )
    # overlap threshold: J = I/(na+nb−I) ≥ τ  ⟺  I ≥ τ/(1+τ)·(na+nb)
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("pna") + F.col("pnb"))
    )
    cand = (
        prefix.select(
            F.col(id_col).alias("id_a"),
            F.col("n_sh").alias("pna"),
            F.col("rk").alias("ra"),
            "g",
        )
        .join(
            prefix.select(
                F.col(id_col).alias("id_b"),
                F.col("n_sh").alias("pnb"),
                F.col("rk").alias("rb"),
                "g",
            ),
            "g",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("pna") >= threshold * F.col("pnb"))
            & (F.col("pnb") >= threshold * F.col("pna"))
            # positional filter: shingles common to both docs sit at
            # rank ≥ ra in a and ≥ rb in b of the shared global order,
            # so the overlap can't exceed 1 + min(remaining positions)
            & (
                F.lit(1)
                + F.least(
                    F.col("pna") - F.col("ra"), F.col("pnb") - F.col("rb")
                )
                >= min_overlap
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    verified = cand.join(
        sh.select(
            F.col(id_col).alias("id_a"),
            F.col("sh").alias("sha"),
            F.col("n_sh").alias("na"),
        ),
        "id_a",
    ).join(
        sh.select(
            F.col(id_col).alias("id_b"),
            F.col("sh").alias("shb"),
            F.col("n_sh").alias("nb"),
        ),
        "id_b",
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return (
        verified.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# K2: near-dup — MinHash + LSH (the 100 TB path)
# --------------------------------------------------------------------------
def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Approximate Jaccard similarity join via banded MinHash signatures.

    shingle → ``num_perm`` independent seeded xxhash64 "permutations",
    each reduced with a codegen ``min()`` aggregate (one hash-agg with 64
    min columns — the explode feeds map-side partial aggregation, so raw
    shingles never shuffle) → signature split into ``bands`` bands of
    ``num_perm // bands`` rows → docs joined on (band_idx, band_hash) →
    candidates verified with exact Jaccard (``array_intersect`` on the
    full shingle sets) ≥ threshold.

    AND-OR amplification: a pair with Jaccard J collides in ≥1 band with
    p = 1 − (1 − J^r)^b (r = rows/band). The defaults (b=32, r=2) give
    p ≈ 0.9999 at J = 0.5 and ≈ 0.003 at J = 0.01 — near-total recall at
    the dedup threshold while truly-dissimilar pairs almost never become
    candidates. ``pyspark.ml.feature.MinHashLSH.approxSimilarityJoin``
    amplifies OR-only (r = 1), so at b=8 even J = 0.1 pairs collide 57%
    of the time — its candidate set is quadratic-ish on any corpus with
    mild broad similarity; this implementation replaced it with identical
    output on the test corpora (6× at sf0.1, 28× on the 10× corpus,
    scaling ratio 11.6× → 2.4× — see PERF.md).

    Output: (id_a, id_b, jaccard_est) with id_a < id_b; jaccard_est is
    the exact shingle-set Jaccard of the surviving pair (precision 1.0
    by construction; recall is the banding curve above). Fixed seed →
    deterministic.
    """
    rows_per_band = num_perm // bands
    if rows_per_band * bands != num_perm:
        raise ValueError("num_perm must be divisible by bands")

    sh = _persist_replacing(
        "minhash_shingles",
        df.select(F.col(id_col), shingle_set_udf(k)(text_col).alias("sh"))
        .filter(F.size("sh") > 0)
        .withColumn("n_sh", F.size("sh")),
    )
    ex = sh.select(id_col, F.explode("sh").alias("g"))
    # permutation p = xxhash64(seed, p, shingle): an independent 64-bit
    # hash per permutation, entirely inside whole-stage codegen and safe
    # under ANSI mode (no overflow arithmetic); min() over it is the
    # minhash. The explode feeds map-side partial aggregation, so the
    # shuffle carries one 64-column signature row per (partition, doc).
    sig = ex.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.lit(seed), F.lit(p), F.col("g"))).alias(f"m{p}")
            for p in range(num_perm)
        ]
    )
    band_cols = [
        F.xxhash64(
            *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
        )
        for b in range(bands)
    ]
    banded = sig.select(
        id_col, F.posexplode(F.array(*band_cols)).alias("band", "bh")
    )
    # Bucket pair expansion WITHOUT a self-join (round 15, r14 verdict
    # item 4): the band self-join planned the whole 64-hash signature
    # aggregation twice (its two sides never share stages — broadcast
    # subtrees don't reuse, and the SMJ sides' exchanges sit above
    # asymmetric Reused/original children). Collecting each (band, bh)
    # bucket's ids instead gives sig ONE consumer chain: one exchange,
    # one list agg, singleton buckets dropped before any pair exists
    # (they produce none), and the i<j pair fan-out runs as a bounded
    # HOF over each bucket's sorted ids — bucket sizes are the banding
    # collision counts, tiny on a near-dup corpus at any scale. Same
    # candidate set as the join, made deterministic by the array sort.
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_expr = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )
    cand = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    verified = cand.join(
        sh.select(
            F.col(id_col).alias("id_a"),
            F.col("sh").alias("sha"),
            F.col("n_sh").alias("na"),
        ),
        "id_a",
    ).join(
        sh.select(
            F.col(id_col).alias("id_b"),
            F.col("sh").alias("shb"),
            F.col("n_sh").alias("nb"),
        ),
        "id_b",
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return (
        verified.withColumn("jaccard_est", jac)
        .filter(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", F.round("jaccard_est", 6).alias("jaccard_est"))
    )


# --------------------------------------------------------------------------
# K2: near-dup — SimHash
# --------------------------------------------------------------------------
def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """64-bit SimHash: per-bit majority vote over k-gram shingle hashes.
    Shingles (not bare tokens) keep the hash discriminative on small-
    vocabulary corpora. Entirely JVM-side (higher-order array fns over
    xxhash64)."""
    toks = df.select(F.col(id_col), tokens(text_col).alias("t"))
    # explode → one hash-agg with 64 codegen'd sum columns. An earlier
    # formulation ran the majority vote as 64 interpreted higher-order
    # aggregates per row — ~4 ms/doc, 20× slower than this shape; at corpus
    # scale the vote must live inside whole-stage codegen, and the explode
    # feeds a map-side partial aggregation so shingles never shuffle raw.
    hashed = (
        toks.select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform(array_distinct({shingles_expr('t', k)}), "
                    "x -> xxhash64(x))"
                )
            ).alias("h"),
        )
    )
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {b}) & 1 = 1"), 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    assemble = " | ".join(
        f"(CASE WHEN v{b} > 0 THEN shiftleft(1L, {b}) ELSE 0L END)"
        for b in range(64)
    )
    return votes.select(id_col, F.expr(assemble).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 10,
    n_bands: int = 8,
) -> DataFrame:
    """Candidate pairs via SimHash banding: split the 64-bit hash into
    ``n_bands`` bands; candidates share ≥1 identical band (pigeonhole: any
    pair with Hamming < n_bands is guaranteed a shared band), then keep
    pairs with total Hamming ≤ max_hamming. Banding bounds the join fan-out
    at corpus scale — a full all-pairs Hamming join is quadratic."""
    band_bits = 64 // n_bands
    sh = simhash(df, id_col, text_col).withColumn(
        "band",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), i -> "
                f"named_struct('i', i, 'v', "
                f"(simhash >> (i * {band_bits})) & {(1 << band_bits) - 1}))"
            )
        ),
    )
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("ha"), "band"
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("hb"), "band"
    )
    return (
        a.join(b, ["band"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.expr("ha ^ hb")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def weighted_reservoir_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    strata: list[str],
    k: int,
) -> DataFrame:
    """Deterministic weighted sample of exactly ``k`` items per stratum —
    A-Res weighted reservoir sampling (Efraimidis & Spiliotis 2006: keep
    the top-k items by ``u^(1/w)``, u uniform), with the uniform derived
    from ``md5(id)`` instead of an RNG so the sample is a pure function
    of the data: invariant under partition layout, reproducible across
    runs, and auditable (the lineage-stable property ``rand(seed)``
    cannot give on a cluster). Ranking uses the monotone equivalent
    ``ln(u)/w`` (both engines evaluate identical doubles).

    One window top-k per stratum — same single-shuffle shape as
    :func:`hash_sample_per_group`, generalized to weights.
    """
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        + 1
    ) / F.lit(4294967297.0)
    keyed = df.withColumn("__akey", F.log(u) / F.col(weight_col))
    w = Window.partitionBy(*strata).orderBy(
        F.desc("__akey"), F.col(id_col)
    )
    return (
        keyed.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(
            *strata,
            F.col(id_col),
            F.col(weight_col),
            F.round("__akey", 6).alias("sample_key"),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    len_col: str = "n_chars",
    prefix_key_len: int = 4,
    band: int = 16,
    max_dist: int = 8,
) -> DataFrame:
    """Near-dup pairs by **full-text** Levenshtein distance ≤ ``max_dist``,
    within (lang, length-band, char-prefix) blocks.

    Scale shape, in three bounded stages:

    1. **Candidate generation on a compact projection** — only
       ``(id, lang, len, bucket, first-prefix_key_len-chars)`` shuffles,
       never the text. Each doc is keyed by ``floor(len / band)``; the
       probe side explodes to bucket ±1, so every candidate pair meets on
       exactly ONE equi-join key ``(lang, bucket, prefix)`` — a hash
       join, never BNLJ. The char-prefix is the second blocking key
       (Christen 2012 standard blocking; an edit inside the first
       ``prefix_key_len`` chars escapes the block — the declared
       recall/cost compromise). Within the join, ``|Δlen| ≤ max_dist``
       prunes for free (edit distance ≥ length difference).
    2. **Text fetch** — two hash joins by id attach full text to the
       (small) surviving candidate set; the corpus shuffles its text at
       most twice, proportional to corpus size, not candidates².
    3. **Bounded verification** — JVM codegen ``levenshtein(a, b,
       threshold)`` (Spark ≥ 3.5) runs the banded O(len·max_dist) DP and
       returns -1 early when the distance exceeds ``max_dist``, so
       verification cost is linear in text length per candidate.
    """
    compact = df.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lg"),
        F.col(len_col).alias("ln"),
        F.substring(F.col(text_col), 1, prefix_key_len).alias("k2"),
        F.floor(F.col(len_col) / band).alias("bkt"),
    )
    probe = compact.select(
        F.col("id").alias("id_a"),
        F.col("lg"),
        F.col("ln").alias("ln_a"),
        F.col("k2"),
        F.explode(
            F.array(F.col("bkt") - 1, F.col("bkt"), F.col("bkt") + 1)
        ).alias("bkt"),
    )
    build = compact.select(
        F.col("id").alias("id_b"),
        F.col("lg"),
        F.col("ln").alias("ln_b"),
        F.col("k2"),
        F.col("bkt"),
    )
    candidates = probe.join(build, ["lg", "bkt", "k2"]).filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.col("ln_a") - F.col("ln_b")) <= max_dist)
    ).select("id_a", "id_b")
    texts = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    return (
        candidates.join(
            texts.select(F.col("id").alias("id_a"), F.col("t").alias("t_a")),
            "id_a",
        )
        .join(
            texts.select(F.col("id").alias("id_b"), F.col("t").alias("t_b")),
            "id_b",
        )
        .withColumn("dist", F.levenshtein("t_a", "t_b", max_dist).cast("long"))
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "dist")
    )


# --------------------------------------------------------------------------
# K3/K4: embedding similarity search
# --------------------------------------------------------------------------
def cosine_topk(
    df: DataFrame,
    query_ids: DataFrame | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    query_filter: Column | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the (small) query set
    against the corpus — the corpus never shuffles; ranking is a per-query
    window over rounded similarity with id tiebreak (deterministic)."""
    return _broadcast_query_topk(
        df, query_ids, id_col, vec_col, k, query_filter,
        score=cosine("query_vec", "cand_vec"), score_name="cos",
    )


def _broadcast_query_topk(
    df: DataFrame,
    query_ids: DataFrame | None,
    id_col: str,
    vec_col: str,
    k: int,
    query_filter: Column | None,
    score: Column,
    score_name: str,
) -> DataFrame:
    """Shared scaffolding for exact broadcast-query top-k retrieval
    (cosine and inner-product variants): broadcast the small query set,
    never shuffle the corpus, rank per query over the rounded score with
    an id tiebreak."""
    corpus = df.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cand_vec")
    )
    queries = df.filter(query_filter) if query_filter is not None else query_ids
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    scored = corpus.join(
        F.broadcast(q), F.col("cand_id") != F.col("query_id")
    ).withColumn(score_name, F.round(score, 6))
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score_name), F.asc("cand_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "cand_id", score_name, "rk")
    )


def cosine_pairs_threshold(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_blocks: int = 8,
) -> DataFrame:
    """All embedding pairs with cosine ≥ threshold (exact; the guarded
    small-N path — the LSH variant below is the corpus-scale path).

    Blocked-GEMM shape: vectors are hash-bucketed into ``n_blocks`` groups,
    each group packed into one row; the upper-triangle grid of block pairs
    (n_blocks·(n_blocks+1)/2 tasks) is crossed and each task computes its
    whole block-pair cosine matrix with one numpy matmul. This replaces a
    BNLJ whose interpreted-HOF cosine recomputed both norms per pair —
    measured 80 s → ~2 s on 2k×2k pairs at sf0.1. Data replicated is
    O(N·d·n_blocks); exact all-pairs stays quadratic in compute by nature,
    so LSH/IVF remain the corpus-scale path.

    numpy's fp64 matmul can differ from a sequential fold in the last ulp,
    so the numpy side only PRE-filters with a safety margin; the returned
    ``cos`` is re-derived and rounded JVM-side with the same expression the
    oracle uses (round-half-up), keeping cross-engine hashes stable.
    """
    from time_series_spark_spark.functions.vectors import as_double

    packed = (
        df.select(
            F.col(id_col).alias("id"), F.expr(as_double(vec_col)).alias("v")
        )
        .withColumn("blk", F.pmod(F.xxhash64("id"), F.lit(n_blocks)))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("id", "v")).alias("items"))
    )
    grid = (
        packed.select(F.col("blk").alias("blk_a"), F.col("items").alias("items_a"))
        .join(
            packed.select(
                F.col("blk").alias("blk_b"), F.col("items").alias("items_b")
            ),
            F.col("blk_a") <= F.col("blk_b"),
        )
        .repartition(n_blocks * (n_blocks + 1) // 2)
    )
    margin = threshold - 1e-6

    def _pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            for r in pdf.itertuples(index=False):
                ia = np.fromiter((x["id"] for x in r.items_a), dtype=np.int64)
                A = np.array([x["v"] for x in r.items_a], dtype=np.float64)
                ib = np.fromiter((x["id"] for x in r.items_b), dtype=np.int64)
                B = np.array([x["v"] for x in r.items_b], dtype=np.float64)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = (A @ B.T) / np.outer(
                        np.sqrt((A * A).sum(1)), np.sqrt((B * B).sum(1))
                    )
                keep = np.isfinite(cos) & (cos >= margin)
                if r.blk_a == r.blk_b:
                    # diagonal cell: both orientations + self-pairs present
                    keep &= ia[:, None] < ib[None, :]
                else:
                    # off-diagonal cell: each unordered pair appears exactly
                    # once, with arbitrary orientation — keep all, normalize
                    # to (min_id, max_id) below
                    keep &= ia[:, None] != ib[None, :]
                ii, jj = np.nonzero(keep)
                if ii.size == 0:
                    # empty pandas columns infer numeric dtypes that Arrow
                    # cannot convert to list<double> — yield nothing instead
                    continue
                lo_first = ia[ii] <= ib[jj]
                yield pd.DataFrame(
                    {
                        "id_a": np.where(lo_first, ia[ii], ib[jj]),
                        "id_b": np.where(lo_first, ib[jj], ia[ii]),
                        "va": [A[i].tolist() for i in ii],
                        "vb": [B[j].tolist() for j in jj],
                    }
                )

    cand = grid.mapInPandas(
        _pairs, "id_a long, id_b long, va array<double>, vb array<double>"
    )
    return (
        cand.withColumn("cos", F.round(cosine("va", "vb"), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def cosine_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    rows_per_band: int = 4,
    bands: int = 32,
    seed: int = 42,
) -> DataFrame:
    """All embedding pairs with cosine ≥ threshold — the corpus-scale shape:
    sign-LSH band buckets generate candidates, a per-bucket GEMM prefilters
    at ``threshold − ε``, and only the surviving pairs are re-verified
    JVM-side with the exact oracle-dialect rounded cosine.

    Plan: band codes (map-only pandas UDF, one GEMM per Arrow batch) →
    vectors shuffle ONCE per band into ``(band, bh)`` buckets (an equi-join
    key, so this distributes like any hash aggregation — there is no
    quadratic task grid and no O(N·d·n_blocks) broadcast-style replication
    like the exact ``cosine_pairs_threshold`` grid) → per-bucket upper-
    triangle GEMM emits candidate pairs ≥ threshold−ε (near-qualifying
    pairs only leave Python, so the following ``distinct`` and verify joins
    touch a result-sized frame, not a candidate-mass-sized one) → exact
    rounded cosine ≥ threshold.

    Recall is governed by the banding curve 1 − (1 − p^r)^b with
    p = 1 − θ/π; (r=4, b=32, seed=42) measures recall 1.0 vs the exact
    path on the synthetic corpus at sf0.01 AND sf0.1 (pinned in
    tests/test_llm.py). Compute is Σ_buckets n_b² per band — on clustered
    real corpora this prunes to near-linear; on an isotropic corpus with
    the threshold in the background tail (this synthetic data: max cos
    0.51–0.60) no LSH can prune far, and the measured candidate fraction
    ~0.86 is documented in PERF.md. Bucket skew at extreme scale is
    handled the standard way: cap/salt oversized buckets (doc-only here).
    """
    from time_series_spark_spark.functions.vectors import as_double

    banded = srp_band_hashes(
        df,
        id_col=id_col,
        vec_col=vec_col,
        rows_per_band=rows_per_band,
        bands=bands,
        seed=seed,
    )
    vecs = df.select(
        F.col(id_col).alias("id"), F.expr(as_double(vec_col)).alias("v")
    )
    margin = threshold - 1e-6

    # applyInPandas, not collect_list+mapInPandas: Arrow hands each bucket
    # as columnar numpy cells (np.stack is a memcpy), where struct-list
    # rows cost a Python object conversion per vector × per band —
    # measured as the dominant wall cost of the first version at 10×.
    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        A = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
        with np.errstate(divide="ignore", invalid="ignore"):
            n = np.sqrt((A * A).sum(1))
            cos = (A @ A.T) / np.outer(n, n)
        keep = (
            np.isfinite(cos) & (cos >= margin) & (ids[:, None] < ids[None, :])
        )
        ii, jj = np.nonzero(keep)
        return pd.DataFrame({"id_a": ids[ii], "id_b": ids[jj]})

    cand = (
        banded.join(vecs, "id")
        .groupBy("band", "bh")
        .applyInPandas(_pairs, "id_a long, id_b long")
        .distinct()
    )
    return (
        cand.join(
            vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va")),
            "id_a",
        )
        .join(
            vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb")),
            "id_b",
        )
        .withColumn("cos", F.round(cosine("va", "vb"), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def srp_band_hashes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_band: int = 6,
    bands: int = 24,
    seed: int = 42,
) -> DataFrame:
    """Signed-random-projection signatures, AND-banded (Charikar 2002
    sign-LSH + the banding construction of ``minhash_lsh_pairs``).

    Each vector gets ``rows_per_band × bands`` sign bits (one per random
    Gaussian hyperplane; two vectors agree on a bit with p = 1 − θ/π).
    Bits are packed into ``bands`` band-codes of ``rows_per_band`` bits —
    a pair collides in a band only if ALL its bits match (AND), and
    becomes a candidate if ANY band collides (OR): collision prob
    1 − (1 − p^r)^b, steep around the similarity of interest instead of
    the OR-only r=1 curve of ``pyspark.ml`` LSH, whose candidate set
    grows quadratic-ish on any mildly self-similar corpus (measured for
    MinHash in PERF.md; the same failure mode motivated this rewrite).

    The projection matrix is derived deterministically from ``seed`` +
    the vector dimension INSIDE the iterator-UDF (one RandomState per
    Arrow task, one BLAS GEMM per batch) — no fit step, no driver-side
    collect, nothing shipped but the seed.

    Returns (id, band, bh): ``bands`` rows per input vector.
    """
    n_bits = rows_per_band * bands

    @F.pandas_udf("array<long>")
    def _bands(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        R = None
        w = 1 << np.arange(rows_per_band, dtype=np.int64)
        for s in it:
            if len(s) == 0:
                yield pd.Series([], dtype=object)
                continue
            M = np.array(s.tolist(), dtype=np.float64)
            if R is None:
                R = np.random.RandomState(seed).standard_normal(
                    (M.shape[1], n_bits)
                )
            bits = (M @ R) > 0
            out = np.zeros((len(M), bands), dtype=np.int64)
            for b in range(bands):
                out[:, b] = (
                    bits[:, b * rows_per_band : (b + 1) * rows_per_band] @ w
                )
            yield pd.Series(list(out))

    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_bands(F.col(vec_col))).alias("band", "bh"),
    )


def srp_lsh_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_queries: int = 10,
    rows_per_band: int = 6,
    bands: int = 24,
    seed: int = 42,
) -> DataFrame:
    """K3 ANN scale path: AND-banded sign-LSH candidates + exact cosine
    rerank of candidates only.

    Plan shape: band signatures for the corpus (map-only pandas UDF) →
    hash equi-join of query bands vs corpus bands on ``(band, bh)`` —
    candidates are bounded by band-bucket collisions with the AND-window
    ``rows_per_band`` as the pruning knob (tests pin the candidate count
    on a clustered corpus to a small multiple of corpus size; the
    OR-only ``pyspark.ml`` LSH this replaced had no such bound) → exact
    cosine on the surviving (query, candidate) pairs only → per-query
    window top-k with id tiebreak. Recall on a near-orthogonal corpus
    (the hardest case for any LSH) is pinned ≥ 0.5 in tests; measured
    0.8 at (r=6, b=24) with ~0.3·N candidates per query.
    """
    banded = srp_band_hashes(
        df,
        id_col=id_col,
        vec_col=vec_col,
        rows_per_band=rows_per_band,
        bands=bands,
        seed=seed,
    )
    qb = banded.filter(F.col("id") < n_queries).select(
        F.col("id").alias("query_id"), "band", "bh"
    )
    cand = (
        qb.join(
            banded.select(F.col("id").alias("cand_id"), "band", "bh"),
            ["band", "bh"],
        )
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    vecs = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vv"))
    scored = (
        cand.join(
            vecs.select(
                F.col("vid").alias("query_id"), F.col("vv").alias("qv")
            ),
            "query_id",
        )
        .join(
            vecs.select(F.col("vid").alias("cand_id"), F.col("vv").alias("cv")),
            "cand_id",
        )
        .withColumn("cos_est", F.round(cosine("qv", "cv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_est"), F.col("cand_id")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("query_id", "cand_id", "cos_est")
    )


# --------------------------------------------------------------------------
# K5/K6: text analysis & quality
# --------------------------------------------------------------------------
BPE_ISH_TOKEN_RE = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"


def text_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality metrics: token counts (whitespace + BPE-ish regex),
    lexical diversity, mean token length — all JVM-side."""
    t = tokens(text_col)
    return (
        df.withColumn("n_tokens", F.size(t))
        .withColumn(
            "n_bpe_tokens",
            F.size(
                F.regexp_extract_all(
                    F.col(text_col), F.lit(BPE_ISH_TOKEN_RE), F.lit(0)
                )
            ),
        )
        .withColumn(
            "distinct_ratio",
            F.size(F.array_distinct(t)).cast("double") / F.size(t),
        )
        .withColumn(
            "mean_token_len",
            F.expr(
                f"aggregate(split({text_col}, ' '), 0D, (s, x) -> s + length(x))"
            )
            / F.size(t),
        )
    )


LANG_STOPWORDS: dict[str, list[str]] = {
    # minimal high-frequency function-word profiles (public knowledge)
    "en": ["the", "and", "of", "to", "in", "is", "a", "that"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "que"],
    "es": ["el", "la", "de", "que", "los", "es", "un", "una"],
}


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language-ID: CJK codepoints → zh, else argmax stopword
    overlap (ties & zero overlap → 'und'). A real system would use char
    n-gram profiles; the operator shape (pure column expressions, no UDF)
    is the point."""
    t = F.array_distinct(tokens(text_col))
    scores = {
        lang: F.size(
            F.array_intersect(t, F.array(*[F.lit(w) for w in words]))
        )
        for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.when(
        F.col(text_col).rlike(r"[一-鿿]"), F.lit("zh")
    ).when(best <= 0, F.lit("und"))
    for lang in sorted(LANG_STOPWORDS):  # deterministic tie order
        pred = pred.when(scores[lang] == best, F.lit(lang))
    out = df.withColumn("pred_lang", pred)
    for lang, s in scores.items():
        out = out.withColumn(f"score_{lang}", s)
    return out


# --------------------------------------------------------------------------
# K5: winnowing document fingerprints (rolling-hash scheme)
# --------------------------------------------------------------------------
def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing (Schleimer et al. 2003): hash k-gram shingles, keep the
    minimum hash of every sliding window of ``window`` hashes, dedupe.
    The selected set is a position-robust document signature."""
    toks = df.select(F.col(id_col), tokens(text_col).alias("t"))
    sh = toks.withColumn("sh", F.expr(shingles_expr("t", k)))
    hs = sh.withColumn("hs", F.expr("transform(sh, s -> xxhash64(s))"))
    fp = hs.withColumn(
        "fps",
        F.expr(
            f"CASE WHEN size(hs) >= {window} THEN "
            f"array_distinct(transform(sequence(0, size(hs) - {window}), "
            f"i -> array_min(slice(hs, i + 1, {window})))) "
            "ELSE array_distinct(CASE WHEN size(hs) > 0 THEN array(array_min(hs)) ELSE array() END) END"
        ),
    )
    return fp.select(id_col, "fps", F.size("fps").alias("n_fingerprints"))


# --------------------------------------------------------------------------
# K2d: cross-document duplicated-span statistics (substring dedup diagnostic)
# --------------------------------------------------------------------------
def dup_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document duplicated-span statistics: how many of a document's
    word ``w``-gram positions also occur in at least one OTHER document.

    This is the word-n-gram approximation of exact substring dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL 2022 — there via suffix arrays, which don't distribute;
    fixed-width gram hashing is the standard shuffle-friendly stand-in).
    Docs shorter than ``w`` tokens contribute no grams and are absent
    from the output — callers count only span-eligible docs.

    Scale shape: the gram explode is a map-side ``w``×-token blowup
    feeding ONE aggregation keyed (gram_hash, doc) — never all-pairs —
    then a window keyed gram_hash whose partition size is bounded by the
    number of docs containing that gram (threshold/sample grams hotter
    than ~corpus-stopword level before the window at extreme scale), and
    a final per-doc roll-up. Grams travel as xxhash64 longs, not strings.

    Returns: (id_col, *carry_cols, n_grams, n_dup) — both counts long.
    """
    from time_series_spark_spark.operators.packed import fan_out

    # fan the slim projection out so the gram explode isn't serialized
    # on the scan's split count (no-op on a well-split corpus, §2.5)
    toks = fan_out(
        df.select(F.col(id_col), *[F.col(c) for c in carry_cols], text_col)
    ).select(
        F.col(id_col), *[F.col(c) for c in carry_cols], tokens(text_col).alias("t")
    )
    # Hash token tuples directly inside the lambda — never materialize the
    # w-word gram string. Varargs xxhash64 is length-aware, so ("ab","c")
    # and ("a","bc") hash differently; the shuffle carries longs only.
    args = ", ".join(f"t[i + {j}]" for j in range(w))
    gram_hash_expr = (
        f"CASE WHEN size(t) >= {w} THEN "
        f"transform(sequence(0, size(t) - {w}), i -> xxhash64({args})) "
        f"ELSE array() END"
    )
    grams = toks.select(
        id_col, *carry_cols, F.explode(F.expr(gram_hash_expr)).alias("gh")
    )
    # One exchange serves both the (gh, doc) aggregate and the gh window:
    # hash-partitioning on gh alone satisfies ClusteredDistribution for
    # both, so pre-partitioning here collapses what would otherwise be two
    # full shuffles of the gram stream into one.
    gram_doc = (
        grams.repartition("gh")
        .groupBy("gh", id_col)
        .agg(
            F.count(F.lit(1)).alias("c"),
            *[F.first(c).alias(c) for c in carry_cols],
        )
    )
    n_docs_with_gram = F.count(F.lit(1)).over(Window.partitionBy("gh"))
    flagged = gram_doc.withColumn("nd", n_docs_with_gram)
    return flagged.groupBy(id_col).agg(
        *[F.first(c).alias(c) for c in carry_cols],
        F.sum("c").alias("n_grams"),
        F.sum(F.when(F.col("nd") >= 2, F.col("c")).otherwise(0)).alias("n_dup"),
    )


def char_ngram_lm_scores(
    df: DataFrame,
    train: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: float = 0.5,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Language-model quality score per document: mean log-probability
    (and perplexity) under an add-k-smoothed character ``n``-gram model
    trained on ``train`` — the CCNet-style LM quality filter (Wenzek et
    al., LREC 2020 rank web text by LM perplexity; a char-ngram model
    stands in for KenLM, which is unavailable and non-distributable).

    ``P(c_i | ctx) = (C(ctx·c_i) + k) / (C(ctx) + k·V)`` with V the
    trained character-vocabulary size; ``ppl = exp(−mean log P)``.
    ``n >= 2``: the context is the preceding ``n − 1`` characters. Docs
    shorter than ``n`` chars have no prediction positions and are
    absent from the output (both engines).

    Scale shape: the model is one count table bounded by charset^n
    (NOT corpus size) holding both gram widths (distinct by string
    length), built by ONE hash agg over one explode of the train
    slice and broadcast once (the second scoring join reuses the same
    broadcast); scoring explodes the corpus into char n-grams and
    broadcast-joins the count table twice, so the corpus shuffles only
    its per-doc partial sums (one hash agg keyed ``id_col``).
    Everything is codegen; the only Python is this function body.
    """
    if n < 2:
        raise ValueError(f"char_ngram_lm_scores needs n >= 2, got n={n}")

    def gram_array(width: int) -> str:
        # positions 1..len-width+1, substring in codegen
        return (
            f"CASE WHEN length(__txt) >= {width} THEN "
            f"transform(sequence(1, length(__txt) - {width} + 1), "
            f"i -> substring(__txt, i, {width})) ELSE array() END"
        )

    def grams(frame: DataFrame, width: int, out: str, *extra: str) -> DataFrame:
        return frame.select(
            *extra, F.explode(F.expr(gram_array(width))).alias(out)
        )

    from time_series_spark_spark.operators.packed import fan_out

    # every downstream stage is a compute-bound char-gram explode whose
    # parallelism is otherwise capped at the scan's split count (ONE
    # task on the local single-row-group file); fan the slim text
    # projection out first — a no-op when the scan is already split
    # (guide §2.5).
    tr = fan_out(train.select(F.lower(F.col(text_col)).alias("__txt")))
    # An (n-1)-char string never equals an n-char string, so ONE
    # g-keyed count table serves as both the n-gram and the
    # (n-1)-gram model: one explode + one hash agg + one broadcast
    # build, and the second scoring join resolves to a ReusedExchange
    # of the same broadcast. (A width-MARKED union explode keyed
    # (w, g) was tried earlier and REVERTED — joining it per width
    # pushes the w= filter below each BroadcastExchange, so the
    # subtrees stop canonicalizing equal and every join rebuilds the
    # explode. Keying by g alone keeps both broadcast subtrees
    # byte-identical, which is what makes the reuse fire.)
    both_widths = f"concat({gram_array(n)}, {gram_array(n - 1)})"
    counts = (
        tr.select(F.explode(F.expr(both_widths)).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tri_counts = counts.select(
        F.col("g").alias("g3"), F.col("c").alias("c3")
    )
    bi_counts = counts.select(
        F.col("g").alias("g2"), F.col("c").alias("c2")
    )
    # vocab stays its own tiny pass: V must reach every scored row even
    # when both gram joins miss, and deriving it from the broadcast
    # table via a crossJoin'd aggregate would re-execute the explode
    # lineage (aggregates above a broadcast subtree never reuse it).
    vocab = grams(tr, 1, "ch").agg(
        F.countDistinct("ch").alias("__v")
    )

    corpus = fan_out(
        df.select(
            F.col(id_col), *[F.col(c) for c in carry_cols],
            F.lower(F.col(text_col)).alias("__txt"),
        )
    )
    scored = (
        grams(corpus, n, "g3", id_col, *carry_cols)
        .withColumn("g2", F.substring("g3", 1, n - 1))
        .join(F.broadcast(tri_counts), "g3", "left")
        .join(F.broadcast(bi_counts), "g2", "left")
        .join(F.broadcast(vocab))
        .withColumn(
            "__logp",
            F.log(
                (F.coalesce(F.col("c3"), F.lit(0)) + F.lit(float(k)))
                / (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(float(k)) * F.col("__v"))
            ),
        )
        .groupBy(id_col)
        .agg(
            *[F.first(c).alias(c) for c in carry_cols],
            F.count(F.lit(1)).alias("n_grams"),
            F.avg("__logp").alias("__avg"),
        )
    )
    return scored.select(
        id_col,
        *carry_cols,
        "n_grams",
        F.round("__avg", 6).alias("mean_logp"),
        F.round(F.exp(-F.col("__avg")), 4).alias("ppl"),
    )


def remove_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The REMOVAL counterpart of :func:`dup_span_stats` — exact
    substring dedup as a cleaning operator (Lee et al. ACL 2022 remove
    duplicated spans; here the shuffle-friendly word-``w``-gram variant).

    Semantics (deterministic, order-free): a token position is removed
    iff SOME ``w``-gram covering it occurs in ≥ 2 documents AND this doc
    is not the gram's canonical owner (min doc id). The canonical owner
    keeps its copy, so every duplicated span survives exactly once in
    the corpus; docs shorter than ``w`` tokens are untouched.

    Scale shape: gram explode → ONE hash agg keyed gram-hash for
    (n_docs, min_doc) stats → equi-join back to gram occurrences →
    per-doc collect of bad span starts (bounded by the doc's dup
    density) → higher-order-function filter of the token array, all in
    codegen. Per-doc filter cost is O(n_tokens × n_bad_starts); a
    pathological spam page bounds it at n², the same page every
    dedup pipeline truncates upstream.

    Returns (id_col, *carry_cols, n_tokens, n_removed, cleaned_hash) —
    ``cleaned_hash`` = md5 of the kept tokens joined by spaces, so the
    cleaned text is verifiable without moving it.
    """
    from time_series_spark_spark.operators.packed import shuffle_parallelism

    # Fan the slim projection out keyed on id_col, not round-robin
    # (round 15): same bytes through the same one exchange (guide §2.5
    # parallelism for the gram explode and the final HOF/md5 pass), but
    # hash(id_col) is ALSO the final join's distribution, so the
    # bads→toks attach needs no further exchange and no broadcast. The
    # earlier broadcast shape re-ran the whole gram pipeline inside the
    # broadcast subtree (nested query-stage reuse does not fire across
    # broadcast-stage boundaries — measured: Generate ×2, both the occ
    # explode and the gh exchange executed twice per run).
    toks = df.select(
        F.col(id_col), *[F.col(c) for c in carry_cols], text_col
    ).repartition(shuffle_parallelism(df), id_col).select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.split(F.coalesce(F.col(text_col), F.lit("")), " ").alias("t"),
    )
    args = ", ".join(f"t[i + {j}]" for j in range(w))
    gram_expr = (
        f"CASE WHEN size(t) >= {w} THEN "
        f"transform(sequence(0, size(t) - {w}), "
        f"i -> struct(i AS s, xxhash64({args}) AS gh)) "
        f"ELSE array() END"
    )
    # Per-gram stats as WINDOW functions over ONE gh exchange instead of
    # a stats aggregation self-joined back to the occurrences (round 15,
    # guide §2.4): the self-join shape planned the gram explode TWICE —
    # the stats branch's exchange sits above a ReusedExchange while the
    # occurrence branch's sits above the original, so the two gh
    # exchanges never canonicalize equal and stage reuse cannot collapse
    # them (measured: Generate ×2 per run, broadcast or shuffle join
    # alike). A gram is duplicated across documents iff
    # min(doc) < max(doc) within its gh window — exactly countDistinct
    # >= 2 — and the removal rule keeps min(doc) as the canonical owner,
    # so the window form is row-for-row identical with no join at all.
    occ = (
        toks.select(id_col, F.explode(F.expr(gram_expr)).alias("o"))
        .select(id_col, F.col("o.s").alias("s"), F.col("o.gh").alias("gh"))
        .repartition("gh")
    )
    wgh = Window.partitionBy("gh")
    bads = (
        occ.withColumn("mind", F.min(id_col).over(wgh))
        .withColumn("maxd", F.max(id_col).over(wgh))
        .filter(
            (F.col("mind") < F.col("maxd")) & (F.col("mind") < F.col(id_col))
        )
        .groupBy(id_col)
        .agg(F.collect_set("s").alias("bads"))
    )
    # token j (0-based) is covered iff some bad start s ∈ [j-w+1, j]
    kept = (
        f"filter(t, (x, j) -> "
        f"NOT exists(bads, s -> s BETWEEN j - {w - 1} AND j))"
    )
    return (
        # both sides are already hash(id_col)-distributed (toks by the
        # fan-out exchange, bads by its aggregation), so the shuffle-hash
        # join attaches the bad spans with no exchange and no broadcast
        # subtree
        toks.join(bads.hint("SHUFFLE_HASH"), id_col, "left")
        .withColumn("bads", F.coalesce(F.col("bads"), F.expr("array()")))
        .select(
            id_col,
            *carry_cols,
            F.size("t").cast("long").alias("n_tokens"),
            (F.size("t") - F.size(F.expr(kept))).cast("long").alias("n_removed"),
            F.md5(F.array_join(F.expr(kept), " ")).alias("cleaned_hash"),
        )
    )


def contamination_stats(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Benchmark-contamination check: per corpus document, how many of its
    word ``w``-gram positions also occur anywhere in ``benchmark``.

    This is the decontamination test used for LLM training sets (Brown et
    al. 2020 appendix C flags train docs sharing any 13-gram with an eval
    set; Chowdhery et al. 2022 §6 does the same at 8-grams) — here
    parametrized by ``w`` since corpus documents are short.

    Scale shape: benchmark w-grams are hashed to a DISTINCT set of int64s
    (eval suites are tiny next to a training corpus) and broadcast; the
    corpus side streams through one explode + broadcast LEFT SEMI-shaped
    join (implemented as a left join + flag so the gram COUNT survives) +
    one per-doc roll-up keyed on ``id_col``. The corpus never shuffles on
    gram — only the per-doc aggregate moves, and docs with zero grams
    (< w tokens) are preserved with n_grams = 0 via the left explode.

    Returns: (id_col, *carry, n_grams, n_hit) — n_hit > 0 ⇒ contaminated.
    """
    args = ", ".join(f"t[i + {j}]" for j in range(w))
    gram_hash_expr = (
        f"CASE WHEN size(t) >= {w} THEN "
        f"transform(sequence(0, size(t) - {w}), i -> xxhash64({args})) "
        f"ELSE array() END"
    )

    def grams(df: DataFrame, *extra: str) -> DataFrame:
        toks = df.select(
            F.col(id_col), *[F.col(c) for c in extra], tokens(text_col).alias("t")
        )
        return toks.select(
            id_col, *extra, F.explode_outer(F.expr(gram_hash_expr)).alias("gh")
        )

    bench_grams = grams(benchmark).select("gh").na.drop().distinct()
    hits = (
        grams(corpus, *carry_cols)
        .join(F.broadcast(bench_grams.withColumn("_hit", F.lit(1))), "gh", "left")
        .groupBy(id_col)
        .agg(
            *[F.first(c).alias(c) for c in carry_cols],
            F.count("gh").alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
    )
    return hits


def chunk_token_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document's token stream into fixed-width training windows
    (chunk ``size`` tokens, step ``stride`` — overlapping when
    stride < size), the standard corpus→context-window prep step.

    Chunk count for an n-token doc: 1 if n ≤ size else
    1 + ⌈(n − size)/stride⌉, computed in integer math so the Spark plan
    and any SQL oracle agree exactly. NULL docs yield no chunks; an
    empty-string doc follows split semantics (split('', ' ') = [''],
    one token) and yields one chunk of the empty token — identical in
    Spark and DuckDB, so the oracle agrees.

    Scale shape: pure per-row codegen (sequence → explode → slice) — zero
    shuffles, zero joins; output size is input tokens × (size/stride)
    overlap factor, linear in corpus size. The chunk text itself is
    emitted as an md5 so downstream comparisons move 32-byte digests, not
    windows.
    """
    n = F.size(tokens(text_col))
    # The ceil-div reuses the SAME n Column as the slice math below —
    # deriving it twice from text_col would silently diverge if tokens()
    # ever changes.
    n_chunks = (
        F.when(n <= 0, F.lit(0))
        .when(n <= size, F.lit(1))
        .otherwise(
            F.lit(1)
            + F.floor((n - F.lit(size) + F.lit(stride - 1)) / F.lit(stride))
        )
    )
    return (
        df.select(
            F.col(id_col),
            tokens(text_col).alias("t"),
            F.explode(
                F.when(
                    n_chunks > 0, F.sequence(F.lit(0), n_chunks.cast("int") - 1)
                ).otherwise(F.expr("array()"))
            ).alias("chunk_idx"),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.slice(
                F.col("t"), F.col("chunk_idx") * stride + 1, size
            ).alias("c"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.size("c").cast("long").alias("n_tokens"),
            F.md5(F.array_join("c", " ")).alias("chunk_hash"),
        )
    )


# --------------------------------------------------------------------------
# K5b: intra-document repetition metrics (Gopher-style quality signals)
# --------------------------------------------------------------------------
def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Per-document duplicate-n-gram counts — the token-level analogue of
    the Gopher repetition filters (Rae et al. 2021 §A1.1: fraction of
    duplicated n-grams flags boilerplate/degenerate text).

    For each n in ``ns`` adds ``n_{n}gram`` (total n-gram positions) and
    ``d_{n}gram`` (distinct n-grams); the duplicate fraction is
    ``1 − d/n`` but is left to callers as integer counts so downstream
    comparisons stay exact. Entirely per-row higher-order functions —
    codegen, zero shuffles, zero joins: the cheapest possible shape.
    """
    out = df.withColumn("__t", tokens(text_col))
    for n in ns:
        gexpr = "__t" if n == 1 else f"({shingles_expr('__t', n)})"
        out = out.withColumn(
            f"n_{n}gram", F.expr(f"size({gexpr})").cast("long")
        ).withColumn(
            f"d_{n}gram", F.expr(f"size(array_distinct({gexpr}))").cast("long")
        )
    return out.drop("__t")


# --------------------------------------------------------------------------
# K7: multimodal binary columns
# --------------------------------------------------------------------------
def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Carry an opaque binary payload + typed metadata struct (the schema
    pattern for image/audio/video columns at 100 TB: payloads stay opaque
    bytes, metadata is columnar and prunable)."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.octet_length(payload).alias("n_bytes"),
            F.sha2(payload, 256).alias("content_hash"),
            F.lit("text/plain").alias("mime"),
        ),
    )


def extract_multimodal_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    n_features: int = 4,
) -> DataFrame:
    """Decode/extract features from binary payloads via ``mapInPandas``
    (Arrow-batched; partition-parallel). The real decoder is STUBBED —
    image/audio libraries are not installed in this container — with a
    deterministic byte-statistics featurizer so the Spark-side plumbing
    (schema, batching, UDF signature) is real and testable.
    """
    schema = f"{id_col} long, n_bytes int, features array<float>"

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:  # pragma: no cover - decoders absent by design
            import PIL.Image  # noqa: F401

            raise NotImplementedError(
                "real media decoding not available in this environment"
            )
        except ImportError:
            pass
        for pdf in batches:
            payloads = pdf[payload_col]
            feats = [
                [
                    float(len(b) % 251) / 251.0,
                    float(b[0]) / 255.0 if len(b) else 0.0,
                    float(b[-1]) / 255.0 if len(b) else 0.0,
                    float(sum(b[:16])) / 4080.0 if len(b) else 0.0,
                ][:n_features]
                for b in payloads
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": payloads.map(len).astype("int32"),
                    "features": feats,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(featurize, schema)


# --------------------------------------------------------------------------
# K3: IVF (inverted-file) approximate nearest neighbors — the second scale
# path alongside BRP-LSH
# --------------------------------------------------------------------------
_IVF_QUANTIZERS: dict[str, object] = {}


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_queries: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    quantizer_key: str | None = None,
) -> DataFrame:
    """IVF ANN: KMeans coarse quantizer → per-query probe of the ``n_probe``
    nearest cells → exact cosine rerank inside the probed cells only.

    100 TB shape: the corpus is scanned once to assign cells (one narrow
    shuffle-free ``transform``), the probe list (queries × n_probe rows) is
    broadcast, and the rerank join touches ~``n_probe/n_clusters`` of the
    corpus instead of all of it. Everything driver-side is O(n_clusters ×
    dim) — centroids only; no per-query driver loop.

    ``quantizer_key``: at scale the coarse quantizer is a STORED ARTIFACT —
    fit once when the index is built, reused by every query run (KMeans
    refitting was ~80% of this operator's wall time when refit per
    invocation). Passing a key caches the fitted model in-process under
    that key; callers must change the key when the underlying corpus
    changes (the registered query keys by sf_dir).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from time_series_spark_spark.functions.vectors import unit_normalize

    unit = df.select(
        id_col, unit_normalize(vec_col).alias("uv")
    ).withColumn("v", array_to_vector("uv"))
    model = _IVF_QUANTIZERS.get(quantizer_key) if quantizer_key else None
    if model is None:
        km = KMeans(
            k=n_clusters, seed=seed, featuresCol="v", predictionCol="cell"
        )
        model = km.fit(unit)
        if quantizer_key:
            _IVF_QUANTIZERS[quantizer_key] = model
    corpus = model.transform(unit).select(
        F.col(id_col).alias("cand_id"),
        F.col("uv").alias("cand_vec"),
        "cell",
    )

    # centroid table: tiny (n_clusters × dim) — built driver-side, broadcast.
    centroids = local_df(df.sparkSession, 
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )

    # probe list: rank cells per query by cosine to centroid, keep n_probe.
    q = model.transform(
        unit.filter(F.col(id_col) < n_queries)
    ).select(F.col(id_col).alias("query_id"), F.col("uv").alias("query_vec"))
    w_cell = Window.partitionBy("query_id").orderBy(
        F.desc("c_cos"), F.asc("cell")
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("c_cos", cosine("query_vec", "centroid"))
        .withColumn("c_rk", F.row_number().over(w_cell))
        .filter(F.col("c_rk") <= n_probe)
        .select("query_id", "query_vec", "cell")
    )

    # exact rerank inside probed cells only.
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn("cos", F.round(cosine("query_vec", "cand_vec"), 6))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "cand_id", "cos", "rk")
    )


def sq8_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_queries: int = 10,
    refine_factor: int = 4,
) -> DataFrame:
    """Scalar-quantized (int8) cosine top-k with exact rescoring.

    The memory-bound ANN path: the corpus is quantized to ``array<tinyint>``
    (4× smaller than float32, 8× than the double widening the exact path
    uses), candidate generation scores QUANTIZED vectors entirely in
    codegen integer arithmetic, and only the top ``k·refine_factor``
    candidates per query are rescored with exact float cosine. At 100 TB
    the quantized corpus is what you'd persist (and scan); float vectors
    are touched for ~k·refine rows per query via a broadcast semi-join of
    candidate ids — the float table never shuffles.

    Quantization is symmetric global max-abs: ``q = round(127·x/maxabs)``,
    computed as a 1-row aggregate cross-joined back (broadcast), so the
    whole pipeline is one declarative lineage — no driver-side scalar
    fetch, no second pass over raw data.

    Int dot products are exact (≤ 64·127² ≪ 2⁶³), so candidate ranking is
    deterministic; the final ``cos``/``rk`` come from the same rounded
    float expression as the exact path (tiebreak on cand_id).
    """
    maxabs = df.select(
        F.max(
            F.expr(
                f"aggregate(transform({vec_col}, x -> abs(cast(x AS double))), "
                f"0D, (s, v) -> greatest(s, v))"
            )
        ).alias("maxabs")
    )
    quant = F.transform(
        F.col(vec_col),
        lambda x: F.round(x / F.col("maxabs") * 127, 0).cast("tinyint"),
    )
    base = df.crossJoin(F.broadcast(maxabs)).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("fv"),
        quant.alias("qv"),
    )
    int_dot = F.expr(
        "aggregate(zip_with(q_qv, cand_qv, (x, y) -> cast(x AS bigint) * y), "
        "0L, (s, v) -> s + v)"
    )
    int_sqn = "aggregate({c}, 0L, (s, x) -> s + cast(x AS bigint) * x)"
    corpus = base.select(
        F.col("id").alias("cand_id"),
        F.col("qv").alias("cand_qv"),
        F.expr(int_sqn.format(c="qv")).alias("cand_sq"),
    )
    q = base.filter(F.col("id") < n_queries).select(
        F.col("id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.expr(int_sqn.format(c="qv")).alias("q_sq"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("qcos"), F.asc("cand_id")
    )
    cands = (
        corpus.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "qcos",
            int_dot / F.sqrt(F.col("cand_sq").cast("double") * F.col("q_sq")),
        )
        .withColumn("qrk", F.row_number().over(w))
        .filter(F.col("qrk") <= k * refine_factor)
        .select("query_id", "cand_id")
    )
    # exact rescore: float vectors only for the candidate ids (broadcast
    # semi-join — the float corpus never shuffles) and the query rows.
    fcands = base.join(
        F.broadcast(cands.select(F.col("cand_id").alias("id")).distinct()),
        "id",
    ).select(F.col("id").alias("cand_id"), F.col("fv").alias("cand_vec"))
    fq = base.filter(F.col("id") < n_queries).select(
        F.col("id").alias("query_id"), F.col("fv").alias("query_vec")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        cands.join(fcands, "cand_id")
        .join(F.broadcast(fq), "query_id")
        .withColumn("cos", F.round(cosine("query_vec", "cand_vec"), 6))
        .withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select("query_id", "cand_id", "cos", "rk")
    )


# --------------------------------------------------------------------------
# K10: PII redaction + deterministic hash sampling (curation utilities)
# --------------------------------------------------------------------------
# Patterns deliberately restricted to syntax that Java regex (Spark) and
# RE2 (DuckDB) interpret identically: char classes, \d, bounded repeats —
# no backrefs, no lookaround.
PII_PATTERNS: list[tuple[str, str, str]] = [
    (
        "email",
        r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
        "<EMAIL>",
    ),
    ("phone", r"\+\d{1,2}-\d{3}-\d{4,}", "<PHONE>"),
]


def redact_pii(
    df: DataFrame, text_col: str, out_col: str = "redacted"
) -> DataFrame:
    """Mask PII spans (emails, phone numbers) and count what was masked.

    Pure codegen string expressions — `regexp_count` + chained
    `regexp_replace` — so redaction runs at scan speed with no Python in
    the path; at 100 TB this is a mapper fused into whatever scan already
    reads the text column. Adds ``n_pii`` (total masked spans) and
    ``out_col`` (masked text).
    """
    col = F.col(text_col)
    n = F.lit(0)
    for _, pat, _ in PII_PATTERNS:
        n = n + F.regexp_count(col, F.lit(pat))
    red = col
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return df.withColumn("n_pii", n.cast("long")).withColumn(out_col, red)


def hash_sample_per_group(
    df: DataFrame, group_col: str, id_col: str, k: int
) -> DataFrame:
    """Exactly-k-per-group deterministic sample: order each group by
    ``md5(id)`` — a fixed pseudo-random permutation — and keep the first
    ``k``. Unlike ``rand(seed)`` (whose draw depends on partition layout,
    so results change under repartitioning/AQE), the hash order is a pure
    function of the data: reproducible across runs, engines, and cluster
    sizes, which is what a training-data lineage audit needs. One window
    shuffle on the group key; E9 top-k shape."""
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return df.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


# --------------------------------------------------------------------------
# K9: corpus sampling / weighted mixing (training-data mixture building)
# --------------------------------------------------------------------------
def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (``sampleBy``): one scan, no shuffle,
    reproducible under a fixed seed. The building block for rebalancing a
    skewed corpus (e.g. downsampling a dominant language)."""
    return df.sampleBy(strata_col, fractions, seed=seed)


def weighted_mix(
    df: DataFrame,
    strata_col: str,
    weights: dict,
    seed: int = 42,
) -> DataFrame:
    """Resample a corpus so strata appear in ``weights`` proportions.

    Computes per-stratum counts (one cheap aggregate — at warehouse scale
    these come from table statistics instead), converts the target weights
    into per-stratum Bernoulli fractions capped at 1.0 (this op only
    downsamples; upweighting is repetition, a separate concern), and
    applies a single ``sampleBy`` pass.
    """
    total_w = sum(weights.values())
    counts = {
        r[0]: r[1]
        for r in df.groupBy(strata_col).count().collect()
        if r[0] in weights
    }
    # the binding stratum: the one whose full size yields the largest
    # achievable mixture — scale every other stratum to match it.
    scale = min(counts[s] / (weights[s] / total_w) for s in counts)
    fractions = {
        s: min(1.0, (weights[s] / total_w) * scale / counts[s]) for s in counts
    }
    return df.sampleBy(strata_col, fractions, seed=seed)


def shuffle_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 16,
    salt: int = 0,
) -> DataFrame:
    """K9c: deterministic global shuffle + sharding — the corpus→data-loader
    step of a training pipeline: every row gets a ``shard`` in
    ``[0, n_shards)`` and a dense ``pos`` within its shard, both pure
    functions of ``(salt, id)`` via the md5-derived permutation rule the
    sampling family already uses (reproducible across runs, invariant
    under partition layout — the property ``rand(seed)`` cannot give on a
    cluster; a new ``salt`` is a fresh epoch permutation).

    Plan: one hash shuffle on ``shard`` + a per-shard window for
    positions. ``n_shards`` is the scale knob — size it so one shard fits
    one task; the sort is per-shard, never global.
    """
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.lit(str(salt)), F.col(id_col).cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
    )
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return (
        df.withColumn("__h", h)
        .withColumn("shard", F.pmod(F.col("__h"), F.lit(n_shards)).cast("long"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .drop("__h")
    )


def token_budget_fill(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata: list[str] | None = None,
    budget: int = 2000,
) -> DataFrame:
    """K9d: budget-constrained dataset assembly — walk each stratum's
    documents in the deterministic md5 shuffle order and keep them while
    the stratum's running token total stays within ``budget`` (greedy
    prefix fill: how a fixed token budget is allocated across languages /
    sources when composing a training mixture).

    One running-sum window per stratum (hash shuffle on the strata key) —
    no joins, no global sort; the per-stratum scan is the sequential part
    by problem definition, so strata are the parallelism unit.
    """
    strata = strata if strata is not None else ["lang"]
    w = (
        Window.partitionBy(*strata)
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("n_tokens", F.size(tokens(text_col)).cast("long"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
        .select(*strata, id_col, "n_tokens", "cum_tokens")
    )


def upsample_repeat(
    df: DataFrame,
    strata_col: str,
    repeats: dict,
) -> DataFrame:
    """Integer-repetition upsampling (the complement of ``weighted_mix``):
    each row of stratum ``s`` appears ``repeats[s]`` times (default 1),
    tagged with a 0-based ``repeat_idx``. Pure ``explode`` — no shuffle,
    no RNG; epoch-style repetition for underrepresented strata."""
    when = F.lit(1)
    for s, k in repeats.items():
        when = F.when(F.col(strata_col) == s, F.lit(int(k))).otherwise(when)
    return df.withColumn(
        "repeat_idx",
        F.explode(F.sequence(F.lit(0), when - 1)),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    size_col: str = "n_tokens",
    budget: int = 2048,
    n_shards: int | None = None,
) -> DataFrame:
    """Greedy sequence packing: group documents into bins of ≤ ``budget``
    total tokens (pretraining batch prep).

    Distributed shape: documents are hash-sharded (``n_shards`` defaults to
    the session's shuffle parallelism), each shard packs its own documents
    greedily inside one ``applyInPandas`` group, and bin ids are made
    globally unique as ``shard * 2^40 + local_bin``. Packing quality is
    per-shard greedy first-fit-decreasing — the accepted trade for linear
    scan + zero cross-shard coordination at corpus scale. Oversized docs
    (> budget) get a singleton bin rather than being dropped.
    """
    import pandas as pd  # noqa: F401 (bound inside the UDF closure)

    n = n_shards or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "8")
    )
    out_schema = f"{id_col} long, {size_col} long, bin_id long, shard int"

    def pack(pdf):
        pdf = pdf.sort_values(size_col, ascending=False)
        shard = int(pdf["_shard"].iloc[0])
        bins: list[int] = []  # remaining capacity per bin
        assign = []
        for sz in pdf[size_col]:
            placed = None
            for i, cap in enumerate(bins):
                if sz <= cap:
                    placed, bins[i] = i, cap - sz
                    break
            if placed is None:
                bins.append(max(budget - sz, 0))
                placed = len(bins) - 1
            assign.append(placed)
        pdf = pdf.assign(
            bin_id=[shard * (1 << 40) + b for b in assign], shard=shard
        )
        return pdf[[id_col, size_col, "bin_id", "shard"]]

    sharded = df.select(
        F.col(id_col),
        F.col(size_col).cast("long"),
        (F.pmod(F.xxhash64(F.col(id_col)), F.lit(n))).cast("int").alias("_shard"),
    )
    return sharded.groupBy("_shard").applyInPandas(pack, out_schema)


# --------------------------------------------------------------------------
# K3: product quantization (PQ) — the compression-maximal ANN path
# --------------------------------------------------------------------------
_PQ_CODEBOOKS: dict[str, "np.ndarray"] = {}


def pq_train_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 8,
    sample_n: int = 2000,
    iters: int = 12,
    seed: int = 42,
) -> "np.ndarray":
    """Train PQ codebooks (Jégou, Douze & Schmid, "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011): split the dimension into
    ``m`` subspaces and run Lloyd's k-means with ``2**nbits`` centroids
    per subspace, on unit-normalized vectors.

    Training reads a BOUNDED deterministic sample (first ``sample_n``
    ids) to the driver — at 100 TB the codebook is a built-once stored
    artifact (like the IVF coarse quantizer), never refit per query; the
    corpus itself is never collected. Deterministic: seeded centroid
    init (first distinct points under a seeded permutation), fixed
    iteration count, ties broken by lowest centroid index.

    Returns ``(m, 2**nbits, dim//m)`` float64 codebooks.
    """
    from time_series_spark_spark.functions.vectors import unit_normalize

    rows = (
        df.select(F.col("vec_id").alias("id"), unit_normalize(vec_col).alias("uv"))
        .orderBy("id")
        .limit(sample_n)
        .collect()
    )
    X = np.asarray([r["uv"] for r in rows], dtype=np.float64)
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub, ksub = dim // m, 1 << nbits
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        sub = X[:, j * dsub : (j + 1) * dsub]
        cent = sub[rng.permutation(n)[:ksub]].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        books[j] = cent
    return books


def pq_encode(
    df: DataFrame,
    codebooks: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each (unit-normalized) vector as ``m`` small codes —
    nearest centroid per subspace. With m=8, nbits=8 (the classic PQ
    configuration) a 64-dim float32 vector (256 B) compresses to 8
    byte-codes — 32x — the representation a 100 TB index stores and
    scans.
    Vectorized argmin per Arrow batch (pandas UDF); the corpus never
    shuffles for encoding."""
    import pandas as pd

    from time_series_spark_spark.functions.vectors import unit_normalize

    books = codebooks
    m, ksub, dsub = books.shape
    # ||x - c||² = ||x||² - 2<x,c> + ||c||²; per-subspace argmin needs
    # only the cross term and ||c||² (the ||x||² row-constant drops out)
    cnorm2 = (books**2).sum(axis=2)  # (m, ksub)

    @F.pandas_udf("array<int>")
    def encode(uv: pd.Series) -> pd.Series:
        X = np.stack(uv.to_numpy())  # (b, dim)
        b = X.shape[0]
        codes = np.empty((b, m), dtype=np.int32)
        for j in range(m):
            sub = X[:, j * dsub : (j + 1) * dsub]
            scores = cnorm2[j][None, :] - 2.0 * (sub @ books[j].T)
            codes[:, j] = scores.argmin(axis=1)
        return pd.Series(list(codes))

    return df.select(
        F.col(id_col).alias("id"), unit_normalize(vec_col).alias("uv")
    ).select("id", "uv", encode("uv").alias("codes"))


def pq_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_queries: int = 10,
    m: int = 8,
    nbits: int = 8,
    refine_factor: int = 4,
    codebook_key: str | None = None,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) cosine top-k with exact rescoring.

    Candidate generation never touches float vectors: each query builds
    an ``(m × 2**nbits)`` lookup table of subspace dot products against
    the codebooks, and a candidate's approximate dot is the sum of its
    ``m`` table lookups. Here that gather-sum runs entirely JVM-side:
    corpus codes posexplode to ``m`` rows/vector, equi-join the
    BROADCAST LUT rows on (subspace, code) — n_queries·m·2**nbits tiny
    rows — and re-aggregate per (query, candidate). Top ``k·refine``
    by approximate dot are rescored with exact float cosine via a
    broadcast candidate semi-join (same tail as :func:`sq8_topk`; the
    float table never shuffles). At extreme scale the explode feeds a
    partial per-partition top-k before the global window.

    Output: (query_id, cand_id, cos, rk) — same contract as the other
    ANN paths; recall vs exact pinned in tests.
    """
    import pandas as pd

    from time_series_spark_spark.functions.vectors import cosine

    books = _PQ_CODEBOOKS.get(codebook_key) if codebook_key else None
    if books is None:
        books = pq_train_codebooks(df, vec_col, m=m, nbits=nbits)
        if codebook_key:
            _PQ_CODEBOOKS[codebook_key] = books
    _, ksub, dsub = books.shape

    enc = pq_encode(df, books, id_col, vec_col)
    # per-query LUTs: built from the query vectors, small (nq rows of
    # m x ksub nested arrays). Shipping the whole LUT per query row and
    # computing the ADC sum as one higher-order aggregate (codes[j]
    # indexes lut[j]; summed j-ascending — deterministic, unlike the
    # former shuffled groupBy re-aggregation) keeps candidate scoring a
    # MAP-ONLY stage: the former shape posexploded codes to m rows per
    # vector and re-aggregated (query, cand) across an exchange — m x
    # n_queries rows of shuffle per corpus vector for a sum of m lookups.
    qrows = enc.filter(F.col("id") < n_queries).select("id", "uv").collect()
    lut_rows = []
    for r in qrows:
        qv = np.asarray(r["uv"], dtype=np.float64)
        lut_rows.append(
            (
                int(r["id"]),
                [[float(v) for v in books[j] @ qv[j * dsub : (j + 1) * dsub]]
                 for j in range(m)],
            )
        )
    lut = local_df(
        df.sparkSession, lut_rows, "query_id long, lut array<array<double>>"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adot"), F.asc("cand_id"))
    cands = (
        enc.select(F.col("id").alias("cand_id"), "codes")
        .crossJoin(F.broadcast(lut))
        .withColumn(
            "adot",
            F.expr(
                "aggregate(zip_with(codes, lut, (c, l) -> l[c]),"
                " 0D, (a, x) -> a + x)"
            ),
        )
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn("qrk", F.row_number().over(w))
        .filter(F.col("qrk") <= k * refine_factor)
        .select("query_id", "cand_id")
    )
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("fv"))
    fcands = base.join(
        F.broadcast(cands.select(F.col("cand_id").alias("id")).distinct()), "id"
    ).select(F.col("id").alias("cand_id"), F.col("fv").alias("cand_vec"))
    fq = base.filter(F.col("id") < n_queries).select(
        F.col("id").alias("query_id"), F.col("fv").alias("query_vec")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        cands.join(fcands, "cand_id")
        .join(F.broadcast(fq), "query_id")
        .withColumn("cos", F.round(cosine("query_vec", "cand_vec"), 6))
        .withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select("query_id", "cand_id", "cos", "rk")
    )


# --------------------------------------------------------------------------
# K13: RAKE keyword extraction
# --------------------------------------------------------------------------
def rake_keywords(
    df: DataFrame,
    text_col: str = "text",
    stopwords: tuple[str, ...] = ("a", "the", "and", "of", "in", "to"),
    k: int = 15,
) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction; Rose et al. 2010):
    candidate phrases are maximal token runs between stopwords; each
    word scores degree/freq (degree = Σ length of phrases containing
    it), a phrase scores the sum of its word scores, and the corpus-wide
    top-k distinct phrases win.

    All JVM-side: stopword tokens become delimiters via one regex pass
    over a double-spaced copy (doubling spaces makes token boundaries
    non-overlapping, so consecutive stopwords cannot hide from a global
    regex), phrases posexplode with a deterministic (doc, position) id,
    and the word-stat lookup joins back per word instance. One wide
    exchange for the word stats, one for the phrase regroup — the
    standard corpus-statistics shape.
    """
    sw = "|".join(stopwords)
    padded = F.concat(
        F.lit(" "), F.regexp_replace(F.col(text_col), " ", "  "), F.lit(" ")
    )
    cut = F.regexp_replace(padded, rf"\s({sw})\s", " | ")
    phrases = (
        df.select(F.col("doc_id"), F.posexplode(F.split(cut, r"\|")))
        .select(
            "doc_id",
            F.col("pos").alias("ppos"),
            F.trim(F.regexp_replace(F.col("col"), r"\s+", " ")).alias("phrase"),
        )
        .filter(F.col("phrase") != "")
    )
    wi = phrases.select(
        "doc_id",
        "ppos",
        "phrase",
        F.explode(F.split("phrase", " ")).alias("w"),
        F.size(F.split("phrase", " ")).alias("plen"),
    )
    wstat = wi.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("degree")
    )
    occ = (
        wi.join(wstat, "w")
        .groupBy("doc_id", "ppos")
        .agg(
            F.min("phrase").alias("phrase"),
            F.sum(F.col("degree") * 1.0 / F.col("freq")).alias("score"),
            F.count(F.lit(1)).alias("nw"),
        )
    )
    return (
        occ.groupBy("phrase")
        .agg(
            F.max("nw").cast("long").alias("n_words"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
            F.round(F.max("score"), 4).alias("score"),
        )
        .orderBy(F.desc("score"), "phrase")
        .limit(k)
    )


# --------------------------------------------------------------------------
# K14: BPE tokenizer TRAINING (learned merge table)
# --------------------------------------------------------------------------
def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    marker: str = "▁",
) -> list[tuple[str, str, int]]:
    """Learn a byte-pair-encoding merge table from a corpus (Sennrich,
    Haddow & Birch, ACL 2016): repeatedly count adjacent symbol pairs
    over the WORD-FREQUENCY table and merge the most frequent pair
    (ties broken lexicographically — deterministic).

    Distribution shape: BPE statistics live on the DISTINCT-WORD frame
    (vocabulary), not the corpus — one corpus scan builds (word, freq),
    and each merge round is one explode + hash agg + one codegen fold
    over that bounded frame. The driver holds only the merge list
    (``n_merges`` rows) and the 1-row argmax per round; the corpus is
    never rescanned. Words get a leading ``marker`` (SentencePiece-style
    word-boundary symbol) so merges cannot cross word boundaries.

    Returns ``[(left, right, pair_count), …]`` in merge order.
    """
    words = (
        df.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.expr(
                f"transform(split(concat('{marker}', w), ''), x -> x)"
            ).alias("syms"),
            "freq",
        )
    )
    # split('') yields a trailing empty string in Spark — drop empties
    words = words.select(
        F.expr("filter(syms, x -> x <> '')").alias("syms"), "freq"
    ).persist()
    merges: list[tuple[str, str, int]] = []
    try:
        cur = words
        for _ in range(n_merges):
            pairs = cur.select(
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms) - 1), "
                        "(x, i) -> struct(x AS l, element_at(syms, i + 2) AS r))"
                    )
                ).alias("p"),
                "freq",
            ).groupBy("p.l", "p.r").agg(F.sum("freq").alias("cnt"))
            top = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1).collect()
            if not top:
                break
            l, r, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
            merges.append((l, r, cnt))
            le, re_ = l.replace("'", "\\'"), r.replace("'", "\\'")
            fold = (
                "aggregate(syms, CAST(array() AS array<string>), (acc, x) -> "
                f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{le}' "
                f"AND x = '{re_}' "
                f"THEN concat(slice(acc, 1, size(acc) - 1), array('{le}{re_}')) "
                "ELSE concat(acc, array(x)) END)"
            )
            cur = cur.select(F.expr(fold).alias("syms"), "freq").localCheckpoint(
                eager=True
            )
    finally:
        words.unpersist()
    return merges


def bpe_apply_merges(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    marker: str = "▁",
) -> DataFrame:
    """Tokenize a corpus with a learned merge table: per word, apply the
    merges in training order (the standard BPE apply rule) via the same
    codegen fold — no Python in the row path. Returns
    (doc_id, pos, tok_idx, token) rows — ``pos`` is the word's position
    in the document and ``tok_idx`` the token's position within the
    word, so the exact token stream is reconstructible by sorting
    (collect order alone was never a distributed guarantee).

    Scale shape (round-6 rewrite, measured): the merge folds run over
    the DISTINCT-WORD frame only — encoding is a pure function of the
    word, so folding every word OCCURRENCE repeats the same work per
    duplicate (the original shape was ~corpus×merges: encode 32 s at
    sf0.1 / 343 s at the 10× stress corpus; vocabulary-encode + join
    back makes the full train+encode+stats query 16 s / 14 s — 10×
    ratio <1 because the stress corpus grows tokens 10× but vocabulary
    ~1×, exactly the Heaps-law regime a real corpus is in). The join
    back to occurrences is a plain equi-join on the word (AQE
    broadcasts it while the encode table is small; hash-join when the
    vocabulary outgrows the driver)."""
    occur = df.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), r"\s+")).alias("pos", "w"),
    ).filter(F.col("w") != "")
    vocab = occur.select("w").distinct().select(
        "w",
        F.expr(
            f"filter(transform(split(concat('{marker}', w), ''), x -> x), "
            "x -> x <> '')"
        ).alias("syms"),
    )
    for l, r, _ in merges:
        le, re_ = l.replace("'", "\\'"), r.replace("'", "\\'")
        fold = (
            "aggregate(syms, CAST(array() AS array<string>), (acc, x) -> "
            f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{le}' "
            f"AND x = '{re_}' "
            f"THEN concat(slice(acc, 1, size(acc) - 1), array('{le}{re_}')) "
            "ELSE concat(acc, array(x)) END)"
        )
        vocab = vocab.select("w", F.expr(fold).alias("syms"))
    # Lineage barrier before the join: without it Catalyst pushes the
    # explode's inferred size(syms)>0 predicate — carrying the 20-deep
    # fold expression — below the distinct, re-evaluating the fold per
    # word OCCURRENCE (measured: 343 s at the 10× stress scale vs 1 s
    # for the vocabulary itself). Same device bpe_train uses per round.
    vocab = vocab.localCheckpoint(eager=True)
    return occur.join(vocab, "w").select(
        "doc_id",
        "pos",
        F.posexplode("syms").alias("tok_idx", "token"),
    )


# --------------------------------------------------------------------------
# K15: PPMI + SVD word embeddings (count-based distributional vectors)
# --------------------------------------------------------------------------
def ppmi_cooccurrence(
    df: DataFrame,
    text_col: str = "text",
    window: int = 2,
    min_count: int = 5,
) -> DataFrame:
    """Symmetric windowed co-occurrence counts → positive PMI weights
    (Levy & Goldberg, NeurIPS 2014: PPMI factorization approximates
    skip-gram with negative sampling — the count-based route to word
    vectors). Pairs are generated JVM-side: tokens posexplode once, and
    each position joins the next ``window`` positions of the SAME doc
    via an explode over the offset sequence + one equi-join on
    (doc, position) — never a positional theta-join. Counts are
    symmetrized (each unordered pair counted once per direction).

    Returns ``(w, c, n_wc, ppmi)`` for pairs with joint count ≥
    ``min_count``.
    """
    pos = (
        df.select(
            F.col("doc_id"),
            F.posexplode(F.split(F.col(text_col), r"\s+")).alias("i", "w"),
        )
        .filter(F.col("w") != "")
    )
    offs = F.explode(F.sequence(F.lit(1), F.lit(window))).alias("k")
    left = pos.select("doc_id", "i", F.col("w").alias("wa")).select(
        "*", offs
    )
    right = pos.select(
        F.col("doc_id").alias("doc_id_r"),
        F.col("i").alias("j"),
        F.col("w").alias("wb"),
    )
    pairs = left.join(
        right,
        (F.col("doc_id") == F.col("doc_id_r"))
        & (F.col("j") == F.col("i") + F.col("k")),
    ).select("wa", "wb")
    sym = pairs.unionByName(
        pairs.select(F.col("wb").alias("wa"), F.col("wa").alias("wb"))
    )
    cooc = sym.groupBy(F.col("wa").alias("w"), F.col("wb").alias("c")).agg(
        F.count(F.lit(1)).alias("n_wc")
    )
    wtot = cooc.groupBy("w").agg(F.sum("n_wc").alias("n_w"))
    ctot = cooc.groupBy("c").agg(F.sum("n_wc").alias("n_c"))
    tot = cooc.agg(F.sum("n_wc").cast("double").alias("n_all"))
    return (
        cooc.filter(F.col("n_wc") >= min_count)
        .join(F.broadcast(wtot), "w")
        .join(F.broadcast(ctot), "c")
        .crossJoin(F.broadcast(tot))
        .select(
            "w",
            "c",
            "n_wc",
            F.greatest(
                F.lit(0.0),
                F.log(
                    F.col("n_wc") * F.col("n_all")
                    / (F.col("n_w") * F.col("n_c"))
                ),
            ).alias("ppmi"),
        )
    )


def ppmi_svd_vectors(
    df: DataFrame,
    text_col: str = "text",
    window: int = 2,
    dim: int = 16,
    top_vocab: int = 200,
    min_count: int = 5,
) -> DataFrame:
    """Word vectors = truncated SVD of the PPMI matrix restricted to the
    ``top_vocab`` most frequent terms (bounded — the matrix that reaches
    the driver is ≤ top_vocab², a stored-artifact-sized object exactly
    like the PQ/IVF codebooks; the corpus-side co-occurrence counting is
    fully distributed). Rows: ``(term, vec array<double>)`` with
    U·√Σ scaling (the symmetric factorization Levy & Goldberg found
    equivalent to SGNS embeddings).
    """
    toks = (
        df.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    vocab_rows = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "w")
        .limit(top_vocab)
        .collect()
    )
    vocab = [r["w"] for r in vocab_rows]
    idx = {w: i for i, w in enumerate(vocab)}
    ppmi = ppmi_cooccurrence(df, text_col, window, min_count)
    cells = (
        ppmi.filter(F.col("w").isin(vocab) & F.col("c").isin(vocab))
        .select("w", "c", "ppmi")
        .collect()
    )
    m = np.zeros((len(vocab), len(vocab)))
    for r in cells:
        m[idx[r["w"]], idx[r["c"]]] = r["ppmi"]
    u, s, _ = np.linalg.svd(m, full_matrices=False)
    k = min(dim, len(s))
    vecs = u[:, :k] * np.sqrt(s[:k])[None, :]
    spark = df.sparkSession
    return local_df(spark, 
        [(w, [float(x) for x in vecs[i]]) for i, w in enumerate(vocab)],
        "term string, vec array<double>",
    )


# --------------------------------------------------------------------------
# K16: distributed PCA over the embedding store
# --------------------------------------------------------------------------
def embedding_pca(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
) -> tuple["np.ndarray", "np.ndarray", "np.ndarray"]:
    """PCA of an embedding column via distributed moment aggregation:
    each Arrow batch contributes a partial Gram matrix Xᵀ X, a column
    sum, and a count (``mapInPandas`` emitting ONE flattened d×d row per
    batch — the map-side-combine shape; the d²-sized partials are what
    shuffles, never the vectors), summed in one tiny hash agg; the
    driver assembles the d×d covariance (a stored-artifact-sized object)
    and eigendecomposes it.

    Returns ``(components (k,d), eigvals (k,), mean (d,))`` with
    components sign-fixed (largest-|loading| coordinate positive) for
    determinism.
    """
    import pandas as pd

    d = len(df.select(vec_col).first()[0])

    def partials(batches):
        for pdf in batches:
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [X.shape[0]],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()],
                }
            )

    part = df.select(vec_col).mapInPandas(
        partials, "n long, s array<double>, g array<double>"
    ).persist()
    try:
        # element-wise array sums as posexplode + hash agg: 4096 tiny
        # result rows, NOT 4096 aggregate expressions (which made
        # whole-stage codegen the bottleneck — 14.6 s of compile at any
        # data size)
        n = float(part.agg(F.sum("n")).collect()[0][0])
        s_rows = (
            part.select(F.posexplode("s").alias("i", "v"))
            .groupBy("i").agg(F.sum("v").alias("v")).collect()
        )
        g_rows = (
            part.select(F.posexplode("g").alias("i", "v"))
            .groupBy("i").agg(F.sum("v").alias("v")).collect()
        )
    finally:
        part.unpersist()
    s_arr = np.zeros(d)
    for r in s_rows:
        s_arr[r["i"]] = r["v"]
    g_arr = np.zeros(d * d)
    for r in g_rows:
        g_arr[r["i"]] = r["v"]
    mean = s_arr / n
    gram = g_arr.reshape(d, d)
    cov = gram / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T
    vals = vals[order]
    # deterministic sign: make the largest-|loading| coordinate positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return comps, vals, mean


def project_embeddings(
    df: DataFrame,
    components: "np.ndarray",
    mean: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project vectors onto PCA components JVM-side: the (k,d) component
    matrix broadcasts as literal arrays and each coordinate is one
    zip_with/aggregate dot product — whole-stage codegen, no Python in
    the row path."""
    centered = F.expr(
        "zip_with(transform({v}, x -> cast(x AS double)), "
        "array({mu}), (x, m) -> x - m)".format(
            v=vec_col, mu=", ".join(f"{x}D" for x in mean)
        )
    )
    out = df.select(F.col(id_col), centered.alias("_c"))
    proj_cols = []
    for i, comp in enumerate(components):
        arr = ", ".join(f"{x}D" for x in comp)
        proj_cols.append(
            F.expr(
                f"aggregate(zip_with(_c, array({arr}), (x, w) -> x * w), "
                "0D, (s, v) -> s + v)"
            ).alias(f"pc{i}")
        )
    return out.select(id_col, *proj_cols)


# --------------------------------------------------------------------------
# Learned-artifact persistence (PQ codebooks, BPE merges)
# --------------------------------------------------------------------------
def save_pq_codebooks(spark, books: "np.ndarray", path: str) -> None:
    """Persist PQ codebooks as a parquet frame ``(j, c, vec)`` — the
    stored-artifact half of the index lifecycle (train once, load on
    every query run). Deterministic row set; overwrite semantics."""
    m, ksub, _ = books.shape
    rows = [
        (j, c, [float(x) for x in books[j, c]])
        for j in range(m)
        for c in range(ksub)
    ]
    local_df(spark, 
        rows, "j int, c int, vec array<double>"
    ).write.mode("overwrite").parquet(path)


def load_pq_codebooks(spark, path: str) -> "np.ndarray":
    """Load :func:`save_pq_codebooks` output back into the (m, ksub,
    dsub) array, bit-identical to what was saved."""
    rows = spark.read.parquet(path).collect()
    m = max(r["j"] for r in rows) + 1
    ksub = max(r["c"] for r in rows) + 1
    dsub = len(rows[0]["vec"])
    books = np.empty((m, ksub, dsub))
    for r in rows:
        books[r["j"], r["c"]] = r["vec"]
    return books


def save_bpe_merges(spark, merges: list[tuple[str, str, int]], path: str) -> None:
    """Persist a learned BPE merge table (rank order is the apply
    order — stored explicitly)."""
    local_df(spark, 
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank int, left string, right string, pair_count long",
    ).write.mode("overwrite").parquet(path)


def load_bpe_merges(spark, path: str) -> list[tuple[str, str, int]]:
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [(r["left"], r["right"], int(r["pair_count"])) for r in rows]


def mips_topk(
    df: DataFrame,
    query_ids: DataFrame | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    query_filter: Column | None = None,
) -> DataFrame:
    """K3c (round 5): exact maximum-INNER-PRODUCT top-k — the retrieval
    objective when vectors are NOT normalized (recommender user·item
    scores, unnormalized two-tower embeddings), where cosine top-k gives
    different answers. Same scale shape as :func:`cosine_topk`:
    broadcast query set, corpus never shuffles, per-query window with id
    tiebreak. The LSH reduction (append sqrt(M²−|x|²) to items, 0 to
    queries — Bachrach et al., RecSys'14 — turning MIPS into cosine so
    the SRP banding machinery applies) is proven equivalent in
    tests/test_llm.py."""
    from time_series_spark_spark.functions.vectors import dot

    return _broadcast_query_topk(
        df, query_ids, id_col, vec_col, k, query_filter,
        score=dot("query_vec", "cand_vec"), score_name="ip",
    )


def temperature_weights(
    counts: dict, temperature: float
) -> dict:
    """K9c (round 5): temperature-scaled mixing weights — the multilingual
    pretraining rule (mBERT/XLM-R exponentiated sampling): p_i ∝ n_i^τ.
    τ=1 keeps natural proportions, τ=0 is uniform, τ∈(0,1) upweights
    low-resource strata without flattening entirely. Returns normalized
    weights usable directly by :func:`weighted_mix`. Pure arithmetic on
    the (tiny) per-stratum count dict."""
    if not counts:
        return {}
    powered = {s: float(n) ** temperature for s, n in counts.items()}
    z = sum(powered.values())
    return {s: p / z for s, p in powered.items()}


def frame_sample_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frame_bytes: int = 64,
    stride: int = 2,
) -> DataFrame:
    """K7b (round 5): video-style frame sampling PLUMBING — one opaque
    binary payload row explodes into every ``stride``-th fixed-width
    "frame" as its own row (frame_idx, byte offset, frame sha256). The
    decode that would parse a real container is the same deliberately
    stubbed step as K7's featurizer (no codec libs in this environment);
    what is REAL and tested is the Spark shape a 100 TB video corpus
    needs: mapInPandas over Arrow batches of binary columns, bounded
    per-row fan-out (ceil(n_bytes/frame_bytes)/stride rows), typed
    metadata projecting without touching payloads."""
    import hashlib

    out_schema = (
        f"{id_col} long, frame_idx long, byte_offset long, "
        "frame_sha string"
    )

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # zip over the two columns, not iterrows: iterrows builds a
            # Series per row (~100x slower), defeating the point of the
            # Arrow batch path
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                n = len(payload)
                idx = 0
                for off in range(0, n, frame_bytes * stride):
                    frame = payload[off : off + frame_bytes]
                    rows.append(
                        (
                            doc_id,
                            idx,
                            off,
                            hashlib.sha256(bytes(frame)).hexdigest(),
                        )
                    )
                    idx += 1
            yield pd.DataFrame(
                rows,
                columns=[id_col, "frame_idx", "byte_offset", "frame_sha"],
            )

    return df.select(id_col, payload_col).mapInPandas(_sample, out_schema)


# ---------------------------------------------------------------------------
# K23: sparse retrieval — inverted index build + BM25 ranking
# ---------------------------------------------------------------------------
def inverted_index(docs: DataFrame, postings_cap: int = 10) -> DataFrame:
    """Build the searchable inverted index: one row per term with
    document frequency, collection frequency, and the first
    ``postings_cap`` doc ids (ascending, comma-joined — the serialized
    head of the postings list; real engines delta-encode the full list,
    the cap keeps registered output bounded).

    Shape at 100 TB (verified in the physical plan): two term-keyed
    branches, each map-side partial-aggregated before its exchange; the
    postings branch gets Spark's WindowGroupLimit pushdown, so at most
    ``postings_cap`` rows per term cross the wire and reach the window
    — never a full per-term sort, and (unlike a bare
    ``slice(sort_array(collect_list(...)))``) never unbounded per-term
    memory for hot terms. The final stats⋈heads join broadcasts the
    bounded term dictionary. Postings stay distributed; only the capped
    head is serialized.
    """
    tf = (
        docs.select("doc_id", F.explode(tokens()).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    heads = (
        tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= postings_cap)
        .groupBy("term")
        .agg(
            F.concat_ws(
                ",", F.sort_array(F.collect_list("doc_id"))
            ).alias("postings_head")
        )
    )
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    return stats.join(heads, on="term")


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 (Robertson/Spärck Jones) top-k for a bag-of-words query —
    the sparse-retrieval baseline every RAG/LLM data stack ships next
    to dense ANN (K3):

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
        idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))

    Only docs containing ≥1 query term are scored (the explode is
    pre-filtered by an isin on the tiny term list — the inverted-index
    access path, not a full scan per query). df/N/avgdl are 1-row
    broadcast scalars. One libm ln per (term); the final score is
    rounded 4 dp BEFORE ordering (repo libm rule), doc_id tiebreak.

    Deliberately TWO codegen tokenize passes (stats + tf): a one-pass
    variant sharing one exchange of (doc_id, dl, filter(tokens, isin))
    was measured 1.8x SLOWER (round 15) — array higher-order functions
    are CodegenFallback, so the per-token interpreted lambda costs more
    than the whole second codegen scan, at any scale where tokens
    dominate rows.
    """
    qt = [t for t in query_terms]
    tok = docs.select(
        "doc_id", F.size(tokens()).alias("dl"), F.explode(tokens()).alias("term")
    )
    tf = (
        tok.filter(F.col("term").isin(qt))
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(tokens())).alias("avgdl"),
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (
        F.col("tf") * (k1 + 1.0)
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(df_t), on="term")
        .crossJoin(F.broadcast(n_stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tf_part), 4).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), "doc_id").limit(k)


# ---------------------------------------------------------------------------
# Farthest-point (max-min) diverse subset selection
# ---------------------------------------------------------------------------

def farthest_point_sample(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "list[tuple[int, float]]":
    """Greedy max-min (farthest-point / Gonzalez 1985) diverse subset:
    start from the smallest id (deterministic seed), then k-1 times add
    the point farthest from the CURRENT selected set. The classic
    2-approximation to the k-center objective — the diverse-exemplar
    picker a curation pipeline uses for eval-set seeding and dedup
    anchors.

    Distributed shape: the selected set is tiny (k vectors, broadcast);
    each round is ONE distributed aggregation — min-distance-to-set per
    point (zip_with/aggregate fold, codegen), then a max_by reduce.
    k driver-side rounds of bounded scalars (the connected-components
    convergence discipline), never a collect of the corpus. Returns
    [(id, dist_to_set_at_selection)] — dist 0.0 for the seed; ties on
    distance break to the smallest id (md5-free determinism).
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.expr(
            f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
        ).alias("_v"),
    ).filter(
        # NaN/Inf components would splice as invalid SQL literals below
        # ('nanD') AND poison every distance they touch — exclude the
        # malformed vectors up front
        F.expr(
            "forall(_v, x -> x IS NOT NULL AND NOT isnan(x)"
            " AND abs(x) < CAST('inf' AS DOUBLE))"
        )
    )
    seed = base.agg(F.min("_id")).collect()[0][0]
    if seed is None:
        return []
    sel: list[tuple[int, float]] = [(int(seed), 0.0)]
    for _ in range(k - 1):
        sel_rows = [r[0] for r in sel]
        sel_df = base.filter(F.col("_id").isin(sel_rows)).collect()
        # literal arrays of the selected vectors (k of them, tiny)
        dists = []
        for r in sel_rows:
            vec = next(x["_v"] for x in sel_df if x["_id"] == r)
            arr = ", ".join(f"{x!r}D" for x in vec)
            dists.append(
                "aggregate(zip_with(_v, array(" + arr + "),"
                " (x, w) -> (x - w) * (x - w)), 0D, (acc, t) -> acc + t)"
            )
        min_d = "least(" + ", ".join(dists) + ")" if len(dists) > 1 \
            else dists[0]
        cands = (
            base.filter(~F.col("_id").isin(sel_rows))
            .select("_id", F.expr(min_d).alias("_d2"))
            .orderBy(F.col("_d2").desc(), F.col("_id"))
            .limit(1)
            .collect()
        )
        if not cands:  # k exceeds the (finite-vector) row count
            break
        cand = cands[0]
        sel.append((int(cand["_id"]), float(cand["_d2"]) ** 0.5))
    return sel
