"""Deduplication operators for training-data pipelines (beyond-reference
surface — a core capability at 100 TB corpus scale).

Five families, each designed so the DuckDB oracle can recompute it:

* exact       — hash-groupBy on content, canonical = min id per group;
* n-gram Jaccard — shingle-set overlap via explode + equi-join on the
  shingle (the inverted-index trick: no O(n²) pair space);
* MinHash LSH — k universal-hash minima over shingle hashes, banded into
  join keys (the classic Broder scheme, computed with portable integer
  arithmetic shared with the SQL oracle); pick ``(num_hashes,
  rows_per_band)`` with :func:`lshrs_spark.planner.get_optimal_config`
  — the S-curve ``P = 1-(1-s^r)^b`` applies to MinHash banding
  verbatim with ``s`` = Jaccard similarity;
* SimHash     — 48-bit per-document fingerprint by per-bit majority over
  token hashes; near-dup pairs by Hamming distance;
* embedding   — cosine near-dup via :mod:`simjoin`.

Plus :func:`connected_components` to turn any pair list into dedup groups
(iterative min-label propagation — converges in O(log n) joins; the
oracle twin is a recursive CTE).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import persist_slot
from ..functions.text import h48, token_shingles_col, tokens_col

__all__ = [
    "exact_dedup",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "minhash_params",
    "minhash_signatures",
    "minhash_band_keys",
    "minhash_band_pairs",
    "minhash_pairs_against",
    "simhash_table",
    "simhash_pairs",
    "hamming_banded_pairs",
    "image_dhash_pairs",
    "image_dhash_band_keys",
    "chunk_overlap_pairs",
    "connected_components",
    "ngram_contamination",
    "group_representatives",
    "substring_span_pairs",
    "substring_overlap_stats",
    "explode_lines",
    "segment_lines",
    "line_dedup",
    "soft_dedup_weights",
    "semantic_dedup",
    "editdist_pairs",
    "editdist_join",
    "sorted_neighborhood_pairs",
]

# Mersenne prime 2^31-1: universal-hash modulus small enough that
# a*(h%p)+b stays inside int64 (a,b < p, h%p < p -> a*h' < 2^62).
MINHASH_P = 2_147_483_647


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "text"
) -> DataFrame:
    """``(id, canonical_id, group_size)``: canonical = min id among rows
    with identical content; ``group_size > 1`` marks duplicates."""
    w = Window.partitionBy(content_col)
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        F.min(F.col(id_col)).over(w).cast("long").alias("canonical_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    round_scores: Optional[int] = None,
    max_doc_freq: Optional[int] = None,
) -> DataFrame:
    """Pairs (id_a < id_b) with Jaccard(token n-gram sets) >= threshold.

    Inverted-index join: explode DISTINCT shingles, equi-join on the
    shingle, count intersections per pair, then
    ``J = inter / (|A| + |B| - inter)``. The shuffle key is the shingle —
    high-frequency shingles are the skew hazard: a shingle shared by
    ``m`` documents contributes ``m^2`` join rows. ``max_doc_freq`` is
    the stop-shingle cap for that: shingles appearing in more than that
    many documents are dropped from BOTH the intersection and the set
    sizes, i.e. Jaccard is computed over the informative-shingle space
    (the standard inverted-index stop list; a documented approximation —
    ``None`` keeps the exact semantics the oracle checks)."""
    sh = (
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.explode(F.array_distinct(token_shingles_col(F.col(text_col), n))).alias("s"),
        )
    )
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("s")
        )
        sh = sh.join(rare, "s")
    # referenced three times (sizes + both join sides); persist keeps
    # lineage (fault-tolerant on a cluster, unlike localCheckpoint) and
    # the slot registry bounds the CacheManager growth across calls
    sh = persist_slot(sh, "dedup.ngram_shingles", eager=True)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="s")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    if round_scores is not None:
        jac = F.round(jac, round_scores)
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_doc_freq: Optional[int] = None,
) -> DataFrame:
    """Pairs (id_a < id_b) with DIRECTIONAL n-gram containment — the
    quote/inclusion detector symmetric Jaccard misses.

    ``C(A in B) = |G(A) ∩ G(B)| / |G(A)|``: a short document quoted
    verbatim inside a long one scores ~1.0 containment while its Jaccard
    (``inter / union``) stays far below any dedup threshold, so
    Jaccard-only batteries admit the duplicate. Returns both directions
    (``c_ab`` = share of A's shingles found in B, ``c_ba`` = the
    reverse) and keeps pairs where either direction reaches
    ``threshold``.

    Same inverted-index join shape as :func:`ngram_jaccard_pairs` — the
    shuffle key is the shingle, never a document pair, so the pair space
    stays output-bound; ``max_doc_freq`` is the identical stop-shingle
    cap for hot-shingle skew. The scores are exact small-integer
    quotients (IEEE division is correctly rounded in every engine), so
    the threshold cut is engine-stable without quantization.
    """
    sh = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(
            F.array_distinct(token_shingles_col(F.col(text_col), n))
        ).alias("s"),
    )
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("s")
        )
        sh = sh.join(rare, "s")
    # three consumers (sizes + both self-join sides); slot-bounded persist
    sh = persist_slot(sh, "dedup.containment_shingles", eager=True)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="s")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    c_ab = F.col("inter") / F.col("na")
    c_ba = F.col("inter") / F.col("nb")
    return (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")),
            "id_b",
        )
        .select("id_a", "id_b", c_ab.alias("c_ab"), c_ba.alias("c_ba"))
        .filter(F.greatest(F.col("c_ab"), F.col("c_ba")) >= threshold)
    )


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic universal-hash params (a_i, b_i), a_i != 0 — shared
    with the SQL oracle via literal inlining."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MINHASH_P, size=num_hashes)
    b = rng.integers(0, MINHASH_P, size=num_hashes)
    return [(int(x), int(y)) for x, y in zip(a, b)]


def _base_hash(c, base_hash: str):
    """Shingle -> non-negative int64 under MINHASH_P.

    ``h48`` (default): md5-derived, bit-portable to the DuckDB oracle —
    the correctness-checkable mode. ``xxhash64``: Spark's JVM-native
    hash — ~40% faster and, unlike md5 (which enters the synchronized
    JCA MessageDigest machinery per call), free of the sporadic
    multi-second stalls md5 shows under 32-thread executors (measured:
    xxhash64 reps flat at 1.0-1.1 s where md5 reps spiked 5-40x; GC and
    cgroup throttling ruled out). Use xxhash64 in production, h48 when
    cross-engine reproducibility matters."""
    if base_hash == "h48":
        return h48(c) % MINHASH_P
    if base_hash == "xxhash64":
        return F.pmod(F.xxhash64(c), F.lit(MINHASH_P))
    raise ValueError(f"base_hash must be 'h48' or 'xxhash64', got {base_hash!r}")


def _minhash_wide(
    df: DataFrame,
    num_hashes: int,
    n: int,
    id_col: str,
    text_col: str,
    seed: int,
    base_hash: str = "h48",
) -> DataFrame:
    """``(id, m0..m{k-1})``: one row per document with all minima.

    Shape matters: explode shingles to rows, hash each shingle ONCE, then
    take the k minima as grouped aggregates. The earlier array-based
    formulation re-evaluated the md5 pipeline once per hash function
    (Catalyst projection collapse inlines shared array expressions), an
    8x overcost; grouped min aggregates also get map-side partial
    aggregation, so the shuffle carries k values per document, not the
    shingle set."""
    params = minhash_params(num_hashes, seed)
    grams = token_shingles_col(F.col(text_col), n)
    shingles = F.when(F.size(grams) > 0, F.array_distinct(grams)).otherwise(
        F.array(F.col(text_col))
    )
    rows = df.select(
        F.col(id_col).cast("long").alias("id"), F.explode(shingles).alias("s")
    ).select("id", _base_hash(F.col("s"), base_hash).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"m{i}")
        for i, (a, b) in enumerate(params)
    ]
    return rows.groupBy("id").agg(*aggs)


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    base_hash: str = "h48",
) -> DataFrame:
    """``(id, i, minhash)``: minhash_i = min over shingles of
    ``(a_i * (base(s) % p) + b_i) % p`` — Broder MinHash. ``base_hash``
    picks the shingle hash: portable h48 (default, oracle-checkable) or
    JVM-native xxhash64 (see :func:`_base_hash`). Documents with fewer
    than ``n`` tokens hash the whole text as a single shingle."""
    wide = _minhash_wide(df, num_hashes, n, id_col, text_col, seed, base_hash)
    stack = ", ".join(f"{i}, m{i}" for i in range(num_hashes))
    return wide.selectExpr(
        "id", f"stack({num_hashes}, {stack}) AS (i, minhash)"
    ).select("id", F.col("i").cast("int").alias("i"), F.col("minhash").cast("long"))


def minhash_band_keys(
    df: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    base_hash: str = "h48",
) -> DataFrame:
    """``(id, band, sig)`` MinHash band keys. Band key = hash of the
    comma-joined minima under the same ``base_hash`` family as the
    shingle hash (h48 keeps the whole pipeline portable to the SQL
    oracle; xxhash64 keeps it entirely JVM-native), valid for any
    rows_per_band."""
    if num_hashes % rows_per_band:
        raise ValueError("num_hashes must be divisible by rows_per_band")
    wide = _minhash_wide(df, num_hashes, n, id_col, text_col, seed, base_hash)
    num_bands = num_hashes // rows_per_band
    def _band_key(cols):
        joined = F.concat_ws(",", *cols)
        return h48(joined) if base_hash == "h48" else F.xxhash64(joined)
    keys = [
        _band_key(
            [F.col(f"m{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        ).alias(f"b{b}")
        for b in range(num_bands)
    ]
    stack = ", ".join(f"{b}, b{b}" for b in range(num_bands))
    return (
        wide.select("id", *keys)
        .selectExpr("id", f"stack({num_bands}, {stack}) AS (band, sig)")
    )


def minhash_band_pairs(
    df: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    base_hash: str = "h48",
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing at least one
    MinHash band. ``base_hash='xxhash64'`` switches the whole pipeline
    to the JVM-native hash for production runs (see :func:`_base_hash`).

    Choosing ``(num_hashes, rows_per_band)``: the banding S-curve
    threshold is ``(1/b)^(1/r)`` — use
    :func:`lshrs_spark.planner.find_optimal_br` /
    ``get_optimal_config`` to pick the pair for a target Jaccard
    threshold and false-rate budget, and measure the realized recall
    on YOUR corpus with the ``dedup_minhash_recall`` gauge (exact
    Jaccard truth vs these banded candidates) before trusting a
    config at scale.

    The band-key table is persisted through the bounded slot registry
    (eager, invocation-scoped — re-invoking unpersists the previous
    copy first, so repeated calls recompute from the input) before the
    self-join: the tokenize + base-hash + 8-min-aggregate pipeline
    runs ONCE instead of once per join side. Re-measured r15
    (interleaved in-process A/B, `AB_minhash_r15.json`): recompute
    1.336 vs persist 1.011 s min on the xxh control, and the md5 line
    halves its exposure to the documented JCA digest stall. The r3
    persist/evict churn that originally rejected this is gone — the
    slot registry unpersists BLOCKING (see ``cache._safe_unpersist``).
    A hash(band, sig) repartition before the persist was ALSO measured
    and rejected (1.532/1.347 s — the r14 simhash lesson: these
    self-joins broadcast at bench scale, so the extra exchange buys
    nothing locally; at a scale where the join shuffles, the cached
    narrow table shuffles once per side, still cheaper than two full
    pipeline evaluations).

    Building the plan is EAGER: the persist runs a ``count()`` Spark
    job at call time, and the band-key table stays cached until the
    next call of this function releases the slot (a caller done with
    the pairs can free it with
    ``cache.release_slot("dedup.minhash_band_pairs")``). Both join sides
    read that one materialization only while the slot is live. A
    second call before the first result is evaluated, or a lost cache
    block, makes each side recompute from the input, so a
    NONdeterministic input (sample/limit upstream) can still diverge
    between the sides — materialize such inputs first (e.g.
    ``cache.materialize_slot``)."""
    key = persist_slot(
        minhash_band_keys(df, num_hashes, rows_per_band, n, id_col,
                          text_col, seed, base_hash),
        "dedup.minhash_band_pairs", eager=True,
    )
    a = key.alias("a")
    b = key.alias("b")
    return (
        a.join(b, on=["band", "sig"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_pairs_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Incremental dedup: candidate pairs ``(new_id, corpus_id)`` where a
    NEW document shares >= 1 MinHash band with an EXISTING corpus
    document — the production ingest shape. The corpus side is typically
    orders of magnitude larger: at scale, persist/store its band keys
    once (they are exactly the ``minhash_band_keys`` output, a narrow
    3-column table) and stream each new batch's (small) band keys
    against them; Catalyst broadcasts the new side automatically when it
    is small enough."""
    new_keys = minhash_band_keys(new_df, num_hashes, rows_per_band, n,
                                 id_col, text_col, seed)
    corpus_keys = minhash_band_keys(corpus_df, num_hashes, rows_per_band, n,
                                    id_col, text_col, seed)
    return (
        new_keys.alias("a")
        .join(corpus_keys.alias("b"), on=["band", "sig"])
        .select(
            F.col("a.id").alias("new_id"), F.col("b.id").alias("corpus_id")
        )
        .distinct()
    )


SIMHASH_BITS = 48


def simhash_tokens_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(tokens_col(F.col(text_col))).alias("tok"),
    ).withColumn("h", h48(F.col("tok")))


def simhash_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(id, simhash)``: 48-bit SimHash — bit j is set when the majority
    of token hashes (with multiplicity) have bit j set. Computed as
    explode(tokens) x bit positions -> per-(id, bit) vote sum -> packed;
    every step is a hash aggregation Catalyst pipelines map-side."""
    toks = simhash_tokens_df(df, id_col, text_col)
    bits = toks.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("j"),
        "h",
    ).withColumn("vote", F.expr("(shiftright(h, cast(j AS int)) % 2) * 2 - 1"))
    votes = bits.groupBy("id", "j").agg(F.sum("vote").alias("v"))
    return votes.groupBy("id").agg(
        F.sum(
            F.expr("CASE WHEN v > 0 THEN shiftleft(1L, cast(j AS int)) ELSE 0L END")
        ).alias("simhash")
    )


def simhash_blocks(max_hamming: int, bits: int = SIMHASH_BITS,
                   num_blocks: Optional[int] = None) -> list[tuple[int, int]]:
    """``(start_bit, length)`` for ``num_blocks`` (default
    ``max_hamming + 1``) contiguous bit blocks covering the fingerprint.
    Pigeonhole guarantee: two fingerprints within Hamming distance
    ``max_hamming`` agree exactly on at least one of ``max_hamming + 1``
    blocks — so an equi-join on ``(block_idx, block_value)`` finds every
    qualifying pair with zero recall loss."""
    nb = num_blocks or (max_hamming + 1)
    if not 1 <= nb <= bits:
        raise ValueError(f"num_blocks must be in [1, {bits}]")
    if nb <= max_hamming:
        # pigeonhole needs max_hamming+1 blocks: with fewer, a pair can
        # differ in every block and be silently missed — that would
        # break the EXACT contract, so reject instead
        raise ValueError(
            f"num_blocks={nb} cannot guarantee exactness for "
            f"max_hamming={max_hamming}; need >= {max_hamming + 1} "
            f"(and max_hamming >= {bits} has no banding guarantee at all "
            "— use a cross join for that degenerate cutoff)"
        )
    base, rem = divmod(bits, nb)
    out, start = [], 0
    for i in range(nb):
        ln = base + (1 if i < rem else 0)
        out.append((start, ln))
        start += ln
    return out


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_blocks: Optional[int] = None,
    max_block_size: Optional[int] = None,
) -> DataFrame:
    """EXACT near-dup pairs ``(id_a < id_b, hamming)`` with SimHash
    Hamming distance <= ``max_hamming``, found by pigeonhole banding:
    the fingerprint is split into ``max_hamming + 1`` bit blocks and the
    self-join key is ``(block_idx, block_value)`` — never a data column,
    so a hot metadata value (e.g. one dominant ``source``) cannot make
    the pair space quadratic. The join fans out ``num_blocks`` rows per
    document but each band bucket holds only genuinely-colliding
    fingerprints.

    ``max_block_size`` (optional) drops degenerate band buckets larger
    than the cap — a documented recall tradeoff for adversarial data
    (e.g. millions of near-empty documents whose fingerprints share a
    block of zeros); ``None`` keeps the result exact."""
    sim = simhash_table(df, id_col, text_col)
    return hamming_banded_pairs(
        sim, hash_col="simhash", bits=SIMHASH_BITS, max_hamming=max_hamming,
        num_blocks=num_blocks, max_block_size=max_block_size,
        slot="dedup.simhash_tbl",
    )


def hamming_banded_pairs(
    tbl: DataFrame,
    *,
    hash_col: str,
    bits: int,
    max_hamming: int,
    num_blocks: Optional[int] = None,
    max_block_size: Optional[int] = None,
    slot: str = "dedup.hamming_tbl",
) -> DataFrame:
    """EXACT Hamming-neighbor pairs ``(id_a < id_b, hamming)`` over any
    ``(id, <hash_col>)`` fingerprint table — the pigeonhole-banded core
    shared by :func:`simhash_pairs` (text) and
    :func:`image_dhash_pairs` (images). Self-join key is
    ``(block_idx, block_value)``, never a data column, so a hot value
    cannot make the pair space quadratic; ``max_block_size`` caps
    degenerate buckets (documented recall tradeoff), ``None`` stays
    exact."""
    # feeds both sides of the self-join: persist (lineage kept) via the
    # bounded slot registry so the fingerprint pipeline runs once.
    # r14 note: persisting the BANDED fan-out repartition(blk, val)
    # instead (the §2.4 exchange-sharing shape that paid off for
    # similarity_join) was measured and REVERTED: the fingerprint
    # tables are small enough that the self-join broadcasts, so the
    # fan-out exchange bought nothing and cost 0.4-0.5 s per line
    # (image 1.05 -> 1.43, audio 0.84 -> 1.32 isolated). At a scale
    # where the join shuffles, revisit — but there the num_blocks x
    # cache-size trade needs its own measurement.
    tbl = persist_slot(
        tbl.select(F.col("id"), F.col(hash_col).alias("_h")), slot,
        eager=True,
    )
    blocks = simhash_blocks(max_hamming, bits=bits, num_blocks=num_blocks)
    bands = _band_key_rows(tbl, "_h", blocks, keep=("_h",),
                           out_cols=("blk", "val"))
    if max_block_size is not None:
        cap = (
            bands.groupBy("blk", "val")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= max_block_size)
            .drop("_bn")
        )
        bands = bands.join(cap, ["blk", "val"])
    a = bands.alias("a")
    b = bands.alias("b")
    dist = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        a.join(b, on=["blk", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a._h").alias("ha"),
            F.col("b._h").alias("hb"),
        )
        .distinct()  # a pair can collide on several blocks — count once
        .select("id_a", "id_b", dist.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def image_dhash_pairs(
    payload_df: DataFrame,
    max_hamming: int = 6,
    *,
    num_blocks: Optional[int] = None,
    max_block_size: Optional[int] = None,
) -> DataFrame:
    """EXACT image near-duplicate pairs ``(id_a < id_b, hamming)`` by
    48-bit perceptual dHash (:func:`~lshrs_spark.multimodal.
    dhash_table`: Arrow-batched decode of PPM/BMP payloads, 8x7 luma
    grid, horizontal gradient signs) within Hamming distance
    ``max_hamming`` — the standard image-dedup pass of a multimodal
    training pipeline, found with the same pigeonhole banding as
    :func:`simhash_pairs`: recompressed/brightness-shifted copies agree
    on most gradient signs, and the ``(block, value)`` equi-join keeps
    the candidate space linear in the number of genuinely-colliding
    fingerprints. ``payload_df`` carries ``(id, payload)``."""
    from ..multimodal import DHASH_BITS, dhash_table

    return hamming_banded_pairs(
        dhash_table(payload_df), hash_col="dhash", bits=DHASH_BITS,
        max_hamming=max_hamming, num_blocks=num_blocks,
        max_block_size=max_block_size, slot="dedup.image_dhash_tbl",
    )


def audio_fingerprint_pairs(
    payload_df: DataFrame,
    max_hamming: int = 3,
    *,
    num_blocks: Optional[int] = None,
    max_block_size: Optional[int] = None,
) -> DataFrame:
    """EXACT audio near-duplicate pairs ``(id_a < id_b, hamming)`` by
    36-bit perceptual fingerprint
    (:func:`~lshrs_spark.multimodal.audio_fingerprint_table`:
    Arrow-batched WAV decode, integer DCT-II band magnitudes per
    frame, adjacent-band ordering signs) within Hamming distance
    ``max_hamming`` — the audio member of the multimodal dedup battery
    (image twin: :func:`image_dhash_pairs`), found with the same
    pigeonhole ``(block, value)`` banding: a re-encoded or re-leveled
    copy keeps most band orderings, and the equi-join keeps the
    candidate space linear in genuinely-colliding fingerprints.
    ``payload_df`` carries ``(id, payload)``."""
    from ..multimodal import AFP_BITS, audio_fingerprint_table

    return hamming_banded_pairs(
        audio_fingerprint_table(payload_df), hash_col="afp",
        bits=AFP_BITS, max_hamming=max_hamming, num_blocks=num_blocks,
        max_block_size=max_block_size, slot="dedup.audio_afp_tbl",
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    *,
    max_iterations: int = 20,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """``(id, component)`` with component = min id reachable through the
    pair graph. ``nodes`` must carry column ``id``; ``pairs`` columns
    ``id_a, id_b``.

    Algorithm: min-label propagation *with pointer jumping* — each round
    first takes the min label over graph neighbors, then shortcuts every
    label to its label's label (path halving). Convergence is
    O(log diameter) rounds, so a 1M-long chain needs ~20 rounds, not 1M
    (the propagation-only variant is O(diameter) and unusable on deep
    graphs).

    Fault tolerance (100 TB design): each round is RELIABLY materialized
    to storage via the slot materializer (`cache.materialize_slot`) —
    real files, not the executor-local blocks of ``localCheckpoint``
    (which a lost executor turns into a fatal block-not-found), and
    BOUNDED: writing round N+1 deletes round N's files, so a run keeps
    one label-table copy (plus one symmetric-edge copy) however many
    rounds it takes (``checkpoint()`` would keep them all).
    ``checkpoint_dir`` points the materializations at shared storage on
    a real cluster; default is a process-local temp dir (correct for
    local mode).

    Cost shape (r15): the ``pairs`` plan is evaluated exactly once —
    the symmetric edge table is materialized up front and persisted
    hash(dst)-partitioned for every round's join — and each round's
    label plan executes exactly once (the change flag rides the
    materialized table, so the convergence check is a scan of the
    files just written, not a second execution of the round's joins).
    """
    import uuid

    from ..cache import materialize_slot

    slot = f"dedup.cc.{uuid.uuid4().hex[:12]}"
    # The pair plan is often the expensive part of the whole job (a
    # corpus-scale shingle/decode self-join for the dedup callers), and
    # every round consumes the edge table — so evaluate it EXACTLY ONCE:
    # both directions from one explode (one pass over the pair plan, the
    # union shape evaluated it per leg), materialized to real files
    # (lineage truncated + executor-loss safe, same contract as the
    # label table), then persisted hash(dst)-partitioned so rounds 2+
    # join labels against the cached layout with no edge-side exchange
    # (the pagerank r14 recipe).
    both = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").cast("long").alias("src"),
                    F.col("id_b").cast("long").alias("dst"),
                ),
                F.struct(
                    F.col("id_b").cast("long").alias("src"),
                    F.col("id_a").cast("long").alias("dst"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges = materialize_slot(
        both.distinct(), f"{slot}.edges", base_dir=checkpoint_dir
    ).repartition("dst").persist()
    labels = nodes.select(F.col("id").cast("long"), F.col("id").cast("long").alias("component"))
    converged = False
    # max_iterations bounds the *label-changing* rounds; the +1 allows the
    # zero-change confirmation round, so a graph whose fixpoint lands
    # exactly on round max_iterations isn't misreported as non-converged.
    for _ in range(max_iterations + 1):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr"))
        )
        propagated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.col("component").alias("_old"),
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr"), F.col("component"))
                ).alias("component"),
            )
        )
        # pointer jump: component -> that node's component (labels are
        # always node ids, so the lookup side is the same table)
        lut = propagated.select(
            F.col("id").alias("cid"), F.col("component").alias("cc")
        )
        jumped = F.coalesce(F.col("cc"), F.col("component"))
        new_labels = (
            propagated.join(lut, propagated.component == lut.cid, "left")
            .select(
                "id",
                jumped.alias("component"),
                # components are node ids, never NULL, so != is total;
                # the flag rides the materialized table so the changed
                # check below is a file scan, not a re-execution of the
                # round plan (the old shape ran the round's joins twice
                # per round: once under the changed-count, once under
                # the materializing write)
                (jumped != F.col("_old")).alias("_chg"),
            )
        )
        mat = materialize_slot(new_labels, slot, base_dir=checkpoint_dir)
        changed = mat.filter(F.col("_chg")).limit(1).count()
        labels = mat.select("id", "component")
        if not changed:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — the pair graph has a longer path than expected; "
            "raise max_iterations (rounds needed ~ log2(graph diameter))"
        )
    return labels


def _distinct_ngrams(
    df: DataFrame, n: int, id_col: str, text_col: str, out: str
) -> DataFrame:
    """``(out, gram)`` — each document's DISTINCT token ``n``-grams,
    exploded (no rows for documents shorter than ``n`` tokens); the one
    definition behind :func:`ngram_contamination` and
    :func:`ngram_overlap_report` so their gram semantics cannot
    drift."""
    toks = df.select(
        F.col(id_col).cast("long").alias(out),
        F.split(F.col(text_col), " ").alias("_t"),
    )
    g = F.expr(
        f"CASE WHEN size(_t) >= {n} THEN "
        f"transform(sequence(1, size(_t) - {n - 1}), "
        f"i -> array_join(slice(_t, i, {n}), ' ')) "
        "ELSE array() END"
    )
    return toks.select(out, F.explode(F.array_distinct(g)).alias("gram"))


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Training-data decontamination: ``(id, n_hit_grams)`` for every
    corpus document sharing at least one token ``n``-gram with the
    benchmark/eval set — the standard pre-training hygiene check that a
    training corpus does not contain the eval suite (usually run with
    n around 10-13 on real data).

    Scale shape: benchmark sets are small (thousands of prompts), so the
    distinct benchmark grams are BROADCAST and the corpus side is
    filtered in the map stage — only matching grams ever reach the
    per-document aggregation, so the shuffle is proportional to the
    contamination, not the corpus. For a benchmark too large to
    broadcast, swap the join key to ``xxhash64(gram)`` and pre-bucket
    both sides; the count semantics are unchanged (module docstring
    family: inverted-index join, no pair space)."""
    cg = _distinct_ngrams(corpus, n, id_col, text_col, "id")
    bg = _distinct_ngrams(
        benchmark, n, id_col, text_col, "bid"
    ).select("gram").distinct()
    return (
        cg.join(F.broadcast(bg), "gram")
        .groupBy("id")
        .agg(F.count_distinct("gram").alias("n_hit_grams"))
    )


def ngram_overlap_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    *,
    threshold: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GRADED contamination report — ``(id, n_grams, n_hit_grams,
    overlap, contaminated)`` for EVERY corpus document (not just hits):
    ``overlap`` is the fraction of the document's distinct token
    ``n``-grams found anywhere in the benchmark set, ``contaminated``
    is the ``overlap >= threshold`` decision. The graded twin of
    :func:`ngram_contamination`'s boolean shape — the standard
    any-shared-gram rule flags a 10k-token document over one quoted
    sentence, while training-corpus audits (GPT-3/PaLM style) grade by
    the overlapped FRACTION and drop above a threshold; this emits the
    evidence and the decision per document so the cutoff is auditable.
    Documents shorter than ``n`` tokens report ``n_grams = 0``,
    ``overlap = 0.0``, not contaminated.

    Scale shape: same as the boolean check — benchmark grams broadcast,
    corpus grams filtered map-side, plus one per-document count
    aggregation for the denominators (shuffle keyed by doc id, rows
    bounded by the corpus' distinct grams)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1] (got {threshold})")
    cg = _distinct_ngrams(corpus, n, id_col, text_col, "id")
    sizes = cg.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    bg = _distinct_ngrams(
        benchmark, n, id_col, text_col, "bid"
    ).select("gram").distinct()
    hits = (
        cg.join(F.broadcast(bg), "gram")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )
    ids = corpus.select(F.col(id_col).cast("long").alias("id"))
    ng = F.coalesce(F.col("n_grams"), F.lit(0))
    nh = F.coalesce(F.col("n_hit_grams"), F.lit(0))
    frac = nh.cast("double") / ng.cast("double")
    return (
        ids.join(sizes, "id", "left")
        .join(hits, "id", "left")
        .select(
            "id",
            ng.cast("long").alias("n_grams"),
            nh.cast("long").alias("n_hit_grams"),
            F.when(ng > 0, F.round(frac, 5)).otherwise(0.0).alias("overlap"),
            F.when(ng > 0, frac >= F.lit(float(threshold)))
            .otherwise(F.lit(False)).alias("contaminated"),
        )
    )


def substring_span_pairs(
    df: DataFrame,
    span_tokens: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_doc_freq: Optional[int] = None,
    base_hash: str = "h48",
) -> DataFrame:
    """Exact-substring dedup: ``(id_a, id_b, span_start_a,
    span_start_b)`` for every cross-document pair of identical
    ``span_tokens``-token spans (1-based token positions, ``id_a <
    id_b``). This is the corpus-vs-corpus partial-overlap detector the
    standard dedup battery runs at ~50-token spans (suffix-array
    "exact substring" dedup re-expressed relationally): MinHash bands
    compare WHOLE documents and miss a copied paragraph inside an
    otherwise-different page; this catches exactly that.

    Scale shape: every document explodes into its rolling spans hashed
    to a 48-bit key (h48 — portable, so a SQL oracle can recompute it),
    and matches come from an equi-join on the hash — an inverted-index
    join, never an all-pairs comparison. The skew hazard is boilerplate
    spans shared by thousands of documents (m docs sharing a span emit
    m^2 pair rows); ``max_doc_freq`` is the stop-span cap: spans present
    in more than that many documents are dropped (the standard stop-list
    approximation; ``None`` keeps exact semantics for the oracle).
    Shuffle volume is one row per (document, span position) — linear in
    corpus token count, same as the tokenize pass."""
    if span_tokens < 2:
        raise ValueError("span_tokens must be >= 2")
    if base_hash == "h48":
        span_hash = h48(F.col("_s"))
    elif base_hash == "xxhash64":
        # JVM-native production mode — same rationale as the minhash
        # family's base_hash (md5 stalls under heavy thread counts)
        span_hash = F.xxhash64(F.col("_s"))
    else:
        raise ValueError(
            f"base_hash must be 'h48' or 'xxhash64', got {base_hash!r}"
        )
    sp = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.posexplode(token_shingles_col(F.col(text_col), span_tokens)).alias(
            "_p", "_s"
        ),
    ).select(
        "id", (F.col("_p") + 1).cast("long").alias("pos"), span_hash.alias("h")
    )
    if max_doc_freq is not None:
        keep = (
            sp.groupBy("h")
            .agg(F.count_distinct("id").alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("h")
        )
        sp = sp.join(keep, "h")
    # both self-join sides read this — persist via the bounded slot
    # registry so the tokenize+md5 pipeline runs once
    sp = persist_slot(sp, "dedup.substring_spans", eager=True)
    a = sp.alias("a")
    b = sp.alias("b")
    return (
        a.join(b, on="h")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.pos").alias("span_start_a"),
            F.col("b.pos").alias("span_start_b"),
        )
    )


def group_representatives(
    components: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Pick one canonical document per duplicate group: ``(component,
    rep_id, group_size)`` where the representative maximizes
    ``quality_col`` (ties -> smallest id) — the "keep best, drop rest"
    step that turns near-dup clusters into a deduplicated corpus.

    One hash aggregation (``max_by`` over an orderable struct), no
    window sort — the shuffle key is the component id, so group size,
    not corpus size, bounds per-task state."""
    joined = components.join(
        docs.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(quality_col).cast("long").alias("_q"),
        ),
        "id",
    )
    return joined.groupBy("component").agg(
        F.expr("max_by(id, struct(_q, -id))").alias("rep_id"),
        F.count(F.lit(1)).alias("group_size"),
    )


def substring_overlap_stats(
    df: DataFrame,
    span_tokens: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_doc_freq: Optional[int] = None,
    base_hash: str = "h48",
) -> DataFrame:
    """Aggregate :func:`substring_span_pairs` into the per-pair decision
    record a dedup policy consumes: ``(id_a, id_b, n_shared_spans,
    n_alignments, longest_overlap_tokens)``. Matches from one copied
    region all lie on a single ALIGNMENT diagonal
    (``span_start_a - span_start_b``), so ``longest_overlap_tokens =
    max over alignments of (spans_on_alignment + span_tokens - 1)`` —
    exact for a contiguously shared passage (the common case), an upper
    bound when a diagonal has gaps. Output is one row per candidate
    pair, however many spans matched — the explosion-safe view of the
    positional operator."""
    pairs = substring_span_pairs(
        df, span_tokens, id_col, text_col, max_doc_freq=max_doc_freq,
        base_hash=base_hash,
    )
    per_diag = (
        pairs.withColumn(
            "_diag", F.col("span_start_a") - F.col("span_start_b")
        )
        .groupBy("id_a", "id_b", "_diag")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    return per_diag.groupBy("id_a", "id_b").agg(
        F.sum("_cnt").alias("n_shared_spans"),
        F.count(F.lit(1)).alias("n_alignments"),
        (F.max("_cnt") + F.lit(span_tokens - 1)).alias(
            "longest_overlap_tokens"
        ),
    )


# --------------------------------------------------------------------- #
# Line-level dedup (the CCNet recipe: hash normalized lines/paragraphs
# corpus-wide, drop the duplicated ones — catches boilerplate headers,
# navigation chrome, license blocks that document-level MinHash misses).
# --------------------------------------------------------------------- #

def explode_lines(
    df: DataFrame,
    delimiter: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(id, line_no, line)`` — one row per delimiter-separated line,
    order preserved via ``posexplode``. Pure Catalyst; the at-scale
    entry point for real web corpora (newline/paragraph delimited)."""
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        F.posexplode(F.split(F.col(text_col), delimiter)).alias(
            "line_no", "line"
        ),
    )


def segment_lines(
    df: DataFrame,
    tokens_per_line: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(id, line_no, line)`` by cutting each document into
    NON-overlapping ``tokens_per_line``-token segments — the stand-in
    for :func:`explode_lines` on corpora without line structure (the
    test tables are flat token streams). Pure Catalyst: split +
    sequence + slice + posexplode, zero Python, zero exchanges."""
    if tokens_per_line < 1:
        raise ValueError("tokens_per_line must be >= 1")
    toks = tokens_col(F.col(text_col))
    k = F.lit(tokens_per_line)
    n_seg = F.ceil(F.size(toks) / k).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(F.slice(toks, i * k + 1, tokens_per_line), " "),
    )
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        F.posexplode(segs).alias("line_no", "line"),
    )


def line_dedup(
    lines: DataFrame,
    *,
    min_dup: int = 2,
    keep_first: bool = True,
    join_delimiter: str = " ",
    base_hash: str = "h48",
) -> DataFrame:
    """Corpus-wide line dedup over an ``(id, line_no, line)`` frame
    (from :func:`explode_lines` or :func:`segment_lines`).

    A line whose NORMALIZED form (:func:`normalize_text_col`) occurs in
    ``>= min_dup`` line slots corpus-wide is a duplicate; duplicates are
    dropped everywhere except — when ``keep_first`` — their first
    occurrence in ``(id, line_no)`` order. Returns one row per input
    document: ``(id, clean_text, n_lines, n_kept)`` with surviving
    lines re-joined in original order (``clean_text = ''`` when every
    line was dropped).

    Scale shape: one hash aggregation keyed on the 64-bit line hash
    (count + min occurrence — partial aggregation applies), one
    equi-join back on that hash (AQE-managed, never broadcast of
    corpus-derived data), one reassembly aggregation keyed on doc id
    whose per-group state is bounded by document length. No windows
    over corpus-wide partitions, no driver materialization."""
    from ..functions.text import normalize_text_col

    keyed = lines.withColumn(
        "_key", _base_hash(normalize_text_col(F.col("line")), base_hash)
    )
    stats = keyed.groupBy("_key").agg(
        F.count(F.lit(1)).alias("_dup"),
        F.min(F.struct("id", "line_no")).alias("_first"),
    )
    joined = keyed.join(stats, "_key")
    kept_flag = (F.col("_dup") < min_dup) | (
        F.lit(keep_first)
        & (F.struct("id", "line_no") == F.col("_first"))
    )
    flagged = joined.select(
        "id", "line_no", "line", kept_flag.alias("_keep")
    )
    return flagged.groupBy("id").agg(
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct("line_no", "line"),
                            )
                        )
                    ),
                    lambda s: s.line,
                ),
                join_delimiter,
            ),
            F.lit(""),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
    )


def soft_dedup_weights(
    components: DataFrame, *, round_decimals: int = 5
) -> DataFrame:
    """Soft dedup: instead of dropping near-duplicates, keep every
    document with sampling weight ``1 / |its duplicate cluster|`` so a
    cluster contributes one document's worth of probability mass to the
    training mixture (the down-weighting alternative the RefinedWeb /
    data-mixing literature uses when hard deletion is too lossy).

    Input: ``(id, component)`` from :func:`connected_components`.
    Output: ``(id, component, group_size, weight)``. One hash
    aggregation on the component id + one equi-join back — per-task
    state bounded by cluster count, never corpus size."""
    sizes = components.groupBy("component").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return components.join(sizes, "component").select(
        "id",
        "component",
        "group_size",
        F.round(F.lit(1.0) / F.col("group_size"), round_decimals).alias(
            "weight"
        ),
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    round_decimals: int = 5,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, then inside
    each cluster drop every vector whose cosine to a LOWER-id
    cluster-mate reaches ``threshold`` — semantic near-duplicates that
    share no n-grams, which every lexical family above misses.

    ``(id, centroid_id, max_sim_lower, keep)``: ``max_sim_lower`` is
    the best similarity to a lower-id mate (NULL when alone in the
    cluster), ``keep`` its comparison against the threshold after
    rounding (so the decision is bit-stable cross-engine).

    Scale shape: the pair join is keyed on ``centroid_id``, so the
    quadratic term is ``sum(cluster_size^2)``, NOT corpus^2 — the
    SemDeDup contract is to grow K with the corpus (cluster size stays
    ~constant, e.g. 10-50k vectors), which keeps each join task
    bounded; the centroid table stays broadcast-small throughout."""
    from ..functions.vector import cosine_similarity
    from .knn import ivf_assign

    assign = ivf_assign(
        vectors, centroids, id_col=id_col, vector_col=vector_col
    )
    av = assign.join(
        vectors.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vector_col).alias("_v"),
        ),
        "id",
    )
    a, b = av.alias("a"), av.alias("b")
    sims = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.id") > F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id"),
            cosine_similarity(F.col("a._v"), F.col("b._v")).alias("_s"),
        )
        .groupBy("id")
        .agg(F.round(F.max("_s"), round_decimals).alias("max_sim_lower"))
    )
    return av.select("id", "centroid_id").join(sims, "id", "left").select(
        "id",
        "centroid_id",
        "max_sim_lower",
        (
            F.col("max_sim_lower").isNull()
            | (F.col("max_sim_lower") < threshold)
        ).alias("keep"),
    )


def editdist_pairs(
    df: DataFrame,
    max_dist: int = 2,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: Optional[int] = None,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """EXACT string near-dup pairs ``(id_a < id_b, dist)`` within
    Levenshtein edit distance ``max_dist`` — the fuzzy-string member of
    the dedup battery (OCR noise, near-dup titles, typo'd boilerplate),
    found by PIGEONHOLE SEGMENT BANDING (the PassJoin family, public
    algorithm — Li et al., VLDB 2011) instead of an all-pairs
    ``levenshtein`` scan:

    * every string is split into ``k+1`` contiguous segments (even
      split, longer segments first — the same divmod scheme as
      :func:`simhash_blocks` on characters); if two strings are within
      edit distance ``k``, at least one segment of the shorter appears
      EXACTLY in the longer, at a start position shifted by at most
      ``k`` (each edit moves an alignment by at most one);
    * side A emits each string's own ``k+1`` segments keyed by
      ``(len, seg_idx, seg_str)``; side B emits, per candidate shorter
      length ``len-k..len`` and segment index, the longer string's
      substrings at the scheme's position ± ``k`` — a fan-out bounded
      by ``(k+1)^2 * (2k+1)`` rows per string, independent of corpus
      size;
    * the equi-join key is ``(l1, seg_idx, segment-string)`` — never a
      document pair — and survivors verify with ONE built-in
      ``levenshtein`` call per candidate, so the pair space stays
      output-bound (the quadratic scan never materializes).

    ``prefix_len`` compares only the first N chars (titles/headers —
    also bounds the verify cost, levenshtein is O(n*m) per pair).
    ``max_bucket_size`` drops degenerate segment buckets (a hot
    boilerplate prefix shared by > cap strings) — a documented recall
    tradeoff; ``None`` stays exact. ``max_dist=0`` degenerates to an
    exact-equality self-join."""
    k = int(max_dist)
    if k < 0:
        raise ValueError(f"max_dist must be >= 0 (got {k})")
    kk = k + 1
    col = (
        F.substring(F.col(text_col), 1, prefix_len)
        if prefix_len is not None else F.col(text_col)
    )
    s = df.select(
        F.col(id_col).cast("long").alias("id"), col.alias("s")
    ).withColumn("l", F.length("s"))
    # feeds segment generation (twice) + verification: one computation
    s = persist_slot(s, "dedup.editdist_strings", eager=True)

    def _seg(l1, i):
        base = F.floor(l1 / kk).cast("int")
        rem = (l1 % kk).cast("int")
        seg_len = base + F.when(i < rem, 1).otherwise(0)
        seg_start = i * base + F.least(i, rem)
        return seg_start, seg_len

    a_rows = s.select(
        F.col("id").alias("sid"), F.col("l").alias("l1"), "s",
        F.explode(F.sequence(F.lit(0), F.lit(k))).alias("i"),
    )
    sa_start, sa_len = _seg(F.col("l1"), F.col("i"))
    A = a_rows.select(
        "sid", "l1", "i",
        F.col("s").substr(sa_start + 1, sa_len).alias("seg"),
    )
    if max_bucket_size is not None:
        cap = (
            A.groupBy("l1", "i", "seg")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
        A = A.join(cap, ["l1", "i", "seg"])
    b_rows = (
        s.select(
            F.col("id").alias("tid"), F.col("l").alias("l2"),
            F.col("s").alias("t"),
            F.explode(F.sequence(F.lit(0), F.lit(k))).alias("dl"),
        )
        .withColumn("l1", F.col("l2") - F.col("dl"))
        .filter(F.col("l1") >= 0)
        .select(
            "tid", "l2", "t", "l1",
            F.explode(F.sequence(F.lit(0), F.lit(k))).alias("i"),
        )
        .select(
            "tid", "l2", "t", "l1", "i",
            F.explode(F.sequence(F.lit(-k), F.lit(k))).alias("sh"),
        )
    )
    sb_start0, sb_len = _seg(F.col("l1"), F.col("i"))
    sb_start = sb_start0 + F.col("sh")
    B = b_rows.filter(
        (sb_start >= 0) & (sb_start + sb_len <= F.col("l2"))
    ).select(
        "tid", "l1", "i",
        F.col("t").substr(sb_start + 1, sb_len).alias("seg"),
    )
    cand = (
        A.join(B, ["l1", "i", "seg"])
        .filter(F.col("sid") != F.col("tid"))
        .select("sid", "tid")
        .distinct()
    )
    sa = s.select(F.col("id").alias("sid"), F.col("s").alias("sa"))
    sb = s.select(F.col("id").alias("tid"), F.col("s").alias("sb"))
    return (
        cand.join(sa, "sid")
        .join(sb, "tid")
        .withColumn("dist", F.levenshtein("sa", "sb").cast("long"))
        .filter(F.col("dist") <= k)
        .select(
            F.least("sid", "tid").alias("id_a"),
            F.greatest("sid", "tid").alias("id_b"),
            "dist",
        )
        .distinct()
    )


def editdist_join(
    left: DataFrame,
    right: DataFrame,
    max_dist: int = 2,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: Optional[int] = None,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """CROSS-corpus edit-distance join ``(left_id, right_id, dist)``
    within Levenshtein ``max_dist`` — the FUZZY DECONTAMINATION shape:
    exact n-gram decontamination (:func:`ngram_contamination`) misses a
    benchmark sentence that leaked into the training corpus with a
    typo fixed or a word order nudge; an edit-distance join catches
    it. Same PassJoin pigeonhole machinery as :func:`editdist_pairs`
    (segments on the shorter role, position-window substrings on the
    longer, one ``levenshtein`` verify per candidate — EXACT), run
    over the tagged union of both tables with only cross-side
    candidates kept, so either side may be the shorter one and
    neither corpus is ever scanned quadratically."""
    k = int(max_dist)
    if k < 0:
        raise ValueError(f"max_dist must be >= 0 (got {k})")
    kk = k + 1

    def _prep(df, side):
        col = (
            F.substring(F.col(text_col), 1, prefix_len)
            if prefix_len is not None else F.col(text_col)
        )
        return df.select(
            F.lit(side).alias("side"),
            F.col(id_col).cast("long").alias("id"),
            col.alias("s"),
        ).withColumn("l", F.length("s"))

    s = persist_slot(
        _prep(left, 0).unionByName(_prep(right, 1)),
        "dedup.editdist_join_strings", eager=True,
    )

    def _seg(l1, i):
        base = F.floor(l1 / kk).cast("int")
        rem = (l1 % kk).cast("int")
        return i * base + F.least(i, rem), base + F.when(
            i < rem, 1
        ).otherwise(0)

    a_rows = s.select(
        "side", "id", F.col("l").alias("l1"), "s",
        F.explode(F.sequence(F.lit(0), F.lit(k))).alias("i"),
    )
    sa_start, sa_len = _seg(F.col("l1"), F.col("i"))
    A = a_rows.select(
        F.col("side").alias("sa"), F.col("id").alias("ida"), "l1", "i",
        F.col("s").substr(sa_start + 1, sa_len).alias("seg"),
    )
    if max_bucket_size is not None:
        cap = (
            A.groupBy("l1", "i", "seg")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
        A = A.join(cap, ["l1", "i", "seg"])
    b_rows = (
        s.select(
            F.col("side").alias("sb"), F.col("id").alias("idb"),
            F.col("l").alias("l2"), F.col("s").alias("t"),
            F.explode(F.sequence(F.lit(0), F.lit(k))).alias("dl"),
        )
        .withColumn("l1", F.col("l2") - F.col("dl"))
        .filter(F.col("l1") >= 0)
        .select(
            "sb", "idb", "l2", "t", "l1",
            F.explode(F.sequence(F.lit(0), F.lit(k))).alias("i"),
        )
        .select(
            "sb", "idb", "l2", "t", "l1", "i",
            F.explode(F.sequence(F.lit(-k), F.lit(k))).alias("sh"),
        )
    )
    sb_start0, sb_len = _seg(F.col("l1"), F.col("i"))
    sb_start = sb_start0 + F.col("sh")
    B = b_rows.filter(
        (sb_start >= 0) & (sb_start + sb_len <= F.col("l2"))
    ).select(
        "sb", "idb", "l1", "i",
        F.col("t").substr(sb_start + 1, sb_len).alias("seg"),
    )
    cand = (
        A.join(B, ["l1", "i", "seg"])
        .filter(F.col("sa") != F.col("sb"))
        .select(
            F.when(F.col("sa") == 0, F.col("ida"))
            .otherwise(F.col("idb")).alias("left_id"),
            F.when(F.col("sa") == 0, F.col("idb"))
            .otherwise(F.col("ida")).alias("right_id"),
        )
        .distinct()
    )
    sl = s.filter(F.col("side") == 0).select(
        F.col("id").alias("left_id"), F.col("s").alias("ls")
    )
    sr = s.filter(F.col("side") == 1).select(
        F.col("id").alias("right_id"), F.col("s").alias("rs")
    )
    return (
        cand.join(sl, "left_id")
        .join(sr, "right_id")
        .withColumn("dist", F.levenshtein("ls", "rs").cast("long"))
        .filter(F.col("dist") <= k)
        .select("left_id", "right_id", "dist")
        .distinct()
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col,
    *,
    window: int = 3,
    id_col: str = "doc_id",
    text_col: Optional[str] = None,
    max_dist: Optional[int] = None,
    prefix_len: Optional[int] = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (classic entity-resolution method,
    Hernández & Stolfo 1995): sort the corpus by a blocking key and
    compare only records within ``window`` positions of each other —
    candidates are O(n * window), never quadratic, and a well-chosen
    key (a normalized prefix, a phonetic code) puts near-duplicates
    adjacent. Complements the banding methods: where MinHash/PassJoin
    guarantee recall for a specific similarity, SNM is the cheap
    generic pass whose recall rides the key design.

    ``key_col`` is a column name or Column expression — or a LIST of
    them for the MULTI-PASS variant (Hernández & Stolfo's own remedy
    for single-key fragility: a typo in the key's leading characters
    teleports a record across the sort order, so one pass sorts by
    several independent keys and unions the candidate pairs; recall
    compounds across passes while cost stays O(n * window * passes)).
    Candidates are deduplicated ACROSS passes before any verification,
    so a pair adjacent under every key still pays one ``levenshtein``.

    With ``text_col`` and ``max_dist`` set, candidates verify with one
    built-in ``levenshtein`` per distinct pair (on the
    ``prefix_len``-char prefix when given) and the output gains a
    ``dist`` column; otherwise the raw neighborhood pairs come back
    unverified.

    Scale shape: each pass's global sort rank comes from the two-stage
    distributed scan (:func:`~lshrs_spark.operators.prefix.
    running_total` — range partition + per-partition window + driver
    offsets; NO single-partition window anywhere), and the
    neighborhood join is an equi-join on ``rank + d`` for ``d in
    1..window`` — ``window`` narrow join rows per record. Ties in the
    key order deterministically by id, so results are reproducible
    and an external SQL engine replays them exactly. Callers with an
    expensive upstream ``df`` should persist it — every pass re-reads
    it once."""
    if window < 1:
        raise ValueError(f"window must be >= 1 (got {window})")
    if (max_dist is None) != (text_col is None):
        raise ValueError("max_dist and text_col must be set together")
    from .prefix import running_total

    keys = list(key_col) if isinstance(key_col, (list, tuple)) else [key_col]
    if not keys:
        raise ValueError("key_col must name at least one blocking key")
    kcols = [
        (F.col(k) if isinstance(k, str) else k).alias(f"_k{i}")
        for i, k in enumerate(keys)
    ]
    base_cols = [F.col(id_col).cast("long").alias("id"), *kcols]
    if text_col is not None:
        txt = (
            F.substring(F.col(text_col), 1, prefix_len)
            if prefix_len is not None else F.col(text_col)
        )
        base_cols.append(txt.alias("_t"))
    s = df.select(*base_cols)
    cand: Optional[DataFrame] = None
    for i in range(len(keys)):
        ranked = running_total(
            s.select("id", F.col(f"_k{i}").alias("_k"))
            .withColumn("_one", F.lit(1))
            .withColumn("_ord", F.struct(F.col("_k"), F.col("id"))),
            "_ord", "_one", out_col="rank",
        )
        left = ranked.withColumn(
            "d", F.explode(F.sequence(F.lit(1), F.lit(window)))
        ).select(
            F.col("id").alias("id_l"),
            (F.col("rank") + F.col("d")).alias("rk"),
        )
        right = ranked.select(F.col("id").alias("id_r"),
                              F.col("rank").alias("rk"))
        p = left.join(right, "rk").select(
            F.least("id_l", "id_r").alias("id_a"),
            F.greatest("id_l", "id_r").alias("id_b"),
        )
        cand = p if cand is None else cand.unionByName(p)
    cand = cand.distinct()
    if text_col is None:
        return cand
    t = s.select("id", "_t")
    pairs = (
        cand.join(
            t.select(F.col("id").alias("id_a"), F.col("_t").alias("t_a")),
            "id_a",
        )
        .join(
            t.select(F.col("id").alias("id_b"), F.col("_t").alias("t_b")),
            "id_b",
        )
        .select(
            "id_a", "id_b",
            F.levenshtein("t_a", "t_b").cast("long").alias("dist"),
        )
    )
    return pairs.filter(F.col("dist") <= max_dist)


def _band_key_rows(tbl, hash_col, blocks, *, keep=(), out_cols):
    """``(id, *keep, <out_cols[0]>, <out_cols[1]>)`` — the pigeonhole
    block extraction shared by :func:`hamming_banded_pairs` (self-join
    banding) and :func:`image_dhash_band_keys` (streaming key store):
    ONE definition of the shiftright/mask/stack construction, so the
    two consumers cannot drift apart."""
    nb = len(blocks)
    vals = [
        F.expr(
            f"shiftright({hash_col}, {start}) & {(1 << ln) - 1}"
        ).alias(f"v{i}")
        for i, (start, ln) in enumerate(blocks)
    ]
    stack = ", ".join(f"{i}, v{i}" for i in range(nb))
    return tbl.select("id", *keep, *vals).selectExpr(
        "id", *keep,
        f"stack({nb}, {stack}) AS ({out_cols[0]}, {out_cols[1]})",
    )


def image_dhash_band_keys(
    payload_df: DataFrame,
    max_hamming: int = 6,
    *,
    num_blocks: Optional[int] = None,
) -> DataFrame:
    """``(id, band, sig)`` — perceptual-dHash pigeonhole blocks as
    band keys, the image twin of :func:`minhash_band_keys`: two images
    within Hamming distance ``max_hamming`` are GUARANTEED to share at
    least one key (pigeonhole over ``max_hamming + 1`` blocks), so a
    key-store join finds every near-dup; a shared key does not prove
    distance <= threshold (same candidate semantics as the MinHash
    keys). Plugs straight into
    :func:`~lshrs_spark.streaming.ingest.stream_dedup_ingest` via
    ``key_fn`` for streaming image ingest dedup."""
    from ..multimodal import DHASH_BITS, dhash_table

    tbl = dhash_table(payload_df)
    blocks = simhash_blocks(max_hamming, bits=DHASH_BITS,
                            num_blocks=num_blocks)
    return _band_key_rows(tbl, "dhash", blocks, out_cols=("band", "sig"))


def audio_fingerprint_band_keys(
    payload_df: DataFrame,
    max_hamming: int = 3,
    *,
    num_blocks: Optional[int] = None,
) -> DataFrame:
    """``(id, band, sig)`` — audio-fingerprint pigeonhole blocks as
    band keys, the audio twin of :func:`image_dhash_band_keys`: two
    clips within Hamming distance ``max_hamming`` are GUARANTEED to
    share at least one key. Plugs straight into
    :func:`~lshrs_spark.streaming.ingest.stream_dedup_ingest` via
    ``key_fn`` for streaming audio ingest dedup."""
    from ..multimodal import AFP_BITS, audio_fingerprint_table

    tbl = audio_fingerprint_table(payload_df)
    blocks = simhash_blocks(max_hamming, bits=AFP_BITS,
                            num_blocks=num_blocks)
    return _band_key_rows(tbl, "afp", blocks, out_cols=("band", "sig"))


def video_near_dup_pairs(
    payload_df: DataFrame,
    *,
    every_k: int = 1,
    min_shared_frames: int = 1,
    max_hash_freq: Optional[int] = None,
    max_hamming: int = 0,
    num_blocks: Optional[int] = None,
) -> DataFrame:
    """``(id_a < id_b, shared_frames)`` — video near-duplicate pairs by
    FRAME-HASH overlap, the video member of the multimodal dedup
    battery (image: :func:`image_dhash_pairs`, audio:
    :func:`audio_fingerprint_pairs`): sample every ``every_k``-th
    frame out of the VID0 containers, perceptual-dHash each frame
    (Arrow-batched decode), and join clips on EXACT frame-hash
    equality — ``shared_frames`` counts the DISTINCT hash values two
    clips share, the standard frame-fingerprint shingle signal
    (re-encoded copies and clips sharing stretches of footage collide
    on their common frames).

    Scale shape: the join key is the 48-bit hash value, never the
    payload, and sampling happens BEFORE decode, so the joined table
    is ``1/every_k`` of the frame volume at 16 bytes/row.
    ``max_hash_freq`` is the stop-frame cap: a hash appearing in more
    than that many clips (black frames, title cards, test patterns)
    would contribute quadratic join rows while carrying no dedup
    signal — capped hashes are dropped from BOTH the join and the
    shared counts (documented approximation; ``None`` stays exact).
    ``payload_df`` carries ``(id, payload)`` VID0 containers.

    ``max_hamming`` (VERDICT r6 #5): with the default 0, clips join on
    exact hash equality (the fast path — no banding fan-out). With
    ``max_hamming=h > 0``, a re-encoded frame whose dHash drifts up to
    ``h`` bits still matches: the DISTINCT hash values are routed
    through :func:`hamming_banded_pairs` (the pigeonhole core shared
    with SimHash/image/audio — exact, never all-pairs), and
    ``shared_frames`` counts the distinct matched ``(value_a,
    value_b)`` frame-hash pairs between the two clips (which reduces
    to the shared-distinct-value count at ``h=0``). The value-pair
    table is bounded by real Hamming neighborhoods in fingerprint
    space — corpus-size-independent — so the tolerant path keeps the
    same inverted-index scale shape."""
    from ..multimodal import DHASH_BITS, video_frame_dhash

    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0 (got {max_hamming})")
    # r14 (guide §4.1): sampling + decode + dHash fused into ONE Arrow
    # boundary crossing (the two-operator frame_sample -> dhash_table
    # chain shipped every frame payload across the Python boundary
    # twice); only 16-byte hash rows come back.
    fh = video_frame_dhash(payload_df, every_k)
    # r14 (guide §2.4): persist the DISTINCT hash table hash(dhash)-
    # partitioned, BEFORE the stop-frame cap. Two wins, same results:
    # the cap's frequency count previously re-derived the whole
    # payload->Python->distinct pipeline as a second plan branch
    # (AQE's exchange reuse does not span the differently-shaped
    # legs), so the decode ran twice; and hash(dhash) placed before
    # the distinct satisfies the dedup's clustering (dhash is a subset
    # of (id, dhash)), the frequency groupBy("dhash"), the cap join
    # AND both sides of the clip self-join — one exchange where the
    # old chain paid one per operator. Skew note: a degenerate hot
    # hash concentrates its rows in one partition here, but the very
    # next operator (the dhash-keyed self-join) has the identical
    # hot-key profile, so the layout adds no new hazard — and
    # max_hash_freq exists precisely to cap that mass.
    hashes = persist_slot(
        fh.select("id", "dhash").repartition(F.col("dhash")).distinct(),
        "dedup.video_frame_hashes", eager=True,
    )
    if max_hash_freq is not None:
        keep = (
            hashes.groupBy("dhash")
            .agg(F.count(F.lit(1)).alias("_hf"))
            .filter(F.col("_hf") <= max_hash_freq)
            .select("dhash")
        )
        hashes = hashes.join(keep, "dhash")
    a = hashes.alias("a")
    b = hashes.alias("b")
    if max_hamming == 0:
        return (
            a.join(b, on="dhash")
            .filter(F.col("a.id") < F.col("b.id"))
            .groupBy(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
            )
            .agg(F.count(F.lit(1)).alias("shared_frames"))
            .filter(F.col("shared_frames") >= min_shared_frames)
        )
    # tolerant path: Hamming-match the DISTINCT hash VALUES first
    # (pigeonhole-banded, exact), then expand to clip pairs
    hv = hashes.select("dhash").distinct()
    vp = hamming_banded_pairs(
        hv.select(F.col("dhash").alias("id"), F.col("dhash").alias("_vh")),
        hash_col="_vh", bits=DHASH_BITS, max_hamming=max_hamming,
        num_blocks=num_blocks, slot="dedup.video_hash_values",
    ).select("id_a", "id_b")
    # symmetric closure + self edges: an A-side value matches a B-side
    # value iff (va, vb) is an edge here
    edges = (
        vp.select(F.col("id_a").alias("va"), F.col("id_b").alias("vb"))
        .union(vp.select(F.col("id_b").alias("va"),
                         F.col("id_a").alias("vb")))
        .union(hv.select(F.col("dhash").alias("va"),
                         F.col("dhash").alias("vb")))
    )
    return (
        a.join(edges, F.col("a.dhash") == F.col("va"))
        .join(b, F.col("vb") == F.col("b.dhash"))
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count_distinct("va", "vb").alias("shared_frames"))
        .filter(F.col("shared_frames") >= min_shared_frames)
    )


def chunk_overlap_pairs(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    *,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: Optional[int] = None,
) -> DataFrame:
    """``(id_a < id_b, shared_chunks)`` — document pairs sharing at
    least ``min_shared`` IDENTICAL token chunks (the
    :func:`~lshrs_spark.functions.text.chunk_documents` windows): the
    chunk-granularity dedup pass for long documents, where a copied
    section rides inside otherwise-different texts and neither
    doc-level hashing nor short-shingle Jaccard flags it. Same
    inverted-index shape as every dedup here — the join key is the
    chunk text, never a doc pair, so the pair space stays output-bound;
    ``max_doc_freq`` is the stop-chunk cap for boilerplate skew (a
    chunk appearing in m docs contributes m^2 join rows). At
    production scale key the join by ``xxhash64(chunk_text)`` and
    verify equality on collision; the exact text key here is what the
    SQL oracle replays."""
    from ..functions.text import chunk_documents

    ch = chunk_documents(
        df, chunk_tokens=chunk_tokens, overlap=overlap,
        id_col=id_col, text_col=text_col,
    ).select("id", "chunk_text")
    if max_doc_freq is not None:
        rare = (
            ch.groupBy("chunk_text")
            .agg(F.count_distinct("id").alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("chunk_text")
        )
        ch = ch.join(rare, "chunk_text")
    a = ch.alias("a")
    b = ch.alias("b")
    return (
        a.join(b, "chunk_text")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_chunks"))
        .filter(F.col("shared_chunks") >= min_shared)
    )
