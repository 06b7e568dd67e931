"""Query-side operators: bucket probe, collision count, top-k, rerank, top-p.

The reference's fixed query pipeline (``/root/reference/lshrs/core/
main.py:524-658``) decomposed into relational operators (SURVEY.md §2.3
Q1-Q9), each a DataFrame program:

* Q1 bucket probe  -> equi-join on ``(band, sig)`` (broadcast the tiny
  query side instead of the reference's per-band sequential Redis
  ``SMEMBERS`` round-trips, ``main.py:1105-1109``).
* Q2 collision count -> ``groupBy(id).count`` (partial+final hash agg).
* Q3/Q4 order+limit -> window ``row_number`` per query id, so a *batch*
  of queries runs as ONE plan — the reference can only loop.
* Q5 candidate fetch -> join back to the vector table (replaces the
  ``vector_fetch_fn`` callback, ``main.py:99-102``).
* Q6/Q7 rerank     -> cosine as a codegen'd higher-order-function
  expression + ``row_number``/``TakeOrderedAndProject``.
* Q8 top-p         -> proportional prefix ``GREATEST(1, CEIL(n*p))`` of
  the retrieved candidates (``main.py:650-656``) — a window cutoff, NOT a
  score threshold.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import LSHConfig
from ..functions.vector import dot_product, l2_norm, l2_normalize
from ..hashing import probe_keys_local, resolve_sig_kind

__all__ = [
    "query_signatures_df",
    "choose_probe_strategy",
    "candidates",
    "candidates_from_path",
    "top_k",
    "rerank",
    "top_p_cutoff",
]


def query_signatures_df(
    spark: SparkSession,
    vectors: np.ndarray,
    cfg: LSHConfig,
    *,
    qids: Optional[Sequence[int]] = None,
    sig_kind: Optional[str] = None,
    multiprobe: int = 0,
) -> DataFrame:
    """Hash query vectors driver-side (tiny) into ``(qid, band, sig)``.

    For query batches coming from a DataFrame use ``build_index`` on it
    instead — this path avoids a Spark job for ad-hoc vectors.

    ``multiprobe=T`` additionally emits, per band, the ``T``
    closest-margin single-bit-flip perturbation keys
    (:func:`~lshrs_spark.hashing.probe_keys_local`) — multi-probe
    LSH as EXTRA PROBE ROWS, so the downstream join/aggregation plans
    are unchanged: a perturbed-bucket match counts as a collision like
    any other, and recall rises without adding bands to the index."""
    return spark.createDataFrame(
        *_signature_rows(vectors, cfg, qids, sig_kind, multiprobe))


def _signature_rows(vectors, cfg: LSHConfig, qids, sig_kind, multiprobe):
    """``(rows, schema)`` of :func:`query_signatures_df`."""
    sig_kind = resolve_sig_kind(cfg, sig_kind)
    keys = probe_keys_local(vectors, cfg, multiprobe, sig_kind=sig_kind)
    if qids is None:
        qids = range(len(keys))
    rows = [(int(q), b, s) for q, row in zip(qids, keys) for b, s in row]
    sig_type = "long" if sig_kind == "long" else "binary"
    return rows, f"qid long, band int, sig {sig_type}"


def choose_probe_strategy(
    n_queries: int,
    keys_per_query: int,
    index_rows: Optional[int] = None,
    *,
    max_broadcast_rows: int = 1_000_000,
    index_fraction: float = 0.1,
) -> str:
    """Driver-side cost rule for :func:`candidates`' join strategy
    (SURVEY §4's "broadcast vs shuffle probe by query-batch size"
    heuristic — a planning rule in the API layer, not a Catalyst rule,
    since AQE handles the within-regime tuning).

    The probe side is ``n_queries * keys_per_query`` signature rows —
    ``keys_per_query`` is ``num_bands`` for a plain probe and
    ``num_bands * (1 + multiprobe)`` when perturbation keys are emitted
    (the name is explicit so a future cost term cannot silently conflate
    "bands" with "total keys"; ADVICE r6). Two regimes:

    - **broadcast** (the default outcome): the probe ships to every
      executor once and the 100 TB index is NEVER shuffled — right
      while the probe side is small in absolute terms AND small
      relative to the index.
    - **shuffle**: chosen when the probe side exceeds
      ``max_broadcast_rows`` (~tens of MB serialized — past that,
      per-executor broadcast copies cost more memory/network than one
      co-partitioning pass) or exceeds ``index_fraction`` of a known
      ``index_rows`` (a corpus-scale query set — e.g. an all-pairs
      batch job — duplicates nearly index-size data into every task if
      broadcast; hash-partitioning BOTH sides on ``(band, sig)`` is
      the cheaper plan, and AQE can skew-split hot buckets).

    ``index_rows=None`` (unknown without a job) applies the absolute
    cap alone. Exposed so batch APIs with driver-known sizes
    (`LSHRS.get_top_k_batch`) route automatically; callers with a
    DataFrame query side pass their own estimate."""
    probe_rows = int(n_queries) * int(keys_per_query)
    if probe_rows > max_broadcast_rows:
        return "shuffle"
    if index_rows is not None and probe_rows > index_fraction * index_rows:
        return "shuffle"
    return "broadcast"


def candidates(
    index_df: DataFrame,
    query_sigs: DataFrame,
    *,
    strategy: str = "broadcast",
) -> DataFrame:
    """Probe + collision count: ``(qid, id, collisions)``.

    ``strategy="broadcast"`` (default, right for interactive/batch query
    sets up to millions of signatures): the query side is broadcast, the
    probe is a map-side hash join over the (possibly 100 TB) index with
    NO shuffle of the index, and the aggregation shuffles only matched
    candidates. ``strategy="shuffle"`` (right when the query set is
    itself corpus-sized, e.g. an all-pairs batch job): both sides
    hash-partition on ``(band, sig)`` — a sort-merge/shuffle-hash join
    that AQE can skew-split on hot buckets. Use
    :func:`choose_probe_strategy` to pick by driver-known sizes."""
    if strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown probe strategy: {strategy!r}")
    probe = query_sigs.select("qid", "band", "sig")
    if strategy == "broadcast":
        probe = F.broadcast(probe)
    else:
        probe = probe.hint("shuffle_hash")
    return (
        index_df.join(probe, on=["band", "sig"], how="inner")
        .groupBy("qid", "id")
        .agg(F.count(F.lit(1)).alias("collisions"))
    )


def candidates_from_path(
    spark: SparkSession,
    index_path: str,
    vectors: np.ndarray,
    cfg: LSHConfig,
    *,
    qids: Optional[Sequence[int]] = None,
    multiprobe: int = 0,
) -> DataFrame:
    """Probe a STORED index (written by ``write_index``) with storage
    pruning: the query signatures are hashed driver-side and turned into
    a pushed-down ``(band = b AND sig = s) OR ...`` predicate, so the
    scan touches only the parquet files/row-groups whose ``(band, sig)``
    ranges can match — single-query latency stays flat as the index
    grows, the distributed analogue of the reference's O(bands) Redis
    bucket lookups. ``multiprobe=T`` adds the T closest-margin
    bit-flip keys per band to the pushed-down predicate (multi-probe
    LSH — still O(bands * (1+T)) pruned lookups, recall up with no
    index change). Returns ``(qid, id, collisions)``."""
    # rows_per_band >= 64 configs probe with binary sigs: parquet prunes
    # on binary min/max stats just like longs
    qrows, schema = _signature_rows(vectors, cfg, qids, None, multiprobe)
    index_df = spark.read.parquet(index_path)
    pred = None
    pairs = {(b, s) for _, b, s in qrows}
    for band, sig in sorted(pairs):
        clause = (F.col("band") == band) & (F.col("sig") == F.lit(sig))
        pred = clause if pred is None else (pred | clause)
    pruned = index_df.filter(pred)
    probe = F.broadcast(spark.createDataFrame(qrows, schema))
    return (
        pruned.join(probe, on=["band", "sig"], how="inner")
        .groupBy("qid", "id")
        .agg(F.count(F.lit(1)).alias("collisions"))
    )


def top_k(cands: DataFrame, k: Optional[int]) -> DataFrame:
    """Reference ordering ``(-collisions, id)`` (``main.py:614-622``) with
    ``row_number`` per qid; ``k=None`` returns all, ``k<=0`` raises."""
    if k is not None and k <= 0:
        raise ValueError("top_k must be positive")
    w = Window.partitionBy("qid").orderBy(F.desc("collisions"), F.asc("id"))
    out = cands.withColumn("rank", F.row_number().over(w))
    if k is not None:
        out = out.filter(F.col("rank") <= k)
    return out.select("qid", "id", "collisions", "rank")


def rerank(
    cands: DataFrame,
    vectors_df: DataFrame,
    queries_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_vector_col: str = "qvec",
    round_scores: Optional[int] = None,
    allow_collect: bool = True,
) -> DataFrame:
    """Exact cosine rerank of candidates: ``(qid, id, collisions, score)``.

    ``queries_df`` carries ``(qid, qvec)``; candidate vectors come from a
    join against the primary vector table (Q5) — the candidate side is
    small relative to the corpus, so Catalyst/AQE broadcasts it.

    r14: for a bounded query batch the per-pair cosine runs in the
    shared Arrow kernel (``functions.batchscore.make_rerank_fn``) —
    bit-exact scores, no interpreted higher-order-function fold per
    candidate and no query-side join; oversized batches (or an
    explicit ``round_scores``) keep the Catalyst plan.
    ``allow_collect=False`` forces the Catalyst plan: callers on a
    no-job guard path (empty-index top-p) must not pay the kernel's
    eager query-batch collect just to build an empty frame.

    .. note:: CONSTRUCTION IS EAGER on the Arrow path (ADVICE r14):
       building this DataFrame (likewise ``brute_force_topk`` /
       ``mips_topk`` / ``ivf_topk``) runs a bounded driver-side
       collect of the query batch as a Spark job at plan-build time,
       before any action. A caller that constructs the frame but may
       never execute it should pass ``allow_collect=False`` (or use
       the Catalyst fallback) — the empty-index guard path does.
    """
    vecs = vectors_df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vector_col).alias("_cvec")
    )
    if round_scores is None and allow_collect:
        from ..functions import batchscore as B

        got = B.collect_vectors(queries_df.select(
            F.col("qid").cast("long"), F.col(query_vector_col)))
        if got is not None:
            qids, Q, q_nulls = got
            Qu, q_nulls = B.seq_unit(Q, q_nulls)
            fn, schema = B.make_rerank_fn(qids, Qu, q_nulls)
            return (
                cands.select(
                    F.col("qid").cast("long").alias("qid"),
                    F.col("id").cast("long").alias("id"),
                    F.col("collisions").cast("long").alias("collisions"),
                )
                .join(vecs, "id")
                .select("qid", "id", "collisions", "_cvec")
                .mapInArrow(fn, schema)
            )
    # Hoist the query-side norm into the (tiny, broadcast) query projection;
    # the candidate side stays raw — normalizing it in the projection would
    # touch every corpus row, not just the matched candidates.
    q = F.broadcast(
        queries_df.select(
            "qid",
            l2_normalize(F.col(query_vector_col), on_zero="null").alias("_qvec"),
        )
    )
    denom = l2_norm(F.col("_cvec"))
    score = F.when(denom > 0, dot_product(F.col("_qvec"), F.col("_cvec")) / denom)
    if round_scores is not None:
        score = F.round(score, round_scores)
    return (
        cands.join(vecs, "id")
        .join(q, "qid")
        .select("qid", "id", "collisions", score.alias("score"))
    )


def top_p_cutoff(
    scored: DataFrame,
    top_p: float,
    top_k: Optional[int] = None,
) -> DataFrame:
    """Proportional-prefix cutoff over reranked candidates, per qid:
    keep the first ``max(1, ceil(n_candidates * top_p))`` rows ordered by
    ``(score desc, id asc)``, then additionally ``top_k`` if given —
    exactly ``lshrs/core/main.py:645-658``."""
    if not 0.0 < top_p <= 1.0:
        raise ValueError("top_p must be in (0, 1]")
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("id"))
    wn = Window.partitionBy("qid")
    limit = F.greatest(F.lit(1), F.ceil(F.count(F.lit(1)).over(wn) * F.lit(top_p)))
    if top_k is not None:
        if top_k <= 0:
            raise ValueError("top_k must be positive")
        limit = F.least(limit, F.lit(top_k))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .withColumn("_limit", limit)
        .filter(F.col("rank") <= F.col("_limit"))
        .select("qid", "id", "score", "rank")
    )
