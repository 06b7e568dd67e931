"""`LSHRS` — the user-facing orchestrator, API-compatible with the
reference class (``/root/reference/lshrs/core/main.py:58-1201``) but where
every method is a DataFrame program.

Mapping (SURVEY.md §1.3/§2):

* Redis bucket store            -> index DataFrame ``(band, sig, id)``
  (optionally persisted as a manifest store via :meth:`save_to_disk`).
* ``vector_fetch_fn`` callback  -> :meth:`set_vectors` registers the
  primary vector DataFrame; candidate fetch is a join.
* buffered ingest + flush       -> Spark job batching; :meth:`ingest`
  accumulates driver-side rows and :meth:`flush` materializes them.
* ``create_signatures(format=...)`` -> ``spark.read.<format>`` dispatch.
* ``delete``                    -> left-anti join rewrite (vs. the
  reference's full Redis keyspace scan, ``storage/redis.py:419-505``).
"""

from __future__ import annotations

import json
import os
from typing import Callable, Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import LSHConfig
from .hashing import keys_per_query, projection_matrix, resolve_sig_kind
from .operators.index import build_index, validate_vectors
from .operators.probe import (
    candidates,
    choose_probe_strategy,
    query_signatures_df,
    rerank,
    top_p_cutoff,
)
from .operators.probe import top_k as _probe_top_k
from .sources.dispatch import resolve_loader
from .store import SegmentedIndexStore

__all__ = ["LSHRS"]


def _plan_row_estimate(
    df: DataFrame, row_width: Optional[int] = None
) -> Optional[int]:
    """Catalyst's free (no-job) row-count estimate for a DataFrame:
    the optimized plan's ``rowCount`` when statistics carry one, else
    ``sizeInBytes / row_width``. Heuristic-grade only — used to pick
    the probe join regime, never for correctness. Returns ``None``
    when nothing is available.

    ``row_width`` should be supplied when the schema holds
    variable-length columns: ``schema.defaultSize()`` counts ONE
    element per array (12 bytes for ``(long, array<float>)``), so the
    fallback division would inflate vector-table row counts ~dim×,
    flipping the cost rule into the shuffle regime far too early. A
    too-LARGE width is the safe error direction — it underestimates
    rows and keeps the cheap broadcast default."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
        size = int(str(stats.sizeInBytes()))
        if size >= (1 << 62):
            # Catalyst's "unknown" sentinel (defaultSizeInBytes =
            # Long.MaxValue, e.g. a local Python relation) — no estimate
            return None
        if row_width is None:
            row_width = int(df._jdf.schema().defaultSize())
        return max(size // max(int(row_width), 16), 1)
    except Exception:
        return None


class LSHRS:
    """Spark-native LSH ANN index with the reference's parameter and
    error contract (``main.py:154-266``)."""

    def __init__(
        self,
        spark: SparkSession,
        dim: int,
        *,
        num_perm: int = 128,
        num_bands: Optional[int] = None,
        rows_per_band: Optional[int] = None,
        similarity_threshold: float = 0.5,
        seed: int = 42,
        dtype: str = "float32",
        buffer_size: int = 10_000,
        vectors_df: Optional[DataFrame] = None,
        id_col: str = "vec_id",
        vector_col: str = "embedding",
    ) -> None:
        self.spark = spark
        self.cfg = LSHConfig(
            dim=dim,
            num_perm=num_perm,
            num_bands=num_bands,
            rows_per_band=rows_per_band,
            similarity_threshold=similarity_threshold,
            seed=seed,
            dtype=dtype,
            buffer_size=buffer_size,
        )
        self._id_col = id_col
        self._vector_col = vector_col
        self._vectors_df = vectors_df
        self._index_df: Optional[DataFrame] = None
        self._pending: list[tuple[int, list[float]]] = []
        self._mutations = 0
        # bucket-entry count cached by stats(), invalidated on every
        # mutation — lets query_batch() pick the probe join regime
        # driver-side without running a count job
        self._index_rows: Optional[int] = None
        # the store of the last save_to_disk/load_from_disk/serve
        # directory — delete() commits tombstones there so live
        # IndexServers see deletes on refresh() without a full re-save
        self._store: Optional[SegmentedIndexStore] = None
        import uuid

        self._slot_id = uuid.uuid4().hex[:12]

    @property
    def _sig_kind(self) -> str:
        """Signature encoding derived from the config (single source of
        truth — not stored, so pickle/restore can't drift): long sigs
        when they fit in int64 (join-friendliest), binary for
        rows_per_band >= 64 configs like the planner's (64, 64)."""
        return resolve_sig_kind(self.cfg)

    # ------------------------------------------------------------------ #
    # properties
    # ------------------------------------------------------------------ #

    @property
    def dim(self) -> int:
        return self.cfg.dim

    @property
    def num_bands(self) -> int:
        return self.cfg.num_bands

    @property
    def rows_per_band(self) -> int:
        return self.cfg.rows_per_band

    @property
    def index_df(self) -> DataFrame:
        """The live bucket table ``(band, sig, id)`` (empty if nothing
        indexed)."""
        self.flush()
        if self._index_df is None:
            return self.spark.createDataFrame(
                [], f"band int, sig {self._sig_kind}, id long"
            )
        return self._index_df

    def set_vectors(self, df: DataFrame, id_col: str = "vec_id",
                    vector_col: str = "embedding") -> None:
        """Register the primary vector store (replaces ``vector_fetch_fn``,
        ``main.py:99-102``) — used by rerank/top-p queries."""
        self._vectors_df = df
        self._id_col = id_col
        self._vector_col = vector_col

    # ------------------------------------------------------------------ #
    # ingestion (S3, M4 semantics)
    # ------------------------------------------------------------------ #

    def index_dataframe(self, df: DataFrame, id_col: Optional[str] = None,
                        vector_col: Optional[str] = None, *, validate: bool = True,
                        register_vectors: bool = True) -> None:
        """Bulk-index a vector DataFrame (the batch ``index()`` path,
        ``main.py:442-518``, minus the per-row Python loop)."""
        id_col = id_col or self._id_col
        vector_col = vector_col or self._vector_col
        idx = build_index(df, self.cfg, id_col, vector_col,
                          sig_kind=self._sig_kind, validate=validate)
        self._append_index(idx)
        if register_vectors and self._vectors_df is None:
            self.set_vectors(df, id_col, vector_col)

    def index(self, indices: Sequence[int], vectors: np.ndarray) -> None:
        """Batch-index driver-side arrays; validates count/shape up front
        (``main.py:504-511``)."""
        vectors = np.asarray(vectors)
        if vectors.ndim != 2:
            raise ValueError("vectors must be a 2-D array")
        if len(indices) != len(vectors):
            raise ValueError("Number of indices must match number of vectors")
        self._validate_ids(indices)
        df = self._df_from_arrays(indices, vectors)
        self.index_dataframe(df, "vec_id", "embedding", validate=True)

    def upsert(self, indices: Sequence[int], vectors: np.ndarray) -> None:
        """Replace-or-insert: drop any existing bucket entries for
        ``indices`` then index the new vectors — one anti-join + one
        append (both lazy; the mutation counter materializes every
        ``_MATERIALIZE_EVERY`` calls). The reference has no update path
        (re-indexing an id would duplicate it in every bucket set); this
        is the Spark-native fix."""
        self.flush()
        self.delete(indices)
        self.index(indices, vectors)

    def ingest(self, index: int, vector: np.ndarray) -> None:
        """Single-vector ingest (``main.py:386-411``): buffered driver-side,
        materialized on :meth:`flush` / next read — mirroring the
        buffered-not-yet-searchable semantics of the reference."""
        self._validate_ids([index])
        vec = self._prepare_vector(vector)
        self._pending.append((int(index), [float(x) for x in vec]))
        # reference contract: the buffer auto-flushes at buffer_size
        # (``main.py:158-173,1131-1143``) — not only on the next read
        if len(self._pending) >= self.cfg.buffer_size:
            self.flush()

    def flush(self) -> None:
        """Materialize buffered single ingests into the index (M4)."""
        if not self._pending:
            return
        rows, self._pending = self._pending, []
        df = self.spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        idx = build_index(df, self.cfg, "vec_id", "embedding",
                          sig_kind=self._sig_kind)
        self._append_index(idx)

    def create_signatures(self, *, format: str = "parquet", **kwargs) -> None:
        """Format-dispatched bulk ingest (S3, ``main.py:315-384``):
        ``parquet``/``pq`` and ``postgres``/``pg`` (JDBC) supported."""
        loader = resolve_loader(format)
        df, id_col, vector_col = loader(self.spark, **kwargs)
        self.index_dataframe(df, id_col, vector_col)

    # ------------------------------------------------------------------ #
    # queries (Q1-Q9)
    # ------------------------------------------------------------------ #

    def query(self, vector: np.ndarray, *, top_k: Optional[int] = 10,
              top_p: Optional[float] = None, multiprobe: int = 0):
        """Reference query contract (``main.py:524-658``): returns candidate
        ids ordered by ``(-collisions, id)``; with ``top_p`` set, returns
        ``(id, score)`` tuples reranked by exact cosine and cut to the
        proportional prefix ``max(1, ceil(n * top_p))`` (capped by
        ``top_k``). ``multiprobe=T`` (beyond-reference recall knob)
        additionally probes the T closest-margin bit-flip buckets per
        band — multi-probe LSH; a perturbed-bucket match counts as a
        collision like any other."""
        if top_k is not None and top_k <= 0:
            raise ValueError("top_k must be positive")
        if top_p is not None and not 0.0 < top_p <= 1.0:
            raise ValueError("top_p must be in (0, 1]")
        vec = self._prepare_vector(vector)
        cands = self._candidates_df(vec, multiprobe)
        if top_p is None:
            out = _probe_top_k(cands, top_k).orderBy("rank").select("id").collect()
            return [r.id for r in out]
        # -- rerank mode
        if self._vectors_df is None:
            # Reference parity (ADVICE r01, ``main.py`` contract): an empty
            # candidate set returns [] before the vector-store requirement
            # bites. Checked only on the would-raise path so the common
            # case pays no extra job.
            if cands.isEmpty():
                return []
            raise RuntimeError(
                "top_p queries require a registered vector source; call set_vectors()"
            )
        qdf = self.spark.createDataFrame(
            [(0, [float(x) for x in vec])], "qid long, qvec array<float>"
        )
        scored = rerank(
            cands, self._vectors_df, qdf,
            id_col=self._id_col, vector_col=self._vector_col,
        )
        out = (
            top_p_cutoff(scored, top_p, top_k)
            .orderBy("rank")
            .select("id", "score")
            .collect()
        )
        return [(r.id, float(r.score)) for r in out]

    def get_top_k(self, vector: np.ndarray, topk: int = 10, *,
                  multiprobe: int = 0) -> list[int]:
        return self.query(vector, top_k=topk, top_p=None,
                          multiprobe=multiprobe)

    def get_above_p(self, vector: np.ndarray, p: float = 0.95):
        return self.query(vector, top_k=None, top_p=p)

    def query_batch(self, queries_df: DataFrame, *, top_k: int = 10,
                    top_p: Optional[float] = None,
                    id_col: str = "qid", vector_col: str = "qvec",
                    n_queries: Optional[int] = None,
                    index_rows: Optional[int] = None,
                    multiprobe: int = 0) -> DataFrame:
        """Batch query as ONE Spark plan: ``(qid, id, collisions, rank)`` —
        the shape the reference cannot express without a Python loop.

        ``top_p`` (batch twin of :meth:`get_above_p`): candidates are
        exact-cosine reranked against the registered vector store and
        cut to the proportional prefix ``max(1, ceil(n * top_p))``
        (capped by ``top_k``) per query — the result schema becomes
        ``(qid, id, score, rank)``. Requires :meth:`set_vectors`.

        ``multiprobe=T`` emits the T closest-margin bit-flip perturbation
        keys per band inside the same signature Arrow UDF (margins are a
        byproduct of the matmul), so the corpus-scale probe job gets the
        multi-probe recall knob — ``(1+T) * num_bands`` probe rows per
        query, no second projection pass.

        Join strategy: routed through
        :func:`~lshrs_spark.operators.probe.choose_probe_strategy`.
        ``n_queries``/``index_rows`` are used when the caller knows them;
        otherwise both are estimated for free — the query-side row count
        from Catalyst plan statistics (no job) and the index row count
        from the cached :meth:`stats` result when one exists — so a
        corpus-sized query batch co-partitions both sides instead of
        broadcasting a near-index-size probe to every task. With no
        estimate available the probe side stays broadcast (the
        interactive default — counting a DataFrame to pick a strategy
        would cost a job)."""
        qsigs = build_index(
            queries_df, self.cfg, id_col, vector_col,
            sig_kind=self._sig_kind, multiprobe=multiprobe,
        ).withColumnRenamed("id", "qid")
        if n_queries is None:
            # (long id, float32[dim]) — without the explicit width the
            # schema defaultSize (12 B: arrays count ONE element) would
            # inflate the estimate ~dim/3× and flip parquet-backed query
            # batches into the shuffle regime far too early.
            n_queries = _plan_row_estimate(
                queries_df, row_width=8 + 4 * self.cfg.dim
            )
        if index_rows is None:
            index_rows = self._index_rows
        strategy = "broadcast" if n_queries is None else choose_probe_strategy(
            n_queries, keys_per_query(self.cfg, multiprobe), index_rows
        )
        cands = candidates(self.index_df, qsigs, strategy=strategy)
        if top_p is None:
            return _probe_top_k(cands, top_k)
        if not 0.0 < top_p <= 1.0:
            raise ValueError("top_p must be in (0, 1]")
        q = queries_df.select(
            F.col(id_col).cast("long").alias("qid"),
            F.col(vector_col).alias("qvec"),
        )
        if self._vectors_df is None:
            # Parity with query()/get_above_p: empty candidates return an
            # (empty) result before the vector-store requirement bites —
            # routed through the same rerank expressions so the schema is
            # identical to the non-empty path. Cost shape (ADVICE r7):
            # with nothing indexed the answer needs no job at all, and
            # otherwise the probe is persisted before the emptiness check
            # so the empty path reuses the computed result instead of
            # re-running the full probe join in the returned plan.
            self.flush()
            if self._index_df is not None:
                from .cache import persist_slot

                # slot-managed (not raw .persist()): the next guard call
                # releases this one's cache entry; a still-live returned
                # plan falls back to lineage recompute, per the slot
                # registry's documented contract
                cands = persist_slot(cands, "core.topp_guard")
                if not cands.isEmpty():
                    cands.unpersist()
                    raise RuntimeError(
                        "top_p queries require a registered vector source; "
                        "call set_vectors()"
                    )
            scored = rerank(
                cands,
                self.spark.createDataFrame(
                    [], "vec_id long, embedding array<float>"
                ),
                q,
                # no-job guard contract (ADVICE r7): the Arrow rerank
                # would eagerly collect the query batch — a Spark job —
                # just to build a provably-empty frame
                allow_collect=False,
            )
        else:
            scored = rerank(
                cands, self._vectors_df, q,
                id_col=self._id_col, vector_col=self._vector_col,
            )
        return top_p_cutoff(scored, top_p, top_k)

    def query_batch_mmr(self, queries_df: DataFrame, *, k: int = 10,
                        shortlist: Optional[int] = None, lam: float = 0.5,
                        id_col: str = "qid", vector_col: str = "qvec",
                        multiprobe: int = 0) -> DataFrame:
        """Diversified batch retrieval in ONE plan (beyond-reference):
        the LSH probe + exact-cosine rerank of :meth:`query_batch`
        (``top_p=1.0`` → the full top-``shortlist`` prefix, default
        ``4*k``) feeds the greedy maximal-marginal-relevance pass
        (:func:`~lshrs_spark.operators.mmr.mmr_rerank`), so
        near-duplicate hits stop crowding the result page. Returns
        ``(qid, id, mmr_rank, mmr_score)``; requires
        :meth:`set_vectors` (both the rerank and the pairwise penalty
        read the registered vector source — one join each, the corpus
        is never rescanned past the shortlist)."""
        if shortlist is None:
            shortlist = max(4 * k, k)
        if shortlist < k:
            raise ValueError(
                f"shortlist ({shortlist}) must be >= k ({k}) — MMR can "
                f"only reorder the shortlist, not extend it"
            )
        if self._vectors_df is None:
            raise RuntimeError(
                "MMR queries require a registered vector source; "
                "call set_vectors()"
            )
        from .operators.mmr import mmr_rerank

        scored = self.query_batch(
            queries_df, top_k=shortlist, top_p=1.0,
            id_col=id_col, vector_col=vector_col, multiprobe=multiprobe,
        )
        sl = scored.join(
            self._vectors_df.select(
                F.col(self._id_col).cast("long").alias("id"),
                F.col(self._vector_col).alias("vec"),
            ),
            "id",
        ).select("qid", "id", F.round("score", 5).alias("rel"), "vec")
        return mmr_rerank(sl, k=k, lam=lam)

    def get_top_k_batch(
        self, vectors: Sequence[np.ndarray], topk: int = 10, *,
        multiprobe: int = 0,
    ) -> list[list[int]]:
        """List-of-vectors convenience over :meth:`query_batch`: hashes
        the whole batch driver-side (no Spark job for the signatures),
        probes the index in ONE plan, and returns result ``i`` ==
        ``get_top_k(vectors[i], topk, multiprobe=multiprobe)``. The
        amortized-latency twin of
        :meth:`serving.IndexServer.get_top_k_batch` for when the index
        lives in the session rather than on disk."""
        if topk <= 0:
            raise ValueError("top_k must be positive")
        if len(vectors) == 0:
            return []
        mat = np.stack([self._prepare_vector(v) for v in vectors])
        qsigs = query_signatures_df(
            self.spark, mat, self.cfg, sig_kind=self._sig_kind,
            multiprobe=multiprobe,
        )
        # batch size is driver-known here — let the cost rule pick the
        # join regime (broadcast for interactive batches; shuffle when a
        # caller feeds a corpus-scale list). The probe side holds
        # (1 + multiprobe) signature rows per band, so the cost rule
        # must see the multiplied count or it undercounts the broadcast
        # payload by that factor.
        strategy = choose_probe_strategy(
            len(vectors), keys_per_query(self.cfg, multiprobe),
            self._index_rows,
        )
        rows = _probe_top_k(
            candidates(self.index_df, qsigs, strategy=strategy), topk
        ).collect()
        out: list[list[int]] = [[] for _ in range(len(vectors))]
        for r in sorted(rows, key=lambda r: (r.qid, r.rank)):
            out[r.qid].append(int(r.id))
        return out

    def get_above_p_batch(
        self, vectors: Sequence[np.ndarray], p: float = 0.95, *,
        topk: Optional[int] = None, multiprobe: int = 0,
    ) -> list[list[tuple[int, float]]]:
        """List-of-vectors twin of :meth:`get_above_p` — the top-p leg
        of the batch API matrix (:meth:`get_top_k_batch` is the top-k
        leg): signatures hash driver-side (no Spark job), ONE
        probe + rerank + proportional-cutoff plan serves the whole
        batch, and result ``i`` == ``get_above_p(vectors[i], p)``
        (``(id, score)`` tuples, score-desc). ``topk`` optionally caps
        each query's prefix; ``multiprobe`` adds perturbed probe keys
        before the exact rerank."""
        if not 0.0 < p <= 1.0:
            raise ValueError("top_p must be in (0, 1]")
        if len(vectors) == 0:
            return []
        mat = np.stack([self._prepare_vector(v) for v in vectors])
        qsigs = query_signatures_df(
            self.spark, mat, self.cfg, sig_kind=self._sig_kind,
            multiprobe=multiprobe,
        )
        strategy = choose_probe_strategy(
            len(vectors), keys_per_query(self.cfg, multiprobe),
            self._index_rows,
        )
        cands = candidates(self.index_df, qsigs, strategy=strategy)
        if self._vectors_df is None:
            # Reference parity with get_above_p/query(): an empty
            # candidate set returns empties BEFORE the vector-store
            # requirement bites. With nothing indexed the probe join is
            # provably empty — skip the Spark job entirely (ADVICE r7);
            # only a populated index pays the emptiness check.
            self.flush()
            if self._index_df is None or cands.isEmpty():
                return [[] for _ in range(len(mat))]
            raise RuntimeError(
                "top_p queries require a registered vector source; "
                "call set_vectors()"
            )
        qdf = self._df_from_arrays(range(len(mat)), mat).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        scored = rerank(
            cands, self._vectors_df, qdf,
            id_col=self._id_col, vector_col=self._vector_col,
        )
        rows = top_p_cutoff(scored, p, topk).collect()
        out: list[list[tuple[int, float]]] = [[] for _ in range(len(mat))]
        for r in sorted(rows, key=lambda r: (r.qid, r.rank)):
            out[r.qid].append((int(r.id), float(r.score)))
        return out

    # ------------------------------------------------------------------ #
    # maintenance (M1-M3)
    # ------------------------------------------------------------------ #

    def delete(self, indices: Sequence[int]) -> None:
        """Remove ids from every bucket — a left-anti join rewrite instead
        of the reference's O(buckets × ids) keyspace scan (M1).

        When this index is bound to a saved directory (after
        :meth:`save_to_disk` / :meth:`serve` / :meth:`load_from_disk`),
        the ids are also committed to that directory's manifest store as
        a tombstone (:meth:`SegmentedIndexStore.delete_ids`, no Spark
        job), so a live :class:`~lshrs_spark.serving.IndexServer` over
        it stops serving them at its next ``refresh()`` — parity with
        the reference's immediately-visible Redis delete
        (``lshrs/core/main.py:744-784``) without rewriting the index."""
        self.flush()
        indices = list(indices)  # materialize once — may be a one-shot iterator
        if self._index_df is None or not indices:
            return
        ids_df = self.spark.createDataFrame(
            [(int(i),) for i in indices], "id long"
        )
        self._index_df = self._index_df.join(
            F.broadcast(ids_df), "id", "left_anti"
        ).select("band", "sig", "id")
        if self._store is not None:
            self._store.delete_ids(indices)
        self._note_mutation()

    def clear(self) -> None:
        """Drop the whole index (M2) — irreversible, like the reference."""
        self._pending = []
        self._index_df = None
        self._index_rows = None

    def stats(self) -> dict:
        """Config snapshot (M3) + cheap data-dependent stats the reference
        cannot compute (``main.py:798-840``)."""
        out = self.cfg.to_dict()
        out["pending_ops"] = len(self._pending) * self.cfg.num_bands
        if self._index_df is not None:
            agg = self._index_df.agg(
                F.count(F.lit(1)).alias("entries"),
                F.countDistinct("id").alias("ids"),
                F.countDistinct("band", "sig").alias("buckets"),
            ).collect()[0]
            out.update(index_entries=agg["entries"], indexed_ids=agg["ids"],
                       buckets=agg["buckets"])
            self._index_rows = int(agg["entries"])
        else:
            out.update(index_entries=0, indexed_ids=0, buckets=0)
        return out

    # ------------------------------------------------------------------ #
    # persistence (S5)
    # ------------------------------------------------------------------ #

    def save_to_disk(self, path: str, *, include_vectors: bool = False) -> None:
        """Save the index as a :class:`~lshrs_spark.store.
        SegmentedIndexStore` root (``main.py:846-895``; no secrets to
        redact — there is no Redis password here).

        The index is written as ONE fresh segment and committed, with
        the config, as a new manifest version with no tombstones
        (deletions are already applied to it). ``include_vectors=True``
        additionally writes the registered vector table sorted by id
        into a fresh ``vectors/`` directory named by that manifest, so
        the no-Spark-job :class:`~lshrs_spark.serving.IndexServer` can
        serve rerank/top-p queries with id-pruned reads; a save that
        writes no vectors keeps the previous version's vectors.

        The manifest commit is the only step that changes what readers
        see: a save that fails before it leaves the previous version —
        config included — live. ``config.json`` and ``projections.npz``
        are copies of the committed config for outside readers, each
        replaced atomically after the commit. Safe on the SAME directory
        the instance was loaded from (load -> delete -> re-save): the
        new files are written beside the old ones, ``_index_df`` is
        re-pointed at the new segment (which also truncates the
        accumulated anti-join lineage), and only then does
        ``prune(keep_versions=1)`` remove the previous version's files."""
        import uuid

        self.flush()
        store = SegmentedIndexStore.create(self.spark, path)
        entries = {"config": self.cfg.to_dict()}
        if include_vectors and self._vectors_df is not None:
            entries["vectors"] = f"vectors/{uuid.uuid4().hex[:16]}"
            (
                self._vectors_df.select(
                    F.col(self._id_col).cast("long").alias("vec_id"),
                    F.col(self._vector_col).alias("embedding"),
                )
                .repartitionByRange(
                    int(self.spark.conf.get("spark.sql.shuffle.partitions")),
                    "vec_id",
                )
                .sortWithinPartitions("vec_id")
                .write.parquet(os.path.join(path, entries["vectors"]))
            )
        store.replace(self._index_df, entries)
        with open(os.path.join(path, "config.json.tmp"), "w") as f:
            json.dump(entries["config"], f, indent=2)
        os.replace(os.path.join(path, "config.json.tmp"),
                   os.path.join(path, "config.json"))
        np.savez_compressed(os.path.join(path, "projections.tmp.npz"),
                            projections=projection_matrix(self.cfg))
        os.replace(os.path.join(path, "projections.tmp.npz"),
                   os.path.join(path, "projections.npz"))
        if self._index_df is not None:
            self._index_df = store.read()
        store.prune(keep_versions=1)
        self._store = store

    def serve(self, path: Optional[str] = None):
        """Materialize the index for ONLINE serving and return a
        :class:`~lshrs_spark.serving.IndexServer` — the no-Spark-job
        query path meeting the reference's p95 < 100 ms contract
        (``requirements.md:73``). ``path`` defaults to a temp directory;
        point it at shared storage to serve from other processes.
        Vectors are included when registered, enabling top-p/rerank
        serving."""
        import tempfile

        from .serving import IndexServer

        if path is None:
            path = tempfile.mkdtemp(prefix="lshrs_serve_")
        self.save_to_disk(path, include_vectors=self._vectors_df is not None)
        return IndexServer.from_saved(
            path, id_col="vec_id", vector_col="embedding"
        )

    @classmethod
    def load_from_disk(cls, spark: SparkSession, path: str, *,
                       vectors_df: Optional[DataFrame] = None) -> "LSHRS":
        """Restore a :meth:`save_to_disk` directory from its CURRENT
        manifest version: the config, and the index as its segments
        minus its tombstones. Raises ``FileNotFoundError`` when
        ``path`` holds no manifest store."""
        store = SegmentedIndexStore(spark, path)
        cfg = store.manifest()["config"]
        inst = cls(spark, cfg["dim"], num_perm=cfg["num_perm"],
                   num_bands=cfg["num_bands"], rows_per_band=cfg["rows_per_band"],
                   similarity_threshold=cfg["similarity_threshold"],
                   seed=cfg["seed"], dtype=cfg.get("dtype", "float32"),
                   vectors_df=vectors_df)
        if store.manifest()["segments"]:
            inst._index_df = store.read()
        inst._store = store
        return inst

    # ------------------------------------------------------------------ #
    # lifecycle + pickling (reference: close/__exit__ flush at
    # ``main.py:268-275``; pickle protocol excludes live connections at
    # ``main.py:989-1044`` — here the SparkSession and DataFrames)
    # ------------------------------------------------------------------ #

    def close(self) -> None:
        """Flush pending single-ingests (does NOT stop the shared
        SparkSession — sessions outlive indexes)."""
        self.flush()

    def __enter__(self) -> "LSHRS":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def __getstate__(self) -> dict:
        """Pickle = config + buffered rows; the SparkSession, index and
        vector DataFrames are runtime state (reattach after unpickling
        with :meth:`attach`)."""
        return {"cfg": self.cfg.to_dict(), "pending": list(self._pending),
                "id_col": self._id_col, "vector_col": self._vector_col}

    def __setstate__(self, state: dict) -> None:
        self.cfg = LSHConfig.from_dict(state["cfg"])
        self._pending = list(state["pending"])
        self._mutations = 0
        import uuid

        self._slot_id = uuid.uuid4().hex[:12]
        self._id_col = state["id_col"]
        self._vector_col = state["vector_col"]
        self.spark = None
        self._vectors_df = None
        self._index_df = None
        self._index_rows = None
        self._store = None

    def attach(self, spark: SparkSession,
               vectors_df: Optional[DataFrame] = None) -> "LSHRS":
        """Reattach a live SparkSession (and optionally the vector store)
        after unpickling."""
        self.spark = spark
        if vectors_df is not None:
            self._vectors_df = vectors_df
        return self

    # ------------------------------------------------------------------ #
    # internals
    # ------------------------------------------------------------------ #

    # Materialize the index after this many append/delete mutations:
    # every mutation otherwise grows the union/anti-join lineage without
    # bound, and a long-lived driver session eventually pays quadratic
    # analysis time per action (VERDICT r01 #3).
    _MATERIALIZE_EVERY = 32

    def _append_index(self, idx: DataFrame) -> None:
        self._index_df = idx if self._index_df is None else self._index_df.unionByName(idx)
        self._note_mutation()

    def _note_mutation(self) -> None:
        self._index_rows = None
        self._mutations += 1
        if self._mutations < self._MATERIALIZE_EVERY or self._index_df is None:
            return
        # slot-based parquet materialization: truncates the logical plan
        # (bounded analysis time), survives executor loss (real storage,
        # not executor-local blocks), and keeps at most ONE generation
        # per index on disk — Dataset.checkpoint() would leave every
        # 32-mutation snapshot behind for the application lifetime
        from .cache import materialize_slot

        self._index_df = materialize_slot(
            self._index_df, f"core.index.{self._slot_id}"
        )
        self._mutations = 0

    def _candidates_df(self, vec: np.ndarray, multiprobe: int = 0) -> DataFrame:
        qsigs = query_signatures_df(self.spark, vec, self.cfg, qids=[0],
                                    multiprobe=multiprobe)
        return candidates(self.index_df, qsigs)

    def _prepare_vector(self, vector: np.ndarray) -> np.ndarray:
        """Reference input contract (``main.py:1050-1086``): coerce to
        float32 1-D of length dim; zero vectors rejected."""
        vec = np.asarray(vector, dtype=np.float32).reshape(-1)
        if vec.shape[0] != self.cfg.dim:
            raise ValueError(
                f"Vector dimension mismatch: expected {self.cfg.dim}, got {vec.shape[0]}"
            )
        if not np.any(vec):
            raise ValueError("Cannot index or query a zero vector")
        return vec

    @staticmethod
    def _validate_ids(indices: Sequence[int]) -> None:
        for i in indices:
            if int(i) < 0:
                raise ValueError("Vector index must be non-negative")

    def _df_from_arrays(self, indices: Sequence[int], vectors: np.ndarray) -> DataFrame:
        """Driver batch -> DataFrame via pandas/Arrow, not Python row
        lists: a 100k x 64 float32 batch ships as a handful of Arrow
        record batches instead of 100k pickled rows through the Py4J
        serializer (VERDICT r2 #5)."""
        import pandas as pd

        vecs = np.asarray(vectors, dtype=np.float32)
        pdf = pd.DataFrame(
            {
                "vec_id": np.asarray(list(indices), dtype=np.int64),
                # list of float32 ndarrays -> Arrow list<float> without a
                # per-element Python float conversion
                "embedding": list(vecs),
            }
        )
        return self.spark.createDataFrame(
            pdf, "vec_id long, embedding array<float>"
        )
