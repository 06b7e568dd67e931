"""Seeded input generator for the perfbench workloads.

Every array comes from ``numpy.random.SeedSequence([seed, part])``, so a
seed gives the same bytes on every commit and each part (corpus, batch
queries, query stream, ingest batches) is independent of which other
parts a workload asks for. The program under test only ever sees the
parquet files and numpy arrays written here.

Vectors are a Gaussian mixture in ``dim`` dimensions: centroids drawn
from N(0, 1), about ``cluster_size`` points per centroid with N(0,
``point_sigma``) noise. Queries are corpus points plus N(0,
``query_sigma``) noise, so every query has true near neighbours.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# SeedSequence part keys: fixed forever, or the same seed stops giving
# the same inputs.
_CENTROIDS, _CORPUS, _QUERIES, _STREAM, _INGEST = range(5)


def _rng(seed: int, part: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([int(seed), part]))


def _vector_table(ids: np.ndarray, vecs: np.ndarray, id_name: str,
                  vec_name: str) -> pa.Table:
    n, dim = vecs.shape
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    values = pa.array(np.ascontiguousarray(vecs, dtype=np.float32).reshape(-1))
    return pa.table({
        id_name: pa.array(ids.astype(np.int64)),
        vec_name: pa.ListArray.from_arrays(offsets, values),
    })


def _write(tbl: pa.Table, path: str) -> None:
    pq.write_table(tbl, path, compression="snappy")


def _noisy(rng: np.random.Generator, base: np.ndarray, sigma: float) -> np.ndarray:
    return (base + sigma * rng.standard_normal(base.shape)).astype(np.float32)


class Mixture:
    """The seeded Gaussian mixture all parts draw from."""

    def __init__(self, seed: int, spec: dict) -> None:
        self.seed = int(seed)
        self.dim = int(spec["dim"])
        mix = spec["mixture"]
        self.point_sigma = float(mix["point_sigma"])
        self.query_sigma = float(mix["query_sigma"])
        n = int(spec["corpus_vectors"])
        self.n_clusters = max(1, n // int(mix["cluster_size"]))
        self.centroids = _rng(seed, _CENTROIDS).standard_normal(
            (self.n_clusters, self.dim)).astype(np.float32)

    def points(self, rng: np.random.Generator, n: int) -> np.ndarray:
        labels = rng.integers(0, self.n_clusters, n)
        return _noisy(rng, self.centroids[labels], self.point_sigma)

    def corpus(self, n: int) -> np.ndarray:
        return self.points(_rng(self.seed, _CORPUS), n)

    def queries_near(self, rng: np.random.Generator, pool: np.ndarray,
                     n: int) -> np.ndarray:
        """``n`` queries: random rows of ``pool`` plus query noise."""
        rows = rng.integers(0, len(pool), n)
        return _noisy(rng, pool[rows], self.query_sigma)


def generate(seed: int, spec: dict, workload: str, out_dir: str) -> dict:
    """Write ``workload``'s inputs under ``out_dir``; returns the paths
    and the in-memory arrays the benchmark needs for checks."""
    os.makedirs(out_dir, exist_ok=True)
    mix = Mixture(seed, spec)
    n = int(spec["corpus_vectors"])
    wl = spec["workloads"][workload]["sizes"]
    corpus = mix.corpus(n)
    ids = np.arange(n, dtype=np.int64)
    corpus_dir = os.path.join(out_dir, "corpus")
    os.makedirs(corpus_dir, exist_ok=True)
    files = int(spec["corpus_files"])
    for i, part in enumerate(np.array_split(ids, files)):
        _write(_vector_table(part, corpus[part], "vec_id", "embedding"),
               os.path.join(corpus_dir, f"part-{i:05d}.parquet"))
    out = {"corpus_dir": corpus_dir, "corpus": corpus}

    if workload == "online_serve":
        nq = int(wl["batch_queries"])
        queries = mix.queries_near(_rng(seed, _QUERIES), corpus, nq)
        qpath = os.path.join(out_dir, "queries.parquet")
        _write(_vector_table(np.arange(nq), queries, "qid", "qvec"), qpath)
        out.update(queries_path=qpath, queries=queries)
        # far more stream entries than a run can serve; the loop stops
        # on time, so the stream never runs out
        stream = _rng(seed, _STREAM).integers(0, len(queries), 20_000)
        np.save(os.path.join(out_dir, "stream.npy"), stream)
        out["stream"] = stream
    if workload == "ingest_serve":
        out.update(_ingest_inputs(mix, seed, wl, corpus, out_dir))
    return out


def _ingest_inputs(mix: Mixture, seed: int, wl: dict, corpus: np.ndarray,
                   out_dir: str) -> dict:
    """Per-cycle append batches, delete-id lists and query vectors.
    Cycle ``c`` deletes ids live after its own append and queries
    points live after its own delete."""
    rng = _rng(seed, _INGEST)
    n_base = len(corpus)
    cycles = int(wl["cycles"])
    per = int(wl["append_vectors"])
    ndel = int(wl["delete_ids"])
    nq = int(wl["query_pool_per_cycle"])
    ingest_dir = os.path.join(out_dir, "ingest")
    os.makedirs(ingest_dir, exist_ok=True)
    allvecs = np.concatenate([corpus, mix.points(rng, cycles * per)])
    live = np.zeros(len(allvecs), dtype=bool)
    live[:n_base] = True
    batches, deletes, query_rows = [], [], []
    for c in range(cycles):
        ids = np.arange(n_base + c * per, n_base + (c + 1) * per, dtype=np.int64)
        path = os.path.join(ingest_dir, f"batch-{c:03d}.parquet")
        _write(_vector_table(ids, allvecs[ids], "vec_id", "embedding"), path)
        batches.append(path)
        live[ids] = True
        dead = np.sort(rng.choice(np.flatnonzero(live), ndel, replace=False))
        live[dead] = False
        np.save(os.path.join(ingest_dir, f"delete-{c:03d}.npy"), dead)
        deletes.append(dead)
        # query around live points only, so every query has neighbours
        query_rows.append(rng.choice(np.flatnonzero(live), nq, replace=False))
    cycle_queries = np.stack(
        [_noisy(rng, allvecs[rows], mix.query_sigma) for rows in query_rows])
    np.save(os.path.join(ingest_dir, "queries.npy"), cycle_queries)
    # the last round's first queries, for Spark's batch query
    nb = int(wl["batch_queries"])
    bpath = os.path.join(ingest_dir, "batch_queries.parquet")
    _write(_vector_table(np.arange(nb), cycle_queries[-1][:nb], "qid", "qvec"), bpath)
    return {"batches": batches, "deletes": deletes, "batch_queries_path": bpath,
            "cycle_queries": cycle_queries, "all_vectors": allvecs}


def exact_top_k(data: np.ndarray, data_ids: np.ndarray, queries: np.ndarray,
                k: int = 10) -> np.ndarray:
    """Exact cosine top-``k`` ids per query, ordered by (score desc, id
    asc). Scores are float64 so ties and order do not depend on BLAS
    blocking."""
    d = data.astype(np.float64)
    d /= np.linalg.norm(d, axis=1, keepdims=True)
    q = queries.astype(np.float64)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    out = np.empty((len(q), k), dtype=np.int64)
    for lo in range(0, len(q), 256):
        s = q[lo:lo + 256] @ d.T
        part = np.argpartition(-s, k, axis=1)[:, :k]
        for j, row in enumerate(part):
            sc = s[j, row]
            order = np.lexsort((data_ids[row], -sc))
            out[lo + j] = data_ids[row[order]]
    return out
