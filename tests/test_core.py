"""LSHRS orchestrator: the reference's core test scenarios re-expressed
against the Spark engine (SURVEY.md §5: `tests/test_core.py`)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lshrs_spark import LSHRS


@pytest.fixture()
def make_lsh(spark):
    def _make(**kw):
        kw.setdefault("dim", 32)
        kw.setdefault("num_perm", 16)
        kw.setdefault("num_bands", 4)
        kw.setdefault("rows_per_band", 4)
        return LSHRS(spark, **kw)

    return _make


def test_constructor_validation(spark):
    with pytest.raises(ValueError, match="dimensionality"):
        LSHRS(spark, 0)
    with pytest.raises(ValueError, match="num_perm"):
        LSHRS(spark, 8, num_perm=-1)
    with pytest.raises(ValueError, match="must equal num_perm"):
        LSHRS(spark, 8, num_perm=16, num_bands=3, rows_per_band=4)


def test_ingest_validation(make_lsh):
    lsh = make_lsh()
    with pytest.raises(ValueError, match="non-negative"):
        lsh.ingest(-1, np.ones(32, dtype=np.float32))
    with pytest.raises(ValueError, match="dimension mismatch"):
        lsh.ingest(0, np.ones(16, dtype=np.float32))
    with pytest.raises(ValueError, match="zero vector"):
        lsh.ingest(0, np.zeros(32, dtype=np.float32))


def test_index_count_mismatch(make_lsh, rng):
    lsh = make_lsh()
    with pytest.raises(ValueError, match="match"):
        lsh.index([1, 2, 3], rng.standard_normal((2, 32)).astype(np.float32))


def test_self_retrieval(make_lsh, small_vectors):
    ids, vecs = small_vectors
    lsh = make_lsh()
    lsh.index(ids, vecs)
    assert lsh.get_top_k(vecs[7], 5)[0] == 7


def test_near_duplicate_recall(spark, rng):
    """A 1%-perturbed copy of a stored vector ranks in the top-5 among 30
    distractors (reference `tests/test_core.py:111-151`)."""
    lsh = LSHRS(spark, 64, num_perm=64, num_bands=16, rows_per_band=4, seed=42)
    base = rng.standard_normal(64).astype(np.float32)
    distractors = rng.standard_normal((30, 64)).astype(np.float32)
    vecs = np.vstack([base, distractors])
    lsh.index(list(range(31)), vecs)
    near_dup = base + 0.01 * rng.standard_normal(64).astype(np.float32)
    assert 0 in lsh.get_top_k(near_dup, 5)


def test_query_param_validation(make_lsh, small_vectors):
    ids, vecs = small_vectors
    lsh = make_lsh()
    lsh.index(ids, vecs)
    with pytest.raises(ValueError, match="top_k"):
        lsh.query(vecs[0], top_k=0)
    with pytest.raises(ValueError, match="top_p"):
        lsh.query(vecs[0], top_p=1.5)
    with pytest.raises(ValueError, match="zero vector"):
        lsh.query(np.zeros(32))


def test_top_p_returns_scored_tuples(make_lsh, small_vectors):
    ids, vecs = small_vectors
    lsh = make_lsh()
    lsh.index(ids, vecs)
    out = lsh.get_above_p(vecs[3], 0.95)
    assert out, "query vector must retrieve itself"
    assert out[0][0] == 3 and out[0][1] == pytest.approx(1.0, abs=1e-5)
    scores = [s for _, s in out]
    assert scores == sorted(scores, reverse=True)


def test_top_p_requires_vector_source(spark, small_vectors):
    ids, vecs = small_vectors
    lsh = LSHRS(spark, 32, num_perm=16, num_bands=4, rows_per_band=4)
    lsh.ingest(0, vecs[0])        # streaming ingest registers no vector source
    lsh.flush()
    with pytest.raises(RuntimeError, match="vector source"):
        lsh.get_above_p(vecs[0], 0.5)


def test_buffered_ingest_then_flush(make_lsh, small_vectors):
    ids, vecs = small_vectors
    lsh = make_lsh()
    lsh.ingest(0, vecs[0])
    assert lsh.stats()["pending_ops"] == lsh.num_bands
    lsh.flush()
    s = lsh.stats()
    assert s["pending_ops"] == 0
    assert s["index_entries"] == lsh.num_bands
    assert lsh.get_top_k(vecs[0], 1) == [0]


def test_delete_and_clear(make_lsh, small_vectors):
    ids, vecs = small_vectors
    lsh = make_lsh()
    lsh.index(ids, vecs)
    lsh.delete([5])
    assert 5 not in lsh.get_top_k(vecs[5], 10)
    lsh.clear()
    assert lsh.stats()["index_entries"] == 0
    assert lsh.get_top_k(vecs[0], 5) == []


def test_seed_determinism(spark, small_vectors):
    ids, vecs = small_vectors
    a = LSHRS(spark, 32, num_perm=16, num_bands=4, rows_per_band=4, seed=9)
    b = LSHRS(spark, 32, num_perm=16, num_bands=4, rows_per_band=4, seed=9)
    c = LSHRS(spark, 32, num_perm=16, num_bands=4, rows_per_band=4, seed=10)
    for l in (a, b, c):
        l.index(ids, vecs)
    ra = a.index_df.orderBy("band", "sig", "id").collect()
    rb = b.index_df.orderBy("band", "sig", "id").collect()
    rc = c.index_df.orderBy("band", "sig", "id").collect()
    assert ra == rb
    assert ra != rc


def test_save_load_round_trip(make_lsh, small_vectors, tmp_path, spark):
    ids, vecs = small_vectors
    lsh = make_lsh(seed=5)
    lsh.index(ids, vecs)
    before = lsh.get_top_k(vecs[4], 5)
    lsh.save_to_disk(str(tmp_path / "idx"))
    loaded = LSHRS.load_from_disk(spark, str(tmp_path / "idx"))
    assert loaded.cfg == lsh.cfg
    assert loaded.get_top_k(vecs[4], 5) == before


def test_load_delete_resave_same_path(make_lsh, small_vectors, tmp_path, spark):
    """load -> delete -> re-save to the SAME directory must not yank the
    tombstones (or the index segment) out from under the loaded
    instance's lazy plan (ADVICE r3: the old upfront rmtree broke this
    cycle with FileNotFoundException)."""
    from lshrs_spark.store import SegmentedIndexStore

    ids, vecs = small_vectors
    lsh = make_lsh(seed=7)
    lsh.index(ids, vecs)
    path = str(tmp_path / "idx")
    lsh.save_to_disk(path)

    loaded = LSHRS.load_from_disk(spark, path)
    loaded.delete([3, 4])
    assert SegmentedIndexStore(spark, path).manifest()["tombstones"]
    loaded.save_to_disk(path)  # rewrite in place, tombstones applied

    assert SegmentedIndexStore(spark, path).manifest()["tombstones"] == []
    again = LSHRS.load_from_disk(spark, path)
    surviving = {r.id for r in again._index_df.select("id").distinct().collect()}
    assert surviving == set(ids) - {3, 4}
    assert 3 not in again.get_top_k(vecs[3], 5)
    # the re-pointed plan of the instance that saved stays queryable too
    assert loaded.get_top_k(vecs[7], 3)[0] == 7


def test_create_signatures_parquet(spark, tmp_path, rng):
    src = str(tmp_path / "vectors.parquet")
    vecs = rng.standard_normal((20, 32)).astype(np.float32)
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "index long, vector array<float>",
    ).write.parquet(src)
    lsh = LSHRS(spark, 32, num_perm=16, num_bands=4, rows_per_band=4)
    lsh.create_signatures(format="parquet", source=src)
    assert lsh.stats()["indexed_ids"] == 20
    assert lsh.get_top_k(vecs[11], 1) == [11]


def test_create_signatures_bad_format(make_lsh):
    with pytest.raises(ValueError, match="Unsupported format"):
        make_lsh().create_signatures(format="avro")


def test_create_signatures_missing_column(spark, tmp_path, make_lsh):
    src = str(tmp_path / "bad.parquet")
    spark.createDataFrame([(1, [1.0])], "a long, b array<float>").write.parquet(src)
    with pytest.raises(ValueError, match="Missing required columns"):
        make_lsh().create_signatures(format="pq", source=src)


def test_context_manager_flushes(make_lsh, small_vectors):
    ids, vecs = small_vectors
    with make_lsh() as lsh:
        lsh.ingest(0, vecs[0])
    assert lsh.stats()["pending_ops"] == 0
    assert lsh.stats()["index_entries"] == lsh.num_bands


def test_pickle_round_trip(make_lsh, small_vectors, spark):
    import pickle

    ids, vecs = small_vectors
    lsh = make_lsh(seed=7)
    lsh.ingest(3, vecs[3])           # buffered rows survive pickling
    clone = pickle.loads(pickle.dumps(lsh))
    assert clone.cfg == lsh.cfg
    assert clone.spark is None       # live session excluded, like the
    clone.attach(spark)              # reference excludes connections
    clone.flush()
    assert clone.get_top_k(vecs[3], 1) == [3]


def test_buffer_size_auto_flush(make_lsh, small_vectors):
    """Reference contract: ingest() flushes automatically once
    buffer_size vectors are pending (main.py:158-173,1131-1143)."""
    ids, vecs = small_vectors
    lsh = make_lsh(buffer_size=4)
    for i in range(3):
        lsh.ingest(i, vecs[i])
    assert len(lsh._pending) == 3          # below threshold: buffered
    lsh.ingest(3, vecs[3])
    assert len(lsh._pending) == 0          # threshold hit: flushed
    assert lsh._index_df is not None
    assert lsh.get_top_k(vecs[0], 1) == [0]


def test_mutation_lineage_stays_bounded(make_lsh, small_vectors):
    """100 append/delete cycles must not grow the plan without bound
    (VERDICT r01 #3): the index is reliably checkpointed every
    _MATERIALIZE_EVERY mutations, truncating lineage."""
    ids, vecs = small_vectors
    lsh = make_lsh()
    lsh._MATERIALIZE_EVERY = 8             # keep the test fast
    lsh.index(ids, vecs)
    for cycle in range(100):
        if cycle % 2 == 0:
            lsh.index([1000 + cycle], vecs[cycle % len(vecs)][None, :])
        else:
            lsh.delete([1000 + cycle - 1])
    plan = lsh._index_df._jdf.queryExecution().analyzed().toString()
    # bounded depth: at most one materialization window of unions/joins
    assert plan.count("Union") <= 2 * lsh._MATERIALIZE_EVERY, len(plan)
    assert len(plan) < 200_000
    # and the data survived intact
    assert lsh.get_top_k(vecs[0], 1) == [0]


def test_upsert_replaces_vector(make_lsh, small_vectors):
    ids, vecs = small_vectors
    lsh = make_lsh()
    lsh.index(ids, vecs)
    assert lsh.get_top_k(vecs[5], 1) == [5]
    # move id 5 onto vector 20's location: queries for v20 now find both,
    # and v5's old location no longer returns id 5 first
    lsh.upsert([5], vecs[20][None, :])
    top = lsh.get_top_k(vecs[20], 2)
    assert set(top) == {5, 20}
    entries = lsh.index_df.filter("id = 5").count()
    assert entries == lsh.num_bands  # replaced, not duplicated


def test_index_large_driver_batch_arrow_path(spark):
    """VERDICT r2 #5: the compat index()/ingest() API takes driver-side
    NumPy batches through Arrow (createDataFrame on pandas), not 100k
    pickled Python rows — a 100k x 64 batch must index in bounded time
    with exact float32 round-trip."""
    import time

    rng = np.random.default_rng(5150)
    n, d = 100_000, 64
    vecs = rng.standard_normal((n, d)).astype(np.float32)
    lsh = LSHRS(spark, d, num_perm=32, num_bands=8, rows_per_band=4)
    t0 = time.monotonic()
    df = lsh._df_from_arrays(range(n), vecs)
    assert df.count() == n
    elapsed = time.monotonic() - t0
    assert elapsed < 60, f"driver-batch conversion too slow: {elapsed:.1f}s"
    # exact float32 round-trip through Arrow on a sample of rows
    got = {r.vec_id: np.asarray(r.embedding, dtype=np.float32)
           for r in df.filter(F.col("vec_id") < 50).collect()}
    for i in range(50):
        assert np.array_equal(got[i], vecs[i])


def test_get_top_k_batch_matches_loop(spark, rng):
    import numpy as np

    from lshrs_spark.core import LSHRS

    vecs = rng.standard_normal((300, 24)).astype(np.float32)
    lsh = LSHRS(spark, 24, num_perm=32, num_bands=8, rows_per_band=4)
    lsh.index(list(range(300)), vecs)
    qs = [vecs[i] for i in (0, 7, 99)] + [vecs[0]]
    batch = lsh.get_top_k_batch(qs, 5)
    assert batch == [lsh.get_top_k(q, 5) for q in qs]
    assert batch[0] == batch[-1]
    assert lsh.get_top_k_batch([], 5) == []
    with pytest.raises(ValueError, match="top_k"):
        lsh.get_top_k_batch(qs, 0)


def test_query_batch_top_p_matches_per_query_api(make_lsh, small_vectors):
    """query_batch(top_p=p) result i == get_above_p(vectors[i], p) —
    the batch twin of the reference's top-p mode, one Spark plan for
    the whole batch; validation mirrors the single-query contract."""
    ids, vecs = small_vectors
    lsh = make_lsh()
    lsh.index(ids, vecs)
    spark = lsh.spark
    qdf = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(6)],
        "qid long, qvec array<float>",
    )
    got: dict = {}
    for r in lsh.query_batch(qdf, top_k=10, top_p=0.5).collect():
        got.setdefault(r.qid, []).append((r.rank, r.id, r.score))
    for i in range(6):
        want = lsh.query(vecs[i], top_k=10, top_p=0.5)
        rows = [(rid, s) for _, rid, s in sorted(got.get(i, []))]
        assert [rid for rid, _ in rows] == [rid for rid, _ in want], i
        for (_, gs), (_, ws) in zip(rows, want):
            assert gs == pytest.approx(ws, abs=1e-6)

    # multiprobe composes with top_p: perturbed candidates feed the same
    # rerank + proportional cutoff; parity vs the single-query API holds
    got_mp: dict = {}
    for r in lsh.query_batch(qdf, top_k=10, top_p=0.5, multiprobe=1).collect():
        got_mp.setdefault(r.qid, []).append((r.rank, r.id, r.score))
    for i in range(6):
        want = lsh.query(vecs[i], top_k=10, top_p=0.5, multiprobe=1)
        rows = [(rid, s) for _, rid, s in sorted(got_mp.get(i, []))]
        assert [rid for rid, _ in rows] == [rid for rid, _ in want], i

    with pytest.raises(ValueError, match="top_p"):
        lsh.query_batch(qdf, top_p=1.5).collect()
    bare = type(lsh)(spark, 32, num_perm=16, num_bands=4, rows_per_band=4)
    bare.ingest(0, vecs[0])
    bare.flush()
    with pytest.raises(RuntimeError, match="vector source"):
        bare.query_batch(qdf, top_p=0.5)


def test_get_above_p_batch_matches_per_query_api(make_lsh, small_vectors):
    """get_above_p_batch result i == get_above_p(vectors[i], p) — the
    list-API top-p leg of the batch matrix (get_top_k_batch is the
    top-k leg)."""
    ids, vecs = small_vectors
    lsh = make_lsh()
    lsh.index(ids, vecs)
    got = lsh.get_above_p_batch([vecs[i] for i in range(5)], 0.5)
    for i in range(5):
        want = lsh.get_above_p(vecs[i], 0.5)
        assert [rid for rid, _ in got[i]] == [rid for rid, _ in want], i
        for (_, gs), (_, ws) in zip(got[i], want):
            assert gs == pytest.approx(ws, abs=1e-6)
    assert lsh.get_above_p_batch([], 0.5) == []
    with pytest.raises(ValueError, match="top_p"):
        lsh.get_above_p_batch([vecs[0]], 1.5)


def test_top_p_batch_no_store_guard_is_cheap(spark, small_vectors):
    """ADVICE r7: the no-vector-store guard must not pay a probe job
    when nothing is indexed (zero Spark jobs fire for the guard), and
    on the empty-candidates path query_batch's returned plan reuses
    the persisted probe result instead of re-running the join."""
    ids, vecs = small_vectors
    qdf = spark.createDataFrame(
        [(0, [float(x) for x in vecs[1]])], "qid long, qvec array<float>"
    )
    sc = spark.sparkContext

    # nothing indexed: emptiness is known without any Spark job
    bare = LSHRS(spark, 32, num_perm=16, num_bands=4, rows_per_band=4)
    sc.setLocalProperty("spark.jobGroup.id", "topp_guard_no_index")
    try:
        assert bare.get_above_p_batch([vecs[1]], 0.5) == [[]]
        out = bare.query_batch(qdf, top_p=0.5)
        assert out.columns == ["qid", "id", "score", "rank"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("topp_guard_no_index") == []
    assert out.count() == 0

    # populated-then-emptied index: the emptiness check persists the
    # probe, and the returned (empty) plan reads the cached result
    lsh = LSHRS(spark, 32, num_perm=16, num_bands=4, rows_per_band=4)
    lsh.ingest(0, vecs[0])
    lsh.flush()
    lsh.delete([0])
    out = lsh.query_batch(qdf, top_p=0.5)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    assert out.count() == 0

    # ...and a populated index with candidates still raises (ingest
    # registers no vector source, unlike index())
    lsh2 = LSHRS(spark, 32, num_perm=16, num_bands=4, rows_per_band=4)
    lsh2.ingest(0, vecs[0])
    lsh2.flush()
    with pytest.raises(RuntimeError, match="vector source"):
        lsh2.query_batch(
            spark.createDataFrame(
                [(0, [float(x) for x in vecs[0]])],
                "qid long, qvec array<float>",
            ),
            top_p=0.5,
        )


def test_top_p_batch_empty_candidates_parity(spark, small_vectors):
    """With NO registered vector source and an empty candidate set, the
    batch top-p paths return empties exactly like get_above_p does
    (reference parity, ADVICE r01) — the RuntimeError is reserved for
    the case where there ARE candidates to rerank. Schema of the
    query_batch result stays identical to the non-empty path."""
    ids, vecs = small_vectors
    lsh = LSHRS(spark, 32, num_perm=16, num_bands=4, rows_per_band=4)
    lsh.ingest(0, vecs[0])       # streaming ingest: no vector source
    lsh.flush()
    lsh.delete([0])              # ...and now the index is empty
    assert lsh.get_above_p(vecs[1], 0.5) == []
    assert lsh.get_above_p_batch([vecs[1], vecs[2]], 0.5) == [[], []]
    qdf = spark.createDataFrame(
        [(0, [float(x) for x in vecs[1]])], "qid long, qvec array<float>"
    )
    out = lsh.query_batch(qdf, top_p=0.5)
    assert out.columns == ["qid", "id", "score", "rank"]
    assert out.count() == 0


def test_query_batch_mmr_wiring_and_contract(make_lsh, small_vectors):
    """query_batch_mmr == query_batch(top_p=1.0) shortlist fed through
    the MMR operator (same join, same rounding); ranks are contiguous
    per query, pick 1 is the shortlist's relevance winner, and the
    no-vector-source error mirrors the top_p contract."""
    from lshrs_spark.operators.mmr import mmr_rerank
    from pyspark.sql import functions as F

    ids, vecs = small_vectors
    lsh = make_lsh()
    lsh.index(ids, vecs)
    spark = lsh.spark
    qdf = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(4)],
        "qid long, qvec array<float>",
    )
    got = sorted(
        (r.qid, r.mmr_rank, r.id, r.mmr_score)
        for r in lsh.query_batch_mmr(qdf, k=3, shortlist=12).collect()
    )
    # reference composition through the public pieces
    scored = lsh.query_batch(qdf, top_k=12, top_p=1.0)
    sl = scored.join(
        lsh._vectors_df.select(
            F.col("vec_id").cast("long").alias("id"),
            F.col("embedding").alias("vec"),
        ),
        "id",
    ).select("qid", "id", F.round("score", 5).alias("rel"), "vec")
    want = sorted(
        (r.qid, r.mmr_rank, r.id, r.mmr_score)
        for r in mmr_rerank(sl, k=3, lam=0.5).collect()
    )
    assert got == want
    by_q: dict = {}
    for qid, rank, rid, _ in got:
        by_q.setdefault(qid, []).append((rank, rid))
    for qid, rows in by_q.items():
        assert [r for r, _ in sorted(rows)] == list(range(1, len(rows) + 1))
        # self-retrieval: the query IS corpus vector qid -> rel winner
        assert sorted(rows)[0][1] == qid

    with pytest.raises(ValueError, match="shortlist"):
        lsh.query_batch_mmr(qdf, k=5, shortlist=3)
    bare = type(lsh)(lsh.spark, 32, num_perm=16, num_bands=4,
                     rows_per_band=4)
    bare.ingest(0, vecs[0])
    bare.flush()
    with pytest.raises(RuntimeError, match="vector source"):
        bare.query_batch_mmr(qdf, k=3)
