"""SegmentedIndexStore: manifest snapshots, time travel, tombstones,
compaction, pruning."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from lshrs_spark import LSHConfig
from lshrs_spark.operators.index import build_index
from lshrs_spark.operators.probe import candidates, top_k
from lshrs_spark.store import SegmentedIndexStore

CFG = LSHConfig(dim=16, num_perm=16, num_bands=4, rows_per_band=4, seed=3)


def _batch(spark, rng, ids):
    vecs = rng.standard_normal((len(ids), 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<float>",
    )
    return build_index(df, CFG, "vec_id", "embedding"), vecs


def test_append_commits_versions_and_time_travel(spark, tmp_path, rng):
    root = str(tmp_path / "store")
    st = SegmentedIndexStore.create(spark, root)
    assert st.current_version() == 0
    assert st.read().count() == 0

    idx1, _ = _batch(spark, rng, list(range(10)))
    v1 = st.append(idx1)
    idx2, _ = _batch(spark, rng, list(range(10, 25)))
    v2 = st.append(idx2)
    assert (v1, v2) == (1, 2)

    ids_v1 = {r.id for r in st.read(version=1).select("id").distinct().collect()}
    ids_v2 = {r.id for r in st.read().select("id").distinct().collect()}
    assert ids_v1 == set(range(10))          # pinned snapshot unchanged
    assert ids_v2 == set(range(25))
    # reopening sees the committed state
    st2 = SegmentedIndexStore(spark, root)
    assert st2.current_version() == 2


def test_tombstones_are_versioned(spark, tmp_path, rng):
    st = SegmentedIndexStore.create(spark, str(tmp_path / "store"))
    idx, _ = _batch(spark, rng, list(range(20)))
    st.append(idx)
    v = st.delete_ids([3, 7, 11])
    alive = {r.id for r in st.read().select("id").distinct().collect()}
    assert alive == set(range(20)) - {3, 7, 11}
    # the pre-delete snapshot still sees every id
    before = {r.id for r in st.read(version=v - 1).select("id").distinct().collect()}
    assert before == set(range(20))


def test_compact_merges_and_prune_reclaims(spark, tmp_path, rng):
    root = str(tmp_path / "store")
    st = SegmentedIndexStore.create(spark, root)
    idx1, vecs = _batch(spark, rng, list(range(10)))
    st.append(idx1)
    idx2, _ = _batch(spark, rng, list(range(10, 20)))
    st.append(idx2)
    st.delete_ids([5])

    live_before = st.read().orderBy("band", "sig", "id").collect()
    vc = st.compact()
    assert st.manifest()["segments"] and len(st.manifest()["segments"]) == 1
    assert st.manifest()["tombstones"] == []
    assert st.read().orderBy("band", "sig", "id").collect() == live_before
    # old version still readable pre-prune
    assert st.read(version=vc - 1).count() == len(live_before)

    deleted = st.prune(keep_versions=1)
    assert deleted  # the two pre-compaction segments + tombstone dir
    assert st.versions() == [vc]
    with pytest.raises(ValueError, match="does not exist"):
        st.manifest(vc - 1)
    # compacted view intact after prune
    assert st.read().count() == len(live_before)
    # probing the compacted store answers like any index table
    q = spark.createDataFrame(
        [(0, [float(x) for x in vecs[2]])], "qid long, qvec array<float>"
    )
    qsigs = build_index(q, CFG, "qid", "qvec").withColumnRenamed("id", "qid")
    hits = top_k(candidates(st.read(), qsigs), 3).collect()
    assert hits[0].id == 2


def test_open_missing_store_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        SegmentedIndexStore(spark, str(tmp_path / "nope"))


def test_append_epoch_is_replay_idempotent(spark, tmp_path, rng):
    st = SegmentedIndexStore.create(spark, str(tmp_path / "store"))
    idx, _ = _batch(spark, rng, list(range(8)))
    v1 = st.append_epoch(idx, 5, bucket_partitions=2)
    n1 = st.read().count()
    # replayed micro-batch: same epoch commits nothing new
    v2 = st.append_epoch(idx, 5, bucket_partitions=2)
    assert (v1, v2) == (1, 1)
    assert st.read().count() == n1
    assert st.manifest()["segments"] == ["segments/epoch_5"]


def test_stream_segmented_ingest_and_serving(spark, tmp_path, rng):
    import shutil

    from lshrs_spark.serving import SegmentedIndexServer
    from lshrs_spark.streaming.ingest import stream_segmented_ingest

    # three source files -> three micro-batches -> three segments
    src = str(tmp_path / "vecs")
    vecs = rng.standard_normal((30, 16)).astype(np.float32)
    for part in range(3):
        ids = list(range(part * 10, (part + 1) * 10))
        spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in ids],
            "vec_id long, embedding array<float>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b{part}")
    files = [f"{src}/b{p}" for p in range(3)]
    merged = str(tmp_path / "merged")
    for p, f in enumerate(files):
        for name in os.listdir(f):
            if name.endswith(".parquet"):
                os.makedirs(merged, exist_ok=True)
                shutil.copy(f"{f}/{name}", f"{merged}/part{p}.parquet")

    root = str(tmp_path / "store")
    q = stream_segmented_ingest(
        spark, merged, root, CFG,
        checkpoint=str(tmp_path / "ckpt"), bucket_partitions=2,
    )
    q.processAllAvailable()
    q.stop()

    st = SegmentedIndexStore(spark, root)
    assert len(st.manifest()["segments"]) == 3
    assert {r.id for r in st.read().select("id").distinct().collect()} \
        == set(range(30))

    srv = SegmentedIndexServer(root, CFG)
    got = srv.get_top_k(vecs[7], 1)
    assert got == [7]
    # the multiprobe knob rides the inherited probe path on the
    # segmented tier too: never fewer candidates, self still first
    ids0, _ = srv.candidate_counts(vecs[7])
    ids2, _ = srv.candidate_counts(vecs[7], multiprobe=2)
    assert set(ids0) <= set(ids2)
    assert srv.get_top_k(vecs[7], 1, multiprobe=2) == [7]
    # a commit after server start becomes visible on refresh()
    st.delete_ids([7])
    srv.refresh()
    assert srv.get_top_k(vecs[7], 1) != [7]


def test_commit_is_atomic_under_partial_failure(spark, tmp_path, rng):
    """A crash between writing the manifest file and flipping CURRENT
    must leave readers on the old version — the commit IS the pointer
    flip, not the manifest write."""
    import json

    root = str(tmp_path / "store")
    st = SegmentedIndexStore.create(spark, root)
    idx, _ = _batch(spark, rng, list(range(5)))
    st.append(idx)
    assert st.current_version() == 1

    # simulate a writer that died after the manifest write: v_2.json
    # exists (referencing a segment that was never finished) but
    # CURRENT still says 1
    with open(os.path.join(root, "manifest", "v_2.json"), "w") as f:
        json.dump({"version": 2,
                   "segments": ["segments/halfwritten"],
                   "tombstones": []}, f)

    reader = SegmentedIndexStore(spark, root)
    assert reader.current_version() == 1          # old snapshot intact
    assert reader.read().count() == idx.count()   # and fully readable
    # prune keeps the committed version, not the newer orphan manifest
    reader.prune(keep_versions=1)
    assert reader.versions() == [1]
    assert reader.read().count() == idx.count()
    # the next real commit supersedes the orphaned manifest
    idx2, _ = _batch(spark, rng, list(range(5, 8)))
    v = reader.append(idx2)
    assert v == 2  # overwrites the orphan atomically (os.replace)
    assert reader.read().count() == idx.count() + idx2.count()


def test_delete_ids_runs_no_spark_job(spark, tmp_path, rng):
    """delete_ids writes its tombstone in-process — no Spark job under
    the caller's job group — and a server drops the ids on refresh()."""
    import uuid

    from lshrs_spark.serving import SegmentedIndexServer

    root = str(tmp_path / "store")
    st = SegmentedIndexStore.create(spark, root)
    idx, vecs = _batch(spark, rng, list(range(20)))
    st.append(idx)
    srv = SegmentedIndexServer(root, CFG)
    assert 4 in srv.candidate_counts(vecs[4])[0]

    sc = spark.sparkContext
    group = f"delete-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "delete_ids")
    try:
        st.delete_ids([4, 9])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    srv.refresh()
    for i in (4, 9):
        assert i not in srv.candidate_counts(vecs[i])[0]
        assert i not in srv.get_top_k(vecs[i], 20)


def test_read_plans_one_tombstone_relation(spark, tmp_path, rng):
    """One segment and no tombstones plans exactly like read_index; any
    number of tombstones is ONE ids-only scan and ONE anti-join."""
    import re

    from lshrs_spark.operators.index import read_index

    def plan(df):
        return re.sub(r"#\d+L?", "",
                      df._jdf.queryExecution().optimizedPlan().toString())

    root = str(tmp_path / "store")
    st = SegmentedIndexStore.create(spark, root)
    idx, _ = _batch(spark, rng, list(range(20)))
    st.append(idx)
    (seg,) = st.manifest()["segments"]
    assert plan(st.read()) == plan(read_index(spark, os.path.join(root, seg)))

    for ids in ([1], [2, 3], [4]):
        st.delete_ids(ids)
    p = plan(st.read())
    assert p.count("LeftAnti") == 1
    assert p.count("Relation [id]") == 1
    assert {r.id for r in st.read().select("id").distinct().collect()} \
        == set(range(20)) - {1, 2, 3, 4}
