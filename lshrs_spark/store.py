"""Segmented bucket-index store: LSM-style segments + manifest snapshots.

``write_index`` lays one immutable probe-optimal index on disk; real
deployments ingest continuously. The classic answer (Lucene segments,
Iceberg snapshots) is the one that works at 100 TB:

* every ingest batch becomes a new IMMUTABLE segment directory (each in
  the probe-optimal ``write_index`` layout, so row-group pruning holds
  per segment);
* deletes add an id-tombstone directory (one parquet file, written
  in-process with pyarrow) — no segment is ever rewritten in place;
* a JSON **manifest per version** lists exactly which segment and
  tombstone directories make up that snapshot, plus an optional
  ``vectors`` directory (the id-sorted vector table a server reranks
  against; ``None`` when none was saved) and, for a saved ``LSHRS``
  index, the ``config`` its segments were hashed with. Commit = write
  manifest ``v_{N+1}.json`` + flip the ``CURRENT`` pointer; readers
  that pinned version N keep an immutable, consistent view (time
  travel) because nothing they reference is ever mutated;
* ``compact()`` merges the live view into one fresh segment and commits
  a manifest that references only it — old versions stay readable until
  ``prune()`` reclaims unreferenced directories.

This is also the on-disk format of a saved ``LSHRS`` index:
``save_to_disk`` commits a version holding one fresh segment, the
config and the vectors, ``delete`` adds tombstones, and
``load_from_disk`` and ``IndexServer.from_saved`` read config, segments,
tombstones and vectors from the CURRENT manifest. A save that dies
before its commit leaves the previous version live; its half-written
directories are unreferenced and the next ``prune()`` removes them.

Single-writer by design (ingest pipelines serialize commits); the
commit itself is one small JSON file + pointer flip — on a real object
store use a conditional put for the pointer, locally an atomic rename.
Readers never list directories — they read the manifest, so eventual
listing consistency on object stores is irrelevant.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Optional, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.index import read_index, write_index

__all__ = ["SegmentedIndexStore"]


class SegmentedIndexStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        if not os.path.exists(self._manifest_dir):
            raise FileNotFoundError(
                f"no store at {root!r} — call SegmentedIndexStore.create"
            )

    # ------------------------------------------------------------- paths
    @property
    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "manifest")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._manifest_dir, f"v_{version}.json")

    @property
    def _current_path(self) -> str:
        return os.path.join(self._manifest_dir, "CURRENT")

    # ------------------------------------------------------------ set up
    @classmethod
    def create(cls, spark: SparkSession, root: str) -> "SegmentedIndexStore":
        os.makedirs(os.path.join(root, "manifest"), exist_ok=True)
        os.makedirs(os.path.join(root, "segments"), exist_ok=True)
        os.makedirs(os.path.join(root, "tombstones"), exist_ok=True)
        store = object.__new__(cls)
        store.spark, store.root = spark, root
        if not os.path.exists(store._current_path):
            store._commit({"version": 0, "segments": [], "tombstones": [],
                           "vectors": None})
        return store

    # ---------------------------------------------------------- manifest
    def current_version(self) -> int:
        with open(self._current_path) as f:
            return int(f.read().strip())

    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(self._manifest_dir):
            if name.startswith("v_") and name.endswith(".json"):
                out.append(int(name[2:-5]))
        return sorted(out)

    def manifest(self, version: Optional[int] = None) -> dict:
        v = self.current_version() if version is None else version
        try:
            with open(self._manifest_path(v)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(
                f"version {v} does not exist (pruned or never written); "
                f"available: {self.versions()}"
            ) from None

    def _commit(self, manifest: dict) -> int:
        v = manifest["version"]
        tmp = self._manifest_path(v) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(v))
        tmp2 = self._current_path + ".tmp"
        with open(tmp2, "w") as f:
            f.write(str(v))
        os.replace(tmp2, self._current_path)  # object store: conditional put
        return v

    def _commit_next(self, m: dict, **changes) -> int:
        """Commit manifest ``m`` with ``changes`` applied as the next
        version; every entry not named (``vectors`` included) carries
        forward unchanged."""
        return self._commit({**m, **changes, "version": m["version"] + 1})

    # ------------------------------------------------------------ writes
    def append(self, index_df: DataFrame, **write_kw) -> int:
        """Commit one ingest batch as a new immutable segment; returns
        the new version. The batch lands in the probe-optimal layout,
        so per-segment row-group pruning is identical to a monolithic
        ``write_index`` store."""
        seg = f"segments/{uuid.uuid4().hex[:16]}"
        write_index(index_df, os.path.join(self.root, seg), **write_kw)
        m = self.manifest()
        return self._commit_next(m, segments=m["segments"] + [seg])

    def append_epoch(self, index_df: DataFrame, epoch_id: int,
                     **write_kw) -> int:
        """Replay-safe streaming append: the segment directory is keyed
        by the micro-batch epoch, so a retried batch OVERWRITES its own
        segment and — if the epoch already committed — leaves the
        manifest untouched. ``foreachBatch`` at-least-once delivery
        therefore lands exactly one segment per epoch."""
        seg = f"segments/epoch_{int(epoch_id)}"
        write_index(index_df, os.path.join(self.root, seg), **write_kw)
        m = self.manifest()
        if seg in m["segments"]:
            return m["version"]
        return self._commit_next(m, segments=m["segments"] + [seg])

    def delete_ids(self, ids: Sequence[int]) -> int:
        """Commit a tombstone for ``ids``; no segment is touched. The ids
        are written in-process with pyarrow as one parquet file in a
        fresh ``tombstones/<uuid>/`` directory — no Spark job."""
        ts = f"tombstones/{uuid.uuid4().hex[:16]}"
        os.makedirs(os.path.join(self.root, ts))
        pq.write_table(
            pa.table({"id": pa.array([int(i) for i in ids], pa.int64())}),
            os.path.join(self.root, ts, "part-0.parquet"),
        )
        m = self.manifest()
        return self._commit_next(m, tombstones=m["tombstones"] + [ts])

    def replace(self, index_df: Optional[DataFrame],
                entries: Optional[dict] = None, **write_kw) -> int:
        """Commit ``index_df`` as the whole live view: ONE fresh segment
        (none when ``index_df`` is None) and no tombstones. ``entries``
        sets further manifest entries (``vectors``, ``config``); every
        entry not named carries forward. Nothing live is touched before
        the commit, so ``index_df`` may itself read from this store."""
        segments = []
        if index_df is not None:
            segments = [f"segments/{uuid.uuid4().hex[:16]}"]
            write_index(index_df, os.path.join(self.root, segments[0]),
                        **write_kw)
        return self._commit_next(self.manifest(), **(entries or {}),
                                 segments=segments, tombstones=[])

    # ------------------------------------------------------------- reads
    def read(self, version: Optional[int] = None) -> DataFrame:
        """The live bucket table at a version (default: current):
        union of that manifest's segments minus its tombstones. The
        union is segment-pruned per probe exactly like a single
        directory; all tombstones are read as ONE ids-only relation and
        applied as one broadcast anti-join. With one segment and no
        tombstones the plan is exactly ``read_index(segment)``. Plan
        size grows with the segment count — run :meth:`compact` on the
        usual LSM cadence (e.g. when segments exceed a few hundred) to
        fold the union back to one input."""
        m = self.manifest(version)
        if not m["segments"]:
            return self.spark.createDataFrame(
                [], "band int, sig long, id long"
            )
        parts = [read_index(self.spark, os.path.join(self.root, s))
                 for s in m["segments"]]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if m["tombstones"]:
            dead = self.spark.read.schema("id long").parquet(
                *(os.path.join(self.root, t) for t in m["tombstones"])
            )
            df = df.join(F.broadcast(dead), "id", "left_anti").select(
                "band", "sig", "id"
            )
        return df

    # ------------------------------------------------------ maintenance
    def compact(self, **write_kw) -> int:
        """Merge the current view into ONE fresh segment (tombstones
        applied, probe-optimal layout restored across segment
        boundaries) and commit a manifest referencing only it; its other
        entries (vectors, config) carry forward. Old versions keep
        reading their old segments until :meth:`prune`."""
        m = self.manifest()
        return self.replace(self.read() if m["segments"] else None,
                            **write_kw)

    def prune(self, keep_versions: int = 1) -> list[str]:
        """Reclaim storage: drop all but the newest ``keep_versions``
        committed manifests (and any uncommitted one past CURRENT) and
        delete every segment/tombstone/vectors directory no kept
        manifest references. Returns the deleted paths."""
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        cur = self.current_version()
        keep = [v for v in self.versions() if v <= cur][-keep_versions:]
        live: set[str] = set()
        for v in keep:
            m = self.manifest(v)
            live.update(m["segments"])
            live.update(m["tombstones"])
            if m.get("vectors"):
                live.add(m["vectors"])
        deleted = []
        for v in self.versions():
            if v not in keep:
                os.remove(self._manifest_path(v))
        for kind in ("segments", "tombstones", "vectors"):
            base = os.path.join(self.root, kind)
            if not os.path.isdir(base):
                continue
            for name in os.listdir(base):
                rel = f"{kind}/{name}"
                if rel not in live:
                    shutil.rmtree(os.path.join(base, name))
                    deleted.append(rel)
        return deleted
