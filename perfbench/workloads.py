"""The perfbench workloads over ``lshrs_spark``'s public API.

Each workload function takes a :class:`Ctx` and returns
``(end_to_end, per_layer)`` metric values. Timed public calls go through
:meth:`Ctx.call`, which counts them as attempted operations, counts an
exception as a failed one, and wraps them in a tracing span. Output
checks go through :meth:`Ctx.check` and count the same way.
"""

from __future__ import annotations

import gc
import math
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

import gen
import stats

from lshrs_spark import LSHRS, LSHConfig
from lshrs_spark.hashing import hash_vectors_local_long
from lshrs_spark.operators.index import build_index, write_index
from lshrs_spark.operators.probe import candidates, top_k
from lshrs_spark.serving import IndexServer, SegmentedIndexServer
from lshrs_spark.store import SegmentedIndexStore

TOP_K = 10

# name -> unit; BENCHMARK.json lists the same names (see tests).
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "write_vectors_per_s": "vec/s",
    "queries_per_s": "1/s",
    "query_p50_ms": "ms",
    "recall_at_10": "ratio",
    "store_bytes_per_vector": "B",
    "batch_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "bench.generate_s": "s",
    "bench.warmup_s": "s",
    "hashing.spark_s": "s",
    "hashing.local_ms": "ms",
    "index.write_s": "s",
    "index.files": "count",
    "core.save_s": "s",
    "core.save_jobs": "count",
    "core.save_stages": "count",
    "core.save_tasks": "count",
    "probe.candidates_s": "s",
    "probe.candidate_pairs": "count",
    "probe.rerank_s": "s",
    "probe.query_jobs": "count",
    "probe.query_stages": "count",
    "probe.query_tasks": "count",
    "probe.useful_ratio": "ratio",
    "serving.open_ms": "ms",
    "serving.read_ms": "ms",
    "serving.score_ms": "ms",
    "serving.candidates_per_query": "count",
    "serving.query_p90_ms": "ms",
    "serving.jobs": "count",
    "serving.refresh_ms": "ms",
    "serving.refresh_ms_last": "ms",
    "serving.read_ms_first": "ms",
    "serving.read_ms_last": "ms",
    "serving.read_ms_compacted": "ms",
    "store.append_s": "s",
    "store.append_jobs": "count",
    "store.append_tasks": "count",
    "store.delete_ms": "ms",
    "store.delete_jobs": "count",
    "store.segments": "count",
    "store.compact_s": "s",
    "store.compact_jobs": "count",
    "store.bytes_per_vector_precompact": "B",
    "self_s.bench": "s",
    "self_s.session": "s",
    "self_s.hashing": "s",
    "self_s.index": "s",
    "self_s.core": "s",
    "self_s.probe": "s",
    "self_s.serving": "s",
    "self_s.store": "s",
    "trace.wall_s": "s",
    "trace.unattributed_pct": "%",
    "trace.spans": "count",
    "trace.query_p50_ms": "ms",
    "trace.write_vectors_per_s": "vec/s",
    "trace.batch_s": "s",
}


class Ctx:
    """Per-run state: session, spec, inputs, work directory and counters."""

    def __init__(self, spark, spec, workload, inputs, work, seconds, tracer):
        self.spark = spark
        self.spec = spec
        self.wl = spec["workloads"][workload]
        self.inputs = inputs
        self.work = work
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def lsh(self) -> LSHRS:
        lsh = self.spec["lsh"]
        return LSHRS(self.spark, dim=self.spec["dim"], num_perm=lsh["num_perm"],
                     similarity_threshold=lsh["similarity_threshold"])

    def workdir(self, name: str) -> str:
        return os.path.join(self.work, name)

    def call(self, name: str, fn):
        """Run one public call; returns ``(result, seconds)``, or
        ``(None, None)`` when it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn()
        except Exception:
            self.failed += 1
            print(f"perfbench: {name} failed", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None, None
        return out, time.perf_counter() - t0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def span_counts(self, name: str) -> dict:
        """Jobs/stages/tasks of the last span called ``name``."""
        spans = self.tracer.named(name)
        return spans[-1] if spans else {}


def _median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs)


def _quiet_gc() -> None:
    """Collect the set-up's garbage and exempt the survivors from later
    collections, so a timed call never pays to traverse the benchmark's
    own objects (collected rows, reference answers)."""
    gc.collect()
    gc.freeze()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _hashing_local_ms(ctx: Ctx, queries: np.ndarray) -> None:
    """Signature time per query in the calling process, one query per
    call, the way the servers hash."""
    cfg = ctx.lsh().cfg
    times = []
    with ctx.tracer.span("hashing.local"):
        for q in queries[:200]:
            t0 = time.perf_counter()
            hash_vectors_local_long(q[None, :], cfg)
            times.append(time.perf_counter() - t0)
    ctx.layers["hashing.local_ms"] = statistics.median(times) * 1e3


def _hashing_spark_s(ctx: Ctx, df) -> None:
    """Signature Arrow UDF + explode alone, into a sink that writes
    nothing."""
    cfg = ctx.lsh().cfg
    _, t = ctx.call("hashing.spark", lambda: build_index(df, cfg, sig_kind="long")
                    .write.format("noop").mode("overwrite").save())
    ctx.layers["hashing.spark_s"] = t


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------- online_serve
def online_serve(ctx: Ctx):
    spark, inp, wl = ctx.spark, ctx.inputs, ctx.wl
    n = len(inp["corpus"])
    queries, stream, truth = inp["queries"], inp["stream"], inp["truth"]
    vdf = spark.read.parquet(inp["corpus_dir"])
    qdf = spark.read.parquet(inp["queries_path"])

    # set-up: build, save and open, several times; the first build also
    # warms JIT and Arrow workers
    saves, opens = [], []
    for r in range(wl["setup_reps"]):
        lsh = ctx.lsh()
        path = ctx.workdir(f"serve-{r}")

        def save():
            lsh.index_dataframe(vdf)
            lsh.save_to_disk(path, include_vectors=True)

        _, t_save = ctx.call("core.save", save)
        srv, t_open = ctx.call("serving.open", lambda: IndexServer.from_saved(path))
        saves.append(t_save)
        opens.append(t_open)
        if r:
            shutil.rmtree(ctx.workdir(f"serve-{r - 1}"), ignore_errors=True)
    ctx.setup_build_s = _median([s + o for s, o in zip(saves, opens)
                                 if s is not None and o is not None])

    # the batch answers: Spark's probe + rerank over every query, several
    # times; the first also warms the probe and rerank paths. Their recall
    # is the workload's recall_at_10, and every served answer must equal
    # its batch answer.
    batches, answers = [], []
    for _ in range(wl["batch_reps"]):
        rows, t = ctx.call(
            "core.query_batch",
            lambda: lsh.query_batch(qdf, top_k=TOP_K, top_p=1.0).collect())
        batches.append(t)
        ref = [[] for _ in range(len(queries))]
        for r in sorted(rows or [], key=lambda r: (r.qid, r.rank)):
            ref[r.qid].append(r.id)
        answers.append(ref)
    ctx.check(all(a == answers[0] for a in answers),
              "query_batch answers differ between repetitions")
    t_batch = _median(batches[1:])
    batch_recall = stats.recall_at_k(ref, truth, TOP_K)
    ctx.check(batch_recall >= wl["recall_floor"],
              f"batch recall {batch_recall:.4f} < floor {wl['recall_floor']}")

    t0 = time.perf_counter()
    with ctx.tracer.span("bench.warmup"):
        for j in range(wl["warmup_queries"]):
            srv.query(queries[stream[j]], top_k=TOP_K, top_p=1.0)
    ctx.layers["bench.warmup_s"] = time.perf_counter() - t0

    lat, reads, scores, ncand = [], [], [], []
    j = wl["warmup_queries"]
    _quiet_gc()
    t0 = time.perf_counter()
    with ctx.tracer.span("bench.serve_loop"):
        while True:
            qi = int(stream[j % len(stream)])
            j += 1
            q = queries[qi]
            res, t = ctx.call("serving.query",
                              lambda: srv.query(q, top_k=TOP_K, top_p=1.0))
            if res is None:
                continue
            lat.append(t)
            ids = [i for i, _ in res]
            ctx.check(ids == ref[qi], f"served ids != batch ids for query {qi}")
            if ctx.traced:
                cc, t_read = ctx.call("serving.candidate_counts",
                                      lambda: srv.candidate_counts(q))
                reads.append(t_read)
                scores.append(t - t_read)
                ncand.append(len(cc[0]))
            elapsed = time.perf_counter() - t0
            if ((elapsed >= ctx.seconds and len(lat) >= wl["min_queries"])
                    or elapsed >= 4 * ctx.seconds):
                break

    e2e = {
        # the first save warmed JIT and Arrow workers
        "write_vectors_per_s": n / _median(saves[1:]),
        "queries_per_s": stats.windowed_rate(lat),
        "query_p50_ms": statistics.median(lat) * 1e3,
        "recall_at_10": batch_recall,
        "store_bytes_per_vector": _dir_bytes(path) / n,
        "batch_s": t_batch,
    }
    ctx.layers.update({
        "serving.query_p90_ms": stats.percentile(lat, 90) * 1e3,
        "core.save_s": _median(saves[1:]),
        "serving.open_ms": _median(opens) * 1e3,
    })
    if ctx.traced:
        ctx.layers.update({
            "serving.read_ms": statistics.median(reads) * 1e3,
            "serving.score_ms": statistics.median(scores) * 1e3,
            "serving.candidates_per_query": statistics.median(ncand),
        })
        _hashing_spark_s(ctx, vdf)
        _index_write_s(ctx, vdf, lsh.cfg)
        _probe_split(ctx, lsh.index_df, _query_sigs(qdf, lsh.cfg), truth, t_batch)
    _hashing_local_ms(ctx, queries)
    return e2e, {"samples": len(lat), "beyond_p90": stats.beyond(len(lat), 90)}


def _index_write_s(ctx: Ctx, df, cfg: LSHConfig) -> None:
    """Traced run only: ``write_index(build_index(df))`` on its own, and
    the parquet files it wrote. The time includes the lazy hashing pass;
    subtract ``hashing.spark_s`` for the write share."""
    path = ctx.workdir("index-write")
    _, ctx.layers["index.write_s"] = ctx.call("index.write", lambda: write_index(
        build_index(df, cfg, sig_kind="long"), path))
    ctx.layers["index.files"] = _parquet_files(path)


def _probe_split(ctx: Ctx, index_df, qsigs, truth, batch_s: float) -> None:
    """Traced run only: candidate generation of the batch query on its
    own, the rest of the batch time (ranking, rerank, top-p cut), and
    how many candidate pairs are true top-10 answers."""
    cands = candidates(index_df, qsigs)
    pairs, t = ctx.call("probe.candidates", cands.count)
    ctx.layers["probe.candidates_s"] = t
    ctx.layers["probe.candidate_pairs"] = pairs
    ctx.layers["probe.rerank_s"] = batch_s - t
    tdf = ctx.spark.createDataFrame(
        [(q, int(i)) for q, row in enumerate(truth) for i in row], "qid long, id long")
    with ctx.tracer.span("bench.useful"):
        hits = cands.join(tdf, ["qid", "id"]).count()
    ctx.layers["probe.useful_ratio"] = hits / pairs


def _query_sigs(qdf, cfg: LSHConfig):
    return build_index(qdf, cfg, "qid", "qvec", sig_kind="long") \
        .withColumnRenamed("id", "qid")


# ---------------------------------------------------------- ingest_serve
def ingest_serve(ctx: Ctx):
    spark, inp, wl = ctx.spark, ctx.inputs, ctx.wl
    sizes = wl["sizes"]
    n_base = len(inp["corpus"])
    lsh_spec = ctx.spec["lsh"]
    cfg = LSHConfig(dim=ctx.spec["dim"], num_perm=lsh_spec["num_perm"],
                    similarity_threshold=lsh_spec["similarity_threshold"])
    vdf = spark.read.parquet(inp["corpus_dir"])

    setups = []
    for r in range(wl["setup_reps"]):
        root = ctx.workdir(f"store-{r}")
        t0 = time.perf_counter()
        store, _ = ctx.call("store.create",
                            lambda: SegmentedIndexStore.create(spark, root))
        ctx.call("store.append",
                 lambda: store.append(build_index(vdf, cfg, sig_kind="long")))
        srv, t_open = ctx.call("serving.open",
                               lambda: SegmentedIndexServer(root, cfg))
        setups.append(time.perf_counter() - t0)
    ctx.setup_build_s = statistics.median(setups)

    cycles = sizes["cycles"]
    dead = np.zeros(n_base + cycles * sizes["append_vectors"], bool)
    # every round issues the same number of queries, sized from --seconds;
    # a round sized by time would give a faster program more queries at
    # the lower segment counts and so change the mix the metrics measure
    per_round = round_queries(wl, ctx.seconds)
    log = []  # per cycle: dict of timings and results

    def cycle(c: int) -> dict:
        rec = {"c": c, "lat": [], "res": []}

        def append():
            bdf = spark.read.parquet(inp["batches"][c])
            return store.append(build_index(bdf, cfg, sig_kind="long"))

        _, rec["append"] = ctx.call("store.append", append)
        ids = [int(i) for i in inp["deletes"][c]]
        _, rec["delete"] = ctx.call("store.delete_ids", lambda: store.delete_ids(ids))
        _, rec["refresh"] = ctx.call("serving.refresh", srv.refresh)
        dead[inp["deletes"][c]] = True
        pool = inp["cycle_queries"][c]
        for j in range(per_round):
            q = pool[j % len(pool)]
            res, t = ctx.call("serving.get_top_k", lambda: srv.get_top_k(q, TOP_K))
            rec["res"].append(res or [])
            if res is not None:
                ctx.check(not dead[res].any(), f"cycle {c} returned a deleted id")
                rec["lat"].append(t)
        rec["segments"] = len(store.manifest()["segments"])
        return rec

    # the set-up builds warmed JIT and Arrow workers; warm the server's
    # read path on the base segment
    t0 = time.perf_counter()
    with ctx.tracer.span("bench.warmup"):
        for q in inp["cycle_queries"][0][: wl["warmup_queries"]]:
            srv.get_top_k(q, TOP_K)
    ctx.layers["bench.warmup_s"] = time.perf_counter() - t0

    _quiet_gc()
    for c in range(cycles):
        log.append(cycle(c))

    live = int(_live_mask(inp, n_base, cycles).sum())
    pre_bytes = _store_bytes(store) / live
    last_q = inp["cycle_queries"][cycles - 1]
    before = log[-1]["res"][: len(last_q)]
    t_batch = _store_batch(ctx, store, cfg, before)
    if ctx.traced:
        live_ids = np.flatnonzero(_live_mask(inp, n_base, cycles))
        truth = gen.exact_top_k(inp["all_vectors"][live_ids], live_ids,
                                last_q[: sizes["batch_queries"]], TOP_K)
        qdf = spark.read.parquet(inp["batch_queries_path"])
        _probe_split(ctx, store.read(), _query_sigs(qdf, cfg), truth, t_batch)
    _, t_compact = ctx.call("store.compact", store.compact)
    ctx.call("serving.refresh", srv.refresh)
    after, lat_after = [], []
    for q in last_q[: len(before)]:
        res, t = ctx.call("serving.get_top_k", lambda: srv.get_top_k(q, TOP_K))
        after.append(res)
        lat_after.append(t)
    ctx.check(after == before, "get_top_k changed across compact()")

    # exact answers over the ids live when each cycle's queries ran
    got, want = [], []
    for r in log:
        ids = np.flatnonzero(_live_mask(inp, n_base, r["c"] + 1))
        pool = inp["cycle_queries"][r["c"]]
        n = len(r["res"])
        truth = gen.exact_top_k(inp["all_vectors"][ids], ids,
                                pool[: min(n, len(pool))], TOP_K)
        want.extend(truth[np.arange(n) % len(pool)])
        got.extend(r["res"])
    recall = stats.recall_at_k(got, want, TOP_K)
    ctx.check(recall >= wl["recall_floor"],
              f"ingest recall {recall:.4f} < floor {wl['recall_floor']}")

    lat = [t for r in log for t in r["lat"]]
    appended = len(log) * sizes["append_vectors"]
    e2e = {
        "write_vectors_per_s": appended / sum(r["append"] for r in log),
        "queries_per_s": stats.windowed_rate(lat),
        "query_p50_ms": statistics.median(lat) * 1e3,
        "recall_at_10": recall,
        "store_bytes_per_vector": _store_bytes(store) / live,
        "batch_s": t_batch,
    }
    ctx.layers.update({
        "serving.query_p90_ms": stats.percentile(lat, 90) * 1e3,
        "serving.open_ms": t_open * 1e3,
        "serving.read_ms": statistics.median(lat) * 1e3,
        "serving.refresh_ms": _median(r["refresh"] for r in log) * 1e3,
        "serving.refresh_ms_last": log[-1]["refresh"] * 1e3,
        "serving.read_ms_first": statistics.median(log[0]["lat"]) * 1e3,
        "serving.read_ms_last": statistics.median(log[-1]["lat"]) * 1e3,
        "serving.read_ms_compacted": statistics.median(lat_after) * 1e3,
        "store.append_s": _median(r["append"] for r in log),
        "store.delete_ms": _median(r["delete"] for r in log) * 1e3,
        "store.segments": max(r["segments"] for r in log),
        "store.compact_s": t_compact,
        "store.bytes_per_vector_precompact": pre_bytes,
    })
    if ctx.traced:
        bdf = spark.read.parquet(inp["batches"][0])
        _hashing_spark_s(ctx, bdf)
        _index_write_s(ctx, bdf, cfg)
    _hashing_local_ms(ctx, inp["cycle_queries"][0])
    return e2e, {"cycles": len(log), "samples": len(lat),
                 "beyond_p90": stats.beyond(len(lat), 90)}


def round_queries(wl: dict, seconds: float) -> int:
    """Queries per ingest_serve round for a run of ``seconds``."""
    return math.ceil(wl["queries_per_second"] * seconds / wl["sizes"]["cycles"])


def _store_batch(ctx: Ctx, store: SegmentedIndexStore, cfg: LSHConfig,
                 served: list) -> float:
    """Spark's collision-ranked batch query over the live store (every
    segment minus tombstones), several times; the first warms the path.
    Its answers must equal the server's for the same queries."""
    wl = ctx.wl
    qsigs = _query_sigs(ctx.spark.read.parquet(ctx.inputs["batch_queries_path"]), cfg)
    times = []
    for _ in range(wl["batch_reps"]):
        rows, t = ctx.call("probe.store_batch", lambda: top_k(
            candidates(store.read(), qsigs), TOP_K).collect())
        times.append(t)
        got = [[] for _ in range(wl["sizes"]["batch_queries"])]
        for r in sorted(rows or [], key=lambda r: (r.qid, r.rank)):
            got[r.qid].append(r.id)
        n = min(len(got), len(served))
        ctx.check(got[:n] == served[:n], "Spark batch top-k != served get_top_k")
    return _median(times[1:])


def _live_mask(inp: dict, n_base: int, cycles: int) -> np.ndarray:
    """Ids live after ``cycles`` cycles of appends and deletes."""
    per = (len(inp["all_vectors"]) - n_base) // len(inp["batches"])
    live = np.zeros(len(inp["all_vectors"]), dtype=bool)
    live[: n_base + cycles * per] = True
    for dead in inp["deletes"][:cycles]:
        live[dead] = False
    return live


def _store_bytes(store: SegmentedIndexStore) -> int:
    m = store.manifest()
    return sum(_dir_bytes(os.path.join(store.root, p))
               for p in m["segments"] + m["tombstones"])


WORKLOADS = {
    "online_serve": online_serve,
    "ingest_serve": ingest_serve,
}


def span_layers(ctx: Ctx) -> None:
    """Traced run only: Spark job/stage/task counts of the last timed
    call of each kind, and each layer's self time."""
    tr = ctx.tracer
    for prefix, name in (("core.save", "core.save"),
                         ("probe.query", "core.query_batch"),
                         ("probe.query", "probe.store_batch"),
                         ("store.append", "store.append"),
                         ("store.delete", "store.delete_ids"),
                         ("store.compact", "store.compact")):
        s = ctx.span_counts(name)
        for key in ("jobs", "stages", "tasks"):
            metric = f"{prefix}_{key}"
            if metric in PER_LAYER and s:
                ctx.layers[metric] = s[key]
    ctx.layers["serving.jobs"] = sum(
        s["jobs"] for s in tr.spans if s["name"].startswith("serving."))
    for layer, t in tr.layer_self_s().items():
        if f"self_s.{layer}" in PER_LAYER:
            ctx.layers[f"self_s.{layer}"] = t
    root = tr.named("bench.run")[0]
    wall = root["end"] - root["start"]
    ctx.layers["trace.wall_s"] = wall
    ctx.layers["trace.unattributed_pct"] = 100.0 * tr.self_times()[root["id"]] / wall
    ctx.layers["trace.spans"] = len(tr.spans)
