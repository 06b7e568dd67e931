"""Driver-contract guards over the queries()/oracle_sql() registry."""

from __future__ import annotations

import inspect
import os

import pytest

from lshrs_spark.entries import ORACLES, QUERIES, register


def test_every_entry_has_an_oracle():
    """The correctness gate compares every entry against DuckDB; an
    entry without an oracle silently downgrades to rows-only."""
    missing = sorted(set(QUERIES) - set(ORACLES))
    assert missing == [], f"entries without oracle SQL: {missing}"


def test_every_entry_takes_spark_and_sfdir():
    for name, fn in QUERIES.items():
        params = list(inspect.signature(fn).parameters)
        assert params[:2] == ["spark", "sf_dir"], (name, params)


def test_duplicate_registration_rejected():
    name = sorted(QUERIES)[0]
    with pytest.raises(ValueError, match="duplicate"):
        @register(name, "SELECT 1")
        def clobber(spark, sf_dir):  # pragma: no cover
            raise AssertionError


def test_oracle_sql_mentions_only_known_tables():
    """Oracles run against the driver's pre-registered views; a typo'd
    table name would fail only at gate time — catch it here."""
    known = {"region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"}
    import re

    for name, sql in ORACLES.items():
        for m in re.finditer(r"\b(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)\b",
                             sql, re.IGNORECASE):
            tbl = m.group(1).lower()
            # CTE names and derived aliases are fine; only flag
            # TPC-H-ish names that are *close* to a known table but not it
            assert tbl in known or tbl not in {
                "lineitems", "order", "customers", "document", "event",
                "embedding", "suppliers", "parts",
            }, (name, tbl)


def test_scratch_root_is_per_process_and_sweeps_dead_pids(tmp_path,
                                                          monkeypatch):
    """ADVICE r10: entry scratch paths keyed only by (prefix, sf) let
    two concurrent harness runs overwrite each other's stores. The
    root is now per-pid, and the first use sweeps siblings whose owner
    is dead — keeping the ADVICE-r9 no-unbounded-growth property."""
    import os
    import tempfile

    from lshrs_spark.entries import _scratch_root, _sf_tmp_path

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    base = tmp_path / "lshrs_spark_scratch"
    # plant residue from a dead run (pid 2**22-ish is safely unused on
    # this host: max_pid default is 4194304, so probe for a free one)
    dead = 4000000
    while True:
        try:
            os.kill(dead, 0)
            dead -= 1
        except ProcessLookupError:
            break
        except PermissionError:
            dead -= 1
    (base / f"pid_{dead}").mkdir(parents=True)
    (base / f"pid_{dead}" / "stale_store").mkdir()

    root = _scratch_root()
    assert root == str(base / f"pid_{os.getpid()}")
    assert os.path.isdir(root)
    assert not (base / f"pid_{dead}").exists()  # dead residue swept

    # deterministic within the process; namespaced by prefix and sf
    p1 = _sf_tmp_path("x", "/data/sf0.01")
    assert p1 == _sf_tmp_path("x", "/data/sf0.01/")
    assert p1 != _sf_tmp_path("y", "/data/sf0.01")
    assert p1.startswith(root)

    # a LIVE sibling (this very pid, re-planted as someone else's) is
    # never touched: use pid 1, which is always alive
    (base / "pid_1").mkdir()
    import shutil

    shutil.rmtree(root)  # force the first-use branch again
    _scratch_root()
    assert (base / "pid_1").exists()


def test_drift_runner_and_bench_share_line_definitions(spark):
    """tools/drift_ab.py validates CLI names against
    tools/bench_lines.LINE_ORDER and times the section dicts the
    bench itself imports — if either side gains or loses a line
    without the other, the isolated re-measure protocol silently
    diverges from the bench series it judges (exactly the copy-drift
    the shared module exists to prevent). Round-12 extended the
    sharing to the knn/mips/stream/store sections (VERDICT r11 #1);
    this pin now covers all three sections."""
    import sys

    # derive the repo root like tools/drift_ab.py does — a hardcoded
    # /root/repo broke this test on any other checkout (ADVICE r11)
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from tools.bench_lines import (
        DOC_LINES,
        LINE_ORDER,
        STORE_LINES,
        VECTOR_LINES,
        BenchState,
        bench_docs,
        shared_line_fns,
        store_line_fns,
        vector_line_fns,
    )
    from tools.drift_ab import R11_FLAGGED, R12_FLAGGED

    # the three sections partition the canonical order exactly
    assert sorted(LINE_ORDER) == sorted(
        DOC_LINES + VECTOR_LINES + STORE_LINES)
    assert len(LINE_ORDER) == len(set(LINE_ORDER))
    # every flagged set the runner defaults to is re-measurable
    assert set(R11_FLAGGED) <= set(DOC_LINES)
    assert set(R12_FLAGGED) <= set(LINE_ORDER)

    sf_dir = "/root/testdata/sf0.001"
    docs = bench_docs(spark, sf_dir, 4)
    fns = shared_line_fns(spark, docs, sf_dir)
    assert sorted(fns) == sorted(DOC_LINES)
    state = BenchState(spark, sf_dir, 4, store_prefix="lshrs_test_drift_")
    vfns = vector_line_fns(state)
    assert sorted(vfns) == sorted(VECTOR_LINES)
    sfns = store_line_fns(state)
    assert sorted(sfns) == sorted(STORE_LINES)

    # each section actually runs end-to-end at smoke scale
    assert fns["text_pipeline"]() > 0
    assert vfns["knn_truncated_batch100"]() > 0
    assert sfns["single_topk_stored20x"]() > 0
    # bench ordering guard: the cached probe index now exists (the
    # store build cached nothing, but idx_cached was never called —
    # force it), so the index_build line must refuse to run
    state.idx_cached()
    with pytest.raises(AssertionError, match="index_build"):
        vfns["index_build"]()


def test_drift_runner_residency_is_per_line_not_up_front(spark, monkeypatch):
    """r13 review finding: bench-parity residency means the store
    pieces resident at THAT line's own bench.py timing point — the
    pieces of store lines EARLIER in LINE_ORDER — not the full store
    state built before pass 1 (which would tilt the PRE-store lines:
    bench times index_build/topp/stream_agg before st.big() exists).
    Pins materialize_before's prerequisite sets and that building the
    line-fn dict itself materializes nothing."""
    import tools.drift_ab as ab

    calls: list[str] = []

    class FakeState:
        def __init__(self, sp, sf_dir, cpus, store_prefix=""):
            self.spark = sp
            self.sf_dir = sf_dir
            self.cpus = cpus

        def big(self):
            calls.append("big")

        def lsh_store(self):
            calls.append("lsh_store")

        def maint_template(self):
            calls.append("maint_template")

        def tivf_store(self):
            calls.append("tivf_store")

        def pq_parts(self):
            calls.append("pq_parts")

    import tools.bench_lines as bl

    monkeypatch.setattr(bl, "BenchState", FakeState)
    fns, mat = ab.build_line_fns(
        spark, ["index_build", "single_topk_stored20x",
                "ann_pq_query20x", "mips_ivf_batch100"])
    # assembling the fns must not materialize anything up front
    assert calls == []
    # a pre-store line has no store prerequisites
    mat("index_build")
    assert calls == []
    # the first store line's own piece (big) builds in its warm-up,
    # not here; nothing is EARLIER than it
    mat("index_build_20x")
    assert calls == []
    # mid-store-section: exactly the earlier lines' pieces, in
    # bench.py's build order
    mat("single_topk_stored20x")
    assert calls == ["big"]
    calls.clear()
    mat("ann_pq_query20x")
    assert calls == ["big", "lsh_store", "maint_template", "tivf_store"]
    calls.clear()
    # post-store lines get the full store-section state
    mat("mips_ivf_batch100")
    assert calls == ["big", "lsh_store", "maint_template",
                     "tivf_store", "pq_parts"]


def test_scaling_probe_rejects_bad_subset_and_passes_fast():
    """r13 (VERDICT r12 #1): the scaling probe grew the bench's
    settlement machinery — a --jobs subset for isolated re-measures
    plus --passes/--reps. A typo'd job name or nonpositive counts must
    fail at argument time, BEFORE paying JVM startup (the same
    fail-fast contract the drift runner got in r11)."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = os.path.join(root, "tools", "scaling_probe.py")
    proc = subprocess.run(
        [sys.executable, probe, "--job", "shuffle", "--jobs", "bogus_job"],
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert "unknown shuffle job" in proc.stderr
    # the known-jobs list in the error is the canonical SHUFFLE_JOBS
    sys.path.insert(0, root)
    from tools.scaling_probe import SHUFFLE_JOBS

    assert "graph_triangles" in SHUFFLE_JOBS
    for job in SHUFFLE_JOBS:
        assert job in proc.stderr
    for flag in ("--passes", "--reps"):
        proc = subprocess.run(
            [sys.executable, probe, "--job", "shuffle", flag, "0"],
            capture_output=True, text=True, timeout=60,
        )
        assert proc.returncode != 0
        assert "positive integers" in proc.stderr
    # an all-commas subset parses to an empty set: must refuse, not
    # run zero jobs and write an empty artifact with exit 0
    proc = subprocess.run(
        [sys.executable, probe, "--job", "shuffle", "--jobs", ","],
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert "empty set" in proc.stderr


def test_drift_runner_rejects_nonpositive_reps():
    """ADVICE r11: ``--reps 0`` passed the isdigit() validation and
    crashed on ``min([])`` only after paying JVM startup and the
    warm-up run — reject at argument-parse time, before any Spark
    work. All three rejections exit immediately (no JVM)."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for bad in ("0", "-3", "x"):
        proc = subprocess.run(
            [sys.executable, os.path.join(root, "tools", "drift_ab.py"),
             "--reps", bad],
            capture_output=True, text=True, timeout=60,
        )
        assert proc.returncode != 0
        assert "positive integer" in proc.stderr


def test_drift_runner_survives_a_failing_line(spark, monkeypatch, tmp_path):
    """r12 hardening: one broken line must not lose the other lines'
    measurements — this round's first A/B run crashed on pass 2 and
    lost a complete pass-1 sweep (~20 min of evidence). The runner now
    records the failure per line, keeps going, writes the (partial)
    artifact, and exits NONZERO so the run never reads as a clean
    settlement. Also pins the PRE_CACHE_LINES pass-1-only rule."""
    import json

    import tools.drift_ab as ab

    calls = {"flaky": 0}

    def flaky():
        # fails its whole first pass (warm-up included), succeeds on
        # the pass-2 retry — the ADVICE r12 re-warm case
        calls["flaky"] += 1
        if calls["flaky"] == 1:
            raise RuntimeError("flaky failure")
        return 3

    def fake_fns(sp, names):
        def boom():
            raise RuntimeError("injected failure")

        return ({"index_build": lambda: 1, "topk_batch100": boom,
                 "topp_batch100": lambda: 2, "single_topk": flaky},
                lambda name: None)

    monkeypatch.setattr(ab, "build_line_fns", fake_fns)
    out = tmp_path / "ab.json"
    monkeypatch.setattr(
        ab.sys, "argv",
        ["drift_ab.py", "--reps", "1", "--passes", "2", "--out", str(out),
         "index_build", "topk_batch100", "topp_batch100", "single_topk"],
    )
    with pytest.raises(SystemExit) as ei:
        ab.main()
    assert "topk_batch100" in str(ei.value)
    # the recovered line is named as partial, not lumped with the dead one
    assert "single_topk" in str(ei.value)

    d = json.loads(out.read_text())
    # per-pass error tags + ok_passes make partial lines unambiguous
    # (ADVICE r12: min coexisting with an error needs provenance)
    r_dead = d["results"]["topk_batch100"]
    assert r_dead["errors"] == [
        "pass1: RuntimeError: injected failure",
        "pass2: RuntimeError: injected failure",
    ]
    assert r_dead["min"] is None and r_dead["ok_passes"] == []
    # the healthy lines kept all their evidence
    assert d["results"]["topp_batch100"]["min"] is not None
    assert len(d["results"]["topp_batch100"]["passes"]) == 2
    assert d["results"]["topp_batch100"]["ok_passes"] == [1, 2]
    assert d["results"]["topp_batch100"]["errors"] == []
    # pre-cache line timed in pass 1 only
    assert len(d["results"]["index_build"]["passes"]) == 1
    # the flaky line: pass-1 error recorded, pass-2 min recorded, and
    # the retry RE-WARMED (warm-up call + 1 timed rep = 3 total calls;
    # a warmup=False retry would have made only 2) so its min can
    # never include first-compile cost (ADVICE r12)
    r_flaky = d["results"]["single_topk"]
    assert r_flaky["errors"] == ["pass1: RuntimeError: flaky failure"]
    assert r_flaky["ok_passes"] == [2] and r_flaky["min"] is not None
    assert calls["flaky"] == 3


# ------------------------------------------------------------------ #
# I/O canary (VERDICT r13 missing #1): the quiet guard's page-cache
# leg — a cold first touch-read of the stores must downgrade "quiet"
# ------------------------------------------------------------------ #

def test_io_canary_warm_sample_reads_quiet(tmp_path):
    """Freshly written pages are resident, so both passes run at
    memory speed and the three-condition cold rule cannot fire."""
    from tools.bench_lines import IO_CANARY_MIN_BYTES, io_canary

    f = tmp_path / "blob.bin"
    f.write_bytes(os.urandom(6 << 20))
    got = io_canary([str(tmp_path)])
    assert got["bytes"] >= IO_CANARY_MIN_BYTES
    assert got["files"] == 1
    assert got["t_first_s"] > 0 and got["t_resident_s"] > 0
    assert got["io_quiet"] is True
    # second reading of now-certainly-resident pages: ratio near 1
    again = io_canary([str(tmp_path)])
    assert again["io_quiet"] is True


def test_io_canary_small_sample_recorded_not_judged(tmp_path):
    """Below IO_CANARY_MIN_BYTES the ratio is syscall noise (and a
    store that small re-warms inside any run's first loop): the
    reading is recorded for the artifact but never flips the
    verdict."""
    from tools.bench_lines import io_canary

    (tmp_path / "tiny.bin").write_bytes(b"x" * (1 << 20))
    got = io_canary([str(tmp_path)])
    assert got["bytes"] == 1 << 20
    assert got["io_quiet"] is True
    assert "note" in got


def test_io_canary_no_bytes(tmp_path):
    from tools.bench_lines import io_canary

    got = io_canary([str(tmp_path / "missing")])
    assert got == {"bytes": 0, "files": 0, "t_first_s": None,
                   "t_resident_s": None, "cold_ratio": None,
                   "io_quiet": True, "note": "no bytes under paths"}


def test_io_canary_strides_across_large_files(tmp_path):
    """A file larger than the sample budget is block-strided, not
    read in full — the canary must never warm a whole big store."""
    from tools.bench_lines import io_canary

    f = tmp_path / "big.bin"
    with open(f, "wb") as h:
        h.truncate(64 << 20)  # sparse is fine: reads return zeros
    got = io_canary([str(f)], sample_bytes=8 << 20)
    assert got["bytes"] <= 9 << 20  # budget + at most one block slack
    assert got["bytes"] >= 8 << 20


def test_quiet_guard_cold_io_downgrades_quiet(monkeypatch):
    """The CPU/JVM leg passing is no longer enough: a cold canary
    reading flips the guard verdict (the r13 blind spot — 2-5x
    serving distortion under a green CPU/JVM-only guard)."""
    import tools.bench_lines as bl

    cold = {"bytes": 32 << 20, "files": 3, "t_first_s": 0.5,
            "t_resident_s": 0.05, "cold_ratio": 10.0, "io_quiet": False}
    monkeypatch.setattr(bl, "io_canary", lambda paths, **kw: cold)
    # quiet host stubs (no JVM, no load, no steal) isolate the io
    # downgrade; the huge cpu budget + own_jvms allowance are kept
    monkeypatch.setattr(bl, "host_sample",
                        lambda: {"counted_jvms": 0, "load1": 0.0})
    monkeypatch.setattr(bl, "cpu_steal_sample",
                        lambda interval_s=0.25: {"steal_pct": 0.0,
                                                 "procs_running": 1})
    monkeypatch.setattr(bl, "cpu_efficiency_sample",
                        lambda nproc=None, burn_s=0.35: {
                            "cpu_eff_pct": None, "cpu_single_mops": None})
    guard = bl.quiet_guard(10**6, own_jvms=99, io_paths=["/nonexistent"])
    assert guard["io"] == cold
    assert guard["quiet"] is False
    # and without io_paths the guard shape is unchanged (no io key)
    guard2 = bl.quiet_guard(10**6, own_jvms=99)
    assert "io" not in guard2 and guard2["quiet"] is True


def test_serving_probe_wait_quiet_retries_cold_io(monkeypatch):
    """An arrived-cold store is retried (the canary's own strided
    read re-warms what it sampled) and the cold readings stay
    visible as io_cold_retries — labeled, never silently trusted."""
    import tools.bench_lines as bl
    import tools.serving_probe as sp

    readings = [
        {"bytes": 32 << 20, "files": 3, "t_first_s": 0.5,
         "t_resident_s": 0.05, "cold_ratio": 10.0, "io_quiet": False},
        {"bytes": 32 << 20, "files": 3, "t_first_s": 0.06,
         "t_resident_s": 0.05, "cold_ratio": 1.2, "io_quiet": True},
    ]
    seq = iter(readings)
    monkeypatch.setattr(bl, "io_canary", lambda paths, **kw: next(seq))
    monkeypatch.setattr(sp, "_java_procs", lambda: 0)
    monkeypatch.setattr(sp.os, "getloadavg", lambda: (0.0, 0.0, 0.0))
    monkeypatch.setattr(sp.time, "sleep", lambda s: None)
    guard = sp.wait_quiet(max_wait_s=60.0, load_max=8.0)
    assert guard["quiet"] is True
    assert guard["io_cold_retries"] == 1
    assert guard["io"] == readings[1]


# ------------------------------------------------------------------ #
# CPU-steal canary (VERDICT r14 #2): the quiet guard's hypervisor-
# steal leg — a steal episode above threshold must downgrade "quiet"
# ------------------------------------------------------------------ #

def test_cpu_steal_sample_reads_proc_stat():
    from tools.bench_lines import cpu_steal_sample

    got = cpu_steal_sample(interval_s=0.05)
    assert set(got) == {"steal_pct", "procs_running"}
    # on this Linux host both must be real readings, and an idle-ish
    # sandbox cannot be mostly-stolen
    assert got["steal_pct"] is not None and 0.0 <= got["steal_pct"] <= 100.0
    assert got["procs_running"] is not None and got["procs_running"] >= 1


def test_quiet_guard_carries_steal_and_flips_on_threshold(monkeypatch):
    import tools.bench_lines as bl

    monkeypatch.setattr(bl, "host_sample",
                        lambda: {"counted_jvms": 0, "load1": 0.0})
    monkeypatch.setattr(bl, "cpu_efficiency_sample",
                        lambda nproc=None, burn_s=0.35: {
                            "cpu_eff_pct": None, "cpu_single_mops": None})

    # quiet reading passes through
    monkeypatch.setattr(bl, "cpu_steal_sample",
                        lambda interval_s=0.25: {"steal_pct": 0.0,
                                                 "procs_running": 1})
    g = bl.quiet_guard(32)
    assert g["steal_pct"] == 0.0 and g["procs_running"] == 1
    assert "load_divergence" in g
    # a steal episode above STEAL_QUIET_PCT must flip quiet even when
    # JVM/loadavg/IO all read green
    monkeypatch.setattr(bl, "cpu_steal_sample",
                        lambda interval_s=0.25: {"steal_pct": 37.5,
                                                 "procs_running": 1})
    g2 = bl.quiet_guard(32)
    assert g2["quiet"] is False and g2["steal_pct"] == 37.5
    # off-Linux Nones are recorded, never judged
    monkeypatch.setattr(bl, "cpu_steal_sample",
                        lambda interval_s=0.25: {"steal_pct": None,
                                                 "procs_running": None})
    g3 = bl.quiet_guard(32)
    assert g3["steal_pct"] is None and g3["load_divergence"] is False


def test_quiet_guard_records_cpu_efficiency(monkeypatch):
    """r15 session 2: the hypervisor-contention canary is RECORDED in
    every guard block (observational — it must never flip quiet until
    a clean-epoch threshold is justified)."""
    import tools.bench_lines as bl

    # injected burn timing: 50k solo iterations in 0.05 s, then 45k and
    # 40k in the two parallel burns -> 85% of 2x the solo rate
    monkeypatch.setattr(bl, "_eff_burns",
                        lambda nproc, burn_s: (50_000, [45_000, 40_000]))
    got = bl.cpu_efficiency_sample(nproc=2, burn_s=0.05)
    assert set(got) == {"cpu_eff_pct", "cpu_single_mops"}
    assert got["cpu_eff_pct"] is None or 0.0 < got["cpu_eff_pct"] <= 200.0
    assert got == {"cpu_eff_pct": 85.0, "cpu_single_mops": 1.0}

    monkeypatch.setattr(bl, "cpu_efficiency_sample",
                        lambda nproc=None, burn_s=0.35: {
                            "cpu_eff_pct": 12.0,
                            "cpu_single_mops": 30.0})
    monkeypatch.setattr(bl, "cpu_steal_sample",
                        lambda interval_s=0.25: {"steal_pct": 0.0,
                                                 "procs_running": 1})
    # no JVM and no load: the guard reads no host state
    monkeypatch.setattr(bl, "host_sample",
                        lambda: {"counted_jvms": 0, "load1": 0.0})
    g = bl.quiet_guard(32)
    assert g["cpu_eff_pct"] == 12.0
    assert g["quiet"] is True  # observational: never flips quiet
