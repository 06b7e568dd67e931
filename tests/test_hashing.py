"""Hashing: determinism, packing, and bit-compatibility with the reference
(`/root/reference/lshrs/hash/lsh.py` — differential test, not a port)."""

from __future__ import annotations

import numpy as np
import pytest

from lshrs_spark import LSHConfig
from lshrs_spark.hashing import (
    band_matrices,
    hash_vectors_local,
    hash_vectors_local_long,
    projection_matrix,
    with_signatures,
)
from tests.conftest import load_reference_hasher

CFG = LSHConfig(dim=32, num_perm=16, num_bands=4, rows_per_band=4, seed=42)


def test_projection_matrices_deterministic():
    a = projection_matrix(CFG)
    b = projection_matrix(CFG)
    assert a.shape == (16, 32)
    np.testing.assert_array_equal(a, b)
    c = projection_matrix(CFG.with_(seed=43))
    assert not np.array_equal(a, c)


def test_signature_length_matches_reference_contract():
    cfg = LSHConfig(dim=16, num_perm=24, num_bands=2, rows_per_band=12, seed=1)
    sigs = hash_vectors_local(np.ones((1, 16)), cfg)[0]
    assert len(sigs) == 2
    assert all(len(s) == 2 for s in sigs)  # ceil(12/8) = 2 bytes


def test_bit_compatibility_with_reference(rng):
    ref = load_reference_hasher()
    for dim, b, r, seed in [(32, 4, 4, 42), (64, 8, 16, 42), (48, 3, 8, 7)]:
        cfg = LSHConfig(dim=dim, num_perm=b * r, num_bands=b, rows_per_band=r,
                        seed=seed)
        hasher = ref.LSHHasher(num_bands=b, rows_per_band=r, dim=dim, seed=seed)
        vecs = rng.standard_normal((20, dim)).astype(np.float32)
        ours = hash_vectors_local(vecs, cfg)
        for i in range(len(vecs)):
            theirs = hasher.hash_vector(vecs[i])
            assert ours[i] == tuple(theirs.bands), f"mismatch dim={dim} b={b} r={r} row={i}"


def test_long_and_binary_packing_agree(rng):
    vecs = rng.standard_normal((10, 32)).astype(np.float32)
    longs = hash_vectors_local_long(vecs, CFG)
    bins = hash_vectors_local(vecs, CFG)
    for i in range(10):
        for band in range(CFG.num_bands):
            expected = int.from_bytes(bins[i][band], "little")
            assert longs[i][band] == expected


def test_spark_signatures_match_local(spark, rng):
    vecs = rng.standard_normal((25, 32)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    rows = (
        with_signatures(df, CFG, "embedding")
        .select("vec_id", "sigs")
        .collect()
    )
    local = hash_vectors_local_long(vecs, CFG)
    for row in rows:
        np.testing.assert_array_equal(np.array(row.sigs), local[row.vec_id])


def test_spark_binary_signatures_match_reference(spark, rng):
    ref = load_reference_hasher()
    hasher = ref.LSHHasher(num_bands=4, rows_per_band=4, dim=32, seed=42)
    vecs = rng.standard_normal((10, 32)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    rows = (
        with_signatures(df, CFG, "embedding", sig_kind="binary")
        .select("vec_id", "sigs")
        .collect()
    )
    for row in rows:
        expected = hasher.hash_vector(vecs[row.vec_id])
        assert tuple(bytes(s) for s in row.sigs) == tuple(expected.bands)


def test_dim_mismatch_raises(spark):
    df = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="dimension mismatch"):
        with_signatures(df, CFG, "embedding").collect()


def test_band_matrices_are_float32_by_default():
    assert all(m.dtype == np.float32 for m in band_matrices(CFG))
    cfg64 = CFG.with_(dtype="float64")
    assert all(m.dtype == np.float64 for m in band_matrices(cfg64))


def test_multiprobe_keys_flip_exactly_one_closest_margin_bit():
    """Multi-probe perturbations: num_bands*extra keys per query, each
    differing from the exact band signature in EXACTLY one bit, flipped
    in ascending |projection margin| order."""
    from lshrs_spark.config import LSHConfig
    from lshrs_spark.hashing import (
        hash_vectors_local,
        hash_vectors_local_long,
        multiprobe_keys_local,
        projection_matrix,
    )

    cfg = LSHConfig(dim=16, num_perm=16, num_bands=4, rows_per_band=4,
                    seed=42, dtype="float64")
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((5, 16))

    exact = hash_vectors_local_long(vecs, cfg)
    keys = multiprobe_keys_local(vecs, cfg, 2)
    z = np.abs(vecs @ projection_matrix(cfg).T).reshape(5, 4, 4)
    for i, qkeys in enumerate(keys):
        assert len(qkeys) == 4 * 2
        for b, sig in qkeys:
            diff = int(exact[i, b]) ^ sig
            assert diff != 0 and (diff & (diff - 1)) == 0   # one bit
            j = diff.bit_length() - 1
            # the flipped bit is among the 2 smallest margins of band b
            order = np.argsort(z[i, b], kind="stable")[:2]
            assert j in order
    # extra=0 -> no keys; extra > rows_per_band clamps
    assert multiprobe_keys_local(vecs, cfg, 0) == [[] for _ in range(5)]
    assert all(
        len(k) == 4 * 4 for k in multiprobe_keys_local(vecs, cfg, 99)
    )

    # binary kind agrees with the long kind bit-for-bit
    kb = multiprobe_keys_local(vecs, cfg, 2, sig_kind="binary")
    exact_b = hash_vectors_local(vecs, cfg)
    for i in range(5):
        longs = {(b, s) for b, s in keys[i]}
        for b, sb in kb[i]:
            as_long = int.from_bytes(sb, "little")
            assert (b, as_long) in longs
        assert len(kb[i]) == len(keys[i])
    with pytest.raises(ValueError, match=">= 0"):
        multiprobe_keys_local(vecs, cfg, -1)


def test_signatures_col_multiprobe_binary_parity(spark):
    """The binary-sig multiprobe UDF must emit exactly the exact
    signatures + multiprobe_keys_local's byte-flip keys (rows_per_band
    >= 64 configs use this path); negative multiprobe raises."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from lshrs_spark.config import LSHConfig
    from lshrs_spark.hashing import (
        hash_vectors_local,
        multiprobe_keys_local,
        with_signatures,
    )

    cfg = LSHConfig(dim=16, num_perm=16, num_bands=2, rows_per_band=8,
                    seed=7)
    rng = np.random.default_rng(2)
    vecs = rng.standard_normal((6, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    T_ = 2
    out = with_signatures(df, cfg, sig_kind="binary", multiprobe=T_)
    rows = {r.vec_id: [bytes(b) for b in r.sigs] for r in out.collect()}
    for i, v in enumerate(vecs):
        got = rows[i]
        assert len(got) == cfg.num_bands * (1 + T_)
        exact = list(hash_vectors_local(v[None, :], cfg)[0])
        # band-major layout: exact tier first, band = pos % num_bands
        assert got[: cfg.num_bands] == exact
        extra = {(b, s) for b, s in
                 multiprobe_keys_local(v[None, :], cfg, T_,
                                       sig_kind="binary")[0]}
        got_extra = {(p % cfg.num_bands, s)
                     for p, s in enumerate(got[cfg.num_bands:],
                                           start=cfg.num_bands)}
        assert got_extra == extra
    with pytest.raises(ValueError, match="multiprobe"):
        with_signatures(df, cfg, sig_kind="binary", multiprobe=-1)


# --------------------------------------------------------------------- #
# One key kernel: every producer of (band, sig) probe keys must agree
# bit for bit with the first-principles SRP + multi-probe definition.
# --------------------------------------------------------------------- #

# default kind per config: long when rows_per_band < 64, else binary
_KIND_CFG = {
    "long": LSHConfig(dim=16, num_perm=32, num_bands=4, rows_per_band=8,
                      seed=11),
    "binary": LSHConfig(dim=16, num_perm=128, num_bands=2, rows_per_band=64,
                        seed=11),
}


def _first_principles_keys(vecs, cfg, kind, multiprobe):
    """Per vector: ``{(band, sig)}`` of the exact band signatures plus,
    per band, single-bit flips in ascending (|margin|, bit) order, and
    the universe of every exact and single-flip key (the probe's
    possible answers, right or wrong)."""
    r = cfg.rows_per_band
    z = vecs.astype(np.float32) @ projection_matrix(cfg).T

    def enc(v):
        return v if kind == "long" else v.to_bytes(cfg.sig_bytes, "little")

    want, universe = [], set()
    for zi in z:
        keys = set()
        for b in range(cfg.num_bands):
            m = zi[b * r:(b + 1) * r]
            exact = sum(1 << j for j in range(r) if m[j] > 0)
            keys.add((b, enc(exact)))
            flips = sorted(range(r), key=lambda j: (abs(m[j]), j))
            keys |= {(b, enc(exact ^ (1 << j))) for j in flips[:multiprobe]}
            universe |= {(b, enc(exact))}
            universe |= {(b, enc(exact ^ (1 << j))) for j in range(r)}
        want.append(keys)
    return want, sorted(universe)


@pytest.mark.parametrize("multiprobe", [0, 2])
@pytest.mark.parametrize("kind", ["long", "binary"])
def test_every_key_producer_agrees(spark, tmp_path, kind, multiprobe):
    """build_index (Spark UDF), query_signatures_df, candidates_from_path,
    IndexServer.candidate_counts and IndexServer.get_top_k_batch emit the
    same (band, sig) key set per vector. The stored index holds one row
    per universe key, so the ids a probe returns name the keys it
    matched, and a wrong extra key would surface as a decoy id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lshrs_spark.operators.index import build_index
    from lshrs_spark.operators.probe import (
        candidates_from_path,
        query_signatures_df,
    )
    from lshrs_spark.serving import IndexServer

    cfg = _KIND_CFG[kind]
    vecs = np.random.default_rng(5).standard_normal((6, cfg.dim)).astype(
        np.float32)
    want, universe = _first_principles_keys(vecs, cfg, kind, multiprobe)
    sig_type = pa.int64() if kind == "long" else pa.binary()
    path = str(tmp_path / "index.parquet")
    pq.write_table(pa.table({
        "band": pa.array([b for b, _ in universe], pa.int32()),
        "sig": pa.array([s for _, s in universe], sig_type),
        "id": pa.array(range(len(universe)), pa.int64()),
    }), path)

    def norm(s):
        return int(s) if kind == "long" else bytes(s)

    def by_vector(rows):
        got = [set() for _ in vecs]
        for i, b, s in rows:
            got[i].add((int(b), norm(s)))
        return got

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    udf_keys = by_vector(
        (r.id, r.band, r.sig) for r in
        build_index(df, cfg, multiprobe=multiprobe).collect())
    qsig_keys = by_vector(
        (r.qid, r.band, r.sig) for r in
        query_signatures_df(spark, vecs, cfg, multiprobe=multiprobe).collect())
    path_keys = by_vector(
        (r.qid, *universe[r.id]) for r in
        candidates_from_path(spark, path, vecs, cfg,
                             multiprobe=multiprobe).collect())
    srv = IndexServer(path, cfg)
    count_keys = [
        {universe[i] for i in srv.candidate_counts(v, multiprobe)[0]}
        for v in vecs
    ]
    batch_keys = [
        {universe[i] for i in ids}
        for ids in srv.get_top_k_batch(vecs, len(universe),
                                       multiprobe=multiprobe)
    ]
    assert udf_keys == want
    assert qsig_keys == want
    assert path_keys == want
    assert count_keys == want
    assert batch_keys == want


def test_key_kernel_runs_without_the_package(tmp_path):
    """Worker-shipping contract: the cloudpickled kernel closure runs in
    an isolated interpreter that cannot import ``lshrs_spark`` and gives
    the in-process keys."""
    import pickle
    import subprocess
    import sys

    from pyspark import cloudpickle

    from lshrs_spark.hashing import make_key_kernel

    z = np.random.default_rng(9).standard_normal((7, 128))
    cases = [(_KIND_CFG["long"], "long"), (_KIND_CFG["binary"], "binary")]
    kernels = [make_key_kernel(cfg, kind, 2) for cfg, kind in cases]
    payload = cloudpickle.dumps(
        [(k, z[:, :cfg.num_perm]) for k, (cfg, _) in zip(kernels, cases)])
    script = (
        "import importlib.util, pickle, sys\n"
        "assert importlib.util.find_spec('lshrs_spark') is None\n"
        "jobs = pickle.loads(sys.stdin.buffer.read())\n"
        "sys.stdout.buffer.write(pickle.dumps("
        "[k(block).tolist() for k, block in jobs]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-I", "-c", script], input=payload,
        capture_output=True, cwd=tmp_path, check=True,
    ).stdout
    expected = [k(z[:, :cfg.num_perm]).tolist()
                for k, (cfg, _) in zip(kernels, cases)]
    assert pickle.loads(out) == expected


def test_projection_matrix_is_a_fresh_copy():
    """The driver paths share one cached projection; a caller mutating
    ``projection_matrix``'s result must not change later signatures."""
    from lshrs_spark.hashing import keys_per_query

    vecs = np.random.default_rng(4).standard_normal((3, 32))
    before = hash_vectors_local_long(vecs, CFG)
    projection_matrix(CFG)[:] = 0.0
    np.testing.assert_array_equal(hash_vectors_local_long(vecs, CFG), before)
    assert keys_per_query(CFG) == 4
    assert keys_per_query(CFG, 2) == 4 * 3
    assert keys_per_query(CFG, 99) == 4 * (1 + CFG.rows_per_band)
