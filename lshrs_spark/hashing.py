"""Sign-random-projection (SRP) LSH signatures and multi-probe keys.

Semantics parity with the reference hasher
(``/root/reference/lshrs/hash/lsh.py:18-247``):

* projection matrices: per-band ``rng.standard_normal((rows_per_band, dim))``
  drawn from one ``np.random.default_rng(seed)`` stream, cast to float32 —
  reproducing that exact draw order makes our signatures bit-identical to
  the reference for the same ``(seed, dim, num_bands, rows_per_band)``.
* signature bit ``j`` of band ``b`` is ``1`` iff ``P[b,j] @ v > 0``;
  bits are packed little-endian (bit ``j`` -> weight ``2**j``), matching
  ``np.packbits(..., bitorder="little")``.

One kernel. :func:`make_key_kernel` is the only code that turns a
projected block ``z = V @ P.T`` into band keys. Its key matrix has
``keys_per_query(cfg, T)`` columns laid out ``[exact band 0..B-1, flip
t=0 band 0..B-1, ..., flip t=T-1 band 0..B-1]``, so column ``p`` belongs
to band ``p % num_bands``. Flip ``t`` of band ``b`` (multi-probe LSH, Lv
et al., VLDB 2007) toggles the bit with the ``t``-th smallest
``|margin|`` in that band; ties keep ascending bit order, like the
oracle's ``ORDER BY abs(margin), j``. Keys are ``int64`` for the
``"long"`` kind (``rows_per_band < 64``, join-friendly) and
``sig_bytes``-wide ``bytes`` for the ``"binary"`` kind (bit-identical to
the reference's per-band ``bytes``). Every producer calls it: the Arrow
pandas_udf behind :func:`signatures_col` (one ``(batch, dim) @ (dim,
num_perm)`` matmul per Arrow batch), the driver-side
``hash_vectors_local[_long]`` / :func:`multiprobe_keys_local`, and,
through :func:`probe_keys_local`, the Spark probe builders in
``operators/probe.py`` and the servers in ``serving.py``.

Cached projection: the driver-side paths and the Spark broadcast read
one read-only ``(num_perm, dim)`` array cached per config, so hashing a
served query does not redraw the normals. :func:`projection_matrix`
still returns a fresh array.

Worker-shipping contract: the kernel and the pandas_udf capture only
ints, bools, the nested kernel closure and the broadcast handle, and
import numpy locally, so cloudpickle ships them by value and Python
workers never need this package on their ``sys.path`` (the
SparkSession may belong to an application that does not ship it).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import LSHConfig

__all__ = [
    "projection_matrix",
    "band_matrices",
    "resolve_sig_kind",
    "keys_per_query",
    "make_key_kernel",
    "signatures_udf",
    "signatures_col",
    "with_signatures",
    "hash_vectors_local",
    "hash_vectors_local_long",
    "multiprobe_keys_local",
    "probe_keys_local",
]

# One broadcast per (spark app, config) — avoids re-broadcasting the matrix
# for every query when many operators share a config.
_BCAST_CACHE: dict = {}


def band_matrices(cfg: LSHConfig) -> list[np.ndarray]:
    """Per-band ``(rows_per_band, dim)`` matrices, identical draw order to the
    reference (``lshrs/hash/lsh.py:93-94``)."""
    rng = np.random.default_rng(cfg.seed)
    mats = [
        rng.standard_normal((cfg.rows_per_band, cfg.dim))
        for _ in range(cfg.num_bands)
    ]
    if cfg.dtype == "float32":
        mats = [m.astype(np.float32) for m in mats]
    return mats


@lru_cache(maxsize=16)
def _projection(cfg: LSHConfig) -> np.ndarray:
    proj = np.vstack(band_matrices(cfg))
    proj.setflags(write=False)
    return proj


def projection_matrix(cfg: LSHConfig) -> np.ndarray:
    """All bands stacked into one ``(num_perm, dim)`` matrix: row
    ``b * rows_per_band + j`` is hyperplane ``j`` of band ``b``."""
    return _projection(cfg).copy()


def resolve_sig_kind(cfg: LSHConfig, sig_kind: Optional[str] = None) -> str:
    """``"long"`` when packed bands fit int64 (``rows_per_band < 64``),
    else ``"binary"``; an explicit ``"long"`` is checked against it."""
    if sig_kind is None:
        return "long" if cfg.use_long_sig else "binary"
    if sig_kind == "long" and not cfg.use_long_sig:
        raise ValueError(
            "long signatures need rows_per_band < 64 "
            f"(got {cfg.rows_per_band}); use the binary kind"
        )
    return sig_kind


def keys_per_query(cfg: LSHConfig, multiprobe: int = 0) -> int:
    """Probe keys one vector emits: ``num_bands * (1 + T)`` with ``T``
    the multi-probe flips, clamped to ``rows_per_band``."""
    return cfg.num_bands * (1 + min(multiprobe, cfg.rows_per_band))


def make_key_kernel(cfg: LSHConfig, sig_kind: Optional[str] = None,
                    multiprobe: int = 0):
    """``keys(z)`` mapping a projected ``(n, num_perm)`` block to the
    ``(n, keys_per_query)`` key matrix of the module docstring's layout:
    ``int64`` for the long kind, ``V{sig_bytes}`` (``.tolist()`` gives
    ``bytes``) for the binary kind. Self-contained for worker shipping."""
    if multiprobe < 0:
        raise ValueError("multiprobe must be >= 0")
    packed_long = resolve_sig_kind(cfg, sig_kind) == "long"
    num_bands, rows = cfg.num_bands, cfg.rows_per_band
    n_flip = min(multiprobe, rows)

    def keys(z):
        import numpy as np

        n = len(z)
        bits = (z > 0).reshape(n, num_bands, rows)
        if packed_long:
            sigs = bits.astype(np.int64) @ (
                1 << np.arange(rows, dtype=np.int64))           # (n, B)
        else:
            sigs = np.packbits(bits, axis=2, bitorder="little")  # (n, B, w)
        if n_flip:
            order = np.argsort(
                np.abs(z).reshape(n, num_bands, rows), axis=2, kind="stable"
            )[:, :, :n_flip].transpose(0, 2, 1)                  # (n, T, B)
            if packed_long:
                flips = sigs[:, None] ^ (1 << order.astype(np.int64))
            else:
                byte_of = order[..., None] // 8 == np.arange(sigs.shape[2])
                mask = byte_of * (1 << (order % 8))[..., None]
                flips = sigs[:, None] ^ mask.astype(np.uint8)
            sigs = np.concatenate(
                [sigs, flips.reshape((n, -1) + sigs.shape[2:])], axis=1)
        if packed_long:
            return sigs
        return np.ascontiguousarray(sigs).view(f"V{sigs.shape[2]}")[..., 0]

    return keys


def _broadcast_proj(spark: SparkSession, cfg: LSHConfig):
    # Key on applicationId (unique per context), NOT id(sparkContext):
    # CPython reuses freed addresses, so id() can collide after a
    # stop()/restart and hand back a destroyed broadcast.
    app = spark.sparkContext.applicationId
    key = (app, cfg.seed, cfg.dim, cfg.num_bands,
           cfg.rows_per_band, cfg.dtype)
    # Evict entries from other (stopped) contexts so repeated
    # stop()/restart cycles don't accumulate dead broadcasts + their
    # driver-side projection matrices.
    for stale in [k for k in _BCAST_CACHE if k[0] != app]:
        del _BCAST_CACHE[stale]
    b = _BCAST_CACHE.get(key)
    if b is None:
        b = spark.sparkContext.broadcast(
            np.ascontiguousarray(_projection(cfg).T))
        _BCAST_CACHE[key] = b
    return b


def signatures_udf(
    spark: SparkSession,
    cfg: LSHConfig,
    *,
    sig_kind: Optional[str] = None,
    multiprobe: int = 0,
):
    """The Arrow pandas_udf behind :func:`signatures_col`: vector column
    -> ``array<bigint>`` (long kind) or ``array<binary>`` key array."""
    sig_kind = resolve_sig_kind(cfg, sig_kind)
    keys_of = make_key_kernel(cfg, sig_kind, multiprobe)
    packed_long = sig_kind == "long"
    bproj = _broadcast_proj(spark, cfg)
    dim = cfg.dim
    use_f32 = cfg.dtype == "float32"
    key_type = T.LongType() if packed_long else T.BinaryType()

    @F.pandas_udf(T.ArrayType(key_type, containsNull=False))
    def srp_keys(s: pd.Series) -> pd.Series:
        import numpy as _np

        if s.empty:
            return pd.Series([], dtype=object)
        dt = _np.float32 if use_f32 else _np.float64
        mat = _np.stack(s.to_numpy()).astype(dt, copy=False)
        if mat.ndim != 2 or mat.shape[1] != dim:
            raise ValueError(
                f"vector dimension mismatch: expected {dim}, got {mat.shape}"
            )
        keys = keys_of(mat @ bproj.value)
        return pd.Series(list(keys) if packed_long else keys.tolist())

    return srp_keys


def signatures_col(
    spark: SparkSession,
    cfg: LSHConfig,
    vector_col: str = "embedding",
    *,
    sig_kind: Optional[str] = None,
    multiprobe: int = 0,
) -> Column:
    """Column expression computing SRP band signatures for a vector column.

    ``sig_kind``: "long" (default when ``rows_per_band < 64``) -> the column
    is ``array<bigint>`` with one little-endian packed value per band;
    "binary" -> ``array<binary>`` bit-identical to the reference signatures.

    ``multiprobe=T`` appends, per band, the ``T`` closest-margin
    single-bit-flip perturbation keys — margins are a free byproduct of
    the same matmul, so the corpus-scale probe job gets the multi-probe
    recall knob without a second projection pass or a local
    ``collect``. The array follows the kernel layout, so position ``p``
    belongs to band ``p % num_bands`` (what
    :func:`~lshrs_spark.operators.index.build_index` relies on when
    exploding)."""
    return signatures_udf(spark, cfg, sig_kind=sig_kind,
                          multiprobe=multiprobe)(F.col(vector_col))


def with_signatures(
    df: DataFrame,
    cfg: LSHConfig,
    vector_col: str = "embedding",
    out_col: str = "sigs",
    *,
    sig_kind: Optional[str] = None,
    multiprobe: int = 0,
) -> DataFrame:
    """Append the band-signature array column to ``df``."""
    spark = df.sparkSession
    return df.withColumn(
        out_col,
        signatures_col(spark, cfg, vector_col, sig_kind=sig_kind,
                       multiprobe=multiprobe),
    )


def _local_keys(vectors: np.ndarray, cfg: LSHConfig,
                sig_kind: Optional[str], multiprobe: int = 0) -> np.ndarray:
    """Driver-side kernel call on the cached projection."""
    keys_of = make_key_kernel(cfg, sig_kind, multiprobe)
    vectors = np.atleast_2d(np.asarray(
        vectors, dtype=np.float32 if cfg.dtype == "float32" else np.float64
    ))
    if vectors.shape[1] != cfg.dim:
        raise ValueError(
            f"vector dimension mismatch: expected {cfg.dim}, got {vectors.shape[1]}"
        )
    return keys_of(vectors @ _projection(cfg).T)


def hash_vectors_local(vectors: np.ndarray, cfg: LSHConfig) -> list[tuple[bytes, ...]]:
    """Driver-side signatures as per-band packed ``bytes`` — the exact shape
    of the reference ``HashSignatures.bands`` for differential testing, and
    for hashing single query vectors without a Spark job."""
    return [tuple(row) for row in _local_keys(vectors, cfg, "binary").tolist()]


def hash_vectors_local_long(vectors: np.ndarray, cfg: LSHConfig) -> np.ndarray:
    """Driver-side long-packed signatures, shape ``(n, num_bands)``."""
    return _local_keys(vectors, cfg, "long")


def probe_keys_local(
    vectors: np.ndarray, cfg: LSHConfig, multiprobe: int = 0,
    *, sig_kind: Optional[str] = None,
) -> list[list[tuple]]:
    """Per vector, its ``(band, sig)`` probe keys in the kernel layout:
    the exact band signatures, then ``multiprobe`` flip tiers. These are
    the keys :func:`signatures_col` emits for the same vector."""
    keys = _local_keys(vectors, cfg, sig_kind, multiprobe).tolist()
    bands = [p % cfg.num_bands for p in range(keys_per_query(cfg, multiprobe))]
    return [list(zip(bands, row)) for row in keys]


def multiprobe_keys_local(
    vectors: np.ndarray, cfg: LSHConfig, extra: int,
    *, sig_kind: str | None = None,
) -> list:
    """EXTRA probe keys per query for multi-probe LSH (Lv et al.,
    VLDB 2007): for each band, the ``extra`` single-bit-flip
    perturbations of the band signature, flipping bits in ascending
    ``|projection margin|`` order — the hyperplanes the query sits
    closest to, i.e. the bits most likely to differ on a true
    near-neighbor. Probing these buckets raises recall WITHOUT more
    hash tables (bands) or a second index: the same O(1) pruned
    lookups, just ``num_bands * extra`` more of them. Size ``extra``
    with the analytic bounds of
    :func:`lshrs_spark.planner.compute_multiprobe_collision_probability`
    and validate on a corpus with the ``lsh_multiprobe_recall`` gauge.

    Returns one list per query of ``(band, sig)`` keys — the exact
    signatures are NOT included (callers already have them from
    ``hash_vectors_local[_long]``; this returns only the additions,
    in the kernel's flip-tier order). ``sig_kind`` follows the index
    layout: ``"long"`` (default when ``rows_per_band < 64``) or
    ``"binary"``."""
    keys = probe_keys_local(vectors, cfg, extra, sig_kind=sig_kind)
    return [row[cfg.num_bands:] for row in keys]
