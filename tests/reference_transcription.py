"""Test-only transcription of the two reference functions that the
differential tests use as their oracle, written from SURVEY.md rather
than loaded from a reference checkout. It must never import
``lshrs_spark``: an oracle built from the code under test checks
nothing.

* :class:`LSHHasher` — SRP hashing (SURVEY §1.1 "Projection matrices",
  rows H1/H2; reference ``lshrs/hash/lsh.py:93-94,96-134,171-211``).
  One ``np.random.default_rng(seed)`` draws each band's
  ``(rows_per_band, dim)`` standard-normal matrix in band order, kept
  as float32. A band's signature is ``projection @ vector``, then
  ``> 0``, then ``np.packbits(..., bitorder="little")`` as ``bytes``.
* :func:`coerce_vector` — the PostgreSQL cell decoder (SURVEY §1.2 and
  row S2; reference ``lshrs/io/postgres.py:186-208``). A ``bytes`` or
  ``memoryview`` cell is a raw float32 buffer, a string cell is a
  ``"{1,2,3}"``-style array literal, and the result is float32.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class HashSignatures:
    """One packed-bit ``bytes`` signature per band, in band order."""

    bands: tuple[bytes, ...]


class LSHHasher:
    def __init__(self, *, num_bands: int, rows_per_band: int, dim: int,
                 seed: int) -> None:
        self.dim = dim
        rng = np.random.default_rng(seed)
        self.projections = [
            rng.standard_normal((rows_per_band, dim)).astype(np.float32)
            for _ in range(num_bands)
        ]

    def hash_vector(self, vector) -> HashSignatures:
        vec = np.asarray(vector, dtype=np.float32).reshape(-1)
        if vec.shape[0] != self.dim:
            raise ValueError(
                f"expected dimension {self.dim}, got {vec.shape[0]}"
            )
        return HashSignatures(tuple(
            np.packbits((p @ vec) > 0, bitorder="little").tobytes()
            for p in self.projections
        ))


def coerce_vector(cell) -> np.ndarray:
    if isinstance(cell, (bytes, bytearray, memoryview)):
        return np.frombuffer(bytes(cell), dtype=np.float32)
    if isinstance(cell, str):
        body = cell.strip().strip("{}")
        if not body.strip():
            raise ValueError(f"empty vector cell: {cell!r}")
        return np.array([float(x) for x in body.split(",")], dtype=np.float32)
    return np.asarray(cell, dtype=np.float32)
