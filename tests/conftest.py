from __future__ import annotations

import numpy as np
import pytest

from lshrs_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("lshrs_spark_tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(12345)


@pytest.fixture()
def small_vectors(rng):
    """(ids, vectors) — 30 seeded Gaussian vectors, dim=32."""
    vecs = rng.standard_normal((30, 32)).astype(np.float32)
    return list(range(30)), vecs


def load_reference_hasher():
    """The reference's SRP hasher, as transcribed test-only in
    ``tests/reference_transcription.py`` (independent of lshrs_spark)."""
    from tests import reference_transcription

    return reference_transcription
