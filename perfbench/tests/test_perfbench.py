"""Tests of the benchmark's own code: the seeded generator, percentile
arithmetic, recall arithmetic, span self times, and the metric names
BENCHMARK.json declares. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH]

import gen  # noqa: E402
import stats  # noqa: E402
from tracing import Tracer  # noqa: E402

with open(os.path.join(BENCH, "spec.json")) as f:
    SPEC = json.load(f)


def _small_spec() -> dict:
    spec = json.loads(json.dumps(SPEC))
    spec["corpus_vectors"] = 600
    spec["corpus_files"] = 3
    spec["workloads"]["online_serve"]["sizes"]["batch_queries"] = 40
    ing = spec["workloads"]["ingest_serve"]["sizes"]
    ing.update(append_vectors=50, delete_ids=10, query_pool_per_cycle=5, cycles=3,
               batch_queries=4)
    return spec


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            path = os.path.join(d, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(SPEC["workloads"]))
def test_generator_same_seed_same_bytes(tmp_path, workload):
    spec = _small_spec()
    gen.generate(7, spec, workload, str(tmp_path / "a"))
    gen.generate(7, spec, workload, str(tmp_path / "b"))
    gen.generate(8, spec, workload, str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a.keys() == c.keys() and a != c


def test_ingest_deletes_only_live_ids_and_queries_live_points(tmp_path):
    spec = _small_spec()
    out = gen.generate(3, spec, "ingest_serve", str(tmp_path))
    n = spec["corpus_vectors"]
    per = spec["workloads"]["ingest_serve"]["sizes"]["append_vectors"]
    dead = set()
    for c, ids in enumerate(out["deletes"]):
        live_max = n + (c + 1) * per
        assert all(0 <= i < live_max and i not in dead for i in ids)
        dead.update(int(i) for i in ids)
    assert out["cycle_queries"].shape == (3, 5, spec["dim"])


def test_percentile_is_nearest_rank_with_tail_count():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 90) == 90
    assert stats.beyond(100, 90) == 10
    assert stats.percentile(xs, 50) == 50
    assert stats.beyond(200, 95) == 10
    assert stats.beyond(99, 90) == 9


def test_query_counts_leave_ten_samples_beyond_the_tail():
    pytest.importorskip("pyspark")
    sys.path.insert(0, ROOT)
    from workloads import round_queries

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    p = SPEC["tail_percentile"]
    assert stats.beyond(SPEC["workloads"]["online_serve"]["min_queries"], p) >= 10
    ingest = SPEC["workloads"]["ingest_serve"]
    n = round_queries(ingest, seconds) * ingest["sizes"]["cycles"]
    assert stats.beyond(n, p) >= 10


def test_windowed_rate_is_robust_to_one_stall():
    lat = [0.1] * 100
    assert stats.windowed_rate(lat) == pytest.approx(10.0)
    lat[5] = 5.0  # one stalled call moves one window of ten
    assert stats.windowed_rate(lat) == pytest.approx(10.0)
    assert stats.windowed_rate([0.1, 0.3], windows=2) == pytest.approx((10 + 10 / 3) / 2)
    with pytest.raises(ValueError):
        stats.windowed_rate([0.1] * 9)


def test_recall_arithmetic():
    truth = [[1, 2, 3, 4, 5, 6, 7, 8, 9, 10], [11, 12, 13, 14, 15, 16, 17, 18, 19, 20]]
    assert stats.recall_at_k(truth, truth) == 1.0
    got = [[1, 2, 3, 4, 5, 99, 98, 97, 96, 95], []]
    assert stats.recall_at_k(got, truth) == pytest.approx(5 / 20)
    # only the first k returned ids count
    assert stats.recall_at_k([list(range(1, 12))], [list(range(2, 12))], 10) == 0.9
    with pytest.raises(ValueError):
        stats.recall_at_k([[1]], truth)


def test_exact_top_k_orders_by_score_then_id():
    data = np.array([[1, 0], [0, 1], [1, 0], [1, 1]], dtype=np.float32)
    ids = np.array([10, 11, 12, 13])
    out = gen.exact_top_k(data, ids, np.array([[1, 0]], dtype=np.float32), k=3)
    assert out.tolist() == [[10, 12, 13]]


def test_spread_matches_statistics_quantiles():
    vals = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, med, q3 = np.percentile(vals, [25, 50, 75], method="weibull")
    assert stats.spread(vals) == pytest.approx((q3 - q1) / med)


def test_self_times_sum_to_the_root_wall():
    tr = Tracer(True)
    with tr.span("bench.run"):
        with tr.span("store.append"):
            with tr.span("hashing.spark"):
                pass
        with tr.span("serving.query"):
            pass
    root = tr.named("bench.run")[0]
    total = sum(tr.self_times().values())
    assert total == pytest.approx(root["end"] - root["start"])
    assert set(tr.layer_self_s()) == {"bench", "store", "hashing", "serving"}
    assert tr.named("hashing.spark")[0]["parent"] == tr.named("store.append")[0]["id"]


def test_untraced_records_nothing():
    tr = Tracer(False)
    with tr.span("store.append"):
        pass
    assert tr.spans == []


def test_benchmark_json_matches_the_metric_tables():
    pytest.importorskip("pyspark")
    sys.path.insert(0, ROOT)
    from workloads import END_TO_END, PER_LAYER

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(SPEC["workloads"])
