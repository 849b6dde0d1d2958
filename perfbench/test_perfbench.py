"""Tests of the benchmark's own helpers and a tiny run of each workload.

    python3 -m pytest perfbench -q

The helper tests are Spark-free; the rest share one local Spark session
whose temp, spill and warehouse directories live under pytest's tmp dir.
"""

from __future__ import annotations

import os
import statistics
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import harness  # noqa: E402

# -- Spark-free helpers -----------------------------------------------------


def _keys(n=1000, seed=0):
    rng = np.random.default_rng(seed)
    return (rng.integers(-2**63, 2**63 - 1, n, dtype=np.int64),
            rng.integers(0, 8, n, dtype=np.int64))


def test_digest_ignores_row_order():
    a, b = _keys()
    perm = np.random.default_rng(1).permutation(len(a))
    assert harness.digest_of(a, b) == harness.digest_of(a[perm], b[perm])


def test_digest_sees_dropped_added_and_duplicated_rows():
    a, b = _keys()
    base = harness.digest_of(a, b)
    assert harness.digest_of(a[1:], b[1:]) != base
    assert harness.digest_of(np.append(a, 7), np.append(b, 7)) != base
    # a duplicated row cancels out of the xor but not out of the sum
    dup = harness.digest_of(np.append(a, a[0]), np.append(b, b[0]))
    assert dup[0] == base[0] + 1 and dup[2] != base[2]


def test_digest_sees_which_column_holds_a_value():
    a, b = _keys()
    assert harness.digest_of(a, b) != harness.digest_of(b, a)


def test_digest_of_nothing():
    empty = np.array([], np.int64)
    assert harness.digest_of(empty, empty) == (0, 0, 0)


def test_quartiles_match_statistics_module():
    values = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 5.8, 9.7]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert harness.quartiles(values) == (q1, q2, q3)
    assert harness.median(values) == statistics.median(values)
    assert harness.spread(values) == pytest.approx((q3 - q1) / q2)


def test_quartiles_of_one_value():
    assert harness.quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert harness.spread([2.5]) == 0.0


def test_skew_ratio_is_max_over_median_of_nonempty_partitions():
    assert harness.skew_ratio([10, 10, 30]) == 3.0
    assert harness.skew_ratio([0, 0, 5, 5]) == 1.0
    assert harness.skew_ratio([4, 1, 2, 3]) == 4 / 2.5
    assert harness.skew_ratio([]) == 0.0


def test_breakdown_adds_up_and_reports_remainder():
    bd = harness.breakdown(10.0, {"a": 3.0, "b": 4.5})
    assert bd["layer_sum_s"] == 7.5
    assert bd["remainder_s"] == 2.5
    assert bd["negative"] == []


def test_breakdown_reports_negative_layers_and_remainder():
    bd = harness.breakdown(5.0, {"a": 6.0, "b": -0.5, "c": 0.1})
    assert bd["layers"]["b"] == -0.5        # not clamped
    assert bd["remainder_s"] == pytest.approx(-0.6)
    assert bd["negative"] == ["b", "remainder"]


def test_steal_share_and_tree_cpu():
    before = harness.load_sample()
    busy = np.random.default_rng(0).random(2_000_000)
    cpu0 = harness.tree_cpu_s()
    for _ in range(5):
        np.sort(busy)
    assert harness.tree_cpu_s() >= cpu0
    share = harness.steal_share(before, harness.load_sample())
    assert 0.0 <= share <= 1.0


# -- with Spark -------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    harness.isolate(str(tmp_path_factory.mktemp("iso")))
    import run

    session = run.start_session(min(harness.nproc(), 2))
    yield session
    run.stop_jvm()


def test_digest_matches_spark_xxhash64(spark):
    from pyspark.sql import functions as F

    a, b = _keys(200, seed=3)
    a[:3] = [-2**63, 2**63 - 1, 0]
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(a, b)], "a long, b long")
    got = [r[0] for r in df.select(F.xxhash64("a", "b")).collect()]
    assert np.array_equal(np.array(got, np.int64),
                          harness.xxhash64_longs(a, b).view(np.int64))
    assert harness.spark_digest(df, F.col("a"), F.col("b")) == harness.digest_of(a, b)


@pytest.mark.parametrize("name,scale", [("pip_docs", 0.02), ("pip_regions", 0.05)])
def test_tiny_workload_matches_its_answer(spark, tmp_path, name, scale):
    import run
    import workloads

    wl = workloads.WORKLOADS[name](scale=scale)
    wl.build(spark, str(tmp_path / "inputs"), seed=5)
    runner = run.Runner(str(tmp_path))
    runner.rep(wl, spark, "cold")
    src = workloads.source_layers(spark, wl.docs_path)
    assert src["rows"] == wl.rows
    for other in [wl, *wl.also_traced]:
        t_full, metrics, bd = run.traced(spark, runner, other, src, warm_up=False)
        assert t_full > 0
        assert bd["remainder_s"] == pytest.approx(t_full - bd["layer_sum_s"])
        assert all(isinstance(v, (int, float)) for v in metrics.values())
    assert runner.failed == 0
    assert runner.attempted == 2 + len(wl.also_traced)


def test_a_wrong_answer_is_counted_as_failed(spark, tmp_path):
    import run
    import workloads

    wl = workloads.PipDocs(scale=0.01)
    wl.build(spark, str(tmp_path / "inputs"), seed=6)
    n, x, s = wl.expected
    wl.expected = (n + 1, x, s)
    runner = run.Runner(str(tmp_path))
    runner.rep(wl, spark, "cold")
    assert (runner.attempted, runner.failed) == (1, 1)
