"""Predicates parity mirrored from
/root/reference/tests/test_s2predicates_comprehensive.rs (the goldens
its source can satisfy)."""

import numpy as np

from s2_geometry_rust_spark.kernels import predicates as pred


def _n(x, y, z):
    v = np.array([x, y, z], np.float64)
    return v / np.linalg.norm(v)


def test_sign_basic_orientations():
    a, b, c = _n(1, 0, 0), _n(0, 1, 0), _n(0, 0, 1)
    assert pred.sign_scalar(a, b, c) == 1
    assert pred.sign_scalar(a, c, b) == -1


def test_compare_edge_directions_parallel_quirk():
    # predicates.rs:427-431: nearly-parallel edges -> 0 regardless of
    # same/opposite direction (pinned quirk)
    a0 = np.zeros(3)
    a1 = np.array([1.0, 0.0, 0.0])
    b0 = np.array([0.0, 1.0, 0.0])
    b1 = np.array([1.0, 1.0, 0.0])
    assert pred.compare_edge_directions_scalar(a0, a1, b0, b1) == 0
    # opposite direction also 0
    assert pred.compare_edge_directions_scalar(a0, a1, b1, b0) == 0
    # clearly different directions -> in {-1, 0, 1}
    c1 = np.array([0.0, 10.0, 0.0])
    assert pred.compare_edge_directions_scalar(a0, a1, a0, c1) in (-1, 0, 1)


def test_ordered_ccw_goldens():
    origin = _n(0, 0, 1)
    a, b, c = _n(1, 0, 0), _n(0, 1, 0), _n(-1, 0, 0)
    assert pred.ordered_ccw_scalar(a, b, c, origin)
    assert not pred.ordered_ccw_scalar(c, b, a, origin)


def test_crossing_sign_goldens():
    a, b = _n(1, 0, 0), _n(-1, 0, 0)
    c, d = _n(0, 1, 0), _n(0, -1, 0)
    assert int(pred.crossing_sign_batch(a[None], b[None], c[None], d[None])[0]) in (1, -1)
    e, f = _n(0.9, 0.9, 0), _n(0.8, 0.8, 0)
    assert int(pred.crossing_sign_batch(a[None], b[None], e[None], f[None])[0]) == -1


def test_compare_edge_distance_golden():
    # point at the pole vs the equatorial x-axis edge, r=0.5 -> farther
    x = np.array([0.0, 0.0, 1.0])
    a0 = np.array([-1.0, 0.0, 0.0])
    a1 = np.array([1.0, 0.0, 0.0])
    assert pred.compare_edge_distance_scalar(x, a0, a1, 0.5) == 1


def test_compare_edge_pair_distance_golden():
    a0, a1 = np.zeros(3), np.array([1.0, 0.0, 0.0])
    b0, b1 = np.array([0.0, 2.0, 0.0]), np.array([1.0, 2.0, 0.0])
    assert pred.compare_edge_pair_distance_scalar(a0, a1, b0, b1, 1.0) == 1
    assert pred.compare_edge_pair_distance_scalar(a0, a1, b0, b1, 3.0) == -1


def test_numerical_stability_determinism():
    base = _n(1, 0, 0)
    eps = float(np.finfo(np.float64).eps)
    b = _n(1.0, eps, 0.0)
    c = _n(1.0, 0.0, eps)
    r1 = pred.sign_scalar(base, b, c)
    r2 = pred.sign_scalar(base, b, c)
    assert r1 == r2


def test_anti_symmetry_random():
    rng = np.random.default_rng(5)
    v = rng.normal(size=(60, 3))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    for i in range(0, 60, 3):
        a, b, c = v[i], v[i + 1], v[i + 2]
        assert pred.sign_scalar(a, b, c) == -pred.sign_scalar(a, c, b)


def _loop_pip_cases():
    """(loop, points): every fixture loop with its vertices, its edge
    midpoints (both on an edge's great circle, so they take the exact
    tier) and seeded random points."""
    from s2_geometry_rust_spark.fixtures import LOOPS
    from s2_geometry_rust_spark.kernels.loops import S2Loop

    rng = np.random.default_rng(11)
    for name, latlngs in LOOPS.items():
        loop = S2Loop.from_degrees(latlngs)
        v = loop.vertices
        mid = v + np.roll(v, -1, axis=0)
        mid = mid / np.linalg.norm(mid, axis=1, keepdims=True)
        rnd = rng.normal(size=(40, 3))
        rnd /= np.linalg.norm(rnd, axis=1, keepdims=True)
        yield loop, np.concatenate([v, mid, rnd])


def test_loop_pip_is_the_robust_sign_sum_per_point_and_edge():
    """Loop PIP runs on ``sign_batch``: its mask is the per-(point,
    edge) sign sum, each sign from ``exact_sign_scalar``, and the
    triage/exact counters grow by the pair count and the exact-tier
    count."""
    n_exact_total = 0
    for loop, p in _loop_pip_cases():
        v = loop.vertices
        vn = np.roll(v, -1, axis=0)
        want = np.array([
            sum(pred.exact_sign_scalar(q, v[e], vn[e]) for e in range(len(v)))
            > 0 for q in p])
        n_exact = sum(
            abs(pred.triage_det(*q, *v[e], *vn[e]))
            <= pred.TRIAGE_ERROR_THRESHOLD
            for q in p for e in range(len(v)))
        t0, e0 = pred.TRIAGE_TOTAL_COUNT, pred.EXACT_FALLBACK_COUNT
        got = loop.contains_points_batch(p[:, 0], p[:, 1], p[:, 2])
        assert np.array_equal(got, want)
        assert pred.TRIAGE_TOTAL_COUNT - t0 == len(p) * len(v)
        assert pred.EXACT_FALLBACK_COUNT - e0 == n_exact
        n_exact_total += n_exact
    assert n_exact_total > 0


def test_sign_batch_broadcast_equals_materialized_inputs():
    for loop, p in _loop_pip_cases():
        v = loop.vertices
        a, b, c = p[:, None, :], v[None, :, :], np.roll(v, -1, axis=0)[None]
        shape = (len(p), len(v), 3)
        want = pred.sign_batch(*(np.broadcast_to(x, shape).copy()
                                 for x in (a, b, c)))
        assert np.array_equal(pred.sign_batch(a, b, c), want)
