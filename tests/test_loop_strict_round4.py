"""Round-4 strict loop predicates: edge-crossing completion of the
reference's pinned TODO (loop.rs:413 contains_loop, :439 intersects —
both test vertices only, so two loops that cross WITHOUT containing
each other's vertices yield a wrong ``intersects == False``).

The engine keeps the vertex-only behavior as the parity default and
adds an opt-in ``strict=True`` that unions in proper boundary
crossings via the geometrically COMPLETE crossing rule
(kernels/predicates.crossing_sign_complete_batch — NOT the reference's
divergent two-product test, which misfires on ~12% of random
non-crossing arc pairs because it never ties the two sign families to
the same of the two antipodal great-circle intersection points).
"""

from __future__ import annotations

import duckdb
import numpy as np

from contract import oracle
from contract.engine_queries import (
    STRICT_A_LOOPS,
    STRICT_B_LOOPS,
    loop_intersections_strict_q,
)
from s2_geometry_rust_spark import fixtures
from s2_geometry_rust_spark.kernels import latlng as lk
from s2_geometry_rust_spark.kernels import predicates as pred
from s2_geometry_rust_spark.kernels.loops import S2Loop


def _verts(pts):
    lat = lk.degrees_to_radians(np.array([p[0] for p in pts], np.float64))
    lng = lk.degrees_to_radians(np.array([p[1] for p in pts], np.float64))
    x, y, z = lk.latlng_to_xyz(lat, lng)
    return np.stack([x, y, z], axis=-1)


# ---------------------------------------------------------------------------
# kernel: the complete crossing rule vs an explicit geometric construction
# ---------------------------------------------------------------------------


def _crosses_construction(a, b, c, d) -> np.ndarray:
    """Ground truth by explicit construction: the two great circles
    meet at +/-g where g = (a x b) x (c x d); the arcs properly cross
    iff ONE of the two intersection points is strictly interior to
    both minor arcs (random endpoints => arc angles < pi a.s.)."""
    nab = np.cross(a, b)
    ncd = np.cross(c, d)
    g = np.cross(nab, ncd)
    norm = np.linalg.norm(g, axis=-1, keepdims=True)
    g = g / np.where(norm == 0.0, 1.0, norm)

    def interior(p, u, v, n):
        return (np.einsum("ij,ij->i", np.cross(u, p), n) > 0) & (
            np.einsum("ij,ij->i", np.cross(p, v), n) > 0
        )

    hit = np.zeros(len(a), dtype=bool)
    for s in (1.0, -1.0):
        p = s * g
        hit |= interior(p, a, b, nab) & interior(p, c, d, ncd)
    return hit


def test_crossing_sign_complete_fuzz_vs_construction():
    rng = np.random.default_rng(404)
    n = 20_000
    pts = rng.normal(size=(4, n, 3))
    pts /= np.linalg.norm(pts, axis=-1, keepdims=True)
    a, b, c, d = pts
    got = pred.crossing_sign_complete_batch(a, b, c, d) == 1
    want = _crosses_construction(a, b, c, d)
    # exclude near-degenerate pairs where the construction itself is
    # ill-conditioned (intersection direction ~ 0: same great circle)
    ok = np.linalg.norm(
        np.cross(np.cross(a, b), np.cross(c, d)), axis=-1
    ) > 1e-9
    assert np.array_equal(got[ok], want[ok])
    # both classes are well represented in the fuzz corpus
    assert want[ok].sum() > 1000 and (~want[ok]).sum() > 1000


def test_reference_two_product_rule_diverges():
    """Document WHY strict mode cannot reuse the parity crossing_sign:
    the reference's two-product test (predicates.rs:666-682) reports
    crossings for a material share of non-crossing pairs."""
    rng = np.random.default_rng(405)
    n = 20_000
    pts = rng.normal(size=(4, n, 3))
    pts /= np.linalg.norm(pts, axis=-1, keepdims=True)
    a, b, c, d = pts
    quirk = pred.crossing_sign_batch(a, b, c, d) == 1
    want = _crosses_construction(a, b, c, d)
    ok = np.linalg.norm(
        np.cross(np.cross(a, b), np.cross(c, d)), axis=-1
    ) > 1e-9
    false_pos = (quirk & ~want)[ok].mean()
    assert false_pos > 0.05  # the quirk is real and material
    # and the quirk never MISSES a true crossing (it is a superset)
    assert not np.any((want & ~quirk)[ok])


# ---------------------------------------------------------------------------
# kernel: the crossed-band demo pair — vertex probe provably wrong
# ---------------------------------------------------------------------------


def test_cross_bands_vertex_probe_misses_crossing():
    ew = S2Loop.from_degrees(fixtures.LOOPS["cross_band_ew"])
    ns = S2Loop.from_degrees(fixtures.LOOPS["cross_band_ns"])
    # no vertex of either loop is (quirk-PIP) inside the other
    for la, lb in ((ew, ns), (ns, ew)):
        v = lb.vertices
        assert not np.any(
            la.contains_points_batch(v[:, 0], v[:, 1], v[:, 2])
        )
    # hence the reference-parity predicate is (wrongly) False ...
    assert not ew.intersects(ns) and not ns.intersects(ew)
    # ... while the strict completion detects the boundary crossing
    assert ew.intersects(ns, strict=True)
    assert ns.intersects(ew, strict=True)
    # crossing loops can never contain one another, either mode
    for la, lb in ((ew, ns), (ns, ew)):
        assert not la.contains_loop(lb)
        assert not la.contains_loop(lb, strict=True)


def test_strict_matches_default_when_no_crossing():
    """Strict mode must be a pure completion: on non-crossing fixture
    pairs it returns exactly the default verdicts."""
    names = ["near_hemi", "far_hemi", "antarctic_80", "candy_cane",
             "loop_a", "loop_b"]
    loops = {n: S2Loop.from_degrees(fixtures.LOOPS[n]) for n in names}
    for na in names:
        for nb in names:
            if na == nb:
                continue
            la, lb = loops[na], loops[nb]
            if la._has_proper_crossing(lb):
                continue
            assert la.intersects(lb) == la.intersects(lb, strict=True)
            assert la.contains_loop(lb) == la.contains_loop(
                lb, strict=True
            ), (na, nb)


# ---------------------------------------------------------------------------
# oracle margins: every strict-fixture edge-pair determinant decisive
# ---------------------------------------------------------------------------


def test_strict_fixture_margins():
    """The DuckDB oracle resolves signs with the plain triage
    determinant only; every sign the complete rule consults across the
    strict fixture edge grid must clear the triage threshold, and both
    vertex-probing directions keep the 2e-3 PIP margin."""
    def edges(name):
        v = _verts(fixtures.LOOPS[name])
        return v, np.roll(v, -1, axis=0)

    min_det = np.inf
    for a in STRICT_A_LOOPS:
        a0, a1 = edges(a)
        for b in STRICT_B_LOOPS:
            b0, b1 = edges(b)
            na, nb = len(a0), len(b0)
            A0, A1 = np.repeat(a0, nb, 0), np.repeat(a1, nb, 0)
            B0, B1 = np.tile(b0, (na, 1)), np.tile(b1, (na, 1))
            for x, y, z in ((A0, A1, B0), (A0, A1, B1),
                            (B0, B1, A0), (B0, B1, A1)):
                det = np.einsum("ij,ij->i", np.cross(x, y), z)
                min_det = min(min_det, np.abs(det).min())
    assert min_det > 100 * oracle.TRIAGE_THR, min_det

    def dir_margin(container, probes):
        vc = _verts(fixtures.LOOPS[container])
        vp = _verts(fixtures.LOOPS[probes])
        n = len(vc)
        m = np.inf
        for e in range(n):
            m = min(m, np.abs(vp @ np.cross(vc[e], vc[(e + 1) % n])).min())
        return m

    for a in STRICT_A_LOOPS:
        for b in STRICT_B_LOOPS:
            assert a != b
            assert dir_margin(a, b) > 2e-3, (a, b)
            assert dir_margin(b, a) > 2e-3, (b, a)


# ---------------------------------------------------------------------------
# join + contract query vs kernel and vs the DuckDB oracle
# ---------------------------------------------------------------------------


def test_strict_join_adds_exactly_the_crossing_pairs(spark):
    from s2_geometry_rust_spark.operators.spatial_join import (
        loop_intersection_join,
    )

    a_df = fixtures.loop_regions(spark, STRICT_A_LOOPS)
    b_df = fixtures.loop_regions(spark, STRICT_B_LOOPS)
    base = {
        (r["a_id"], r["b_id"])
        for r in loop_intersection_join(a_df, b_df).collect()
    }
    strict = {
        (r["a_id"], r["b_id"])
        for r in loop_intersection_join(a_df, b_df, strict=True).collect()
    }
    # kernel replay of both modes
    want_base, want_strict = set(), set()
    for a in STRICT_A_LOOPS:
        la = S2Loop.from_degrees(fixtures.LOOPS[a])
        for b in STRICT_B_LOOPS:
            lb = S2Loop.from_degrees(fixtures.LOOPS[b])
            if la.intersects(lb):
                want_base.add((a, b))
            if la.intersects(lb, strict=True):
                want_strict.add((a, b))
    assert base == want_base
    assert strict == want_strict
    # the completion strictly extends the vertex probe, and the demo
    # pair is among the added crossings
    assert base < strict
    assert ("cross_band_ew", "cross_band_ns") in strict - base


def test_strict_oracle_matches_spark(spark):
    got = {
        (r["a_id"], r["b_id"])
        for r in loop_intersections_strict_q(spark, "").collect()
    }
    sql = oracle.loop_intersections_strict_sql(
        STRICT_A_LOOPS, STRICT_B_LOOPS
    )
    df = duckdb.connect().execute(sql).fetchdf()
    want = set(zip(df["a_id"], df["b_id"]))
    assert got == want and len(want) > 0
