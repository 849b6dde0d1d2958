"""Parity tests for loops / caps / rects / unions / coverer kernels,
mirroring the reference's test expectations
(tests/test_s2loop_port.rs, tests/test_s2cell_union_port.rs,
src/region_coverer.rs inline tests, tests/test_s2latlng_port.rs)."""

import math

import numpy as np
import pytest

from s2_geometry_rust_spark.kernels import (
    caps, cellid as C, coverer, latlng as ll, loops, rects, unions,
    predicates as pred, chord)

U = np.uint64


def pt_deg(lat, lng):
    x, y, z = ll.latlng_to_xyz(float(ll.degrees_to_radians(lat)),
                               float(ll.degrees_to_radians(lng)))
    return float(x), float(y), float(z)


def from_begin_end_reference(begin: int, end_: int, max_iters: int = 100000) -> np.ndarray:
    """Greedy maximum_tile range tiling, faithful to cell_union.rs:171-190.

    WARNING: the reference's maximum_tile (cell_id.rs:673-685) never
    checks the *current* tile against ``end``, so this diverges on
    unaligned ranges exactly like the reference does (its tests only
    exercise empty and single-leaf ranges).  ``max_iters`` guards the
    runaway; use :func:`unions.from_begin_end` for engine work.
    """
    out = []
    cur = begin
    iters = 0
    while cur != end_ and iters < max_iters:
        tile = C.maximum_tile(cur, end_)
        out.append(tile)
        cur = int(C.next_id(U(tile)))
        iters += 1
    if cur != end_:
        raise ValueError("from_begin_end_reference diverged (unaligned range; "
                         "reference quirk) — use from_begin_end")
    return np.array(out, dtype=np.uint64)


@pytest.fixture(scope="module")
def fixture_loops():
    """The reference's S2LoopTestData catalog
    (tests/test_s2loop_port.rs:20-139)."""
    mk = loops.S2Loop.from_degrees
    return {
        "north_hemi": mk([(0, -180), (0, -90), (0, 0), (0, 90)]),
        "south_hemi": mk([(0, 90), (0, 0), (0, -90), (0, -180)]),
        "west_hemi": mk([(0, -180), (-90, 0), (0, 0), (90, 0)]),
        "east_hemi": mk([(90, 0), (0, 0), (-90, 0), (0, -180)]),
        "near_hemi": mk([(0, -90), (-90, 0), (0, 90), (90, 0)]),
        "candy_cane": mk([(-20, 150), (-20, -70), (0, 70),
                          (10, -150), (10, 70), (-10, -70)]),
        "arctic_80": mk([(80, -150), (80, -30), (80, 90)]),
        "antarctic_80": mk([(-80, 120), (-80, 0), (-80, -120)]),
        "loop_a": mk([(0, 178), (-1, 180), (0, -179), (1, -180)]),
        "loop_b": mk([(0, 179), (-1, 180), (0, -178), (1, -180)]),
    }


class TestLoopContainment:
    # test_s2loop_port.rs:308-331
    def test_hemisphere_poles(self, fixture_loops):
        npl, spl = (0., 0., 1.), (0., 0., -1.)
        assert fixture_loops["north_hemi"].contains_point(*npl)
        assert not fixture_loops["north_hemi"].contains_point(*spl)
        assert not fixture_loops["south_hemi"].contains_point(*npl)
        assert fixture_loops["south_hemi"].contains_point(*spl)

    def test_east_west(self, fixture_loops):
        e, w = (0., 1., 0.), (0., -1., 0.)
        assert fixture_loops["east_hemi"].contains_point(*e)
        assert not fixture_loops["east_hemi"].contains_point(*w)
        assert not fixture_loops["west_hemi"].contains_point(*e)
        assert fixture_loops["west_hemi"].contains_point(*w)

    def test_candy_cane(self, fixture_loops):
        assert fixture_loops["candy_cane"].contains_point(*pt_deg(5, 71))

    def test_arctic_antarctic(self, fixture_loops):
        assert fixture_loops["arctic_80"].contains_point(0., 0., 1.)
        assert fixture_loops["antarctic_80"].contains_point(0., 0., -1.)

    # test_s2loop_port.rs:348-350
    def test_contains_loop(self, fixture_loops):
        assert fixture_loops["north_hemi"].contains_loop(fixture_loops["arctic_80"])
        assert not fixture_loops["north_hemi"].contains_loop(fixture_loops["south_hemi"])
        assert not fixture_loops["arctic_80"].contains_loop(fixture_loops["north_hemi"])

    def test_empty_full(self):
        empty = loops.S2Loop.empty()
        full = loops.S2Loop.full()
        origin = (0., 0., 1.)
        assert not empty.contains_point(*origin)
        assert full.contains_point(*origin)
        assert empty.get_area() == 0.0
        assert full.get_area() == pytest.approx(4 * math.pi)


class TestLoopMetrics:
    def test_hemisphere_area(self, fixture_loops):
        # test_s2loop_port.rs:204-205
        assert fixture_loops["north_hemi"].get_area() == pytest.approx(
            2 * math.pi, abs=1e-10)

    def test_curvature_complement(self, fixture_loops):
        lp = fixture_loops["arctic_80"]
        assert lp.get_curvature() == pytest.approx(2 * math.pi - lp.get_area())

    def test_centroid_is_vertex_mean(self, fixture_loops):
        lp = fixture_loops["arctic_80"]
        c = np.asarray(lp.get_centroid())
        mean = lp.vertices.mean(axis=0)
        mean /= np.linalg.norm(mean)
        assert np.allclose(c, mean)

    def test_invert_flips_area(self, fixture_loops):
        lp = loops.S2Loop(fixture_loops["arctic_80"].vertices.copy())
        a1 = lp.get_area()
        lp.invert()
        # inverted small loop covers the rest of the sphere under the
        # signed-winding rule: probe containment flips
        assert lp.contains_point(0., 0., -1.)


class TestLoopValidation:
    def test_valid_triangle(self):
        lp = loops.S2Loop.from_degrees([(0, 0), (0, 1), (1, 0)])
        assert lp.valid

    def test_too_few_vertices(self):
        lp = loops.S2Loop(np.array([[1., 0., 0.], [0., 1., 0.]]))
        assert not lp.valid

    def test_duplicate_vertices(self):
        lp = loops.S2Loop(np.array([[1., 0., 0.], [0., 1., 0.], [1., 0., 0.],
                                    [0., 0., 1.]]))
        assert not lp.valid


class TestCellUnion:
    # mirrors tests in cell_union.rs:733-819
    def test_normalize_four_siblings(self):
        p = U(C.from_face(0))
        assert list(unions.normalize(C.children(p))) == [int(p)]

    def test_whole_sphere(self):
        sphere = unions.normalize(np.array(
            [C.from_face(f) for f in range(6)], dtype=np.uint64))
        assert len(sphere) == 6
        for f in range(6):
            assert unions.contains_cell_id(sphere, int(C.from_face(f)))
        assert unions.leaf_cells_covered(sphere) == 6 * 4 ** 30

    def test_parent_contains_children(self):
        p = U(C.from_face(0))
        u = unions.normalize(np.array([p]))
        for ch in C.children(p):
            assert unions.contains_cell_id(u, int(ch))
        assert not unions.contains_cell_id(u, int(C.from_face(1)))

    def test_union_intersection(self):
        u1 = unions.normalize(np.array([C.from_face(0)], dtype=np.uint64))
        children = unions.normalize(C.children(U(C.from_face(0)))[:3])
        inter = unions.intersection(u1, children)
        assert list(inter) == list(children)
        both = unions.union(u1, unions.normalize(np.array([C.from_face(1)], dtype=np.uint64)))
        assert len(both) == 2

    def test_difference_anti(self):
        u1 = unions.normalize(np.array([C.from_face(0), C.from_face(1)], dtype=np.uint64))
        u2 = unions.normalize(np.array([C.from_face(1)], dtype=np.uint64))
        d = unions.difference(u1, u2)
        assert list(d) == [int(C.from_face(0))]

    def test_difference_partial(self):
        parent = U(C.from_face(2))
        child0 = int(C.child(parent, 0))
        d = unions.difference(np.array([parent]), np.array([child0], dtype=np.uint64))
        # remaining three children
        assert len(d) == 3
        assert child0 not in [int(x) for x in d]

    def test_from_begin_end_reference_cases(self):
        # the reference's own cases (test_s2cell_union_port.rs:413-427):
        # empty range and a single leaf
        begin = C.begin(30)
        assert len(from_begin_end_reference(begin, begin)) == 0
        u = from_begin_end_reference(begin, int(C.next_id(U(begin))))
        assert len(u) > 0
        assert unions.is_normalized(u)
        # unaligned ranges diverge in the reference (maximum_tile never
        # checks the tile itself, cell_id.rs:673-685) — we surface that
        f2 = U(C.from_face(2))
        lo = int(C.range_min(f2))
        with pytest.raises(ValueError):
            from_begin_end_reference(lo, lo + 22, max_iters=100)

    def test_from_min_max_engine(self):
        f2 = U(C.from_face(2))
        lo = int(C.range_min(f2))
        hi = int(C.range_max(f2))
        u = unions.from_min_max(lo, hi)
        assert list(u) == [int(f2)]
        # a smaller, unaligned range
        u2 = unions.from_min_max(lo, lo + 2 * 1000)
        assert unions.leaf_cells_covered(u2) == 1001
        assert unions.is_normalized(u2)

    def test_contains_intersects_pointers(self):
        a = unions.normalize(np.array([C.from_face(0), C.from_face(3)], dtype=np.uint64))
        b = unions.normalize(C.children(U(C.from_face(3)))[:2])
        assert unions.contains_union(a, b)
        assert unions.intersects_union(a, b)
        c = unions.normalize(np.array([C.from_face(1)], dtype=np.uint64))
        assert not unions.contains_union(a, c)
        assert not unions.intersects_union(a, c)

    def test_expand_promotes_and_normalizes(self):
        leaf = int(C.from_point(np.array([1.0]), np.array([0.0]), np.array([0.0]))[0])
        out = unions.expand(np.array([leaf], dtype=np.uint64), 10)
        assert np.all(C.level(out) <= 10)
        assert unions.is_normalized(out)


class TestCoverer:
    # region_coverer.rs:832-924 inline tests
    def test_covering_cap_basic(self):
        cap = caps.S2Cap.from_center_degrees((1.0, 0.0, 0.0), 1.0)
        cov = coverer.S2RegionCoverer(coverer.CovererOptions(max_cells=6, max_level=10))
        covering = cov.get_covering(coverer.CapRegion(cap))
        assert 0 < len(covering) <= 6
        leaf = int(C.from_point(np.array([1.0]), np.array([0.0]), np.array([0.0]))[0])
        assert unions.contains_cell_id(covering, leaf)

    def test_fast_covering_is_the_standard_covering(self):
        # region_coverer.rs:489-504: get_fast_covering falls through to
        # get_covering in the reference — named alias, identical output
        cap = caps.S2Cap.from_center_degrees((1.0, 0.0, 0.0), 3.0)
        cov = coverer.S2RegionCoverer(
            coverer.CovererOptions(max_cells=8, max_level=12))
        assert np.array_equal(
            cov.get_fast_covering(coverer.CapRegion(cap)),
            cov.get_covering(coverer.CapRegion(cap)))

    def test_interior_covering_subset(self):
        cap = caps.S2Cap.from_center_degrees((1.0, 0.0, 0.0), 10.0)
        cov = coverer.S2RegionCoverer(coverer.CovererOptions(max_cells=20))
        ext = cov.get_covering(coverer.CapRegion(cap))
        interior = cov.get_interior_covering(coverer.CapRegion(cap))
        assert len(interior) <= len(ext)
        for cid in interior:
            assert unions.intersects_cell_id(ext, int(cid))

    def test_level_mod(self):
        cap = caps.S2Cap.from_center_degrees((1.0, 0.0, 0.0), 1.0)
        cov = coverer.S2RegionCoverer(coverer.CovererOptions(
            max_cells=8, max_level=6, level_mod=2))
        covering = cov.get_covering(coverer.CapRegion(cap))
        for cid in covering:
            assert int(C.level(cid)) % 2 == 0

    def test_covering_cell_union_region(self):
        cid = int(C.from_face_pos_level(0, 0, 1))
        cov = coverer.S2RegionCoverer()
        covering = cov.get_covering(coverer.CellUnionRegion(
            np.array([cid], dtype=np.uint64)))
        assert unions.contains_cell_id(covering, cid)

    def test_canonicalize_covering(self):
        cov = coverer.S2RegionCoverer(coverer.CovererOptions(max_cells=2))
        ids = np.array([C.from_face_pos_level(f, 0, 1) for f in range(3)],
                       dtype=np.uint64)
        assert not cov.is_canonical(ids)
        out = cov.canonicalize_covering(ids)
        assert len(out) <= 2
        assert cov.is_canonical(out)


class TestCap:
    def test_empty_full(self):
        e = caps.S2Cap.empty()
        f = caps.S2Cap.full()
        assert e.is_empty() and not e.is_full()
        assert f.is_full() and not f.is_empty()
        assert e.height() == -0.5
        assert f.height() == 2.0

    def test_contains_center(self):
        cap = caps.S2Cap.from_center_degrees((1.0, 0.0, 0.0), 5.0)
        assert cap.contains_point(1.0, 0.0, 0.0)
        far = pt_deg(0, 10)
        assert not cap.contains_point(*far)
        near = pt_deg(0, 4)
        assert cap.contains_point(*near)

    def test_complement(self):
        c = caps.S2Cap.from_center_height((0.7071067811865476, 0.0,
                                           0.7071067811865475), 1.0)
        comp = c.complement()
        assert comp.height() == pytest.approx(1.0)
        assert comp.cx == pytest.approx(-c.cx)

    def test_rect_bound_polar(self):
        cap = caps.S2Cap.from_center_degrees((0.0, 0.0, 1.0), 5.0)
        rect = cap.get_rect_bound()
        assert rect.lng.is_full()
        assert rect.lat.hi == pytest.approx(math.pi / 2)


class TestLatLng:
    # tests/test_s2latlng_port.rs expectations
    def test_exact_conversions(self):
        assert float(ll.degrees_to_radians(90.0)) == math.pi / 2
        assert float(ll.degrees_to_radians(180.0)) == math.pi
        assert float(ll.degrees_to_radians(45.0)) == math.pi / 4
        assert float(ll.degrees_to_radians(-90.0)) == -math.pi / 2

    def test_round_trip(self):
        rng = np.random.default_rng(42)
        lat = rng.uniform(-math.pi / 2, math.pi / 2, 1000)
        lng = rng.uniform(-math.pi, math.pi, 1000)
        x, y, z = ll.latlng_to_xyz(lat, lng)
        assert np.allclose(ll.xyz_to_lat(x, y, z), lat, atol=1e-12)
        assert np.allclose(ll.xyz_to_lng(x, y, z), lng, atol=1e-9)

    def test_normalized(self):
        lat, lng = ll.normalized(np.radians(120.0), np.radians(200.0))
        assert float(np.degrees(lat)) == pytest.approx(90.0, abs=1e-13)
        assert float(np.degrees(lng)) == pytest.approx(-160.0, abs=1e-13)

    def test_haversine_zero(self):
        d = ll.haversine_distance(math.pi / 2, 0.0, math.pi / 2, 0.0)
        assert float(d) == 0.0

    def test_haversine_seattle_vancouver(self):
        # test_distance expectation: between 1 and 3 degrees
        d = ll.haversine_distance(
            float(ll.degrees_to_radians(47.6062)), float(ll.degrees_to_radians(-122.3321)),
            float(ll.degrees_to_radians(49.2827)), float(ll.degrees_to_radians(-123.1207)))
        assert 1.0 < float(np.degrees(d)) < 3.0


class TestPredicates:
    # tests/test_s2predicates_comprehensive.rs style
    def test_sign_basic(self):
        a = np.array([1., 0., 0.])
        b = np.array([0., 1., 0.])
        c = np.array([0., 0., 1.])
        assert pred.sign_scalar(a, b, c) == 1
        assert pred.sign_scalar(a, c, b) == -1

    def test_sign_antisymmetry(self):
        rng = np.random.default_rng(42)
        v = rng.normal(size=(300, 3, 3))
        v /= np.linalg.norm(v, axis=2, keepdims=True)
        s1 = pred.sign_batch(v[:, 0], v[:, 1], v[:, 2])
        s2 = pred.sign_batch(v[:, 0], v[:, 2], v[:, 1])
        assert np.all(s1 == -s2)

    def test_sign_identical_points_zero(self):
        a = np.array([1., 0., 0.])
        assert pred.sign_scalar(a, a, a) == 0

    def test_crossing_sign_basic(self):
        # perpendicular great-circle arcs through a common region cross
        a = np.array([[1., 0., 0.]])
        b = np.array([[0., 1., 0.]])
        c = np.array([[0.5, 0.5, 0.5]])
        d = np.array([[0.5, 0.5, -0.5]])
        c = c / np.linalg.norm(c)
        d = d / np.linalg.norm(d)
        assert int(pred.crossing_sign_batch(a, b, c, d)[0]) == 1
        # far-apart arcs don't cross
        e = np.array([[0., 0., 1.]])
        f = np.array([[0.1, 0.1, 0.99]]) / np.linalg.norm([0.1, 0.1, 0.99])
        assert int(pred.crossing_sign_batch(a, b, e, f)[0]) == -1

    def test_exact_fallback_rate_low(self):
        rng = np.random.default_rng(7)
        v = rng.normal(size=(5000, 3, 3))
        v /= np.linalg.norm(v, axis=2, keepdims=True)
        before = pred.EXACT_FALLBACK_COUNT
        pred.sign_batch(v[:, 0], v[:, 1], v[:, 2])
        after = pred.EXACT_FALLBACK_COUNT
        assert (after - before) / 5000 < 0.01  # <1% tier target (lib.rs:20)

    def test_compare_distance(self):
        x = np.array([3., 4., 0.])
        assert pred.compare_distance_scalar(x, 5.0) == 0
        assert pred.compare_distance_scalar(x, 4.0) == 1
        assert pred.compare_distance_scalar(x, 6.0) == -1

    def test_ordered_ccw(self):
        o = np.array([0., 0., 1.])
        a = np.array([1., 0., 0.])
        b = np.array([0., 1., 0.])
        c = np.array([-1., 0., 0.])
        assert pred.ordered_ccw_scalar(a, b, c, o)


class TestChord:
    def test_constants(self):
        assert float(chord.from_radians(math.pi / 2)) == pytest.approx(2.0)
        assert float(chord.from_radians(math.pi)) == pytest.approx(4.0)

    def test_round_trip(self):
        r = np.linspace(0, math.pi, 100)
        assert np.allclose(chord.to_radians(chord.from_radians(r)), r, atol=1e-12)

    def test_add_sub(self):
        a = float(chord.from_radians(0.3))
        b = float(chord.from_radians(0.2))
        assert float(chord.to_radians(chord.add(a, b))) == pytest.approx(0.5, abs=1e-12)
        assert float(chord.to_radians(chord.sub(a, b))) == pytest.approx(0.1, abs=1e-9)


class TestRect:
    def test_contains_wraparound(self):
        r = rects.S2LatLngRect.from_degrees(-10, 170, 10, -170)
        assert r.lng.is_inverted()
        assert r.contains_latlng(0.0, math.pi)  # 180 deg inside
        assert not r.contains_latlng(0.0, 0.0)
        got = r.contains_latlng_batch(np.array([0.0, 0.0]),
                                      np.array([math.pi, 0.0]))
        assert list(got) == [True, False]

    def test_union_intersection(self):
        a = rects.S2LatLngRect.from_degrees(0, 0, 10, 10)
        b = rects.S2LatLngRect.from_degrees(5, 5, 15, 15)
        u = a.union(b)
        i = a.intersection(b)
        assert u.contains_latlng(*[float(ll.degrees_to_radians(d)) for d in (12, 12)])
        assert i.contains_latlng(*[float(ll.degrees_to_radians(d)) for d in (7, 7)])
        assert not i.contains_latlng(*[float(ll.degrees_to_radians(d)) for d in (2, 2)])

    def test_area(self):
        full = rects.S2LatLngRect.full()
        assert full.area() == pytest.approx(4 * math.pi)
