"""Fixture-margin guards for the round-3 SQL-oracled contract queries
(polyline_stats, chain_crossings, union_areas).

These oracles rely on (a) exactly-rounded f64 arithmetic for every sign
decision and (b) nano/atto rounding absorbing the ~1-ulp trig drift
between numpy and DuckDB libm.  The guards pin the fixture invariants
that make that sound; if someone edits the fixture sets, they fail here
before the driver's correctness gate does.
"""

from __future__ import annotations

import numpy as np

from contract.engine_queries import (
    CHAIN_LINES,
    CHAIN_LOOPS,
    PSTAT_LINES,
)
from s2_geometry_rust_spark.kernels import latlng as lk
from s2_geometry_rust_spark.kernels import polylines as pk


def _verts(pts):
    lat = lk.degrees_to_radians(np.array([p[0] for p in pts], np.float64))
    lng = lk.degrees_to_radians(np.array([p[1] for p in pts], np.float64))
    x, y, z = lk.latlng_to_xyz(lat, lng)
    return np.stack([x, y, z], axis=-1)


def _nano_margin(value: float, scale: float = 1e9) -> float:
    """Distance of value*scale from the nearest half-integer rounding
    boundary (the round() decision point)."""
    frac = (value * scale) % 1.0
    return abs(frac - 0.5)


# ---------------------------------------------------------------------------
# polyline_stats
# ---------------------------------------------------------------------------


def test_polyline_stats_fixture_margins():
    for name, pts in PSTAT_LINES.items():
        v = _verts(pts)
        edges = pk.angles(v)
        # numpy's pairwise sum is plain sequential below 8 terms, which
        # the oracle's ordered window sum reproduces exactly
        assert len(edges) <= 8, name
        assert np.all(edges > 1e-6), name  # no zero/degenerate edges
        total = float(edges.sum())
        target = 0.5 * total
        # the interpolate(0.5) edge-walk decision (acc+edge >= target)
        # must be robust to ~1-ulp cumulative drift
        cum = np.cumsum(edges)
        assert np.min(np.abs(cum - target)) > 1e-6, name
        # slerp never enters its ang < 1e-15 linear branch
        i = int(np.searchsorted(cum, target))
        dot = float(np.clip(np.dot(v[i], v[i + 1]), -1.0, 1.0))
        assert np.arccos(dot) > 1e-6, name
        # nano-rounding margins of every emitted statistic
        mid = pk.interpolate(v, 0.5)
        for val in (total, float(mid[0]), float(mid[1]), float(mid[2])):
            assert _nano_margin(val) > 1e-3, (name, val)


def test_polyline_stats_query_oracle_parity(spark, sf_dir):
    import duckdb

    from contract import oracle
    from contract.engine_queries import polyline_stats_q

    got = (
        polyline_stats_q(spark, sf_dir)
        .toPandas()
        .sort_values("line_id")
        .reset_index(drop=True)
    )
    exp = (
        duckdb.connect()
        .execute(oracle.polyline_stats_sql())
        .df()
        .sort_values("line_id")
        .reset_index(drop=True)
    )
    for c in ("n_vertices", "length_nano", "mid_x_nano", "mid_y_nano",
              "mid_z_nano"):
        assert list(got[c]) == list(exp[c]), c


# ---------------------------------------------------------------------------
# chain_crossings
# ---------------------------------------------------------------------------


def _chain_pairs():
    """(shape edge AB) x (chain edge CD) tuples across all fixtures."""
    sorted_lines = sorted(CHAIN_LINES)
    for _, pts in sorted(CHAIN_LOOPS.items()):
        sv = _verts(pts)
        n = len(sv)
        for e in range(n):
            a, b = sv[e], sv[(e + 1) % n]
            for ln in sorted_lines:
                cv = _verts(CHAIN_LINES[ln])
                for i in range(len(cv) - 1):
                    yield a, b, cv[i], cv[i + 1]


def test_chain_crossings_fixture_margins():
    """Every sign decision of the chain crosser is SQL-expressible:
    shared vertices are exactly shared (distance 0) or far (> 1e-6),
    and for non-shared pairs every straddle product is far from 0."""
    n_shared = 0
    for a, b, c, d in _chain_pairs():
        dists = [np.linalg.norm(p - q) for p in (c, d) for q in (a, b)]
        for dist in dists:
            assert dist == 0.0 or dist > 1e-6
        if min(dists) == 0.0:
            n_shared += 1
            continue
        ab = np.cross(a, b)
        cd = np.cross(c, d)
        acb, adb = float(c @ ab), float(d @ ab)
        cda, cdb = float(cd @ a), float(cd @ b)
        # sign decisions are on the products; 1e-9 >> the ~1e-16
        # rounding scale of these O(1)-magnitude dots
        assert abs(acb * adb) > 1e-9
        assert abs(cda * cdb) > 1e-9
    assert n_shared > 0  # the 0-sign branch is actually exercised


def test_chain_crossings_all_pairs_are_candidates(spark, sf_dir):
    """The all-pairs SQL oracle is only equivalent to the operator's
    index-candidate path if EVERY (line, shape) pair is admitted at
    index_level=0 — i.e. the operator emits exactly |lines| x |shapes|
    rows.  (All lines touch face 0 and every loop has a face-0 edge
    v0.)"""
    from contract.engine_queries import chain_crossings_q

    rows = chain_crossings_q(spark, sf_dir).collect()
    assert len(rows) == len(CHAIN_LINES) * len(CHAIN_LOOPS)
    # the fixture exercises all three outcomes
    assert any(r["n_crossing_edges"] > 0 for r in rows)
    assert any(r["n_vertex_touches"] > 0 for r in rows)
    assert any(
        r["n_crossing_edges"] == 0 and r["n_vertex_touches"] == 0
        for r in rows
    )


def test_chain_crossings_operator_matches_kernel(spark, sf_dir):
    """Ground truth: the operator's per-pair counts equal a direct
    all-pairs evaluation of kernels.edge_crosser.crossing_signs_chain."""
    from contract.engine_queries import chain_crossings_q
    from s2_geometry_rust_spark.kernels import edge_crosser as ec

    got = {
        (r["line_id"], r["shape_id"]):
            (r["n_crossing_edges"], r["n_vertex_touches"])
        for r in chain_crossings_q(spark, sf_dir).collect()
    }
    sorted_lines = sorted(CHAIN_LINES)
    for sid, (_, pts) in enumerate(sorted(CHAIN_LOOPS.items())):
        sv = _verts(pts)
        n = len(sv)
        for lid, ln in enumerate(sorted_lines):
            chain = _verts(CHAIN_LINES[ln])
            n_cross = n_touch = 0
            for e in range(n):
                signs = ec.crossing_signs_chain(sv[e], sv[(e + 1) % n], chain)
                n_cross += int(np.any(signs > 0))
                n_touch += int(np.any(signs == 0))
            assert got[(lid, sid)] == (n_cross, n_touch), (lid, sid)


# ---------------------------------------------------------------------------
# union_areas
# ---------------------------------------------------------------------------


def test_union_areas_atto_margins(spark, sf_dir):
    """The only trig column (exact_area) must sit > 1e-3 atto-units from
    every rounding boundary; the trig-free columns are bit-exact by
    construction (power-of-two scalings only) so any margin suffices."""
    from contract.engine_queries import union_areas_q
    from s2_geometry_rust_spark.operators.geom_aggs import union_bounds
    from contract.engine_queries import _mixed_level_unions

    stats = union_bounds(_mixed_level_unions(spark, sf_dir)).collect()
    assert len(stats) == 10
    for r in stats:
        assert _nano_margin(r["exact_area"], 1e18) > 1e-3, r["union_id"]
        # all member cells are level >= 10: the pinned-UV closed forms
        # (and the level>0 branch) apply
        assert r["approx_area"] > 0.0


# ---------------------------------------------------------------------------
# region_contains_loop
# ---------------------------------------------------------------------------


def test_region_contains_loop_fixture_margins():
    """Every (A-loop edge great-circle, B vertex) determinant and every
    (cap boundary, B vertex) chord test must sit far from zero so the
    oracle's triage-only signs decide identically to the engine's
    tiered-exact kernels; same-name pairs are excluded by the query."""
    from s2_geometry_rust_spark import fixtures
    from contract.engine_queries import (
        CONTAIN_A_LOOPS,
        CONTAIN_B_LOOPS,
    )
    from s2_geometry_rust_spark.kernels.caps import S2Cap

    for a in CONTAIN_A_LOOPS:
        va = _verts(fixtures.LOOPS[a])
        n = len(va)
        for b in CONTAIN_B_LOOPS:
            if a == b:
                continue
            vb = _verts(fixtures.LOOPS[b])
            for e in range(n):
                dets = vb @ np.cross(va[e], va[(e + 1) % n])
                assert np.abs(dets).min() > 1e-2, (a, b, e)
    for cname, (clat, clng, rdeg) in fixtures.CAPS.items():
        lat_r = float(lk.degrees_to_radians(clat))
        lng_r = float(lk.degrees_to_radians(clng))
        x, y, z = lk.latlng_to_xyz(np.float64(lat_r), np.float64(lng_r))
        cap = S2Cap.from_center_degrees((float(x), float(y), float(z)), rdeg)
        c = np.array([cap.cx, cap.cy, cap.cz])
        for b in CONTAIN_B_LOOPS:
            vb = _verts(fixtures.LOOPS[b])
            d2 = ((vb - c) ** 2).sum(axis=1)
            assert np.abs(d2 - cap.radius_l2).min() > 1e-2, (cname, b)


def test_region_containment_join_matches_kernel(spark, monkeypatch):
    """Join output == scalar kernel ground truth (contains_loop for
    loops, all-vertices chord test for caps) over the fixture sets, on
    the literal join path and on the distributed covering path."""
    from s2_geometry_rust_spark import fixtures
    from contract.engine_queries import (
        CONTAIN_A_LOOPS,
        CONTAIN_B_LOOPS,
    )
    from s2_geometry_rust_spark.kernels.caps import S2Cap
    from s2_geometry_rust_spark.kernels.loops import S2Loop
    from s2_geometry_rust_spark.operators import spatial_join as sj

    a_df = fixtures.loop_regions(spark, CONTAIN_A_LOOPS).unionByName(
        fixtures.cap_regions(spark)
    )
    b_df = fixtures.loop_regions(spark, CONTAIN_B_LOOPS)

    def pairs():
        return {
            (r["a_id"], r["b_id"])
            for r in sj.region_containment_join(a_df, b_df).collect()
            if r["a_id"] != r["b_id"]
        }

    got = pairs()

    want = set()
    b_loops = {b: S2Loop.from_degrees(fixtures.LOOPS[b])
               for b in CONTAIN_B_LOOPS}
    for a in CONTAIN_A_LOOPS:
        la = S2Loop.from_degrees(fixtures.LOOPS[a])
        for b, lb in b_loops.items():
            if a != b and la.contains_loop(lb):
                want.add((a, b))
    for cname, (clat, clng, rdeg) in fixtures.CAPS.items():
        lat_r = float(lk.degrees_to_radians(clat))
        lng_r = float(lk.degrees_to_radians(clng))
        x, y, z = lk.latlng_to_xyz(np.float64(lat_r), np.float64(lng_r))
        cap = S2Cap.from_center_degrees((float(x), float(y), float(z)), rdeg)
        for b, lb in b_loops.items():
            v = lb.vertices
            if bool(np.all(cap.contains_points_batch(
                    v[:, 0], v[:, 1], v[:, 2]))):
                want.add((cname, b))
    assert got == want and len(want) > 0
    # more region rows than the threshold take the distributed path
    monkeypatch.setattr(sj, "DISTRIBUTED_REGION_THRESHOLD", 1)
    assert pairs() == want


def test_loop_intersections_fixture_margins():
    """Both probing directions must be margin-safe (A verts vs B edge
    circles AND B verts vs A edge circles)."""
    from s2_geometry_rust_spark import fixtures
    from contract.engine_queries import (
        INTERSECT_A_LOOPS,
        INTERSECT_B_LOOPS,
    )

    def dir_margin(container, probes):
        vc = _verts(fixtures.LOOPS[container])
        vp = _verts(fixtures.LOOPS[probes])
        n = len(vc)
        m = np.inf
        for e in range(n):
            m = min(m, np.abs(vp @ np.cross(vc[e], vc[(e + 1) % n])).min())
        return m

    for a in INTERSECT_A_LOOPS:
        for b in INTERSECT_B_LOOPS:
            assert a != b
            assert dir_margin(a, b) > 2e-3, (a, b)
            assert dir_margin(b, a) > 2e-3, (b, a)


def test_loop_intersection_join_matches_kernel(spark):
    from s2_geometry_rust_spark import fixtures
    from contract.engine_queries import (
        INTERSECT_A_LOOPS,
        INTERSECT_B_LOOPS,
    )
    from s2_geometry_rust_spark.kernels.loops import S2Loop
    from s2_geometry_rust_spark.operators.spatial_join import (
        loop_intersection_join,
    )

    a_df = fixtures.loop_regions(spark, INTERSECT_A_LOOPS)
    b_df = fixtures.loop_regions(spark, INTERSECT_B_LOOPS)
    got = {
        (r["a_id"], r["b_id"])
        for r in loop_intersection_join(a_df, b_df).collect()
    }
    want = set()
    for a in INTERSECT_A_LOOPS:
        la = S2Loop.from_degrees(fixtures.LOOPS[a])
        for b in INTERSECT_B_LOOPS:
            lb = S2Loop.from_degrees(fixtures.LOOPS[b])
            if la.intersects(lb):
                want.add((a, b))
    assert got == want and len(want) > 0
