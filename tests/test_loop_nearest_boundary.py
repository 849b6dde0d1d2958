"""S2Loop nearest-boundary parity (loop.rs:523-577): the reference's
simplified nearest-VERTEX distance/projection semantics.

Three layers: (1) kernel methods vs a direct scalar transcription of
the Rust code (incl. the acos-NaN-skip, strict-< earliest-vertex ties
on skinny_chevron's 1e-15-apart vertices, and empty/full handling);
(2) project == contains ? point : boundary; (3) the distributed
codegen join (geom_aggs.nearest_boundary_join) == the kernel on the
contract fixture.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from s2_geometry_rust_spark import fixtures
from s2_geometry_rust_spark.kernels.loops import S2Loop


def _ref_distance_to_boundary(loop: S2Loop, p) -> float:
    """Scalar transcription of loop.rs:523-547 (Rust `<` skips NaN;
    f64::min ignores NaN)."""
    if loop.is_empty_or_full():
        return math.inf

    def dot(a):
        # scalar left-assoc x*ax + y*ay + z*az, exactly the Rust dot
        return float(p[0]) * float(a[0]) + float(p[1]) * float(a[1]) \
            + float(p[2]) * float(a[2])

    v = loop.vertices
    best = math.inf
    for i in range(len(v)):
        a, b = v[i], v[(i + 1) % len(v)]
        to_a = math.acos(dot(a)) if abs(dot(a)) <= 1 else math.nan
        to_b = math.acos(dot(b)) if abs(dot(b)) <= 1 else math.nan
        if math.isnan(to_a):
            edge = to_b
        elif math.isnan(to_b):
            edge = to_a
        else:
            edge = min(to_a, to_b)
        if edge < best:  # NaN < best is False -> skipped
            best = edge
    return best


def _ref_project_to_boundary(loop: S2Loop, p) -> np.ndarray:
    """Scalar transcription of loop.rs:558-577 (strict <, earliest
    vertex wins ties)."""
    if loop.is_empty_or_full():
        return np.asarray(p)

    def d2_of(vert):
        # scalar left-assoc dx*dx + dy*dy + dz*dz (DVec3 length_squared)
        dx = float(p[0]) - float(vert[0])
        dy = float(p[1]) - float(vert[1])
        dz = float(p[2]) - float(vert[2])
        return dx * dx + dy * dy + dz * dz

    closest = loop.vertices[0]
    best = d2_of(closest)
    for vert in loop.vertices:
        d2 = d2_of(vert)
        if d2 < best:
            best = d2
            closest = vert
    return closest


def _probe_points(n=40, seed=7):
    rng = np.random.default_rng(seed)
    v = rng.normal(size=(n, 3))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


@pytest.mark.parametrize("name", ["north_hemi", "candy_cane",
                                  "small_ne_cw", "skinny_chevron",
                                  "loop_a", "arctic_80"])
def test_kernel_matches_reference_transcription(name):
    loop = S2Loop.from_degrees(fixtures.LOOPS[name])
    pts = _probe_points()
    dist = loop.distance_to_boundary_batch(pts[:, 0], pts[:, 1], pts[:, 2])
    proj = loop.project_to_boundary_batch(pts[:, 0], pts[:, 1], pts[:, 2])
    for i, p in enumerate(pts):
        assert dist[i] == _ref_distance_to_boundary(loop, p)
        assert np.array_equal(proj[i], _ref_project_to_boundary(loop, p))


def test_skinny_chevron_tie_goes_to_earliest_vertex():
    """Vertices 1 and 3 differ by 1e-15 degrees; when their d2 is
    bit-equal the reference's strict-< scan keeps the EARLIER vertex."""
    loop = S2Loop.from_degrees(fixtures.LOOPS["skinny_chevron"])
    # probe on the plane equidistant from vertices 1 and 3: their
    # midpoint direction (d2 computed identically -> exact tie)
    mid = loop.vertices[1] + loop.vertices[3]
    mid = mid / np.linalg.norm(mid)
    d2_1 = float(np.sum((mid - loop.vertices[1]) ** 2))
    d2_3 = float(np.sum((mid - loop.vertices[3]) ** 2))
    proj = loop.project_to_boundary_batch(
        mid[0:1], mid[1:2], mid[2:3]
    )[0]
    if d2_1 == d2_3:
        assert np.array_equal(proj, loop.vertices[1])
    else:  # not a bit-exact tie on this platform: nearest still wins
        want = loop.vertices[1] if d2_1 < d2_3 else loop.vertices[3]
        assert np.array_equal(proj, want)


def test_empty_full_quirks():
    empty, full = S2Loop.empty(), S2Loop.full()
    p = np.array([[1.0, 0.0, 0.0]])
    assert np.isinf(empty.distance_to_boundary_batch(
        p[:, 0], p[:, 1], p[:, 2]))[0]
    assert np.isinf(full.distance_to_boundary_batch(
        p[:, 0], p[:, 1], p[:, 2]))[0]
    assert np.array_equal(
        empty.project_to_boundary_batch(p[:, 0], p[:, 1], p[:, 2]), p)
    assert np.array_equal(
        full.project_to_boundary_batch(p[:, 0], p[:, 1], p[:, 2]), p)


def test_project_identity_inside():
    """loop.rs:549-556: contained points project to themselves,
    outside points to the boundary vertex."""
    loop = S2Loop.from_degrees(fixtures.LOOPS["arctic_80"])
    # note: under the reference's quirky winding PIP even the equator
    # point is "inside" arctic_80; the south pole is genuinely outside
    pts = np.array([[0.0, 0.0, 1.0],      # north pole: inside
                    [0.0, 0.0, -1.0]])    # south pole: outside
    out = loop.project_batch(pts[:, 0], pts[:, 1], pts[:, 2])
    assert np.array_equal(out[0], pts[0])
    assert np.array_equal(
        out[1], _ref_project_to_boundary(loop, pts[1]))


def test_operator_matches_kernel(spark, sf_dir):
    """The distributed codegen join == kernel methods per (point,
    loop), bit-for-bit on the projection and to the nano grid on the
    distance."""
    from contract.engine_queries import (
        _derived_points,
        loop_nearest_boundary_q,
    )

    got = {(r["point_id"], r["region_id"]): r
           for r in loop_nearest_boundary_q(spark, sf_dir).collect()}
    pts = _derived_points(spark, sf_dir).toPandas()
    xyz = pts[["x", "y", "z"]].to_numpy()
    xyz = xyz / np.linalg.norm(xyz, axis=1, keepdims=True)
    for name in fixtures.NEAREST_BOUNDARY_LOOPS:
        loop = S2Loop.from_degrees(fixtures.LOOPS[name])
        dist = loop.distance_to_boundary_batch(
            xyz[:, 0], xyz[:, 1], xyz[:, 2])
        proj = loop.project_to_boundary_batch(
            xyz[:, 0], xyz[:, 1], xyz[:, 2])
        for i, pid in enumerate(pts["point_id"]):
            r = got[(int(pid), name)]
            assert r["dist_nano"] == round(dist[i] * 1e9)
            assert (r["proj_x"], r["proj_y"], r["proj_z"]) == (
                proj[i][0], proj[i][1], proj[i][2])


def test_point_on_a_vertex_gives_no_nan(spark):
    """A point on (or a hair off) a loop vertex rounds its dot with that
    vertex past 1.  The kernel skips the NaN acos; the engine and the
    DuckDB oracle must skip the same dot, so all three agree on a
    finite distance instead of NaN/NULL."""
    import duckdb

    from s2_geometry_rust_spark.operators.geom_aggs import (
        nearest_boundary_join,
    )
    from contract.oracle import loop_nearest_boundary_sql

    rows = fixtures.loop_vertex_rows(fixtures.NEAREST_BOUNDARY_LOOPS)
    cane = [r for r in rows if r[0] == "candy_cane"]
    v0, v1 = np.array(cane[0][2:]), np.array(cane[1][2:])
    raw = [v0, 2.0 * v1, np.nextafter(v0, 2.0), _probe_points(1)[0]]
    pts = [(i, *map(float, p)) for i, p in enumerate(raw)]

    def unit(x, y, z):
        # the engine's normalization: x / sqrt(x*x + y*y + z*z)
        n = math.sqrt(x * x + y * y + z * z)
        return x / n, y / n, z / n

    # the fixture really reaches the out-of-range branch
    p0 = unit(*pts[0][1:])
    assert p0[0] * v0[0] + p0[1] * v0[1] + p0[2] * v0[2] > 1.0

    pdf = spark.createDataFrame(pts, "point_id long, x double, y double, z double")
    got = {
        (r["point_id"], r["region_id"]): r["dist_nano"]
        for r in nearest_boundary_join(
            pdf, fixtures.loop_vertices(spark, fixtures.NEAREST_BOUNDARY_LOOPS)
        ).collect()
    }
    values = ", ".join(
        f"({i}, CAST('{x!r}' AS DOUBLE), CAST('{y!r}' AS DOUBLE),"
        f" CAST('{z!r}' AS DOUBLE))" for i, x, y, z in pts
    )
    sql = loop_nearest_boundary_sql(
        points_sql=f"SELECT * FROM (VALUES {values}) t(point_id, x, y, z)"
    )
    want = {
        (int(r.point_id), r.region_id): r.dist_nano
        for r in duckdb.connect().execute(sql).fetchdf().itertuples()
    }
    n_loops = len(fixtures.NEAREST_BOUNDARY_LOOPS)
    assert len(got) == len(want) == len(pts) * n_loops
    for name in fixtures.NEAREST_BOUNDARY_LOOPS:
        loop = S2Loop.from_degrees(fixtures.LOOPS[name])
        for i, x, y, z in pts:
            px, py, pz = unit(x, y, z)
            dist = loop.distance_to_boundary_batch(
                np.array([px]), np.array([py]), np.array([pz]))[0]
            assert math.isfinite(dist)
            assert got[(i, name)] is not None
            assert got[(i, name)] == want[(i, name)] == round(dist * 1e9), (
                i, name)
