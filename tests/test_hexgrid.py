"""Aperture-7 hex grid (kernels/hexgrid.py, functions/hexcols.py).

Covers: lattice invariants (nearest-center assignment, ring/disk
cardinalities, distance axioms), pack/unpack round-trip, aperture-7
density and parenthood, Spark-Column vs numpy-kernel bit parity, the
codegen regression (janino 64KB overflow from re-inlined projections),
and oracle fixture margins (no fixture point near a rounding tie).
"""

import math

import numpy as np
import pytest

from s2_geometry_rust_spark.kernels import hexgrid as hg


RNG = np.random.default_rng(1234)
U = RNG.uniform(-1, 1, 50000)
V = RNG.uniform(-1, 1, 50000)


def test_nearest_center_assignment():
    """Every point is assigned to the closest hex center among its own
    cell and the 6 neighbors, and lies within the circumradius."""
    for res in (0, 2, 5, 11, 15):
        q, r = hg.uv_to_axial(U, V, res)
        cu, cv = hg.axial_to_uv(q, r, res)
        d = np.hypot(U - cu, V - cv)
        assert d.max() <= hg._S[res] * (1 + 1e-9)
        for dq, dr in hg.DIRECTIONS:
            nu, nv = hg.axial_to_uv(q + dq, r + dr, res)
            assert (d <= np.hypot(U - nu, V - nv) + 1e-12).all()
        # centers are fixed points of the assignment
        q2, r2 = hg.uv_to_axial(cu, cv, res)
        assert np.array_equal(q, q2) and np.array_equal(r, r2)


def test_pack_unpack_roundtrip():
    faces = RNG.integers(0, 6, len(U))
    for res in (0, 7, 15):
        hid = hg.hex_index(U, V, faces, res)
        assert (hid > 0).all()  # bit 63 unused -> signed-order safe
        f2, r2, q2, rr2 = hg.unpack(hid)
        q, r = hg.uv_to_axial(U, V, res)
        assert np.array_equal(f2, faces)
        assert (r2 == res).all()
        assert np.array_equal(q2, q) and np.array_equal(rr2, r)


def test_ring_disk_cardinalities():
    for k in (1, 2, 3, 7):
        offs = hg.disk_offsets(k)
        assert len(offs) == 3 * k * (k + 1) + 1
        assert len(set(offs)) == len(offs)
        dq = np.array([o[0] for o in offs])
        dr = np.array([o[1] for o in offs])
        dist = hg.hex_distance(dq, dr, 0, 0)
        assert dist.max() == k
        # ring r has exactly 6r cells
        for ring in range(1, k + 1):
            assert int((dist == ring).sum()) == 6 * ring


def test_hex_distance_axioms():
    q = RNG.integers(-50, 50, 2000)
    r = RNG.integers(-50, 50, 2000)
    q2 = RNG.integers(-50, 50, 2000)
    r2 = RNG.integers(-50, 50, 2000)
    d = hg.hex_distance(q, r, q2, r2)
    assert np.array_equal(d, hg.hex_distance(q2, r2, q, r))
    assert (d >= 0).all() and ((d == 0) == ((q == q2) & (r == r2))).all()
    # triangle inequality through a random midpoint
    q3 = RNG.integers(-50, 50, 2000)
    r3 = RNG.integers(-50, 50, 2000)
    assert (
        hg.hex_distance(q, r, q2, r2)
        <= hg.hex_distance(q, r, q3, r3) + hg.hex_distance(q3, r3, q2, r2)
    ).all()
    # distance 1 <=> neighbor directions
    for dq, dr in hg.DIRECTIONS:
        assert hg.hex_distance(0, 0, dq, dr) == 1


def test_aperture_seven():
    """Interior cell-density ratio between consecutive resolutions
    approaches 7 (boundary effects shrink it on a bounded window)."""
    u = RNG.uniform(-1, 1, 400000)
    v = RNG.uniform(-1, 1, 400000)
    f = np.zeros(len(u), dtype=np.int64)
    n3 = len(np.unique(hg.hex_index(u, v, f, 3)))
    n4 = len(np.unique(hg.hex_index(u, v, f, 4)))
    assert 5.5 < n4 / n3 <= 7.05
    # rotation between resolutions is the Eisenstein 3+w argument
    assert math.isclose(hg.ALPHA, math.atan2(math.sqrt(3.0), 5.0))


def test_parent_is_total_function_and_mostly_contains():
    u = RNG.uniform(-1, 1, 100000)
    v = RNG.uniform(-1, 1, 100000)
    f = RNG.integers(0, 6, len(u))
    child = hg.hex_index(u, v, f, 4)
    par = hg.parent(child)
    f2, r2, _, _ = hg.unpack(par)
    assert (r2 == 3).all() and np.array_equal(f2, f)
    # determinism: same child -> same parent
    uniq, inv = np.unique(child, return_inverse=True)
    assert (hg.parent(uniq)[inv] == par).all()
    # center-containment: the child's center IS in the parent (exact)
    _, _, cq, cr = hg.unpack(child)
    cu, cv = hg.axial_to_uv(cq, cr, 4)
    pq, pr = hg.uv_to_axial(cu, cv, 3)
    assert np.array_equal(hg.pack(f, 3, pq, pr), par)
    # and most POINTS of the child land in the same parent (aperture-7
    # lattices cannot nest; H3 has the same slack)
    direct = hg.hex_index(u, v, f, 3)
    assert (direct == par).mean() > 0.85


def test_res0_has_no_parent():
    with pytest.raises(ValueError):
        hg.parent(hg.pack(np.array([0]), 0, np.array([0]), np.array([0])))


@pytest.fixture(scope="module")
def spark():
    from s2_geometry_rust_spark.session import get_spark

    s = get_spark("test-hexgrid", cpus=4)
    yield s


def test_spark_columns_match_kernel(spark):
    """with_hex_cell / with_hex_parent == numpy kernels bit-for-bit on
    random xyz (the kernel is the normative implementation)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from s2_geometry_rust_spark.functions.hexcols import (
        with_hex_cell,
        with_hex_parent,
    )
    from s2_geometry_rust_spark.kernels.cellid import xyz_to_face_uv

    n = 20000
    x = RNG.uniform(-1, 1, n)
    y = RNG.uniform(-1, 1, n)
    z = RNG.uniform(-1, 1, n)
    ok = (np.abs(x) > 1e-9) | (np.abs(y) > 1e-9) | (np.abs(z) > 1e-9)
    x, y, z = x[ok], y[ok], z[ok]
    pdf = pd.DataFrame({"i": np.arange(len(x)), "x": x, "y": y, "z": z})
    df = spark.createDataFrame(pdf)
    res = 6
    got = (
        with_hex_parent(
            with_hex_cell(df, "x", "y", "z", res, keep=["i"]), "hex_id", res
        )
        .orderBy("i")
        .toPandas()
    )
    face, u, v = xyz_to_face_uv(x, y, z)
    want = hg.hex_index(u, v, face, res)
    assert np.array_equal(got["hex_id"].to_numpy(), want)
    assert np.array_equal(got["parent_id"].to_numpy(), hg.parent(want))


def test_plan_stays_codegen_sized(spark):
    """Regression: the hex pipeline once re-inlined into a single
    >64KB expression (via CollapseProject and inferred-isnotnull
    pushdown), silently dropping the stage to interpreted eval.  The
    chained-projection helpers plus the null-safe ring join keep every
    executed plan small; assert on plan size as the proxy."""
    from contract import engine_queries as eq

    sf = "/root/testdata/sf0.001"
    for name in ("hex_tile_counts", "hex_parent_rollup", "hex_ring_counts"):
        df = eq.QUERIES[name](spark, sf)
        df.collect()  # finalize the AQE plan so codegen spans are visible
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert len(plan) < 60000, (name, len(plan))
        assert "*(" in plan, name  # whole-stage-codegen'd spans present


def test_oracle_fixture_margins():
    """For the contract fixtures (customer/supplier derived points at
    sf0.01 scale and the resolutions used by the queries), every
    cube-round decision has macroscopic margin: distances to the
    floor(+0.5) boundaries and between dx/dy/dz comparators exceed
    1e-9, so a hypothetical last-ulp divergence between engines could
    never flip an assignment.  (Both engines run textually identical
    exactly-rounded ops, so this is belt-and-braces.)"""
    from s2_geometry_rust_spark.kernels.cellid import xyz_to_face_uv

    keys = np.arange(0, 20001, dtype=np.int64)
    x = (keys * 37 % 997) / 498.5 - 1.0
    y = (keys * 73 % 991) / 495.5 - 1.0
    z = (keys * 101 % 983) / 491.5 - 1.0
    _, u, v = xyz_to_face_uv(x, y, z)
    for res in (2, 3):
        c, s = hg.COS[res], hg.SIN[res]
        xp = c * u + s * v
        yp = c * v - s * u
        qf = hg.C1[res] * xp - hg.C2[res] * yp
        rf = hg.C3[res] * yp
        yf = (-qf) - rf
        for t in (qf, yf, rf):
            frac = np.abs((t + 0.5) - np.round(t + 0.5))
            assert frac.min() > 1e-9, (res, frac.min())
        rx = np.floor(qf + 0.5)
        ry = np.floor(yf + 0.5)
        rz = np.floor(rf + 0.5)
        dx, dy, dz = np.abs(rx - qf), np.abs(ry - yf), np.abs(rz - rf)
        for a, b in ((dx, dy), (dx, dz), (dy, dz)):
            gap = np.abs(a - b)
            assert gap.min() > 1e-9, (res, gap.min())


def test_geo_hex_tiler_matches_kernel(spark):
    """hex_tile_counts_geo (JVM trig + hex pipeline) == numpy kernel
    recompute over the same extracted points.  JVM Math.sin/cos and
    numpy libm agree on these fixtures (guard: recompute counts, not
    per-point equality, would hide nothing — we assert per-point ids)."""
    import pandas as pd
    from s2_geometry_rust_spark.sources import (
        extract_geo_points,
        synth_documents,
    )
    from s2_geometry_rust_spark.functions.hexcols import with_hex_from_latlng
    from s2_geometry_rust_spark.kernels.cellid import xyz_to_face_uv

    pts = extract_geo_points(synth_documents(spark, 400, seed=9))
    got = (
        with_hex_from_latlng(pts, "lat", "lng", 3,
                             keep=["doc_id", "lat", "lng"])
        .toPandas()
        .sort_values(["doc_id", "lat", "lng"])
        .reset_index(drop=True)
    )
    phi = np.radians(got["lat"].to_numpy())
    lam = np.radians(got["lng"].to_numpy())
    x = np.cos(phi) * np.cos(lam)
    y = np.cos(phi) * np.sin(lam)
    z = np.sin(phi)
    face, u, v = xyz_to_face_uv(x, y, z)
    want = hg.hex_index(u, v, face, 3)
    assert np.array_equal(got["hex_id"].to_numpy(), want)
