"""Shape index build/seek/crossing-join and geometric aggregates."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2_geometry_rust_spark import fixtures
from s2_geometry_rust_spark.kernels import cellid as ck
from s2_geometry_rust_spark.kernels import latlng as lk
from s2_geometry_rust_spark.kernels import polylines as pk
from s2_geometry_rust_spark.kernels.loops import S2Loop
from s2_geometry_rust_spark.kernels import predicates as pred
from s2_geometry_rust_spark.operators.geom_aggs import (
    loop_stats,
    polyline_stats,
    union_leaf_cells_covered,
)
from s2_geometry_rust_spark.operators.shape_index import (
    INDEX_LEVEL,
    build_shape_index,
    edge_crossing_join,
    edges_from_loops,
    seek,
)


@pytest.fixture(scope="module")
def loop_edges(spark):
    names = ["candy_cane", "small_ne_cw", "arctic_80", "line_triangle"]
    return edges_from_loops(
        spark, {n: fixtures.LOOPS[n] for n in names}
    ).cache()


def test_build_shape_index_parity(spark, loop_edges):
    """Mirror of index_shape: level-15 parents of v0s, all edges per
    covering cell (mutable_shape_index.rs:119-193)."""
    idx = build_shape_index(loop_edges).toPandas()
    edges = loop_edges.toPandas()
    for sid, grp in edges.groupby("shape_id"):
        v0 = grp[["v0x", "v0y", "v0z"]].to_numpy(np.float64)
        leafs = ck.from_point(v0[:, 0], v0[:, 1], v0[:, 2])
        cover = np.unique(ck.parent(leafs, np.full(len(leafs), INDEX_LEVEL)))
        got_cells = np.unique(
            idx[idx.shape_id == sid]["cell_id"].to_numpy(np.int64).view(np.uint64)
        )
        np.testing.assert_array_equal(np.sort(got_cells), np.sort(cover))
        # every covering cell lists ALL edges
        n_edges = len(grp)
        per_cell = idx[idx.shape_id == sid].groupby("cell_id").size()
        assert (per_cell == n_edges).all()


def test_seek_returns_sorted_tail(spark, loop_edges):
    idx = build_shape_index(loop_edges)
    cells = np.sort(
        idx.select("cell_id").distinct().toPandas()["cell_id"]
        .to_numpy(np.int64).view(np.uint64)
    )
    target = int(cells[len(cells) // 2])
    got = seek(idx, target, n=1000).toPandas()
    g = got["cell_id"].to_numpy(np.int64).view(np.uint64)
    assert (g >= target).all()
    assert np.array_equal(np.sort(np.unique(g)), cells[cells >= target])


def test_edge_crossing_join_matches_kernel(spark, loop_edges):
    a = loop_edges.filter(F.col("shape_id") == 0)
    b = loop_edges.filter(F.col("shape_id") != 0)
    got = edge_crossing_join(a, b, candidates_via_index=False).toPandas()
    ea = a.toPandas()
    eb = b.toPandas()
    for _, ra in ea.iterrows():
        for _, rb in eb.iterrows():
            want = int(
                pred.crossing_sign_batch(
                    np.array([[ra.v0x, ra.v0y, ra.v0z]]),
                    np.array([[ra.v1x, ra.v1y, ra.v1z]]),
                    np.array([[rb.v0x, rb.v0y, rb.v0z]]),
                    np.array([[rb.v1x, rb.v1y, rb.v1z]]),
                )[0]
            )
            g = got[
                (got.a_edge == ra.edge_id)
                & (got.b_shape == rb.shape_id)
                & (got.b_edge == rb.edge_id)
            ]
            assert len(g) == 1 and int(g.crossing.iloc[0]) == want


def test_loop_stats_match_kernels(spark):
    regions = fixtures.loop_regions(spark, ["north_hemi", "candy_cane", "arctic_80"])
    got = loop_stats(regions).toPandas().set_index("region_id")
    for name in ["north_hemi", "candy_cane", "arctic_80"]:
        loop = S2Loop.from_degrees(fixtures.LOOPS[name])
        row = got.loc[name]
        assert row.area == loop.get_area()
        assert row.curvature == loop.get_curvature()
        cx, cy, cz = loop.get_centroid()
        assert (row.centroid_x, row.centroid_y, row.centroid_z) == (
            float(cx), float(cy), float(cz),
        )


def test_polyline_stats_match_kernels(spark):
    lines = {
        "equator_arc": [(0.0, 0.0), (0.0, 30.0), (0.0, 60.0)],
        "meridian": [(-45.0, 10.0), (0.0, 10.0), (45.0, 10.0)],
    }
    df = spark.createDataFrame(
        [
            (k, [(float(a), float(b)) for a, b in v])
            for k, v in lines.items()
        ],
        "line_id string, vertices array<struct<lat:double,lng:double>>",
    )
    got = polyline_stats(df).toPandas().set_index("line_id")
    for k, v in lines.items():
        lat = lk.degrees_to_radians(np.array([p[0] for p in v]))
        lng = lk.degrees_to_radians(np.array([p[1] for p in v]))
        x, y, z = lk.latlng_to_xyz(lat, lng)
        verts = np.stack([x, y, z], axis=-1)
        assert got.loc[k].length_rad == pk.length(verts)
        mid = pk.interpolate(verts, 0.5)
        assert got.loc[k].mid_x == mid[0]
    # 90-degree equator arc spans pi/2... full arc 60 deg = pi/3
    assert abs(got.loc["equator_arc"].length_rad - np.pi / 3) < 1e-12


def test_polyline_intersects_kernel():
    eq = np.stack(lk.latlng_to_xyz(
        lk.degrees_to_radians(np.array([0.0, 0.0])),
        lk.degrees_to_radians(np.array([-10.0, 10.0])),
    ), axis=-1)
    mer = np.stack(lk.latlng_to_xyz(
        lk.degrees_to_radians(np.array([-10.0, 10.0])),
        lk.degrees_to_radians(np.array([0.0, 0.0])),
    ), axis=-1)
    # NOTE: the reference's simplified 4-sign crossing formula
    # (predicates.rs:666-682) reports +1 for many far-apart segment
    # pairs (great-circle, not segment, semantics in some orderings);
    # parity means matching the formula, so the negative case below is
    # one the formula itself rejects.
    far = np.stack(lk.latlng_to_xyz(
        lk.degrees_to_radians(np.array([40.0, 41.0])),
        lk.degrees_to_radians(np.array([0.0, 1.0])),
    ), axis=-1)
    assert pk.intersects(eq, mer)
    assert not pk.intersects(eq, far)


def test_union_leaf_cells_covered(spark):
    face0 = int(ck.from_face_pos_level(0, 0, 0))
    kids = [int(c) for c in ck.children(np.uint64(face0))]
    df = spark.createDataFrame(
        [("u", np.uint64(face0).astype(np.int64).item())]
        + [("v", np.uint64(k).astype(np.int64).item()) for k in kids[:2]],
        "union_id string, cell_id long",
    )
    got = union_leaf_cells_covered(df).toPandas().set_index("union_id")
    assert got.loc["u"].leaf_cells_covered == 4 ** 30
    assert got.loc["v"].leaf_cells_covered == 2 * 4 ** 29


def test_polyline_intersection_join(spark):
    from s2_geometry_rust_spark.operators.polyline_join import (
        polyline_intersection_join,
    )

    lines = {
        "equator_w": [(0.0, -30.0), (0.0, 0.0), (0.0, 30.0)],
        "meridian_0": [(-20.0, 0.0), (20.0, 0.0)],
        "meridian_90": [(-20.0, 90.0), (20.0, 90.0)],
        "arctic_arc": [(80.0, -30.0), (80.0, 30.0)],
    }
    df = spark.createDataFrame(
        [(k, [(float(a), float(b)) for a, b in v]) for k, v in lines.items()],
        "line_id string, vertices array<struct<lat:double,lng:double>>",
    )
    got = polyline_intersection_join(df, df).toPandas()
    pairs = {tuple(sorted((r.a_id, r.b_id))) for r in got.itertuples()
             if r.a_id != r.b_id}
    # ground truth via the kernel on all pairs
    from s2_geometry_rust_spark.kernels import latlng as lk2
    from s2_geometry_rust_spark.kernels import polylines as pk2

    def verts(v):
        lat = lk2.degrees_to_radians(np.array([p[0] for p in v], float))
        lng = lk2.degrees_to_radians(np.array([p[1] for p in v], float))
        x, y, z = lk2.latlng_to_xyz(lat, lng)
        return np.stack([x, y, z], axis=-1)

    names = list(lines)
    want = set()
    for i, ni in enumerate(names):
        for nj in names[i + 1:]:
            if pk2.intersects(verts(lines[ni]), verts(lines[nj])):
                want.add(tuple(sorted((ni, nj))))
    assert pairs == want
    assert ("equator_w", "meridian_0") in pairs
    assert not any("arctic_arc" in p and "equator_w" in p for p in pairs)


def test_polyline_join_hemisphere_caps_not_dropped(spark):
    """Candidate filter regression: when r_a + r_b >= pi the cosine
    bound cos(r_a+r_b) is not monotone, so jointly-sphere-covering cap
    pairs must be admitted unconditionally (an equator arc x a
    270-degree meridian arc intersect but the naive filter rejects)."""
    from s2_geometry_rust_spark.operators.polyline_join import (
        polyline_intersection_join,
    )

    lines = {
        # 270-degree meridian arc: cap radius > hemisphere
        "long_meridian": [(-80.0, 0.0), (0.0, 0.0), (80.0, 0.0),
                          (80.0, 180.0), (0.0, 180.0), (-80.0, 180.0)],
        "equator": [(0.0, -90.0), (0.0, -30.0), (0.0, 30.0), (0.0, 90.0)],
    }
    df = spark.createDataFrame(
        [(k, [(float(a), float(b)) for a, b in v]) for k, v in lines.items()],
        "line_id string, vertices array<struct<lat:double,lng:double>>",
    )
    got = polyline_intersection_join(df, df).toPandas()
    pairs = {tuple(sorted((r.a_id, r.b_id))) for r in got.itertuples()
             if r.a_id != r.b_id}
    # kernel ground truth says they intersect
    from s2_geometry_rust_spark.kernels import latlng as lk2
    from s2_geometry_rust_spark.kernels import polylines as pk2

    def verts(v):
        lat = lk2.degrees_to_radians(np.array([p[0] for p in v], float))
        lng = lk2.degrees_to_radians(np.array([p[1] for p in v], float))
        x, y, z = lk2.latlng_to_xyz(lat, lng)
        return np.stack([x, y, z], axis=-1)

    assert pk2.intersects(verts(lines["long_meridian"]), verts(lines["equator"]))
    assert ("equator", "long_meridian") in pairs


def _random_lines(n, seed=11):
    rng = np.random.default_rng(seed)
    lines = []
    for i in range(n):
        lat0 = rng.uniform(-70, 70)
        lng0 = rng.uniform(-180, 180)
        pts = [(lat0, lng0)]
        for _ in range(2):
            lat0 = float(np.clip(lat0 + rng.uniform(-5, 5), -89, 89))
            lng0 = float(lng0 + rng.uniform(-5, 5))
            if lng0 > 180:
                lng0 -= 360
            pts.append((lat0, lng0))
        lines.append((f"l{i:05d}", [(float(a), float(b)) for a, b in pts]))
    return lines


def test_polyline_join_covering_path_matches_allpairs(spark):
    """Scale path vs reference-predicate all-pairs on random lines:

    - no false positives: every covering-path pair is an all-pairs pair;
    - no geometric misses: every all-pairs pair whose curves actually
      pass near each other (or near the antipodal curve — the
      predicate's antipodal invariance) is found by the covering path.
    The all-pairs extras beyond that are the reference predicate's
    spurious far-field positives (see polyline_join module docstring),
    which the scale path drops by design.
    """
    from s2_geometry_rust_spark.kernels import latlng as lk2
    from s2_geometry_rust_spark.operators.polyline_join import (
        polyline_intersection_join,
        polyline_intersection_join_allpairs,
    )

    lines = _random_lines(300)
    df = spark.createDataFrame(
        lines,
        "line_id string, vertices array<struct<lat:double,lng:double>>",
    )
    got = polyline_intersection_join(df, df).filter(
        F.col("a_id") < F.col("b_id")
    ).toPandas()
    want = polyline_intersection_join_allpairs(df, df).filter(
        F.col("a_id") < F.col("b_id")
    ).toPandas()
    gp = set(map(tuple, got[["a_id", "b_id"]].itertuples(index=False)))
    wp = set(map(tuple, want[["a_id", "b_id"]].itertuples(index=False)))
    assert gp <= wp

    def verts(v):
        lat = lk2.degrees_to_radians(np.array([p[0] for p in v], float))
        lng = lk2.degrees_to_radians(np.array([p[1] for p in v], float))
        x, y, z = lk2.latlng_to_xyz(lat, lng)
        return np.stack([x, y, z], axis=-1)

    def samples(v, n=80):
        out = []
        for i in range(len(v) - 1):
            a, b = v[i], v[i + 1]
            ts = np.linspace(0, 1, n)
            d = np.clip(a @ b, -1, 1)
            ang = np.arccos(d)
            if ang < 1e-12:
                out.append(np.repeat(a[None, :], n, 0))
                continue
            s = np.sin(ang)
            m = (np.sin((1 - ts)[:, None] * ang) * a[None, :]
                 + np.sin(ts[:, None] * ang) * b[None, :]) / s
            out.append(m / np.linalg.norm(m, axis=1)[:, None])
        return np.concatenate(out)

    L = dict(lines)
    missed_geometric = []
    for (a_id, b_id) in wp - gp:
        sa = samples(verts(L[a_id]))
        sb = samples(verts(L[b_id]))
        dots = np.abs(sa @ sb.T)  # |dot| covers the antipodal curve too
        min_ang = float(np.arccos(np.clip(dots.max(), -1, 1)))
        if min_ang < 5e-3:  # curves actually pass near each other
            missed_geometric.append((a_id, b_id, min_ang))
    assert not missed_geometric, missed_geometric
    assert len(gp) > 0


def test_polyline_join_plan_has_no_nested_loop(spark):
    from s2_geometry_rust_spark.operators.polyline_join import (
        polyline_intersection_join,
    )

    df = spark.createDataFrame(
        _random_lines(50),
        "line_id string, vertices array<struct<lat:double,lng:double>>",
    )
    plan = polyline_intersection_join(df, df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_polyline_coverings_batch_matches_per_line():
    """Batched level-synchronous coverer == per-line
    conservative_covering bit-for-bit, including a repeated-vertex
    point-like line (one admit rule on both sides), and the degenerate
    lines stay conservative never-miss supersets."""
    from s2_geometry_rust_spark.kernels import cellid as ck2
    from s2_geometry_rust_spark.operators.coverings import (
        TruePolylineRegion,
        conservative_covering,
        polyline_coverings_batch,
    )
    from s2_geometry_rust_spark.kernels import latlng as lk2

    def to_xyz(pts):
        lat = lk2.degrees_to_radians(np.array([p[0] for p in pts], float))
        lng = lk2.degrees_to_radians(np.array([p[1] for p in pts], float))
        x, y, z = lk2.latlng_to_xyz(lat, lng)
        return np.stack([x, y, z], axis=-1)

    point = to_xyz([(33.1, -17.2)])
    degen = np.repeat(point, 3, axis=0)
    lines = [to_xyz(v) for _, v in _random_lines(120, seed=3)] + [degen]
    for budget in (8, 64):
        ref = [
            conservative_covering(TruePolylineRegion(v), max_cells=budget)
            for v in lines
        ]
        got = polyline_coverings_batch(lines, max_cells=budget)
        for i, (r, g) in enumerate(zip(ref, got)):
            assert np.array_equal(np.sort(r), np.sort(g)), (budget, i)

    # degenerate cases: empty-edge line and repeated-vertex point line —
    # the conservative property: every vertex's leaf cell has an
    # ancestor-or-equal in the covering
    for v in ([to_xyz([(1.0, 2.0)])[0:0], degen]):
        got = polyline_coverings_batch([v], max_cells=64)[0]
        if len(v) < 2:
            assert len(got) == 0
            continue
        assert len(got) > 0
        leaf = ck2.from_point(v[:1, 0], v[:1, 1], v[:1, 2])[0]
        covered = any(
            int(ck2.range_min(np.array([c], np.uint64))[0])
            <= int(leaf)
            <= int(ck2.range_max(np.array([c], np.uint64))[0])
            for c in got
        )
        assert covered
    assert polyline_coverings_batch([]) == []
