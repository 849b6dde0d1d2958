"""Polygon-with-holes support (S2PolygonShape / S2MultiPolygonShape,
/root/reference/src/polygon_shape.rs:78-158, 236-258, 266-398): kernel
semantics, conservative covering soundness, and the point-in-region
join's polygon branch on both physical paths."""

from __future__ import annotations

import numpy as np
import pytest

from s2_geometry_rust_spark import fixtures
from s2_geometry_rust_spark.kernels import latlng as lk
from s2_geometry_rust_spark.kernels.loops import (
    S2Loop,
    S2MultiPolygon,
    S2Polygon,
)


def _loop(name):
    return S2Loop.from_degrees(fixtures.LOOPS[name])


def _rand_points(n, seed=11):
    rng = np.random.default_rng(seed)
    v = rng.normal(size=(n, 3))
    v /= np.linalg.norm(v, axis=1)[:, None]
    return v[:, 0], v[:, 1], v[:, 2]


def test_polygon_contains_is_shell_minus_holes():
    poly = S2Polygon([_loop("north_hemi"), _loop("arctic_80")])
    x, y, z = _rand_points(2000)
    got = poly.contains_points_batch(x, y, z)
    want = (
        _loop("north_hemi").contains_points_batch(x, y, z)
        & ~_loop("arctic_80").contains_points_batch(x, y, z)
    )
    np.testing.assert_array_equal(got, want)
    # north pole: inside the shell but inside the hole -> excluded.
    # (NOTE: loop containment here is the reference's winding-sign-sum
    # QUIRK, SURVEY §8.6 — e.g. arctic_80 "contains" most of the
    # sphere because an exterior point still sums to +1.  The polygon
    # composition is exercised against the same kernels, not geometric
    # intuition.)
    assert not poly.contains_point(0.0, 0.0, 1.0)
    # the composition actually splits the point set three ways
    assert want.any() and (~want).any()
    in_shell_only = (
        _loop("north_hemi").contains_points_batch(x, y, z)
        & ~_loop("arctic_80").contains_points_batch(x, y, z)
    )
    idx = np.nonzero(in_shell_only)[0]
    assert len(idx) > 0
    i = int(idx[0])
    assert poly.contains_point(float(x[i]), float(y[i]), float(z[i]))


def test_multipolygon_contains_is_any():
    multi = S2MultiPolygon([
        S2Polygon([_loop("arctic_80")]),
        S2Polygon([_loop("antarctic_80")]),
    ])
    x, y, z = _rand_points(2000, seed=12)
    got = multi.contains_points_batch(x, y, z)
    want = (
        _loop("arctic_80").contains_points_batch(x, y, z)
        | _loop("antarctic_80").contains_points_batch(x, y, z)
    )
    np.testing.assert_array_equal(got, want)
    assert multi.contains_point(0.0, 0.0, 1.0)
    assert multi.contains_point(0.0, 0.0, -1.0)
    # under the quirky winding PIP both loops must still disagree with
    # their union somewhere, or the any-composition is vacuous
    assert want.sum() > _loop("arctic_80").contains_points_batch(
        x, y, z).sum() > 0


def test_conservative_polygon_covering_is_sound():
    """Every point the PIP accepts must fall inside the conservative
    covering (join-filter soundness — the shell covering cannot miss)."""
    from s2_geometry_rust_spark.kernels import cellid as ck
    from s2_geometry_rust_spark.operators.coverings import (
        TruePolygonRegion,
        conservative_covering,
        multipolygon_from_loops_col,
    )

    loops_col = [
        {"poly": 0, "vertices": [
            {"lat": float(a), "lng": float(b)}
            for a, b in fixtures.LOOPS[name]]}
        for name in ("north_hemi", "arctic_80")
    ]
    region = TruePolygonRegion(multipolygon_from_loops_col(loops_col))
    cov = np.asarray(conservative_covering(region, max_cells=64), np.uint64)
    lo = ck.range_min(cov).view(np.int64)
    hi = ck.range_max(cov).view(np.int64)
    x, y, z = _rand_points(5000, seed=13)
    inside = region.contains_points_batch(x, y, z)
    leaf = ck.from_point(x, y, z).view(np.int64)
    # unsigned compare via u64 view
    leaf_u = leaf.view(np.uint64)
    lo_u, hi_u = lo.view(np.uint64), hi.view(np.uint64)
    covered = np.array([
        bool(((lo_u <= lu) & (lu <= hi_u)).any()) for lu in leaf_u
    ])
    assert not (inside & ~covered).any()


def test_polygon_admit_is_the_or_of_its_shells():
    """Later shells classify only the cells earlier shells left
    undecided; the admit mask is still the OR over every shell."""
    from s2_geometry_rust_spark.kernels import cellid as ck
    from s2_geometry_rust_spark.operators.coverings import (
        TruePolygonRegion,
        multipolygon_from_loops_col,
    )

    loops_col = [
        {"poly": p, "vertices": [
            {"lat": float(a), "lng": float(b)}
            for a, b in fixtures.LOOPS[name]]}
        for p, name in enumerate(("candy_cane", "arctic_80", "small_ne_cw"))
    ]
    region = TruePolygonRegion(multipolygon_from_loops_col(loops_col))
    assert len(region._shells) == 3
    x, y, z = _rand_points(400, seed=5)
    leaf = ck.from_point(x, y, z)
    ids = np.concatenate([ck.parent(leaf[:200], 3), ck.parent(leaf[200:], 6)])
    want = np.zeros(len(ids), dtype=bool)
    for shell in region._shells:
        want |= shell.may_intersect_cells(ids)
    got = region.may_intersect_cells(ids)
    assert want.any() and not want.all()
    assert np.array_equal(got, want)


@pytest.fixture(scope="module")
def spark():
    from s2_geometry_rust_spark.session import get_spark

    yield get_spark("polygon-tests", cpus=4)


def _ground_truth(points_pdf, regions_rows):
    from s2_geometry_rust_spark.operators.coverings import region_from_row

    lat = lk.degrees_to_radians(points_pdf["lat"].to_numpy(np.float64))
    lng = lk.degrees_to_radians(points_pdf["lng"].to_numpy(np.float64))
    x, y, z = lk.latlng_to_xyz(lat, lng)
    want = set()
    for row in regions_rows:
        reg = region_from_row(row.asDict())
        keep = reg.contains_points_batch(x, y, z)
        for i in np.nonzero(keep)[0]:
            want.add((points_pdf["doc_id"].iloc[int(i)], row["region_id"]))
    return want


def test_point_in_polygon_join_both_paths(spark):
    import s2_geometry_rust_spark.operators.spatial_join as sj
    from s2_geometry_rust_spark.operators.spatial_join import (
        point_in_region_join,
    )
    from s2_geometry_rust_spark.sources import (
        extract_geo_points,
        interleave_flat_documents,
    )

    flat = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pts = extract_geo_points(interleave_flat_documents(flat))
    regions = fixtures.polygon_regions(spark)
    want = _ground_truth(pts.toPandas(), regions.collect())
    assert len(want) > 20

    got_driver = {
        (r["doc_id"], r["region_id"])
        for r in point_in_region_join(pts, regions, max_cells=8)
        .select("doc_id", "region_id").collect()
    }
    assert got_driver == want

    old = sj.DISTRIBUTED_REGION_THRESHOLD
    sj.DISTRIBUTED_REGION_THRESHOLD = 1  # force the distributed path
    try:
        got_dist = {
            (r["doc_id"], r["region_id"])
            for r in point_in_region_join(pts, regions, max_cells=8)
            .select("doc_id", "region_id").collect()
        }
    finally:
        sj.DISTRIBUTED_REGION_THRESHOLD = old
    assert got_dist == want


def test_multi_chain_shape_containers(spark):
    """edges_from_chains + shape_chains mirror the reference chain
    accessors (shape.rs:56-101, polyline_shape.rs:75-199): cumulative
    chain_starts, Chain(start, length), ChainPosition per edge."""
    from s2_geometry_rust_spark.operators.shape_index import (
        edges_from_chains,
        shape_chains,
    )

    shapes = {
        "mp0": [[(0.0, 0.0), (0.0, 10.0), (0.0, 20.0)],   # 2 edges
                [(10.0, 0.0), (20.0, 0.0)]],               # 1 edge
        "mp1": [[(30.0, 0.0), (40.0, 0.0), (50.0, 0.0),
                 (60.0, 0.0)]],                            # 3 edges
    }
    edges = edges_from_chains(spark, shapes, dim=1, closed=False)
    rows = sorted(
        (r["shape_id"], r["edge_id"], r["chain_id"], r["chain_offset"])
        for r in edges.collect()
    )
    # reference layout: mp0 chain_starts [0, 2, 3]; mp1 [0, 3]
    assert rows == [
        (0, 0, 0, 0), (0, 1, 0, 1), (0, 2, 1, 0),
        (1, 0, 0, 0), (1, 1, 0, 1), (1, 2, 0, 2),
    ]
    chains = [
        (r["shape_id"], r["chain_id"], r["start"], r["length"])
        for r in shape_chains(edges).collect()
    ]
    assert chains == [(0, 0, 0, 2), (0, 1, 2, 1), (1, 0, 0, 3)]

    # closed (polygon) chains: every vertex contributes an edge
    polys = {"tri2": [[(0.0, 0.0), (0.0, 10.0), (10.0, 0.0)],
                      [(2.0, 2.0), (2.0, 4.0), (4.0, 2.0)]]}
    pedges = edges_from_chains(spark, polys, dim=2, closed=True)
    pchains = [
        (r["chain_id"], r["start"], r["length"])
        for r in shape_chains(pedges).collect()
    ]
    assert pchains == [(0, 0, 3), (1, 3, 3)]


def test_chain_crossing_join_propagates_chains(spark):
    from contract.engine_queries import chain_crossing_pairs_q

    got = chain_crossing_pairs_q(spark, "/root/testdata/sf0.001").collect()
    assert len(got) > 0
    for r in got:
        assert r["a_shape"] == 0 and r["b_shape"] == 1
        assert 0 <= r["a_chain"] <= 2 and 0 <= r["b_chain"] <= 2
        assert r["crossing"] in (-1, 1)
    # equator_w (chain 2 of shape a) crosses meridian_10 (chain 0 of b)
    assert any(r["a_chain"] == 2 and r["b_chain"] == 0
               and r["crossing"] == 1 for r in got)


def test_point_cloud_shapes(spark):
    """Point shapes: one degenerate edge per point, dim 0, single
    default chain (point_shape.rs:29-47/:74-95, shape.rs:159-172) —
    and the cloud indexes/queries through the same shape index."""
    from s2_geometry_rust_spark.operators.shape_index import (
        INDEX_LEVEL,
        build_shape_index,
        edges_from_points,
        query_point_candidates,
        shape_chains,
    )
    from s2_geometry_rust_spark.functions import cell_id_from_latlng_deg
    from pyspark.sql import functions as F

    shapes = {
        "cloud_a": [(10.0, 10.0), (10.1, 10.1), (80.0, -100.0)],
        "cloud_b": [(-45.0, 60.0)],
    }
    edges = edges_from_points(spark, shapes)
    rows = sorted(
        (r["shape_id"], r["edge_id"], r["dim"], r["chain_id"],
         r["chain_offset"],
         r["v0x"] == r["v1x"] and r["v0y"] == r["v1y"]
         and r["v0z"] == r["v1z"])
        for r in edges.collect()
    )
    assert rows == [
        (0, 0, 0, 0, 0, True), (0, 1, 0, 0, 1, True),
        (0, 2, 0, 0, 2, True), (1, 0, 0, 0, 0, True),
    ]
    chains = [(r["shape_id"], r["chain_id"], r["start"], r["length"])
              for r in shape_chains(edges).collect()]
    assert chains == [(0, 0, 0, 3), (1, 0, 0, 1)]

    # the cloud participates in the standard index -> candidate query
    index = build_shape_index(edges)
    probes = spark.createDataFrame(
        [("near_a", 10.0, 10.0), ("near_b", -45.0, 60.0),
         ("far", -10.0, -170.0)],
        "probe string, lat double, lng double",
    ).withColumn("cell_id", cell_id_from_latlng_deg("lat", "lng"))
    got = {
        (r["probe"], r["shape_id"])
        for r in query_point_candidates(index, probes).collect()
    }
    assert ("near_a", 0) in got and ("near_b", 1) in got
    assert not any(p == "far" for p, _ in got)


def test_point_cloud_index_matches_fixture_path(spark):
    """The table-scale point_cloud_index roll-up must agree with the
    driver-side fixture path (edges_from_points -> build_shape_index)
    on the same clouds: same (shape, cell) keys, same per-cell edge
    multiplicity of v0-parents, same cumulative edge-id layout."""
    from pyspark.sql import functions as F

    from s2_geometry_rust_spark.functions import (
        cell_id_from_latlng_deg,
        cell_parent,
    )
    from s2_geometry_rust_spark.operators.shape_index import (
        INDEX_LEVEL,
        edges_from_points,
        point_cloud_index,
    )

    rng = np.random.default_rng(11)
    pts = [(float(la), float(ln))
           for la, ln in zip(rng.uniform(-80, 80, 60),
                             rng.uniform(-179, 179, 60))]
    shapes = {"cloud_a": pts[:40], "cloud_b": pts[40:]}

    # fixture path: per-edge v0-parent cells (keep multiplicity)
    from s2_geometry_rust_spark.kernels import cellid as ck

    edges = edges_from_points(spark, shapes)
    fixture = {}
    for r in edges.collect():
        leaf = ck.from_point(
            np.array([r["v0x"]]), np.array([r["v0y"]]),
            np.array([r["v0z"]]))[0]
        cell = int(ck.parent(np.array([leaf]), INDEX_LEVEL)[0])
        if cell >= 1 << 63:          # kernel u64 -> Spark i64 bits
            cell -= 1 << 64
        key = (r["shape_id"], cell)
        n, mn, mx = fixture.get(key, (0, 1 << 62, -1))
        fixture[key] = (n + 1, min(mn, r["edge_id"]),
                        max(mx, r["edge_id"]))

    # table path: same points as a DataFrame source, same shape split
    table_rows = []
    for sid, (name, cloud) in enumerate(sorted(shapes.items())):
        for j, (la, ln) in enumerate(cloud):
            table_rows.append((sid, j, la, ln))
    tbl = spark.createDataFrame(
        table_rows, "shape_id long, point_id long, lat double, lng double"
    ).withColumn("cell_id", cell_id_from_latlng_deg("lat", "lng"))
    got = {
        (r["shape_id"], r["index_cell_id"]):
            (r["n_edges"], r["min_edge_id"], r["max_edge_id"])
        for r in point_cloud_index(tbl).collect()
    }
    assert got == fixture


def test_parity_covering_rejects_polygon_rows(spark):
    """The reference-parity coverer has no polygon adapter: a polygon
    row fails with a message that names the conservative path, not an
    AttributeError from inside the coverer."""
    from s2_geometry_rust_spark.operators.coverings import cover_regions

    regions = fixtures.polygon_regions(spark)
    with pytest.raises(Exception,
                       match="polygon rows need conservative=True"):
        cover_regions(regions).collect()
    assert cover_regions(regions, conservative=True).count() > 0
