"""Port of the reference S2Builder test suite
(/root/reference/tests/test_s2builder.rs:15-291, plus the snap-function
unit tests in src/builder/snap_functions.rs:478-540), and Spark parity:
the table-scale graph build / layer operators must agree with the
driver-side facade (which mirrors the reference algorithms verbatim).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from s2_geometry_rust_spark.kernels import snap as sk
from s2_geometry_rust_spark.operators.builder import (
    BuilderError,
    BuilderOptions,
    GraphOptions,
    LocalGraph,
    PolygonLayerOptions,
    PolylineLayerOptions,
    S2Builder,
    S2PolygonLayer,
    S2PolylineLayer,
    S2PolylineVectorLayer,
    SnapFunction,
    assemble_loops,
    assemble_polylines,
    build_graph,
    find_cycles,
    walk_polyline_components,
    walk_single_polyline,
)


def _n(x, y, z):
    v = np.array([x, y, z], np.float64)
    v /= np.linalg.norm(v)
    return (float(v[0]), float(v[1]), float(v[2]))


PX = _n(1.0, 0.0, 0.0)
PY = _n(0.0, 1.0, 0.0)
PZ = _n(0.0, 0.0, 1.0)
P_OFF = _n(1.0, 0.1, 0.1)


# --- test_s2builder.rs:15-22 -------------------------------------------------
def test_builder_basic_creation():
    b = S2Builder(BuilderOptions())
    assert b.num_input_edges() == 0
    assert b.num_input_vertices() == 0
    assert not b.is_built()


# --- test_s2builder.rs:25-32 -------------------------------------------------
def test_builder_add_vertex():
    b = S2Builder()
    b.add_vertex(*PX)
    assert b.num_input_vertices() == 1


# --- test_s2builder.rs:35-43 -------------------------------------------------
def test_builder_add_edge():
    b = S2Builder()
    b.add_edge(PX, PY)
    assert b.num_input_edges() == 1


# --- test_s2builder.rs:46-57 -------------------------------------------------
def test_builder_add_triangle_loop():
    b = S2Builder()
    b.add_loop([PX, PY, PZ], "undirected")
    assert b.num_input_edges() == 3


# --- test_s2builder.rs:60-70 -------------------------------------------------
def test_builder_add_polyline():
    b = S2Builder()
    b.add_polyline([PX, PY, PZ], "directed")
    assert b.num_input_edges() == 2


# --- test_s2builder.rs:73-81 -------------------------------------------------
def test_identity_snap_function():
    f = SnapFunction("identity", min_vertex_separation=1e-10)
    out = f.snap_point(*[np.float64(c) for c in P_OFF])
    assert tuple(map(float, out)) == P_OFF
    assert f.snap_radius() == 0.0


# --- test_s2builder.rs:84-91 -------------------------------------------------
def test_s2cellid_snap_function():
    f = SnapFunction("cellid", level=10)
    out = tuple(map(float, f.snap_point(
        *[np.float64(c) for c in P_OFF])))
    assert out != P_OFF
    # snapped point is unit length (snap_functions.rs:516)
    assert math.isclose(sum(c * c for c in out), 1.0, rel_tol=1e-12)
    assert f.snap_radius() > 0.0
    assert f.min_separation() > 0.0


# --- test_s2builder.rs:94-101 ------------------------------------------------
def test_int_latlng_snap_function():
    f = SnapFunction("int_latlng", scale=1.0)  # degrees()
    out = tuple(map(float, f.snap_point(
        *[np.float64(c) for c in P_OFF])))
    assert out != P_OFF
    assert f.snap_radius() > 0.0
    assert f.min_separation() > 0.0


# --- test_s2builder.rs:104-108 -----------------------------------------------
def test_graph_creation_empty():
    g = LocalGraph()
    assert g.num_vertices() == 0
    assert g.num_edges() == 0


# --- test_s2builder.rs:111-129 -----------------------------------------------
def test_graph_from_snapped_edges():
    g = LocalGraph.from_snapped_edges([(PX, PY, "directed")])
    assert g.num_vertices() == 2
    assert g.num_edges() == 1


# --- test_s2builder.rs:132-139 -----------------------------------------------
def test_polyline_layer_options():
    o = PolylineLayerOptions(edge_type="directed", validate=True)
    assert o.edge_type == "directed"
    assert o.validate


# --- test_s2builder.rs:142-149 -----------------------------------------------
def test_polygon_layer_options():
    o = PolygonLayerOptions(edge_type="undirected", validate=False)
    assert o.edge_type == "undirected"
    assert not o.validate


# --- test_s2builder.rs:152-168 -----------------------------------------------
def test_builder_options_configuration():
    o = BuilderOptions(
        snap_function=SnapFunction("identity", min_vertex_separation=1e-10),
        split_crossing_edges=False,
        intersection_tolerance_rad=1e-12,
        simplify_edge_chains=True,
        idempotent=False,
        validate=False,
    )
    assert not o.split_crossing_edges
    assert o.intersection_tolerance() == 1e-12
    assert o.simplify_edge_chains
    assert not o.idempotent
    assert not o.validate
    # mod.rs:128-136 — the split_crossing_edges floor
    o2 = BuilderOptions(split_crossing_edges=True,
                        intersection_tolerance_rad=0.0)
    assert o2.intersection_tolerance() == 1e-15


# --- test_s2builder.rs:185-193 -----------------------------------------------
def test_invalid_edge_antipodal():
    b = S2Builder()
    with pytest.raises(BuilderError):
        b.add_edge(PX, _n(-1.0, 0.0, 0.0))


# --- test_s2builder.rs:196-210 -----------------------------------------------
def test_cannot_modify_after_build():
    b = S2Builder()
    b.build()
    with pytest.raises(BuilderError):
        b.add_vertex(*PX)
    with pytest.raises(BuilderError):
        b.add_edge(PX, PY)


# --- test_s2builder.rs:217-236 -----------------------------------------------
def test_simple_triangle_construction():
    b = S2Builder()
    b.add_loop([PX, PY, PZ], "undirected")
    assert b.num_input_edges() == 3
    assert b.num_layers() == 0


# --- test_s2builder.rs:239-257 -----------------------------------------------
def test_simple_polyline_construction():
    b = S2Builder()
    b.add_polyline([PX, PY, PZ], "directed")
    assert b.num_input_edges() == 2
    assert b.num_layers() == 0


# --- test_s2builder.rs:260-283 -----------------------------------------------
def test_multiple_polylines_construction():
    b = S2Builder()
    b.add_polyline([PX, PY], "directed")
    b.add_polyline([PZ, _n(0.0, -1.0, 0.0)], "directed")
    assert b.num_input_edges() == 2
    assert b.num_layers() == 0


# --- test_s2builder.rs:285-291 + snap_functions.rs:530-540 -------------------
def test_invalid_s2cellid_snap_level():
    with pytest.raises(ValueError):
        SnapFunction("cellid", level=-1)
    with pytest.raises(ValueError):
        SnapFunction("cellid", level=31)


# --- layer integration (end-to-end through facade build) ---------------------
def test_polygon_layer_reassembles_triangle():
    b = S2Builder()
    layer = S2PolygonLayer()
    b.add_loop([PX, PY, PZ], "undirected")
    b.add_layer(layer)
    b.build()
    assert len(layer.loops) == 1
    assert layer.loops[0] == [PX, PY, PZ]


def test_polyline_layer_reassembles_chain():
    b = S2Builder()
    layer = S2PolylineLayer()
    b.add_polyline([PX, PY, PZ], "directed")
    b.add_layer(layer)
    b.build()
    assert layer.polyline == [PX, PY, PZ]


def test_polyline_vector_layer_components():
    b = S2Builder()
    layer = S2PolylineVectorLayer()
    b.add_polyline([PX, PY], "directed")
    b.add_polyline([PZ, _n(0.0, -1.0, 0.0)], "directed")
    b.add_layer(layer)
    b.build()
    assert len(layer.polylines) == 2
    assert layer.polylines[0] == [PX, PY]
    assert layer.polylines[1] == [PZ, _n(0.0, -1.0, 0.0)]


def test_single_polyline_disconnected_errors():
    # layers.rs:503-508 — leftover edges are an error
    with pytest.raises(ValueError):
        walk_single_polyline([(0, 1), (2, 3)])


def test_graph_degenerate_and_duplicate_raise():
    g = LocalGraph()
    a = g.add_vertex(*PX)
    c = g.add_vertex(*PY)
    with pytest.raises(BuilderError):
        g.add_edge(a, a)  # zero-length
    g.add_edge(a, c)
    with pytest.raises(BuilderError):
        g.add_edge(a, c)  # duplicate


def test_builder_vertex_dedup_through_snap():
    """Two distinct inputs snapping to the same cell center merge into
    one graph vertex (find_or_create_vertex, graph.rs:381-397)."""
    b = S2Builder(BuilderOptions(
        snap_function=SnapFunction("cellid", level=5)))
    p1 = _n(1.0, 0.001, 0.001)
    p2 = _n(1.0, 0.0011, 0.0011)
    b.add_edge(p1, PY)
    b.add_edge(p2, PZ)
    g = b.build()
    assert g.num_vertices() == 3  # p1/p2 merged + PY + PZ
    assert g.num_edges() == 2


# --- snap kernel goldens ------------------------------------------------------
def test_int_latlng_snap_grid_values():
    """Degrees-scale snap lands exactly on integer-degree grid points
    (snap_functions.rs:190-199) with Rust round (half away) semantics."""
    from s2_geometry_rust_spark.kernels import latlng as lk

    lat = np.array([10.4, 10.6, -10.6, 89.6], np.float64)
    lng = np.array([20.49, -20.51, 0.6, 179.4], np.float64)
    x, y, z = lk.latlng_to_xyz(lk.degrees_to_radians(lat),
                               lk.degrees_to_radians(lng))
    gl, gn = sk.snap_int_latlng_grid(x, y, z, 1.0)
    np.testing.assert_array_equal(gl, [10, 11, -11, 90])
    np.testing.assert_array_equal(gn, [20, -21, 1, 179])
    # the rounding rule itself, on exact half inputs (no round trip):
    # Rust f64::round is half-away-from-zero
    halves = np.array([10.5, -10.5, 0.5, -0.5], np.float64)
    np.testing.assert_array_equal(
        sk._round_half_away(halves), [11.0, -11.0, 1.0, -1.0]
    )
    sx, sy, sz = sk.snap_int_latlng(x, y, z, 1.0)
    ex, ey, ez = lk.latlng_to_xyz(
        lk.degrees_to_radians(gl.astype(np.float64)),
        lk.degrees_to_radians(gn.astype(np.float64)),
    )
    np.testing.assert_array_equal(sx, ex)
    np.testing.assert_array_equal(sy, ey)
    np.testing.assert_array_equal(sz, ez)


def test_cellid_snap_matches_kernel_chain():
    from s2_geometry_rust_spark.kernels import cellid as ck

    rng = np.random.default_rng(5)
    v = rng.normal(size=(200, 3))
    v /= np.linalg.norm(v, axis=1)[:, None]
    sx, sy, sz = sk.snap_cell_center(v[:, 0], v[:, 1], v[:, 2], 12)
    ids = ck.parent_at_level(ck.from_point(v[:, 0], v[:, 1], v[:, 2]), 12)
    ex, ey, ez = ck.to_point_raw(ids)
    np.testing.assert_array_equal(sx, ex)
    np.testing.assert_array_equal(sy, ey)
    np.testing.assert_array_equal(sz, ez)
    # NOTE: cell snapping is NOT idempotent in the reference — its
    # to_point_raw center is approximate (linear st<->uv + u32
    # truncation, cell_id.rs:421-480, SURVEY.md §8.2), so the computed
    # "center" can land in a sibling cell.  Canonical S2 would be
    # idempotent; the engine reproduces the reference.


def test_metric_formulas():
    # cell_id.rs:74-87 + snap_functions.rs radius/separation formulas
    assert sk.metric_value(sk.AVG_EDGE_DERIV, 0) == sk.AVG_EDGE_DERIV
    assert sk.metric_value(sk.AVG_EDGE_DERIV, 3) == sk.AVG_EDGE_DERIV / 8
    assert sk.metric_closest_level(sk.AVG_EDGE_DERIV, 0.0) == 30
    assert sk.cellid_snap_radius(10) == (
        sk.AVG_EDGE_DERIV / 1024 * math.sqrt(2) / 2
    )
    assert sk.int_latlng_snap_radius(1e6) == (
        1.0 / 2e6 * math.pi / 180.0 * math.sqrt(2.0)
    )
    assert sk.int_latlng_min_separation(1e6) == (
        1e-6 * math.pi / 180.0 * 0.5
    )
    assert sk.cellid_min_separation(10) == math.pi / 1024 * 0.8


# --- walk-algorithm goldens ---------------------------------------------------
def test_find_cycles_triangle_directed():
    assert find_cycles([(0, 1), (1, 2), (2, 0)], undirected=False) == [
        [0, 1, 2]
    ]


def test_find_cycles_dead_end_consumes_edges():
    # dead-end walk marks visited and yields nothing (layers.rs:283-287)
    assert find_cycles([(0, 1), (1, 2)], undirected=False) == []


def test_walk_components_two_chains():
    comps = walk_polyline_components([(0, 1), (1, 2), (3, 4)])
    assert comps == [[0, 1], [2]]


# --- Spark parity: table operators == facade ----------------------------------
@pytest.fixture(scope="module")
def spark():
    from s2_geometry_rust_spark.session import get_spark

    s = get_spark("builder-tests", cpus=4)
    yield s


def _random_edge_batch(rng, n_edges, snap_level=6):
    """Random edges whose endpoints share snap sites often enough to
    exercise vertex merging and duplicate collapse."""
    base = rng.normal(size=(max(4, n_edges // 2), 3))
    base /= np.linalg.norm(base, axis=1)[:, None]
    rows = []
    for i in range(n_edges):
        a = base[rng.integers(len(base))] + rng.normal(scale=1e-4, size=3)
        b = base[rng.integers(len(base))] + rng.normal(scale=1e-4, size=3)
        a /= np.linalg.norm(a)
        b /= np.linalg.norm(b)
        rows.append(("g0", i, "directed",
                     float(a[0]), float(a[1]), float(a[2]),
                     float(b[0]), float(b[1]), float(b[2])))
    return rows


def _local_reference_graph(rows, snap):
    """LocalGraph built with drop semantics (mirrors the table op)."""
    points = []
    key_to_vid = {}
    edges = {}
    for (_, ord_, et, sx, sy, sz, tx, ty, tz) in sorted(
            rows, key=lambda r: r[1]):
        a = snap.snap_point(np.float64(sx), np.float64(sy), np.float64(sz))
        b = snap.snap_point(np.float64(tx), np.float64(ty), np.float64(tz))
        ang = float(sk.point_angle(a[0], a[1], a[2], b[0], b[1], b[2]))
        if ang < sk.DEGENERATE_EDGE_ANGLE:
            continue
        vids = []
        for p in (a, b):
            key = tuple(int(np.float64(c).view(np.int64)) for c in p)
            vid = key_to_vid.get(key)
            if vid is None:
                vid = len(points)
                points.append(tuple(map(float, p)))
                key_to_vid[key] = vid
            vids.append(vid)
        k = (vids[0], vids[1], et)
        if k in edges:
            edges[k][1] += 1
        else:
            edges[k] = [ord_, 1]
    edge_rows = sorted(
        (v[0], s, t, et, v[1]) for (s, t, et), v in edges.items()
    )
    return points, [(i, s, t, et, n)
                    for i, (_, s, t, et, n) in enumerate(edge_rows)]


def test_build_graph_matches_local(spark):
    rng = np.random.default_rng(77)
    rows = _random_edge_batch(rng, 60)
    snap = SnapFunction("cellid", level=8)
    df = spark.createDataFrame(
        rows,
        "graph string, edge_ord long, edge_type string, "
        "sx double, sy double, sz double, "
        "tx double, ty double, tz double",
    )
    points, ewant = _local_reference_graph(rows, snap)
    # materialize_snapped=True checkpoints the snapped edges once; the
    # graph must not depend on it.
    for materialize in (False, True):
        vertices, edges = build_graph(df, snap,
                                      materialize_snapped=materialize)
        vgot = {
            r["vertex_id"]: (r["x"], r["y"], r["z"])
            for r in vertices.collect()
        }
        egot = sorted(
            (r["edge_id"], r["src_vid"], r["dst_vid"], r["edge_type"],
             r["n_inputs"])
            for r in edges.collect()
        )
        assert len(vgot) == len(points)
        for vid, p in enumerate(points):
            assert vgot[vid] == p, vid
        assert egot == ewant


def test_assemble_layers_match_local(spark):
    """Loops and polyline components reassembled by the Spark layers
    equal the facade layers on the same graph."""
    tri1 = [PX, PY, PZ]
    tri2 = [_n(-1, 0.2, 0), _n(0, -1, 0.2), _n(0.2, 0, -1)]
    chain = [_n(1, 1, 0), _n(0, 1, 1), _n(1, 0, 1), _n(1, 1, 1)]
    rows = []
    ord_ = 0
    for tri in (tri1, tri2):
        for i in range(3):
            a, b = tri[i], tri[(i + 1) % 3]
            rows.append(("loops", ord_, "undirected", *a, *b))
            ord_ += 1
    for i in range(len(chain) - 1):
        rows.append(("chain", i, "directed", *chain[i], *chain[i + 1]))
    df = spark.createDataFrame(
        rows,
        "graph string, edge_ord long, edge_type string, "
        "sx double, sy double, sz double, "
        "tx double, ty double, tz double",
    )
    snap = SnapFunction("identity")
    vertices, edges = build_graph(df, snap)

    loops = assemble_loops(
        edges.filter(edges["graph"] == "loops"), vertices, undirected=True,
    ).collect()
    by_chain = {}
    for r in sorted(loops, key=lambda r: (r["chain_id"], r["seq"])):
        by_chain.setdefault(r["chain_id"], []).append((r["x"], r["y"], r["z"]))
    assert sorted(map(tuple, by_chain.values())) == sorted(
        [tuple(tri1), tuple(tri2)]
    )

    polys = assemble_polylines(
        edges.filter(edges["graph"] == "chain"), vertices, mode="single",
    ).collect()
    got = [
        (r["x"], r["y"], r["z"])
        for r in sorted(polys, key=lambda r: r["seq"])
    ]
    assert got == chain


def test_s2error_taxonomy_messages():
    """Error taxonomy parity (error.rs:13-210): one class per variant,
    the reference's #[error] message formats, constructor helpers."""
    from s2_geometry_rust_spark import errors as E

    assert str(E.invalid_point("not normalized")) == (
        "Invalid point: not normalized")
    assert str(E.invalid_latitude(2.0)) == (
        "Invalid latitude: 2.0 (must be in [-π/2, π/2])")
    assert str(E.invalid_longitude(4.0)) == (
        "Invalid longitude: 4.0 (must be in [-π, π])")
    assert str(E.invalid_cell_id(0x123, "bad lsb")) == (
        "Invalid S2CellId: 0x0000000000000123 - bad lsb")
    assert str(E.invalid_cell_level(31)) == (
        "Invalid cell level: 31 (must be in [0, 30])")
    assert str(E.invalid_face(7)) == "Invalid face: 7 (must be in [0, 5])"
    assert str(E.insufficient_precision("sign")) == (
        "Computation failed: insufficient precision for sign")
    assert str(E.geometric_degeneracy("zero area")) == (
        "Geometric degeneracy: zero area")
    assert str(E.internal_error("oops")) == (
        "Internal error: oops - please report this bug")
    assert str(E.invalid_loop("too few")) == "Invalid loop: too few"
    assert str(E.BuilderError("dup")) == "Builder operation failed: dup"
    assert str(E.BooleanOperationError("union", "bad")) == (
        "Boolean operation failed: union - bad")
    # every variant is an S2Error and a ValueError
    for err in (E.invalid_point("x"), E.BuilderError("x"),
                E.QueryError("x"), E.IndexError_("x"),
                E.InvalidPolygonError("x"), E.InvalidPolylineError("x"),
                E.InvalidAngleError("x")):
        assert isinstance(err, E.S2Error) and isinstance(err, ValueError)
    # the builder facade raises taxonomy errors
    from s2_geometry_rust_spark.operators.builder import (
        BuilderError as FacadeBuilderError,
    )
    assert FacadeBuilderError is E.BuilderError


def test_build_graph_sibling_pair_removal(spark):
    """graph.rs:458-491: with remove_sibling_pairs, BOTH members of
    every (u->v, v->u) same-type pair are removed; unpaired edges
    survive."""
    rows = [
        # pair: PX->PY and PY->PX  (both removed)
        ("g", 0, "directed", *PX, *PY),
        ("g", 1, "directed", *PY, *PX),
        # unpaired: PX->PZ (survives)
        ("g", 2, "directed", *PX, *PZ),
    ]
    df = spark.createDataFrame(
        rows,
        "graph string, edge_ord long, edge_type string, "
        "sx double, sy double, sz double, "
        "tx double, ty double, tz double",
    )
    _, edges = build_graph(
        df, SnapFunction("identity"),
        GraphOptions(remove_sibling_pairs=True),
    )
    got = [(r["src_vid"], r["dst_vid"]) for r in edges.collect()]
    assert got == [(0, 2)]  # PX(vid 0) -> PZ(vid 2)
    # without the option all three survive
    _, edges2 = build_graph(df, SnapFunction("identity"))
    assert edges2.count() == 3
