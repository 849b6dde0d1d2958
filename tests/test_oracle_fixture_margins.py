"""Guards for the SQL-oracled robust-predicate contract queries.

The DuckDB oracles for edge_crossings / polyline_crossings reproduce the
triage determinant tier plus the degenerate-triangle rule, but NOT the
symbolic-perturbation tier (it needs IEEE bit patterns).  These tests
pin the fixture invariant that makes that sound: no candidate pair's
determinant lands in the unresolved band with three distinct vertices.
If someone edits the fixture sets, this fails before the driver does.
"""

from __future__ import annotations

import numpy as np

from contract.engine_queries import (
    EDGE_CROSS_A_SIDS,
    EDGE_CROSS_LEVEL,
    EDGE_CROSS_LOOPS,
    POLYLINE_LINES,
)
from s2_geometry_rust_spark.kernels import cellid as ck
from s2_geometry_rust_spark.kernels import latlng as lk
from s2_geometry_rust_spark.kernels import predicates as pred
from s2_geometry_rust_spark import fixtures


def _verts(pts):
    lat = lk.degrees_to_radians(np.array([p[0] for p in pts], np.float64))
    lng = lk.degrees_to_radians(np.array([p[1] for p in pts], np.float64))
    x, y, z = lk.latlng_to_xyz(lat, lng)
    return np.stack([x, y, z], axis=-1)


def _sign_triples(a, b, c, d):
    return [(a, c, b), (b, d, c), (c, a, d), (d, b, a)]


def _l2(u, v):
    return ((u[0] - v[0]) ** 2 + (u[1] - v[1]) ** 2 + (u[2] - v[2]) ** 2)


def _expressible(p, q, r) -> bool:
    det = pred.triage_det(*p, *q, *r)
    if abs(det) > pred.TRIAGE_ERROR_THRESHOLD:
        return True
    return (_l2(p, q) < pred.DEGENERATE_EPS or _l2(q, r) < pred.DEGENERATE_EPS
            or _l2(p, r) < pred.DEGENERATE_EPS)


def test_edge_crossings_fixture_dets_sql_expressible():
    edges = []
    for sid, (name, pts) in enumerate(sorted(
            {n: fixtures.LOOPS[n] for n in EDGE_CROSS_LOOPS}.items())):
        v = _verts(pts)
        n = len(v)
        for e in range(n):
            edges.append((sid, v[e], v[(e + 1) % n]))

    def pcell(v0):
        leaf = ck.from_point(np.array([v0[0]]), np.array([v0[1]]),
                             np.array([v0[2]]))
        return ck.parent_at_level(leaf.astype(np.uint64),
                                  EDGE_CROSS_LEVEL)[0]

    a = [(s, v0, v1, pcell(v0)) for s, v0, v1 in edges
         if s in EDGE_CROSS_A_SIDS]
    b = [(s, v0, v1, pcell(v0)) for s, v0, v1 in edges
         if s not in EDGE_CROSS_A_SIDS]
    n_cand = 0
    for (_, av0, av1, ca) in a:
        for (_, bv0, bv1, cb) in b:
            if ca != cb:
                continue
            n_cand += 1
            for (p, q, r) in _sign_triples(av0, av1, bv0, bv1):
                assert _expressible(p, q, r), (av0, bv0)
    assert n_cand > 10  # the index path actually produces work


def test_polyline_crossings_fixture_dets_sql_expressible():
    vlists = {n: _verts(v) for n, v in POLYLINE_LINES.items()}
    names = sorted(vlists)
    n_crossing_checked = 0
    for i, na in enumerate(names):
        for nb in names[i + 1:]:
            va, vb = vlists[na], vlists[nb]
            for ia in range(len(va) - 1):
                for ib in range(len(vb) - 1):
                    for (p, q, r) in _sign_triples(va[ia], va[ia + 1],
                                                   vb[ib], vb[ib + 1]):
                        det = pred.triage_det(*p, *q, *r)
                        assert abs(det) > pred.TRIAGE_ERROR_THRESHOLD
                        n_crossing_checked += 1
    assert n_crossing_checked > 0


def test_cells_true_vertices_round_trip_all_faces():
    """face_uv_to_xyz_inverse must invert xyz_to_face_uv on EVERY face:
    a point slightly inside each cell corner must map back into the
    cell's id range (the face-5 u-mirror in the reference's private
    face_uv_to_xyz silently broke this for coverings)."""
    from s2_geometry_rust_spark.kernels import cells_true as ct

    rng = np.random.default_rng(7)
    # cells across all faces and several levels
    pts = rng.normal(size=(200, 3))
    pts /= np.linalg.norm(pts, axis=1)[:, None]
    leafs = ck.from_point(pts[:, 0], pts[:, 1], pts[:, 2]).astype(np.uint64)
    for lvl in (0, 1, 2, 5, 10):
        cells = np.unique(ck.parent_at_level(leafs, lvl))
        face, u_lo, u_hi, v_lo, v_hi = ct.cell_uv_bounds(cells)
        for fu, fv in ((0.25, 0.25), (0.75, 0.25), (0.75, 0.75),
                       (0.25, 0.75), (0.5, 0.5)):
            uu = u_lo + fu * (u_hi - u_lo)
            vv = v_lo + fv * (v_hi - v_lo)
            x, y, z = ct.face_uv_to_xyz_inverse(face, uu, vv)
            back = ck.parent_at_level(
                ck.from_point(x, y, z).astype(np.uint64), lvl
            )
            np.testing.assert_array_equal(back, cells)


def test_ann_ivf_fixture_margins():
    """The ann_ivf oracle compares ids/ranks only; the engine computes
    cosines via normalize-then-GEMM while SQL divides the raw dot by the
    norm product (~1 ulp apart).  Pin >=1e-9 gaps on every decision the
    query makes at sf0.01: centroid assignment (top-1 vs top-2), probe
    boundary (n_probe-th vs next), and the top-k rank boundary."""
    import duckdb

    n_centroids, n_probe, n_queries, k = 16, 4, 20, 10
    con = duckdb.connect()
    rows = con.execute(
        "SELECT vec_id, embedding FROM "
        "'/root/testdata/sf0.01/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1)[:, None]
    centers = mat[ids < n_centroids]
    sims = mat @ centers.T

    top2 = np.sort(sims, axis=1)[:, -2:]
    assert (top2[:, 1] - top2[:, 0] > 1e-9).all(), "assignment margin"

    qsims = sims[ids < n_queries]
    qs = np.sort(qsims, axis=1)
    assert (qs[:, -n_probe] - qs[:, -(n_probe + 1)] > 1e-9).all(), \
        "probe-boundary margin"

    # rank margins inside each query's probed candidate set
    assign = np.argmax(sims, axis=1)
    probe = np.argsort(-qsims, axis=1)[:, :n_probe]
    allcos = mat @ mat.T
    for qi in range(n_queries):
        cand = np.where(np.isin(assign, probe[qi]) & (ids != ids[qi]))[0]
        cos = np.sort(allcos[qi, cand])[::-1]
        gaps = -np.diff(cos[: k + 1])
        assert (gaps > 1e-12).all(), f"rank margin, query {qi}"


def test_ann_lsh_fixture_margins():
    """ann_lsh compares ids/ranks only.  Bucket membership is exact
    (integer dots), so the only cross-engine float surface is the
    cosine re-rank: pin a >=1e-12 adjacent-gap margin on the FULL
    per-query cosine ordering — any LSH candidate subset inherits the
    gaps of the full set (removing elements only widens adjacent
    gaps), so every rank decision the oracle makes is margin-covered.
    Also pin that no quantized component lands exactly on the .5
    rounding boundary in float (belt-and-braces: the half-away rule is
    already identical on both sides)."""
    import duckdb

    n_queries = 20
    con = duckdb.connect()
    rows = con.execute(
        "SELECT vec_id, embedding FROM "
        "'/root/testdata/sf0.01/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    nm = mat / np.linalg.norm(mat, axis=1)[:, None]
    allcos = nm @ nm.T
    for qi in np.where(ids < n_queries)[0]:
        cos = np.sort(allcos[qi, ids != ids[qi]])[::-1]
        gaps = -np.diff(cos)
        distinct = gaps[gaps > 0]
        assert (distinct > 1e-12).all(), f"adjacent-gap margin, query {qi}"
        # ties must be exact duplicates (same double), which the
        # neighbor_id tiebreak resolves identically in both engines
        assert (gaps >= 0).all()

    # exact integer bucket replay: engine quantizer vs DuckDB round()
    scaled = mat * 1e6
    vi = np.trunc(scaled + np.copysign(0.5, scaled)).astype(np.int64)
    w = con.execute(
        "SELECT list_transform(embedding, x -> "
        "CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) FROM "
        "'/root/testdata/sf0.01/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    np.testing.assert_array_equal(
        vi, np.array([r[0] for r in w], dtype=np.int64)
    )


def test_builder_oracle_margins():
    """builder_graph equivalence pins (engine snaps from round-tripped
    xyz; the oracle rounds the raw generator lat/lng):

    1. no geo point's lat*10 / lng*10 sits within 1e-9 of a rounding
       half-boundary — the xyz round trip perturbs by ~1e-12 degrees,
       so both sides round identically;
    2. no snapped point within 0.05 deg of a pole — away from the
       poles, distinct 0.1-degree grid sites are >= ~1e-6 rad apart,
       so the engine's angle < 1e-15 degenerate rule equals the
       oracle's same-grid-site rule."""
    import duckdb

    from contract import oracle

    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"'{sf_dir}/documents.parquet'"
        )
        rows = con.execute(f"""
WITH {oracle._geo_synth_ctes(42)}
SELECT lat, lng FROM ll
""").fetchnumpy()
        for deg in (rows["lat"], rows["lng"]):
            frac = np.abs((deg * 10.0) % 1.0 - 0.5)
            assert frac.min() > 1e-9, (sf_dir, frac.min())
        lat_e = np.trunc(rows["lat"] * 10.0 +
                         np.copysign(0.5, rows["lat"] * 10.0))
        assert np.abs(lat_e).max() < 900, sf_dir


def test_rademacher_bucket_sign_exactness():
    """The Rademacher bucket bit is the sign of an int64 dot: verify the
    numpy matmul path equals a pure-Python exact sum on random data
    (int64 overflow impossible at |vi|<=2^21, dim 64 -> |dot|<2^27)."""
    from s2_geometry_rust_spark.operators.similarity import rademacher_signs

    rng = np.random.default_rng(123)
    signs = rademacher_signs(4, 8, 64, seed=7)
    v = rng.normal(size=(50, 64))
    scaled = v * 1e6
    vi = np.trunc(scaled + np.copysign(0.5, scaled)).astype(np.int64)
    for t in range(4):
        got = vi @ signs[t].T
        want = np.array(
            [[sum(int(a) * int(s) for a, s in zip(row, signs[t, b]))
              for b in range(8)] for row in vi]
        )
        np.testing.assert_array_equal(got, want)


# ---------------------------------------------------------------------------
# parity-coverer oracle (covering_cells_sql)
# ---------------------------------------------------------------------------

def _face_cells():
    from s2_geometry_rust_spark.kernels.cells import S2Cell

    return [S2Cell(int(ck.from_face_pos_level(f, 0, 0))) for f in range(6)]


def _fixture_regions():
    import math

    from s2_geometry_rust_spark.kernels.caps import S2Cap
    from s2_geometry_rust_spark.kernels.coverer import (
        CapRegion, LoopRegion, RectRegion)
    from s2_geometry_rust_spark.kernels.loops import S2Loop
    from s2_geometry_rust_spark.kernels.rects import S2LatLngRect

    def pt(lat, lng):
        x, y, z = lk.latlng_to_xyz(math.radians(lat), math.radians(lng))
        return [float(x), float(y), float(z)]

    regions = []
    for n, (lat, lng, r) in fixtures.CAPS.items():
        regions.append((n, CapRegion(
            S2Cap.from_center_degrees(tuple(pt(lat, lng)), r))))
    for n, pts in fixtures.LOOPS.items():
        regions.append((n, LoopRegion(
            S2Loop(np.array([pt(a, b) for a, b in pts])))))
    for n, (la, lb, ga, gb) in fixtures.RECTS.items():
        regions.append((n, RectRegion(S2LatLngRect.from_degrees(la, ga, lb, gb))))
    return regions


def test_parity_covering_equals_face_membership():
    """The reduction behind oracle.covering_cells_sql: because the
    parity S2Cell pins non-face UV bounds to the face corner
    (cell.rs:356-372), all 4 children of any cell share geometry, the
    (level, FIFO) heap makes expansion all-or-nothing per (face, level),
    and normalize collapses every complete subtree back to its face
    cell.  So the best-first covering == the set of may_intersect
    faces, independent of max_cells."""
    from s2_geometry_rust_spark.kernels.coverer import (
        CovererOptions, S2RegionCoverer)

    fc = _face_cells()
    for max_cells in (4, 8, 64):
        cov = S2RegionCoverer(CovererOptions(max_cells=max_cells))
        for name, region in _fixture_regions():
            got = sorted(int(i) for i in cov.get_covering(region))
            want = sorted(c.id for c in fc if region.may_intersect_cell(c))
            assert got == want, (name, max_cells)


def test_covering_oracle_matches_kernel_exactly():
    import duckdb
    import pandas as pd

    from contract import oracle
    from s2_geometry_rust_spark.kernels.coverer import (
        CovererOptions, S2RegionCoverer)

    cov = S2RegionCoverer(CovererOptions(max_cells=8))
    rows = []
    for name, region in _fixture_regions():
        ids = np.asarray(cov.get_covering(region), np.uint64).view(np.int64)
        rows += [(name, int(i)) for i in ids]
    want = (pd.DataFrame(rows, columns=["region_id", "cell_id"])
            .sort_values(["region_id", "cell_id"]).reset_index(drop=True))

    got = duckdb.connect().execute(oracle.covering_cells_sql()).fetchdf()
    assert len(got) == len(want)
    g = (got[["region_id", "cell_id"]]
         .sort_values(["region_id", "cell_id"]).reset_index(drop=True))
    assert (g.values == want.values).all()
    # derived columns
    lv = ck.level(got["cell_id"].to_numpy().view(np.uint64))
    assert (got["level"].to_numpy() == lv).all()


def test_covering_oracle_fixture_margins():
    """The SQL oracle's decisive float comparisons must sit outside any
    cross-engine libm jitter: PIP dets of face vertices vs loop edges
    clear the triage band, cap vertex-containment clears |d2-r2|, the
    cap edge tests clear |dot^2 - sin2*len2|, and blind-divide UV of
    loop vertices clears |u|,|v| vs 1."""
    import math

    from s2_geometry_rust_spark.kernels.caps import S2Cap
    from s2_geometry_rust_spark.kernels import chord

    fc = _face_cells()
    fverts = [[c.get_vertex(k) for k in range(4)] for c in fc]

    # loop-edge PIP dets at the 24 face vertices
    for name, pts in fixtures.LOOPS.items():
        v = _verts(pts)
        n = len(v)
        for face in range(6):
            for k in range(4):
                p = fverts[face][k]
                for e in range(n):
                    det = pred.triage_det(*p, *v[e], *v[(e + 1) % n])
                    assert abs(det) > 10 * pred.TRIAGE_ERROR_THRESHOLD, \
                        (name, face, k, e)

    # blind-divide UV of every loop vertex vs the [-1,1] bounds
    for name, pts in fixtures.LOOPS.items():
        v = _verts(pts)
        for c in fc:
            u, w = (np.asarray(q) for q in
                    __import__("s2_geometry_rust_spark.kernels.cells",
                               fromlist=["_cell_xyz_to_face_uv"])
                    ._cell_xyz_to_face_uv(c.face, v[:, 0], v[:, 1], v[:, 2]))
            for arr in (u, w):
                fin = arr[np.isfinite(arr)]
                assert (np.abs(np.abs(fin) - 1.0) > 1e-9).all(), (name, c.face)

    # cap comparisons
    def pt(lat, lng):
        x, y, z = lk.latlng_to_xyz(math.radians(lat), math.radians(lng))
        return (float(x), float(y), float(z))

    for name, (clat, clng, rdeg) in fixtures.CAPS.items():
        cap = S2Cap.from_center_degrees(pt(clat, clng), rdeg)
        sin2 = math.sin(cap.get_radius_radians()) ** 2
        center = np.array([cap.cx, cap.cy, cap.cz])
        for c in fc:
            for k in range(4):
                vx, vy, vz = c.get_vertex(k)
                d2 = float(chord.between_points(cap.cx, cap.cy, cap.cz,
                                                vx, vy, vz))
                assert abs(d2 - cap.radius_l2) > 1e-9, (name, c.face, k)
            for k in range(4):
                e = np.array(c.get_edge_raw(k))
                dot = float(center @ e)
                if dot != 0.0:
                    assert abs(dot) > 1e-12, (name, c.face, k)
                len2 = float(e @ e)
                assert abs(dot * dot - sin2 * len2) > 1e-12, (name, c.face, k)
