"""The covering operator: regions DataFrame -> exploded coverings.

Runs inside ``mapInPandas`` one of two coverers: the per-region
RegionCoverer kernel (best-first candidate loop,
region_coverer.rs:459-472/613-635 semantics) for reference-parity
coverings, or, for ``conservative=True`` join filters, the bounded
level-synchronous loop ``_level_sync_coverings`` over true-geometry
adapters (all cap rows of a batch in one call).  Each region is
independent and a covering is <= max_cells cells, so the operator is
embarrassingly parallel with **zero shuffles**: the output arrives
pre-partitioned like the regions input.  At 10^12-doc scale the
regions side is the small side; its covering table is what gets
broadcast into the spatial join (spatial_join.py).

Output rows: (region_id, cell_id, level, cell_min, cell_max) with ids as
signed-int64 reinterpretations of u64 (SURVEY.md §8.7).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels import cellid as ck
from ..kernels import chord
from ..kernels import latlng as lk
from ..kernels.caps import S2Cap, radius_l2_from_radians
from ..kernels.coverer import (
    CapRegion,
    CellUnionRegion,
    CovererOptions,
    LoopRegion,
    RectRegion,
    S2RegionCoverer,
)
from ..kernels.loops import S2Loop, S2MultiPolygon, S2Polygon
from ..kernels.rects import S2LatLngRect

from ..kernels import cells_true as ct
from ..kernels import unions as ku

COVERINGS_SCHEMA = StructType(
    [
        StructField("region_id", StringType()),
        StructField("cell_id", LongType()),
        StructField("level", IntegerType()),
        StructField("cell_min", LongType()),
        StructField("cell_max", LongType()),
    ]
)


def region_from_row(row) -> object:
    """Build the kernel region adapter for one regions-table row
    (fixtures.REGIONS_SCHEMA)."""
    kind = row["kind"]
    if kind == "cap":
        lat_r = float(lk.degrees_to_radians(row["p0"]))
        lng_r = float(lk.degrees_to_radians(row["p1"]))
        x, y, z = lk.latlng_to_xyz(np.float64(lat_r), np.float64(lng_r))
        cap = S2Cap.from_center_degrees((float(x), float(y), float(z)), row["p2"])
        return CapRegion(cap)
    if kind == "rect":
        rect = S2LatLngRect.from_degrees(row["p0"], row["p2"], row["p1"], row["p3"])
        return RectRegion(rect)
    if kind == "loop":
        verts = [(v["lat"], v["lng"]) for v in row["vertices"]]
        return LoopRegion(S2Loop.from_degrees(verts))
    if kind == "union":
        ids = np.asarray(row["cell_ids"], dtype=np.int64).view(np.uint64)
        return CellUnionRegion(ids)
    if kind == "polygon":
        return TruePolygonRegion(multipolygon_from_loops_col(row["loops"]))
    raise ValueError(f"unknown region kind: {kind}")


def multipolygon_from_loops_col(loops_col) -> S2MultiPolygon:
    """regions.loops (array<struct<poly, vertices>>) -> S2MultiPolygon;
    within a poly index the array order decides shell-vs-hole
    (polygon_shape.rs:81-87: first loop is the shell)."""
    by_poly: dict[int, list] = {}
    order: list[int] = []
    for entry in loops_col:
        p = int(entry["poly"])
        if p not in by_poly:
            by_poly[p] = []
            order.append(p)
        by_poly[p].append(
            S2Loop.from_degrees([(v["lat"], v["lng"])
                                 for v in entry["vertices"]])
        )
    return S2MultiPolygon([S2Polygon(by_poly[p]) for p in order])


class TruePolygonRegion:
    """The polygon adapter (S2MultiPolygonShape semantics,
    polygon_shape.rs:236-258, 389-393) for the exact refine and for
    conservative join filters: a covering of the SHELLS is a sound
    superset of the polygon (holes only remove points), so
    may_intersect is the union of the shells' TrueLoopRegion tests;
    containment stays the full shell-minus-holes PIP."""

    def __init__(self, multi: S2MultiPolygon):
        self.multi = multi
        self._shells = [
            TrueLoopRegion(poly.shell()) for poly in multi.polygons
            if poly.shell() is not None
        ]

    def contains_points_batch(self, x, y, z) -> np.ndarray:
        return self.multi.contains_points_batch(x, y, z)

    def contains(self, x, y, z) -> bool:
        return self.multi.contains_point(x, y, z)

    def may_intersect_cells(self, ids: np.ndarray) -> np.ndarray:
        # each shell classifies only the cells no earlier shell admitted
        out = np.zeros(len(ids), dtype=bool)
        for shell in self._shells:
            rest = np.flatnonzero(~out)
            if not len(rest):
                break
            out[rest] = shell.may_intersect_cells(ids[rest])
        return out


class TrueLoopRegion:
    """Conservative loop adapter over true cell geometry (cells_true):
    used for *join filters*, where a covering must never miss a point
    the engine's PIP (loops.contains_points_batch — the reference's
    winding-sign-sum, loop.rs:372-394) would accept.

    The winding-sum's inside/outside decision can only change across the
    *full great circle* of some loop edge (each term robust_sign(p, vi,
    vi+1) flips exactly there).  Cells are geodesically convex, so a
    cell meets one of those circles iff its 4 true vertices straddle the
    edge plane.  Hence:

        may_intersect  =  any cell vertex inside (winding-sum)
                          OR any edge plane straddled by the cell

    — sound for the quirky PIP (boundary ⊂ the circles), and cheap:
    one (4 x n_edges) matmul, no crossing predicates, no exact
    arithmetic."""

    _EPS = 1e-14

    def __init__(self, loop):
        self.loop = loop
        v = loop.vertices
        vn = np.roll(v, -1, axis=0)
        self._normals = np.cross(v, vn)  # edge great-circle normals

    def contains(self, x, y, z) -> bool:
        return self.loop.contains_point(x, y, z)

    def contains_points_batch(self, x, y, z) -> np.ndarray:
        return self.loop.contains_points_batch(x, y, z)

    def classify_cells(self, ids: np.ndarray
                       ) -> tuple[np.ndarray, np.ndarray]:
        """Per cell: which of its 4 true vertices the loop contains
        (n,4), and whether any edge great circle straddles it (n,).
        Vectorized over n cells: one (n,4,3) vertex build, one batch
        PIP, one einsum against the edge planes."""
        w = ct.cell_vertices_xyz(ids)  # (n, 4, 3)
        flat = w.reshape(-1, 3)
        inside = self.loop.contains_points_batch(
            flat[:, 0], flat[:, 1], flat[:, 2]
        ).reshape(len(ids), 4)
        s = np.einsum("nkd,ed->nke", w, self._normals)  # (n,4,n_edges)
        straddle = (s.max(axis=1) >= -self._EPS) & (s.min(axis=1) <= self._EPS)
        return inside, straddle.any(axis=1)

    def may_intersect_cells(self, ids: np.ndarray) -> np.ndarray:
        inside, straddle = self.classify_cells(ids)
        return inside.any(axis=1) | straddle


def _cell_bounding_caps(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray,
                                                   np.ndarray]:
    """True cell centers (n,3) and bounding-cap radii (n,): the max
    center-to-vertex angle, which covers the whole geodesically convex
    cell quad; plus the (n,4,3) vertices it was measured from."""
    centers, verts = ct.cell_center_vertices_xyz(ids)
    dots = np.clip(np.einsum("nkd,nd->nk", verts, centers), -1.0, 1.0)
    return centers, np.arccos(dots).max(axis=1), verts


def _polyline_admit(verts_list: list[np.ndarray]):
    """The polyline admit rule for L polylines at once, as
    ``admit(cells, owner) -> mask``: a cell is admitted iff the min
    angular distance from its bounding-cap center to any edge arc of
    its owner's line is <= the cap radius + pad.  Evaluated per (cell,
    own edge) pair — a block-diagonal pair expansion, row-wise einsums
    and one ``minimum.reduceat`` — so one line's decisions do not depend
    on which other lines share the call."""
    L = len(verts_list)
    a_parts, b_parts, counts = [], [], np.zeros(L, np.int64)
    for i, v in enumerate(verts_list):
        v = np.asarray(v, np.float64).reshape(-1, 3)
        a_parts.append(v[:-1])
        b_parts.append(v[1:])
        counts[i] = max(len(v) - 1, 0)
    A = np.concatenate(a_parts, axis=0)
    B = np.concatenate(b_parts, axis=0)
    n = np.cross(A, B)
    norm = np.linalg.norm(n, axis=1)
    ok = norm > 1e-300
    nhat = np.where(ok[:, None], n / np.where(ok, norm, 1.0)[:, None], 0.0)
    ca = np.cross(A, nhat)
    cb = np.cross(B, nhat)
    edge_start = np.zeros(L, np.int64)
    edge_start[1:] = np.cumsum(counts)[:-1]

    def admit(cells: np.ndarray, owner: np.ndarray) -> np.ndarray:
        m = counts[owner]
        has = m > 0
        keep = np.zeros(len(cells), bool)
        if not has.any():
            return keep
        centers, r_cell, _ = _cell_bounding_caps(cells)
        cum = np.zeros(len(cells) + 1, np.int64)
        np.cumsum(m, out=cum[1:])
        tot = int(cum[-1])
        within = np.arange(tot) - np.repeat(cum[:-1], m)
        pair_edge = np.repeat(edge_start[owner], m) + within
        c = centers[np.repeat(np.arange(len(cells)), m)]
        # sin(distance to the edge's great circle); whether the foot of
        # the perpendicular falls between the endpoints; else the
        # nearer endpoint
        s = np.einsum("pd,pd->p", c, nhat[pair_edge])
        in1 = np.einsum("pd,pd->p", c, ca[pair_edge]) <= 0.0
        in2 = np.einsum("pd,pd->p", c, cb[pair_edge]) >= 0.0
        d_circ = np.arcsin(np.clip(np.abs(s), 0.0, 1.0))
        d_a = np.arccos(np.clip(np.einsum("pd,pd->p", c, A[pair_edge]), -1.0, 1.0))
        d_b = np.arccos(np.clip(np.einsum("pd,pd->p", c, B[pair_edge]), -1.0, 1.0))
        d_end = np.minimum(d_a, d_b)
        d = np.where(ok[pair_edge] & in1 & in2, d_circ, d_end)
        dmin = np.minimum.reduceat(d, cum[:-1][has])
        keep[has] = dmin <= r_cell[has] + 1e-12
        return keep

    return admit


class TruePolylineRegion:
    """Conservative polyline adapter for *join filters*: a covering built
    from this never misses a cell that contains ANY point of the
    polyline (polyline.rs:316-338 crossing semantics only ever test
    points on the curve).

    may_intersect(cell) := min angular distance from the cell's bounding
    cap center to any edge arc <= cap radius + pad.  The cell cap covers
    the whole true quad (cell_bounding_cap takes the max vertex angle
    and cell quads are geodesically convex), so any curve point inside
    the cell is within the cap, hence within cap-radius of its center —
    the test can only over-admit, never miss.  It is the one-line call
    of ``_polyline_admit``, the rule ``polyline_coverings_batch`` uses."""

    def __init__(self, vertices: np.ndarray):
        self.vertices = np.asarray(vertices, dtype=np.float64).reshape(-1, 3)
        self._admit = _polyline_admit([self.vertices])

    def contains(self, x, y, z) -> bool:
        return False  # no interior

    def contains_points_batch(self, x, y, z) -> np.ndarray:
        return np.zeros(np.shape(np.asarray(x)), dtype=bool)

    def may_intersect_cells(self, ids: np.ndarray) -> np.ndarray:
        return self._admit(ids, np.zeros(len(ids), np.int64))


def _cap_admit(centers: np.ndarray, r_cell: np.ndarray,
               cap_center: np.ndarray, radius) -> np.ndarray:
    """Cell bounding-cap triangle inequality: the angle between each
    cell's center and its cap's center (both (n,3)) is at most the cap
    radius plus the cell's bounding radius, padded.  A row-wise einsum,
    not a BLAS matvec: past level ~25 an ulp of the dot moves the
    arccos by more than the pad, so every cap covering takes this one
    dot."""
    ang = np.arccos(np.clip(
        np.einsum("nd,nd->n", centers, cap_center), -1.0, 1.0))
    return ang <= radius + r_cell + 1e-12


class TrueCapRegion:
    """Conservative cap adapter: cell bounding-cap triangle inequality."""

    def __init__(self, cap):
        self.cap = cap
        self._center = np.array([cap.cx, cap.cy, cap.cz])
        self._radius = cap.get_radius_radians()

    def contains(self, x, y, z) -> bool:
        return self.cap.contains_point(x, y, z)

    def contains_points_batch(self, x, y, z) -> np.ndarray:
        return np.asarray(self.cap.contains_points_batch(x, y, z), bool)

    def may_intersect_cells(self, ids: np.ndarray) -> np.ndarray:
        centers, r_cell, _ = _cell_bounding_caps(ids)
        return _cap_admit(centers, r_cell,
                          np.broadcast_to(self._center, centers.shape),
                          self._radius)


def _ieee_remainder_2pi(x: np.ndarray) -> np.ndarray:
    """Vectorized ``math.remainder(x, 2*pi)``, bit-exact: fmod is exact,
    the +-2pi fold is exact by Sterbenz, and a tie (|r| == pi) rounds
    the quotient half-to-even as IEEE does."""
    two_pi = 2.0 * np.pi
    r = np.fmod(x, two_pi)
    q_odd = (np.trunc(x / two_pi) % 2) != 0
    up = (r > np.pi) | ((r == np.pi) & q_odd)
    down = (r < -np.pi) | ((r == -np.pi) & q_odd)
    return np.where(up, r - two_pi, np.where(down, r + two_pi, r))


def _s1_expanded_contains(lng, margin: np.ndarray,
                          p: np.ndarray) -> np.ndarray:
    """Vectorized ``lng.expanded(margin[i]).contains_point(p[i])`` for
    one S1Interval and per-element margins >= 0 (interval.rs:419-458
    re-wrap, then the circular containment test)."""
    out = np.zeros(len(p), dtype=bool)
    if lng.is_empty():
        return out
    full = (lng.get_length() + 2.0 * margin
            + 2.0 * 2.220446049250313e-16 >= 2.0 * np.pi)
    lo = _ieee_remainder_2pi(lng.lo - margin)
    hi = _ieee_remainder_2pi(lng.hi + margin)
    lo = np.where(lo <= -np.pi, np.pi, lo)
    hi = np.where((hi == -np.pi) & (lo != np.pi), np.pi, hi)
    p = np.where(p == -np.pi, np.pi, p)
    inverted = lo > hi
    empty = (lo == np.pi) & (hi == -np.pi)
    inside = np.where(inverted, ((p >= lo) | (p <= hi)) & ~empty,
                      (lo <= p) & (p <= hi))
    return full | inside


class TrueRectRegion:
    """Conservative rect adapter: each cell's bounding cap -> lat/lng
    window intersected with the rect (wraparound-aware), vectorized over
    cells."""

    def __init__(self, rect):
        self.rect = rect

    def contains(self, x, y, z) -> bool:
        return self.rect.contains_point(x, y, z)

    def contains_points_batch(self, x, y, z) -> np.ndarray:
        return np.asarray(self.rect.contains_points_batch(x, y, z), bool)

    def may_intersect_cells(self, ids: np.ndarray) -> np.ndarray:
        centers, r, _ = _cell_bounding_caps(ids)
        r = r + 1e-12
        lat_c = np.arcsin(np.clip(centers[:, 2], -1.0, 1.0))
        lat_lo, lat_hi = lat_c - r, lat_c + r
        out = ~((self.rect.lat.hi < lat_lo) | (self.rect.lat.lo > lat_hi))
        half_pi = np.pi / 2
        # a window touching a pole spans all longitudes
        undecided = out & ~((lat_hi >= half_pi) | (lat_lo <= -half_pi))
        sin_r = np.sin(r)
        cos_lat = np.minimum(np.cos(lat_lo), np.cos(lat_hi))
        undecided &= ~(sin_r >= cos_lat)
        idx = np.nonzero(undecided)[0]
        if len(idx):
            dlng = np.arcsin(sin_r[idx] / cos_lat[idx]) + 1e-12
            lng_c = np.arctan2(centers[idx, 1], centers[idx, 0])
            # expand the rect's circular lng interval by the window
            # half-width and test the cell-center longitude against it
            out[idx] = _s1_expanded_contains(self.rect.lng, dlng, lng_c)
        return out


def _level_sync_coverings(L: int, admit, contained, max_cells: int,
                          max_level: int) -> list[np.ndarray]:
    """Bounded level-synchronous coverings of L regions ("owners") for
    *join filters* — the one loop behind every ``conservative=True``
    covering.

    The reference's best-first coverer (region_coverer.rs:613-635)
    relies on its vertex-sampling may_intersect going false almost
    everywhere; with a truthful may_intersect its frontier explodes on
    boundary-dominated regions.  This loop expands whole levels at a
    time, once over the concatenated frontier of every owner:

    - each owner starts from its admitted face cells;
    - an owner whose next expansion could exceed ``max_cells``
      (``n_term + 4 * frontier > max_cells``) stops, and so does an
      owner none of whose children is admitted: its frontier is kept;
    - admitted children that ``contained`` proves inside stop refining
      and count toward ``n_term`` (``contained=None``: never);
    - at ``max_level`` every remaining frontier is kept.

    Every kept cell may-intersect its region, so each covering is a
    superset of its region in leaf-id space (never a miss), just
    coarser when the budget is tight.  ``admit(cells, owner)`` returns
    the admit mask and whatever ``contained(payload, owner)`` reads of
    the admitted cells (their vertices, say).  All owners are
    normalized in one ``ku.normalize_by_owner`` call."""
    if L == 0:
        return []
    faces = np.array(
        [int(ck.from_face_pos_level(f, 0, 0)) for f in range(6)], np.uint64
    )
    cells = np.tile(faces, L)
    owner = np.repeat(np.arange(L, dtype=np.int64), 6)
    keep, _ = admit(cells, owner)
    cells, owner = cells[keep], owner[keep]
    done_cells: list[np.ndarray] = []
    done_owner: list[np.ndarray] = []
    n_term = np.zeros(L, np.int64)
    level = 0
    while len(cells) and level < max_level:
        cnt = np.bincount(owner, minlength=L)
        hit = ((n_term + 4 * cnt) > max_cells)[owner]
        if hit.any():
            done_cells.append(cells[hit])
            done_owner.append(owner[hit])
            cells, owner = cells[~hit], owner[~hit]
            if len(cells) == 0:
                break
        children = ck.children(cells).reshape(-1)
        cowner = np.repeat(owner, 4)
        ckeep, payload = admit(children, cowner)
        children, cowner = children[ckeep], cowner[ckeep]
        hit = (np.bincount(cowner, minlength=L) == 0)[owner]
        if hit.any():
            done_cells.append(cells[hit])
            done_owner.append(owner[hit])
        if contained is not None and len(children):
            inside = contained(payload, cowner)
            if inside.any():
                done_cells.append(children[inside])
                done_owner.append(cowner[inside])
                n_term += np.bincount(cowner[inside], minlength=L)
                children, cowner = children[~inside], cowner[~inside]
        cells, owner = children, cowner
        level += 1
    done_cells.append(cells)
    done_owner.append(owner)
    return ku.normalize_by_owner(
        np.concatenate(done_cells), np.concatenate(done_owner), L)


def conservative_covering(region, max_cells: int = 64,
                          max_level: int = 30) -> np.ndarray:
    """Conservative covering of one region adapter (``may_intersect_cells``
    and ``contains_points_batch``): the one-owner call of
    ``_level_sync_coverings``, where a cell whose 4 true vertices the
    region contains stops refining."""

    def admit(cells: np.ndarray, owner: np.ndarray):
        keep = np.asarray(region.may_intersect_cells(cells), bool)
        return keep, ct.cell_vertices_xyz(cells[keep])

    def contained(verts: np.ndarray, owner: np.ndarray) -> np.ndarray:
        flat = verts.reshape(-1, 3)
        inside = region.contains_points_batch(flat[:, 0], flat[:, 1],
                                              flat[:, 2])
        return np.asarray(inside, bool).reshape(len(verts), 4).all(axis=1)

    return _level_sync_coverings(1, admit, contained, max_cells,
                                 max_level)[0]


def polyline_coverings_batch(verts_list: list[np.ndarray],
                             max_cells: int = 64,
                             max_level: int = 30) -> list[np.ndarray]:
    """Batched ``conservative_covering(TruePolylineRegion(v))`` for many
    polylines at once — per-line results are identical (one admit
    rule, ``_polyline_admit``), but the level-synchronous loop runs
    ONCE over the concatenated frontier of every line, amortizing the
    ~150 small-array numpy calls per line into ~10 large-array calls
    per level.  Measured 20-70x per-line speedup at budgets 8-64 on
    4-vertex lines.  Polylines have no interior, so no cell is ever
    contained."""
    if not verts_list:
        return []
    admit = _polyline_admit(verts_list)
    return _level_sync_coverings(
        len(verts_list), lambda cells, owner: (admit(cells, owner), None),
        None, max_cells, max_level)


def cap_coverings_batch(caps: list, max_cells: int = 8,
                        max_level: int = 30) -> list[np.ndarray]:
    """Batched ``conservative_covering(TrueCapRegion(cap))`` for a list
    of ``S2Cap``: per-cap results are identical.  A front for
    ``_cap_coverings``, which takes the caps as arrays."""
    return _cap_coverings(
        np.array([[c.cx, c.cy, c.cz] for c in caps], np.float64),
        np.array([c.radius_l2 for c in caps], np.float64),
        max_cells, max_level,
    )


def _cap_coverings(center: np.ndarray, radius_l2: np.ndarray,
                   max_cells: int, max_level: int) -> list[np.ndarray]:
    """Conservative coverings of L caps given as (L,3) unit centers and
    (L,) squared-chord radii — the same per-cap results as
    ``conservative_covering(TrueCapRegion(cap))`` (same ``_cap_admit``
    and the squared-chord-vs-radius_l2 vertex containment), in one
    ``_level_sync_coverings`` call.  Each level builds its children's
    centers and vertices once: the containment test reuses the
    admitted children's vertices."""
    radius = chord.to_radians(radius_l2)

    def admit(cells: np.ndarray,
              owner: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Admit mask over cells, and the (kept, 4, 3) vertices."""
        centers, r_cell, verts = _cell_bounding_caps(cells)
        keep = _cap_admit(centers, r_cell, center[owner], radius[owner])
        return keep, verts[keep]

    def contained(verts: np.ndarray, owner: np.ndarray) -> np.ndarray:
        d = verts - center[owner][:, None, :]
        d2 = np.minimum(np.einsum("nkd,nkd->nk", d, d), 4.0)
        return (d2 <= radius_l2[owner][:, None]).all(axis=1)

    return _level_sync_coverings(len(radius_l2), admit, contained,
                                 max_cells, max_level)


def conservative_region_from_row(row) -> object:
    kind = row["kind"]
    base = region_from_row(row)
    if kind == "loop":
        return TrueLoopRegion(base.loop)
    if kind == "cap":
        return TrueCapRegion(base.cap)
    if kind == "rect":
        return TrueRectRegion(base.rect)
    # polygon: region_from_row's adapter is the conservative one;
    # union: id-space containment is exact already
    return base


def conservative_coverings(rows, max_cells: int,
                           max_level: int = 30) -> list[np.ndarray]:
    """Join-filter coverings of many regions rows, in row order — the one
    builder behind both spatial-join paths.  Cap rows are decoded
    column-wise (center and squared-chord radius arrays, the same
    kernels and results as ``region_from_row``) and share one batched
    level-synchronous loop (``_cap_coverings``, identical per-cap
    results); every other row takes
    ``conservative_covering(conservative_region_from_row(row))``."""
    cap_pos = [i for i, row in enumerate(rows) if row["kind"] == "cap"]
    p = np.array([[rows[i]["p0"], rows[i]["p1"], rows[i]["p2"]]
                  for i in cap_pos], np.float64).reshape(-1, 3)
    x, y, z = lk.latlng_to_xyz(lk.degrees_to_radians(p[:, 0]),
                               lk.degrees_to_radians(p[:, 1]))
    caps = dict(zip(cap_pos, _cap_coverings(
        np.stack([x, y, z], axis=1),
        radius_l2_from_radians(lk.degrees_to_radians(p[:, 2])),
        max_cells, max_level,
    )))
    return [
        caps[i] if i in caps else conservative_covering(
            conservative_region_from_row(row), max_cells=max_cells,
            max_level=max_level,
        )
        for i, row in enumerate(rows)
    ]


def cover_regions(regions: DataFrame, max_cells: int = 8,
                  min_level: int = 0, max_level: int = 30,
                  level_mod: int = 1, interior: bool = False,
                  conservative: bool = False) -> DataFrame:
    """regions df (fixtures.REGIONS_SCHEMA) -> exploded coverings.

    conservative=False: reference-parity coverings (region_coverer.rs
    semantics, incl. its vertex-sampling may_intersect quirks) of cap,
    rect, loop and union rows; a polygon row raises ``ValueError``.
    conservative=True: true-geometry adapters — the covering is a sound
    superset of the region in leaf-id space; REQUIRED when the covering
    is used as a join filter.  Built by ``conservative_coverings``, the
    same builder as the spatial join's literal path.
    """
    opts = CovererOptions(
        max_cells=max_cells, min_level=min_level,
        max_level=max_level, level_mod=level_mod,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        coverer = S2RegionCoverer(opts)
        cover = (coverer.get_interior_covering if interior
                 else coverer.get_covering)
        for b in batches:
            # plain dicts, not b.iloc[i] / iterrows(): a pandas row
            # Series costs ~150 us per region, a third of what the
            # batched cap covering itself spends per cap
            rows = b.to_dict("records")
            if conservative:
                covs = conservative_coverings(rows, max_cells, max_level)
            elif any(row["kind"] == "polygon" for row in rows):
                raise ValueError(
                    "parity coverings cover cap/rect/loop/union rows; "
                    "polygon rows need conservative=True"
                )
            else:
                covs = [cover(region_from_row(row)) for row in rows]
            out_region, out_cell = [], []
            for row, ids in zip(rows, covs):
                out_region.extend([row["region_id"]] * len(ids))
                out_cell.append(np.asarray(ids, dtype=np.uint64))
            cells = (
                np.concatenate(out_cell)
                if out_cell
                else np.array([], dtype=np.uint64)
            )
            yield pd.DataFrame(
                {
                    "region_id": out_region,
                    "cell_id": cells.view(np.int64),
                    "level": ck.level(cells),
                    "cell_min": ck.range_min(cells).view(np.int64),
                    "cell_max": ck.range_max(cells).view(np.int64),
                }
            )

    return regions.mapInPandas(run, COVERINGS_SCHEMA)
