"""S2Loop — spherical polygons with winding-number containment.

Mirrors ``/root/reference/src/loop.rs``.  The point-in-polygon kernel is
the reference's winding-number sign-sum (loop.rs:372-394, NOT canonical
crossing-parity): a point is inside iff

    sum_i robust_sign(p, v_i, v_{i+1})  !=  0

``contains_points_batch`` vectorizes the triage determinant over all
(point, edge) pairs and falls back to exact arithmetic only on flagged
pairs — this is THE hot kernel behind the spatial join's refine stage.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from . import latlng as ll
from . import predicates as pred
from .rects import S2LatLngRect

PI = math.pi
EPS = float(np.finfo(np.float64).eps)


@dataclass
class S2Loop:
    """vertices: (n,3) float64 array of unit points, CCW interior-left."""

    vertices: np.ndarray
    depth: int = 0
    origin_inside: bool = field(init=False, default=False)
    bound: S2LatLngRect = field(init=False, default=None)
    valid: bool = field(init=False, default=True)
    invalid_reason: str = field(init=False, default="")

    def __post_init__(self):
        self.vertices = np.asarray(self.vertices, dtype=np.float64).reshape(-1, 3)
        self.valid, self.invalid_reason = self._validate()
        self._init_origin_and_bound()

    # -- construction -------------------------------------------------------

    @staticmethod
    def from_degrees(latlngs) -> "S2Loop":
        """make_loop_from_degrees analogue
        (tests/test_s2loop_port.rs:144-153): from_degrees().to_point()."""
        lat = ll.degrees_to_radians(np.asarray([p[0] for p in latlngs], dtype=np.float64))
        lng = ll.degrees_to_radians(np.asarray([p[1] for p in latlngs], dtype=np.float64))
        x, y, z = ll.latlng_to_xyz(lat, lng)
        return S2Loop(np.stack([x, y, z], axis=-1))

    @staticmethod
    def from_cell(cell) -> "S2Loop":
        """loop.rs:90-99: the 4 cell vertices (normalized) as a loop.
        NOTE: with the reference's pinned-UV cell bounds (SURVEY.md
        §8.2) many cells' vertex quads self-cross, so the reference's
        `.expect("valid")` would PANIC there; the engine surfaces the
        same validation verdict non-fatally as loop.valid=False."""
        return S2Loop(np.array([cell.get_vertex(k) for k in range(4)]))

    @staticmethod
    def make_regular_loop(center_xyz, radius_radians: float,
                          num_vertices: int) -> "S2Loop":
        """loop.rs:580-613: regular polygon of ``num_vertices`` points
        at angular ``radius_radians`` around ``center_xyz`` — an
        orthonormal frame with the center as z-axis, vertices at equal
        angle steps in the tangent plane projected onto the sphere.
        The reference returns S2Error for < 3 vertices -> ValueError
        here."""
        if num_vertices < 3:
            raise ValueError("Regular loop needs at least 3 vertices")
        z = np.asarray(center_xyz, dtype=np.float64)
        ref = (np.array([0.0, 0.0, 1.0]) if abs(z[2]) < 0.9
               else np.array([1.0, 0.0, 0.0]))
        x = np.cross(ref, z)
        x = x / np.linalg.norm(x)
        y = np.cross(z, x)
        step = 2.0 * PI / num_vertices
        cr, sr = math.cos(radius_radians), math.sin(radius_radians)
        verts = []
        for i in range(num_vertices):
            a = i * step
            local = math.cos(a) * x + math.sin(a) * y
            verts.append(cr * z + sr * local)
        return S2Loop(np.array(verts))

    @staticmethod
    def empty() -> "S2Loop":
        return S2Loop(np.array([[0.0, 0.0, 1.0]]))

    @staticmethod
    def full() -> "S2Loop":
        return S2Loop(np.array([[0.0, 0.0, -1.0]]))

    # -- structure ------------------------------------------------------------

    def num_vertices(self) -> int:
        return len(self.vertices)

    def is_empty_or_full(self) -> bool:
        return len(self.vertices) == 1

    def is_empty(self) -> bool:
        return self.is_empty_or_full() and not self.origin_inside

    def is_full(self) -> bool:
        return self.is_empty_or_full() and self.origin_inside

    # -- validation (loop.rs:123-175) ------------------------------------------

    def _validate(self):
        v = self.vertices
        n = len(v)
        if self.is_empty_or_full():
            return True, ""
        if n < 3:
            return False, "Loop must have at least 3 vertices"
        # duplicate vertices (glam abs_diff_eq: all |d| <= eps)
        for i in range(n):
            d = np.abs(v - v[i])
            dup = np.all(d <= EPS, axis=1)
            dup[i] = False
            if np.any(dup[i + 1:]):
                return False, "Loop has duplicate vertices"
        # self-intersection via crossing_sign with the reference's skip rule
        for i in range(n):
            ni = (i + 1) % n
            for j in range(i + 2, n):
                if j == n - 1 and i == 0:
                    continue
                nj = (j + 1) % n
                crossing = int(pred.crossing_sign_batch(
                    v[i][None], v[ni][None], v[j][None], v[nj][None])[0])
                if crossing > 0:
                    return False, "Loop edges cross"
        return True, ""

    # -- origin / bound (loop.rs:178-237) ----------------------------------------

    def _init_origin_and_bound(self):
        if self.is_empty_or_full():
            self.origin_inside = self.vertices[0][2] < 0.0
            self.bound = S2LatLngRect.full() if self.origin_inside else S2LatLngRect.empty()
            return
        self.origin_inside = self._contains_origin()
        self.bound = self._compute_rect_bound()

    def _contains_origin(self) -> bool:
        origin = np.array([0.0, 0.0, 1.0])
        n = len(self.vertices)
        a = np.broadcast_to(origin, (n, 3))
        b = self.vertices
        c = np.roll(self.vertices, -1, axis=0)
        return int(pred.sign_batch(a, b, c).sum()) != 0

    def _compute_rect_bound(self) -> S2LatLngRect:
        rect = S2LatLngRect.empty()
        for vx, vy, vz in self.vertices:
            rect.add_point(float(ll.xyz_to_lat(vx, vy, vz)),
                           float(ll.xyz_to_lng(vx, vy, vz)))
        return rect.expanded(1e-15, 1e-15)

    # -- containment ---------------------------------------------------------------

    def contains_points_batch(self, x, y, z) -> np.ndarray:
        """Vectorized winding-number PIP.

        For each point p: sum over edges of robust_sign(p, v_i, v_{i+1});
        inside iff the sum is POSITIVE.

        NOTE on the reference: loop.rs:372-394 tests ``sign_sum != 0``,
        but that contradicts the reference's own unit tests (e.g.
        tests/test_s2loop_port.rs:315-318 asserts
        ``!north_hemi.contains(south_pole)``, while the != 0 rule yields
        sum == -4 => "inside").  The north star pins behavior to the
        reference's *tests*, so this engine uses the signed rule
        (sum > 0), which satisfies every containment assertion in
        tests/test_s2loop_port.rs.

        The triage determinant (p x v_i) . v_{i+1} is evaluated for all
        (point, edge) pairs at once; only |det| <= threshold pairs take
        the exact-arithmetic path.
        """
        if self.is_empty():
            return np.zeros(np.shape(x), dtype=bool)
        if self.is_full():
            return np.ones(np.shape(x), dtype=bool)
        p = np.stack([np.asarray(x, dtype=np.float64),
                      np.asarray(y, dtype=np.float64),
                      np.asarray(z, dtype=np.float64)], axis=-1)
        flat = p.reshape(-1, 3)
        v = self.vertices
        # (n_pts, n_edges) robust signs of (p, v_i, v_{i+1})
        signs = pred.sign_batch(flat[:, None, :], v[None, :, :],
                                np.roll(v, -1, axis=0)[None, :, :])
        inside = signs.sum(axis=1) > 0
        return inside.reshape(np.shape(x))

    def contains_point(self, x: float, y: float, z: float) -> bool:
        return bool(self.contains_points_batch(
            np.asarray([x]), np.asarray([y]), np.asarray([z]))[0])

    def _has_proper_crossing(self, other: "S2Loop") -> bool:
        """Any edge of self properly (interior-)crosses any edge of
        other — crossing_sign_complete == +1 over the all-pairs edge
        grid (the geometrically complete rule, NOT the reference's
        divergent two-product test; see
        predicates.crossing_sign_complete_batch).  Loops are small
        per-geometry objects, so the O(n*m) vectorized grid is the
        right kernel shape; the distributed join path indexes
        candidates instead."""
        a0 = self.vertices
        a1 = np.roll(self.vertices, -1, axis=0)
        b0 = other.vertices
        b1 = np.roll(other.vertices, -1, axis=0)
        na, nb = len(a0), len(b0)
        A0 = np.repeat(a0, nb, axis=0)
        A1 = np.repeat(a1, nb, axis=0)
        B0 = np.tile(b0, (na, 1))
        B1 = np.tile(b1, (na, 1))
        return bool(np.any(
            pred.crossing_sign_complete_batch(A0, A1, B0, B1) == 1))

    def contains_loop(self, other: "S2Loop", strict: bool = False) -> bool:
        """Default: vertex-containment only (loop.rs:397-415; the
        edge-crossing completion is a pinned TODO in the reference —
        parity preserved).  ``strict=True`` opts into the completed
        predicate: all of other's vertices contained AND no edge of
        other properly crosses an edge of self (general-position
        loops; shared-vertex tangencies follow the vertex rule)."""
        if self.is_full() or other.is_empty():
            return True
        if self.is_empty() or other.is_full():
            return False
        base = bool(np.all(self.contains_points_batch(
            other.vertices[:, 0], other.vertices[:, 1], other.vertices[:, 2])))
        if not strict:
            return base
        return base and not self._has_proper_crossing(other)

    def intersects(self, other: "S2Loop", strict: bool = False) -> bool:
        """Default: vertex-probing only (loop.rs:418-441) — two loops
        that cross WITHOUT containing each other's vertices yield a
        (reference-faithful) wrong ``False``.  ``strict=True`` opts
        into the completed predicate: vertex probe OR any proper edge
        crossing."""
        if self.is_empty() or other.is_empty():
            return False
        if self.is_full() or other.is_full():
            return True
        if bool(np.any(other.contains_points_batch(
                self.vertices[:, 0], self.vertices[:, 1], self.vertices[:, 2]))):
            return True
        base = bool(np.any(self.contains_points_batch(
            other.vertices[:, 0], other.vertices[:, 1], other.vertices[:, 2])))
        if not strict:
            return base
        return base or self._has_proper_crossing(other)

    # -- metrics (loop.rs:322-369) ----------------------------------------------------

    def get_area(self) -> float:
        """The reference's non-canonical signed-excess variant
        (loop.rs:322-342): sum of sign(0, v_i, v_{i+1}) * acos(v_i . v_{i+1}),
        then | |sum| - (n-2)*pi |."""
        if self.is_empty():
            return 0.0
        if self.is_full():
            return 4.0 * PI
        v = self.vertices
        vn = np.roll(v, -1, axis=0)
        zero = np.zeros_like(v)
        s = pred.sign_batch(zero, v, vn).astype(np.float64)
        dots = np.clip(np.sum(v * vn, axis=1), -1.0, 1.0)
        area = float(np.sum(s * np.arccos(dots)))
        return abs(abs(area) - (len(v) - 2.0) * PI)

    def get_curvature(self) -> float:
        return 2.0 * PI - self.get_area()

    def distance_to_boundary_batch(self, x, y, z) -> np.ndarray:
        """get_distance_to_boundary (loop.rs:523-547): min over edges
        of the reference's simplified nearest-vertex "edge distance"
        min(acos(p.a), acos(p.b)) — since every vertex bounds two
        edges, this reduces to the min over VERTICES of acos(p.v).
        Reference float quirks kept: acos of a dot outside [-1, 1] is
        NaN, and NaN loses both Rust's f64::min and the `<`
        accumulation, so out-of-range dots are skipped; the result is
        +inf for an empty-or-full loop (S1Angle::infinity) or when
        every dot is out of range."""
        shape = np.shape(x)
        if self.is_empty_or_full():
            return np.full(shape, np.inf)
        p = np.stack([np.asarray(x, dtype=np.float64),
                      np.asarray(y, dtype=np.float64),
                      np.asarray(z, dtype=np.float64)], axis=-1).reshape(-1, 3)
        # elementwise mul + left-assoc adds, NOT BLAS matmul: the
        # reference's scalar x*ax + y*ay + z*az must be matched
        # bit-for-bit (BLAS fuses/reorders and drifts the last ulp)
        v = self.vertices
        dots = (p[:, 0:1] * v[:, 0][None, :]
                + p[:, 1:2] * v[:, 1][None, :]
                + p[:, 2:3] * v[:, 2][None, :])
        # libm acos per element, NOT np.arccos: numpy's SIMD arccos
        # drifts the last ulp vs the libm acos Rust f64::acos calls.
        # Parity twin, not a hot path (the distributed op is the
        # codegen join in geom_aggs.nearest_boundary_join).
        d = np.empty_like(dots)
        df, dd = d.ravel(), dots.ravel()
        for i in range(dd.size):
            val = dd[i]
            df[i] = math.acos(val) if -1.0 <= val <= 1.0 else math.nan
        d = np.where(np.isnan(d), np.inf, d)
        return d.min(axis=1).reshape(shape)

    def project_to_boundary_batch(self, x, y, z) -> np.ndarray:
        """project_to_boundary (loop.rs:558-577): the nearest VERTEX by
        squared Euclidean distance — strict `<` scan from vertex 0, so
        the EARLIEST vertex wins ties (np.argmin's first-occurrence
        rule is exactly that scan); empty-or-full returns the point
        unchanged.  Returns an (n, 3) array."""
        p = np.stack([np.asarray(x, dtype=np.float64),
                      np.asarray(y, dtype=np.float64),
                      np.asarray(z, dtype=np.float64)], axis=-1).reshape(-1, 3)
        if self.is_empty_or_full():
            return p
        diff = p[:, None, :] - self.vertices[None, :, :]
        d2 = (diff * diff).sum(axis=-1)
        return self.vertices[np.argmin(d2, axis=1)]

    def project_batch(self, x, y, z) -> np.ndarray:
        """project (loop.rs:549-556): the point itself when contained,
        else project_to_boundary."""
        p = np.stack([np.asarray(x, dtype=np.float64),
                      np.asarray(y, dtype=np.float64),
                      np.asarray(z, dtype=np.float64)], axis=-1).reshape(-1, 3)
        inside = self.contains_points_batch(
            p[:, 0], p[:, 1], p[:, 2]
        ).ravel()
        out = self.project_to_boundary_batch(p[:, 0], p[:, 1], p[:, 2])
        return np.where(inside[:, None], p, out)

    def get_centroid(self):
        """Simple vertex mean (loop.rs:345-364, NOT area-weighted)."""
        if self.is_empty_or_full():
            return (0.0, 0.0, 0.0)
        c = self.vertices.sum(axis=0)
        n2 = float(c @ c)
        if n2 > 0.0:
            c = c * (1.0 / math.sqrt(n2))
            return (float(c[0]), float(c[1]), float(c[2]))
        return (0.0, 0.0, 0.0)

    def boundary_equals(self, other: "S2Loop") -> bool:
        """loop.rs:443-467: same vertex cycle up to rotation, each
        component within 1e-15 (abs_diff_eq); empty/full compared by
        kind."""
        n = self.num_vertices()
        if n != other.num_vertices():
            return False
        if self.is_empty_or_full() and other.is_empty_or_full():
            return self.is_empty() == other.is_empty()
        for offset in range(n):
            rolled = np.roll(other.vertices, -offset, axis=0)
            if np.all(np.abs(self.vertices - rolled) <= 1e-15):
                return True
        return False

    def get_curvature_max_error(self) -> float:
        """loop.rs:505-509 (simplified bound): 1e-14 * n."""
        return 1e-14 * self.num_vertices()

    def get_rect_bound(self) -> S2LatLngRect:
        return self.bound

    def invert(self) -> None:
        if self.is_empty_or_full():
            self.vertices = np.array([[0.0, 0.0, -1.0]]) if self.is_empty() \
                else np.array([[0.0, 0.0, 1.0]])
            self.origin_inside = not self.origin_inside
            self.bound = S2LatLngRect.full() if self.origin_inside else S2LatLngRect.empty()
        else:
            self.vertices = self.vertices[::-1].copy()
            self.origin_inside = not self.origin_inside

    def is_normalized(self) -> bool:
        return self.get_area() <= 2.0 * PI

    def normalize(self) -> None:
        if not self.is_normalized():
            self.invert()


@dataclass
class S2Polygon:
    """Polygon with holes: loops[0] is the shell, every further loop a
    hole — positional semantics, exactly S2PolygonShape
    (polygon_shape.rs:78-95, 236-258).  ``is_hole`` on a loop is
    depth & 1 (loop.rs:269-281); the reference's shape container
    ignores depth for containment and trusts position, so this does
    too."""

    loops: list

    def num_loops(self) -> int:
        return len(self.loops)

    def shell(self):
        return self.loops[0] if self.loops else None

    def holes(self) -> list:
        return self.loops[1:]

    def is_empty(self) -> bool:
        return not self.loops or all(
            lp.num_vertices() == 0 for lp in self.loops
        )

    @staticmethod
    def from_degrees(loops_latlng) -> "S2Polygon":
        return S2Polygon([S2Loop.from_degrees(v) for v in loops_latlng])

    def contains_points_batch(self, x, y, z) -> np.ndarray:
        """polygon_shape.rs:236-258: inside the shell AND not inside
        any hole — each loop test is the winding PIP
        (loop.rs:372-394)."""
        if not self.loops:
            return np.zeros(np.shape(np.asarray(x)), dtype=bool)
        keep = self.loops[0].contains_points_batch(x, y, z)
        for hole in self.loops[1:]:
            if keep.any():
                keep &= ~hole.contains_points_batch(x, y, z)
        return keep

    def contains_point(self, x: float, y: float, z: float) -> bool:
        return bool(self.contains_points_batch(
            np.asarray([x]), np.asarray([y]), np.asarray([z]))[0])


@dataclass
class S2MultiPolygon:
    """Disconnected polygons: contains == any member polygon contains
    (polygon_shape.rs:389-393, S2MultiPolygonShape)."""

    polygons: list

    def is_empty(self) -> bool:
        return not self.polygons or all(p.is_empty() for p in self.polygons)

    def contains_points_batch(self, x, y, z) -> np.ndarray:
        out = np.zeros(np.shape(np.asarray(x)), dtype=bool)
        for poly in self.polygons:
            if out.all():
                break
            out |= poly.contains_points_batch(x, y, z)
        return out

    def contains_point(self, x: float, y: float, z: float) -> bool:
        return bool(self.contains_points_batch(
            np.asarray([x]), np.asarray([y]), np.asarray([z]))[0])
