"""S2Cap (mirrors /root/reference/src/cap.rs).

Center is a unit xyz, radius stored as squared chord length (length2).
Includes the reference's hardcoded "precision fix" special cases in
``may_intersect`` (cap.rs:498-575) — minus its debug eprintln output —
because the coverer's covering sets can depend on them.
"""

from __future__ import annotations

import math

import numpy as np
from dataclasses import dataclass


from . import chord
from . import coords
from . import latlng as ll
from .cells import S2Cell
from .intervals import R1Interval, S1Interval
from .rects import S2LatLngRect

PI = math.pi
PI_2 = math.pi / 2.0
_EPSILON = float(np.finfo(np.float64).eps)


def _interpolate(a: np.ndarray, b: np.ndarray, t: float) -> np.ndarray:
    """S2Point::interpolate (point.rs:148-176): slerp with the
    reference's EPSILON shortcuts at t≈0/1, tiny angles, and the linear
    fallback for antipodal points."""
    if abs(t) < _EPSILON:
        return a.copy()
    if abs(t - 1.0) < _EPSILON:
        return b.copy()
    dot = float(np.clip(a @ b, -1.0, 1.0))
    angle = math.acos(dot)
    if abs(angle) < _EPSILON:
        return a.copy()
    sin_angle = math.sin(angle)
    if abs(sin_angle) < _EPSILON:
        out = a * (1.0 - t) + b * t
        n = np.linalg.norm(out)
        return out / n if n > 0 else a.copy()
    out = a * (math.sin((1.0 - t) * angle) / sin_angle) + b * (
        math.sin(t * angle) / sin_angle
    )
    return out / np.linalg.norm(out)


def radius_l2_from_radians(r):
    """Cap radius angle -> squared chord, vectorized (cap.rs
    from_center_angle): Rust f64::min returns the non-NaN operand, so a
    NaN radius (e.g. S2Cell::get_cap_bound's unclamped asin for coarse
    cells, cell.rs:485) saturates to PI = a full cap, as does any radius
    past PI."""
    r = np.asarray(r, dtype=np.float64)
    return chord.from_radians(np.where(np.isnan(r), PI, np.minimum(r, PI)))


@dataclass
class S2Cap:
    cx: float
    cy: float
    cz: float
    radius_l2: float  # squared chord length; -1 => empty, 4 => full

    # -- constructors ------------------------------------------------------

    @staticmethod
    def from_center_angle(center_xyz, radius_radians: float) -> "S2Cap":
        return S2Cap(center_xyz[0], center_xyz[1], center_xyz[2],
                     float(radius_l2_from_radians(radius_radians)))

    @staticmethod
    def from_center_degrees(center_xyz, radius_deg: float) -> "S2Cap":
        return S2Cap.from_center_angle(
            center_xyz, float(ll.degrees_to_radians(radius_deg)))

    @staticmethod
    def from_center_height(center_xyz, height: float) -> "S2Cap":
        return S2Cap(center_xyz[0], center_xyz[1], center_xyz[2],
                     float(chord.from_length2(2.0 * height)))

    @staticmethod
    def from_center_chord_angle(center_xyz, length2: float) -> "S2Cap":
        """cap.rs:66-71: direct (center, squared-chord radius)."""
        x, y, z = (float(v) for v in center_xyz)
        return S2Cap(x, y, z, float(length2))

    @staticmethod
    def from_center_area(center_xyz, area: float) -> "S2Cap":
        """cap.rs:102-112: radius length2 = area / pi (area == solid
        angle on the unit sphere; negative -> empty, >= 4pi -> full,
        clamped through chord.from_length2 like every chord angle)."""
        x, y, z = (float(v) for v in center_xyz)
        return S2Cap(x, y, z, float(chord.from_length2(float(area) / PI)))

    @staticmethod
    def from_point(center_xyz) -> "S2Cap":
        return S2Cap(center_xyz[0], center_xyz[1], center_xyz[2], 0.0)

    @staticmethod
    def empty() -> "S2Cap":
        return S2Cap(1.0, 0.0, 0.0, -1.0)

    @staticmethod
    def full() -> "S2Cap":
        return S2Cap(1.0, 0.0, 0.0, 4.0)

    # -- basic properties ----------------------------------------------------

    def is_empty(self) -> bool:
        return self.radius_l2 < 0.0

    def is_full(self) -> bool:
        return self.radius_l2 == 4.0

    def height(self) -> float:
        return 0.5 * self.radius_l2

    def get_radius_radians(self) -> float:
        return float(chord.to_radians(self.radius_l2))

    def get_area(self) -> float:
        return 2.0 * PI * max(0.0, self.height())

    def complement(self) -> "S2Cap":
        if self.is_full():
            return S2Cap.empty()
        if self.is_empty():
            return S2Cap.full()
        return S2Cap(-self.cx, -self.cy, -self.cz,
                     float(chord.from_length2(4.0 - self.radius_l2)))

    # -- containment -----------------------------------------------------------

    def contains_points_batch(self, x, y, z):
        """Vectorized point containment (cap.rs:227-237); the cap fields
        may themselves be arrays, one cap per point."""
        d2 = chord.between_points(self.cx, self.cy, self.cz, x, y, z)
        return d2 <= self.radius_l2

    def contains_point(self, x: float, y: float, z: float) -> bool:
        return bool(self.contains_points_batch(x, y, z))

    def interior_contains_point(self, x, y, z) -> bool:
        return float(chord.between_points(self.cx, self.cy, self.cz, x, y, z)) < self.radius_l2

    def contains_cap(self, other: "S2Cap") -> bool:
        if self.is_full() or other.is_empty():
            return True
        d = float(chord.between_points(self.cx, self.cy, self.cz,
                                       other.cx, other.cy, other.cz))
        return self.radius_l2 >= float(chord.add(d, other.radius_l2))

    def intersects(self, other: "S2Cap") -> bool:
        if self.is_empty() or other.is_empty():
            return False
        d = float(chord.between_points(self.cx, self.cy, self.cz,
                                       other.cx, other.cy, other.cz))
        return float(chord.add(self.radius_l2, other.radius_l2)) >= d

    def add_point(self, x: float, y: float, z: float) -> None:
        if self.is_empty():
            self.cx, self.cy, self.cz = x, y, z
            self.radius_l2 = 0.0
        else:
            d = float(chord.between_points(self.cx, self.cy, self.cz, x, y, z))
            self.radius_l2 = max(self.radius_l2, d)

    def interior_intersects(self, other: "S2Cap") -> bool:
        """cap.rs:272-279: open-interior overlap."""
        if self.radius_l2 <= 0.0 or other.is_empty():
            return False
        d = float(chord.between_points(self.cx, self.cy, self.cz,
                                       other.cx, other.cy, other.cz))
        return float(chord.add(self.radius_l2, other.radius_l2)) > d

    def union(self, other: "S2Cap") -> "S2Cap":
        """Smallest-cap union (cap.rs:327-401 incl. its weighted-average
        overlap branch — NOT the canonical optimal construction)."""
        if self.is_full() or other.is_empty():
            return S2Cap(self.cx, self.cy, self.cz, self.radius_l2)
        if other.is_full() or self.is_empty():
            return S2Cap(other.cx, other.cy, other.cz, other.radius_l2)
        d_l2 = float(chord.between_points(self.cx, self.cy, self.cz,
                                          other.cx, other.cy, other.cz))
        if self.radius_l2 >= float(chord.add(d_l2, other.radius_l2)):
            return S2Cap(self.cx, self.cy, self.cz, self.radius_l2)
        if other.radius_l2 >= float(chord.add(d_l2, self.radius_l2)):
            return S2Cap(other.cx, other.cy, other.cz, other.radius_l2)
        self_ang = self.get_radius_radians()
        other_ang = other.get_radius_radians()
        dist_ang = float(chord.to_radians(d_l2))
        c0 = np.array([self.cx, self.cy, self.cz])
        c1 = np.array([other.cx, other.cy, other.cz])
        if self_ang + other_ang >= dist_ang:
            # overlap: weighted-average center (reference quirk)
            total = self_ang + other_ang
            w = self_ang / total if total > 0.0 else 0.5
            center = _interpolate(c0, c1, 1.0 - w)
        else:
            # disjoint: optimal center on the connecting geodesic
            total_span = dist_ang + self_ang + other_ang
            if total_span / 2.0 >= PI:
                return S2Cap.full()
            off = (dist_ang + self_ang - other_ang) / 2.0
            t = off / dist_ang if dist_ang != 0.0 else 0.0
            center = _interpolate(c0, c1, float(np.clip(t, 0.0, 1.0)))
        r_self = chord.add(
            chord.between_points(center[0], center[1], center[2],
                                 self.cx, self.cy, self.cz),
            self.radius_l2,
        )
        r_other = chord.add(
            chord.between_points(center[0], center[1], center[2],
                                 other.cx, other.cy, other.cz),
            other.radius_l2,
        )
        return S2Cap(float(center[0]), float(center[1]), float(center[2]),
                     float(max(float(r_self), float(r_other))))

    def add_cap(self, other: "S2Cap") -> None:
        """Grow to include the other cap (cap.rs:303-311: empty adopts
        other; otherwise delegates to union)."""
        if self.is_empty():
            self.cx, self.cy, self.cz = other.cx, other.cy, other.cz
            self.radius_l2 = other.radius_l2
        elif not other.is_empty():
            u = self.union(other)
            self.cx, self.cy, self.cz = u.cx, u.cy, u.cz
            self.radius_l2 = u.radius_l2

    def expanded(self, distance_radians: float) -> "S2Cap":
        if self.is_empty():
            return S2Cap(self.cx, self.cy, self.cz, self.radius_l2)
        new_r = self.get_radius_radians() + distance_radians
        if new_r >= PI:
            return S2Cap.full()
        return S2Cap.from_center_angle((self.cx, self.cy, self.cz), new_r)

    # -- cell interaction (cap.rs:498-666) --------------------------------------

    def contains_cell(self, cell: S2Cell) -> bool:
        if self.is_empty():
            return False
        if self.is_full():
            return True
        for k in range(4):
            vx, vy, vz = cell.get_vertex(k)
            if not self.contains_point(float(vx), float(vy), float(vz)):
                return False
        return True

    def may_intersect(self, cell: S2Cell) -> bool:
        """cap.rs:498-540 incl. the two hardcoded boundary special cases."""
        l2 = self.radius_l2
        is_specific_boundary_case = (
            self.cy == -1.0 and self.cx == 0.0 and self.cz == 0.0
            and cell.face == 0
            and ((0.845 < l2 < 0.846) or (0.585 < l2 < 0.587)))
        if is_specific_boundary_case:
            return False

        vertices = []
        for k in range(4):
            vx, vy, vz = cell.get_vertex(k)
            vertices.append((float(vx), float(vy), float(vz)))
            if self._contains_with_precision_context(vertices[k], cell):
                return True
        return self._intersects_cell(cell, vertices)

    def _contains_with_precision_context(self, p, cell: S2Cell) -> bool:
        """cap.rs:545-575."""
        d2 = float(chord.between_points(self.cx, self.cy, self.cz,
                                        p[0], p[1], p[2]))
        diff = d2 - self.radius_l2
        is_exact_boundary_case = (
            0.845 < self.radius_l2 < 0.846
            and -2e-15 < diff < 0.0
            and self.cy == -1.0 and self.cx == 0.0 and self.cz == 0.0
            and cell.face == 0)
        if is_exact_boundary_case:
            return False
        return d2 <= self.radius_l2

    def _intersects_cell(self, cell: S2Cell, vertices) -> bool:
        """cap.rs:578-645 (vertices already checked by caller)."""
        if self.radius_l2 >= 2.0:  # >= 90 degrees
            return False
        if self.is_empty():
            return False
        center = (self.cx, self.cy, self.cz)
        if abs(self.radius_l2 - 0.0) < 1e-15:
            point_face = int(coords.get_face(center[0], center[1], center[2]))
            return (bool(cell.contains_point(*center)) and cell.face == point_face)
        if bool(cell.contains_point(*center)):
            return True

        sin2_angle = math.sin(self.get_radius_radians()) ** 2
        for k in range(4):
            ex, ey, ez = cell.get_edge_raw(k)
            dot = center[0] * ex + center[1] * ey + center[2] * ez
            if dot > 0.0:
                continue
            edge_len2 = ex * ex + ey * ey + ez * ez
            if dot * dot > sin2_angle * edge_len2:
                return False
            dx = ey * center[2] - ez * center[1]
            dy = ez * center[0] - ex * center[2]
            dz = ex * center[1] - ey * center[0]
            v1 = vertices[k]
            v2 = vertices[(k + 1) & 3]
            v1_dot = dx * v1[0] + dy * v1[1] + dz * v1[2]
            v2_dot = dx * v2[0] + dy * v2[1] + dz * v2[2]
            if v1_dot < 0.0 and v2_dot > 0.0:
                return True
        return False

    # -- bounds (cap.rs:422-495) --------------------------------------------------

    def get_rect_bound(self) -> S2LatLngRect:
        if self.is_empty():
            return S2LatLngRect.empty()
        if self.is_full():
            return S2LatLngRect.full()

        center_lat = float(ll.xyz_to_lat(self.cx, self.cy, self.cz))
        center_lng = float(ll.xyz_to_lng(self.cx, self.cy, self.cz))
        radius = self.get_radius_radians()

        if center_lat + radius >= PI_2:
            lat = R1Interval(max(center_lat - radius, -PI_2), PI_2)
        elif center_lat - radius <= -PI_2:
            lat = R1Interval(-PI_2, min(center_lat + radius, PI_2))
        else:
            lat = R1Interval(center_lat - radius, center_lat + radius)

        if (radius >= PI_2 or center_lat + radius >= PI_2
                or center_lat - radius <= -PI_2):
            lng = S1Interval.full()
        else:
            cos_lat = math.cos(center_lat)
            if cos_lat < 1e-10:
                lng = S1Interval.full()
            else:
                sin_a = math.sin(radius)
                sin_c = cos_lat
                if sin_a > sin_c:
                    lng = S1Interval.full()
                else:
                    angle_a = math.asin(sin_a / sin_c)
                    lo = (center_lng - angle_a) % (2.0 * PI)
                    hi = (center_lng + angle_a) % (2.0 * PI)
                    norm_lo = lo - 2.0 * PI if lo > PI else lo
                    norm_hi = hi - 2.0 * PI if hi > PI else hi
                    lng = S1Interval.new(norm_lo, norm_hi)
        return S2LatLngRect(lat, lng)
