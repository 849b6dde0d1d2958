"""S2Cap golden parity mirrored from
/root/reference/tests/test_s2cap_port.rs (family-1 suite)."""

import math

import numpy as np
import pytest

from s2_geometry_rust_spark.kernels.caps import S2Cap

PI = math.pi


def _n(x, y, z):
    v = np.array([x, y, z], np.float64)
    v = v / np.linalg.norm(v)
    return (float(v[0]), float(v[1]), float(v[2]))


X = (1.0, 0.0, 0.0)
Y = (0.0, 1.0, 0.0)


def test_basic_empty_full():
    empty, full = S2Cap.empty(), S2Cap.full()
    assert empty.is_empty() and not empty.is_full()
    assert empty.complement().is_full()
    assert full.is_full() and not full.is_empty()
    assert full.complement().is_empty()
    assert full.height() == 2.0
    assert abs(math.degrees(full.get_radius_radians()) - 180.0) < 1e-10


def test_out_of_range_radius():
    # negative radius -> empty; radius > pi -> full (cap.rs constructor
    # clamps via min(r, PI); height >= 2 -> full)
    assert S2Cap.from_center_angle(X, -20.0).is_empty() or (
        S2Cap.from_center_angle(X, -20.0).radius_l2 < 0
    )
    assert S2Cap.from_center_angle(X, 5.0).is_full()
    assert S2Cap.from_center_angle(X, float("inf")).is_full()


def test_empty_full_containment():
    empty, full = S2Cap.empty(), S2Cap.full()
    assert empty.contains_cap(empty)
    assert full.contains_cap(empty)
    assert full.contains_cap(full)


def test_singleton_caps():
    xaxis = S2Cap.from_point(X)
    assert xaxis.contains_point(*X)
    assert not xaxis.contains_point(1.0, 1e-20, 0.0)
    assert xaxis.get_radius_radians() == 0.0
    assert xaxis.height() == 0.0
    yaxis = S2Cap.from_point(Y)
    assert not yaxis.contains_point(*X)
    # complement of a singleton is full; complement of that is empty
    xcomp = xaxis.complement()
    assert xcomp.is_full()
    assert xcomp.contains_point(*X)
    assert xcomp.complement().is_empty()
    assert not xcomp.complement().contains_point(*X)


def test_tiny_cap_accuracy():
    # test_s2cap_port.rs:94-115: tiny caps represent accurately
    tiny_rad = 1e-10
    c = _n(1.0, 2.0, 3.0)
    tiny = S2Cap.from_center_angle(c, tiny_rad)
    t = np.cross(np.array(c), np.array([3.0, 2.0, 1.0]))
    t = t / np.linalg.norm(t)
    inside = np.array(c) + 0.99 * tiny_rad * t
    outside = np.array(c) + 1.01 * tiny_rad * t
    assert tiny.contains_point(*inside)
    assert not tiny.contains_point(*outside)


def test_add_point_grows():
    # cap.rs add_point: growing a singleton to include another point
    cap = S2Cap.from_point(X)
    cap.add_point(*Y)
    assert cap.contains_point(*X)
    assert cap.contains_point(*Y)
    # radius ~ angle between x and y axes = pi/2
    assert abs(cap.get_radius_radians() - PI / 2) < 1e-9


def test_expanded():
    empty = S2Cap.empty()
    assert empty.expanded(0.5).is_empty()
    cap = S2Cap.from_center_angle(X, 0.1)
    grown = cap.expanded(0.05)
    assert grown.get_radius_radians() >= cap.get_radius_radians()
    p = _n(math.cos(0.12), math.sin(0.12), 0.0)
    assert not cap.contains_point(*p)
    assert grown.contains_point(*p)


def test_intersects():
    a = S2Cap.from_center_angle(X, 0.2)
    b = S2Cap.from_center_angle(_n(math.cos(0.3), math.sin(0.3), 0.0), 0.2)
    far = S2Cap.from_center_angle((-1.0, 0.0, 0.0), 0.2)
    assert a.intersects(b)
    assert not a.intersects(far)
    assert not S2Cap.empty().intersects(S2Cap.full())


@pytest.mark.parametrize("area", [4 * PI, 5 * PI, 1e9])
def test_from_center_area_clamps_to_full(area):
    """cap.rs:102-112: an area at or above the sphere's 4pi is the full
    cap, its length2 clamped at 4 like every chord angle."""
    cap = S2Cap.from_center_area(X, area)
    assert cap.is_full()
    assert cap.radius_l2 == 4.0
    assert cap.get_area() <= 4 * PI


def test_from_center_area_round_trips_below_full():
    for area in (0.0, 1e-6, 1.0, PI, 2 * PI, 4 * PI - 1e-9):
        cap = S2Cap.from_center_area(Y, area)
        assert cap.get_area() <= 4 * PI
        assert math.isclose(cap.get_area(), area, rel_tol=1e-12, abs_tol=1e-15)
    assert S2Cap.from_center_area(Y, -1.0).is_empty()
