"""Seeded randomized cell-union property tests mirroring the structure
of /root/reference/tests/test_s2cell_union_port.rs:146-343 (families 2):
contains-input-cells, union/intersection consistency, contains/
intersects consistency.  Property-based (the reference asserts
properties, not golden values), deterministic seeds."""

import numpy as np
import pytest

from s2_geometry_rust_spark.kernels import cellid as ck
from s2_geometry_rust_spark.kernels import unions as ku

U = np.uint64


def normalize_scan(ids) -> np.ndarray:
    """Sort, drop contained, collapse 4 siblings -> parent; the exact
    linear scan of cell_union.rs:600-629.  Parity reference for the
    vectorized ``ku.normalize`` (the normalized form is canonical, so
    both compute identical arrays)."""
    ids = ku._arr(ids)
    ids = np.sort(ids)
    out: list[int] = []
    for raw in ids:
        cur = int(raw)
        if out and bool(ck.contains(U(out[-1]), U(cur))):
            continue
        while out and bool(ck.contains(U(cur), U(out[-1]))):
            out.pop()
        while len(out) >= 3 and ku.are_siblings(out[-3], out[-2], out[-1], cur):
            lv = int(ck.level(U(cur)))
            cur = int(ck.parent(U(cur), lv - 1))
            del out[-3:]
        out.append(cur)
    return np.array(out, dtype=np.uint64)


def expand_scan(ids, expand_level: int) -> np.ndarray:
    """Promote + add (placeholder) neighbors, then normalize
    (cell_union.rs:427-444; neighbors are id-space steps per
    cell_id.rs:696-722).  Parity reference for the vectorized
    ``ku.expand`` (identical output — the order the scan appends in
    is erased by normalize's sort)."""
    ids = ku._arr(ids)
    level_lsb = int(ck.lsb_for_level(expand_level))
    output: list[int] = []
    for raw in ids[::-1]:
        cur = int(raw)
        if int(ck.lsb(U(cur))) < level_lsb:
            cur = int(ck.parent_at_level(U(cur), expand_level))
        output.append(cur)
        output.extend(ck.append_all_neighbors(cur, expand_level))
    return ku.normalize(np.array(output, dtype=np.uint64))


def _random_cells(seed, n=30):
    rng = np.random.default_rng(seed)
    v = rng.normal(size=(n, 3))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    leaf = ck.from_point(v[:, 0], v[:, 1], v[:, 2])
    return ck.parent(leaf, rng.integers(0, 31, size=n))


@pytest.mark.parametrize("seed", [42, 123, 456, 789])
def test_contains_input_cells(seed):
    ids = _random_cells(seed)
    u = ku.normalize(ids)
    for cid in ids:
        assert ku.contains_cell_id(u, int(cid)), hex(int(cid))
        assert ku.intersects_cell_id(u, int(cid))
        lv = int(ck.level(np.uint64(cid)))
        if lv > 0:
            parent = int(ck.parent(np.uint64(cid), lv - 1))
            assert ku.intersects_cell_id(u, parent)
        if lv < 30:
            for child in ck.children(np.uint64(cid)):
                assert ku.contains_cell_id(u, int(child))


@pytest.mark.parametrize("seed", [456, 789])
def test_union_contains_both_inputs(seed):
    a = ku.normalize(_random_cells(seed))
    b = ku.normalize(_random_cells(seed + 1))
    un = ku.union(a, b)
    assert ku.contains_union(un, a)
    assert ku.contains_union(un, b)
    assert ku.is_normalized(un)


@pytest.mark.parametrize("seed", [42, 123])
def test_intersection_contained_in_both(seed):
    a = ku.normalize(_random_cells(seed, 40))
    b = ku.normalize(_random_cells(seed + 7, 40))
    inter = ku.intersection(a, b)
    if len(inter):
        assert ku.contains_union(a, inter)
        assert ku.contains_union(b, inter)
    # consistency: every intersection cell intersects both
    for cid in inter:
        assert ku.intersects_cell_id(a, int(cid))
        assert ku.intersects_cell_id(b, int(cid))


@pytest.mark.parametrize("seed", [42])
def test_difference_disjoint_from_subtrahend(seed):
    a = ku.normalize(_random_cells(seed, 40))
    b = ku.normalize(_random_cells(seed + 3, 40))
    d = ku.difference(a, b)
    for cid in d:
        assert not ku.intersects_cell_id(b, int(cid))
        assert ku.intersects_cell_id(a, int(cid))
    # a = (a - b) + (a ∩ b) in leaf count
    inter = ku.intersection(a, b)
    assert (
        ku.leaf_cells_covered(d) + ku.leaf_cells_covered(inter)
        == ku.leaf_cells_covered(a)
    )


def test_whole_sphere_leaf_count():
    faces = np.array(
        [int(ck.from_face_pos_level(f, 0, 0)) for f in range(6)], np.uint64
    )
    assert ku.leaf_cells_covered(faces) == 6 << 60
    assert ku.is_normalized(np.sort(faces))


@pytest.mark.parametrize("seed", [42, 123, 456])
def test_expand_with_radius_matches_manual_composition(seed):
    """cell_union.rs:446-467: expand_with_radius == expand at
    min(min_level + max_level_diff, level_for_min_width(radius)),
    with the reference's double-level-0-expand quirk for radii wider
    than a face cell."""
    ids = ku.normalize(_random_cells(seed))
    for radius, diff in [(0.0003, 3), (1e-6, 2), (0.5, 4)]:
        got = ku.expand_with_radius(ids, radius, diff)
        min_level = int(ck.level(ids).min())
        radius_level = ck.level_for_min_width(radius)
        want = ids
        if radius_level == 0 and radius > ck.min_width_at_level(0):
            want = ku.expand(want, 0)
        want = ku.expand(want, min(min_level + diff, radius_level))
        assert np.array_equal(got, want)


def test_expand_with_radius_wide_radius_double_expands():
    """A radius wider than a face cell (min_width_at_level(0) = 2)
    takes the reference's expand(0)-then-expand(0) path; the result
    must equal two manual level-0 expansions, and differ from one
    whenever the first round leaves room to grow."""
    ids = ku.normalize(_random_cells(99, n=5))
    got = ku.expand_with_radius(ids, 3.0, 20)
    once = ku.expand(ids, 0)
    twice = ku.expand(once, 0)
    assert np.array_equal(got, twice)


def test_expand_with_radius_empty_union():
    """test_s2cell_union_port.rs:442-445: expanding an empty union is a
    no-op (min_level falls back to MAX_LEVEL, expand of nothing is
    nothing)."""
    empty = np.empty(0, dtype=np.uint64)
    assert len(ku.expand_with_radius(empty, 1.0, 20)) == 0
    assert len(ku.expand_with_radius(empty, 3.0, 20)) == 0


@pytest.mark.parametrize("seed", range(20))
def test_vectorized_normalize_equals_linear_scan(seed):
    """normalize and normalize_by_owner (vectorized) must be
    bit-identical to the reference linear scan on arbitrary inputs —
    incl. deep sibling cascades (all 4^k descendants of one cell
    collapse back to it)."""
    ids = _random_cells(seed, n=60)
    assert np.array_equal(ku.normalize(ids), normalize_scan(ids))
    # adversarial cascade: every level-(L+2) descendant of one cell
    base = ck.parent(ids[:1], 5)[0]
    kids = ck.children(np.array([base], dtype=np.uint64)).ravel()
    grandkids = ck.children(kids).ravel()
    cascade = np.concatenate([grandkids, ids[:7]])
    assert np.array_equal(
        ku.normalize(cascade), normalize_scan(cascade))
    # duplicates + containment mixtures
    messy = np.concatenate([ids, ids[:13], kids, np.array([base], np.uint64)])
    assert np.array_equal(ku.normalize(messy), normalize_scan(messy))
    # many unions at once: each owner's union equals its own scan, with
    # the cascade, duplicate and nesting inputs spread over shuffled
    # owners (owner 3 gets nothing)
    parts = [ids, cascade, messy, np.empty(0, np.uint64), kids[:3],
             grandkids[:16], np.concatenate([kids, kids])]
    cells = np.concatenate(parts)
    owner = np.repeat(np.arange(len(parts)), [len(p) for p in parts])
    perm = np.random.default_rng(seed).permutation(len(cells))
    got = ku.normalize_by_owner(cells[perm], owner[perm], len(parts))
    assert len(got) == len(parts)
    for g, p in zip(got, parts):
        assert g.dtype == np.uint64
        assert np.array_equal(g, normalize_scan(p))
    # no owners: no unions, not one empty union
    none = ku.normalize_by_owner(np.empty(0, np.uint64), np.empty(0), 0)
    assert none == []


@pytest.mark.parametrize("seed", [7, 99, 1234])
@pytest.mark.parametrize("lv", [0, 4, 11, 29, 30])
def test_vectorized_expand_equals_linear_scan(seed, lv):
    ids = ku.normalize(_random_cells(seed, n=40))
    assert np.array_equal(ku.expand(ids, lv), expand_scan(ids, lv))
    empty = np.empty(0, dtype=np.uint64)
    assert len(ku.expand(empty, lv)) == 0
