"""S2CellUnion set algebra (mirrors /root/reference/src/cell_union.rs).

A union is a sorted (unsigned order), non-overlapping numpy uint64 array
of cell ids, normalized so that no four sibling cells appear (they are
collapsed to their parent).  These routines run per-region inside
grouped pandas UDFs; the engine-wide distributed variants live in
``operators.cellops`` and are expressed as DataFrame aggregations over
*exploded* (region_id, cell_id) rows.
"""

from __future__ import annotations

import numpy as np

from . import cellid as ci

U = np.uint64
_U1 = U(1)
_U2 = U(2)


def _arr(ids) -> np.ndarray:
    return np.asarray(ids, dtype=np.uint64).ravel()


def are_siblings(a: int, b: int, c: int, d: int) -> bool:
    """cell_union.rs:582-597."""
    a, b, c, d = int(a), int(b), int(c), int(d)
    if (a ^ b ^ c) != d:
        return False
    dl = d & (~d + 1) & 0xFFFFFFFFFFFFFFFF
    mask = dl << 1
    mask = ~(mask + (mask << 1)) & 0xFFFFFFFFFFFFFFFF
    d_masked = d & mask
    is_face = int(ci.level(U(d))) == 0
    return ((a & mask) == d_masked and (b & mask) == d_masked
            and (c & mask) == d_masked and not is_face)


_FACE_LSB = U(1) << U(60)


def normalize_by_owner(cells, owner, n: int) -> list[np.ndarray]:
    """Normalize many unions at once: ``cells[i]`` belongs to union
    ``owner[i]`` (in ``range(n)``); returns the n normalized unions,
    each identical to the linear scan of cell_union.rs:600-629 over
    its own cells (the normalized form is unique: sorted,
    containment-free, no four complete siblings).  O(rounds) whole-array numpy passes instead of
    a per-cell Python loop or a per-union call.

    1. drop contained and duplicate cells: cell ranges are laminar
       (nested or disjoint), so after sorting by (owner, range_min asc,
       range_max desc) a cell is contained in an earlier one of its
       union iff the running max of ``owner * R + rank(range_max)``
       (R distinct range_max values) already reaches its own key; an
       earlier union's keys all sit below ``owner * R``.  What remains
       is sorted by (owner, id): disjoint ranges sort by id as by
       range_min;
    2. collapse complete sibling quads bottom-up: equal parent ids
       imply equal levels (a parent id's own lsb pins its level), and
       a complete quad leaves no other cell of its union inside the
       parent's range, so a quad is a run of four equal (owner,
       parent) keys and its parent takes the first child's place in
       the sorted order.  Collapsing cannot create new containment
       (anything nested in or containing the quad was already
       dropped), only new quads — iterate to fixpoint (<= MAX_LEVEL
       rounds).
    """
    cells = _arr(cells)
    owner = np.asarray(owner, dtype=np.int64).ravel()
    if len(cells):
        # (owner, range_min asc, range_max desc) by stable sorts from an
        # id-descending start: cells sharing a range_min are a first-child
        # chain, where the larger cell has the larger id.  np.lexsort
        # is several times slower than these passes.
        order = np.argsort(cells)[::-1]
        order = order[np.argsort(ci.range_min(cells[order]), kind="stable")]
        order = order[np.argsort(owner[order], kind="stable")]
        cells, owner = cells[order], owner[order]
        by_rmax = np.argsort(ci.range_max(cells))
        sorted_rmax = ci.range_max(cells[by_rmax])
        rank = np.empty(len(cells), dtype=np.int64)
        rank[by_rmax] = np.cumsum(np.concatenate(
            ([0], sorted_rmax[1:] != sorted_rmax[:-1])))
        key = owner * (rank[by_rmax[-1]] + 1) + rank
        keep = np.ones(len(cells), dtype=bool)
        keep[1:] = key[1:] > np.maximum.accumulate(key)[:-1]
        cells, owner = cells[keep], owner[keep]
    while len(cells) >= 4:
        lb = ci.lsb(cells)
        can = lb < _FACE_LSB
        plsb = lb << _U2
        with np.errstate(over="ignore"):
            parents = (cells & (~plsb + _U1)) | plsb
        parents = np.where(can, parents, cells)
        first = np.ones(len(cells), dtype=bool)
        first[1:] = (parents[1:] != parents[:-1]) | (owner[1:] != owner[:-1])
        starts = np.flatnonzero(first)
        runs = np.diff(starts, append=len(cells))
        quad = starts[(runs == 4) & can[starts]]
        if not len(quad):
            break
        cells[quad] = parents[quad]
        keep = np.ones(len(cells), dtype=bool)
        keep[(quad[:, None] + np.arange(1, 4)).ravel()] = False
        cells, owner = cells[keep], owner[keep]
    if n == 0:
        return []
    return np.split(cells, np.searchsorted(owner, np.arange(1, n)))


def normalize(ids) -> np.ndarray:
    """Sort, drop contained, collapse 4 siblings -> parent: the
    one-union call of ``normalize_by_owner``, identical to the linear
    scan of cell_union.rs:600-629."""
    ids = _arr(ids)
    return normalize_by_owner(ids, np.zeros(len(ids), np.int64), 1)[0]


def is_normalized(ids) -> bool:
    ids = _arr(ids)
    if len(ids) and not bool(ci.is_valid(ids[0])):
        return False
    for i in range(1, len(ids)):
        if not bool(ci.is_valid(ids[i])):
            return False
        if int(ci.range_max(ids[i - 1])) >= int(ci.range_min(ids[i])):
            return False
    for i in range(3, len(ids)):
        if are_siblings(ids[i - 3], ids[i - 2], ids[i - 1], ids[i]):
            return False
    return True


def union(a, b) -> np.ndarray:
    """Concat + normalize (cell_union.rs:375-380)."""
    return normalize(np.concatenate([_arr(a), _arr(b)]))


def intersection(a, b) -> np.ndarray:
    """Two-pointer sorted merge (cell_union.rs:632-666).  NOTE: like the
    reference, the result is returned verbatim (the reference asserts but
    does not re-normalize)."""
    x = _arr(a)
    y = _arr(b)
    out = []
    i = j = 0
    while i < len(x) and j < len(y):
        x_min = int(ci.range_min(x[i]))
        y_min = int(ci.range_min(y[j]))
        if x_min > y_min:
            if int(x[i]) <= int(ci.range_max(y[j])):
                out.append(int(x[i]))
                i += 1
            else:
                j += 1
        elif y_min > x_min:
            if int(y[j]) <= int(ci.range_max(x[i])):
                out.append(int(y[j]))
                j += 1
            else:
                i += 1
        else:
            if int(x[i]) < int(y[j]):
                out.append(int(x[i]))
                i += 1
            else:
                out.append(int(y[j]))
                j += 1
    return np.array(out, dtype=np.uint64)


def contains_cell_id(ids, cell: int) -> bool:
    """Binary search on sorted ranges (cell_union.rs:262-282)."""
    ids = _arr(ids)
    if not bool(ci.is_valid(U(cell))):
        return False
    rmaxes = ci.range_max(ids)
    # NOTE: the key must stay uint64 — a python int would make numpy
    # compare in float64 and lose low bits of 64-bit ids.
    idx = int(np.searchsorted(rmaxes, U(ci.range_min(U(cell))), side="left"))
    return idx < len(ids) and bool(ci.contains(ids[idx], U(cell)))


def intersects_cell_id(ids, cell: int) -> bool:
    ids = _arr(ids)
    if not bool(ci.is_valid(U(cell))):
        return False
    rmaxes = ci.range_max(ids)
    idx = int(np.searchsorted(rmaxes, U(ci.range_min(U(cell))), side="left"))
    return idx < len(ids) and bool(ci.intersects(ids[idx], U(cell)))


def contains_points_batch(ids, point_cell_ids) -> np.ndarray:
    """Vectorized membership of leaf cells in a union: searchsorted over
    range_max then containment check (mirrors the reference's binary
    search, vectorized)."""
    ids = _arr(ids)
    pts = _arr(point_cell_ids)
    if len(ids) == 0:
        return np.zeros(len(pts), dtype=bool)
    rmaxes = ci.range_max(ids)
    idx = np.searchsorted(rmaxes, ci.range_min(pts), side="left")
    ok = idx < len(ids)
    safe = np.minimum(idx, len(ids) - 1)
    return ok & ci.contains(ids[safe], pts) & ci.is_valid(pts)


def contains_union(a, b) -> bool:
    """Advancing-pointer containment (cell_union.rs:329-349)."""
    a = _arr(a)
    b = _arr(b)
    if len(b) == 0:
        return True
    if len(a) == 0:
        return False
    i = 0
    for ob in b:
        while i < len(a) and int(ci.range_max(a[i])) < int(ci.range_min(ob)):
            i += 1
        if i >= len(a) or not bool(ci.contains(a[i], ob)):
            return False
    return True


def intersects_union(a, b) -> bool:
    """cell_union.rs:352-372."""
    a = _arr(a)
    b = _arr(b)
    i = j = 0
    while i < len(a) and j < len(b):
        if int(ci.range_max(a[i])) < int(ci.range_min(b[j])):
            i += 1
        elif int(ci.range_max(b[j])) < int(ci.range_min(a[i])):
            j += 1
        else:
            return True
    return False


def _difference_internal(cell: int, y: np.ndarray, out: list) -> None:
    """Recursive child subdivision (cell_union.rs:669-678)."""
    if not intersects_cell_id(y, cell):
        out.append(cell)
    elif not contains_cell_id(y, cell):
        if bool(ci.is_leaf(U(cell))):
            return  # leaf children don't exist (reference's child() errors)
        for ch in ci.children(U(cell)):
            _difference_internal(int(ch), y, out)


def difference(a, b) -> np.ndarray:
    a = _arr(a)
    b = _arr(b)
    out: list[int] = []
    for cell in a:
        _difference_internal(int(cell), b, out)
    return np.array(out, dtype=np.uint64)


def intersection_with_cell_id(ids, cell: int) -> np.ndarray:
    """cell_union.rs:383-405."""
    ids = _arr(ids)
    if not bool(ci.is_valid(U(cell))):
        return np.array([], dtype=np.uint64)
    if contains_cell_id(ids, cell):
        return np.array([cell], dtype=np.uint64)
    rmin = int(ci.range_min(U(cell)))
    rmax = int(ci.range_max(U(cell)))
    out = [int(c) for c in ids if rmin <= int(c) <= rmax]
    return np.array(out, dtype=np.uint64)


def expand(ids, expand_level: int) -> np.ndarray:
    """Vectorized expand — the promotion + placeholder-neighbor
    semantics of cell_union.rs:427-444 (neighbors are id-space steps
    per cell_id.rs:696-722), as numpy passes.  After promotion
    every cell is at or above expand_level, so the scan's
    parent_at_level inside append_all_neighbors is the identity and
    the +/- step candidates come straight off the promoted ids."""
    ids = _arr(ids)
    if len(ids) == 0:
        return normalize(ids)
    level_lsb = ci.lsb_for_level(U(expand_level))
    lb = ci.lsb(ids)
    promoted = np.where(
        lb < level_lsb, ci.parent(ids, expand_level), ids
    )
    step = level_lsb << _U1
    with np.errstate(over="ignore"):
        prev = promoted - step
        nxt = promoted + step
    ok_prev = ((promoted >= step) & ci.is_valid(prev)
               & (ci.level(prev) == expand_level))
    ok_next = ci.is_valid(nxt) & (ci.level(nxt) == expand_level)
    return normalize(np.concatenate(
        [promoted, prev[ok_prev], nxt[ok_next]]
    ))


def expand_with_radius(ids, min_radius_radians: float,
                       max_level_diff: int) -> np.ndarray:
    """Radius-constrained expand (cell_union.rs:446-467): expand so all
    points within ``min_radius`` are covered, but never with cells more
    than ``max_level_diff`` levels finer than the largest input cell.

    Reference quirks mirrored exactly: ``min_level`` is the *minimum*
    cell level (largest cell), MAX_LEVEL when the union is empty; when
    ``level_for_min_width`` saturates at 0 for a radius wider than a
    face cell the reference expands at level 0 and then falls through
    to the (level-0) general expand — i.e. TWO rounds of level-0
    expansion, not one."""
    ids = _arr(ids)
    min_level = int(ci.level(ids).min()) if len(ids) else ci.MAX_LEVEL
    radius_level = ci.level_for_min_width(min_radius_radians)
    if radius_level == 0 and min_radius_radians > ci.min_width_at_level(0):
        ids = expand(ids, 0)
    expand_level = min(min_level + max_level_diff, radius_level)
    return expand(ids, expand_level)


def whole_sphere() -> np.ndarray:
    """cell_union.rs:89-99: the six face cells."""
    return np.array([int(ci.from_face(f)) for f in range(6)],
                    dtype=np.uint64)


def leaf_cells_covered(ids) -> int:
    """Sum of 4^(30-level) (cell_union.rs:472-479)."""
    ids = _arr(ids)
    if len(ids) == 0:
        return 0
    inv = (ci.MAX_LEVEL - ci.level(ids)).astype(np.uint64)
    return int(np.sum(_U1 << (inv << _U1), dtype=np.uint64))


def _maximum_tile_safe(id_: int, end_: int) -> int:
    """Largest tile starting at id_'s range_min that stays below end_
    (canonical semantics: descends when the tile itself would cross)."""
    cur = U(id_)
    start = int(ci.range_min(cur))
    while int(ci.range_max(cur)) >= end_ and int(ci.level(cur)) < ci.MAX_LEVEL:
        cur = ci.child(cur, 0)
    while int(ci.level(cur)) > 0:
        par = ci.parent(cur, int(ci.level(cur)) - 1)
        if int(ci.range_min(par)) < start or int(ci.range_max(par)) >= end_:
            break
        cur = par
    return int(cur)


def from_begin_end(begin: int, end_: int) -> np.ndarray:
    """Engine-grade half-open leaf-range tiling: terminates on any
    begin <= end_ leaf range and never overshoots end_."""
    out = []
    cur = begin
    while cur < end_:
        tile = _maximum_tile_safe(cur, end_)
        out.append(tile)
        cur = int(ci.range_max(U(tile))) + 2  # next leaf after this tile
    return np.array(out, dtype=np.uint64)


def from_min_max(min_id: int, max_id: int) -> np.ndarray:
    return from_begin_end(min_id, int(ci.next_id(U(max_id))))
