"""S2RegionCoverer — region -> cell-union approximation (the tiler).

Mirrors ``/root/reference/src/region_coverer.rs``: best-first expansion
from the 6 face cells with priority = -level (the reference computes
child priorities before ``num_children`` is ever set, region_coverer.rs
:337-350,713-721), ``should_expand`` gates on max_cells / max_level /
level_mod (:667-691), terminal = all-4-vertices-contained sampling
(:769-778), and the result is normalized via S2CellUnion::new.

Tie-breaking note: the reference's BinaryHeap pop order among equal
priorities is unspecified; this implementation breaks ties FIFO, which
is deterministic run-to-run (the reference's own tests only assert
weak set-level properties of coverings).

Coverings are tiny (max_cells default 8) and embarrassingly parallel
across regions — ``cover_regions(conservative=False)`` runs one coverer
call per region row inside ``mapInPandas``.
"""

from __future__ import annotations

import heapq
import itertools
from dataclasses import dataclass

import numpy as np

from . import cellid as ci
from . import unions
from .caps import S2Cap
from .cells import S2Cell
from .loops import S2Loop
from .rects import S2LatLngRect

MAX_LEVEL = 30
DEFAULT_MAX_CELLS = 8


# ---------------------------------------------------------------------------
# S2Region adapters (region_coverer.rs:48-200)
# ---------------------------------------------------------------------------

class CapRegion:
    def __init__(self, cap: S2Cap):
        self.cap = cap

    def contains(self, x, y, z) -> bool:
        return self.cap.contains_point(x, y, z)

    def may_intersect_cell(self, cell: S2Cell) -> bool:
        return self.cap.may_intersect(cell)


class RectRegion:
    def __init__(self, rect: S2LatLngRect):
        self.rect = rect

    def contains(self, x, y, z) -> bool:
        return self.rect.contains_point(x, y, z)

    def may_intersect_cell(self, cell: S2Cell) -> bool:
        # Conservative: rect-vs-cell-rect-bound intersection
        # (region_coverer.rs:87-90).
        return self.rect.intersects(cell.get_rect_bound())


class LoopRegion:
    def __init__(self, loop: S2Loop):
        self.loop = loop

    def contains(self, x, y, z) -> bool:
        return self.loop.contains_point(x, y, z)

    def may_intersect_cell(self, cell: S2Cell) -> bool:
        # Vertex-sampling only (region_coverer.rs:132-147, TODO in ref).
        v = self.loop.vertices
        if len(v) > 1 and np.any(cell.contains_point(v[:, 0], v[:, 1], v[:, 2])):
            return True
        for k in range(4):
            vx, vy, vz = cell.get_vertex(k)
            if self.loop.contains_point(float(vx), float(vy), float(vz)):
                return True
        return False


class CellUnionRegion:
    def __init__(self, ids):
        self.ids = np.asarray(ids, dtype=np.uint64)

    def contains(self, x, y, z) -> bool:
        leaf = int(ci.from_point(np.asarray([x]), np.asarray([y]), np.asarray([z]))[0])
        return unions.contains_cell_id(self.ids, leaf)

    def may_intersect_cell(self, cell: S2Cell) -> bool:
        return unions.intersects_cell_id(self.ids, cell.id)

    def contains_points_batch(self, x, y, z) -> np.ndarray:
        """``contains`` over point arrays."""
        return unions.contains_points_batch(self.ids, ci.from_point(x, y, z))

    def may_intersect_cells(self, ids) -> np.ndarray:
        """``may_intersect_cell`` over cell-id arrays: the same binary
        search over range_max, vectorized."""
        cells = np.asarray(ids, dtype=np.uint64)
        if len(self.ids) == 0:
            return np.zeros(len(cells), dtype=bool)
        idx = np.searchsorted(ci.range_max(self.ids), ci.range_min(cells),
                              side="left")
        safe = np.minimum(idx, len(self.ids) - 1)
        return ((idx < len(self.ids)) & ci.intersects(self.ids[safe], cells)
                & ci.is_valid(cells))


class PolylineRegion:
    def __init__(self, vertices: np.ndarray):
        self.vertices = np.asarray(vertices, dtype=np.float64).reshape(-1, 3)

    def contains(self, x, y, z) -> bool:
        return False  # polylines have no interior

    def may_intersect_cell(self, cell: S2Cell) -> bool:
        v = self.vertices
        return bool(np.any(cell.contains_point(v[:, 0], v[:, 1], v[:, 2])))


# ---------------------------------------------------------------------------
# coverer
# ---------------------------------------------------------------------------

@dataclass
class CovererOptions:
    max_cells: int = DEFAULT_MAX_CELLS
    min_level: int = 0
    max_level: int = MAX_LEVEL
    level_mod: int = 1


class S2RegionCoverer:
    def __init__(self, options: CovererOptions | None = None):
        self.options = options or CovererOptions()

    # -- internals ---------------------------------------------------------

    def _initial_candidates(self, region):
        out = []
        for face in range(6):
            cell_id = int(ci.from_face_pos_level(face, 0, 0))
            cell = S2Cell(cell_id)
            if region.may_intersect_cell(cell):
                out.append((cell_id, False))  # (id, is_terminal)
        return out

    def _should_expand(self, cell_id: int, is_terminal: bool,
                       result_len: int) -> bool:
        """region_coverer.rs:667-691."""
        if is_terminal:
            return False
        level = int(ci.level(np.uint64(cell_id)))
        if level >= self.options.max_level:
            return False
        if result_len >= self.options.max_cells:
            return False
        if ((level + 1) % self.options.level_mod) != 0:
            return False
        return True

    @staticmethod
    def _is_cell_contained(region, cell: S2Cell) -> bool:
        """All-4-vertices sampling (region_coverer.rs:769-778)."""
        for i in range(4):
            vx, vy, vz = cell.get_vertex(i)
            if not region.contains(float(vx), float(vy), float(vz)):
                return False
        return True

    def _expand_candidate(self, region, cell_id: int, interior: bool):
        """Children that may_intersect (or are contained, for interior),
        region_coverer.rs:694-766.  Returns None if no children qualify."""
        level = int(ci.level(np.uint64(cell_id)))
        if level >= MAX_LEVEL:
            return None
        out = []
        for pos in range(4):
            child_id = int(ci.child(np.uint64(cell_id), pos))
            cell = S2Cell(child_id)
            if interior:
                if self._is_cell_contained(region, cell):
                    out.append((child_id, True))
            else:
                if region.may_intersect_cell(cell):
                    terminal = self._is_cell_contained(region, cell)
                    out.append((child_id, terminal))
        return out or None

    def _run(self, region, interior: bool) -> np.ndarray:
        # max-heap on priority = -level; FIFO tie-break via a counter.
        heap: list = []
        counter = itertools.count()
        for cell_id, term in self._initial_candidates(region):
            level = int(ci.level(np.uint64(cell_id)))
            heapq.heappush(heap, (level, next(counter), cell_id, term))
        result: list[int] = []
        while heap:
            _, _, cell_id, term = heapq.heappop(heap)
            if interior:
                cell = S2Cell(cell_id)
                if not self._is_cell_contained(region, cell):
                    continue
                if self._should_expand(cell_id, term, len(result)):
                    children = self._expand_candidate(region, cell_id, True)
                    if children:
                        for cid, t in children:
                            lv = int(ci.level(np.uint64(cid)))
                            heapq.heappush(heap, (lv, next(counter), cid, t))
                        continue
                result.append(cell_id)
            else:
                if self._should_expand(cell_id, term, len(result)):
                    children = self._expand_candidate(region, cell_id, False)
                    if children:
                        for cid, t in children:
                            lv = int(ci.level(np.uint64(cid)))
                            heapq.heappush(heap, (lv, next(counter), cid, t))
                        continue
                result.append(cell_id)
        return unions.normalize(np.array(result, dtype=np.uint64))

    # -- public API ------------------------------------------------------------

    def get_covering(self, region) -> np.ndarray:
        return self._run(region, interior=False)

    def get_interior_covering(self, region) -> np.ndarray:
        return self._run(region, interior=True)

    def get_fast_covering(self, region) -> np.ndarray:
        """Alias of get_covering (region_coverer.rs:489-504: the
        reference's "fast" variant falls through to the standard
        algorithm — a named parity surface, not a different plan)."""
        return self.get_covering(region)

    def is_canonical(self, ids) -> bool:
        ids = np.asarray(ids, dtype=np.uint64)
        if len(ids) > self.options.max_cells:
            return False
        for cid in ids:
            lv = int(ci.level(cid))
            if (lv < self.options.min_level or lv > self.options.max_level
                    or (lv % self.options.level_mod) != 0):
                return False
        return bool(np.array_equal(unions.normalize(ids), ids))

    def canonicalize_covering(self, ids) -> np.ndarray:
        """region_coverer.rs:542-596."""
        ids = [int(v) for v in np.asarray(ids, dtype=np.uint64)]
        mod = self.options.level_mod
        fixed = []
        for cid in ids:
            lv = int(ci.level(np.uint64(cid)))
            if lv < self.options.min_level:
                target = self.options.min_level
            elif lv > self.options.max_level:
                target = self.options.max_level
            else:
                rem = lv % mod
                if rem == 0:
                    target = lv
                elif rem < mod // 2:
                    target = lv - rem
                else:
                    up = lv + (mod - rem)
                    target = up if up <= self.options.max_level else lv - rem
            fixed.append(int(ci.parent(np.uint64(cid), target)) if target != lv else cid)
        out = unions.normalize(np.array(fixed, dtype=np.uint64))
        if len(out) > self.options.max_cells:
            levels = ci.level(out)
            order = np.argsort(levels, kind="stable")
            out = unions.normalize(out[order][: self.options.max_cells])
        return out
