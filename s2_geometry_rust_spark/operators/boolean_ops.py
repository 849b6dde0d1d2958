"""Approximate boolean polygon operations via cell-union algebra.

The reference stubs its boolean-operation layer (builder/Graph and the
S2BooleanOperation analogues are `todo!`/placeholder — SURVEY.md §2.8),
so this is engine-pioneered capability with EXPLICIT approximation
semantics rather than a port:

    union(A, B)        ~ normalize(cov(A) ∪ cov(B))
    intersection(A, B) ~ cov(A) ∩ cov(B)            (cell-union algebra)
    difference(A, B)   ~ cov(A) \\ interior_cov(B)

where ``cov`` is the conservative loop covering (never misses a point
of the region — operators/coverings.py) and ``interior_cov`` keeps only
cells PROVABLY inside the region.  With those one-sided bounds each
result is a sound OUTER approximation of the exact boolean region: a
point in the true result is always inside the output union (pytest
pins this against the winding-PIP ground truth), and precision
improves monotonically with the cell budget.

Interior-cell soundness for the quirky winding PIP: the inside/outside
decision only changes across the FULL great circles of loop edges
(each winding term flips exactly there), so a cell with a vertex
inside and NO edge plane straddling it lies entirely inside — the same
argument TrueLoopRegion uses for may_intersect, with the straddle test
inverted.

Physical shape: one grouped applyInPandas per pair — pairs are
independent and each covering is <= max_cells, so the operator is
embarrassingly parallel; the only shuffle is the groupBy on pair_id.
"""

from __future__ import annotations

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
from ..kernels import latlng as lk
from ..kernels import unions as ku
from ..kernels.loops import S2Loop
from .coverings import TrueLoopRegion, conservative_covering

BOOL_CELLS_SCHEMA = StructType(
    [
        StructField("pair_id", LongType()),
        StructField("op", StringType()),
        StructField("cell_id", LongType()),
        StructField("level", IntegerType()),
    ]
)


def interior_covering(region: TrueLoopRegion, covering: np.ndarray
                      ) -> np.ndarray:
    """Cells of ``covering`` provably inside the loop: some vertex
    inside AND no edge great-circle straddles the cell."""
    if len(covering) == 0:
        return covering
    inside, straddle = region.classify_cells(covering)
    return covering[inside.all(axis=1) & ~straddle]


def _loop_from_verts(verts) -> S2Loop:
    return S2Loop.from_degrees([(v["lat"], v["lng"]) for v in verts])


def loop_boolean_cells(pairs: DataFrame, op: str,
                       max_cells: int = 256) -> DataFrame:
    """pairs: (pair_id long, a_vertices array<struct<lat,lng>>,
    b_vertices array<struct<lat,lng>>) -> (pair_id, op, cell_id, level)
    cell-union approximation of A op B, op in
    {'union', 'intersection', 'difference'}."""
    if op not in ("union", "intersection", "difference"):
        raise ValueError(op)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        row = pdf.iloc[0]
        ra = TrueLoopRegion(_loop_from_verts(row["a_vertices"]))
        rb = TrueLoopRegion(_loop_from_verts(row["b_vertices"]))
        cov_a = np.asarray(conservative_covering(ra, max_cells=max_cells),
                           np.uint64)
        cov_b = np.asarray(conservative_covering(rb, max_cells=max_cells),
                           np.uint64)
        if op == "union":
            out = ku.union(cov_a, cov_b)
        elif op == "intersection":
            out = ku.intersection(cov_a, cov_b)
        else:
            out = ku.difference(cov_a, interior_covering(rb, cov_b))
        out = np.asarray(out, np.uint64)
        return pd.DataFrame(
            {
                "pair_id": row["pair_id"],
                "op": op,
                "cell_id": out.view(np.int64),
                "level": ck.level(out).astype(np.int32),
            }
        )

    return pairs.groupBy("pair_id").applyInPandas(fn, BOOL_CELLS_SCHEMA)


def contains_points(cells: np.ndarray, x, y, z) -> np.ndarray:
    """Membership of points in a normalized cell union, via leaf-range
    containment (the covering filter's semantics)."""
    leafs = ck.from_point(x, y, z).astype(np.uint64)
    los = ck.range_min(cells)
    his = ck.range_max(cells)
    out = np.zeros(len(leafs), dtype=bool)
    for i, lf in enumerate(leafs):
        out[i] = bool(np.any((los <= lf) & (lf <= his)))
    return out
