"""Polyline-intersection join: which polylines cross which.

Filter-and-refine with covering-cell buckets (the same shape as the
point-in-region join — no all-pairs stage anywhere):

1. per-line conservative covering (TruePolylineRegion + the bounded
   level-synchronous coverer) computed INSIDE one ``mapInPandas`` pass —
   fully distributed, <= max_cells rows per line;
2. candidate pairs via a pure hash equi-join on covering cells: two
   normalized coverings overlap iff some cell of one is an
   ancestor-or-equal of a cell of the other, so each side's cells are
   exploded to their (<= 31, deduped) ancestor chain and equi-joined
   both directions — never a theta/nested-loop join, keys are
   high-cardinality cell ids;
3. exact refine with the reference's pairwise crossing semantics
   (polyline.rs:316-338 / predicates.rs:666-682) — ONE
   ``crossing_sign_batch`` call per Arrow batch over the concatenated
   edge-pair arrays of every candidate pair (no per-pair Python in the
   predicate hot path).

Semantics note (discovered while building the DuckDB oracle): the
reference's crossing_sign (predicates.rs:666-682) is NOT a geometric
crossing test.  Its four-sign products are invariant under
antipodalizing either edge, and beyond that the sign pattern it accepts
also fires for some configurations with no geometric relationship to
either curve at all (verified on random small arcs thousands of km
apart).  No candidate filter of any kind can serve that predicate —
matching it exactly is inherently all-pairs.  The engine therefore
contracts:

- scale path (this join): GEOMETRIC crossings — the reference predicate
  evaluated on candidate pairs whose curves (side B extended by its
  antipodal curve, covering the predicate's antipodal invariance) touch
  in leaf-cell space.  Every genuinely crossing pair satisfies the
  four-sign test, and each conservative covering contains every curve
  point (TruePolylineRegion over-admits only), so genuine crossings are
  never missed; the predicate's spurious far-field positives are
  dropped by design.
- parity path (polyline_intersection_join_allpairs): the reference
  predicate verbatim over all pairs — the pytest oracle, O(n*m), never
  for production plans.

All reference test fixtures and the contract query are genuine
crossings, where the two paths agree exactly.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import cell_parent
from ..kernels import latlng as lk
from ..kernels import polylines as pk
from ..kernels import predicates as pred

_COV_SCHEMA = StructType(
    [
        StructField("line_id", StringType()),
        StructField("cell_id", LongType()),
    ]
)


def _verts_xyz(row_vertices) -> np.ndarray:
    lat = lk.degrees_to_radians(
        np.array([v["lat"] for v in row_vertices], np.float64)
    )
    lng = lk.degrees_to_radians(
        np.array([v["lng"] for v in row_vertices], np.float64)
    )
    x, y, z = lk.latlng_to_xyz(lat, lng)
    return np.stack([x, y, z], axis=-1)


def polyline_coverings(polylines: DataFrame, max_cells: int = 64,
                       include_antipodal: bool = False) -> DataFrame:
    # default 64, not 8: the level-synchronous coverer cannot subdivide
    # a face-corner-straddling line within a budget of 8, leaving
    # face-level cells — measured on 2k random short lines, budget 8
    # admits 41% of ALL pairs as candidates (face-cell collisions)
    # where budget 64 admits ~0.2%; same effect as the cap-region
    # budget sweep in BASELINE.md.  Coverings stay <= max_cells rows
    # per line either way, so the join's shuffle volume is bounded.
    """(line_id, cell_id) conservative covering rows, computed
    distributed (embarrassingly parallel, no shuffle).

    include_antipodal=True additionally emits the covering of the
    antipodal curve (-v for every vertex).  The reference's
    crossing_sign (predicates.rs:666-682) is a product of four
    orientation signs, each of which flips when BOTH endpoints of one
    edge are negated — so the products, and hence the crossing verdict,
    are invariant under antipodalizing either edge: the predicate fires
    for a pair crossing the *antipodal* of the other arc exactly as for
    a true crossing.  A never-miss candidate filter for the pinned
    semantics must therefore bucket one side on curve ∪ anti-curve."""
    from .coverings import polyline_coverings_batch

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            verts = [_verts_xyz(v) for v in b["vertices"]]
            if include_antipodal:
                verts = verts + [-v for v in verts]
            covs = polyline_coverings_batch(verts, max_cells=max_cells)
            line_ids = list(b["line_id"]) * (2 if include_antipodal else 1)
            ids: list[str] = []
            cells: list[int] = []
            for lid, cov in zip(line_ids, covs):
                ids.extend([lid] * len(cov))
                cells.extend(
                    np.asarray(cov, np.uint64).view(np.int64).tolist()
                )
            yield pd.DataFrame({"line_id": ids, "cell_id": cells})

    return polylines.select("line_id", "vertices").mapInPandas(run, _COV_SCHEMA)


def _ancestors_and_self(col: str) -> F.Column:
    """Deduped ancestor chain incl. self: cell_parent is the identity at
    or below the cell's own level, so a 31-level array + array_distinct
    is exactly {ancestors} | {self}."""
    return F.array_distinct(
        F.array(*[cell_parent(col, lv) for lv in range(31)])
    )


def polyline_candidate_pairs(lines_a: DataFrame, lines_b: DataFrame,
                             max_cells: int = 64) -> DataFrame:
    """(a_id, b_id) pairs whose conservative coverings overlap — the
    never-miss candidate set, via ancestor-chain equi-joins."""
    cov_a = polyline_coverings(lines_a, max_cells).withColumnRenamed(
        "line_id", "a_id"
    )
    # antipodal cells on the b side: the pinned crossing predicate is
    # invariant under antipodalizing either edge (see polyline_coverings)
    cov_b = polyline_coverings(
        lines_b, max_cells, include_antipodal=True
    ).withColumnRenamed("line_id", "b_id")
    a_cells = cov_a.select("a_id", F.col("cell_id").alias("_ac"))
    b_cells = cov_b.select("b_id", F.col("cell_id").alias("_bc"))
    a_anc = cov_a.select(
        "a_id", F.explode(_ancestors_and_self("cell_id")).alias("_ac")
    )
    b_anc = cov_b.select(
        "b_id", F.explode(_ancestors_and_self("cell_id")).alias("_bc")
    )
    # b-cell inside (or equal to) an a-cell  /  a-cell inside a b-cell
    down = a_cells.join(b_anc, F.col("_ac") == F.col("_bc"))
    up = a_anc.join(b_cells, F.col("_ac") == F.col("_bc"))
    return (
        down.select("a_id", "b_id")
        .unionByName(up.select("a_id", "b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )


def _batch_crossings(va_list, vb_list) -> np.ndarray:
    """One crossing_sign_batch call over the concatenated edge pairs of
    every candidate pair in the batch; per-row any(>0) reduction."""
    seg_a, seg_b, seg_c, seg_d, counts = [], [], [], [], []
    for va, vb in zip(va_list, vb_list):
        na, nb = len(va) - 1, len(vb) - 1
        if na < 1 or nb < 1:
            counts.append(0)
            continue
        seg_a.append(np.repeat(va[:-1], nb, axis=0))
        seg_b.append(np.repeat(va[1:], nb, axis=0))
        seg_c.append(np.tile(vb[:-1], (na, 1)))
        seg_d.append(np.tile(vb[1:], (na, 1)))
        counts.append(na * nb)
    if not seg_a:
        return np.zeros(len(counts), dtype=bool)
    cr = pred.crossing_sign_batch(
        np.concatenate(seg_a), np.concatenate(seg_b),
        np.concatenate(seg_c), np.concatenate(seg_d),
    ) > 0
    out = np.zeros(len(counts), dtype=bool)
    pos = 0
    for i, n in enumerate(counts):
        if n:
            out[i] = bool(cr[pos:pos + n].any())
            pos += n
    return out


def polyline_intersection_join(lines_a: DataFrame, lines_b: DataFrame,
                               max_cells: int = 64) -> DataFrame:
    """(a_id, b_id, crossing=true) for every intersecting polyline pair
    (polyline.rs:316-338).  lines_*: (line_id, vertices
    array<struct<lat,lng>> degrees)."""
    cand = polyline_candidate_pairs(lines_a, lines_b, max_cells)
    a = lines_a.select(
        F.col("line_id").alias("a_id"), F.col("vertices").alias("_va")
    )
    b = lines_b.select(
        F.col("line_id").alias("b_id"), F.col("vertices").alias("_vb")
    )
    pairs = cand.join(a, "a_id").join(b, "b_id")

    schema = StructType(
        [
            StructField("a_id", StringType()),
            StructField("b_id", StringType()),
            StructField("crossing", BooleanType()),
        ]
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for p in batches:
            if len(p) == 0:
                continue
            va_list = [_verts_xyz(v) for v in p["_va"]]
            vb_list = [_verts_xyz(v) for v in p["_vb"]]
            crossing = _batch_crossings(va_list, vb_list)
            yield pd.DataFrame(
                {
                    "a_id": p["a_id"].to_numpy(),
                    "b_id": p["b_id"].to_numpy(),
                    "crossing": crossing,
                }
            )

    return pairs.select("a_id", "b_id", "_va", "_vb").mapInPandas(
        refine, schema
    ).filter(F.col("crossing"))


def polyline_intersection_join_allpairs(lines_a: DataFrame,
                                        lines_b: DataFrame) -> DataFrame:
    """All-pairs oracle path (pytest recall checks ONLY — O(n*m))."""
    a = lines_a.select(
        F.col("line_id").alias("a_id"), F.col("vertices").alias("_va")
    )
    b = lines_b.select(
        F.col("line_id").alias("b_id"), F.col("vertices").alias("_vb")
    )
    pairs = a.crossJoin(F.broadcast(b))

    schema = StructType(
        [
            StructField("a_id", StringType()),
            StructField("b_id", StringType()),
            StructField("crossing", BooleanType()),
        ]
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for p in batches:
            if len(p) == 0:
                continue
            out = {"a_id": [], "b_id": [], "crossing": []}
            for _, row in p.iterrows():
                out["a_id"].append(row["a_id"])
                out["b_id"].append(row["b_id"])
                out["crossing"].append(
                    bool(pk.intersects(_verts_xyz(row["_va"]),
                                       _verts_xyz(row["_vb"])))
                )
            yield pd.DataFrame(out)

    return pairs.mapInPandas(refine, schema).filter(F.col("crossing"))
