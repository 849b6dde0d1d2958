"""Closest-edge queries: point -> nearest great-circle edge (the
engine's answer to the reference's S2ClosestEdgeQuery surface, which
s2-geometry-rust stubs — tests/test_s2query_system_port.rs is
should_panic; semantics follow the C++ S2 edge-distance definitions).

Distance definition (unit vectors, chord-squared space, trig-free so
the DuckDB oracle replays it bit-for-bit):

  n  = a x b                       (great-circle normal)
  interior iff (n x a)...p >= 0 AND (b x n)...p >= 0
     [r(t) = a cos t + u sin t sweeps the arc; (n x a)...r ~ sin t and
      (b x n)...r ~ sin(t_b - t), both >= 0 exactly on t in [0, t_b]]
  d2_interior = 2 - 2*sqrt(max(0, 1 - (p...n)^2 / (n...n)))
     [chord^2 to the circle: sin theta = |p...n|/|n|, chord^2 = 2-2cos]
  d2 = interior ? d2_interior : min(|p-a|^2, |p-b|^2), clamped to 4.

Scale shapes:
- ``closest_edge_join``: broadcast the edge set (documented small-side
  contract, like fixture dims elsewhere) and keep the whole distance
  computation in whole-stage codegen — the exact/oracle path.
- ``closest_edge_join_indexed``: candidate pruning through covering
  cells — each edge is indexed under the covering of its bounding cap,
  points probe with ancestor terms, and only candidate (point, edge)
  pairs are scored; a final ring-expansion fallback guarantees every
  point gets an answer.  Parity-tested against the brute join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _cross(ax, ay, az, bx, by, bz) -> tuple[Column, Column, Column]:
    return (
        ay * bz - az * by,
        az * bx - ax * bz,
        ax * by - ay * bx,
    )


def _dot(ax, ay, az, bx, by, bz) -> Column:
    return ax * bx + ay * by + az * bz


def edge_chord2_cols(px, py, pz, ax, ay, az, bx, by, bz) -> Column:
    """Point-to-edge squared chord distance as a codegen column tree —
    the module-docstring formula, ops ordered to match the SQL oracle
    exactly (only +,-,*,/ and sqrt: IEEE-identical on both engines)."""
    nx, ny, nz = _cross(ax, ay, az, bx, by, bz)
    # tangent at a toward b: n x a; tangent at b toward a: b x n
    tax, tay, taz = _cross(nx, ny, nz, ax, ay, az)
    tbx, tby, tbz = _cross(bx, by, bz, nx, ny, nz)
    c1 = _dot(tax, tay, taz, px, py, pz)
    c2 = _dot(tbx, tby, tbz, px, py, pz)
    pn = _dot(px, py, pz, nx, ny, nz)
    nn = _dot(nx, ny, nz, nx, ny, nz)
    d2_int = F.lit(2.0) - F.lit(2.0) * F.sqrt(
        F.greatest(F.lit(0.0), F.lit(1.0) - pn * pn / nn)
    )
    d2_a = (px - ax) * (px - ax) + (py - ay) * (py - ay) + (pz - az) * (pz - az)
    d2_b = (px - bx) * (px - bx) + (py - by) * (py - by) + (pz - bz) * (pz - bz)
    d2 = F.when((c1 >= 0.0) & (c2 >= 0.0), d2_int).otherwise(
        F.least(d2_a, d2_b)
    )
    return F.least(d2, F.lit(4.0))


def _normalized(points: DataFrame, x: str, y: str, z: str) -> DataFrame:
    nrm = F.sqrt(
        F.col(x) * F.col(x) + F.col(y) * F.col(y) + F.col(z) * F.col(z)
    )
    return points.withColumns(
        {
            "px": F.col(x) / nrm,
            "py": F.col(y) / nrm,
            "pz": F.col(z) / nrm,
        }
    )


def closest_edge_join(points: DataFrame, edges: DataFrame,
                      id_col: str = "point_id",
                      xyz=("x", "y", "z")) -> DataFrame:
    """Exact nearest edge per point.  ``edges`` carries (edge_id, ax..bz
    unit-vector endpoints) and is broadcast (small-side contract: a
    fixture / dimension edge set; use the indexed variant for large edge
    tables).  Ties break to the smallest edge_id via the struct-min."""
    pts = _normalized(points, *xyz)
    j = pts.join(F.broadcast(edges))
    d2 = edge_chord2_cols(
        F.col("px"), F.col("py"), F.col("pz"),
        F.col("ax"), F.col("ay"), F.col("az"),
        F.col("bx"), F.col("by"), F.col("bz"),
    )
    scored = j.select(
        id_col, F.struct(d2.alias("d2"), F.col("edge_id")).alias("s")
    )
    best = scored.groupBy(id_col).agg(F.min("s").alias("s"))
    return best.select(
        id_col,
        F.col("s.edge_id").alias("edge_id"),
        F.round(F.col("s.d2") * 1e9, 0).cast("long").alias("d2_nano"),
    )


def closest_edge_join_indexed(points: DataFrame, edges: DataFrame,
                              id_col: str = "point_id",
                              xyz=("x", "y", "z"),
                              search_radius_deg: float = 15.0,
                              max_cells: int = 16) -> DataFrame:
    """Candidate-pruned nearest edge for LARGE edge tables, provably
    equal to the brute join:

    1. every edge gets a bounding cap (center = normalized midpoint,
       radius = half-arc) EXPANDED by ``search_radius_deg``, covered
       conservatively (join-sound supersets — operators/coverings.py);
    2. points probe with one ancestor per distinct covering level —
       a single hash equi-join on cell id (the distributed spatial
       join's candidate stage, ``refine=False``);
    3. any point whose best candidate distance is within the search
       radius is PROVABLY optimal: an edge e with d(p, e) <= r puts p
       inside cap(e)+r, whose covering the point's ancestor probe hits,
       so every such e was scored.  The remainder (no candidate, or
       best beyond r — i.e. points in edge deserts) falls back to the
       exact broadcast join, a bounded small set by construction.

    Same filter-and-refine shape as knn_cell_ring: one covering pass on
    the edge side, one equi-join, one bounded fallback — never
    |points| x |edges|.
    """
    import math

    from ..functions.udfs import cell_id_from_xyz
    from .spatial_join import point_in_region_join_distributed

    pts = _normalized(points, *xyz).withColumn(
        "_leaf", cell_id_from_xyz("px", "py", "pz")
    )
    # edge bounding caps as cap region rows (lat/lng degrees + radius
    # degrees; a cap covering reads no other REGIONS_SCHEMA column): JVM
    # trig only — no oracle-parity needed here, correctness is the
    # lossless-superset argument + pytest vs brute
    mx = (F.col("ax") + F.col("bx")) / 2
    my = (F.col("ay") + F.col("by")) / 2
    mz = (F.col("az") + F.col("bz")) / 2
    mn = F.sqrt(mx * mx + my * my + mz * mz)
    ux, uy, uz = mx / mn, my / mn, mz / mn
    half_chord = F.sqrt(
        (ux - F.col("ax")) * (ux - F.col("ax"))
        + (uy - F.col("ay")) * (uy - F.col("ay"))
        + (uz - F.col("az")) * (uz - F.col("az"))
    )
    half_arc_deg = F.degrees(
        F.lit(2.0) * F.asin(F.least(half_chord / 2, F.lit(1.0)))
    )
    caps = edges.select(
        F.col("edge_id").cast("string").alias("region_id"),
        F.lit("cap").alias("kind"),
        F.degrees(F.asin(uz)).alias("p0"),
        F.degrees(F.atan2(uy, ux)).alias("p1"),
        (half_arc_deg + search_radius_deg).alias("p2"),
    )
    # the spatial join's candidate stage: one checkpointed covering
    # pass shared by the levels read and the caller's action, then the
    # ancestor-explode equi-join (a normalized covering hits each
    # (point, edge) at most once)
    cand = point_in_region_join_distributed(
        pts, caps, cell_col="_leaf", max_cells=max_cells, refine=False,
    )
    cand = cand.withColumn(
        "edge_id", F.col("region_id").cast("long")
    ).drop("region_id").join(edges, "edge_id")
    d2 = edge_chord2_cols(
        F.col("px"), F.col("py"), F.col("pz"),
        F.col("ax"), F.col("ay"), F.col("az"),
        F.col("bx"), F.col("by"), F.col("bz"),
    )
    scored = cand.select(
        id_col, F.struct(d2.alias("d2"), F.col("edge_id")).alias("s")
    )
    best = scored.groupBy(id_col).agg(F.min("s").alias("s"))
    r_chord2 = (2.0 * math.sin(math.radians(search_radius_deg) / 2.0)) ** 2
    sure = best.filter(F.col("s.d2") <= r_chord2)
    rest = points.join(sure.select(id_col), id_col, "left_anti")
    redo = closest_edge_join(rest, edges, id_col=id_col, xyz=xyz).select(
        id_col,
        F.struct(
            (F.col("d2_nano").cast("double") / 1e9).alias("d2"),
            F.col("edge_id"),
        ).alias("s"),
    )
    return sure.unionByName(redo).select(
        id_col,
        F.col("s.edge_id").alias("edge_id"),
        F.round(F.col("s.d2") * 1e9, 0).cast("long").alias("d2_nano"),
    )


def corridor_join(points: DataFrame, edges: DataFrame, d2_max: float,
                  id_col: str = "point_id",
                  route_col: str = "route_id",
                  xyz=("x", "y", "z")) -> DataFrame:
    """Route-corridor search: every (point, route) pair whose minimum
    point-to-edge squared-chord distance over the route's edges is
    within ``d2_max`` — "all docs within distance d of this road".

    Same broadcast small-side contract and exact codegen distance as
    ``closest_edge_join``; the per-(point, route) min is one map-side-
    partial aggregate.  Distances are nano-scaled ints BEFORE the
    threshold compare, so the cut replays exactly in SQL (the threshold
    itself becomes an integer).

    Output: (id_col, route_col, d2_nano) for qualifying pairs only.
    """
    pts = _normalized(points, *xyz)
    j = pts.join(F.broadcast(edges))
    d2 = edge_chord2_cols(
        F.col("px"), F.col("py"), F.col("pz"),
        F.col("ax"), F.col("ay"), F.col("az"),
        F.col("bx"), F.col("by"), F.col("bz"),
    )
    thr = int(round(d2_max * 1e9))
    scored = j.select(
        id_col, route_col, F.round(d2 * 1e9, 0).cast("long").alias("_d2n")
    )
    return (
        scored.groupBy(id_col, route_col)
        .agg(F.min("_d2n").alias("d2_nano"))
        .filter(F.col("d2_nano") <= F.lit(thr))
    )
