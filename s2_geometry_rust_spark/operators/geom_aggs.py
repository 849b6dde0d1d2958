"""Geometric aggregations (SURVEY.md §2.6) as DataFrame operators.

Per-row geometry aggregates (loop area/centroid/curvature/bounds,
polyline length/interpolation/bounds) run inside one ``mapInPandas`` —
embarrassingly parallel, zero shuffles.  Union-level aggregates
(leaf_cells_covered, per-cell area sums) are pure JVM column math over
exploded (union_id, cell_id) rows with map-side partial aggregation.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import cell_level
from ..kernels import latlng as lk
from ..kernels import polylines as pk
from ..kernels.loops import S2Loop

LOOP_STATS_SCHEMA = StructType(
    [
        StructField("region_id", StringType()),
        StructField("n_vertices", IntegerType()),
        StructField("area", DoubleType()),
        StructField("curvature", DoubleType()),
        StructField("centroid_x", DoubleType()),
        StructField("centroid_y", DoubleType()),
        StructField("centroid_z", DoubleType()),
        StructField("bound_lat_lo", DoubleType()),
        StructField("bound_lat_hi", DoubleType()),
        StructField("bound_lng_lo", DoubleType()),
        StructField("bound_lng_hi", DoubleType()),
    ]
)


def loop_stats(regions: DataFrame) -> DataFrame:
    """Per-loop aggregates pinned to the reference formulas:
    get_area (loop.rs:322-342 signed-excess variant), get_curvature
    (= 2pi - area, loop.rs:367-369), get_centroid (simple vertex mean,
    loop.rs:345-364), rect bound (loop.rs:219-237)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = {k.name: [] for k in LOOP_STATS_SCHEMA.fields}
            for _, row in b.iterrows():
                if row["kind"] != "loop":
                    continue
                verts = [(v["lat"], v["lng"]) for v in row["vertices"]]
                loop = S2Loop.from_degrees(verts)
                cx, cy, cz = loop.get_centroid()
                bound = loop.get_rect_bound()
                out["region_id"].append(row["region_id"])
                out["n_vertices"].append(loop.num_vertices())
                out["area"].append(loop.get_area())
                out["curvature"].append(loop.get_curvature())
                out["centroid_x"].append(float(cx))
                out["centroid_y"].append(float(cy))
                out["centroid_z"].append(float(cz))
                out["bound_lat_lo"].append(bound.lat.lo)
                out["bound_lat_hi"].append(bound.lat.hi)
                out["bound_lng_lo"].append(bound.lng.lo)
                out["bound_lng_hi"].append(bound.lng.hi)
            yield pd.DataFrame(out)

    return regions.mapInPandas(run, LOOP_STATS_SCHEMA)


POLYLINE_STATS_SCHEMA = StructType(
    [
        StructField("line_id", StringType()),
        StructField("n_vertices", IntegerType()),
        StructField("length_rad", DoubleType()),
        StructField("mid_x", DoubleType()),
        StructField("mid_y", DoubleType()),
        StructField("mid_z", DoubleType()),
    ]
)


def polyline_stats(polylines: DataFrame) -> DataFrame:
    """polylines: (line_id, vertices array<struct<lat,lng>> degrees).
    length per polyline.rs:182-199; midpoint = interpolate(0.5)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = {k.name: [] for k in POLYLINE_STATS_SCHEMA.fields}
            for _, row in b.iterrows():
                lat = lk.degrees_to_radians(
                    np.array([v["lat"] for v in row["vertices"]], np.float64)
                )
                lng = lk.degrees_to_radians(
                    np.array([v["lng"] for v in row["vertices"]], np.float64)
                )
                x, y, z = lk.latlng_to_xyz(lat, lng)
                v = np.stack([x, y, z], axis=-1)
                mid = pk.interpolate(v, 0.5)
                out["line_id"].append(row["line_id"])
                out["n_vertices"].append(len(v))
                out["length_rad"].append(pk.length(v))
                out["mid_x"].append(float(mid[0]))
                out["mid_y"].append(float(mid[1]))
                out["mid_z"].append(float(mid[2]))
            yield pd.DataFrame(out)

    return polylines.mapInPandas(run, POLYLINE_STATS_SCHEMA)


def union_leaf_cells_covered(cells: DataFrame) -> DataFrame:
    """Sum of 4^(30-level) per union (cell_union.rs:472-479) — pure JVM
    with map-side combine; one shuffle on union_id."""
    return (
        cells.withColumn("_lv", cell_level("cell_id"))
        .withColumn("_leaves", F.expr("shiftleft(1L, (30 - _lv) * 2)"))
        .groupBy("union_id")
        .agg(
            F.sum("_leaves").alias("leaf_cells_covered"),
            F.count("*").alias("n_cells"),
        )
    )


UNION_BOUNDS_SCHEMA = StructType(
    [
        StructField("union_id", LongType()),
        StructField("n_cells", IntegerType()),
        StructField("average_area", DoubleType()),
        StructField("approx_area", DoubleType()),
        StructField("exact_area", DoubleType()),
        StructField("cap_cx", DoubleType()),
        StructField("cap_cy", DoubleType()),
        StructField("cap_cz", DoubleType()),
        StructField("cap_radius_l2", DoubleType()),
        StructField("rect_lat_lo", DoubleType()),
        StructField("rect_lat_hi", DoubleType()),
        StructField("rect_lng_lo", DoubleType()),
        StructField("rect_lng_hi", DoubleType()),
    ]
)


def union_bounds(cells: DataFrame) -> DataFrame:
    """Per-union bounding cap / bounding rect / area aggregates
    (cell_union.rs:480-540): average_area = avg-leaf-area x
    leaf_cells_covered, approx/exact areas as sorted per-cell sums, cap
    bound = area-weighted approximate centroid then an add_cap fold over
    per-cell cap bounds, rect bound = a union fold over per-cell rect
    bounds.  The folds run in normalized (sorted-unsigned) cell order —
    the reference iterates its normalized cell_ids vector, and neither
    S2Cap::add_cap nor S1Interval::union is order-independent.

    Grouped applyInPandas: unions are small by construction (a covering
    is <= max_cells), so the per-union kernel is exact parity; the only
    shuffle is the groupBy on union_id."""
    from ..kernels import cellid as ci
    from ..kernels.caps import S2Cap
    from ..kernels.cells import S2Cell
    from ..kernels.rects import S2LatLngRect

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        uid = pdf["union_id"].iloc[0]
        ids = np.sort(pdf["cell_id"].to_numpy(np.int64).view(np.uint64))
        cells_k = [S2Cell(int(c)) for c in ids]
        levels = ci.level(ids)
        leaves = float(np.sum(1 << (2 * (30 - levels.astype(np.int64)))))
        average = S2Cell.average_area_at_level(30) * leaves
        approx = 0.0
        exact = 0.0
        for c in cells_k:
            approx += c.approx_area()
        for c in cells_k:
            exact += c.exact_area()
        # cap bound (cell_union.rs:504-531)
        centroid = np.zeros(3)
        px, py, pz = ci.to_point_raw(ids)
        for k, c in enumerate(cells_k):
            area = S2Cell.average_area_at_level(c.level)
            centroid += area * np.array([px[k], py[k], pz[k]])
        if not np.any(centroid != 0.0):
            centroid = np.array([1.0, 0.0, 0.0])
        else:
            centroid = centroid / np.linalg.norm(centroid)
        cap = S2Cap.from_point(
            (float(centroid[0]), float(centroid[1]), float(centroid[2]))
        )
        for c in cells_k:
            (ccx, ccy, ccz), radius = c.get_cap_bound()
            cap.add_cap(S2Cap.from_center_angle((ccx, ccy, ccz), radius))
        # rect bound (cell_union.rs:534-540)
        rect = S2LatLngRect.empty()
        for c in cells_k:
            rect = rect.union(c.get_rect_bound())
        return pd.DataFrame(
            {
                "union_id": [uid],
                "n_cells": [len(ids)],
                "average_area": [average],
                "approx_area": [approx],
                "exact_area": [exact],
                "cap_cx": [cap.cx],
                "cap_cy": [cap.cy],
                "cap_cz": [cap.cz],
                "cap_radius_l2": [cap.radius_l2],
                "rect_lat_lo": [rect.lat.lo],
                "rect_lat_hi": [rect.lat.hi],
                "rect_lng_lo": [rect.lng.lo],
                "rect_lng_hi": [rect.lng.hi],
            }
        )

    return cells.groupBy("union_id").applyInPandas(fn, UNION_BOUNDS_SCHEMA)


def trajectory_stats(points: DataFrame, traj_col: str = "traj_id",
                     seq_col: str = "seq", scale: float = 1e15) -> DataFrame:
    """Per-trajectory hop statistics in squared-chord space.

    Input: (traj_col, seq_col, x, y, z) unit vectors, one row per fix.
    For each trajectory the consecutive-hop "length" is the squared
    chord |a-b|^2 (chord_angle.rs:90-95) — purely algebraic, so unlike
    a haversine path sum it is exactly reproducible across engines.
    Each hop is scaled to an integer (round(hop2 * scale)) before
    summing so the per-trajectory totals are order-independent exact
    int64 sums (the same trick as the atto-scaled union areas).

    Scale shape: ONE shuffle on traj_col feeds both the lag window and
    the final aggregate (same partitioning, no second exchange); the
    chord math is whole-stage codegen.

    Output: (traj_col, n_fixes, n_hops, path_chord2_e15, max_hop_e15).
    Single-fix trajectories yield n_hops=0 with zero sums.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(traj_col).orderBy(seq_col)
    px, py, pz = (F.lag(c).over(w) for c in ("x", "y", "z"))
    hop2 = (
        (F.col("x") - px) * (F.col("x") - px)
        + (F.col("y") - py) * (F.col("y") - py)
        + (F.col("z") - pz) * (F.col("z") - pz)
    )
    hop_e15 = F.round(hop2 * F.lit(scale), 0).cast("long")
    d = points.withColumn("_hop_e15", hop_e15)
    return d.groupBy(traj_col).agg(
        F.count("*").alias("n_fixes"),
        F.count("_hop_e15").alias("n_hops"),
        F.coalesce(F.sum("_hop_e15"), F.lit(0)).cast("long")
         .alias("path_chord2_e15"),
        F.coalesce(F.max("_hop_e15"), F.lit(0)).cast("long")
         .alias("max_hop_e15"),
    )


def polygon_areas(polygons: DataFrame) -> DataFrame:
    """Polygon-with-holes areas at table scale (engine addition —
    polygon_shape.rs:78-158 defines the shell/holes container but no
    area aggregate): per (region, poly), area = area(shell) - sum
    area(holes), each loop area the non-canonical spherical-excess
    formula of loop.rs:322-364 via the existing loop_stats kernel pass.

    Input: REGIONS_SCHEMA rows with kind='polygon' (loops array; within
    one poly the first loop is the shell, later ones holes).  The loop
    flattening (posexplode + per-poly rank) and the final shell-minus-
    holes combination are pure JVM; the per-loop geometry runs in the
    same single mapInPandas pass loop_stats always uses.  Areas are
    nano-scaled ints before the subtraction, so the combination is
    exact.

    Output: (region_id, poly, n_loops, n_holes, area_nano).
    """
    from pyspark.sql import Window

    flat = polygons.select(
        "region_id", F.posexplode("loops").alias("_pos", "_l")
    )
    w = Window.partitionBy("region_id", "_l.poly").orderBy("_pos")
    flat = flat.withColumn("_idx", F.row_number().over(w) - 1)
    loops = flat.select(
        F.concat_ws(
            "|", "region_id", F.col("_l.poly").cast("string"),
            F.col("_idx").cast("string")
        ).alias("region_id"),
        F.lit("loop").alias("kind"),
        F.lit(None).cast("double").alias("p0"),
        F.lit(None).cast("double").alias("p1"),
        F.lit(None).cast("double").alias("p2"),
        F.lit(None).cast("double").alias("p3"),
        F.col("_l.vertices").alias("vertices"),
        F.lit(None).cast("array<long>").alias("cell_ids"),
        F.lit(None).cast(
            "array<struct<poly:long,"
            "vertices:array<struct<lat:double,lng:double>>>>"
        ).alias("loops"),
    )
    stats = loop_stats(loops)
    parts = stats.select(
        F.split("region_id", r"\|").alias("_k"),
        F.round(F.col("area") * 1e9, 0).cast("long").alias("_a"),
    ).select(
        F.col("_k")[0].alias("region_id"),
        F.col("_k")[1].cast("long").alias("poly"),
        F.col("_k")[2].cast("long").alias("loop_idx"),
        "_a",
    )
    signed = F.when(F.col("loop_idx") == 0, F.col("_a")).otherwise(-F.col("_a"))
    return (
        parts.groupBy("region_id", "poly")
        .agg(
            F.count("*").cast("int").alias("n_loops"),
            (F.count("*") - 1).cast("int").alias("n_holes"),
            F.sum(signed).cast("long").alias("area_nano"),
        )
    )


def cap_add_point_bounds(points: DataFrame, group_col: str = "group_id",
                         id_col: str = "point_id",
                         xyz=("x", "y", "z")) -> DataFrame:
    """S2Cap running point bound per group: Cap::from_point(first point)
    then fold add_point over the rest (cap.rs:188-205; kernel twin
    kernels/caps.py:148).

    add_point never moves the center and only ever raises the radius to
    the center->point squared chord distance (chord_angle.rs:90-98,
    incl. its clamp at 4.0), and max is order-independent — so the
    whole fold collapses to ONE windowed aggregate: center = the
    group's first point in id order, radius_l2 = max chord2.  Single
    hash exchange on the group key, all codegen, no UDF.

    Output: (group_id, center_id, n_points, radius_l2).
    """
    x, y, z = xyz
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    cx, cy, cz = (F.first(c).over(w) for c in (x, y, z))
    d2 = (
        (F.col(x) - cx) * (F.col(x) - cx)
        + (F.col(y) - cy) * (F.col(y) - cy)
        + (F.col(z) - cz) * (F.col(z) - cz)
    )
    return (
        points.select(
            F.col(group_col).alias("group_id"),
            F.col(id_col).alias("_pid"),
            F.first(F.col(id_col)).over(w).alias("_cid"),
            F.least(d2, F.lit(4.0)).alias("_d2"),
        )
        .groupBy("group_id")
        .agg(
            F.first("_cid").alias("center_id"),
            F.count("*").alias("n_points"),
            F.max("_d2").alias("radius_l2"),
        )
    )


def nearest_boundary_join(pts: DataFrame, loop_verts: DataFrame) -> DataFrame:
    """S2Loop::get_distance_to_boundary + project_to_boundary as a
    distributed join (loop.rs:523-577 — the reference's simplified
    nearest-VERTEX semantics, see the kernel twins
    S2Loop.distance_to_boundary_batch / project_to_boundary_batch).

    Per (point, loop): distance = min over vertices of acos(p.v) ==
    acos(max in-range dot) — a dot that rounds past +-1 (a point on or
    next to a vertex) is skipped, as the kernel twin skips its NaN acos,
    so the distance is never NaN — projection = the earliest vertex attaining
    the minimal squared Euclidean distance (the reference's strict-<
    scan == lexicographic struct-min on (d2, vid)).

    Scale shape: pure whole-stage codegen — broadcast the (tiny) vertex
    table, one shuffle for the per-(point, loop) aggregate, then a
    second broadcast join to pull the winning vertex coords.  No Python
    anywhere.
    """
    n = F.sqrt(F.col("x") * F.col("x") + F.col("y") * F.col("y")
               + F.col("z") * F.col("z"))
    p = pts.select(
        "point_id",
        (F.col("x") / n).alias("px"),
        (F.col("y") / n).alias("py"),
        (F.col("z") / n).alias("pz"),
    )
    j = p.crossJoin(F.broadcast(loop_verts))
    dot = (F.col("px") * F.col("vx") + F.col("py") * F.col("vy")
           + F.col("pz") * F.col("vz"))
    d2 = (
        (F.col("px") - F.col("vx")) * (F.col("px") - F.col("vx"))
        + (F.col("py") - F.col("vy")) * (F.col("py") - F.col("vy"))
        + (F.col("pz") - F.col("vz")) * (F.col("pz") - F.col("vz"))
    )
    g = j.groupBy("point_id", "region_id").agg(
        F.max(F.when(F.abs(dot) <= 1, dot)).alias("max_dot"),
        F.min(F.struct(d2.alias("d2"), F.col("vid").alias("vid"))).alias("m"),
    )
    return (
        g.join(
            F.broadcast(loop_verts),
            (g["region_id"] == loop_verts["region_id"])
            & (g["m.vid"] == loop_verts["vid"]),
        )
        .select(
            "point_id",
            g["region_id"].alias("region_id"),
            F.round(F.acos(F.col("max_dot")) * 1e9, 0)
            .cast("long")
            .alias("dist_nano"),
            F.col("m.vid").alias("proj_vid"),
            F.col("vx").alias("proj_x"),
            F.col("vy").alias("proj_y"),
            F.col("vz").alias("proj_z"),
        )
    )
