"""Golden region fixtures mirrored from the reference test suites
(FIXTURES.md §3-4; /root/reference/tests/test_s2loop_port.rs:20-139,
/root/reference/src/region_coverer.rs:794-925).

These become small Spark `regions` DataFrames for covering / spatial-join
tests and benchmarks.  Vertex -> point conversion matches
make_loop_from_degrees (from_degrees().to_point()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

LOOPS: dict[str, list[tuple[float, float]]] = {
    "north_hemi": [(0, -180), (0, -90), (0, 0), (0, 90)],
    "south_hemi": [(0, 90), (0, 0), (0, -90), (0, -180)],
    "west_hemi": [(0, -180), (-90, 0), (0, 0), (90, 0)],
    "east_hemi": [(90, 0), (0, 0), (-90, 0), (0, -180)],
    "near_hemi": [(0, -90), (-90, 0), (0, 90), (90, 0)],
    "far_hemi": [(90, 0), (0, 90), (-90, 0), (0, -90)],
    "candy_cane": [(-20, 150), (-20, -70), (0, 70), (10, -150), (10, 70), (-10, -70)],
    "small_ne_cw": [(35, 20), (45, 20), (40, 25)],
    "arctic_80": [(80, -150), (80, -30), (80, 90)],
    "antarctic_80": [(-80, 120), (-80, 0), (-80, -120)],
    "line_triangle": [(0, 1), (0, 2), (0, 3)],
    "skinny_chevron": [(0, 0), (-1e-15, 80), (0, 1e-15), (1e-15, 80)],
    "loop_a": [(0, 178), (-1, 180), (0, -179), (1, -180)],
    "loop_b": [(0, 179), (-1, 180), (0, -178), (1, -180)],
    "a_intersect_b": [(0, 179), (-1, 180), (0, -179), (1, -180)],
    "a_union_b": [(0, 178), (-1, 180), (0, -178), (1, -180)],
    "a_minus_b": [(0, 178), (-1, 180), (0, 179), (1, -180)],
    "b_minus_a": [(0, -179), (-1, 180), (0, -178), (1, -180)],
    # Crossed thin bands (engine additions): their boundaries cross like
    # a plus sign while every vertex of each sits OUTSIDE the other
    # under the pinned winding-PIP rule, so the reference's vertex-only
    # intersects() is provably wrong (False) and only the strict
    # edge-crossing completion detects the intersection.  Orientation
    # (vertex order) is chosen so the winding sum of each loop's
    # vertices against the other is NEGATIVE — the quirk PIP's sum>0
    # region for a 4-gon includes whole lunes, so the naive CCW thin
    # strips would spuriously "contain" the other's vertices.  Spans
    # kept short so great-circle edges bulge < 1 degree.
    # Coordinates are deliberately generic (no constant-lat/lng edges,
    # no lng-symmetric equal-lat pairs): symmetric bands produce edge
    # great circles passing EXACTLY through the hemi loops' axis
    # vertices (0,+-90)/(+-90,0), zeroing the oracle's triage
    # determinants.
    "cross_band_ew": [(5.3, -33.7), (5.1, 32.9), (-5.2, 33.4), (-5.4, -33.1)],
    "cross_band_ns": [(-40.3, -7.6), (40.1, -7.2), (40.4, 7.3), (-40.9, 7.7)],
}

# (cap_id, center_lat_deg, center_lng_deg, radius_deg) — cap at the
# x-axis, radii from region_coverer.rs:846-884.
CAPS: dict[str, tuple[float, float, float]] = {
    "cap_x_1deg": (0.0, 0.0, 1.0),
    "cap_x_10deg": (0.0, 0.0, 10.0),
    "cap_seattle_2deg": (47.6, -122.3, 2.0),
    "cap_sydney_5deg": (-33.87, 151.21, 5.0),
}

# term-index join fixtures (operators/term_index.py): deterministic cap
# grids with exact-decimal params (integer arithmetic +- .5/.25, all
# binary-exact doubles, so engine and oracle consume identical
# literals).  Radii up to 20/19 degrees force multi-level coverings
# incl. coarse cells, exercising the ancestor-term direction both ways.
TERM_INDEX_CAPS: dict[str, tuple[float, float, float]] = {
    f"idx-{i:02d}": (
        float(((i * 37) % 141) - 70) + 0.5,
        float(((i * 73) % 360) - 180) + 0.5,
        2.0 + (i % 7) * 3.0,
    )
    for i in range(16)
}
def closest_edge_fixture(n: int = 12, seed: int = 5):
    """Deterministic unit-vector edge set for closest-edge queries:
    [(edge_id, ax, ay, az, bx, by, bz)].  Both the engine DataFrame and
    the DuckDB oracle VALUES consume these exact doubles (repr
    round-trips), so there is no trig divergence between the sides."""
    import numpy as np

    rng = np.random.default_rng(seed)
    v = rng.normal(size=(n, 2, 3))
    v /= np.linalg.norm(v, axis=2, keepdims=True)
    return [
        (i, float(v[i, 0, 0]), float(v[i, 0, 1]), float(v[i, 0, 2]),
         float(v[i, 1, 0]), float(v[i, 1, 1]), float(v[i, 1, 2]))
        for i in range(n)
    ]


TERM_QUERY_CAPS: dict[str, tuple[float, float, float]] = {
    f"qry-{j:02d}": (
        float(((j * 53) % 141) - 70) + 0.25,
        float(((j * 97) % 360) - 180) + 0.25,
        3.0 + (j % 5) * 4.0,
    )
    for j in range(10)
}

# polygon-with-holes fixtures (polygon_shape.rs:78-95 semantics: within
# each poly index, the FIRST loop is the shell, the rest are holes;
# multiple poly indices form an S2MultiPolygonShape, contains == any).
# Loop geometry reuses the LOOPS catalog above so the existing oracle
# sign-margin guarantees carry over.
POLYGONS: dict[str, list[tuple[int, str]]] = {
    # northern hemisphere with the >80-degree arctic cap removed
    "north_hole_arctic": [(0, "north_hemi"), (0, "arctic_80")],
    # both polar caps as one multi-polygon
    "bipolar_caps": [(0, "arctic_80"), (1, "antarctic_80")],
    # candy cane with a hole, plus the antarctic cap as a second poly
    "cane_hole_multi": [(0, "north_hemi"), (0, "candy_cane"),
                        (1, "antarctic_80")],
}

RECTS: dict[str, tuple[float, float, float, float]] = {
    "rect_equator_band": (-5.0, 5.0, -30.0, 30.0),
    "rect_antimeridian": (-10.0, 10.0, 170.0, -170.0),  # wraps
    "rect_arctic": (70.0, 85.0, -180.0, 180.0),
}

REGIONS_SCHEMA = StructType(
    [
        StructField("region_id", StringType()),
        StructField("kind", StringType()),
        StructField("p0", DoubleType()),
        StructField("p1", DoubleType()),
        StructField("p2", DoubleType()),
        StructField("p3", DoubleType()),
        StructField(
            "vertices",
            ArrayType(
                StructType(
                    [
                        StructField("lat", DoubleType()),
                        StructField("lng", DoubleType()),
                    ]
                )
            ),
        ),
        StructField("cell_ids", ArrayType(LongType())),
        # polygon kind: loops grouped by poly index; within one poly the
        # first loop is the shell, later ones holes (polygon_shape.rs)
        StructField(
            "loops",
            ArrayType(
                StructType(
                    [
                        StructField("poly", LongType()),
                        StructField(
                            "vertices",
                            ArrayType(
                                StructType(
                                    [
                                        StructField("lat", DoubleType()),
                                        StructField("lng", DoubleType()),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        ),
    ]
)


# Loops for the nearest-boundary contract query: everything except
# skinny_chevron, whose far vertices are deliberately 1e-15 apart — the
# nearest-vertex selection between them differs below the determinism
# of cross-engine double arithmetic (DuckDB's vectorized path fuses
# multiply-adds; Spark/numpy round every op), so that loop's exact tie
# semantics are pinned by the numpy-only kernel parity tests instead
# (tests/test_loop_nearest_boundary.py).
NEAREST_BOUNDARY_LOOPS = [n for n in LOOPS if n != "skinny_chevron"]


def loop_vertex_rows(names: list[str] | None = None
                     ) -> list[tuple[str, int, float, float, float]]:
    """(region_id, vid, vx, vy, vz) unit-vertex rows per LOOPS entry —
    the exact doubles of S2Loop.from_degrees, shared by the Spark side
    (createDataFrame) and the oracle (inlined VALUES via repr) so both
    engines consume identical bits."""
    from .kernels.loops import S2Loop

    names = names or list(LOOPS)
    rows = []
    for n in names:
        v = S2Loop.from_degrees(LOOPS[n]).vertices
        rows.extend(
            (n, i, float(v[i, 0]), float(v[i, 1]), float(v[i, 2]))
            for i in range(len(v))
        )
    return rows


LOOP_VERTEX_SCHEMA = StructType(
    [StructField("region_id", StringType()), StructField("vid", IntegerType())]
    + [StructField(c, DoubleType()) for c in ("vx", "vy", "vz")]
)


def _local_frame(spark: SparkSession, rows: list[tuple],
                 schema: StructType) -> DataFrame:
    """Fixture rows as a ``LocalRelation`` frame: built from an Arrow
    table, so reading it is a JVM-only job.  ``createDataFrame`` of a
    Python list would be a ``LogicalRDD`` whose every read runs a Python
    worker task."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = schema.names
    table = pa.Table.from_pylist([dict(zip(names, r)) for r in rows],
                                 schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def loop_vertices(spark: SparkSession,
                  names: list[str] | None = None) -> DataFrame:
    return _local_frame(spark, loop_vertex_rows(names), LOOP_VERTEX_SCHEMA)


def loop_regions(spark: SparkSession, names: list[str] | None = None) -> DataFrame:
    names = names or list(LOOPS)
    rows = [
        (n, "loop", None, None, None, None,
         [(float(a), float(b)) for a, b in LOOPS[n]], None, None)
        for n in names
    ]
    return _local_frame(spark, rows, REGIONS_SCHEMA)


def cap_regions(spark: SparkSession, names: list[str] | None = None,
                catalog: dict[str, tuple[float, float, float]] | None = None,
                ) -> DataFrame:
    catalog = catalog if catalog is not None else CAPS
    names = names or list(catalog)
    rows = [
        (n, "cap", *map(float, catalog[n]), None, None, None, None)
        for n in names
    ]
    return _local_frame(spark, rows, REGIONS_SCHEMA)


def rect_regions(spark: SparkSession, names: list[str] | None = None) -> DataFrame:
    names = names or list(RECTS)
    rows = [
        (n, "rect", *map(float, RECTS[n]), None, None, None)
        for n in names
    ]
    return _local_frame(spark, rows, REGIONS_SCHEMA)


def polygon_regions(spark: SparkSession,
                    names: list[str] | None = None) -> DataFrame:
    names = names or list(POLYGONS)
    rows = [
        (n, "polygon", None, None, None, None, None, None,
         [(int(poly),
           [(float(a), float(b)) for a, b in LOOPS[loop_name]])
          for poly, loop_name in POLYGONS[n]])
        for n in names
    ]
    return _local_frame(spark, rows, REGIONS_SCHEMA)


def all_regions(spark: SparkSession) -> DataFrame:
    return (
        loop_regions(spark)
        .unionByName(cap_regions(spark))
        .unionByName(rect_regions(spark))
    )
