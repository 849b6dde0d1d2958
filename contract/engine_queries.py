"""The engine's query suite: named (spark, sf_dir) -> DataFrame
callables plus their DuckDB oracle SQL, consumed by __spark_entry__.

Geometry queries derive deterministic points from the driver tables with
exactly-rounded arithmetic (no trig) so the DuckDB oracle reproduces the
same doubles bit-for-bit; the Hilbert encoding itself is oracled by the
pure-SQL implementation in ``oracle.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import oracle
from s2_geometry_rust_spark.functions import (
    cell_face,
    cell_id_from_xyz,
    cell_parent,
    cell_token,
)


def _derived_points(spark: SparkSession, sf_dir: str,
                    table: str = "customer", key: str = "c_custkey") -> DataFrame:
    """Spark twin of oracle.derived_points_sql — same exact doubles."""
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    k = F.col(key)
    return df.select(
        k.alias("point_id"),
        ((k * 37 % 997) / 498.5 - 1.0).alias("x"),
        ((k * 73 % 991) / 495.5 - 1.0).alias("y"),
        ((k * 101 % 983) / 491.5 - 1.0).alias("z"),
    )


def leaf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point -> leaf cell id (cell_id.rs:175-238): the Hilbert core."""
    pts = _derived_points(spark, sf_dir)
    return pts.select(
        "point_id",
        cell_id_from_xyz("x", "y", "z").alias("cell_id"),
    ).select(
        "point_id",
        "cell_id",
        cell_face("cell_id").alias("face"),
        cell_token("cell_id").alias("token"),
    )


def tile_counts_l8(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = leaf_assign(spark, sf_dir)
    return (
        df.withColumn("tile_id", cell_parent("cell_id", 8))
        .groupBy("tile_id")
        .agg(F.count("*").alias("n_points"))
        .select("tile_id", cell_token("tile_id").alias("tile_token"), "n_points")
    )


def tile_counts_l12(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = leaf_assign(spark, sf_dir)
    return (
        df.withColumn("tile_id", cell_parent("cell_id", 12))
        .groupBy("tile_id")
        .agg(F.count("*").alias("n_points"))
        .select("tile_id", cell_token("tile_id").alias("tile_token"), "n_points")
    )


def face_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        leaf_assign(spark, sf_dir)
        .groupBy("face")
        .agg(F.count("*").alias("n_points"))
    )


def _derived_latlng(spark: SparkSession, sf_dir: str,
                    table: str = "customer", key: str = "c_custkey") -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    k = F.col(key)
    return df.select(
        k.alias("point_id"),
        ((k * 37 % 181).cast("double") - 90.0 + 0.25).alias("lat"),
        ((k * 73 % 361).cast("double") - 180.0 + 0.25).alias("lng"),
    )


def point_in_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-latlng-rect join (latlng_rect.rs:297-341 semantics incl.
    antimeridian wraparound) — pure JVM filter-join."""
    from s2_geometry_rust_spark.operators.spatial_join import point_in_rect_join

    pts = _derived_latlng(spark, sf_dir)
    rects = spark.createDataFrame(
        [
            ("band", -5.0, 5.0, -30.0, 30.0),
            ("wrap", -10.0, 10.0, 170.0, -170.0),
            ("north", 60.0, 90.0, -180.0, 180.0),
        ],
        "region_id string, lat_lo double, lat_hi double, lng_lo double, lng_hi double",
    )
    return point_in_rect_join(pts, rects).select(
        "point_id", "region_id", "lat", "lng"
    )


def distance_join_chord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-threshold theta-join on squared chord length
    (chord_angle.rs:90-95)."""
    from s2_geometry_rust_spark.operators.spatial_join import distance_join

    pts = _derived_points(spark, sf_dir)
    centers = spark.createDataFrame(
        [
            ("c0", 0.5, 0.5, 0.5),
            ("c1", -0.25, 0.8, -0.1),
            ("c2", 0.9, -0.3, 0.2),
        ],
        "center_id string, cx double, cy double, cz double",
    )
    return distance_join(pts, centers, 0.05).select(
        "point_id", "center_id", "chord2"
    )


def knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN (k=10): streaming local top-k + global window; the
    north-star's exact-distance contract (cell-ring variant is the
    approximate scale path, tested separately)."""
    from s2_geometry_rust_spark.operators.knn import knn_bruteforce

    queries = _derived_points(spark, sf_dir, "supplier", "s_suppkey").filter(
        F.col("point_id") < 20
    ).withColumnRenamed("point_id", "query_id")
    cands = _derived_points(spark, sf_dir).withColumnRenamed(
        "point_id", "cand_id"
    )
    return knn_bruteforce(queries, cands, 10)


def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2_geometry_rust_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(docs)


def token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2_geometry_rust_spark.operators.text import with_token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_token_count(docs).select("doc_id", "n_tokens")


def bpe_token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2_geometry_rust_spark.operators.text import with_bpe_token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_bpe_token_count(docs).select("doc_id", "n_bpe_tokens")


def text_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2_geometry_rust_spark.operators.text import with_quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_quality_score(docs).select(
        "doc_id", "n_tokens", "avg_token_len", "stopword_ratio",
        "punct_ratio", "quality_score",
    )


def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2_geometry_rust_spark.operators.text import with_lang_id

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_lang_id(docs).select("doc_id", "lang_pred")


def union_leaf_cells_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-union leaf-count aggregate (cell_union.rs:472-479) over
    unions assembled from derived points at mixed levels."""
    from s2_geometry_rust_spark.functions import cell_id_from_xyz
    from s2_geometry_rust_spark.operators.geom_aggs import union_leaf_cells_covered

    pts = _derived_points(spark, sf_dir)
    cells = (
        pts.withColumn("_leaf", cell_id_from_xyz("x", "y", "z"))
        .withColumn("_lv", (F.col("point_id") % 21 + 10).cast("int"))
        .withColumn("_lsb", F.expr("shiftleft(1L, (30 - _lv) * 2)"))
        .withColumn(
            "cell_id", F.expr("(_leaf & -_lsb) | _lsb")
        )
        .withColumn("union_id", (F.col("point_id") % 10).cast("long"))
        .select("union_id", "cell_id", "_lv")
        .distinct()
        .select("union_id", "cell_id")
    )
    return union_leaf_cells_covered(cells)


def _mixed_level_unions(spark: SparkSession, sf_dir: str,
                        table: str = "customer",
                        key: str = "c_custkey") -> DataFrame:
    """Mixed-level member cells (union_id = point_id % 10, level =
    point_id % 21 + 10) — the union_leaf_cells construction, shared by
    the set-algebra contract queries."""
    from s2_geometry_rust_spark.functions import cell_id_from_xyz

    pts = _derived_points(spark, sf_dir, table, key)
    return (
        pts.withColumn("_leaf", cell_id_from_xyz("x", "y", "z"))
        .withColumn("_lv", (F.col("point_id") % 21 + 10).cast("int"))
        .withColumn("_lsb", F.expr("shiftleft(1L, (30 - _lv) * 2)"))
        .withColumn("cell_id", F.expr("(_leaf & -_lsb) | _lsb"))
        .withColumn("union_id", (F.col("point_id") % 10).cast("long"))
        .select("union_id", "cell_id")
        .distinct()
    )


def union_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CellUnion::normalize via the distributed fixpoint path
    (cell_union.rs:600-629 semantics; unions_ops.normalize_distributed)
    — verified against the pure-SQL drop-contained + sibling-collapse
    oracle."""
    from s2_geometry_rust_spark.operators.unions_ops import normalize_distributed

    return normalize_distributed(
        _mixed_level_unions(spark, sf_dir)
    ).select("union_id", "cell_id")


def union_intersect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CellUnion::intersection two-pointer merge (cell_union.rs:632-666)
    of customer-derived vs supplier-derived unions per union_id."""
    from s2_geometry_rust_spark.operators.unions_ops import intersection_grouped, normalize_grouped

    def as_str(df):  # the grouped kernels key unions by string id
        return df.withColumn("union_id", F.col("union_id").cast("string"))

    a = normalize_grouped(as_str(_mixed_level_unions(spark, sf_dir)))
    b = normalize_grouped(as_str(
        _mixed_level_unions(spark, sf_dir, "supplier", "s_suppkey")
    ))
    return intersection_grouped(a, b).select(
        F.col("union_id").cast("long").alias("union_id"), "cell_id"
    )


def union_difference_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CellUnion::difference recursive child subdivision
    (cell_union.rs:669-678) of customer-derived minus supplier-derived
    unions per union_id."""
    from s2_geometry_rust_spark.operators.unions_ops import difference_grouped, normalize_grouped

    def as_str(df):
        return df.withColumn("union_id", F.col("union_id").cast("string"))

    a = normalize_grouped(as_str(_mixed_level_unions(spark, sf_dir)))
    b = normalize_grouped(as_str(
        _mixed_level_unions(spark, sf_dir, "supplier", "s_suppkey")
    ))
    return difference_grouped(a, b).select(
        F.col("union_id").cast("long").alias("union_id"), "cell_id"
    )


def union_expand_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CellUnion::expand to level 12 (cell_union.rs:427-444, with the
    reference's placeholder id-space neighbors, SURVEY.md §8.3)."""
    from s2_geometry_rust_spark.operators.unions_ops import expand_grouped, normalize_grouped

    cells = _mixed_level_unions(spark, sf_dir).withColumn(
        "union_id", F.col("union_id").cast("string")
    )
    return expand_grouped(normalize_grouped(cells), 12).select(
        F.col("union_id").cast("long").alias("union_id"), "cell_id"
    )


def raster_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster-tile <-> vector equi-join at level 6 (SURVEY.md §2.5):
    customer points against the distinct supplier tile set."""
    from s2_geometry_rust_spark.functions import cell_id_from_xyz
    from s2_geometry_rust_spark.operators.tiling import raster_vector_join

    pts = _derived_points(spark, sf_dir).withColumn(
        "cell_id", cell_id_from_xyz("x", "y", "z")
    )
    raster = (
        _derived_points(spark, sf_dir, "supplier", "s_suppkey")
        .withColumn("_leaf", cell_id_from_xyz("x", "y", "z"))
        .withColumn("tile_id", cell_parent("_leaf", 6))
        .select("tile_id")
        .distinct()
    )
    return raster_vector_join(raster, pts, 6).select("point_id", "tile_id")


# --- rows-only entries (non-SQL-expressible; driver records weaker check) ---

def covering_cells_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity coverings of the fixture regions
    (region_coverer.rs best-first loop).  Oracled: the pinned-UV-bounds
    quirk (cell.rs:356-372) makes the best-first loop collapse to face
    membership (proof in oracle.covering_cells_sql), so DuckDB can
    re-derive the output from the region adapters' may_intersect
    against the 6 face cells."""
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.coverings import cover_regions

    return cover_regions(fixtures.all_regions(spark), max_cells=8)


def point_in_region_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-and-refine point-in-region join over fixture loops/caps/
    rects; exactness vs direct PIP is pytest-verified.

    Covering budget: 8 — the 8-region fixture set rides the driver-side
    literal-InSet path either way (its conservative coverings measure
    33 cells at max_cells=8 and 103 at 64, both far below the ~1000-cell
    point where that path switches to a broadcast equi-join); the
    smaller covering keeps the InSet filters short.  The 64-cell floor
    only pays on the distributed path, which point_in_region_join
    applies itself.  Output is budget-independent: the refine stage is
    exact.
    """
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.spatial_join import point_in_region_join
    from s2_geometry_rust_spark.sources import extract_geo_points, interleave_flat_documents

    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = extract_geo_points(interleave_flat_documents(flat))
    regions = fixtures.loop_regions(
        spark, ["arctic_80", "antarctic_80", "candy_cane", "north_hemi"]
    ).unionByName(fixtures.cap_regions(spark))
    return point_in_region_join(pts, regions, max_cells=8).select(
        "doc_id", "span_idx", "region_id"
    )


def covering_cells_cons_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conservative (join-filter-sound) cap coverings over caps derived
    from the supplier table — the bounded level-synchronous coverer
    (operators/coverings.py:conservative_covering + TrueCapRegion) whose
    DuckDB oracle re-executes the whole algorithm in SQL: inverse
    Hilbert via the embedded LOOKUP_IJ table, true cell-quad geometry,
    frontier expansion with the budget stop, and the normalize
    sibling-collapse."""
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.coverings import cover_regions

    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    k = F.col("s_suppkey")
    regions = sup.filter(k < 16).select(
        F.format_string("cap-%03d", k.cast("int")).alias("region_id"),
        F.lit("cap").alias("kind"),
        ((k * 37 % 181).cast("double") - 90.0 + 0.25).alias("p0"),
        ((k * 73 % 361).cast("double") - 180.0 + 0.25).alias("p1"),
        (k % 5 + 1).cast("double").alias("p2"),
        F.lit(None).cast("double").alias("p3"),
        F.lit(None).cast(
            "array<struct<lat:double,lng:double>>"
        ).alias("vertices"),
        F.lit(None).cast("array<bigint>").alias("cell_ids"),
    )
    return cover_regions(regions, max_cells=64, conservative=True).select(
        "region_id", "cell_id", "level"
    )


def knn_cell_ring_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2_geometry_rust_spark.functions import cell_id_from_xyz
    from s2_geometry_rust_spark.operators.knn import knn_cell_ring

    queries = (
        _derived_points(spark, sf_dir, "supplier", "s_suppkey")
        .filter(F.col("point_id") < 20)
        .withColumnRenamed("point_id", "query_id")
        .withColumn("cell_id", cell_id_from_xyz("x", "y", "z"))
    )
    cands = _derived_points(spark, sf_dir).withColumnRenamed(
        "point_id", "cand_id"
    ).withColumn("cell_id", cell_id_from_xyz("x", "y", "z"))
    return knn_cell_ring(queries, cands, 10, start_level=4)


def knn_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-ring kNN with the round-4 certification + completion pass
    (knn_cell_ring(exact=True)): per-query boundary lower bound
    certifies the ring top-k, the uncertified residual re-runs through
    the streamed brute pass.  Because the output provably equals brute
    force, the oracle is plain brute-force kNN SQL — fully independent
    of the ring algorithm, so a green row means EXACT kNN, not just
    deterministic replay."""
    from s2_geometry_rust_spark.functions import cell_id_from_xyz
    from s2_geometry_rust_spark.operators.knn import knn_cell_ring

    queries = (
        _derived_points(spark, sf_dir, "supplier", "s_suppkey")
        .filter(F.col("point_id") < 20)
        .withColumnRenamed("point_id", "query_id")
        .withColumn("cell_id", cell_id_from_xyz("x", "y", "z"))
    )
    cands = _derived_points(spark, sf_dir).withColumnRenamed(
        "point_id", "cand_id"
    ).withColumn("cell_id", cell_id_from_xyz("x", "y", "z"))
    return knn_cell_ring(queries, cands, 10, start_level=4, exact=True)


def cap_point_bounds_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2Cap running point bound per group (cap.rs:188-205 add_point
    fold, incl. the chord_angle.rs:90-98 clamp at 4.0) — the r3 verdict
    item promoting the T-only cap add_point kernel into a driver row."""
    from s2_geometry_rust_spark.operators.geom_aggs import cap_add_point_bounds

    pts = _derived_points(spark, sf_dir).withColumn(
        "group_id", (F.col("point_id") % 16).cast("long")
    )
    return cap_add_point_bounds(pts)


def maximum_tile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maximum_tile climb (cell_id.rs:673-685) from each derived
    point's leaf toward an unaligned range end — the min-satisfying-
    level reformulation runs as one codegen array expression."""
    from s2_geometry_rust_spark.functions import (
        cell_id_from_xyz,
        cell_level,
        cell_maximum_tile,
        cell_range_min,
        cell_token,
    )

    pts = _derived_points(spark, sf_dir)
    leaf = cell_id_from_xyz("x", "y", "z")
    df = pts.withColumn("_leaf", leaf).withColumn(
        "_lsb2",
        F.expr("shiftleft(1L, (30 - (point_id % 11 + 5)) * 2)"),
    ).withColumn(
        "_anchor",
        F.col("_leaf").bitwiseAND(-F.col("_lsb2")).bitwiseOR(F.col("_lsb2")),
    ).withColumn(
        "_end",
        cell_range_min("_anchor") + (F.col("point_id") % 1000 + 1) * 64,
    ).withColumn("tile_id", cell_maximum_tile("_leaf", "_end"))
    return df.select(
        "point_id",
        "tile_id",
        cell_level("tile_id").alias("tile_level"),
        cell_token("tile_id").alias("tile_token"),
    )


def canonical_covering_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CanonicalizeCovering (region_coverer.rs:542-596) over the
    mixed-level fixture unions: level clamp to [8,14] with level_mod=2
    (exercising the descending upward snap), normalize, truncate to 16
    by (level, unsigned id)."""
    from s2_geometry_rust_spark.operators.unions_ops import canonicalize_covering_distributed

    return canonicalize_covering_distributed(
        _mixed_level_unions(spark, sf_dir),
        min_level=8, max_level=14, level_mod=2, max_cells=16,
    )


def near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2_geometry_rust_spark.operators.dedup import near_dedup_minhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return near_dedup_minhash(docs, threshold=0.5, n_bands=32)


def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment over the documents table: minhash-LSH
    near-dup pairs -> alternating-star connected components -> every doc
    labeled (cluster_id = min doc_id reachable, cluster_size).  Oracle
    re-derives components as a recursive reachability closure in SQL."""
    from s2_geometry_rust_spark.operators.dedup import duplicate_clusters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicate_clusters(docs, threshold=0.5, n_bands=32)


def corpus_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus materialization: quality gate +
    language gate + exact-dup keeper + near-dup cluster keeper
    (operators/corpus.py) — the composition query a real data pipeline
    runs; oracled by composing the proven sub-oracles."""
    from s2_geometry_rust_spark.operators.corpus import build_training_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return build_training_corpus(docs, quality_min=0.5, langs=("en",))


def tile_counts_salted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof tile counts over the largest driver table (lineitem)
    via the explicit two-stage salted aggregation (plans/salting.py:
    salted_counts) — the north rule's 'explicit salting for skewed hot
    tiles' as a graded query.  Level 6 makes city-scale hot tiles; the
    salt is a deterministic row function, and the result is provably
    salt-invariant, so the oracle is the plain GROUP BY."""
    from s2_geometry_rust_spark.plans.salting import salted_counts

    pts = _derived_points(spark, sf_dir, "lineitem", "l_orderkey")
    tiles = pts.select(
        "point_id",
        cell_parent(cell_id_from_xyz("x", "y", "z"), 6).alias("tile_id"),
    )
    out = salted_counts(tiles, "tile_id", n_salts=8, salt_on="point_id",
                        count_col="n_points")
    return out.select(
        "tile_id", cell_token("tile_id").alias("tile_token"), "n_points"
    )


def doc_embedding_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal metadata join: each document matched to its
    embedding-table row (vec_id == doc_id), rolled up per (lang,
    label).  At 100 TB both sides are large tables sharing a key — a
    plain equi-join AQE plans as a co-partitioned shuffle join; the
    grouped result is one small final shuffle.  sum over BIGINT keeps
    the oracle comparison exact (no float summation order)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    return (
        docs.join(embs, "doc_id")
        .groupBy("lang", "label")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def events_hourly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type event rollup — the batch twin of the streaming
    tile aggregation (same window semantics as streaming/tiles.py).
    Aggregates chosen order-independent (count/min/max/integer-sum) so
    the oracle comparison is exact."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.withColumn("cents", F.round(F.col("value") * 100, 0).cast("long"))
        .groupBy(
            F.date_trunc("hour", "ts").alias("ts_hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.sum("cents").alias("sum_cents"),
        )
    )


def fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2_geometry_rust_spark.operators.text import fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fingerprints(docs)


def simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2_geometry_rust_spark.operators.dedup import simhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_signatures(docs)


def loop_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loop aggregates (area/curvature/centroid — loop.rs:322-364
    formulas) over the fixture catalog, emitted as nano-scaled integers:
    the engine (numpy trig) and the DuckDB oracle (SQL trig) agree to
    ~1 ulp, and rounding to 1e-9 absorbs that while still verifying 9
    significant decimals of every statistic.  The full double-precision
    surface (incl. rect bounds) stays pinned by the pytest parity suite."""
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.geom_aggs import loop_stats

    def nano(c: str) -> F.Column:
        return F.round(F.col(c) * 1e9, 0).cast("long")

    return loop_stats(fixtures.loop_regions(spark)).select(
        "region_id",
        "n_vertices",
        nano("area").alias("area_nano"),
        nano("curvature").alias("curvature_nano"),
        nano("centroid_x").alias("cx_nano"),
        nano("centroid_y").alias("cy_nano"),
        nano("centroid_z").alias("cz_nano"),
    )


# Loop split for the edge-crossing contract query.  Shape ids follow
# sorted(name) order in edges_from_loops: antarctic_80=0, arctic_80=1,
# candy_cane=2, loop_a=3, loop_b=4, small_ne_cw=5.  The split below
# exercises shared-vertex degenerate pairs (loop_a x loop_b) on the
# *index* candidate path at face level — scale-shaped (equi-join on a
# codegen cell key, no cross join) and fully SQL-oracled.
EDGE_CROSS_LOOPS = ["antarctic_80", "arctic_80", "candy_cane",
                    "loop_a", "loop_b", "small_ne_cw"]
EDGE_CROSS_A_SIDS = [1, 2, 3]   # arctic_80, candy_cane, loop_a
EDGE_CROSS_LEVEL = 0            # fixture edges only collide at face level


def edge_crossings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-crossing join via the shape-index candidate path
    (mutable_shape_index.rs semantics + predicates.rs crossing_sign).
    Fixture-scale edges share cells only at face level, so the index
    level is 0 here; the operator defaults to the reference's 15."""
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.shape_index import edge_crossing_join, edges_from_loops

    edges = edges_from_loops(
        spark, {n: fixtures.LOOPS[n] for n in EDGE_CROSS_LOOPS}
    )
    a = edges.filter(F.col("shape_id").isin(EDGE_CROSS_A_SIDS))
    b = edges.filter(~F.col("shape_id").isin(EDGE_CROSS_A_SIDS))
    return edge_crossing_join(
        a, b, candidates_via_index=True, candidate_level=EDGE_CROSS_LEVEL
    )


# Contract polyline set: every crossing is transversal (no polyline
# passes exactly through another's vertex), so every crossing_sign
# determinant resolves in the triage tier and the DuckDB oracle can
# reproduce the decision with plain f64 arithmetic.  Degenerate/vertex
# cases stay covered by the kernel parity suite in pytest.
POLYLINE_LINES = {
    "equator_w": [(0.0, -30.0), (0.0, 0.0), (0.0, 30.0)],
    "meridian_10": [(-20.0, 10.0), (20.0, 10.0)],
    "meridian_90": [(-20.0, 90.0), (20.0, 90.0)],
    "arctic_arc": [(80.0, -30.0), (80.0, 30.0)],
    "mid_lat": [(30.0, -40.0), (35.0, 40.0)],
    "diag": [(-25.0, -20.0), (25.0, 35.0)],
}


def polyline_crossings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polyline-intersection join (polyline.rs:316-338 semantics as a
    distributed filter-and-refine join)."""
    from s2_geometry_rust_spark.operators.polyline_join import polyline_intersection_join

    df = spark.createDataFrame(
        [(k, [(float(a), float(b)) for a, b in v])
         for k, v in POLYLINE_LINES.items()],
        "line_id string, vertices array<struct<lat:double,lng:double>>",
    )
    return polyline_intersection_join(df, df).filter(
        F.col("a_id") < F.col("b_id")
    )


# Stats fixture lines: multi-edge lines so the interpolate(0.5) edge
# walk is exercised beyond the trivial first-edge case; every line has
# <= 8 edges (numpy's pairwise sum is plain sequential below 8 terms,
# which the oracle's ordered window sum mirrors).  Deliberately
# ASYMMETRIC (unlike POLYLINE_LINES' equator_w) so the 0.5 target never
# lands exactly on an edge boundary — the walk's >= decision must be
# ulp-robust (guarded in tests/test_round3_oracles.py).
PSTAT_LINES = {
    "equator_w": [(0.0, -30.0), (0.0, -3.0), (0.0, 30.0)],
    "meridian_10": [(-20.0, 10.0), (20.0, 10.0)],
    "meridian_90": [(-20.0, 90.0), (20.0, 90.0)],
    "arctic_arc": [(80.0, -30.0), (80.0, 30.0)],
    "mid_lat": [(30.0, -40.0), (35.0, 40.0)],
    "diag": [(-25.0, -20.0), (25.0, 35.0)],
    "zigzag": [(0.0, 0.0), (10.0, 11.0), (0.0, 20.0), (12.0, 30.0),
               (0.0, 43.0)],
    "long_arc": [(-40.0, -60.0), (0.0, -20.0), (40.0, 20.0), (50.0, 70.0)],
}


def polyline_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polyline length + interpolate(0.5) midpoint (polyline.rs:182-259)
    over the fixture lines, nano-scaled like loop_stats (engine numpy
    trig vs oracle SQL trig agree to ~1 ulp; margin guards in
    tests/test_round3_oracles.py)."""
    from s2_geometry_rust_spark.operators.geom_aggs import polyline_stats

    df = spark.createDataFrame(
        [(k, [(float(a), float(b)) for a, b in v])
         for k, v in PSTAT_LINES.items()],
        "line_id string, vertices array<struct<lat:double,lng:double>>",
    )

    def nano(c: str) -> F.Column:
        return F.round(F.col(c) * 1e9, 0).cast("long")

    return polyline_stats(df).select(
        "line_id", "n_vertices",
        nano("length_rad").alias("length_nano"),
        nano("mid_x").alias("mid_x_nano"),
        nano("mid_y").alias("mid_y_nano"),
        nano("mid_z").alias("mid_z_nano"),
    )


# Chain-crossing fixtures: all loops keep at least one edge v0 on face
# 0 and every line's covering touches face 0, so with index_level=0
# every (line, shape) pair is a candidate of the operator's index path
# and the all-pairs SQL oracle matches its output exactly (asserted in
# tests/test_round3_oracles.py).  touch_tri starts at tri_mid's first
# vertex (bit-identical doubles) to exercise the crosser's
# shared-vertex 0-sign.
CHAIN_LOOPS = {
    "tri_mid": [(5.0, -15.0), (25.0, 5.0), (5.0, 25.0)],
    "quad_w": [(-20.0, -35.0), (-20.0, -5.0), (10.0, -5.0), (10.0, -35.0)],
    "small_ne": [(35.0, 20.0), (44.0, 20.0), (40.0, 25.0)],
}
CHAIN_LINES = {
    "cross_tri": [(-5.0, 5.0), (25.0, 5.0)],
    "touch_tri": [(5.0, -15.0), (-10.0, -25.0)],
    "diag_w": [(-25.0, -40.0), (15.0, 0.0)],
    "equator_mid": [(0.0, -38.0), (0.0, 28.0)],
}


def chain_crossings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-crossing join: fixture polylines vs indexed loop edges via
    the S2EdgeCrosser chain state (edge_crosser.rs:106-170) —
    shape-index candidate path at face level (fixture edges only share
    face cells), applyInPandas chain walk refine."""
    from s2_geometry_rust_spark.operators.shape_index import edges_from_loops, polyline_edge_crossings

    edges = edges_from_loops(spark, CHAIN_LOOPS)
    lines = spark.createDataFrame(
        [(i, [(float(a), float(b)) for a, b in CHAIN_LINES[n]])
         for i, n in enumerate(sorted(CHAIN_LINES))],
        "line_id long, vertices array<struct<lat:double,lng:double>>",
    )
    return polyline_edge_crossings(lines, edges, index_level=0)


def union_areas_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-level area aggregates (cell_union.rs:480-501) over the
    mixed-level union fixtures, atto-scaled: average_area and
    approx_area are trig-free (bit-exact vs the oracle — with the
    pinned-UV-bounds quirk the per-cell approximation reduces exactly
    to average_area_at_level); exact_area is the avg-edge-squared trig
    formula compared at 1e-18 with margin guards."""
    from s2_geometry_rust_spark.operators.geom_aggs import union_bounds

    def atto(c: str) -> F.Column:
        return F.round(F.col(c) * 1e18, 0).cast("long")

    return union_bounds(_mixed_level_unions(spark, sf_dir)).select(
        "union_id", "n_cells",
        atto("average_area").alias("average_atto"),
        atto("approx_area").alias("approx_atto"),
        atto("exact_area").alias("exact_atto"),
    )


def emb_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup threshold join (the oracle
    baseline; cosine_threshold_pairs_lsh is the bucketed scale path,
    recall-tested in pytest, and ivf_topk the ANN scale path)."""
    from s2_geometry_rust_spark.operators.similarity import cosine_threshold_pairs_exact

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_threshold_pairs_exact(emb, 0.4)


def ann_cosine_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2_geometry_rust_spark.operators.similarity import cosine_topk_bruteforce

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk_bruteforce(queries, emb, 10).select(
        "query_id", "neighbor_id", "rank"
    )


def media_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal pipeline end-to-end: interleave driver docs with
    media spans, explode + route by modality, Arrow-batched fake decode
    (deterministic stand-in for PIL/ffmpeg — the plumbing is the real
    contract), one row of typed metadata per (media span, feature dim).
    The feature vector is posexploded to scalar (dim_idx, feature) rows
    so every output column is driver-canonicalizable (a raw
    array<double> column breaks hash canonicalization)."""
    from s2_geometry_rust_spark.operators.multimodal import extract_media_features, media_spans
    from s2_geometry_rust_spark.sources import interleave_flat_documents

    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = interleave_flat_documents(flat, with_media=True)
    feats = extract_media_features(media_spans(docs))
    return feats.select(
        "doc_id", "span_idx", "modality", "width", "height", "n_frames",
        F.posexplode("features").alias("dim_idx", "feature"),
    )


def ann_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the deterministic first-ids quantizer so the whole
    pipeline (assign -> probe -> bucket join -> exact re-rank) verifies
    against the pure-SQL oracle; the kmeans-trained path is the
    production default, recall-tested in pytest."""
    from s2_geometry_rust_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(queries, emb, 10, n_centroids=16, n_probe=4,
                    init="first_ids").select(
        "query_id", "neighbor_id", "rank"
    )


def ann_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN over the Rademacher (±1) hyperplane family: buckets
    are signs of EXACT int64 dot products on the 1e-6 grid, so the
    DuckDB oracle replays the full pipeline (bucket -> collision join ->
    exact cosine re-rank) bit-for-bit; the Gaussian-plane variant is the
    recall-tested production default."""
    from s2_geometry_rust_spark.operators.similarity import lsh_bucketed_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    return lsh_bucketed_topk(
        queries, emb, 10, n_bits=8, dim=64, n_tables=4, seed=7,
        planes="rademacher",
    ).select("query_id", "neighbor_id", "rank")


# multi-chain shape split for the chain_crossing_pairs contract query:
# sorted(name) order in edges_from_chains gives a_lines=0, b_lines=1.
MULTI_CHAIN_A = ["arctic_arc", "diag", "equator_w"]
MULTI_CHAIN_B = ["meridian_10", "meridian_90", "mid_lat"]


def chain_crossing_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-crossing join between two MULTI-CHAIN polyline shapes
    (S2MultiPolylineShape, polyline_shape.rs:66-199): one shape_id owns
    several chains, edge ids are cumulative over chains (chain_starts
    layout), and the join propagates ChainPosition.chain_id on both
    sides.  Fixture lines are transversal (margins pytest-pinned), so
    the oracle replays crossing_sign in plain f64."""
    from s2_geometry_rust_spark.operators.shape_index import edge_crossing_join, edges_from_chains

    shapes = {
        "a_lines": [POLYLINE_LINES[n] for n in MULTI_CHAIN_A],
        "b_lines": [POLYLINE_LINES[n] for n in MULTI_CHAIN_B],
    }
    edges = edges_from_chains(spark, shapes, dim=1, closed=False)
    a = edges.filter(F.col("shape_id") == 0)
    b = edges.filter(F.col("shape_id") == 1)
    return edge_crossing_join(
        a, b, candidates_via_index=True, candidate_level=0,
        with_chains=True,
    )


def point_in_polygon_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon-with-holes join: the polygon fixtures carry
    shell+hole loop lists (S2PolygonShape semantics — first loop per
    poly index is the shell, the rest holes, multi-poly contains == any;
    polygon_shape.rs:78-95, 236-258, 389-393).  Rides the same
    filter-and-refine path as point_in_region: conservative shell
    coverings filter, exact shell-minus-holes winding PIP refine."""
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.spatial_join import point_in_region_join
    from s2_geometry_rust_spark.sources import extract_geo_points, interleave_flat_documents

    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = extract_geo_points(interleave_flat_documents(flat))
    regions = fixtures.polygon_regions(spark)
    return point_in_region_join(pts, regions, max_cells=8).select(
        "doc_id", "span_idx", "region_id"
    )


def builder_graph_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2Builder subsystem end-to-end at table scale: geo points are
    chained into 32 polylines (builder add_polyline semantics), both
    endpoints snapped with IntLatLngSnapFunction(scale=10), and the
    snapped-edge Graph built — first-appearance vertex ids, degenerate
    edges dropped, duplicates collapsed with input counts
    (builder/graph.rs:236-560, snap_functions.rs:190-199).  The DuckDB
    oracle replays the full build: snap grid, slot-rank vertex ids,
    dedup, edge ranks.  Rounding/pole margins are pytest-pinned
    (test_builder_oracle_margins)."""
    from s2_geometry_rust_spark.operators.builder import (
        SnapFunction,
        build_graph,
        edges_from_latlng,
        with_int_grid,
    )
    from s2_geometry_rust_spark.sources import extract_geo_points, interleave_flat_documents

    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = extract_geo_points(interleave_flat_documents(flat)).select(
        "doc_id", "lat", "lng"
    )
    pts = pts.withColumn(
        "doc_seq", F.substring("doc_id", 5, 8).cast("long")
    ).withColumn(
        "graph",
        F.concat(F.lit("g-"), (F.col("doc_seq") % 32).cast("string")),
    )
    w = Window.partitionBy("graph").orderBy("doc_seq")
    raw = (
        pts.select(
            "graph", "lat", "lng",
            F.lead("lat").over(w).alias("lat2"),
            F.lead("lng").over(w).alias("lng2"),
            (F.row_number().over(w) - 1).alias("edge_ord"),
        )
        .filter(F.col("lat2").isNotNull())
        .withColumn("edge_type", F.lit("directed"))
    )
    edges = edges_from_latlng(raw)
    vertices, gedges = build_graph(
        edges, SnapFunction("int_latlng", scale=10.0),
        materialize_snapped=True,
    )
    # the vertex table feeds BOTH endpoint joins below (and graph_edges
    # shares its upstream) — without a checkpoint the whole snap +
    # groupBy chain re-executes once per join branch (6 parquet scans
    # observed); lazy localCheckpoint materializes each once, and its
    # blocks free with the frame (no cacheManager entry to unpersist)
    vg = with_int_grid(vertices, scale=10.0).localCheckpoint(eager=False)
    gedges = gedges.localCheckpoint(eager=False)
    src = vg.select(
        "graph", F.col("vertex_id").alias("src_vid"),
        F.col("lat_e").alias("src_lat_e"), F.col("lng_e").alias("src_lng_e"),
    )
    dst = vg.select(
        "graph", F.col("vertex_id").alias("dst_vid"),
        F.col("lat_e").alias("dst_lat_e"), F.col("lng_e").alias("dst_lng_e"),
    )
    return (
        gedges.join(src, ["graph", "src_vid"])
        .join(dst, ["graph", "dst_vid"])
        .select(
            "graph", "edge_id", "src_vid", "dst_vid",
            "src_lat_e", "src_lng_e", "dst_lat_e", "dst_lng_e",
            "n_inputs",
        )
    )


def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals — zero-shuffle per-row
    array math (see text.with_repetition_stats)."""
    from s2_geometry_rust_spark.operators.text import with_repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_repetition_stats(docs).select(
        "doc_id", "n_tokens", "n_distinct_tokens", "top_token_count",
        "repetition_nano", "top_token_frac_nano",
    )


def session_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization rollup — one shuffle on user_id, two
    codegen window passes (see events.session_stats)."""
    from s2_geometry_rust_spark.operators.events import session_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_stats(ev)


def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language quota sample in md5(doc_id) order —
    reproducible across runs and cluster sizes (see
    sampling.stratified_sample)."""
    from s2_geometry_rust_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(docs, ["lang"], 50).select(
        "doc_id", "lang", "sample_rank"
    )


def vocab_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus vocabulary — one map-side-combined shuffle plus a
    WindowGroupLimit-pruned global top-k (see vocab.vocab_topk)."""
    from s2_geometry_rust_spark.operators.vocab import vocab_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_topk(docs, 100)


def bigram_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram count table with min-frequency cut — per-row array
    n-gram expansion (zero shuffle) + one combined groupBy."""
    from s2_geometry_rust_spark.operators.vocab import ngram_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_counts(docs, n=2, min_count=2)


def label_centroids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-label embedding sums on a 1e-6 integer grid —
    treeAggregate-shaped partial sums (one exchange row per
    (label, partition), never per vector; see
    vocab.label_centroid_sums)."""
    from s2_geometry_rust_spark.operators.vocab import label_centroid_sums

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return label_centroid_sums(embs)


# Region-contains-loop contract fixtures: margins verified in
# tests/test_round3_oracles.py (no B vertex within 1e-2 of any A loop's
# edge great-circle or cap boundary; same-name pairs excluded — shared
# vertices would make the triage determinant exactly 0).
CONTAIN_A_LOOPS = ["north_hemi", "south_hemi", "arctic_80", "antarctic_80"]
CONTAIN_B_LOOPS = ["small_ne_cw", "arctic_80", "antarctic_80"]


def region_contains_loop_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region-contains-loop join (vertex-containment semantics,
    loop.rs:397-415) over fixture hemispheres/rings/caps — the
    filter-and-refine point join lifted to region x region."""
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.spatial_join import region_containment_join

    a = fixtures.loop_regions(spark, CONTAIN_A_LOOPS).unionByName(
        fixtures.cap_regions(spark)
    )
    b = fixtures.loop_regions(spark, CONTAIN_B_LOOPS)
    return region_containment_join(a, b).filter(
        F.col("a_id") != F.col("b_id")
    )


# Loop-intersects contract fixtures: mutual (both-direction) margins
# > 2e-3 verified in tests/test_round3_oracles.py.
INTERSECT_A_LOOPS = ["near_hemi", "far_hemi", "antarctic_80"]
INTERSECT_B_LOOPS = ["candy_cane", "loop_a", "loop_b"]


def loop_intersections_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loop-intersects-loop join (mutual vertex probing,
    loop.rs:418-441) over margin-guarded fixture sets."""
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.spatial_join import loop_intersection_join

    a = fixtures.loop_regions(spark, INTERSECT_A_LOOPS)
    b = fixtures.loop_regions(spark, INTERSECT_B_LOOPS)
    return loop_intersection_join(a, b)


# Strict-mode fixture sets add the crossed thin bands: their boundaries
# cross like a plus sign while every vertex of each sits outside the
# other, so the reference-parity vertex probe provably misses the pair
# and only the edge-crossing completion leg reports it
# (tests/test_loop_strict_round4.py pins both facts).
STRICT_A_LOOPS = INTERSECT_A_LOOPS + ["cross_band_ew"]
STRICT_B_LOOPS = INTERSECT_B_LOOPS + ["cross_band_ns"]


def loop_intersections_strict_q(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Loop-intersects-loop join with the edge-crossing completion the
    reference left TODO (loop.rs:413,439): mutual vertex probing OR any
    proper boundary crossing (crossing_sign_complete).  Opt-in strict
    mode — the parity default stays loop_intersections_q."""
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.spatial_join import loop_intersection_join

    a = fixtures.loop_regions(spark, STRICT_A_LOOPS)
    b = fixtures.loop_regions(spark, STRICT_B_LOOPS)
    return loop_intersection_join(a, b, strict=True)


def decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any distinct
    3-gram with the held-out set (doc_id < 10 as the eval stand-in;
    n=3 keeps the contract comparison dense at small SF — production
    default is 5) — broadcast semi-join, corpus side never shuffled."""
    from s2_geometry_rust_spark.operators.vocab import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    return decontaminate(corpus, bench, n=3)


def funnel_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view -> click -> purchase funnel over events — per-step
    user-keyed aggregates, no self-join explosion."""
    from s2_geometry_rust_spark.operators.events import funnel_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel_counts(ev)


def tile_lang_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-domain flagship composition: geo spans extracted from the
    interleaved documents -> leaf cell -> level-6 tile, joined with each
    document's predicted language — per-tile language distribution.
    One extraction pass + one broadcastable lang join + one aggregate
    shuffle; everything before the groupBy is codegen + one Arrow UDF."""
    from s2_geometry_rust_spark.operators.text import with_lang_id
    from s2_geometry_rust_spark.sources import extract_geo_points, interleave_flat_documents

    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = extract_geo_points(interleave_flat_documents(flat)).withColumn(
        "_id", F.regexp_extract("doc_id", r"(\d+)", 1).cast("long")
    )
    lang = with_lang_id(flat).select(
        F.col("doc_id").alias("_id"), "lang_pred"
    )
    return (
        pts.join(lang, "_id")
        .withColumn("tile_id", cell_parent("cell_id", 6))
        .groupBy("tile_id", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "tile_id", cell_token("tile_id").alias("tile_token"),
            "lang_pred", "n_docs",
        )
    )


def retention_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention over events — distinct (user, day) activity,
    first-day cohorts, day-offset counts."""
    from s2_geometry_rust_spark.operators.events import retention_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return retention_counts(ev)


def point_cloud_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-cloud shapes at table scale (S2PointCloudShape,
    point_shape.rs:12-160): derived points grouped into 32 clouds, each
    point a degenerate edge in its within-shape order, rolled up to
    per-(shape, level-15 index cell) clipped-shape stats.  One window
    shuffle + one partial-agg shuffle; cell math is codegen bit ops."""
    from s2_geometry_rust_spark.operators.shape_index import point_cloud_index

    pts = leaf_assign(spark, sf_dir).withColumn(
        "shape_id", F.pmod("point_id", F.lit(32)).cast("long")
    )
    return point_cloud_index(pts).select(
        "shape_id",
        F.col("index_cell_id").alias("cell_id"),
        cell_token("index_cell_id").alias("cell_token"),
        "n_edges",
        "min_edge_id",
        "max_edge_id",
    )




def ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-set Jaccard near-dup pairs via PPJoin-style prefix
    filtering — the exact counterpart of the probabilistic minhash path
    (near_dup_pairs).  Candidates come only from each doc's rarest-
    n-gram prefix (provably lossless at the threshold), so the join key
    distribution is anti-skewed by construction."""
    from s2_geometry_rust_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_jaccard_pairs(docs, threshold=0.5, n=3)




def asof_last_error_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every click event gains the most recent prior-or-
    equal error event of the same user (union + sorted carry-forward —
    one shuffle, no row amplification).  Oracle: DuckDB's native
    ASOF JOIN, an independent implementation of the same semantics."""
    from s2_geometry_rust_spark.operators.events import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click")
    errors = ev.filter(F.col("event_type") == "error")
    return asof_join(
        clicks, errors, right_payload=("event_id", "value")
    ).select("event_id", "asof_event_id", "asof_value")


def range_join_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval range join: clicks falling in each error
    event's 6-hour window, counted per window — interval replicated to
    its <=2 overlapped buckets, equi-join on (user, bucket), exact
    microsecond range filter; never the equi-join-then-filter
    explosion."""
    from s2_geometry_rust_spark.operators.events import range_join_buckets

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click")
    windows = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("window_event_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("end_ts"),
        )
    )
    joined = range_join_buckets(
        clicks, windows, bucket_us=6 * 3600 * 1_000_000
    )
    return joined.groupBy("window_event_id").agg(
        F.count("*").alias("n_clicks")
    )




def events_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hour/day/week counts and
    exact cent sums per event_type in ONE pass (GROUPING SETS — one
    scan + one shuffle instead of one scan per granularity)."""
    from s2_geometry_rust_spark.operators.events import multi_granularity_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return multi_granularity_rollup(ev)




def ann_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN in the compressed domain (8 int codes
    per 64-dim vector — 32x less scan I/O at 100 TB): exact-integer-
    grid codebooks (first-ids init), integer LUT sums, deterministic
    tie-breaks — the whole encode -> ADC -> top-k pipeline replays
    bit-for-bit in SQL.  The kmeans-codebook path is the production
    default, recall-tested in pytest."""
    from s2_geometry_rust_spark.operators.similarity import pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    return pq_topk(queries, emb, 10, m=8, ks=16, init="first_ids")


def boilerplate_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document boilerplate coverage: tokens covered
    by any exact 8-gram that occurs in >= 2 distinct documents (the
    planted near-duplicate corpus makes the shared spans)."""
    from s2_geometry_rust_spark.operators.text import boilerplate_coverage

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return boilerplate_coverage(docs, n=8, min_docs=2)


def pack_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing prep: fixed 64-token training chunks per
    document with tail-pad bookkeeping.  Zero-shuffle codegen."""
    from s2_geometry_rust_spark.operators.text import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, window=64)


def kmv_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-token sketch per language, exact-replayable
    registers (md5-prefix hash) — estimate vs exact side by side."""
    from s2_geometry_rust_spark.operators.sketches import kmv_distinct_per_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return kmv_distinct_per_group(docs, k=64)


def cap_intersect_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region-to-region intersection join via the S2RegionTermIndexer
    pattern: (marker, cell) inverted-index terms -> one hash equi-join
    -> exact chord-space refine (cap.rs intersects).  The all-pairs
    DuckDB oracle catches both missed candidates and refine drift."""
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.term_index import cap_intersect_join_terms

    q = fixtures.cap_regions(spark, catalog=fixtures.TERM_QUERY_CAPS)
    i = fixtures.cap_regions(spark, catalog=fixtures.TERM_INDEX_CAPS)
    return cap_intersect_join_terms(q, i)


def closest_edge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest great-circle edge per derived point — the engine's
    S2ClosestEdgeQuery surface (the reference stubs its query system).
    Broadcast exact path; the indexed variant is parity-tested against
    it in tests/test_closest_edge.py."""
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.closest_edge import closest_edge_join

    pts = _derived_points(spark, sf_dir)
    edges = spark.createDataFrame(
        fixtures.closest_edge_fixture(),
        "edge_id long, ax double, ay double, az double,"
        " bx double, by double, bz double",
    )
    return closest_edge_join(pts, edges)


def wrs_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample (A-ES, deterministic hash randomness):
    20 docs per source, probability proportional to n_chars."""
    from s2_geometry_rust_spark.operators.sampling import weighted_sample_per_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weighted_sample_per_group(docs, k=20).select(
        "source", "doc_id", "n_chars", "sample_rank"
    )


def dup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. exact-substring
    dedup, Spark-native): maximal runs of 8-token windows recurring in
    >= 2 distinct documents."""
    from s2_geometry_rust_spark.operators.dedup import duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicate_spans(docs, window=8, min_docs=2)


def hex_tile_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts per aperture-7 hex cell (kernels/hexgrid.py) — the H3
    side of the north rule's "H3/S2 index".  Fully JVM: projection,
    rotation, cube rounding and packing are Column arithmetic inside
    whole-stage codegen (functions/hexcols.py); one shuffle (the agg)."""
    from s2_geometry_rust_spark.functions.hexcols import hex_token, with_hex_cell

    pts = _derived_points(spark, sf_dir)
    return (
        with_hex_cell(pts, "x", "y", "z", 2, keep=[])
        .groupBy("hex_id")
        .agg(F.count("*").alias("n_points"))
        .select("hex_id", hex_token("hex_id").alias("hex_token"), "n_points")
    )


def hex_parent_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aperture-7 hierarchy rollup: assign at res 3, rebin each child's
    center at res 2 (center-containment parenthood, like H3
    child->parent), aggregate points and distinct children per parent."""
    from s2_geometry_rust_spark.functions.hexcols import hex_token, with_hex_cell, with_hex_parent

    pts = _derived_points(spark, sf_dir)
    df = with_hex_cell(pts, "x", "y", "z", 3, out="child_id", keep=[])
    df = with_hex_parent(df, "child_id", 3)
    return (
        df.groupBy("parent_id")
        .agg(
            F.count("*").alias("n_points"),
            F.countDistinct("child_id").alias("n_children"),
        )
        .select(
            "parent_id",
            hex_token("parent_id").alias("parent_token"),
            "n_points",
            "n_children",
        )
    )


def hex_ring_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3-style kRing query: per query point, count data points whose
    hex lies within lattice distance 2 on the same face.  Scale shape:
    the query side expands to its 19-cell disk (JVM explode of literal
    offsets) and broadcast-equi-joins the billion-row point side on
    hex_id — the point side is never shuffled."""
    from s2_geometry_rust_spark.functions.hexcols import (
        hex_face,
        hex_pack,
        hex_q,
        hex_r,
        with_hex_cell,
    )
    from s2_geometry_rust_spark.kernels.hexgrid import disk_offsets

    res, k = 2, 2
    pts = with_hex_cell(
        _derived_points(spark, sf_dir), "x", "y", "z", res,
        keep=["point_id"],
    )
    qs = with_hex_cell(
        _derived_points(spark, sf_dir, "supplier", "s_suppkey").filter(
            F.col("point_id") <= 20
        ),
        "x", "y", "z", res, out="qhex", keep=["point_id"],
    )
    offs = F.array(
        *[
            F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
            for dq, dr in disk_offsets(k)
        ]
    )
    neigh = qs.select(
        F.col("point_id").alias("query_id"),
        hex_face("qhex").alias("face"),
        hex_q("qhex").alias("q"),
        hex_r("qhex").alias("r"),
        F.explode(offs).alias("o"),
    ).select(
        "query_id",
        hex_pack(
            F.col("face"),
            res,
            F.col("q") + F.col("o.dq"),
            F.col("r") + F.col("o.dr"),
        ).alias("hex_id"),
    )
    # eqNullSafe, not "==": an inner equi-join makes Catalyst infer
    # isnotnull(hex_id) and push it below every chained projection,
    # re-inlining the whole hex pipeline into one >64KB expression that
    # fails janino and de-optimizes the stage (keys are non-null by
    # construction, so <=> is semantically identical and still a BHJ).
    counts = (
        pts.join(F.broadcast(neigh), pts.hex_id.eqNullSafe(neigh.hex_id))
        .groupBy("query_id")
        .agg(F.count("*").alias("n_points"))
    )
    qid = qs.select(F.col("point_id").alias("query_id"))
    return qid.join(counts, "query_id", "left").select(
        "query_id", F.coalesce("n_points", F.lit(0)).alias("n_points")
    )


def tile_pyramid_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level tile-count pyramid (levels 4/8/12) in ONE pass via
    GROUPING SETS — one scan + Expand + single shuffle instead of one
    scan per zoom level (the heatmap-pyramid shape every map tiler
    needs; at 100 TB the saved scans dominate)."""
    from s2_geometry_rust_spark.operators.tiling import tile_pyramid

    pts = leaf_assign(spark, sf_dir)
    return tile_pyramid(pts, levels=(4, 8, 12))


def trajectory_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trajectory hop stats in squared-chord space
    (chord_angle.rs:90-95): lineitem lines are fixes (traj =
    l_orderkey, order = l_linenumber) with normalized derived
    directions; hop lengths are integer-scaled before summing so the
    totals are order-independent and exactly oracled."""
    from s2_geometry_rust_spark.operators.geom_aggs import trajectory_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    k = F.col("l_orderkey") * 7 + F.col("l_linenumber")
    raw = li.select(
        F.col("l_orderkey").alias("traj_id"),
        F.col("l_linenumber").alias("seq"),
        ((k * 37 % 997) / 498.5 - 1.0).alias("rx"),
        ((k * 73 % 991) / 495.5 - 1.0).alias("ry"),
        ((k * 101 % 983) / 491.5 - 1.0).alias("rz"),
    )
    n = F.sqrt(
        F.col("rx") * F.col("rx")
        + F.col("ry") * F.col("ry")
        + F.col("rz") * F.col("rz")
    )
    pts = raw.select(
        "traj_id", "seq",
        (F.col("rx") / n).alias("x"),
        (F.col("ry") / n).alias("y"),
        (F.col("rz") / n).alias("z"),
    )
    return trajectory_stats(pts)


def group_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language doc-length quantiles via distinct-value
    compression — the window touches only the distinct-length
    histogram, never the rows, so exact quantiles stay cheap at
    100 TB."""
    from s2_geometry_rust_spark.operators.sketches import exact_group_quantiles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_group_quantiles(docs, "lang", "n_chars")


def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk training-sequence packing (capacity 256) with a
    bucketed distributed prefix sum — the oracle's single-partition
    running sum checks the distributed decomposition exactly."""
    from s2_geometry_rust_spark.operators.text import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(docs, capacity=256)


def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rational-idf BM25 retrieval: top-10 corpus docs for 3 document
    queries — query terms broadcast into the postings, corpus shuffled
    exactly once, contributions integer-scaled so the ranking replays
    bit-for-bit in SQL."""
    from s2_geometry_rust_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = docs.filter(F.col("doc_id").isin(3, 7, 11)).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return bm25_topk(docs, queries, k=10)


def tile_modality_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal geospatial rollup: the interleaved documents'
    media spans routed by modality (FNV-1a, Arrow-vectorized) joined to
    each document's geo tile — media counts per (tile, modality).
    One extraction pass per span kind + one equi-join on doc_id + one
    aggregate shuffle; span-sequence order is untouched (the join reads
    spans, never rewrites them)."""
    from s2_geometry_rust_spark.operators.multimodal import media_spans
    from s2_geometry_rust_spark.sources import extract_geo_points, interleave_flat_documents

    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    inter = interleave_flat_documents(flat, with_media=True)
    geo = extract_geo_points(inter).select("doc_id", "cell_id")
    med = media_spans(inter).select("doc_id", "modality")
    return (
        geo.join(med, "doc_id")
        .withColumn("tile_id", cell_parent("cell_id", 5))
        .groupBy("tile_id", "modality")
        .agg(F.count("*").alias("n_media"))
        .select(
            "tile_id", cell_token("tile_id").alias("tile_token"),
            "modality", "n_media",
        )
    )


def _derived_traj_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem-derived trajectory fixes with leaf cells: k =
    l_orderkey*8 + l_linenumber (invertible), RAW direction vectors —
    the gnomonic projection is ratio-based but not bit-invariant under
    normalization, so both engines encode the raw vector."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    k = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    raw = li.select(
        F.col("l_orderkey").alias("traj_id"),
        F.col("l_linenumber").alias("seq"),
        ((k * 37 % 997) / 498.5 - 1.0).alias("x"),
        ((k * 73 % 991) / 495.5 - 1.0).alias("y"),
        ((k * 101 % 983) / 491.5 - 1.0).alias("z"),
    )
    return raw.withColumn("cell_id", cell_id_from_xyz("x", "y", "z"))


def tile_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-boundary crossing flows at level 8 over the lineitem
    trajectories — the geofence/flow-graph primitive."""
    from s2_geometry_rust_spark.operators.tiling import tile_transitions

    return tile_transitions(_derived_traj_cells(spark, sf_dir), level=8)


def od_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination tile matrix at level 4: first/last fix per
    trajectory via min/max over (seq, tile) structs — aggregation only,
    no sort window."""
    from s2_geometry_rust_spark.operators.tiling import od_matrix

    return od_matrix(_derived_traj_cells(spark, sf_dir), level=4)


def corridor_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route-corridor search: derived points within squared-chord 0.08
    (~16 deg) of any edge of 4 fixture routes — broadcast exact
    distances, per-(point, route) min as one partial aggregate,
    nano-integer threshold replayed exactly in SQL."""
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.closest_edge import corridor_join

    pts = _derived_points(spark, sf_dir)
    edges = spark.createDataFrame(
        fixtures.closest_edge_fixture(),
        "edge_id long, ax double, ay double, az double,"
        " bx double, by double, bz double",
    ).withColumn("route_id", F.pmod("edge_id", F.lit(4)).cast("long"))
    return corridor_join(pts, edges, d2_max=0.08)


def webmerc_tiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-mercator (slippy z/x/y) tile counts at zoom 6 — the raster
    web-map standard alongside the S2 quad and aperture-7 hex tilers;
    pure JVM trig, one shuffle."""
    from s2_geometry_rust_spark.operators.tiling import webmerc_tile_counts

    return webmerc_tile_counts(_derived_latlng(spark, sf_dir), zoom=6)


def hex_focal_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex focal sum (7-cell neighborhood smoothing) at res 2 — the
    neighbor fan-out runs on the per-hex counts table, never 7x the
    input."""
    from s2_geometry_rust_spark.operators.tiling import hex_focal_counts

    return hex_focal_counts(_derived_points(spark, sf_dir), res=2)


def polygon_areas_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-with-holes areas (shell minus holes, nano-exact
    combination) over the polygon fixture catalog."""
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.geom_aggs import polygon_areas

    return polygon_areas(fixtures.polygon_regions(spark))


def colocated_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory co-location mining: pairs visiting >= 2 common
    level-6 tiles — distinct-first self-join on tile_id, AQE skew-join
    backstopped."""
    from s2_geometry_rust_spark.operators.tiling import colocated_pairs

    return colocated_pairs(
        _derived_traj_cells(spark, sf_dir), level=6, min_shared=2
    )


def span_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BASELINE input-hint invariant as a driver-checked query:
    the full span sequence (kind, text, media_ref, order) of every
    interleaved document, emitted span-by-span and oracled against an
    independent SQL replay of the synthesis.  Text content is checked
    by md5, geo content by the parse-back coordinates emitted as
    MICRO-DEGREE integers: the parse itself is IEEE-exact, but the
    upstream synthesis trig differs from the SQL oracle's libm by
    ~1 ulp on a few rows — raw doubles would fail an exact hash
    compare, while at 1e-6 a flip needs a value within 1.4e-14 of a
    rounding boundary.  Media is checked by the ref; offsets for the
    text/geo spans (the media offset embeds the Python repr-length of
    the geo doubles, which no SQL engine reproduces byte-for-byte —
    documented gap, covered by pytest instead; coalesced to -1 so no
    column carries NULLs)."""
    from s2_geometry_rust_spark.sources import interleave_flat_documents
    from s2_geometry_rust_spark.sources.spans import _POINT_RE, explode_spans

    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = explode_spans(interleave_flat_documents(flat, with_media=True))
    is_geo = F.col("kind") == "geo"
    return s.select(
        "doc_id",
        "span_idx",
        "kind",
        F.when(F.col("kind") == "text", F.md5(F.coalesce("text", F.lit(""))))
        .otherwise(F.lit("")).alias("text_md5"),
        "media_ref",
        F.coalesce(
            F.when(is_geo, F.round(
                F.regexp_extract("text", _POINT_RE, 1).cast("double") * 1e6,
                0)),
            F.lit(0.0),
        ).cast("long").alias("lat_micro"),
        F.coalesce(
            F.when(is_geo, F.round(
                F.regexp_extract("text", _POINT_RE, 2).cast("double") * 1e6,
                0)),
            F.lit(0.0),
        ).cast("long").alias("lng_micro"),
        F.coalesce(
            F.when(F.col("span_idx") <= 1, F.col("offset")), F.lit(-1)
        ).cast("int").alias("offset01"),
    )


def tile_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PageRank (3 power rounds, damping 17/20) over the
    level-8 tile-transition flow graph — an iterative graph algorithm
    whose every intermediate is an exact int64, replayed bit-for-bit
    by unrolled SQL rounds."""
    from s2_geometry_rust_spark.operators.graph import pagerank_exact
    from s2_geometry_rust_spark.operators.tiling import tile_transitions

    edges = tile_transitions(_derived_traj_cells(spark, sf_dir), level=8)
    pr = pagerank_exact(
        edges, iterations=3,
        src_col="from_tile", dst_col="to_tile",
        weight_col="n_transitions",
    )
    return pr.select(
        F.col("node").alias("tile_id"),
        cell_token("node").alias("tile_token"),
        "pr_e12",
    )


def haversine_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2LatLng normalized() + get_distance() lifted to a table pass
    (latlng.rs:174-204, 234-250): per derived point, the great-circle
    distance to the next derived point, through the full
    clamp-lat / rem_euclid-wrap-lng normalization (the fixture's
    +0.25-deg offset pushes lng past 180, exercising the wrap).  All
    JVM trig in codegen; nano-rounding absorbs the <=1-ulp libm spread
    the loop_stats oracle already relies on."""
    import math

    pts = _derived_latlng(spark, sf_dir)
    k2 = F.col("point_id") + 1
    d = pts.select(
        "point_id",
        F.radians("lat").alias("la1"),
        F.radians("lng").alias("lo1"),
        F.radians((k2 * 37 % 181).cast("double") - 90.0 + 0.25).alias("la2"),
        F.radians((k2 * 73 % 361).cast("double") - 180.0 + 0.25).alias("lo2"),
    )
    pi = math.pi

    def norm(la: str, lo: str) -> tuple[F.Column, F.Column]:
        nlat = F.least(F.greatest(F.col(la), F.lit(-pi / 2)), F.lit(pi / 2))
        m = F.pmod(F.col(lo), F.lit(2.0 * pi))
        nlng = F.when(m > pi, m - 2.0 * pi).otherwise(m)
        return nlat, nlng

    la1, lo1 = norm("la1", "lo1")
    la2, lo2 = norm("la2", "lo2")
    dlat, dlng = la2 - la1, lo2 - lo1
    s1, s2 = F.sin(dlat * 0.5), F.sin(dlng * 0.5)
    a = s1 * s1 + F.cos(la1) * F.cos(la2) * s2 * s2
    dist = 2.0 * F.atan2(F.sqrt(a), F.sqrt(1.0 - a))
    return d.select(
        "point_id",
        F.round(dist * 1e9, 0).cast("long").alias("dist_nano"),
    )


CORPUS_MIX = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}


def corpus_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture targeting: a 60-doc sample matching a 4:3:2:1
    source mix, deterministic md5-ordered quotas (WindowGroupLimit
    partial top-k per source)."""
    from s2_geometry_rust_spark.operators.sampling import corpus_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_mix(docs, CORPUS_MIX, budget=60).select(
        "doc_id", "source", "quota", "sample_rank"
    )


def rolling_anomalies_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-bucket anomaly detection over hourly event counts —
    exact-int window inputs make the rolling mean/var (and the flag)
    bit-identical across engines."""
    from s2_geometry_rust_spark.operators.events import rolling_anomalies

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return rolling_anomalies(ev)


def vocab_topk_per_lang_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tokens per language: per-group ranking via a partitioned
    window with the WindowGroupLimit cut (the global vocab_topk rides
    TakeOrderedAndProject instead — both shapes covered)."""
    from s2_geometry_rust_spark.operators.vocab import vocab_topk_per_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_topk_per_group(docs, k=5)


def profile_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile of documents (row/null/distinct
    counts + min/max per column) — the data-quality gate an ingest job
    runs before committing a partition; multiple COUNT(DISTINCT) share
    one scan via Expand."""
    from s2_geometry_rust_spark.operators.profiling import profile_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return profile_table(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )


def geohash_tiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash (base-32) tile counts at precision 6 — the fourth
    tiling standard (S2 quad / hex / slippy / geohash) and the only
    one that is pure integer bit math end-to-end."""
    from s2_geometry_rust_spark.operators.tiling import geohash_tile_counts

    return geohash_tile_counts(_derived_latlng(spark, sf_dir), precision=6)


def hilbert_partition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive Hilbert range partitioning (16 balanced ranges from a
    deterministic md5-prefix sample) with per-partition balance stats
    — the explicit cell-id-range partitioning audit a 100-TB write
    runs; Spark's RangePartitioner design made replayable."""
    from s2_geometry_rust_spark.plans.partitioning import hilbert_partition_stats

    cells = leaf_assign(spark, sf_dir)
    return hilbert_partition_stats(cells, n_partitions=16)


def label_similarity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise label-centroid cosine similarity — exact-int sum
    vectors (cosine is scale-invariant), int64 dots/norms, one
    sqrt/divide at the end."""
    from s2_geometry_rust_spark.operators.vocab import label_similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return label_similarity(emb)


def gate_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus filter-funnel report: survivors of each successive
    quality gate, ONE scan with conditional sums."""
    from s2_geometry_rust_spark.operators.corpus import gate_funnel

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gate_funnel(docs)


def event_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition (Markov) counts — the
    behavioral-flow twin of tile_transitions."""
    from s2_geometry_rust_spark.operators.events import event_transitions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return event_transitions(ev)


def quality_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-score histogram (10 buckets) — identical
    double trees both engines, so bucket-edge rows land identically."""
    from s2_geometry_rust_spark.operators.text import quality_histogram

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_histogram(docs)


def tile_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-domain rollup: per level-6 tile, document count and the
    exact micro-scaled quality-score sum (geo spans -> Hilbert tile,
    joined to the quality trees) — the map layer a curation dashboard
    renders."""
    from s2_geometry_rust_spark.operators.text import with_quality_score
    from s2_geometry_rust_spark.sources import extract_geo_points, interleave_flat_documents

    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = extract_geo_points(interleave_flat_documents(flat)).withColumn(
        "_id", F.regexp_extract("doc_id", r"(\d+)", 1).cast("long")
    )
    q = with_quality_score(flat).select(
        F.col("doc_id").alias("_id"),
        F.round(F.col("quality_score") * 1e6, 0).cast("long")
        .alias("_q_micro"),
    )
    return (
        pts.join(q, "_id")
        .withColumn("tile_id", cell_parent("cell_id", 6))
        .groupBy("tile_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_q_micro").cast("long").alias("quality_micro_sum"),
        )
        .select(
            "tile_id", cell_token("tile_id").alias("tile_token"),
            "n_docs", "quality_micro_sum",
        )
    )


def source_bbox_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source geographic bounding box over the documents' geo
    spans.  Bounds are emitted as micro-degree integers: the engine's
    coordinates come from the synthesis trig, the oracle's from
    DuckDB's libm, and the two differ by ~1 ulp on a few rows — raw
    min/max doubles would fail an exact hash compare (min/max row
    CHOICE is stable, distinct coordinates are far apart; only the
    emitted bits drift)."""
    from s2_geometry_rust_spark.sources import extract_geo_points, interleave_flat_documents

    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = extract_geo_points(interleave_flat_documents(flat)).withColumn(
        "_id", F.regexp_extract("doc_id", r"(\d+)", 1).cast("long")
    )
    src = flat.select(F.col("doc_id").alias("_id"), "source")

    def micro(c: F.Column) -> F.Column:
        return F.round(c * 1e6, 0).cast("long")

    return (
        pts.join(src, "_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_geo"),
            micro(F.min("lat")).alias("min_lat_micro"),
            micro(F.max("lat")).alias("max_lat_micro"),
            micro(F.min("lng")).alias("min_lng_micro"),
            micro(F.max("lng")).alias("max_lng_micro"),
        )
    )


"""Registration order note (round 4): the driver's CORRECTNESS gate
checks only the FIRST 50 entries of this dict.  Rounds 1-3 drove the
original first-50 green (CORRECTNESS_r03.json); round 4 rotates the
never-driver-checked second half (session_stats .. source_bbox) into
the 50-slot window so every query lands in a driver artifact.  The
previously-green 50 now sit at positions 51+; new round-4 queries
register at the very end (round-5 window candidates)."""

QUERIES = {
    "session_stats": session_stats_q,
    "stratified_sample": stratified_sample_q,
    "vocab_topk": vocab_topk_q,
    "bigram_counts": bigram_counts_q,
    "label_centroids": label_centroids_q,
    "region_contains_loop": region_contains_loop_q,
    "loop_intersections": loop_intersections_q,
    "decontaminate": decontaminate_q,
    "funnel_counts": funnel_counts_q,
    "tile_lang_counts": tile_lang_counts_q,
    "retention_counts": retention_counts_q,
    "point_cloud_index": point_cloud_index_q,
    "boilerplate_spans": boilerplate_spans_q,
    "pack_chunks": pack_chunks_q,
    "kmv_distinct": kmv_distinct_q,
    "cap_intersect_terms": cap_intersect_terms_q,
    "closest_edge": closest_edge_q,
    "wrs_sample": wrs_sample_q,
    "hex_tile_counts": hex_tile_counts_q,
    "hex_parent_rollup": hex_parent_rollup_q,
    "hex_ring_counts": hex_ring_counts_q,
    "dup_spans": dup_spans_q,
    "tile_pyramid": tile_pyramid_q,
    "trajectory_stats": trajectory_stats_q,
    "group_quantiles": group_quantiles_q,
    "pack_sequences": pack_sequences_q,
    "bm25_topk": bm25_topk_q,
    "tile_modality_counts": tile_modality_counts_q,
    "tile_transitions": tile_transitions_q,
    "od_matrix": od_matrix_q,
    "corridor_join": corridor_join_q,
    "webmerc_tiles": webmerc_tiles_q,
    "hex_focal_counts": hex_focal_counts_q,
    "polygon_areas": polygon_areas_q,
    "colocated_pairs": colocated_pairs_q,
    "span_sequences": span_sequences_q,
    "tile_pagerank": tile_pagerank_q,
    "haversine_pairs": haversine_pairs_q,
    "corpus_mix": corpus_mix_q,
    "rolling_anomalies": rolling_anomalies_q,
    "vocab_topk_per_lang": vocab_topk_per_lang_q,
    "profile_documents": profile_documents_q,
    "geohash_tiles": geohash_tiles_q,
    "hilbert_partition_stats": hilbert_partition_stats_q,
    "label_similarity": label_similarity_q,
    "gate_funnel": gate_funnel_q,
    "event_transitions": event_transitions_q,
    "quality_histogram": quality_histogram_q,
    "tile_quality": tile_quality_q,
    "source_bbox": source_bbox_q,
    # --- r1-r3 driver-green block (CORRECTNESS_r03.json) ---
    "leaf_assign": leaf_assign,
    "tile_counts_l8": tile_counts_l8,
    "tile_counts_l12": tile_counts_l12,
    "face_counts": face_counts,
    "point_in_rect": point_in_rect,
    "distance_join_chord": distance_join_chord,
    "knn_brute": knn_brute,
    "dedup_exact": dedup_exact_q,
    "token_counts": token_counts_q,
    "bpe_token_counts": bpe_token_counts_q,
    "text_quality": text_quality_q,
    "lang_id": lang_id_q,
    "union_leaf_cells": union_leaf_cells_q,
    "union_normalize": union_normalize_q,
    "union_intersect": union_intersect_q,
    "union_difference": union_difference_q,
    "union_expand": union_expand_q,
    "raster_join": raster_join_q,
    "tile_counts_salted": tile_counts_salted_q,
    "doc_embedding_join": doc_embedding_join_q,
    "events_hourly": events_hourly_q,
    "fingerprints": fingerprints_q,
    "simhash": simhash_q,
    "covering_cells": covering_cells_q,
    "covering_cells_cons": covering_cells_cons_q,
    "point_in_region": point_in_region_q,
    "knn_cell_ring": knn_cell_ring_q,
    "near_dup_pairs": near_dup_pairs_q,
    "ngram_jaccard": ngram_jaccard_q,
    "asof_last_error": asof_last_error_q,
    "range_join_windows": range_join_windows_q,
    "events_rollup": events_rollup_q,
    "ann_pq": ann_pq_q,
    "dedup_clusters": dedup_clusters_q,
    "corpus_filter": corpus_filter_q,
    "ann_cosine": ann_cosine_q,
    "ann_ivf": ann_ivf_q,
    "ann_lsh": ann_lsh_q,
    "builder_graph": builder_graph_q,
    "point_in_polygon": point_in_polygon_q,
    "chain_crossing_pairs": chain_crossing_pairs_q,
    "emb_near_dup": emb_near_dup_q,
    "media_features": media_features_q,
    "loop_stats": loop_stats_q,
    "edge_crossings": edge_crossings_q,
    "polyline_crossings": polyline_crossings_q,
    "polyline_stats": polyline_stats_q,
    "chain_crossings": chain_crossings_q,
    "union_areas": union_areas_q,
    "repetition_stats": repetition_stats_q,
    "loop_intersections_strict": loop_intersections_strict_q,
    "knn_exact": knn_exact_q,
    "cap_point_bounds": cap_point_bounds_q,
    "maximum_tile_ranges": maximum_tile_q,
    "canonical_covering": canonical_covering_q,
}

def point_in_region_salted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-distributed PIP join (no driver-side region collect) with
    the explicit deterministic hot-cell salting engaged (n_salts=8,
    hot cells auto-detected by the sampled plans.salting pass).

    Salting is pure repartitioning and the refine stage is exact, so
    the rows are identical to point_in_region's — the oracle is the
    SAME independent exact-membership recomputation, which makes the
    green row a driver-checked proof that the salted plan changes the
    shuffle layout and nothing else
    (test_point_in_region_distributed_salted_matches_unsalted pins the
    same equality on the test fixture)."""
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.spatial_join import point_in_region_join_distributed
    from s2_geometry_rust_spark.sources import extract_geo_points, interleave_flat_documents

    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = extract_geo_points(interleave_flat_documents(flat))
    regions = fixtures.loop_regions(
        spark, ["arctic_80", "antarctic_80", "candy_cane", "north_hemi"]
    ).unionByName(fixtures.cap_regions(spark))
    return point_in_region_join_distributed(
        pts, regions, max_cells=8, n_salts=8
    ).select("doc_id", "span_idx", "region_id")


def near_dup_pairs_capped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash-LSH near-dup join with the hot-bucket guard engaged
    (max_per_bucket=2): each (band, bucket) keeps its first 2 docs in
    deterministic (md5(doc_id), doc_id) order, bounding worst-bucket
    fan-out at cap^2/2 (test_lsh_max_per_bucket_bounds_flood pins the
    bound on a planted flood).  At sf0.01 the cap genuinely truncates
    (29 three-doc buckets; 25 -> 24 pairs), so the green row checks the
    kept-subset ordering, not a no-op.  The truncation is documented loss,
    and because it is a pure function of doc_id the DuckDB oracle
    replays the kept subset — and therefore the loss — exactly."""
    from s2_geometry_rust_spark.operators.dedup import near_dedup_minhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return near_dedup_minhash(docs, threshold=0.5, n_bands=32,
                              max_per_bucket=2)


def _plant_pii(docs: DataFrame) -> DataFrame:
    """Deterministically plant PII-shaped substrings into the documents
    table as a pure function of doc_id (the corpus is synthetic word
    soup, so real matches would be vacuously zero).  The DuckDB oracle
    replays the identical planting, so counts AND redacted bytes are
    independently re-derived."""
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731

    def pad(c, n):
        return F.lpad(s(c), n, "0")

    email = F.when(
        d % 3 == 0,
        F.concat(F.lit(" contact user"), s(d), F.lit("@example.com now")),
    ).otherwise("")
    phone = F.when(
        d % 5 == 0,
        F.concat(F.lit(" call "), pad(d % 1000, 3), F.lit("-"),
                 pad(d % 743, 3), F.lit("-"), pad(d % 9973, 4)),
    ).otherwise("")
    ssn = F.when(
        d % 7 == 0,
        F.concat(F.lit(" id "), pad((d % 900) + 100, 3), F.lit("-"),
                 pad((d % 89) + 10, 2), F.lit("-"),
                 pad((d % 9000) + 1000, 4)),
    ).otherwise("")
    ipv4 = F.when(
        d % 11 == 0,
        F.concat(F.lit(" host 10."), s(d % 256), F.lit("."),
                 s((d * 7) % 256), F.lit("."), s((d * 13) % 256)),
    ).otherwise("")
    return docs.withColumn(
        "text", F.concat(F.col("text"), email, phone, ssn, ipv4)
    )


def pii_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (operators/pii.py): per-doc match
    counts for the four pattern classes and the md5 of the fully
    redacted text.  Single scan, zero shuffle, pure Java-regex codegen;
    the planted PII is a deterministic function of doc_id replayed
    identically by the oracle, which re-counts with RE2 and re-derives
    every redacted byte (md5-compared)."""
    from s2_geometry_rust_spark.operators.pii import pii_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pii_report(_plant_pii(docs))


def dedup_keep_best_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection after duplicate clustering: per
    cluster keep the (quality DESC, doc_id ASC) argmax.  Engine computes
    the argmax as an algebraic max(struct(quality, -doc_id)) — map-side
    combinable, no per-cluster sort; the oracle re-derives clusters via
    the recursive closure and ranks with row_number()."""
    from s2_geometry_rust_spark.operators.dedup import dedup_keep_best

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_keep_best(docs, threshold=0.5, n_bands=32)


QUERIES["point_in_region_salted"] = point_in_region_salted_q
QUERIES["near_dup_pairs_capped"] = near_dup_pairs_capped_q
QUERIES["pii_report"] = pii_report_q
QUERIES["dedup_keep_best"] = dedup_keep_best_q

ORACLES = {
    "leaf_assign": oracle.leaf_assign_sql(),
    "tile_counts_l8": oracle.tile_counts_sql(8),
    "tile_counts_l12": oracle.tile_counts_sql(12),
    "face_counts": oracle.face_counts_sql(),
    "point_in_rect": oracle.point_in_rect_sql(),
    "distance_join_chord": oracle.distance_join_sql(0.05),
    "knn_brute": oracle.knn_sql(10),
    "dedup_exact": oracle.dedup_exact_sql(),
    "token_counts": oracle.token_counts_sql(),
    "bpe_token_counts": oracle.bpe_token_counts_sql(),
    "text_quality": oracle.text_quality_sql(),
    "lang_id": oracle.lang_id_sql(),
    "union_leaf_cells": oracle.union_leaf_cells_sql(),
    "union_normalize": oracle.union_normalize_sql(),
    "union_intersect": oracle.union_intersect_sql(),
    "union_difference": oracle.union_difference_sql(),
    "union_expand": oracle.union_expand_sql(),
    "raster_join": oracle.raster_join_sql(6),
    "tile_counts_salted": oracle.tile_counts_sql(6, "lineitem", "l_orderkey"),
    "doc_embedding_join": oracle.doc_embedding_join_sql(),
    "events_hourly": oracle.events_hourly_sql(),
    "fingerprints": oracle.fingerprints_sql(),
    "simhash": oracle.simhash_sql(),
    "near_dup_pairs": oracle.near_dup_pairs_sql(),
    "ngram_jaccard": oracle.ngram_jaccard_sql(),
    "asof_last_error": oracle.asof_last_error_sql(),
    "range_join_windows": oracle.range_join_windows_sql(),
    "events_rollup": oracle.events_rollup_sql(),
    "ann_pq": oracle.ann_pq_sql(),
    "dedup_clusters": oracle.dedup_clusters_sql(),
    "corpus_filter": oracle.corpus_filter_sql(),
    "knn_cell_ring": oracle.knn_cell_ring_sql(),
    "knn_exact": oracle.knn_sql(10),
    "cap_point_bounds": oracle.cap_point_bounds_sql(16),
    "maximum_tile_ranges": oracle.maximum_tile_sql(),
    "canonical_covering": oracle.canonical_covering_sql(8, 14, 2, 16),
    "ann_cosine": oracle.ann_cosine_sql(),
    "ann_ivf": oracle.ann_ivf_sql(),
    "ann_lsh": oracle.ann_lsh_sql(),
    "builder_graph": oracle.builder_graph_sql(),
    "point_in_polygon": oracle.point_in_polygon_sql(),
    "chain_crossing_pairs": oracle.chain_crossing_pairs_sql(),
    "media_features": oracle.media_features_sql(),
    "edge_crossings": oracle.edge_crossings_sql(),
    "polyline_crossings": oracle.polyline_crossings_sql(),
    "loop_stats": oracle.loop_stats_sql(),
    "point_in_region": oracle.point_in_region_sql(),
    "emb_near_dup": oracle.emb_near_dup_sql(0.4),
    "covering_cells_cons": oracle.conservative_cap_covering_sql(),
    "covering_cells": oracle.covering_cells_sql(),
    "polyline_stats": oracle.polyline_stats_sql(),
    "chain_crossings": oracle.chain_crossings_sql(),
    "union_areas": oracle.union_areas_sql(),
    "repetition_stats": oracle.repetition_stats_sql(),
    "session_stats": oracle.session_stats_sql(),
    "stratified_sample": oracle.stratified_sample_sql(),
    "vocab_topk": oracle.vocab_topk_sql(),
    "bigram_counts": oracle.bigram_counts_sql(),
    "label_centroids": oracle.label_centroids_sql(),
    "region_contains_loop": oracle.region_contains_loop_sql(
        CONTAIN_A_LOOPS, CONTAIN_B_LOOPS
    ),
    "loop_intersections": oracle.loop_intersections_sql(
        INTERSECT_A_LOOPS, INTERSECT_B_LOOPS
    ),
    "loop_intersections_strict": oracle.loop_intersections_strict_sql(
        STRICT_A_LOOPS, STRICT_B_LOOPS
    ),
    "decontaminate": oracle.decontaminate_sql(3),
    "funnel_counts": oracle.funnel_counts_sql(),
    "tile_lang_counts": oracle.tile_lang_counts_sql(),
    "retention_counts": oracle.retention_counts_sql(),
    "point_cloud_index": oracle.point_cloud_index_sql(),
    "boilerplate_spans": oracle.boilerplate_sql(8, 2),
    "pack_chunks": oracle.chunk_documents_sql(64),
    "kmv_distinct": oracle.kmv_distinct_sql(64),
    "cap_intersect_terms": oracle.cap_intersect_terms_sql(),
    "closest_edge": oracle.closest_edge_sql(),
    "wrs_sample": oracle.wrs_sample_sql(20),
    "hex_tile_counts": oracle.hex_tile_counts_sql(2),
    "hex_parent_rollup": oracle.hex_parent_rollup_sql(3),
    "hex_ring_counts": oracle.hex_ring_counts_sql(2, 2),
    "dup_spans": oracle.dup_spans_sql(8, 2),
    "tile_pyramid": oracle.tile_pyramid_sql((4, 8, 12)),
    "trajectory_stats": oracle.trajectory_stats_sql(),
    "group_quantiles": oracle.group_quantiles_sql(),
    "pack_sequences": oracle.pack_sequences_sql(256),
    "bm25_topk": oracle.bm25_topk_sql((3, 7, 11), 10),
    "tile_modality_counts": oracle.tile_modality_counts_sql(5),
    "tile_transitions": oracle.tile_transitions_sql(8),
    "od_matrix": oracle.od_matrix_sql(4),
    "corridor_join": oracle.corridor_join_sql(0.08, 4),
    "webmerc_tiles": oracle.webmerc_tile_counts_sql(6),
    "hex_focal_counts": oracle.hex_focal_counts_sql(2),
    "polygon_areas": oracle.polygon_areas_sql(),
    "colocated_pairs": oracle.colocated_pairs_sql(6, 2),
    "span_sequences": oracle.span_sequences_sql(),
    "tile_pagerank": oracle.tile_pagerank_sql(8, 3),
    "haversine_pairs": oracle.haversine_pairs_sql(),
    "corpus_mix": oracle.corpus_mix_sql(CORPUS_MIX, 60),
    "rolling_anomalies": oracle.rolling_anomalies_sql(),
    "vocab_topk_per_lang": oracle.vocab_topk_per_group_sql(5),
    "profile_documents": oracle.profile_documents_sql(),
    "geohash_tiles": oracle.geohash_tiles_sql(6),
    "hilbert_partition_stats": oracle.hilbert_partition_stats_sql(16),
    "label_similarity": oracle.label_similarity_sql(),
    "gate_funnel": oracle.gate_funnel_sql(),
    "event_transitions": oracle.event_transitions_sql(),
    "quality_histogram": oracle.quality_histogram_sql(10),
    "tile_quality": oracle.tile_quality_sql(6),
    "source_bbox": oracle.source_bbox_sql(),
    # identical membership semantics to point_in_region: salting is
    # pure repartitioning and the refine is exact, so the SAME
    # independent recomputation oracles both
    "point_in_region_salted": oracle.point_in_region_sql(),
    "near_dup_pairs_capped": oracle.near_dup_pairs_sql(max_per_bucket=2),
    "pii_report": oracle.pii_report_sql(),
    "dedup_keep_best": oracle.dedup_keep_best_sql(),
}


def ann_ivfpq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — the full FAISS IVFADC shape (inverted lists +
    residual PQ codes + per-probed-list integer LUTs): candidates scan
    as (bucket, 8 codes) only, pruned to probed lists BEFORE any
    distance math.  first-ids init makes every step exact integer
    arithmetic, replayed bit-for-bit by oracle.ann_ivfpq_sql; the
    kmeans-trained path is the production default, recall-tested in
    pytest."""
    from s2_geometry_rust_spark.operators.similarity import ivfpq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    return ivfpq_topk(queries, emb, 10, n_coarse=16, n_probe=4,
                      m=8, ks=16, init="first_ids")


def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: coarse-cluster the
    embeddings, drop any vector >= 0.3 cosine-similar to a lower-id
    cluster-mate.  Every pair decision is an exact integer comparison
    (dot^2 * 10^8 vs t_num^2 * |a|^2 * |b|^2, decimal(38,0) vs the
    oracle's HUGEINT), so the survivor set is bit-exact across
    engines."""
    from s2_geometry_rust_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_dedup(emb, threshold=0.3, n_clusters=16,
                          init="first_ids")


def bloom_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — decontaminate's no-string-
    broadcast scale path: the benchmark reduces to <= m_bits int64
    positions (fixed memory however large the benchmark), corpus grams
    are flagged when all k md5-derived positions are set.  The Bloom
    false positives are part of the semantics and replay
    deterministically in the oracle (same md5 bytes both engines)."""
    from s2_geometry_rust_spark.operators.vocab import bloom_decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    return bloom_decontaminate(corpus, bench, n=3, m_bits=4096,
                               k_hashes=4)


QUERIES["ann_ivfpq"] = ann_ivfpq_q
QUERIES["semantic_dedup"] = semantic_dedup_q
QUERIES["bloom_decontaminate"] = bloom_decontaminate_q
ORACLES["ann_ivfpq"] = oracle.ann_ivfpq_sql()
ORACLES["semantic_dedup"] = oracle.semantic_dedup_sql(0.3)
ORACLES["bloom_decontaminate"] = oracle.bloom_decontaminate_sql()


def classifier_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-linear quality classifier (fastText hashing trick):
    feature id = FNV-1a(token) mod 2^20, deterministic integer bucket
    weights stand in for trained coefficients, logit = exact int64 sum.
    ZERO shuffle: scan -> tokenize (JVM) -> one Arrow pass that hashes
    only the batch's UNIQUE words -> row-local reduction."""
    from s2_geometry_rust_spark.operators.text import classifier_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return classifier_scores(docs)


QUERIES["classifier_scores"] = classifier_scores_q
ORACLES["classifier_scores"] = oracle.classifier_scores_sql()


def classifier_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibrated quality gate: keep the top 60% of docs by classifier
    logit with the threshold computed exactly (k-th largest logit via a
    cumulative window over the distinct-logit HISTOGRAM — never a
    raw-row sort; ties at the threshold kept)."""
    from s2_geometry_rust_spark.operators.text import classifier_gate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return classifier_gate(docs, keep_rate=0.6)


QUERIES["classifier_gate"] = classifier_gate_q
ORACLES["classifier_gate"] = oracle.classifier_gate_sql(0.6)


def incremental_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup (operators/dedup.py:incremental_dedup):
    the documents table split by md5(doc_id) into an indexed corpus
    (first hex char < '8') and one delta batch; every batch doc gets a
    decision (exact_index / exact_batch / near_index / keep), the
    deterministic min matched id, and the exact Jaccard for near
    matches.  The exact stage is two md5 hash joins with map-side-
    combinable keepers; the near stage reuses the minhash machinery
    with the banded CROSS join (index never pairs with itself) — the
    shape a 10^12-doc index joins a delta batch with.

    The fixture corpus has no exact text duplicates, so docs with
    doc_id % 13 == 5 get a planted text that is a pure function of
    doc_id (replayed identically by the oracle): the planted values
    repeat across the md5 split, so the exact_index AND exact_batch
    branches are genuinely exercised, not vacuously green."""
    from s2_geometry_rust_spark.operators.dedup import incremental_dedup

    d = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "text",
        F.when(
            d % 13 == 5,
            F.concat(F.lit("planted dup "), (d % 29).cast("string")),
        ).otherwise(F.col("text")),
    )
    split = F.substring(F.md5(d.cast("string")), 1, 1) < "8"
    return incremental_dedup(
        docs.filter(~split), docs.filter(split), threshold=0.5, n_bands=32
    )


QUERIES["incremental_dedup"] = incremental_dedup_q
ORACLES["incremental_dedup"] = oracle.incremental_dedup_sql()


def lm_bigram_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM novelty/fluency scoring (vocab.lm_bigram_novelty):
    per-doc share of corpus-common bigrams and exact mean bigram
    doc-frequency — the count-based stand-in for LM perplexity that
    stays bit-exact across engines (ratios are single int64->double
    divisions, never accumulated floats)."""
    from s2_geometry_rust_spark.operators.vocab import lm_bigram_novelty

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lm_bigram_novelty(docs, min_df=30)


QUERIES["lm_bigram_novelty"] = lm_bigram_novelty_q
ORACLES["lm_bigram_novelty"] = oracle.lm_bigram_novelty_sql()


def snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (corpus.snapshot_diff): two snapshot
    generations derived deterministically from the documents table
    (old drops doc_id%10==2 and carries an ' OLD-REVISION' text for
    doc_id%10==1; new drops doc_id%10==0), so added / removed /
    changed / unchanged all genuinely occur; ONE full-outer md5
    equi-join, text bodies never leave the scan."""
    from s2_geometry_rust_spark.operators.corpus import snapshot_diff

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    old_s = docs.filter(d % 10 != 2).withColumn(
        "text",
        F.when(d % 10 == 1, F.concat(F.col("text"), F.lit(" OLD-REVISION")))
        .otherwise(F.col("text")),
    )
    new_s = docs.filter(d % 10 != 0)
    return snapshot_diff(old_s, new_s)


QUERIES["snapshot_diff"] = snapshot_diff_q
ORACLES["snapshot_diff"] = oracle.snapshot_diff_sql()


def tile_counts_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for tile counts
    (tiling.apply_tile_count_delta): the previous snapshot's
    materialized counts plus ONLY the delta points (removed / moved /
    added — derived deterministically from c_custkey % 10: 0 = added,
    1 = moved from a shifted position, 2 = removed) must equal a full
    recompute of the new snapshot bit-for-bit — and the oracle IS that
    full recompute (tile_counts_sql over the new snapshot), so the
    green row proves the maintenance algebra, not just plumbing."""
    from s2_geometry_rust_spark.operators.tiling import apply_tile_count_delta, tile_counts

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("k")
    )
    k = F.col("k")

    def pts(df: DataFrame, kk: F.Column) -> DataFrame:
        return df.select(
            F.col("k").alias("point_id"),
            ((kk * 37 % 997) / 498.5 - 1.0).alias("x"),
            ((kk * 73 % 991) / 495.5 - 1.0).alias("y"),
            ((kk * 101 % 983) / 491.5 - 1.0).alias("z"),
        ).withColumn("cell_id", cell_id_from_xyz("x", "y", "z"))

    moved_key = k + 500009
    old_key = F.when(k % 10 == 1, moved_key).otherwise(k)
    old_counts = tile_counts(pts(cust.filter(k % 10 != 0), old_key), 8)
    removed = pts(cust.filter(k % 10 == 2), k).unionByName(
        pts(cust.filter(k % 10 == 1), moved_key)
    )
    added = pts(cust.filter(k % 10 == 0), k).unionByName(
        pts(cust.filter(k % 10 == 1), k)
    )
    return apply_tile_count_delta(old_counts, removed, added, 8)


QUERIES["tile_counts_incremental"] = tile_counts_incremental_q
ORACLES["tile_counts_incremental"] = oracle.tile_counts_sql(
    8, table="(SELECT * FROM customer WHERE c_custkey % 10 <> 2)"
)


def collocations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (vocab.collocations): top-50 bigrams by
    exact-integer lift (>= 5 occurrences) — monotone-equivalent to PMI
    ranking but bit-exact (one double division, never a log)."""
    from s2_geometry_rust_spark.operators.vocab import collocations

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return collocations(docs, min_count=5, k=50)


QUERIES["collocations"] = collocations_q
ORACLES["collocations"] = oracle.collocations_sql()


def incremental_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental duplicate-cluster maintenance
    (dedup.incremental_duplicate_clusters): the documents table split
    by md5(doc_id) into an indexed corpus and a delta batch; old labels
    come from duplicate_clusters over the index alone (the checkpoint
    read, recomputed here), then only within-batch + cross pairs and
    the star-compressed old labels feed the CC.  Output is provably
    identical to the full-corpus recompute, and the oracle IS the
    full-corpus recursive closure (dedup_clusters_sql) — same pair
    universe, same components, same min-id labels."""
    from s2_geometry_rust_spark.operators.dedup import (
        duplicate_clusters,
        incremental_duplicate_clusters,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8"
    index, batch = docs.filter(split), docs.filter(~split)
    labels_old = duplicate_clusters(index, threshold=0.5, n_bands=32).select(
        "doc_id", "cluster_id"
    )
    return incremental_duplicate_clusters(
        batch, index, labels_old, threshold=0.5, n_bands=32
    )


QUERIES["incremental_clusters"] = incremental_clusters_q
ORACLES["incremental_clusters"] = oracle.dedup_clusters_sql(
    threshold=0.5, n_bands=32
)


def image_resize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched image resize over the codec seam
    (multimodal.resize_images): image spans decode +
    nearest-neighbor-resize in ONE Arrow pass, emitted as scalar
    per-output-row rows (exact int sums + one division).  The resize
    kernel is pluggable like the decoders; the fake grid stands in for
    PIL and replays bit-for-bit in SQL."""
    from s2_geometry_rust_spark.operators.multimodal import media_spans, resize_images
    from s2_geometry_rust_spark.sources import interleave_flat_documents

    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = interleave_flat_documents(flat, with_media=True)
    return resize_images(media_spans(docs), out_h=16, out_w=16)


def frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over the codec seam
    (multimodal.sample_frames): every 4th frame of each video span,
    decimated INSIDE the scan partition (the full frame stream never
    hits an exchange)."""
    from s2_geometry_rust_spark.operators.multimodal import media_spans, sample_frames
    from s2_geometry_rust_spark.sources import interleave_flat_documents

    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = interleave_flat_documents(flat, with_media=True)
    return sample_frames(media_spans(docs), every_k=4)


QUERIES["image_resize"] = image_resize_q
QUERIES["frame_sample"] = frame_sample_q
ORACLES["image_resize"] = oracle.image_resize_sql()
ORACLES["frame_sample"] = oracle.frame_sample_sql()


def ivf_assign_delta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF quantizer assignment
    (similarity.ivf_assign_delta): the embeddings table split by
    md5(vec_id) into an indexed corpus and a delta batch; only the
    delta assigns, against the FROZEN first-ids quantizer of the index
    side — exact-integer argmin end-to-end (no float margins), d2
    emitted so every row self-verifies.  Zero shuffle: scan ->
    broadcast quantizer -> one Arrow matmul pass."""
    from s2_geometry_rust_spark.operators.similarity import ivf_assign_delta

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    split = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < "8"
    return ivf_assign_delta(
        emb.filter(~split), emb.filter(split), n_centroids=16
    )


QUERIES["ivf_assign_delta"] = ivf_assign_delta_q
ORACLES["ivf_assign_delta"] = oracle.ivf_assign_delta_sql()


def embedding_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding drift monitor (similarity.
    embedding_drift): the embeddings table split by md5(vec_id) into
    two corpus generations; exact int64 grid sums per dim, means and
    mean-delta as single double ops — the distribution-shift check a
    continuous embedding pipeline runs per delta batch."""
    from s2_geometry_rust_spark.operators.similarity import embedding_drift

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    split = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < "8"
    return embedding_drift(emb.filter(split), emb.filter(~split))


QUERIES["embedding_drift"] = embedding_drift_q
ORACLES["embedding_drift"] = oracle.embedding_drift_sql()


def union_expand_radius_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CellUnion::expand_with_radius (cell_union.rs:446-467): expand
    level = least(per-union min cell level + 3, level_for_min_width
    (0.0003) = 13).  The fixture varies the per-union minimum level
    (8 + union_id % 5, union_id = point_id % 7) so both arms of the
    least() are live across the seven unions."""
    from s2_geometry_rust_spark.functions import cell_id_from_xyz
    from s2_geometry_rust_spark.operators.unions_ops import (
        expand_with_radius_grouped,
        normalize_grouped,
    )

    pts = _derived_points(spark, sf_dir)
    cells = (
        pts.withColumn("_leaf", cell_id_from_xyz("x", "y", "z"))
        .withColumn("union_id", (F.col("point_id") % 7).cast("long"))
        .withColumn(
            "_lv",
            (F.col("point_id") % 11 + 8 + F.col("union_id") % 5).cast("int"),
        )
        .withColumn("_lsb", F.expr("shiftleft(1L, (30 - _lv) * 2)"))
        .withColumn("cell_id", F.expr("(_leaf & -_lsb) | _lsb"))
        .select(F.col("union_id").cast("string").alias("union_id"), "cell_id")
        .distinct()
    )
    out = expand_with_radius_grouped(
        normalize_grouped(cells), min_radius_radians=0.0003, max_level_diff=3
    )
    return out.select(
        F.col("union_id").cast("long").alias("union_id"), "cell_id"
    )


QUERIES["union_expand_radius"] = union_expand_radius_q
ORACLES["union_expand_radius"] = oracle.union_expand_radius_sql(
    radius_level=13, max_level_diff=3)


def loop_nearest_boundary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2Loop::get_distance_to_boundary + project_to_boundary
    (loop.rs:523-577 — the reference's nearest-vertex simplified
    semantics) per (derived point, fixture loop): nano-rounded
    boundary distance and the exact winning vertex (earliest on
    ties, the reference's strict-< scan)."""
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.geom_aggs import nearest_boundary_join

    return nearest_boundary_join(
        _derived_points(spark, sf_dir),
        fixtures.loop_vertices(spark, fixtures.NEAREST_BOUNDARY_LOOPS),
    )


QUERIES["loop_nearest_boundary"] = loop_nearest_boundary_q
ORACLES["loop_nearest_boundary"] = oracle.loop_nearest_boundary_sql()


def union_expand_radius_dist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path twin of union_expand_radius: identical semantics
    (cell_union.rs:446-467) through expand_with_radius_distributed —
    codegen +/- step candidates in the usk domain + the distributed
    normalize fixpoint, no whole-union-per-task requirement.  Same
    fixture, same oracle SQL as the grouped query."""
    from s2_geometry_rust_spark.functions import cell_id_from_xyz
    from s2_geometry_rust_spark.operators.unions_ops import (
        expand_with_radius_distributed,
        normalize_grouped,
    )

    pts = _derived_points(spark, sf_dir)
    cells = (
        pts.withColumn("_leaf", cell_id_from_xyz("x", "y", "z"))
        .withColumn("union_id", (F.col("point_id") % 7).cast("long"))
        .withColumn(
            "_lv",
            (F.col("point_id") % 11 + 8 + F.col("union_id") % 5).cast("int"),
        )
        .withColumn("_lsb", F.expr("shiftleft(1L, (30 - _lv) * 2)"))
        .withColumn("cell_id", F.expr("(_leaf & -_lsb) | _lsb"))
        .select(F.col("union_id").cast("string").alias("union_id"), "cell_id")
        .distinct()
    )
    out = expand_with_radius_distributed(
        normalize_grouped(cells), min_radius_radians=0.0003, max_level_diff=3
    )
    return out.select(
        F.col("union_id").cast("long").alias("union_id"), "cell_id"
    )


QUERIES["union_expand_radius_dist"] = union_expand_radius_dist_q
ORACLES["union_expand_radius_dist"] = oracle.union_expand_radius_sql(
    radius_level=13, max_level_diff=3)


# --------------------------------------------------------------------------
# The contract's correctness gate checks only the first 50 entries of
# QUERIES.  _GATE_HEAD names them, in order; every other query follows
# in registration order.
# --------------------------------------------------------------------------

_GATE_HEAD = [
    "loop_intersections_strict", "knn_exact", "cap_point_bounds",
    "maximum_tile_ranges", "canonical_covering", "point_in_region_salted",
    "near_dup_pairs_capped", "pii_report", "dedup_keep_best", "ann_ivfpq",
    "semantic_dedup", "bloom_decontaminate", "classifier_scores",
    "classifier_gate", "incremental_dedup", "lm_bigram_novelty",
    "snapshot_diff", "tile_counts_incremental", "collocations",
    "incremental_clusters", "image_resize", "frame_sample",
    "ivf_assign_delta", "embedding_drift", "union_expand_radius",
    "loop_nearest_boundary", "union_expand_radius_dist", "session_stats",
    "stratified_sample", "vocab_topk", "bigram_counts", "label_centroids",
    "region_contains_loop", "loop_intersections", "decontaminate",
    "funnel_counts", "tile_lang_counts", "retention_counts",
    "point_cloud_index", "boilerplate_spans", "pack_chunks", "kmv_distinct",
    "cap_intersect_terms", "closest_edge", "wrs_sample", "hex_tile_counts",
    "hex_parent_rollup", "hex_ring_counts", "dup_spans", "tile_pyramid",
]


def _head_first(queries: dict, head: list[str]) -> dict:
    """``queries`` reordered: ``head`` first, then every other query in
    its registration order.  A ValueError names any head entry that is
    not a registered query, or is listed twice."""
    unknown = [n for n in head if n not in queries]
    if unknown:
        raise ValueError(f"gate head names unknown queries: {unknown}")
    if len(set(head)) != len(head):
        raise ValueError(f"gate head lists a query twice: {head}")
    rest = [k for k in queries if k not in set(head)]
    return {k: queries[k] for k in head + rest}


QUERIES = _head_first(QUERIES, _GATE_HEAD)
ORACLES = {k: ORACLES[k] for k in QUERIES if k in ORACLES}
