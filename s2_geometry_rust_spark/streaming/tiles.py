"""Streaming tile aggregation: readStream over interleaved documents ->
geo extraction -> windowed per-tile counts with a watermark.

The reference has no streaming subsystem (SURVEY.md §2.12).  Each tiler
here is literally the batch call chain — ``extract_geo_points`` (the
watermark set before it, the event-time column passed through) then the
batch tile column — so a 10^12-doc backfill and a live feed share one
code path, malformed spans included.  State is per (window, tile) —
cardinality-capped by tile level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import cell_parent
from ..operators.tiling import with_tile, with_webmerc_tile
from ..sources import extract_geo_points


def streaming_tile_counts(doc_stream: DataFrame, level: int = 8,
                          ts_col: str = "event_time",
                          watermark: str = "10 minutes",
                          window: str = "5 minutes") -> DataFrame:
    """doc_stream: streaming DF with (doc_id, spans, event_time).
    Returns a streaming DF of ((window), tile_id, n_points).

    The batch calls themselves (``extract_geo_points`` ->
    ``with_tile``), so results match the batch tiler on the same data
    slice.
    """
    s = with_tile(
        extract_geo_points(doc_stream.withWatermark(ts_col, watermark)),
        level,
    )
    return (
        s.groupBy(F.window(ts_col, window), "tile_id")
        .agg(F.count("*").alias("n_points"))
    )


def streaming_tile_assign(doc_stream: DataFrame, level: int = 8) -> DataFrame:
    """Stateless streaming tile assignment (one row per geo span):
    (doc_id, span_idx, lat, lng, cell_id, tile_id) from the batch
    calls ``extract_geo_points`` -> ``with_tile``, with no aggregation,
    so it can run in append mode into an exactly-once file/Iceberg
    sink.  This is the production shape for a live ingest feed: the windowed aggregate
    (streaming_tile_counts) reads FROM this sink incrementally."""
    points = extract_geo_points(doc_stream.select("doc_id", "spans"))
    return with_tile(points, level)


def streaming_hex_tile_counts(doc_stream: DataFrame, res: int = 3,
                              ts_col: str = "event_time",
                              watermark: str = "10 minutes",
                              window: str = "5 minutes") -> DataFrame:
    """Aperture-7 hex twin of streaming_tile_counts: geo extraction ->
    JVM hex assignment (functions/hexcols.py) -> watermarked windowed
    per-hex counts.  Shares the batch operator chain
    (operators/tiling.py:hex_tile_counts_geo) so a backfill and a live
    feed agree exactly."""
    from ..functions.hexcols import with_hex_from_latlng

    s = with_hex_from_latlng(
        extract_geo_points(doc_stream.withWatermark(ts_col, watermark)),
        "lat", "lng", res, keep=[ts_col],
    )
    return (
        s.groupBy(F.window(ts_col, window), "hex_id")
        .agg(F.count("*").alias("n_points"))
    )


def streaming_tile_pyramid(doc_stream: DataFrame,
                           levels: tuple[int, ...] = (4, 8, 12),
                           ts_col: str = "event_time",
                           watermark: str = "10 minutes",
                           window: str = "5 minutes") -> DataFrame:
    """Streaming twin of tiling.tile_pyramid: watermarked windowed tile
    counts at EVERY requested level from one stream pass.

    GROUPING SETS is not available on streaming aggregations, so the
    Expand is spelled as an explode over the (level, parent) pairs —
    the same 3x pre-aggregation row fan-out the batch Expand produces,
    collapsed by the windowed state before any shuffle growth matters.

    Output: ((window), level, tile_id, n_points) — matching
    tile_pyramid's rows per window slice (batch-equivalence is
    exact-matched in tests/test_streaming_plans.py).
    """
    s = extract_geo_points(doc_stream.withWatermark(ts_col, watermark))
    pairs = F.array(*[
        F.struct(
            F.lit(lv).cast("int").alias("level"),
            cell_parent("cell_id", lv).alias("tile_id"),
        )
        for lv in levels
    ])
    s = s.select(ts_col, F.explode(pairs).alias("p")).select(
        ts_col, F.col("p.level").alias("level"),
        F.col("p.tile_id").alias("tile_id"),
    )
    return (
        s.groupBy(F.window(ts_col, window), "level", "tile_id")
        .agg(F.count("*").alias("n_points"))
    )


def streaming_webmerc_tile_counts(doc_stream: DataFrame, zoom: int = 6,
                                  ts_col: str = "event_time",
                                  watermark: str = "10 minutes",
                                  window: str = "5 minutes") -> DataFrame:
    """Web-mercator twin of streaming_tile_counts: geo extraction ->
    slippy z/x/y assignment (tiling.with_webmerc_tile, the SAME batch
    column chain) -> watermarked windowed counts per tile."""
    s = with_webmerc_tile(
        extract_geo_points(doc_stream.withWatermark(ts_col, watermark)),
        zoom,
    )
    return (
        s.groupBy(F.window(ts_col, window), "zoom", "xtile", "ytile")
        .agg(F.count("*").alias("n_points"))
    )
