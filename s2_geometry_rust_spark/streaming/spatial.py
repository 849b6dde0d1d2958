"""Streaming spatial join: a live stream of interleaved documents
joined against a static region table, sharing the batch
filter-and-refine chain end-to-end.

The entire batch operator (operators/spatial_join.point_in_region_join,
small-region path) is STATELESS — literal-InSet covering filter +
filtered explode + an Arrow boolean ``pandas_udf`` exact-refine filter
(the refine dispatch both join paths share) — so it runs unchanged
under Structured Streaming in append mode with exactly-once file/Iceberg
sinks.  No watermark or state store is needed: each micro-batch is
independent, and resumability comes from the sink's commit log.

This is the production ingest shape at 10^12 docs: the backfill runs
the identical operator chain as a batch job, the live feed as this
stream — one code path, one set of oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.spatial_join import point_in_region_join
from ..sources import extract_geo_points


def streaming_point_in_region(doc_stream: DataFrame, regions: DataFrame,
                              max_cells: int = 64) -> DataFrame:
    """Stream x static spatial join.  ``regions`` must be a (small)
    batch DataFrame — its conservative coverings are compiled once,
    driver-side, into codegen InSet filters that evaluate per
    micro-batch with zero join state.

    Returns a streaming DF of (doc_id, span_idx, region_id), exact
    (covering filter + kernel refine), append-mode-safe.
    """
    pts = extract_geo_points(doc_stream)
    return point_in_region_join(
        pts, regions, max_cells=max_cells, distributed=False
    ).select("doc_id", "span_idx", "region_id")
