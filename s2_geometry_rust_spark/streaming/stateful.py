"""Custom stateful streaming operator: per-tile running aggregates via
``applyInPandasWithState`` — the pattern for stateful geospatial
operators the built-in windowed aggs can't express (running distinct-ish
counters, per-tile rate limits, sessionized track assembly).

State is keyed by tile_id; each micro-batch folds new points into the
running (n_points, first_ts, last_ts) triple and emits the updated row.
State size is bounded by tile cardinality at the chosen level.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..operators.tiling import with_tile
from ..sources import extract_geo_points

OUTPUT_SCHEMA = StructType(
    [
        StructField("tile_id", LongType()),
        StructField("n_points", LongType()),
        StructField("first_ts", DoubleType()),
        StructField("last_ts", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_points", LongType()),
        StructField("first_ts", DoubleType()),
        StructField("last_ts", DoubleType()),
    ]
)


def _fold(key: Any, batches: Iterator[pd.DataFrame],
          state: GroupState) -> Iterator[pd.DataFrame]:
    (tile_id,) = key
    if state.exists:
        n, first_ts, last_ts = state.get
    else:
        n, first_ts, last_ts = 0, float("inf"), float("-inf")
    for b in batches:
        n += len(b)
        if len(b):
            ts = b["ts_sec"].to_numpy()
            first_ts = min(first_ts, float(ts.min()))
            last_ts = max(last_ts, float(ts.max()))
    state.update((n, first_ts, last_ts))
    yield pd.DataFrame(
        {
            "tile_id": [tile_id],
            "n_points": [n],
            "first_ts": [first_ts],
            "last_ts": [last_ts],
        }
    )


def stateful_tile_counts(doc_stream: DataFrame, level: int = 6,
                         ts_col: str = "event_time") -> DataFrame:
    """doc_stream (doc_id, spans, event_time) -> running per-tile state.

    The batch tiler's calls (``extract_geo_points`` -> ``with_tile``),
    then a grouped stateful fold over (tile_id, ts_sec) only; outputMode
    must be 'update'."""
    s = with_tile(extract_geo_points(doc_stream), level).select(
        "tile_id", F.col(ts_col).cast("double").alias("ts_sec")
    )
    return s.groupBy("tile_id").applyInPandasWithState(
        _fold,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
