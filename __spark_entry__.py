"""Driver contract for the spark-graft builder (PySpark target).

entry()    — flagship interleaved-document pipeline on sf0.001.
queries()  — named operators from SURVEY.md §2 (grown per milestone).
oracle_sql() — DuckDB-equivalent SQL per query (incl. a pure-SQL
               Hilbert cell-id encoder, see contract.oracle).

The engine is the ``s2_geometry_rust_spark`` package; the query registry
and its oracle SQL live in the sibling ``contract`` package, which runs
on the driver only and is not part of the ``--py-files`` zip.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleave the sf0.001 documents table into the
    text+media span schema, extract geo spans, Hilbert-encode, and
    count documents per level-4 tile (scan -> mapInPandas -> Arrow UDF
    -> codegen tile math -> single shuffle agg)."""
    from s2_geometry_rust_spark.operators.tiling import tile_counts
    from s2_geometry_rust_spark.sources import (
        extract_geo_points,
        interleave_flat_documents,
    )

    flat = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = interleave_flat_documents(flat)
    pts = extract_geo_points(docs)
    return tile_counts(pts, 4)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from contract.engine_queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from contract.engine_queries import ORACLES

    return dict(ORACLES)
