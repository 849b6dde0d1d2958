"""Malformed geo spans on every streaming tiler: each one parses spans
through ``sources.extract_geo_points``, so a span the POINT pattern
rejects, or whose number overflows to +-Infinity, is dropped — the
output equals the output on the valid documents alone — instead of
failing the stream on an ANSI ``CAST_INVALID_INPUT`` (ANSI mode is on
as ``get_spark`` leaves it) or becoming a garbage cell id with ANSI
off."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2_geometry_rust_spark.sources import (
    DOCUMENTS_SCHEMA,
    extract_geo_points,
    synth_documents,
)
from s2_geometry_rust_spark.streaming import (
    stateful_tile_counts,
    streaming_hex_tile_counts,
    streaming_tile_counts,
    streaming_tile_pyramid,
    streaming_webmerc_tile_counts,
)
from s2_geometry_rust_spark.streaming.tiles import streaming_tile_assign

# "POINT(e e)" and the next two pass a bare [-+0-9.eE] charset but are no
# numbers; the last three are numbers past the double range (+-Infinity)
BAD_TEXTS = ["POINT(abc)", "not a point", "POINT(1 2",
             "POINT(e e)", "POINT(1e 2)", "POINT(1-2 3)",
             "POINT(1e400 0)", "POINT(0 -1e400)", f"POINT({'9' * 400} 0)"]

# name -> (operator, output mode); the aggregates run in complete mode
# so no open window is held back by the watermark
TILERS = {
    "tile_counts": (lambda s: streaming_tile_counts(s, level=8), "complete"),
    "tile_assign": (lambda s: streaming_tile_assign(s, level=6), "append"),
    "hex": (lambda s: streaming_hex_tile_counts(s, res=3), "complete"),
    "pyramid": (lambda s: streaming_tile_pyramid(s, levels=(4, 8)),
                "complete"),
    "webmerc": (lambda s: streaming_webmerc_tile_counts(s, zoom=5),
                "complete"),
    "stateful": (lambda s: stateful_tile_counts(s, level=4), "update"),
}


@pytest.fixture(scope="module")
def sources(spark, tmp_path_factory):
    """(valid-docs dir, valid-plus-malformed dir, schema)."""
    root = tmp_path_factory.mktemp("malformed_spans")
    ts = F.timestamp_seconds(F.lit(1700000000))
    valid = synth_documents(spark, 200, seed=42).withColumn("event_time", ts)
    bad = spark.createDataFrame(
        [(f"bad-{i}", [("text", "no coordinates here", None, 0),
                       ("geo", t, None, 20)])
         for i, t in enumerate(BAD_TEXTS)],
        DOCUMENTS_SCHEMA,
    ).withColumn("event_time", ts)
    valid.write.parquet(str(root / "valid"))
    valid.unionByName(bad).write.parquet(str(root / "mixed"))
    return str(root / "valid"), str(root / "mixed"), valid.schema


def _run(spark, name, src, schema, cp):
    op, mode = TILERS[name]
    q = (
        op(spark.readStream.schema(schema).parquet(src))
        .writeStream.outputMode(mode)
        .format("memory")
        .queryName(f"malformed_{name}_{cp.name}")
        .option("checkpointLocation", str(cp))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return q, spark.sql(f"SELECT * FROM malformed_{name}_{cp.name}").toPandas()


def _canonical(name, df: pd.DataFrame) -> pd.DataFrame:
    if "window" in df.columns:
        df = df.assign(window=df["window"].astype(str))
    if name == "stateful":
        # update mode re-emits a tile per micro-batch: keep its last state
        df = df.groupby("tile_id", as_index=False).max()
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", list(TILERS))
def test_malformed_spans_are_dropped(spark, sources, tmp_path, name, capsys):
    valid_src, mixed_src, schema = sources
    _, want = _run(spark, name, valid_src, schema, tmp_path / "valid")
    q, got = _run(spark, name, mixed_src, schema, tmp_path / "mixed")
    assert len(want) > 0
    pd.testing.assert_frame_equal(_canonical(name, got),
                                  _canonical(name, want))
    if name == "tile_assign":
        assert list(got.columns) == [
            "doc_id", "span_idx", "lat", "lng", "cell_id", "tile_id"]
    if name in ("hex", "webmerc"):
        # the leaf-encode UDF's column is unused, so it is pruned
        q.explain()
        plan = capsys.readouterr().out
        assert "Aggregate" in plan and "ArrowEvalPython" not in plan


def test_batch_parser_keeps_numbers_and_drops_non_numbers(spark):
    """The batch parser keeps Python-repr number forms with the doubles
    ``float`` reads from them, and drops every malformed span."""
    good = ["POINT(1e-05 -0.0)", "POINT(1.5e+20 .5)", "POINT(-12. +3E1)",
            f"POINT({'0' * 400}1.5 2)"]
    docs = spark.createDataFrame(
        [("d", [("geo", t, None, 0) for t in good + BAD_TEXTS])],
        DOCUMENTS_SCHEMA,
    )
    got = (extract_geo_points(docs).select("span_idx", "lat", "lng")
           .orderBy("span_idx").toPandas())
    assert got["span_idx"].tolist() == list(range(len(good)))
    want = np.array([[float(x) for x in t[6:-1].split(" ")] for t in good])
    got_ll = got[["lat", "lng"]].to_numpy()
    assert np.array_equal(got_ll, want)
    assert np.array_equal(np.signbit(got_ll), np.signbit(want))
