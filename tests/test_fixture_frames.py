"""Fixture region frames are Arrow-built ``LocalRelation``s with the
rows and schema that ``createDataFrame`` of the same Python rows gives
(nested vertices and loops, and nulls, included)."""

from __future__ import annotations

import pytest

from s2_geometry_rust_spark import fixtures

BUILDERS = {
    "cap_regions": fixtures.cap_regions,
    "loop_regions": fixtures.loop_regions,
    "rect_regions": fixtures.rect_regions,
    "polygon_regions": fixtures.polygon_regions,
    "all_regions": fixtures.all_regions,
    "loop_vertices": fixtures.loop_vertices,
}


def _leaves(df) -> list[str]:
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


@pytest.mark.parametrize("name", BUILDERS)
def test_fixture_frame_is_local_relation_with_list_rows(spark, monkeypatch,
                                                        name):
    build = BUILDERS[name]
    df = build(spark)
    with monkeypatch.context() as m:
        m.setattr(fixtures, "_local_frame",
                  lambda s, rows, schema: s.createDataFrame(rows, schema))
        old = build(spark)
    want_schema = (fixtures.LOOP_VERTEX_SCHEMA if name == "loop_vertices"
                   else fixtures.REGIONS_SCHEMA)
    assert df.schema == want_schema == old.schema
    assert df.collect() == old.collect()
    assert _leaves(df) and set(_leaves(df)) == {"LocalRelation"}
