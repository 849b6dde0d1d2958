"""Jobs each point_in_region_join call launches before the caller's
action: one bounded regions read both chooses the path and supplies the
literal path's rows, and the distributed path's levels read is the job
that materializes its covering.  Counted with a job group and the
status tracker; the pairs are the same on every path."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

import s2_geometry_rust_spark.operators.spatial_join as sj
from s2_geometry_rust_spark import fixtures
from s2_geometry_rust_spark.functions import cell_parent
from s2_geometry_rust_spark.sources import extract_geo_points, synth_documents


HEADLINE_LOOPS = ["arctic_80", "candy_cane", "small_ne_cw"]
# quote, backslash and backquote: a region id is data, never SQL text
ODD_ID = "it's a \\ back`slash"


def _headline_regions(spark, extra=()):
    caps = dict(fixtures.CAPS)
    caps.update(extra)
    return fixtures.cap_regions(spark, list(caps), caps).unionByName(
        fixtures.loop_regions(spark, HEADLINE_LOOPS))


@pytest.fixture(scope="module")
def points(spark):
    pts = extract_geo_points(synth_documents(spark, 300, seed=7)).cache()
    pts.count()
    yield pts
    pts.unpersist()


@pytest.fixture(scope="module")
def regions_paths(spark, tmp_path_factory):
    """The 7 headline regions as one parquet file (one partition) and as
    4 files (4 partitions), one single-file write per region group: how
    ``repartition`` spreads 7 rows is not fixed, and can leave a
    partition (so a file) empty."""
    regions = _headline_regions(spark)
    ids = list(fixtures.CAPS) + HEADLINE_LOOPS
    groups = {1: [ids], 4: [ids[:2], ids[2:4], ids[4:5], ids[5:]]}
    paths = {}
    for files, parts in groups.items():
        path = str(tmp_path_factory.mktemp("jobs") / f"regions{files}")
        for part in parts:
            (regions.filter(F.col("region_id").isin(part)).coalesce(1)
             .write.mode("append").parquet(path))
        assert spark.read.parquet(path).rdd.getNumPartitions() == files
        paths[files] = path
    return paths


def _jobs_and_pairs(spark, points, regions, distributed, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = sj.point_in_region_join(points, regions, max_cells=64,
                                      distributed=distributed)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    pairs = sorted(tuple(r) for r in
                   out.select("doc_id", "span_idx", "region_id").collect())
    return n, pairs


# (distributed, lowered threshold or None, jobs), the same for one and
# for 4 regions files.  A separate count probe and an eager covering
# checkpoint made these 3, 1, 3 and 5 on one file; a limited collect
# without coalesce(1) scans 4 files in 2 rounds (2 and 4 jobs for None).
CASES = [(None, None, 1), (False, None, 1), (True, None, 2), (None, 3, 3)]


def test_jobs_per_call_and_same_pairs(spark, points, regions_paths):
    old = sj.DISTRIBUTED_REGION_THRESHOLD
    got = {}
    try:
        for files, path in regions_paths.items():
            for distributed, threshold, want_jobs in CASES:
                sj.DISTRIBUTED_REGION_THRESHOLD = threshold or old
                regions = spark.read.parquet(path)
                n, pairs = _jobs_and_pairs(
                    spark, points, regions, distributed,
                    f"pip-jobs-{files}-{distributed}-{threshold}")
                assert n == want_jobs, (files, distributed, threshold, n)
                got[(files, distributed, threshold)] = pairs
    finally:
        sj.DISTRIBUTED_REGION_THRESHOLD = old
    first = next(iter(got.values()))
    assert len(first) > 0
    assert all(p == first for p in got.values())


def _py4j_calls(monkeypatch, fn):
    """py4j commands ``fn`` sends from this thread.  py4j's own cleanup
    thread sends one detach per collected Java object, whenever the
    garbage collector runs; those are not the call's commands."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    caller = threading.get_ident()
    calls = []

    def counted(self, *args, **kwargs):
        calls.append(threading.get_ident() == caller)
        return send(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counted)
        fn()
    return sum(calls)


def test_literal_call_py4j_calls_do_not_grow_with_the_covering(
        spark, points, monkeypatch):
    """The literal path's plan is one SQL predicate per region: its py4j
    calls do not follow the covering's literal count (one call per
    literal made ~3,800 at max_cells=64)."""
    regions = _headline_regions(spark)
    sj.point_in_region_join(points, regions, max_cells=64, distributed=False)
    calls = {
        mc: _py4j_calls(monkeypatch, lambda mc=mc: sj.point_in_region_join(
            points, regions, max_cells=mc, distributed=False))
        for mc in (64, 8)
    }
    assert calls[64] < 200, calls
    assert abs(calls[64] - calls[8]) <= 10, calls


def _column_literal_candidates(points, region_covs, cell_col):
    """The Column form of ``_literal_candidates``: one ``isin`` literal
    per covering cell, the reference for the SQL predicate."""
    exprs = []
    for rid, by_level in region_covs.items():
        match = None
        for lv, cells in sorted(by_level.items()):
            e = cell_parent(cell_col, lv).isin(cells)
            match = e if match is None else (match | e)
        exprs.append(F.when(match, F.lit(rid)))
    return points.select("*", F.explode(F.array(*exprs)).alias("region_id")) \
        .filter(F.col("region_id").isNotNull())


@pytest.mark.parametrize("refine", [False, True])
def test_sql_predicate_pairs_equal_column_form(spark, points, monkeypatch,
                                               refine):
    regions = _headline_regions(spark, {ODD_ID: (35.0, 10.0, 40.0)})

    def pairs():
        out = sj.point_in_region_join(points, regions, max_cells=64,
                                      refine=refine, distributed=False)
        return sorted(tuple(r) for r in
                      out.select("doc_id", "span_idx", "region_id").collect())

    got = pairs()
    with monkeypatch.context() as m:
        m.setattr(sj, "_literal_candidates", _column_literal_candidates)
        want = pairs()
    assert got == want
    assert any(r == ODD_ID for _, _, r in got)
