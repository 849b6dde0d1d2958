"""Jobs each point_in_region_join call launches before the caller's
action: one bounded regions read both chooses the path and supplies the
literal path's rows, and the distributed path's levels read is the job
that materializes its covering.  Counted with a job group and the
status tracker; the pairs are the same on every path."""

from __future__ import annotations

import pytest

import s2_geometry_rust_spark.operators.spatial_join as sj
from s2_geometry_rust_spark import fixtures
from s2_geometry_rust_spark.sources import extract_geo_points, synth_documents


@pytest.fixture(scope="module")
def points(spark):
    pts = extract_geo_points(synth_documents(spark, 300, seed=7)).cache()
    pts.count()
    yield pts
    pts.unpersist()


@pytest.fixture(scope="module")
def regions_paths(spark, tmp_path_factory):
    """The 7 headline regions as one parquet file (one partition) and as
    4 files (4 partitions)."""
    regions = fixtures.cap_regions(spark).unionByName(
        fixtures.loop_regions(spark, ["arctic_80", "candy_cane", "small_ne_cw"])
    )
    paths = {}
    for files in (1, 4):
        path = str(tmp_path_factory.mktemp("jobs") / f"regions{files}")
        regions.repartition(files).write.parquet(path)
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
