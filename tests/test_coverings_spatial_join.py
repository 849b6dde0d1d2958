"""Covering operator and point-in-region spatial join: parity with the
per-region kernels and exact-containment ground truth."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2_geometry_rust_spark import fixtures
from s2_geometry_rust_spark.kernels import cellid as ck
from s2_geometry_rust_spark.kernels import latlng as lk
from s2_geometry_rust_spark.kernels.coverer import CovererOptions, S2RegionCoverer
from s2_geometry_rust_spark.kernels import unions as ku
from s2_geometry_rust_spark.operators.coverings import cover_regions, region_from_row
from s2_geometry_rust_spark.operators.spatial_join import (
    point_in_rect_join,
    point_in_region_join,
)
from s2_geometry_rust_spark.sources import extract_geo_points, synth_documents


@pytest.fixture(scope="module")
def regions(spark):
    return fixtures.all_regions(spark)


@pytest.fixture(scope="module")
def points(spark):
    docs = synth_documents(spark, 800, seed=42)
    return extract_geo_points(docs).cache()


def test_cover_regions_matches_kernel_per_region(spark, regions):
    got = cover_regions(regions, max_cells=8).toPandas()
    coverer = S2RegionCoverer(CovererOptions(max_cells=8))
    for row in regions.collect():
        rid = row["region_id"]
        want = coverer.get_covering(region_from_row(row))
        g = got[got.region_id == rid]["cell_id"].to_numpy(np.int64).view(np.uint64)
        np.testing.assert_array_equal(np.sort(g), np.sort(want), err_msg=rid)
        assert len(g) <= 8
        assert ku.is_normalized(np.sort(g))


def test_covering_cells_valid_and_ranges_consistent(spark, regions):
    got = cover_regions(regions, max_cells=12).toPandas()
    ids = got["cell_id"].to_numpy(np.int64).view(np.uint64)
    assert ck.is_valid(ids).all()
    np.testing.assert_array_equal(
        got["cell_min"].to_numpy(np.int64).view(np.uint64), ck.range_min(ids)
    )
    np.testing.assert_array_equal(
        got["cell_max"].to_numpy(np.int64).view(np.uint64), ck.range_max(ids)
    )
    np.testing.assert_array_equal(got["level"].to_numpy(np.int32), ck.level(ids))


def _ground_truth_pairs(points_pdf, region_rows):
    lat_r = lk.degrees_to_radians(points_pdf["lat"].to_numpy())
    lng_r = lk.degrees_to_radians(points_pdf["lng"].to_numpy())
    x, y, z = lk.latlng_to_xyz(lat_r, lng_r)
    pairs = set()
    for row in region_rows:
        reg = region_from_row(row)
        kind = row["kind"]
        if kind == "loop":
            m = reg.loop.contains_points_batch(x, y, z)
        elif kind == "cap":
            m = reg.cap.contains_points_batch(x, y, z)
        else:
            m = reg.rect.contains_latlng_batch(lat_r, lng_r)
        for d in points_pdf["doc_id"].to_numpy()[np.asarray(m, bool)]:
            pairs.add((d, row["region_id"]))
    return pairs


def test_point_in_region_join_matches_exact_containment(spark, regions, points):
    joined = point_in_region_join(points, regions, max_cells=16)
    got = {
        (r["doc_id"], r["region_id"])
        for r in joined.select("doc_id", "region_id").collect()
    }
    want = _ground_truth_pairs(points.toPandas(), regions.collect())
    missed = want - got
    extra = got - want
    # The filter stage may only drop pairs the *reference's own* covering
    # would miss (vertex-sampling may_intersect, SURVEY.md §2.9 TODO);
    # the refine stage must never produce extras.
    assert not extra, f"false positives: {sorted(extra)[:10]}"
    assert not missed, f"false negatives: {sorted(missed)[:10]}"


def test_point_in_rect_join_pure_jvm(spark, points):
    rects = spark.createDataFrame(
        [
            ("band", -5.0, 5.0, -30.0, 30.0),
            ("wrap", -10.0, 10.0, 170.0, -170.0),
        ],
        "region_id string, lat_lo double, lat_hi double, lng_lo double, lng_hi double",
    )
    got = point_in_rect_join(points.select("doc_id", "lat", "lng"), rects)
    pdf = got.toPandas()
    for _, r in pdf.iterrows():
        assert r.lat_lo <= r.lat <= r.lat_hi
        if r.region_id == "wrap":
            assert r.lng >= 170.0 or r.lng <= -170.0
        else:
            assert -30.0 <= r.lng <= 30.0
    # count parity vs pandas
    p = points.toPandas()
    want = ((p.lat.between(-5, 5)) & (p.lng.between(-30, 30))).sum() + (
        (p.lat.between(-10, 10)) & ((p.lng >= 170) | (p.lng <= -170))
    ).sum()
    assert len(pdf) == want


def test_exact_fallback_rate_under_one_percent(spark, regions, points):
    from s2_geometry_rust_spark.operators.spatial_join import last_fallback_rate

    point_in_region_join(points, regions, max_cells=32).count()
    rate = last_fallback_rate()
    # BASELINE sanity target (src/lib.rs:18-20 tier claims): < 1% of
    # predicate evaluations take the exact-arithmetic path
    assert rate is not None and rate < 0.01, rate


def test_point_in_region_join_distributed_path_matches(spark, regions, points):
    """The distributed path (no driver-side region collect) must produce
    exactly the ground-truth pairs on the fixture regions."""
    joined = point_in_region_join(points, regions, max_cells=16,
                                  distributed=True)
    got = {
        (r["doc_id"], r["region_id"])
        for r in joined.select("doc_id", "region_id").collect()
    }
    want = _ground_truth_pairs(points.toPandas(), regions.collect())
    assert got == want


def test_point_in_region_join_auto_distributed_large_regions(spark, points):
    """Synthetic large cap table: distributed=None auto-switches past the
    threshold; result must equal exact containment."""
    import s2_geometry_rust_spark.operators.spatial_join as sj

    rng = np.random.default_rng(5)
    n = 500
    rows = []
    for i in range(n):
        lat = float(rng.uniform(-80, 80))
        lng = float(rng.uniform(-180, 180))
        rad = float(rng.uniform(0.5, 6.0))
        rows.append((f"cap{i:05d}", "cap", lat, lng, rad, None, None, None,
                     None))
    regions = spark.createDataFrame(rows, fixtures.REGIONS_SCHEMA)
    old = sj.DISTRIBUTED_REGION_THRESHOLD
    sj.DISTRIBUTED_REGION_THRESHOLD = 100  # force the auto switch
    try:
        joined = point_in_region_join(points, regions, max_cells=8)
        got = {
            (r["doc_id"], r["region_id"])
            for r in joined.select("doc_id", "region_id").collect()
        }
    finally:
        sj.DISTRIBUTED_REGION_THRESHOLD = old
    want = _ground_truth_pairs(points.toPandas(), regions.collect())
    assert got == want and len(want) > 50


def test_cap_coverings_batch_matches_per_cap():
    """Batched cap coverer == per-cap conservative_covering bit-for-bit
    (admit and containment formulas are shared; only loop batching
    differs), across radii from 0.01 deg to full, plus empty/full."""
    import numpy as np

    from s2_geometry_rust_spark.kernels import latlng as lk
    from s2_geometry_rust_spark.kernels.caps import S2Cap
    from s2_geometry_rust_spark.operators.coverings import (
        TrueCapRegion,
        cap_coverings_batch,
        conservative_covering,
    )

    rng = np.random.default_rng(5)
    caps = []
    for _ in range(80):
        lat, lng = rng.uniform(-85, 85), rng.uniform(-180, 180)
        x, y, z = lk.latlng_to_xyz(np.radians(lat), np.radians(lng))
        r = float(rng.choice([0.01, 0.1, 1.0, 5.0, 30.0, 91.0, 179.0]))
        caps.append(S2Cap.from_center_degrees((float(x), float(y), float(z)), r))
    caps.append(S2Cap.empty())
    caps.append(S2Cap.full())
    for budget in (8, 64):
        ref = [
            conservative_covering(TrueCapRegion(c), max_cells=budget)
            for c in caps
        ]
        got = cap_coverings_batch(caps, max_cells=budget)
        for i, (r, g) in enumerate(zip(ref, got)):
            assert np.array_equal(np.sort(r), np.sort(g)), (budget, i)


def test_conservative_coverings_rows_match_per_region():
    """The rows-level builder (caps decoded column-wise and covered in
    one batch, other rows per region) == the per-region
    ``conservative_covering(conservative_region_from_row(row))`` bit for
    bit, in row order: seeded caps with 0, 180, 250 deg and NaN radii,
    polar and antimeridian centers, the fixture caps, and the fixture
    rects between them."""
    import numpy as np

    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.coverings import (
        conservative_covering,
        conservative_coverings,
        conservative_region_from_row,
    )

    rng = np.random.default_rng(17)
    radii = [0.0, 0.01, 1.0, 5.0, 30.0, 91.0, 180.0, 250.0, float("nan")]
    centers = [(float(rng.uniform(-90, 90)), float(rng.uniform(-180, 180)))
               for _ in range(30)]
    centers += [(90.0, 0.0), (-90.0, 45.0), (89.9, -120.0), (0.0, 180.0),
                (0.0, -180.0), (-20.0, 179.95), (60.0, -179.99)]
    rows = [dict(region_id=f"cap{i}", kind="cap", p0=lat, p1=lng,
                 p2=radii[i % len(radii)], p3=None)
            for i, (lat, lng) in enumerate(centers)]
    rows += [dict(region_id=n, kind="cap", p0=a, p1=b, p2=r, p3=None)
             for n, (a, b, r) in fixtures.CAPS.items()]
    for k, (n, (a, b, c, d)) in enumerate(fixtures.RECTS.items()):
        rows.insert(5 * k + 2, dict(region_id=n, kind="rect",
                                    p0=a, p1=b, p2=c, p3=d))
    for budget in (8, 64):
        got = conservative_coverings(rows, budget)
        assert len(got) == len(rows)
        for row, g in zip(rows, got):
            want = conservative_covering(
                conservative_region_from_row(row), max_cells=budget)
            assert g.dtype == np.uint64, row["region_id"]
            assert np.array_equal(g, want), (budget, row["region_id"])


def test_point_in_region_distributed_salted_matches_unsalted(spark, regions, points):
    """Explicit hot-cell salting is a pure repartitioning: the salted
    distributed join must emit exactly the unsalted pair set (the soak
    tools/pip_skew_soak.py measures the skew histogram at 2M points)."""
    from s2_geometry_rust_spark.operators.spatial_join import (
        point_in_region_join_distributed,
    )

    plain = point_in_region_join_distributed(points, regions, max_cells=16)
    salted = point_in_region_join_distributed(
        points, regions, max_cells=16, n_salts=8
    )
    a = {(r["doc_id"], r["region_id"])
         for r in plain.select("doc_id", "region_id").collect()}
    b = {(r["doc_id"], r["region_id"])
         for r in salted.select("doc_id", "region_id").collect()}
    assert a == b and len(a) > 0


def _rect_may_intersect_ref(rect, c, r) -> bool:
    """Per-cell transcription of the rect admit rule on one cell's
    bounding cap (c, r) — the formula TrueRectRegion.may_intersect_cells
    vectorizes: lat window, pole window, then the expanded-longitude
    test through the scalar S1Interval."""
    r += 1e-12
    lat_c = float(np.arcsin(np.clip(c[2], -1.0, 1.0)))
    lat_lo, lat_hi = lat_c - r, lat_c + r
    if rect.lat.hi < lat_lo or rect.lat.lo > lat_hi:
        return False
    if lat_hi >= np.pi / 2 or lat_lo <= -np.pi / 2:
        return True
    sin_r = np.sin(r)
    cos_lat = min(np.cos(lat_lo), np.cos(lat_hi))
    if sin_r >= cos_lat:
        return True
    dlng = float(np.arcsin(sin_r / cos_lat)) + 1e-12
    return rect.lng.expanded(dlng).contains_point(
        float(np.arctan2(c[1], c[0])))


def _seeded_rects(n=200, seed=11):
    """Fixture rects plus seeded ones: tiny to hemispheric, wrapping
    the antimeridian, full-longitude bands, and rects touching a pole."""
    from s2_geometry_rust_spark.kernels.rects import S2LatLngRect

    rects = [S2LatLngRect.from_degrees(a, c, b, d)
             for a, b, c, d in fixtures.RECTS.values()]
    rng = np.random.default_rng(seed)
    for i in range(n):
        h = float(rng.choice([0.01, 0.5, 3.0, 20.0, 60.0]))
        w = float(rng.choice([0.01, 0.5, 3.0, 40.0, 200.0]))
        lat_lo = float(rng.uniform(-90.0, 90.0 - h))
        if i % 10 == 0:
            lat_lo = 90.0 - h  # touches the north pole
        elif i % 10 == 1:
            lat_lo = -90.0  # touches the south pole
        lng_lo = float(rng.uniform(-180.0, 180.0))
        lng_hi = lng_lo + w
        if lng_hi > 180.0:
            lng_hi -= 360.0  # wraps the antimeridian
        if i % 17 == 0:
            lng_lo, lng_hi = -180.0, 180.0
        rects.append(S2LatLngRect.from_degrees(
            lat_lo, lng_lo, min(lat_lo + h, 90.0), lng_hi))
    return rects


def test_rect_batch_admit_matches_per_cell_and_scalar_covering():
    """TrueRectRegion.may_intersect_cells == the per-cell rule on every
    cell the covering examines, and conservative_covering takes the
    same cells under that per-cell rule (and the scalar contains) as
    under the batch methods, at budgets 8 and 64."""
    from s2_geometry_rust_spark.kernels import cells_true as ct
    from s2_geometry_rust_spark.operators.coverings import (
        TrueRectRegion,
        conservative_covering,
    )

    class Recording(TrueRectRegion):
        def may_intersect_cells(self, ids):
            self.seen.append(np.asarray(ids, np.uint64))
            return super().may_intersect_cells(ids)

    class ScalarOnly:
        """Decides each cell by the per-cell reference rule and each
        point by the scalar contains, one at a time."""

        def __init__(self, rect, caps):
            self.rect, self.caps = rect, caps

        def contains_points_batch(self, x, y, z):
            return np.array([self.rect.contains_point(*map(float, q))
                             for q in zip(x, y, z)], bool)

        def may_intersect_cells(self, ids):
            out = []
            for cid in ids:
                c, r = (self.caps.get(int(cid))
                        or ct.cell_bounding_cap(int(cid)))
                out.append(_rect_may_intersect_ref(self.rect, c, r))
            return np.array(out, bool)

    n_cells = n_nonempty = 0
    for i, rect in enumerate(_seeded_rects()):
        for budget in (8, 64):
            rec = Recording(rect)
            rec.seen = []
            got = conservative_covering(rec, max_cells=budget)
            ids = np.unique(np.concatenate(rec.seen))
            # cell_bounding_cap's arithmetic, on batch-built geometry
            cen, ver = ct.cell_center_xyz(ids), ct.cell_vertices_xyz(ids)
            caps = {}
            for k, cid in enumerate(ids):
                dots = np.clip(ver[k] @ cen[k], -1.0, 1.0)
                caps[int(cid)] = (cen[k], float(np.max(np.arccos(dots))))
            want = np.array([_rect_may_intersect_ref(rect, *caps[int(c)])
                             for c in ids])
            np.testing.assert_array_equal(
                rec.may_intersect_cells(ids), want, err_msg=f"{i} {budget}")
            scalar = conservative_covering(ScalarOnly(rect, caps),
                                           max_cells=budget)
            np.testing.assert_array_equal(got, scalar,
                                          err_msg=f"{i} {budget}")
            n_cells += len(ids)
            n_nonempty += len(got) > 0
    # the per-cell caps above are cell_bounding_cap's, bit for bit
    sample = ck.children(ck.children(np.array(
        [int(ck.from_face_pos_level(f, 0, 0)) for f in range(6)],
        np.uint64)).reshape(-1)).reshape(-1)[::7]
    for cid in sample:
        c, r = ct.cell_bounding_cap(int(cid))
        cen = ct.cell_center_xyz(np.array([cid], np.uint64))[0]
        ver = ct.cell_vertices_xyz(np.array([cid], np.uint64))[0]
        assert np.array_equal(c, cen)
        assert r == float(np.max(np.arccos(np.clip(ver @ cen, -1.0, 1.0))))
    assert n_nonempty > 400 and n_cells > 20_000


def test_rect_scalar_admit_is_the_batch_admit():
    """One formula decides: contains_points_batch is the scalar
    contains, vectorized."""
    from s2_geometry_rust_spark.operators.coverings import TrueRectRegion

    rng = np.random.default_rng(3)
    rng.integers(0, 6, 80)  # keeps the seeded points below unchanged
    rng.integers(0, 1 << 60, 80, dtype=np.uint64)
    rng.integers(0, 14, 80)
    p = rng.normal(size=(200, 3))
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    for rect in _seeded_rects(n=5, seed=4):
        reg = TrueRectRegion(rect)
        inside = reg.contains_points_batch(p[:, 0], p[:, 1], p[:, 2])
        assert list(inside) == [reg.contains(*map(float, q)) for q in p]


def test_union_batch_methods_match_scalar_and_cover_every_cell():
    """CellUnionRegion's batch methods equal its scalar ones cell by
    cell and point by point on seeded unions, and the conservative
    covering of a union row contains every union cell."""
    from types import SimpleNamespace

    from s2_geometry_rust_spark.kernels import cells_true as ct
    from s2_geometry_rust_spark.kernels.coverer import CellUnionRegion
    from s2_geometry_rust_spark.operators.coverings import (
        conservative_coverings,
    )

    rng = np.random.default_rng(23)
    p = rng.normal(size=(300, 3))
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    unions = [np.array([], np.uint64)]
    for u in range(12):
        k = int(rng.integers(1, 30))
        leaf = ck.from_point(*p[rng.integers(0, len(p), k)].T)
        unions.append(ku.normalize(ck.parent(
            leaf, rng.integers(0 if u % 4 == 0 else 3, 31, k))))
    for ids in unions:
        reg = CellUnionRegion(ids)
        # probes: the union's cells, their parents and children, and
        # random (partly invalid) ids at every level
        up = ids[ck.level(ids) > 0]
        probe = np.concatenate([
            ids, ck.parent(up, ck.level(up) - 1),
            ck.children(ids[ck.level(ids) < 30]).reshape(-1),
            ck.from_face_pos_level(
                rng.integers(0, 6, 200),
                rng.integers(0, 1 << 61, 200, dtype=np.uint64),
                rng.integers(0, 31, 200)),
            np.array([0], np.uint64)]).astype(np.uint64)
        assert list(reg.may_intersect_cells(probe)) == [
            reg.may_intersect_cell(SimpleNamespace(id=int(c)))
            for c in probe]
        q = np.concatenate([p, ct.cell_center_xyz(ids).reshape(-1, 3)])
        assert list(reg.contains_points_batch(q[:, 0], q[:, 1], q[:, 2])) \
            == [reg.contains(*map(float, v)) for v in q]
    rows = [dict(region_id=f"u{i}", kind="union",
                 cell_ids=[int(c) for c in ids.view(np.int64)])
            for i, ids in enumerate(unions)]
    for budget in (8, 64):
        for ids, cov in zip(unions, conservative_coverings(rows, budget)):
            assert len(cov) > 0 or len(ids) == 0
            lo, hi = ck.range_min(cov), ck.range_max(cov)
            for c in ids:
                assert np.any((lo <= ck.range_min(c))
                              & (ck.range_max(c) <= hi)), (budget, c)


def test_distributed_join_covers_once(spark, regions, points):
    """The covering is materialized before the call returns: the
    candidate frame's executed plan scans that frame and holds no
    mapInPandas, so the action never re-runs cover_regions."""
    from s2_geometry_rust_spark.operators.spatial_join import (
        point_in_region_join_distributed,
    )

    cand = point_in_region_join_distributed(
        points, regions, max_cells=16, refine=False
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan
    assert cand.count() > 0
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan


def test_distributed_join_empty_coverings_batch_and_stream(spark, points,
                                                           tmp_path):
    """No regions -> no coverings: an empty frame with a region_id
    column, built with filter(False) so a streaming input also runs."""
    empty = spark.createDataFrame([], fixtures.REGIONS_SCHEMA)
    out = point_in_region_join(points, empty, distributed=True)
    assert "region_id" in out.columns
    assert out.count() == 0

    src = str(tmp_path / "points_src")
    points.write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    joined = point_in_region_join(stream, empty, distributed=True)
    assert joined.isStreaming and "region_id" in joined.columns
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("pip_empty_stream")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    try:
        q.processAllAvailable()
        sink = spark.sql("SELECT * FROM pip_empty_stream")
        assert "region_id" in sink.columns
        assert sink.count() == 0
    finally:
        q.stop()


def test_vectorized_ieee_remainder_matches_math_remainder():
    """The rect admit's longitude re-wrap == math.remainder(x, 2pi) bit
    for bit, ties at odd multiples of pi included."""
    import math

    from s2_geometry_rust_spark.operators.coverings import _ieee_remainder_2pi

    rng = np.random.default_rng(9)
    x = np.concatenate([
        rng.uniform(-12.0, 12.0, 20_000),
        np.pi * np.arange(-5, 6, dtype=np.float64),
        np.nextafter(np.pi * np.arange(-5, 6, dtype=np.float64), 0.0),
        [0.0, -0.0],
    ])
    want = np.array([math.remainder(float(v), 2.0 * math.pi) for v in x])
    got = _ieee_remainder_2pi(x)
    assert np.array_equal(got, want)
    assert np.array_equal(np.signbit(got), np.signbit(want))
