"""The one exact-refine dispatch behind both point-in-region join paths:
its decision equals each region's own kernel, and the literal and
distributed paths agree on caps whose radius is NaN or past 180 deg."""

import numpy as np
import pandas as pd

from s2_geometry_rust_spark import fixtures
from s2_geometry_rust_spark.kernels import latlng as lk
from s2_geometry_rust_spark.kernels.caps import S2Cap, radius_l2_from_radians
from s2_geometry_rust_spark.operators.coverings import region_from_row
from s2_geometry_rust_spark.operators.spatial_join import (
    _refine_keep,
    point_in_region_join,
)
from s2_geometry_rust_spark.sources import extract_geo_points, synth_documents

_COLS = ["region_id", "kind", "p0", "p1", "p2", "p3", "vertices",
         "cell_ids", "loops"]


def _row(rid, kind, p=(None,) * 4, vertices=None, cell_ids=None, loops=None):
    return dict(zip(_COLS, (rid, kind, *p, vertices, cell_ids, loops)))


def _verts(name):
    return [{"lat": float(a), "lng": float(b)} for a, b in fixtures.LOOPS[name]]


def _dispatch_rows():
    rng = np.random.default_rng(23)
    rows = [_row(n, "cap", (*map(float, c), None))
            for n, c in fixtures.CAPS.items()]
    radii = [0.0, 180.0, 180.5, 250.0, float("nan"), -0.0]
    radii += list(rng.uniform(0.0, 200.0, 40))
    for i, r in enumerate(radii):
        rows.append(_row(f"cap{i}", "cap", (float(rng.uniform(-90, 90)),
                                            float(rng.uniform(-180, 180)),
                                            float(r), None)))
    rows += [_row(n, "rect", tuple(map(float, v)))
             for n, v in fixtures.RECTS.items()]
    for i in range(20):
        lat_lo = float(rng.uniform(-90, 60))
        lng_lo = float(rng.uniform(-180, 180))
        lng_hi = (lng_lo + float(rng.uniform(1, 300)) + 180.0) % 360.0 - 180.0
        rows.append(_row(f"rect{i}", "rect",
                         (lat_lo, lat_lo + float(rng.uniform(1, 30)),
                          lng_lo, lng_hi)))
    rows += [_row(n, "loop", vertices=_verts(n))
             for n in ("candy_cane", "small_ne_cw", "arctic_80",
                       "north_hemi", "loop_a")]
    rows.append(_row("north_hole_arctic", "polygon", loops=[
        {"poly": p, "vertices": _verts(n)}
        for p, n in fixtures.POLYGONS["north_hole_arctic"]]))
    rows.append(_row("union", "union", cell_ids=[int(np.int64(
        np.uint64(0x1000000000000000)))]))
    return rows


def _kernel_keep(row, x, y, z, lat_r, lng_r):
    reg = region_from_row(row)
    kind = row["kind"]
    if kind == "cap":
        return reg.cap.contains_points_batch(x, y, z)
    if kind == "loop":
        return reg.loop.contains_points_batch(x, y, z)
    if kind == "polygon":
        return reg.contains_points_batch(x, y, z)
    if kind == "rect":
        return reg.rect.contains_latlng_batch(lat_r, lng_r)
    return np.ones(len(x), bool)


class _Acc:
    def __init__(self):
        self.value = 0

    def add(self, v):
        self.value += v


def test_refine_dispatch_matches_per_region_kernels():
    rows = _dispatch_rows()
    rng = np.random.default_rng(7)
    n = 30000
    which = rng.integers(0, len(rows), n)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    lng = rng.uniform(-180.0, 180.0, n)
    # half the cap/rect candidates sit near the region, so both
    # outcomes occur for small regions too
    near = rng.random(n) < 0.5
    for i in np.flatnonzero(near):
        row = rows[which[i]]
        if row["kind"] == "cap":
            lat[i] = np.clip(row["p0"] + rng.normal(0, 3), -90, 90)
            lng[i] = (row["p1"] + rng.normal(0, 3) + 180.0) % 360.0 - 180.0
        elif row["kind"] == "rect":
            lat[i] = np.clip(rng.uniform(row["p0"] - 2, row["p1"] + 2),
                             -90, 90)
    batch = pd.DataFrame({
        "lat": lat, "lng": lng,
        "region_id": [rows[w]["region_id"] for w in which],
        **{c: [rows[w][c] for w in which] for c in _COLS[1:]},
    })

    lat_r = lk.degrees_to_radians(lat)
    lng_r = lk.degrees_to_radians(lng)
    x, y, z = lk.latlng_to_xyz(lat_r, lng_r)
    want = np.zeros(n, bool)
    for w, row in enumerate(rows):
        idx = np.flatnonzero(which == w)
        want[idx] = _kernel_keep(row, x[idx], y[idx], z[idx],
                                 lat_r[idx], lng_r[idx])

    cache, accs = {}, (_Acc(), _Acc())
    got = []
    # two batches: the second reuses the region cache of the first
    for part in (batch.iloc[: n // 3], batch.iloc[n // 3:]):
        part = part.reset_index(drop=True)

        def row_of(r, i, part=part):
            return {c: part[c].iloc[i] for c in _COLS}

        got.append(_refine_keep(
            part["lat"], part["lng"], part["region_id"], part["kind"],
            part["p0"], part["p1"], part["p2"], row_of, cache, accs))
    got = np.concatenate(got)
    np.testing.assert_array_equal(got, want)
    assert 0.2 < want.mean() < 0.8
    # NaN and past-180 radii are full caps; the union row is kept
    for rid in ("cap1", "cap2", "cap3", "cap4", "union"):
        assert got[batch["region_id"].to_numpy() == rid].all(), rid
    assert set(cache) == {r["region_id"] for r in rows
                          if r["kind"] in ("loop", "polygon", "rect")}
    assert accs[0].value > 0
    empty = _refine_keep([], [], pd.Series([], dtype=object), [], [], [],
                         [], None, cache, accs)
    assert empty.dtype == bool and len(empty) == 0


def test_radius_helper_is_from_center_angle_bit_for_bit():
    rng = np.random.default_rng(3)
    deg = np.concatenate([
        [0.0, -0.0, 1e-300, 90.0, 179.9999999, 180.0, 180.0000001, 250.0,
         1e9, np.inf, -1.0, -np.inf, np.nan],
        rng.uniform(0.0, 200.0, 500),
    ])
    r = lk.degrees_to_radians(deg)
    want = np.array([S2Cap.from_center_angle((1.0, 0.0, 0.0),
                                             float(v)).radius_l2 for v in r])
    got = radius_l2_from_radians(r)
    np.testing.assert_array_equal(got.view(np.uint64), want.view(np.uint64))
    assert got[np.isnan(deg)][0] == 4.0


def test_nan_and_wide_radius_caps_agree_on_both_join_paths(spark):
    rows = [(n, "cap", *map(float, c), None, None, None, None)
            for n, c in fixtures.CAPS.items()]
    rows += [("cap_nan", "cap", 10.0, 20.0, float("nan"), None, None, None,
              None),
             ("cap_250", "cap", -30.0, 100.0, 250.0, None, None, None, None)]
    regions = spark.createDataFrame(rows, fixtures.REGIONS_SCHEMA)
    points = extract_geo_points(synth_documents(spark, 300, seed=9)).cache()

    def pairs(distributed):
        joined = point_in_region_join(points, regions, max_cells=16,
                                      distributed=distributed)
        return {(r["doc_id"], r["span_idx"], r["region_id"])
                for r in joined.select("doc_id", "span_idx",
                                       "region_id").collect()}

    pdf = points.toPandas()
    x, y, z = lk.latlng_to_xyz(lk.degrees_to_radians(pdf["lat"].to_numpy()),
                               lk.degrees_to_radians(pdf["lng"].to_numpy()))
    want = set()
    for row in regions.collect():
        m = region_from_row(row).cap.contains_points_batch(x, y, z)
        want |= {(d, s, row["region_id"])
                 for d, s in pdf[["doc_id", "span_idx"]].to_numpy()[m]
                 .tolist()}
    literal, distributed = pairs(False), pairs(True)
    assert literal == want
    assert distributed == want
    for rid in ("cap_nan", "cap_250"):
        assert sum(1 for p in want if p[2] == rid) == len(pdf) > 0
    points.unpersist()
