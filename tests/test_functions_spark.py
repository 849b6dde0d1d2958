"""JVM Column expressions and pandas UDFs agree bit-for-bit with the
numpy kernels (which themselves mirror /root/reference/src/cell_id.rs)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2_geometry_rust_spark.functions import (
    cell_contains,
    cell_face,
    cell_id_from_latlng_deg,
    cell_id_from_xyz,
    cell_intersects,
    cell_is_leaf,
    cell_is_valid,
    cell_level,
    cell_parent,
    cell_parent_sql,
    cell_range_max,
    cell_range_min,
    cell_token,
    unsigned_sort_key,
)
from s2_geometry_rust_spark.kernels import cellid as ck


def _random_points(n, seed=42):
    rng = np.random.default_rng(seed)
    v = rng.normal(size=(n, 3))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v


def _random_ids(n, seed=42):
    pts = _random_points(n, seed)
    leaf = ck.from_point(pts[:, 0], pts[:, 1], pts[:, 2])
    rng = np.random.default_rng(seed + 1)
    levels = rng.integers(0, 31, size=n)
    return ck.parent(leaf, levels)


@pytest.fixture(scope="module")
def ids_df(spark):
    ids = _random_ids(2000)
    pdf = pd.DataFrame({"id": ids.view(np.int64)})
    return spark.createDataFrame(pdf), ids


def test_column_hierarchy_math_matches_kernels(spark, ids_df):
    df, ids = ids_df
    out = (
        df.select(
            "id",
            cell_face("id").alias("face"),
            cell_level("id").alias("level"),
            cell_range_min("id").alias("rmin"),
            cell_range_max("id").alias("rmax"),
            cell_is_leaf("id").alias("leaf"),
            cell_is_valid("id").alias("valid"),
            cell_parent("id", 5).alias("p5"),
            cell_token("id").alias("token"),
        )
        .toPandas()
        .sort_index()
    )
    got_ids = out["id"].to_numpy(np.int64).view(np.uint64)
    order = {int(v): i for i, v in enumerate(got_ids)}
    perm = np.array([order[int(v)] for v in ids])
    out = out.iloc[perm].reset_index(drop=True)

    np.testing.assert_array_equal(out["face"].to_numpy(np.int32), ck.face(ids))
    np.testing.assert_array_equal(out["level"].to_numpy(np.int32), ck.level(ids))
    np.testing.assert_array_equal(
        out["rmin"].to_numpy(np.int64).view(np.uint64), ck.range_min(ids)
    )
    np.testing.assert_array_equal(
        out["rmax"].to_numpy(np.int64).view(np.uint64), ck.range_max(ids)
    )
    np.testing.assert_array_equal(out["leaf"].to_numpy(bool), ck.is_leaf(ids))
    np.testing.assert_array_equal(out["valid"].to_numpy(bool), ck.is_valid(ids))
    np.testing.assert_array_equal(
        out["p5"].to_numpy(np.int64).view(np.uint64), ck.parent_at_level(ids, 5)
    )
    np.testing.assert_array_equal(
        out["token"].to_numpy(object), ck.to_token(ids)
    )


def test_cell_parent_sql_equals_column_form(spark):
    """cell_parent_sql is the SQL text of cell_parent: equal values at
    levels 0, 1, 29 and 30 on leaf and non-leaf ids of face 0 and of
    faces 4-5 (negative as int64), and on id 0.  The column name needs
    backquoting, escapes included."""
    pts = np.array([[1.0, 0.2, -0.3], [0.1, -1.0, 0.4], [-0.2, 0.3, -1.0]])
    leaf = ck.from_point(pts[:, 0], pts[:, 1], pts[:, 2])
    assert list(ck.face(leaf)) == [0, 4, 5]
    ids = np.concatenate([[np.uint64(0)], leaf] + [
        ck.parent(leaf, np.full(3, lv)) for lv in (0, 1, 12, 29)])
    name = "cell.`id`"
    df = spark.createDataFrame(pd.DataFrame({name: ids.view(np.int64)}))
    levels = (0, 1, 29, 30)
    out = df.select(
        *[cell_parent("`cell.``id```", lv).alias(f"col{lv}")
          for lv in levels],
        *[F.expr(cell_parent_sql(name, lv)).alias(f"sql{lv}")
          for lv in levels],
    ).toPandas()
    for lv in levels:
        np.testing.assert_array_equal(out[f"sql{lv}"], out[f"col{lv}"])
        np.testing.assert_array_equal(
            out[f"sql{lv}"].to_numpy(np.int64)[1:].view(np.uint64),
            ck.parent_at_level(ids[1:], lv))
    assert (out.iloc[0] == 0).all()


def test_unsigned_sort_key_orders_like_u64(spark, ids_df):
    df, ids = ids_df
    got = (
        df.orderBy(unsigned_sort_key("id"))
        .select("id")
        .toPandas()["id"]
        .to_numpy(np.int64)
        .view(np.uint64)
    )
    np.testing.assert_array_equal(got, np.sort(ids))


def test_contains_intersects_columns(spark):
    ids = _random_ids(500, seed=7)
    parents = ck.parent(ids, np.maximum(ck.level(ids) - 2, 0))
    pdf = pd.DataFrame({"a": parents.view(np.int64), "b": ids.view(np.int64)})
    out = (
        spark.createDataFrame(pdf)
        .select(
            cell_contains("a", "b").alias("c"),
            cell_intersects("a", "b").alias("i"),
        )
        .toPandas()
    )
    assert out["c"].all()
    assert out["i"].all()


def test_cell_id_udfs_match_kernels(spark):
    pts = _random_points(3000, seed=11)
    lat = np.degrees(np.arcsin(np.clip(pts[:, 2], -1, 1)))
    pdf = pd.DataFrame(
        {"x": pts[:, 0], "y": pts[:, 1], "z": pts[:, 2],
         "lat": lat, "lng": np.degrees(np.arctan2(pts[:, 1], pts[:, 0]))}
    )
    df = spark.createDataFrame(pdf)
    out = df.select(
        cell_id_from_xyz("x", "y", "z").alias("cid"),
        cell_id_from_latlng_deg("lat", "lng").alias("cid_ll"),
        "x", "y", "z",
    ).toPandas()
    want = ck.from_point(
        out["x"].to_numpy(), out["y"].to_numpy(), out["z"].to_numpy()
    )
    np.testing.assert_array_equal(
        out["cid"].to_numpy(np.int64).view(np.uint64), want
    )
    # lat/lng path reconstructs the same point through trig; ids must be
    # valid leaves on the same face at least
    got_ll = out["cid_ll"].to_numpy(np.int64).view(np.uint64)
    assert ck.is_valid(got_ll).all()
    assert ck.is_leaf(got_ll).all()
