"""Closest-edge join: python ground truth for the brute path, exact
parity of the indexed path vs brute, and the nano-grid margin guard for
the oracle comparison (the 2-2*sqrt(1-s) cancellation amplifies last-ulp
engine differences to ~1e-15; the contract is safe because every sf0.01
value sits >=1e-4 nano-units from a rounding boundary — asserted
here)."""

from __future__ import annotations

import numpy as np

from s2_geometry_rust_spark import fixtures


def _py_d2(p, a, b):
    n = np.cross(a, b)
    c1 = np.dot(np.cross(n, a), p)
    c2 = np.dot(np.cross(b, n), p)
    if c1 >= 0.0 and c2 >= 0.0:
        pn = np.dot(p, n)
        d2 = 2.0 - 2.0 * np.sqrt(max(0.0, 1.0 - pn * pn / np.dot(n, n)))
    else:
        d2 = min(np.dot(p - a, p - a), np.dot(p - b, p - b))
    return min(d2, 4.0)


def _edges_df(spark):
    return spark.createDataFrame(
        fixtures.closest_edge_fixture(),
        "edge_id long, ax double, ay double, az double,"
        " bx double, by double, bz double",
    )


def test_brute_matches_python(spark):
    from s2_geometry_rust_spark.operators.closest_edge import (
        closest_edge_join)

    rng = np.random.default_rng(11)
    raw = rng.normal(size=(200, 3))
    pts = spark.createDataFrame(
        [(i, float(x), float(y), float(z))
         for i, (x, y, z) in enumerate(raw)],
        "point_id long, x double, y double, z double",
    )
    edges = np.array(
        [e[1:] for e in fixtures.closest_edge_fixture()]
    ).reshape(-1, 2, 3)
    got = {r["point_id"]: r
           for r in closest_edge_join(pts, _edges_df(spark)).collect()}
    for i, v in enumerate(raw):
        p = v / np.linalg.norm(v)
        d2s = [_py_d2(p, e[0], e[1]) for e in edges]
        best = int(np.argmin(d2s))  # argmin takes first == smallest id
        assert got[i]["edge_id"] == best
        assert got[i]["d2_nano"] == round(d2s[best] * 1e9)
    assert len(got) == 200


def test_interior_vs_endpoint_branches(spark):
    """A point straight 'above' an equatorial edge midpoint hits the
    interior branch; a point past the endpoint hits the endpoint
    branch."""
    from s2_geometry_rust_spark.operators.closest_edge import (
        closest_edge_join)

    edges = spark.createDataFrame(
        [(0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0)],  # quarter arc on equator
        "edge_id long, ax double, ay double, az double,"
        " bx double, by double, bz double",
    )
    s2 = float(np.sqrt(0.5))
    pts = spark.createDataFrame(
        [
            (0, s2, s2, 0.0),     # on the arc: d2 = 0
            (1, s2, s2, 1e-3),    # slightly north of the midpoint
            (2, 0.9, -0.1, 0.0),  # past endpoint a: nearest is a
        ],
        "point_id long, x double, y double, z double",
    )
    got = {r["point_id"]: r for r in closest_edge_join(pts, edges).collect()}
    assert got[0]["d2_nano"] == 0
    # interior distance ~ (1e-3)^2 after normalization: tiny but nonzero
    assert 0 < got[1]["d2_nano"] < 2000
    p = np.array([0.9, -0.1, 0.0]); p /= np.linalg.norm(p)
    a = np.array([1.0, 0.0, 0.0])
    assert got[2]["d2_nano"] == round(float(np.dot(p - a, p - a)) * 1e9)


def test_indexed_matches_brute(spark):
    from s2_geometry_rust_spark.operators.closest_edge import (
        closest_edge_join, closest_edge_join_indexed)

    rng = np.random.default_rng(23)
    raw = rng.normal(size=(300, 3))
    pts = spark.createDataFrame(
        [(i, float(x), float(y), float(z))
         for i, (x, y, z) in enumerate(raw)],
        "point_id long, x double, y double, z double",
    )
    edges = _edges_df(spark)
    brute = {(r["point_id"], r["edge_id"], r["d2_nano"])
             for r in closest_edge_join(pts, edges).collect()}
    for radius in (5.0, 30.0):
        idx = {(r["point_id"], r["edge_id"], r["d2_nano"])
               for r in closest_edge_join_indexed(
                   pts, edges, search_radius_deg=radius).collect()}
        assert idx == brute, f"radius={radius}"


def test_oracle_nano_margins():
    """Every sf0.01 contract value sits far from a nano rounding
    boundary and tie gaps are macroscopic, so the <=1e-15 engine-vs-
    DuckDB ulp drift cannot flip the hash comparison."""
    import duckdb

    from contract import oracle

    con = duckdb.connect()
    con.execute("CREATE VIEW customer AS SELECT * FROM "
                "'/root/testdata/sf0.01/customer.parquet'")
    sql = oracle.closest_edge_sql()
    raw = sql.replace(
        "CAST(round(d2 * 1e9, 0) AS BIGINT) AS d2_nano", "d2")
    x = con.execute(raw).df()["d2"].to_numpy() * 1e9
    frac = np.abs(x - np.floor(x) - 0.5)
    assert frac.min() > 1e-4
    top2 = sql.split("ranked AS")[0] + (
        "ranked AS (SELECT point_id, d2, row_number() OVER "
        "(PARTITION BY point_id ORDER BY d2, edge_id) AS rn FROM scored) "
        "SELECT point_id, rn, d2 FROM ranked WHERE rn <= 2")
    piv = con.execute(top2).df().pivot(
        index="point_id", columns="rn", values="d2")
    assert (piv[2] - piv[1]).min() > 1e-6
