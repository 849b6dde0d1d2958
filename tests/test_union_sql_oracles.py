"""Property tests for the cell-union set-algebra SQL oracles: the
drop-contained + sibling-collapse chain (oracle._normalize_chain_sql)
must equal the reference normalize kernel (cell_union.rs:600-629) on
random laminar-free cell sets, and the containment-based intersection
formulation must equal the two-pointer merge kernel."""

from __future__ import annotations

import duckdb
import numpy as np

from contract import oracle
from s2_geometry_rust_spark.kernels import cellid as ck
from s2_geometry_rust_spark.kernels import unions as ku


def _rand_cells(rng, n):
    pts = rng.normal(size=(n, 3))
    pts /= np.linalg.norm(pts, axis=1)[:, None]
    leaf = ck.from_point(pts[:, 0], pts[:, 1], pts[:, 2]).astype(np.uint64)
    lv = rng.integers(0, 30, size=n)
    return ck.parent_at_level(leaf, lv)


def _values_rel(groups: dict[int, np.ndarray]) -> str:
    rows = ", ".join(
        f"({uid}, {int(c)})"
        for uid, cells in groups.items()
        for c in np.unique(cells).view(np.int64)
    )
    return f"src(union_id, cell_id) AS (VALUES {rows})"


def test_sql_normalize_matches_kernel():
    rng = np.random.default_rng(1234)
    groups = {u: _rand_cells(rng, int(rng.integers(1, 60)))
              for u in range(25)}
    sql = ("WITH " + _values_rel(groups) + ","
           + oracle._normalize_chain_sql("src", "n", 30)
           + "\nSELECT union_id, cell_id FROM nk30 ORDER BY union_id")
    got = duckdb.connect().execute(sql).fetchdf()
    for uid, cells in groups.items():
        want = np.sort(ku.normalize(cells).astype(np.uint64))
        have = np.sort(
            got[got.union_id == uid].cell_id.to_numpy(np.int64).view(np.uint64)
        )
        np.testing.assert_array_equal(have, want, err_msg=f"union {uid}")


def test_sql_intersection_formulation_matches_kernel():
    rng = np.random.default_rng(77)
    for _ in range(60):
        a = ku.normalize(_rand_cells(rng, int(rng.integers(1, 40))))
        b = ku.normalize(_rand_cells(rng, int(rng.integers(1, 40))))
        want = np.sort(ku.intersection(a, b).astype(np.uint64))

        def rngs(ids):
            ids = ids.astype(np.uint64)
            lsb = ids & (~ids + np.uint64(1))
            return ids - (lsb - np.uint64(1)), ids + (lsb - np.uint64(1))

        amin, amax = rngs(a)
        bmin, bmax = rngs(b)
        out = set()
        for i in range(len(a)):
            if ((bmin <= amin[i]) & (amax[i] <= bmax)).any():
                out.add(int(a.astype(np.uint64)[i]))
        for j in range(len(b)):
            strict = (amin <= bmin[j]) & (bmax[j] <= amax) & (
                (amin != bmin[j]) | (amax != bmax[j])
            )
            if strict.any():
                out.add(int(b.astype(np.uint64)[j]))
        have = np.array(sorted(out), np.uint64)
        np.testing.assert_array_equal(have, want)


def test_sql_difference_and_expand_match_kernel_sf001():
    """Full difference/expand oracles vs the reference kernels on the
    contract construction (customer/supplier unions at sf0.01) —
    DuckDB-only, no Spark."""
    con = duckdb.connect()
    con.execute("CREATE VIEW customer AS SELECT * FROM "
                "'/root/testdata/sf0.01/customer.parquet'")
    con.execute("CREATE VIEW supplier AS SELECT * FROM "
                "'/root/testdata/sf0.01/supplier.parquet'")

    def members(table, key):
        return con.execute(
            "WITH lut(idx, r) AS (VALUES "
            + oracle.lookup_pos_sql_values() + "),"
            + oracle._hilbert_chain(
                oracle.derived_points_sql(table, key), "")
            + "," + oracle._union_members_sql("leaf", "members")
            + "\nSELECT union_id, cell_id FROM members").fetchdf()

    def per_union(df):
        return {u: g.cell_id.to_numpy(np.int64).view(np.uint64)
                for u, g in df.groupby("union_id")}

    A = per_union(members("customer", "c_custkey"))
    B = per_union(members("supplier", "s_suppkey"))
    empty = np.array([], np.uint64)

    cases = [
        (oracle.union_difference_sql(),
         lambda u: ku.difference(ku.normalize(A[u]),
                                 ku.normalize(B.get(u, empty)))),
        (oracle.union_expand_sql(),
         lambda u: ku.expand(ku.normalize(A[u]), 12)),
    ]
    for sql, expect in cases:
        got = con.execute(sql).fetchdf()
        for u in A:
            want = np.sort(np.asarray(expect(u), np.uint64))
            have = np.sort(got[got.union_id == u].cell_id
                           .to_numpy(np.int64).view(np.uint64))
            np.testing.assert_array_equal(have, want)
