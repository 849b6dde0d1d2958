"""Duplicate clustering: alternating-star connected components and the
end-to-end duplicate_clusters operator, validated against a pure-Python
union-find ground truth (algorithm-independent: both must produce
component = min reachable node id)."""

import numpy as np
import pytest

from s2_geometry_rust_spark.operators.dedup import (
    connected_components,
    duplicate_clusters,
    near_dedup_minhash,
)


def _union_find_components(edges, nodes=None):
    """Ground truth: dict node -> min node id of its component."""
    parent = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = {n: find(n) for n in parent}
    for n in nodes or []:
        out.setdefault(n, n)
    return out


def _cc_dict(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    rows = connected_components(df).collect()
    return {r["node"]: r["component"] for r in rows}


def test_cc_random_graph_matches_union_find(spark):
    rng = np.random.default_rng(42)
    n_nodes, n_edges = 500, 700
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, n_nodes, size=(n_edges, 2))
        if a != b
    ]
    got = _cc_dict(spark, edges)
    want = _union_find_components(edges)
    assert got == want
    # every component labeled by its minimum member
    for n, c in got.items():
        assert c <= n


def test_cc_long_chain_converges(spark):
    # path graph = worst case for naive min-label propagation
    # (O(diameter) rounds); alternating star must close a 300-node
    # chain well inside max_rounds
    edges = [(i, i + 1) for i in range(300)]
    got = _cc_dict(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 301


def test_cc_disjoint_components_and_duplicate_edges(spark):
    edges = [(10, 11), (11, 12), (12, 10),  # triangle
             (20, 21), (21, 20),            # duplicate + reversed
             (30, 31)]
    got = _cc_dict(spark, edges)
    want = _union_find_components(edges)
    assert got == want
    assert got[12] == 10 and got[21] == 20 and got[31] == 30


def test_cc_empty_edges(spark):
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(df).count() == 0
    assert connected_components(df, driver_max_edges=0).count() == 0


def test_cc_distributed_path_matches_driver_path(spark):
    """driver_max_edges=0 forces the alternating-star scale path; its
    labels must be identical to the driver union-find fast path on the
    same graph (chain + triangles + singleton-heavy random edges)."""
    rng = np.random.default_rng(7)
    edges = [(i, i + 1) for i in range(50)]
    edges += [
        (int(a), int(b))
        for a, b in rng.integers(100, 400, size=(300, 2))
        if a != b
    ]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    fast = {r["node"]: r["component"]
            for r in connected_components(df).collect()}
    dist = {r["node"]: r["component"]
            for r in connected_components(df, driver_max_edges=0).collect()}
    assert fast == dist == _union_find_components(edges)


def test_duplicate_clusters_consistent_with_pairs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in near_dedup_minhash(docs, threshold=0.5, n_bands=32).collect()
    ]
    all_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    want = _union_find_components(pairs, nodes=all_ids)

    out = duplicate_clusters(docs, threshold=0.5, n_bands=32).collect()
    assert len(out) == len(all_ids)
    got = {r["doc_id"]: r["cluster_id"] for r in out}
    assert got == want
    # cluster_size agrees with the assignment
    from collections import Counter

    sizes = Counter(got.values())
    for r in out:
        assert r["cluster_size"] == sizes[r["cluster_id"]]


def test_dedup_clusters_oracle_sf0001(spark, sf_dir):
    """Bit-for-bit vs the DuckDB recursive-closure oracle at sf0.001
    (the driver gate repeats this at sf0.01)."""
    duckdb = pytest.importorskip("duckdb")
    from contract import oracle
    from contract.engine_queries import QUERIES

    got = (
        QUERIES["dedup_clusters"](spark, sf_dir)
        .toPandas()
        .sort_values(["doc_id"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = (
        con.execute(oracle.dedup_clusters_sql())
        .fetchdf()
        .sort_values(["doc_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["doc_id"].to_numpy() == want["doc_id"].to_numpy()).all()
    assert (got["cluster_id"].to_numpy() == want["cluster_id"].to_numpy()).all()
    assert (
        got["cluster_size"].to_numpy() == want["cluster_size"].to_numpy()
    ).all()
