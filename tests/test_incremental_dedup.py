"""incremental_dedup: delta-batch dedup against an indexed corpus.

Covers the decision semantics (precedence, deterministic matched ids,
exact-carries-jaccard-1.0), the batch-keeper survival rule (the keeper
of a batch md5 group still reaches the near stage), equivalence of the
inline vs materialized index-signature paths (the production shape
where the index is never re-shingled per batch), and the cross
candidate generator never pairing index docs with each other.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from s2_geometry_rust_spark.operators.dedup import (
    incremental_dedup,
    lsh_candidate_pairs_cross,
    minhash_signatures,
)


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


WORDS = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
NEAR = "alpha bravo charlie delta echo foxtrot golf hotel india kilo"
OTHER = "zulu yankee xray whiskey victor uniform tango sierra romeo quebec"


@pytest.fixture(scope="module")
def tiny(spark):
    index = _mkdocs(
        spark,
        [
            (1, WORDS),          # exact twin of 101, near twin of 104
            (2, OTHER),
            (3, "solo index doc about nothing in particular"),
        ],
    )
    new = _mkdocs(
        spark,
        [
            (101, WORDS),        # exact_index -> 1
            (102, "brand new content first seen today aardvark"),  # keep
            (103, "repeated batch text not in index"),   # exact_batch keeper
            (105, "repeated batch text not in index"),   # exact_batch -> 103
            (104, NEAR),         # near_index -> 1 (9/11 shingle overlap)
        ],
    )
    return index, new


def test_decisions(spark, tiny):
    index, new = tiny
    # materialize_tags=True runs the checkpointed exact-tag plan that
    # the auto rule only picks past 64 MB of batch input.
    for materialize in (None, True):
        out = {
            r["doc_id"]: r
            for r in incremental_dedup(new, index, threshold=0.5,
                                       n_perm=64, n_bands=32,
                                       materialize_tags=materialize)
            .collect()
        }
        assert len(out) == 5
        assert out[101]["decision"] == "exact_index"
        assert out[101]["matched_id"] == 1
        assert out[101]["jaccard"] == 1.0
        assert out[102]["decision"] == "keep"
        assert out[102]["matched_id"] is None
        assert out[102]["jaccard"] is None
        # min-id batch keeper survives (keep: its text is nowhere in the
        # index), the other copy is dropped against the keeper
        assert out[103]["decision"] == "keep"
        assert out[105]["decision"] == "exact_batch"
        assert out[105]["matched_id"] == 103
        assert out[105]["jaccard"] == 1.0
        assert out[104]["decision"] == "near_index"
        assert out[104]["matched_id"] == 1
        assert 0.5 <= out[104]["jaccard"] < 1.0


def test_exact_index_takes_precedence_over_batch(spark):
    # both docs collide with the index AND with each other: both must be
    # exact_index (never exact_batch), matched to the min index id
    index = _mkdocs(spark, [(7, WORDS), (4, WORDS)])
    new = _mkdocs(spark, [(201, WORDS), (202, WORDS)])
    out = {r["doc_id"]: r for r in
           incremental_dedup(new, index, n_perm=64).collect()}
    assert out[201]["decision"] == "exact_index"
    assert out[202]["decision"] == "exact_index"
    assert out[201]["matched_id"] == 4
    assert out[202]["matched_id"] == 4


def test_materialized_index_signatures_identical(spark, tiny, sf_dir):
    index, new = tiny
    sigs = minhash_signatures(index, n_perm=64)
    inline = incremental_dedup(new, index, threshold=0.5, n_perm=64,
                               n_bands=32).collect()
    mat = incremental_dedup(new, index, threshold=0.5, n_perm=64,
                            n_bands=32, index_signatures=sigs).collect()
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(inline, key=key) == sorted(mat, key=key)


def test_cross_candidates_never_pair_index_side(spark):
    # three identical index docs + one identical new doc: the cross
    # generator must emit only (new, index) pairs, never index x index
    index = _mkdocs(spark, [(1, WORDS), (2, WORDS), (3, WORDS)])
    new = _mkdocs(spark, [(101, WORDS)])
    cands = lsh_candidate_pairs_cross(
        minhash_signatures(new, n_perm=64),
        minhash_signatures(index, n_perm=64),
        n_bands=16, n_perm=64,
    ).collect()
    assert {r["doc_a"] for r in cands} == {101}
    assert {r["doc_b"] for r in cands} == {1, 2, 3}


def test_empty_batch_and_empty_index(spark, tiny):
    index, new = tiny
    empty = _mkdocs(spark, [])
    assert incremental_dedup(empty, index, n_perm=64).count() == 0
    out = incremental_dedup(new, empty, n_perm=64).collect()
    # nothing can match an empty index: only batch-internal exacts
    decisions = {r["doc_id"]: r["decision"] for r in out}
    assert decisions[105] == "exact_batch"
    assert all(
        d in ("keep", "exact_batch") for d in decisions.values()
    )


def test_null_text_docs_are_kept_and_exact_deduped(spark):
    """NULL-text docs must not silently vanish (r4 ADVICE): md5(NULL)
    is NULL and NULL never equi-joins, so the exact stage keys on the
    null-safe sentinel digest instead.  NULL-text docs are mutual exact
    duplicates; the output stays one row per new doc."""
    index = _mkdocs(spark, [(1, WORDS), (2, None)])
    new = _mkdocs(spark, [(101, None),    # exact_index -> 2 (both NULL)
                          (102, WORDS),   # exact_index -> 1
                          (103, None)])   # exact_index -> 2
    out = {r["doc_id"]: r for r in
           incremental_dedup(new, index, n_perm=64).collect()}
    assert len(out) == 3  # one row per new doc, NULLs included
    assert out[101]["decision"] == "exact_index"
    assert out[101]["matched_id"] == 2
    assert out[103]["decision"] == "exact_index"
    assert out[102]["matched_id"] == 1

    # no NULL in the index: min-id NULL doc is the batch keeper, the
    # other collapses onto it as exact_batch
    idx2 = _mkdocs(spark, [(1, WORDS)])
    out2 = {r["doc_id"]: r for r in
            incremental_dedup(new, idx2, n_perm=64).collect()}
    assert len(out2) == 3
    assert out2[101]["decision"] == "keep"
    assert out2[103]["decision"] == "exact_batch"
    assert out2[103]["matched_id"] == 101


def test_null_text_streaming_twin_agrees(spark, tmp_path):
    """Batch and streaming twins must make the same NULL-text exact
    decisions (they diverged before the null-safe digest)."""
    from s2_geometry_rust_spark.streaming import streaming_index_dedup

    index = _mkdocs(spark, [(1, WORDS), (2, None)])
    stream_docs = spark.createDataFrame(
        [(101, None), (102, WORDS)], "doc_id long, text string"
    ).withColumn(
        "event_time",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
    )
    src = str(tmp_path / "null_dedup_src")
    stream_docs.write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = streaming_index_dedup(stream, index, threshold=0.5, n_perm=64)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("null_dedup_stream")
        .option("checkpointLocation", str(tmp_path / "null_dedup_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["doc_id"], r["decision"], r["matched_id"])
        for r in spark.sql("SELECT * FROM null_dedup_stream").collect()
    }
    batch = {
        (r["doc_id"], r["decision"], r["matched_id"])
        for r in incremental_dedup(
            stream_docs.drop("event_time"), index, n_perm=64
        ).collect()
        if r["decision"] == "exact_index"
    }
    assert batch == {(101, "exact_index", 2), (102, "exact_index", 1)}
    assert streamed == batch


def test_contract_fixture_exercises_all_branches(spark, sf_dir):
    from contract.engine_queries import incremental_dedup_q

    out = incremental_dedup_q(spark, sf_dir).collect()
    kinds = {r["decision"] for r in out}
    assert kinds == {"keep", "near_index", "exact_index", "exact_batch"}
    # one row per batch doc, ids unique
    ids = [r["doc_id"] for r in out]
    assert len(ids) == len(set(ids))


def test_incremental_clusters_equal_full_recompute(spark, sf_dir):
    """CC(star(G_old) U E_new) == CC(G_old U E_new): the incremental
    labels must be IDENTICAL to duplicate_clusters over the full
    corpus — checked on the fixture with a different split than the
    contract query uses (doc_id parity)."""
    from s2_geometry_rust_spark.operators.dedup import (
        duplicate_clusters,
        incremental_duplicate_clusters,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = F.col("doc_id")
    index, batch = docs.filter(k % 2 == 0), docs.filter(k % 2 == 1)
    labels_old = duplicate_clusters(
        index, threshold=0.5, n_bands=32
    ).select("doc_id", "cluster_id")
    inc = incremental_duplicate_clusters(
        batch, index, labels_old, threshold=0.5, n_bands=32
    )
    full = duplicate_clusters(docs, threshold=0.5, n_bands=32)
    a = {(r["doc_id"], r["cluster_id"], r["cluster_size"])
         for r in inc.collect()}
    b = {(r["doc_id"], r["cluster_id"], r["cluster_size"])
         for r in full.collect()}
    assert a == b
    # the incremental path must actually merge across the boundary
    # somewhere for the test to mean anything
    cross = [t for t in a if t[2] > 1]
    assert cross


def test_ivf_assign_delta_matches_brute_and_is_shuffle_free(spark, sf_dir):
    """Delta assignment == brute numpy argmin on the exact grid, d2
    self-verifies, and the executed plan has ZERO exchanges (scan ->
    Arrow pass only)."""
    import numpy as np

    from s2_geometry_rust_spark.operators.similarity import (
        _coarse_assign_int,
        _int_grid,
        ivf_assign_delta,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    split = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < "8"
    index, delta = emb.filter(split), emb.filter(~split)
    out = ivf_assign_delta(delta, index, n_centroids=8)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    rows = out.collect()
    crows = index.orderBy("vec_id").limit(8).collect()
    cids = np.array([r["vec_id"] for r in crows])
    coarse = _int_grid(np.array([r["embedding"] for r in crows], np.float64))
    drows = delta.collect()
    g = _int_grid(np.array([r["embedding"] for r in drows], np.float64))
    pos = _coarse_assign_int(g, coarse)
    want = {
        int(r["vec_id"]): (int(cids[p]), int(((v - coarse[p]) ** 2).sum()))
        for r, p, v in zip(drows, pos, g)
    }
    assert len(rows) == len(want)
    for r in rows:
        cid, d2 = want[r["vec_id"]]
        assert r["centroid_id"] == cid and r["d2"] == d2


def test_embedding_drift_exact_sums(spark):
    from s2_geometry_rust_spark.operators.similarity import embedding_drift

    old = spark.createDataFrame(
        [(1, [1.0, -2.5e-6]), (2, [3.0, 0.5e-6])],
        "vec_id long, embedding array<double>",
    )
    new = spark.createDataFrame(
        [(3, [2.0, 1.5e-6])], "vec_id long, embedding array<double>"
    )
    out = {r["dim"]: r for r in embedding_drift(old, new).collect()}
    # dim 0: sums 1e6 + 3e6 = 4e6 old, 2e6 new
    assert out[0]["sum_old_micro"] == 4_000_000
    assert out[0]["sum_new_micro"] == 2_000_000
    assert out[0]["mean_old_micro"] == 2_000_000.0
    assert out[0]["drift_micro"] == 0.0
    # dim 1: half-away rounding — -2.5 -> -3, 0.5 -> 1, 1.5 -> 2
    assert out[1]["sum_old_micro"] == -3 + 1
    assert out[1]["sum_new_micro"] == 2
    assert out[1]["n_old"] == 2 and out[1]["n_new"] == 1
