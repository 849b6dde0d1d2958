"""snapshot_diff and lm_bigram_novelty semantics."""

from __future__ import annotations

import pyspark.sql.functions as F

from s2_geometry_rust_spark.operators.corpus import snapshot_diff
from s2_geometry_rust_spark.operators.vocab import lm_bigram_novelty


def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "same text"), (2, "old version"), (3, "going away")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same text"), (2, "new version"), (4, "brand new")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in snapshot_diff(old, new).collect()}
    assert len(out) == 4
    assert out[1]["status"] == "unchanged"
    assert out[2]["status"] == "changed"
    assert out[3]["status"] == "removed" and out[3]["new_md5"] is None
    assert out[4]["status"] == "added" and out[4]["old_md5"] is None


def test_snapshot_diff_contract_covers_all_statuses(spark, sf_dir):
    from contract.engine_queries import snapshot_diff_q

    st = {r["status"] for r in snapshot_diff_q(spark, sf_dir).collect()}
    assert st == {"added", "removed", "changed", "unchanged"}


def test_lm_bigram_novelty_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c"),       # bigrams: "a b", "b c"
            (2, "a b d"),       # bigrams: "a b", "b d"
            (3, "a b a b"),     # "a b" x2, "b a" x1
            (4, "solo"),        # no bigrams
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in lm_bigram_novelty(docs, min_df=3).collect()}
    # df("a b") = 3 docs, everything else df = 1
    assert out[1]["n_bigrams"] == 2 and out[1]["n_known"] == 1
    assert out[1]["sum_df"] == 3 + 1
    assert out[1]["novelty_rate"] == 0.5
    assert out[2]["n_known"] == 1
    # multiplicity kept: doc 3 has 3 occurrences, 2 of them known
    assert out[3]["n_bigrams"] == 3 and out[3]["n_known"] == 2
    assert out[3]["sum_df"] == 3 + 3 + 1
    assert out[4]["n_bigrams"] == 0
    assert out[4]["novelty_rate"] is None and out[4]["mean_df"] is None


def test_lm_bigram_novelty_case_folds(spark):
    docs = spark.createDataFrame(
        [(1, "Alpha Beta"), (2, "alpha beta")], "doc_id long, text string"
    )
    out = lm_bigram_novelty(docs, min_df=2).collect()
    # case-folded tokenization: both docs share the bigram, df = 2
    assert all(r["n_known"] == 1 for r in out)


def test_apply_tile_count_delta_equals_recompute(spark, sf_dir):
    """IVM algebra == full recompute on real fixture points, including
    moved points (appearing in both delta sides) and tiles that drain
    to zero (must vanish, as a recompute would never emit them)."""
    from s2_geometry_rust_spark.functions import cell_id_from_xyz
    from s2_geometry_rust_spark.operators.tiling import (
        apply_tile_count_delta,
        tile_counts,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("k")
    )
    k = F.col("k")

    def pts(df, kk):
        return df.select(
            F.col("k").alias("point_id"),
            ((kk * 37 % 997) / 498.5 - 1.0).alias("x"),
            ((kk * 73 % 991) / 495.5 - 1.0).alias("y"),
            ((kk * 101 % 983) / 491.5 - 1.0).alias("z"),
        ).withColumn("cell_id", cell_id_from_xyz("x", "y", "z"))

    # old = everything at base coords; new = drop k%7==0, move k%7==1
    old_counts = tile_counts(pts(cust, k), 8)
    removed = pts(cust.filter((k % 7 == 0) | (k % 7 == 1)), k)
    added = pts(cust.filter(k % 7 == 1), k + 123457)
    inc = apply_tile_count_delta(old_counts, removed, added, 8)

    new_pts = pts(cust.filter(k % 7 > 1), k).unionByName(
        pts(cust.filter(k % 7 == 1), k + 123457)
    )
    full = tile_counts(new_pts, 8)
    a = {r["tile_id"]: (r["tile_token"], r["n_points"]) for r in inc.collect()}
    b = {r["tile_id"]: (r["tile_token"], r["n_points"]) for r in full.collect()}
    assert a == b
    assert len(a) > 0
    assert all(n > 0 for _, n in a.values())


def test_collocations_lift_and_rank(spark):
    from s2_geometry_rust_spark.operators.vocab import collocations

    # "new york" always together; "the cat" / "the dog" share a left
    # margin, diluting their lift
    docs = spark.createDataFrame(
        [
            (1, "new york new york new york"),
            (2, "the cat the dog the cat"),
            (3, "new york the dog"),
        ],
        "doc_id long, text string",
    )
    rows = collocations(docs, min_count=2, k=10).collect()
    by_bg = {r["bigram"]: r for r in rows}
    # counts: bigram stream includes cross-boundary pairs within a doc
    ny = by_bg["new york"]
    assert ny["n_ab"] == 4
    # lift exact: n_ab * N / (n_left("new") * n_right("york"))
    assert ny["lift"] == ny["n_ab"] * _total_bigrams(docs) / (
        ny["n_left"] * ny["n_right"]
    )
    ranks = [r["rank"] for r in rows]
    assert ranks == sorted(ranks) and len(set(ranks)) == len(ranks)
    lifts = [r["lift"] for r in sorted(rows, key=lambda r: r["rank"])]
    assert lifts == sorted(lifts, reverse=True)


def _total_bigrams(docs):
    from s2_geometry_rust_spark.operators.vocab import _ngrams_of, _tokens

    return (
        docs.withColumn("_toks", _tokens("text"))
        .select(F.explode(_ngrams_of(F.col("_toks"), 2)).alias("b"))
        .count()
    )


def test_snapshot_diff_null_text(spark):
    """md5(NULL text) is NULL: presence, not md5-nullness, must drive
    the status — a NULL-text doc in both snapshots is unchanged, in
    one snapshot only it is added/removed, and NULL vs non-NULL text
    is changed (null-safe compare)."""
    old = spark.createDataFrame(
        [(1, None), (2, None), (4, "real text")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, None), (3, None), (4, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert out == {
        1: "unchanged",   # NULL == NULL (null-safe)
        2: "removed",
        3: "added",
        4: "changed",     # text -> NULL
    }
