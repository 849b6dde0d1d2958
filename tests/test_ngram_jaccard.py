"""Exact n-gram Jaccard near-dup (PPJoin-style prefix filtering).

Two claims under test:
1. Losslessness of the prefix filter — the engine output equals a
   brute-force all-pairs Jaccard computed independently in python, at
   several thresholds including ones where ceil(t*sz) is float-touchy.
2. The prefix really prunes (the candidate self-join is smaller than
   all-pairs) — otherwise the scale story is vacuous.
"""

from __future__ import annotations

import itertools

import pandas as pd
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _brute_pairs(df: pd.DataFrame, n: int, threshold: float):
    sets = {}
    for _, row in df.iterrows():
        toks = [t for t in str(row["text"]).lower().split() if t]
        grams = {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }
        if grams:
            sets[int(row["doc_id"])] = grams
    out = []
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter == 0:
            continue
        jac = inter / (len(sets[a]) + len(sets[b]) - inter)
        if jac >= threshold:
            out.append((a, b, jac))
    return sorted(out)


def test_prefix_filter_lossless_vs_bruteforce(spark):
    from s2_geometry_rust_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pdf = docs.select("doc_id", "text").toPandas()
    # t=0.8: 0.8*sz is inexact in binary for most sz — exercises the
    # -1e-9 ceil slack (unsound direction would SHORTEN the prefix).
    # materialize_grams=True runs the checkpointed-grams plan that the
    # auto rule only picks past 64 MB of input; it must agree too.
    for threshold in (0.3, 0.5, 0.8):
        want = _brute_pairs(pdf, 3, threshold)
        for materialize in (None, True):
            got = sorted(
                (int(r["doc_a"]), int(r["doc_b"]), float(r["jaccard"]))
                for r in ngram_jaccard_pairs(
                    docs, threshold=threshold, materialize_grams=materialize
                )
                .toPandas()
                .to_dict("records")
            )
            assert [(a, b) for a, b, _ in got] == [
                (a, b) for a, b, _ in want
            ]
            for (_, _, gj), (_, _, wj) in zip(got, want):
                assert abs(gj - wj) < 1e-12


def test_prefix_filter_adversarial_sizes(spark):
    """Docs sized so ceil(t*sz) hits exact and near-exact integer
    boundaries (sz = 5, 10, 16, 20 at t=0.8), duplicated with one-token
    edits straddling the threshold."""
    from s2_geometry_rust_spark.operators.dedup import ngram_jaccard_pairs

    rows = []
    doc_id = 0
    for sz in (7, 12, 18, 22):  # token counts -> gram set sizes sz-2
        base = " ".join(f"w{doc_id}x{i}" for i in range(sz))
        edited = " ".join(
            (f"EDIT{doc_id}" if i == sz // 2 else f"w{doc_id}x{i}")
            for i in range(sz)
        )
        rows.append((doc_id, base))
        rows.append((doc_id + 1, base))       # exact dup: jaccard 1.0
        rows.append((doc_id + 2, edited))     # near dup
        doc_id += 3
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    docs = spark.createDataFrame(pdf)
    for threshold in (0.4, 0.5, 0.8):
        got = sorted(
            (int(r["doc_a"]), int(r["doc_b"]))
            for r in ngram_jaccard_pairs(docs, threshold=threshold)
            .select("doc_a", "doc_b")
            .toPandas()
            .to_dict("records")
        )
        want = [(a, b) for a, b, _ in _brute_pairs(pdf, 3, threshold)]
        assert got == want


def test_prefix_actually_prunes(spark):
    """The candidate set from prefixes must be strictly smaller than the
    11k+ all-pairs sharing any 3-gram at sf0.01 — i.e. the filter does
    real work, it's not accidentally a full self-join."""
    from pyspark.sql import Window

    from s2_geometry_rust_spark.operators.vocab import _ngrams_of, _tokens

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    grams = (
        docs.withColumn("_toks", _tokens("text"))
        .select(
            F.col("doc_id"),
            F.explode(F.array_distinct(_ngrams_of(F.col("_toks"), 3))).alias(
                "ngram"
            ),
        )
    )
    all_pairs = (
        grams.alias("a")
        .join(grams.alias("b"), "ngram")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    threshold = 0.5
    df_counts = grams.groupBy("ngram").agg(F.count("*").alias("df"))
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("sz"))
    w = Window.partitionBy("doc_id").orderBy("df", "ngram")
    pref = (
        grams.join(df_counts, "ngram")
        .withColumn("rk", F.row_number().over(w))
        .join(sizes, "doc_id")
        .filter(
            F.col("rk")
            <= F.col("sz")
            - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
            + 1
        )
        .select("doc_id", "ngram")
    )
    cand = (
        pref.select(F.col("doc_id").alias("doc_a"), "ngram")
        .join(pref.select(F.col("doc_id").alias("doc_b"), "ngram"), "ngram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .count()
    )
    assert cand < all_pairs / 3  # measured: ~25-ish vs 11,533
    assert cand >= 25  # must still cover every true pair
