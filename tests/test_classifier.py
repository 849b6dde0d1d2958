"""Hashed-linear classifier (operators/text.py:classifier_scores):
derived-weights vs weights-table parity, edge cases, hash/weight
kernel parity with the numpy reference, and the zero-shuffle plan
contract of the derived path.
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from s2_geometry_rust_spark.operators.text import (  # noqa: E402
    _bucket_weight,
    classifier_scores,
)

N_BUCKETS = 1 << 20


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox"),
        (1, "THE QUICK brown FOX"),       # case-folds to doc 0's tokens
        (2, ""),                           # zero tokens
        (3, "   "),                        # whitespace only -> zero tokens
        (4, "one"),
        (5, "répétition über tokens"),     # non-ASCII bytes through FNV
        (6, "a a a a a a a a"),            # repeated token, occurrence sum
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _expected_logit(text: str) -> int:
    from s2_geometry_rust_spark.operators.dedup import _word_hash

    toks = [t for t in text.lower().split() if t]
    hs = np.array([_word_hash(t) for t in toks], dtype=np.uint64)
    if not len(hs):
        return 0
    return int(_bucket_weight(hs % np.uint64(N_BUCKETS)).sum())


def test_derived_scores_match_reference(spark, docs):
    got = {
        r["doc_id"]: (r["n_tokens"], r["logit"], r["label"])
        for r in classifier_scores(docs).collect()
    }
    assert set(got) == set(range(7))
    for doc_id, text in [(0, "the quick brown fox"), (2, ""), (3, "   "),
                         (4, "one"), (5, "répétition über tokens"),
                         (6, "a a a a a a a a")]:
        logit = _expected_logit(text)
        n = len([t for t in text.lower().split() if t])
        assert got[doc_id] == (n, logit, int(logit > 0)), doc_id
    # case folding: doc 1 == doc 0
    assert got[1] == got[0]


def test_weights_table_path_parity(spark, docs):
    """A weights table enumerating the derived function over the
    corpus's buckets must reproduce the derived path exactly."""
    from s2_geometry_rust_spark.operators.dedup import _word_hash

    words = set()
    for r in docs.collect():
        words.update(t for t in (r["text"] or "").lower().split() if t)
    buckets = sorted(
        {int(np.uint64(_word_hash(w)) % np.uint64(N_BUCKETS)) for w in words}
    )
    w_arr = _bucket_weight(np.array(buckets, dtype=np.uint64))
    weights = spark.createDataFrame(
        list(zip(buckets, w_arr.tolist())), ["bucket", "weight"]
    )
    a = sorted(classifier_scores(docs).collect())
    b = sorted(classifier_scores(docs, weights=weights).collect())
    assert a == b


def test_missing_bucket_weight_is_zero(spark, docs):
    """Tokens hashing to buckets absent from the weights table score 0
    (untrained features), not null."""
    empty = docs.sparkSession.createDataFrame([], "bucket long, weight long")
    out = {r["doc_id"]: (r["logit"], r["label"])
           for r in classifier_scores(docs, weights=empty).collect()}
    assert all(v == (0, 0) for v in out.values())


def test_derived_path_plan_zero_shuffle(spark, docs):
    plan = (
        classifier_scores(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1


def test_classifier_gate_exact_threshold_and_ties(spark):
    import math

    rows = [(i, f"word{i} " * (i + 1)) for i in range(10)]
    # duplicate the text of doc 7 so its logit ties across 3 docs
    rows += [(100, rows[7][1]), (101, rows[7][1])]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    from s2_geometry_rust_spark.operators.text import classifier_gate

    got = classifier_gate(docs, keep_rate=0.5).toPandas()

    logits = {d: _expected_logit(t) for d, t in rows}
    n = len(rows)
    k = math.ceil(0.5 * n)
    thr = sorted(logits.values(), reverse=True)[k - 1]
    want = {d for d, v in logits.items() if v >= thr}
    assert set(got["doc_id"]) == want
    assert (got["thr"] == thr).all()
    assert len(got) >= k  # ties at the threshold are all kept


def test_classifier_gate_keep_rate_1_keeps_all(spark, docs):
    from s2_geometry_rust_spark.operators.text import classifier_gate

    got = classifier_gate(docs, keep_rate=1.0).toPandas()
    assert len(got) == docs.count()


def test_classifier_gate_materialize_identical(spark, docs):
    from s2_geometry_rust_spark.operators.text import classifier_gate

    a = sorted(map(tuple, classifier_gate(docs, 0.5).collect()))
    b = sorted(map(tuple, classifier_gate(docs, 0.5, materialize=True).collect()))
    assert a == b


def test_oracle_logit_is_int64():
    """The DuckDB oracles' logit (and the gate's threshold) is an exact
    int64 like the engine's: DuckDB's sum(BIGINT) is a HUGEINT, which
    pandas receives as float64 unless the oracle casts it back."""
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    from contract.oracle import (
        classifier_gate_sql,
        classifier_scores_sql,
    )

    texts = ["the quick brown fox", "", "one", "a a a a", "x y"]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({
        "doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}))
    scores = con.execute(classifier_scores_sql(N_BUCKETS)).fetchdf()
    assert scores["logit"].dtype == np.int64
    assert dict(zip(scores["doc_id"], scores["logit"])) == {
        i: _expected_logit(t) for i, t in enumerate(texts)}
    gate = con.execute(classifier_gate_sql(0.6, N_BUCKETS)).fetchdf()
    assert gate["logit"].dtype == np.int64
    assert gate["thr"].dtype == np.int64
