"""End-to-end training-corpus materialization (operators/corpus.py):
gate semantics plus bit-for-bit oracle compare at sf0.001."""

import pytest
from pyspark.sql import functions as F

from s2_geometry_rust_spark.operators.corpus import build_training_corpus


def test_gates_are_conjunctive(spark):
    rows = [
        # survives everything
        (1, "the cat and the dog of a house went to the market in town "
            "and the story kept going on and on with the usual words of it"),
        # exact duplicate of 1 -> dropped (keeper is doc 1)
        (5, "the cat and the dog of a house went to the market in town "
            "and the story kept going on and on with the usual words of it"),
        # junk: no stopwords, heavy punctuation -> quality fail
        (2, "!!! ??? *** ### $$$ %%% ^^^ &&&"),
        # German markers -> language fail
        (3, "der hund und die katze und das haus und der baum und die "
            "sonne und das wasser und der berg und die stadt"),
        (4, ""),  # empty -> quality fail
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = build_training_corpus(docs, quality_min=0.5, langs=("en",))
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {1}
    assert got[1]["lang_pred"] == "en"
    assert got[1]["quality_score"] >= 0.5


def test_near_dup_cluster_keeps_one(spark):
    base = ("the quick brown fox jumps over the lazy dog and then the "
            "fox runs far away into the deep green forest of the north "
            "while the dog sleeps by the warm fire in the house")
    rows = [
        (10, base),
        (11, base + " extra tail words here"),   # near-dup of 10
        (12, "a completely different story about the sea and the ships "
             "of the old captain and the storms of the winter and the "
             "long nights of the sailors in the cold water"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = build_training_corpus(docs, quality_min=0.3, langs=("en",))
    ids = {r["doc_id"] for r in out.collect()}
    assert 10 in ids and 12 in ids
    assert 11 not in ids  # swallowed by cluster keeper


def test_corpus_filter_oracle_sf0001(spark, sf_dir):
    duckdb = pytest.importorskip("duckdb")
    from contract import oracle
    from contract.engine_queries import QUERIES

    got = (
        QUERIES["corpus_filter"](spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = (
        con.execute(oracle.corpus_filter_sql())
        .fetchdf()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["doc_id"].to_numpy() == want["doc_id"].to_numpy()).all()
    assert (got["n_tokens"].to_numpy() == want["n_tokens"].to_numpy()).all()
    assert (
        got["quality_score"].to_numpy() == want["quality_score"].to_numpy()
    ).all()
    assert (got["lang_pred"] == want["lang_pred"]).all()
