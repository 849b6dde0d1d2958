"""Streaming dedup: watermark-bounded exact and simhash dedup match
the batch key definitions on the same data."""

from pyspark.sql import functions as F

from s2_geometry_rust_spark.streaming import (
    streaming_exact_dedup,
    streaming_simhash_dedup,
)


def _doc_rows(n_docs=120, n_distinct=30):
    texts = [
        f"document number {i} with some shared words the a of and body"
        for i in range(n_distinct)
    ]
    return [(i, texts[i % n_distinct]) for i in range(n_docs)]


def _run_stream(spark, tmp_path, build, name):
    docs = spark.createDataFrame(
        _doc_rows(), "doc_id long, text string"
    ).withColumn("event_time", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")))
    src = str(tmp_path / f"{name}_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = build(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"{name}_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return docs, spark.sql(f"SELECT * FROM {name}").toPandas()


def test_streaming_exact_dedup_one_per_content(spark, tmp_path):
    docs, got = _run_stream(
        spark, tmp_path, lambda s: streaming_exact_dedup(s), "exact_dedup_stream"
    )
    want_keys = {
        r["k"] for r in docs.select(F.md5("text").alias("k")).distinct().collect()
    }
    assert set(got["text_md5"]) == want_keys
    assert len(got) == len(want_keys)  # exactly one survivor per content


def test_streaming_simhash_dedup_matches_batch_keys(spark, tmp_path):
    docs, got = _run_stream(
        spark, tmp_path, lambda s: streaming_simhash_dedup(s), "simhash_dedup_stream"
    )
    from s2_geometry_rust_spark.operators.dedup import simhash_signatures

    want_keys = {
        r["simhash"] for r in simhash_signatures(docs).distinct().collect()
    }
    assert set(got["simhash"]) == want_keys
    assert len(got) == len(want_keys)


def test_streaming_sessions_match_batch(spark, tmp_path):
    """Session spans + aggregates from F.session_window equal the batch
    sessionizer's (same gap, boundary included: both use the half-open
    >= convention)."""
    import pandas as pd
    from s2_geometry_rust_spark.operators.events import session_stats
    from s2_geometry_rust_spark.streaming import streaming_session_stats

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    src = str(tmp_path / "sess_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        streaming_session_stats(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.sql("SELECT * FROM sess_stream")
        .toPandas()
        .sort_values(["user_id", "start_ts"])
        .reset_index(drop=True)
    )
    want = (
        session_stats(ev)
        .select("user_id", "n_events", "start_ts", "end_ts", "sum_cents")
        .toPandas()
        .sort_values(["user_id", "start_ts"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_corpus_filter_matches_batch_gates(spark, tmp_path):
    """Survivor key set == batch gates (quality + lang + exact dedup by
    content hash) on the same documents."""
    from s2_geometry_rust_spark.operators.text import (
        with_lang_id,
        with_quality_score,
    )
    from s2_geometry_rust_spark.streaming.dedup import (
        streaming_corpus_filter,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn(
            "event_time",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
        )
    )
    src = str(tmp_path / "corpus_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        streaming_corpus_filter(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("corpus_stream")
        .option("checkpointLocation", str(tmp_path / "corpus_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM corpus_stream").toPandas()

    batch = with_lang_id(with_quality_score(spark.read.parquet(src)))
    gated = batch.filter(
        (F.col("quality_score") >= 0.5) & (F.col("lang_pred") == "en")
    ).withColumn("text_md5", F.md5("text"))
    want_keys = {r["text_md5"] for r in gated.select("text_md5").distinct().collect()}
    assert set(got["text_md5"]) == want_keys
    assert len(got) == len(want_keys)  # exactly one survivor per key
    # survivors must individually pass the gates
    assert (got["quality_score"] >= 0.5).all()
    assert (got["lang_pred"] == "en").all()


def test_streaming_index_dedup_matches_batch_twin(spark, tmp_path):
    """Stream-vs-static-index decisions == the batch incremental_dedup
    components on the same data: exact rows == the batch exact_index
    set, near pair rows == the batch verified pair set restricted to
    exact survivors (the documented twin relation).  Checked with the
    whole stream in one micro-batch and with one file per micro-batch,
    so the pair-dedup state carries across batch boundaries."""
    from s2_geometry_rust_spark.operators.dedup import (
        incremental_dedup,
        lsh_candidate_pairs_cross,
        minhash_signatures,
        verify_jaccard,
    )
    from s2_geometry_rust_spark.streaming import streaming_index_dedup

    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    near = "alpha bravo charlie delta echo foxtrot golf hotel india kilo"
    index = spark.createDataFrame(
        [(1, words), (2, "completely different index content here"),
         (3, "another unrelated index document body")],
        "doc_id long, text string",
    )
    rows = [
        (101, words),                              # exact_index
        (102, near),                               # near_index
        (103, "fresh streamed content aardvark"),  # keep (no row)
        (104, words),                              # exact_index too
    ]
    stream_docs = spark.createDataFrame(
        rows, "doc_id long, text string"
    ).withColumn(
        "event_time",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
    )

    def run_stream(name, n_files):
        src = str(tmp_path / f"{name}_src")
        for part in range(n_files):
            stream_docs.filter(F.col("doc_id") % n_files == part).coalesce(
                1).write.parquet(src, mode="append")
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = streaming_index_dedup(stream, index, threshold=0.5, n_perm=64)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        n_batches = sum(1 for p in q.recentProgress if p["numInputRows"])
        got = spark.sql(f"SELECT * FROM {name}").toPandas()
        return n_batches, {
            (r.doc_id, r.decision, r.matched_id, round(r.jaccard, 12))
            for r in got.itertuples()
        }

    _, streamed = run_stream("idx_dedup_stream", 1)
    n_batches, streamed_multi = run_stream("idx_dedup_stream_multi", 2)
    # batch twin: exact_index rows from incremental_dedup; near pairs
    # from the verified candidate set over exact survivors
    batch = incremental_dedup(
        stream_docs.drop("event_time"), index, threshold=0.5, n_perm=64,
        n_bands=32,
    ).collect()
    want = {
        (r["doc_id"], "exact_index", r["matched_id"], 1.0)
        for r in batch if r["decision"] == "exact_index"
    }
    surv_ids = [r["doc_id"] for r in batch
                if r["decision"] in ("keep", "near_index")]
    surv = stream_docs.filter(F.col("doc_id").isin(surv_ids)).drop("event_time")
    verified = verify_jaccard(
        lsh_candidate_pairs_cross(
            minhash_signatures(surv, n_perm=64),
            minhash_signatures(index, n_perm=64),
            n_bands=32, n_perm=64,
        ),
        surv.unionByName(index), 0.5,
    ).collect()
    want |= {
        (r["doc_a"], "near_index", r["doc_b"], round(r["jaccard"], 12))
        for r in verified
    }
    assert streamed == want
    assert 103 not in {t[0] for t in streamed}  # keep == absence
    assert n_batches == 2
    assert streamed_multi == want


def test_streaming_index_dedup_within_stream_duplicates(spark, tmp_path):
    """Pin the documented superset semantics: within-stream exact
    duplicates (absent from the index) EACH emit their own near rows —
    the batch operator would route the non-keeper to exact_batch, but
    the streaming operator has no batch boundary (compose
    streaming_exact_dedup upstream to collapse copies first)."""
    from s2_geometry_rust_spark.streaming import streaming_index_dedup

    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    near = "alpha bravo charlie delta echo foxtrot golf hotel india kilo"
    index = spark.createDataFrame([(1, words)], "doc_id long, text string")
    stream_docs = spark.createDataFrame(
        [(201, near), (202, near)], "doc_id long, text string"
    ).withColumn(
        "event_time",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
    )
    src = str(tmp_path / "dup_src")
    stream_docs.write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = (
        streaming_index_dedup(stream, index, threshold=0.5, n_perm=64)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dup_stream")
        .option("checkpointLocation", str(tmp_path / "dup_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM dup_stream").collect()
    # BOTH identical copies near-match index doc 1 (batch would emit
    # one near + one exact_batch)
    assert {(r["doc_id"], r["decision"], r["matched_id"]) for r in got} == {
        (201, "near_index", 1),
        (202, "near_index", 1),
    }
