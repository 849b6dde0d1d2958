"""Streaming deduplication: exact content dedup over a live document
feed with watermark-bounded state.

Batch dedup (operators/dedup.py) answers "what are the duplicate
groups in this corpus"; a live ingest pipeline instead needs "is this
incoming doc a duplicate of anything recent" — per-key state with a
TTL so the state store doesn't grow with the full corpus.  Spark's
``dropDuplicatesWithinWatermark`` is exactly that operator: the first
arrival per key is emitted, later arrivals within the watermark bound
are dropped, and state older than the watermark is evicted.

At scale: state is hash-partitioned by key across executors (same
shuffle shape as a groupBy), size is bounded by
(unique keys per watermark window), not corpus size.  For full-history
exact dedup, run the batch exact_dedup over the accumulated sink
instead — the two share the same md5 key definition, so a streaming
survivor set can be reconciled against the batch keeper set exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def streaming_exact_dedup(doc_stream: DataFrame,
                          ts_col: str = "event_time",
                          watermark: str = "10 minutes",
                          text_col: str = "text") -> DataFrame:
    """First-seen document per content hash within the watermark bound.

    Input: streaming DF with at least (text_col, ts_col).  Output: the
    input rows that survive dedup, plus the ``text_md5`` key column.
    Emits in append mode; state is evicted after ``watermark``.
    """
    s = doc_stream.withColumn("text_md5", F.md5(F.col(text_col)))
    s = s.withWatermark(ts_col, watermark)
    return s.dropDuplicatesWithinWatermark(["text_md5"])


def streaming_simhash_dedup(doc_stream: DataFrame,
                            ts_col: str = "event_time",
                            watermark: str = "10 minutes",
                            text_col: str = "text") -> DataFrame:
    """Near-dup variant: dedup on the 64-bit SimHash of the document
    (identical simhash ⇒ near-identical token multiset).  The simhash
    is the batch operator's own kernel (operators/dedup.simhash_batch),
    applied per Arrow batch on the stream — stateless — followed by the
    same watermark-bounded key dedup."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from ..operators.dedup import simhash_batch

    out_schema = StructType(
        list(doc_stream.schema.fields) + [StructField("simhash", LongType())]
    )

    def add_simhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield b.assign(simhash=simhash_batch(b[text_col]))

    s = doc_stream.mapInPandas(add_simhash, out_schema)
    s = s.withWatermark(ts_col, watermark)
    return s.dropDuplicatesWithinWatermark(["simhash"])


def streaming_corpus_filter(doc_stream: DataFrame, quality_min: float = 0.5,
                            langs: tuple[str, ...] = ("en",),
                            ts_col: str = "event_time",
                            watermark: str = "10 minutes",
                            text_col: str = "text") -> DataFrame:
    """The live-ingest twin of operators/corpus.build_training_corpus:
    quality gate + language gate (stateless, identical column
    definitions to the batch operator) then watermark-bounded exact
    dedup — first arrival per content hash survives.

    Near-dup clustering is inherently corpus-global (connected
    components) and stays a batch job over the accumulated sink; this
    stream applies every gate that is decidable per document or per
    watermark window.  Output rows carry the same metadata columns as
    the batch corpus (n_tokens, quality_score, lang_pred, text_md5).
    """
    from ..operators.text import with_lang_id, with_quality_score

    scored = with_lang_id(with_quality_score(doc_stream))
    gated = scored.filter(
        (F.col("quality_score") >= quality_min)
        & F.col("lang_pred").isin(*langs)
    )
    gated = gated.withColumn("text_md5", F.md5(F.col(text_col)))
    gated = gated.withWatermark(ts_col, watermark)
    return gated.dropDuplicatesWithinWatermark(["text_md5"])




def streaming_index_dedup(doc_stream: DataFrame, index_docs: DataFrame,
                          threshold: float = 0.5, n_perm: int = 128,
                          n_bands: int = 32, shingle_k: int = 3,
                          index_signatures: DataFrame | None = None,
                          ts_col: str = "event_time",
                          watermark: str = "10 minutes",
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Live-ingest twin of operators/dedup.incremental_dedup: decide
    each streamed document against a STATIC indexed corpus.  Every
    join is stream-static (no stream-stream joins); the only state is
    the watermark-bounded (doc_a, doc_b) dedup that collapses a pair
    colliding in several LSH bands to one candidate before the exact
    Jaccard verify (same state shape as streaming_exact_dedup).

    Emits MATCH rows only, append mode (absence == keep — the
    streaming analogue of an anti-join the consumer applies):

    - ``exact_index``: stream-static md5 equi-join against the index
      keeper table (matched_id = min index id, jaccard 1.0);
    - ``near_index``: exact non-matches run the SAME banded LSH
      machinery as the batch operator — signatures via a stateless
      mapInPandas that carries (text, ts) through, band explode,
      stream-static join on (band, bucket) against the banded index
      signatures (materialized once, like the batch
      ``index_signatures`` path), watermark-bounded pair dedup, exact
      Jaccard verify.  One row PER VERIFIED INDEX MATCH: the batch
      operator's min-id reduction is an aggregation (stateful on a
      stream), so downstream either aggregates under a watermark or
      treats any match as a drop signal.

    Twin relation (exact, but mind the survivor definition): the
    streamed near rows are precisely the batch ``verified`` pair set
    over STREAM DOCS WITHOUT AN INDEX EXACT MATCH.  That is a
    SUPERSET of the batch operator's near stage when the stream holds
    within-stream exact duplicates — the batch path sends only each
    md5 group's min-id keeper to the near stage (the rest become
    exact_batch), while this operator has no batch boundary and
    evaluates every non-index-matched doc, so duplicate copies each
    emit their own near rows.  Compose ``streaming_exact_dedup``
    upstream to collapse within-stream copies first, or apply the
    full batch operator per micro-batch via ``foreachBatch`` when
    exact_batch semantics are required per delta batch.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    from ..operators.dedup import (
        _band_signatures,
        _band_struct_col,
        _minhash_matrix,
        _stable_shingle_hashes,
        jaccard_udf,
        minhash_signatures,
        null_safe_text_md5,
    )

    s = doc_stream.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
        F.col(ts_col).alias("_ts"),
        null_safe_text_md5(text_col).alias("tmd5"),
    )
    idx_t = index_docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
        null_safe_text_md5(text_col).alias("tmd5"),
    )
    idx_md5 = idx_t.groupBy("tmd5").agg(F.min("doc_id").alias("idx_match"))

    exact = s.join(idx_md5, "tmd5").select(
        "doc_id",
        F.lit("exact_index").alias("decision"),
        F.col("idx_match").alias("matched_id"),
        F.lit(1.0).alias("jaccard"),
    )

    surv = s.join(idx_md5, "tmd5", "left_anti")
    sig_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", surv.schema["text"].dataType),
            StructField("_ts", surv.schema["_ts"].dataType),
            StructField("sig", ArrayType(LongType())),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            sets = _stable_shingle_hashes(b["text"], shingle_k)
            sig = _minhash_matrix(sets, n_perm)
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"].to_numpy(np.int64),
                    "text": b["text"],
                    "_ts": b["_ts"],
                    "sig": list(sig.view(np.int64)),
                }
            )

    sig_new = surv.select("doc_id", "text", "_ts").mapInPandas(
        gen, sig_schema
    )
    # same banding layout as the batch paths — the shared column
    # builder is what keeps stream/batch bucket assignments identical
    band_arr = _band_struct_col(n_bands, n_perm).alias("bb")
    banded_new = sig_new.select("doc_id", "text", "_ts", band_arr).select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("text_a"),
        "_ts",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    if index_signatures is None:
        index_signatures = minhash_signatures(
            idx_t, "doc_id", "text", n_perm, shingle_k
        )
    banded_idx = _band_signatures(index_signatures, n_bands, n_perm).select(
        F.col("doc_id").alias("doc_b"), "band", "bucket"
    )
    cand = (
        banded_new.join(banded_idx, ["band", "bucket"])
        .select("doc_a", "text_a", "_ts", "doc_b")
        .withWatermark("_ts", watermark)
        .dropDuplicatesWithinWatermark(["doc_a", "doc_b"])
    )
    withb = cand.join(
        idx_t.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")),
        "doc_b",
    )

    _jaccard = jaccard_udf(shingle_k)
    near = (
        withb.select(
            F.col("doc_a").alias("doc_id"),
            F.lit("near_index").alias("decision"),
            F.col("doc_b").alias("matched_id"),
            _jaccard(F.col("text_a"), F.col("text_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return exact.unionByName(near)
