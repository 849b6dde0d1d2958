"""Approximate-nearest-neighbor similarity search over an embedding
column (array<float>).

- ``cosine_topk_bruteforce``: exact baseline.  Query vectors are
  broadcast as one numpy matrix; candidates stream through a
  mapInPandas doing a blocked GEMM (numpy dot) and emitting per-batch
  local top-k, then a cheap global window finishes — the candidate
  table is scanned once, never shuffled.
- ``lsh_bucketed_topk``: the scale path — random-hyperplane signatures
  (SimHash for cosine), candidates restricted to matching buckets,
  exact re-rank inside the bucket.  Recall is tunable by n_tables.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_TOPK_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("cosine", DoubleType()),
    ]
)


# Documented driver bound for the BASELINE operators that collect a
# query/vector side to the driver (~10^5 rows at dim 64 ≈ 50 MB).
# Past it the distributed twins are the only sound plan, so the
# operators REFUSE instead of silently OOMing a 1000-executor job's
# driver.  ``guard_driver_bound`` takes the bound as a parameter so
# tests can lower it (test_pipeline_ops patches its default).
MAX_DRIVER_SIDE_ROWS = 100_000


class DriverBoundExceeded(RuntimeError):
    """A driver-bounded baseline operator was handed a side larger than
    its documented bound; the message names the distributed twin."""


def guard_driver_bound(df: DataFrame, op: str, twin: str,
                       bound: int = MAX_DRIVER_SIDE_ROWS) -> None:
    """Count (at most bound+1 rows of) the side about to be collected;
    raise DriverBoundExceeded past the bound with a pointer to the
    fully distributed twin operator."""
    n = df.limit(bound + 1).count()
    if n > bound:
        raise DriverBoundExceeded(
            f"{op}: driver-collected side exceeds the documented bound "
            f"({n - 1}+ rows > {bound}).  This operator is the exact "
            f"driver-bounded BASELINE; use the distributed twin "
            f"{twin} at this scale."
        )


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str):
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return ids, mat / norms[:, None]


def cosine_topk_bruteforce(queries: DataFrame, candidates: DataFrame,
                           k: int, id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           query_id_col: str | None = None,
                           exclude_self: bool = True) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.
    Output: (query_id, neighbor_id, rank, cosine).

    BASELINE OPERATOR — the *query* side is collected and broadcast as
    one numpy matrix: keep it driver-sized (~<= 10^5 queries at dim 64
    ≈ 50 MB; the candidate side streams once, never shuffles, and is
    unbounded).  Past that bound use ``ivf_topk`` or
    ``lsh_bucketed_topk``, the fully-distributed scale twins.
    """
    spark = queries.sparkSession
    guard_driver_bound(queries, "cosine_topk_bruteforce",
                       "ivf_topk / lsh_bucketed_topk")
    q_ids, q_mat = _collect_matrix(queries, query_id_col or id_col, vec_col)
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    def local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qm = bc.value
        for b in batches:
            if len(b) == 0:
                continue
            c_ids = b[id_col].to_numpy(np.int64)
            cm = np.array(list(b[vec_col]), dtype=np.float64)
            n = np.linalg.norm(cm, axis=1)
            n[n == 0] = 1.0
            cm /= n[:, None]
            cos = qm @ cm.T  # (n_q, n_c)
            if exclude_self:
                cos[ids[:, None] == c_ids[None, :]] = -np.inf
            kk = min(k, cos.shape[1])
            idx = np.argpartition(-cos, kk - 1, axis=1)[:, :kk]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, kk),
                    "neighbor_id": c_ids[idx.ravel()],
                    "cosine": np.take_along_axis(cos, idx, axis=1).ravel(),
                }
            )

    local_topk = candidates.mapInPandas(local, _TOPK_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        local_topk.filter(F.col("cosine") > -np.inf)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def with_hyperplane_buckets(df: DataFrame, n_bits: int = 16, dim: int = 64,
                            n_tables: int = 8, seed: int = 42,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Multi-table random-hyperplane LSH: one row per (vector, table)
    with that table's sign-pattern bucket — deterministic given seed.
    Recall amplifies as 1-(1-p^n_bits)^n_tables."""
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables, n_bits, dim))
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(planes)
    schema = StructType(
        df.schema.fields
        + [StructField("table", IntegerType()), StructField("bucket", LongType())]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl = bc.value
        n_t, n_b, _ = pl.shape
        weights = (np.uint64(1) << np.arange(n_b, dtype=np.uint64))
        for b in batches:
            if len(b) == 0:
                continue
            m = np.array(list(b[vec_col]), dtype=np.float64)
            outs = []
            for t in range(n_t):
                bits = (m @ pl[t].T) > 0
                bucket = (bits.astype(np.uint64) * weights[None, :]).sum(axis=1)
                o = b.copy()
                o["table"] = t
                # table id folded into bucket so a single join key works
                o["bucket"] = (
                    bucket + (np.uint64(t) << np.uint64(48))
                ).view(np.int64)
                outs.append(o)
            yield pd.concat(outs, ignore_index=True)

    return df.mapInPandas(gen, schema)


def rademacher_signs(n_tables: int, n_bits: int, dim: int,
                     seed: int) -> np.ndarray:
    """Deterministic ±1 hyperplane matrix shared by the engine and the
    DuckDB oracle (which embeds it as sign-string literals)."""
    rng = np.random.default_rng(seed)
    return (rng.integers(0, 2, size=(n_tables, n_bits, dim)) * 2 - 1).astype(
        np.int64
    )


def with_rademacher_buckets(df: DataFrame, n_bits: int = 8, dim: int = 64,
                            n_tables: int = 4, seed: int = 42,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Multi-table sign-LSH with ±1 (Rademacher) hyperplanes over the
    1e-6 integer grid: each bucket bit is the sign of an EXACT int64
    dot product, so an independent SQL engine replays the buckets
    bit-for-bit (no float-summation-order hazard at the sign
    threshold, unlike the Gaussian planes).  For cosine LSH the ±1
    family has the same collision-probability guarantee as Gaussian
    planes up to constants (sign patterns are what matter), so this is
    a production-grade variant, not a test-only shim."""
    signs = rademacher_signs(n_tables, n_bits, dim, seed)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(signs)
    schema = StructType(
        df.schema.fields
        + [StructField("table", IntegerType()),
           StructField("bucket", LongType())]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl = bc.value
        n_t, n_b, _ = pl.shape
        weights = np.uint64(1) << np.arange(n_b, dtype=np.uint64)
        for b in batches:
            if len(b) == 0:
                continue
            v = np.array(list(b[vec_col]), dtype=np.float64) * 1e6
            vi = np.trunc(v + np.copysign(0.5, v)).astype(np.int64)
            outs = []
            for t in range(n_t):
                bits = (vi @ pl[t].T) > 0
                bucket = (bits.astype(np.uint64) * weights[None, :]).sum(axis=1)
                o = b.copy()
                o["table"] = t
                o["bucket"] = (
                    bucket + (np.uint64(t) << np.uint64(48))
                ).view(np.int64)
                outs.append(o)
            yield pd.concat(outs, ignore_index=True)

    return df.mapInPandas(gen, schema)


def lsh_bucketed_topk(queries: DataFrame, candidates: DataFrame, k: int,
                      n_bits: int = 12, dim: int = 64, n_tables: int = 8,
                      seed: int = 42,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      planes: str = "gaussian") -> DataFrame:
    """ANN: equi-join on (table, bucket), exact cosine re-rank over the
    union of bucket collisions.  One shuffle keyed by the folded bucket
    id (cardinality n_tables * 2^n_bits — high, so no skew hot-spot).
    ``planes="rademacher"`` switches to the exact-integer sign-LSH
    variant whose buckets a SQL oracle can replay bit-for-bit."""
    bucketer = (with_rademacher_buckets if planes == "rademacher"
                else with_hyperplane_buckets)
    qb = bucketer(queries, n_bits, dim, n_tables, seed, id_col, vec_col)
    cb = bucketer(candidates, n_bits, dim, n_tables, seed, id_col, vec_col)
    q = qb.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"), "bucket"
    )
    c = cb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), "bucket"
    )
    joined = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    dot = F.aggregate(
        F.zip_with("_qv", "_cv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nq = F.sqrt(F.aggregate("_qv", F.lit(0.0), lambda a, v: a + v * v))
    nc = F.sqrt(F.aggregate("_cv", F.lit(0.0), lambda a, v: a + v * v))
    joined = joined.withColumn("cosine", dot / (nq * nc))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


_PAIRS_SCHEMA = StructType(
    [
        StructField("vec_a", LongType()),
        StructField("vec_b", LongType()),
        StructField("cos_nano", LongType()),
    ]
)


def cosine_threshold_pairs_exact(vectors: DataFrame, threshold: float,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding") -> DataFrame:
    """Exact embedding near-dup pairs: every (a < b) with cosine >=
    threshold, cosine emitted nano-scaled so the DuckDB oracle compares
    exactly.  The full vector set is broadcast as one numpy matrix and
    each partition GEMMs its block against it — the EXACT BASELINE
    (O(n^2) work, one broadcast): production near-dup at corpus scale
    uses cosine_threshold_pairs_lsh below."""
    spark = vectors.sparkSession
    guard_driver_bound(vectors, "cosine_threshold_pairs",
                       "cosine_threshold_pairs_lsh")
    ids, mat = _collect_matrix(vectors, id_col, vec_col)
    bc = spark.sparkContext.broadcast((ids, mat))

    def block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_m = bc.value
        for b in batches:
            if len(b) == 0:
                continue
            c_ids = b[id_col].to_numpy(np.int64)
            cm = np.array(list(b[vec_col]), dtype=np.float64)
            n = np.linalg.norm(cm, axis=1)
            n[n == 0] = 1.0
            cm /= n[:, None]
            cos = cm @ all_m.T  # (block, n_all)
            keep = (cos >= threshold) & (c_ids[:, None] < all_ids[None, :])
            bi, ai = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "vec_a": c_ids[bi],
                    "vec_b": all_ids[ai],
                    "cos_nano": np.round(cos[bi, ai] * 1e9).astype(np.int64),
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(block, _PAIRS_SCHEMA)


def cosine_threshold_pairs_lsh(vectors: DataFrame, threshold: float,
                               n_bits: int = 12, dim: int = 64,
                               n_tables: int = 8, seed: int = 42,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               max_per_bucket: int | None = None
                               ) -> DataFrame:
    """Scale-path embedding near-dup: random-hyperplane LSH candidate
    pairs (equi-join on the folded (table, bucket) key — one wide
    shuffle on high-cardinality keys) verified with exact cosine.
    Approximate recall (1-(1-p^bits)^tables); pytest-checked.

    ``max_per_bucket`` (opt-in) bounds the classic LSH blowup: a
    bucket flooded with B near-identical embeddings emits B^2/2
    candidates; the cap keeps each (table, bucket)'s first
    ``max_per_bucket`` vectors in deterministic md5 order, bounding
    the worst bucket at cap^2/2 with documented recall loss (a pair
    is missed only if dropped from EVERY shared bucket — see
    dedup.lsh_candidate_pairs and
    tests/test_pipeline_round4.py::test_lsh_max_per_bucket_bounds_flood)."""
    b = with_hyperplane_buckets(vectors, n_bits, dim, n_tables, seed,
                                id_col, vec_col)
    if max_per_bucket is not None:
        w = Window.partitionBy("bucket").orderBy(
            F.md5(F.col(id_col).cast("string")), id_col
        )
        b = (
            b.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= max_per_bucket)
            .drop("_r")
        )
    left = b.select(F.col(id_col).alias("vec_a"),
                    F.col(vec_col).alias("_va"), "bucket")
    right = b.select(F.col(id_col).alias("vec_b"),
                     F.col(vec_col).alias("_vb"), "bucket")
    cand = (
        left.join(right, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    dot = F.aggregate(
        F.zip_with("_va", "_vb", lambda a, c: a.cast("double") * c),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate("_va", F.lit(0.0),
                            lambda a, v: a + v.cast("double") * v))
    nb = F.sqrt(F.aggregate("_vb", F.lit(0.0),
                            lambda a, v: a + v.cast("double") * v))
    cos = dot / (na * nb)
    return (
        cand.withColumn("_cos", cos)
        .filter(F.col("_cos") >= threshold)
        .select(
            "vec_a", "vec_b",
            F.round(F.col("_cos") * 1e9, 0).cast("long").alias("cos_nano"),
        )
    )


def _spherical_kmeans(mat: np.ndarray, n_centroids: int, seed: int,
                      n_iters: int = 10) -> np.ndarray:
    """Driver-side Lloyd on the unit sphere (cosine metric): the IVF
    coarse quantizer is a tiny model trained once on a bounded sample —
    the standard IVF design (train small, assign distributed)."""
    rng = np.random.default_rng(seed)
    n_centroids = min(n_centroids, len(mat))
    centers = mat[rng.choice(len(mat), size=n_centroids, replace=False)]
    for _ in range(n_iters):
        assign = np.argmax(mat @ centers.T, axis=1)
        for j in range(n_centroids):
            members = mat[assign == j]
            if len(members):
                c = members.sum(axis=0)
                nrm = np.linalg.norm(c)
                if nrm > 0:
                    centers[j] = c / nrm
    return centers


def ivf_topk(queries: DataFrame, candidates: DataFrame, k: int,
             n_centroids: int = 64, n_probe: int = 8, seed: int = 42,
             train_sample: int = 20000,
             id_col: str = "vec_id", vec_col: str = "embedding",
             init: str = "kmeans") -> DataFrame:
    """IVF approximate nearest neighbors: spherical-kmeans coarse
    quantizer, inverted lists as a bucket column, queries probe their
    n_probe nearest centroids, exact cosine re-rank inside the probed
    lists.

    Scale shape: training touches a bounded sample (one small collect);
    assignment is embarrassingly parallel (one matmul per Arrow batch);
    the only shuffle is the bucket equi-join whose build side per
    bucket is n_candidates/n_centroids on average — tune n_centroids ~
    sqrt(n) to bound list length.  Recall grows with n_probe
    (pytest-checked vs the brute-force baseline).

    init="kmeans" (default) trains the quantizer with seeded Lloyd
    rounds; init="first_ids" pins the centroids to the normalized
    vectors of ``id_col < n_centroids`` — a deterministic rule an
    independent engine can replay exactly, used by the ann_ivf contract
    query so the whole IVF pipeline (assign -> probe -> re-rank) is
    verifiable against a pure-SQL oracle."""
    spark = queries.sparkSession
    frac_df = candidates.select(id_col, vec_col)
    if init == "first_ids":
        sample_rows = (frac_df.filter(F.col(id_col) < n_centroids)
                       .orderBy(id_col).collect())
    else:
        sample_rows = frac_df.limit(train_sample).collect()
    mat = np.array([r[1] for r in sample_rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    nrm[nrm == 0] = 1.0
    mat /= nrm[:, None]
    centers = mat if init == "first_ids" else _spherical_kmeans(
        mat, n_centroids, seed
    )
    bc = spark.sparkContext.broadcast(centers)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cs = bc.value
        for b in batches:
            if len(b) == 0:
                continue
            m = np.array(list(b[vec_col]), dtype=np.float64)
            n = np.linalg.norm(m, axis=1)
            n[n == 0] = 1.0
            m /= n[:, None]
            b = b.copy()
            b["bucket"] = np.argmax(m @ cs.T, axis=1).astype(np.int32)
            yield b

    from pyspark.sql.types import IntegerType as _I

    c_schema = StructType(candidates.select(id_col, vec_col).schema.fields
                          + [StructField("bucket", _I())])
    c_assigned = candidates.select(id_col, vec_col).mapInPandas(
        assign, c_schema
    ).select(F.col(id_col).alias("neighbor_id"),
             F.col(vec_col).alias("_cv"), "bucket")

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cs = bc.value
        np_probe = min(n_probe, len(cs))
        for b in batches:
            if len(b) == 0:
                continue
            m = np.array(list(b[vec_col]), dtype=np.float64)
            n = np.linalg.norm(m, axis=1)
            n[n == 0] = 1.0
            m /= n[:, None]
            sims = m @ cs.T
            top = np.argpartition(-sims, np_probe - 1, axis=1)[:, :np_probe]
            out = b.loc[b.index.repeat(np_probe)].copy()
            out["bucket"] = top.ravel().astype(np.int32)
            yield out

    q_schema = StructType(queries.select(id_col, vec_col).schema.fields
                          + [StructField("bucket", _I())])
    q_probed = queries.select(id_col, vec_col).mapInPandas(
        probe, q_schema
    ).select(F.col(id_col).alias("query_id"),
             F.col(vec_col).alias("_qv"), "bucket")

    joined = (
        q_probed.join(c_assigned, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    dot = F.aggregate(
        F.zip_with("_qv", "_cv", lambda a, c: a.cast("double") * c),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    nq = F.sqrt(F.aggregate("_qv", F.lit(0.0),
                            lambda a, v: a + v.cast("double") * v))
    nc = F.sqrt(F.aggregate("_cv", F.lit(0.0),
                            lambda a, v: a + v.cast("double") * v))
    joined = joined.withColumn("cosine", dot / (nq * nc))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _int_grid(mat: np.ndarray) -> np.ndarray:
    """float32 embeddings -> exact 1e-6 integer grid (widen to f64
    first — exact; round half-AWAY to match DuckDB/Spark round(), the
    label_centroids/ann_lsh convention)."""
    scaled = mat.astype(np.float64) * 1e6
    return np.trunc(scaled + np.copysign(0.5, scaled)).astype(np.int64)


def pq_topk(queries: DataFrame, candidates: DataFrame, k: int,
            m: int = 8, ks: int = 16,
            id_col: str = "vec_id", vec_col: str = "embedding",
            init: str = "first_ids", seed: int = 42,
            train_sample: int = 20000, rerank: int = 0) -> DataFrame:
    """Product-quantization ANN (IVFADC's compressed-domain half):
    vectors are split into ``m`` subvectors, each encoded as the id of
    its nearest codebook centroid (asymmetric-distance L2 on the exact
    1e-6 integer grid), and queries scan the CODES — ``m`` bytes per
    vector instead of the raw floats — summing per-subspace lookup
    tables.  Output: (query_id, neighbor_id, rank, adist) — approximate
    L2 top-k, self excluded, ties broken by neighbor_id.

    Scale story: this is the 100-TB embeddings path — a 64-dim float32
    table scans at 256 B/vector raw but 8 B/vector as codes (32x less
    I/O), and the scan is one mapInPandas pass with per-partition
    top-(k+1) pruning, no shuffle of vectors, one tiny final window
    over <= partitions*(k+1) rows per query.  The query side is
    collected to build the LUTs (bounded by construction, same
    documented contract as cosine_topk_bruteforce / ivf_topk).

    Everything (grid, squared distances, argmin tie-break = lowest
    centroid id, adist sums, rank tie-break) is exact integer
    arithmetic, so the init="first_ids" codebook pipeline replays
    bit-for-bit in pure SQL (oracle.ann_pq_sql).  init="kmeans" trains
    per-subspace Lloyd codebooks on a bounded sample — the production
    default, recall-tested in pytest."""
    spark = queries.sparkSession
    if init == "first_ids":
        rows = (candidates.filter(F.col(id_col) < ks)
                .orderBy(id_col).select(id_col, vec_col).collect())
        cb = _int_grid(np.array([r[1] for r in rows], dtype=np.float64))
    else:
        rows = (candidates.select(id_col, vec_col)
                .limit(train_sample).collect())
        raw = np.array([r[1] for r in rows], dtype=np.float64)
        dim0 = raw.shape[1]
        sub0 = dim0 // m
        rng = np.random.default_rng(seed)
        books_f = []
        for j in range(m):
            sv = raw[:, j * sub0:(j + 1) * sub0]
            ctr = sv[rng.choice(len(sv), size=min(ks, len(sv)),
                                replace=False)]
            for _ in range(10):
                d = ((sv[:, None, :] - ctr[None]) ** 2).sum(axis=2)
                a = d.argmin(axis=1)
                for c in range(len(ctr)):
                    mem = sv[a == c]
                    if len(mem):
                        ctr[c] = mem.mean(axis=0)
            books_f.append(ctr)
        cb = _int_grid(np.concatenate(books_f, axis=1))
    dim = cb.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = cb.reshape(len(cb), m, sub).transpose(1, 0, 2)  # (m, ks, sub)
    bc_books = spark.sparkContext.broadcast(books)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B = bc_books.value  # (m, ks, sub)
        for b in batches:
            if len(b) == 0:
                continue
            v = _int_grid(np.array(list(b[vec_col]), dtype=np.float64))
            v = v.reshape(len(b), m, sub)
            # (n, m, ks): exact integer squared L2 per subspace
            d = ((v[:, :, None, :] - B[None]) ** 2).sum(axis=3)
            codes = d.argmin(axis=2)  # first occurrence = lowest cid
            yield pd.DataFrame(
                {id_col: b[id_col],
                 "codes": list(codes.astype(np.int32))}
            )

    codes_df = candidates.select(id_col, vec_col).mapInPandas(
        encode, f"{id_col} long, codes array<int>"
    )

    guard_driver_bound(queries, "pq_topk", "ivf_topk")
    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qv = _int_grid(np.array([r[1] for r in qrows], dtype=np.float64))
    qv = qv.reshape(len(qids), m, sub)
    luts = ((qv[:, :, None, :] - books[None]) ** 2).sum(axis=3)
    bc_luts = spark.sparkContext.broadcast((qids, luts))
    keep = k + 1  # +1 survives self-exclusion under the total order

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qi, lt = bc_luts.value  # lt: (nq, m, ks)
        jj = np.arange(m)[None, :]
        for b in batches:
            if len(b) == 0:
                continue
            c = np.stack(b["codes"].to_numpy())  # (n, m)
            nbr = b[id_col].to_numpy(np.int64)
            # gather -> (nq, n, m) -> adist (nq, n)
            ad = lt[:, jj, c].sum(axis=2)
            kk = min(keep, ad.shape[1])
            # total order (adist, neighbor_id): lexsort, primary last
            for q in range(len(qi)):
                order = np.lexsort((nbr, ad[q]))[:kk]
                yield pd.DataFrame(
                    {"query_id": qi[q],
                     "neighbor_id": nbr[order],
                     "adist": ad[q][order]}
                )

    partials = codes_df.mapInPandas(
        scan, "query_id long, neighbor_id long, adist long"
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    pq_ranked = (
        partials.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
    )
    if not rerank:
        return pq_ranked.filter(F.col("rank") <= k).select(
            "query_id", "neighbor_id", "rank", "adist"
        )
    # ADC + exact re-rank (the production IVFADC shape): the compressed
    # scan shortlists top-``rerank`` per query, then ONLY those rows
    # fetch their raw vectors (broadcast-able equi-join on the id) for
    # an exact integer-grid L2 — all JVM expressions, no extra Python.
    grid = lambda c: F.transform(
        c, lambda x: F.round(x.cast("double") * 1e6, 0).cast("long")
    )
    qvecs = spark.createDataFrame(
        [(int(i), [float(x) for x in vec]) for i, vec in
         zip(qids, np.array([r[1] for r in qrows], dtype=np.float64))],
        f"query_id long, _qv array<double>",
    )
    short = pq_ranked.filter(F.col("rank") <= rerank).select(
        "query_id", "neighbor_id"
    )
    cand_v = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    exact = (
        short.join(cand_v, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn(
            "dist2",
            F.aggregate(
                F.zip_with(grid("_qv"), grid("_cv"),
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"), lambda acc, v: acc + v,
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy("dist2", "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist2")
    )


def _coarse_assign_int(grid_mat: np.ndarray, coarse: np.ndarray) -> np.ndarray:
    """Exact-integer nearest coarse centroid: argmin of squared L2 on
    the 1e-6 grid, ties -> lowest centroid id (numpy argmin keeps the
    first occurrence).

    Uses the |a|^2 + |c|^2 - 2 a.c expansion with int64 matmul — every
    term is exact integer arithmetic (components <= ~1e6, dots <=
    ~6.4e13 << 2^63), identical to the naive (a-c)^2 sum, but memory is
    O(chunk * nc) instead of O(n * nc * dim) so executor batches with
    thousands of centroids don't blow up."""
    out = np.empty(len(grid_mat), dtype=np.int32)
    c2 = (coarse * coarse).sum(axis=1)  # (nc,)
    ct = coarse.T
    for lo in range(0, len(grid_mat), 4096):
        g = grid_mat[lo:lo + 4096]
        d = (g * g).sum(axis=1)[:, None] + c2[None, :] - 2 * (g @ ct)
        out[lo:lo + 4096] = d.argmin(axis=1)
    return out


def _pq_code_dists_int(res: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Exact int64 per-subspace squared L2 of residuals vs codebooks:
    res (n, m, sub), books (m, ks, sub) -> (n, m, ks).  Same matmul
    expansion as _coarse_assign_int (exact; avoids the O(n*m*ks*sub)
    broadcast tensor)."""
    r2 = (res * res).sum(axis=2)                      # (n, m)
    b2 = (books * books).sum(axis=2)                  # (m, ks)
    # (n, m, ks) int64 einsum — exact integer dot products
    cross = np.einsum("nms,mks->nmk", res, books)
    return r2[:, :, None] + b2[None, :, :] - 2 * cross


def ivfpq_topk(queries: DataFrame, candidates: DataFrame, k: int,
               n_coarse: int = 16, n_probe: int = 4,
               m: int = 8, ks: int = 16,
               id_col: str = "vec_id", vec_col: str = "embedding",
               init: str = "first_ids", seed: int = 42,
               train_sample: int = 20000, rerank: int = 0) -> DataFrame:
    """IVF-PQ approximate nearest neighbors — the full FAISS IVFADC
    shape: an inverted-file coarse quantizer partitions the vectors,
    each vector stores PQ codes of its RESIDUAL (vector minus its
    coarse centroid), and queries scan only their ``n_probe`` probed
    lists with per-(query, list) asymmetric-distance lookup tables.
    Completes the engine's ANN family: ivf_topk (lists, raw re-rank),
    pq_topk (codes, full scan) -> ivfpq_topk (lists + residual codes).

    Scale story (the 100-TB embeddings path): candidates are touched
    once to encode (one mapInPandas matmul pass), then live as
    (bucket, m int8-sized codes) — the scan reads codes only, prunes to
    probed buckets BEFORE any distance math, keeps per-batch top-(k+1)
    per query, and the only cross-partition traffic is the tiny
    partial-top-k union.  No shuffle of raw vectors anywhere.  The
    query side is collected to build LUTs (bounded by construction —
    same documented contract as cosine_topk_bruteforce / pq_topk).

    init="first_ids" is the oracle-replayable path: coarse centroids
    are the 1e-6-grid vectors of ``id_col < n_coarse``; the PQ
    codebook entries are the RESIDUALS of ids in
    [n_coarse, n_coarse + ks) (so they are non-degenerate — a coarse
    centroid's own residual is zero).  Every distance is exact integer
    squared L2 with argmin ties -> lowest id, so oracle.ann_ivfpq_sql
    replays assignment, codes, probing, LUTs and ranks bit-for-bit.
    init="kmeans" trains both quantizers on a bounded sample (Lloyd,
    seeded) — the production default, recall-tested in pytest.

    Output: (query_id, neighbor_id, rank, adist) — approximate L2
    top-k over probed lists, self excluded, ties by neighbor_id.
    """
    spark = queries.sparkSession
    if init == "first_ids":
        rows = (candidates.filter(F.col(id_col) < n_coarse + ks)
                .orderBy(id_col).select(id_col, vec_col).collect())
        grid_all = _int_grid(np.array([r[1] for r in rows],
                                      dtype=np.float64))
        coarse = grid_all[:n_coarse]
        cb_src = grid_all[n_coarse:n_coarse + ks]
        # codebook entries are residuals of ids [n_coarse, n_coarse+ks)
        cb_assign = _coarse_assign_int(cb_src, coarse)
        cb = cb_src - coarse[cb_assign]
    else:
        rows = (candidates.select(id_col, vec_col)
                .limit(train_sample).collect())
        raw = _int_grid(np.array([r[1] for r in rows], dtype=np.float64))
        rng = np.random.default_rng(seed)
        coarse = raw[rng.choice(len(raw), size=min(n_coarse, len(raw)),
                                replace=False)].copy()
        for _ in range(10):
            a = _coarse_assign_int(raw, coarse)
            for c in range(len(coarse)):
                mem = raw[a == c]
                if len(mem):
                    coarse[c] = np.round(mem.mean(axis=0)).astype(np.int64)
        res = raw - coarse[_coarse_assign_int(raw, coarse)]
        cb = res[rng.choice(len(res), size=min(ks, len(res)),
                            replace=False)].copy()
        # per-subspace Lloyd on residuals
        dim0 = raw.shape[1]
        sub0 = dim0 // m
        for j in range(m):
            sl = slice(j * sub0, (j + 1) * sub0)
            sv = res[:, sl]
            ctr = cb[:, sl].astype(np.float64)
            for _ in range(10):
                d = ((sv[:, None, :] - ctr[None]) ** 2).sum(axis=2)
                a = d.argmin(axis=1)
                for c in range(len(ctr)):
                    mem = sv[a == c]
                    if len(mem):
                        ctr[c] = mem.mean(axis=0)
            cb[:, sl] = np.round(ctr).astype(np.int64)
    dim = coarse.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = cb.reshape(len(cb), m, sub).transpose(1, 0, 2)  # (m, ks, sub)
    bc_model = spark.sparkContext.broadcast((coarse, books))

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C, B = bc_model.value
        for b in batches:
            if len(b) == 0:
                continue
            v = _int_grid(np.array(list(b[vec_col]), dtype=np.float64))
            bkt = _coarse_assign_int(v, C)
            r = (v - C[bkt]).reshape(len(b), m, sub)
            codes = _pq_code_dists_int(r, B).argmin(axis=2)  # ties -> lowest
            yield pd.DataFrame(
                {id_col: b[id_col], "bucket": bkt,
                 "codes": list(codes.astype(np.int32))}
            )

    codes_df = candidates.select(id_col, vec_col).mapInPandas(
        encode, f"{id_col} long, bucket int, codes array<int>"
    )

    guard_driver_bound(queries, "ivfpq_topk", "ivf_topk")
    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qv = _int_grid(np.array([r[1] for r in qrows], dtype=np.float64))
    np_probe = min(n_probe, len(coarse))
    qd = ((qv * qv).sum(axis=1)[:, None]
          + (coarse * coarse).sum(axis=1)[None, :] - 2 * (qv @ coarse.T))
    # stable n_probe smallest with ties -> lowest cid: lexsort on
    # (cid implicit ascending, distance primary)
    probed = np.argsort(qd, axis=1, kind="stable")[:, :np_probe]
    # LUTs: (nq, n_probe, m, ks) — residual of q against EACH probed
    # centroid vs the shared residual codebook
    qres = qv[:, None, :] - coarse[probed]           # (nq, np, dim)
    qres = qres.reshape(len(qids) * np_probe, m, sub)
    luts = _pq_code_dists_int(qres, books).reshape(
        len(qids), np_probe, m, len(books[0]))
    bc_luts = spark.sparkContext.broadcast((qids, probed, luts))
    keep = k + 1

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qi, pr, lt = bc_luts.value
        jj = np.arange(m)[None, :]
        for b in batches:
            if len(b) == 0:
                continue
            bkt = b["bucket"].to_numpy(np.int32)
            c = np.stack(b["codes"].to_numpy())
            nbr = b[id_col].to_numpy(np.int64)
            for q in range(len(qi)):
                for pi in range(pr.shape[1]):
                    mask = bkt == pr[q, pi]
                    if not mask.any():
                        continue
                    ad = lt[q, pi][jj, c[mask]].sum(axis=1)
                    nb = nbr[mask]
                    kk = min(keep, len(nb))
                    order = np.lexsort((nb, ad))[:kk]
                    yield pd.DataFrame(
                        {"query_id": qi[q], "neighbor_id": nb[order],
                         "adist": ad[order]}
                    )

    partials = codes_df.mapInPandas(
        scan, "query_id long, neighbor_id long, adist long"
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    ranked = (
        partials.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
    )
    if not rerank:
        return ranked.filter(F.col("rank") <= k).select(
            "query_id", "neighbor_id", "rank", "adist"
        )
    # IVFADC exact completion: the compressed scan shortlists
    # top-``rerank`` per query; only those rows fetch raw vectors
    # (broadcast-able id equi-join) for an exact integer-grid L2 —
    # same pattern as pq_topk(rerank=...), all JVM expressions.
    grid = lambda c: F.transform(
        c, lambda x: F.round(x.cast("double") * 1e6, 0).cast("long")
    )
    qvecs = spark.createDataFrame(
        [(int(i), [float(x) for x in r[1]]) for i, r in zip(qids, qrows)],
        "query_id long, _qv array<double>",
    )
    short = ranked.filter(F.col("rank") <= rerank).select(
        "query_id", "neighbor_id"
    )
    cand_v = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    exact = (
        short.join(cand_v, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn(
            "dist2",
            F.aggregate(
                F.zip_with(grid("_qv"), grid("_cv"),
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"), lambda acc, v: acc + v,
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy("dist2", "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist2")
    )


def semantic_dedup(vectors: DataFrame, threshold: float = 0.85,
                   n_clusters: int = 16,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   init: str = "first_ids", seed: int = 42,
                   train_sample: int = 20000) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    cluster the vectors with a coarse quantizer, then inside each
    cluster drop every vector that is >= ``threshold`` cosine-similar
    to a LOWER-id vector of the same cluster.  The keep-lowest-id rule
    makes the survivor set deterministic and engine-independent (the
    published SemDeDup keeps an arbitrary representative per similar
    group; any fixed total order is equivalent for dedup purposes).

    Exactness: vectors live on the 1e-6 integer grid; `cos >= t` is
    decided as `dot > 0 AND dot^2 * t_den^2 >= t_num^2 * na * nb` with
    t = t_num/t_den exactly (t_num = round(t*10^4), t_den = 10^4) —
    dot and the squared norms are int64-exact (<= ~3e14 for 64-dim
    unit-ish vectors), and the squared comparison runs in
    decimal(38,0) (Spark) / HUGEINT (DuckDB oracle), so membership is
    bit-exact across engines: oracle.semantic_dedup_sql replays the
    clustering AND every pair decision.

    Scale shape: assignment is one mapInPandas matmul pass (no
    shuffle); the pair join is an equi-join on the cluster id — work
    is sum over clusters of |c|^2, bounded by choosing n_clusters ~
    sqrt(n) (and the cluster sizes are load-balanced keys, not a
    broadcast).  The 100-TB variant would cap per-cluster membership
    like near_dup_pairs' max_per_bucket; at contract scale the exact
    quadratic-within-cluster is the point (it IS SemDeDup).

    Output: (vec_id, cluster, kept) for every input row.
    """
    spark = vectors.sparkSession
    if init == "first_ids":
        rows = (vectors.filter(F.col(id_col) < n_clusters)
                .orderBy(id_col).select(id_col, vec_col).collect())
        coarse = _int_grid(np.array([r[1] for r in rows],
                                    dtype=np.float64))
    else:
        rows = (vectors.select(id_col, vec_col)
                .limit(train_sample).collect())
        raw = _int_grid(np.array([r[1] for r in rows], dtype=np.float64))
        rng = np.random.default_rng(seed)
        coarse = raw[rng.choice(len(raw), size=min(n_clusters, len(raw)),
                                replace=False)].copy()
        for _ in range(10):
            a = _coarse_assign_int(raw, coarse)
            for c in range(len(coarse)):
                mem = raw[a == c]
                if len(mem):
                    coarse[c] = np.round(mem.mean(axis=0)).astype(np.int64)
    bc = spark.sparkContext.broadcast(coarse)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # ONE pass emits (id, cluster, grid, norm^2): grid ints and the
        # int64 norm sum are exactly the JVM transform/aggregate values
        # (same round-half-away grid, same exact integer sums), and
        # computing them here avoids a second scan + an id equi-join of
        # the full table against its own assignment — at 100 TB that
        # join is a full-table shuffle for nothing
        C = bc.value
        for b in batches:
            if len(b) == 0:
                continue
            v = _int_grid(np.array(list(b[vec_col]), dtype=np.float64))
            yield pd.DataFrame({id_col: b[id_col],
                                "cluster": _coarse_assign_int(v, C),
                                "_g": list(v),
                                "_n": (v * v).sum(axis=1)})

    g = vectors.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, cluster int, _g array<long>, _n long"
    )
    assigned = g.select(id_col, "cluster")
    t_num = int(round(threshold * 10_000))
    a = g.select(F.col(id_col).alias("_ida"), F.col("cluster"),
                 F.col("_g").alias("_ga"), F.col("_n").alias("_na"))
    b = g.select(F.col(id_col).alias("_idb"), F.col("cluster"),
                 F.col("_g").alias("_gb"), F.col("_n").alias("_nb"))
    dot = F.aggregate(F.zip_with("_ga", "_gb", lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda acc, v: acc + v)
    dec = lambda c: c.cast("decimal(38,0)")
    sim = (F.col("_dot") > 0) & (
        dec(F.col("_dot")) * dec(F.col("_dot"))
        * F.lit(10_000).cast("decimal(38,0)")
        * F.lit(10_000).cast("decimal(38,0)")
        >= F.lit(t_num).cast("decimal(38,0)")
        * F.lit(t_num).cast("decimal(38,0)")
        * dec(F.col("_na")) * dec(F.col("_nb"))
    )
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("_ida") < F.col("_idb"))
        .withColumn("_dot", dot)
        .filter(sim)
        .select(F.col("_idb").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        assigned.join(dropped, id_col, "left")
        .select(id_col, "cluster",
                F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"))
    )


def ivf_assign_delta(new_vectors: DataFrame, index_vectors: DataFrame,
                     n_centroids: int = 16,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Incremental IVF index maintenance: assign ONLY a delta batch of
    vectors to the FROZEN coarse quantizer of an existing index — the
    embedding-side sibling of incremental_dedup / apply_tile_count_delta
    (a 10^12-vector index retrains its quantizer on a schedule, never
    per delta batch).

    Centroids are the ``n_centroids`` smallest-id index vectors on the
    exact 1e-6 integer grid (the deterministic first-ids rule the
    ann_ivfpq oracle family replays); assignment is argmin of EXACT
    integer squared L2 (ties -> lowest centroid id) via the same
    |a|^2+|c|^2-2a.c int64-matmul kernel as ivfpq_topk — bit-exact, no
    float margin anywhere.

    Output: (vec_id, centroid_id, d2) — d2 the exact integer squared
    grid distance to the chosen centroid, making each row
    self-verifying; inverted-list-size maintenance composes as a
    groupBy(centroid_id) count merged with the old sizes exactly like
    apply_tile_count_delta.

    Scale shape: the quantizer is a bounded driver collect of
    ``n_centroids`` rows (checkpointed once in production); each delta
    batch is ONE broadcast of nc x 64 ints plus an embarrassingly
    parallel Arrow matmul pass — no shuffle at all (plan: scan ->
    mapInPandas).
    """
    spark = new_vectors.sparkSession
    crows = (
        index_vectors.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_centroids)
        .collect()
    )
    cids = np.array([r[0] for r in crows], dtype=np.int64)
    coarse = _int_grid(np.array([r[1] for r in crows], dtype=np.float64))
    bc = spark.sparkContext.broadcast((cids, coarse))

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("centroid_id", LongType()),
            StructField("d2", LongType()),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, cs = bc.value
        for b in batches:
            if len(b) == 0:
                continue
            g = _int_grid(np.array(list(b[vec_col]), dtype=np.float64))
            pos = _coarse_assign_int(g, cs)
            diff = g - cs[pos]
            d2 = (diff * diff).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": b[id_col].to_numpy(np.int64),
                    "centroid_id": ids[pos],
                    "d2": d2,
                }
            )

    return new_vectors.select(id_col, vec_col).mapInPandas(assign, schema)


def embedding_drift(old_vectors: DataFrame, new_vectors: DataFrame,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-dimension embedding distribution drift between two corpus
    generations — the monitor a continuously-ingesting embedding
    pipeline runs per batch (a mean shift on a dimension flags encoder
    version skew, modality mix change, or a broken upstream transform
    long before retrieval quality visibly degrades).

    Per dimension: row counts, exact int64 sums of the 1e-6-grid
    components (the label_centroids convention — order-independent,
    overflow-safe to ~9e12 rows at unit-norm), means as single
    int->double divisions, and the mean delta (one subtraction of two
    exactly-determined doubles) — everything bit-exact across engines.

    Scale shape: one partial-aggregated groupBy per side keyed by
    dim (64 keys; the partial sums collapse map-side so the exchange
    carries n_partitions x 64 rows), one tiny join.
    """
    def per_dim(df: DataFrame, tag: str) -> DataFrame:
        e = df.select(
            F.posexplode(vec_col).alias("dim", "x")
        ).select(
            "dim",
            F.expr(
                "CAST(x AS DOUBLE) * 1e6"
            ).alias("sx"),
        ).select(
            "dim",
            # half-away rounding on the exact f64-widened product —
            # trunc(x + copysign(.5, x)), the label_centroids rule
            # (double -> BIGINT cast truncates toward zero)
            F.expr(
                "CAST(sx + CASE WHEN sx >= 0 THEN 0.5 "
                "ELSE -0.5 END AS BIGINT)"
            ).alias("micro"),
        )
        return e.groupBy("dim").agg(
            F.count("*").alias(f"n_{tag}"),
            F.sum("micro").alias(f"sum_{tag}_micro"),
        )

    o = per_dim(old_vectors, "old")
    n = per_dim(new_vectors, "new")
    mean_old = F.col("sum_old_micro").cast("double") / F.col("n_old").cast(
        "double"
    )
    mean_new = F.col("sum_new_micro").cast("double") / F.col("n_new").cast(
        "double"
    )
    return o.join(n, "dim").select(
        "dim", "n_old", "n_new", "sum_old_micro", "sum_new_micro",
        mean_old.alias("mean_old_micro"),
        mean_new.alias("mean_new_micro"),
        (mean_new - mean_old).alias("drift_micro"),
    )
