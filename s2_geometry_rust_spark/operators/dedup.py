"""Deduplication operators for training-data pipelines.

- exact: md5(text) hash-groupBy — one shuffle, map-side partial agg.
- MinHash + LSH: shingle -> 128 minhashes -> b bands x r rows; docs
  sharing any band bucket become candidate pairs (one shuffle keyed by
  (band, bucket-hash)); candidates verified with true shingle Jaccard.
- SimHash: 64-bit sign-aggregated token hashes; near-dups = equal
  simhash (or banded by 16-bit chunks for hamming<=k retrieval).
- n-gram Jaccard verification is exact on the candidate pairs only —
  never all-pairs.

All heavy math is numpy inside Arrow-batched mapInPandas; the joins and
group-bys are plain DataFrame ops so Catalyst/AQE manage the shuffles.
At 10^12 docs: minhash pass is embarrassingly parallel; the LSH
band-bucket shuffle is the only wide exchange and its keys are
high-cardinality (band x bucket), so no skew hot-spotting; candidate
verification touches only pairs that collided.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

_MERSENNE = np.uint64((1 << 61) - 1)


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: (text_md5, n_copies, keeper) where keeper
    is the smallest doc id of the group."""
    return (
        docs.withColumn("text_md5", F.md5(F.col(text_col)))
        .groupBy("text_md5")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("keeper"),
        )
    )


def _minhash_matrix(hash_sets: list[np.ndarray], n_perm: int,
                    seed: int = 42) -> np.ndarray:
    """(n_docs, n_perm) minhash signatures via universal hashing
    h_i(x) = (a_i*x + b_i) mod p."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, int(_MERSENNE), size=n_perm, dtype=np.uint64)
    b = rng.integers(0, int(_MERSENNE), size=n_perm, dtype=np.uint64)
    sig = np.full((len(hash_sets), n_perm), np.iinfo(np.uint64).max, np.uint64)
    with np.errstate(over="ignore"):
        for r, hs in enumerate(hash_sets):
            if len(hs) == 0:
                continue
            # (n_perm, n_shingles) — wraps mod 2^64 then reduced mod p
            v = (a[:, None] * hs[None, :] + b[:, None]) % _MERSENNE
            sig[r] = v.min(axis=1)
    return sig


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n_perm: int = 128,
                       shingle_k: int = 3, seed: int = 42) -> DataFrame:
    """(doc_id, sig: array<long>) minhash signatures.  Shingles are
    hashed with process-stable FNV-1a (never Python's seeded hash()), so
    signatures are identical across executors and reruns."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("sig", ArrayType(LongType())),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            sets = _stable_shingle_hashes(b[text_col], shingle_k)
            sig = _minhash_matrix(sets, n_perm, seed)
            yield pd.DataFrame(
                {
                    "doc_id": b[id_col].to_numpy(np.int64),
                    "sig": list(sig.view(np.int64)),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(gen, schema)


def _fnv1a_bytes(arr: bytes) -> int:
    """FNV-1a over bytes — vectorized Horner form: because the FNV fold
    h=(h^b)*p is not linear, we keep exact FNV only for single words via
    the classic loop but amortize it with a per-process cache (corpus
    vocabularies are tiny relative to token counts)."""
    h = np.uint64(1469598103934665603)
    prime = np.uint64(1099511628211)
    with np.errstate(over="ignore"):
        for byte in np.frombuffer(arr, dtype=np.uint8).astype(np.uint64):
            h = (h ^ byte) * prime
    return int(h)


_WORD_HASH_CACHE: dict[str, int] = {}


def _word_hash(w: str) -> int:
    h = _WORD_HASH_CACHE.get(w)
    if h is None:
        if len(_WORD_HASH_CACHE) > 1_000_000:
            _WORD_HASH_CACHE.clear()
        h = _fnv1a_bytes(w.encode("utf-8"))
        _WORD_HASH_CACHE[w] = h
    return h


def _fnv1a_batch(words: list[str]) -> np.ndarray:
    """Vectorized FNV-1a over many words at once: one numpy pass per
    BYTE COLUMN of the padded byte matrix (loop length = longest word,
    not total byte count).  Bit-identical to _fnv1a_bytes per word."""
    if not words:
        return np.empty(0, dtype=np.uint64)
    bs = [w.encode("utf-8") for w in words]
    lens = np.fromiter((len(b) for b in bs), np.int64, count=len(bs))
    maxlen = int(lens.max()) if len(lens) else 0
    allb = np.frombuffer(b"".join(bs), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    idx = np.minimum(
        starts[:, None] + np.arange(max(maxlen, 1))[None, :],
        max(len(allb) - 1, 0),
    )
    mat = (
        allb[idx].astype(np.uint64)
        if len(allb)
        else np.zeros((len(bs), 1), dtype=np.uint64)
    )
    h = np.full(len(bs), np.uint64(1469598103934665603))
    prime = np.uint64(1099511628211)
    with np.errstate(over="ignore"):
        for j in range(maxlen):
            active = lens > j
            h[active] = (h[active] ^ mat[active, j]) * prime
    return h


def _hash_words_batch(docs_words: list[list[str]]) -> list[np.ndarray]:
    """Per-doc uint64 FNV-1a word-hash arrays, vectorized across the
    whole Arrow batch: factorize the flattened word stream (one C pass),
    hash only the batch's UNIQUE words (cache + vectorized FNV for
    misses), then gather.  Values identical to per-word _word_hash."""
    flat = [w for ws in docs_words for w in ws]
    if not flat:
        return [np.empty(0, dtype=np.uint64) for _ in docs_words]
    codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
    if len(_WORD_HASH_CACHE) > 1_000_000:
        _WORD_HASH_CACHE.clear()
    miss = [i for i, w in enumerate(uniques) if w not in _WORD_HASH_CACHE]
    if miss:
        hs = _fnv1a_batch([uniques[i] for i in miss])
        for i, h in zip(miss, hs.tolist()):
            _WORD_HASH_CACHE[uniques[i]] = h
    uh = np.fromiter(
        (_WORD_HASH_CACHE[w] for w in uniques),
        dtype=np.uint64,
        count=len(uniques),
    )
    flat_h = uh[codes]
    out, pos = [], 0
    for ws in docs_words:
        out.append(flat_h[pos: pos + len(ws)])
        pos += len(ws)
    return out


_SHINGLE_P = np.uint64(0x100000001B3)


def _stable_shingle_hashes(texts: pd.Series, k: int) -> list[np.ndarray]:
    """Process-stable shingle hashes: batch-vectorized FNV-1a per unique
    word, then a vectorized k-word rolling polynomial combine per doc —
    no per-shingle (or per-word) Python, determinism unchanged across
    executors."""
    docs_words = [s.split() for s in texts.astype(str)]
    hashed = _hash_words_batch(docs_words)
    out = []
    with np.errstate(over="ignore"):
        for ids in hashed:
            n = len(ids)
            if n == 0:
                out.append(np.empty(0, dtype=np.uint64))
                continue
            kk = min(k, n)
            acc = ids[: n - kk + 1].copy()
            for j in range(1, kk):
                acc = acc * _SHINGLE_P + ids[j: n - kk + 1 + j]
            out.append(np.unique(acc))
    return out


def _band_struct_col(n_bands: int, n_perm: int) -> F.Column:
    """The exploded (band, bucket) struct column over a ``sig`` array:
    bucket = xxhash64 of the band's signature slice.  The ONE place the
    banding layout (slice offsets + bucket hash) is defined — the
    batch self-join, the cross join, and the streaming twin all build
    on this column, so their bucket assignments can never drift."""
    rows = n_perm // n_bands
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.xxhash64(F.slice("sig", i * rows + 1, rows)).alias("bucket"),
                )
                for i in range(n_bands)
            ]
        )
    )


def _band_signatures(signatures: DataFrame, n_bands: int, n_perm: int,
                     max_per_bucket: int | None = None) -> DataFrame:
    """(doc_id, band, bucket) rows: each signature exploded into its
    ``n_bands`` band slices, bucket = xxhash64 of the slice.  The
    optional ``max_per_bucket`` hot-bucket guard keeps only the first
    ``max_per_bucket`` docs of each (band, bucket) in deterministic
    (md5(doc_id), doc_id) order — see lsh_candidate_pairs for the loss
    semantics."""
    bands = _band_struct_col(n_bands, n_perm).alias("b")
    banded = signatures.select("doc_id", bands).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )
    if max_per_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bucket").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
        banded = (
            banded.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= max_per_bucket)
            .drop("_r")
        )
    return banded


def lsh_candidate_pairs(signatures: DataFrame, n_bands: int = 16,
                        n_perm: int = 128,
                        max_per_bucket: int | None = None) -> DataFrame:
    """Band the signatures and emit candidate duplicate pairs (a < b).

    ``max_per_bucket`` (opt-in) is the hot-bucket guard for
    planet-scale runs: a degenerate band bucket holding B docs (an
    identical-boilerplate flood — the classic LSH blowup) emits B^2/2
    candidate pairs; with the cap, each (band, bucket) keeps only its
    ``max_per_bucket`` deterministic md5-order docs, bounding the
    worst bucket's fan-out at cap^2/2.  The truncation is documented
    LOSS — a pair is missed only if EVERY band where the two docs
    collide is capped and at least one of them is dropped there; with
    identical docs (same bucket in all bands, same md5 order each
    band) the kept subset still pairs completely among itself, so
    boilerplate floods stay mutually-duplicate within the cap while
    the quadratic tail is cut.  Deterministic, so capped results are
    reproducible run-to-run (same design as
    tiling.colocated_pairs(max_per_tile=...);
    tests/test_pipeline_round4.py::test_lsh_max_per_bucket_bounds_flood
    pins the worst-bucket bound and the surviving genuine pair).
    """
    banded = _band_signatures(signatures, n_bands, n_perm, max_per_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _jaccard_series(text_a: pd.Series, text_b: pd.Series,
                    shingle_k: int) -> pd.Series:
    """Exact shingle-Jaccard kernel over two aligned text series — the
    ONE implementation every verify path (batch and streaming) must
    share, so twin equality can never drift between copies."""
    sa = _stable_shingle_hashes(text_a, shingle_k)
    sb = _stable_shingle_hashes(text_b, shingle_k)
    jac = np.array(
        [
            len(np.intersect1d(x, y, assume_unique=True))
            / max(len(np.union1d(x, y)), 1)
            for x, y in zip(sa, sb)
        ],
        dtype=np.float64,
    )
    return pd.Series(jac)


def jaccard_udf(shingle_k: int = 3):
    """Arrow column udf wrapping _jaccard_series: only the two text
    columns cross to Python (one way) and a double comes back — the
    pair ids stay JVM-side (same Arrow-transport finding as the PIP
    refine)."""
    from pyspark.sql.functions import pandas_udf as _pandas_udf

    @_pandas_udf(DoubleType())
    def _jaccard(text_a: pd.Series, text_b: pd.Series) -> pd.Series:
        return _jaccard_series(text_a, text_b, shingle_k)

    return _jaccard


def verify_jaccard(pairs: DataFrame, docs: DataFrame, threshold: float,
                   id_col: str = "doc_id", text_col: str = "text",
                   shingle_k: int = 3) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs only."""
    d = docs.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    )
    j = (
        pairs.join(d, pairs["doc_a"] == d["_id"])
        .withColumnRenamed("_text", "text_a")
        .drop("_id")
        .join(d, pairs["doc_b"] == d["_id"])
        .withColumnRenamed("_text", "text_b")
        .drop("_id")
    )
    _jaccard = jaccard_udf(shingle_k)
    verified = j.select(
        "doc_a", "doc_b",
        _jaccard(F.col("text_a"), F.col("text_b")).alias("jaccard"),
    )
    return verified.filter(F.col("jaccard") >= threshold)


def near_dedup_minhash(docs: DataFrame, threshold: float = 0.8,
                       id_col: str = "doc_id", text_col: str = "text",
                       n_perm: int = 128, n_bands: int = 16,
                       shingle_k: int = 3,
                       max_per_bucket: int | None = None) -> DataFrame:
    """Full near-dup pipeline: signatures -> LSH candidates -> exact
    Jaccard filter.  Returns (doc_a, doc_b, jaccard).
    ``max_per_bucket`` opts in the hot-bucket fan-out guard (see
    lsh_candidate_pairs)."""
    sigs = minhash_signatures(docs, id_col, text_col, n_perm, shingle_k)
    cands = lsh_candidate_pairs(sigs, n_bands, n_perm, max_per_bucket)
    return verify_jaccard(cands, docs, threshold, id_col, text_col, shingle_k)


def _canonical_edges(e: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (u < v) form, loops dropped."""
    return (
        e.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _components_driver_side(e: DataFrame) -> DataFrame:
    """Union-find over a collected edge set — the small-graph fast path.

    One Arrow transfer + one in-memory DSU instead of O(log n) rounds
    of two shuffles each: at bench scale (thousands of near-dup pairs)
    the alternating-star loop is pure fixed cost.  Only called below a
    documented edge-count bound (see connected_components), so the
    collect is a bounded small side, not a scale hazard.  Labels are
    identical to the distributed path: component = min node id."""
    pdf = e.toPandas()
    nodes, idx = np.unique(
        np.concatenate([pdf["u"].to_numpy(np.int64),
                        pdf["v"].to_numpy(np.int64)]),
        return_inverse=True,
    )
    parent = np.arange(len(nodes), dtype=np.int64)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:          # path compression
            parent[x], x = root, parent[x]
        return root

    ui, vi = idx[: len(pdf)], idx[len(pdf):]
    for a, b in zip(ui, vi):
        ra, rb = find(a), find(b)
        if ra != rb:
            # attach the larger-id root under the smaller: nodes are
            # sorted by np.unique, so the final root IS the min node id
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    roots = np.array([find(i) for i in range(len(nodes))], dtype=np.int64)
    out = pd.DataFrame({"node": nodes, "component": nodes[roots]})
    return e.sparkSession.createDataFrame(out, "node long, component long")


#: Below this many canonical edges, connected_components collects the
#: graph and runs a driver-side union-find (~16 bytes/edge in Arrow —
#: the bound keeps the transfer well under 100 MB).
DRIVER_CC_MAX_EDGES = 2_000_000


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b",
                         max_rounds: int = 50,
                         driver_max_edges: int = DRIVER_CC_MAX_EDGES,
                         ) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the scale path for duplicate-cluster assignment.

    Returns (node, component) for every node incident to an edge, where
    component is the smallest node id in the node's component (roots map
    to themselves).

    Scale design:
    - O(log n) rounds on any graph (vs O(diameter) for naive min-label
      propagation — a 10^6-long chain of near-dup docs converges in ~20
      rounds, not 10^6);
    - each round is two groupBy/join pairs on node ids — plain shuffles
      on high-cardinality keys, map-side combine on the min() aggregate;
    - ``localCheckpoint()`` per round truncates the iterative lineage
      (the round-1 verdict's fixpoint lesson);
    - convergence is detected with a commutative fingerprint
      (count + bit_xor of per-edge xxhash64): one tiny agg action per
      round instead of a set-difference join.  A false-positive stop
      needs a 64-bit xor collision between consecutive edge sets.
    """
    e = _canonical_edges(
        edges.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
        )
    ).localCheckpoint()
    # auto-switch: the checkpoint above already materialized the edge
    # set, so this count is a metadata-cheap action.  Small graphs take
    # the driver union-find (identical labels); the alternating-star
    # rounds below are the >2M-edge scale path.
    if e.count() <= driver_max_edges:
        return _components_driver_side(e)
    prev_fp = None
    for _ in range(max_rounds):
        # large star: every neighbor v > u connects to min(N(u) + {u})
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("_mn", F.col("u")).alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        e1 = _canonical_edges(ls)
        # small star: orient edges large -> small; every smaller
        # neighbor (and the center) connects to the center's minimum
        o = e1.select(F.col("v").alias("c"), F.col("u").alias("n"))
        mins2 = o.groupBy("c").agg(F.min("n").alias("m"))
        ss = (
            o.join(mins2, "c")
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .unionByName(
                mins2.select(F.col("c").alias("u"), F.col("m").alias("v"))
            )
        )
        e2 = _canonical_edges(ss).localCheckpoint()
        fp_row = e2.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("x"),
        ).collect()[0]
        fp = (fp_row["n"], fp_row["x"])
        e = e2
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        # A non-converged edge set is NOT a star forest, and reading it
        # as (root, member) pairs below would yield silently wrong
        # components — make the truncation visible instead.
        import warnings

        warnings.warn(
            f"connected_components did not converge within {max_rounds} "
            "rounds; component labels below may be wrong — raise "
            "max_rounds (alternating-star needs O(log n) rounds)",
            RuntimeWarning,
            stacklevel=2,
        )
    # fixpoint is a star forest in canonical (u < v) form: u is the
    # component root (its minimum), v the member
    members = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    roots = (
        e.select(F.col("u").alias("node"))
        .dropDuplicates(["node"])
        .withColumn("component", F.col("node"))
    )
    return members.unionByName(roots)


def duplicate_clusters(docs: DataFrame, threshold: float = 0.8,
                       id_col: str = "doc_id", text_col: str = "text",
                       n_perm: int = 128, n_bands: int = 16,
                       shingle_k: int = 3,
                       max_rounds: int = 50) -> DataFrame:
    """End-to-end duplicate clustering: minhash-LSH near-dup pairs ->
    connected components -> every document labeled with its cluster id
    (the smallest doc_id in its duplicate cluster; singletons label
    themselves) and the cluster size.

    This is the operator a training-data pipeline actually runs: keep
    one representative per cluster (``doc_id == cluster_id``), or weight
    by ``cluster_size``.  Cluster sizes come from a groupBy + join back
    (not a window over the full table) so a pathological boilerplate
    cluster is one hot aggregate row, not a hot window partition; AQE
    broadcasts the per-cluster size table when small.
    """
    pairs = near_dedup_minhash(
        docs, threshold, id_col, text_col, n_perm, n_bands, shingle_k
    )
    cc = connected_components(pairs, max_rounds=max_rounds)
    return _label_with_sizes(
        docs.select(F.col(id_col).cast("long").alias("doc_id")), cc
    )


def _label_with_sizes(ids: DataFrame, cc: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) from a doc-id relation and a
    CC (node, component) labeling — singletons label themselves; sizes
    via groupBy + join back (a boilerplate cluster is one hot aggregate
    row, never a hot window partition).  Shared by duplicate_clusters
    and its incremental twin so the labeling semantics cannot drift."""
    assigned = ids.join(
        cc.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("component", "doc_id").alias("cluster_id")
    )
    sizes = assigned.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return assigned.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    )


def simhash_batch(texts: pd.Series) -> np.ndarray:
    """64-bit SimHash (int64 view) of each text in one Arrow batch: the
    sign-sum of the word FNV hashes' bits — the one kernel behind
    ``simhash_signatures`` and the streaming dedup."""
    bitcols = np.arange(64, dtype=np.uint64)
    hashed = _hash_words_batch([s.split() for s in texts.astype(str)])
    lens = np.fromiter((len(h) for h in hashed), np.int64, count=len(hashed))
    out = np.zeros(len(texts), dtype=np.uint64)
    nonempty = np.nonzero(lens > 0)[0]
    if len(nonempty):
        flat = np.concatenate([hashed[i] for i in nonempty])
        # (total_words, 64) bit matrix, summed per doc in one
        # reduceat — no per-doc Python
        bits = (flat[:, None] >> bitcols[None, :]) & np.uint64(1)
        offs = np.concatenate(([0], np.cumsum(lens[nonempty])[:-1]))
        sums = np.add.reduceat(bits.astype(np.int64), offs, axis=0)
        # signed: a uint64 vote count would wrap negative
        # margins to huge positives and set every bit
        votes = sums * 2 - lens[nonempty][:, None]
        out[nonempty] = (
            (votes > 0).astype(np.uint64) << bitcols[None, :]
        ).sum(axis=1)
    return out.view(np.int64)


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """64-bit SimHash over word FNV hashes (sign-sum of bits)."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("simhash", LongType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame({"doc_id": b[id_col].to_numpy(np.int64),
                                "simhash": simhash_batch(b[text_col])})

    return docs.select(id_col, text_col).mapInPandas(gen, schema)


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5,
                        n: int = 3, id_col: str = "doc_id",
                        text_col: str = "text",
                        materialize_grams: bool | None = None) -> DataFrame:
    """Exact word-n-gram-set Jaccard near-dup pairs at ``threshold``,
    via prefix filtering (SSJoin/PPJoin): order each doc's distinct
    n-grams by ascending global document frequency and generate
    candidates ONLY from the first ``sz - ceil(t*sz) + 1`` n-grams.

    Losslessness: if Jaccard(A,B) >= t then |A∩B| >= t*|A∪B| >=
    ceil(t*|A|) (integer count), so A∩B cannot fit entirely in A's
    suffix of ceil(t*|A|)-1 elements — the globally-smallest shared
    n-gram lies in BOTH prefixes.  The ceil is computed with a -1e-9
    slack so float error can only LENGTHEN the prefix (sound direction).

    Scale shape: unlike the minhash path (probabilistic, fixed-cost)
    this is exact; the candidate self-join keys are each doc's RAREST
    n-grams (df-ascending prefix), so the join key distribution is
    anti-skewed by construction — ubiquitous n-grams never become join
    keys.  Verification materializes the two gram sets only for
    candidate pairs (sorted-array intersect, JVM-side).  Everything is
    whole-stage-codegen DataFrame ops; no Python.
    """
    from pyspark.sql import Window

    from .vocab import _ngrams_of, _tokens

    grams = (
        docs.withColumn("_toks", _tokens(text_col))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.array_distinct(_ngrams_of(F.col("_toks"), n))
            ).alias("ngram"),
        )
    )
    # The grams subtree feeds six consumers (df counts, sizes, both
    # prefix sides, both verify arrays); by default each re-runs the
    # pruned 2-column scan + tokenize.  materialize_grams=True
    # checkpoints the (doc_id, ngram) frame once — right when the
    # tokenize pass dominates re-reading, same tradeoff as
    # build_graph(materialize_snapped=...).
    #
    # materialize_grams=None (default) auto-decides from Catalyst's
    # optimized-plan size estimate of the pruned (id, text) input: past
    # ~64 MB the 6x tokenize re-run dominates the one-time checkpoint
    # write, below it the checkpoint overhead dominates (bench-scale
    # sf0.1 stays un-materialized; a corpus of 1-2M docs flips on).
    # Plan stats are free — no job is triggered.
    if materialize_grams is None:
        try:
            sz = int(
                docs.select(id_col, text_col)
                ._jdf.queryExecution().optimizedPlan().stats()
                .sizeInBytes()
            )
            materialize_grams = sz > 64 * 1024 * 1024
        except Exception:
            materialize_grams = False
    if materialize_grams:
        grams = grams.localCheckpoint(eager=False)
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
    )
    sets = grams.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("ngram")).alias("grams")
    )
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga")
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb")
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("ga") + F.size("gb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def duplicate_spans(docs: DataFrame, window: int = 8, min_docs: int = 2,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Exact duplicated-substring spans: maximal runs of ``window``-token
    sliding windows whose text recurs in >= ``min_docs`` DISTINCT
    documents (the "Deduplicating Training Data Makes Language Models
    Better" operator, re-expressed Spark-native: hash-shuffle window
    dedup instead of a single-node suffix array).

    Returns (doc_id, span_start, span_end, n_windows): token-index
    spans, end exclusive (span covers tokens [span_start,
    span_end)); adjacent/overlapping duplicated windows are merged into
    maximal spans via the islands trick (pos - row_number).

    Intra-document repeats alone do NOT flag a window (cross-doc
    distinct count); see repetition_stats for intra-doc quality.

    Scale shape: the windows relation is O(total tokens) rows but only
    (md5, doc_id, pos) wide; it is shuffled twice (distinct-hash
    partial-agg -> count, then the dup-hash semi-join back), both on
    the md5 key — uniform by construction, no skew.  The islands
    window+agg shuffles by doc_id once.  Everything is JVM built-ins
    (split/slice/concat_ws/md5); the token array is materialized
    BEFORE the higher-order transform (interpreted-HOF re-tokenization
    pitfall, see ROUND_NOTES round-2 post-review fixes).
    """
    from pyspark.sql import Window

    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    base = (
        docs.select(id_col, toks.alias("__tk"))
        .filter(F.size("__tk") >= window)
    )
    wins = base.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("__tk") - window + 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("__tk"), i, window)),
            )
        ).alias("pos", "__wtext"),
    ).select(id_col, "pos", F.md5("__wtext").alias("__h"))

    dup_hashes = (
        wins.select("__h", id_col)
        .distinct()
        .groupBy("__h")
        .agg(F.count("*").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__h")
    )
    flagged = wins.join(dup_hashes, "__h").select(id_col, "pos")

    w = Window.partitionBy(id_col).orderBy("pos")
    islands = flagged.withColumn(
        "__isl", F.col("pos") - F.row_number().over(w)
    )
    return (
        islands.groupBy(id_col, "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + window).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )


def dedup_keep_best(docs: DataFrame, threshold: float = 0.8,
                    id_col: str = "doc_id", text_col: str = "text",
                    n_perm: int = 128, n_bands: int = 16,
                    shingle_k: int = 3,
                    max_rounds: int = 50) -> DataFrame:
    """Canonical-document selection: per duplicate cluster (minhash-LSH
    pairs -> connected components, as in ``duplicate_clusters``) keep
    the single highest-quality member — rank (quality_score DESC,
    doc_id ASC).  This is the pipeline step after clustering: the
    survivors ARE the training corpus; ``duplicate_clusters``'s
    min-id keeper is the cheap variant, this one keeps the best text.

    Scale shape: quality is a zero-shuffle per-row score; the argmax
    rides ONE groupBy(cluster_id) with an algebraic max(struct(...)),
    so a pathological boilerplate cluster partial-aggregates map-side
    (no window over a hot cluster partition — the DuckDB oracle uses
    row_number() because SQL lacks struct-max, but the engine never
    materializes a per-cluster sort).

    Output: (cluster_id, kept_doc_id, kept_quality, cluster_size).
    """
    from .text import with_quality_score

    dc = duplicate_clusters(
        docs, threshold, id_col, text_col, n_perm, n_bands, shingle_k,
        max_rounds,
    )
    quality = with_quality_score(docs, text_col).select(
        F.col(id_col).cast("long").alias("doc_id"), "quality_score"
    )
    joined = dc.join(quality, "doc_id")
    # max over (quality, -doc_id) == ORDER BY quality DESC, doc_id ASC
    # limit 1, but as an algebraic aggregate (map-side combinable).
    best = joined.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("quality_score"),
                (-F.col("doc_id")).alias("neg_id"),
            )
        ).alias("b"),
        F.max("cluster_size").alias("cluster_size"),
    )
    return best.select(
        "cluster_id",
        (-F.col("b.neg_id")).alias("kept_doc_id"),
        F.col("b.quality_score").alias("kept_quality"),
        "cluster_size",
    )


def lsh_candidate_pairs_cross(sig_new: DataFrame, sig_index: DataFrame,
                              n_bands: int = 16, n_perm: int = 128,
                              max_per_bucket: int | None = None) -> DataFrame:
    """Candidate pairs BETWEEN two signature tables: (doc_a from
    ``sig_new``, doc_b from ``sig_index``) sharing any band bucket.

    This is the incremental-ingestion shape of LSH: the index side is
    the (huge) already-accepted corpus whose signatures are read back
    from a materialized signature table, the new side is one delta
    batch.  Banding both sides keys the ONE wide shuffle by
    (band, bucket) exactly as the self-join path, so a 10^12-doc index
    joins a 10^9-doc batch without ever pairing index docs with each
    other — candidate cardinality is bounded by batch-side bucket
    occupancy, not index size.  ``max_per_bucket`` applies the
    deterministic hot-bucket guard independently per side."""
    a = _band_signatures(sig_new, n_bands, n_perm, max_per_bucket).alias("a")
    b = _band_signatures(sig_index, n_bands, n_perm, max_per_bucket).alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def null_safe_text_md5(text_col: str) -> F.Column:
    """NULL-safe exact-dedup digest.  ``md5(NULL)`` is NULL and NULL
    never equi-joins, so keying the exact stage on a plain md5 silently
    drops NULL-text docs from the tagged frame (they match neither the
    index nor their own batch_min group).  All NULL-text docs share one
    sentinel digest instead: they are mutual exact duplicates, the
    single smallest-id keeper flows to the near stage (where the shared
    shingle kernel hashes ``str(None)``), and batch and streaming twins
    agree on every NULL-text row."""
    return F.coalesce(F.md5(F.col(text_col)), F.lit("__null_text__"))


def incremental_dedup(new_docs: DataFrame, index_docs: DataFrame,
                      threshold: float = 0.5,
                      id_col: str = "doc_id", text_col: str = "text",
                      n_perm: int = 128, n_bands: int = 32,
                      shingle_k: int = 3,
                      index_signatures: DataFrame | None = None,
                      max_per_bucket: int | None = None,
                      materialize_tags: bool | None = None) -> DataFrame:
    """Delta-batch dedup against an already-indexed corpus — the
    continuous-ingestion step a recurring-crawl pipeline runs per batch
    (the batch is deduped against everything accepted before it, never
    the index against itself).

    Decision per new doc, in precedence order:

    - ``exact_index``: md5(text) collides with an index doc; matched_id
      = min colliding index id.
    - ``exact_batch``: no index collision, but a smaller-id batch doc
      has the same md5 (that keeper itself goes on to the near stage);
      matched_id = min batch id of the md5 group.
    - ``near_index``: exact survivor whose verified shingle Jaccard
      against some index doc >= ``threshold``; matched_id = min
      verified index id, jaccard = the Jaccard against that id.
    - ``keep``: none of the above (jaccard NULL).

    Equal text md5 implies equal shingle sets, so exact decisions carry
    jaccard = 1.0 exactly.  Output: one row per new doc —
    (doc_id, decision, matched_id, jaccard).

    Scale shape: the exact stage is two hash joins on text-md5 with the
    batch-keeper min as a map-side-combinable groupBy (never a window
    over a potentially boilerplate-hot md5 partition); the near stage
    computes signatures only for exact survivors, reuses the index's
    materialized signatures when ``index_signatures`` is passed (the
    production path — the index is never re-shingled per batch), and
    pairs via the banded cross join above.  Id spaces of the two sides
    must be disjoint (they are distinct corpus generations).

    ``materialize_tags`` (default None = auto from Catalyst's
    optimized-plan size of the batch's (id, text) projection, same
    64 MB rule as ngram_jaccard's grams checkpoint): the exact-tag
    frame feeds THREE consumers (survivor signatures, the verify text
    union, and the final decision join), so past bench scale its two
    md5 hash joins re-run up to 3x without a checkpoint (historical
    measurement, 32-core box: a persisted-stage sum of ~70 s against a
    naive end-to-end wall of 136.6 s at 1M batch / 500k index docs).
    The index side is deliberately NOT cached: a
    10^12-doc index cannot be, and each of its consumers is a plain
    re-scan Catalyst prunes independently.
    """
    new_t = new_docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
        null_safe_text_md5(text_col).alias("tmd5"),
    )
    idx_t = index_docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
        null_safe_text_md5(text_col).alias("tmd5"),
    )
    idx_md5 = idx_t.groupBy("tmd5").agg(F.min("doc_id").alias("idx_match"))
    batch_min = new_t.groupBy("tmd5").agg(F.min("doc_id").alias("batch_min"))
    tagged = (
        new_t.join(idx_md5, "tmd5", "left")
        .join(batch_min, "tmd5")
        .select("doc_id", "text", "idx_match", "batch_min")
    )
    if materialize_tags is None:
        try:
            sz = int(
                new_docs.select(id_col, text_col)
                ._jdf.queryExecution().optimizedPlan().stats()
                .sizeInBytes()
            )
            materialize_tags = sz > 64 * 1024 * 1024
        except Exception:
            materialize_tags = False
    if materialize_tags:
        tagged = tagged.localCheckpoint(eager=False)

    surv = tagged.filter(
        F.col("idx_match").isNull() & (F.col("doc_id") == F.col("batch_min"))
    ).select("doc_id", "text")
    sig_new = minhash_signatures(surv, "doc_id", "text", n_perm, shingle_k)
    if index_signatures is None:
        index_signatures = minhash_signatures(
            idx_t, "doc_id", "text", n_perm, shingle_k
        )
    cands = lsh_candidate_pairs_cross(
        sig_new, index_signatures, n_bands, n_perm, max_per_bucket
    )
    texts = surv.union(idx_t.select("doc_id", "text"))
    verified = verify_jaccard(cands, texts, threshold, "doc_id", "text",
                              shingle_k)
    near = verified.groupBy("doc_a").agg(
        F.min("doc_b").alias("near_match"),
        F.min_by("jaccard", "doc_b").alias("near_jac"),
    )

    out = tagged.join(near, tagged["doc_id"] == near["doc_a"], "left")
    is_exact_idx = F.col("idx_match").isNotNull()
    is_exact_batch = F.col("batch_min") < F.col("doc_id")
    is_near = F.col("near_match").isNotNull()
    return out.select(
        "doc_id",
        F.when(is_exact_idx, F.lit("exact_index"))
        .when(is_exact_batch, F.lit("exact_batch"))
        .when(is_near, F.lit("near_index"))
        .otherwise(F.lit("keep"))
        .alias("decision"),
        F.when(is_exact_idx, F.col("idx_match"))
        .when(is_exact_batch, F.col("batch_min"))
        .otherwise(F.col("near_match"))
        .alias("matched_id"),
        F.when(is_exact_idx | is_exact_batch, F.lit(1.0))
        .otherwise(F.col("near_jac"))
        .alias("jaccard"),
    )


def incremental_duplicate_clusters(new_docs: DataFrame,
                                   index_docs: DataFrame,
                                   labels_old: DataFrame,
                                   threshold: float = 0.8,
                                   id_col: str = "doc_id",
                                   text_col: str = "text",
                                   n_perm: int = 128, n_bands: int = 16,
                                   shingle_k: int = 3,
                                   index_signatures: DataFrame | None = None,
                                   max_rounds: int = 50) -> DataFrame:
    """Incremental maintenance of duplicate-cluster labels: given the
    previous run's labels over the indexed corpus (``labels_old`` =
    (doc_id, cluster_id), read from a checkpoint table in production)
    and one delta batch, produce the labels of the COMBINED corpus
    without re-pairing the index against itself.

    New work per batch: within-batch near-dup pairs + batch<->index
    cross pairs (banded LSH both ways, reusing materialized
    ``index_signatures``) + the old labels star-compressed to
    (cluster_id, doc_id) edges.  Correctness is an identity, not an
    approximation: CC(star(G_old) UNION E_new) == CC(G_old UNION
    E_new) because star compression preserves connectivity, and the
    old cluster_id is itself the component minimum, so min-reachable
    labels are preserved too.  The output is therefore IDENTICAL to
    re-running ``duplicate_clusters`` over the full corpus — the
    contract oracle IS that full-corpus recursive closure.

    At 10^12 docs the difference is re-shingling + re-pairing the
    whole corpus vs O(|batch|) shingling, one banded cross join
    against checkpointed signatures, and a CC run whose index-side
    input is one star edge per non-singleton doc (bounded by the
    number of known duplicates, not corpus size).

    Output: (doc_id, cluster_id, cluster_size) over ALL docs, exactly
    like ``duplicate_clusters``.
    """
    new_t = new_docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    idx_t = index_docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    sigs_new = minhash_signatures(new_t, "doc_id", "text", n_perm, shingle_k)
    if index_signatures is None:
        index_signatures = minhash_signatures(
            idx_t, "doc_id", "text", n_perm, shingle_k
        )
    batch_cands = lsh_candidate_pairs(sigs_new, n_bands, n_perm)
    cross_cands = lsh_candidate_pairs_cross(
        sigs_new, index_signatures, n_bands, n_perm
    )
    texts = new_t.union(idx_t)
    verified = verify_jaccard(
        batch_cands.unionByName(cross_cands), texts, threshold,
        "doc_id", "text", shingle_k,
    ).select("doc_a", "doc_b")
    star = labels_old.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select(
        F.col("cluster_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    cc = connected_components(
        verified.unionByName(star), max_rounds=max_rounds
    )
    return _label_with_sizes(
        new_t.select("doc_id").union(idx_t.select("doc_id")), cc
    )
