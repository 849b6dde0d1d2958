"""kNN over the sphere: brute-force (exact, oracle-checkable) and
cell-ring expansion (the scale path; north-star semantics).

The reference's closest-edge/point query subsystem is stubs only
(tests/test_s2query_system_port.rs:37-147 are #[should_panic]), so kNN
follows the north star: candidates from the query's cell at level L,
widening L <- L-1 until >= k candidates, then exact squared-chord-length
distance (chord_angle.rs:90-95) + top-k.

Distance metric: squared chord length |p-q|^2 — monotone in angle,
computed with exactly-rounded arithmetic only (add/sub/mul), so DuckDB
reproduces it bit-for-bit for the oracle.

Scale design:
- brute force never shuffles the candidate side: queries are broadcast,
  a mapInPandas pass emits per-partition local top-k (numpy
  argpartition), and only n_queries * k * n_partitions rows reach the
  final window — the 100 TB candidate scan stays embarrassing-parallel.
- cell-ring does one hash join per widening level on parent-cell
  equality (pure bit-expression keys), with queries that already have
  >= k candidates retired from the next round driver-side.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..functions import cell_parent
from .similarity import guard_driver_bound

_TOPK_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("chord2", DoubleType()),
    ]
)


def knn_bruteforce(queries: DataFrame, candidates: DataFrame, k: int,
                   query_xyz=("x", "y", "z"), cand_xyz=("x", "y", "z"),
                   query_id: str = "query_id",
                   cand_id: str = "cand_id") -> DataFrame:
    """Exact kNN: per-partition local top-k then a global window.

    Output: (query_id, neighbor_id, rank, chord2), rank 1..k ordered by
    (chord2, neighbor_id).

    BASELINE OPERATOR — the *query* side is collected to the driver and
    broadcast as one numpy matrix, so it must stay driver-sized
    (~<= 10^5 queries / ~2.4 MB per 10^5 at 3 doubles + id; the
    candidate side streams once and is unbounded).  For query sets past
    that bound use ``knn_cell_ring``, the fully-distributed scale twin
    (same output contract, oracled separately).
    """
    spark = queries.sparkSession
    guard_driver_bound(queries, "knn_bruteforce", "knn_cell_ring")
    qrows = queries.select(
        F.col(query_id).cast("long"),
        *[F.col(c).cast("double") for c in query_xyz],
    ).collect()
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_xyz = np.array([[r[1], r[2], r[3]] for r in qrows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((q_ids, q_xyz))

    cx, cy, cz = cand_xyz

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qxyz = bc.value
        for b in batches:
            if len(b) == 0:
                continue
            c_id = b[cand_id].to_numpy(np.int64)
            px = b[cx].to_numpy(np.float64)
            py = b[cy].to_numpy(np.float64)
            pz = b[cz].to_numpy(np.float64)
            # (n_q, n_c) squared chord distances — sub/mul/add only
            dx = px[None, :] - qxyz[:, 0:1]
            dy = py[None, :] - qxyz[:, 1:2]
            dz = pz[None, :] - qxyz[:, 2:3]
            d2 = dx * dx + dy * dy + dz * dz
            kk = min(k, d2.shape[1])
            idx = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
            rows_q = np.repeat(ids, kk)
            rows_c = c_id[idx.ravel()]
            rows_d = np.take_along_axis(d2, idx, axis=1).ravel()
            yield pd.DataFrame(
                {"query_id": rows_q, "neighbor_id": rows_c, "chord2": rows_d}
            )

    local = candidates.mapInPandas(local_topk, _TOPK_SCHEMA)
    w = Window.partitionBy("query_id").orderBy("chord2", "neighbor_id")
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "chord2")
    )


def _cell_boundary_chord2_lb(qx: np.ndarray, qy: np.ndarray,
                             qz: np.ndarray, cells: np.ndarray
                             ) -> np.ndarray:
    """Conservative squared-chord lower bound from each (unit) query
    point to the COMPLEMENT of its ancestor cell.

    The cell's boundary is contained in the union of its 4 edge great
    circles (the u = u_lo/u_hi, v = v_lo/v_hi loci of the ASSIGNMENT
    projection — from_point's xyz_to_face_uv, NOT the canonical
    math.rs:349-373 norms, which diverge from it on mirrored faces,
    e.g. face 5's u axis); any geodesic from a point inside to a point
    outside crosses that boundary, so
    dist(q, outside) >= min_i asin(|q . n_i| / |n_i|).  Converted to
    squared chord length (2*(1 - cos)) and shaved by a few ulps so
    float error can only make the bound SMALLER (never certifies a
    wrong top-k).

    Plane derivation: cells_true.face_uv_to_xyz_inverse (the true
    inverse of the assignment projection) is linear in (1, u, v) before
    normalization, w = N_f + u*U_f + v*V_f, so the u = u0 locus spans
    {N_f + u0*U_f, V_f} and its plane normal is (N_f + u0*U_f) x V_f —
    exact linear algebra, error a few ulps regardless of cell size
    (a corner-cross-product normal loses ~1/edge_angle precision on
    deep cells)."""
    from ..kernels import cells_true as ct

    # N/U/V axes per face, read off face_uv_to_xyz_inverse's selects
    N = np.array([[1, 0, 0], [0, 1, 0], [0, 0, 1],
                  [-1, 0, 0], [0, -1, 0], [0, 0, -1]], np.float64)
    U = np.array([[0, 1, 0], [-1, 0, 0], [0, -1, 0],
                  [0, 0, -1], [0, 0, 1], [-1, 0, 0]], np.float64)
    V = np.array([[0, 0, 1], [0, 0, 1], [-1, 0, 0],
                  [0, -1, 0], [1, 0, 0], [0, 1, 0]], np.float64)

    face, u_lo, u_hi, v_lo, v_hi = ct.cell_uv_bounds(
        np.asarray(cells, dtype=np.uint64)
    )
    face = np.asarray(face, np.int64)
    q = np.stack([qx, qy, qz], axis=-1)
    s = np.full(len(q), np.inf)
    for axis_vals, axis_dir, other_dir in (
        (u_lo, U, V), (u_hi, U, V), (v_lo, V, U), (v_hi, V, U),
    ):
        n = np.cross(N[face] + axis_vals[:, None] * axis_dir[face],
                     other_dir[face])
        nn = np.linalg.norm(n, axis=-1)
        s = np.minimum(s, np.abs(np.einsum("ij,ij->i", q, n)) / nn)
    s = np.maximum(s * (1.0 - 1e-12) - 1e-15, 0.0)
    return 2.0 * (1.0 - np.sqrt(np.maximum(1.0 - s * s, 0.0)))


def knn_cell_ring(queries: DataFrame, candidates: DataFrame, k: int,
                  start_level: int = 8, margin_levels: int = 1,
                  query_id: str = "query_id", cand_id: str = "cand_id",
                  query_cell: str = "cell_id", cand_cell: str = "cell_id",
                  query_xyz=("x", "y", "z"), cand_xyz=("x", "y", "z"),
                  exact: bool = False) -> DataFrame:
    """Cell-ring expansion kNN (north-star semantics): candidates from
    the query's cell at level L, widening L <- L-1 until >= k
    candidates, then exact squared-chord distance + top-k.

    Physical plan — 3 passes, independent of how many levels the
    widening logically visits (the naive per-level driver loop runs
    2 jobs *per level*).  AQE runs each shuffle and broadcast stage as
    a Spark job of its own, and building the frame already runs passes
    1-2 (the distinct-levels read of pass 3 materializes ``chosen``):
    on cached 200-query x 3,000-candidate frames (k=5, local[4]) the
    build launches 6 jobs and a ``count()`` of the result 4 more; with
    ``exact=True``, 22 and 6.

    1. density pass: one groupBy over candidates counting per-cell
       candidates at every level in [0, start_level] simultaneously
       (explode over the ancestor chain — pure bit expressions);
    2. per-query level choice: join queries to the (broadcastable)
       density table and take the deepest level with count >= k —
       exactly the level the iterative widening would stop at;
    3. candidate join at the chosen level: candidates exploded once per
       distinct chosen level (bounded fan-out), hash-joined on
       (level, ancestor), then window top-k.

    Default mode is approximate by design (neighbors outside the shared
    ancestor are unseen); recall vs knn_bruteforce is pytest-checked.

    ``exact=True`` adds a completeness pass that makes the output
    provably EQUAL to brute-force kNN:

    4. certify each query whose ring returned >= k candidates AND whose
       kth chord2 is strictly below a conservative lower bound on the
       distance to anything outside the probed ancestor cell
       (_cell_boundary_chord2_lb — the min angular distance to the
       cell's 4 edge great circles, error-shaved downward);
    5. the uncertified residual re-runs through knn_bruteforce against
       the full candidate side.  The residual query set is collected
       to the driver by that baseline operator, so exact mode inherits
       its documented bound — with margin_levels >= 1 the residual is
       the thin population within ~one cell width of its ring
       boundary, a small fraction by construction (pytest-soaked on
       boundary-adversarial inputs).  The candidate side is still
       never shuffled: one extra streamed scan.
    """
    levels = list(range(0, start_level + 1))
    q = queries.select(
        F.col(query_id).alias("query_id").cast("long"),
        F.col(query_cell).alias("_qcell"),
        *[F.col(c).alias(f"_q{c2}") for c, c2 in zip(query_xyz, "xyz")],
    )
    c = candidates.select(
        F.col(cand_id).alias("neighbor_id").cast("long"),
        F.col(cand_cell).alias("_ccell"),
        *[F.col(c_).alias(f"_c{c2}") for c_, c2 in zip(cand_xyz, "xyz")],
    )

    # 1. per-(level, cell) candidate density — one pass, map-side combine.
    # Only cells with n >= k can ever be chosen, so the filter keeps the
    # density table tiny (deep levels contribute almost nothing once the
    # per-cell count drops below k); with that bound it is always safe
    # to broadcast into the per-query level-choice join — no shuffle of
    # the query side, no risk of a large build side at deep levels.
    anc = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(lv).alias("lv"), cell_parent("_ccell", lv).alias("cell")
                )
                for lv in levels
            ]
        )
    ).alias("_a")
    density = (
        c.select(anc)
        .select(F.col("_a.lv").alias("lv"), F.col("_a.cell").alias("cell"))
        .groupBy("lv", "cell")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= k)
    )

    # 2. deepest level with n >= k per query (the widening stop level);
    #    fall back to level 0 when even the face has < k candidates
    qa = q.select(
        "query_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lv).alias("lv"),
                        cell_parent("_qcell", lv).alias("cell"),
                    )
                    for lv in levels
                ]
            )
        ).alias("_a"),
    ).select("query_id", F.col("_a.lv").alias("lv"), F.col("_a.cell").alias("cell"))
    # density rows are bounded by the cell-id space, not the data:
    # sum over levels 0..start_level of 6*4^lv  (~524k at start_level 8)
    # and further cut by the n >= k filter — safe to broadcast for
    # start_level <= 8; deeper hierarchies fall back to a hash join
    # (AQE may still choose broadcast from runtime size).
    d = F.broadcast(density) if start_level <= 8 else density
    chosen = (
        qa.join(d, ["lv", "cell"])
        .groupBy("query_id")
        .agg(F.max("lv").alias("lv"))
    )
    # margin_levels coarsens the chosen cell (4^m times the area) so
    # true neighbors just across the cell boundary are still seen —
    # recall lever at bounded extra cost
    chosen = q.join(chosen, "query_id", "left").withColumn(
        "lv",
        F.greatest(
            F.coalesce(F.col("lv"), F.lit(0)) - F.lit(margin_levels), F.lit(0)
        ),
    )

    # 3. single candidate join at each query's chosen level.
    # chosen is consumed twice (distinct-level probe + final join) —
    # materialize once via localCheckpoint so the density pass and
    # level-choice join run once, not twice (measured: the probe
    # re-executed the whole upstream chain).  Lazy: the probe's own
    # collect is the job that computes and stores it.  localCheckpoint
    # rather than persist(): its blocks are released by the
    # ContextCleaner when the frame goes out of scope, so repeated
    # calls in a long-lived session don't accumulate cacheManager
    # entries that only an explicit unpersist would free.
    chosen = chosen.localCheckpoint(eager=False)
    distinct_lv = [r["lv"] for r in chosen.select("lv").distinct().collect()]
    c_exp = c.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lv).alias("lv"),
                        cell_parent("_ccell", lv).alias("_ca"),
                    )
                    for lv in sorted(distinct_lv)
                ]
            )
        ).alias("_a"),
    ).select(
        "neighbor_id", "_cx", "_cy", "_cz",
        F.col("_a.lv").alias("lv"), F.col("_a._ca").alias("_ca"),
    )
    # ancestor at the per-row level: pick from the precomputed chain
    qk = chosen.select(
        "query_id", "lv", "_qx", "_qy", "_qz",
        F.element_at(
            F.array(*[cell_parent("_qcell", lv) for lv in levels]),
            F.col("lv") + 1,
        ).alias("_qa"),
    )
    joined = qk.join(c_exp, (qk["lv"] == c_exp["lv"]) & (qk["_qa"] == c_exp["_ca"]))
    d2 = (
        (F.col("_qx") - F.col("_cx")) * (F.col("_qx") - F.col("_cx"))
        + (F.col("_qy") - F.col("_cy")) * (F.col("_qy") - F.col("_cy"))
        + (F.col("_qz") - F.col("_cz")) * (F.col("_qz") - F.col("_cz"))
    )
    w = Window.partitionBy("query_id").orderBy("chord2", "neighbor_id")
    ranked = (
        joined.withColumn("chord2", d2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "chord2")
    )
    if not exact:
        return ranked

    # 4. certification: kth ring distance strictly below the boundary
    #    lower bound => nothing outside the probed cell can enter the
    #    top-k (ties resolve to the certified side because the bound is
    #    shaved downward and the comparison is strict).
    ranked = ranked.localCheckpoint(eager=True)  # reused by 2 branches
    stats = ranked.groupBy("query_id").agg(
        F.count("*").alias("_n"), F.max("chord2").alias("_kth")
    )
    cert_in = qk.select("query_id", "_qx", "_qy", "_qz", "_qa").join(
        stats, "query_id", "left"
    )
    cert_schema = StructType([
        StructField("query_id", LongType()),
        StructField("certified", BooleanType()),
    ])

    def certify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            lb = _cell_boundary_chord2_lb(
                b["_qx"].to_numpy(np.float64),
                b["_qy"].to_numpy(np.float64),
                b["_qz"].to_numpy(np.float64),
                b["_qa"].to_numpy(np.int64).view(np.uint64),
            )
            n = b["_n"].fillna(0).to_numpy(np.int64)
            kth = b["_kth"].to_numpy(np.float64)  # NaN when no candidates
            ok = (n >= k) & (kth < lb)
            yield pd.DataFrame({
                "query_id": b["query_id"].to_numpy(np.int64),
                "certified": ok,
            })

    cert = cert_in.mapInPandas(certify, cert_schema).localCheckpoint(
        eager=True
    )

    # 5. uncertified residual -> brute completion (full candidate side,
    #    one extra streamed scan; residual query count rides
    #    knn_bruteforce's documented driver bound).
    exact_part = ranked.join(
        cert.filter(F.col("certified")).select("query_id"),
        "query_id", "left_semi",
    )
    resid = chosen.join(
        cert.filter(~F.col("certified")).select("query_id"),
        "query_id", "left_semi",
    )
    brute = knn_bruteforce(
        resid.select(
            "query_id", F.col("_qx").alias("x"),
            F.col("_qy").alias("y"), F.col("_qz").alias("z"),
        ),
        c.select(
            F.col("neighbor_id").alias("cand_id"),
            F.col("_cx").alias("x"), F.col("_cy").alias("y"),
            F.col("_cz").alias("z"),
        ),
        k,
    )
    return exact_part.unionByName(brute)
