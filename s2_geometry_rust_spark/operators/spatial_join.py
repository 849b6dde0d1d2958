"""Point-in-region spatial join: filter-and-refine over cell coverings.

Filter stage — the scale-critical part.  A covering cell C contains a
point p iff ``parent(p.cell_id, level(C)) == C`` (cell_id.rs:355-357
range containment, re-expressed as ancestor equality).  So instead of a
range/theta join (which Spark executes as a nested-loop), we:

1. collect the *distinct levels* present in the covering table (tiny:
   <= 31 values, typically <= 8),
2. explode each point into one row per distinct level with its ancestor
   at that level — a pure codegen bit expression, fan-out = #levels,
3. hash-equi-join ancestors against ``broadcast(coverings)`` on exact
   cell-id equality.

No shuffle of the big side, no nested loop, and Catalyst prunes/pushes
everything around the join.  For covering tables too large to broadcast
there's a shuffle variant (same keys, sort-merge).

Refine stage — exact containment per region kind, vectorized per
(batch x region) group inside one ``mapInPandas``: winding-number PIP
for loops (loop.rs:372-394 via kernels.loops), chord-angle test for
caps (cap.rs:227-237), interval algebra for rects (latlng_rect.rs).
Region parameters ride along as a broadcast dict.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import cell_parent
from ..kernels import latlng as lk
from .coverings import region_from_row

_REFINABLE = {"loop", "cap", "rect", "polygon"}

# Conservative coverings are deterministic per (region, max_cells);
# repeated joins against the same region set (interactive use, the
# bench loop, incremental batches) skip recomputation entirely.
_COVERING_CACHE: dict = {}

# One (total, exact) accumulator pair per SparkContext, keyed by the
# context's applicationId: registering a fresh pair per join call leaks
# accumulators, and pairs from a stopped context must never be read
# (bench.py-style create/stop cycles made PythonAccumulatorV2.merge
# throw against dead sockets).  See last_fallback_rate().
FALLBACK_ACCUMULATORS: dict = {}


def _session_accumulators(spark):
    sc = spark.sparkContext
    app_id = sc.applicationId
    entry = FALLBACK_ACCUMULATORS.get("entry")
    if entry is None or entry[0] != app_id:
        FALLBACK_ACCUMULATORS["entry"] = (
            app_id, sc.accumulator(0), sc.accumulator(0), sc
        )
    return FALLBACK_ACCUMULATORS["entry"][1:3]


def _region_cache_key(row: dict) -> tuple:
    def _freeze(v):
        if isinstance(v, list):
            return tuple(_freeze(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, _freeze(x)) for k, x in v.items()))
        if hasattr(v, "asDict"):
            return tuple(sorted((k, _freeze(x)) for k, x in v.asDict().items()))
        return v

    return tuple(sorted((k, _freeze(v)) for k, v in row.items()))


def _ancestor_candidates(points: DataFrame, coverings: DataFrame,
                         levels: list[int], cell_col: str,
                         broadcast: bool, n_salts: int = 0,
                         hot_cells: list | None = None) -> DataFrame:
    """Join-based candidate generation for covering tables too large to
    inline as literals: explode each point into one ancestor per
    distinct covering level and hash-join on exact cell equality.

    Skew: when one region covers a large share of the points, its (at
    most ``max_cells``) covering cells become hot join keys — with a
    shuffle (sort-merge) join, 50% of rows can land on <= 64 reducer
    keys.  AQE skew-join splitting is the default backstop; pass
    ``n_salts > 0`` (with the hot cell ids, or None to auto-detect via
    a sampled pass) for the explicit deterministic variant that also
    holds on AQE-disabled clusters: hot fact rows take
    salt = pmod(xxhash64(row), n_salts) — a pure row function, so
    retries/resume repartition identically — and the covering side
    replicates hot cells n_salts times.  Output is provably identical
    to the unsalted join (tools/pip_skew_soak.py measures the
    per-partition histogram before/after on a 50%-hot-region corpus).
    """
    anc = F.explode(
        F.array(*[cell_parent(cell_col, lv) for lv in sorted(levels)])
    ).alias("_anc")
    pts = points.select("*", anc)
    if n_salts > 0 and not broadcast:
        from ..plans.salting import salted_join

        cov = coverings.select(
            F.col("cell_id").alias("_anc"), "region_id"
        )
        return salted_join(
            pts, cov, "_anc", n_salts=n_salts, hot=hot_cells
        ).drop("_anc")
    cov = coverings.select(
        F.col("cell_id").alias("_cov_cell"), "region_id"
    )
    if broadcast:
        cov = F.broadcast(cov)
    out = pts.join(cov, pts["_anc"] == cov["_cov_cell"]).drop("_anc", "_cov_cell")
    # A normalized covering has non-overlapping cells, so a point matches
    # at most one cell per region — no dedup needed per region.
    return out


def _literal_candidates(points: DataFrame,
                        region_covs: dict[str, dict[int, list[int]]],
                        cell_col: str) -> DataFrame:
    """Pure-codegen candidate generation: the coverings are compiled
    into InSet literals — one `parent(cell, L) IN (...)` per (region,
    level), OR-ed per region, then a filtered explode emits (point,
    region_id) pairs.  No broadcast machinery at all: in local[N] and
    on real clusters alike this stays inside whole-stage codegen (the
    per-task broadcast-value access in BroadcastHashJoin serializes
    badly at high task counts — measured 4x wall-time inflation at
    local[32] vs this approach scaling near-linearly)."""
    region_exprs = []
    for rid, by_level in region_covs.items():
        match = None
        for lv, cells in sorted(by_level.items()):
            e = cell_parent(cell_col, lv).isin(cells)
            match = e if match is None else (match | e)
        region_exprs.append(
            F.when(match, F.lit(rid)).otherwise(F.lit(None))
        )
    # Explode the raw when-array and filter nulls AFTER: F.filter is a
    # higher-order function and HOFs are CodegenFallback — the lambda
    # forces the ENTIRE when/InSet array to evaluate interpreted per
    # row.  Explode+IsNotNull keeps every probe inside whole-stage
    # codegen at the cost of #regions null rows through Generate —
    # measured 1.53x faster (6.26 s -> 4.08 s candidates at 4M points x
    # 7 regions, local[32]), output hash-identical.
    arr = F.array(*region_exprs)
    return points.select(
        "*", F.explode(arr).alias("region_id")
    ).filter(F.col("region_id").isNotNull())


DISTRIBUTED_REGION_THRESHOLD = 5000


def point_in_region_join(points: DataFrame, regions: DataFrame,
                         cell_col: str = "cell_id", max_cells: int = 8,
                         refine: bool = True,
                         broadcast: bool = True,
                         distributed: bool | None = None) -> DataFrame:
    """points (must carry a leaf ``cell_col``) x regions -> matched pairs.

    Returns the points columns + ``region_id`` for every (point, region)
    whose covering contains the point, refined to exact containment when
    ``refine=True`` (filter-and-refine, SURVEY.md §2.5).

    Physical strategy by region count:
    - small region sets (the common case by contract): coverings are
      built and memoized driver-side and compiled to literal-InSet
      codegen filters (or one broadcast equi-join past ~1k cells) —
      fastest, no extra jobs;
    - large region sets (``distributed=True``, or auto past
      DISTRIBUTED_REGION_THRESHOLD when ``distributed=None``, which
      costs one count() probe job on the regions side): everything
      stays in DataFrames — coverings via the distributed
      ``cover_regions`` operator, materialized once per call, candidates
      via the ancestor-explode equi-join, and the refine reads region
      geometry joined inline, so NO driver-side collect of regions ever
      happens.  Jobs: probe, covering plus levels, then the caller's
      action (see ``point_in_region_join_distributed``).
    """
    spark = points.sparkSession
    if distributed is None:
        distributed = regions.limit(
            DISTRIBUTED_REGION_THRESHOLD + 1
        ).count() > DISTRIBUTED_REGION_THRESHOLD
    if distributed:
        # Covering budget floor: at high region cardinality a tight
        # budget is the scale killer, not a saving — the level-
        # synchronous coverer stops at FACE-level cells for regions
        # straddling face corners (4 faces x 4 children > 8), and one
        # face-level covering cell admits ~1/24 of every point in the
        # corpus.  Measured on 10k caps x 100k points: max_cells=8 ->
        # 31.2M candidates / 321s; max_cells=64 -> 434k candidates /
        # 6.1s, identical output.
        return point_in_region_join_distributed(
            points, regions, cell_col=cell_col,
            max_cells=max(max_cells, 64), refine=refine,
        )

    # The regions side is the small side by contract; collect once and
    # build the conservative coverings driver-side — this avoids two
    # tiny mapInPandas stages (worker spin-up dominates them) and gives
    # the distinct covering levels for free.
    import numpy as np

    from ..kernels import cellid as ck
    from .coverings import (
        cap_coverings_batch,
        conservative_covering,
        conservative_region_from_row,
    )

    def _by_level_of(ids_u: np.ndarray) -> dict[int, list[int]]:
        lvls = ck.level(ids_u)
        by_level: dict[int, list[int]] = {}
        for cid, lv in zip(ids_u.view(np.int64), lvls):
            by_level.setdefault(int(lv), []).append(int(cid))
        return by_level

    def _cache_put(key, by_level) -> None:
        if len(_COVERING_CACHE) > 4096:
            _COVERING_CACHE.clear()
        _COVERING_CACHE[key] = by_level

    region_rows = {r["region_id"]: r.asDict() for r in regions.collect()}

    # Batch all uncached cap rows through the level-synchronous batched
    # kernel first (identical per-cap results; one vectorized loop for
    # the whole set instead of ~20 ms of Python per cap — the driver
    # path stays fast right up to the distributed-path threshold).
    uncached_caps = []
    for rid, row in region_rows.items():
        key = (_region_cache_key(row), max_cells)
        if row["kind"] == "cap" and key not in _COVERING_CACHE:
            uncached_caps.append((row, key))
    if uncached_caps:
        caps = [region_from_row(row).cap for row, _ in uncached_caps]
        for (_, key), ids_u in zip(
            uncached_caps, cap_coverings_batch(caps, max_cells=max_cells)
        ):
            _cache_put(key, _by_level_of(np.asarray(ids_u, np.uint64)))

    region_covs: dict[str, dict[int, list[int]]] = {}
    for rid, row in region_rows.items():
        key = (_region_cache_key(row), max_cells)
        by_level = _COVERING_CACHE.get(key)
        if by_level is None:
            ids_u = np.asarray(
                conservative_covering(
                    conservative_region_from_row(row), max_cells=max_cells
                ),
                np.uint64,
            )
            by_level = _by_level_of(ids_u)
            _cache_put(key, by_level)
        if by_level:
            region_covs[rid] = by_level
    if not region_covs:
        # filter(False), not limit(0): limit is unsupported on streaming
        # DataFrames, and this path must also serve the streaming
        # wrapper (streaming/spatial.py) when the static region table
        # is empty or uncoverable.
        return points.filter(F.lit(False)).withColumn(
            "region_id", F.lit(None).cast("string")
        )

    # Literal InSet compilation wins while the expression stays inside
    # whole-stage codegen; past ~1k covering cells the generated method
    # exceeds JIT limits and falls back to interpreted evaluation
    # (measured 16x slower at 150 regions) — switch to the
    # ancestor-explode equi-join instead.
    total_cells = sum(
        len(cells) for by in region_covs.values() for cells in by.values()
    )
    if total_cells <= 1000:
        cand = _literal_candidates(points, region_covs, cell_col)
    else:
        cov_rows = [
            (rid, cid, lv)
            for rid, by in region_covs.items()
            for lv, cells in by.items()
            for cid in cells
        ]
        coverings = spark.createDataFrame(
            cov_rows, "region_id string, cell_id long, level int"
        ).coalesce(1)
        levels = sorted({lv for _, _, lv in cov_rows})
        cand = _ancestor_candidates(points, coverings, levels, cell_col, broadcast)
    if not refine:
        return cand

    bc = spark.sparkContext.broadcast(region_rows)

    # Fleet-wide exact-arithmetic fallback accounting (BASELINE sanity
    # target: < 1% of predicate evaluations).  Read after an action via
    # ``last_fallback_rate()``.
    acc_total, acc_exact = _session_accumulators(spark)

    # Refine as a BOOLEAN Arrow pandas_udf filter, not mapInPandas: the
    # exact kernels only read (lat, lng, region_id), so those three
    # columns are all that crosses to Python (one way, plus one bool
    # back) while every other candidate column stays JVM-side.  An
    # identity mapInPandas over the same candidates measured 4.3 s of
    # pure Arrow round-trip at 10.7M candidate rows (local[32]) — the
    # refine COMPUTE is negligible; this form cut the full join 6.9 s ->
    # 3.3 s, output hash-identical.  ExtractPythonUDFs splits the
    # filter so the null-region rows from the candidate explode never
    # reach the udf.
    from pyspark.sql.functions import pandas_udf as _pandas_udf
    from pyspark.sql.types import BooleanType as _BooleanType

    regions_cache: dict[str, object] = {}

    @_pandas_udf(_BooleanType())
    def _keep(lat: pd.Series, lng: pd.Series, rid: pd.Series) -> pd.Series:
        from ..kernels import predicates as _pred

        rows = bc.value
        t0, e0 = _pred.TRIAGE_TOTAL_COUNT, _pred.EXACT_FALLBACK_COUNT
        n = len(lat)
        keep = np.zeros(n, dtype=bool)
        if n:
            lat_r = lk.degrees_to_radians(lat.to_numpy(np.float64))
            lng_r = lk.degrees_to_radians(lng.to_numpy(np.float64))
            x, y, z = lk.latlng_to_xyz(lat_r, lng_r)
            for r, idx in rid.groupby(rid).indices.items():
                row = rows.get(r)
                if row is None or row["kind"] not in _REFINABLE:
                    keep[idx] = True  # no exact test — covering decides
                    continue
                if r not in regions_cache:
                    if len(regions_cache) > 65536:
                        regions_cache.clear()
                    regions_cache[r] = region_from_row(row)
                reg = regions_cache[r]
                if row["kind"] == "loop":
                    keep[idx] = reg.loop.contains_points_batch(
                        x[idx], y[idx], z[idx])
                elif row["kind"] == "cap":
                    keep[idx] = reg.cap.contains_points_batch(
                        x[idx], y[idx], z[idx])
                elif row["kind"] == "polygon":
                    # shell-minus-holes, any-poly (polygon_shape.rs)
                    keep[idx] = reg.contains_points_batch(
                        x[idx], y[idx], z[idx])
                else:  # rect
                    keep[idx] = reg.rect.contains_latlng_batch(
                        lat_r[idx], lng_r[idx])
        acc_total.add(int(_pred.TRIAGE_TOTAL_COUNT - t0))
        acc_exact.add(int(_pred.EXACT_FALLBACK_COUNT - e0))
        return pd.Series(keep)

    return cand.filter(_keep(F.col("lat"), F.col("lng"), F.col("region_id")))


def point_in_region_join_distributed(points: DataFrame, regions: DataFrame,
                                     cell_col: str = "cell_id",
                                     max_cells: int = 64,
                                     refine: bool = True,
                                     n_salts: int = 0,
                                     hot_cells: list | None = None) -> DataFrame:
    """Fully-distributed filter-and-refine for LARGE region tables
    (10^4+ regions): no driver-side collect of regions anywhere.

    1. coverings via the distributed ``cover_regions`` operator
       (conservative=True — sound join filters), embarrassingly
       parallel on the regions side, materialized ONCE per call with
       ``localCheckpoint(eager=True)``: the distinct-levels read and
       the candidate join both scan that frame, so the covering never
       re-runs inside the candidate job;
    2. candidates via the ancestor-explode equi-join (the only data
       that reaches the driver is the <= 31 distinct covering levels);
    3. refine joins region geometry inline on region_id (AQE picks
       broadcast vs shuffle by size) and evaluates the exact kernels
       per (batch x region) group inside one Arrow boolean filter.

    Jobs per call: the covering (checkpoint) plus the distinct levels,
    then the caller's action.  Coverings are not cached across calls:
    a rewritten regions path must never meet a stale covering.

    ``n_salts > 0`` engages explicit deterministic salting of hot
    covering cells in step 2 (see ``_ancestor_candidates``) — for the
    one-region-covers-half-the-points skew regime on AQE-disabled
    clusters.  Defaults off; output is identical either way.
    """
    from .coverings import cover_regions, region_from_row

    spark = points.sparkSession
    # localCheckpoint rather than persist(): the ContextCleaner frees
    # the blocks once the frame goes out of scope, so repeated calls in
    # a long-lived session leave no cacheManager entry to unpersist
    # (the operators/knn.py idiom).
    covs = cover_regions(
        regions, max_cells=max_cells, conservative=True
    ).select("region_id", "cell_id", "level").localCheckpoint(eager=True)
    levels = sorted(
        r["level"] for r in covs.select("level").distinct().collect()
    )
    if not levels:
        # filter(False), not limit(0): a streaming DataFrame does not
        # take limit in every output mode (same rule as the literal path)
        return points.filter(F.lit(False)).withColumn(
            "region_id", F.lit(None).cast("string")
        )
    cand = _ancestor_candidates(
        points, covs.select("region_id", "cell_id"), levels, cell_col,
        broadcast=False, n_salts=n_salts, hot_cells=hot_cells,
    )
    if not refine:
        return cand

    acc_total, acc_exact = _session_accumulators(spark)
    geom_cols = [
        c for c in ("kind", "p0", "p1", "p2", "p3",
                    "vertices", "cell_ids", "loops")
        if c in regions.columns
    ]
    geom = regions.select("region_id", *geom_cols)
    joined = cand.join(geom, "region_id")
    out_cols = cand.columns

    # Same Arrow-boolean-filter form as the literal path: geometry and
    # coordinates ship to Python ONE way and a single bool comes back —
    # the candidate's payload columns never cross Arrow.  (Geometry
    # must still ride the join here: no driver-side collect of regions
    # on this path, by contract.)
    from pyspark.sql.functions import pandas_udf as _pandas_udf
    from pyspark.sql.types import BooleanType as _BooleanType

    regions_cache: dict[str, object] = {}

    @_pandas_udf(_BooleanType())
    def _keep(*cols: pd.Series) -> pd.Series:
        from ..kernels import chord as _chord
        from ..kernels import predicates as _pred

        lat, lng, rid = cols[0], cols[1], cols[2]
        geo = dict(zip(geom_cols, cols[3:]))
        kind_s = geo["kind"]
        t0, e0 = _pred.TRIAGE_TOTAL_COUNT, _pred.EXACT_FALLBACK_COUNT
        n = len(lat)
        keep = np.zeros(n, dtype=bool)
        if n:
            lat_r = lk.degrees_to_radians(lat.to_numpy(np.float64))
            lng_r = lk.degrees_to_radians(lng.to_numpy(np.float64))
            x, y, z = lk.latlng_to_xyz(lat_r, lng_r)
            for kind, kidx in kind_s.groupby(kind_s).indices.items():
                if kind == "cap":
                    # one vectorized pass over EVERY cap row in the
                    # batch — per-region grouping would pay pandas/
                    # Python overhead per tiny group at high region
                    # cardinality (the distance-join shape)
                    clat = lk.degrees_to_radians(
                        geo["p0"].iloc[kidx].to_numpy(np.float64))
                    clng = lk.degrees_to_radians(
                        geo["p1"].iloc[kidx].to_numpy(np.float64))
                    cx, cy, cz = lk.latlng_to_xyz(clat, clng)
                    r_l2 = _chord.from_radians(lk.degrees_to_radians(
                        geo["p2"].iloc[kidx].to_numpy(np.float64)))
                    d2 = _chord.between_points(
                        cx, cy, cz, x[kidx], y[kidx], z[kidx])
                    keep[kidx] = d2 <= r_l2
                    continue
                if kind not in _REFINABLE:
                    keep[kidx] = True
                    continue
                rsub = rid.iloc[kidx]
                for r, ridx_local in rsub.groupby(rsub).indices.items():
                    idx = kidx[ridx_local]
                    if r not in regions_cache:
                        if len(regions_cache) > 65536:
                            regions_cache.clear()
                        i0 = idx[0]
                        row = {c: geo[c].iloc[i0] for c in geom_cols}
                        row["region_id"] = r
                        regions_cache[r] = region_from_row(row)
                    reg = regions_cache[r]
                    if kind == "loop":
                        keep[idx] = reg.loop.contains_points_batch(
                            x[idx], y[idx], z[idx])
                    elif kind == "polygon":
                        keep[idx] = reg.contains_points_batch(
                            x[idx], y[idx], z[idx])
                    else:  # rect
                        keep[idx] = reg.rect.contains_latlng_batch(
                            lat_r[idx], lng_r[idx])
        acc_total.add(int(_pred.TRIAGE_TOTAL_COUNT - t0))
        acc_exact.add(int(_pred.EXACT_FALLBACK_COUNT - e0))
        return pd.Series(keep)

    args = [F.col("lat"), F.col("lng"), F.col("region_id")] + [
        F.col(c) for c in geom_cols
    ]
    return joined.filter(_keep(*args)).select(*out_cols)


def last_fallback_rate() -> float | None:
    """Exact-arithmetic fallback rate accumulated over this session's
    point_in_region_join actions (None before any action, and None once
    the owning SparkContext has been stopped)."""
    entry = FALLBACK_ACCUMULATORS.get("entry")
    if entry is None:
        return None
    _, total, exact, sc = entry
    if getattr(sc, "_jsc", None) is None or sc._jsc.sc().isStopped():
        return None
    if total.value == 0:
        return None
    return exact.value / total.value


def point_in_rect_join(points: DataFrame, rects: DataFrame) -> DataFrame:
    """Pure-JVM variant for lat/lng rectangles (latlng_rect.rs:297-341
    interval algebra incl. the circular-longitude branch): broadcast
    cross join + codegen predicates.  Used when regions are rects only —
    fully SQL-expressible, hence oracle-checkable.

    rects: (region_id, lat_lo, lat_hi, lng_lo, lng_hi) in degrees;
    lng_lo > lng_hi means the interval wraps the antimeridian.
    points: must carry lat/lng degree columns.
    """
    r = F.broadcast(rects)
    lat_ok = F.col("lat").between(F.col("lat_lo"), F.col("lat_hi"))
    wraps = F.col("lng_lo") > F.col("lng_hi")
    lng_ok = F.when(
        wraps, (F.col("lng") >= F.col("lng_lo")) | (F.col("lng") <= F.col("lng_hi"))
    ).otherwise(F.col("lng").between(F.col("lng_lo"), F.col("lng_hi")))
    return points.join(r, lat_ok & lng_ok)


def distance_join(points: DataFrame, centers: DataFrame,
                  radius_chord2: float,
                  point_xyz=("x", "y", "z"),
                  center_xyz=("cx", "cy", "cz")) -> DataFrame:
    """Distance-threshold theta-join on squared chord length
    (chord_angle.rs:90-95: |p-q|^2 <= r2) — broadcast small centers,
    codegen arithmetic only; exactly reproducible in SQL."""
    px, py, pz = (F.col(c) for c in point_xyz)
    cx, cy, cz = (F.col(c) for c in center_xyz)
    d2 = (
        (px - cx) * (px - cx)
        + (py - cy) * (py - cy)
        + (pz - cz) * (pz - cz)
    )
    return points.join(F.broadcast(centers), d2 <= F.lit(radius_chord2)).withColumn(
        "chord2", d2
    )


def region_containment_join(regions_a: DataFrame, loops_b: DataFrame,
                            b_id_col: str = "region_id",
                            max_cells: int = 64) -> DataFrame:
    """Region-contains-loop join at table scale: (a_id, b_id) for every
    region A containing ALL vertices of loop B — the reference's
    vertex-containment semantics (loop.rs:397-415 contains_loop; its
    edge-crossing completion is a pinned TODO, SURVEY §8), lifted from a
    scalar kernel to a join.

    Plan: explode B's vertices into points (codegen), run the standard
    filter-and-refine point-in-region join (covering filter + exact
    kernel refine — the same scale path as point_in_region), then a
    count-equality aggregate: A contains B iff every one of B's
    n_vertices matched.  No pairwise region x region work ever happens;
    the only shuffle keys are covering cells and (a, b) pairs.
    """
    from ..functions import cell_id_from_latlng_deg

    verts = (
        loops_b.filter(F.col("kind") == "loop")
        .select(
            F.col(b_id_col).alias("b_id"),
            F.posexplode("vertices").alias("v_idx", "v"),
        )
        .select(
            "b_id", "v_idx",
            F.col("v.lat").cast("double").alias("lat"),
            F.col("v.lng").cast("double").alias("lng"),
        )
        .withColumn("cell_id", cell_id_from_latlng_deg("lat", "lng"))
    )
    matched = point_in_region_join(verts, regions_a, max_cells=max_cells)
    counts = matched.groupBy("region_id", "b_id").agg(
        F.count("*").alias("_n_in")
    )
    sizes = loops_b.filter(F.col("kind") == "loop").select(
        F.col(b_id_col).alias("b_id"), F.size("vertices").alias("_n_b")
    )
    return (
        counts.join(sizes, "b_id")
        .filter(F.col("_n_in") == F.col("_n_b"))
        .select(F.col("region_id").alias("a_id"), "b_id")
    )


def _loop_vertices_as_points(loops: DataFrame, id_alias: str) -> DataFrame:
    from ..functions import cell_id_from_latlng_deg

    return (
        loops.filter(F.col("kind") == "loop")
        .select(
            F.col("region_id").alias(id_alias),
            F.posexplode("vertices").alias("v_idx", "v"),
        )
        .select(
            id_alias, "v_idx",
            F.col("v.lat").cast("double").alias("lat"),
            F.col("v.lng").cast("double").alias("lng"),
        )
        .withColumn("cell_id", cell_id_from_latlng_deg("lat", "lng"))
    )


def loop_intersection_join(loops_a: DataFrame, loops_b: DataFrame,
                           strict: bool = False) -> DataFrame:
    """Loop-intersects-loop join at table scale: (a_id, b_id) whenever
    ANY vertex of B lies in A or ANY vertex of A lies in B — the
    reference's mutual vertex-probing semantics (loop.rs:418-441;
    edge-crossing completion is a pinned reference TODO), lifted from
    the scalar kernel to a join.

    Plan: two filter-and-refine point joins (B-verts x A-regions and
    A-verts x B-regions — the standard covering scale path), then a
    distinct union of the pair keys.  Empty/full special cases are out
    of scope (fixture loops are always proper); use the kernel for
    those.

    ``strict=True`` (opt-in, default preserves reference parity) adds
    the edge-crossing completion the reference left TODO: a third leg
    unions in every pair whose boundaries properly cross
    (kernels.predicates.crossing_sign_complete_batch — the
    geometrically complete rule), catching loops that intersect
    without containing each other's vertices.  See
    loop_edge_crossing_pairs for the leg's plan shape.
    """
    d1 = (
        point_in_region_join(
            _loop_vertices_as_points(loops_b, "b_id"), loops_a
        )
        .select(F.col("region_id").alias("a_id"), "b_id")
    )
    d2 = (
        point_in_region_join(
            _loop_vertices_as_points(loops_a, "a_id"), loops_b
        )
        .select("a_id", F.col("region_id").alias("b_id"))
    )
    out = d1.unionByName(d2)
    if strict:
        out = out.unionByName(loop_edge_crossing_pairs(loops_a, loops_b))
    return out.dropDuplicates(["a_id", "b_id"])


def _loop_edges_latlng(loops: DataFrame, id_alias: str,
                       prefix: str) -> DataFrame:
    """Closed-loop edge table in degrees: one row per directed edge
    (v_i -> v_{i+1 mod n}), built with pure codegen array ops (no
    Python).  xyz conversion happens later inside the Arrow refine so
    engine trig matches the numpy-literal oracle exactly."""
    n = F.size("vertices")
    i = F.sequence(F.lit(0), n - F.lit(1))
    edges = F.transform(
        i,
        lambda k: F.struct(
            F.element_at("vertices", k + 1)["lat"].alias("lat0"),
            F.element_at("vertices", k + 1)["lng"].alias("lng0"),
            F.element_at("vertices", (k + 1) % n + 1)["lat"].alias("lat1"),
            F.element_at("vertices", (k + 1) % n + 1)["lng"].alias("lng1"),
        ),
    )
    return (
        loops.filter(F.col("kind") == "loop")
        .select(F.col("region_id").alias(id_alias),
                F.explode(edges).alias("_e"))
        .select(
            id_alias,
            F.col("_e.lat0").alias(f"{prefix}lat0"),
            F.col("_e.lng0").alias(f"{prefix}lng0"),
            F.col("_e.lat1").alias(f"{prefix}lat1"),
            F.col("_e.lng1").alias(f"{prefix}lng1"),
        )
    )


def loop_edge_crossing_pairs(loops_a: DataFrame,
                             loops_b: DataFrame) -> DataFrame:
    """(a_id, b_id) pairs whose loop boundaries PROPERLY cross —
    the strict-mode crossing leg.

    Plan: explode both sides into per-edge rows (codegen array ops),
    pair A edges against the broadcast B edge table (documented
    literal-dimension theta join: region tables are small dims — 3-30
    fixture rows, tens of edges; at data scale use the level-keyed
    candidate path in operators/shape_index.edge_crossing_join
    instead), refine with the complete crossing predicate inside one
    Arrow batch, and distinct the surviving pair keys."""
    from ..kernels import predicates as pred
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    ea = _loop_edges_latlng(loops_a, "a_id", "a_")
    eb = _loop_edges_latlng(loops_b, "b_id", "b_")
    pairs = ea.crossJoin(F.broadcast(eb))
    schema = StructType([
        StructField("a_id", StringType()),
        StructField("b_id", StringType()),
        StructField("crossing", IntegerType()),
    ])

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for p in batches:
            if len(p) == 0:
                continue
            def xyz(lat_col: str, lng_col: str) -> np.ndarray:
                lat = lk.degrees_to_radians(p[lat_col].to_numpy(np.float64))
                lng = lk.degrees_to_radians(p[lng_col].to_numpy(np.float64))
                x, y, z = lk.latlng_to_xyz(lat, lng)
                return np.stack([x, y, z], axis=1)

            cr = pred.crossing_sign_complete_batch(
                xyz("a_lat0", "a_lng0"), xyz("a_lat1", "a_lng1"),
                xyz("b_lat0", "b_lng0"), xyz("b_lat1", "b_lng1"),
            )
            yield pd.DataFrame({
                "a_id": p["a_id"], "b_id": p["b_id"],
                "crossing": cr.astype(np.int32),
            })

    return (
        pairs.mapInPandas(refine, schema)
        .filter(F.col("crossing") == 1)
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
