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

Refine stage — exact containment per region kind inside an Arrow
boolean ``pandas_udf`` filter; both physical paths call the one
dispatch ``_refine_keep``: chord-angle test for caps (cap.rs:227-237,
one vectorized pass per batch), winding-number PIP for loops
(loop.rs:372-394 via kernels.loops) and polygons, interval algebra for
rects (latlng_rect.rs).  Region parameters ride along as a broadcast
dict (literal path) or joined inline (distributed path).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import cell_parent, cell_parent_sql
from ..kernels import latlng as lk
from ..kernels.caps import S2Cap, radius_l2_from_radians
from .coverings import conservative_coverings, cover_regions, region_from_row

# refined per region group; caps are refined in one batch-wide pass and
# every other kind (union) is kept — the covering decides
_PER_REGION = ["loop", "polygon", "rect"]

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


def _refine_keep(lat_deg, lng_deg, rid, kind, p0, p1, p2,
                 row_of: Callable[[str, int], dict], cache: dict,
                 accs) -> np.ndarray:
    """Exact-refine decision for one Arrow batch of (point, region)
    candidates: the one kind dispatch behind both join paths.

    Per-row inputs: point lat/lng degrees, region_id, and the region's
    kind and p0..p2 (cap center lat/lng and radius, degrees).  Each
    region id is non-null (both paths' candidates come from an
    equi-join or an isNotNull filter on it) and names one geometry.
    Caps are decoded once per distinct region and tested in one
    vectorized pass over every cap row; loops, polygons and rects run
    their kernel per region group, with the adapter built from
    ``row_of(region_id, batch_position)`` and memoized in ``cache``;
    any other kind (union) is kept.  The batch's (total, exact)
    fallback-counter deltas are added to ``accs``."""
    from ..kernels import predicates as _pred

    t0, e0 = _pred.TRIAGE_TOTAL_COUNT, _pred.EXACT_FALLBACK_COUNT
    n = len(rid)
    keep = np.ones(n, dtype=bool)
    if n:
        lat_r = lk.degrees_to_radians(np.asarray(lat_deg, np.float64))
        lng_r = lk.degrees_to_radians(np.asarray(lng_deg, np.float64))
        x, y, z = lk.latlng_to_xyz(lat_r, lng_r)
        codes, uniq = pd.factorize(np.asarray(rid))
        # codes number regions in order of first appearance, so a
        # region's first row is where the running max of codes steps up
        first = np.flatnonzero(
            np.diff(np.maximum.accumulate(codes), prepend=-1))
        kind_u = np.asarray(kind, dtype=object)[first]

        is_cap = (kind_u == "cap")[codes]
        if is_cap.any():
            # decoded per distinct region (non-cap ones decode to NaN
            # and are never gathered), then one cap per cap row
            cx, cy, cz = lk.latlng_to_xyz(
                lk.degrees_to_radians(np.asarray(p0, np.float64)[first]),
                lk.degrees_to_radians(np.asarray(p1, np.float64)[first]))
            r_l2 = radius_l2_from_radians(
                lk.degrees_to_radians(np.asarray(p2, np.float64)[first]))
            c = codes[is_cap]
            keep[is_cap] = S2Cap(cx[c], cy[c], cz[c], r_l2[c]) \
                .contains_points_batch(x[is_cap], y[is_cap], z[is_cap])

        sub = np.flatnonzero(np.isin(kind_u, _PER_REGION)[codes])
        order = sub[np.argsort(codes[sub], kind="stable")]
        for idx in np.split(order, np.flatnonzero(np.diff(codes[order])) + 1):
            if not len(idx):
                continue
            u = codes[idx[0]]
            r = uniq[u]
            if r not in cache:
                if len(cache) > 65536:
                    cache.clear()
                cache[r] = region_from_row(row_of(r, first[u]))
            reg = cache[r]
            if kind_u[u] == "loop":
                keep[idx] = reg.loop.contains_points_batch(
                    x[idx], y[idx], z[idx])
            elif kind_u[u] == "polygon":
                # shell-minus-holes, any-poly (polygon_shape.rs)
                keep[idx] = reg.contains_points_batch(x[idx], y[idx], z[idx])
            else:  # rect
                keep[idx] = reg.rect.contains_latlng_batch(
                    lat_r[idx], lng_r[idx])
    accs[0].add(int(_pred.TRIAGE_TOTAL_COUNT - t0))
    accs[1].add(int(_pred.EXACT_FALLBACK_COUNT - e0))
    return keep


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
    to the unsalted join
    (test_point_in_region_distributed_salted_matches_unsalted pins it).
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
    local[32] vs this approach scaling near-linearly).

    Each region's match is ONE ``F.expr`` parsed from SQL text
    (``cell_parent_sql``), so building the plan costs a few py4j calls
    per region, not one per covering-cell literal (~3,800 for the 7
    headline regions at ``max_cells=64`` as Column literals).  The text
    holds only numbers and the backquoted ``cell_col``; region ids reach
    the plan as ``F.when`` values, never as SQL."""
    region_exprs = []
    for rid, by_level in region_covs.items():
        match = " OR ".join(
            f"({cell_parent_sql(cell_col, lv)}) IN "
            f"({', '.join(f'{c}L' for c in cells)})"
            for lv, cells in sorted(by_level.items())
        )
        # the id is a value argument, a literal on the JVM side
        region_exprs.append(F.when(F.expr(match), rid))
    # Explode the raw when-array and filter nulls AFTER: F.filter is a
    # higher-order function and HOFs are CodegenFallback — the lambda
    # forces the ENTIRE when/InSet array to evaluate interpreted per
    # row.  Explode+IsNotNull keeps every probe inside whole-stage
    # codegen at the cost of #regions null rows through Generate —
    # measured 1.53x faster (6.26 s -> 4.08 s candidates at 4M points x
    # 7 regions, local[32]), output hash-identical.
    # The filter is SQL text: built as a Column, the IsNotNull costs ~25
    # py4j calls; as text, one.
    arr = F.array(*region_exprs)
    return points.select(
        "*", F.explode(arr).alias("region_id")
    ).filter("region_id IS NOT NULL")


DISTRIBUTED_REGION_THRESHOLD = 5000


def _no_matches(points: DataFrame) -> DataFrame:
    # filter(False), not limit(0): limit is unsupported on streaming
    # DataFrames, and both paths serve the streaming wrapper
    # (streaming/spatial.py) when the static region table is empty or
    # uncoverable.
    return points.filter(F.lit(False)).withColumn(
        "region_id", F.lit(None).cast("string")
    )


def point_in_region_join(points: DataFrame, regions: DataFrame,
                         cell_col: str = "cell_id", max_cells: int = 8,
                         refine: bool = True,
                         distributed: bool | None = None) -> DataFrame:
    """points (must carry a leaf ``cell_col``) x regions -> matched pairs.

    Returns the points columns + ``region_id`` for every (point, region)
    whose covering contains the point, refined to exact containment when
    ``refine=True`` (filter-and-refine, SURVEY.md §2.5).

    Physical strategy by region count, chosen by ONE bounded read: with
    ``distributed=None`` the call collects at most
    DISTRIBUTED_REGION_THRESHOLD + 1 region rows, and more rows than the
    threshold pick the distributed path (``distributed=False`` collects
    every row; ``True`` reads nothing here).
    - small region sets (the common case by contract): the rows read
      are covered driver-side by ``conservative_coverings`` (the
      builder ``cover_regions(conservative=True)`` also uses), once per
      call, and compiled to literal-InSet codegen filters (or one
      broadcast equi-join past ~1k cells);
    - large region sets: everything stays in DataFrames — coverings via
      the distributed ``cover_regions`` operator, candidates via the
      ancestor-explode equi-join, and the refine reads region geometry
      joined inline, so NO driver-side collect of regions beyond the
      bounded read ever happens (``point_in_region_join_distributed``).

    The read is one task over every regions partition (``coalesce(1)``),
    so jobs launched inside the call do not depend on how many files or
    partitions the regions frame has: 1 for ``None`` under the
    threshold and for ``False``, 2 for ``True``, 3 for ``None`` past the
    threshold.

    Both paths refine through the one dispatch ``_refine_keep``.
    """
    spark = points.sparkSession
    # coalesce(1): one task reads every partition, so the limited collect
    # is one job (it would otherwise scan one partition, then more rounds)
    if distributed is None:
        rows = (regions.coalesce(1)
                .limit(DISTRIBUTED_REGION_THRESHOLD + 1).collect())
        distributed = len(rows) > DISTRIBUTED_REGION_THRESHOLD
    elif not distributed:
        rows = regions.coalesce(1).collect()
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

    # The regions side is the small side by contract: build the
    # conservative coverings driver-side from the rows already read —
    # this avoids two tiny mapInPandas stages (worker spin-up dominates
    # them) and gives the distinct covering levels for free.
    from ..kernels import cellid as ck

    region_rows = {r["region_id"]: r.asDict() for r in rows}
    region_covs: dict[str, dict[int, list[int]]] = {}
    for rid, ids_u in zip(region_rows, conservative_coverings(
            list(region_rows.values()), max_cells)):
        for cid, lv in zip(ids_u.view(np.int64), ck.level(ids_u)):
            region_covs.setdefault(rid, {}).setdefault(
                int(lv), []).append(int(cid))
    if not region_covs:
        return _no_matches(points)

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
        cand = _ancestor_candidates(points, coverings, levels, cell_col,
                                    broadcast=True)
    if not refine:
        return cand

    bc = spark.sparkContext.broadcast(region_rows)
    # kind and cap parameters per region id: the per-row columns of the
    # refine dispatch are one hash lookup per candidate away
    geo = pd.DataFrame.from_dict(region_rows, orient="index").reindex(
        columns=["kind", "p0", "p1", "p2"])

    # Fleet-wide exact-arithmetic fallback accounting (BASELINE sanity
    # target: < 1% of predicate evaluations).  Read after an action via
    # ``last_fallback_rate()``.
    accs = _session_accumulators(spark)

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
        g = geo.reindex(rid.to_numpy())
        kind, p0, p1, p2 = (g[c].to_numpy() for c in geo.columns)
        return pd.Series(_refine_keep(
            lat, lng, rid, kind, p0, p1, p2,
            lambda r, _i: bc.value[r], regions_cache, accs,
        ))

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
       parallel on the regions side, computed ONCE per call: the
       distinct-levels read materializes a lazy ``localCheckpoint``
       that the candidate join then scans, so the covering never
       re-runs inside the candidate job;
    2. candidates via the ancestor-explode equi-join (the only data
       that reaches the driver is the <= 31 distinct covering levels);
    3. refine joins region geometry inline on region_id (AQE picks
       broadcast vs shuffle by size) and evaluates the exact kernels
       per (batch x region) group inside one Arrow boolean filter.

    Jobs launched inside the call: 2, the levels read's shuffle-map
    job (which also computes and stores the covering) and its result
    job; then the caller's action.  Coverings are not cached across
    calls: a rewritten regions path must never meet a stale covering.

    ``n_salts > 0`` engages explicit deterministic salting of hot
    covering cells in step 2 (see ``_ancestor_candidates``) — for the
    one-region-covers-half-the-points skew regime on AQE-disabled
    clusters.  Defaults off; output is identical either way.
    """
    spark = points.sparkSession
    # A lazy localCheckpoint: the distinct-levels collect is the job
    # that computes the covering and stores its blocks, and the
    # candidate join reads those blocks instead of re-running it.
    # localCheckpoint rather than persist(): the ContextCleaner frees
    # the blocks once the frame goes out of scope, so repeated calls in
    # a long-lived session leave no cacheManager entry to unpersist
    # (the operators/knn.py idiom).
    covs = cover_regions(
        regions, max_cells=max_cells, conservative=True
    ).select("region_id", "cell_id", "level").localCheckpoint(eager=False)
    levels = sorted(
        r["level"] for r in covs.select("level").distinct().collect()
    )
    if not levels:
        return _no_matches(points)
    cand = _ancestor_candidates(
        points, covs.select("region_id", "cell_id"), levels, cell_col,
        broadcast=False, n_salts=n_salts, hot_cells=hot_cells,
    )
    if not refine:
        return cand

    accs = _session_accumulators(spark)
    geom_cols = [
        c for c in ("kind", "p0", "p1", "p2", "p3",
                    "vertices", "cell_ids", "loops")
        if c in regions.columns
    ]
    geom = regions.select("region_id", *geom_cols)
    joined = cand.join(geom, "region_id")
    out_cols = cand.columns

    # Same Arrow-boolean-filter form and refine dispatch as the literal
    # path: geometry and coordinates ship to Python ONE way and a single
    # bool comes back — the candidate's payload columns never cross
    # Arrow.  (Geometry must still ride the join here: no driver-side
    # collect of regions on this path, by contract.)
    from pyspark.sql.functions import pandas_udf as _pandas_udf
    from pyspark.sql.types import BooleanType as _BooleanType

    regions_cache: dict[str, object] = {}

    @_pandas_udf(_BooleanType())
    def _keep(*cols: pd.Series) -> pd.Series:
        lat, lng, rid = cols[0], cols[1], cols[2]
        geo = dict(zip(geom_cols, cols[3:]))

        def row_of(r, i):
            row = {c: geo[c].iloc[i] for c in geom_cols}
            row["region_id"] = r
            return row

        return pd.Series(_refine_keep(
            lat, lng, rid, geo["kind"], geo.get("p0"), geo.get("p1"),
            geo.get("p2"), row_of, regions_cache, accs,
        ))

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
    b = loops_b.filter(F.col("kind") == "loop").select(
        F.col(b_id_col).alias("region_id"), "kind", "vertices"
    )
    matched = point_in_region_join(
        _loop_vertices_as_points(b, "b_id"), regions_a, max_cells=max_cells
    )
    counts = matched.groupBy("region_id", "b_id").agg(
        F.expr("count(*)").alias("_n_in")
    )
    sizes = b.select(
        F.col("region_id").alias("b_id"), F.size("vertices").alias("_n_b")
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
