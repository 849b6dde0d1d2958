"""Round-3 session-6 additions: multi-level tile pyramid, trajectory
hop statistics — semantic ground truth computed independently in
python/numpy (the DuckDB oracle covers SQL parity in the contract
check)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def test_tile_pyramid_matches_per_level_counts(spark):
    """The one-pass GROUPING SETS pyramid must equal the per-level
    tile_counts run separately."""
    from contract.engine_queries import leaf_assign
    from s2_geometry_rust_spark.operators.tiling import (
        tile_counts,
        tile_pyramid,
    )

    pts = leaf_assign(spark, "/root/testdata/sf0.001")
    pyr = tile_pyramid(pts, levels=(4, 8, 12)).collect()
    total = pts.count()
    by_level = {}
    for r in pyr:
        by_level.setdefault(r["level"], {})[r["tile_id"]] = r["n_points"]
    assert set(by_level) == {4, 8, 12}
    for lv in (4, 8, 12):
        # every level's pyramid slice partitions the full point set
        assert sum(by_level[lv].values()) == total
        want = {
            r["tile_id"]: r["n_points"]
            for r in tile_counts(pts, lv).collect()
        }
        assert by_level[lv] == want


def test_tile_pyramid_single_pass_plan(spark):
    """One Expand node and one shuffle — not one scan per level."""
    from contract.engine_queries import leaf_assign
    from s2_geometry_rust_spark.operators.tiling import tile_pyramid

    pts = leaf_assign(spark, "/root/testdata/sf0.001")
    plan = tile_pyramid(pts)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1
    assert plan.count("FileScan parquet") == 1


def test_trajectory_stats_numpy_parity(spark):
    rng = np.random.default_rng(7)
    rows = []
    for tid in range(20):
        n = int(rng.integers(1, 6))
        for s in range(n):
            v = rng.normal(size=3)
            v /= np.linalg.norm(v)
            rows.append((tid, s, float(v[0]), float(v[1]), float(v[2])))
    df = spark.createDataFrame(rows, ["traj_id", "seq", "x", "y", "z"])

    from s2_geometry_rust_spark.operators.geom_aggs import trajectory_stats

    got = {r["traj_id"]: r for r in trajectory_stats(df).collect()}

    import collections

    by_traj = collections.defaultdict(list)
    for tid, s, x, y, z in rows:
        by_traj[tid].append((s, np.array([x, y, z])))
    for tid, fixes in by_traj.items():
        fixes.sort(key=lambda t: t[0])
        # Spark F.round / DuckDB round are half-away-from-zero (half-up
        # for these non-negative values), NOT numpy's half-even.
        hops = [
            int(np.floor(float(np.sum((b - a) ** 2)) * 1e15 + 0.5))
            for (_, a), (_, b) in zip(fixes, fixes[1:])
        ]
        r = got[tid]
        assert r["n_fixes"] == len(fixes)
        assert r["n_hops"] == len(hops)
        assert r["path_chord2_e15"] == sum(hops)
        assert r["max_hop_e15"] == (max(hops) if hops else 0)


def test_trajectory_stats_single_fix_zero_hops(spark):
    from s2_geometry_rust_spark.operators.geom_aggs import trajectory_stats

    df = spark.createDataFrame(
        [(1, 0, 1.0, 0.0, 0.0)], ["traj_id", "seq", "x", "y", "z"]
    )
    r = trajectory_stats(df).collect()[0]
    assert (r["n_fixes"], r["n_hops"]) == (1, 0)
    assert r["path_chord2_e15"] == 0 and r["max_hop_e15"] == 0


def test_trajectory_stats_one_exchange_plan(spark):
    """The lag window and the final agg must share ONE hash exchange on
    traj_id (window partitioning == agg key)."""
    from s2_geometry_rust_spark.operators.geom_aggs import trajectory_stats

    df = spark.createDataFrame(
        [(1, 0, 1.0, 0.0, 0.0), (1, 1, 0.0, 1.0, 0.0)],
        ["traj_id", "seq", "x", "y", "z"],
    )
    plan = trajectory_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_exact_group_quantiles_numpy_parity(spark):
    rng = np.random.default_rng(11)
    rows = [
        (["a", "b", "c"][int(rng.integers(0, 3))], int(rng.integers(0, 50)))
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, ["g", "v"])

    from s2_geometry_rust_spark.operators.sketches import (
        exact_group_quantiles,
    )

    ps = (0.25, 0.5, 0.75, 0.9)
    got = {
        (r["g"], r["p"]): (r["q_value"], r["n"])
        for r in exact_group_quantiles(df, "g", "v", ps).collect()
    }
    import collections
    import math

    vals = collections.defaultdict(list)
    for g, v in rows:
        vals[g].append(v)
    for g, vs in vals.items():
        vs.sort()
        for p in ps:
            # lower ("disc") quantile: smallest v with cum count >= ceil(p*n)
            target = math.ceil(p * len(vs))
            assert got[(g, p)] == (vs[target - 1], len(vs))
    assert len(got) == len(vals) * len(ps)


def test_exact_group_quantiles_histogram_window_plan(spark):
    """The running-sum window must run over the compressed histogram
    (after the partial-agg exchange), never over raw rows."""
    from s2_geometry_rust_spark.operators.sketches import (
        exact_group_quantiles,
    )

    df = spark.range(1000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 7).alias("v")
    )
    plan = (
        exact_group_quantiles(df, "g", "v")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # Window consumes HashAggregate output: no Sort over the raw scan
    assert "Window" in plan and "HashAggregate" in plan


def _py_pack(rows, capacity):
    """Driver-side ground truth: trivial cumsum packing."""
    import re

    out, pos = [], 0
    for doc_id, text in sorted(rows):
        toks = [t for t in re.split(r"\s+", text) if t != ""]
        n = len(toks)
        if n == 0:
            continue
        start, end = pos, pos + n
        for b in range(start // capacity, (end - 1) // capacity + 1):
            lo, hi = max(start, b * capacity), min(end, (b + 1) * capacity)
            out.append((b, doc_id, lo - b * capacity, hi - lo, n))
        pos = end
    return sorted(out)


def test_pack_sequences_matches_serial_packing(spark):
    rng = np.random.default_rng(13)
    rows = [
        (i, " ".join(f"t{j}" for j in range(int(rng.integers(0, 40)))))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    from s2_geometry_rust_spark.operators.text import pack_sequences

    got = sorted(
        tuple(r) for r in pack_sequences(df, capacity=64, n_buckets=7)
        .collect()
    )
    assert got == _py_pack(rows, 64)


def test_pack_sequences_bucket_count_invariance(spark):
    """The distributed prefix sum must not depend on the bucketing."""
    rows = [(i, " ".join("x" * 1 for _ in range(i % 13))) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    from s2_geometry_rust_spark.operators.text import pack_sequences

    a = sorted(tuple(r) for r in pack_sequences(df, 32, n_buckets=1).collect())
    b = sorted(tuple(r) for r in pack_sequences(df, 32, n_buckets=64).collect())
    assert a == b and len(a) > 0


def test_pack_sequences_bin_fill_invariant(spark):
    """Every bin but the last is filled to exactly `capacity` tokens."""
    rows = [(i, " ".join(f"w{j}" for j in range(5 + i % 9)))
            for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    from s2_geometry_rust_spark.operators.text import pack_sequences

    fills = {
        r["bin_id"]: r["fill"]
        for r in pack_sequences(df, capacity=128)
        .groupBy("bin_id").agg(F.sum("len_in_bin").alias("fill")).collect()
    }
    last = max(fills)
    for b, fill in fills.items():
        assert fill == 128 or b == last
    assert set(fills) == set(range(last + 1))


def test_bm25_planted_relevance(spark):
    """A rare term must rank its docs above docs without it; among
    equal-length docs, higher tf wins; the scores must be exact ints."""
    corpus = spark.createDataFrame(
        [
            (1, "zebra apple pear plum grape melon"),
            (2, "zebra zebra apple pear plum grape"),
            (3, "apple pear plum grape melon kiwi"),
            (4, "apple pear plum grape melon kiwi"),
        ],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame([(100, "zebra")], ["query_id", "text"])

    from s2_geometry_rust_spark.operators.retrieval import bm25_topk

    got = bm25_topk(corpus, queries, k=4).orderBy("rank").collect()
    # only docs 1 and 2 contain 'zebra'; doc 2 has tf=2 at equal length
    assert [r["doc_id"] for r in got] == [2, 1]
    assert all(isinstance(r["score_e12"], int) for r in got)
    assert got[0]["score_e12"] > got[1]["score_e12"] > 0


def test_bm25_rational_idf_downweights_common_terms(spark):
    """With one common and one rare query term at identical tf and dl,
    the rare-term doc must outrank the common-term doc (idf monotone
    decreasing in df — the property the rational form preserves from
    Robertson's log idf)."""
    rows = [(i, "common filler%d pad" % i) for i in range(1, 9)]
    rows += [(100, "common alpha beta"), (200, "rareword alpha beta")]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    queries = spark.createDataFrame(
        [(1, "common rareword")], ["query_id", "text"]
    )

    from s2_geometry_rust_spark.operators.retrieval import bm25_topk

    got = {r["doc_id"]: r["rank"] for r in
           bm25_topk(corpus, queries, k=10).collect()}
    assert got[200] < got[100]


def test_bm25_corpus_single_shuffle_of_postings(spark):
    """The corpus must be shuffled for the postings agg and the score
    agg only — the query side rides broadcast joins (no corpus-sized
    join exchange)."""
    corpus = spark.createDataFrame(
        [(i, "w%d w%d" % (i % 5, i % 3)) for i in range(50)],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame([(1, "w1 w2")], ["query_id", "text"])

    from s2_geometry_rust_spark.operators.retrieval import bm25_topk

    plan = (
        bm25_topk(corpus, queries)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tile_modality_counts_totals(spark):
    """Every flat doc contributes exactly one (geo, media) pair, and
    the per-modality totals must match the media router's own counts."""
    from contract.engine_queries import tile_modality_counts_q
    from s2_geometry_rust_spark.operators.multimodal import media_spans
    from s2_geometry_rust_spark.sources import interleave_flat_documents

    sf = "/root/testdata/sf0.001"
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    got = tile_modality_counts_q(spark, sf)
    per_mod = {
        r["modality"]: r["n"]
        for r in got.groupBy("modality")
        .agg(F.sum("n_media").alias("n")).collect()
    }
    assert sum(per_mod.values()) == n_docs
    flat = spark.read.parquet(f"{sf}/documents.parquet")
    want = {
        r["modality"]: r["count"]
        for r in media_spans(interleave_flat_documents(flat, with_media=True))
        .groupBy("modality").count().collect()
    }
    assert per_mod == want


def test_tile_transitions_planted(spark):
    """Two fixes in the same tile emit nothing; tile changes emit one
    edge per crossing, direction-sensitive."""
    from s2_geometry_rust_spark.functions import cell_parent
    from s2_geometry_rust_spark.operators.tiling import tile_transitions

    # craft cells directly: tile = parent at level 2
    def leaf_of(face, path):  # a valid leaf id: face + fixed low bits
        cid = (face << 60) | 1
        return cid

    rows = [
        # traj 1: face 0 -> face 1 -> face 1 (one crossing 0->1)
        (1, 0, (0 << 60) | 1),
        (1, 1, (1 << 60) | 1),
        (1, 2, (1 << 60) | 1),
        # traj 2: face 1 -> face 0 (reverse direction, separate edge)
        (2, 0, (1 << 60) | 1),
        (2, 1, (0 << 60) | 1),
    ]
    df = spark.createDataFrame(rows, "traj_id long, seq long, cell_id long")
    got = {
        (r["from_tile"], r["to_tile"]): r["n_transitions"]
        for r in tile_transitions(df, level=2).collect()
    }
    f0 = ((0 << 60) | 1) & ~((1 << 56) - 1) | (1 << 56)
    f1 = ((1 << 60) | 1) & ~((1 << 56) - 1) | (1 << 56)
    assert got == {(f0, f1): 1, (f1, f0): 1}


def test_od_matrix_first_last_semantics(spark):
    from s2_geometry_rust_spark.operators.tiling import od_matrix

    rows = [
        (1, 2, (2 << 60) | 1),   # out-of-order seq: middle fix
        (1, 0, (0 << 60) | 1),   # origin (seq 0, face 0)
        (1, 5, (4 << 60) | 1),   # dest   (seq 5, face 4)
        (2, 1, (0 << 60) | 1),   # single-fix traj: origin == dest
    ]
    df = spark.createDataFrame(rows, "traj_id long, seq long, cell_id long")
    got = {
        (r["origin_tile"] >> 60, r["dest_tile"] >> 60): r["n_trips"]
        for r in od_matrix(df, level=2).collect()
    }
    assert got == {(0, 4): 1, (0, 0): 1}


def test_od_matrix_no_sort_window_plan(spark):
    """first/last must be min/max aggregation, not a row_number sort
    window over every fix."""
    from s2_geometry_rust_spark.operators.tiling import od_matrix

    df = spark.createDataFrame(
        [(1, 0, (0 << 60) | 1)], "traj_id long, seq long, cell_id long"
    )
    plan = od_matrix(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_corridor_join_consistent_with_closest_edge(spark):
    """Corridor membership must agree with the exact closest-edge
    distances: a point is in a route's corridor iff its min distance
    over that route's edges is within the threshold."""
    from s2_geometry_rust_spark import fixtures
    from contract.engine_queries import _derived_points
    from s2_geometry_rust_spark.operators.closest_edge import (
        corridor_join,
        edge_chord2_cols,
        _normalized,
    )

    pts = _derived_points(spark, "/root/testdata/sf0.001").limit(200)
    edges = spark.createDataFrame(
        fixtures.closest_edge_fixture(),
        "edge_id long, ax double, ay double, az double,"
        " bx double, by double, bz double",
    ).withColumn("route_id", F.pmod("edge_id", F.lit(4)).cast("long"))

    got = {
        (r["point_id"], r["route_id"]): r["d2_nano"]
        for r in corridor_join(pts, edges, d2_max=0.08).collect()
    }
    # brute ground truth: score every (point, edge) pair, min per route
    j = _normalized(pts, "x", "y", "z").crossJoin(edges)
    d2 = edge_chord2_cols(
        F.col("px"), F.col("py"), F.col("pz"),
        F.col("ax"), F.col("ay"), F.col("az"),
        F.col("bx"), F.col("by"), F.col("bz"),
    )
    rows = j.select(
        "point_id", "route_id",
        F.round(d2 * 1e9, 0).cast("long").alias("d2n"),
    ).collect()
    import collections

    best = collections.defaultdict(lambda: 1 << 62)
    for r in rows:
        k = (r["point_id"], r["route_id"])
        best[k] = min(best[k], r["d2n"])
    want = {k: v for k, v in best.items() if v <= int(round(0.08 * 1e9))}
    assert got == want and len(got) > 0


def test_webmerc_tile_known_points(spark):
    """Known slippy-map assignments: (0,0) is the center tile; the
    poles clamp to the mercator band edge; Greenwich/equator at z=1 is
    tile (1,0)/(1,1) boundary -> (1,1) by floor convention."""
    from s2_geometry_rust_spark.operators.tiling import with_webmerc_tile

    rows = [
        (1, 0.0, 0.0),        # center
        (2, 89.9, 0.0),       # clamps to y=0 at any zoom
        (3, -89.9, 0.0),      # clamps to y=max
        (4, 0.0, -180.0),     # west edge -> x=0
        (5, 0.0, 179.999),    # east edge -> x=max
        (6, 40.7128, -74.0060),   # NYC, z=6 -> (18, 24) (known value)
    ]
    df = spark.createDataFrame(rows, ["pid", "lat", "lng"])
    got = {
        r["pid"]: (r["xtile"], r["ytile"])
        for r in with_webmerc_tile(df, zoom=6).collect()
    }
    assert got[1] == (32, 32)
    assert got[2][1] == 0 and got[3][1] == 63
    assert got[4][0] == 0 and got[5][0] == 63
    assert got[6] == (18, 24)


def test_webmerc_counts_conserve(spark):
    from contract.engine_queries import webmerc_tiles_q

    sf = "/root/testdata/sf0.001"
    got = webmerc_tiles_q(spark, sf)
    total = got.agg(F.sum("n_points")).collect()[0][0]
    n = spark.read.parquet(f"{sf}/customer.parquet").count()
    assert total == n


def test_hex_focal_counts_semantics(spark):
    """Focal sum == sum of per-hex counts over the 7-cell disk,
    verified against a brute python neighborhood on real data; total
    mass is amplified exactly 7x (every count contributes to 7 cells,
    face-locally)."""
    from contract.engine_queries import _derived_points
    from s2_geometry_rust_spark.functions.hexcols import with_hex_cell
    from s2_geometry_rust_spark.kernels.hexgrid import disk_offsets
    from s2_geometry_rust_spark.operators.tiling import hex_focal_counts

    pts = _derived_points(spark, "/root/testdata/sf0.001").limit(400)
    got = {
        r["hex_id"]: r["focal_points"]
        for r in hex_focal_counts(pts, res=2).collect()
    }
    # brute: unpack (face, q, r) per point, accumulate disk
    base = with_hex_cell(pts, "x", "y", "z", 2, keep=[]).collect()
    import collections

    cnt = collections.Counter(r["hex_id"] for r in base)
    OFF = 1 << 27
    want = collections.Counter()
    for hid, n in cnt.items():
        face, q, r = hid >> 60, ((hid >> 28) & ((1 << 28) - 1)) - OFF, (
            hid & ((1 << 28) - 1)) - OFF
        for dq, dr in disk_offsets(1):
            tq, tr = q + dq, r + dr
            want[(face << 60) | (2 << 56) | ((tq + OFF) << 28)
                 | (tr + OFF)] += n
    assert got == dict(want)
    assert sum(got.values()) == 7 * len(base)


def test_polygon_areas_shell_minus_holes(spark):
    """A polygon's area must equal its shell's loop area minus its
    holes' loop areas (nano-exact), and be strictly less than the bare
    shell when holes exist."""
    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.operators.geom_aggs import (
        loop_stats,
        polygon_areas,
    )

    got = {
        (r["region_id"], r["poly"]): r
        for r in polygon_areas(fixtures.polygon_regions(spark)).collect()
    }
    # independent per-loop areas straight from loop_stats
    loop_area = {
        r["region_id"]: round(r["area"] * 1e9)
        for r in loop_stats(fixtures.loop_regions(spark)).collect()
    }
    for region_id, loop_list in fixtures.POLYGONS.items():
        per_poly = {}
        for poly, loop_name in loop_list:
            per_poly.setdefault(poly, []).append(loop_name)
        for poly, names in per_poly.items():
            r = got[(region_id, poly)]
            want = loop_area[names[0]] - sum(
                loop_area[n] for n in names[1:]
            )
            assert r["area_nano"] == want
            assert r["n_loops"] == len(names)
            assert r["n_holes"] == len(names) - 1
            if len(names) > 1:
                assert r["area_nano"] < loop_area[names[0]]
    assert len(got) == sum(
        len({p for p, _ in ll}) for ll in fixtures.POLYGONS.values()
    )


def test_colocated_pairs_planted(spark):
    """Planted co-visits: trajs 1/2 share two tiles (-> pair), trajs
    1/3 share one (-> filtered), repeat visits to the same tile count
    once."""
    from s2_geometry_rust_spark.operators.tiling import colocated_pairs

    t = lambda face: (face << 60) | 1  # noqa: E731
    rows = [
        (1, 0, t(0)), (1, 1, t(1)), (1, 2, t(2)),
        (2, 0, t(0)), (2, 1, t(1)),
        (3, 0, t(2)), (3, 1, t(3)), (3, 2, t(3)),   # repeat visit
        (4, 0, t(3)), (4, 1, t(3)),                 # shares only face-3
    ]
    df = spark.createDataFrame(rows, "traj_id long, seq long, cell_id long")
    got = {
        (r["traj_a"], r["traj_b"]): r["n_shared_tiles"]
        for r in colocated_pairs(df, level=2, min_shared=2).collect()
    }
    assert got == {(1, 2): 2}
    # min_shared=1 picks up the single-tile overlaps, dedup'd
    got1 = {
        (r["traj_a"], r["traj_b"]): r["n_shared_tiles"]
        for r in colocated_pairs(df, level=2, min_shared=1).collect()
    }
    assert got1 == {(1, 2): 2, (1, 3): 1, (3, 4): 1}


def test_span_sequences_invariant_and_layout(spark):
    """The contract query must carry the full span sequence: 3 spans
    per doc in (text, geo, media) order, geo parse-back non-null, text
    md5 only on text spans, media ref only on media spans; and the
    distributed invariant checker agrees the sequences are intact."""
    from contract.engine_queries import span_sequences_q
    from s2_geometry_rust_spark.sources import interleave_flat_documents
    from s2_geometry_rust_spark.sources.spans import verify_span_sequence

    sf = "/root/testdata/sf0.001"
    got = span_sequences_q(spark, sf)
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert got.count() == 3 * n_docs
    by_kind = {
        r["kind"]: r for r in got.groupBy("kind").agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("lat_micro") != 0, 1).otherwise(0))
            .alias("n_lat"),
            F.sum(F.when(F.col("text_md5") != "", 1).otherwise(0))
            .alias("n_md5"),
            F.sum(F.when(F.col("media_ref") != "", 1).otherwise(0))
            .alias("n_ref"),
        ).collect()
    }
    assert by_kind["text"]["n"] == n_docs and by_kind["text"]["n_md5"] == n_docs
    # every geo span carries real coordinates (micro-int 0 would need a
    # point within 5e-7 deg of the equator AND prime meridian)
    assert by_kind["geo"]["n_lat"] >= n_docs - 1
    assert by_kind["text"]["n_lat"] == 0 and by_kind["media"]["n_lat"] == 0
    assert by_kind["media"]["n_ref"] == n_docs
    assert by_kind["geo"]["n_md5"] == 0 and by_kind["text"]["n_ref"] == 0
    # order is positional: span_idx determines kind
    assert got.filter(
        ((F.col("span_idx") == 0) & (F.col("kind") != "text"))
        | ((F.col("span_idx") == 1) & (F.col("kind") != "geo"))
        | ((F.col("span_idx") == 2) & (F.col("kind") != "media"))
    ).count() == 0
    # the distributed anti-join checker: identity transform is intact
    inter = interleave_flat_documents(
        spark.read.parquet(f"{sf}/documents.parquet"), with_media=True
    )
    assert verify_span_sequence(inter, inter) == 0


def test_pagerank_exact_planted_graph(spark):
    """Star + chain: the hub collecting all edges must rank first;
    ranks are exact ints; total mass stays below the scale (floor
    losses + dangling drop only shrink it)."""
    from s2_geometry_rust_spark.operators.graph import (
        SCALE,
        pagerank_exact,
    )

    edges = spark.createDataFrame(
        [
            (2, 1, 1), (3, 1, 1), (4, 1, 1), (5, 1, 1),   # star into 1
            (1, 2, 1),                                     # backlink
            (6, 7, 1), (7, 6, 1),                          # isolated pair
        ],
        ["src", "dst", "w"],
    )
    pr = {
        r["node"]: r["pr_e12"]
        for r in pagerank_exact(edges, 3, "src", "dst", "w").collect()
    }
    assert pr[1] == max(pr.values())
    assert all(isinstance(v, int) for v in pr.values())
    assert sum(pr.values()) <= SCALE
    # symmetric isolated pair ties exactly
    assert pr[6] == pr[7]
    # weighted split: doubling one edge's weight shifts rank mass
    edges2 = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1), (2, 1, 1), (3, 1, 1)],
        ["src", "dst", "w"],
    )
    pr2 = {
        r["node"]: r["pr_e12"]
        for r in pagerank_exact(edges2, 3, "src", "dst", "w").collect()
    }
    assert pr2[2] > pr2[3]


def test_haversine_pairs_kernel_parity(spark):
    """The JVM-column haversine must equal the numpy kernel
    (latlng.rs:234-250) through the same normalization, bit-for-bit at
    nano rounding."""
    import numpy as np

    from contract.engine_queries import haversine_pairs_q
    from s2_geometry_rust_spark.kernels import latlng as lk

    sf = "/root/testdata/sf0.001"
    got = {
        r["point_id"]: r["dist_nano"]
        for r in haversine_pairs_q(spark, sf).collect()
    }
    import pyarrow.parquet as pq

    keys = pq.read_table(f"{sf}/customer.parquet", columns=["c_custkey"])
    for k in keys.column(0).to_pylist()[:300]:
        def ll(kk):
            return (
                float((kk * 37 % 181) - 90.0 + 0.25),
                float((kk * 73 % 361) - 180.0 + 0.25),
            )
        la1d, lo1d = ll(k)
        la2d, lo2d = ll(k + 1)
        la1, lo1 = lk.normalized(np.radians(la1d), np.radians(lo1d))
        la2, lo2 = lk.normalized(np.radians(la2d), np.radians(lo2d))
        d = float(lk.haversine_distance(la1, lo1, la2, lo2))
        assert got[k] == int(np.floor(d * 1e9 + 0.5))


def test_corpus_mix_quota_semantics(spark):
    """Quotas follow the mix proportions (half-away rounding), cap at
    availability, and the kept set is the md5-order prefix per
    source."""
    import hashlib

    from s2_geometry_rust_spark.operators.sampling import corpus_mix

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(90)]  # 30 each
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    mix = {"a": 0.5, "b": 0.25, "c": 0.25}
    got = corpus_mix(df, mix, budget=40).collect()
    per = {}
    for r in got:
        per.setdefault(r["source"], []).append(r["doc_id"])
    assert {s: len(v) for s, v in per.items()} == {"a": 20, "b": 10, "c": 10}
    # prefix property: kept ids are exactly the md5-order head
    for s, ids in per.items():
        all_ids = [i for i, src in rows if src == s]
        order = sorted(all_ids, key=lambda i: (hashlib.md5(
            str(i).encode()).hexdigest(), i))
        assert sorted(ids) == sorted(order[:len(ids)])
    # availability cap: demand beyond supply takes everything
    small = corpus_mix(df, {"a": 1.0}, budget=100).collect()
    assert len(small) == 30


def test_rolling_anomalies_planted_spike(spark):
    """A flat series with one spike: only the spike (and nothing in
    the warm-up) is flagged; rolling stats use the ROWS frame."""
    import datetime

    base = datetime.datetime(2026, 1, 1)
    rows = []
    for h in range(40):
        n = 200 if h == 30 else 10
        for i in range(n):
            rows.append((base + datetime.timedelta(hours=h), "click",
                         float(i), 1, "p"))
    df = spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double,"
        " user_id long, props string"
    ).selectExpr("1 as event_id", "ts", "user_id", "event_type",
                 "value", "props")

    from s2_geometry_rust_spark.operators.events import rolling_anomalies

    got = rolling_anomalies(df).collect()
    flagged = [r for r in got if r["is_anomaly"]]
    assert len(flagged) == 1
    assert flagged[0]["n"] == 200
    # warm-up: first min_history buckets are absent entirely
    assert len(got) == 40 - 12
    # the bucket right AFTER the spike sees inflated variance but its
    # own n=10 is within 3 sigma of the spiked window mean
    after = [r for r in got if r["bucket_hour"].endswith("07:00:00")
             and not r["is_anomaly"]]
    assert after is not None


def test_vocab_topk_per_group_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "en", "a a a b b c"),
            (2, "en", "b z"),
            (3, "de", "x x y"),
        ],
        ["doc_id", "lang", "text"],
    )
    from s2_geometry_rust_spark.operators.vocab import vocab_topk_per_group

    got = {
        (r["lang"], r["rank"]): (r["token"], r["n_occurrences"])
        for r in vocab_topk_per_group(docs, k=2).collect()
    }
    # ties break lexicographically: a(3) before b(3)
    assert got == {
        ("en", 1): ("a", 3),
        ("en", 2): ("b", 3),
        ("de", 1): ("x", 2),
        ("de", 2): ("y", 1),
    }


def test_profile_table_single_scan_and_values(spark):
    from s2_geometry_rust_spark.operators.profiling import profile_table

    df = spark.createDataFrame(
        [(1, "x", None), (2, "y", 5), (3, "x", 7), (4, None, 7)],
        "id long, s string, v long",
    )
    got = {r["column"]: r for r in profile_table(df, ["s", "v"]).collect()}
    assert got["s"]["n_rows"] == 4 and got["s"]["n_nonnull"] == 3
    assert got["s"]["n_distinct"] == 2
    assert (got["s"]["min_val"], got["s"]["max_val"]) == ("x", "y")
    assert got["v"]["n_nonnull"] == 3 and got["v"]["n_distinct"] == 2
    assert (got["v"]["min_val"], got["v"]["max_val"]) == ("5", "7")
    plan = profile_table(df, ["s", "v"])._jdf.queryExecution()\
        .executedPlan().toString()
    assert plan.count("Scan ExistingRDD") <= 1


def test_geohash_known_vectors(spark):
    """Canonical geohash test vectors + precision behavior."""
    from s2_geometry_rust_spark.operators.tiling import with_geohash

    df = spark.createDataFrame(
        [
            (1, 57.64911, 10.40744),   # wikipedia example
            (2, 42.6, -5.6),           # ezs42...
            (3, -90.0, -180.0),        # corner clamps to first cell
            (4, 90.0, 180.0),          # corner clamps to last cell
        ],
        ["pid", "lat", "lng"],
    )
    got = {r["pid"]: r["geohash"] for r in with_geohash(df, 6).collect()}
    assert got[1] == "u4pruy"
    assert got[2].startswith("ezs42")
    assert got[3] == "000000"
    assert got[4] == "zzzzzz"
    got5 = {r["pid"]: r["geohash"] for r in with_geohash(df, 5).collect()}
    # precision-5 hashes are NOT simple prefixes of precision-6 (odd
    # total bits flip the lat/lng interleave roles) — but the first
    # chars agree while the bit budget overlaps
    assert got5[1][:2] == got[1][:2]


def test_hilbert_range_partitions_balance_and_order(spark):
    """Range partitions are contiguous in the unsigned order and
    roughly balanced on a skewed input (the whole point vs naive
    bit-range splits)."""
    from s2_geometry_rust_spark.functions import unsigned_sort_key
    from s2_geometry_rust_spark.plans.partitioning import (
        hilbert_range_partitions,
    )

    # heavily skewed ids: 90% clustered in a tiny range, 10% spread
    rows = [(int(1e15) + i,) for i in range(900)]
    rows += [((i * 7919) << 40,) for i in range(100)]
    df = spark.createDataFrame(rows, "cell_id long")
    got = hilbert_range_partitions(df, n_partitions=8,
                                   rate_ppm=200_000).collect()
    sizes = {}
    spans = {}
    for r in got:
        pid = r["partition_id"]
        sizes[pid] = sizes.get(pid, 0) + 1
        u = r["cell_id"] ^ (-(1 << 63))
        lo, hi = spans.get(pid, (u, u))
        spans[pid] = (min(lo, u), max(hi, u))
    assert set(sizes) == set(range(8))
    # contiguity: partition ranges don't interleave
    ordered = [spans[p] for p in sorted(spans)]
    for (lo1, hi1), (lo2, hi2) in zip(ordered, ordered[1:]):
        assert hi1 <= lo2
    # balance: no partition above 3x the ideal share (a naive bit-range
    # split would put ~90% of rows into one partition here)
    assert max(sizes.values()) <= 3 * (1000 // 8)


def test_label_similarity_semantics(spark):
    """Identical-distribution labels reach cosine 1; orthogonal labels
    cosine 0; dot values are exact ints."""
    rows = []
    for i in range(10):
        rows.append((i, [1.0, 0.0, 2.0, 0.0], 0))
        rows.append((100 + i, [1.0, 0.0, 2.0, 0.0], 1))    # same as 0
        rows.append((200 + i, [0.0, 3.0, 0.0, 1.0], 2))    # orthogonal
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    from s2_geometry_rust_spark.operators.vocab import label_similarity

    got = {
        (r["label_a"], r["label_b"]): r
        for r in label_similarity(df).collect()
    }
    assert got[(0, 1)]["cos_nano"] == 10**9
    assert got[(0, 2)]["cos_nano"] == 0 and got[(1, 2)]["cos_nano"] == 0
    assert got[(0, 2)]["dot"] == 0
    assert isinstance(got[(0, 1)]["dot"], int)


def test_gate_funnel_monotone_and_values(spark):
    docs = spark.createDataFrame(
        [
            (1, "x" * 200),                                     # no tokens gate? one long token
            (2, " ".join(["the"] * 40)),                        # high stopword, long
            (3, "short"),
            (4, " ".join(f"w{i}" for i in range(50)) + " the of a and to in" * 3),
        ],
        ["doc_id", "text"],
    )
    from s2_geometry_rust_spark.operators.corpus import gate_funnel

    got = {r["gate"]: r for r in gate_funnel(docs).collect()}
    assert got[0]["n_surviving"] == 4
    # survivors monotonically decrease
    for g in range(1, 5):
        assert got[g]["n_surviving"] <= got[g - 1]["n_surviving"]
    assert [got[g]["gate_name"] for g in range(5)] == [
        "input", "min_chars", "min_tokens", "min_quality", "max_punct"
    ]


def test_event_transitions_planted(spark):
    import datetime

    t0 = datetime.datetime(2026, 1, 1)
    rows = [
        (1, 10, t0, "view"), (2, 10, t0.replace(minute=1), "click"),
        (3, 10, t0.replace(minute=2), "view"),
        (4, 20, t0, "view"), (5, 20, t0.replace(minute=5), "click"),
        (6, 30, t0, "purchase"),   # single event: no transition
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    from s2_geometry_rust_spark.operators.events import event_transitions

    got = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in event_transitions(df).collect()
    }
    assert got == {("view", "click"): 2, ("click", "view"): 1}


def test_quality_histogram_conserves_and_buckets(spark):
    from s2_geometry_rust_spark.operators.text import quality_histogram

    docs = spark.createDataFrame(
        [(i, "src%d" % (i % 2), "word " * (i + 1)) for i in range(20)],
        ["doc_id", "source", "text"],
    )
    got = quality_histogram(docs).collect()
    assert sum(r["n_docs"] for r in got) == 20
    assert all(0 <= r["bucket"] <= 10 for r in got)


def test_tile_quality_conserves_docs(spark):
    from contract.engine_queries import tile_quality_q

    sf = "/root/testdata/sf0.001"
    got = tile_quality_q(spark, sf)
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    agg = got.agg(F.sum("n_docs"), F.min("quality_micro_sum")).collect()[0]
    assert agg[0] == n_docs
    assert agg[1] >= 0


def test_source_bbox_bounds_sane(spark):
    from contract.engine_queries import source_bbox_q

    sf = "/root/testdata/sf0.001"
    rows = source_bbox_q(spark, sf).collect()
    assert len(rows) == 20
    m = 90 * 10**6
    for r in rows:
        assert -m <= r["min_lat_micro"] <= r["max_lat_micro"] <= m
        assert -2 * m <= r["min_lng_micro"] <= r["max_lng_micro"] <= 2 * m
        assert r["n_geo"] > 0


def test_colocated_pairs_hot_tile_cap(spark):
    """The opt-in hot-tile cap keeps only a deterministic subset of a
    hot tile's visitors; uncapped tiles are unaffected, and results
    are identical across runs."""
    import hashlib

    from s2_geometry_rust_spark.operators.tiling import colocated_pairs

    t = lambda face: (face << 60) | 1  # noqa: E731
    rows = []
    # hot tile: 20 trajectories all visit face 0
    for i in range(20):
        rows.append((i, 0, t(0)))
    # cold pair: trajs 100/101 share faces 1 and 2
    rows += [(100, 0, t(1)), (100, 1, t(2)),
             (101, 0, t(1)), (101, 1, t(2))]
    df = spark.createDataFrame(rows, "traj_id long, seq long, cell_id long")

    capped = colocated_pairs(df, level=2, min_shared=1, max_per_tile=5)
    got = {(r["traj_a"], r["traj_b"]) for r in capped.collect()}
    # cold pair always survives
    assert (100, 101) in got
    # hot-tile pairs come only from the 5 md5-smallest trajectories
    keep = sorted(range(20), key=lambda i: (hashlib.md5(
        str(i).encode()).hexdigest(), i))[:5]
    hot_pairs = {p for p in got if p != (100, 101)}
    want = {(a, b) for a in keep for b in keep if a < b}
    assert hot_pairs == want
    # determinism: a second run returns the identical set
    again = {
        (r["traj_a"], r["traj_b"])
        for r in colocated_pairs(df, level=2, min_shared=1,
                                 max_per_tile=5).collect()
    }
    assert again == got

def test_hilbert_range_partitions_sample_cap(spark):
    """The driver-side sample collect is bounded by max_sample: when
    the rate would over-sample, the md5 threshold tightens
    deterministically (nested prefix sample), and the result is
    identical run-to-run and still balanced/contiguous."""
    from s2_geometry_rust_spark.plans.partitioning import (
        _sample_prefix,
        hilbert_range_partitions,
    )

    # full-rate sentinel: sorts after every lowercase-hex md5
    assert _sample_prefix(1_000_000) == "g" * 32
    assert _sample_prefix(2_000_000) == "g" * 32
    assert "0123456789abcdef"[-1] < "g"

    rows = [((i * 2654435761) % (1 << 50),) for i in range(4000)]
    df = spark.createDataFrame(rows, "cell_id long")
    # rate 100% of 4000 rows but cap at 64 -> threshold tightens
    a = hilbert_range_partitions(
        df, n_partitions=8, rate_ppm=1_000_000, max_sample=64
    ).collect()
    b = hilbert_range_partitions(
        df, n_partitions=8, rate_ppm=1_000_000, max_sample=64
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    sizes = {}
    for r in a:
        sizes[r["partition_id"]] = sizes.get(r["partition_id"], 0) + 1
    assert set(sizes) == set(range(8))
    # a ~64-row sample still balances 8 partitions within 2.5x ideal
    assert max(sizes.values()) <= 2.5 * (4000 / 8)
    # uncapped full-rate sample = exact quantiles for comparison
    exact = hilbert_range_partitions(
        df, n_partitions=8, rate_ppm=1_000_000
    ).collect()
    ex_sizes = {}
    for r in exact:
        ex_sizes[r["partition_id"]] = ex_sizes.get(r["partition_id"], 0) + 1
    assert max(ex_sizes.values()) <= 501  # exact split of 4000/8

def test_label_similarity_no_int64_wrap(spark):
    """Dots/norms past 2^63 must not wrap silently: cos_nano stays
    exact via decimal(38,0) accumulation, and the int64 `dot` column
    goes NULL (loud) instead of wrapped garbage."""
    # per-(label, dim) sum_micro = 4 * 1000.0 * 1e6 = 4e9 (fits int64);
    # dot = (4e9)^2 = 1.6e19 > 2^63 — a long accumulator would throw
    # under ANSI (Spark 4 default) or wrap without it
    rows = []
    for i in range(4):
        rows.append((i, [1000.0, 0.0], 0))
        rows.append((10 + i, [1000.0, 0.0], 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    from s2_geometry_rust_spark.operators.vocab import label_similarity

    got = label_similarity(df).collect()
    assert len(got) == 1
    r = got[0]
    # identical distributions -> cosine exactly 1 even though the
    # underlying dot (~1.4e38) is far beyond int64
    assert r["cos_nano"] == 10**9
    assert r["dot"] is None

def test_lsh_max_per_bucket_bounds_flood(spark):
    """An identical-boilerplate flood emits B^2/2 candidates uncapped;
    max_per_bucket bounds it at cap^2/2 while keeping genuine
    (non-flood) near-dup pairs (they sit in uncrowded buckets)."""
    from s2_geometry_rust_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    boiler = " ".join(f"w{i % 7}" for i in range(40))
    rows = [(i, boiler) for i in range(200)]  # flood: 200 identical docs
    base = " ".join(f"token{i}" for i in range(40))
    near_words = base.split()
    near_words[3] = "tokenX"  # exactly one word differs (J ~ 35/41)
    near = " ".join(near_words)
    rows += [(1000, base), (1001, near)]      # one genuine near-dup pair
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs).persist()
    try:
        uncapped = lsh_candidate_pairs(sigs).count()
        capped = lsh_candidate_pairs(sigs, max_per_bucket=10)
        got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    finally:
        sigs.unpersist()
    assert uncapped >= 200 * 199 // 2
    flood_pairs = {(a, b) for a, b in got if a < 1000 and b < 1000}
    assert len(flood_pairs) == 10 * 9 // 2  # kept subset pairs fully
    assert (1000, 1001) in got              # genuine pair survives
    # determinism
    again = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(
            minhash_signatures(docs), max_per_bucket=10
        ).collect()
    }
    assert again == got
