"""The three benchmark workloads.

Each workload builds its inputs from a seed (parquet under a scratch
directory) together with an independent numpy answer computed from the
engine's Spark-free kernels, runs one timed action through the engine's
public API, and compares the action's output digest with the answer.
``trace`` times the same action layer by layer from outside the package.

- ``pip_docs``: synthesized interleaved documents -> extract_geo_points
  -> point_in_region_join against the 7 headline fixture regions
  (literal InSet candidates, Arrow refine).
- ``pip_regions``: one-geo-span documents, half of them inside one hot
  cap -> point_in_region_join(distributed=None) against ~5.2k caps and
  rects (threshold probe, cover_regions, ancestor-explode shuffle join,
  geometry-join refine).
- ``tile_write``: the pip_docs documents -> extract -> Hilbert-sorted
  write -> per-tile checkpoint -> tile pyramid and cell-range read-back.
  Not a benchmark workload of its own (see README): pip_docs's traced
  run also traces it, on the same documents.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from s2_geometry_rust_spark import fixtures
from s2_geometry_rust_spark.kernels import cellid as ck
from s2_geometry_rust_spark.kernels import latlng as lk
from s2_geometry_rust_spark.kernels.caps import S2Cap
from s2_geometry_rust_spark.kernels.loops import S2Loop
from s2_geometry_rust_spark.kernels.rects import S2LatLngRect
from s2_geometry_rust_spark.operators import coverings, spatial_join, tiling
from s2_geometry_rust_spark.plans import checkpoints
from s2_geometry_rust_spark.sources import extract_geo_points, sinks, synth_documents

import harness


def direct_call(_name, fn, *args, **kwargs):
    """Untraced form of ``Tracer.call``."""
    return fn(*args, **kwargs)


class Tracer:
    """Spans, taken in this process, around calls into the engine's public
    functions, kept in memory and returned with the trace."""

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []

    def call(self, name, fn, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.spans.append((name, t0, time.perf_counter()))

    def total(self, name: str) -> float:
        return sum(b - a for n, a, b in self.spans if n == name)


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


# -- shared input helpers -------------------------------------------------

def doc_num():
    """``doc-%08d`` -> the document number."""
    return F.substring("doc_id", 5, 64).cast("long")


def read_geo_spans(path: str) -> dict[str, np.ndarray]:
    """Independent parse of every ``kind='geo'`` span of a documents
    parquet with pyarrow: doc number, span index, lat and lng."""
    t = pq.read_table(path, columns=["doc_id", "spans"])
    spans = t.column("spans").combine_chunks()
    flat = pc.list_flatten(spans)
    parent = pc.list_parent_indices(spans).to_numpy()
    offsets = spans.offsets.to_numpy()
    span_idx = np.arange(len(flat)) - (offsets[parent] - offsets[0])
    geo = pc.equal(flat.field("kind"), "geo").to_numpy(zero_copy_only=False)
    text = pc.filter(flat.field("text"), pa.array(geo))
    parts = pc.split_pattern(pc.utf8_slice_codeunits(text, 6, -1), " ")
    doc_num = pc.utf8_slice_codeunits(t.column("doc_id").combine_chunks(), 4)
    return {
        "doc_num": doc_num.cast(pa.int64()).to_numpy()[parent[geo]],
        "span_idx": span_idx[geo].astype(np.int64),
        "lat": pc.list_element(parts, 0).cast(pa.float64()).to_numpy(),
        "lng": pc.list_element(parts, 1).cast(pa.float64()).to_numpy(),
    }


def xyz_of(lat_deg, lng_deg):
    return lk.latlng_to_xyz(lk.degrees_to_radians(lat_deg),
                            lk.degrees_to_radians(lng_deg))


def cap_of(lat, lng, radius_deg) -> S2Cap:
    x, y, z = xyz_of(np.float64(lat), np.float64(lng))
    return S2Cap.from_center_degrees((float(x), float(y), float(z)), radius_deg)


def kernel_leaf_ids(pts) -> np.ndarray:
    return ck.from_point(*xyz_of(pts["lat"], pts["lng"]))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def source_layers(spark, docs_path: str) -> dict[str, float]:
    """Cumulative prefix jobs over the source layers: scan, extract
    with the encode UDF pruned, extract with it kept."""
    docs = spark.read.parquet(docs_path)
    scan, _ = timed(lambda: docs.agg(F.max(F.size("spans"))).collect())
    ext, rows = timed(
        lambda: extract_geo_points(docs).drop("cell_id").count())
    enc, _ = timed(
        lambda: extract_geo_points(docs).agg(F.bit_xor("cell_id")).collect())
    return {"scan": scan, "extract": ext, "encode": enc, "rows": rows}


class Workload:
    """Base: subclasses set ``name`` and implement build/action/trace."""

    name = ""
    rows = 0          # input rows of the timed action
    expected = None   # independent answer the action must reproduce
    docs_path = ""
    kernel_s: dict[str, float]  # Spark-free kernel times on the inputs
    cover_caps: list = []       # caps whose Spark-free covering is timed
    also_traced: list = []      # workloads traced on the same inputs
    warm_reps = 0               # untimed actions after the cold one

    def __init__(self, scale: float = 1.0):
        self.scale = scale

    def cores(self) -> int:
        """Cores of the workload's Spark session."""
        return harness.nproc()

    def build(self, spark, root: str, seed: int) -> None:
        raise NotImplementedError

    def action(self, spark, out: str, call=direct_call):
        raise NotImplementedError

    def cap_cover_s(self) -> float:
        """Spark-free covering of the workload's caps (max_cells=64)."""
        t, _ = timed(coverings.cap_coverings_batch, self.cover_caps, max_cells=64)
        return t

    def trace(self, spark, out: str, tracer: Tracer, result,
              src: dict) -> tuple[dict, dict]:
        """(per-layer metrics, layer self times past the source layers).

        Runs after ``result = action(spark, out, tracer.call)``, whose
        spans ``tracer`` holds and whose output is still under ``out``;
        ``src`` holds the ``source_layers`` times of ``docs_path``."""
        raise NotImplementedError


# -- pip_docs --------------------------------------------------------------

HEADLINE_LOOPS = ["arctic_80", "candy_cane", "small_ne_cw"]


class PipDocs(Workload):
    name = "pip_docs"
    N_DOCS = 60_000
    REGIONS = list(fixtures.CAPS) + HEADLINE_LOOPS
    warm_reps = 4

    def cores(self):
        # Half the box's cores.  At local[nproc] the Python workers, the
        # JVM's task, JIT and GC threads and this process outnumber the
        # cores; this action is mostly serial at this size, so it loses
        # little speed at half and uses less CPU per row (see README).
        return max(1, harness.nproc() // 2)

    def build(self, spark, root, seed):
        self.docs_path = os.path.join(root, "docs")
        self.rows = max(int(self.N_DOCS * self.scale), 1)
        synth_documents(spark, self.rows, seed=seed,
                        partitions=2 * harness.nproc()).write.parquet(
            self.docs_path)
        pts = read_geo_spans(self.docs_path)
        t_enc, _ = timed(kernel_leaf_ids, pts)
        x, y, z = xyz_of(pts["lat"], pts["lng"])
        doc, span, reg = [], [], []
        t_cap = t_loop = 0.0
        for i, name in enumerate(self.REGIONS):
            t0 = time.perf_counter()
            if name in fixtures.CAPS:
                inside = cap_of(*fixtures.CAPS[name]).contains_points_batch(x, y, z)
                t_cap += time.perf_counter() - t0
            else:
                loop = S2Loop.from_degrees(fixtures.LOOPS[name])
                inside = loop.contains_points_batch(x, y, z)
                t_loop += time.perf_counter() - t0
            doc.append(pts["doc_num"][inside])
            span.append(pts["span_idx"][inside])
            reg.append(np.full(int(inside.sum()), i + 1, np.int64))
        self.expected = harness.digest_of(
            np.concatenate(doc), np.concatenate(span), np.concatenate(reg))
        self.cover_caps = [cap_of(*fixtures.CAPS[c]) for c in fixtures.CAPS]
        self.kernel_s = {"encode": t_enc, "cap_contains": t_cap,
                         "loop_contains": t_loop}
        self.also_traced = [TileWrite(self.docs_path, pts)]

    def regions(self, spark):
        return fixtures.cap_regions(spark).unionByName(
            fixtures.loop_regions(spark, HEADLINE_LOOPS))

    def join(self, spark, call, refine=True):
        pts = call("sources.extract_geo_points", extract_geo_points,
                   spark.read.parquet(self.docs_path))
        return call("spatial_join.point_in_region_join",
                    spatial_join.point_in_region_join, pts,
                    self.regions(spark), max_cells=64, refine=refine,
                    distributed=False)

    def digest(self, df):
        names = F.array(*[F.lit(n) for n in self.REGIONS])
        return harness.spark_digest(
            df, doc_num(), F.col("span_idx"),
            F.array_position(names, F.col("region_id")))

    def action(self, spark, out, call=direct_call):
        return call("harness.digest", self.digest, self.join(spark, call))

    def trace(self, spark, out, tracer, result, src):
        t_collect, _ = timed(lambda: self.regions(spark).collect())
        metrics, layers = join_layers(spark, self, src, tracer, result,
                                      cover_in_join=False)
        metrics["spatial_join.regions_collect_s"] = t_collect
        return metrics, layers


def join_layers(spark, wl, src: dict, tracer: Tracer, result,
                cover_in_join: bool) -> tuple[dict, dict]:
    """Per-layer metrics and self times shared by the two
    point-in-region workloads: coverings, candidates, refine.  The join
    call and the full join come from the traced action's spans.
    ``cover_in_join``: the candidate job recomputes the coverings (the
    distributed path), so their time is not the candidates' own."""
    t_cover, cov = timed(lambda: coverings.cover_regions(
        wl.regions(spark), max_cells=64, conservative=True).agg(
        F.count("*").alias("cells"),
        F.countDistinct("level").alias("levels")).collect()[0])
    cand = wl.join(spark, direct_call, refine=False)
    # one job gives the candidate count and its partition skew
    t_cand, per_part = timed(lambda: [
        r["count"] for r in
        cand.groupBy(F.spark_partition_id()).count().collect()])
    cand_rows, skew = sum(per_part), harness.skew_ratio(per_part)
    t_call = tracer.total("spatial_join.point_in_region_join")
    t_join, matches = tracer.total("harness.digest"), result[0]
    rate = spatial_join.last_fallback_rate()
    cand_self = t_cand - src["encode"] - (t_cover if cover_in_join else 0.0)
    metrics = {
        "spatial_join.candidates_s": cand_self,
        "spatial_join.candidate_rows": cand_rows,
        "spatial_join.fanout": cand_rows / max(src["rows"], 1),
        "spatial_join.refine_s": t_join - t_cand,
        "spatial_join.refine_keep_ratio": matches / max(cand_rows, 1),
        "spatial_join.exact_fallback_rate": rate or 0.0,
        "spatial_join.partition_skew": skew,
        "coverings.cover_s": t_cover,
        "coverings.cells_out": cov["cells"],
        "coverings.levels": cov["levels"],
    }
    layers = {"spatial_join.call": t_call}
    if cover_in_join:
        layers["coverings.cover_in_join"] = t_cover
    layers["spatial_join.candidates"] = cand_self
    layers["spatial_join.refine"] = t_join - t_cand
    return metrics, layers


# -- pip_regions -----------------------------------------------------------

HOT_CAP = (20.0, 30.0, 20.0)  # lat, lng, radius in degrees


class PipRegions(Workload):
    name = "pip_regions"
    N_POINTS = 40_000
    # 1 hot cap + N_CAPS + N_RECTS regions: past the 5000-region
    # auto-distributed threshold of point_in_region_join.  Rects are few
    # because each conservative rect covering costs ~0.45 s of Python.
    N_CAPS = 5_100
    N_RECTS = 8

    def build(self, spark, root, seed):
        rng = np.random.default_rng(seed)
        n = max(int(self.N_POINTS * self.scale), 1)
        hot = rng.random(n) < 0.5
        lat = np.where(hot, HOT_CAP[0] - 14 + 28 * rng.random(n),
                       -80 + 160 * rng.random(n))
        lng = np.where(hot, HOT_CAP[1] - 14 + 28 * rng.random(n),
                       -180 + 360 * rng.random(n))
        self.rows = n
        self.docs_path = os.path.join(root, "docs")
        self.regions_path = os.path.join(root, "regions")
        write_point_docs(self.docs_path, lat, lng)
        pts = read_geo_spans(self.docs_path)

        m = self.N_CAPS
        cap_lat = np.concatenate([[HOT_CAP[0]], rng.uniform(-75, 75, m)])
        cap_lng = np.concatenate([[HOT_CAP[1]], rng.uniform(-180, 180, m)])
        cap_r = np.concatenate([[HOT_CAP[2]], rng.uniform(0.3, 2.0, m)])
        k = self.N_RECTS
        r_lat = rng.uniform(-75, 72, k)
        r_lng = rng.uniform(-180, 177, k)
        r_size = rng.uniform(0.5, 3.0, (2, k))
        # the flat schema (no list columns): see README "pip_regions"
        ids = [f"r-{i:06d}" for i in range(m + 1 + k)]
        write_parts(pa.table({
            "region_id": ids,
            "kind": ["cap"] * (m + 1) + ["rect"] * k,
            "p0": np.concatenate([cap_lat, r_lat]),
            "p1": np.concatenate([cap_lng, r_lat + r_size[0]]),
            "p2": np.concatenate([cap_r, r_lng]),
            "p3": pa.array(np.concatenate([np.zeros(m + 1), r_lng + r_size[1]]),
                           mask=np.arange(m + 1 + k) <= m),
        }), self.regions_path)

        t_enc, _ = timed(kernel_leaf_ids, pts)
        x, y, z = xyz_of(pts["lat"], pts["lng"])
        P = np.stack([x, y, z], axis=1)
        caps = [cap_of(a, b, r) for a, b, r in zip(cap_lat, cap_lng, cap_r)]
        C = np.array([[c.cx, c.cy, c.cz] for c in caps])
        # brute force over every point x cap pair: a dot-product screen
        # with a margin, then the exact kernel decides each survivor
        cos_r = np.array([1.0 - c.radius_l2 / 2.0 for c in caps]) - 1e-9
        pi, ri = [], []
        t_cap = 0.0
        for lo in range(0, len(caps), 64):
            hi = min(lo + 64, len(caps))
            p_idx, c_off = np.nonzero(P @ C[lo:hi].T >= cos_r[lo:hi])
            order = np.argsort(c_off, kind="stable")
            p_idx, c_off = p_idx[order], c_off[order]
            bounds = np.searchsorted(c_off, np.arange(hi - lo + 1))
            t0 = time.perf_counter()
            for j in range(hi - lo):
                sel = p_idx[bounds[j]:bounds[j + 1]]
                if len(sel):
                    keep = caps[lo + j].contains_points_batch(x[sel], y[sel], z[sel])
                    pi.append(sel[keep])
                    ri.append(np.full(int(keep.sum()), lo + j, np.int64))
            t_cap += time.perf_counter() - t0
        lat_r = lk.degrees_to_radians(pts["lat"])
        lng_r = lk.degrees_to_radians(pts["lng"])
        for j in range(k):
            rect = S2LatLngRect.from_degrees(
                r_lat[j], r_lng[j], r_lat[j] + r_size[0, j], r_lng[j] + r_size[1, j])
            sel = np.nonzero(rect.contains_latlng_batch(lat_r, lng_r))[0]
            pi.append(sel)
            ri.append(np.full(len(sel), m + 1 + j, np.int64))
        pi, ri = np.concatenate(pi), np.concatenate(ri)
        self.expected = harness.digest_of(
            pts["doc_num"][pi], pts["span_idx"][pi], ri)
        self.cover_caps = caps
        self.kernel_s = {"encode": t_enc, "cap_contains": t_cap,
                         "loop_contains": 0.0}

    def regions(self, spark):
        return spark.read.parquet(self.regions_path)

    def join(self, spark, call, refine=True):
        pts = call("sources.extract_geo_points", extract_geo_points,
                   spark.read.parquet(self.docs_path))
        return call("spatial_join.point_in_region_join",
                    spatial_join.point_in_region_join, pts,
                    self.regions(spark), max_cells=64,
                    refine=refine, distributed=None)

    def digest(self, df):
        return harness.spark_digest(
            df, doc_num(), F.col("span_idx"),
            F.substring("region_id", 3, 64).cast("long"))

    def action(self, spark, out, call=direct_call):
        return call("harness.digest", self.digest, self.join(spark, call))

    def trace(self, spark, out, tracer, result, src):
        t_probe, _ = timed(lambda: self.regions(spark).limit(
            spatial_join.DISTRIBUTED_REGION_THRESHOLD + 1).count())
        metrics, layers = join_layers(spark, self, src, tracer, result,
                                      cover_in_join=True)
        metrics["spatial_join.probe_s"] = t_probe
        return metrics, layers


def write_point_docs(path: str, lat: np.ndarray, lng: np.ndarray) -> None:
    """Documents of one geo span each, in the engine's documents schema."""
    n = len(lat)
    text = [f"POINT({float(a)!r} {float(b)!r})" for a, b in zip(lat, lng)]
    span = pa.StructArray.from_arrays(
        [pa.array(["geo"] * n), pa.array(text), pa.array([""] * n),
         pa.array(np.zeros(n, np.int32))],
        names=["kind", "text", "media_ref", "offset"])
    spans = pa.ListArray.from_arrays(pa.array(np.arange(n + 1, dtype=np.int32)), span)
    write_parts(
        pa.table({"doc_id": [f"doc-{i:08d}" for i in range(n)], "spans": spans}),
        path)


def write_parts(table: pa.Table, path: str) -> None:
    """Parquet directory of 2 x nproc files, rows dealt round-robin so
    every Spark partition gets a share of each kind of row."""
    parts = 2 * harness.nproc()
    os.makedirs(path)
    rows = np.arange(table.num_rows)
    for p in range(parts):
        pq.write_table(table.take(rows[p::parts]),
                       os.path.join(path, f"part-{p:03d}.parquet"))


# -- tile_write ------------------------------------------------------------

PYRAMID_LEVELS = (4, 8, 12)


class TileWrite(Workload):
    """The write path over already-built documents and their geo spans."""

    name = "tile_write"

    def __init__(self, docs_path: str, pts: dict[str, np.ndarray]):
        super().__init__()
        self.docs_path = docs_path
        self.rows = len(pts["lat"])
        leaves = kernel_leaf_ids(pts)
        tiles, counts = [], []
        for lv in PYRAMID_LEVELS:
            t, c = np.unique(ck.parent(leaves, lv), return_counts=True)
            tiles.append(t.view(np.int64))
            counts.append(c.astype(np.int64))
        pyramid = harness.digest_of(np.concatenate(tiles), np.concatenate(counts))
        # three level-4 range scans, at cells picked from the data
        picks = ck.parent(leaves[[0, len(leaves) // 3, 2 * len(leaves) // 3]], 4)
        self.ranges = [(int(ck.range_min(c)), int(ck.range_max(c))) for c in picks]
        in_range = tuple(int(((leaves >= lo) & (leaves <= hi)).sum())
                         for lo, hi in self.ranges)
        self.expected = (len(leaves), pyramid, in_range, len(tiles[0]), len(leaves))

    def action(self, spark, out, call=direct_call):
        pts_path = os.path.join(out, "points")
        ckpt_path = os.path.join(out, "checkpoints")
        pts = call("sources.extract_geo_points", extract_geo_points,
                   spark.read.parquet(self.docs_path))
        call("sinks.write_hilbert_sorted", sinks.write_hilbert_sorted,
             pts, pts_path)
        written = spark.read.parquet(pts_path)
        call("checkpoints.write_stage_checkpoint",
             checkpoints.write_stage_checkpoint,
             tiling.with_tile(written, 4, out_col="tile4"),
             "tile_write", "tile4", "cell_id", ckpt_path)
        pyramid = call("harness.digest", harness.spark_digest,
                       call("tiling.tile_pyramid", tiling.tile_pyramid,
                            written, PYRAMID_LEVELS),
                       F.col("tile_id"), F.col("n_points"))
        in_range = tuple(
            call("sinks.read_cell_range", sinks.read_cell_range,
                 spark, pts_path, lo, hi).count()
            for lo, hi in self.ranges)
        ckpt = spark.read.parquet(ckpt_path).filter(F.col("unit_id") != -1).agg(
            F.count("*").alias("units"), F.sum("row_count").alias("rows")
        ).collect()[0]
        return (written.count(), pyramid, in_range, ckpt["units"], ckpt["rows"])

    def trace(self, spark, out, tracer, result, src):
        written = dir_bytes(os.path.join(out, "points"))
        t_write = tracer.total("sinks.write_hilbert_sorted")
        metrics = {
            "sinks.write_s": t_write - src["encode"],
            "sinks.bytes_written_per_input_byte":
                written / max(dir_bytes(self.docs_path), 1),
            "sinks.range_scan_s": tracer.total("sinks.read_cell_range"),
            "tiling.pyramid_s": tracer.total("harness.digest"),
            "tiling.tiles_out": result[1][0],
            "checkpoints.write_s": tracer.total("checkpoints.write_stage_checkpoint"),
            "checkpoints.rows": result[3],
        }
        layers = {
            "sinks.write": t_write - src["encode"],
            "checkpoints.write": metrics["checkpoints.write_s"],
            "tiling.pyramid": metrics["tiling.pyramid_s"],
            "sinks.range_scan": metrics["sinks.range_scan_s"],
        }
        return metrics, layers


WORKLOADS = {w.name: w for w in (PipDocs, PipRegions)}
