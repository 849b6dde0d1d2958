"""S2Builder subsystem as table-scale Spark operators + a driver-side
API facade.

Reference: /root/reference/src/builder/mod.rs:140-301 (S2Builder),
builder/graph.rs:236-560 (snapped-edge Graph), builder/
snap_functions.rs (Identity / IntLatLng / S2CellId snap),
builder/layers.rs (polygon / polyline / polyline-vector layers).

Engine shape (NOT a port of the data structures):

- **Snap functions are column transforms** — one Arrow pass rewrites
  both edge endpoints through the vectorized snap kernels
  (kernels/snap.py); the snap-site identity travels as the raw IEEE-754
  bit pattern of the snapped coordinates (three BIGINT columns),
  exactly the reference's PositionKey (graph.rs:250-268).
- **The Graph IS two DataFrames**: ``vertices(graph, vertex_id, x, y,
  z)`` and ``edges(graph, edge_id, src_vid, dst_vid, edge_type,
  n_inputs)``.  Vertex ids reproduce the reference's insertion-order
  semantics (find_or_create_vertex, graph.rs:381-397): a vertex's id is
  the rank of its first appearance over (edge order, source-then-
  target) — a groupBy + one rank window per graph.  Degenerate-edge
  removal (angle < 1e-15, graph.rs:404-409) is a filter; duplicate-edge
  removal (graph.rs:419-429) is a groupBy that also COUNTS the
  collapsed inputs (the reference errors instead — the driver-side
  facade reproduces that; at table scale dropping + counting is the
  usable semantics and is what the contract query verifies).
- **Layers are per-graph chain reassembly**: the reference walk
  algorithms run verbatim inside ``applyInPandas`` groups — parallelism
  across graphs (the 100-TB axis: millions of small graphs), sequential
  walk within one graph, exactly the reference's control flow.

Scale notes: building ONE giant graph requires a global vertex rank
(sort exchange).  Pass ``assign_ids=False`` to keep the position bit
key as the vertex identity — no global sort, pure hash shuffles — when
dense ids aren't needed downstream.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels import snap as sk

# ---------------------------------------------------------------------------
# options (builder/mod.rs:36-136, graph.rs:47-99, layers.rs:98-139,
# 359-402) — plain dataclasses; the with_* builder style is keyword
# arguments in Python
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class SnapFunction:
    """Enum-ish snap configuration (snap_functions.rs:345-392).

    kind: "identity" | "int_latlng" | "cellid"
    """

    kind: str = "identity"
    scale: float = 1e6          # int_latlng (microdegrees() default)
    level: int = 10             # cellid
    min_vertex_separation: float = 0.0   # identity (validation only)

    def __post_init__(self):
        if self.kind == "cellid" and not (0 <= self.level <= 30):
            # snap_functions.rs:238-241 panics outside [0, 30]
            raise ValueError("S2CellId level must be in range [0, 30]")

    def snap_point(self, x, y, z):
        return sk.apply_snap(x, y, z, self.kind, scale=self.scale,
                             level=self.level)

    def snap_radius(self) -> float:
        if self.kind == "identity":
            return 0.0
        if self.kind == "int_latlng":
            return sk.int_latlng_snap_radius(self.scale)
        return sk.cellid_snap_radius(self.level)

    def min_separation(self) -> float:
        if self.kind == "identity":
            return self.min_vertex_separation
        if self.kind == "int_latlng":
            return sk.int_latlng_min_separation(self.scale)
        return sk.cellid_min_separation(self.level)


@dataclass(frozen=True)
class BuilderOptions:
    """builder/mod.rs:36-136."""

    snap_function: SnapFunction = field(default_factory=SnapFunction)
    validate: bool = True
    split_crossing_edges: bool = False
    intersection_tolerance_rad: float = 0.0
    simplify_edge_chains: bool = False
    idempotent: bool = True

    def intersection_tolerance(self) -> float:
        """mod.rs:128-136 — split_crossing_edges forces a 1e-15 floor."""
        if not self.split_crossing_edges:
            return self.intersection_tolerance_rad
        return max(self.intersection_tolerance_rad,
                   sk.INTERSECTION_ERROR_FLOOR)


@dataclass(frozen=True)
class GraphOptions:
    """graph.rs:47-99 (defaults graph.rs:59-67)."""

    remove_degenerate_edges: bool = True
    remove_duplicate_edges: bool = True
    remove_sibling_pairs: bool = False
    validate: bool = True


@dataclass(frozen=True)
class PolylineLayerOptions:
    """layers.rs:359-402 (default edge_type Directed)."""

    edge_type: str = "directed"
    validate: bool = False


@dataclass(frozen=True)
class PolygonLayerOptions:
    """layers.rs:98-139 (default edge_type Undirected)."""

    edge_type: str = "undirected"
    validate: bool = False


# ---------------------------------------------------------------------------
# shared walk algorithms — the reference's layer control flow verbatim,
# over plain (src_vid, dst_vid) lists in edge-id (insertion) order.
# Used both by the applyInPandas groups and the driver-side facade, so
# the two surfaces cannot diverge.
# ---------------------------------------------------------------------------


def _adjacency(edges: list[tuple[int, int]]):
    """outgoing/incoming edge-index lists per vertex, insertion order
    (graph.rs Vertex::add_outgoing_edge/add_incoming_edge)."""
    out: dict[int, list[int]] = {}
    inc: dict[int, list[int]] = {}
    for ei, (s, t) in enumerate(edges):
        out.setdefault(s, []).append(ei)
        inc.setdefault(t, []).append(ei)
    return out, inc


def find_cycles(edges: list[tuple[int, int]],
                undirected: bool) -> list[list[int]]:
    """S2PolygonLayer::find_cycles + find_cycle_from_edge
    (layers.rs:222-299), including its quirks: candidates exclude only
    the immediately-previous edge (not all visited ones); a walk that
    runs into an already-visited edge terminates and still yields the
    collected chain when it has >= 3 edges; dead-end walks mark their
    edges visited and yield nothing."""
    out, inc = _adjacency(edges)
    visited: set[int] = set()
    cycles: list[list[int]] = []

    def find_next(vertex: int, previous: int) -> int | None:
        # layers.rs:305-337 — outgoing first (insertion order), then
        # incoming when undirected; first candidate wins
        for ei in out.get(vertex, ()):
            if ei != previous:
                return ei
        if undirected:
            for ei in inc.get(vertex, ()):
                if ei != previous:
                    return ei
        return None

    for start in range(len(edges)):
        if start in visited:
            continue
        cycle: list[int] = []
        current = start
        start_vertex = edges[start][0]
        dead_end = False
        while True:
            if current in visited:
                break
            visited.add(current)
            cycle.append(current)
            target = edges[current][1]
            nxt = find_next(target, current)
            if nxt is None:
                dead_end = True
                break
            current = nxt
            if edges[nxt][1] == start_vertex:
                visited.add(nxt)
                cycle.append(nxt)
                break
        if not dead_end and len(cycle) >= 3:
            cycles.append(cycle)
    return cycles


def walk_single_polyline(edges: list[tuple[int, int]]) -> list[int]:
    """S2PolylineLayer::find_edge_path (layers.rs:469-540): start at
    the first edge whose source has no incoming edges (else edge 0),
    follow outgoing edges in insertion order; error if any edge is
    left over."""
    if not edges:
        return []
    out, inc = _adjacency(edges)
    start = next(
        (ei for ei, (s, _) in enumerate(edges) if not inc.get(s)), 0
    )
    remaining = set(range(len(edges)))
    path: list[int] = []
    current = start
    while current in remaining:
        remaining.remove(current)
        path.append(current)
        target = edges[current][1]
        nxt = next(
            (ei for ei in out.get(target, ()) if ei in remaining), None
        )
        if nxt is None:
            break
        current = nxt
    if remaining:
        raise ValueError("Edges do not form a single connected polyline")
    return path


def walk_polyline_components(edges: list[tuple[int, int]]
                             ) -> list[list[int]]:
    """S2PolylineVectorLayer::build (layers.rs:608-619 +
    extract_connected_component / sort_edges_into_path, 633-760).
    The reference seeds each component from HashSet iteration order
    (nondeterministic); the engine uses the lowest remaining edge id —
    a deterministic refinement of unspecified behavior."""
    out, inc = _adjacency(edges)
    degree = {v: len(out.get(v, ())) + len(inc.get(v, ()))
              for v in set(out) | set(inc)}
    remaining = set(range(len(edges)))
    components: list[list[int]] = []
    while remaining:
        start = min(remaining)
        # BFS over shared-endpoint adjacency (layers.rs:634-686)
        queue = [start]
        visited: set[int] = set()
        component: list[int] = []
        while queue:
            ei = queue.pop(0)
            if ei in visited or ei not in remaining:
                continue
            visited.add(ei)
            remaining.remove(ei)
            component.append(ei)
            for v in edges[ei]:
                for nb in out.get(v, ()):
                    if nb in remaining:
                        queue.append(nb)
                for nb in inc.get(v, ()):
                    if nb in remaining:
                        queue.append(nb)
        # sort_edges_into_path (layers.rs:694-760): start at the first
        # component edge whose source has degree 1, else the first;
        # follow outgoing edges; on disconnect jump to the lowest left
        comp_remaining = set(component)
        path_start = next(
            (ei for ei in component if degree.get(edges[ei][0], 0) == 1),
            component[0],
        )
        path: list[int] = []
        current = path_start
        while current in comp_remaining:
            comp_remaining.remove(current)
            path.append(current)
            target = edges[current][1]
            nxt = next(
                (ei for ei in out.get(target, ())
                 if ei in comp_remaining), None,
            )
            if nxt is None:
                nxt = min(comp_remaining) if comp_remaining else None
                if nxt is None:
                    break
            current = nxt
        components.append(path)
    return components


def path_vertex_ids(edges: list[tuple[int, int]],
                    path: list[int]) -> list[int]:
    """path_to_vertices (layers.rs:546-567): source vertex of every
    path edge plus the final edge's target."""
    if not path:
        return []
    verts = [edges[ei][0] for ei in path]
    verts.append(edges[path[-1]][1])
    return verts


def cycle_vertex_ids(edges: list[tuple[int, int]],
                     cycle: list[int]) -> list[int]:
    """cycle_to_vertices (layers.rs:340-353): source of each edge."""
    return [edges[ei][0] for ei in cycle]


# ---------------------------------------------------------------------------
# table-scale graph build
# ---------------------------------------------------------------------------

_SNAPPED_FIELDS = [
    StructField("graph", StringType()),
    StructField("edge_ord", LongType()),
    StructField("edge_type", StringType()),
    StructField("sx", DoubleType()), StructField("sy", DoubleType()),
    StructField("sz", DoubleType()),
    StructField("tx", DoubleType()), StructField("ty", DoubleType()),
    StructField("tz", DoubleType()),
    StructField("skx", LongType()), StructField("sky", LongType()),
    StructField("skz", LongType()),
    StructField("tkx", LongType()), StructField("tky", LongType()),
    StructField("tkz", LongType()),
    StructField("degenerate", IntegerType()),
]


def snap_edge_endpoints(edges: DataFrame,
                        snap: SnapFunction) -> DataFrame:
    """One Arrow pass snapping both endpoints of every input edge.

    Input columns: graph (string group key), edge_ord (long, the
    insertion order within its graph), edge_type ('directed' |
    'undirected'), sx..sz / tx..tz (endpoint xyz).  Output adds the
    snapped coordinates, their IEEE-754 bit keys (PositionKey,
    graph.rs:250-268) and the degenerate flag
    (angle < 1e-15, graph.rs:404-409)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            sxyz = snap.snap_point(
                b["sx"].to_numpy(np.float64),
                b["sy"].to_numpy(np.float64),
                b["sz"].to_numpy(np.float64),
            )
            txyz = snap.snap_point(
                b["tx"].to_numpy(np.float64),
                b["ty"].to_numpy(np.float64),
                b["tz"].to_numpy(np.float64),
            )
            ang = sk.point_angle(*sxyz, *txyz)
            yield pd.DataFrame(
                {
                    "graph": b["graph"].to_numpy(),
                    "edge_ord": b["edge_ord"].to_numpy(np.int64),
                    "edge_type": b["edge_type"].to_numpy(),
                    "sx": sxyz[0], "sy": sxyz[1], "sz": sxyz[2],
                    "tx": txyz[0], "ty": txyz[1], "tz": txyz[2],
                    "skx": sxyz[0].view(np.int64),
                    "sky": sxyz[1].view(np.int64),
                    "skz": sxyz[2].view(np.int64),
                    "tkx": txyz[0].view(np.int64),
                    "tky": txyz[1].view(np.int64),
                    "tkz": txyz[2].view(np.int64),
                    "degenerate": (
                        ang < sk.DEGENERATE_EDGE_ANGLE
                    ).astype(np.int32),
                }
            )

    return edges.select(
        "graph", "edge_ord", "edge_type", "sx", "sy", "sz",
        "tx", "ty", "tz",
    ).mapInPandas(run, StructType(_SNAPPED_FIELDS))


def build_graph(edges: DataFrame, snap: SnapFunction | None = None,
                options: GraphOptions | None = None,
                materialize_snapped: bool = False,
                ) -> tuple[DataFrame, DataFrame]:
    """Snapped-edge graph as two DataFrames (the engine's Graph,
    graph.rs:236-560).

    Returns ``(vertices, graph_edges)``:
      vertices(graph, vertex_id, x, y, z)
      graph_edges(graph, edge_id, src_vid, dst_vid, edge_type, n_inputs)

    Vertex ids are first-appearance ranks over (edge_ord, source-then-
    target), reproducing find_or_create_vertex insertion order; edge
    ids are insertion ranks of the surviving (deduped) edges.  Where
    the reference *errors* on degenerate/duplicate edges
    (graph.rs:404-429) the table operator drops them, counting
    collapsed duplicates in ``n_inputs`` — the driver-side
    :class:`S2Builder` facade keeps the raising behavior.

    Scale shape: one groupBy per side for vertices, one join back, one
    dedup groupBy — all hash shuffles keyed by (graph, position-bits);
    the two rank windows partition by graph (fine when there are many
    graphs; for a single giant graph the global rank is the documented
    sort cost).
    """
    snap = snap or SnapFunction()
    options = options or GraphOptions()
    s = snap_edge_endpoints(edges, snap)
    if options.remove_degenerate_edges:
        s = s.filter(F.col("degenerate") == 0)
    # The snapped frame feeds three consumers (src slots, dst slots,
    # the vid join-back), so the input scan + snap pass executes three
    # times by default.  materialize_snapped=True checkpoints it once —
    # right when the snap pass costs more than writing the snapped
    # edges (historical: 22.1s -> 13.9s on 500k edges, 32-core box).  The
    # default stays recompute: on a 100-TB pruned scan, re-reading
    # beats materializing the whole snapped table.
    if materialize_snapped:
        s = s.localCheckpoint(eager=False)

    src = s.select(
        "graph",
        (F.col("edge_ord") * 2).alias("slot"),
        F.col("skx").alias("kx"), F.col("sky").alias("ky"),
        F.col("skz").alias("kz"),
        F.col("sx").alias("x"), F.col("sy").alias("y"),
        F.col("sz").alias("z"),
    )
    dst = s.select(
        "graph",
        (F.col("edge_ord") * 2 + 1).alias("slot"),
        F.col("tkx").alias("kx"), F.col("tky").alias("ky"),
        F.col("tkz").alias("kz"),
        F.col("tx").alias("x"), F.col("ty").alias("y"),
        F.col("tz").alias("z"),
    )
    w = Window.partitionBy("graph").orderBy("first_slot")
    vertices = (
        src.unionByName(dst)
        .groupBy("graph", "kx", "ky", "kz")
        .agg(
            F.min("slot").alias("first_slot"),
            F.first("x").alias("x"), F.first("y").alias("y"),
            F.first("z").alias("z"),
        )
        .withColumn("vertex_id", F.row_number().over(w) - 1)
    )

    vs = vertices.select(
        "graph", F.col("kx").alias("skx"), F.col("ky").alias("sky"),
        F.col("kz").alias("skz"), F.col("vertex_id").alias("src_vid"),
    )
    vt = vertices.select(
        "graph", F.col("kx").alias("tkx"), F.col("ky").alias("tky"),
        F.col("kz").alias("tkz"), F.col("vertex_id").alias("dst_vid"),
    )
    e = (
        s.join(vs, ["graph", "skx", "sky", "skz"])
        .join(vt, ["graph", "tkx", "tky", "tkz"])
        .select("graph", "edge_ord", "edge_type", "src_vid", "dst_vid")
    )
    if options.remove_duplicate_edges:
        e = e.groupBy("graph", "src_vid", "dst_vid", "edge_type").agg(
            F.min("edge_ord").alias("edge_ord"),
            F.count("*").alias("n_inputs"),
        )
    else:
        e = e.withColumn("n_inputs", F.lit(1).cast("long"))
    if options.remove_sibling_pairs:
        # graph.rs:458-491 — both members of every (u->v, v->u) pair
        # with the same edge_type are removed
        sib = e.select(
            "graph",
            F.col("dst_vid").alias("src_vid"),
            F.col("src_vid").alias("dst_vid"),
            "edge_type",
        ).distinct()
        e = e.join(sib, ["graph", "src_vid", "dst_vid", "edge_type"],
                   "left_anti")
    we = Window.partitionBy("graph").orderBy("edge_ord")
    graph_edges = e.withColumn("edge_id", F.row_number().over(we) - 1)
    return (
        vertices.select("graph", "vertex_id", "x", "y", "z"),
        graph_edges.select(
            "graph", "edge_id", "src_vid", "dst_vid", "edge_type",
            "n_inputs",
        ),
    )


_CHAIN_SCHEMA = StructType(
    [
        StructField("graph", StringType()),
        StructField("chain_id", IntegerType()),
        StructField("seq", IntegerType()),
        StructField("vertex_id", IntegerType()),
        StructField("x", DoubleType()),
        StructField("y", DoubleType()),
        StructField("z", DoubleType()),
    ]
)


def _assemble(graph_edges: DataFrame, vertices: DataFrame,
              walker) -> DataFrame:
    """Per-graph chain reassembly: join vertex coordinates once, run
    ``walker`` (one of the shared reference algorithms) inside each
    applyInPandas group, emit (graph, chain_id, seq, vertex_id, x, y,
    z) rows."""
    coords = vertices.select(
        "graph", "vertex_id", "x", "y", "z",
    )
    e = graph_edges.select("graph", "edge_id", "src_vid", "dst_vid")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("edge_id")
        edges = list(zip(pdf["src_vid"].tolist(), pdf["dst_vid"].tolist()))
        vx = dict(zip(
            pdf["src_vid"].tolist(),
            zip(pdf["s_x"].tolist(), pdf["s_y"].tolist(),
                pdf["s_z"].tolist()),
        ))
        vx.update(zip(
            pdf["dst_vid"].tolist(),
            zip(pdf["t_x"].tolist(), pdf["t_y"].tolist(),
                pdf["t_z"].tolist()),
        ))
        graph = pdf["graph"].iloc[0]
        rows = []
        for ci, vids in enumerate(walker(edges)):
            for seq, vid in enumerate(vids):
                x, y, z = vx[vid]
                rows.append((graph, ci, seq, vid, x, y, z))
        return pd.DataFrame(
            rows, columns=["graph", "chain_id", "seq", "vertex_id",
                           "x", "y", "z"],
        )

    joined = (
        e.join(
            coords.select(
                "graph", F.col("vertex_id").alias("src_vid"),
                F.col("x").alias("s_x"), F.col("y").alias("s_y"),
                F.col("z").alias("s_z"),
            ),
            ["graph", "src_vid"],
        )
        .join(
            coords.select(
                "graph", F.col("vertex_id").alias("dst_vid"),
                F.col("x").alias("t_x"), F.col("y").alias("t_y"),
                F.col("z").alias("t_z"),
            ),
            ["graph", "dst_vid"],
        )
    )
    return joined.groupBy("graph").applyInPandas(run, _CHAIN_SCHEMA)


def assemble_polylines(graph_edges: DataFrame, vertices: DataFrame,
                       mode: str = "vector") -> DataFrame:
    """Polyline layer over every graph: ``mode="single"`` mirrors
    S2PolylineLayer (one chain, errors when edges don't form one);
    ``mode="vector"`` mirrors S2PolylineVectorLayer (one chain per
    connected component).  Output: (graph, chain_id, seq, vertex_id,
    x, y, z); chains shorter than 2 vertices are dropped
    (layers.rs:443-453, 611-618)."""

    if mode == "single":
        def walker(edges):
            path = walk_single_polyline(edges)
            vids = path_vertex_ids(edges, path)
            return [vids] if len(vids) >= 2 else []
    else:
        def walker(edges):
            return [
                v for v in (
                    path_vertex_ids(edges, p)
                    for p in walk_polyline_components(edges)
                )
                if len(v) >= 2
            ]

    return _assemble(graph_edges, vertices, walker)


def assemble_loops(graph_edges: DataFrame, vertices: DataFrame,
                   undirected: bool = True) -> DataFrame:
    """Polygon layer over every graph: the reference cycle walk
    (find_cycles) per graph; cycles with >= 3 vertices become loops
    (layers.rs:193-208).  Output: (graph, chain_id, seq, vertex_id,
    x, y, z)."""

    def walker(edges):
        return [
            v for v in (
                cycle_vertex_ids(edges, c)
                for c in find_cycles(edges, undirected)
            )
            if len(v) >= 3
        ]

    return _assemble(graph_edges, vertices, walker)


def edges_from_latlng(df: DataFrame, lat1: str = "lat", lng1: str = "lng",
                      lat2: str = "lat2", lng2: str = "lng2") -> DataFrame:
    """Add endpoint xyz columns (sx..sz / tx..tz) from two lat/lng
    degree pairs — one Arrow pass (S2LatLng::to_point,
    latlng.rs:207-227)."""
    from ..kernels import latlng as lk

    fields = df.schema.fields + [
        StructField(c, DoubleType())
        for c in ("sx", "sy", "sz", "tx", "ty", "tz")
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            s = lk.latlng_to_xyz(
                lk.degrees_to_radians(b[lat1].to_numpy(np.float64)),
                lk.degrees_to_radians(b[lng1].to_numpy(np.float64)),
            )
            t = lk.latlng_to_xyz(
                lk.degrees_to_radians(b[lat2].to_numpy(np.float64)),
                lk.degrees_to_radians(b[lng2].to_numpy(np.float64)),
            )
            b = b.copy()
            b["sx"], b["sy"], b["sz"] = s
            b["tx"], b["ty"], b["tz"] = t
            yield b

    return df.mapInPandas(run, StructType(fields))


def with_int_grid(vertices: DataFrame, scale: float) -> DataFrame:
    """Attach the IntLatLng snap-site grid coordinates (lat_e, lng_e
    BIGINT) to snapped vertices — the SQL-replayable identity of each
    snap site."""
    fields = vertices.schema.fields + [
        StructField("lat_e", LongType()), StructField("lng_e", LongType()),
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            gl, gn = sk.snap_int_latlng_grid(
                b["x"].to_numpy(np.float64),
                b["y"].to_numpy(np.float64),
                b["z"].to_numpy(np.float64),
                scale,
            )
            b = b.copy()
            b["lat_e"], b["lng_e"] = gl, gn
            yield b

    return vertices.mapInPandas(run, StructType(fields))


# ---------------------------------------------------------------------------
# driver-side facade — API parity with the reference S2Builder
# (mod.rs:140-301); same kernels, same walk algorithms, raising
# behavior preserved.  This is the small-geometry surface; the table
# operators above are the engine.
# ---------------------------------------------------------------------------


from ..errors import BuilderError  # noqa: E402  (S2Error taxonomy)


class S2Builder:
    """Driver-side builder: add_vertex / add_edge / add_polyline /
    add_loop / add_layer / build (mod.rs:148-295)."""

    def __init__(self, options: BuilderOptions | None = None):
        self.options = options or BuilderOptions()
        self._vertices: list[tuple[float, float, float]] = []
        self._edges: list[tuple[int, int, str]] = []
        self._layers: list = []
        self._built = False

    # -- input accumulation -------------------------------------------------
    def add_vertex(self, x: float, y: float, z: float) -> int:
        if self._built:
            raise BuilderError(
                "Cannot add vertex after build() has been called"
            )
        self._vertices.append((float(x), float(y), float(z)))
        return len(self._vertices) - 1

    def add_edge(self, a: tuple[float, float, float],
                 b: tuple[float, float, float]) -> int:
        # mod.rs:176-190 — antipodal endpoints are invalid
        dot = a[0] * b[0] + a[1] * b[1] + a[2] * b[2]
        if abs(dot + 1.0) < sk.ANTIPODAL_DOT_TOL:
            raise BuilderError("Cannot add edge between antipodal points")
        v1 = self.add_vertex(*a)
        v2 = self.add_vertex(*b)
        return self.add_edge_vertices(v1, v2, "directed")

    def add_edge_vertices(self, v1: int, v2: int,
                          edge_type: str = "directed") -> int:
        self._edges.append((v1, v2, edge_type))
        return len(self._edges) - 1

    def add_polyline(self, vertices, edge_type: str = "directed") -> None:
        # mod.rs:201-219 — fewer than 2 vertices is a silent no-op
        if len(vertices) < 2:
            return
        ids = [self.add_vertex(*v) for v in vertices]
        for i in range(len(ids) - 1):
            self.add_edge_vertices(ids[i], ids[i + 1], edge_type)

    def add_loop(self, vertices, edge_type: str = "undirected") -> None:
        # mod.rs:222-241 — fewer than 3 vertices is an error
        if len(vertices) < 3:
            raise BuilderError("Loop must have at least 3 vertices")
        ids = [self.add_vertex(*v) for v in vertices]
        for i in range(len(ids)):
            self.add_edge_vertices(ids[i], ids[(i + 1) % len(ids)],
                                   edge_type)

    def add_layer(self, layer) -> None:
        self._layers.append(layer)

    # -- introspection ------------------------------------------------------
    def num_input_vertices(self) -> int:
        return len(self._vertices)

    def num_input_edges(self) -> int:
        return len(self._edges)

    def num_layers(self) -> int:
        return len(self._layers)

    def is_built(self) -> bool:
        return self._built

    # -- build --------------------------------------------------------------
    def build(self) -> "LocalGraph":
        """mod.rs:269-295: snap every input vertex, dedupe positions
        into graph vertices (insertion order), add edges, then run the
        layers.  Returns the graph so callers without layers can
        inspect it."""
        self._built = True
        snap = self.options.snap_function
        graph = LocalGraph()
        vmap = {}
        for i, (x, y, z) in enumerate(self._vertices):
            sx, sy, sz = snap.snap_point(
                np.float64(x), np.float64(y), np.float64(z)
            )
            vmap[i] = graph.add_vertex(float(sx), float(sy), float(sz))
        for v1, v2, edge_type in self._edges:
            graph.add_edge(vmap[v1], vmap[v2], edge_type)
        for layer in self._layers:
            layer.build(graph)
        return graph


class LocalGraph:
    """Driver-side Graph (graph.rs:236-560): bit-keyed vertex dedup,
    insertion-order ids, degenerate/duplicate edges raise (the
    reference's add_snapped_edge error paths)."""

    def __init__(self, options: GraphOptions | None = None):
        self.options = options or GraphOptions()
        self.points: list[tuple[float, float, float]] = []
        self.edges: list[tuple[int, int, str]] = []
        self._pos_to_vid: dict[tuple[int, int, int], int] = {}

    @staticmethod
    def _key(x: float, y: float, z: float) -> tuple[int, int, int]:
        # PositionKey::from_point (graph.rs:250-268): raw f64 bits
        return (
            int(np.float64(x).view(np.int64)),
            int(np.float64(y).view(np.int64)),
            int(np.float64(z).view(np.int64)),
        )

    def add_vertex(self, x: float, y: float, z: float) -> int:
        key = self._key(x, y, z)
        vid = self._pos_to_vid.get(key)
        if vid is None:
            vid = len(self.points)
            self.points.append((x, y, z))
            self._pos_to_vid[key] = vid
        return vid

    def add_edge(self, src: int, dst: int,
                 edge_type: str = "directed") -> int:
        a, b = self.points[src], self.points[dst]
        if self.options.remove_degenerate_edges:
            ang = float(sk.point_angle(a[0], a[1], a[2], b[0], b[1], b[2]))
            if ang < sk.DEGENERATE_EDGE_ANGLE:
                raise BuilderError("Degenerate edge removed")
        if self.options.remove_duplicate_edges:
            for es, ed, et in self.edges:
                if (es, ed, et) == (src, dst, edge_type):
                    raise BuilderError("Duplicate edge removed")
        self.edges.append((src, dst, edge_type))
        return len(self.edges) - 1

    def num_vertices(self) -> int:
        return len(self.points)

    def num_edges(self) -> int:
        return len(self.edges)

    @classmethod
    def from_snapped_edges(cls, snapped_edges,
                           options: GraphOptions | None = None
                           ) -> "LocalGraph":
        """graph.rs:290-306 — errors propagate (degenerate/duplicate
        inputs fail the whole build, a reference quirk)."""
        g = cls(options)
        for (a, b, edge_type) in snapped_edges:
            src = g.add_vertex(*a)
            dst = g.add_vertex(*b)
            g.add_edge(src, dst, edge_type)
        return g

    def edge_pairs(self) -> list[tuple[int, int]]:
        return [(s, t) for s, t, _ in self.edges]


class S2PolylineLayer:
    """layers.rs:409-567 — single-chain assembly into ``self.polyline``
    (list of xyz tuples) or None."""

    def __init__(self, options: PolylineLayerOptions | None = None):
        self.options = options or PolylineLayerOptions()
        self.polyline: list[tuple[float, float, float]] | None = None

    def build(self, graph: LocalGraph) -> None:
        path = walk_single_polyline(graph.edge_pairs())
        vids = path_vertex_ids(graph.edge_pairs(), path)
        self.polyline = (
            [graph.points[v] for v in vids] if len(vids) >= 2 else None
        )


class S2PolylineVectorLayer:
    """layers.rs:576-760 — per-component chains into ``self.polylines``."""

    def __init__(self, options: PolylineLayerOptions | None = None):
        self.options = options or PolylineLayerOptions()
        self.polylines: list[list[tuple[float, float, float]]] = []

    def build(self, graph: LocalGraph) -> None:
        pairs = graph.edge_pairs()
        self.polylines = [
            [graph.points[v] for v in path_vertex_ids(pairs, p)]
            for p in walk_polyline_components(pairs)
            if len(path_vertex_ids(pairs, p)) >= 2
        ]


class S2PolygonLayer:
    """layers.rs:149-353 — cycles with >= 3 vertices into
    ``self.loops``."""

    def __init__(self, options: PolygonLayerOptions | None = None):
        self.options = options or PolygonLayerOptions()
        self.loops: list[list[tuple[float, float, float]]] = []

    def build(self, graph: LocalGraph) -> None:
        pairs = graph.edge_pairs()
        undirected = self.options.edge_type == "undirected"
        self.loops = [
            [graph.points[v] for v in cycle_vertex_ids(pairs, c)]
            for c in find_cycles(pairs, undirected)
            if len(cycle_vertex_ids(pairs, c)) >= 3
        ]
