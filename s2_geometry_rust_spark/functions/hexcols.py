"""Pure-JVM Column expressions for the aperture-7 hex grid.

The whole hex pipeline — cube-face projection, grid rotation, cube
rounding, id packing, parent rebinning — is *, +, -, /, abs, floor and
comparisons on doubles/longs, so unlike the Hilbert encoder it needs no
pandas UDF at all: every operator here runs inside whole-stage codegen.

Normative math and the determinism contract live in
kernels/hexgrid.py; the face projection mirrors the cell-id variant
(kernels/cellid.py:49-89, reference cell_id.rs:507-537) so hex and S2
indexes of the same point always agree on the face.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..kernels import hexgrid as hg


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def face_col(x, y, z) -> Column:
    """(x, y, z) -> face, cell_id.rs:507-537 tie-breaking."""
    x, y, z = _c(x), _c(y), _c(z)
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    x_dom = (ax >= ay) & (ax >= az)
    return (
        F.when(x_dom, F.when(x >= 0.0, F.lit(0)).otherwise(F.lit(3)))
        .when(ay >= az, F.when(y >= 0.0, F.lit(1)).otherwise(F.lit(4)))
        .otherwise(F.when(z >= 0.0, F.lit(2)).otherwise(F.lit(5)))
    )


def uv_from_face(face, x, y, z) -> tuple[Column, Column]:
    """Per-face gnomonic (u, v).  Pass ``face`` as a materialized
    *attribute* (see with_hex_cell): inlining the face CASE here 12x
    over blows the 64KB codegen method limit and drops the whole stage
    to interpreted mode."""
    face, x, y, z = _c(face), _c(x), _c(y), _c(z)
    u = (
        F.when(face == 0, y / x)
        .when(face == 3, (-z) / (-x))
        .when(face == 1, (-x) / y)
        .when(face == 4, z / (-y))
        .when(face == 2, (-y) / z)
        .otherwise((-x) / (-z))
    )
    v = (
        F.when(face == 0, z / x)
        .when(face == 3, (-y) / (-x))
        .when(face == 1, z / y)
        .when(face == 4, x / (-y))
        .when(face == 2, (-x) / z)
        .otherwise(y / (-z))
    )
    return u, v


def hex_pack(face, res: int, q, r) -> Column:
    """Layout: [62:60]=face [59:56]=res [55:28]=q+2^27 [27:0]=r+2^27."""
    face, q, r = _c(face), _c(q), _c(r)
    return (
        F.shiftleft(face.cast("long"), 60)
        .bitwiseOR(F.lit(res << 56).cast("long"))
        .bitwiseOR(F.shiftleft(q + F.lit(hg.OFF).cast("long"), 28))
        .bitwiseOR(r + F.lit(hg.OFF).cast("long"))
    )


def with_hex_axial(df, u: str, v: str, res: int,
                   qname: str, rname: str, keep: list[str]):
    """df(keep.., face, u, v) -> df(keep.., face, q, r): the cube-round
    pipeline as CHAINED PROJECTIONS, one per multi-use intermediate
    (qf/rf, yf, rx/ry/rz, dx/dy/dz).

    Why not one Column expression: each intermediate is referenced up
    to 6 times downstream, so a flat tree duplicates the whole upstream
    subtree exponentially — the generated Java overflows janino's 64KB
    method limit and Spark silently de-optimizes the stage to
    interpreted eval (observed).  Multi-use non-cheap aliases survive
    Catalyst's CollapseProject, and consecutive Projects still fuse
    into ONE WholeStageCodegen span with local variables — exactly the
    code a human would write."""
    c, s = F.lit(hg.COS[res]), F.lit(hg.SIN[res])
    uu, vv = _c(u), _c(v)
    d = df.select(*keep, "face",
                  (c * uu + s * vv).alias("__xp"),
                  (c * vv - s * uu).alias("__yp"))
    d = d.select(*keep, "face",
                 (F.lit(hg.C1[res]) * F.col("__xp")
                  - F.lit(hg.C2[res]) * F.col("__yp")).alias("__qf"),
                 (F.lit(hg.C3[res]) * F.col("__yp")).alias("__rf"))
    d = d.select(*keep, "face", "__qf", "__rf",
                 ((-F.col("__qf")) - F.col("__rf")).alias("__yf"))
    d = d.select(*keep, "face", "__qf", "__rf", "__yf",
                 F.floor(F.col("__qf") + 0.5).alias("__rx"),
                 F.floor(F.col("__yf") + 0.5).alias("__ry"),
                 F.floor(F.col("__rf") + 0.5).alias("__rz"))
    d = d.select(*keep, "face", "__rx", "__ry", "__rz",
                 F.abs(F.col("__rx") - F.col("__qf")).alias("__dx"),
                 F.abs(F.col("__ry") - F.col("__yf")).alias("__dy"),
                 F.abs(F.col("__rz") - F.col("__rf")).alias("__dz"))
    fix_x = (F.col("__dx") > F.col("__dy")) & (F.col("__dx") > F.col("__dz"))
    fix_y = (~fix_x) & (F.col("__dy") > F.col("__dz"))
    q = F.when(fix_x, -F.col("__ry") - F.col("__rz")).otherwise(F.col("__rx"))
    r = (F.when(fix_x | fix_y, F.col("__rz"))
         .otherwise(-F.col("__rx") - F.col("__ry")))
    return d.select(*keep, "face",
                    q.cast("long").alias(qname), r.cast("long").alias(rname))


def with_hex_cell(df, x: str, y: str, z: str, res: int,
                  out: str = "hex_id", keep: list[str] | None = None):
    """df + packed hex id of point (x, y, z) at ``res`` — fully JVM,
    chained projections (see with_hex_axial for why)."""
    keep = df.columns if keep is None else keep
    d1 = df.select(*keep, F.col(x).alias("__hx"), F.col(y).alias("__hy"),
                   F.col(z).alias("__hz"),
                   face_col(x, y, z).alias("face"))
    u, v = uv_from_face("face", "__hx", "__hy", "__hz")
    d2 = d1.select(*keep, "face", u.alias("__hu"), v.alias("__hv"))
    d3 = with_hex_axial(d2, "__hu", "__hv", res, "__hq", "__hr", keep)
    return d3.select(
        *keep, hex_pack("face", res, "__hq", "__hr").alias(out)
    )


def hex_face(hid) -> Column:
    return F.shiftrightunsigned(_c(hid), 60).bitwiseAND(F.lit(7)).cast("int")


def hex_res(hid) -> Column:
    return F.shiftrightunsigned(_c(hid), 56).bitwiseAND(F.lit(15)).cast("int")


def hex_q(hid) -> Column:
    mask = F.lit(hg.OFF * 2 - 1).cast("long")
    return F.shiftrightunsigned(_c(hid), 28).bitwiseAND(mask) - F.lit(hg.OFF)


def hex_r(hid) -> Column:
    mask = F.lit(hg.OFF * 2 - 1).cast("long")
    return _c(hid).bitwiseAND(mask) - F.lit(hg.OFF)


def hex_center_cols(q, r, res: int) -> tuple[Column, Column]:
    """Axial -> face-plane center (u, v), twin of axial_to_uv."""
    qd = _c(q).cast("double")
    rd = _c(r).cast("double")
    xl = F.lit(hg.D1[res]) * qd + F.lit(hg.D2[res]) * rd
    yl = F.lit(hg.D3[res]) * rd
    c, s = F.lit(hg.COS[res]), F.lit(hg.SIN[res])
    return c * xl - s * yl, s * xl + c * yl


def with_hex_parent(df, hid: str, res: int, out: str = "parent_id"):
    """df + aperture-7 parent of a res-``res`` id: rebin the hex
    center at res-1 (center containment, kernels.hexgrid.parent).
    Chained projections for the same codegen reason as with_hex_cell."""
    keep = df.columns
    d1 = df.select(*keep, hex_face(hid).alias("face"),
                   hex_q(hid).alias("__pq"), hex_r(hid).alias("__pr"))
    cu, cv = hex_center_cols("__pq", "__pr", res)
    d2 = d1.select(*keep, "face", cu.alias("__pu"), cv.alias("__pv"))
    d3 = with_hex_axial(d2, "__pu", "__pv", res - 1, "__pq2", "__pr2", keep)
    return d3.select(
        *keep, hex_pack("face", res - 1, "__pq2", "__pr2").alias(out)
    )


def hex_token(hid) -> Column:
    """Lower-case hex string of the id (no leading zeros; ids are
    always positive so Spark HEX == printf('%x') in DuckDB)."""
    return F.lower(F.hex(_c(hid)))


def with_hex_from_latlng(df, lat: str, lng: str, res: int,
                         out: str = "hex_id",
                         keep: list[str] | None = None):
    """df + hex id from latitude/longitude degrees — JVM trig
    (radians/sin/cos) then the chained hex pipeline.

    Used by the geo-extraction tilers (batch + streaming twins), where
    parity is engine-internal Spark-vs-Spark; the cross-engine
    (DuckDB-oracled) contract queries go through xyz derived points
    instead, because libm trig is the one op class without a bitwise
    cross-engine guarantee."""
    keep = df.columns if keep is None else keep
    d = df.select(
        *keep,
        F.radians(F.col(lat)).alias("__phi"),
        F.radians(F.col(lng)).alias("__lam"),
    )
    d = d.select(
        *keep,
        (F.cos("__phi") * F.cos("__lam")).alias("__gx"),
        (F.cos("__phi") * F.sin("__lam")).alias("__gy"),
        F.sin("__phi").alias("__gz"),
    )
    return with_hex_cell(d, "__gx", "__gy", "__gz", res, out=out, keep=keep)
