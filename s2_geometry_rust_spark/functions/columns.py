"""JVM-side Column expressions for S2 cell-id hierarchy math.

Cell ids are stored in Spark ``LongType`` as the two's-complement
reinterpretation of the reference's u64 ids (faces 4-5 set bit 63, so
those ids are negative as int64 — see SURVEY.md §8.7).  Everything here
is bitwise / additive arithmetic, which is representation-identical
between int64 and uint64, so results match the numpy uint64 kernels
(``kernels.cellid``) bit-for-bit while staying inside whole-stage codegen.

Order-sensitive comparisons (sorts, BETWEEN range joins) must go through
``unsigned_sort_key`` (XOR with 2^63), which maps unsigned order onto
signed int64 order.

Reference semantics: /root/reference/src/cell_id.rs (see per-function
docstrings for exact lines).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

MAX_LEVEL = 30
POS_BITS = 61
LONG_MIN = -9223372036854775808  # 1 << 63 as signed

_VALID_LSB_MASK = 0x1555555555555555


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def cell_lsb(col) -> Column:
    """id & -id — lowest set bit (cell_id.rs:284-286)."""
    c = _c(col)
    return c.bitwiseAND(-c)


def cell_face(col) -> Column:
    """Top 3 bits (cell_id.rs:258-260).  Logical (unsigned) shift."""
    return F.shiftrightunsigned(_c(col), POS_BITS).cast("int")


def cell_level(col) -> Column:
    """level = 30 - trailing_zeros(id)/2 (cell_id.rs:267-272).

    Uses the fact that for a power of two v, log2(v) in double is exact;
    lsb is reinterpreted through unsigned shift tricks.  We avoid
    floating point entirely: 64 - bit_count(lsb | (lsb-1)) gives leading
    count; simpler: trailing zeros = bit_count(lsb - 1).
    """
    c = _c(col)
    lsb = c.bitwiseAND(-c)
    tz = F.bit_count(lsb - 1)
    return F.when(c == 0, F.lit(-1)).otherwise(
        F.lit(MAX_LEVEL) - F.shiftright(tz, 1)
    ).cast("int")


def cell_is_leaf(col) -> Column:
    return _c(col).bitwiseAND(F.lit(1)) != 0


def cell_is_valid(col) -> Column:
    """face < 6 and lsb & 0x1555555555555555 != 0 (cell_id.rs:252-254)."""
    c = _c(col)
    lsb = c.bitwiseAND(-c)
    return (cell_face(c) < 6) & (lsb.bitwiseAND(F.lit(_VALID_LSB_MASK)) != 0)


def _lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


def cell_parent(col, level: int) -> Column:
    """Parent at a fixed level (cell_id.rs:297-305): (id & -lsb) | lsb.

    Matches ``parent_at_level`` semantics (cell_id.rs:651-657): identity
    when the cell is already at or above the target level.
    """
    c = _c(col)
    new_lsb = _lsb_for_level(level)
    p = c.bitwiseAND(F.lit(-new_lsb)).bitwiseOR(F.lit(new_lsb))
    return F.when(cell_level(c) <= level, c).otherwise(p)


def cell_parent_sql(name: str, level: int) -> str:
    """SQL text of ``cell_parent(name, level)``: the same bit expression
    (``cell_level`` included), for predicates built as one ``F.expr``
    instead of one py4j call per Column node.  The text holds only
    numbers and the backquoted column ``name``."""
    c = "`" + name.replace("`", "``") + "`"
    lsb = _lsb_for_level(level)
    lvl = (f"CASE WHEN {c} = 0 THEN -1 "
           f"ELSE {MAX_LEVEL} - shiftright(bit_count(({c} & -{c}) - 1), 1) END")
    return (f"CASE WHEN {lvl} <= {level} THEN {c} "
            f"ELSE ({c} & {-lsb}L) | {lsb}L END")


def cell_range_min(col) -> Column:
    """id - (lsb - 1) (cell_id.rs:484-487)."""
    c = _c(col)
    return c - (c.bitwiseAND(-c) - 1)


def cell_range_max(col) -> Column:
    """id + (lsb - 1) (cell_id.rs:490-492)."""
    c = _c(col)
    return c + (c.bitwiseAND(-c) - 1)


def unsigned_sort_key(col) -> Column:
    """Order-preserving signed key for u64 ids: id XOR 2^63.

    u64 order == int64 order of (id ^ 0x8000...).  Use for every sort /
    BETWEEN / min-max over cell ids (SURVEY.md §8.7).
    """
    return _c(col).bitwiseXOR(F.lit(LONG_MIN))


def cell_contains(a, b) -> Column:
    """Cell a contains cell b — range containment (cell_id.rs:355-357),
    compared in unsigned space."""
    bu = unsigned_sort_key(_c(b))
    return (unsigned_sort_key(cell_range_min(a)) <= bu) & (
        bu <= unsigned_sort_key(cell_range_max(a))
    )


def cell_intersects(a, b) -> Column:
    """Range overlap (cell_id.rs:360-363), unsigned comparison."""
    return (
        unsigned_sort_key(cell_range_min(a)) <= unsigned_sort_key(cell_range_max(b))
    ) & (
        unsigned_sort_key(cell_range_min(b)) <= unsigned_sort_key(cell_range_max(a))
    )


def cell_maximum_tile(id_col, end_col) -> Column:
    """Largest ancestor of ``id`` whose cell range stays strictly below
    ``end`` (cell_id.rs:673-685; kernel twin kernels/cellid.py:272).

    The reference climbs parent-by-parent and stops at the first
    coarser parent with range_max >= end.  A parent's range_max grows
    monotonically as the level decreases, so the stop level is simply
    min { L : range_max(parent(id, L)) < end } — one codegen array
    expression over the 31 levels (cell_parent is the identity for
    L >= level(id), exactly like the climb never descending), no loop,
    no Python.  Falls back to ``id`` itself when even its own range
    reaches ``end`` (the reference returns the unchecked start cell
    there too).  u64 comparisons via unsigned_sort_key.
    """
    c = _c(id_col)
    e = unsigned_sort_key(_c(end_col))
    cands = F.array(
        *[cell_parent(c, L) for L in range(0, MAX_LEVEL + 1)]
    )
    ok = F.filter(
        cands, lambda p: unsigned_sort_key(cell_range_max(p)) < e
    )
    return F.coalesce(F.try_element_at(ok, F.lit(1)), c)


def e_to_degrees(col, k: int) -> Column:
    """E5/E6/E7 fixed-point -> degrees (latlng.rs:66-100,
    angle.rs:81-105): value * 10^-k, exact double arithmetic."""
    return _c(col).cast("double") * F.lit(10.0 ** (-k))


def degrees_to_e(col, k: int) -> Column:
    """Degrees -> E-notation, round-half-away-from-zero like Rust's
    f64::round (angle.rs e5/e6/e7 accessors)."""
    v = _c(col).cast("double") * F.lit(float(10 ** k))
    return F.when(v >= 0, F.floor(v + 0.5)).otherwise(F.ceil(v - 0.5)).cast("int")


def cell_token(col) -> Column:
    """Hex token, trailing zeros stripped, 'X' for id 0
    (cell_id.rs:369-383).  Pure string ops, JVM-side."""
    c = _c(col)
    h = F.regexp_replace(F.lower(F.lpad(F.hex(c), 16, "0")), "0+$", "")
    return (
        F.when(c == 0, F.lit("X"))
        .when(F.length(h) == 0, F.lit("0"))
        .otherwise(h)
    )
