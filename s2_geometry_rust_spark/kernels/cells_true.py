"""True-geometry cells: the *exact* inverse of the engine's point->cell
mapping, for building correct join filters.

The reference's S2Cell geometry is deliberately approximate (UV bounds
pinned to the face corner for non-face cells, cell.rs:356-372; centers
from a non-Hilbert inversion, cell_id.rs:439-480 — SURVEY.md §8.2), so a
covering computed through it is NOT a sound filter for joins against
leaf ids produced by ``cellid.from_point``.  This module derives each
cell's true extent from first principles of the encoding itself:

    a cell at level L  ==  an aligned 2^(30-L) x 2^(30-L) block in
    (face, i, j)  ==  a UV rectangle under the linear ST map
    (cell_id.rs:542-557)  ==  a gnomonic quad on the sphere whose
    edges are great-circle arcs.

``leaf_to_face_ij`` is the exact Hilbert inverse via the LOOKUP_IJ
table (mirror of the lookup construction in cell_id.rs:574-629), so
``point in true_cell(C)  <=>  parent(from_point(point), level(C)) == C``
holds bit-for-bit (up to the half-open boundary, which callers treat
conservatively).  Used by operators.coverings conservative mode.
"""

from __future__ import annotations

import numpy as np

from . import cellid as ci
from .hilbert import INVERT_MASK, LOOKUP_BITS, LOOKUP_IJ, SWAP_MASK

U = np.uint64
MAX_LEVEL = 30
MAX_SIZE = 1 << MAX_LEVEL


def leaf_to_face_ij(leaf_ids) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact inverse of cellid.from_face_ij for leaf ids."""
    ids = np.asarray(leaf_ids, dtype=np.uint64)
    face = (ids >> U(61)).astype(np.uint64)
    n = ids >> U(1)
    hil = n - (face << U(60))  # face bits stripped; k=7 pos chunk < 16
    bits = face & U(SWAP_MASK)
    i = np.zeros_like(ids)
    j = np.zeros_like(ids)
    for k in range(7, -1, -1):
        chunk = (hil >> U(k * 2 * LOOKUP_BITS)) & U(0xFF)
        v = LOOKUP_IJ[((chunk << U(2)) | bits).astype(np.int64)]
        i |= (v >> U(LOOKUP_BITS + 4)) << U(k * LOOKUP_BITS)
        j |= ((v >> U(4)) & U(0xF)) << U(k * LOOKUP_BITS)
        bits = v & U(SWAP_MASK | INVERT_MASK)
    return face.astype(np.int32), i.astype(np.uint32), j.astype(np.uint32)


def cell_ij_block(ids) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(face, i0, j0, size) of each cell's aligned (i,j) block."""
    ids = np.asarray(ids, dtype=np.uint64)
    lv = ci.level(ids).astype(np.int64)
    size = (np.uint32(1) << (MAX_LEVEL - np.clip(lv, 0, MAX_LEVEL)).astype(np.uint32))
    face, i, j = leaf_to_face_ij(ci.range_min(ids))
    mask = ~(size - np.uint32(1))
    return face, (i & mask), (j & mask), size


def cell_uv_bounds(ids):
    """True UV rectangle [u_lo,u_hi] x [v_lo,v_hi] per cell."""
    face, i0, j0, size = cell_ij_block(ids)
    u_lo = ci.st_to_uv_linear(i0)
    u_hi = ci.st_to_uv_linear(i0.astype(np.uint64) + size)
    v_lo = ci.st_to_uv_linear(j0)
    v_hi = ci.st_to_uv_linear(j0.astype(np.uint64) + size)
    return face, u_lo, u_hi, v_lo, v_hi


def face_uv_to_xyz_inverse(face, u, v):
    """The TRUE inverse of ``cellid.xyz_to_face_uv`` — the projection
    ``from_point`` actually uses.

    ``cellid.face_uv_to_xyz`` mirrors the reference's private variant
    (cell_id.rs:562-572), which on face 5 sets x = +u while the forward
    projection computes u = -x/(-z): the u axis is mirrored, so quads
    built through it sit at the WRONG u range on face 5 and a covering
    filter built from them silently drops true members (found by the
    point_in_region DuckDB oracle).  This inverse flips that one sign
    and round-trips bit-consistently on every face."""
    face = np.asarray(face, dtype=np.int32)
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    one = np.ones_like(u)
    x = np.select([face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
                  [one, -u, -v, -one, v, -u])
    y = np.select([face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
                  [u, one, -u, -v, -one, v])
    z = np.select([face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
                  [v, v, one, -u, u, -one])
    inv_len = 1.0 / np.sqrt(x * x + y * y + z * z)
    return x * inv_len, y * inv_len, z * inv_len


def cell_center_vertices_xyz(ids) -> tuple[np.ndarray, np.ndarray]:
    """(n, 3) unit centers, as ``cell_center_xyz``, and (n, 4, 3) unit
    vertices in UV-corner order (lo,lo),(hi,lo),(hi,hi),(lo,hi), from
    one ``cell_uv_bounds`` pass."""
    face, u_lo, u_hi, v_lo, v_hi = cell_uv_bounds(
        np.atleast_1d(np.asarray(ids, np.uint64)))
    u = np.stack([0.5 * (u_lo + u_hi), u_lo, u_hi, u_hi, u_lo], axis=-1)
    v = np.stack([0.5 * (v_lo + v_hi), v_lo, v_lo, v_hi, v_hi], axis=-1)
    x, y, z = face_uv_to_xyz_inverse(np.asarray(face)[:, None], u, v)
    pts = np.stack([x, y, z], axis=-1)  # (n, 5, 3)
    return pts[:, 0], pts[:, 1:]


def cell_vertices_xyz(ids) -> np.ndarray:
    """(n, 4, 3) unit vertices in UV-corner order (lo,lo),(hi,lo),(hi,hi),(lo,hi)."""
    return cell_center_vertices_xyz(ids)[1]


def cell_center_xyz(ids) -> np.ndarray:
    face, u_lo, u_hi, v_lo, v_hi = cell_uv_bounds(ids)
    x, y, z = face_uv_to_xyz_inverse(
        face, 0.5 * (u_lo + u_hi), 0.5 * (v_lo + v_hi)
    )
    return np.stack([np.atleast_1d(x), np.atleast_1d(y), np.atleast_1d(z)], axis=-1)


def cell_bounding_cap(cell_id: int) -> tuple[np.ndarray, float]:
    """(center_xyz, angular radius) — smallest center-based cap around
    the cell's true quad (max angle to its 4 vertices)."""
    ids = np.asarray([cell_id], np.uint64)
    c = cell_center_xyz(ids)[0]
    verts = cell_vertices_xyz(ids)[0]
    dots = np.clip(verts @ c, -1.0, 1.0)
    return c, float(np.max(np.arccos(dots)))
