"""Hilbert-curve lookup tables for S2 cell-id encoding.

Mirrors the 4-bit lookup-table construction of the reference
(``/root/reference/src/cell_id.rs:574-629``): a recursive generator that
fills a 1024-entry position table keyed by ``(i_chunk<<6)|(j_chunk<<2)|
orientation``.  The recursion below intentionally reproduces the
reference's *exact* branching (which differs from canonical C++ S2 in how
swapped/inverted orientations pick sub-quadrants) so that cell ids agree
bit-for-bit with the reference's own unit tests.

The tables are built once per process (cheap: 4 * 256 leaves) and shared
by every Arrow batch on an executor.
"""

from __future__ import annotations

import numpy as np

LOOKUP_BITS = 4
SWAP_MASK = 0x01
INVERT_MASK = 0x02

# (i,j,orientation) -> (pos << 2) | new_orientation   [1024 entries]
LOOKUP_POS = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.uint64)
# (pos,orientation) -> (ij << 2) | new_orientation    [1024 entries]
LOOKUP_IJ = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.uint64)

_POSITION_MASKS = (0, SWAP_MASK, SWAP_MASK | INVERT_MASK, INVERT_MASK)
_R = (0, 1, 3, 2)


def _init_lookup_cell(level: int, i: int, j: int, orig_orientation: int,
                      pos: int, orientation: int) -> None:
    # Faithful reproduction of cell_id.rs:585-617 (incl. its quirky
    # sub-quadrant selection for swapped/inverted orientations).
    if level == LOOKUP_BITS:
        ij = (i << (LOOKUP_BITS + 2)) + (j << 2) + orig_orientation
        LOOKUP_POS[ij] = (pos << 2) + orientation
        LOOKUP_IJ[(pos << 2) + orig_orientation] = (ij << 2) + orientation
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    for k in range(4):
        if orientation & SWAP_MASK:
            if orientation & INVERT_MASK:
                sub_i = i + (_R[k] >> 1)
                sub_j = j + (_R[k] & 1)
                sub_o = orientation ^ _POSITION_MASKS[_R[k]]
            else:
                sub_i = i + (k >> 1)
                sub_j = j + (k & 1)
                sub_o = orientation ^ _POSITION_MASKS[k]
        else:
            if orientation & INVERT_MASK:
                sub_i = i + (k & 1)
                sub_j = j + (_R[k] >> 1)
                sub_o = orientation ^ _POSITION_MASKS[_R[k]]
            else:
                sub_i = i + (_R[k] & 1)
                sub_j = j + (_R[k] >> 1)
                sub_o = orientation ^ _POSITION_MASKS[k]
        _init_lookup_cell(level, sub_i, sub_j, orig_orientation, pos + k, sub_o)


for _orient in (0, SWAP_MASK, INVERT_MASK, SWAP_MASK | INVERT_MASK):
    _init_lookup_cell(0, 0, 0, _orient, 0, _orient)
