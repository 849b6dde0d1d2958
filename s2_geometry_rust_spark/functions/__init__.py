"""Spark-facing functions: JVM Column expressions + vectorized pandas UDFs.

Two tiers, chosen by where the math can run:

- ``columns``: cell-id *hierarchy* math (parent / level / range / contains /
  token) is pure 64-bit two's-complement bit arithmetic, identical for
  signed int64 and uint64.  These are plain Column expressions that stay
  inside Spark whole-stage codegen — no Python in the hot path.
- ``udfs``: point <-> cell conversions (cube-face projection + Hilbert
  encode) need the numpy kernels; exposed as Arrow-batched pandas UDFs.
"""

from .columns import (  # noqa: F401
    LONG_MIN,
    degrees_to_e,
    e_to_degrees,
    cell_contains,
    cell_intersects,
    cell_is_leaf,
    cell_is_valid,
    cell_level,
    cell_face,
    cell_lsb,
    cell_maximum_tile,
    cell_parent,
    cell_parent_sql,
    cell_range_max,
    cell_range_min,
    cell_token,
    unsigned_sort_key,
)
from .udfs import (  # noqa: F401
    cell_id_from_latlng_deg,
    cell_id_from_xyz,
    cell_center_xyz,
    cell_from_token,
)
