"""Plan lint across the ENTIRE query contract: build every queries()
entry at the given SF and scan its executed plan for scale
anti-patterns —

- CartesianProduct / BroadcastNestedLoopJoin outside the allowlist of
  documented literal-dimension theta joins (3-7 row fixture sides
  where a nested-loop IS the optimal plan — BASELINE.md);
- BatchEvalPython (row-at-a-time Python UDFs) anywhere: the engine's
  Python is Arrow-only (ArrowEvalPython / mapInPandas / mapInArrow).

Prints one line per offending query and exits nonzero on any finding;
a clean run is the machine-checked version of the "no cartesian
products, no per-row Python" claim.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries whose nested-loop joins are the documented optimal plan:
# tiny literal/fixture dimension sides (3-30 rows) in theta joins, or
# sample-bound range joins (BASELINE.md "Plan audit" sections).
NESTED_LOOP_ALLOWED = {
    "point_in_rect", "distance_join_chord", "knn_brute",
    "point_in_region", "covering_cells", "covering_cells_cons",
    "region_contains_loop", "loop_intersections", "point_in_polygon",
    "closest_edge", "corridor_join", "cap_intersect_terms",
    "knn_cell_ring", "emb_near_dup", "ann_cosine", "ann_lsh",
    "ann_ivf", "ann_pq", "hex_ring_counts",
    # bounds side is <= n_partitions-1 sampled rows by construction
    "hilbert_partition_stats",
    # threshold side is a 1-row scalar aggregate broadcast over the scores
    "classifier_gate",
    # n_total side is a 1-row scalar aggregate broadcast over the
    # per-bigram table (vocab.collocations) — same class as
    # classifier_gate's threshold row
    "collocations",
    # every point scores every fixture loop vertex (~80 broadcast rows)
    # by definition of the nearest-boundary op — same class as
    # closest_edge's broadcast edge side
    "loop_nearest_boundary",
    # strict completion leg pairs edge tables of 3-30-row loop dims via
    # a documented broadcast theta join (spatial_join.py
    # loop_edge_crossing_pairs); the v0-parent index path would
    # reintroduce the misses strict mode exists to close
    "loop_intersections_strict",
}


def main(sf_dir: str = "/root/testdata/sf0.01") -> int:
    import __spark_entry__ as e
    from s2_geometry_rust_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("OFF")
    failures = 0
    for name, fn in e.queries().items():
        try:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString()
            )
        except Exception as ex:  # noqa: BLE001
            print(f"{name:28s} PLAN BUILD FAILED: {ex}")
            failures += 1
            continue
        problems = []
        if "BatchEvalPython" in plan:
            problems.append("row-at-a-time Python UDF")
        if ("CartesianProduct" in plan
                or "BroadcastNestedLoopJoin" in plan):
            if name not in NESTED_LOOP_ALLOWED:
                problems.append("unexpected nested-loop/cartesian join")
        if problems:
            print(f"{name:28s} {', '.join(problems)}")
            failures += 1
    print(f"\naudited {len(e.queries())} queries, "
          f"{failures} with findings")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(*(sys.argv[1:] or [])))
