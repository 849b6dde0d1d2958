"""The correctness gate's head: the order of the first 50 contract
queries, and the check that guards the list naming them."""

import pytest

from contract import engine_queries as eq

# The first 50 queries the contract's correctness gate checks, pinned so
# a change to the gated set is a deliberate edit here and in _GATE_HEAD.
GATED = [
    "loop_intersections_strict", "knn_exact", "cap_point_bounds",
    "maximum_tile_ranges", "canonical_covering", "point_in_region_salted",
    "near_dup_pairs_capped", "pii_report", "dedup_keep_best", "ann_ivfpq",
    "semantic_dedup", "bloom_decontaminate", "classifier_scores",
    "classifier_gate", "incremental_dedup", "lm_bigram_novelty",
    "snapshot_diff", "tile_counts_incremental", "collocations",
    "incremental_clusters", "image_resize", "frame_sample",
    "ivf_assign_delta", "embedding_drift", "union_expand_radius",
    "loop_nearest_boundary", "union_expand_radius_dist", "session_stats",
    "stratified_sample", "vocab_topk", "bigram_counts", "label_centroids",
    "region_contains_loop", "loop_intersections", "decontaminate",
    "funnel_counts", "tile_lang_counts", "retention_counts",
    "point_cloud_index", "boilerplate_spans", "pack_chunks", "kmv_distinct",
    "cap_intersect_terms", "closest_edge", "wrs_sample", "hex_tile_counts",
    "hex_parent_rollup", "hex_ring_counts", "dup_spans", "tile_pyramid",
]


def test_gate_head_is_first_fifty_queries_and_oracles():
    assert list(eq.QUERIES)[:50] == GATED
    assert list(eq.ORACLES)[:50] == GATED
    assert len(eq.QUERIES) == 127 and set(eq.ORACLES) == set(eq.QUERIES)


def test_gate_head_rejects_unknown_and_repeated_names():
    queries = {"a": 1, "b": 2, "c": 3}
    assert list(eq._head_first(queries, ["c"])) == ["c", "a", "b"]
    with pytest.raises(ValueError, match="not_a_query"):
        eq._head_first(queries, ["a", "not_a_query"])
    with pytest.raises(ValueError, match="twice"):
        eq._head_first(queries, ["a", "a"])
