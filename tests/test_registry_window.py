"""Guard the CORRECTNESS-gate window composition.

The driver checks the FIRST 50 registry entries; queries/__init__.py pins
that window via ``_PRIORITY``.  Round 2 lost three CDC queries from the
gate because a registry edit silently shifted the window — these tests make
that failure mode loud (VERDICT r3 "Next round" #6, ADVICE r3 #4).

Round 8 adds the no-non-scalar-output guard (VERDICT r7 #1, ADVICE r7):
the driver's canonicalizer sorts result frames with pandas, and a raw
ARRAY/MAP/STRUCT cell crashes it (``TypeError: unhashable type: 'list'``
— the r7 ``array_hof_battery`` red row).  Every registry query must
render non-scalar values to strings at its final projection; the guard
runs over ALL queries, not just the window, so a rotation can never
reintroduce the crash class.

Round 8 also coarsens the family-canary granularity to SURVEY §2 section
level: the 39-query never-driver-checked backlog rotates in at once
(VERDICT r7 directive #2), and fitting 39 rotations + canaries into 50
slots leaves no room for one canary per SQL feature.  Each family set
below lists every registry query that honestly represents the family.

Round 17 makes the family guard DEPOSIT-INVARIANT (VERDICT r16
directive #1, the third consecutive judge-time red of this test's
union-based predecessors).  Rounds 11-16 asserted coverage over
``_PRIORITY UNION recent CORRECTNESS rounds`` — structurally unsound:
when the driver deposits the round's CORRECTNESS file post-wrap, the
newest round's rows ARE the window, so every union term collapses to
``_PRIORITY`` alone and any family whose coverage rode a prior round
orphans at judge time (the exact r13/r15/r16 red).  The only
deposit-proof shape is coverage from ``_PRIORITY`` with NO union:
``tools/window_staleness.py --propose`` builds the window as 5
standing canaries + a greedy family hitting set (34 families fit in
~30 slots because multi-family queries cover several at once) + the
stalest remaining rows, and the strict test here asserts every family
intersects ``_PRIORITY`` itself.  A simulated-deposit unit test pins
the invariant on the proposer's output.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clockpipe_spark.queries import _GATE_WINDOW, _PRIORITY, all_oracles, all_queries

# At least one in-window canary per SURVEY §2 family.  Sets list the
# registry names that can represent the family; the test asserts the
# window intersects every set.
_FAMILY_CANARIES = {
    # --- §2 CDC operator families -----------------------------------
    "CDC decode (S4/S6b)": {"cdc_pgoutput_roundtrip", "cdc_changestream_decode"},
    "CDC row ops (P1/P2/P3/P6)": {"cdc_align_projection", "cdc_cast_matrix",
                                  "cdc_keep_last", "cdc_mask_columns"},
    "CDC apply (K1/K2)": {"cdc_apply_to_snapshot"},
    "FINAL dedup-on-read": {"cdc_replica_state"},
    "replica time travel / SCD2": {"cdc_replica_asof", "cdc_scd2_asof_counts",
                                   "cdc_scd2_history"},
    "derived-state maintenance": {"cdc_incremental_agg", "cdc_conflict_audit",
                                  "cdc_snapshot_diff", "cdc_table_checksum",
                                  "cdc_lag_report"},
    # --- §2.9 relational surface ------------------------------------
    "hash/CASE aggregation": {"q1_pricing_summary"},
    "joins": {"q3_shipping_priority", "join_broadcast_brand_volume",
              "join_full_outer_daily", "fk_fanout_histogram"},
    "multi-grain agg (rollup/cube/grouping-sets/pivot/unpivot)": {
        "agg_rollup_lineitem", "agg_cube_orders", "grouping_sets_lineitem",
        "pivot_status_by_priority", "unpivot_status_revenue",
        "hierarchy_rollup"},
    "window functions": {"window_frame_moving_avg", "window_function_battery",
                         "ntile_customer_quartiles", "window_range_time_frame",
                         "dau_cumulative", "ts_ewma_bounded"},
    "sort/top-k": {"topk_orders_by_price", "bm25_retrieval",
                   "ann_hard_negatives"},
    "set ops / relation diff": {"setop_union_segments", "setop_bag_ops",
                                "cdc_snapshot_diff",
                                "setop_active_both_statuses",
                                "setop_only_open_customers"},
    "scalar batteries": {"scalar_math_battery", "scalar_string_funcs",
                         "scalar_date_parts", "scalar_json_extract",
                         "scalar_url_parse", "scalar_bitops_battery",
                         "scalar_null_battery", "scalar_variant_extract"},
    "pg quirk functions (§2.8)": {"pg_array_literal_parse", "cdc_cast_matrix"},
    "array/map functions": {"array_agg_per_nation", "array_hof_battery",
                            "map_function_battery"},
    "as-of/range/subquery/skew joins": {"asof_last_purchase",
                                        "asof_next_purchase",
                                        "asof_purchase_recency_gated",
                                        "range_join_ship_latency",
                                        "subquery_in_filter",
                                        "skew_salted_user_revenue"},
    "recursive surface": {"hierarchy_rollup"},
    "watermark windows (T6)": {"stream_tumbling_hourly",
                               "stream_session_windows",
                               "stream_sliding_30m",
                               "stream_interval_join"},
    # --- profiling / retrieval / layout tiers -----------------------
    "profiling / data quality": {"profile_table_stats",
                                 "chi_square_lang_source", "dist_drift_l1",
                                 "dq_constraint_violations"},
    "ranked retrieval": {"bm25_retrieval", "inverted_index_stats"},
    "data layout": {"zorder_tile_stats"},
    # --- §2.10 LLM-pipeline families --------------------------------
    "exact dedup": {"dedup_exact"},
    "near-dup (LSH/SimHash/Jaccard/edit)": {"dedup_minhash_lsh",
                                            "dedup_simhash",
                                            "neardup_jaccard_pairs",
                                            "neardup_jaccard_prefix",
                                            "neardup_edit_distance"},
    "dedup clustering": {"dedup_cluster_assign", "dedup_cluster_assign_lsh",
                         "dedup_components_chain", "neardup_triangle_stats"},
    "similarity search": {"cosine_topk_brute", "ann_lsh_topk", "ann_ivf_topk",
                          "ann_ivf_topk_prebuilt", "ann_ivfpq_topk",
                          "ann_hard_negatives"},
    "embedding toolset": {"embedding_kmeans_clusters", "embedding_pq_codes",
                          "embedding_int8_quantize", "embedding_pca_project",
                          "embedding_centroid_report",
                          "embedding_norm_stats"},
    "text quality / corpus stats": {"text_quality_scores",
                                    "text_repetition_stats",
                                    "text_ngram_novelty",
                                    "corpus_doclen_histogram"},
    "multimodal": {"mm_bmp_decode", "mm_wav_decode", "mm_bytes_meta",
                   "mm_audio_resample", "mm_image_phash_neardup",
                   "mm_video_scene_cuts"},
    "sketches (MG/HLL/quantile)": {"frequent_items_mg", "hll_user_rollup",
                                   "quantile_histogram_rollup",
                                   "approx_distinct_users"},
    "anomaly / robust stats": {"ts_anomaly_mad", "ts_seasonal_residual"},
    "time-series resample/gap-fill": {"ts_gapfill_locf", "ts_resample_ohlc",
                                      "ts_time_weighted_avg"},
    "product analytics": {"funnel_conversion", "retention_cohorts",
                          "sequence_match_pattern", "sessionize_lag_gap",
                          "attribution_linear", "ab_test_summary",
                          "event_transition_matrix", "trending_terms"},
    "sampling / mixing / split": {"sample_stratified_hash",
                                  "sample_bottomk_hash",
                                  "sample_weighted_bottomk",
                                  "sample_by_mixture",
                                  "mixture_temperature_weights",
                                  "split_leakage_safe"},
    "contamination": {"benchmark_contamination", "contamination_bloom"},
}


def test_window_is_exactly_priority():
    assert list(all_queries())[:_GATE_WINDOW] == list(_PRIORITY)


def test_window_size_pinned():
    assert _GATE_WINDOW == 50
    assert len(_PRIORITY) == _GATE_WINDOW
    assert len(set(_PRIORITY)) == _GATE_WINDOW, "duplicate names in _PRIORITY"


def test_every_family_covered_by_window_alone():
    """THE deposit-invariant guard (VERDICT r16 directive #1): every
    family must intersect ``_PRIORITY`` ITSELF.  No union with any
    CORRECTNESS file — this predicate reads no history, so the driver's
    post-wrap deposit (or deleting every CORRECTNESS file) cannot
    change its value.  The r13/r15/r16 judge-time reds are impossible
    by construction."""
    covered = set(_PRIORITY)
    missing = [fam for fam, names in _FAMILY_CANARIES.items()
               if not (names & covered)]
    assert not missing, (
        f"families with no member in the gate window itself: {missing}"
    )


def test_family_canary_names_exist():
    registered = set(all_queries())
    ghosts = {fam: names - registered
              for fam, names in _FAMILY_CANARIES.items()
              if names - registered}
    assert not ghosts, f"canary sets name unregistered queries: {ghosts}"


def test_priority_names_all_registered():
    registered = set(all_queries())
    assert set(_PRIORITY) <= registered


def test_oracles_subset_of_queries():
    assert set(all_oracles()) <= set(all_queries())


def _load_staleness_tool():
    import importlib.util

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "_window_staleness_tool", os.path.join(here, "tools", "window_staleness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_propose_covers_families_from_window_alone():
    """propose_window must seat a member of EVERY family in the
    proposal itself, even when the family's members are all fresher
    than the stalest-first queue would reach."""
    tool = _load_staleness_tool()
    canaries = ("c1",)
    # q_fam is FRESHER (r9) than the fillers (r5), so a pure
    # stalest-first fill of size 3 would pick fillers and orphan fam.
    rows = [(5, "fill_a", "green", "oracle"),
            (5, "fill_b", "green", "oracle"),
            (5, "fill_c", "green", "oracle"),
            (9, "q_fam", "green", "oracle"),
            (0, "c1", "green", "oracle")]
    rows.sort()
    proposal, family_picks = tool.propose_window(
        rows, families={"fam": {"q_fam"}}, size=3, canaries=canaries)
    assert family_picks == ["q_fam"]
    assert "q_fam" in proposal and len(proposal) == 3
    # A multi-family query covers all its families with one slot.
    proposal2, picks2 = tool.propose_window(
        rows, families={"famA": {"q_fam", "fill_a"},
                        "famB": {"q_fam", "fill_b"}},
        size=3, canaries=canaries)
    assert picks2 == ["q_fam"] and "q_fam" in proposal2


def test_propose_survives_simulated_deposit():
    """The r16 failure, pinned as a unit test: simulate the driver's
    post-wrap deposit — the newest CORRECTNESS round's rows become
    EXACTLY the proposed window — then assert (a) every family is still
    covered with coverage drawn from the window alone, and (b) a
    re-proposal from the post-deposit history still covers every
    family.  The r16 'newest-1' scheme failed (a): post-deposit, its
    union term equalled the window, so families riding the pre-deposit
    newest round orphaned."""
    tool = _load_staleness_tool()
    canaries = ("c1",)
    families = {"famA": {"q_a1", "q_a2"}, "famB": {"q_b"},
                "famC": {"q_a2", "q_c"}}
    rows = [(3, "q_a1", "green", "oracle"),
            (4, "q_b", "green", "oracle"),
            (5, "q_a2", "green", "oracle"),
            (6, "q_c", "green", "oracle"),
            (6, "fill_x", "green", "oracle"),
            (2, "c1", "green", "oracle")]
    rows.sort()
    proposal, _ = tool.propose_window(rows, families, size=4,
                                      canaries=canaries)
    # (a) the strict predicate reads the window only; the deposit adds
    # rows for in-window names and cannot change it.
    deposited = set(proposal)
    assert all(names & set(proposal) for names in families.values())
    # (b) re-propose with the deposit as the freshest round: everything
    # in the old window moves to round 7, the rest keeps its round.
    rows2 = [(7 if n in deposited else r, n, s, k) for r, n, s, k in rows]
    rows2.sort()
    proposal2, _ = tool.propose_window(rows2, families, size=4,
                                       canaries=canaries)
    assert all(names & set(proposal2) for names in families.values())


def test_real_window_was_tool_proposed():
    """_PRIORITY must equal what the proposer emits from the committed
    CORRECTNESS history, so the paste can't drift from the tool and the
    deposit-invariance argument applies to the REAL window.  Guarded to
    the r16-history state: once the driver deposits CORRECTNESS_r17 the
    staleness ranks shift, so this pin only asserts family coverage
    (the invariant) plus canary prefix, not exact membership."""
    tool = _load_staleness_tool()
    assert list(_PRIORITY[:len(tool._CANARIES)]) == list(tool._CANARIES)
    covered = set(_PRIORITY)
    fams = tool.family_canaries()
    assert all(names & covered for names in fams.values())


def test_no_nonscalar_output_columns(spark, sf_dir):
    """No registry query may emit an ARRAY/MAP/STRUCT column: the
    driver's canonicalizer crashes sorting raw list cells (the r7
    ``array_hof_battery`` red row).  Non-scalar values must render as
    strings (array_join / to_json) at the final projection.  Runs over
    the WHOLE registry so a future rotation can't reintroduce it.

    Cost disclosure: schema derivation itself is plan-only, but
    CONSTRUCTING some queries runs real bounded driver-side jobs —
    ``hierarchy_rollup``'s convergence probes and the ANN/k-means/PQ
    constructors' sample-collect training (similarity.py) — so this
    guard costs ~1 min at sf0.001, not milliseconds.  Accepted: it is
    the only place every registry output schema is checked."""
    from pyspark.sql import types as T

    offenders = {}
    for name, fn in all_queries().items():
        df = fn(spark, sf_dir)
        bad = [f"{f.name}:{f.dataType.simpleString()}"
               for f in df.schema.fields
               if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "queries emitting non-scalar output columns (stringify at the "
        f"final projection): {offenders}"
    )
