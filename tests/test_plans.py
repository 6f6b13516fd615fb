"""Physical-plan audits — the 100 TB regression guards.

Correctness tests prove the small-SF answer; these prove the PLAN
shape survives scale: filters reach the parquet scan, scans are
column-pruned, small dims broadcast (no sort-merge of a dim table,
no accidental cartesian), aggregations combine map-side, and no
row-at-a-time Python sneaks into any hot path.
"""

from __future__ import annotations

import pytest

from graal_cdc_spark.plans import audit
from graal_cdc_spark.queries import all_specs
from graal_cdc_spark.testing import _spark_nonportable

SF = "/root/testdata/sf0.01"


def _audit(spark, name):
    return audit(all_specs()[name].spark(spark, SF))


# ---------------------------------------------------------------------------
# every query: no row-at-a-time Python, no cartesian product
# ---------------------------------------------------------------------------

# Deliberate nested-loop joins: tiny broadcast side by construction
# (l04/l12 broadcast the query set; l08 joins a ~16-row block table;
# l17 cross-broadcasts the 1-row corpus-size aggregate).
_BNLJ_OK = {
    "l04_cosine_topk",
    "l08_embedding_neardup_pairs",
    "l12_ann_rp_bucketed",
    "l17_tfidf_top_terms",
    # round 4: 1-row broadcast corpus-total cross joins
    "l41_zipf_token_histogram",
    "l45_unigram_surprisal",
    # round 5: 1-row doc-total × 10-row decile-spine broadcasts
    "l56_heaps_vocab_growth",
    # round 5 batch 2: 1-row aggregate cross joins (corpus totals /
    # per-edge row+orphan count pairs)
    "l59_token_distribution_drift",
    "r75_fk_orphan_audit",
    "l65_pmi_collocations",
    # round 5 batch 3: l67 broadcasts the 30-row query set (same
    # shape as l04)
    "l67_hard_negative_mining",
    # round 5 batch 4: 1-row broadcast cross joins (date bounds spine /
    # vector-count total)
    "r89_linear_interpolation",
    "l71_dim_covariance_pairs",
    # round 5 batch 6: r92 cross-joins three 1-row census aggregates
    "r92_triangle_census",
    # round 7b: 1-row broadcast corpus-stat cross joins (BM25 N/avgdl;
    # DSIR smoothing totals); l86's exact leg broadcasts the bounded
    # 4-query batch onto one corpus scan (the l04 shape)
    "l84_bm25_topk",
    "l85_dsir_importance",
    "l86_ann_recall_audit",
    # l87 cross-broadcasts the 1-row Bloom set-bit array
    "l87_bloom_dedup_probe",
    # round 8: l89's exact side broadcasts the bounded n_queries batch
    # onto one corpus scan (the l04/l86 shape); l90 cross-joins the
    # 1-row corpus-total aggregate (the l84/l85 shape)
    "l89_ivfpq_recall_audit",
    "l90_heavy_hitters_sketch",
    # c28's as-of is a range join between the 5-row probe list and the
    # broadcast registry (both control-plane-bounded)
    "c28_schema_as_of",
}

# Declared Python-runtime surface (U1 parity — the analog of the
# reference's per-record JS scripts). r47 is the UDTF member; every
# other query must stay JVM-side.
_PYTHON_OK = {"r47_python_udtf", "r67_cogrouped_pandas", "r72_map_in_arrow"}


@pytest.mark.parametrize("name", sorted(all_specs()))
def test_no_slow_paths(spark, name):
    df = all_specs()[name].spark(spark, SF)
    a = audit(df)
    if name not in _PYTHON_OK:
        assert a.python_evals == 0, f"{name}: row-at-a-time Python UDF in plan"
    assert not a.has("CartesianProduct"), f"{name}: cartesian product"
    if name not in _BNLJ_OK:
        assert not a.has("BroadcastNestedLoopJoin"), (
            f"{name}: unexpected nested-loop join"
        )
    # Portable-result-type lint (folded in from test_oracle_types,
    # r14: the standalone all-specs loop re-CONSTRUCTED every query —
    # 160 s of duplicated eager builders; the schema is sf-independent
    # and this test already built the DataFrame). The oracle-side
    # lint stays in test_oracle_types.
    bad = _spark_nonportable(df)
    assert not bad, (
        f"{name}: result columns typed decimal (gate hash cannot "
        f"canonicalize): {bad} — use .cast('string') on the surface"
    )


# ---------------------------------------------------------------------------
# scan-level: pushdown + pruning
# ---------------------------------------------------------------------------


def test_r01_filters_reach_parquet_scan(spark):
    a = _audit(spark, "r01_scan_filter_project")
    pushed = " ".join(a.pushed_filters())
    assert "l_shipdate" in pushed and "l_discount" in pushed
    assert a.shuffles == 0  # scan → sort/limit, no exchange before TakeOrdered
    # projection pruning: a 3-column output must not read all 16 cols
    assert len(a.scan_columns()) <= 7


def test_r02_scan_pruned_to_needed_columns(spark):
    a = _audit(spark, "r02_hash_aggregate_q1")
    assert a.scan_columns() <= {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }
    assert "l_shipdate" in " ".join(a.pushed_filters())


# ---------------------------------------------------------------------------
# join strategies: dims broadcast, no sort-merge on small sides
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name,min_bhj",
    [
        ("r03_join_agg_topk", 2),   # customer/orders broadcast into lineitem
        ("r04_broadcast_join", 2),  # region ⋈ nation ⋈ customer
        ("r08_range_join", 1),      # part broadcast, theta-condition post-filter
        ("r06_left_semi_join", 1),
        ("r07_left_anti_join", 1),
    ],
)
def test_dimension_joins_broadcast(spark, name, min_bhj):
    a = _audit(spark, name)
    assert a.broadcast_joins >= min_bhj, f"{name}: expected broadcast join"
    assert a.sortmerge_joins == 0, f"{name}: sort-merge where broadcast expected"


# ---------------------------------------------------------------------------
# aggregation: map-side partials, bounded shuffles
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("r02_hash_aggregate_q1", 2),        # agg + output sort
        ("c06_latest_by_key_compaction", 2),  # key window + output sort
        ("c08_scd2_history", 2),              # key window + output sort
        ("l01_exact_dedup", 2),               # distinct partial+final
        ("st1_tumbling_window", 2),           # window agg + output sort
        ("r12_ranking_window", 2),            # per-key window + output sort
        ("r27_cube_grouping", 2),             # expand+agg + output sort
        ("r30_listagg_ordered", 2),           # agg + output sort
        ("l21_token_budget_packing", 2),      # group window + output sort
        ("l20_text_normalize", 2),            # conditional repartition + map + output sort
    ],
)
def test_single_data_shuffle(spark, name, max_shuffles):
    a = _audit(spark, name)
    assert a.shuffles <= max_shuffles, f"{name}: too many shuffles\n{a.plan}"


@pytest.mark.parametrize(
    "name", ["r02_hash_aggregate_q1", "l01_exact_dedup", "st1_tumbling_window"]
)
def test_map_side_partial_aggregation(spark, name):
    assert _audit(spark, name).partial_aggregates, f"{name}: no map-side combine"


# ---------------------------------------------------------------------------
# round-3 queries: plan-shape guards
# ---------------------------------------------------------------------------


def test_st6_static_dim_broadcasts(spark):
    a = _audit(spark, "st6_stream_static_join")
    assert a.broadcast_joins >= 1, "customer dim must broadcast"
    assert a.sortmerge_joins == 0


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("r35_stat_aggregates", 2),      # moment-sketch agg + output sort
        ("r36_conditional_aggregates", 2),
        ("r40_bitwise_aggregates", 2),
        ("r41_grouping_sets", 2),        # expand + agg + sort
        ("l28_repetition_quality", 2),   # conditional repartition + map + output sort
        ("r42_date_interval_arithmetic", 1),  # map + global output sort
        ("c09_payload_value_extraction", 2),
        ("l30_embedding_dim_stats", 2),  # posexplode + agg + sort
        # round-3 second batch
        ("r50_unpivot", 2),              # agg + output sort; melt is free
        ("r51_higher_order_array", 2),   # collect agg + sort; lambdas map-side
        ("r52_histogram_binning", 2),    # bin agg + sort
        ("r53_funnel_conversion", 2),    # signup agg + user join share a key
        ("r54_recursive_spine", 2),      # fact agg + sort; spine is tiny
        ("l35_rare_word_ratio", 3),      # vocab agg + word join + doc agg
        ("l36_pii_redaction", 1),        # pure map + output sort
        ("l37_levenshtein_neardup", 1),  # blocked self-join + sort
        ("l38_temperature_mixture", 3),  # counts + lang window + final agg
        ("l39_canonical_dedup", 2),      # fingerprint window + sort
        ("c11_incremental_aggregate", 3),  # compaction window + agg + sort
        ("st7_stream_stream_left_outer", 1),
        ("l40_distributed_prefix_sum", 4),  # shard window + totals + O(shards) scan + sort
    ],
)
def test_round3_shuffle_budget(spark, name, max_shuffles):
    a = _audit(spark, name)
    assert a.shuffles <= max_shuffles, f"{name}: too many shuffles\n{a.plan}"


@pytest.mark.parametrize(
    "name", ["r35_stat_aggregates", "r36_conditional_aggregates",
             "r40_bitwise_aggregates", "c09_payload_value_extraction",
             "r50_unpivot", "r52_histogram_binning",
             "r53_funnel_conversion", "l35_rare_word_ratio",
             "c11_incremental_aggregate"]
)
def test_round3_partial_aggregation(spark, name):
    assert _audit(spark, name).partial_aggregates, f"{name}: no map-side combine"


def test_r37_spine_join_stays_small(spark):
    # the month spine join must not sort-merge: either side is tiny
    a = _audit(spark, "r37_month_spine_gapfill")
    assert a.sortmerge_joins == 0, a.plan


def test_r46_interval_join_is_hash_not_nested_loop(spark):
    """The whole point of binning: a keyless range join planned as a
    shuffle/broadcast HASH join on bins, never BNLJ/cartesian."""
    a = _audit(spark, "r46_binned_interval_join")
    assert not a.has("BroadcastNestedLoopJoin"), a.plan
    assert not a.has("CartesianProduct"), a.plan


# ---------------------------------------------------------------------------
# round-4 queries: plan-shape guards
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("r55_gaps_and_islands", 1),   # ONE exchange on o_custkey feeds
                                       # both windows + both aggregates
        ("r56_max_concurrent_intervals", 3),  # delta agg + type window + sort
        ("r58_topk_per_group_ties", 2),       # priority window + output sort
        ("r60_event_transitions", 3),         # user window + pair agg + sort
        ("r61_salted_skew_aggregate", 3),     # salted partial + combine + sort
        ("r62_entropy_gini", 3),              # (type,user) agg + type window + sort
        ("l41_zipf_token_histogram", 4),      # vocab agg + TakeOrdered + 50-row window + delivery sort
        ("l42_char_bigram_entropy", 2),       # conditional repartition + output sort (map-only)
        ("l43_boilerplate_shingles", 3),      # repartition + shingle doc-freq agg + sort
        ("l44_cross_snapshot_dedup", 1),      # hash anti-join + output sort
        ("l45_unigram_surprisal", 5),         # vocab agg + bcast join + doc agg
        ("st8_chained_window_rollup", 3),     # 10-min agg + hourly agg + sort
        ("c12_snapshot_reconciliation", 4),   # two key windows + outer join + agg
        ("r57_running_distinct_users", 5),    # user agg + day agg + join + spine window + delivery sort
        ("r59_cohort_retention", 6),          # user-grain reductions + matrix joins
        ("st9_stateful_topk", 2),             # user ranking window + output sort
        ("r63_asof_forward_join", 2),         # user window + output sort
        # histogram agg + histogram window + bin-broadcast-join re-agg
        # + within-bin window + output sort — every exchange after the
        # first carries O(groups × bins) rows, never the fact table
        ("r64_weighted_median", 5),
        ("st10_join_then_window", 2),         # key-shuffled join + window agg
        ("c13_schema_drift_field_stats", 2),  # (tbl, field) agg + output sort
        ("r65_listagg_distinct", 2),          # set-union agg + output sort
        ("r68_deterministic_mode", 3),        # pair agg + group window + output sort
        ("l51_quality_gate_rate", 2),         # map-side gate + source agg + sort
        ("l46_vocab_oov_rate", 3),            # vocab agg + bcast membership + doc agg
        ("l47_ngram_novelty", 5),             # 2x repartition (shared-scan branches) + dedup + join + agg
    ],
)
def test_round4_shuffle_budget(spark, name, max_shuffles):
    a = _audit(spark, name)
    assert a.shuffles <= max_shuffles, f"{name}: too many shuffles\n{a.plan}"


@pytest.mark.parametrize(
    "name", ["r55_gaps_and_islands", "r56_max_concurrent_intervals",
             "r60_event_transitions", "r61_salted_skew_aggregate",
             "r62_entropy_gini",
             "l43_boilerplate_shingles", "st8_chained_window_rollup",
             "c12_snapshot_reconciliation", "l46_vocab_oov_rate",
             "l47_ngram_novelty", "st10_join_then_window",
             "c13_schema_drift_field_stats", "r65_listagg_distinct",
             "r68_deterministic_mode", "l51_quality_gate_rate"]
)
def test_round4_partial_aggregation(spark, name):
    assert _audit(spark, name).partial_aggregates, f"{name}: no map-side combine"


def test_c12_outer_join_inputs_prereduced(spark):
    """The reconciliation full-outer join must consume the two
    latest-by-key states (O(keys) rows), never the raw event log; a
    sort-merge of the pre-reduced sides is the correct scale plan."""
    a = _audit(spark, "c12_snapshot_reconciliation")
    assert a.has("SortMergeJoin") or a.broadcast_joins >= 1, a.plan
    assert not a.has("CartesianProduct")


def test_r64_no_full_group_sort_window(spark):
    """Weighted median must never run a cumulative window whose
    partition key is the 3-value group over the raw fact table (that
    sorts ~1/3 of the table per task at any scale). The binned plan's
    windows run over the tiny histogram and one bin's distinct values;
    the fact table itself is touched only by hash aggregates, and the
    median-bin lookup side broadcasts."""
    import re

    a = _audit(spark, "r64_weighted_median")
    assert a.partial_aggregates, a.plan
    assert a.broadcast_joins >= 1, a.plan
    # Every Window in the plan must sit above an aggregate (histogram /
    # per-value reduction), never directly above the lineitem scan:
    # count actual Window operator nodes, and forbid a Window whose
    # child is a parquet scan in the operator tree.
    windows = len(re.findall(r"\(\d+\) Window", a.plan))
    assert windows <= 5, a.plan
    assert not re.search(r"Window.*\n.*Scan parquet", a.plan), a.plan


# ---------------------------------------------------------------------------
# round-5 batch-2 queries: plan-shape guards
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        # banded lag windows + band-boundary window + per-table agg +
        # sort — each exchange after the first carries O(bands) rows
        ("c17_seq_gap_audit", 6),
        ("r74_time_weighted_average", 3),     # user window + type agg + sort
        # 4 independent FK edges; each edge = anti-join + two 1-row
        # count aggregates (the 12 exchanges carry 1 row each)
        ("r75_fk_orphan_audit", 13),
        ("r76_percentile_disc", 2),           # custkey window reused by agg + sort
        ("l59_token_distribution_drift", 6),  # token agg + 1-row totals + final agg
        ("l60_token_burstiness", 8),          # (doc,word) agg + top-20 + semi + agg
        ("l61_dedup_funnel", 12),             # 4 distinct-count stages + union + delivery sort
        # two passes over the corpus by construction (MAD needs pass 1);
        # every exchange after the scans carries O(labels) rows
        ("l62_embedding_norm_outliers", 14),
        ("st12_stream_anti_join_admission", 2),  # window agg + output sort
        ("st13_quota_admission", 2),             # (user,window) rank + sort
        ("l63_cross_source_dup_matrix", 4),      # (h,source) dedup + hash join + agg
        ("l64_pipeline_census", 5),              # gate map + dedup agg + semi + census
        ("l65_pmi_collocations", 9),             # gram/vocab aggs + two count joins + TakeOrdered
        ("l66_dup_ngram_coverage", 6),           # gram df agg + membership join + doc rollup
        ("r77_percent_of_total", 3),             # nation agg + O(nations) window + sort
        ("st14_stream_stream_full_outer", 3),    # key-shuffled join + sort
        ("r78_inline_struct_array", 2),          # order-key shuffle reused by window + sort
        # per iteration: edge⋈score join + dst aggregate; 2 unrolled
        # iterations + degree/edge prep + TakeOrdered — every exchange
        # after edge construction carries O(nodes) or O(edges) rows
        ("r79_pagerank_quantized", 18),
        ("c18_op_transition_audit", 4),          # key lag window + tiny agg + sort
        ("r80_session_conversion", 4),           # ONE user exchange feeds both windows + rollup
    ],
)
def test_round5_shuffle_budget(spark, name, max_shuffles):
    a = _audit(spark, name)
    assert a.shuffles <= max_shuffles, f"{name}: too many shuffles\n{a.plan}"


@pytest.mark.parametrize(
    "name",
    ["c17_seq_gap_audit", "r74_time_weighted_average",
     "r76_percentile_disc", "l59_token_distribution_drift",
     "l60_token_burstiness", "l62_embedding_norm_outliers",
     "st12_stream_anti_join_admission", "l63_cross_source_dup_matrix",
     "l64_pipeline_census"],
)
def test_round5_partial_aggregation(spark, name):
    assert _audit(spark, name).partial_aggregates, f"{name}: no map-side combine"


def test_st12_denylist_broadcasts(spark):
    """The admission anti-join must broadcast the denylist — a
    shuffled anti-join would repartition the whole stream on user_id
    just for a membership test."""
    a = _audit(spark, "st12_stream_anti_join_admission")
    assert a.broadcast_joins >= 1, a.plan


def test_l60_top_vocab_broadcasts(spark):
    """The top-20 membership semi-join must broadcast the 20-row side,
    never shuffle the per-(doc,word) table on word for it."""
    a = _audit(spark, "l60_token_burstiness")
    assert a.broadcast_joins >= 1, a.plan


def test_l42_is_map_only(spark):
    """Per-doc entropy must stay a per-row computation: no aggregate,
    no window, no (doc, bigram) explode-shuffle — the only exchanges
    are the conditional small-scan repartition and the output sort."""
    a = _audit(spark, "l42_char_bigram_entropy")
    assert not a.has("HashAggregate"), a.plan
    assert not a.has("Window"), a.plan
    assert a.python_evals == 0


# ---------------------------------------------------------------------------
# round-5 batch-3 queries: plan-shape guards
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("c19_before_image_drift", 4),        # key lag window + tiny agg + sort
        ("c20_orphan_first_op_audit", 4),     # key rn window + tiny agg + sort
        # two binned-median passes + profile: every exchange after the
        # scans carries O(groups x bins) histogram rows; the fact table
        # is touched only by hash aggregates and broadcast-joined
        # median lookups (22 observed after the median became the
        # p=0.5 quantile wrapper — the extra exchanges are (group, p)
        # windows over the tiny histogram)
        # r11: medians are driver literals — one agg + delivery sort
        ("r81_mad_outliers", 3),
        ("r82_strict_sequence_match", 3),     # ONE user exchange: lead window + agg
        ("r83_interval_union_length", 3),     # ONE user exchange: 2 windows + 2 aggs
        ("r84_largest_remainder_allocation", 3),  # ONE order exchange + audit aggs
        ("r85_chi2_independence", 4),         # cell agg + 3 windows over 35 rows
        ("l67_hard_negative_mining", 4),      # broadcast q x scan + qid window
        # (+1: min-parallelism round-robin exchange, no-op on real data)
        ("l68_winnowing_fingerprints", 7),    # doc window + fp dedup/df + join + rollup
        ("l69_source_vocab_jaccard", 13),     # vocab dedup x2 + token join + pair agg
    ],
)
def test_round5_batch3_shuffle_budget(spark, name, max_shuffles):
    a = _audit(spark, name)
    assert a.shuffles <= max_shuffles, f"{name}: too many shuffles\n{a.plan}"


@pytest.mark.parametrize(
    "name",
    ["c19_before_image_drift", "r81_mad_outliers",
     "r82_strict_sequence_match", "r83_interval_union_length",
     "r84_largest_remainder_allocation", "r85_chi2_independence",
     "l68_winnowing_fingerprints", "l69_source_vocab_jaccard"],
)
def test_round5_batch3_partial_aggregation(spark, name):
    assert _audit(spark, name).partial_aggregates, f"{name}: no map-side combine"


def test_r81_no_full_group_sort_window(spark):
    """Both medians (value and deviation) must run through the binned
    two-pass operator: no Window may sit directly above the orders
    scan (that would sort ~1/3 of the table per task on the 3-value
    status key — the r64 anti-pattern the operator exists to avoid).
    Round 11: the medians hand off as O(groups) driver literals, so
    the FINAL plan is one scan + one hash aggregate — no joins, no
    Window at all (the former broadcast-join form re-executed the
    median subplan per consumer: 15 Spark jobs per run)."""
    a = _audit(spark, "r81_mad_outliers")
    assert "Window" not in a.plan, a.plan
    assert "Join" not in a.plan, a.plan
    assert a.partial_aggregates, a.plan  # map-side combine on status


# ---------------------------------------------------------------------------
# round-5 batch-4 queries: plan-shape guards
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        # one triple-dedup shuffle feeds every grain; joins are tiny
        ("r86_distinct_rollup", 7),
        ("r87_first_touch_attribution", 3),   # ONE user range window + sort
        # histogram build + (group,p) windows over the tiny cumulative
        # frame + broadcast bin lookup + value window + sort
        ("r88_equi_depth_quantiles", 7),
        ("r89_linear_interpolation", 5),      # daily agg + spine join + type windows
        ("l70_bpe_pair_frequencies", 4),      # vocab agg -> pair agg -> TakeOrdered
        # NO self-join: upper-triangle products explode map-side and
        # partial-aggregate to O(d^2) keys before the only shuffle
        # (+1: min-parallelism round-robin exchange, no-op on real data)
        ("l71_dim_covariance_pairs", 6),
        ("l72_quality_gate_ablation", 4),     # flag map + 8-row agg + share window
        ("c21_capture_order_inversions", 4),  # key lag window + tiny agg + sort
        ("st15_session_coverage", 3),         # ONE user session-window agg + sort
    ],
)
def test_round5_batch4_shuffle_budget(spark, name, max_shuffles):
    a = _audit(spark, name)
    assert a.shuffles <= max_shuffles, f"{name}: too many shuffles\n{a.plan}"


@pytest.mark.parametrize(
    "name",
    ["r86_distinct_rollup", "r88_equi_depth_quantiles",
     "r89_linear_interpolation", "l70_bpe_pair_frequencies",
     "l71_dim_covariance_pairs", "l72_quality_gate_ablation",
     "c21_capture_order_inversions", "st15_session_coverage"],
)
def test_round5_batch4_partial_aggregation(spark, name):
    assert _audit(spark, name).partial_aggregates, f"{name}: no map-side combine"


def test_l71_no_vector_self_join(spark):
    """The covariance pairs must come from per-row array lambdas, not a
    corpus self-join on vec_id — a self-join would shuffle the whole
    embedding table twice at any scale."""
    a = _audit(spark, "l71_dim_covariance_pairs")
    assert a.sortmerge_joins == 0, a.plan
    # the only joins are 64-row dim-sum broadcasts + the 1-row count
    # (+1: min-parallelism round-robin exchange, no-op on real data)
    assert a.shuffles <= 6, a.plan


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("r90_trend_regression", 4),       # daily agg + tiny type agg + sort
        ("r91_asof_tolerance_join", 3),    # ONE user window + sort
        ("l73_mixture_reweighting", 4),    # source agg + O(sources) window
        ("l74_tokenizer_fertility", 4),    # lang agg + sort
    ],
)
def test_round5_batch5_shuffle_budget(spark, name, max_shuffles):
    a = _audit(spark, name)
    assert a.shuffles <= max_shuffles, f"{name}: too many shuffles\n{a.plan}"


@pytest.mark.parametrize(
    "name",
    ["r90_trend_regression", "l73_mixture_reweighting",
     "l74_tokenizer_fertility"],
)
def test_round5_batch5_partial_aggregation(spark, name):
    assert _audit(spark, name).partial_aggregates, f"{name}: no map-side combine"


# ---------------------------------------------------------------------------
# round-5 batch-6 queries: plan-shape guards
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        # pair join + edge agg materialized ONCE (localCheckpoint),
        # then degree/triangle consumers shuffle only the small edge set
        ("r92_triangle_census", 14),
        ("r93_capped_running_balance", 2),   # ONE user exchange + sort
        # histogram + (group,p) windows on the tiny cumulative frame +
        # broadcast bounds back onto the fact scan + final 5-row agg
        ("r94_winsorized_mean", 8),
        # within-cluster pair join partitions on cid (bounded by
        # cluster size BY DESIGN — SemDeDup grows k with the corpus);
        # includes the AQE-exempt repartition pin on both join sides
        # plus the census aggregates
        ("l75_semdedup_census", 10),
        ("l76_quality_model_bands", 3),      # ONE (source,band) agg + sort
        # same pair-scan shape as l75; single conditional aggregate
        ("l77_dedup_threshold_sweep", 10),
        ("mm06_shard_packing", 3),           # ONE modality window + census
        # histogram + (group,p) windows over the tiny cumulative frame
        ("r96_daily_percentile_bands", 8),
        ("st16_windowed_value_histogram", 2),  # ONE window agg + sort
        ("r95_top_event_paths", 3),          # ONE user exchange + tiny rank
        # seq join + histogram windows over the tiny (tbl,op) frame
        ("c22_envelope_size_census", 10),
    ],
)
def test_round5_batch6_shuffle_budget(spark, name, max_shuffles):
    a = _audit(spark, name)
    assert a.shuffles <= max_shuffles, f"{name}: too many shuffles\n{a.plan}"


@pytest.mark.parametrize(
    "name",
    ["r92_triangle_census", "r94_winsorized_mean",
     "l75_semdedup_census", "l76_quality_model_bands",
     "r95_top_event_paths", "c22_envelope_size_census"],
)
def test_round5_batch6_partial_aggregation(spark, name):
    assert _audit(spark, name).partial_aggregates, f"{name}: no map-side combine"


def test_r94_no_full_group_sort_window(spark):
    """The p05/p95 bounds must come from the binned two-pass operator:
    no Window directly above the events scan (5-value key -> the r64
    anti-pattern), and the bounds join back as a broadcast."""
    import re

    a = _audit(spark, "r94_winsorized_mean")
    assert a.broadcast_joins >= 1, a.plan
    assert not re.search(r"Window.*\n.*Scan parquet", a.plan), a.plan


# ---------------------------------------------------------------------------
# round-6 components: plan-shape guards
# ---------------------------------------------------------------------------


def test_schema_registry_window_only_on_tiny_frame(spark):
    """schema_versions' version numbering must window over the
    (db, tbl, fields) AGGREGATE (bounded by distinct schemas), never
    over the log-sized envelope frame — at 100 TB a per-table window
    over raw events serializes each table's history into one task."""
    import re

    from graal_cdc_spark.cdc.envelope import build_cdc_events, parse_envelope
    from graal_cdc_spark.cdc.schema_registry import schema_versions

    df = schema_versions(parse_envelope(build_cdc_events(spark, SF)))
    plan = df._jdf.queryExecution().executedPlan().toString()
    windows = len(re.findall(r"\bWindow \[", plan))
    assert windows == 1, plan
    # the Window's subtree must contain the HashAggregate — i.e. the
    # window consumes the reduced frame, not the scan
    win_pos = plan.find("Window")
    agg_pos = plan.find("HashAggregate")
    assert 0 <= win_pos < agg_pos, plan


def test_kafka_segment_reader_no_shuffle(spark, tmp_path):
    """The archived-segment decode is map-only: binaryFile splits →
    mapInPandas, no Exchange (seq/partition arrive with the bytes)."""
    import os

    from graal_cdc_spark.sources.kafka_wire import (
        encode_record_batch,
        read_kafka_segments,
    )

    d = str(tmp_path / "t-0")
    os.makedirs(d)
    with open(os.path.join(d, "0.log"), "wb") as f:
        f.write(encode_record_batch(0, [(b"k", b"v")]))
    plan = (
        read_kafka_segments(spark, str(tmp_path))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# round 7: tree top-k and sorted-layout audit plan shapes
# ---------------------------------------------------------------------------


def test_r97_tree_merge_shape(spark):
    """Two per-bucket truncation rounds = two hash exchanges on the
    bucket key; the final merge is a TakeOrdered over <= fanout*k
    survivors plus one single-partition window over exactly k rows —
    the full input is NEVER globally sorted or single-partitioned."""
    a = _audit(spark, "r97_tree_topk")
    assert a.has("TakeOrderedAndProject"), a.plan
    assert a.plan.count("hashpartitioning(__b") == 2, a.plan
    # per-bucket truncation runs as WindowGroupLimit (rank pushdown:
    # each task keeps a k-heap, never materializing the full sort)
    assert a.has("WindowGroupLimit"), a.plan
    # no single-partition exchange anywhere: the k-row rank window
    # rides TakeOrdered's already-single output
    assert a.plan.count("SinglePartition") == 0, a.plan
    assert a.python_evals == 0


def test_r98_full_table_window_partitions_by_month(spark):
    """The per-row file-position window must partition by month
    (parallel across months); single-partition windows are allowed
    only on the two metadata-sized frames (month totals cumsum,
    per-file lag) — at 100 TB a global ROW_NUMBER over the table
    serializes the scan into one task."""
    a = _audit(spark, "r98_sorted_layout_audit")
    assert "hashpartitioning(month" in a.plan, a.plan
    # 2 metadata frames + the ordered_result delivery sort
    assert a.plan.count("SinglePartition") == 3, a.plan
    assert a.python_evals == 0


def test_c24_sink_input_is_compacted_once(spark):
    """The ES delivery census's Spark-side frame (what foreachPartition
    dispatches) compacts latest-by-key with ONE window over ONE
    key-hash shuffle — the sink never sees two actions for a key."""
    from graal_cdc_spark.cdc.compaction import latest_by_key
    from graal_cdc_spark.cdc.envelope import build_cdc_events, parse_envelope
    from graal_cdc_spark.plans import audit as _plan_audit

    parsed = parse_envelope(build_cdc_events(spark, SF))
    a = _plan_audit(
        latest_by_key(parsed.select("key", "op", "seq", "tbl"), ["key"], "seq")
    )
    assert a.plan.count("hashpartitioning(key") == 1, a.plan
    assert a.python_evals == 0


# ---------------------------------------------------------------------------
# round-7b queries: plan-shape guards
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        # one corpus token explode feeds tf; df/corpus stats broadcast
        # back onto the postings; per-term rank window + final sort
        ("l84_bm25_topk", 9),
        # one bigram explode feeds both LMs (localCheckpoint); bucket
        # LM broadcasts onto the feature stream; per-doc mean + sort
        ("l85_dsir_importance", 9),
    ],
)
def test_round7b_shuffle_budget(spark, name, max_shuffles):
    a = _audit(spark, name)
    assert a.shuffles <= max_shuffles, f"{name}: too many shuffles\n{a.plan}"


@pytest.mark.parametrize(
    "name", ["l84_bm25_topk", "l85_dsir_importance"]
)
def test_round7b_partial_aggregation(spark, name):
    assert _audit(spark, name).partial_aggregates, f"{name}: no map-side combine"


def test_l85_lm_reaches_feature_stream_row_locally(spark):
    """The 256-bucket LM must reach the corpus-sized feature stream
    WITHOUT a shuffle join — a join keyed on the bucket would funnel
    the whole corpus through 256 reduce keys at 100 TB. Since r12 the
    trained LM ships as a create_map literal, so the scoring stage is
    JOIN-FREE entirely (the lookup runs inside the explode's codegen
    stage); the only exchange left is the per-doc aggregate."""
    a = _audit(spark, "l85_dsir_importance")
    assert "SortMergeJoin" not in a.plan, a.plan
    assert "ShuffledHashJoin" not in a.plan, a.plan
    # the literal map lookup appears as a keys:/values: map expression
    assert "keys:" in a.plan or a.broadcast_joins >= 1, a.plan


def test_l87_bloom_bits_broadcast(spark):
    """The Bloom filter (ONE row holding the sorted set-bit array)
    must cross-broadcast onto the probe stream and the exact-hash
    verifier must broadcast-hash-join — a shuffle here would defeat
    the filter's point (the build side never re-shuffles against a
    batch)."""
    a = _audit(spark, "l87_bloom_dedup_probe")
    assert a.has("BroadcastNestedLoopJoin"), a.plan  # 1-row filter side
    assert a.broadcast_joins >= 1, a.plan  # exact-hash verifier
    assert a.python_evals == 0


def test_r99_bucketed_join_no_shuffle(spark):
    """The bucketed fact join must plan ZERO shuffle exchanges under
    the SortMergeJoin — both scans satisfy the join distribution from
    the write-time bucketing; the only exchange is the 5-row census
    aggregate above the join. The unbucketed twin shuffles both
    sides, which is what bucketing exists to avoid at 100 TB."""
    import re

    from graal_cdc_spark.queries.relational import r99_plan_frame

    j = r99_plan_frame(spark, SF)
    j.count()  # executed plan (post-AQE)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert exchanges == 1, f"expected only the census exchange, got {exchanges}"
    # the join inputs themselves are exchange-free: no exchange may
    # appear BELOW the SortMergeJoin in the plan tree
    below = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange hashpartitioning" not in below


def test_l95_probe_df_cap_is_broadcast_anti_join(spark):
    """The containment probe's df cap must plan as a broadcast
    ANTI-join against the tiny over-cap set — never a sort-merge join
    re-shuffling the corpus-sized shingle frame (the r13 rework of
    VERDICT r12 #3); the only sort-merge join allowed is the final
    sample-vs-index probe join on the hash."""
    from graal_cdc_spark.operators.dedup import containment_probe_pairs
    from graal_cdc_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    pairs = containment_probe_pairs(
        docs, "doc_id", "text", n=3, k=8, max_df_bp=200,
        min_est_bp=5000, min_sample=4, token_grams=True,
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, (
        "df cap is not a broadcast anti-join"
    )
