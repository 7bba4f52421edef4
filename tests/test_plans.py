"""Plan-shape assertions (SURVEY §4/§5.5): verify we don't silently
defeat Catalyst. These read explain() output, not results."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from base_etl_spark import queries
from tests.conftest import SF_TEST

_QS = queries()


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet(tables):
    df = tables.lineitem.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)" in plan


def test_column_pruning(tables):
    df = tables.lineitem.select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # the scan must read exactly the projected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_star_join_broadcasts_dims(spark):
    plan = _plan(_QS["join_star_q5"](spark, SF_TEST))
    # every dim side broadcasts; at sf0.001 even orders fits under the
    # threshold so ALL joins may be broadcast — the requirement is that
    # nothing degenerates to a cartesian/nested-loop product
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bcast_join_no_fact_shuffle(spark):
    plan = _plan(_QS["join_inner_bcast"](spark, SF_TEST))
    assert "BroadcastHashJoin" in plan


def test_topk_plans_take_ordered(spark):
    plan = _plan(_QS["topk_orders"](spark, SF_TEST))
    assert "TakeOrderedAndProject" in plan


def test_q1_partial_final_agg(spark):
    plan = _plan(_QS["agg_pricing"](spark, SF_TEST))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_no_cartesian_in_theta_range(spark):
    plan = _plan(_QS["join_theta_range"](spark, SF_TEST))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_whole_stage_codegen_hot_path(spark):
    # AQE's formatted plan hides codegen spans pre-execution; ask the
    # codegen explain mode directly
    df = _QS["agg_pricing"](spark, SF_TEST)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "codegen"
    )
    assert "WholeStageCodegen" in plan


def _events_ns_layout(spark):
    from pyspark.sql.types import LongType

    raw = spark.read.parquet(f"{SF_TEST}/events.parquet")
    return isinstance(raw.schema["ts"].dataType, LongType)


def test_events_range_scan_pushes_ts_bounds(spark):
    """events_between must reach the parquet reader with ts bounds in both
    fixture layouts: raw-ns integer bounds under nanosAsLong, or native
    timestamp bounds for the us layout."""
    from base_etl_spark.io import events_between

    df = events_between(spark, SF_TEST, 1704067200000000, 1704153600000000)
    plan = _plan(df)
    if _events_ns_layout(spark):
        assert (
            "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,1704067200000000000)"
            in plan
        )
    else:
        assert "GreaterThanOrEqual(ts,2024-01-01" in plan


def test_events_loader_ts_filter_pushdown_posture(spark, tables):
    """Documents WHY events_between exists. Under the ns layout the
    loader's converted ts column hides the filter from the parquet reader;
    under the native us layout the loaded column IS the raw column, so the
    same filter pushes down with no helper needed."""
    from pyspark.sql import functions as F

    df = tables.events.filter(F.col("ts") >= "2024-01-02")
    plan = _plan(df)
    if _events_ns_layout(spark):
        assert "GreaterThanOrEqual(ts," not in plan
    else:
        assert "GreaterThanOrEqual(ts," in plan


def test_dedup_embedding_no_nested_loop(spark):
    """The scale-path guarantee: SRP-LSH candidates join on (band, bh),
    so the plan must not contain an all-pairs nested-loop or cartesian."""
    plan = _plan(_QS["dedup_embedding"](spark, SF_TEST))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_two_phase_rank_is_distributed(spark):
    """sort_multikey / win_distribution: the rank window over the base
    table must run under a hash-partitioned exchange (round-1 versions
    funneled the whole table through Exchange SinglePartition; after the
    two-phase rewrite the only single-partition work is the few-row
    bucket-offsets branch)."""
    plan = _plan(_QS["sort_multikey"](spark, SF_TEST))
    assert "hashpartitioning(c_mktsegment" in plan
    plan = _plan(_QS["win_distribution"](spark, SF_TEST))
    assert "hashpartitioning(bucket" in plan


def test_funnel_pushes_event_type_filters(spark):
    """Each funnel stage's event_type filter must reach the parquet scan
    (a stage reads only its own event type), and nothing degenerates to a
    nested-loop join."""
    plan = _plan(_QS["events_funnel"](spark, SF_TEST))
    for etype in ("view", "click", "purchase"):
        assert f"EqualTo(event_type,{etype})" in plan, etype
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sample_stratified_prunes_text_column(spark):
    """The sampler never needs the text column; the scan must not read it
    (documents is text-dominated, so this is the difference between
    scanning ~100% and ~5% of the table's bytes)."""
    plan = _plan(_QS["sample_stratified"](spark, SF_TEST))
    assert "ReadSchema: struct<doc_id:bigint,lang:string,source:string>" in plan


def test_no_accidental_cartesian_in_any_key(spark):
    """Repo-wide plan audit: no key's plan may contain a cartesian
    product, and nested-loop joins may appear ONLY where a bounded side
    makes them the intended plan (scalar subqueries, the deliberate
    cross join, 10-row probe sets)."""
    allowed_nested = {
        "join_cross",       # intentional cross join
        "text_tfidf",       # 1-row corpus-size scalar
        "text_keywords_topk",  # same 1-row corpus-size scalar as text_tfidf
        "win_distribution", # 1-row global-count scalar
        "stream_late_data", # 1-row max-ts watermark scalar
        "text_unigram_nll", # 1-row total-token-count scalar
        "text_bigram_nll",  # 1-row vocabulary-size scalar
        "sim_topk",         # 10-row probe broadcast x corpus
        "sim_topk_ivf",     # 10-row probe broadcast x centroids
        "sim_knn_classify", # 10-row probe broadcast x corpus (sim_topk shape)
        "sim_topk_ip",      # 10-row probe broadcast x corpus (dot-product)
        "sim_range_search", # 10-row probe broadcast x corpus (radius filter)
        "sim_mmr_rerank",   # 10-row probe broadcast x corpus (top-20 feed)
        "sim_topk_bitsign",  # 10-row probe sketch broadcast x corpus signatures
        "sim_topk_pq",      # 10-row probe broadcast x corpus (exact-recall leg)
        "sim_recall_matryoshka",  # 10-row probe broadcast x corpus (both cosines)
        "dedup_funnel_report",  # four 1-row funnel legs x 1-row total combine
        "pack_sequences",   # 1-row max-doc-id bucketing scalar
        "corpus_mix_weights",  # 1-row corpus-totals scalar
        "cluster_kmeans",   # k-row (8) centroid broadcast x corpus scan
        "events_gapfill",   # hour-grid (from a 1-row min/max agg) x 5 types
        "events_rfm",       # 1-row reference-timestamp scalar
        "join_q22_idle_customers",  # 1-row global-average scalar
        "join_q11_important_parts",  # 1-row national-average threshold scalar
        "orders_market_basket",  # 1-row order-count scalar
        "events_time_decay_score",  # 1-row reference-timestamp scalar
        "text_bm25",        # 1-row corpus-stats scalar
        "text_js_divergence",  # ~19-row distinct-sources broadcast
        "sim_hybrid_rrf",   # inherits text_bm25's 1-row stats scalar
        "agg_top_percentile_share",  # 1-row percentile-threshold scalar
        "events_active_users_rolling",  # 1-row date-bounds scalar (x2)
        "etl_freshness_sla",  # 1-row newest-mark scalar over a 3-row union
        "events_ab_test",   # two 1-row arm summaries cross-joined
        "events_ab_cuped",  # 1-row sufficient-statistics (theta) broadcast
        "etl_time_travel",  # four 1-row state-count summaries combined
        "orders_seasonality_strength",  # 1-row grand-mean/SS scalars
        "events_autocorr",  # three 1-row legs (n_days + two lag corrs) combined
        "events_ks_test",   # two 1-row legs (arm totals, integer KS max) combined
        "agg_mutual_info",  # four 1-row summaries (MI + two entropies + N) combined
        "embedding_centroid_drift",  # source-dim-bounded (~20-row) centroid pair join
        "graph_triangle_count",  # four 1-row graph-census scalars combined
        "agg_benford_test",  # 1-row total-count scalar x 9-digit grid
        "events_changepoint",  # 1-row (total, n_days) scalar x day series
        "events_cohort_survival",  # 1-row horizon + total scalars x lag series
        "sim_recall_at_k",  # reuses sim_topk + bitsign probe broadcasts; k-grid (3-row) cross
        "events_welch_ttest",  # two 1-row arm summaries cross-joined (events_ab_test shape)
        "text_pmi_cooccur",  # 1-row corpus-doc-count scalar
        # round-8 additions
        "sim_cosine_histogram",  # 10-row probe broadcast x corpus (declared exact tier)
        "sim_topk_ivfpq",   # 10-row probe broadcast x 10-row centroids (coarse shortlist)
        "sample_repeat_plan",  # 1-row corpus-totals scalar (corpus_mix_weights shape)
        "etl_split_cluster_safe",  # 1-row leak-count scalar joined onto the 2-row census
        # round-8 continuation additions
        "events_mann_whitney",  # 1-row tie-term scalar x 1-row rank summary
        "text_burstiness",  # 1-row corpus-size scalar (text_tfidf shape)
        "sim_silhouette_label",  # label-bounded (~10-row) centroid broadcast x corpus
        "graph_k_core",  # two 1-row census scalars combined (graph_triangle_count shape)
        "sim_mrr_at_k",  # inherits sim_topk + bitsign probe broadcasts (recall_at_k shape)
        "events_power_sample_size",  # two 1-row scalars combined (ab_test shape)
        "sample_poisson_bootstrap",  # 1-row truth x 1-row replicate summary
        "sample_class_balanced",  # 1-row min-class-count scalar broadcast
        "embedding_outlier_zdist",  # 1-row 3-sigma threshold scalar broadcast
        # round-9 additions (each reviewed: bounded broadcast side)
        "agg_decile_lift_approx",  # 1-row sketch-boundaries scalar broadcast
        "sim_ndcg_at_k",  # inherits sim_topk's 10-row probe broadcast
        "sim_ivf_nprobe_sweep",  # probe x centroid shortlist per sweep point (sim_topk_ivfpq shape)
    }
    bad = []
    for k, fn in _QS.items():
        plan = _plan(fn(spark, SF_TEST))
        if "CartesianProduct" in plan:
            bad.append((k, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and k not in allowed_nested:
            bad.append((k, "BroadcastNestedLoopJoin"))
    assert not bad, bad


def test_python_eval_only_in_declared_udf_surface(spark):
    """'UDFs are the slow path': Python evaluation nodes may appear ONLY
    in the keys whose PURPOSE is the Python boundary. Every other
    operator must stay JVM-side end to end."""
    allowed = {
        "udf_scalar": "BatchEvalPython",
        "udf_pandas": "ArrowEvalPython",
        "udf_arrow": "ArrowEvalPython",  # Arrow-optimized scalar UDF tier
        "text_compress_ratio": "ArrowEvalPython",  # zlib quality signal
        "udaf_entropy_pandas": "FlatMapGroupsInPandas",
        "udaf_arrow_group": "FlatMapGroupsInArrow",  # Spark 4 Arrow-native grouped map
        "sim_mmr_rerank": "FlatMapGroupsInPandas",  # bounded greedy MMR (10x20 rows)
        "sim_topk_blocked": "MapInPandas",
        "mm_frame_stats": "MapInPandas",  # codec plumbing IS the boundary
        "mm_audio_decode": "MapInPandas",  # REAL WAV decode — the boundary is the point
        "mm_audio_frame_energy": "MapInPandas",  # REAL WAV decode + framing
        "mm_image_decode": "MapInPandas",  # REAL BMP decode — the boundary is the point
        "mm_image_resize": "MapInPandas",  # REAL BMP resize — two codec trips
        "mm_video_frames": "MapInPandas",  # REAL AVI demux — the boundary is the point
        "mm_image_dedup": "MapInPandas",  # REAL BMP decode feeding the hash dedup
        "mm_image_neardup": "MapInPandas",  # REAL BMP decode feeding banded hamming pairs
        "mm_audio_silence_trim": "MapInPandas",  # REAL WAV decode + energy trim
        "mm_audio_resample": "MapInPandas",  # two REAL WAV codec trips (16k -> 8k)
        "mm_video_scene_cut": "MapInPandas",  # REAL AVI demux + frame deltas
        "udtf_python": "BatchEvalPython",  # Python-UDTF boundary (BatchEvalPythonUDTF node)
        "udtf_arrow_chunks": "ArrowEvalPython",  # Arrow UDTF tier (ArrowEvalPythonUDTF node)
        # round-8 additions — all REAL-codec mapInPandas boundaries
        "mm_audio_gain_normalize": "MapInPandas",  # two REAL WAV trips (peak gain)
        "mm_image_phash": "MapInPandas",  # REAL BMP decode + 8x8 DCT hash
        "mm_video_frame_dedup": "MapInPandas",  # REAL AVI demux + frame aHash stream
        "mm_image_crop_center": "MapInPandas",  # two REAL BMP trips (center crop)
        "mm_video_fps_downsample": "MapInPandas",  # two REAL AVI trips (frame drop)
        # round-9 additions
        "udf_pandas_iter": "ArrowEvalPython",  # Iterator[Series] batch-inference tier
        "mm_audio_spectral_centroid": "MapInPandas",  # REAL WAV decode + rFFT features
        "mm_image_quality_stats": "MapInPandas",  # REAL BMP decode + quality kernel
        # round-10 additions
        "mm_image_png_decode": "MapInPandas",  # REAL PNG (zlib) decode, all 5 filters
    }
    markers = (
        "BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
        "MapInPandas", "FlatMapGroupsWithStateInPandas",
        "FlatMapGroupsInArrow",
    )
    bad = []
    for k, fn in _QS.items():
        plan = _plan(fn(spark, SF_TEST))
        found = [m for m in markers if m in plan]
        if found and k not in allowed:
            bad.append((k, found))
        elif k in allowed and allowed[k] not in found:
            bad.append((k, f"expected {allowed[k]}, found {found}"))
    assert not bad, bad


def test_train_split_prunes_text_column(spark):
    """The splitter needs only (doc_id, lang, n_chars); reading text
    would scan ~95% more bytes for nothing."""
    plan = _plan(_QS["etl_train_split"](spark, SF_TEST))
    assert "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>" in plan


def test_contamination_broadcasts_benchmark_side(spark):
    """The benchmark shingle set must broadcast (eval suites are tiny vs
    the train corpus); a shuffle join here would move the whole corpus's
    shingles by shingle key."""
    plan = _plan(_QS["text_contamination"](spark, SF_TEST))
    assert "BroadcastHashJoin" in plan


def test_sample_exact_k_plans_take_ordered(spark):
    """Exact-k hash sampling must plan TakeOrderedAndProject (per-
    partition top-k + driver merge), never a global sort."""
    plan = _plan(_QS["sample_exact_k"](spark, SF_TEST))
    assert "TakeOrderedAndProject" in plan
    # the weighted E-S race is the same contract: top-k, never global sort
    wplan = _plan(_QS["sample_weighted"](spark, SF_TEST))
    assert "TakeOrderedAndProject" in wplan


def test_stream_topk_window_ranks_aggregated_rows(spark):
    """The hourly top-k's rank window must partition by window_start over
    the pre-aggregated one-row-per-(hour,type) series — never a global
    single-partition window, and never raw events reaching the rank
    (the agg's partial+final pair sits below the window). Spark's
    WindowGroupLimit (rank<=k pushed into the window sort) must fire, so
    per-partition state is k rows, not the full hour's type list."""
    plan = _plan(_QS["stream_topk_windowed"](spark, SF_TEST))
    assert "hashpartitioning(window_start" in plan
    assert "Exchange SinglePartition" not in plan
    # plan text prints root-first: the Window consumes the agg output
    assert plan.index("Window") < plan.index("HashAggregate")
    assert "WindowGroupLimit" in plan


def test_pack_sequences_cumsum_is_two_phase(spark):
    """The packing cumsum's per-doc window must run hash-partitioned by
    bucket; the only single-partition leg is the <= parallelism-row
    bucket-offsets table."""
    plan = _plan(_QS["pack_sequences"](spark, SF_TEST))
    assert "hashpartitioning(bucket" in plan


def test_pii_scrub_is_pure_projection(spark):
    """PII screening is a single mapper pass: no shuffle of any kind may
    appear in the plan (regexes evaluate in codegen on the scan output)."""
    plan = _plan(_QS["text_pii_scrub"](spark, SF_TEST))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q10_take_ordered_and_broadcast_dims(spark):
    """Q10: top-20 must be TakeOrderedAndProject (no global sort) and the
    customer+nation side must broadcast — the only fact-sized shuffle is
    the orders<->lineitem co-shuffle, plan-asserted via pushed filters."""
    plan = _plan(_QS["join_q10_returns"](spark, SF_TEST))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan


def test_q7_broadcast_both_nation_legs(spark):
    """Q7: both supplier-nation and customer-nation legs broadcast; the
    ship-date filter reaches the lineitem scan."""
    plan = _plan(_QS["join_q7_volume"](spark, SF_TEST))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_q21_semi_anti_no_nested_loop(spark):
    """Q21 (r11 restructure): the EXISTS/NOT-EXISTS pair is replaced by
    one per-orderkey census aggregate (n_supp >= 2 AND n_late_supp == 1),
    so the plan must carry semi joins on the l_orderkey equi key, the
    two-level HashAggregate census (partial per (orderkey, suppkey)
    first — map-side combine), and NO anti join or nested loop: a
    nested loop here would be quadratic in order size at scale."""
    plan = _plan(_QS["join_q21_waiting"](spark, SF_TEST))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    assert "LeftAnti" not in plan  # the NOT-EXISTS leg is now an aggregate
    assert "HashAggregate" in plan


def test_q19_pushes_common_quantity_range(spark):
    """Q19: Catalyst must extract the cross-disjunct l_quantity range and
    push it into the lineitem scan despite the OR-of-ANDs shape."""
    plan = _plan(_QS["filter_q19_disjunctive"](spark, SF_TEST))
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "LessThanOrEqual(l_quantity,30.0)" in plan


def test_q18_single_fact_shuffle(spark):
    """Q18: customer enrichment broadcasts; the orders join is pinned to
    merge (the qualifying-order aggregate scales with the fact)."""
    plan = _plan(_QS["join_q18_large_orders"](spark, SF_TEST))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_fact_joins_pinned_to_merge(spark):
    """The eleven fact-join composites whose fact-derived join sides
    measured 1.9-5.8x faster as shuffle plans at 30x sf0.1
    (tools/scale_stress.py A/B, then the unbiased same-session re-screen
    over all 65 broadcast-audit flags) must keep their merge pins: the
    session's 64 MB dim-broadcast threshold otherwise converts the
    column-pruned fact projections into broadcast builds at mid scale —
    wrong on any real cluster, where the build ships to every executor.
    The twelfth key (dedup_near_minhash) is pinned for a harder reason:
    its candidate side has no static bound and OOM'd as a broadcast.

    Counts, not presence: multi-join keys (q21 pins several sides) would
    still 'contain SortMergeJoin' after ONE pinned side silently
    regressed to a broadcast build — exactly the regression this test
    exists to catch. Expected counts were read off the committed plans
    (formatted explain lists each SMJ node twice: tree + detail, so one
    pinned join contributes 2 occurrences)."""
    for key, min_smj_nodes in (
        # r11: q21's l2/l3 raw legs folded into one per-orderkey census
        # aggregate, so the pinned sides are the census + f_orders (2
        # SMJs), down from 3 raw-leg joins — see tpch_extra.py docstring
        ("join_q21_waiting", 2),
        ("join_q4_priority_exists", 1),
        ("join_q7_volume", 1),
        ("join_q9_profit", 1),
        ("join_q18_large_orders", 1),
        ("agg_q13_cust_distribution", 1),
        ("date_business_days", 1),
        ("agg_q12_priority_class", 1),
        ("join_theta_range", 1),
        ("join_shuffle", 1),
        ("orders_fulfillment_lag", 1),
        # candidate-verify join: the candidate side scales with near-dup
        # density (no static bound) — AQE's broadcast choice OOM'd on a
        # 100x-amplified corpus; merge is the only completing plan
        ("dedup_near_minhash", 1),
    ):
        plan = _plan(_QS[key](spark, SF_TEST))
        got = plan.count("SortMergeJoin") // 2
        assert got >= min_smj_nodes, (
            f"{key}: expected >={min_smj_nodes} sort-merge joins, plan has "
            f"{got} — a pinned fact side regressed to a broadcast build"
        )


def test_q8_dual_nation_role_broadcasts(spark):
    """Q8: nation joins twice under different roles; both legs broadcast
    and the market filter semi-joins (never multiplies fact rows)."""
    plan = _plan(_QS["join_q8_market_share"](spark, SF_TEST))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_gapfill_grid_broadcasts(spark):
    """Gap fill: the preserved side of an outer join can never be the
    broadcast build side, so the legal bounded broadcast is the hourly
    AGGREGATE (cardinality ≤ grid) — assert it genuinely plans as the
    BuildRight of a LeftOuter with the grid preserved, not as a
    silently-ignored hint."""
    plan = _plan(_QS["events_gapfill"](spark, SF_TEST))
    assert "BroadcastHashJoin" in plan
    assert "LeftOuter" in plan
    assert "BuildRight" in plan
    assert "CartesianProduct" not in plan


def test_transition_matrix_window_is_user_partitioned(spark):
    """Markov transitions: the lag window must be partitioned by user_id,
    never a bare global Window.orderBy."""
    plan = _plan(_QS["events_transition_matrix"](spark, SF_TEST))
    assert "Window" in plan
    # the exchange feeding the window must hash-partition on user_id
    assert "hashpartitioning(user_id" in plan


def test_ngram_topk_take_ordered(spark):
    plan = _plan(_QS["text_ngram_topk"](spark, SF_TEST))
    assert "TakeOrderedAndProject" in plan


def test_partitioned_scan_prunes_by_year(spark):
    """The o_year=1997 filter must resolve as a PartitionFilter on the
    derived layout — directory-level pruning, not a row filter."""
    plan = _plan(_QS["scan_partitioned_pruned"](spark, SF_TEST))
    assert "PartitionFilters" in plan
    assert "o_year" in plan.split("PartitionFilters", 1)[1][:200]


def test_bucketed_join_has_no_shuffle(spark):
    """With broadcast disabled, the bucketed orders x lineitem join must
    read co-located buckets: no Exchange may feed the SortMergeJoin."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(_QS["join_bucketed_colocated"](spark, SF_TEST))
        assert "SortMergeJoin" in plan, "bucketed join must be sort-merge when broadcast is off"
        assert plan.count("Bucketed: true") == 2  # both scans read bucket metadata
        # the ONLY exchange in the whole plan is the post-join one feeding
        # the final aggregate — neither join input may shuffle
        assert plan.count("Exchange (") == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_dpp_injects_runtime_partition_filter(spark):
    """The era-filtered dim join must inject a dynamicpruningexpression
    into the partitioned fact scan — runtime pruning, not a full read."""
    plan = _plan(_QS["join_dpp_runtime"](spark, SF_TEST))
    assert "dynamicpruning" in plan.lower()


def test_pit_join_is_equi_with_residual(spark):
    """Point-in-time join must ride the dimension-key equi join (validity
    range as residual) — a range-driven nested loop would be quadratic."""
    plan = _plan(_QS["join_point_in_time"](spark, SF_TEST))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_null_safe_join_is_hash_join(spark):
    """<=> is an equi comparator: the plan must be a hash join, never a
    nested loop over the null class."""
    plan = _plan(_QS["join_null_safe"](spark, SF_TEST))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_shuffle_hash_hint_plans_shuffled_hash_join(spark):
    """The SHUFFLE_HASH hint must override the default strategy."""
    plan = _plan(_QS["join_shuffle_hash_hint"](spark, SF_TEST))
    assert "ShuffledHashJoin" in plan


def test_clustered_scan_pushes_date_range(spark):
    """The clustered-layout read must reach the parquet reader with both
    shipdate bounds (file/row-group min-max skipping depends on it)."""
    plan = _plan(_QS["etl_cluster_by_date"](spark, SF_TEST))
    assert "GreaterThanOrEqual(l_shipdate," in plan
    assert "LessThan(l_shipdate," in plan


def test_runtime_bloom_filter_injection(spark, tables):
    """Scale feature demo: with the runtime bloom-filter optimizer rule
    enabled (thresholds lowered to fixture scale), a selective dim join
    injects a might_contain pre-filter on the fact side — at 100 TB this
    prunes shuffle input for joins where neither static pushdown nor DPP
    applies. Asserted here so a Spark upgrade silently dropping the rule
    fails loudly."""
    from pyspark.sql import functions as F2

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # creationSideThreshold is a MAX (dim must fit); the application
        # threshold is a MIN (fact must be big enough) — lower only the min
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        dim = tables.part.filter(F2.col("p_size") == 1).select("p_partkey")
        fact = tables.lineitem.select("l_partkey", "l_quantity")
        df = fact.join(dim, fact.l_partkey == dim.p_partkey)
        plan = _plan(df)
        assert "might_contain" in plan.lower() or "bloomfilter" in plan.lower()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_nested_struct_pushdown_and_pruning(spark):
    """The nested-field predicate must reach the reader and the struct
    must be pruned to the touched leaves."""
    plan = _plan(_QS["scan_nested_struct"](spark, SF_TEST))
    assert "info.price" in plan  # nested pushed filter or pruned schema
    assert "odate" not in plan.split("ReadSchema", 1)[-1][:300]  # untouched leaf pruned


def test_disjunctive_key_join_has_no_nested_loop(spark):
    """The OR-of-keys rewrite must plan as two hash joins + union, never
    the nested-loop product the naive OR form produces."""
    plan = _plan(_QS["join_disjunctive_keys"](spark, SF_TEST))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Union" in plan


def test_max_partition_bytes_governs_scan_parallelism(spark, tables, tmp_path):
    """spark.sql.files.maxPartitionBytes is THE scan-parallelism knob at
    scale: the same parquet layout must split into more input partitions
    when the cap shrinks (and collapse toward file count when it grows).
    Pinned here because partition sizing is the first thing to retune
    when moving from local fixtures to a 1000-executor cluster."""
    path = str(tmp_path / "li")
    tables.lineitem.repartition(2).write.mode("overwrite").parquet(path)
    saved = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # fixture files are ~55 KB each — the cap must sit well below
        # one file's size to force intra-file splits
        spark.conf.set("spark.sql.files.maxPartitionBytes", "8KB")
        small_cap = spark.read.parquet(path).rdd.getNumPartitions()
        spark.conf.set("spark.sql.files.maxPartitionBytes", "512MB")
        big_cap = spark.read.parquet(path).rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", saved)
    assert small_cap > big_cap
    assert big_cap <= 4  # ~file count (+ slack for openCostInBytes packing)


def test_bloom_prefilter_plan_shape(spark):
    """The bucket prune must be a broadcast LEFT SEMI ahead of the fact
    shuffle, and the exact join must stay sort-merge (the modeled
    regime is the fact-fact one — see tools/bloom_ab.py for why the
    built-in runtime filter can't be relied on for it)."""
    import re

    df = _QS["join_bloom_prefilter"](spark, SF_TEST)
    plan = _plan(df)
    assert re.search(r"BroadcastHashJoin LeftSemi", plan), plan[:2000]
    assert "SortMergeJoin" in plan


def test_benford_prunes_and_pushes(spark):
    """The Benford screen needs exactly one column, filtered at the
    reader: anything more scans the whole orders table for a 9-row
    report."""
    plan = _plan(_QS["agg_benford_test"](spark, SF_TEST))
    assert "ReadSchema: struct<o_totalprice:double>" in plan
    assert "GreaterThan(o_totalprice,0.0)" in plan


def test_triangle_count_prunes_lineitem(spark):
    """The graph derives from (orderkey, suppkey) only — reading more
    would drag fact bytes into a dim-bounded census."""
    plan = _plan(_QS["graph_triangle_count"](spark, SF_TEST))
    assert "ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint>" in plan


def test_survival_pushes_purchase_filter(spark):
    """KM's death leg must reach the parquet reader filtered to
    purchases (it reads ~1/5 of the rows), and no leg may read the
    props/value payload columns."""
    plan = _plan(_QS["events_cohort_survival"](spark, SF_TEST))
    assert "EqualTo(event_type,purchase)" in plan
    assert "props" not in plan


def test_asof_nearest_single_sort(spark):
    """Both as-of directions must ride ONE (user_id)-shuffle and ONE
    (ts, kind, event_id) sort — a second Sort or Exchange means the
    forward leg is paying its own pass; and the events scan is filtered
    to the two types with props/value never read."""
    plan = _plan(_QS["join_asof_nearest"](spark, SF_TEST))
    assert plan.count("- Sort (") == 1, plan[:3000]
    assert plan.count("- Exchange (") == 1 and plan.count("- Window (") == 1
    assert "hashpartitioning(user_id" in plan
    assert "In(event_type, [click,purchase])" in plan
    assert "props" not in plan


def test_drawdown_prunes_orders(spark):
    """The fact pass needs (o_custkey, o_totalprice, o_orderdate) only;
    the windows below it run on the post-aggregate month grid."""
    plan = _plan(_QS["win_drawdown"](spark, SF_TEST))
    assert "ReadSchema: struct<o_custkey:bigint,o_orderdate:timestamp,o_totalprice:double>" in plan \
        or "ReadSchema: struct<o_custkey:bigint,o_totalprice:double,o_orderdate:timestamp>" in plan, plan[:2500]
    assert "BroadcastHashJoin" in plan


def test_bpe_pairs_topk_no_global_sort(spark):
    """Top-20 must plan as TakeOrderedAndProject (per-partition heaps),
    and the corpus pass reads only the text column."""
    plan = _plan(_QS["tokenizer_bpe_pairs"](spark, SF_TEST))
    assert "TakeOrderedAndProject" in plan
    assert "ReadSchema: struct<text:string>" in plan


def test_pmi_no_self_join_on_docs(spark):
    """Pairs are generated in-row: the plan must contain no join keyed
    on doc_id (the naive formulation self-joins the exploded word list),
    and the df/n sides must broadcast."""
    plan = _plan(_QS["text_pmi_cooccur"](spark, SF_TEST))
    assert "SortMergeJoin [doc_id" not in plan and "hashpartitioning(doc_id" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_backfill_plan_prunes_and_anti_joins(spark):
    """The backfill planner needs exactly one fact column, and the
    missing-date derivation must be a broadcast ANTI join of two
    calendar-bounded frames — a shuffle here would move the spine."""
    plan = _plan(_QS["etl_backfill_plan"](spark, SF_TEST))
    assert "ReadSchema: struct<o_orderdate:timestamp>" in plan
    assert "BroadcastHashJoin LeftAnti" in plan


def test_jaccard_prunes_lineitem_and_broadcasts_degrees(spark):
    """Same fact projection as the triangle census — (orderkey, suppkey)
    only; degree/edge-flag joins run broadcast on node-bounded frames."""
    plan = _plan(_QS["graph_jaccard_similarity"](spark, SF_TEST))
    assert "ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint>" in plan
    assert plan.count("BroadcastHashJoin") >= 3


_MM_DOC_ID_KERNELS = [
    "mm_audio_decode", "mm_audio_frame_energy", "mm_audio_gain_normalize",
    "mm_audio_resample", "mm_audio_silence_trim", "mm_audio_spectral_centroid",
    "mm_image_crop_center", "mm_image_decode", "mm_image_dedup",
    "mm_image_neardup", "mm_image_phash", "mm_image_png_decode",
    "mm_image_quality_stats", "mm_image_resize", "mm_video_fps_downsample",
    "mm_video_frame_dedup", "mm_video_frames", "mm_video_scene_cut",
]


@pytest.mark.parametrize("key", _MM_DOC_ID_KERNELS)
def test_mm_kernel_reads_only_doc_id(spark, key):
    """Every planted-media kernel derives its payload from doc_id alone:
    the scan reads doc_id only (text would be ~95% more bytes for
    nothing), and the rows reach the Python stage spread by one
    doc_id-hash exchange."""
    plan = _plan(_QS[key](spark, SF_TEST))
    scans = re.findall(r"ReadSchema: (\S+)", plan)
    assert scans and set(scans) == {"struct<doc_id:bigint>"}, scans
    assert "hashpartitioning(doc_id" in plan


def test_url_dedup_reads_only_doc_id_one_shuffle(spark):
    """URL synthesis + normalization are pure projections; the only
    exchange allowed is the canonical-key hash agg (+ AQE-chosen rep
    join distribution). The scan reads doc_id alone."""
    plan = _plan(_QS["dedup_url_canonical"](spark, SF_TEST))
    assert "ReadSchema: struct<doc_id:bigint>" in plan
    assert "CartesianProduct" not in plan


def test_dedup_spans_prunes_metadata_columns(spark):
    """Span dedup needs only (doc_id, text); lang/source/n_chars must
    not reach the scan."""
    plan = _plan(_QS["dedup_spans"](spark, SF_TEST))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_udtf_arrow_uses_arrow_node(spark):
    """The Arrow UDTF tier must plan as ArrowEvalPythonUDTF (not the
    pickled BatchEvalPythonUDTF) — the serialization tier IS the key's
    contract."""
    plan = _plan(_QS["udtf_arrow_chunks"](spark, SF_TEST))
    assert "ArrowEvalPythonUDTF" in plan


def test_chunk_overlap_no_shuffle(spark):
    """text_chunk_overlap is a pure in-row expansion: the plan must
    contain NO Exchange at all — chunking a 100 TB corpus should be an
    embarrassingly parallel projection, and any shuffle here is a bug."""
    plan = _plan(_QS["text_chunk_overlap"](spark, SF_TEST))
    assert "Exchange" not in plan, plan[:1500]


def test_fk_orphan_audit_no_cartesian_and_key_only_scan(spark):
    """Every FK edge joins key columns only: the lineitem scans must
    read just the key being audited (never attribute columns), and no
    leg may degenerate to a cartesian product."""
    plan = _plan(_QS["etl_fk_orphan_audit"](spark, SF_TEST))
    assert "CartesianProduct" not in plan
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan  # key-only scan


def test_cosine_histogram_broadcast_probe_scan(spark):
    """The declared exact tier: 10 broadcast probes x ONE corpus scan —
    a BroadcastNestedLoopJoin over the tiny probe side is the expected
    physical shape; a CartesianProduct (no broadcast) is not."""
    plan = _plan(_QS["sim_cosine_histogram"](spark, SF_TEST))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_assortativity_broadcasts_degree_table(spark):
    plan = _plan(_QS["graph_assortativity"](spark, SF_TEST))
    assert plan.count("BroadcastHashJoin") >= 2  # both degree join-backs
    assert "CartesianProduct" not in plan


def test_merge_hint_pins_sort_merge_join(spark):
    """join_merge_hint exists to pin the spill-safe fact-to-fact plan:
    the hint must survive to a SortMergeJoin with neither fact side
    broadcast."""
    plan = _plan(_QS["join_merge_hint"](spark, SF_TEST))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
