"""Physical-plan shape assertions — the 100 TB design contract.

Correctness says the operators compute the right answer; these tests pin the
plans that make them viable at scale: filters reach the parquet scan,
projections prune the read schema, small dims broadcast instead of
shuffling, aggregates have a map-side partial phase, and narrow transforms
stay exchange-free. A regression here is a performance bug even when every
value still matches the oracle.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from data_engineer_development_spark.medallion import quality_select
from data_engineer_development_spark.queries import all_queries
from data_engineer_development_spark.sources import load_table
from tests.conftest import SF_CORRECT


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushed_to_parquet_scan(spark):
    li = load_table(spark, SF_CORRECT, "lineitem")
    df = li.filter(F.col("l_shipdate") < "1998-09-01").select("l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or (
        "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    ), plan


def test_projection_prunes_read_schema(spark):
    li = load_table(spark, SF_CORRECT, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    plan = _plan(df)
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_comment" not in read and "l_extendedprice" not in read


def test_star_join_broadcasts_dims(spark):
    plan = _plan(all_queries()["join_star_broadcast"](spark, SF_CORRECT))
    assert "BroadcastHashJoin" in plan
    # the fact table must NOT be exchanged for the dim join
    assert "SortMergeJoin" not in plan


def test_aggregate_is_partial_then_final(spark):
    plan = _plan(all_queries()["pricing_summary"](spark, SF_CORRECT))
    # two HashAggregate phases around one exchange = map-side combine
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_quality_projection_is_narrow(spark):
    raw = load_table(spark, SF_CORRECT, "documents")  # any table works; use
    # the real fixture shape: build a tiny all-string frame
    rows = [tuple(str(i) for _ in range(46)) for i in range(3)]
    from data_engineer_development_spark.medallion import RAW_COLUMNS, RAW_SCHEMA

    df = spark.createDataFrame(rows, RAW_SCHEMA)
    plan = _plan(quality_select(df))
    assert "Exchange" not in plan, "cleansing projection must not shuffle"


def test_dim_build_has_partial_distinct(spark):
    plan = _plan(all_queries()["dim_decode"](spark, SF_CORRECT))
    # DISTINCT over a low-cardinality key: partial agg before the exchange
    # keeps shuffle bytes ~|domain| per task regardless of fact size
    assert plan.count("HashAggregate") >= 2


def test_semi_and_anti_join_stay_joins(spark):
    qs = all_queries()
    for name in ("semi_join_active_customers", "anti_join_dormant_customers"):
        plan = _plan(qs[name](spark, SF_CORRECT))
        assert "LeftSemi" in plan or "LeftAnti" in plan, name


def test_wholestage_codegen_covers_scan_agg(spark):
    df = all_queries()["pricing_summary"](spark, SF_CORRECT)
    # AQE's pre-execution formatted plan hides codegen stages; "codegen" mode
    # shows the generated units directly
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    assert "WholeStageCodegen" in plan


def test_simhash_pairs_never_cartesian(spark):
    plan = _plan(all_queries()["dedup_simhash_pairs"](spark, SF_CORRECT))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_jaccard_join_is_equijoin(spark):
    plan = _plan(all_queries()["dedup_jaccard"](spark, SF_CORRECT))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_returned_revenue_broadcasts_nation_and_pushes_filter(spark):
    plan = _plan(all_queries()["returned_item_revenue"](spark, SF_CORRECT))
    assert "BroadcastHashJoin" in plan
    # returnflag filter must reach the lineitem parquet scan
    seg = plan.split("PushedFilters")
    assert any("l_returnflag" in s[:200] for s in seg[1:]), plan


def test_contamination_and_clusters_never_cartesian(spark):
    qs = all_queries()
    for name in ("contamination_check", "dedup_clusters", "funnel_signup_purchase"):
        plan = _plan(qs[name](spark, SF_CORRECT))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_emb_quantize_is_exchange_free(spark):
    # pure projection: must not shuffle (the orderBy is the query-surface
    # sort; everything before it is narrow)
    df = all_queries()["emb_quantize"](spark, SF_CORRECT)
    import re

    plan = _plan(df)
    body = plan.split("Sort")[0]  # up to the final presentation sort
    assert "Exchange hashpartitioning" not in body


def test_scd2_merge_is_single_key_join(spark):
    plan = _plan(all_queries()["scd2_customer_merge"](spark, SF_CORRECT))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_volume_shipping_broadcasts_nations_pushes_dates(spark):
    plan = _plan(all_queries()["volume_shipping"](spark, SF_CORRECT))
    # both nation sides broadcast; the ship-date range reaches the scan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    seg = plan.split("PushedFilters")
    assert any("l_shipdate" in s[:300] for s in seg[1:]), plan


def test_promo_and_disjunctive_broadcast_part(spark):
    qs = all_queries()
    for name in ("promo_revenue", "disjunctive_revenue"):
        plan = _plan(qs[name](spark, SF_CORRECT))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "HashAggregate" in plan, name


def test_training_mix_plans(spark):
    qs = all_queries()
    # domain_mix / zorder_layout: scan -> filter/project -> one partial+final
    # agg; no joins at all
    for name in ("domain_mix", "zorder_layout"):
        plan = _plan(qs[name](spark, SF_CORRECT))
        assert "Join" not in plan, name
        assert plan.count("HashAggregate") >= 2, name  # partial + final
    # pack_sequences: exactly one hash exchange (the shard window); the
    # report agg reuses the shard partitioning upstream of the window
    plan = _plan(qs["pack_sequences"](spark, SF_CORRECT))
    assert "Join" not in plan
    assert "Window" in plan


def test_small_qty_revenue_plan_shape(spark):
    # Q17 shape: brand restriction + per-part stats both arrive by
    # BroadcastHashJoin; the correlated 0.2×avg never becomes a cartesian
    # or a per-row subquery
    plan = _plan(all_queries()["small_qty_revenue"](spark, SF_CORRECT))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # brand filter reaches the part scan
    assert "PushedFilters" in plan and "p_brand" in plan


def test_waiting_suppliers_plan_shape(spark):
    # Q21 shape: EXISTS/NOT EXISTS run as semi/anti joins; the supplier ⋈
    # nation side broadcasts; no cartesian anywhere
    plan = _plan(all_queries()["waiting_suppliers"](spark, SF_CORRECT))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    low = plan.lower()
    assert "leftsemi" in low or "left semi" in low
    assert "leftanti" in low or "left anti" in low


def test_tfidf_plan_shape(spark):
    # posting-list TF-IDF: the corpus-size scalar arrives by broadcast (the
    # crossJoin is 1-row), term stats meet tf by equi-join — no cartesian
    # against anything bigger than the one-row count
    plan = _plan(all_queries()["tfidf_top_terms"](spark, SF_CORRECT))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row n_docs broadcast
    assert plan.count("HashAggregate") >= 4  # tf + df partial/final pairs


def test_chunk_documents_is_shuffle_free_before_sort(spark):
    # chunking is projection + explode: the ONLY exchange in the plan is the
    # final presentation orderBy, so the operator itself runs at scan speed
    from data_engineer_development_spark.queries.training_mix import (
        _CHUNK_STRIDE,
        _CHUNK_W,
    )

    docs = load_table(spark, SF_CORRECT, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, (greatest(size(t) - {_CHUNK_W}, 0) "
                f"+ {_CHUNK_STRIDE} - 1) div {_CHUNK_STRIDE}), "
                f"i -> slice(t, i * {_CHUNK_STRIDE} + 1, {_CHUNK_W}))"
            )
        ).alias("chunk"),
    )
    plan = _plan(chunks)
    assert "Exchange" not in plan, plan


def test_length_trim_broadcasts_kept_lengths(spark):
    """text_length_trim must trim via histogram + broadcast semi-shape, not
    a global row window: the only Window ops run over the (tiny) length
    histogram and the corpus join is a BroadcastHashJoin on n_chars."""
    from data_engineer_development_spark.queries import all_queries

    df = all_queries()["text_length_trim"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    # no SortMergeJoin of the full corpus against itself
    assert "SortMergeJoin" not in plan, plan


def test_familiarity_is_posting_equijoin(spark):
    from data_engineer_development_spark.queries import all_queries

    df = all_queries()["text_familiarity"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_incremental_dedup_is_bipartite_equijoin(spark):
    """dedup_incremental must dedup the batch against the corpus via
    hash/posting equi-joins — no cartesian/nested-loop shapes."""
    from data_engineer_development_spark.queries import all_queries

    df = all_queries()["dedup_incremental"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_substring_dedup_is_single_hash_agg(spark):
    """Passage dedup must be explode → distinct → hash agg: equi-shapes
    only, with a map-side partial phase ahead of each shuffle."""
    df = all_queries()["substring_dedup"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial+final


def test_phrase_search_broadcasts_top1(spark):
    """The data-derived phrase is a 1-row build side: the postings⋈phrase
    join must be a broadcast hash join, never a shuffle of the gram stream
    against a 1-row table (or worse, a cartesian)."""
    df = all_queries()["phrase_search"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_heavy_hitters_is_takeordered(spark):
    """Top-k must reduce via TakeOrderedAndProject (per-partition top-25,
    25-row driver merge) — not a global Sort of the vocabulary."""
    df = all_queries()["heavy_hitters"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_skew_profile_and_anomaly_shapes(spark):
    """skew_profile: two hash aggs, no join at all. event_anomaly: the
    per-type stats side is tiny and must broadcast."""
    plan = _plan(all_queries()["skew_profile"](spark, SF_CORRECT))
    assert plan.count("HashAggregate") >= 4, plan  # two partial/final pairs
    assert "Join" not in plan, plan

    plan = _plan(all_queries()["event_anomaly"](spark, SF_CORRECT))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_compaction_plan_windows_per_partition(spark):
    """The next-fit cumsum must window PARTITION BY source (parallel across
    partitions) — a global single-partition window would serialize the file
    listing through one task."""
    df = all_queries()["compaction_plan"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "Window" in plan, plan
    # partitioned window → hashpartitioning exchange on source, never a
    # SinglePartition exchange feeding the Window
    import re

    win_exch = re.findall(r"Exchange SinglePartition[^\n]*", plan)
    assert not win_exch, plan


def test_snapshot_diff_joins_hashed_payloads(spark):
    """The CDC diff must full-outer join on the key carrying only 32-char
    payload hashes — the plan's join keys are the order key and the
    projected columns are the md5s, never the wide payload columns."""
    df = all_queries()["snapshot_diff"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "FullOuter" in plan or "full_outer" in plan.lower(), plan


def test_fk_integrity_broadcasts_dim_parents(spark):
    """nation/customer parents are small: the audit edges against them must
    broadcast; only fact->fact edges may shuffle."""
    df = all_queries()["fk_integrity"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pagerank_round_is_equijoin(spark):
    """Each PageRank round must be an edges⋈ranks equi-join + hash agg —
    no cartesian/nested-loop anywhere in the unrolled 3-round plan."""
    df = all_queries()["supplier_pagerank"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan  # top-20, not a global sort


def test_market_share_broadcasts_dims_and_prunes_part(spark):
    """Q8: part (filtered on p_type), region→nation chain and supplier
    nation must broadcast; no cartesian anywhere; the p_type filter reaches
    the part scan."""
    df = all_queries()["market_share"](spark, SF_CORRECT)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan
    assert any(
        "p_type" in seg[:400] for seg in plan.split("PushedFilters")[1:]
    ), plan


def test_sales_opportunity_shape(spark):
    """Q22: the (N, S) stats pair is a 1-row broadcast (nested-loop against
    one row is fine); the never-ordered test is a real anti join."""
    df = all_queries()["sales_opportunity"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "LeftAnti" in plan, plan


def test_priority_order_check_is_semi_join(spark):
    """Q4: EXISTS must decorrelate to a semi join, and the date window must
    reach the orders scan."""
    df = all_queries()["priority_order_check"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_gapfill_grid_is_dimension_cross(spark):
    """The day×type grid may cross-join (both sides metadata-scale), but the
    fact join onto the grid must be an equi-join, and the spine derives from
    a 1-row bounds broadcast."""
    df = all_queries()["gapfill_daily"](spark, SF_CORRECT)
    plan = _plan(df)
    # the only nested-loop is the tiny dimension grid; fact join is hash
    assert "SortMergeJoin" not in plan or "LeftOuter" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_range_plan_windows_tiny_histogram(spark):
    """The cumulative window must run over the binned histogram (bounded
    domain), after a partial+final hash agg — the same
    histogram-not-rows discipline as text_length_trim."""
    df = all_queries()["range_partition_plan"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "Window" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_lateral_topk_decorrelates(spark):
    """The LATERAL correlated LIMIT must decorrelate to a join + per-group
    rank — never a per-row nested loop over orders."""
    df = all_queries()["lateral_topk_orders"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "c_custkey" in plan.split("PushedFilters")[1][:200], plan


def test_recursive_reachability_runs_bounded(spark):
    """The hop guard keeps the UnionLoop at exactly 3 rounds; the plan must
    stay free of cartesian shapes."""
    df = all_queries()["recursive_reachability"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    rows = {r["hop"]: r["n_nodes"] for r in df.collect()}
    assert rows[0] == 1 and rows[1] >= 1 and rows[2] >= rows[1], rows


def test_er_pairs_block_equijoin(spark):
    """ER blocking must plan as an equi-join on the block key — the
    levenshtein filter runs post-join, never as a cartesian condition."""
    df = all_queries()["er_candidate_pairs"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_temporal_dim_join_broadcasts_versions(spark):
    """The 2-version dim must broadcast; the as-of range rides the hash
    join as its non-equi condition."""
    df = all_queries()["temporal_dim_join"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_frame_sample_is_mapinpandas_chain(spark):
    """The frame pipeline (synth → sample → features) must stay a narrow
    executor-side chain: no shuffle except the final presentation sort."""
    df = all_queries()["multimodal_frame_sample"](spark, SF_CORRECT)
    plan = _plan(df)
    body = plan.split("Sort")[0]
    assert "Exchange hashpartitioning" not in body, plan


#: entries whose plan INTENTIONALLY contains a cartesian/nested-loop join:
#: brute-force similarity baselines (the exact path approximate indexes are
#: graded against), 1-row broadcast builds (corpus counts, top-1 phrase,
#: day-grid bounds, IVF centroid fan-out), and the grid cross of gapfill.
_CARTESIAN_OK = {
    "sim_cosine_topk",      # brute-force baseline by definition
    "sim_neardup",          # block-nested-loop kernel (broadcast ceiling)
    "ann_recall_eval",      # contains the brute-force truth side
    "sim_ivf_topk",         # centroid broadcast fan-out (K rows; the
                            # r16 folded entry runs both probe dials)
    "hard_negative_mining",  # same K-row centroid broadcast fan-out
    "emb_jl_distortion",    # id-capped ≤500-row sample self-cross (the
                            # distortion eval is bounded by construction)
    "gapfill_daily",        # day-grid × type dimension cross (metadata-scale)
    "tfidf_top_terms",      # 1-row corpus-count broadcast
    "sales_opportunity",    # 1-row above-average-balance stats broadcast
    "dpp_partition_join",   # 2-row priority list cross on the dim build side
    "vocab_coverage",       # top-V vocab broadcast fan-out
    "quality_model_score",  # 1-row model-weights broadcast (inference.py)
    "quality_stratified_sample",  # same 1-row weights broadcast + filter
    "split_leakage_audit",  # 1-row cluster-stats × 1-row pair-stats cross
    "bm25_topk",            # 1-row corpus-stats (N, T) broadcast
    "retrieval_mrr_eval",   # contains the brute-force truth side
    "join_size_estimate",   # bounded 4×512-cell CMS grid cross (sketch ⋈
                            # sketch is constant-size by construction)
    "quantile_sketch_eval",  # 1-row stats / ≤4-row target broadcasts
    "analyze_table_stats",   # 1-row stats × 1-row NDV/k-min crosses per
                             # column branch
    "triangle_count",        # 1-row n_nodes × n_edges × n_triangles stat
                             # cross at the top of count_triangles —
                             # never data-scale (registered r16)
    "assoc_rules",           # 1-row n_baskets total broadcast onto the
                             # bounded rule list (registered r16)
    "grouped_quantiles",     # ≤|groups×probs|-row target grid cross on
                             # control-plane frames (registered r16)
    "approx_group_percentiles",  # |groups|×|probs| prob-grid cross on the
                                 # 1-row-per-group stats frame (registered
                                 # r17; see the staging note in
                                 # queries/sketch_ops.py)
}


#: entries whose plan INTENTIONALLY contains an UNPARTITIONED window —
#: every one runs over a bounded control-plane input (a histogram, a
#: per-partition count table, a top-K list), never the raw fact table.
#: An unpartitioned Window over a table-sized input is the classic 100 TB
#: scale-killer (the whole input collapses into one task's sort), so any
#: entry NOT listed here must keep every window partitioned.
_UNPARTITIONED_WINDOW_OK = {
    "range_partition_plan",  # cum/total over the ≤1000-bin price histogram
    "ntile_deciles",         # offset cumsum over the 32-row per-pid counts
    "incremental_agg",       # cumulative over per-day partials (bounded days)
    "dictionary_encode",     # with_global_rank's 32-row offsets cumsum
    "forecast_revenue",      # regression over the bounded month series
    "gapfill_daily",         # day-grid scaffold (bounded calendar)
    "moving_7d_orders",      # 7-day RANGE window over per-DAY aggregates
    "text_length_trim",      # cum mass over the length histogram (bounded)
    "mix_temperature",       # normalizing sum over per-SOURCE weights
    "pack_sequences_global",  # with_global_cumsum's 32-row offsets cumsum
    "tokenizer_vocab_curve",  # with_global_rank's 32-row offsets cumsum
    "token_budget_mix",       # with_grouped_cumsum's 32-row offsets cumsum
    "length_bucket_batches",  # with_grouped_cumsum's 32-row offsets cumsum
    "domain_cap",             # with_grouped_cumsum's 32-row offsets cumsum
    "quantile_sketch_eval",   # ≤4096-bin histogram crossing + the exact
                              # selector's prefix-sum 32-row offsets
}


_WSPEC_OPEN = "windowspecdefinition("


def _first_top_level_arg(s: str) -> str:
    """Return the FULL first top-level argument of an argument list that
    starts at ``s`` (just past the opening paren) — a balanced-paren scan,
    so a leading expression like ``coalesce(x, 0) ASC NULLS FIRST`` comes
    back whole instead of truncated at its inner comma (the round-7 false
    negative: the truncated text lost its ASC marker and an unpartitioned
    window escaped the sweep)."""
    depth = 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                return s[:i]
            depth -= 1
        elif ch == "," and depth == 0:
            return s[:i]
    return s


def _unpartitioned_windows(plan: str) -> bool:
    """True if any windowspecdefinition in the plan has no partition spec.

    The spec prints ``windowspecdefinition(part..., order ASC ..., frame)``;
    with no partitioning the FIRST element is either an ordering expression
    (carries a top-level ``ASC``/``DESC``) or the frame itself.
    """
    start = 0
    while True:
        i = plan.find(_WSPEC_OPEN, start)
        if i < 0:
            return False
        first = _first_top_level_arg(plan[i + len(_WSPEC_OPEN):])
        if (" ASC" in first or " DESC" in first
                or first.startswith("specifiedwindowframe")):
            return True
        start = i + len(_WSPEC_OPEN)


def test_unpartitioned_window_detector_sees_function_call_orderings():
    """Pin the round-7 false negative: an unpartitioned window whose first
    ORDER BY expression is a function call (inner commas) must still be
    flagged — the old regex truncated at the first ',' and lost the ASC
    marker. Partitioned specs, including ones whose partition expression
    contains a function call, must NOT be flagged."""
    unpart_fn = "Window [x windowspecdefinition(coalesce(y#3, 0) ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))]"
    unpart_plain = "windowspecdefinition(y#3 ASC NULLS FIRST, specifiedwindowframe(RangeFrame, unboundedpreceding$(), currentrow$()))"
    unpart_frame_only = "windowspecdefinition(specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))"
    part_fn = "windowspecdefinition(coalesce(k#1, 0), y#3 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))"
    part_plain = "windowspecdefinition(k#1, y#3 DESC NULLS LAST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))"
    assert _unpartitioned_windows(unpart_fn)
    assert _unpartitioned_windows(unpart_plain)
    assert _unpartitioned_windows(unpart_frame_only)
    assert not _unpartitioned_windows(part_fn)
    assert not _unpartitioned_windows(part_plain)
    assert _unpartitioned_windows(part_plain + "\n" + unpart_fn)


#: entries whose plan INTENTIONALLY runs an Arrow-vectorized Python kernel
#: — the engine's ONLY Python execution (media codecs over opaque binary;
#: the sequential-fold cosine whose IEEE order must match the oracle).
#: Everything else must stay JVM-side; row-at-a-time Python
#: (BatchEvalPython) is banned everywhere, whitelist or not.
_ARROW_KERNEL_OK = {
    "multimodal_features", "multimodal_resize", "multimodal_metadata",
    "multimodal_frame_sample", "multimodal_audio_features",
    "multimodal_image_ahash",                       # mapInPandas codecs
    "sim_cosine_topk", "sim_ivf_topk",                     # seq_dot UDF
    "ann_recall_eval",                                     # seq_dot UDF
    "hard_negative_mining",                                # seq_dot UDF
    "sim_neardup",                                  # block-NL mapInPandas
    "semantic_dedup",  # per-cell pair matrix in numpy (applyInPandas) —
                       # pairs never materialize as rows (int64-exact)
    "semdedup_recall_eval",  # + block-NL quantized truth set (mapInPandas)
    "semdedup_incremental",  # per-cell |base|·|new| kernel (applyInPandas)
    "gate_recall_eval",  # block-NL quantized truth set (mapInPandas)
    "semdedup_sharded",  # broadcast-numpy assignment (mapInPandas) +
                         # per-(shard, cell) pair matrix (applyInPandas)
    "pack_sequences_global",  # with_global_cumsum's NARROW local-cumsum
                              # pass (mapInPandas over the sorted range
                              # partitions — the shape that REPLACES a
                              # second full-input hash exchange)
    "token_budget_mix",       # with_grouped_cumsum's same narrow pass
    "length_bucket_batches",  # with_grouped_cumsum's same narrow pass
    "domain_cap",             # with_grouped_cumsum's same narrow pass
    "retrieval_mrr_eval",     # seq_dot UDF (brute-force truth side)
    "image_ahash_neardup",    # mapInPandas codec (real P6 decode→aHash)
    "dedup_modality_overlap",  # block-NL quantized truth set (mapInPandas)
    "quantile_sketch_eval",    # with_global_cumsum's narrow local pass
}

_PY_EVAL = re.compile(
    r"BatchEvalPython|ArrowEvalPython|MapInPandas|PythonMapInArrow"
    r"|FlatMapGroupsInPandas\w*"
)

#: InferFiltersFromGenerate hazard (BASELINE.md round-13 note): a Filter
#: node applying size() to an INLINED higher-order expression — not a
#: materialized attribute — means CollapseProject substituted the array
#: construction (and anything below it, e.g. split(text)) into the
#: inferred non-empty guard, where it re-evaluates per row on the
#: INTERPRETED path (lambda bodies are excluded from subexpression
#: elimination; measured 10× on the sf0.1 shingle explode). Filters over
#: a bare attribute (``size(sh#123)``) are fine and not matched.
#: any lambda-bearing higher-order head (ADVICE r13: an inlined
#: filter()/aggregate()/flatten()/zip_with() feeding the inferred size()
#: guard is the same interpreted-per-row hazard as transform())
_HOF_SIZE = re.compile(
    r"size\((?:if|transform|array_distinct|filter|aggregate|flatten"
    r"|zip_with|array_compact|slice)\s*\("
)


def _inlined_size_filter(plan: str) -> bool:
    """True if any Filter (node or scan-level DataFilters) applies size()
    to an inlined higher-order expression ANYWHERE in its condition — not
    just as the leading conjunct: CombineFilters merges a user predicate
    in front of the inferred guard ("Filter (isnotnull(x) AND (size(if(
    ..."), which an anchored regex missed (review r13 finding)."""
    for line in plan.splitlines():
        if "Filter" in line and _HOF_SIZE.search(line):
            return True
    return False


def test_no_unplanned_cartesians_windows_or_python_anywhere(spark):
    """Sweep EVERY registry query's plan for the four silent scale-killers:
    cartesian / broadcast-nested-loop joins (executed plan), unpartitioned
    windows (optimized plan), interpreted size()-filters over inlined
    higher-order expressions (the InferFiltersFromGenerate hazard,
    BASELINE.md r13), and Python execution nodes outside the
    sanctioned Arrow-vectorized kernels — with row-at-a-time
    BatchEvalPython banned unconditionally. Any new entry that loses its
    equi-join condition, globally sorts the fact table, or sneaks a Python
    UDF into the hot path fails here by name instead of becoming a 100 TB
    incident; intentional shapes are whitelisted above with reasons."""
    bad = []
    for name, fn in all_queries().items():
        try:
            qe = fn(spark, SF_CORRECT)._jdf.queryExecution()
            physical = qe.executedPlan().toString()
            optimized = qe.optimizedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — parity tests own failures
            bad.append(f"{name}: plan build failed: {exc}")
            continue
        if name not in _CARTESIAN_OK and (
            "CartesianProduct" in physical
            or "BroadcastNestedLoopJoin" in physical
        ):
            bad.append(f"{name}: cartesian/nested-loop")
        if name not in _UNPARTITIONED_WINDOW_OK and _unpartitioned_windows(
            optimized
        ):
            bad.append(f"{name}: unpartitioned window")
        if _inlined_size_filter(physical):
            bad.append(f"{name}: interpreted size()-filter over an "
                       f"inlined higher-order expression")
        if "BatchEvalPython" in physical:
            bad.append(f"{name}: row-at-a-time Python UDF")
        elif name not in _ARROW_KERNEL_OK and (
            m := _PY_EVAL.search(physical)
        ):
            bad.append(f"{name}: unsanctioned Python node {m.group(0)}")
    assert not bad, f"scale-killer plan shapes in: {bad}"


def test_inlined_size_filter_detector_fires_on_the_hazard_shape(spark):
    """Positive control for _INLINED_SIZE_FILTER: rebuild the exact shape
    the round-13 ngram_novelty regression shipped with — explode of a
    PROJECTED-ALIAS shingle array with no persist boundary — and assert
    the detector flags its plan, while the fixed shape (expression inlined
    into the explode) stays clean."""
    from data_engineer_development_spark.operators.text import shingles_expr

    docs = load_table(spark, SF_CORRECT, "documents")
    slow = (
        docs.select(F.split(F.col("text"), " ").alias("t"))
        .select(shingles_expr("t", k=5).alias("sh"))
        .select(F.explode("sh").alias("sg"))
    )
    fast = docs.select(F.split(F.col("text"), " ").alias("t")).select(
        F.explode(shingles_expr("t", k=5)).alias("sg")
    )
    # merged-conjunct variant: a user predicate below the explode makes
    # CombineFilters print the inferred guard as a NON-leading conjunct
    merged = (
        docs.filter(F.length("text") > 0)
        .select(F.split(F.col("text"), " ").alias("t"))
        .select(shingles_expr("t", k=5).alias("sh"))
        .select(F.explode("sh").alias("sg"))
    )
    slow_plan = slow._jdf.queryExecution().executedPlan().toString()
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    merged_plan = merged._jdf.queryExecution().executedPlan().toString()
    assert _inlined_size_filter(slow_plan), slow_plan[:2000]
    assert _inlined_size_filter(merged_plan), merged_plan[:2000]
    assert not _inlined_size_filter(fast_plan), fast_plan[:2000]
