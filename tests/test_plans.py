"""Physical-plan regression tests: the scale properties the engine
promises (pushdown, broadcast dims, no stray shuffles/cross joins)
are asserted so a refactor can't silently lose them."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry
from tools.dump_plans import formatted_plan

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return entry.queries()


def plan_of(spark, registry, name: str) -> str:
    return formatted_plan(registry[name](spark, SF))


def staged_plans(spark, monkeypatch, module) -> list[str]:
    """Formatted plans of the frames ``module`` hands to ``stage`` from
    here on: work a query stages runs at staging time, so it shows up
    here rather than in the query's own plan."""
    plans: list[str] = []
    real = module.stage

    def spy(df, name):
        plans.append(formatted_plan(df))
        return real(df, name)

    monkeypatch.setattr(module, "stage", spy)
    return plans


def test_filter_pushdown_reaches_scan(spark, registry):
    plan = plan_of(spark, registry, "p_filter_project")
    assert "PushedFilters: [" in plan
    # the equality filter must be pushed, not just IsNotNull
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)", plan), plan


def test_column_pruning_reaches_scan(spark, registry):
    plan = plan_of(spark, registry, "tpch_q1")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = m.group(1).split(",")
    assert len(read_cols) <= 6, read_cols  # 6 of 11 lineitem columns


def test_dim_chain_joins_all_broadcast(spark, registry):
    plan = plan_of(spark, registry, "j_dim_chain")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_tpch_q5_broadcasts_every_dim(spark, registry):
    plan = plan_of(spark, registry, "tpch_q5")
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q1_partial_aggregation(spark, registry):
    plan = plan_of(spark, registry, "tpch_q1")
    # two-phase agg: partial (before exchange) + final
    assert plan.count("HashAggregate") >= 2


def test_flagship_has_no_cross_join(spark, registry):
    plan = plan_of(spark, registry, "search_index_full")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_incremental_watermark_pushdown(spark, registry):
    plan = plan_of(spark, registry, "search_index_incremental")
    # the watermark predicate must reach the orders scan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(o_orderdate", plan), plan


def test_q6_all_predicates_pushed(spark, registry):
    plan = plan_of(spark, registry, "tpch_q6")
    for frag in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_quantity"):
        assert frag in plan, plan


def test_scalable_rank_has_no_full_table_single_partition_exchange(
    spark, registry, monkeypatch
):
    """w_row_number_seq_scalable: the big-table window must run over
    range partitions (parallel; the range partition is staged, so its
    exchange runs at staging time); the only SinglePartition exchange
    allowed is the one feeding the tiny per-partition-counts window
    (O(partitions) rows, after a HashAggregate)."""
    from delta_data_pipelines_spark.operators import ranking

    staged = staged_plans(spark, monkeypatch, ranking)
    plan = plan_of(spark, registry, "w_row_number_seq_scalable")
    assert any("rangepartitioning" in p.lower() for p in staged), staged
    # the full-table window is partitioned by _pid, not global: the
    # windowspecdefinition's FIRST argument must be the partition key
    # (a global window would read `windowspecdefinition(doc_id ... )`
    # with no partition column and this regex would not match)
    assert re.search(
        r"row_number\(\) windowspecdefinition\(_pid#\d+,", plan
    ), plan
    # at most one SinglePartition exchange (the ≤32-row offsets side)
    assert plan.count("SinglePartition") <= 1, plan


def test_global_shuffle_rank_is_range_partitioned(spark, registry):
    """td_global_shuffle: the epoch-shuffle rank must use the same
    range-partitioned offset pattern as the other scalable ranks —
    full-table window partitioned by _pid, at most the one ≤32-row
    offsets window on a single partition."""
    plan = plan_of(spark, registry, "td_global_shuffle")
    assert "rangepartitioning" in plan.lower(), plan
    assert re.search(
        r"row_number\(\) windowspecdefinition\(_pid#\d+,", plan
    ), plan
    assert plan.count("SinglePartition") <= 1, plan


def test_pq_adc_scan_never_cartesian(spark, registry):
    """sim_pq_adc_topk: the ADC scan joins codes to the lookup table
    on (sub_id, code) equi-keys and the codebook is broadcast — a
    cartesian anywhere means the lut join degenerated."""
    plan = plan_of(spark, registry, "sim_pq_adc_topk")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_batch_ids_global_parallel_plan(spark, registry, monkeypatch):
    from delta_data_pipelines_spark.operators import ranking

    staged = staged_plans(spark, monkeypatch, ranking)
    plan = plan_of(spark, registry, "w_batch_ids_global")
    assert any("rangepartitioning" in p.lower() for p in staged), staged
    # two tiny unpartitioned windows allowed: partition offsets (≤32
    # rows) and total_batches over the per-batch aggregate
    assert plan.count("SinglePartition") <= 2, plan


def test_flagship_pivot_is_semi_join_pruned(spark, registry):
    """The EAV pivot arm must aggregate only keys surviving the fact
    filter — a LeftSemi join below the pivot's HashAggregate."""
    plan = plan_of(spark, registry, "search_index_full")
    assert "LeftSemi" in plan, plan


def test_fetch_by_id_single_plan(spark, registry):
    """Point lookup is ONE plan — "first qualifying row" compiles to
    TakeOrderedAndProject (sort+limit fused, no full sort), with no
    pre-resolved literal id from a separate driver-side execution."""
    plan = plan_of(spark, registry, "search_index_fetch_by_id")
    assert "TakeOrderedAndProject" in plan, plan
    df = registry["search_index_fetch_by_id"](spark, SF)
    assert df.count() == 1


def test_partitioned_layout_prunes_directories(spark, tmp_path):
    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.storage.partitioned import (
        read_day_range,
        write_partitioned_by_day,
    )

    e = read_table(spark, SF, "events").select("event_id", "ts", "value")
    path = str(tmp_path / "events_by_day")
    write_partitioned_by_day(e, path, "ts")

    pruned = read_day_range(spark, path, "2024-01-02", "2024-01-03")
    plan = str(pruned._jdf.queryExecution().executedPlan().toString())
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "p_date" in m.group(1), plan

    # pruning must not change results vs a full-scan filter
    from pyspark.sql import functions as F

    expect = e.where(F.to_date("ts").between("2024-01-02", "2024-01-03")).count()
    assert pruned.count() == expect
    assert expect > 0


def test_q21_semi_anti_never_cartesian(spark, registry):
    """The EXISTS/NOT EXISTS pair is decided on per-order min/max
    aggregates (the r15 rewrite): key-only SEMI joins against
    one-row-per-order frames, the late lineitem×orders join staged
    once (ExistingRDD). A correlated or cross-join fallback — or a
    return of the old fact-fact anti self-join carrying full rows —
    would be fatal at fact×fact scale."""
    plan = plan_of(spark, registry, "tpch_q21")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" not in plan, plan
    # the staged late frame: exactly one lineitem×orders evaluation
    assert "Scan ExistingRDD" in plan, plan
    # both agg sides partial-aggregate before their exchange
    assert "partial_min" in plan and "partial_max" in plan, plan


def test_q17_threshold_stays_decimal(spark, registry):
    """The multiplied-through avg-quantity threshold must run in
    decimal arithmetic — a Cast to double inside the filter would
    reintroduce the float-boundary divergence."""
    plan = plan_of(spark, registry, "tpch_q17")
    # Catalyst fuses the threshold into the join condition
    m = re.search(r"Join condition: [^\n]*_qty[^\n]*", plan)
    assert m, plan
    assert "as double" not in m.group(0), m.group(0)


def test_q11_scalar_total_is_broadcast(spark, registry):
    """The HAVING-fraction total is a 1-row broadcast (BNLJ with a
    singleton build side), never a shuffle or a driver collect."""
    plan = plan_of(spark, registry, "tpch_q11")
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in plan


def test_repetition_profile_is_single_pass(spark, registry):
    """txt_repetition is a pure per-row projection: no shuffle, no
    join, no explode — the whole profile must be scan → project."""
    plan = plan_of(spark, registry, "txt_repetition")
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan  # no explode
    assert "Join" not in plan


@pytest.mark.parametrize("q", ["tpch_q2", "tpch_q17", "tpch_q20"])
def test_sf_proportional_sides_not_force_broadcast(spark, registry, q):
    """q2's per-partkey mins, q17's per-part stats and q20's qualifying
    suppliers all scale with the fact table: a forced broadcast hint
    would OOM at 100x instead of degrading to a shuffle join. The hint
    is gone — AQE owns the strategy (broadcasting at runtime only while
    the side actually fits) — and the equi-joins never degenerate into
    cross products."""
    plan = plan_of(spark, registry, q)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # AQE present to do the runtime promotion the hint used to force
    assert "AdaptiveSparkPlan" in plan, plan


def test_tfidf_construction_is_lazy(spark, registry):
    """Regression: txt_tfidf_top_term used to run a driver-side
    d.count() while BUILDING the plan — an extra full corpus scan per
    invocation. n_docs is now a 1-row aggregate cross-joined into the
    plan, so constructing the DataFrame must launch no more jobs than a
    bare read_table (parquet schema inference is the only one)."""
    from delta_data_pipelines_spark.catalog import read_table

    sc = spark.sparkContext
    try:
        sc.setJobGroup("tfidf-base", "schema-inference baseline")
        read_table(spark, SF, "documents")
        base = len(sc.statusTracker().getJobIdsForGroup("tfidf-base"))
        sc.setJobGroup("tfidf-construct", "plan construction only")
        df = registry["txt_tfidf_top_term"](spark, SF)
        jobs = len(sc.statusTracker().getJobIdsForGroup("tfidf-construct"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs <= base, (jobs, base)  # no count job, only schema read
    assert df.columns == ["doc_id", "token", "tf", "doc_freq", "tfidf"]


def test_pack_sequences_parallel_cumsum_plan(spark, registry, monkeypatch):
    """td_pack_sequences: the full-table running offset must cumsum
    inside range partitions (windowspecdefinition partitioned on _pid;
    the range partition is staged, so its exchange runs at staging
    time), with the only SinglePartition exchange feeding the ≤32-row
    per-partition-totals window — same contract as the scalable rank."""
    from delta_data_pipelines_spark.operators import ranking

    staged = staged_plans(spark, monkeypatch, ranking)
    plan = plan_of(spark, registry, "td_pack_sequences")
    assert any("rangepartitioning" in p.lower() for p in staged), staged
    assert re.search(r"windowspecdefinition\(_pid#\d+, doc_id#\d+", plan), plan
    assert plan.count("SinglePartition") <= 1, plan


def test_funnel_single_shuffle_no_joins(spark, registry):
    """t_funnel_stages: the three stage frontiers are chained windows
    over ONE user_id hash partitioning (a join-per-stage funnel
    shuffles 3x); the only other exchange is the output sort."""
    plan = plan_of(spark, registry, "t_funnel_stages")
    assert "Join" not in plan, plan
    hash_ex = len(re.findall(r"Arguments: hashpartitioning\(user_id#\d+", plan))
    assert hash_ex == 1, plan
    assert plan.count("Window") >= 3, plan


def test_containment_joins_are_equi_never_cross(spark, monkeypatch):
    """containment_pairs: the prefix-probe ⋈ inverted-index join and
    the verify joins are all equi-joins — a cross-product fallback
    would be all-pairs, the exact thing the prefix filter exists to
    avoid. Asserted on the lazy plan handed to ``stage`` (the eager
    result collapses to a checkpoint scan with no joins left to
    inspect)."""
    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.operators import dedup

    handed = []

    def capture(df, name):
        handed.append(df)
        return df

    monkeypatch.setattr(dedup, "stage", capture)
    d = read_table(spark, SF, "documents")
    dedup.containment_pairs(d, "doc_id", "text", 0.5)
    plan = formatted_plan(handed[-1])  # the result plan, staged last
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_unigram_logprob_one_broadcast_total_no_cartesian(spark, registry):
    """txt_unigram_logprob: the corpus-total enters as ONE broadcast of
    a 1-row aggregate (the tpch_q15 pattern); the token-frequency join
    stays an equi-join."""
    plan = plan_of(spark, registry, "txt_unigram_logprob")
    assert "CartesianProduct" not in plan, plan
    # formatted mode prints each node twice (tree + detail): one BNLJ
    # node — the broadcast 1-row total — appears as two lines
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan


def test_stream_interval_join_batch_twin_is_equi_join(spark, registry):
    """st_interval_join: key equality must survive as the join key
    (hash/broadcast equi-join) with the interval as a post-join filter
    — never a pure range cross product."""
    plan = plan_of(spark, registry, "st_interval_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_interleave_range_partitioned_ranks_no_cartesian(
    spark, registry, monkeypatch
):
    """ds_interleave: both rank passes must be range-partitioned (the
    per-source rank and the global position) — a per-source or global
    single-task window would serialize the schedule build."""
    from delta_data_pipelines_spark.operators import ranking

    staged = staged_plans(spark, monkeypatch, ranking)
    plan = plan_of(spark, registry, "ds_interleave")
    assert sum("rangepartitioning" in p.lower() for p in staged) >= 2, staged
    assert "CartesianProduct" not in plan, plan
    # the only SinglePartition windows allowed are the tiny
    # per-partition-counts offset tables
    assert plan.count("SinglePartition") <= 2, plan


def test_group_sample_no_single_partition_windows(spark, registry):
    """ds_group_sample: per-source ranks run over range slices with
    group-partitioned offset windows — nothing collapses to a single
    partition."""
    plan = plan_of(spark, registry, "ds_group_sample")
    assert "rangepartitioning" in plan.lower(), plan
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ohlc_is_pure_aggregation(spark, registry):
    """t_ohlc_bars: two partial-then-final aggregations, no joins, no
    row windows."""
    plan = plan_of(spark, registry, "t_ohlc_bars")
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # 2 aggs x partial+final


def test_percent_rank_scalable_no_full_table_single_partition(
    spark, registry, monkeypatch
):
    """w_percent_rank_scalable: the rank must come from range
    partitions (a plain PERCENT_RANK window would be one task holding
    the whole table; the range partition is staged, so its exchange
    runs at staging time); the only SinglePartition exchange allowed
    feeds the tiny per-partition-counts window."""
    from delta_data_pipelines_spark.operators import ranking

    staged = staged_plans(spark, monkeypatch, ranking)
    plan = plan_of(spark, registry, "w_percent_rank_scalable")
    assert any("rangepartitioning" in p.lower() for p in staged), staged
    # two tiny SinglePartition exchanges allowed: the ≤32-row
    # per-partition-counts window and the 1-row n aggregate
    assert plan.count("SinglePartition") <= 2, plan
    assert "percent_rank" not in plan.lower(), plan  # computed, not windowed


def test_pq_serve_plan_has_no_fit_stages(spark, registry):
    """The storage-backed ADC serve must stay flat however the index
    was built: a handful of exchanges (scan + broadcast LUT +
    partial-agg + one per-query window), against the in-plan twin's
    ~20 (fit + code + serve). A refactor that re-introduces the fit
    into the serve plan trips this immediately."""
    serve = registry["sim_pq_serve"](spark, SF)
    plan = serve._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 8, plan.count("Exchange")
    refit = registry["sim_pq_adc_topk"](spark, SF)
    refit_plan = refit._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") < refit_plan.count("Exchange")


def test_ivf_serve_reads_only_probe_buckets(spark, registry):
    """The IVF serve's corpus scan must be bucket-pruned: with 16
    cells hashed over the store's bucket count and nprobe=2 per query,
    the scanned file set is a strict subset of the full cells table —
    the partition-pruned-I/O contract. Counted via the scan's input
    files rather than plan text (the prune happens at path selection,
    before Catalyst)."""
    import glob

    # force the index to exist, then inspect the serve's scanned paths
    registry["sim_ivf_serve"](spark, SF).collect()
    import os

    repo_root = os.path.dirname(os.path.abspath(entry.__file__))
    cells_root = os.path.join(
        repo_root, "spark-warehouse", "ivf_index", "sf0.001", "cells"
    )
    # denominator from the LATEST manifest only: v=* would count every
    # retained generation after a refresh, letting a pruning regression
    # (scanning all of ONE generation) pass vacuously
    from delta_data_pipelines_spark.storage import VersionedTable

    cells = VersionedTable(spark, cells_root)
    all_parquet = cells.read().inputFiles()
    df = registry["sim_ivf_serve"](spark, SF)
    scanned = set(df.inputFiles())
    cell_files = {f for f in scanned if "ivf_index" in f}
    assert cell_files, "serve plan reads no cells files?"
    assert len(cell_files) < len(all_parquet), (
        f"serve scanned ALL {len(all_parquet)} cell files - no pruning"
    )


def test_bpe_encode_vocab_broadcast_no_python(spark, registry):
    """txt_bpe_encode: the encoded DISTINCT-word vocabulary must come
    back as the BROADCAST side of the corpus join (encode cost tracks
    vocabulary, corpus rows never shuffle for it), the merge folds stay
    native (no Python eval anywhere), and nothing goes cartesian."""
    plan = plan_of(spark, registry, "txt_bpe_encode")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan  # Batch- and Arrow- both


def test_ivfpq_serve_stays_broadcast(spark, registry):
    """sim_ivfpq_serve: the composed serve is broadcast joins only
    (probe ⋈ broadcast centroids, candidates ⋈ codes ⋈ broadcast LUT)
    — a SortMergeJoin means a broadcast hint was lost and the serve
    would shuffle the corpus per query batch; a cartesian means the
    LUT join degenerated."""
    plan = plan_of(spark, registry, "sim_ivfpq_serve")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_source_overlap_pair_join_is_tiny_side_broadcast(spark, registry):
    """sk_source_overlap: the only non-equi join is the group_a <
    group_b pair join over ONE sketch row per group — it must be a
    broadcast nested-loop (tiny side), never a CartesianProduct of
    unsized sides, and the raw token explode must appear exactly once
    upstream of it (values touched once)."""
    plan = plan_of(spark, registry, "sk_source_overlap")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Generate explode") <= 1, plan


def test_cm_counts_counter_table_is_broadcast(spark, registry):
    """sk_cm_counts: probes join the ≤ d·w counter table broadcast —
    the sketch side must never shuffle the probe set."""
    plan = plan_of(spark, registry, "sk_cm_counts")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_dsir_weights_flag_stays_below_generate(spark, registry, monkeypatch):
    """td_dsir_weights: the quality flag must be evaluated once per
    DOC (below the feature explode), never once per exploded feature —
    ExtractGenerator hoists sibling expressions of a generator into a
    Project ABOVE the Generate, which made the text-derived flag
    O(features x text_length) per doc (measured 14x at sf0.1). The
    marker `64.0` (the quality score's length-cap divisor) must not
    appear in any Project above a Generate. The log-ratio table join
    must be broadcast (1024 rows), and the corpus must explode exactly
    ONCE — the r14 staging shares one staged (id, flag, bucket)
    feature frame between the model fit and the scoring join (it was
    2 explodes before: fit + score). The explode runs at staging time,
    so its plan is the staged frame's, and the query's own plan reads
    the staged frame with no Generate left in it."""
    from delta_data_pipelines_spark.operators import staging

    staged = staged_plans(spark, monkeypatch, staging)
    plan = plan_of(spark, registry, "td_dsir_weights")
    assert "CartesianProduct" not in plan, plan
    # formatted mode prints each node twice (tree + detail): count
    # unique Generate node ids
    assert not re.findall(r"\((\d+)\) Generate", plan), plan
    assert "Scan ExistingRDD" in plan, plan
    (feats,) = [p for p in staged if re.search(r"\((\d+)\) Generate", p)]
    assert len(set(re.findall(r"\((\d+)\) Generate", feats))) == 1, feats
    # the quality flag must sit BELOW the counts-pass Generate (one
    # Project detail carries the marker `64.0`, the quality score's
    # length-cap divisor); every Project detail above a Generate in
    # the same subtree must be marker-free
    assert feats.count("64.0") == 1, feats


def test_dsir_sample_is_take_ordered(spark, registry):
    """ds_dsir_sample: Gumbel-top-k must plan as TakeOrderedAndProject
    (per-partition top-k + k-row merge), never a global Sort or a
    single-partition window."""
    plan = plan_of(spark, registry, "ds_dsir_sample")
    assert "TakeOrderedAndProject" in plan, plan


def test_source_drift_explodes_corpus_once(spark, registry):
    """td_source_drift: corpus counts are REAGGREGATED from the
    (source, token) table, which is staged once (r14: eager
    localCheckpoint, so its single token explode runs at staging time
    and the scoring plan reads the materialized frame — zero Generate
    nodes in-plan; the pre-r14 persist form showed exactly one)."""
    plan = plan_of(spark, registry, "td_source_drift")
    gens = set(re.findall(r"\((\d+)\) Generate", plan))
    assert len(gens) <= 1, plan
    assert "Scan ExistingRDD" in plan or len(gens) == 1, plan


def test_classifier_auc_has_no_global_data_window(spark, registry):
    """td_classifier_auc: the rank machinery must be the
    range-partitioned prefix sum — the only single-partition window
    runs over per-partition totals, never over the score rows. The
    formatted plan's Window nodes must all partition by _pid or read
    the <= n_parts totals frame (detectable: no Window whose child is
    the raw score aggregation's full output ordering by nb_score
    without a partition spec at data scale). Cheap proxy pinned here:
    exactly the two Window nodes the helper creates, and no
    CartesianProduct."""
    plan = plan_of(spark, registry, "td_classifier_auc")
    assert "CartesianProduct" not in plan, plan
    n_windows = len(set(re.findall(r"\((\d+)\) Window", plan)))
    assert n_windows == 2, plan


def test_url_dedup_is_partial_agg_no_window(spark, registry):
    """f_url_dedup: the latest-capture winner comes from a
    max_by(struct) partial-agg groupBy on the canonical key — a window
    appearing here would be the one-task-per-hot-URL shape the
    operator exists to avoid."""
    plan = plan_of(spark, registry, "f_url_dedup")
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # max_by over a struct plans as a two-phase SortAggregate
    # (partial + final) — still combiner-side reduction, no window
    assert plan.count("SortAggregate") >= 2, plan


def test_jl_audit_probe_pairs_stay_broadcast(spark, registry):
    """sim_jl_audit: the probe-pair join is tiny×tiny (10 probes) and
    must be a broadcast nested loop on the id inequality, never an
    unsized CartesianProduct; everything else is per-row expression
    work (no shuffle of the corpus — probes only)."""
    plan = plan_of(spark, registry, "sim_jl_audit")
    assert "CartesianProduct" not in plan, plan


def test_ivfpq_serve_io_proportional_to_nprobe(spark, registry):
    """The IVF-PQ serve's candidate I/O must track nprobe/n_cells, not
    corpus size: a single query probing 2 of 16 cells may read AT MOST
    2 bucket dirs of the cells table (1 file per bucket dir by
    construction). Counted via the scan's input files — the prune
    happens at path selection, before Catalyst — so a regression that
    reads a whole generation (or the whole table) fails loudly.
    (jobs/ann_index.py serve_ivfpq_topk step 2; the sibling
    test_ivf_serve_reads_only_probe_buckets covers the IVF-only
    serve's multi-query subset property.)"""
    import os

    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.jobs import ann_index

    # force both scratch stores to exist (shared with sim_*_serve)
    registry["sim_ivfpq_serve"](spark, SF).collect()
    repo_root = os.path.dirname(os.path.abspath(entry.__file__))
    istore = ann_index.IVFIndexStore(
        spark, os.path.join(repo_root, "spark-warehouse", "ivf_index", "sf0.001")
    )
    pstore = ann_index.PQIndexStore(
        spark, os.path.join(repo_root, "spark-warehouse", "pq_index", "sf0.001")
    )
    q1 = read_table(spark, SF, "embeddings").where(F.col("vec_id") == 0)
    df = ann_index.serve_ivfpq_topk(istore, pstore, q1, topk=5, nprobe=2)
    all_parquet = istore.cells.read().inputFiles()
    assert len(all_parquet) >= 8  # the denominator is real
    cell_files = {f for f in df.inputFiles() if "ivf_index" in f}
    assert cell_files, "serve plan reads no cells files?"
    assert len(cell_files) <= 2, (
        f"1 query x nprobe=2 read {len(cell_files)} cell files "
        f"(of {len(all_parquet)}) - bucket pruning lost"
    )


def test_dsir_fit_and_score_scan_count_pinned(spark, registry):
    """td_dsir_weights: the DSIR fit + score pipeline reads the corpus
    a FIXED small number of times however big the corpus is (the
    bounded-window totals refactor took it 6 -> 4; currently 3:
    flagged n-gram fit, unigram score, bigram score). An extra
    corpus scan per stage is the dominant regression at 100 TB, where
    one documents pass IS the cost unit."""
    plan = plan_of(spark, registry, "td_dsir_weights")
    scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "documents.parquet" in line
    ]
    assert 1 <= len(scans) <= 4, (len(scans), scans)


def test_exact_substring_plan_partial_agg_no_python(spark, registry):
    """dd_exact_substring: the window-hash count must partial-agg
    (map-side combine before the one corpus-scale shuffle), the
    interval merges stay native folds (no Python eval), and nothing
    goes cartesian."""
    qe = registry["dd_exact_substring"](spark, SF)._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_ivf_recall_curve_single_assignment_no_cartesian(spark, registry):
    """sim_ivf_recall_curve: the four nprobe operating points must
    share ONE cell-assignment pass (the nprobe axis joins on rank —
    a broadcast nested loop over a 4-row literal, never a real
    cartesian over data), totals ride as broadcast 1-row aggregates,
    and nothing drops to Python."""
    plan = plan_of(spark, registry, "sim_ivf_recall_curve")
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_main_content_plan_stays_bounded(spark, registry):
    """txt_main_content: block classification is all equi-joins (the
    site-template rule joins on (source, block-hash) — a cartesian
    would mean the hash key was lost) and the block parse ran ONCE
    into the eager checkpoint, so no MapInPandas remains in the
    downstream plan (the two-consumer recompute trap)."""
    plan = plan_of(spark, registry, "txt_main_content")
    assert "CartesianProduct" not in plan, plan
    assert "MapInPandas" not in plan, plan


def test_phash_and_spans_plans_stay_bounded(spark, registry):
    """mm_phash_dedup pairs only through chunk equi-joins (the
    pigeonhole — a cartesian would mean the chunk key was lost) and
    its only Python is the Arrow-batched fingerprint kernel;
    dd_exact_substring_spans shares the rewrite's partial-agg window
    count and stays Python-free."""
    plan = plan_of(spark, registry, "mm_phash_dedup")
    assert "CartesianProduct" not in plan, plan
    spans = plan_of(spark, registry, "dd_exact_substring_spans")
    assert "partial_count" in spans, spans
    assert "CartesianProduct" not in spans, spans
    assert "EvalPython" not in spans, spans


def test_url_blocklist_broadcast_semi_no_like_scan(spark, registry):
    """f_url_blocklist: the suffix chain joins the blocklist as ONE
    broadcast left-semi + one anti-join back — never a LIKE/endswith
    scan (wrong at label boundaries) and never a per-entry pass or
    cross join. The blocklist side must stay broadcast: a sort-merge
    here means a corpus-scale shuffle against a ~100 MB list."""
    plan = plan_of(spark, registry, "f_url_blocklist")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert re.search(r"BroadcastHashJoin.*LeftSemi", plan), plan
    assert "LeftAnti" in plan, plan
    assert "Like" not in plan and "EndsWith" not in plan, plan


def test_lang_gate_broadcast_thresholds_no_shuffle(spark, registry):
    """td_lang_gate: the per-language threshold routing must be ONE
    broadcast join against the O(languages) table over a single
    documents scan — no sort-merge (a corpus-scale shuffle against a
    6-row table), no cartesian, no Python. td_lang_keep_rate's LM
    half earns its shuffles (the (lang, token) partial-agg and the
    per-language window) but must still broadcast the thresholds and
    stay native."""
    plan = plan_of(spark, registry, "td_lang_gate")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert plan.count("documents.parquet") <= 1, plan

    report = plan_of(spark, registry, "td_lang_keep_rate")
    assert "CartesianProduct" not in report, report
    assert "EvalPython" not in report, report
    assert "partial_count" in report, report


def test_gopher_lines_map_only(spark, registry):
    """txt_gopher_lines: per-row folds over ONE documents scan — no
    join, no Python, no aggregation exchange (the only exchange is
    the output sort's range partitioning)."""
    plan = plan_of(spark, registry, "txt_gopher_lines")
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert plan.count("documents.parquet") <= 1, plan
    assert "hashpartitioning" not in plan, plan


def test_lang_lm_scores_no_window_over_vocab(spark):
    """lang_lm_scores: per-language totals must come from a grouped
    partial aggregate broadcast back onto the (lang, token) frequency
    table — NEVER a Window partitioned by language, which would sort
    one web-scale language's entire vocabulary (1e8+ distinct tokens
    at 100 TB) in a single task. The window form produced identical
    sums (td_lang_keep_rate's hash was unchanged by the rewrite) but
    cannot survive the scale-up; this pin keeps the grouped shape."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators import langcurate

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .withColumn("lang", F.lit("en"))
    )
    plan = formatted_plan(langcurate.lang_lm_scores(docs, "doc_id", "text"))
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # partial sum for the per-language totals (map-side combine)
    assert "partial_sum" in plan, plan


def test_classifier_agreement_scans_corpus_once(spark, registry):
    """The trained-classifier queries: train, score and label join all
    read ONE staged labeled per-doc frame (`_classifier_frame`, an
    eager localCheckpoint), so the final plan holds at most one
    documents scan and every consumer reads the staged RDD. Without
    the staging the plan re-read the corpus and recomputed the
    quality_score label expression per consumer: 3 avoidable
    full-corpus scans at 100 TB (r12 verdict finding #2, measured
    4.03s -> 3.35s at sf0.1)."""
    for q in (
        "td_quality_classifier",
        "td_logreg_quality",
        "td_classifier_agreement",
        "td_classifier_ensemble",
        "td_classifier_pr_curve",
        "td_logreg_pr_curve",
        "td_classifier_auc",
    ):
        plan = plan_of(spark, registry, q)
        assert plan.count("documents.parquet") <= 1, (q, plan)
        # staged labeled frame: either an InMemoryRelation (persist)
        # or a lineage-truncating eager localCheckpoint (ExistingRDD)
        assert (
            "InMemoryTableScan" in plan or "Scan ExistingRDD" in plan
        ), (q, plan)
        assert "CartesianProduct" not in plan, (q, plan)
        assert "EvalPython" not in plan, (q, plan)


def test_classifier_agreement_stages_one_corpus_frame(
    spark, registry, monkeypatch
):
    """td_classifier_agreement materialises exactly ONE corpus-sized
    frame before its final action: the labeled per-doc feature frame
    both trainers and both scorers explode from. The other frames its
    fits stage are model tables (vocabulary- or bucket-sized), which
    carry no doc_id."""
    frame_cls = type(spark.range(1))
    staged = []
    checkpoint, persist = frame_cls.localCheckpoint, frame_cls.persist

    def spy(real):
        def wrapped(self, *args, **kwargs):
            staged.append(self.columns)
            return real(self, *args, **kwargs)

        return wrapped

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy(checkpoint))
    monkeypatch.setattr(frame_cls, "persist", spy(persist))
    registry["td_classifier_agreement"](spark, SF)
    assert sum("doc_id" in cols for cols in staged) == 1, staged


def test_kn_logprob_plan_shape(spark, registry):
    """txt_kn_logprob: no window, no Python, the only cross is the
    broadcast 1-row type-count join (B), and the model-side groupBys
    are partial-agg (map-side combine) — the vocabulary joins stay
    hash joins, never a data-by-data product."""
    for q in ("txt_kn_logprob", "txt_kn3_logprob"):
        plan = plan_of(spark, registry, q)
        assert "Window" not in plan, (q, plan)
        assert "EvalPython" not in plan, (q, plan)
        assert "CartesianProduct" not in plan, (q, plan)
        # 1 node (the broadcast 1-row type-count join) x2 prints
        assert plan.count("BroadcastNestedLoopJoin") <= 2, (q, plan)
        assert "partial_count" in plan, (q, plan)
