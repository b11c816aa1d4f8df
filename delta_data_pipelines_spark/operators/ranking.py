"""Scalable exact global ranking (W3/W4 scale path).

The reference assigns sequential ids / batch numbers with driver-side
``enumerate`` over an in-memory list (map_divar_data_to_delta.py:185,
utils_of_searchengine.py:183-196). The distributed equivalent of
``ROW_NUMBER() OVER (ORDER BY key)`` is a single-partition window — a
scale killer. This module provides the zipWithIndex-offset pattern in
pure DataFrame form: range-partition, rank locally in parallel, add
cumulative partition offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .staging import stage


def _range_parts(df: DataFrame, n_parts: int, *keys) -> DataFrame:
    """``df`` range-partitioned on ``keys`` with its partition id as
    ``_pid``, staged. Both consumers (local ranks and per-partition
    counts) must see ONE boundary draw: unstaged, each executes its own
    instance of the range exchange, and ``repartitionByRange`` samples
    its boundaries with an rdd.id-seeded sketch. Once sampling is
    partial the two draws differ, rows near a boundary land in a
    different ``_pid`` per instance, and global ranks are duplicated or
    skipped — measured on 20 000 keys over 4 input partitions with one
    payload column: 15 459 wrong ranks. (Without a payload column the
    counts branch's exchange is identical to the local one and Spark
    reuses it, which hid the fault.)"""
    return stage(
        df.repartitionByRange(n_parts, *keys).withColumn(
            "_pid", F.spark_partition_id()
        ),
        "rank_parts",
    )


def global_rank_by_range(df: DataFrame, key: str, n_parts: int = 32) -> DataFrame:
    """Exact 1-based global rank over a unique ``key``, scalably.

    Range partitioning guarantees partition ``i`` holds strictly
    smaller keys than partition ``i+1``, so
    ``rank = (rows in earlier partitions) + (local rank)`` is the exact
    global rank regardless of where the sampled range boundaries fall.
    The only unpartitioned window runs over the per-partition counts —
    ≤ ``n_parts`` rows, O(partitions) not O(rows).

    Returns ``df`` plus a ``global_rank`` column.
    """
    parts = _range_parts(df, n_parts, key)
    w_local = Window.partitionBy("_pid").orderBy(key)
    local = parts.withColumn("_rn", F.row_number().over(w_local))
    # counts come from `parts`, NOT `local`. HONEST RECORD (r15): the
    # r14 rationale ("counting off `local` re-ran the per-partition
    # SORT") is wrong at the physical level — the optimizer's column
    # pruning drops the unused Window from the counts branch, and the
    # executed plans of w_percent_rank_scalable / w_batch_ids_global
    # are byte-identical under either source form (verified old-vs-new
    # with normalized plan strings). The r14 1.15→1.02 reading and the
    # r15 A/B deltas on this family were machine noise; the flagged
    # rank-family "regressions" could not have been code-caused. The
    # pre-window form stays because it states the intent without
    # relying on a pruning rule.
    counts = parts.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0))
    ).select("_pid", "_off")
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("global_rank", F.col("_off") + F.col("_rn"))
        .drop("_pid", "_rn", "_off")
    )


def grouped_rank_by_range(
    df: DataFrame, group: str, key: str, n_parts: int = 32
) -> DataFrame:
    """Exact 1-based rank of ``key`` WITHIN each ``group``, scalably.

    ``ROW_NUMBER() OVER (PARTITION BY group ORDER BY key)`` puts each
    group in ONE task — fatal when a group holds 10⁹ rows (the common
    case: a handful of huge sources). Range-partition on (group, key)
    instead: local ranks within (partition, group) are exact per
    partition, and the per-(partition, group) counts — ≤ n_parts·|groups|
    rows — provide each group's cumulative offsets through a window
    that is itself partitioned by group. No single task ever holds more
    than one range slice of a group.

    Returns ``df`` plus ``group_rank``.
    """
    parts = _range_parts(df, n_parts, F.col(group), F.col(key))
    w_local = Window.partitionBy("_pid", group).orderBy(key)
    local = parts.withColumn("_rn", F.row_number().over(w_local))
    # counts off `parts`, not `local` — see global_rank_by_range: the
    # window doesn't change row counts and counting the windowed frame
    # re-ran its sort under the r14 non-reuse finding
    counts = parts.groupBy("_pid", group).agg(F.count("*").alias("_cnt"))
    w_off = (
        Window.partitionBy(group)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0))
    ).select("_pid", group, "_off")
    # no broadcast hint: the offsets table is n_parts·|groups| rows —
    # tiny for a handful of sources but SF-proportional when the group
    # key is high-cardinality (per-domain ranks). AQE broadcasts it at
    # runtime while it actually fits; a forced hint would OOM instead
    # of degrading to a shuffle join (same policy as tpch q2/q17/q20).
    return (
        local.join(offsets, ["_pid", group])
        .withColumn("group_rank", F.col("_off") + F.col("_rn"))
        .drop("_pid", "_rn", "_off")
    )


def global_cumsum_by_range(
    df: DataFrame, key: str, val: str, n_parts: int = 32
) -> DataFrame:
    """Exact exclusive prefix sum of ``val`` in global ``key`` order,
    scalably (the running-offset twin of :func:`global_rank_by_range`).

    ``SUM(val) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING)`` is a
    single-partition window — the same scale killer as a global
    row_number. Range-partition on the key instead: cumsum locally in
    parallel, then add each partition's cumulative predecessor total.
    The only unpartitioned window runs over per-partition totals
    (≤ ``n_parts`` rows).

    Returns ``df`` plus ``cum_before`` — the sum of ``val`` over all
    strictly earlier keys (0 for the first row).
    """
    parts = _range_parts(df, n_parts, key)
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = parts.withColumn(
        "_cum_local", F.coalesce(F.sum(val).over(w_local), F.lit(0))
    )
    # totals off `parts`, not `local` — the b6212b5 rank fix applied
    # to the cumsum twin (r15). HONEST RECORD: the physical plans are
    # byte-identical either way (td_pack_sequences before/after diff,
    # plans/r15) — the optimizer's column pruning already drops the
    # unused Window from the totals branch, so the interleaved A/B
    # delta on this query (1.55 vs 1.33, plans/r15/ab_flagged.json)
    # was noise, not a win. Kept at the source level so the intent
    # doesn't depend on a pruning rule firing.
    totals = parts.groupBy("_pid").agg(F.sum(val).alias("_tot"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_tot").over(w_off), F.lit(0))
    ).select("_pid", "_off")
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("cum_before", F.col("_off") + F.col("_cum_local"))
        .drop("_pid", "_cum_local", "_off")
    )


def chunk_span(cum_before, n_tokens, ctx: int) -> dict:
    """The concat-and-chunk span columns, defined ONCE for both the
    benchmark query (td_pack_sequences) and the curation job's packing
    stage: a doc whose tokens occupy [cum_before, cum_before+n) of the
    stream lands in chunks floor(cum/ctx) .. floor((cum+n-1)/ctx)."""
    if ctx < 1:
        raise ValueError(f"ctx must be >= 1, got {ctx}")
    cum = F.col(cum_before) if isinstance(cum_before, str) else cum_before
    n = F.col(n_tokens) if isinstance(n_tokens, str) else n_tokens
    return {
        "start_offset": cum,
        "chunk_start": F.floor(cum / ctx),
        "chunk_end": F.floor((cum + n - 1) / ctx),
    }
