"""Incremental corpus statistics: per-language vocabulary cardinality
maintained across micro-batches as a KMV sketch.

The batch answer (``sk_kmv_distinct``) re-reads the corpus; a stream
cannot. Exact incremental distinct-counting would need the full
distinct-token set as state — O(vocabulary) and growing forever. The
mergeable KMV sketch (operators.sketches) collapses that to O(langs·k):
each micro-batch computes its own bottom-k sketch and MERGES it into
the stored one (bottom-k of a union == bottom-k of concatenated
bottom-ks, so arrival order and batching are irrelevant — the stored
sketch after N batches is BIT-IDENTICAL to the batch sketch over the
union of all N batches, asserted in tests).

State shape: one row per language — a ``VersionedTable`` overwrite per
batch is O(langs·k) bytes, so the full-snapshot write that is wrong
for the near-dup signature state (see streaming/neardup.py) is exactly
right here. Restart-safe for the same reason any foreachBatch + table
state is: the checkpoint replays the last batch, and re-merging an
already-merged sketch is a no-op (idempotent by the same union
property).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as _W
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.sketches import bottom_k, kmv_estimate, kmv_sketch
from ..operators.staging import release_staged, stage
from ..storage import VersionedTable


def merge_sketches(
    state: DataFrame, batch: DataFrame, group_cols: list[str], k: int
) -> DataFrame:
    """Merge two per-group sketch tables (outer on the group): concat →
    dedup → bottom-k, recomputing the estimate from the merged sketch.

    The outer join is NULL-SAFE on the group key: a plain equi-join
    never matches NULL groups, so a null-lang sketch row would
    duplicate instead of merging — one extra state row per batch,
    forever, with wrong estimates for that group."""
    from functools import reduce

    s = state.select(*group_cols, F.col("sketch").alias("_a"))
    b = batch.select(
        *[F.col(c).alias(f"_g_{c}") for c in group_cols],
        F.col("sketch").alias("_b"),
    )
    cond = reduce(
        lambda x, y: x & y,
        [s[c].eqNullSafe(b[f"_g_{c}"]) for c in group_cols],
    )
    empty = F.array().cast("array<bigint>")
    merged = (
        s.join(b, cond, "full_outer")
        .select(
            *[
                F.coalesce(s[c], b[f"_g_{c}"]).alias(c)
                for c in group_cols
            ],
            "_a",
            "_b",
        )
        .withColumn(
            "sketch",
            # the shared KMV primitives (operators.sketches) — NOT an
            # inline copy: the stored-equals-batch invariant depends on
            # merge + estimate math being bit-identical on both sides
            bottom_k(
                F.array_distinct(
                    F.concat(
                        F.coalesce(F.col("_a"), empty),
                        F.coalesce(F.col("_b"), empty),
                    )
                ),
                k,
            ),
        )
        .drop("_a", "_b")
    )
    return merged.withColumn("n_est", kmv_estimate(F.col("sketch"), k))


def run_incremental_vocab_sketch(
    docs_stream: DataFrame,
    state_table: VersionedTable,
    checkpoint_dir: str,
    group_col: str = "lang",
    text_col: str = "text",
    k: int = 64,
) -> StreamingQuery:
    """Maintain per-``group_col`` distinct-token estimates over a
    document stream with O(groups·k) state."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        toks = batch_df.select(
            group_col, F.explode(F.split(F.col(text_col), " ")).alias("token")
        )
        batch_sketch = kmv_sketch(toks, [group_col], "token", k=k)
        if state_table.exists():
            out = merge_sketches(
                state_table.read(), batch_sketch, [group_col], k
            )
        else:
            out = batch_sketch
        out = stage(out, "kmv_state")
        try:
            state_table.overwrite(out)
        finally:
            release_staged(out)
        # one overwrite per micro-batch: prune superseded version dirs
        # (tiny, but a long-lived stream would leak one per batch)
        state_table.vacuum()

    return (
        docs_stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def merge_mg_summaries(
    state: DataFrame, batch_summary: DataFrame, k: int
) -> DataFrame:
    """Merge Misra-Gries summaries (Agarwal et al. PODS'12 mergeable
    form): sum counts per item, then one prune — subtract the k-th
    largest count from everything, drop non-positives. Each prune
    removes ≥ k·c_k stored mass and total stored mass only grows by
    the items streamed in, so cumulative undercount stays ≤ n_total/k
    across ANY merge sequence — the superset guarantee survives
    batching. Input/output: (item, mg_count); ≤ k-1 output rows.

    The rank window is unpartitioned BY DESIGN: it runs over the tiny
    summary union (≤ k-1 + batch-summary rows), never corpus data.
    """
    both = state.select("item", "mg_count").unionByName(
        batch_summary.select("item", "mg_count")
    )
    summed = both.groupBy("item").agg(F.sum("mg_count").alias("mg_count"))
    w = _W.orderBy(F.col("mg_count").desc(), "item")
    kth = (
        summed.withColumn("_rn", F.row_number().over(w))
        .agg(F.max(F.when(F.col("_rn") == k, F.col("mg_count"))).alias("_kth"))
    )
    return (
        summed.crossJoin(F.broadcast(kth))
        .withColumn("mg_count", F.col("mg_count") - F.coalesce("_kth", F.lit(0)))
        .where(F.col("mg_count") > 0)
        .drop("_kth")
    )


def run_incremental_heavy_hitters(
    docs_stream: DataFrame,
    state_table: VersionedTable,
    checkpoint_dir: str,
    text_col: str = "text",
    k: int = 50,
) -> StreamingQuery:
    """Maintain a corpus-wide heavy-hitter summary over a document
    stream with O(k) state: per batch, bounded per-partition MG
    summaries (operators.sketches.misra_gries_candidates) merge into
    the stored summary with one prune. State rows: (item, mg_count,
    n_total, _epoch) — mg_count is a LOWER bound on the item's true
    token count with error ≤ n_total/k, so every token with true
    frequency > n_total/k is guaranteed present; final exact counts
    (when the raw corpus is still queryable) come from
    ``sketches.heavy_hitters_exact``-style candidate verification.
    One extra METADATA row (item NULL, mg_count 0) always rides along:
    an all-tied summary legitimately prunes to ZERO data rows
    (subtracting the k-th largest from identical counts), and without
    the metadata row that batch would overwrite the table empty —
    silently losing n_total and the replay guard. Readers take the
    summary as ``state.where(item IS NOT NULL)``.

    Unlike the KMV sketch, an MG merge is NOT naturally idempotent —
    re-merging a replayed micro-batch inflates counts. The stored
    ``_epoch`` makes the sink transactional: a batch whose epoch_id is
    already ≤ the stored epoch is skipped, so checkpoint replay
    after a crash cannot double-count. Epoch ids are only comparable
    WITHIN one checkpoint lifetime, so the state also stores the
    checkpoint dir (``_run``): a restart against the same state table
    with a DIFFERENT checkpoint dir raises RuntimeError instead of
    silently skipping every batch (new epochs restart at 0 and would
    all look like replays) or silently re-merging the whole replayed
    source (MG merge is not idempotent — counts would inflate). State
    tables are bound to one checkpoint directory for their lifetime.
    """
    from ..operators.sketches import misra_gries_candidates

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if state_table.exists():
            prev = state_table.read()
            # one combined agg: this is the hot streaming path — two
            # separate collects would double the per-batch state scans.
            # A state table written before the _run column existed has
            # no such column — aggregating it unguarded would be an
            # AnalysisException, making the legacy (r is None) branch
            # below unreachable; probe the schema first.
            run_agg = (
                F.max("_run")
                if "_run" in prev.columns
                else F.lit(None).cast("string")
            )
            meta = prev.agg(
                F.max("_epoch").alias("e"),
                F.max("n_total").alias("n"),
                run_agg.alias("r"),
            ).collect()[0]
            if meta["r"] is not None and meta["r"] != checkpoint_dir:
                raise RuntimeError(
                    f"state table was written under checkpoint "
                    f"{meta['r']!r} but this stream runs under "
                    f"{checkpoint_dir!r}: epoch ids are not comparable "
                    f"across checkpoint lifetimes, and replaying the "
                    f"source into existing MG state double-counts. "
                    f"Reuse the original checkpoint dir, or start from "
                    f"a fresh state table."
                )
            if meta["e"] is not None and epoch_id <= meta["e"]:
                return  # replayed batch: already merged
            prev_summary = prev.where(F.col("item").isNotNull()).select(
                "item", "mg_count"
            )
            prev_n = meta["n"] or 0
        else:
            prev_summary = None
            prev_n = 0
        toks = batch_df.select(
            F.explode(F.split(F.col(text_col), " ")).alias("item")
        ).where(F.col("item") != "")
        toks = stage(toks, "mg_batch_tokens")  # count + summarize, one eval
        try:
            batch_n = toks.count()
            batch_summary = misra_gries_candidates(toks, "item", k)
            if prev_summary is not None:
                merged = merge_mg_summaries(prev_summary, batch_summary, k)
            else:
                merged = merge_mg_summaries(
                    batch_summary.limit(0), batch_summary, k
                )
            n_total = prev_n + batch_n
            out = (
                merged.withColumn("n_total", F.lit(n_total))
                .withColumn("_epoch", F.lit(epoch_id))
                .withColumn("_run", F.lit(checkpoint_dir))
            )
            meta_row = batch_df.sparkSession.createDataFrame(
                [(None, 0, n_total, epoch_id, checkpoint_dir)],
                "item string, mg_count bigint, n_total bigint, _epoch bigint,"
                " _run string",
            )
            out = stage(out.unionByName(meta_row), "mg_state")
        finally:
            release_staged(toks)
        try:
            state_table.overwrite(out)
        finally:
            release_staged(out)
        state_table.vacuum()

    return (
        docs_stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def merge_cm_sketches(state: DataFrame, batch_sketch: DataFrame) -> DataFrame:
    """Merge two Count-Min counter tables over the SAME (d, w)
    geometry: cell-wise addition (union → groupBy sum). Like the
    bottom-k merge it is associative and order-free, so the stored
    sketch after N batches equals the batch sketch over their union
    (test-asserted); like the MG merge it is NOT idempotent — the
    sink's epoch guard is what makes replay safe. ≤ d·w output rows.
    """
    return (
        state.select("row", "bucket", "cnt")
        .unionByName(batch_sketch.select("row", "bucket", "cnt"))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def run_incremental_cm(
    docs_stream: DataFrame,
    state_table: VersionedTable,
    checkpoint_dir: str,
    text_col: str = "text",
    d: int = 4,
    w: int = 256,
) -> StreamingQuery:
    """Maintain a corpus-wide Count-Min frequency sketch over a
    document stream with O(d·w) state — the point-frequency axis of
    the streaming sketch family (KMV: distinct; MG: which items are
    frequent; CM: how frequent is THIS item), queryable at any moment
    via ``sketches.cm_query`` against the state table with the same
    never-undercount guarantee as the batch sketch.

    State rows: (row, bucket, cnt, n_total, _epoch, _run). The merge
    is cell-wise addition — not idempotent — so the sink carries the
    same replay transaction as the MG state: a batch whose epoch_id ≤
    the stored epoch is skipped, and a restart under a DIFFERENT
    checkpoint dir raises instead of silently skipping or
    double-merging (epoch ids are only comparable within one
    checkpoint lifetime; state tables bind to one checkpoint dir).
    """
    from ..operators.sketches import cm_sketch

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if state_table.exists():
            prev = state_table.read()
            meta = prev.agg(
                F.max("_epoch").alias("e"),
                F.max("n_total").alias("n"),
                F.max("_run").alias("r"),
            ).collect()[0]
            if meta["r"] is not None and meta["r"] != checkpoint_dir:
                raise RuntimeError(
                    f"state table was written under checkpoint "
                    f"{meta['r']!r} but this stream runs under "
                    f"{checkpoint_dir!r}: epoch ids are not comparable "
                    f"across checkpoint lifetimes, and replaying the "
                    f"source into existing CM state double-counts. "
                    f"Reuse the original checkpoint dir, or start from "
                    f"a fresh state table."
                )
            if meta["e"] is not None and epoch_id <= meta["e"]:
                return  # replayed batch: already merged
            prev_n = meta["n"] or 0
        else:
            prev = None
            prev_n = 0
        toks = batch_df.select(
            F.explode(F.split(F.col(text_col), " ")).alias("item")
        ).where(F.col("item") != "")
        toks = stage(toks, "cm_batch_tokens")  # count + sketch, one eval
        try:
            batch_n = toks.count()
            batch_sketch = cm_sketch(toks, "item", d=d, w=w)
            merged = (
                merge_cm_sketches(prev, batch_sketch)
                if prev is not None
                else batch_sketch
            )
            out = stage(
                merged.withColumn("n_total", F.lit(prev_n + batch_n))
                .withColumn("_epoch", F.lit(epoch_id))
                .withColumn("_run", F.lit(checkpoint_dir)),
                "cm_state",
            )
        finally:
            release_staged(toks)
        try:
            state_table.overwrite(out)
        finally:
            release_staged(out)
        state_table.vacuum()

    return (
        docs_stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def merge_hll_registers(
    state: DataFrame, batch: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Merge HLL register tables: per-register MAX (union → groupBy
    max). Unlike the CM merge this is IDEMPOTENT — max(a, a) = a — so
    a replayed micro-batch re-merges to a no-op and the sink below
    needs NO epoch transaction: the three streaming sketches span the
    design space (KMV: idempotent set-union; CM: additive, epoch-
    guarded; HLL: idempotent max)."""
    return (
        state.select(*group_cols, "j", "mx")
        .unionByName(batch.select(*group_cols, "j", "mx"))
        .groupBy(*group_cols, "j")
        .agg(F.max("mx").alias("mx"))
    )


def run_incremental_hll(
    docs_stream: DataFrame,
    state_table: VersionedTable,
    checkpoint_dir: str,
    group_col: str = "lang",
    text_col: str = "text",
    m: int = 256,
) -> StreamingQuery:
    """Maintain per-group HLL distinct-token registers over a document
    stream with O(groups·m) state; estimates at any moment via
    ``sketches.hll_estimate`` on the state table. Replay-safe WITHOUT
    an epoch guard (see merge_hll_registers)."""
    from ..operators.sketches import hll_sketch

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        toks = batch_df.select(
            group_col, F.explode(F.split(F.col(text_col), " ")).alias("token")
        )
        batch_sk = hll_sketch(toks, [group_col], "token", m=m)
        if state_table.exists():
            out = merge_hll_registers(
                state_table.read(), batch_sk, [group_col]
            )
        else:
            out = batch_sk
        out = stage(out, "hll_state")
        try:
            state_table.overwrite(out)
        finally:
            release_staged(out)
        state_table.vacuum()

    return (
        docs_stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
