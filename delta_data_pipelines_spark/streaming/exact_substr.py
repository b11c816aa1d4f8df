"""Incremental sliding-window ExactSubstr dedup at ingest.

The batch operator (``operators.dedup.remove_exact_substrings``)
removes every token inside any ≥L-token substring occurring more than
once in the corpus. This is its streaming form, the architecture the
incremental near-dup sink established (streaming/neardup.py): the
accumulated state is a hash-bucketed table ON STORAGE (window-hash
presence set), not in the streaming state store, so it scales with
the corpus and survives restarts for free; each micro-batch touches
only the state buckets its own window hashes land in.

Per micro-batch, a window in an arriving document is duplicated iff

    it occurs ≥ 2 times WITHIN the batch        (the batch count), or
    its hash is already in the state            (seen in a prior batch)

so a whole corpus delivered as ONE batch reproduces the batch
operator exactly (tested), and under multi-batch arrival the trade is
the same prefix consistency the near-dup stream documents: the FIRST
arrival of a duplicated run was already published uncut when its
later copies arrive — later copies are cut, the earliest survives.
The batch operator cuts every occurrence;
:func:`compact_exact_substr_residue` below is the periodic sweep
that cuts those first-arrival copies afterwards, converging the
published corpus to the ExactSubstr-CLEAN fixed point (exactly
``compact_neardup_residue``'s role for near-dups, and like there the
evidence lives in STATE, not the corpus: a naive batch re-run over
published docs can't see the duplication — the other copies were
already removed — so the sink additionally accumulates the
proven-duplicated hash set the sweep cuts against).

Replay safety (at-least-once delivery): the corpus publish runs
BEFORE the state merge, and the publish is a unique-key
``merge(when_matched='ignore')`` — a replayed batch whose hashes
already entered the state recomputes a rewrite, but every one of its
ids is already published, so the ignore-merge discards the
recomputation; state merges are first-wins and re-merge idempotently.

The state is ORIGIN-AWARE, not presence-only: each window hash is
stored with the doc id that first carried it (``_origin``,
first-wins), and a state hit counts as "seen before" only when the
origin differs from the probing row's own doc id. Presence-only
state has a replay poisoning hazard the publish-side ignore-merge
does NOT cover: a redelivered batch finds its OWN window hashes in
the state, so every window looks duplicated, and — much worse than
a discarded over-cut rewrite — ALL of the batch's windows would be
recorded in ``dup_hashes`` as proven-duplicated, which the residue
sweep then cuts from the published corpus, emptying documents whose
text occurs exactly once. With the origin check, a replayed row
matches only state entries it created itself (same id) and marks
nothing; genuine cross-document duplication (different id) marks
exactly as before. Same-id same-text re-ingest — an update the
ignore-merge publish would discard anyway — is likewise a state
no-op, keeping the two sides consistent. Within-batch duplication
never consults the state (counted on the batch side), so a window
repeated inside one document still dedups. Legacy state rows
written before origins existed carry NULL origin and conservatively
count as seen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import (
    _rebuild_uncovered,
    _window_starts,
    _word_arrays,
)
from ..operators.staging import release_staged, stage
from ..storage import VersionedTable


def run_incremental_exact_substr(
    docs_stream: DataFrame,
    state_dir: str,
    corpus: VersionedTable,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
    n_state_buckets: int = 64,
    drop_emptied: bool = True,
    prepare=None,
    broadcast_hash_limit: int = 2_000_000,
) -> StreamingQuery:
    """docs stream → per-batch ExactSubstr rewrite vs (batch + state)
    → MERGE survivors → remember the batch's window hashes.

    The window-hash state table buckets on the hash itself, so the
    per-batch state probe is a bucket-pruned read of the batch's own
    hash buckets (``read_buckets``), never a full-state scan — the
    same layout-as-plan lever as the near-dup signature table. Size
    ``n_state_buckets`` ≈ state_size / target_bucket_size so the
    per-batch state MERGE rewrite stays batch-proportional.

    ``drop_emptied`` drops documents the rewrite reduces to the empty
    string (the curation-stage behavior); pass False to publish them
    as empty rows. ``prepare`` is the per-batch cleaning seam
    (applied before any state interaction, like the near-dup sink).

    ``broadcast_hash_limit`` bounds the state-probe broadcast: the
    probe restricts the bucket-pruned state read to the batch's own
    hashes with a semi-join, and hinting that side broadcast is only
    safe while the batch is small — an availableNow backlog batch can
    carry hundreds of millions of window hashes, and forcing those
    through a driver broadcast is the failure mode. Past the limit
    (measured on the window-start row count, an upper bound on
    distinct hashes already known from the staged ``starts``) the
    hint is dropped and AQE picks the join strategy.
    """
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    L = int(min_len)
    spark = docs_stream.sparkSession
    gram_table = VersionedTable(
        spark,
        f"{state_dir}/window_hashes",
        bucket_key="_h",
        n_buckets=n_state_buckets,
    )
    # hashes PROVEN duplicated (in-batch pair, or matched the seen
    # state) — exactly the batch operator's dup set over everything
    # ingested so far, accumulated insert-if-absent (monotone, so
    # replays are harmless). compact_exact_substr_residue sweeps the
    # published corpus against it to cut the first-arrival copies
    # ingest had to leave uncut.
    dup_table = VersionedTable(
        spark,
        f"{state_dir}/dup_hashes",
        bucket_key="_h",
        n_buckets=n_state_buckets,
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.dropDuplicates([id_col])
        if prepare is not None:
            batch = stage(prepare(batch), "exact_substr_batch")
        starts = None
        try:
            if batch.isEmpty():
                return
            base = batch.select(id_col, text_col)
            w = _word_arrays(base, id_col, text_col)
            # staged eagerly: starts feeds the within-batch count, the
            # state probe's bucket ids, the mark join AND the state merge
            # — unstaged, the split/explode lineage would run four times
            starts = stage(_window_starts(w, id_col, L), "exact_substr_starts")
            dup_in_batch = (
                starts.groupBy("_h")
                .agg(F.count("*").alias("_c"))
                .where(F.col("_c") > 1)
                .select("_h")
            )
            marked_starts = starts.join(dup_in_batch, "_h", "left_semi")
            dup_h = dup_in_batch
            if gram_table.exists():
                # bucket-pruned state probe, then restrict to the batch's
                # own hashes (semi-join; broadcast-hinted only while the
                # batch is provably small — an availableNow backlog batch
                # must not push its hash set through the driver)
                batch_hashes = starts.select("_h").distinct()
                if starts.count() <= broadcast_hash_limit:
                    batch_hashes = F.broadcast(batch_hashes)
                state = gram_table.read_buckets(
                    gram_table.bucket_ids_of(starts, "_h")
                ).join(batch_hashes, "_h", "left_semi")
                if "_origin" not in state.columns:  # legacy presence-only
                    state = state.withColumn(
                        "_origin", F.lit(None).cast("string")
                    )
                # origin-aware hit: only a DIFFERENT document's prior
                # sighting makes a window duplicated — a replayed batch
                # matching its own state entries marks nothing (the
                # dup_hashes poisoning fix, module docstring). NULL
                # origin = legacy row, conservatively seen.
                state_marks = (
                    starts.join(state.select("_h", "_origin"), "_h")
                    .where(
                        F.col("_origin").isNull()
                        | (F.col("_origin") != F.col(id_col).cast("string"))
                    )
                    .select(id_col, "_s", "_h")
                )
                marked_starts = marked_starts.unionByName(state_marks)
                dup_h = dup_in_batch.unionByName(
                    state_marks.select("_h")
                ).distinct()
            marked = (
                marked_starts.select(id_col, "_s")
                .distinct()
                .groupBy(id_col)
                .agg(F.sort_array(F.collect_list("_s")).alias("_ms"))
            )
            rebuilt = _rebuild_uncovered(w, marked, id_col, L)
            # rewrite the text in place, preserving every other batch
            # column; NULL-text rows pass through (the stage invariant)
            out = (
                batch.join(rebuilt.select(id_col, "_text_out"), id_col, "left")
                .withColumn(
                    text_col,
                    F.when(
                        F.col(text_col).isNull(), F.lit(None).cast("string")
                    ).otherwise(F.coalesce("_text_out", F.col(text_col))),
                )
                .drop("_text_out")
            )
            if drop_emptied:
                out = out.where(
                    F.col(text_col).isNull() | (F.col(text_col) != "")
                )
            # publish FIRST (unique-key ignore-merge), state SECOND: a
            # replay that finds its own hashes in the state over-cuts, but
            # every over-cut id is already published and the merge ignores
            # it (see module docstring)
            corpus.merge(out, keys=[id_col])
            # first-wins origin per hash (merge ignores matched keys), so
            # the earliest document to carry a window owns it forever —
            # the identity the replay no-op check tests against
            gram_table.merge(
                starts.groupBy("_h").agg(
                    F.min(F.col(id_col).cast("string")).alias("_origin")
                ),
                keys=["_h"],
                # a pre-origin state table has only _h: the first batch
                # after an upgrade must widen it (legacy rows get NULL
                # origin = conservatively seen, the read-side shim above),
                # not crash the stream on a column-count mismatch
                schema_evolution=True,
            )
            dup_table.merge(dup_h.distinct(), keys=["_h"])
            # state maintenance: ownership fan-out is bounded per batch
            # (maybe_compact's manifest check is metadata-only when it
            # doesn't fire), then vacuum releases unreferenced dirs — so
            # per-batch state read planning stays flat forever
            gram_table.maybe_compact(16)
            dup_table.maybe_compact(16)
            gram_table.vacuum()
            dup_table.vacuum()
        finally:
            release_staged(batch if prepare is not None else None, starts)

    return (
        docs_stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_exact_substr_residue(
    spark,
    state_dir: str,
    corpus: VersionedTable,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
    drop_emptied: bool = True,
) -> dict:
    """The periodic batch sweep the module docstring names: cut the
    first-arrival copies incremental ingest had to publish uncut.

    Ingest leaves exactly one class of residue: a duplicated run's
    FIRST occurrence was already published when its later copies
    arrived. The sink therefore accumulates the PROVEN-duplicated
    window hashes (``dup_hashes`` — flagged at the moment a second
    occurrence appeared, so it equals the batch operator's dup set
    over everything ingested); this sweep re-enumerates the published
    corpus's windows against that set and rewrites the documents that
    still carry duplicated spans, through the same interval-merge
    rebuild as every other path.

    Contract — the ExactSubstr-clean FIXED POINT, not token-exact
    batch equality: after the sweep, no ≥L-token window of any
    published document matches a window ever proven duplicated during
    ingest (and hence no ≥L substring of ingested text occurs twice
    in the published corpus); re-running the batch operator over the
    post-sweep corpus removes nothing, and the sweep itself is
    idempotent (both tested). Token-exact equality with the
    all-at-once batch run additionally requires that no ingest-time
    cut overlapped later-discovered duplication in the same document:
    a cut stitches its neighbors, so a window duplicated only later
    no longer exists INTACT in the published text — its surviving
    fringe (fewer than L tokens per cut boundary) cannot be
    hash-matched and the sweep keeps it where batch would cut it.
    Seam windows (stitched token runs coincidentally matching a
    known-duplicated window) are conversely cut here though batch
    never saw them. Both effects are bounded, local, and absent on
    corpora whose duplicated runs don't interleave. State stays valid
    afterwards (presence and dup sets are monotone facts about what
    was INGESTED, not about what remains published).
    """
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    L = int(min_len)
    dup_table = VersionedTable(spark, f"{state_dir}/dup_hashes")
    if not dup_table.exists() or not corpus.exists():
        return {"docs_rewritten": 0, "docs_dropped": 0, "rows_after": 0}

    kept = corpus.read()
    base = kept.select(id_col, text_col)
    w = _word_arrays(base, id_col, text_col)
    starts = _window_starts(w, id_col, L)
    marked = (
        starts.join(dup_table.read().select("_h"), "_h", "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("_s")).alias("_ms"))
    )
    rebuilt = _rebuild_uncovered(w, marked, id_col, L)
    changed = stage(
        rebuilt.where(F.col("n_removed") > 0).select(id_col, "_text_out"),
        "residue_changed",
    )
    out = None
    try:
        n_changed = changed.count()
        n_dropped = 0
        if n_changed:
            out = kept.join(changed, id_col, "left").withColumn(
                text_col, F.coalesce("_text_out", F.col(text_col))
            ).drop("_text_out")
            if drop_emptied:
                out = out.where(
                    F.col(text_col).isNull() | (F.col(text_col) != "")
                )
                n_dropped = changed.where(F.col("_text_out") == "").count()
            out = stage(out, "residue_rewritten")
            corpus.overwrite(out)
    finally:
        release_staged(changed, out)
    rows_after = corpus.read().count()
    return {
        "docs_rewritten": n_changed,
        "docs_dropped": n_dropped,
        "rows_after": rows_after,
    }
