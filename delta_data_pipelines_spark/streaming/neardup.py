"""Incremental near-duplicate dedup at ingest.

The reference dedups incoming URLs against accumulated state (Redis
blooms + Mongo unique index, SURVEY §2.8); this is the content-level
analog for a training corpus: each micro-batch of documents is
near-dup-checked against EVERYTHING ingested so far without ever
recomputing the corpus — the accumulated state is a banded MinHash
signature table on storage, not in the streaming state store, so it
scales with the corpus and survives restarts for free. The state
tables are hash-bucketed ``VersionedTable``s, so the per-batch
state MERGE rewrites only the buckets the batch touches — without
that, merge-as-full-rewrite makes total ingest work O(n²).

Per micro-batch:

    1. in-batch collapse: LSH pairs within the batch → connected
       components → keep the min-id representative
    2. cross-batch filter: the survivors' (band_id, band_hash) rows
       join the signature table (stream-static equi-join — the same
       banded-LSH candidate generation as batch), candidates verified
       by exact Jaccard against the stored hashed-shingle sets
    3. survivors MERGE into the corpus; signatures of ALL batch docs
       (kept AND dropped) MERGE into the signature tables — dropped
       docs must stay matchable so transitive chains (A~B, B~C with
       A,B,C in different batches) collapse exactly like batch
       connected components

Equivalence to the batch pipeline (``near_dup_clusters`` keeping the
min-id member) holds when every component arrives as a CONNECTED
PREFIX — each member after the first is similar to some already-
arrived member — with the minimum id first; id-ordered ingest of this
corpus satisfies that and the test asserts exact set equality. Under
arbitrary arrival two invariants still hold — kept docs are pairwise
non-near-dup (every kept doc was checked against all earlier arrivals)
and every dropped doc has a similarity path to a kept doc — but the
representative is the first arrival rather than the min id, and
chain-shaped components can retain one extra representative per
disconnected arrival prefix: if A~B and B~C but not A~C, arrival order
(C, A, B) keeps both C and A — the bridge B hadn't arrived when A was
checked. ``compact_neardup_residue`` below is the standard compaction
for that residue (also exposed as the ``compact-neardups`` CLI
command). Tested in tests/test_streaming.py.

STATE LAYOUT: signatures bucket on band_hash, shingle sets on doc id
(layout v2 — v1 bucketed both on doc id). Reopening a v1 state dir
raises the table's geometry error by design; migrate by
re-ingesting, or rebuild in place with ``migrate_state_layout``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import (
    _banded,
    _candidates,
    jaccard,
    minhash_near_dup_pairs,
    minhash_signatures,
    near_dup_clusters,
)
from ..operators.staging import release_staged, stage
from ..storage import VersionedTable


def run_incremental_neardup(
    docs_stream: DataFrame,
    state_dir: str,
    corpus: VersionedTable,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    max_bucket: int = 1000,
    n_state_buckets: int = 64,
    prepare=None,
) -> StreamingQuery:
    """docs stream → in-batch collapse → vs-corpus LSH filter → MERGE.

    The signature/shingle state tables are hash-bucketed so each
    micro-batch's MERGE rewrites only the buckets the batch touches —
    per-batch write cost is
    O(batch + corpus/n_state_buckets · touched), not O(corpus). READS
    are bucket-pruned the same way: signatures are bucketed by
    band_hash (the candidate probe's key) and shingle sets by doc id
    (the verify join's key), so each batch scans only the state buckets
    its own keys hash into, not the accumulated table. Size
    ``n_state_buckets`` ≈ corpus_size / target_bucket_size (100 MB-1 GB
    buckets at scale) so the per-batch rewrite stays batch-proportional.

    ``max_bucket`` caps the per-(band_id, band_hash) fan-out on the
    ACCUMULATED signature side of the stream-static candidate join —
    the same degenerate-bucket guard as the batch path
    (operators.dedup._candidates): one boilerplate band value collecting
    millions of corpus docs would otherwise make every future batch's
    join unbounded. Docs matchable ONLY through an over-cap bucket may
    survive as extra representatives, and the compaction sweep
    collapses them only when run with a cap at least that bucket's
    size (its pair cost is quadratic in the bucket) — hence
    ``compact_neardup_residue``'s 10× higher default. Buckets hot
    enough to exceed even that are templated boilerplate by
    construction; the duplication they carry is the quality gate's
    (repetition filters) to remove, not pair verification's.
    """
    spark = docs_stream.sparkSession
    # signatures are bucketed by BAND HASH, not doc id: the per-batch
    # candidate probe filters on (band_id, band_hash), so band-keyed
    # buckets turn the stream-static join's state read into a
    # bucket-pruned scan (read_buckets of the batch's band buckets)
    # instead of a full-table scan per micro-batch. band_hash rides in
    # the merge keys — a (doc, band) row has exactly one hash, so key
    # semantics are unchanged and matching rows always share a bucket.
    sig_table = VersionedTable(
        spark, f"{state_dir}/signatures", bucket_key="band_hash",
        n_buckets=n_state_buckets,
    )
    # shingle sets are probed by doc id (the verify join), so they keep
    # doc-id buckets and the same pruned-read trick applies there
    hs_table = VersionedTable(
        spark, f"{state_dir}/shingle_sets", bucket_key=id_col,
        n_buckets=n_state_buckets,
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        staged: list[DataFrame] = []  # released when the batch is done
        batch = batch_df.dropDuplicates([id_col])
        if prepare is not None:
            # per-batch cleaning seam (jobs.incremental_curate wires
            # the frozen-model curation stages through here): applied
            # BEFORE any state interaction, so rejected docs never
            # enter the corpus, the signature state, or the shingle
            # state — exactly like batch curation ordering (clean,
            # then dedup). Staged eagerly: the sink reads the batch
            # under several branches (pair build, signatures, corpus
            # merge), and an unstaged prepare lineage — scrub regexes,
            # gate, frozen-LM scoring joins — would re-run per branch.
            batch = stage(prepare(batch), "neardup_batch")
            staged.append(batch)
        try:
            if batch.isEmpty():
                return
            # 1. in-batch near-dup collapse (same operators as the batch job)
            pairs = minhash_near_dup_pairs(batch, id_col, text_col, threshold)
            clusters = near_dup_clusters(pairs)
            reps = (
                batch.join(clusters, batch[id_col] == clusters.member_id, "left")
                .where(
                    F.col("cluster_id").isNull()
                    | (F.col("member_id") == F.col("cluster_id"))
                )
                .drop("member_id", "cluster_id")
            )
            # 2. cross-batch filter against the accumulated signature table
            sigs = stage(minhash_signatures(batch, id_col, text_col), "neardup_sigs")
            staged.append(sigs)
            banded = _banded(sigs.select(id_col, "_sig"), id_col)
            # BOTH state tables must exist: a crash between the first
            # batch's two state merges leaves sig committed but shingles
            # empty — on replay the verify join would crash reading a
            # zero-commit table. Candidates can't be verified without
            # shingle sets, so the cross-batch filter is skipped for that
            # (idempotently re-merged) batch.
            if sig_table.exists() and hs_table.exists():
                # Restrict the state side to the batch's (band_id,
                # band_hash) keys FIRST (broadcast semi-join — the batch
                # side is tiny), THEN apply the degenerate-bucket cap (the
                # batch path's _candidates guard, applied stream-static).
                # A group's count is identical after the semi-join on its
                # own group key, so the cap semantics are unchanged — but
                # the window now shuffles only the batch-matched state
                # rows, not the whole accumulated table per micro-batch.
                batch_bands = banded.select("band_id", "band_hash").distinct()
                bucket_w = Window.partitionBy("band_id", "band_hash")
                sig_src = (
                    sig_table.read_buckets(sig_table.bucket_ids_of(banded))
                    .join(
                        F.broadcast(batch_bands),
                        ["band_id", "band_hash"],
                        "left_semi",
                    )
                    .withColumn("_bn", F.count("*").over(bucket_w))
                    .where(F.col("_bn") <= max_bucket)
                    .drop("_bn")
                )
                cand = (
                    banded.withColumnRenamed(id_col, "new_id")
                    .join(
                        sig_src.withColumnRenamed(id_col, "old_id"),
                        ["band_id", "band_hash"],
                    )
                    .select("new_id", "old_id")
                    .distinct()
                )
                # candidates are batch-proportional; staged so the bucket-id
                # probe and the verify join share one evaluation
                cand = stage(cand, "neardup_candidates")
                staged.append(cand)
                hs_src = hs_table.read_buckets(hs_table.bucket_ids_of(cand, "old_id"))
                dup_ids = (
                    cand.join(
                        sigs.select(
                            F.col(id_col).alias("new_id"), F.col("_hs").alias("_hs_new")
                        ),
                        "new_id",
                    )
                    .join(
                        hs_src.select(
                            F.col(id_col).alias("old_id"), F.col("_hs").alias("_hs_old")
                        ),
                        "old_id",
                    )
                    .where(jaccard(F.col("_hs_new"), F.col("_hs_old")) >= threshold)
                    .select(F.col("new_id").alias(id_col))
                    .distinct()
                )
                reps = stage(reps.join(dup_ids, id_col, "left_anti"), "neardup_reps")
                staged.append(reps)
            # 3. publish survivors; remember EVERY batch doc's signatures.
            # First-wins consistency across BOTH state tables: a re-arriving
            # doc id (even with changed text) contributes nothing — the
            # shingle merge already ignores matched ids, and the signature
            # rows are pre-filtered to ids not yet in the shingle state
            # (band_hash is in the sig merge keys for bucketing, so without
            # this filter changed text would INSERT second-signature rows
            # describing text the stored shingle set doesn't match).
            corpus.merge(reps, keys=[id_col])
            new_banded = banded
            if hs_table.exists():
                known = hs_table.read_buckets(
                    hs_table.bucket_ids_of(sigs, id_col)
                ).select(id_col)
                new_banded = banded.join(known, id_col, "left_anti")
            sig_table.merge(new_banded, keys=[id_col, "band_id", "band_hash"])
            hs_table.merge(sigs.select(id_col, "_hs"), keys=[id_col])
            # retention: superseded bucket dirs would otherwise accumulate
            # one generation per micro-batch, forever; state tables need no
            # deep time travel, so prune beyond the last few commits
            # (manifest-referenced dirs are always kept). maybe_compact
            # first bounds ownership fan-out (generations), so the vacuums
            # can actually release old dirs and per-batch state reads stay
            # flat however long the stream runs
            sig_table.maybe_compact(16)
            hs_table.maybe_compact(16)
            sig_table.vacuum()
            hs_table.vacuum()
        finally:
            release_staged(*staged)

    return (
        docs_stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def migrate_state_layout(spark, state_dir: str) -> bool:
    """Rebuild a v1 signature state (doc-id buckets) in the v2 layout
    (band-hash buckets) so an existing deployment can resume ingest
    after upgrading. One full read + one bucketed rewrite — a one-off
    maintenance op. Returns True if migration ran, False when the
    state is already v2 or absent. The shingle-set table's layout is
    unchanged between versions."""
    import os
    import shutil

    root = f"{state_dir}/signatures"
    old = VersionedTable(spark, root)
    if not old.exists() or old.bucket_key == "band_hash":
        return False
    rows = stage(old.read(), "neardup_state_rows")
    try:
        tmp_root = root + ".migrating"
        if os.path.exists(tmp_root):
            shutil.rmtree(tmp_root)
        new = VersionedTable(
            spark, tmp_root, bucket_key="band_hash", n_buckets=old.n_buckets
        )
        new.overwrite(rows)
    finally:
        release_staged(rows)
    shutil.rmtree(root)
    os.replace(tmp_root, root)
    return True


def compact_neardup_residue(
    spark,
    state_dir: str,
    corpus: VersionedTable,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_bucket: int = 10_000,
) -> dict:
    """The periodic batch sweep the module docstring names: collapse the
    chain residue incremental ingest leaves under adversarial arrival.

    For a chain A~B~C (not A~C) arriving (C, A, B), ingest keeps both
    endpoints — the bridge B hadn't arrived when A was checked. The
    endpoints are NOT near-dups of each other, so a sweep over the
    corpus alone cannot see the component; connectivity runs through
    DROPPED docs. That is exactly why ingest merges every batch doc's
    signatures (kept AND dropped) into the state tables: this sweep
    rebuilds the pair graph from the ACCUMULATED signature/shingle
    state (the same banded-LSH candidates + exact-Jaccard verify as the
    batch path), takes connected components, and keeps the smallest
    kept member per component — the batch pipeline's deterministic
    representative rule restricted to docs still in the corpus.

    Scale posture: the candidate join is the batch `_candidates` shape
    (bucket-capped banded self-join over the state table, never
    all-pairs); the corpus rewrite only happens when residue was
    actually found. ``max_bucket`` defaults 10× HIGHER than ingest's:
    the sweep is where residue admitted through ingest's tighter cap
    gets collapsed, and as a batch job it can afford the quadratic
    cost of moderately hot buckets. Residue matchable only through
    buckets hotter than even this cap is templated boilerplate — the
    quality gate's problem, not pair verification's.
    """
    sig_table = VersionedTable(spark, f"{state_dir}/signatures")
    hs_table = VersionedTable(spark, f"{state_dir}/shingle_sets")
    if not sig_table.exists() or not corpus.exists():
        return {"pairs": 0, "removed": 0, "rows_after": 0}

    cand = _candidates(sig_table.read(), id_col, max_bucket)
    hs = hs_table.read()
    pairs = (
        cand.join(
            hs.select(F.col(id_col).alias("id_a"), F.col("_hs").alias("_hs_a")),
            "id_a",
        )
        .join(
            hs.select(F.col(id_col).alias("id_b"), F.col("_hs").alias("_hs_b")),
            "id_b",
        )
        .withColumn("jaccard_sim", jaccard(F.col("_hs_a"), F.col("_hs_b")))
        .where(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b")
    )
    # staged here: the verified pair set is built exactly once for
    # both the metric and the clustering
    pairs = stage(pairs, "residue_pairs")
    try:
        n_pairs = pairs.count()
        clusters = near_dup_clusters(pairs)
    finally:
        release_staged(pairs)
    kept = corpus.read()
    members = clusters.join(
        kept.select(F.col(id_col).alias("member_id")), "member_id"
    )
    min_w = Window.partitionBy("cluster_id")
    residue = (
        members.withColumn("_min_kept", F.min("member_id").over(min_w))
        .where(F.col("member_id") != F.col("_min_kept"))
        .select(F.col("member_id").alias(id_col))
    )
    n_removed = residue.count()
    if n_removed:
        out = stage(kept.join(residue, id_col, "left_anti"), "residue_kept")
        try:
            corpus.overwrite(out)
        finally:
            release_staged(out)
    return {
        "pairs": n_pairs,
        "removed": n_removed,
        "rows_after": kept.count() - n_removed,
    }
