"""Streaming corpus curation: the training-data quality gate applied
at ingest time instead of as a nightly batch.

Documents arrive as a micro-batch stream (landing-zone files, a queue
table, or any Structured Streaming source); each batch is filtered by
the same Gopher-rules expressions the batch job uses (ONE code path —
``jobs.curate_corpus.quality_gate`` works on batch and streaming
frames alike because it is a stateless projection), deduplicated
in-stream by content hash, and MERGEd idempotently into the corpus
table.

Dedup is two-layer, matching the crawl pipeline's design (ST4):
``dropDuplicatesWithinWatermark`` bounds in-flight state to the
watermark window (exact within it), and the MERGE's insert-if-absent
key handles re-deliveries and duplicates across batches/restarts —
at-least-once delivery converges to exactly-once effect.

At scale: the gate is a narrow projection (no shuffle); the dedup
state is per content-hash key, bounded by the watermark; the MERGE
matches only the batch's keys — pass a corpus bucketed on
``_content_key`` so the WRITE is also batch-scoped (an unbucketed
corpus re-snapshots the full table per batch: fine for bounded
backfills, wrong for an unbounded stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..storage import VersionedTable


def run_streaming_curation(
    docs_stream: DataFrame,
    corpus: VersionedTable,
    checkpoint_dir: str,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "10 minutes",
    compression_bounds: tuple[float, float] | None = None,
    **gate_kwargs,
) -> StreamingQuery:
    """docs stream → quality gate → in-stream dedup → idempotent MERGE.

    ``ts_col`` enables watermarked in-stream dedup (state bounded);
    without it the stream relies solely on the MERGE key for dedup.
    ``compression_bounds=(lo, hi)`` applies the zlib compression-band
    cut in-stream via the join-free ``with_compression_ratio`` form
    (stream-derived self-joins are not allowed in Structured
    Streaming); NULL-ratio rows pass, matching the batch stage.
    """
    from ..jobs.curate_corpus import quality_gate

    gated = quality_gate(docs_stream, text_col, **gate_kwargs)
    if compression_bounds is not None:
        lo, hi = compression_bounds
        if not lo <= hi:
            raise ValueError(
                f"bounds must satisfy lo <= hi, got {compression_bounds}"
            )
        from ..operators.textstats import with_compression_ratio

        gated = (
            with_compression_ratio(gated, text_col, "_cr")
            .where(F.col("_cr").isNull() | F.col("_cr").between(lo, hi))
            .drop("_cr")
        )
    gated = gated.withColumn(
        "_content_key", F.xxhash64(F.col(text_col))
    )
    if ts_col is not None:
        gated = gated.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["_content_key"]
        )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # within-batch exact dedup (first writer wins), then
        # insert-if-absent across batches — re-delivery no-ops
        batch = batch_df.dropDuplicates(["_content_key"])
        corpus.merge(batch, keys=["_content_key"])

    return (
        gated.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
