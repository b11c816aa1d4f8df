"""Real Structured Streaming runs (readStream → availableNow) for the
operators whose batch twins the oracle checks — proving the same
expressions hold under micro-batch execution, watermarks, and state."""

from __future__ import annotations

import pandas as pd
import pytest

from delta_data_pipelines_spark.streaming.pipeline import (
    dedup_events,
    session_event_stats,
    sliding_event_counts,
    windowed_event_counts,
)
from delta_data_pipelines_spark.streaming.stateful import (
    running_user_totals,
    running_user_totals_batch,
)

SF_DIR = "/root/testdata/sf0.001"


def _events(spark):
    from delta_data_pipelines_spark.catalog import read_table

    return read_table(spark, SF_DIR, "events")


def _stream_from(spark, df, tmp_path, name, files=3):
    """Materialize df as `files` parquet files and open a bounded
    file-source stream over them (one file per micro-batch)."""
    data_dir = str(tmp_path / name)
    df.repartition(files).write.mode("overwrite").parquet(data_dir)
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )


def _stream_time_ordered(spark, df, tmp_path, name, slices=3, ts_col="ts"):
    """Like _stream_from, but slices rows by event time and stamps file
    mtimes in slice order, so micro-batches arrive in event-time order
    (the file source schedules oldest-mtime first). Needed for
    watermarked tests: random file order would deliver early events
    after the watermark already passed them."""
    import glob
    import os
    import shutil

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    data_dir = str(tmp_path / name)
    os.makedirs(data_dir, exist_ok=True)
    sliced = df.withColumn("_slice", F.ntile(slices).over(Window.orderBy(ts_col)))
    base = 1_600_000_000
    for i in range(1, slices + 1):
        part_dir = str(tmp_path / f"{name}_part{i}")
        sliced.where(F.col("_slice") == i).drop("_slice").coalesce(1).write.mode(
            "overwrite"
        ).parquet(part_dir)
        (src,) = glob.glob(os.path.join(part_dir, "*.parquet"))
        dst = os.path.join(data_dir, f"{i:03d}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (base + i, base + i))
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(data_dir)
    )


def _drain(stream_df, tmp_path, name, mode="append"):
    """Run a streaming query to completion, collecting every batch."""
    batches: list[pd.DataFrame] = []

    def sink(batch_df, epoch_id):
        batches.append(batch_df.toPandas())

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return pd.concat(batches) if batches else pd.DataFrame()


def _expected_emitted(spark, batch_pdf, window_minutes, watermark_minutes):
    """Append mode emits a window exactly once, when the final
    watermark (max event time − watermark delay) passes its END. The
    expected emitted set is therefore DERIVED from the batch twin, not
    a fixed ratio — a ratio bound silently flakes when the data's
    event-time span approaches the watermark width."""
    from datetime import timedelta

    from delta_data_pipelines_spark.streaming.pipeline import _with_event_time
    from pyspark.sql import functions as F

    e = _with_event_time(_events(spark))
    max_ts = e.agg(F.max("ts")).first()[0]
    cutoff = max_ts - timedelta(minutes=watermark_minutes)
    width = timedelta(minutes=window_minutes)
    return {
        (r.window_start, r.event_type)
        for r in batch_pdf.itertuples(index=False)
        if r.window_start + width <= cutoff  # window_end <= watermark
    }


def test_windowed_counts_stream_matches_batch(spark, tmp_path):
    e = _events(spark)
    batch = windowed_event_counts(e).toPandas()
    stream = _stream_time_ordered(spark, e, tmp_path, "ev_win")
    got = _drain(windowed_event_counts(stream), tmp_path, "win")
    # exact completeness: emitted windows == batch windows whose end
    # the final watermark passed (nothing missing, nothing early)
    expected = _expected_emitted(spark, batch, window_minutes=5, watermark_minutes=10)
    got_keys = {(r.window_start, r.event_type) for r in got.itertuples(index=False)}
    assert len(expected) > 0
    assert got_keys == expected
    # and every emitted window carries the complete (= batch) values
    key = ["window_start", "event_type"]
    merged = batch.merge(got, on=key, suffixes=("_b", "_s"))
    assert len(merged) == len(got)
    assert (merged["n_b"] == merged["n_s"]).all()
    assert (merged["total_value_b"] - merged["total_value_s"]).abs().max() < 1e-6


def test_sliding_counts_stream_matches_batch(spark, tmp_path):
    e = _events(spark)
    batch = sliding_event_counts(e).toPandas()
    stream = _stream_time_ordered(spark, e, tmp_path, "ev_slide")
    got = _drain(sliding_event_counts(stream), tmp_path, "slide")
    expected = _expected_emitted(spark, batch, window_minutes=10, watermark_minutes=10)
    got_keys = {(r.window_start, r.event_type) for r in got.itertuples(index=False)}
    assert len(expected) > 0
    assert got_keys == expected
    key = ["window_start", "event_type"]
    merged = batch.merge(got, on=key, suffixes=("_b", "_s"))
    assert len(merged) == len(got)
    assert (merged["n_b"] == merged["n_s"]).all()
    assert (merged["total_value_b"] - merged["total_value_s"]).abs().max() < 1e-6


def test_session_windows_stream_matches_batch(spark, tmp_path):
    from datetime import timedelta

    from pyspark.sql import functions as F

    e = _events(spark)
    batch = session_event_stats(e).toPandas()
    stream = _stream_time_ordered(spark, e, tmp_path, "ev_sess")
    got = _drain(session_event_stats(stream), tmp_path, "sess")
    key = ["session_start", "user_id"]
    merged = batch.merge(got, on=key, suffixes=("_b", "_s"))
    # Append mode emits a session once it is closed (gap elapsed) AND
    # the watermark (30 min behind max event time) passes its end.
    # Derive the exact expected subset from the batch session windows —
    # a fixed ratio bound would flake if the data span ever approached
    # the watermark width.
    ends = (
        e.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("_n"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
        )
        .toPandas()
    )
    max_ts = ends["session_end"].max() - timedelta(minutes=10)  # last event ts
    cutoff = max_ts - timedelta(minutes=30)
    must_emit = {
        (r.session_start, r.user_id)
        for r in ends.itertuples(index=False)
        if r.session_end < cutoff
    }
    got_keys = {(r.session_start, r.user_id) for r in got.itertuples(index=False)}
    assert len(must_emit) > 0
    assert must_emit <= got_keys  # every watermark-passed session emitted
    # sessions merge across micro-batches in the state store; emitted
    # sessions must be byte-identical to the batch result.
    assert len(merged) == len(got)
    assert (merged["n_events_b"] == merged["n_events_s"]).all()
    assert (merged["total_value_b"] - merged["total_value_s"]).abs().max() < 1e-6


def test_stateful_running_totals_converge_to_batch(spark, tmp_path):
    e = _events(spark).select("user_id", "ts", "value")
    stream = _stream_from(spark, e, tmp_path, "ev_state")
    got = _drain(running_user_totals(stream), tmp_path, "state", mode="update")
    assert len(got) > 0
    # update mode re-emits a key each batch it changes in: final state
    # per user = last emission. groupby.last keeps emission order.
    final = got.groupby("user_id").last().reset_index()
    expect = running_user_totals_batch(e).toPandas()
    m = expect.merge(final, on="user_id", suffixes=("_b", "_s"))
    assert len(m) == len(expect)
    assert (m["n_events_b"] == m["n_events_s"]).all()
    assert (m["total_value_b"] - m["total_value_s"]).abs().max() < 1e-6


def test_stream_dedup_drops_redelivery(spark, tmp_path):
    e = _events(spark).select("event_id", "ts", "user_id", "event_type").limit(200)
    doubled = e.union(e)  # at-least-once re-delivery (same event time →
    # same time slice, i.e. re-delivered within the watermark, which is
    # the window dropDuplicatesWithinWatermark guarantees)
    stream = _stream_time_ordered(spark, doubled, tmp_path, "ev_dup", slices=4)
    got = _drain(dedup_events(stream, keys=["event_id"]), tmp_path, "dedup")
    assert len(got) == 200
    assert got["event_id"].is_unique


def test_fetch_pipeline_merge_idempotent(spark, tmp_path):
    """queue stream → transformer → MERGE sink: re-running the same
    queue contents must not create duplicate listings (ST4)."""
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.pipeline import (
        queue_stream,
        run_fetch_pipeline,
    )

    msgs = spark.createDataFrame(
        [(f"https://example.com/ad/{i % 5}", "divar") for i in range(20)],
        "content_url string, site string",
    )
    qdir = str(tmp_path / "queue")
    msgs.repartition(2).write.mode("overwrite").parquet(qdir)
    listings = VersionedTable(spark, str(tmp_path / "listings"))

    for attempt in range(2):  # second run = full re-delivery
        q = run_fetch_pipeline(
            queue_stream(spark, qdir, msgs.schema, max_files_per_trigger=1),
            lambda df: df,
            listings,
            str(tmp_path / f"ckpt_fetch_{attempt}"),
        )
        q.awaitTermination(120)
    assert listings.read().count() == 5


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join: clicks ⋈ errors within 10 min,
    per user — must equal the batch range join once both streams drain.
    Batch twin and streaming run go through the SAME operator
    (stream_interval_join), with same-named keys on both sides — the
    self-join-ambiguity case the operator alias-qualifies away."""
    from delta_data_pipelines_spark.streaming.pipeline import stream_interval_join
    from pyspark.sql import functions as F

    e = _events(spark)
    clicks_b = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors_b = (
        e.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
        .withColumnRenamed("ts", "err_ts")
    )
    expect = {
        (r["event_id"], r["err_ts"])
        for r in stream_interval_join(
            clicks_b, errors_b, key="user_id", left_ts="ts", right_ts="err_ts",
            upper_seconds=600, watermark="30 minutes",
        ).collect()
    }

    clicks_s = _stream_time_ordered(spark, clicks_b, tmp_path, "ss_clicks")
    errors_s = _stream_time_ordered(
        spark, errors_b, tmp_path, "ss_errors", ts_col="err_ts"
    )
    joined = stream_interval_join(
        clicks_s, errors_s, key="user_id", left_ts="ts", right_ts="err_ts",
        upper_seconds=600, watermark="30 minutes",
    )
    assert joined.isStreaming
    got_df = _drain(joined, tmp_path, "ssj")
    got = {tuple(x) for x in got_df[["event_id", "err_ts"]].itertuples(index=False)}
    assert len(expect) > 0
    assert got == expect


def test_continuous_rollup_converges_to_batch(spark, tmp_path):
    """Streaming rollup table (update-mode MERGE per micro-batch) must
    equal the batch windowed aggregate once the source drains."""
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.rollup import run_rollup

    e = _events(spark)
    stream = _stream_time_ordered(spark, e, tmp_path, "ev_rollup")
    rollup = VersionedTable(spark, str(tmp_path / "rollup"))
    q = run_rollup(stream, rollup, str(tmp_path / "ckpt_rollup"))
    q.awaitTermination(120)

    got = rollup.read().toPandas().set_index(["window_start", "event_type"])
    expect = (
        windowed_event_counts(e).toPandas().set_index(["window_start", "event_type"])
    )
    assert len(got) == len(expect)
    joined = expect.join(got, lsuffix="_b", rsuffix="_s")
    assert (joined["n_b"] == joined["n_s"]).all()
    assert (joined["total_value_b"] - joined["total_value_s"]).abs().max() < 1e-6


def test_continuous_ohlc_rollup_converges_to_batch(spark, tmp_path):
    """run_rollup(agg_fn=windowed_ohlc): the incrementally maintained
    bars table must equal the batch OHLC aggregate once the source
    drains — open/close tie-breaks are deterministic, so re-emitted
    windows upsert to identical values."""
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.pipeline import windowed_ohlc
    from delta_data_pipelines_spark.streaming.rollup import run_rollup

    e = _events(spark)
    stream = _stream_time_ordered(spark, e, tmp_path, "ev_ohlc")
    bars = VersionedTable(spark, str(tmp_path / "bars"))
    q = run_rollup(
        stream, bars, str(tmp_path / "ckpt_ohlc"), agg_fn=windowed_ohlc
    )
    q.awaitTermination(120)

    key = ["window_start", "event_type"]
    got = bars.read().toPandas().set_index(key).sort_index()
    expect = windowed_ohlc(e).toPandas().set_index(key).sort_index()
    assert len(got) == len(expect)
    for col in ("open", "high", "low", "close", "n_points"):
        assert (got[col] == expect[col]).all(), col


def test_streaming_curation_matches_batch_gate(spark, tmp_path):
    """Streaming quality gate + dedup must converge to the batch gate's
    kept-set (by content), and a full re-delivery must not grow the
    corpus (idempotent MERGE on content hash)."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.jobs.curate_corpus import quality_gate
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.curate import run_streaming_curation

    docs = read_table(spark, SF_DIR, "documents")
    expect = {
        r["k"]
        for r in quality_gate(docs)
        .select(F.xxhash64("text").alias("k"))
        .distinct()
        .collect()
    }

    # bucketed corpus: the unbounded-stream configuration (per-batch
    # MERGE rewrites only touched buckets, not the whole table)
    corpus = VersionedTable(
        spark, str(tmp_path / "corpus"), bucket_key="_content_key", n_buckets=8
    )
    for attempt in range(2):  # second run = full re-delivery
        stream = _stream_from(spark, docs, tmp_path, "cur_docs")
        q = run_streaming_curation(
            stream, corpus, str(tmp_path / f"ckpt_cur_{attempt}")
        )
        q.awaitTermination(120)
        got = {r["_content_key"] for r in corpus.read().select("_content_key").collect()}
        assert got == expect, attempt


def test_incremental_neardup_converges_to_batch(spark, tmp_path):
    """Streaming near-dup dedup against the accumulated signature table
    must keep exactly the batch pipeline's representatives when cluster
    minima arrive first (id-ordered ingest), including transitive
    chains that span micro-batches."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.operators import dedup
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.neardup import run_incremental_neardup

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    # batch reference: clusters over the whole corpus, keep min-id member
    pairs = dedup.minhash_near_dup_pairs(docs, "doc_id", "text", 0.8)
    clusters = dedup.near_dup_clusters(pairs)
    expect = {
        r["doc_id"]
        for r in docs.join(clusters, docs.doc_id == clusters.member_id, "left")
        .where(
            F.col("cluster_id").isNull()
            | (F.col("member_id") == F.col("cluster_id"))
        )
        .select("doc_id")
        .collect()
    }

    # id-ordered arrival: slice stream by doc_id (reuses the mtime
    # sequencing helper with doc_id as the "time" column)
    stream = _stream_time_ordered(
        spark, docs, tmp_path, "nd_docs", slices=3, ts_col="doc_id"
    )
    corpus = VersionedTable(spark, str(tmp_path / "nd_corpus"))
    q = run_incremental_neardup(
        stream, str(tmp_path / "nd_state"), corpus, str(tmp_path / "ckpt_nd")
    )
    q.awaitTermination(180)
    got = {r["doc_id"] for r in corpus.read().select("doc_id").collect()}
    assert got == expect


def test_fetch_pipeline_checkpoint_resume(spark, tmp_path):
    """Restart recovery (ST1/ST4): a drained query restarted with the
    SAME checkpoint must process only files that arrived after the
    first run — no reprocessing — and converge to the full result."""
    import os
    import time

    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.pipeline import (
        queue_stream,
        run_fetch_pipeline,
    )

    qdir = str(tmp_path / "queue")
    os.makedirs(qdir)
    schema = "content_url string, site string"

    def land(i, urls):
        spark.createDataFrame(urls, schema).coalesce(1).write.mode(
            "append"
        ).parquet(qdir)
        time.sleep(0.05)

    land(0, [(f"https://a/{i}", "divar") for i in range(3)])
    listings = VersionedTable(spark, str(tmp_path / "listings"))
    seen_batches: list[int] = []

    def counting_transformer(df):
        seen_batches.append(df.count())
        return df

    ckpt = str(tmp_path / "ckpt_resume")  # SAME checkpoint across runs
    q = run_fetch_pipeline(
        queue_stream(spark, qdir, spark.createDataFrame([], schema).schema,
                     max_files_per_trigger=None),
        counting_transformer, listings, ckpt)
    q.awaitTermination(120)
    assert listings.read().count() == 3
    rows_first_run = sum(seen_batches)

    # new data lands while the query is DOWN; restart from checkpoint
    land(1, [(f"https://b/{i}", "divar") for i in range(2)])
    q = run_fetch_pipeline(
        queue_stream(spark, qdir, spark.createDataFrame([], schema).schema,
                     max_files_per_trigger=None),
        counting_transformer, listings, ckpt)
    q.awaitTermination(120)
    assert listings.read().count() == 5
    # only the 2 new rows flowed through the restarted query
    assert sum(seen_batches) - rows_first_run == 2


def test_stream_stream_join_state_survives_restart(spark, tmp_path):
    """A click delivered BEFORE a shutdown must still join an error
    delivered AFTER the restart: stream-stream join state lives in the
    checkpoint, so the two runs together emit exactly the batch join."""
    import time

    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.streaming.pipeline import stream_interval_join

    e = _events(spark)
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = (
        e.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
        .withColumnRenamed("ts", "err_ts")
    )
    expect_rows = stream_interval_join(
        clicks, errors, key="user_id", left_ts="ts", right_ts="err_ts",
        upper_seconds=600, watermark="30 minutes",
    ).collect()
    expect = {(r["event_id"], r["err_ts"]) for r in expect_rows}
    assert len(expect) > 0
    # pick a boundary guaranteeing a CROSS-PHASE pair: a click at ts
    # `mid` (phase 1) whose matching error arrives strictly later
    # (phase 2) — the pair only exists if join state survives restart
    strict = [r for r in expect_rows if r["err_ts"] > r["ts"]]
    assert strict, "fixture must contain a strictly-later match"
    mid = strict[0]["ts"]
    cross = {
        (r["event_id"], r["err_ts"])
        for r in expect_rows
        if r["ts"] <= mid < r["err_ts"]
    }
    assert cross

    cdir, edir = str(tmp_path / "ssr_cl"), str(tmp_path / "ssr_er")

    def land(df, d):
        df.coalesce(1).write.mode("append").parquet(d)
        time.sleep(0.05)

    land(clicks.where(F.col("ts") <= F.lit(mid)), cdir)
    land(errors.where(F.col("err_ts") <= F.lit(mid)), edir)

    outs: list[pd.DataFrame] = []
    ckpt = str(tmp_path / "ckpt_ssr")  # SAME checkpoint across runs

    def run_once():
        j = stream_interval_join(
            spark.readStream.schema(clicks.schema).parquet(cdir),
            spark.readStream.schema(errors.schema).parquet(edir),
            key="user_id", left_ts="ts", right_ts="err_ts",
            upper_seconds=600, watermark="30 minutes",
        )
        q = (
            j.writeStream.foreachBatch(
                lambda b, _e: outs.append(b.toPandas())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n_first = sum(len(p) for p in outs)
    # the cross-phase pairs cannot have been emitted yet
    assert n_first < len(expect)

    land(clicks.where(F.col("ts") > F.lit(mid)), cdir)
    land(errors.where(F.col("err_ts") > F.lit(mid)), edir)
    run_once()

    got_pairs = [
        (r.event_id, r.err_ts)
        for p in outs
        for r in p.itertuples(index=False)
    ]
    assert len(got_pairs) == len(set(got_pairs))  # no duplicate emission
    assert set(got_pairs) == expect  # includes every cross-phase pair


def test_incremental_neardup_chain_residue_under_adversarial_order(spark, tmp_path):
    """The documented arbitrary-arrival semantics: for a chain A~B~C
    (not A~C) arriving (C, A, B), the bridge B is dropped but BOTH
    endpoints stay — kept docs are pairwise non-near-dup and every
    dropped doc is similar to a kept one."""
    import glob
    import os
    import shutil
    import time as _time

    from delta_data_pipelines_spark.operators import dedup
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.neardup import run_incremental_neardup

    words = [f"w{i}" for i in range(50)]
    a_text = " ".join(words)
    b_text = " ".join(words[:-3] + ["x1", "x2", "x3"])          # ~A at tail
    c_text = " ".join(["y1", "y2", "y3"] + words[3:-3] + ["x1", "x2", "x3"])
    docs = spark.createDataFrame(
        [(1, a_text), (2, b_text), (3, c_text)], "doc_id long, text string"
    )
    # precondition: the pair graph is exactly the A-B, B-C chain
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_dup_pairs(docs, "doc_id", "text", 0.8).collect()
    }
    assert pairs == {(1, 2), (2, 3)}

    # stream in adversarial order C, A, B (one file per micro-batch,
    # mtime-sequenced so the file source delivers in that order)
    data_dir = str(tmp_path / "chain_docs")
    os.makedirs(data_dir)
    for i, doc_id in enumerate([3, 1, 2]):
        part = str(tmp_path / f"chain_{doc_id}")
        docs.where(f"doc_id = {doc_id}").coalesce(1).write.mode("overwrite").parquet(part)
        (src,) = glob.glob(os.path.join(part, "*.parquet"))
        dst = os.path.join(data_dir, f"{i:03d}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))
        _time.sleep(0.02)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(data_dir)
    )
    corpus = VersionedTable(spark, str(tmp_path / "chain_corpus"))
    q = run_incremental_neardup(
        stream, str(tmp_path / "chain_state"), corpus, str(tmp_path / "ckpt_chain")
    )
    q.awaitTermination(180)
    kept = {r["doc_id"] for r in corpus.read().collect()}
    assert kept == {3, 1}  # both endpoints kept, bridge B dropped

    # bounded state writes (the 100 TB ingest-cost contract): shingle
    # sets are doc-id-bucketed — a 1-doc batch rewrites exactly ONE
    # bucket; signatures are BAND-HASH-bucketed (so candidate probes
    # read bucket-pruned) — a 1-doc batch writes at most its BANDS=16
    # band buckets, bounded by the batch's bands, never the table
    from delta_data_pipelines_spark.operators.dedup import BANDS
    from delta_data_pipelines_spark.storage import VersionedTable

    hs = VersionedTable(
        spark, str(tmp_path / "chain_state" / "shingle_sets"), bucket_key="doc_id"
    )
    merges = [c for c in hs.history() if c.action == "merge"]
    assert len(merges) == 3
    assert all(c.metrics["buckets_written"] == 1 for c in merges)
    sig = VersionedTable(
        spark, str(tmp_path / "chain_state" / "signatures"), bucket_key="band_hash"
    )
    merges = [c for c in sig.history() if c.action == "merge"]
    assert len(merges) == 3
    assert all(1 <= c.metrics["buckets_written"] <= BANDS for c in merges)

    # the documented compaction: the sweep rebuilds the pair graph from
    # the ACCUMULATED state (connectivity runs through dropped bridge
    # B), so the {1,2,3} component collapses to its smallest kept
    # member — exactly the batch pipeline's representative
    from delta_data_pipelines_spark.streaming.neardup import (
        compact_neardup_residue,
    )

    res = compact_neardup_residue(spark, str(tmp_path / "chain_state"), corpus)
    assert res["removed"] == 1
    assert {r["doc_id"] for r in corpus.read().collect()} == {1}
    # idempotent: a second sweep finds nothing
    res2 = compact_neardup_residue(spark, str(tmp_path / "chain_state"), corpus)
    assert res2["removed"] == 0


def test_compact_neardup_residue_handles_missing_state(spark, tmp_path):
    """Running the sweep before any ingest (or against a wrong path)
    must return the zero result, not crash in the VersionedTable
    constructor — and must not scatter metadata into the state dir."""
    import os

    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.neardup import (
        compact_neardup_residue,
    )

    corpus = VersionedTable(spark, str(tmp_path / "corpus"))
    corpus.overwrite(
        spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    )
    res = compact_neardup_residue(spark, str(tmp_path / "never_ingested"), corpus)
    assert res == {"pairs": 0, "removed": 0, "rows_after": 0}
    assert not os.path.exists(
        str(tmp_path / "never_ingested" / "signatures" / "_meta.json")
    )


def test_incremental_vocab_sketch_converges_to_batch(spark, tmp_path):
    """The streamed per-language KMV state after N micro-batches must
    be BIT-IDENTICAL to the batch sketch over the whole corpus —
    bottom-k merge is order/batching-insensitive — while holding only
    O(langs·k) state. Also: re-merging a batch (restart replay) is a
    no-op."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.operators.sketches import kmv_sketch
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.sketch_state import (
        merge_sketches,
        run_incremental_vocab_sketch,
    )

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    stream = _stream_from(spark, docs, tmp_path, "vocab_docs", files=4)
    state = VersionedTable(spark, str(tmp_path / "vocab_state"))
    q = run_incremental_vocab_sketch(
        stream, state, str(tmp_path / "vocab_ckpt"), k=64
    )
    q.awaitTermination(120)

    toks = docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
    expect = {
        r["lang"]: (tuple(r["sketch"]), r["n_est"])
        for r in kmv_sketch(toks, ["lang"], "token", k=64).collect()
    }
    got = {
        r["lang"]: (tuple(r["sketch"]), r["n_est"])
        for r in state.read().collect()
    }
    assert got == expect
    # replay idempotence: merging any batch's sketch again changes nothing
    replay = kmv_sketch(
        docs.limit(100).select(
            "lang", F.explode(F.split("text", " ")).alias("token")
        ),
        ["lang"],
        "token",
        k=64,
    )
    merged = merge_sketches(state.read(), replay, ["lang"], 64)
    got2 = {
        r["lang"]: (tuple(r["sketch"]), r["n_est"]) for r in merged.collect()
    }
    assert got2 == expect


def test_incremental_heavy_hitters_state(spark, tmp_path):
    """Streaming Misra-Gries state: after draining the stream, every
    token whose TRUE corpus frequency exceeds n/k must be present in
    the O(k) state (the mergeable-summaries guarantee across
    micro-batches), n_total must be exact, the state must respect the
    k-1 budget, and each stored mg_count must lower-bound the true
    count within n/k."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.sketch_state import (
        merge_mg_summaries,
        run_incremental_heavy_hitters,
    )

    k = 20
    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    stream = _stream_from(spark, docs, tmp_path, "hh_docs", files=4)
    state = VersionedTable(spark, str(tmp_path / "hh_state"))
    q = run_incremental_heavy_hitters(
        stream, state, str(tmp_path / "hh_ckpt"), k=k
    )
    q.awaitTermination(120)

    toks = docs.select(F.explode(F.split("text", " ")).alias("item")).where(
        F.col("item") != ""
    )
    true_counts = {
        r["item"]: r["cnt"]
        for r in toks.groupBy("item").agg(F.count("*").alias("cnt")).collect()
    }
    n = sum(true_counts.values())
    rows = state.read().collect()
    # exactly one metadata row (item NULL) carries n_total/_epoch even
    # when the summary itself would prune empty
    assert sum(1 for r in rows if r["item"] is None) == 1
    got = {r["item"]: r for r in rows if r["item"] is not None}
    assert len(got) <= k - 1
    assert all(r["n_total"] == n for r in rows)
    heavies = {i for i, c in true_counts.items() if c > n / k}
    assert heavies <= set(got)  # superset guarantee survived batching
    for item, r in got.items():
        true = true_counts[item]
        assert r["mg_count"] <= true  # lower bound...
        assert true - r["mg_count"] <= n / k  # ...within the MG error

    # replay protection: merging an already-seen epoch is a no-op
    # because the sink checks the stored _epoch (simulate by calling
    # merge directly — counts WOULD inflate without the epoch guard)
    summary = state.read().where(F.col("item").isNotNull())
    before = {(r["item"], r["mg_count"]) for r in summary.collect()}
    inflated = merge_mg_summaries(
        summary.select("item", "mg_count"),
        summary.select("item", "mg_count"),
        k,
    )
    after = {(r["item"], r["mg_count"]) for r in inflated.collect()}
    assert after != before  # the guard is load-bearing, not decorative


def test_incremental_heavy_hitters_survives_all_tied_batch(spark, tmp_path):
    """The state-wipe regression: a first batch whose tokens are ALL
    distinct (tied counts) legitimately prunes the MG summary to zero
    data rows — subtracting the k-th largest from identical counts
    kills everything. n_total and the replay guard must survive on
    the metadata row, and the next batch must keep accumulating from
    the true running total, not restart at zero."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.sketch_state import (
        run_incremental_heavy_hitters,
    )

    k = 5
    # slice 1: 40 distinct singleton tokens (>= k, all tied)
    # slice 2: one clear heavy hitter
    docs = spark.createDataFrame(
        [(1, " ".join(f"u{i}" for i in range(40)))]
        + [(2, " ".join(["HOT"] * 30))],
        "doc_id long, text string",
    )
    stream = _stream_time_ordered(
        spark, docs, tmp_path, "hh_tied", slices=2, ts_col="doc_id"
    )
    state = VersionedTable(spark, str(tmp_path / "hh_tied_state"))
    q = run_incremental_heavy_hitters(
        stream, state, str(tmp_path / "hh_tied_ckpt"), k=k
    )
    q.awaitTermination(120)
    rows = state.read().collect()
    assert all(r["n_total"] == 70 for r in rows)  # 40 + 30, never reset
    summary = {r["item"]: r["mg_count"] for r in rows if r["item"] is not None}
    assert "HOT" in summary  # freq 30 > 70/5
    assert summary["HOT"] <= 30 and 30 - summary["HOT"] <= 70 / k


def test_merge_sketches_null_group_merges_not_duplicates(spark):
    """NULL group keys must MERGE (null-safe join), not duplicate: a
    plain equi-join never matches NULL, which would grow one extra
    null-group state row per micro-batch with wrong estimates."""
    from delta_data_pipelines_spark.operators.sketches import kmv_sketch
    from delta_data_pipelines_spark.streaming.sketch_state import (
        merge_sketches,
    )

    a = spark.createDataFrame(
        [(None, f"t{i}") for i in range(10)], "lang string, token string"
    )
    b = spark.createDataFrame(
        [(None, f"u{i}") for i in range(10)] + [("en", "x")],
        "lang string, token string",
    )
    sa = kmv_sketch(a, ["lang"], "token", k=64)
    sb = kmv_sketch(b, ["lang"], "token", k=64)
    merged = merge_sketches(sa, sb, ["lang"], 64).collect()
    by_lang = {r["lang"]: r for r in merged}
    assert len(merged) == 2 and None in by_lang and "en" in by_lang
    assert by_lang[None]["n_est"] == 20.0  # 10 + 10 distinct, merged
    # bit-identical to the batch sketch over the union
    union_sketch = kmv_sketch(
        a.unionByName(b), ["lang"], "token", k=64
    ).collect()
    expect = {r["lang"]: (tuple(r["sketch"]), r["n_est"]) for r in union_sketch}
    got = {r["lang"]: (tuple(r["sketch"]), r["n_est"]) for r in merged}
    assert got == expect


def test_neardup_state_layout_migration(spark, tmp_path):
    """A v1 signature state (doc-id buckets) must be rebuildable in
    place into the v2 band-hash layout with identical rows, after which
    the ingest constructor accepts it."""
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.neardup import (
        migrate_state_layout,
    )

    state = tmp_path / "mig_state"
    v1 = VersionedTable(
        spark, str(state / "signatures"), bucket_key="doc_id", n_buckets=8
    )
    rows = spark.createDataFrame(
        [(i, b, i * 31 + b) for i in range(20) for b in range(4)],
        "doc_id bigint, band_id int, band_hash bigint",
    )
    v1.overwrite(rows)
    before = {
        (r["doc_id"], r["band_id"], r["band_hash"]) for r in v1.read().collect()
    }
    assert migrate_state_layout(spark, str(state)) is True
    v2 = VersionedTable(spark, str(state / "signatures"))
    assert v2.bucket_key == "band_hash" and v2.n_buckets == 8
    after = {
        (r["doc_id"], r["band_id"], r["band_hash"]) for r in v2.read().collect()
    }
    assert after == before
    # idempotent: already-v2 state is a no-op, absent state too
    assert migrate_state_layout(spark, str(state)) is False
    assert migrate_state_layout(spark, str(tmp_path / "nope")) is False


def test_neardup_reingest_changed_text_keeps_state_consistent(
    spark, tmp_path
):
    """First-wins across BOTH state tables: a doc id that re-arrives
    with DIFFERENT text must contribute nothing — without the pre-merge
    filter the signature table would grow second-signature rows whose
    stored shingle sets describe other text."""
    import glob
    import os
    import shutil
    import time as _time

    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.neardup import (
        run_incremental_neardup,
    )

    d1 = "alpha beta gamma delta epsilon zeta eta theta"
    d1b = "totally different words in the second arrival of same id"
    docs = spark.createDataFrame(
        [(1, d1), (1, d1b), (2, "unrelated content words here only")],
        "doc_id long, text string",
    )
    data_dir = str(tmp_path / "ri_docs")
    os.makedirs(data_dir, exist_ok=True)
    for i, (doc_id, txt) in enumerate([(1, d1), (1, d1b), (2, None)]):
        part = str(tmp_path / f"ri_{i}")
        sub = docs.where(
            (docs.doc_id == doc_id)
            & (docs.text == (txt if txt else docs.text))
        ).limit(1)
        sub.coalesce(1).write.mode("overwrite").parquet(part)
        (src,) = glob.glob(os.path.join(part, "*.parquet"))
        dst = os.path.join(data_dir, f"{i:03d}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))
        _time.sleep(0.02)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(data_dir)
    )
    corpus = VersionedTable(spark, str(tmp_path / "ri_corpus"))
    q = run_incremental_neardup(
        stream, str(tmp_path / "ri_state"), corpus, str(tmp_path / "ri_ckpt")
    )
    q.awaitTermination(180)
    sig = VersionedTable(spark, str(tmp_path / "ri_state" / "signatures"))
    hs = VersionedTable(spark, str(tmp_path / "ri_state" / "shingle_sets"))
    # doc 1 has exactly ONE signature set (first arrival's 16 bands)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in sig.read()
        .groupBy("doc_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    from delta_data_pipelines_spark.operators.dedup import BANDS

    assert per_doc == {1: BANDS, 2: BANDS}
    assert hs.read().where("doc_id = 1").count() == 1


def test_jsonl_stream_ingest_with_quarantine(spark, tmp_path):
    """Streaming JSONL shard ingest: one shard per micro-batch, the
    same parse as the batch reader — clean rows MERGE into a versioned
    table, malformed lines accumulate in a quarantine table, nothing
    is fatal."""
    import os

    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.ingest.jsonl import (
        read_jsonl_stream,
        split_corrupt,
    )
    from delta_data_pipelines_spark.storage import VersionedTable

    src = str(tmp_path / "shards")
    os.makedirs(src)
    with open(os.path.join(src, "shard-000.jsonl"), "w") as f:
        f.write('{"doc_id": 1, "text": "a b"}\n{"doc_id": 2, "text": "c d"}\n')
    with open(os.path.join(src, "shard-001.jsonl"), "w") as f:
        f.write('{"doc_id": 3, "text": "e f"}\n{"doc_id": 4, "text": OOPS\n')

    stream = read_jsonl_stream(spark, src, "doc_id long, text string")
    corpus = VersionedTable(spark, str(tmp_path / "jl_corpus"))
    quarantine = VersionedTable(spark, str(tmp_path / "jl_quarantine"))

    def sink(batch_df, epoch_id):
        clean, bad = split_corrupt(batch_df)
        corpus.merge(clean, keys=["doc_id"])
        if not bad.isEmpty():
            # append handles the no-table-yet case itself
            quarantine.append(bad.withColumn("epoch", F.lit(epoch_id)))

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "jl_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["doc_id"], r["text"]) for r in corpus.read().collect()}
    assert got == {(1, "a b"), (2, "c d"), (3, "e f")}
    bad = quarantine.read().collect()
    assert len(bad) == 1 and "OOPS" in bad[0]["raw"]


def test_incremental_heavy_hitters_rejects_foreign_checkpoint(spark, tmp_path):
    """MG state tables are bound to ONE checkpoint lifetime: epoch ids
    restart at 0 under a new checkpoint dir, so the replay guard would
    silently skip every batch (and merging would double-count the
    replayed source). A restart against the same state with a
    DIFFERENT checkpoint dir must fail loudly, and the state must be
    left untouched."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.sketch_state import (
        run_incremental_heavy_hitters,
    )

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text").limit(40)
    state = VersionedTable(spark, str(tmp_path / "hhf_state"))

    stream1 = _stream_from(spark, docs, tmp_path, "hhf_docs1", files=2)
    q1 = run_incremental_heavy_hitters(
        stream1, state, str(tmp_path / "hhf_ckpt1"), k=10
    )
    q1.awaitTermination(120)
    before = sorted(
        ((r["item"] or "", r["mg_count"]) for r in state.read().collect())
    )
    assert before  # state exists

    stream2 = _stream_from(spark, docs, tmp_path, "hhf_docs2", files=2)
    q2 = run_incremental_heavy_hitters(
        stream2, state, str(tmp_path / "hhf_ckpt2"), k=10
    )
    with pytest.raises(StreamingQueryException, match="checkpoint"):
        q2.awaitTermination(120)
        raise RuntimeError("stream should have failed")  # pragma: no cover
    after = sorted(
        ((r["item"] or "", r["mg_count"]) for r in state.read().collect())
    )
    assert after == before  # state untouched by the rejected run


def test_incremental_curation_converges_to_frozen_batch(spark, tmp_path):
    """End-to-end continuous curation: frozen reference model (unigram
    LM + threshold + heldout grams) applied per micro-batch through
    the neardup prepare seam must produce EXACTLY the set a one-shot
    batch run of the same frozen stages + batch near-dup collapse
    produces (id-ordered ingest, as the neardup equivalence test).
    Also: heldout documents themselves stream in and must be dropped
    as contaminated (they share all their grams with the heldout set)."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.jobs.incremental_curate import (
        FrozenCurationModel,
        curate_batch,
        fit_reference_model,
        run_incremental_curation,
    )
    from delta_data_pipelines_spark.operators import dedup
    from delta_data_pipelines_spark.storage import VersionedTable

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    ref = docs.where(F.col("doc_id") % 3 == 0)
    heldout = docs.where(F.col("doc_id") % 7 == 0)

    model = FrozenCurationModel(spark, str(tmp_path / "frozen"))
    meta = fit_reference_model(model, ref, heldout)
    assert meta["lm_threshold"] is not None and meta["total_tokens"] > 0

    # batch expectation under the SAME frozen model: clean all docs,
    # then batch near-dup collapse keeping the min-id representative
    cleaned = curate_batch(docs, model).localCheckpoint(eager=True)
    pairs = dedup.minhash_near_dup_pairs(cleaned, "doc_id", "text", 0.8)
    clusters = dedup.near_dup_clusters(pairs)
    expect = {
        r["doc_id"]
        for r in cleaned.join(
            clusters, cleaned.doc_id == clusters.member_id, "left"
        )
        .where(
            F.col("cluster_id").isNull()
            | (F.col("member_id") == F.col("cluster_id"))
        )
        .select("doc_id")
        .collect()
    }
    assert expect  # the gate must not have emptied the corpus

    stream = _stream_time_ordered(
        spark, docs, tmp_path, "ic_docs", slices=3, ts_col="doc_id"
    )
    corpus = VersionedTable(spark, str(tmp_path / "ic_corpus"))
    q = run_incremental_curation(
        stream,
        model,
        str(tmp_path / "ic_state"),
        corpus,
        str(tmp_path / "ckpt_ic"),
    )
    q.awaitTermination(240)
    got = {r["doc_id"] for r in corpus.read().select("doc_id").collect()}
    assert got == expect
    # heldout docs streamed in but are contaminated by construction
    heldout_long = {
        r["doc_id"]
        for r in heldout.where(
            F.size(F.split("text", " ")) >= meta["decont_n"]
        ).collect()
    }
    assert heldout_long and not (got & heldout_long)


def test_incremental_curation_full_stack_converges(spark, tmp_path):
    """The FULL frozen stack — per-language-free KN bigram LM cut,
    DSIR weight floor, NB+logreg ensemble classifier (AND policy),
    decontamination — composed in ONE model and applied per
    micro-batch must converge to the one-shot batch run of the same
    frozen stages + batch near-dup collapse. This is the composition
    proof for the r13 additions: column contracts and passthrough
    invariants hold when every optional stage is on simultaneously."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.jobs.incremental_curate import (
        FrozenCurationModel,
        curate_batch,
        fit_reference_model,
        run_incremental_curation,
    )
    from delta_data_pipelines_spark.operators import dedup
    from delta_data_pipelines_spark.storage import VersionedTable

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    ref = docs.where(F.col("doc_id") % 3 == 0)
    heldout = docs.where(F.col("doc_id") % 7 == 0)

    model = FrozenCurationModel(spark, str(tmp_path / "frozen_full"))
    meta = fit_reference_model(
        model,
        ref,
        heldout,
        lm="kn",
        dsir_keep_fraction=0.9,
        classifier="both",
        classifier_keep_fraction=0.9,
        ensemble_policy="and",
    )
    assert meta["lm"] == "kn" and meta["classifier"] == "both"
    assert meta["dsir_threshold"] is not None
    assert meta["nb_threshold"] is not None

    cleaned = curate_batch(docs, model).localCheckpoint(eager=True)
    assert cleaned.count() > 0, "full stack emptied the corpus"
    pairs = dedup.minhash_near_dup_pairs(cleaned, "doc_id", "text", 0.8)
    clusters = dedup.near_dup_clusters(pairs)
    expect = {
        r["doc_id"]
        for r in cleaned.join(
            clusters, cleaned.doc_id == clusters.member_id, "left"
        )
        .where(
            F.col("cluster_id").isNull()
            | (F.col("member_id") == F.col("cluster_id"))
        )
        .select("doc_id")
        .collect()
    }

    stream = _stream_time_ordered(
        spark, docs, tmp_path, "icf_docs", slices=3, ts_col="doc_id"
    )
    corpus = VersionedTable(spark, str(tmp_path / "icf_corpus"))
    q = run_incremental_curation(
        stream,
        model,
        str(tmp_path / "icf_state"),
        corpus,
        str(tmp_path / "ckpt_icf"),
    )
    q.awaitTermination(240)
    got = {r["doc_id"] for r in corpus.read().select("doc_id").collect()}
    assert got == expect


def test_incremental_ann_ingest_converges_to_batch(spark, tmp_path):
    """Streaming embedding ingest through the ANN append path: after
    draining, a PQ store built on the first slice and streamed the
    rest serves EXACTLY what a batch build-then-append produces, and
    every drained batch logged a drift measurement against the
    build-time baseline."""
    from delta_data_pipelines_spark.jobs.ann_index import (
        PQIndexStore,
        refresh_pq_index,
        run_incremental_ann_ingest,
        serve_pq_topk,
    )
    from delta_data_pipelines_spark.operators.similarity import pq_encode

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    build = e.where(e.vec_id < 100)
    rest = e.where(e.vec_id >= 100)
    q = e.where(e.vec_id < 5)

    store = PQIndexStore(spark, str(tmp_path / "annstream"))
    refresh_pq_index(store, build, m=4, k=4, n_iter=2)

    stream = _stream_from(spark, rest, tmp_path, "ann_vecs", files=3)
    drift = []
    qry = run_incremental_ann_ingest(
        stream, store, str(tmp_path / "ann_ckpt"), drift_log=drift
    )
    qry.awaitTermination(120)

    assert len(drift) >= 1
    assert all(
        d["baseline_mean_sim"] is not None
        and (d["batch_mean_sim"] is None or 0 < d["batch_mean_sim"] <= 1)
        for d in drift
    )
    # codes table == build codes + stored-codebook encoding of the rest
    expect = sorted(
        tuple(r)
        for r in pq_encode(e, store.codebook.read(), m=4).collect()
    )
    got = sorted(tuple(r) for r in store.codes.read().collect())
    assert got == expect
    # and the serve path works against the streamed-in state
    assert serve_pq_topk(store, q, topk=5).count() == 25


def test_streaming_compression_band_matches_batch_stage(spark, tmp_path):
    """The in-stream compression band (join-free with_compression_ratio
    form) must keep exactly the docs the batch compression_filter_stage
    keeps on the same input."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.jobs.curate_corpus import (
        compression_filter_stage,
        quality_gate,
    )
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.curate import (
        run_streaming_curation,
    )

    docs = read_table(spark, SF_DIR, "documents")
    bounds = (0.55, 1.1)  # floor near the median so the band cuts
    batch_kept = compression_filter_stage(quality_gate(docs), bounds=bounds)
    expect = {
        r["k"]
        for r in batch_kept.select(F.xxhash64("text").alias("k"))
        .distinct()
        .collect()
    }
    n_gated = quality_gate(docs).count()
    assert 0 < len(expect) < n_gated  # the band cuts something

    corpus = VersionedTable(
        spark, str(tmp_path / "corpus_cb"), bucket_key="_content_key",
        n_buckets=8,
    )
    stream = _stream_from(spark, docs, tmp_path, "cb_docs")
    q = run_streaming_curation(
        stream, corpus, str(tmp_path / "ckpt_cb"),
        compression_bounds=bounds,
    )
    q.awaitTermination(120)
    got = {
        r["_content_key"]
        for r in corpus.read().select("_content_key").collect()
    }
    assert got == expect


def test_incremental_heavy_hitters_accepts_pre_run_column_state(
    spark, tmp_path
):
    """A state table written before the _run column existed (legacy
    layout: item, mg_count, n_total, _epoch) must be readable on
    resume — the legacy pass-through branch, not an
    unresolved-column AnalysisException."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.sketch_state import (
        run_incremental_heavy_hitters,
    )

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text").limit(
        40
    )
    state = VersionedTable(spark, str(tmp_path / "hhl_state"))
    # legacy layout: seed a prior epoch's summary WITHOUT _run
    legacy = spark.createDataFrame(
        [("the", 5, 100, -1)], "item string, mg_count bigint, n_total bigint, _epoch long"
    )
    state.overwrite(legacy)

    stream = _stream_from(spark, docs, tmp_path, "hhl_docs", files=2)
    q = run_incremental_heavy_hitters(
        stream, state, str(tmp_path / "hhl_ckpt"), k=10
    )
    q.awaitTermination(120)
    out = state.read()
    assert out.count() > 0
    # the resumed stream merged on top of the legacy counts
    assert out.agg(F.max("_epoch")).collect()[0][0] >= 0


def test_incremental_cm_state_equals_batch_sketch(spark, tmp_path):
    """Streaming Count-Min state: after draining the stream the stored
    counter table must be CELL-IDENTICAL to the batch sketch over the
    whole corpus (addition is associative — batching is invisible),
    n_total exact, estimates via cm_query never under the true counts,
    and a restart under a different checkpoint dir must refuse."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.operators.sketches import cm_query, cm_sketch
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.sketch_state import (
        run_incremental_cm,
    )

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    stream = _stream_from(spark, docs, tmp_path, "cm_docs", files=4)
    state = VersionedTable(spark, str(tmp_path / "cm_state"))
    q = run_incremental_cm(
        stream, state, str(tmp_path / "cm_ckpt"), d=4, w=128
    )
    q.awaitTermination(120)

    toks = docs.select(F.explode(F.split("text", " ")).alias("item")).where(
        F.col("item") != ""
    )
    batch = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cm_sketch(toks, "item", d=4, w=128).collect()
    }
    rows = state.read().collect()
    stored = {(r["row"], r["bucket"]): r["cnt"] for r in rows}
    assert stored == batch  # batching is invisible
    n = toks.count()
    assert all(r["n_total"] == n for r in rows)

    true_counts = toks.groupBy("item").agg(F.count("*").alias("cnt"))
    est = cm_query(
        state.read(), true_counts.select("item"), "item", d=4, w=128
    )
    joined = true_counts.join(
        est, true_counts["item"] == est["item"]
    ).select(true_counts["item"], "cnt", "n_est").collect()
    assert joined and all(r["n_est"] >= r["cnt"] for r in joined)

    # foreign checkpoint dir: refuse rather than skip/double-merge
    stream2 = _stream_from(spark, docs, tmp_path, "cm_docs2", files=2)
    q2 = run_incremental_cm(
        stream2, state, str(tmp_path / "cm_ckpt_other"), d=4, w=128
    )
    with _pytest.raises(Exception, match="checkpoint"):
        q2.awaitTermination(120)
        q2.processAllAvailable()


def test_incremental_hll_state_equals_batch_and_survives_replay(spark, tmp_path):
    """Streaming HLL: drained state registers == the batch sketch over
    the whole corpus; re-merging the full state into itself (the
    replay worst case) is a NO-OP — idempotent max, which is why this
    sink needs no epoch transaction."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.operators.sketches import (
        hll_estimate,
        hll_sketch,
    )
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.sketch_state import (
        merge_hll_registers,
        run_incremental_hll,
    )

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    stream = _stream_from(spark, docs, tmp_path, "hll_docs", files=4)
    state = VersionedTable(spark, str(tmp_path / "hll_state"))
    q = run_incremental_hll(stream, state, str(tmp_path / "hll_ckpt"), m=256)
    q.awaitTermination(120)

    toks = docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
    batch = {
        (r["lang"], r["j"]): r["mx"]
        for r in hll_sketch(toks, ["lang"], "token", m=256).collect()
    }
    stored = {
        (r["lang"], r["j"]): r["mx"] for r in state.read().collect()
    }
    assert stored == batch

    replayed = {
        (r["lang"], r["j"]): r["mx"]
        for r in merge_hll_registers(
            state.read(), state.read(), ["lang"]
        ).collect()
    }
    assert replayed == stored  # idempotent — no epoch guard needed

    est = {
        r["lang"]: r["n_est"]
        for r in hll_estimate(state.read(), ["lang"], m=256).collect()
    }
    exact = {
        r["lang"]: r["n"]
        for r in toks.groupBy("lang")
        .agg(F.countDistinct("token").alias("n"))
        .collect()
    }
    for lang, n in exact.items():
        assert abs(est[lang] - n) / max(n, 1) < 0.30, (lang, est[lang], n)


def test_stream_stream_interval_join_left_outer(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: drained streaming
    results equal the batch outer twin — matched pairs identical, and
    every unmatched click emits exactly once with NULL right columns
    (provable-absence emission once the watermark passes the bound)."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.streaming.pipeline import (
        stream_interval_join,
    )

    e = _events(spark)
    clicks_b = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors_b = (
        e.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
        .withColumnRenamed("ts", "err_ts")
    )
    kw = dict(key="user_id", left_ts="ts", right_ts="err_ts",
              upper_seconds=600, watermark="30 minutes")
    expect = {
        (r["event_id"], r["err_ts"])
        for r in stream_interval_join(
            clicks_b, errors_b, how="left_outer", **kw
        ).collect()
    }
    n_clicks = clicks_b.count()
    inner = stream_interval_join(clicks_b, errors_b, **kw).collect()
    # outer = inner pairs + one NULL row per fully-unmatched click
    matched_clicks = {r["event_id"] for r in inner}
    assert len(expect) == len(inner) + (n_clicks - len(matched_clicks))

    clicks_s = _stream_time_ordered(spark, clicks_b, tmp_path, "lo_clicks")
    errors_s = _stream_time_ordered(
        spark, errors_b, tmp_path, "lo_errors", ts_col="err_ts"
    )
    joined = stream_interval_join(
        clicks_s, errors_s, how="left_outer", **kw
    )
    assert joined.isStreaming
    got_df = _drain(joined, tmp_path, "ssjlo")
    got = {
        (x.event_id, None if x.err_ts is pd.NaT else x.err_ts)
        for x in got_df[["event_id", "err_ts"]].itertuples(index=False)
    }
    # the drained stream holds back unmatched clicks whose proof
    # deadline (ts + upper) the FINAL watermark never passed: when the
    # source ends, the global watermark stops at
    # min(max event time per side) - delay, and absence past it is
    # unprovable — Spark's outer-join contract, so the expectation is
    # batch MINUS that tail
    import datetime as _dt

    final_wm = min(
        clicks_b.agg(F.max("ts")).collect()[0][0],
        errors_b.agg(F.max("err_ts")).collect()[0][0],
    ) - _dt.timedelta(minutes=30)
    deadline_by_click = {
        r["event_id"]: r["ts"] + _dt.timedelta(seconds=600)
        for r in clicks_b.collect()
    }
    expect_stream = {
        (eid, ts)
        for eid, ts in expect
        if ts is not None or deadline_by_click[eid] < final_wm
    }
    assert got == expect_stream
    # and the held-back tail is exactly the batch-minus-stream gap
    held = {(e, t) for e, t in expect if (e, t) not in expect_stream}
    assert all(t is None for _, t in held)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="how must be"):
        stream_interval_join(clicks_b, errors_b, how="full", **kw)


def test_progress_log_collects_per_batch_metrics(spark, tmp_path):
    """streaming.metrics.ProgressLog: the listener records one entry
    per committed micro-batch with the input-row count summing to the
    source size, and a watermarked stateful query reports state rows.
    Events arrive asynchronously — wait_for polls the bus."""
    from delta_data_pipelines_spark.streaming.metrics import ProgressLog

    e = _events(spark).limit(300)
    n_src = e.count()
    stream = _stream_time_ordered(spark, e, tmp_path, "ev_metrics")
    log = ProgressLog().attach(spark)
    try:
        got = _drain(windowed_event_counts(stream), tmp_path, "metrics")
        assert log.wait_for(
            lambda b: sum(x["num_input_rows"] for x in b) >= n_src
        ), log.batches
    finally:
        log.detach(spark)
    assert len(got) > 0
    rows = log.batches
    assert sum(x["num_input_rows"] for x in rows) == n_src
    # the windowed agg is stateful: some batch must report state rows
    assert any(x["state_rows"] > 0 for x in rows), rows
    assert all(x["batch_id"] is not None for x in rows)


def test_incremental_curation_with_frozen_dsir_and_drift_log(spark, tmp_path):
    """The stream + frozen-DSIR composition: every document the stream
    admits into the corpus satisfies the frozen weight floor (scored
    under the STORED log-ratio table), and drift_log received one
    batch_drift entry per drained micro-batch with sane fields."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.jobs.curate_corpus import (
        quality_gate,
        scrub_stage,
    )
    from delta_data_pipelines_spark.jobs.incremental_curate import (
        FrozenCurationModel,
        fit_reference_model,
        run_incremental_curation,
    )
    from delta_data_pipelines_spark.operators import dsir
    from delta_data_pipelines_spark.storage import VersionedTable

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    ref = docs.where(F.col("doc_id") % 3 == 0)
    heldout = docs.where(F.col("doc_id") % 7 == 0)
    model = FrozenCurationModel(spark, str(tmp_path / "fzs"))
    meta = fit_reference_model(
        model, ref, heldout, dsir_keep_fraction=0.6, dsir_n_buckets=256
    )
    assert meta["dsir_threshold"] is not None

    stream = _stream_time_ordered(
        spark, docs, tmp_path, "icd_docs", slices=3, ts_col="doc_id"
    )
    corpus = VersionedTable(spark, str(tmp_path / "icd_corpus"))
    drift: list = []
    q = run_incremental_curation(
        stream,
        model,
        str(tmp_path / "icd_state"),
        corpus,
        str(tmp_path / "ckpt_icd"),
        drift_log=drift,
    )
    q.awaitTermination(240)

    got = corpus.read().select("doc_id", "text")
    assert got.count() > 0
    # every admitted doc clears the frozen DSIR floor: rescore the
    # admitted set (post-scrub, the text the stage saw) under the
    # stored table
    rescored = dsir.dsir_score(
        quality_gate(scrub_stage(got, "text"), "text"),
        model.dsir_lr.read(meta["dsir_lr_version"]),
        "doc_id",
        "text",
        256,
    )
    below = rescored.where(
        F.col("dsir_weight") < F.lit(meta["dsir_threshold"])
    ).count()
    assert below == 0
    # one drift entry per drained batch, raw-batch token counts sane
    assert len(drift) == 3, drift
    assert all(d["kl_nats"] is not None and d["n_tokens"] > 0 for d in drift)
    assert sum(d["n_tokens"] for d in drift) > 0


def test_incremental_exact_substr_single_batch_equals_batch(spark, tmp_path):
    """Delivered as ONE micro-batch, the streaming ExactSubstr sink
    must publish exactly the batch operator's output (same rewritten
    texts, emptied docs dropped) — the dup test then degenerates to
    the within-batch count, which IS the batch count."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.operators.dedup import (
        remove_exact_substrings,
    )
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.exact_substr import (
        run_incremental_exact_substr,
    )

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    expect = {
        (r["doc_id"], r["text"])
        for r in remove_exact_substrings(docs, min_len=10)
        .where(F.col("text") != "")
        .collect()
    }
    stream = _stream_time_ordered(
        spark, docs, tmp_path, "es_docs", slices=1, ts_col="doc_id"
    )
    corpus = VersionedTable(spark, str(tmp_path / "es_corpus"))
    q = run_incremental_exact_substr(
        stream, str(tmp_path / "es_state"), corpus,
        str(tmp_path / "ckpt_es"), min_len=10,
    )
    q.awaitTermination(180)
    got = {(r["doc_id"], r["text"]) for r in corpus.read().collect()}
    assert got == expect


def test_incremental_exact_substr_cross_batch_prefix_consistency(
    spark, tmp_path
):
    """Multi-batch contract: a duplicated run's FIRST arrival is
    already published uncut when later copies arrive — later copies
    are cut (vs the accumulated window-hash state), within-batch
    duplicate pairs are cut in BOTH copies, and unique docs pass
    untouched."""
    run = " ".join(f"r{j}" for j in range(10))
    dup2 = " ".join(f"d{j}" for j in range(10))
    rows = [
        # batch 1 = ids 1-3 (ntile(2) over 6 id-ordered rows)
        (1, "u1a u1b " + run + " u1c"),
        (2, "only unique words here one two three four five six"),
        (3, "more unique filler nothing repeats in this document at all"),
        # batch 2 = ids 4-6: 4 repeats batch-1's run; 5 and 6 share a
        # fresh run within the batch
        (4, "x1 x2 " + run + " x3"),
        (5, "pre " + dup2),
        (6, dup2 + " post"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.exact_substr import (
        run_incremental_exact_substr,
    )

    stream = _stream_time_ordered(
        spark, docs, tmp_path, "es2_docs", slices=2, ts_col="doc_id"
    )
    corpus = VersionedTable(spark, str(tmp_path / "es2_corpus"))
    q = run_incremental_exact_substr(
        stream, str(tmp_path / "es2_state"), corpus,
        str(tmp_path / "ckpt_es2"), min_len=10,
    )
    q.awaitTermination(180)
    got = {r["doc_id"]: r["text"] for r in corpus.read().collect()}
    assert got[1] == rows[0][1]          # first arrival published uncut
    assert got[2] == rows[1][1]          # unique docs untouched
    assert got[3] == rows[2][1]
    assert got[4] == "x1 x2 x3"          # later copy cut vs state
    assert got[5] == "pre"               # within-batch pair: both cut
    assert got[6] == "post"

    # fat-batch guard: broadcast_hash_limit=0 drops the broadcast hint
    # on the state probe (AQE picks the strategy — the availableNow-
    # backlog safety valve); the published result must be identical
    stream2 = _stream_time_ordered(
        spark, docs, tmp_path, "es2b_docs", slices=2, ts_col="doc_id"
    )
    corpus2 = VersionedTable(spark, str(tmp_path / "es2b_corpus"))
    q2 = run_incremental_exact_substr(
        stream2, str(tmp_path / "es2b_state"), corpus2,
        str(tmp_path / "ckpt_es2b"), min_len=10, broadcast_hash_limit=0,
    )
    q2.awaitTermination(180)
    got2 = {r["doc_id"]: r["text"] for r in corpus2.read().collect()}
    assert got2 == got


def test_incremental_exact_substr_replay_does_not_poison_state(
    spark, tmp_path
):
    """At-least-once redelivery must be a TRUE no-op end to end: a
    replayed batch finds its own window hashes in the state, and with
    presence-only state every one of its windows would be recorded in
    dup_hashes as proven-duplicated — which the residue sweep then
    cuts from the published corpus, emptying documents whose text
    occurs exactly once. Origin-aware state (a hit counts only from a
    DIFFERENT doc id) makes the replay mark nothing, while genuine
    cross-document duplication arriving later still cuts."""
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.exact_substr import (
        compact_exact_substr_residue,
        run_incremental_exact_substr,
    )

    run = " ".join(f"r{j}" for j in range(10))
    rows = [
        (1, "u1a u1b " + run + " u1c"),
        (2, "only unique words here one two three four five six seven"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = VersionedTable(spark, str(tmp_path / "esr_corpus"))
    state = str(tmp_path / "esr_state")

    # first delivery
    q = run_incremental_exact_substr(
        _stream_time_ordered(
            spark, docs, tmp_path, "esr_docs1", slices=1, ts_col="doc_id"
        ),
        state, corpus, str(tmp_path / "ckpt_esr1"), min_len=10,
    )
    q.awaitTermination(180)
    assert {r["doc_id"]: r["text"] for r in corpus.read().collect()} == dict(
        rows
    )

    # redelivery of the SAME batch (fresh checkpoint, same state +
    # corpus — exactly what at-least-once replay looks like to the sink)
    q = run_incremental_exact_substr(
        _stream_time_ordered(
            spark, docs, tmp_path, "esr_docs2", slices=1, ts_col="doc_id"
        ),
        state, corpus, str(tmp_path / "ckpt_esr2"), min_len=10,
    )
    q.awaitTermination(180)
    assert {r["doc_id"]: r["text"] for r in corpus.read().collect()} == dict(
        rows
    )

    # the poisoning surfaced at SWEEP time: with presence-only state
    # the replay proved every window "duplicated" and the sweep
    # emptied both docs. Origin-aware state leaves nothing to cut.
    res = compact_exact_substr_residue(spark, state, corpus, min_len=10)
    assert res["docs_rewritten"] == 0, res
    assert {r["doc_id"]: r["text"] for r in corpus.read().collect()} == dict(
        rows
    )

    # genuine cross-document duplication still cuts: a NEW doc
    # repeating doc 1's run arrives after the replay
    late = spark.createDataFrame(
        [(3, "x1 x2 " + run + " x3")], "doc_id long, text string"
    )
    q = run_incremental_exact_substr(
        _stream_time_ordered(
            spark, late, tmp_path, "esr_docs3", slices=1, ts_col="doc_id"
        ),
        state, corpus, str(tmp_path / "ckpt_esr3"), min_len=10,
    )
    q.awaitTermination(180)
    got = {r["doc_id"]: r["text"] for r in corpus.read().collect()}
    assert got[3] == "x1 x2 x3"
    assert got[1] == rows[0][1] and got[2] == rows[1][1]


def test_exact_substr_compaction_reaches_clean_fixed_point(spark, tmp_path):
    """compact_exact_substr_residue converges the published corpus to
    the ExactSubstr-clean fixed point: residue exists after
    multi-batch ingest (first arrivals published uncut), the sweep
    rewrites it — possible only because the sink accumulated the
    proven-duplicated hash set (a naive re-run over published docs
    cannot see duplication whose other copies were already removed) —
    and afterwards the BATCH operator over the published corpus
    removes nothing and a second sweep is a no-op. (Token-exact batch
    equality is NOT the contract: an ingest-time cut that overlapped
    later-discovered duplication strands a sub-L fringe the sweep
    cannot hash-match — see the module docstring.)"""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.operators.dedup import (
        remove_exact_substrings,
    )
    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.exact_substr import (
        compact_exact_substr_residue,
        run_incremental_exact_substr,
    )

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    expect = {
        (r["doc_id"], r["text"])
        for r in remove_exact_substrings(docs, min_len=10)
        .where(F.col("text") != "")
        .collect()
    }
    stream = _stream_time_ordered(
        spark, docs, tmp_path, "esc_docs", slices=3, ts_col="doc_id"
    )
    corpus = VersionedTable(spark, str(tmp_path / "esc_corpus"))
    state = str(tmp_path / "esc_state")
    q = run_incremental_exact_substr(
        stream, state, corpus, str(tmp_path / "ckpt_esc"), min_len=10
    )
    q.awaitTermination(180)
    streamed = {(r["doc_id"], r["text"]) for r in corpus.read().collect()}
    # multi-batch ingest leaves first-arrival residue: supersets batch
    assert streamed != expect and {d for d, _ in streamed} >= {
        d for d, _ in expect
    }
    res = compact_exact_substr_residue(spark, state, corpus, min_len=10)
    assert res["docs_rewritten"] > 0
    got = {(r["doc_id"], r["text"]) for r in corpus.read().collect()}
    # fixed point, part 1: the batch operator finds nothing left to
    # remove in the published corpus
    leftover = (
        remove_exact_substrings(corpus.read(), min_len=10)
        .where(F.col("n_removed") > 0)
        .count()
    )
    assert leftover == 0
    # fixed point, part 2: a second sweep is a no-op
    res2 = compact_exact_substr_residue(spark, state, corpus, min_len=10)
    assert res2["docs_rewritten"] == 0
    got2 = {(r["doc_id"], r["text"]) for r in corpus.read().collect()}
    assert got2 == got
    # and the sweep moved TOWARD batch: every published text is the
    # batch text or a bounded-fringe superstring of it (same doc set
    # modulo emptied-doc drops)
    batch_by_id = dict(expect)
    for d, t in got:
        if d in batch_by_id:
            bt = batch_by_id[d]
            assert set(bt.split(" ")) <= set(t.split(" ")) | {""}, (d, t, bt)


def test_incremental_exact_substr_legacy_state_upgrade(spark, tmp_path):
    """Upgrading a pre-origin deployment: the window-hash state table
    has only _h. The first post-upgrade batch must (1) not crash on
    the state merge (schema evolution widens the table with a NULL
    origin), (2) honor legacy rows as conservatively SEEN (the span
    cuts even though no origin is recorded), and (3) leave the state
    carrying _origin for every hash going forward."""
    import hashlib

    from delta_data_pipelines_spark.storage import VersionedTable
    from delta_data_pipelines_spark.streaming.exact_substr import (
        run_incremental_exact_substr,
    )

    dup_words = [f"d{j}" for j in range(10)]
    legacy_h = hashlib.md5(" ".join(dup_words).encode()).hexdigest()
    state = str(tmp_path / "state")
    gram = VersionedTable(
        spark, f"{state}/window_hashes", bucket_key="_h", n_buckets=64
    )
    gram.merge(
        spark.createDataFrame([(legacy_h,)], "_h string"), keys=["_h"]
    )
    assert gram.read().columns == ["_h"]  # genuinely legacy

    rows = [
        (1, "xa xb " + " ".join(dup_words)),   # span seen by legacy row
        (2, " ".join(f"u{j}" for j in range(12))),  # unique, untouched
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    stream = _stream_time_ordered(
        spark, docs, tmp_path, "es_up_docs", slices=1, ts_col="doc_id"
    )
    corpus = VersionedTable(spark, str(tmp_path / "corpus"))
    q = run_incremental_exact_substr(
        stream, state, corpus, str(tmp_path / "ckpt"), min_len=10
    )
    q.awaitTermination(180)
    got = {r["doc_id"]: r["text"] for r in corpus.read().collect()}
    assert got[1] == "xa xb"
    assert got[2] == rows[1][1]
    st = {r["_h"]: r["_origin"] for r in gram.read().collect()}
    assert st[legacy_h] is None          # legacy row kept, NULL origin
    assert any(v is not None for v in st.values())  # new rows own docs
