"""Scale-tactic tests: salted joins preserve semantics; bucketed
tables join with zero exchanges (plan-asserted)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delta_data_pipelines_spark.operators.scale import (
    bucketed_join_ready,
    salted_join,
    write_bucketed,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_salted_join_matches_plain_join(spark):
    # heavily skewed: 90% of left rows share key 0
    left = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("lval"),
    )
    right = spark.createDataFrame(
        [(0, "hot"), (19, "cold"), (999, "warm")], "k long, rval string"
    )
    plain = salted_join(left, right, "k", salt=4).orderBy("lval").collect()
    expect = left.join(right, "k").orderBy("lval").collect()
    assert [tuple(r) for r in plain] == [tuple(r) for r in expect]


def test_salted_join_left_outer(spark):
    left = spark.range(0, 100).select((F.col("id") % 3).alias("k"), "id")
    right = spark.createDataFrame([(0, "x")], "k long, rval string")
    got = salted_join(left, right, "k", salt=3, how="left").collect()
    assert len(got) == 100
    matched = [r for r in got if r["rval"] is not None]
    assert len(matched) == len([r for r in got if r["k"] == 0])


@pytest.mark.usefixtures("spark")
def test_bucketed_join_has_no_exchange(spark, tmp_path):
    # (warehouse dir is a static conf — tables land in the default
    # spark-warehouse and are dropped in the finally block)
    a = spark.range(0, 10_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("a"))
    b = spark.range(0, 10_000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("b"))
    write_bucketed(a, "t_bucket_a", "k", num_buckets=8)
    write_bucketed(b, "t_bucket_b", "k", num_buckets=8)
    ta, tb = bucketed_join_ready(spark, "t_bucket_a", "t_bucket_b")
    # broadcast would hide the point — force sort-merge
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ta.join(tb, "k")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_minhash_dedup_scales_with_replicated_corpus(spark):
    """Replicate the corpus 10x with distinct ids: every text then has
    >=9 identical partners, the worst-case pair density for LSH. All
    C(10,2)=45 identical pairs per distinct text must be found (LSH
    recall is 1.0 for identical docs), and clustering must put all 10
    copies of a text into one cluster."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators import dedup

    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    big = d
    for i in range(1, 10):
        big = big.union(
            d.select((F.col("doc_id") + 100000 * i).alias("doc_id"), "text")
        )
    n_docs = big.count()
    n_distinct = d.select("text").distinct().count()
    pairs = dedup.minhash_near_dup_pairs(big, "doc_id", "text", threshold=0.8)
    # identical copies alone contribute 45 pairs per distinct text
    assert pairs.count() >= 45 * n_distinct
    clusters = dedup.near_dup_clusters(pairs)
    assert clusters.count() == n_docs  # every doc is in some cluster
    # all 10 copies of a text share one cluster: cluster count can't
    # exceed the number of distinct texts
    assert clusters.select("cluster_id").distinct().count() <= n_distinct


def test_zorder_layout_tightens_both_columns(spark, tmp_path):
    """Z-order must give file-level locality on BOTH columns: versus a
    single-column sort layout, the summed per-file value range of the
    SECOND column shrinks by a large factor (that range is what parquet
    footer min/max pruning skips on)."""
    import pyspark.sql.functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.operators.scale import write_zordered

    e = read_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "value"
    )

    def file_range_sum(path, col):
        df = spark.read.parquet(path).withColumn(
            "_f", F.input_file_name()
        )
        agg = df.groupBy("_f").agg(
            (F.max(col) - F.min(col)).alias("r")
        )
        return agg.agg(F.sum("r")).collect()[0][0]

    z_path = str(tmp_path / "z")
    s_path = str(tmp_path / "s")
    write_zordered(e, z_path, ["user_id", "value"], n_files=16)
    (
        e.repartitionByRange(16, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(s_path)
    )
    # same rows either way
    assert spark.read.parquet(z_path).count() == e.count()
    # first column: single-sort is optimal there; z-order must still be
    # far better than random (each file covers a fraction of the domain)
    dom_u = e.agg(F.max("user_id") - F.min("user_id")).collect()[0][0]
    z_u = file_range_sum(z_path, "user_id")
    assert z_u < 0.5 * 16 * dom_u
    # second column: z-order beats the single-column sort decisively
    z_v = file_range_sum(z_path, "value")
    s_v = file_range_sum(s_path, "value")
    assert z_v < 0.6 * s_v, (z_v, s_v)


def test_zorder_validates_columns(spark):
    from delta_data_pipelines_spark.operators.scale import zorder_key

    df = spark.range(10).selectExpr("id AS a")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="2-4 columns"):
        zorder_key(df, ["a"])


def test_zorder_empty_and_allnull_inputs(spark, tmp_path):
    """Empty input and all-null columns must write cleanly (constant z),
    not crash unpacking None stats."""
    import pyspark.sql.functions as F

    from delta_data_pipelines_spark.operators.scale import write_zordered

    empty = spark.range(0).selectExpr("id AS a", "id AS b")
    write_zordered(empty, str(tmp_path / "ze"), ["a", "b"], n_files=4)
    assert spark.read.parquet(str(tmp_path / "ze")).count() == 0

    nulls = spark.range(10).select(
        F.col("id").alias("a"), F.lit(None).cast("long").alias("b")
    )
    write_zordered(nulls, str(tmp_path / "zn"), ["a", "b"], n_files=4)
    assert spark.read.parquet(str(tmp_path / "zn")).count() == 10


def test_zorder_timestamp_column(spark, tmp_path):
    """time+id is a primary Z-order pairing: timestamp columns bin via
    their epoch-double cast; strings are rejected with a clear error
    before any job runs."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.operators.scale import (
        write_zordered,
        zorder_key,
    )

    e = read_table(spark, "/root/testdata/sf0.001", "events").select(
        "ts", "user_id", "event_type"
    )
    write_zordered(e, str(tmp_path / "zt"), ["ts", "user_id"], n_files=8)
    got = spark.read.parquet(str(tmp_path / "zt"))
    assert got.count() == e.count()
    # per-file ts ranges are bounded well below 8x-the-domain (locality)
    span = e.agg(
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
    ).collect()[0][0]
    per_file = (
        got.withColumn("_f", F.input_file_name())
        .groupBy("_f")
        .agg(
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            ).alias("r")
        )
        .agg(F.sum("r"))
        .collect()[0][0]
    )
    # z-order SHARES locality between the two columns: each file's ts
    # range must be measurably below the no-locality ceiling (every
    # file spanning the whole domain), not single-sort-tight
    assert per_file < 0.8 * 8 * span
    with _pytest.raises(ValueError, match="string"):
        zorder_key(e, ["event_type", "user_id"])


def test_containment_scales_with_replicated_corpus(spark):
    """Replicate the corpus 5x with distinct ids: identical copies have
    containment 1.0 in BOTH directions, so the prefix-filter join must
    find all 5*4 directional pairs per distinct text at threshold 1.0 —
    worst-case bucket density for the inverted shingle index."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators import dedup

    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    big = d
    for i in range(1, 5):
        big = big.union(
            d.select((F.col("doc_id") + 100000 * i).alias("doc_id"), "text")
        )
    n_distinct = d.select("text").distinct().count()
    pairs = dedup.containment_pairs(big, "doc_id", "text", threshold=1.0)
    got = pairs.count()
    assert got >= 20 * n_distinct  # 5*4 directional pairs per text
    # and every found pair really is full containment
    assert pairs.where(F.col("containment") < 1.0).count() == 0


def test_remove_dup_passages_hot_segment_corpus(spark):
    """Worst-case skew for the passage-removal join: ONE boilerplate
    segment present in every document (a hot join key with df = n).
    Exactly one copy may survive corpus-wide — the min-(doc, pos)
    winner — each doc keeps its unique tail, and totals are exact."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators.textstats import (
        remove_dup_passages,
    )

    boiler = " ".join(f"b{j}" for j in range(10))  # one 10-token tile
    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(boiler + " "),
            F.concat_ws(
                " ",
                *[F.concat(F.lit(f"u{j}d"), F.col("id")) for j in range(10)],
            ),
        ).alias("text"),
    )
    out = remove_dup_passages(docs, n=10)
    rows = out.collect()
    assert len(rows) == 2000
    # winner: doc 0, pos 0 keeps the boilerplate tile
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[0]["text"].startswith(boiler)
    assert by_id[0]["n_removed"] == 0
    # every other doc lost exactly the boilerplate tile, kept its tail
    losers = [r for r in rows if r["doc_id"] != 0]
    assert all(r["n_removed"] == 1 for r in losers)
    assert all(not r["text"].startswith("b0 ") for r in losers)
    assert all(r["text"].startswith("u0d") for r in losers)
    # global invariant: total removed = total copies - 1
    assert sum(r["n_removed"] for r in rows) == 1999


def test_pagerank_mass_and_determinism_on_larger_graph(spark):
    """PageRank at 50k edges / 5k nodes: conservation holds on a
    strongly-connected graph (ring + chords: every node has out-edges,
    so no dangling leakage — total mass stays 1 within rounding), and
    the decimal contribution sums make the result bit-identical under
    a different input partitioning."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators.graph import pagerank

    n = 5000
    ring = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst"),
        F.lit(1).alias("w"),
    )
    chords = spark.range(n * 9).select(
        (F.col("id") % n).alias("src"),
        ((F.col("id") * 7919 + 13) % n).alias("dst"),
        (F.col("id") % 5 + 1).alias("w"),
    )
    edges = ring.unionByName(chords)
    r1 = pagerank(edges, weight_col="w", n_iter=3)
    total = r1.agg(F.sum(F.col("pagerank").cast("decimal(38,9)"))).collect()[0][0]
    assert abs(float(total) - 1.0) < 1e-4  # conservation within rounding
    assert r1.count() == n
    r2 = pagerank(edges.repartition(17), weight_col="w", n_iter=3)
    a = sorted(tuple(r) for r in r1.collect())
    b = sorted(tuple(r) for r in r2.collect())
    assert a == b


def test_dsir_scales_with_replicated_corpus(spark):
    """DSIR invariances that must hold at any corpus multiple: the
    bucket-model table stays exactly n_buckets rows however large the
    corpus (the broadcast-size guarantee), replicating the corpus k×
    leaves every per-doc weight IDENTICAL (both Laplace models scale
    their counts and totals together, and the log-ratio is scale-free
    up to the smoothing term — with counts k× the +1 smoothing shifts
    both models equally in the ratio's leading order; we assert exact
    equality of the engine's own numbers across replicas of the SAME
    fit, not approximate LM theory: the lr table is fit once on the
    replicated corpus and every copy of a doc must score the same),
    and gumbel_topk's winners stay deterministic."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators import dsir
    from delta_data_pipelines_spark.operators.textstats import quality_score

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    big = d
    for i in range(1, 5):
        big = big.union(
            d.select((F.col("doc_id") + 100000 * i).alias("doc_id"), "text")
        )

    flag = quality_score(F.col("text")) >= 0.5
    lr = dsir.dsir_log_ratio_flagged(big, flag, "text", 512)
    assert lr.count() == 512  # model size is corpus-independent

    w = dsir.dsir_score(big, lr, "doc_id", "text", 512)
    # every replica of a doc scores identically under the shared fit
    per_orig = (
        w.withColumn("_orig", F.col("doc_id") % 100000)
        .groupBy("_orig")
        .agg(F.count_distinct("dsir_weight").alias("nw"))
    )
    assert per_orig.where(F.col("nw") > 1).count() == 0


def test_exact_substring_dedup_on_replicated_corpus(spark):
    """ExactSubstr cover-set invariants at a corpus multiple: after
    replicating the corpus 5x with distinct ids, EVERY >=L-token
    document is one big duplicated substring (its full text occurs 5
    times), so every such doc must empty (n_removed == n_tokens);
    docs under L tokens survive untouched; and a unique salted doc
    planted alongside keeps all its tokens. The per-doc work stays
    array-native — the only corpus-scale shuffle is the window-hash
    count — so the op survives the replication without a pair
    blow-up (no O(copies^2) term anywhere)."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators.dedup import (
        remove_exact_substrings,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    big = d
    for i in range(1, 5):
        big = big.union(
            d.select((F.col("doc_id") + 100000 * i).alias("doc_id"), "text")
        )
    unique_doc = spark.createDataFrame(
        [(999999999, " ".join(f"zq{i}x" for i in range(40)))],
        "doc_id long, text string",
    )
    big = big.union(unique_doc)

    out = remove_exact_substrings(big, min_len=10)
    bad = out.where(
        (F.col("n_tokens") >= 10)
        & (F.col("doc_id") != 999999999)
        & (F.col("n_removed") != F.col("n_tokens"))
    )
    assert bad.count() == 0
    u = out.where(F.col("doc_id") == 999999999).first()
    assert u["n_removed"] == 0 and u["n_tokens"] == 40
    short_kept = out.where(
        (F.col("n_tokens") < 10) & (F.col("n_removed") != 0)
    )
    assert short_kept.count() == 0


def test_main_content_on_replicated_corpus(spark):
    """Main-content invariants at a corpus multiple: replicating every
    page 5x (distinct ids, same source) leaves each copy's extraction
    IDENTICAL to the others' (the site-template aggregate sees 5x the
    docs AND 5x the repeats — the df ratio is scale-free), the
    template blocks (nav/share/footer) stay boilerplate, and content
    paragraphs stay content UNLESS they were already site-flagged at
    1x. The only corpus-scale shuffle is the (source, block-hash)
    count — no pair term anywhere, so the op survives replication
    with work proportional to pages parsed."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.ingest.maincontent import (
        attach_fake_html,
        main_content,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source", "text"
    )
    base = attach_fake_html(d, "text", "source")
    ref = {
        r["doc_id"]: (r["n_blocks"], r["n_kept"], r["main_text"])
        for r in main_content(
            base, "doc_id", "_html", source_col="source"
        ).collect()
    }

    big = d
    for i in range(1, 5):
        big = big.union(
            d.select(
                (F.col("doc_id") + 100000 * i).alias("doc_id"),
                "source",
                "text",
            )
        )
    out = main_content(
        attach_fake_html(big, "text", "source"),
        "doc_id",
        "_html",
        source_col="source",
    )
    got = {
        r["doc_id"]: (r["n_blocks"], r["n_kept"], r["main_text"])
        for r in out.collect()
    }
    assert len(got) == 5 * len(ref)
    mismatches = [
        (i, k)
        for k, v in ref.items()
        for i in range(5)
        if got[k + 100000 * i] != v
    ]
    # replicas of the same page must extract identically; the 1x
    # result itself is the reference for copy 0
    assert not mismatches, mismatches[:5]


def test_lang_curation_scales_with_replicated_corpus(spark):
    """Language-aware curation invariances at any corpus multiple:
    (a) the threshold table is O(languages) however large the corpus
    and the gate verdict for a replica equals the original's (the
    gate is per-row + broadcast — replication cannot flip it);
    (b) per-language LM scores are replication-invariant (tf and
    totals scale together within each language, so tf/total — and the
    6-dp quantized ln — is unchanged); (c) the scalable threshold cut
    keeps each replica iff it keeps the original (the percentile
    floor is a distribution statistic — k x the same values, same
    percentile). None of these paths contains a per-language window
    sort (the exact-rank form is for bounded reports)."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators import langcurate

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    big = d
    for i in range(1, 5):
        big = big.union(
            d.select((F.col("doc_id") + 100000 * i).alias("doc_id"), "text")
        )

    kept_small = {
        r["doc_id"]
        for r in langcurate.lang_gate(d, "doc_id", "text").collect()
    }
    kept_big = {
        r["doc_id"]
        for r in langcurate.lang_gate(big, "doc_id", "text").collect()
    }
    assert kept_big == {
        i + 100000 * k for i in kept_small for k in range(5)
    }

    pred = big.select(
        "doc_id",
        "text",
        F.expr("doc_id % 100000").alias("_orig"),
    )
    from delta_data_pipelines_spark.operators.textstats import lang_id

    routed = pred.withColumn("lang", lang_id(F.col("text")))
    scores = langcurate.lang_lm_scores(routed, "doc_id", "text", "lang")
    per_orig = (
        scores.join(pred.select("doc_id", "_orig"), "doc_id")
        .groupBy("_orig")
        .agg(F.count_distinct("avg_logprob").alias("nw"))
    )
    assert per_orig.where(F.col("nw") > 1).count() == 0

    cut = langcurate.lang_lm_threshold_cut(scores, tail=0.1)
    per_orig_kept = (
        cut.join(pred.select("doc_id", "_orig"), "doc_id")
        .groupBy("_orig")
        .agg(F.count("*").alias("n"))
    )
    # every kept original keeps ALL 5 replicas (floor is scale-free)
    assert per_orig_kept.where(F.col("n") != 5).count() == 0


def test_stage_rank_parts_conf_gate(spark, tmp_path):
    """The rank operators stage their range-partitioned frame, so both
    consumers read ONE boundary draw (no range exchange left in the
    executed plan), and ranks are exact where range sampling is partial
    (20 000 distinct keys with payload columns over 4 input partitions)
    — checked against a Python reference for the global rank, the
    grouped rank and the cumulative sum, with ``staging.dir`` unset and
    set."""
    from delta_data_pipelines_spark.operators.ranking import (
        global_cumsum_by_range,
        global_rank_by_range,
        grouped_rank_by_range,
    )

    n = 20_000
    df = spark.range(0, n, numPartitions=4).select(
        (F.col("id") * 7919 % n).alias("key"),
        (F.col("id") % 5).alias("grp"),
        (F.col("id") % 13).alias("val"),
    )
    rows = [(r["key"], r["grp"], r["val"]) for r in df.collect()]
    by_key = sorted(rows)
    rank_ref = {k: i + 1 for i, (k, _, _) in enumerate(by_key)}
    cum_ref, run = {}, 0
    for k, _, v in by_key:
        cum_ref[k] = run
        run += v
    grp_ref, seen = {}, {}
    for k, g, _ in sorted(rows, key=lambda r: (r[1], r[0])):
        seen[g] = seen.get(g, 0) + 1
        grp_ref[k] = seen[g]

    def check():
        ranked = global_rank_by_range(df, "key", n_parts=4)
        assert {
            r["key"]: r["global_rank"] for r in ranked.collect()
        } == rank_ref
        grouped = grouped_rank_by_range(df, "grp", "key", n_parts=4)
        assert {
            r["key"]: r["group_rank"] for r in grouped.collect()
        } == grp_ref
        cum = global_cumsum_by_range(df, "key", "val", n_parts=4)
        assert {r["key"]: r["cum_before"] for r in cum.collect()} == cum_ref

    check()
    plan = _plan(global_rank_by_range(df, "key", n_parts=4))
    assert "Scan ExistingRDD" in plan
    assert plan.count("rangepartitioning") == 0, plan
    try:
        spark.conf.set(
            "spark.delta_pipelines.staging.dir", str(tmp_path / "stg")
        )
        check()
    finally:
        spark.conf.unset("spark.delta_pipelines.staging.dir")


def test_stage_written_form_matches_checkpoint(spark, tmp_path):
    """operators.staging.stage: the written-table form returns the
    same rows as the default checkpoint form (the production posture
    swap is output-invisible)."""
    from delta_data_pipelines_spark.operators.staging import stage

    df = spark.range(0, 100).select(
        "id", (F.col("id") % 7).alias("g")
    )
    ck = stage(df, "t")
    assert sorted(tuple(r) for r in ck.collect()) == sorted(
        tuple(r) for r in df.collect()
    )
    try:
        spark.conf.set(
            "spark.delta_pipelines.staging.dir", str(tmp_path / "s2")
        )
        wr = stage(df, "t")
        assert sorted(tuple(r) for r in wr.collect()) == sorted(
            tuple(r) for r in df.collect()
        )
        assert list((tmp_path / "s2").glob("t-*"))
    finally:
        spark.conf.unset("spark.delta_pipelines.staging.dir")


def test_release_staged_drops_checkpoint_blocks(spark):
    """release_staged (r15): the release hook covers BOTH staging
    primitives — persist() entries and eager localCheckpoints (whose
    backing RDD sits outside the CacheManager) — so operator-internal
    staging leaks no executor storage whichever primitive it uses."""
    from delta_data_pipelines_spark.operators.staging import release_staged

    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    ck = spark.range(0, 100).localCheckpoint(eager=True)
    assert jsc.getPersistentRDDs().size() == base + 1
    release_staged(ck)
    assert jsc.getPersistentRDDs().size() == base
    pk = spark.range(0, 100).persist()
    pk.count()
    release_staged(pk)
    assert jsc.getPersistentRDDs().size() == base


def test_release_staged_deletes_written_staging_dir(spark, tmp_path):
    """With ``staging.dir`` set, release_staged deletes the
    ``<name>-<uuid hex>`` dir the stage wrote — and nothing else: a
    parquet table that is not directly under the staging dir, or not
    named like a staged dir, survives its release."""
    from delta_data_pipelines_spark.operators.staging import (
        release_staged,
        stage,
    )

    sdir = tmp_path / "stg"
    user = tmp_path / "user_table"
    spark.range(5).write.parquet(str(user))
    lookalike = sdir / "probe-notauuid"
    spark.range(5).write.parquet(str(lookalike))
    try:
        spark.conf.set("spark.delta_pipelines.staging.dir", str(sdir))
        staged = stage(spark.range(10), "probe")
        written = list(sdir.glob("probe-*"))
        assert len(written) == 2 and staged.count() == 10
        release_staged(staged)
        assert list(sdir.glob("probe-*")) == [lookalike]
        release_staged(spark.read.parquet(str(user)))
        release_staged(spark.read.parquet(str(lookalike)))
    finally:
        spark.conf.unset("spark.delta_pipelines.staging.dir")
    assert user.exists() and lookalike.exists()


def _digest(df) -> str:
    import hashlib

    cols = sorted(df.columns)
    rows = sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_written_staging_posture_matches_default(spark, tmp_path):
    """The production posture run for real: registry queries that reach
    rewritten staging sites, and a merge + apply_changes, give
    digest-equal outputs with ``staging.dir`` unset and set — and the
    storage calls leave none of their staged dirs behind."""
    import __spark_entry__ as entry
    from delta_data_pipelines_spark.storage import VersionedTable

    sf = "/root/testdata/sf0.001"
    registry = entry.queries()
    names = (
        "dd_containment", "dd_minhash", "td_logreg_quality",
        "w_batch_ids_global",
    )

    def run(tag: str) -> dict[str, str]:
        out = {n: _digest(registry[n](spark, sf)) for n in names}
        t = VersionedTable(spark, str(tmp_path / f"table_{tag}"))
        t.overwrite(spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "id long, v string"
        ))
        t.merge(
            spark.createDataFrame(
                [(i, f"w{i}") for i in range(15, 30)], "id long, v string"
            ),
            keys=["id"], when_matched="update",
        )
        t.apply_changes(
            spark.createDataFrame(
                [(3, None, "delete"), (16, "u", "update_postimage"),
                 (40, "x", "insert")],
                "id long, v string, _change_type string",
            ),
            keys=["id"],
        )
        out["table"] = _digest(t.read())
        return out

    default = run("default")
    sdir = tmp_path / "stg"
    try:
        spark.conf.set("spark.delta_pipelines.staging.dir", str(sdir))
        written = run("written")
    finally:
        spark.conf.unset("spark.delta_pipelines.staging.dir")
    assert written == default
    left = {p.name.rsplit("-", 1)[0] for p in sdir.iterdir()}
    # the storage stages and the dedup operators' intermediates are
    # released; what stays is what escapes in a lazy result
    assert not left & {
        "merge_source", "apply_feed", "minhash_signatures",
        "containment_sets",
    }, left
