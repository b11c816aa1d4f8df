"""Job-pipeline tests: price-dataset rotation/rollback and the
maintenance normalize pass."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delta_data_pipelines_spark.jobs import (
    build_price_dataset,
    normalize_listings,
    publish_dataset,
    rebuild_seen_urls,
)
from delta_data_pipelines_spark.storage import VersionedTable

SCHEMA = (
    "content_url string, cat1_slug string, cat3_slug string, title string, "
    "description string, price_value long, construction_year int, "
    "land_size string, post_token string"
)


def listings(spark):
    return spark.createDataFrame(
        [
            ("u1", "real-estate", "apartment-sell", "t۱", "d", 100, 1400, "۱۲۳", None),
            ("u2", "real-estate", "apartment-sell", "t2", "d", 200, -1370, "80", None),
            ("u3", "real-estate", "apartment-rent", "t3", "d", 300, 1390, "90", None),
            ("u4", "real-estate", "apartment-sell", "t4", "d", None, 1395, "70", None),
            (None, "real-estate", "apartment-sell", "t5", "d", 500, 1380, "60", "tok5"),
        ],
        SCHEMA,
    )


def test_build_price_dataset_filters_and_fixes(spark):
    out = build_price_dataset(listings(spark)).collect()
    urls = {r["content_url"] for r in out}
    assert urls == {"u1", "u2", None}  # rent + null-price rows dropped
    assert "title" not in out[0].asDict()
    years = {r["content_url"]: r["construction_year"] for r in out}
    assert years["u2"] == 1369  # -1370 fixed


def test_publish_dataset_rolls_back_on_validation_failure(spark, tmp_path):
    table = VersionedTable(spark, str(tmp_path / "ds"))
    good = build_price_dataset(listings(spark))
    info = publish_dataset(table, good)
    assert info["rows"] == 3

    bad = good.limit(0)  # fails nonempty validation
    with pytest.raises(ValueError):
        publish_dataset(table, bad)
    # rolled back to the good version
    assert table.read().count() == 3


def test_publish_dataset_rolls_back_on_downstream_failure(spark, tmp_path):
    table = VersionedTable(spark, str(tmp_path / "ds2"))
    good = build_price_dataset(listings(spark))
    publish_dataset(table, good)

    def exploding_model(df):
        raise RuntimeError("retrain failed")

    with pytest.raises(RuntimeError):
        publish_dataset(table, good.where(F.col("price_value") > 100),
                        downstream=exploding_model)
    assert table.read().count() == 3  # previous version restored


def test_normalize_listings(spark):
    out = {r["content_url"]: r for r in normalize_listings(listings(spark)).collect()}
    # content_url backfilled from post_token
    assert "https://divar.ir/v/tok5" in out
    # Persian digits folded in title, numeric string re-coerced
    assert out["u1"]["title"] == "t1"
    assert out["u1"]["land_size"] == 123.0


def test_rebuild_seen_urls(spark):
    seen = rebuild_seen_urls(listings(spark)).collect()
    assert {r["content_url"] for r in seen} == {"u1", "u2", "u3", "u4"}
    assert all(r["site"] == "real-estate" for r in seen)


def test_incremental_index_convergence(spark, tmp_path):
    """Two incremental runs: the second re-reads the overlap window and
    upserts it without growing the table; the watermark is monotonic."""
    from datetime import datetime

    from delta_data_pipelines_spark.jobs import run_incremental
    from delta_data_pipelines_spark.storage import WatermarkStore

    sf = "/root/testdata/sf0.001"
    index = VersionedTable(spark, str(tmp_path / "idx"))
    wm = WatermarkStore(spark, str(tmp_path / "wm"))
    now = datetime(2026, 1, 1)

    r1 = run_incremental(spark, sf, index, wm, now=now)
    assert r1["inserted"] > 0 and r1["updated"] == 0
    total = index.read().count()
    assert total == r1["inserted"]
    assert r1["watermark"] is not None

    # second run: only the 1h-overlap boundary rows come back, all as
    # updates (idempotent); row count must not change.
    r2 = run_incremental(spark, sf, index, wm, now=now)
    assert r2["inserted"] == 0
    assert index.read().count() == total
    assert r2["watermark"] >= r1["watermark"]
    assert r2["lower_bound"] > r1["lower_bound"]


def test_check_url_consistency_probe(spark, tmp_path):
    from delta_data_pipelines_spark.jobs.maintenance import check_url

    queue = VersionedTable(spark, str(tmp_path / "q"))
    seen = VersionedTable(spark, str(tmp_path / "s"))
    lst = VersionedTable(spark, str(tmp_path / "l"))
    queue.overwrite(spark.createDataFrame([("u1",)], "content_url string"))
    seen.overwrite(spark.createDataFrame([("u1",), ("u2",)], "content_url string"))
    lst.overwrite(spark.createDataFrame([("u2",)], "content_url string"))

    r1 = check_url("u1", queue, seen, lst)
    assert r1["in_queue"] and r1["in_seen"] and not r1["in_listings"]
    assert r1["consistent"]
    r3 = check_url("u3", queue, seen, lst)
    assert not any([r3["in_queue"], r3["in_seen"], r3["in_listings"]])
    assert r3["consistent"]
    # listed but never marked seen → inconsistent (dropped publish)
    lst.merge(spark.createDataFrame([("u4",)], "content_url string"), keys=["content_url"])
    assert not check_url("u4", queue, seen, lst)["consistent"]


def test_curate_corpus_end_to_end(spark, tmp_path):
    """North-star curation job: gate → exact dedup → near-dup collapse
    → split → versioned publish, with per-stage metrics."""
    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.jobs import publish_corpus
    from delta_data_pipelines_spark.storage import VersionedTable

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    table = VersionedTable(spark, str(tmp_path / "corpus"))
    res = publish_corpus(table, docs)
    assert res["rows_out"] > 0
    assert res["rows_in"] >= res["rows_out"]
    assert set(res["splits"]) <= {"train", "eval", "test"}
    assert sum(res["splits"].values()) == res["rows_out"]

    out = table.read()
    # no exact dups survive
    assert out.select("text").distinct().count() == out.count()
    # every survivor passes the gate thresholds
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators.textstats import (
        _dup_token_ratio_raw,
        _top_bigram_ratio_raw,
        token_count_ws,
    )

    bad = out.where(
        ~token_count_ws(F.col("text")).between(10, 10000)
        | (_dup_token_ratio_raw(F.col("text")) > 0.55)
        | (_top_bigram_ratio_raw(F.col("text")) > 0.2)
        | (F.col("quality") < 0.4)
    ).count()
    assert bad == 0
    # deterministic: a rerun publishes the identical corpus
    res2 = publish_corpus(table, docs)
    assert res2["rows_out"] == res["rows_out"]
    assert res2["splits"] == res["splits"]
    assert res2["version"] == res["version"] + 1


def test_quality_gate_short_docs_can_pass(spark):
    """Regression: a doc with n tokens has top_bigram_ratio >= 1/(n-1),
    so a cap below 1/(min_tokens-1) rejects EVERY short doc regardless
    of content. The default cap (0.2) must keep a clean 10-token doc."""
    from delta_data_pipelines_spark.jobs.curate_corpus import quality_gate

    clean10 = "the a of and to w1 w2 w3 w4 w5"  # 10 distinct tokens,
    # half stopwords, no punctuation: every non-bigram signal is healthy
    docs = spark.createDataFrame([(1, clean10)], "doc_id long, text string")
    assert quality_gate(docs).count() == 1
    # the old 0.05 default was unsatisfiable at this length (1/9 > 0.05)
    assert quality_gate(docs, top_bigram_cap=0.05).count() == 0


def test_lm_filter_drops_statistical_outliers(spark):
    """The CCNet-style LM stage must drop the doc whose tokens are
    rarest under the corpus's own unigram distribution — the outlier
    heuristic gates can't see — and keep everything else."""
    from delta_data_pipelines_spark.jobs.curate_corpus import lm_filter_stage

    common = "the quick brown fox jumps over the lazy dog again today"
    rows = [(i, common) for i in range(1, 9)]
    # every token unique corpus-wide -> minimal avg log-prob
    rows.append((99, "zq9 xv7 qqj kkz wfx ppy mzt ggv hhb jjr"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r["doc_id"] for r in lm_filter_stage(docs, drop_fraction=0.2).collect()}
    assert 99 not in kept
    assert kept == set(range(1, 9))


def test_lm_filter_passes_null_text_and_id_rows_through(spark):
    """Unscorable rows (NULL text or NULL id) must pass through, not
    vanish in the semi-join re-entry — 'drop the bottom fraction'
    implies nothing about unscorable rows."""
    from delta_data_pipelines_spark.jobs.curate_corpus import lm_filter_stage

    common = "the quick brown fox jumps over the lazy dog again today"
    rows = [(i, common) for i in range(1, 9)]
    rows.append((99, "zq9 xv7 qqj kkz wfx ppy mzt ggv hhb jjr"))
    rows.append((100, None))  # NULL text
    rows.append((None, common))  # NULL id
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = lm_filter_stage(docs, drop_fraction=0.2).collect()
    kept = {r["doc_id"] for r in out}
    assert 99 not in kept  # outlier still cut
    assert 100 in kept  # NULL-text row passed through
    assert None in kept  # NULL-id row passed through
    assert len(out) == 10


def test_lm_filter_kn_mode(spark):
    """lm='kn' scores under a self-fit interpolated-KN bigram model:
    the token-salad outlier is still cut, healthy docs kept, a doc the
    model cannot score (single token) passes through via the
    drop-list semantics, NULL rows pass through, and an unknown lm
    name raises."""
    import pytest as _pytest

    from delta_data_pipelines_spark.jobs.curate_corpus import lm_filter_stage

    common = "the quick brown fox jumps over the lazy dog again today"
    rows = [(i, common) for i in range(1, 9)]
    rows.append((99, "zq9 xv7 qqj kkz wfx ppy mzt ggv hhb jjr"))
    rows.append((50, "solo"))      # no bigram: unscorable, passes
    rows.append((100, None))       # NULL text: passes
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for mode in ("kn", "kn3", "kn4"):
        out = lm_filter_stage(docs, drop_fraction=0.2, lm=mode).collect()
        kept = {r["doc_id"] for r in out}
        assert 99 not in kept, mode      # rare-n-gram outlier cut
        assert set(range(1, 9)) <= kept, mode
        assert 50 in kept and 100 in kept, mode
    with _pytest.raises(ValueError, match="lm must be"):
        lm_filter_stage(docs, drop_fraction=0.2, lm="5gram")


def test_lm_filter_zero_fraction_is_identity_and_validates(spark):
    import pytest as _pytest

    from delta_data_pipelines_spark.jobs.curate_corpus import lm_filter_stage

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert lm_filter_stage(docs, drop_fraction=0.0) is docs
    for bad in (-0.1, 1.0, 1.5):
        with _pytest.raises(ValueError, match="drop_fraction"):
            lm_filter_stage(docs, drop_fraction=bad)


def test_curate_corpus_lm_stage_wires_through(spark):
    """curate_corpus(lm_drop_fraction=...) must apply the LM cut after
    the heuristic gate: the gibberish doc passes the gate (healthy
    lengths/ratios) but falls to the LM filter."""
    from delta_data_pipelines_spark.jobs.curate_corpus import curate_corpus

    # gate-passing shape: 65 tokens, half stopwords (healthy ratios),
    # shared vocabulary so corpus unigram frequencies are high; docs
    # differ by one token (no exact dups)
    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    body = " ".join(f"{stops[j % 8]} w{j}" for j in range(32))
    rows = [(i, f"{body} doc{i}") for i in range(1, 13)]
    # the outlier ALSO passes the gate (long enough, all-distinct
    # tokens, no punctuation) but every token is corpus-rare
    gib = " ".join(f"zq{j}x" for j in range(40))
    rows.append((99, gib))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    without = curate_corpus(docs, scrub=False)
    with_lm = curate_corpus(docs, scrub=False, lm_drop_fraction=0.1)
    ids_without = {r["doc_id"] for r in without.collect()}
    ids_with = {r["doc_id"] for r in with_lm.collect()}
    assert 99 in ids_without
    assert 99 not in ids_with
    assert ids_with <= ids_without


def test_curate_corpus_passage_dup_stage_cuts_templates(spark):
    """max_passage_dup must drop template docs that survive near-dup
    collapse: each template instance shares most 8-grams with MANY
    different partners but no single pairwise near-dup clears the
    collapse threshold (distinct tails), while normal docs pass."""
    from delta_data_pipelines_spark.jobs.curate_corpus import (
        curate_corpus,
        passage_dup_stage,
    )

    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    template = " ".join(f"{stops[j % 8]} w{j}" for j in range(16))  # 32 toks
    # 6 template instances: 32 shared tokens + 32 DISTINCT tail tokens
    # -> pairwise Jaccard ~ 1/3 (below the 0.8 collapse threshold) but
    # ~40% of each doc's 8-grams are corpus-duplicated
    rows = [
        (
            i,
            template + " " + " ".join(f"{stops[j % 8]} t{i}x{j}" for j in range(16)),
        )
        for i in range(1, 7)
    ]
    # a normal doc: unique text, gate-passing shape
    rows.append((50, " ".join(f"{stops[j % 8]} u{j}" for j in range(32))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    base = {r["doc_id"] for r in curate_corpus(docs, scrub=False).collect()}
    assert {1, 2, 3, 4, 5, 6} <= base  # near-dup collapse keeps them all
    cut = {
        r["doc_id"]
        for r in curate_corpus(docs, scrub=False, max_passage_dup=0.2).collect()
    }
    assert cut & {1, 2, 3, 4, 5, 6} == set()  # templates gone
    assert 50 in cut  # unique doc survives

    # NULL text/id rows pass through the stage, mirroring lm_filter
    with_nulls = spark.createDataFrame(
        [(1, "a b c d e f g h i"), (None, "x y z"), (2, None)],
        "doc_id long, text string",
    )
    out = passage_dup_stage(with_nulls, max_dup_frac=0.5)
    assert out.count() == 3
    with pytest.raises(ValueError, match="max_dup_frac"):
        passage_dup_stage(with_nulls, max_dup_frac=1.5)


def test_collapse_near_dups_weights_conserve_mass(spark):
    """keep_weights: every representative carries its cluster size and
    the weights sum to the pre-collapse row count — dedup must not
    silently re-weight the corpus."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.jobs.curate_corpus import collapse_near_dups

    base = "the quick brown fox jumps over the lazy dog and runs far away"
    rows = [
        (1, base),
        (2, base),                                # exact dup of 1
        (3, base.replace("lazy", "sleepy")),      # below 0.8 — singleton
        (4, "completely different words about spark query engines here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = collapse_near_dups(docs, keep_weights=True)
    got = {r["doc_id"]: r["dup_weight"] for r in out.collect()}
    assert got == {1: 2, 3: 1, 4: 1}
    assert sum(got.values()) == docs.count()
    # default path unchanged: no weight column
    assert "dup_weight" not in collapse_near_dups(docs).columns


def test_curate_dup_weights_count_exact_copies(spark):
    """Regression: exact_dedup used to run BEFORE weighting, dropping
    verbatim copies weightlessly — the most common duplication class.
    dup_weight must conserve total mass through BOTH dedup stages."""
    from delta_data_pipelines_spark.jobs.curate_corpus import curate_corpus

    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]

    def body(tag):
        return " ".join(f"{stops[j % 8]} {tag}{j}" for j in range(32))

    rows = [(i, body("w")) for i in range(1, 6)]  # 5 verbatim copies
    rows += [(10 + i, body(f"u{i}x")) for i in range(3)]  # distinct texts
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curate_corpus(docs, scrub=False, dup_weights=True)
    got = {r["doc_id"]: r["dup_weight"] for r in out.collect()}
    assert got[1] == 5                      # all 5 verbatim copies counted
    assert got[10] == got[11] == got[12] == 1
    assert sum(got.values()) == len(rows)   # mass conserved end to end


def test_decontaminate_stage_drops_leaked_train_docs(spark):
    """A train doc sharing a 13-gram with a test doc must be dropped;
    clean train docs and every heldout doc pass through untouched."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.jobs.curate_corpus import decontaminate_stage
    from delta_data_pipelines_spark.operators.sampling import hash_split

    # probe which ids land in which split (md5 of the id is the rule)
    ids = spark.createDataFrame([(i,) for i in range(1, 300)], "doc_id long")
    split_of = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            ids, "doc_id", {"train": 0.8, "eval": 0.1, "test": 0.1}, method="md5"
        ).collect()
    }
    train_ids = [i for i, s in split_of.items() if s == "train"]
    test_ids = [i for i, s in split_of.items() if s == "test"]
    leaked = " ".join(f"tok{j}" for j in range(20))
    clean = " ".join(f"other{j}" for j in range(20))
    rows = [
        (train_ids[0], leaked, split_of[train_ids[0]]),   # leaked -> drop
        (train_ids[1], clean, split_of[train_ids[1]]),    # clean  -> keep
        (test_ids[0], leaked, split_of[test_ids[0]]),     # heldout -> keep
        (999, clean, None),  # NULL split: never train -> passthrough
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, split string")
    out = {r["doc_id"] for r in decontaminate_stage(docs).collect()}
    assert out == {train_ids[1], test_ids[0], 999}


def test_curate_scrub_and_pack_stages(spark, tmp_path):
    """Extended pipeline: PII scrub happens before the gate (quality is
    measured on published text), and per-split packing lays each split
    out as one contiguous ctx-token stream without crossing splits."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.jobs.curate_corpus import curate_corpus
    from delta_data_pipelines_spark.operators.textstats import token_count_ws

    base = read_table(spark, "/root/testdata/sf0.001", "documents")
    # plant PII in a handful of docs
    docs = base.withColumn(
        "text",
        F.when(
            F.col("doc_id") < 5,
            F.concat(F.col("text"), F.lit(" contact bob@example.com now")),
        ).otherwise(F.col("text")),
    )
    out = curate_corpus(docs, scrub=True, pack_ctx=128)
    rows = out.collect()
    assert rows
    # scrub: no raw emails survive; audit column counts the redactions
    assert all("@example.com" not in r["text"] for r in rows)
    planted = [r for r in rows if r["doc_id"] < 5]
    assert all(r["n_pii"] >= 1 and "<EMAIL>" in r["text"] for r in planted)
    # packing: within each split the offsets tile the token stream
    # exactly (offset of each doc == sum of all earlier docs' tokens)
    tok = {
        r["doc_id"]: r["n"]
        for r in out.select(
            "doc_id", token_count_ws(F.col("text")).alias("n")
        ).collect()
    }
    by_split: dict[str, list] = {}
    for r in rows:
        by_split.setdefault(r["split"], []).append(r)
    for split, members in by_split.items():
        members.sort(key=lambda r: r["doc_id"])
        running = 0
        for r in members:
            assert r["start_offset"] == running, (split, r["doc_id"])
            assert r["chunk_start"] == running // 128
            assert r["chunk_end"] == (running + tok[r["doc_id"]] - 1) // 128
            running += tok[r["doc_id"]]


def test_pack_stage_rejects_nonpositive_ctx(spark):
    from delta_data_pipelines_spark.jobs.curate_corpus import pack_stage

    df = spark.createDataFrame(
        [(1, "a b c", "train")], "doc_id long, text string, split string"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ctx must be"):
        pack_stage(df, ctx=0)


def test_curate_corpus_sample_per_source_caps_and_weights(spark):
    """sample_per_source keeps at most N per source after cuts,
    deterministically, favoring longer docs (length-weighted)."""
    from delta_data_pipelines_spark.jobs.curate_corpus import curate_corpus

    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    rows = []
    for i in range(1, 25):
        # distinct, gate-passing docs across two sources, ~34 tokens
        # each — plus one GIANT (~600 tokens, ~18x the weight) per
        # source whose selection is near-certain under length
        # weighting and a coin-flip under uniform
        n = 600 if i in (1, 2) else 16 + (i % 8)
        rows.append(
            (i, " ".join(f"{stops[j % 8]} s{i}w{j}" for j in range(n)),
             "en", f"src{i % 2}")
        )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out1 = curate_corpus(docs, scrub=False, sample_per_source=4)
    out2 = curate_corpus(docs, scrub=False, sample_per_source=4)
    rows1 = out1.collect()
    ids1 = sorted(r["doc_id"] for r in rows1)
    ids2 = sorted(r["doc_id"] for r in out2.collect())
    assert ids1 == ids2  # deterministic
    per_src = {}
    for r in rows1:
        per_src.setdefault(r["source"], []).append(r["doc_id"])
    assert all(len(v) <= 4 for v in per_src.values())
    assert len(ids1) <= 8
    # the LENGTH weight is actually wired through: both planted giants
    # (~18x the weight of their source-mates) must be selected — with
    # uniform weights each would be a 1-in-3 coin flip
    assert 1 in ids1 and 2 in ids1


def test_sample_stage_passes_null_rows_through(spark):
    """The per-source budget stage keeps the unscorable-rows invariant
    the lm-filter and passage-dup stages maintain: NULL-id/NULL-text
    rows pass through (they cannot be keyed or weighted), while
    zero-token docs remain SUBJECT to the budget (weight 0 = never
    selected is a legitimate sampling outcome)."""
    from delta_data_pipelines_spark.jobs.curate_corpus import sample_stage

    rows = [(i, f"word {'x ' * i}end", "src1") for i in range(1, 7)]
    rows.append((100, None, "src1"))  # NULL text -> passthrough
    rows.append((None, "some text here", "src1"))  # NULL id -> passthrough
    rows.append((200, "", "src1"))  # zero tokens -> sampleable, weight 0
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = sample_stage(docs, k=3, source_col="source").collect()
    kept = {r["doc_id"] for r in out}
    assert 100 in kept and None in kept  # unscorable rows survived
    assert 200 not in kept  # weight-0 doc lost the budgeted draw
    assert len([r for r in out if r["doc_id"] not in (100, None)]) == 3


def test_pq_index_store_refresh_and_serve(spark, tmp_path):
    """Build/serve split: refresh_pq_index persists codes+codebook to
    versioned tables, serve_pq_topk returns results IDENTICAL to the
    in-plan pq_adc_topk (same deterministic fit), a second refresh
    bumps both table versions atomically, and serving without an index
    fails loudly instead of returning empty."""
    import pytest

    from delta_data_pipelines_spark.jobs.ann_index import (
        PQIndexStore,
        refresh_pq_index,
        serve_pq_topk,
    )
    from delta_data_pipelines_spark.operators.similarity import pq_adc_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.where(e.vec_id < 5)

    store = PQIndexStore(spark, str(tmp_path / "pqidx"))
    with pytest.raises(FileNotFoundError):
        serve_pq_topk(store, q)

    info = refresh_pq_index(store, e, m=4, k=4, n_iter=2)
    assert info["codes_version"] == 0 and info["codebook_version"] == 0

    served = sorted(
        tuple(r) for r in serve_pq_topk(store, q, topk=5).collect()
    )
    inplan = sorted(
        tuple(r)
        for r in pq_adc_topk(e, q, m=4, k=4, n_iter=2, topk=5).collect()
    )
    assert served == inplan

    info2 = refresh_pq_index(store, e, m=4, k=4, n_iter=2)
    assert info2["codes_version"] == 1 and info2["codebook_version"] == 1
    assert store.meta()["m"] == 4


def test_pq_append_codes_incremental(spark, tmp_path):
    """Incremental PQ maintenance: build on half the corpus, append
    the other half — appended ids get m codes each via the STORED
    codebook (no refit), replaying the same batch inserts nothing
    (at-least-once safe), pq_encode exactly reproduces the fit's own
    final assignments, and the drift gate reports a batch mean
    assignment cosine next to the build-time baseline."""
    from delta_data_pipelines_spark.jobs.ann_index import (
        PQIndexStore,
        append_pq_codes,
        refresh_pq_index,
    )
    from delta_data_pipelines_spark.operators.similarity import pq_encode

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    build = e.where(e.vec_id % 2 == 0)
    fresh = e.where(e.vec_id % 2 == 1)

    store = PQIndexStore(spark, str(tmp_path / "pqinc"))
    info = refresh_pq_index(store, build, m=4, k=4, n_iter=2)
    assert 0.0 < info["baseline_mean_sim"] <= 1.0

    # encode against the stored codebook reproduces the fit's own codes
    stored = sorted(tuple(r) for r in store.codes.read().collect())
    re_enc = sorted(
        tuple(r)
        for r in pq_encode(build, store.codebook.read(), m=4).collect()
    )
    assert re_enc == stored

    n_build = build.count()
    n_fresh = fresh.count()
    out = append_pq_codes(store, fresh)
    assert out["inserted"] == 4 * n_fresh
    assert store.codes.read().count() == 4 * (n_build + n_fresh)
    assert 0.0 < out["batch_mean_sim"] <= 1.0
    assert out["baseline_mean_sim"] == info["baseline_mean_sim"]

    replay = append_pq_codes(store, fresh)
    assert replay["inserted"] == 0  # idempotent replay


def test_ivf_index_store_refresh_and_serve(spark, tmp_path):
    """IVF build/serve split: the unrefined (lowest-id cells) index
    serves EXACTLY ivf_topk's rows; the kmeans-refined build serves
    exactly ivf_topk(centroids=kmeans_centroids(...)); the serve path
    reads only the probe cells' buckets (pruned I/O); and serving
    without an index fails loudly."""
    import pytest

    from delta_data_pipelines_spark.jobs.ann_index import (
        IVFIndexStore,
        refresh_ivf_index,
        serve_ivf_topk,
    )
    from delta_data_pipelines_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.where(e.vec_id < 5)

    store = IVFIndexStore(spark, str(tmp_path / "ivf"), n_buckets=8)
    with pytest.raises(FileNotFoundError):
        serve_ivf_topk(store, q)

    refresh_ivf_index(store, e, n_cells=16, n_iter=0)
    served = sorted(tuple(r) for r in serve_ivf_topk(store, q, k=5, nprobe=2).collect())
    inplan = sorted(
        tuple(r) for r in ivf_topk(e, q, k=5, n_cells=16, nprobe=2).collect()
    )
    assert served == inplan

    # refined mode: equality against the in-plan query fed the same
    # fitted centroids
    store2 = IVFIndexStore(spark, str(tmp_path / "ivf2"), n_buckets=8)
    refresh_ivf_index(store2, e, n_cells=8, n_iter=2)
    served2 = sorted(
        tuple(r) for r in serve_ivf_topk(store2, q, k=5, nprobe=2).collect()
    )
    cents = kmeans_centroids(e, k=8, n_iter=2)
    inplan2 = sorted(
        tuple(r)
        for r in ivf_topk(e, q, k=5, nprobe=2, centroids=cents).collect()
    )
    assert served2 == inplan2


def test_ivf_append_cells_incremental(spark, tmp_path):
    """IVF incremental append: build on half the corpus, append the
    other half — the merged index serves EXACTLY what a full rebuild
    with the same (stored) centroids serves, replay inserts nothing,
    and the bucketed merge writes only the touched buckets."""
    from delta_data_pipelines_spark.jobs.ann_index import (
        IVFIndexStore,
        append_ivf_cells,
        refresh_ivf_index,
        serve_ivf_topk,
    )
    from delta_data_pipelines_spark.operators.similarity import ivf_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    build = e.where(e.vec_id % 2 == 0)
    fresh = e.where(e.vec_id % 2 == 1)
    q = e.where(e.vec_id < 5)

    store = IVFIndexStore(spark, str(tmp_path / "ivfinc"), n_buckets=8)
    refresh_ivf_index(store, build, n_cells=8, n_iter=0)
    out = append_ivf_cells(store, fresh)
    assert out["inserted"] == fresh.count()
    assert 0 < out["buckets_written"] <= 8

    served = sorted(
        tuple(r) for r in serve_ivf_topk(store, q, k=5, nprobe=2).collect()
    )
    # full corpus against the SAME centroids (the build half's lowest
    # ids) must give identical answers
    inplan = sorted(
        tuple(r)
        for r in ivf_topk(
            e, q, k=5, nprobe=2, centroids=store.centroids.read()
        ).collect()
    )
    assert served == inplan

    replay = append_ivf_cells(store, fresh)
    assert replay["inserted"] == 0


def test_fit_reference_model_rejects_empty_reference(spark, tmp_path):
    """A reference corpus the gate empties must fail the build loudly
    (no unigram distribution to freeze), not crash later or freeze a
    degenerate model."""
    import pytest

    from delta_data_pipelines_spark.jobs.incremental_curate import (
        FrozenCurationModel,
        fit_reference_model,
    )

    tiny = spark.createDataFrame(
        [(1, "too short"), (2, "x y")], "doc_id long, text string"
    )  # every doc under min_tokens=10 -> gate drops all
    heldout = spark.createDataFrame([(9, "h " * 20)], "doc_id long, text string")
    model = FrozenCurationModel(spark, str(tmp_path / "emptyref"))
    with pytest.raises(ValueError, match="empty after scrub"):
        fit_reference_model(model, tiny, heldout)


def test_curate_corpus_dedup_passages_rewrites_and_drops_empty(spark):
    """dedup_passages must REWRITE survivors (shared 10-token tiles
    keep one corpus-wide copy), preserve non-text columns, drop docs
    the rewrite empties, and pass NULL-text rows through."""
    from delta_data_pipelines_spark.jobs.curate_corpus import (
        dedup_passages_stage,
    )

    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    shared = " ".join(f"{stops[j % 8]} s{j}" for j in range(5))  # 10 toks
    uniq_a = " ".join(f"{stops[j % 8]} a{j}" for j in range(5))
    uniq_b = " ".join(f"{stops[j % 8]} b{j}" for j in range(5))
    rows = [
        (1, shared + " " + uniq_a, "s1"),
        (2, shared + " " + uniq_b, "s2"),  # loses its `shared` tile
        (3, shared, "s3"),                 # emptied by the rewrite
        (4, None, "s4"),                   # unscorable passthrough
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, src string")
    out = {r["doc_id"]: r for r in dedup_passages_stage(docs, n=10).collect()}
    assert out[1]["text"] == shared + " " + uniq_a
    assert out[2]["text"] == uniq_b  # tile deleted, tail kept
    assert out[2]["src"] == "s2"  # non-text columns preserved
    assert 3 not in out  # emptied doc dropped
    assert out[4]["text"] is None and out[4]["src"] == "s4"


def test_curate_corpus_exact_substr_stage_catches_straddling_runs(spark):
    """exact_substr_stage is the un-approximated rewrite: a shared
    ≥L-token run is removed WHEREVER it sits — including offsets where
    it straddles every tiling boundary (which dedup_passages_stage
    misses by construction) — every occurrence goes, emptied docs are
    dropped, non-text columns and NULL-text rows pass through."""
    from delta_data_pipelines_spark.jobs.curate_corpus import (
        dedup_passages_stage,
        exact_substr_stage,
    )

    shared = " ".join(f"s{j}" for j in range(10))  # 10-token run
    rows = [
        (1, "lead1 " + shared + " tail1 tail2", "s1"),   # offset 1
        (2, "x1 x2 x3 " + shared + " tail3", "s2"),       # offset 3
        (3, shared, "s3"),                                # emptied
        (4, None, "s4"),                                  # passthrough
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, src string")
    out = {
        r["doc_id"]: r
        for r in exact_substr_stage(docs, min_len=10).collect()
    }
    assert out[1]["text"] == "lead1 tail1 tail2"
    assert out[2]["text"] == "x1 x2 x3 tail3"
    assert out[2]["src"] == "s2"  # non-text columns preserved
    assert 3 not in out  # emptied doc dropped
    assert out[4]["text"] is None and out[4]["src"] == "s4"

    # the tiling rewrite misses BOTH copies here: offsets 1 and 3
    # misalign the run against every 10-token tile
    tiled = {
        r["doc_id"]: r for r in dedup_passages_stage(docs, n=10).collect()
    }
    assert tiled[1]["text"] == rows[0][1]
    assert tiled[2]["text"] == rows[1][1]


def test_compression_filter_stage_cuts_both_tails(spark):
    """The compression band must cut repetitive text (low ratio) and
    noise (ratio above the ceiling) while natural prose and unscorable
    rows pass."""
    from delta_data_pipelines_spark.jobs.curate_corpus import (
        compression_filter_stage,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and then "
            "runs far away to the forest of tall green trees"),
        (2, "aa " * 300),           # repetitive -> ratio << 0.3
        (3, "z8#kQ!m2@v9$"),        # short noise -> ratio > 1.1
        (4, None),                  # unscorable passthrough
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]
        for r in compression_filter_stage(docs, bounds=(0.3, 1.1)).collect()
    }
    assert out == {1, 4}
    with pytest.raises(ValueError, match="bounds"):
        compression_filter_stage(docs, bounds=(1.0, 0.5))


def test_ivf_store_reopens_with_stored_geometry(spark, tmp_path):
    """Reopening an index built with a non-default bucket count must
    adopt the stored geometry (the append/serve lifecycle runs in a
    different process from the build)."""
    from delta_data_pipelines_spark.jobs.ann_index import (
        IVFIndexStore,
        refresh_ivf_index,
        serve_ivf_topk,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 4), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    store = IVFIndexStore(spark, str(tmp_path / "ivfgeo"), n_buckets=8)
    refresh_ivf_index(store, vecs, n_cells=4)
    reopened = IVFIndexStore(spark, str(tmp_path / "ivfgeo"))  # no count
    assert reopened.cells.n_buckets == 8
    q = vecs.where("vec_id < 2")
    assert serve_ivf_topk(reopened, q, k=3).count() > 0


def test_index_meta_pins_version_pairs(spark, tmp_path):
    """The meta file is the cross-table commit point: a refresh pins
    the new (codes, codebook) pair, an append advances only the codes
    pin, and a serve against a STALE meta pairs the old versions of
    BOTH tables (never new codebook + old codes)."""
    import json

    from delta_data_pipelines_spark.jobs.ann_index import (
        PQIndexStore,
        append_pq_codes,
        refresh_pq_index,
        serve_pq_topk,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0, 0.5]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    store = PQIndexStore(spark, str(tmp_path / "pqpin"))
    refresh_pq_index(store, vecs, m=2, k=2)
    m1 = store.meta()
    assert {"codes_version", "codebook_version", "vec_col"} <= set(m1)
    old_meta = json.dumps(m1)

    more = spark.createDataFrame(
        [(i, [float(i), 2.0, 0.0, 1.0]) for i in range(24, 30)],
        "vec_id long, embedding array<double>",
    )
    append_pq_codes(store, more)
    m2 = store.meta()
    assert m2["codes_version"] > m1["codes_version"]
    assert m2["codebook_version"] == m1["codebook_version"]

    refresh_pq_index(store, vecs.union(more), m=2, k=2)
    q = vecs.where("vec_id < 2")
    fresh = serve_pq_topk(store, q).collect()

    # simulate a serve holding the pre-refresh meta: it must read the
    # OLD pair consistently (both tables at their old versions)
    with open(store._meta_path, "w") as f:
        f.write(old_meta)
    stale = serve_pq_topk(store, q)
    assert stale.count() > 0  # old pair still readable and consistent
    assert len(fresh) > 0


def test_ivfpq_serve_composes_stores(spark, tmp_path):
    """IVF-PQ composition: with nprobe = n_cells the candidate set is
    the whole corpus and the serve returns serve_pq_topk's rows
    IDENTICALLY (shared ADC expressions); with nprobe < n_cells every
    returned neighbor lies in one of the query's probed cells; store
    guards fail loudly (missing index, mismatched vector column)."""
    import pytest

    from delta_data_pipelines_spark.jobs.ann_index import (
        IVFIndexStore,
        PQIndexStore,
        refresh_ivf_index,
        refresh_pq_index,
        serve_ivfpq_topk,
        serve_pq_topk,
    )
    from delta_data_pipelines_spark.operators.similarity import as_double, cosine

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.where(e.vec_id < 5)

    ivf = IVFIndexStore(spark, str(tmp_path / "ivf"))
    pq = PQIndexStore(spark, str(tmp_path / "pq"))
    with pytest.raises(FileNotFoundError):
        serve_ivfpq_topk(ivf, pq, q)
    refresh_ivf_index(ivf, e, n_cells=8, n_iter=0)
    with pytest.raises(FileNotFoundError):
        serve_ivfpq_topk(ivf, pq, q)
    refresh_pq_index(pq, e, m=4, k=4, n_iter=2)

    # probe everything -> exactly the flat ADC serve
    full = sorted(
        tuple(r)
        for r in serve_ivfpq_topk(ivf, pq, q, topk=5, nprobe=8).collect()
    )
    flat = sorted(tuple(r) for r in serve_pq_topk(pq, q, topk=5).collect())
    assert full == flat

    # nprobe=2: neighbors must come from the probed cells only
    part = serve_ivfpq_topk(ivf, pq, q, topk=5, nprobe=2).collect()
    assert part  # candidates exist
    cent = ivf.centroids.read()
    probe = (
        q.select(F.col("vec_id").alias("query_id"),
                 as_double(F.col("embedding")).alias("_qv"))
        .join(F.broadcast(cent))
        .withColumn("_s", cosine(F.col("_qv"), F.col("cv")))
    )
    from pyspark.sql.window import Window

    wq = Window.partitionBy("query_id").orderBy(F.col("_s").desc(), "cid")
    probed = {
        (r["query_id"], r["cid"])
        for r in probe.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= 2)
        .collect()
    }
    cid_of = {
        r["vec_id"]: r["cid"] for r in ivf.cells.read().select("vec_id", "cid").collect()
    }
    for r in part:
        assert (r["query_id"], cid_of[r["neighbor_id"]]) in probed

    # mismatched vector column between the stores fails loudly
    pq2 = PQIndexStore(spark, str(tmp_path / "pq2"))
    refresh_pq_index(
        pq2, e.withColumnRenamed("embedding", "projection"),
        vec_col="projection", m=4, k=4, n_iter=2,
    )
    with pytest.raises(ValueError, match="disagree on vec_col"):
        serve_ivfpq_topk(ivf, pq2, q)


def test_tokenizer_store_train_and_encode(spark, tmp_path):
    """Tokenizer lifecycle: train commits a versioned artifact with
    pinned params, encode reads the PIN (no fit in the serve plan),
    both families reproduce each document on piece concatenation,
    out-of-inventory characters degrade to <unk> instead of nulling
    the doc, and retraining bumps the version atomically."""
    import pytest

    from delta_data_pipelines_spark.jobs.tokenizer import (
        TokenizerStore,
        encode_corpus,
        train_tokenizer,
    )

    docs = spark.createDataFrame(
        [(1, "hello help lo"), (2, "hell hello"), (3, "lo he")],
        "doc_id long, text string",
    )
    store = TokenizerStore(spark, str(tmp_path / "tok"))
    with pytest.raises(FileNotFoundError):
        encode_corpus(store, docs)
    with pytest.raises(ValueError, match="family"):
        train_tokenizer(store, docs, family="wordpiece")

    info = train_tokenizer(
        store, docs, family="unigram", max_len=3, min_count=3, em_rounds=1
    )
    assert info["pieces_version"] == 0 and info["n_pieces"] > 0
    enc = {r["doc_id"]: r["pieces"] for r in encode_corpus(store, docs).collect()}
    texts = {1: "hello help lo", 2: "hell hello", 3: "lo he"}
    for did, t in texts.items():
        assert "".join(enc[did]) == t.replace(" ", "")

    # unknown char at serve time -> <unk> piece, doc still encodes
    new = spark.createDataFrame([(9, "hello zèbra")], "doc_id long, text string")
    r = encode_corpus(store, new).collect()[0]
    assert "<unk>" in r["pieces"] and r["pieces"][0] in ("hel", "he", "h")

    info2 = train_tokenizer(
        store, docs, family="unigram", max_len=3, min_count=3, em_rounds=2
    )
    assert info2["pieces_version"] == 1
    assert store.meta()["em_rounds"] == 2

    bstore = TokenizerStore(spark, str(tmp_path / "btok"))
    train_tokenizer(bstore, docs, family="bpe", n_merges=4)
    benc = {r["doc_id"]: r["pieces"] for r in encode_corpus(bstore, docs).collect()}
    for did, t in texts.items():
        assert "".join(benc[did]) == t.replace(" ", "")


def test_tokenizer_encode_ids_and_pack_manifest(spark, tmp_path):
    """Loader-facing serving: piece ids are the artifact's
    deterministic rank order with 0 = <unk> (unknown-at-serve words
    map to [0]); the packing manifest uses tokenizer-TRUE counts
    through the range-partitioned prefix sum — offsets are exact and
    chunk spans tile the stream."""
    from delta_data_pipelines_spark.jobs.tokenizer import (
        TokenizerStore,
        encode_ids,
        pack_manifest,
        train_tokenizer,
    )

    docs = spark.createDataFrame(
        [(1, "hello help lo"), (2, "hell hello"), (3, "lo he")],
        "doc_id long, text string",
    )
    store = TokenizerStore(spark, str(tmp_path / "tok"))
    train_tokenizer(store, docs, family="unigram", max_len=3, min_count=3)

    enc = {r["doc_id"]: r for r in encode_ids(store, docs).collect()}
    assert all(r["piece_ids_n"] == len(r["piece_ids"]) for r in enc.values())
    assert all(min(r["piece_ids"]) >= 1 for r in enc.values())  # all known
    # same text -> same ids; ids deterministic across calls
    enc2 = {r["doc_id"]: r["piece_ids"] for r in encode_ids(store, docs).collect()}
    assert {k: v["piece_ids"] for k, v in enc.items()} == enc2

    unk = spark.createDataFrame([(9, "zèbra hello")], "doc_id long, text string")
    r = encode_ids(store, unk).collect()[0]
    assert r["piece_ids"][0] == 0  # <unk> id
    assert all(i >= 0 for i in r["piece_ids"])

    pm = {r["doc_id"]: r for r in pack_manifest(store, docs, ctx=4).collect()}
    total = sum(enc[d]["piece_ids_n"] for d in enc)
    # offsets form an exact exclusive prefix sum in doc_id order
    off = 0
    for d in sorted(pm):
        assert pm[d]["start_offset"] == off
        assert pm[d]["chunk_start"] == off // 4
        assert pm[d]["chunk_end"] == (off + pm[d]["n_pieces"] - 1) // 4
        off += pm[d]["n_pieces"]
    assert off == total


def test_ivf_store_neardup_sweep(spark, tmp_path):
    """Stored-layout semantic dedup: the sweep over the pinned cells
    table finds exactly the pairs the in-plan blocked search finds
    under the same cell assignment (no re-assignment in the sweep
    plan), and a cells-subset sweep returns exactly the full sweep's
    pairs among vectors of those cells."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.jobs.ann_index import (
        IVFIndexStore,
        refresh_ivf_index,
        sweep_ivf_near_dups,
    )
    from delta_data_pipelines_spark.operators import dedup
    from delta_data_pipelines_spark.operators.similarity import (
        as_double,
        ivf_assign,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    store = IVFIndexStore(spark, str(tmp_path / "ivf"))
    refresh_ivf_index(store, e, n_cells=8, n_iter=0)

    got = sorted(
        tuple(r) for r in sweep_ivf_near_dups(store, threshold=0.3).collect()
    )
    cent = store.centroids.read()
    blocked = ivf_assign(
        e.select("vec_id", as_double(F.col("embedding")).alias("_v")),
        cent,
        "vec_id",
    ).select("vec_id", "cid", F.col("_v").alias("embedding"))
    expect = sorted(
        tuple(r)
        for r in dedup.embedding_near_dup_pairs(
            blocked, "vec_id", "embedding", block_col="cid", threshold=0.3
        ).collect()
    )
    assert got == expect and got  # nonempty on the fixture

    # subset sweep: only pairs whose members sit in the listed cells
    cells = [r["cid"] for r in store.cells.read().select("cid").distinct().limit(2).collect()]
    sub = sorted(
        tuple(r)
        for r in sweep_ivf_near_dups(store, threshold=0.3, cells=cells).collect()
    )
    in_cells = {
        r["vec_id"]
        for r in store.cells.read().where(F.col("cid").isin(cells)).collect()
    }
    expect_sub = [p for p in expect if p[0] in in_cells and p[1] in in_cells]
    assert sub == sorted(expect_sub)


def test_tokenizer_materialize_packed_windows(spark, tmp_path):
    """Physical packing: concatenating the windows in chunk order
    reproduces the full id stream in doc order; every window except
    possibly the last is exactly ctx tokens."""
    from delta_data_pipelines_spark.jobs.tokenizer import (
        TokenizerStore,
        encode_ids,
        materialize_packed,
        train_tokenizer,
    )

    docs = spark.createDataFrame(
        [(1, "hello help lo"), (2, "hell hello"), (3, "lo he"),
         (4, "help hello hell lo")],
        "doc_id long, text string",
    )
    store = TokenizerStore(spark, str(tmp_path / "tok"))
    train_tokenizer(store, docs, family="unigram", max_len=3, min_count=3)

    stream = []
    for r in sorted(
        encode_ids(store, docs).collect(), key=lambda r: r["doc_id"]
    ):
        stream.extend(r["piece_ids"])
    packed = sorted(
        (r["chunk_id"], list(r["token_ids"]))
        for r in materialize_packed(store, docs, ctx=5).collect()
    )
    assert [len(w) for _, w in packed[:-1]] == [5] * (len(packed) - 1)
    flat = [t for _, w in packed for t in w]
    assert flat == stream


def test_curate_pack_with_stored_tokenizer(spark, tmp_path):
    """--tokenizer packing: windows are sized in stored-tokenizer
    pieces, so per-split offsets are the exact prefix sums of the
    tokenizer's per-doc piece counts (whitespace counts would differ
    whenever a word splits into >1 piece)."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.jobs.curate_corpus import publish_corpus
    from delta_data_pipelines_spark.jobs.tokenizer import (
        TokenizerStore,
        piece_counts,
        train_tokenizer,
    )
    from delta_data_pipelines_spark.storage import VersionedTable

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").limit(80)
    tok = TokenizerStore(spark, str(tmp_path / "tok"))
    train_tokenizer(tok, docs, family="unigram", max_len=4, min_count=50)

    table = VersionedTable(spark, str(tmp_path / "out"))
    publish_corpus(
        table, docs, scrub=False, pack_ctx=64, tokenizer_store=tok
    )
    out = table.read()
    assert {"start_offset", "chunk_start", "chunk_end"} <= set(out.columns)
    pc = {
        r["doc_id"]: r["n_pieces"]
        for r in piece_counts(tok, out.select("doc_id", "text")).collect()
    }
    for split_name in [r[0] for r in out.select("split").distinct().collect()]:
        rows = sorted(
            out.where(F.col("split") == split_name).collect(),
            key=lambda r: r["doc_id"],
        )
        off = 0
        for r in rows:
            assert r["start_offset"] == off, (split_name, r["doc_id"])
            assert r["chunk_start"] == off // 64
            assert r["chunk_end"] == (off + pc[r["doc_id"]] - 1) // 64
            off += pc[r["doc_id"]]


def test_tokenizer_bpe_ids_cover_full_alphabet(spark, tmp_path):
    """The BPE id space must include EVERY train-corpus character, not
    just the symbols merge rules touch — a letter no rule ever merged
    still encodes to a real id, never 0/<unk> (meta['chars'] pin); and
    empty-text docs survive encoding as empty arrays instead of
    vanishing (explode_outer)."""
    from delta_data_pipelines_spark.jobs.tokenizer import (
        TokenizerStore,
        encode_corpus,
        encode_ids,
        train_tokenizer,
    )

    # 'q', 'x', 'z' appear once each — no merge rule will touch them
    docs = spark.createDataFrame(
        [(1, "hello hello hello qxz"), (2, "hell hello"), (3, "")],
        "doc_id long, text string",
    )
    store = TokenizerStore(spark, str(tmp_path / "btok"))
    info = train_tokenizer(store, docs, family="bpe", n_merges=3)
    assert set("qxz") <= set(store.meta()["chars"])

    enc = {r["doc_id"]: r for r in encode_ids(store, docs).collect()}
    assert len(enc) == 3
    assert min(enc[1]["piece_ids"]) >= 1, enc[1]["piece_ids"]  # no <unk>
    assert enc[3]["piece_ids"] == [] and enc[3]["piece_ids_n"] == 0
    ec = {r["doc_id"]: r["pieces"] for r in encode_corpus(store, docs).collect()}
    assert ec[3] == []


def test_refresh_pq_if_drifted_gate(spark, tmp_path):
    """Drift-gated refresh: measuring the SAME corpus the index was
    built on stays within tolerance (no refit, versions unchanged); a
    drifted corpus (negated vectors — assignment cosines collapse)
    trips the gate and refits, bumping both pinned versions and
    re-basing the baseline."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.jobs.ann_index import (
        PQIndexStore,
        refresh_pq_if_drifted,
        refresh_pq_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    store = PQIndexStore(spark, str(tmp_path / "pq"))
    refresh_pq_index(store, e, m=4, k=4, n_iter=2)
    v0 = store.meta()["codes_version"]

    res = refresh_pq_if_drifted(store, e, tolerance=0.01)
    assert res["refreshed"] is False
    assert res["probe_mean_sim"] == store.meta()["baseline_mean_sim"]
    assert store.meta()["codes_version"] == v0

    # alternate-sign flip decorrelates the corpus from the codebook
    # (the fixture's baseline is modest, so the gate is tested at a
    # proportionate tolerance)
    drifted = e.withColumn(
        "embedding",
        F.expr(
            "transform(embedding, (x, i) -> "
            "CASE WHEN i % 2 = 0 THEN x ELSE -x END)"
        ),
    )
    res2 = refresh_pq_if_drifted(store, drifted, tolerance=0.01)
    assert res2["refreshed"] is True
    assert res2["probe_mean_sim"] < res2["baseline_mean_sim"] - 0.01
    assert store.meta()["codes_version"] == v0 + 1
    assert store.meta()["baseline_mean_sim"] == res2["baseline_mean_sim"]


def test_curate_corpus_dsir_select_steers_toward_target(spark):
    """dsir_select keeps the N gated docs most like the DSIR target.
    With an EXTERNAL target speaking a planted vocabulary, the kept
    set must be dominated by docs sharing it; deterministic across
    runs; NULL rows pass through the stage itself."""
    from delta_data_pipelines_spark.jobs.curate_corpus import (
        curate_corpus,
        dsir_stage,
    )

    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    rows = []
    for i in range(1, 21):
        # all docs pass the gate; docs 1-10 speak "alpha beta", 11-20
        # speak "gamma delta" — disjoint content vocabularies
        voc = ("alpha", "beta") if i <= 10 else ("gamma", "delta")
        words = [
            w
            for j in range(18)
            for w in (stops[j % 8], f"u{i}w{j}", voc[(j + 1) % 2])
        ]
        rows.append((i, " ".join(words), "en", "src0"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    target = spark.createDataFrame(
        [(1000, " ".join(["alpha beta " + stops[j % 8] for j in range(20)]))],
        "doc_id long, text string",
    )
    out1 = curate_corpus(
        docs, scrub=False, dsir_select=6, dsir_target=target
    )
    ids1 = sorted(r["doc_id"] for r in out1.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in curate_corpus(
            docs, scrub=False, dsir_select=6, dsir_target=target
        ).collect()
    )
    assert ids1 == ids2 and len(ids1) == 6  # deterministic budget
    # the alpha/beta half must dominate the selection
    assert sum(1 for i in ids1 if i <= 10) >= 5

    # stage invariant: NULL-id / NULL-text rows pass through
    with_nulls = docs.unionByName(
        spark.createDataFrame(
            [(None, "alpha beta text", "en", "src0"),
             (99, None, "en", "src0")],
            "doc_id long, text string, lang string, source string",
        )
    )
    staged = dsir_stage(with_nulls, keep=3, target=target).collect()
    kept = {r["doc_id"] for r in staged}
    assert None in kept and 99 in kept
    assert len(staged) == 5  # 3 selected + 2 passthrough


def test_frozen_dsir_model_fit_and_serve(spark, tmp_path):
    """fit_reference_model(dsir_keep_fraction=...) freezes a DSIR
    log-ratio table + weight threshold; curate_batch then applies the
    STORED model as a weight floor: replays are identical, the kept
    set matches a direct dsir_score >= threshold on the same gated
    frame, and on the reference corpus itself the floor admits about
    the requested fraction."""
    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.jobs.curate_corpus import (
        quality_gate,
        scrub_stage,
    )
    from delta_data_pipelines_spark.jobs.incremental_curate import (
        FrozenCurationModel,
        curate_batch,
        fit_reference_model,
    )
    from delta_data_pipelines_spark.operators import dsir

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    ref = docs.where(F.col("doc_id") % 2 == 0)
    heldout = docs.where(F.col("doc_id") % 19 == 0)
    model = FrozenCurationModel(spark, str(tmp_path / "fz"))
    meta = fit_reference_model(
        model, ref, heldout, dsir_keep_fraction=0.5, dsir_n_buckets=256
    )
    assert meta["dsir_threshold"] is not None
    assert meta["dsir_n_buckets"] == 256
    assert model.dsir_lr.exists()
    assert model.dsir_lr.read().count() == 256

    batch = docs.where(F.col("doc_id") % 2 == 1)
    out1 = sorted(r["doc_id"] for r in curate_batch(batch, model).collect())
    out2 = sorted(r["doc_id"] for r in curate_batch(batch, model).collect())
    assert out1 == out2 and out1  # deterministic, non-empty

    # the DSIR floor is really applied: recompute the expected keep
    # set with the stored table over the same upstream stages
    gated = quality_gate(scrub_stage(batch, "text"), "text")
    w = dsir.dsir_score(
        gated, model.dsir_lr.read(), "doc_id", "text", 256
    )
    below = {
        r["doc_id"]
        for r in w.where(
            F.col("dsir_weight") < F.lit(meta["dsir_threshold"])
        ).collect()
    }
    assert below, "fixture should have docs under the floor"
    assert not (set(out1) & below)

    # calibration: on the reference's own clean frame the floor keeps
    # ~keep_fraction (exact up to percentile interpolation/ties)
    ref_gated = quality_gate(scrub_stage(ref, "text"), "text")
    rw = dsir.dsir_score(ref_gated, model.dsir_lr.read(), "doc_id", "text", 256)
    n = rw.count()
    kept = rw.where(
        F.col("dsir_weight") >= F.lit(meta["dsir_threshold"])
    ).count()
    assert abs(kept / n - 0.5) < 0.1, (kept, n)

    # a fit without the DSIR fraction writes no threshold and serves
    # without the stage
    m2 = FrozenCurationModel(spark, str(tmp_path / "fz2"))
    meta2 = fit_reference_model(m2, ref, heldout)
    assert "dsir_threshold" not in meta2
    assert curate_batch(batch, m2).count() >= len(out1)


def test_batch_drift_vs_frozen_reference(spark, tmp_path):
    """batch_drift: a batch drawn from the reference distribution
    scores near zero; a disjoint-vocabulary batch scores much higher
    with every token OOV; an empty batch reports None (no
    distribution), not a perfect-match 0.0."""
    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.jobs.incremental_curate import (
        FrozenCurationModel,
        batch_drift,
        fit_reference_model,
    )

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    ref = docs.where(F.col("doc_id") % 2 == 0)
    heldout = docs.where(F.col("doc_id") % 19 == 0)
    model = FrozenCurationModel(spark, str(tmp_path / "fzd"))
    fit_reference_model(model, ref, heldout)

    # the reference's own clean docs: tiny drift (same distribution).
    # NOTE batch_drift sees the RAW batch; use ref itself — gate-
    # surviving docs dominate the frozen distribution
    same = batch_drift(ref, model)
    assert same["n_tokens"] > 0 and same["kl_nats"] is not None

    novel = spark.createDataFrame(
        [(9999, "zzqx wwvk yyru " * 30)], "doc_id long, text string"
    )
    far = batch_drift(novel, model)
    assert far["n_oov_tokens"] == far["n_tokens"] > 0
    assert far["kl_nats"] > same["kl_nats"] + 1.0

    empty = batch_drift(novel.where(F.lit(False)), model)
    assert empty == {"n_tokens": 0, "n_oov_tokens": 0, "kl_nats": None}


def test_curate_corpus_c4_and_blocklist_stages_wire_through(spark):
    """curate_corpus(c4=True) replaces text with the retained lines
    BEFORE the gate (the boilerplate-only doc dies, mixed docs survive
    with their junk lines gone); url_blocklist drops blocked hosts at
    label boundaries before any text stage. Gate relaxed: this pins
    the stage wiring, not the Gopher thresholds."""
    from delta_data_pipelines_spark.jobs.curate_corpus import curate_corpus

    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    junk = "please enable javascript to view this page."

    def mk(i):
        # three C4-clean lines (terminal punct, >=5 words, per-doc
        # distinct content words so near-dup collapse keeps them all)
        # plus one junk line
        lines = [
            " ".join(f"{stops[j % 8]} w{i}x{k}y{j}" for j in range(8)) + "."
            for k in range(3)
        ]
        return "\n".join(lines + [junk])

    rows = [(i, mk(i), f"http://site{i}.com/p") for i in range(1, 13)]
    # boilerplate-only: every line fails a C4 line rule
    rows.append((98, "\n".join([junk, "too short.", "no punct at all"]),
                 "http://site98.com/p"))
    # blocked host (subdomain of a listed domain)
    rows.append((99, mk(99), "http://ads.blocked.com/p"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    bl = spark.createDataFrame([("blocked.com",)], "domain string")
    relaxed = dict(scrub=False, min_tokens=5, quality_floor=0.0)

    plain = {r["doc_id"] for r in curate_corpus(docs, **relaxed).collect()}
    assert {98, 99} <= plain  # without the new stages both survive

    out = curate_corpus(docs, c4=True, url_blocklist=bl, **relaxed)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert 98 not in got and 99 not in got
    assert 1 in got
    assert "javascript" not in got[1]          # junk line cleaned away
    # published text KEEPS its line structure (the r12 review: a
    # destructive \n->space rewrite disabled the line-duplicate caps
    # and flattened every published corpus; stages normalize the view
    # they SCORE instead)
    assert got[1].count("\n") == 2             # 3 kept lines remain


def test_c4_stage_null_text_passes_through_one_scan(spark):
    """c4_stage: NULL-text rows pass through (text stays NULL) via the
    operator's keep_nulls mode — no passthrough union, so the plan has
    exactly ONE scan of the input."""
    from delta_data_pipelines_spark.jobs.curate_corpus import c4_stage

    good = "alpha beta gamma delta epsilon."
    df = spark.createDataFrame(
        [(1, "\n".join([good] * 3)), (2, None), (3, "junk")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in c4_stage(df).collect()}
    assert out == {1: "\n".join([good] * 3), 2: None}
    plan = c4_stage(df)._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan, plan


def test_curate_corpus_pack_bins_never_cross_splits(spark):
    """curate_corpus(pack_bins_ctx=...): every published doc carries a
    bin assignment, bins stay within ctx, and no (pack_group, bin)
    pair ever mixes two splits — the packing-never-crosses-splits rule
    of the chunk packer, kept by folding split into the grouping."""
    from collections import defaultdict

    from delta_data_pipelines_spark.jobs.curate_corpus import curate_corpus

    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    rows = [
        (i, " ".join(f"{stops[j % 8]} w{i}x{j}" for j in range(8)))
        for i in range(1, 41)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curate_corpus(
        docs, scrub=False, min_tokens=5, quality_floor=0.0,
        pack_bins_ctx=64,
    ).collect()
    assert out and all(r["bin"] is not None for r in out)
    bins = defaultdict(lambda: {"splits": set(), "tokens": 0})
    for r in out:
        b = bins[(r["pack_group"], r["bin"], r["split"])]
        b["tokens"] += len(r["text"].split(" "))
    by_gb = defaultdict(set)
    for r in out:
        by_gb[(r["pack_group"], r["bin"])].add(r["split"])
    # a (group, bin) pair may repeat across splits only because bin
    # ids are LOCAL to (split, group); within one split no bin > ctx
    for (_, _, _), v in bins.items():
        assert v["tokens"] <= 64


def _continuous_indexer(spark, tmp_path):
    """The seven sf0.001 star-schema tables as versioned sources, an
    index table not yet written, and the indexer over them."""
    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.jobs.search_indexer import (
        ContinuousSearchIndexer,
    )
    from delta_data_pipelines_spark.storage import VersionedTable

    src = {}
    for n in ("orders", "lineitem", "events", "customer", "nation",
              "region", "part"):
        t = VersionedTable(spark, str(tmp_path / n))
        t.overwrite(read_table(spark, "/root/testdata/sf0.001", n))
        src[n] = t
    index = VersionedTable(spark, str(tmp_path / "search_index"))
    return src, index, ContinuousSearchIndexer(spark, src, index)


def _index_rows_and_rebuild(ix):
    """(index rows, rows of a from-scratch build over the sources'
    current snapshots), as sets."""
    snaps = {n: t.read() for n, t in ix.sources.items()}
    return (
        {tuple(r) for r in ix.index.read().collect()},
        {tuple(r) for r in ix._build(snaps, None).collect()},
    )


def test_search_indexer_watermark_survives_compact_and_vacuum(
    spark, tmp_path
):
    """Raw maintenance of the index table (compact, then a vacuum that
    keeps only the compact commit) keeps the indexer's watermark, so
    the next tick stays incremental and deletes an order the source
    dropped meanwhile instead of re-bootstrapping around a phantom."""
    src, index, ix = _continuous_indexer(spark, tmp_path)
    assert ix.tick()["mode"] == "bootstrap"
    index.compact()
    index.vacuum(keep_last=1)
    gone = index.read().orderBy("id").first()["id"]
    src["orders"].delete_where(F.col("o_orderkey") == gone)
    r = ix.tick()
    got, want = _index_rows_and_rebuild(ix)
    assert got == want and gone not in {row[0] for row in got}
    assert r["mode"] == "incremental"


def test_search_indexer_unwatermarked_index_converges(spark, tmp_path):
    """A populated index whose latest commit carries no watermark (a
    foreign overwrite, older history vacuumed) re-bootstraps through
    the full-scope path, whose stale universe is the ids the index
    holds: an order the source deleted leaves the index."""
    src, index, ix = _continuous_indexer(spark, tmp_path)
    ix.tick()
    index.overwrite(index.read())
    index.vacuum(keep_last=1)
    gone = index.read().orderBy("id").first()["id"]
    src["orders"].delete_where(F.col("o_orderkey") == gone)
    r = ix.tick()
    assert r["mode"] == "bootstrap" and r["deletes"] >= 1
    got, want = _index_rows_and_rebuild(ix)
    assert got == want


def test_continuous_search_indexer_converges(spark, tmp_path):
    """The CDC-driven always-on indexer (VERDICT r10 ask #6): after a
    bootstrap and a series of mutation ticks spanning every change
    class — status flips in and out of qualification, price updates,
    a hard fact delete, EAV updates and deletes, a role change, and a
    dim update — the maintained index EQUALS the full rebuild from the
    sources' current snapshots, and incremental ticks touch only the
    affected keys (cost follows change volume)."""
    from pyspark.sql import functions as F

    src, index, ix = _continuous_indexer(spark, tmp_path)

    def full():
        return _index_rows_and_rebuild(ix)[1]

    def got():
        return {tuple(r) for r in index.read().collect()}

    r = ix.tick()
    assert r["mode"] == "bootstrap"
    n0 = len(got())
    assert n0 > 10 and got() == full()
    assert ix.tick()["mode"] == "noop"

    # --- tick 1: fact mutations -------------------------------------------
    o = src["orders"]
    qualified = [
        r["o_orderkey"]
        for r in o.read()
        .where("o_orderstatus='F' AND o_orderdate > timestamp'1998-01-01'")
        .orderBy("o_orderkey").limit(5).collect()
    ]
    unqual = [
        r["o_orderkey"]
        for r in o.read().where("o_orderstatus <> 'F'")
        .orderBy("o_orderkey").limit(1).collect()
    ]
    cur = o.read()
    upd = (
        # disqualify an indexed order (status flip out)
        cur.where(F.col("o_orderkey") == qualified[0])
        .withColumn("o_orderstatus", F.lit("O"))
        # qualify a previously-excluded one (flip in + date move)
        .unionByName(
            cur.where(F.col("o_orderkey") == unqual[0])
            .withColumn("o_orderstatus", F.lit("F"))
            .withColumn(
                "o_orderdate", F.lit("1999-06-01").cast("timestamp")
            )
        )
        # in-place value change on an indexed order
        .unionByName(
            cur.where(F.col("o_orderkey") == qualified[1])
            .withColumn("o_totalprice", F.col("o_totalprice") + 1)
        )
    )
    o.merge(upd, keys=["o_orderkey"], when_matched="update")
    o.delete_where(F.col("o_orderkey") == qualified[2])  # hard delete
    r = ix.tick()
    assert r["mode"] == "incremental"
    assert r["deletes"] >= 2  # the flip-out and the hard delete left
    assert r["upserts"] + r["deletes"] <= 6  # scoped, not a rebuild
    assert got() == full()

    # --- tick 2: EAV + role mutations -------------------------------------
    li, ev = src["lineitem"], src["events"]
    k = qualified[3]
    li.merge(
        li.read().where(F.col("l_orderkey") == k)
        .withColumn("l_extendedprice", F.col("l_extendedprice") + 5),
        keys=["l_orderkey", "l_linenumber"], when_matched="update",
    )
    li.delete_where(
        (F.col("l_orderkey") == qualified[4]) & (F.col("l_linenumber") == 1)
    )
    u = o.read().where(F.col("o_orderkey") == k).first()["o_custkey"]
    ev_rows = ev.read().where(F.col("user_id") == u)
    if ev_rows.isEmpty():  # synthesize a role event for that user
        ev.merge(
            ev.read().limit(1)
            .withColumn("event_id", F.lit(10**9).cast("long"))
            .withColumn("user_id", F.lit(u).cast("long")),
            keys=["event_id"],
        )
    else:
        ev.merge(
            ev_rows.withColumn("value", F.col("value") * 0),
            keys=["event_id"], when_matched="update",
        )
    r = ix.tick()
    assert r["mode"] == "incremental"
    assert got() == full()

    # --- tick 3: dim change -> full-scope fallback -------------------------
    c = src["customer"]
    c.merge(
        c.read().limit(3).withColumn("c_name", F.lit("renamed")),
        keys=["c_custkey"], when_matched="update",
    )
    r = ix.tick()
    assert r["mode"] == "full"
    assert got() == full()


def test_curate_corpus_lang_aware_gate_and_lm(spark):
    """lang_aware=True must (a) keep a Spanish doc the global English
    quality floor would cut, routing it through es thresholds; (b) cut
    each language's own LM outlier rather than concentrating the cut
    on the language the shared model fits worst; (c) refuse global
    gate_kwargs, whose thresholds would be silently ignored."""
    import pytest
    from delta_data_pipelines_spark.jobs.curate_corpus import curate_corpus

    # every second token is doc-specific, so no two docs share an
    # 8-token shingle (near-dup collapse must not merge them), while
    # the interleaved stopwords give the per-language LM its
    # high-frequency mass
    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    es_stops = ["el", "la", "de", "que", "y"]
    rows = [
        (i, " ".join(f"{stops[j % 8]} w{i}_{j}" for j in range(32)))
        for i in range(1, 13)
    ]
    # 24-token es docs: quality = 0.4*0 + 0.4*(24/64) + 0.2 = 0.35 —
    # under the global 0.40 floor (no English stopwords), over es 0.30
    rows += [
        (100 + i, " ".join(f"{es_stops[j % 5]} v{i}_{j}" for j in range(12)))
        for i in range(1, 13)
    ]
    # es LM outlier: passes the es gate (50 tokens -> quality 0.51,
    # predicted es via the marker run) but 80% corpus-rare tokens
    es_gib = " ".join(es_stops) + " " + " ".join(es_stops) + " " + " ".join(
        f"zq{j}x" for j in range(40)
    )
    rows.append((199, es_gib))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    global_ids = {
        r["doc_id"] for r in curate_corpus(docs, scrub=False).collect()
    }
    lang_ids = {
        r["doc_id"]
        for r in curate_corpus(docs, scrub=False, lang_aware=True).collect()
    }
    # the English 0.40 floor cuts Spanish docs (stopword component ~0);
    # per-language routing restores them
    assert not any(100 < i < 113 for i in global_ids)
    assert {101, 102, 112} <= lang_ids

    with_lm = {
        r["doc_id"]
        for r in curate_corpus(
            docs, scrub=False, lang_aware=True, lm_drop_fraction=0.08
        ).collect()
    }
    assert 199 in lang_ids and 199 not in with_lm
    # the en docs' own worst is cut, not the whole es language
    assert len([i for i in with_lm if i > 100]) >= 10

    with pytest.raises(ValueError, match="lang_gates"):
        curate_corpus(docs, scrub=False, lang_aware=True, quality_floor=0.1)

    # routed column survives for downstream stages when predicted
    out = curate_corpus(docs, scrub=False, lang_aware=True)
    assert "lang_routed" in out.columns


def test_quality_gate_dup_coverage_cap(spark):
    """dup_coverage_cap=(n, cap) must cut the doc whose tokens sit
    mostly inside repeated n-grams while leaving varied docs alone —
    and stay off by default (pinned gate behavior)."""
    from delta_data_pipelines_spark.jobs.curate_corpus import quality_gate

    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    varied = " ".join(f"{stops[j % 8]} w{j}" for j in range(16))
    # gate-passing but phrase-looped: 'p q r' x4 (12 covered tokens)
    # + a 10-token stopword-bearing unique tail = 22 tokens, coverage
    # 12/22 = 0.545 > cap while every OTHER default rule passes
    # (dup tokens 9/22 = 0.409, top bigram 4/21 = 0.190, quality 0.43)
    loop = "p q r " * 4 + " ".join(
        f"{stops[j]} x{j}" for j in range(5)
    )
    docs = spark.createDataFrame(
        [(1, varied), (2, loop)], "doc_id long, text string"
    )
    base = {r["doc_id"] for r in quality_gate(docs).collect()}
    capped = {
        r["doc_id"]
        for r in quality_gate(docs, dup_coverage_cap=(3, 0.5)).collect()
    }
    assert base == {1, 2}
    assert capped == {1}


def test_frozen_lang_aware_model_fit_and_serve(spark, tmp_path):
    """fit_reference_model(lang_aware=True) freezes per-language
    unigram tables and per-language LM thresholds; curate_batch then
    (a) gates by each doc's own language's thresholds, (b) cuts a
    batch doc scoring under ITS language's frozen floor without
    touching the other language, and (c) passes a document in a
    language the reference never saw through the LM stage unscored."""
    from delta_data_pipelines_spark.jobs.incremental_curate import (
        FrozenCurationModel,
        curate_batch,
        fit_reference_model,
    )

    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    es_stops = ["el", "la", "de", "que", "y"]
    ref_rows = [
        (i, " ".join(f"{stops[j % 8]} w{i}_{j}" for j in range(32)))
        for i in range(1, 13)
    ]
    ref_rows += [
        (100 + i, " ".join(f"{es_stops[j % 5]} v{i}_{j}" for j in range(12)))
        for i in range(1, 13)
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    heldout = spark.createDataFrame(
        [(9000, " ".join(f"h{j}" for j in range(20)))],
        "doc_id long, text string",
    )
    model = FrozenCurationModel(spark, str(tmp_path / "fzl"))
    meta = fit_reference_model(
        model, ref, heldout, drop_fraction=0.05, lang_aware=True
    )
    assert meta["lang_aware"] is True
    assert set(meta["lang_totals"]) == {"en", "es"}
    assert set(meta["lang_thresholds"]) == {"en", "es"}
    assert set(model.unigram.read().columns) == {"lang", "token", "tf"}

    # batch: one healthy doc per language (reference vocabulary), one
    # es LM outlier, one doc in a language the model never saw (fr
    # markers -> 'fr' routing, no frozen model)
    batch_rows = [
        (201, " ".join(f"{stops[j % 8]} w1_{j}" for j in range(32))),
        (202, " ".join(f"{es_stops[j % 5]} v1_{j}" for j in range(12))),
        (203, " ".join(es_stops) + " " + " ".join(es_stops) + " "
              + " ".join(f"zq{j}x" for j in range(40))),
        (204, "le la et les des " * 4 + "bonjour monde voila alors donc"),
    ]
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    kept = {r["doc_id"] for r in curate_batch(batch, model).collect()}
    assert 201 in kept and 202 in kept
    assert 203 not in kept          # under es's frozen floor
    assert 204 in kept              # unseen language: passes unscored

    # replay determinism: same batch, same keep set
    again = {r["doc_id"] for r in curate_batch(batch, model).collect()}
    assert again == kept

    # frozen-gates invariant: lang_gates=None must be RESOLVED at fit
    # time (the effective defaults stored in meta), never stored as
    # None and re-resolved at apply time — a later edit to
    # DEFAULT_LANG_GATES would otherwise silently change a frozen
    # model's thresholds between fit and apply
    from delta_data_pipelines_spark.operators.langcurate import (
        DEFAULT_LANG_GATES,
    )

    assert meta["lang_gates"] == {
        k: list(v) for k, v in DEFAULT_LANG_GATES.items()
    }


def test_batch_drift_pools_lang_aware_reference(spark, tmp_path):
    """On a lang-aware model the drift alarm must measure against the
    POOLED reference distribution: a token frozen under BOTH languages
    must not fan the batch join out (overcounting n_tokens), and a
    reference-like batch still reads near zero."""
    from delta_data_pipelines_spark.jobs.incremental_curate import (
        FrozenCurationModel,
        batch_drift,
        fit_reference_model,
    )

    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    es_stops = ["el", "la", "de", "que", "y"]
    # 'shared' appears in BOTH languages' reference docs (gate-passing
    # interleaved-unique construction, one 'shared' token per doc)
    ref_rows = [
        (i, " ".join(f"{stops[j % 8]} w{i}_{j}" for j in range(16))
            + " shared")
        for i in range(1, 13)
    ]
    ref_rows += [
        (100 + i, " ".join(f"{es_stops[j % 5]} v{i}_{j}" for j in range(12))
            + " shared")
        for i in range(1, 13)
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    heldout = spark.createDataFrame(
        [(9000, " ".join(f"h{j}" for j in range(20)))],
        "doc_id long, text string",
    )
    model = FrozenCurationModel(spark, str(tmp_path / "fzd"))
    fit_reference_model(model, ref, heldout, lang_aware=True)

    batch = spark.createDataFrame(
        [(500, "shared shared the el shared")], "doc_id long, text string"
    )
    d = batch_drift(batch, model)
    # 5 tokens in the batch — a per-language fan-out would report more
    assert d["n_tokens"] == 5
    assert d["n_oov_tokens"] == 0
    assert d["kl_nats"] is not None


def test_curate_corpus_sentence_spans_stage(spark):
    """curate_corpus(sentence_spans=3) must cut the duplicated
    3-sentence span from the non-keeper doc while both docs survive
    the pipeline (gate-passing, not near-dups of each other), and
    other columns ride through the stage's id re-join."""
    from delta_data_pipelines_spark.jobs.curate_corpus import curate_corpus

    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    shared = "the quick brown fox. it jumped over lazily. a dog slept on."
    # the unique prefix must END a sentence, or it would merge into the
    # first shared sentence and the 3-spans would differ between docs
    uniq_a = " ".join(f"{stops[j % 8]} wa{j}" for j in range(16)) + " enda."
    uniq_b = " ".join(f"{stops[j % 8]} wb{j}" for j in range(16)) + " endb."
    docs = spark.createDataFrame(
        [(1, f"{uniq_a} {shared}", "sa"), (2, f"{uniq_b} {shared}", "sb")],
        "doc_id long, text string, source string",
    )
    out = {
        r["doc_id"]: (r["text"], r["source"])
        for r in curate_corpus(docs, scrub=False, sentence_spans=3).collect()
    }
    assert set(out) == {1, 2}
    assert shared in out[1][0]
    assert shared not in out[2][0] and out[2][0] == uniq_b
    assert out[1][1] == "sa" and out[2][1] == "sb"


def test_frozen_logreg_classifier_filter(spark, tmp_path):
    """fit_reference_model(classifier='logreg') freezes the unrolled-GD
    linear weight table AND a reference-calibrated score percentile
    (the DSIR-stage discipline — a raw pred_pos cut degenerates to
    drop-all when hashed features can't separate the seed labels);
    curate_batch keeps scores >= the frozen floor under the STORED
    weights in the recorded bucket space: replays identical, the kept
    set matches a direct logreg_score threshold on the same gated
    frame, the reference's own keep rate tracks keep_fraction, and an
    unknown classifier name raises."""
    import pytest as _pytest

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.jobs.curate_corpus import (
        quality_gate,
        scrub_stage,
    )
    from delta_data_pipelines_spark.jobs.incremental_curate import (
        FrozenCurationModel,
        curate_batch,
        fit_reference_model,
    )
    from delta_data_pipelines_spark.operators.textstats import (
        classifier_features,
        logreg_score,
    )

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    ref = docs.where(F.col("doc_id") % 2 == 0)
    heldout = docs.where(F.col("doc_id") % 19 == 0)
    model = FrozenCurationModel(spark, str(tmp_path / "fzlr"))
    meta = fit_reference_model(
        model, ref, heldout, classifier="logreg", classifier_n_buckets=32
    )
    assert meta["classifier"] == "logreg"
    assert meta["classifier_n_buckets"] == 32
    assert meta["classifier_threshold"] is not None
    assert model.logreg.exists()
    # bias + at most 32 buckets
    assert model.logreg.read().count() <= 33

    batch = docs.where(F.col("doc_id") % 2 == 1)
    out1 = sorted(r["doc_id"] for r in curate_batch(batch, model).collect())
    out2 = sorted(r["doc_id"] for r in curate_batch(batch, model).collect())
    assert out1 == out2 and out1

    # the calibrated floor is really applied: recompute the expected
    # below-floor set with the stored weights over the same gated frame
    gated = quality_gate(scrub_stage(batch, "text"), "text")
    below = {
        r["doc_id"]
        for r in logreg_score(
            classifier_features(gated, "text", 32), model.logreg.read(), "doc_id"
        )
        .where(F.col("lr_score") < F.lit(meta["classifier_threshold"]))
        .collect()
    }
    assert below, "fixture should have docs under the floor"
    assert not (set(out1) & below)

    # calibration: on the reference's own clean frame the floor keeps
    # ~keep_fraction (exact up to percentile interpolation/ties)
    ref_gated = quality_gate(scrub_stage(ref, "text"), "text")
    rs = logreg_score(
        classifier_features(ref_gated, "text", 32), model.logreg.read(), "doc_id"
    )
    n = rs.count()
    kept = rs.where(
        F.col("lr_score") >= F.lit(meta["classifier_threshold"])
    ).count()
    assert abs(kept / n - 0.5) < 0.1, (kept, n)

    with _pytest.raises(ValueError, match="logreg"):
        fit_reference_model(
            FrozenCurationModel(spark, str(tmp_path / "bad")),
            ref,
            heldout,
            classifier="fasttext",
        )


def test_frozen_kn_lm_filter(spark, tmp_path):
    """fit_reference_model(lm='kn') freezes ONE extra artifact — the
    reference bigram-type table — and calibrates the LM floor on KN
    scores; curate_batch recomputes the marginals from the STORED
    table and drops strictly-below-floor docs: replays identical,
    the dropped set matches a direct kn_score_from_types
    threshold on the same gated frame, a gate-surviving doc the
    model cannot score (under 2 tokens) passes the LM stage through
    (exercised with a min_tokens=1 gate), the unigram table still
    freezes (batch_drift keeps working), and an unknown lm name
    raises. (lang_aware + kn is SUPPORTED — see
    test_frozen_lang_aware_kn_lm_filter.)"""
    import pytest as _pytest

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.jobs.curate_corpus import (
        quality_gate,
        scrub_stage,
    )
    from delta_data_pipelines_spark.jobs.incremental_curate import (
        FrozenCurationModel,
        batch_drift,
        curate_batch,
        fit_reference_model,
    )
    from delta_data_pipelines_spark.operators.textstats import (
        kn_score_from_types,
    )

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    ref = docs.where(F.col("doc_id") % 2 == 0)
    heldout = docs.where(F.col("doc_id") % 19 == 0)
    model = FrozenCurationModel(spark, str(tmp_path / "fzkn"))
    meta = fit_reference_model(
        model, ref, heldout, lm="kn", drop_fraction=0.2
    )
    assert meta["lm"] == "kn"
    assert meta["lm_threshold"] is not None
    assert model.kn_types.exists() and model.unigram.exists()

    batch = docs.where(F.col("doc_id") % 2 == 1)
    out1 = sorted(r["doc_id"] for r in curate_batch(batch, model).collect())
    out2 = sorted(r["doc_id"] for r in curate_batch(batch, model).collect())
    assert out1 == out2 and out1

    # the floor is really applied: recompute the below-floor set with
    # the stored type table over the same gated frame
    gated = quality_gate(scrub_stage(batch, "text"), "text")
    below = {
        r["doc_id"]
        for r in kn_score_from_types(
            gated, model.kn_types.read(), 2, "doc_id", "text"
        )
        .where(F.col("avg_logprob") < F.lit(meta["lm_threshold"]))
        .collect()
    }
    assert below, "drop_fraction=0.2 should cut part of the batch"
    assert not (set(out1) & below)

    # a gate-surviving doc the KN model cannot score must pass the LM
    # stage through (drop-list semantics): fit a second model whose
    # gate admits short docs, then feed a single-token doc — it has
    # no bigram, is absent from the score frame, and must be KEPT
    model_short = FrozenCurationModel(spark, str(tmp_path / "fzkn1"))
    meta_short = fit_reference_model(
        model_short, ref, heldout, lm="kn", drop_fraction=0.2,
        min_tokens=1, quality_floor=0.0,
    )
    assert meta_short["lm_threshold"] is not None
    one_tok = spark.createDataFrame(
        [(9001, "solo")], "doc_id long, text string"
    )
    out_short = {
        r["doc_id"]
        for r in curate_batch(batch.unionByName(one_tok), model_short)
        .collect()
    }
    assert 9001 in out_short, "unscorable doc must pass the KN stage"

    # unigram artifact still present and serving drift
    drift = batch_drift(batch, model)
    assert isinstance(drift, dict) and drift

    # kn3: the trigram artifact freezes and applies with the same
    # drop-list semantics; the dropped set matches the direct
    # stored-table threshold
    model3 = FrozenCurationModel(spark, str(tmp_path / "fzkn3"))
    meta3 = fit_reference_model(
        model3, ref, heldout, lm="kn3", drop_fraction=0.2
    )
    assert meta3["lm"] == "kn3" and model3.kn_types.exists()
    out3a = sorted(
        r["doc_id"] for r in curate_batch(batch, model3).collect()
    )
    out3b = sorted(
        r["doc_id"] for r in curate_batch(batch, model3).collect()
    )
    assert out3a == out3b and out3a
    below3 = {
        r["doc_id"]
        for r in kn_score_from_types(
            gated, model3.kn_types.read(), 3, "doc_id", "text"
        )
        .where(F.col("avg_logprob") < F.lit(meta3["lm_threshold"]))
        .collect()
    }
    assert below3 and not (set(out3a) & below3)

    # kn4: the 4-gram artifact freezes and applies with the same
    # drop-list semantics through the same order-n scorer
    model4 = FrozenCurationModel(spark, str(tmp_path / "fzkn4"))
    meta4 = fit_reference_model(
        model4, ref, heldout, lm="kn4", drop_fraction=0.2
    )
    assert meta4["lm"] == "kn4" and model4.kn_types.exists()
    assert "kn_types_version" in meta4
    out4a = sorted(
        r["doc_id"] for r in curate_batch(batch, model4).collect()
    )
    out4b = sorted(
        r["doc_id"] for r in curate_batch(batch, model4).collect()
    )
    assert out4a == out4b and out4a
    below4 = {
        r["doc_id"]
        for r in kn_score_from_types(
            gated, model4.kn_types.read(), 4, "doc_id", "text"
        )
        .where(F.col("avg_logprob") < F.lit(meta4["lm_threshold"]))
        .collect()
    }
    assert below4 and not (set(out4a) & below4)

    with _pytest.raises(ValueError, match="lm must be"):
        fit_reference_model(
            FrozenCurationModel(spark, str(tmp_path / "badlm")),
            ref,
            heldout,
            lm="4gram",
        )


def test_frozen_lang_aware_kn_lm_filter(spark, tmp_path):
    """fit_reference_model(lang_aware=True, lm='kn') — CCNet's real
    shape, one KenLM per language: freezes ONE (lang, w1, w2) type
    table and per-language KN floors; curate_batch cuts a batch doc
    scoring under ITS language's floor without touching the other
    language, passes an unseen-language doc through the LM stage
    unscored, and replays identically."""
    from delta_data_pipelines_spark.jobs.incremental_curate import (
        FrozenCurationModel,
        curate_batch,
        fit_reference_model,
    )

    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    es_stops = ["el", "la", "de", "que", "y"]
    ref_rows = [
        (i, " ".join(f"{stops[j % 8]} w{i}_{j}" for j in range(32)))
        for i in range(1, 13)
    ]
    ref_rows += [
        (100 + i, " ".join(f"{es_stops[j % 5]} v{i}_{j}" for j in range(12)))
        for i in range(1, 13)
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    # KN floors calibrate on the gated HELDOUT (the in-sample-bias
    # rule), so the heldout needs gate-passing en and es docs that
    # score at in-vocabulary levels: reuse the i=2 REFERENCE texts
    # verbatim — every bigram seen (floors sit at healthy levels, so
    # the novel-vocab outlier falls below), and their 13-grams are
    # disjoint from the i=1 batch docs (v2_*/w2_* vs v1_*/w1_*
    # vocabularies), so decontamination cannot cut the healthy batch
    heldout = spark.createDataFrame(
        [
            (9001, " ".join(f"{stops[j % 8]} w2_{j}" for j in range(32))),
            (9002, " ".join(f"{es_stops[j % 5]} v2_{j}" for j in range(12))),
        ],
        "doc_id long, text string",
    )
    model = FrozenCurationModel(spark, str(tmp_path / "fzlkn"))
    meta = fit_reference_model(
        model, ref, heldout, drop_fraction=0.05, lang_aware=True, lm="kn"
    )
    assert meta["lm"] == "kn" and meta["lang_aware"] is True
    assert set(meta["lang_thresholds"]) == {"en", "es"}
    assert set(model.kn_types.read().columns) == {
        "_kn_lang", "_w1", "_w2", "_cb"
    }

    batch_rows = [
        # healthy per-language docs built from reference BIGRAMS
        (201, " ".join(f"{stops[j % 8]} w1_{j}" for j in range(32))),
        (202, " ".join(f"{es_stops[j % 5]} v1_{j}" for j in range(12))),
        # es-routed doc whose bigrams the es model never saw -> every
        # position bottoms out at the continuation floor, far under
        # the es floor calibrated on reference-vocab docs
        (203, " ".join(es_stops) + " " + " ".join(es_stops) + " "
              + " ".join(f"zq{j}x" for j in range(40))),
        # unseen language: no (lang=fr) rows in the type table
        (204, "le la et les des " * 4 + "bonjour monde voila alors donc"),
    ]
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    kept = {r["doc_id"] for r in curate_batch(batch, model).collect()}
    assert 201 in kept and 202 in kept
    assert 203 not in kept          # under es's frozen KN floor
    assert 204 in kept              # unseen language: passes unscored
    again = {r["doc_id"] for r in curate_batch(batch, model).collect()}
    assert again == kept


def test_frozen_lang_aware_kn3_lm_filter(spark, tmp_path):
    """fit_reference_model(lang_aware=True, lm='kn3') — the per-
    language matrix point at trigram order: freezes ONE
    (lang, w1, w2, w3) type table and per-language KN floors
    calibrated on the gated HELD-OUT docs; curate_batch cuts a batch
    doc scoring under ITS language's floor via the full two-level
    recursion, passes an unseen-language doc through unscored, and
    replays identically."""
    from delta_data_pipelines_spark.jobs.incremental_curate import (
        FrozenCurationModel,
        curate_batch,
        fit_reference_model,
    )

    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    es_stops = ["el", "la", "de", "que", "y"]
    ref_rows = [
        (i, " ".join(f"{stops[j % 8]} w{i}_{j}" for j in range(32)))
        for i in range(1, 13)
    ]
    ref_rows += [
        (100 + i, " ".join(f"{es_stops[j % 5]} v{i}_{j}" for j in range(12)))
        for i in range(1, 13)
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    # heldout reuses the i=2 reference texts verbatim (the bigram
    # test's device): every trigram seen -> healthy floors; 13-grams
    # disjoint from the i=1 batch docs so decontamination can't cut
    heldout = spark.createDataFrame(
        [
            (9001, " ".join(f"{stops[j % 8]} w2_{j}" for j in range(32))),
            (9002, " ".join(f"{es_stops[j % 5]} v2_{j}" for j in range(12))),
        ],
        "doc_id long, text string",
    )
    model = FrozenCurationModel(spark, str(tmp_path / "fzlkn3"))
    meta = fit_reference_model(
        model, ref, heldout, drop_fraction=0.05, lang_aware=True, lm="kn3"
    )
    assert meta["lm"] == "kn3" and meta["lang_aware"] is True
    assert set(meta["lang_thresholds"]) == {"en", "es"}
    assert "kn_types_version" in meta
    assert set(model.kn_types.read().columns) == {
        "_kn_lang", "_w1", "_w2", "_w3", "_cb"
    }

    batch_rows = [
        # healthy per-language docs built from reference TRIGRAMS
        (201, " ".join(f"{stops[j % 8]} w1_{j}" for j in range(32))),
        (202, " ".join(f"{es_stops[j % 5]} v1_{j}" for j in range(12))),
        # es-routed doc whose trigrams the es model never saw ->
        # every position bottoms out at the continuation floor
        (203, " ".join(es_stops) + " " + " ".join(es_stops) + " "
              + " ".join(f"zq{j}x" for j in range(40))),
        # unseen language: no (lang=fr) rows in the type table
        (204, "le la et les des " * 4 + "bonjour monde voila alors donc"),
    ]
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    kept = {r["doc_id"] for r in curate_batch(batch, model).collect()}
    assert 201 in kept and 202 in kept
    assert 203 not in kept          # under es's frozen KN3 floor
    assert 204 in kept              # unseen language: passes unscored
    again = {r["doc_id"] for r in curate_batch(batch, model).collect()}
    assert again == kept


def test_frozen_lang_kn_heldout_floor_raise_all_orders(spark, tmp_path):
    """A MODELED language with no held-out floor fails the build
    loudly at ALL KN orders (kn/kn3/kn4) (the r13 in-sample-bias lesson made
    load-bearing): reference has en+es n-grams, heldout covers only
    en -> fit_reference_model raises naming es. A reference language
    with NO n-grams at the order (single-token docs) is exempt — it
    is KN-unmodeled, so the fit succeeds and its batch docs pass the
    LM stage through (the unseen-language invariant)."""
    import pytest as _pytest

    from delta_data_pipelines_spark.jobs.incremental_curate import (
        FrozenCurationModel,
        curate_batch,
        fit_reference_model,
    )

    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    es_stops = ["el", "la", "de", "que", "y"]
    ref_rows = [
        (i, " ".join(f"{stops[j % 8]} w{i}_{j}" for j in range(32)))
        for i in range(1, 13)
    ]
    ref_rows += [
        (100 + i, " ".join(f"{es_stops[j % 5]} v{i}_{j}" for j in range(12)))
        for i in range(1, 13)
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    heldout_en_only = spark.createDataFrame(
        [(9001, " ".join(f"{stops[j % 8]} w2_{j}" for j in range(32)))],
        "doc_id long, text string",
    )
    for order in ("kn", "kn3", "kn4"):
        with _pytest.raises(ValueError, match="no KN floor.*es"):
            fit_reference_model(
                FrozenCurationModel(spark, str(tmp_path / f"miss_{order}")),
                ref,
                heldout_en_only,
                drop_fraction=0.05,
                lang_aware=True,
                lm=order,
            )

    # exemption: es docs are single-token -> no bigram types -> es is
    # KN-unmodeled; explicit routing column + min_tokens=1 es gate so
    # the docs survive the gate and es DOES get unigram totals
    gates = {
        "en": (10, 10000, 1.0, 1.0, 0.0),
        "es": (1, 10000, 1.0, 1.0, 0.0),
        "default": (10, 10000, 1.0, 1.0, 0.0),
    }
    ref2_rows = [
        (i, " ".join(f"{stops[j % 8]} w{i}_{j}" for j in range(32)), "en")
        for i in range(1, 13)
    ]
    ref2_rows += [(100 + i, f"hola{i}", "es") for i in range(1, 13)]
    ref2 = spark.createDataFrame(
        ref2_rows, "doc_id long, text string, mylang string"
    )
    heldout2 = spark.createDataFrame(
        [(9001, " ".join(f"{stops[j % 8]} w2_{j}" for j in range(32)), "en")],
        "doc_id long, text string, mylang string",
    )
    model = FrozenCurationModel(spark, str(tmp_path / "exempt"))
    meta = fit_reference_model(
        model,
        ref2,
        heldout2,
        drop_fraction=0.05,
        lang_aware=True,
        lm="kn",
        lang_col="mylang",
        lang_gates=gates,
    )
    assert "es" in meta["lang_totals"]          # unigram-modeled
    assert "es" not in meta["lang_thresholds"]  # KN-unmodeled: exempt
    batch = spark.createDataFrame(
        [
            (201, " ".join(f"{stops[j % 8]} w1_{j}" for j in range(32)),
             "en"),
            (202, "adios", "es"),  # es: no KN model -> passes through
        ],
        "doc_id long, text string, mylang string",
    )
    kept = {r["doc_id"] for r in curate_batch(batch, model).collect()}
    assert kept == {201, 202}


def test_frozen_kn_newline_normalization(spark, tmp_path):
    """The frozen KN path fits and scores a line-break-normalized
    view (lm_filter_stage's fused-token rule, r13 advisory): the
    stored type table contains no token with an embedded newline,
    and a batch doc scores identically whether its words are
    separated by spaces or newlines."""
    from delta_data_pipelines_spark.jobs.incremental_curate import (
        FrozenCurationModel,
        _kn_text_view,
        fit_reference_model,
    )
    from delta_data_pipelines_spark.operators.textstats import (
        kn_score_from_types,
    )

    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    # reference text uses NEWLINE separators at every 4th boundary —
    # an unnormalized fit would bake fused "x\ny" tokens
    ref = spark.createDataFrame(
        [
            (
                i,
                "\n".join(
                    " ".join(f"{stops[(4 * b + j) % 8]} w{i}_{4 * b + j}"
                             for j in range(4))
                    for b in range(8)
                ),
            )
            for i in range(1, 13)
        ],
        "doc_id long, text string",
    )
    heldout = spark.createDataFrame(
        [(9001, " ".join(f"{stops[j % 8]} w2_{j}" for j in range(32)))],
        "doc_id long, text string",
    )
    model = FrozenCurationModel(spark, str(tmp_path / "fznl"))
    meta = fit_reference_model(
        model, ref, heldout, lm="kn", drop_fraction=0.05
    )
    assert meta["lm_threshold"] is not None
    fused = (
        model.kn_types.read()
        .where(
            F.col("_w1").contains("\n") | F.col("_w2").contains("\n")
        )
        .count()
    )
    assert fused == 0, "type table must not bake fused newline tokens"

    # same doc, spaces vs newlines: identical score through the
    # frozen scoring view
    text_sp = " ".join(f"{stops[j % 8]} w1_{j}" for j in range(32))
    pair = spark.createDataFrame(
        [(1, text_sp), (2, text_sp.replace(" ", "\n"))],
        "doc_id long, text string",
    )
    scores = {
        r["doc_id"]: r["avg_logprob"]
        for r in kn_score_from_types(
            _kn_text_view(pair, "text", "doc_id"),
            model.kn_types.read(),
            2,
            "doc_id",
            "text",
        ).collect()
    }
    assert scores[1] == scores[2]

    # curate_batch scores through the same normalized view: with a
    # newline INSIDE each (stop, word) pair, an unnormalized
    # space-split would fuse the pair into one token and leave 31
    # all-unseen bigrams under the floor
    from delta_data_pipelines_spark.jobs.incremental_curate import (
        curate_batch,
    )

    text_nl = " ".join(f"{stops[j % 8]}\nw1_{j}" for j in range(32))
    pair_batch = spark.createDataFrame(
        [(9101, text_sp), (9102, text_nl)],
        "doc_id long, text string",
    )
    kept_norm = {
        r["doc_id"] for r in curate_batch(pair_batch, model).collect()
    }
    assert kept_norm == {9101, 9102}  # normalized: identical scores


def test_frozen_kn_empty_stored_table_raises(spark, tmp_path):
    """An empty stored KN type table at apply time raises instead of
    silently no-opping the frozen LM cut (r13 advisory: a 0-row type
    table makes every doc unscorable -> nothing ever drops)."""
    import pytest as _pytest

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.jobs.incremental_curate import (
        FrozenCurationModel,
        curate_batch,
        fit_reference_model,
    )

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    ref = docs.where(F.col("doc_id") % 2 == 0)
    heldout = docs.where(F.col("doc_id") % 19 == 0)
    model = FrozenCurationModel(spark, str(tmp_path / "fzempty"))
    fit_reference_model(model, ref, heldout, lm="kn", drop_fraction=0.2)
    # corrupt the artifact: overwrite with a 0-row table of the same
    # schema (a failed upstream write's shape)
    empty = model.kn_types.read().limit(0)
    model.kn_types.overwrite(empty)
    meta = model.meta()
    meta["kn_types_version"] = None  # read latest (the empty one)
    model._write_meta(meta)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    with _pytest.raises(ValueError, match="empty"):
        curate_batch(batch, model).collect()


def test_frozen_ensemble_classifier_filter(spark, tmp_path):
    """fit_reference_model(classifier='both') freezes BOTH scorers off
    the same quality-seed bootstrap — the logreg bucket weights and
    the NB token log-odds + scalar prior — each with its own
    reference-calibrated percentile floor, plus the ensemble policy;
    curate_batch composes the two calibrated keeps per the FROZEN
    policy: 'and' keeps exactly the intersection of the two direct
    threshold keeps, 'or' exactly the union, replays are identical,
    classifier='nb' alone works, and a bad policy raises."""
    import pytest as _pytest

    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.jobs.curate_corpus import (
        quality_gate,
        scrub_stage,
    )
    from delta_data_pipelines_spark.jobs.incremental_curate import (
        FrozenCurationModel,
        curate_batch,
        fit_reference_model,
    )
    from delta_data_pipelines_spark.operators.textstats import (
        classifier_features,
        logreg_score,
        nb_score,
    )

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    ref = docs.where(F.col("doc_id") % 2 == 0)
    heldout = docs.where(F.col("doc_id") % 19 == 0)
    model = FrozenCurationModel(spark, str(tmp_path / "fzboth"))
    meta = fit_reference_model(
        model, ref, heldout, classifier="both", classifier_n_buckets=32,
        ensemble_policy="and",
    )
    assert meta["classifier"] == "both"
    assert meta["ensemble_policy"] == "and"
    assert meta["classifier_threshold"] is not None
    assert meta["nb_threshold"] is not None
    assert isinstance(meta["nb_prior"], float)
    assert model.logreg.exists() and model.nb.exists()

    batch = docs.where(F.col("doc_id") % 2 == 1)
    out1 = sorted(r["doc_id"] for r in curate_batch(batch, model).collect())
    out2 = sorted(r["doc_id"] for r in curate_batch(batch, model).collect())
    assert out1 == out2 and out1

    # decompose: recompute each scorer's direct keep over the same
    # gated frame; the frozen 'and' keep must be their intersection.
    # The decontamination stage also runs inside curate_batch, so
    # compare against the batch WITHOUT the classifier stage (a model
    # fit with classifier=None on the same reference) rather than the
    # raw gate.
    gated = quality_gate(scrub_stage(batch, "text"), "text")
    prior_df = spark.createDataFrame(
        [(meta["nb_prior"],)], "log_prior double"
    )
    lr_keep = {
        r["doc_id"]
        for r in logreg_score(
            classifier_features(gated, "text", 32), model.logreg.read(), "doc_id"
        )
        .where(F.col("lr_score") >= F.lit(meta["classifier_threshold"]))
        .collect()
    }
    nb_keep = {
        r["doc_id"]
        for r in nb_score(
            classifier_features(gated), model.nb.read(), prior_df, "doc_id"
        )
        .where(F.col("nb_score") >= F.lit(meta["nb_threshold"]))
        .collect()
    }
    base_model = FrozenCurationModel(spark, str(tmp_path / "fznone"))
    fit_reference_model(base_model, ref, heldout)
    base_keep = {
        r["doc_id"] for r in curate_batch(batch, base_model).collect()
    }
    assert set(out1) == base_keep & lr_keep & nb_keep
    # the ensemble must actually bind: at least one doc passes the
    # base stages but fails a scorer floor
    assert base_keep - set(out1), "fixture should have ensemble drops"

    # 'or' policy: union of the two keeps (within the base survivors)
    model_or = FrozenCurationModel(spark, str(tmp_path / "fzor"))
    meta_or = fit_reference_model(
        model_or, ref, heldout, classifier="both",
        classifier_n_buckets=32, ensemble_policy="or",
    )
    lr_keep_or = {
        r["doc_id"]
        for r in logreg_score(
            classifier_features(gated, "text", 32),
            model_or.logreg.read(),
            "doc_id",
        )
        .where(F.col("lr_score") >= F.lit(meta_or["classifier_threshold"]))
        .collect()
    }
    nb_keep_or = {
        r["doc_id"]
        for r in nb_score(
            classifier_features(gated),
            model_or.nb.read(),
            spark.createDataFrame([(meta_or["nb_prior"],)], "log_prior double"),
            "doc_id",
        )
        .where(F.col("nb_score") >= F.lit(meta_or["nb_threshold"]))
        .collect()
    }
    out_or = {r["doc_id"] for r in curate_batch(batch, model_or).collect()}
    assert out_or == base_keep & (lr_keep_or | nb_keep_or)
    assert set(out1) <= out_or  # AND keep is a subset of OR keep

    # nb alone
    model_nb = FrozenCurationModel(spark, str(tmp_path / "fznb"))
    meta_nb = fit_reference_model(
        model_nb, ref, heldout, classifier="nb",
    )
    assert meta_nb["classifier"] == "nb"
    assert "classifier_threshold" not in meta_nb
    out_nb = {r["doc_id"] for r in curate_batch(batch, model_nb).collect()}
    assert out_nb and out_nb <= base_keep

    with _pytest.raises(ValueError, match="ensemble_policy"):
        fit_reference_model(
            FrozenCurationModel(spark, str(tmp_path / "badpol")),
            ref,
            heldout,
            classifier="both",
            ensemble_policy="xor",
        )
