"""Tests for the training-data operators (dedup / similarity /
textstats / multimodal), including cross-checks for the paths that
have no SQL oracle (SimHash, LSH top-k)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delta_data_pipelines_spark.operators import dedup, multimodal, similarity, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("lazy", "sleepy")),  # near dup of 1
        (4, "completely different words about spark query engines and shuffles"),
        (5, "another unrelated document discussing parquet column pruning only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_first_wins(spark, corpus):
    out = dedup.exact_dedup(corpus, "text", "doc_id")
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 in ids and 2 not in ids
    assert ids == {1, 3, 4, 5}


def test_exact_dedup_idempotent(spark, corpus):
    once = dedup.exact_dedup(corpus, "text", "doc_id")
    twice = dedup.exact_dedup(once, "text", "doc_id")
    assert once.count() == twice.count()


def test_minhash_matches_exact_jaccard(spark, corpus):
    """LSH-pruned pairs must equal exact all-pairs at the threshold."""
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_dup_pairs(corpus, "doc_id", "text", 0.5).collect()
    }
    sh = corpus.select("doc_id", dedup.shingles(F.col("text")).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    exact = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dedup.jaccard(F.col("a.sh"), F.col("b.sh")).alias("j"),
        )
        .where(F.col("j") >= 0.5)
        .collect()
    }
    assert got == exact
    assert (1, 2) in got  # the exact duplicate pair always collides


def test_containment_directional_planted(spark):
    frag = "alpha beta gamma delta epsilon zeta"
    container = frag + " eta theta iota kappa lambda mu nu xi omicron pi rho sigma"
    rows = [(1, frag), (2, container), (3, "totally unrelated text about joins")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(df, "doc_id", "text", 0.9).collect()
    }
    # every shingle of the fragment appears in the container -> 1.0,
    # and only in that direction (the container is mostly new shingles)
    assert got == {(1, 2): 1.0}


def test_containment_prefix_filter_is_lossless(spark):
    # deterministic pseudo-random corpus from a tiny vocabulary so sets
    # overlap partially; brute-force all-pairs is the ground truth
    vocab = ["w%d" % i for i in range(12)]
    rows = [
        (i, " ".join(vocab[(i * 7 + j * 5) % 12] for j in range(4 + i % 9)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.6
    got = {
        (r["id_a"], r["id_b"], r["containment"])
        for r in dedup.containment_pairs(df, "doc_id", "text", t).collect()
    }
    sh = df.select("doc_id", dedup.shingles(F.col("text")).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    brute = {
        (r["id_a"], r["id_b"], r["containment"])
        for r in a.join(b, F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.size("a.sh").cast("double"),
                9,
            ).alias("containment"),
        )
        .where(F.col("containment") >= t)
        .collect()
    }
    assert got == brute
    assert len(brute) > 0  # the corpus must actually exercise the join


def test_containment_eager_and_releases_cache(spark, corpus):
    """Same materialization contract as the other pair builders: the
    default path runs eagerly, collapses to a checkpoint scan, and
    leaves nothing registered in the CacheManager."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    out = dedup.containment_pairs(corpus, "doc_id", "text", 0.9)
    assert "Join" not in out._jdf.queryExecution().optimizedPlan().toString()
    assert cache_manager.isEmpty()


def test_containment_exact_boundary_not_lost_to_float_ceil(spark):
    """Regression: ceil(0.55 * 100) = 56 in floats (product lands at
    55.000000000000004), which overstated both the required overlap and
    the size prune — a pair at containment EXACTLY 0.55 was silently
    dropped despite passing the verify predicate and the oracle."""
    toks = [f"t{i}" for i in range(102)]
    a_text = " ".join(toks)                # 100 shingles
    b_text = " ".join(toks[:57])           # 55 shingles, all within a's
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(df, "doc_id", "text", 0.55).collect()
    }
    assert got[(2, 1)] == 1.0              # b fully inside a
    assert got[(1, 2)] == 0.55             # the exact-boundary direction


def test_ngram_jaccard_exact_boundary_not_lost_to_float_prune(spark):
    """Regression twin of the containment float-ceil fix: a subset pair
    with Jaccard exactly 0.55 (11 shingles inside 20) must survive the
    size prune (least >= greatest*0.55 with 20*0.55 = 11.0000000000002
    used to drop it before verification)."""
    toks = [f"t{i}" for i in range(22)]
    big = " ".join(toks)            # 20 shingles
    small = " ".join(toks[:13])     # 11 shingles, subset -> J = 11/20
    df = spark.createDataFrame(
        [(1, big, "x"), (2, small, "x")], "doc_id long, text string, lang string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", "lang", threshold=0.55
        ).collect()
    }
    assert got == {(1, 2): 0.55}


def test_containment_max_df_filters_hot_shingles(spark):
    """The hot-shingle guard: with max_df, containment is computed over
    the sets MINUS over-cap shingles — equal to brute force on the
    filtered sets, and docs made of only boilerplate drop out."""
    boiler = "x1 x2 x3 x4 x5"  # in every doc -> every shingle df = 4
    rows = [
        (1, boiler + " alpha beta gamma delta"),
        (2, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
        (3, boiler + " unrelated words entirely here"),
        (4, boiler),  # nothing but boilerplate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(
            df, "doc_id", "text", 0.8, max_df=3
        ).collect()
    }
    # after dropping df>3 shingles, doc 1's informative shingles are the
    # "x5 alpha beta"... tail — all present in doc 2's; doc 4 vanishes
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert all(4 not in pair for pair in got)
    # exact default finds no (1,2): the shared boilerplate dilutes
    # nothing (it's shared), but doc 1 also shares all x-shingles with
    # docs 3 and 4 — the unfiltered sets differ, pin one value to show
    # the semantics actually changed
    exact = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(df, "doc_id", "text", 0.8).collect()
    }
    assert exact != got


def test_containment_threshold_validation(spark, corpus):
    with pytest.raises(ValueError):
        dedup.containment_pairs(corpus, "doc_id", "text", 0.0)
    with pytest.raises(ValueError):
        dedup.containment_pairs(corpus, "doc_id", "text", 1.5)


def test_simhash_finds_planted_dups(spark, corpus):
    # max_hamming=12 here, not the production 6: the fixture docs are
    # 14 tokens, and a one-word swap on a SHORT doc moves every bit
    # whose vote margin is ±1 — under the portable md5 token hash the
    # planted swap lands at hamming 9. SimHash is designed for long
    # documents, where margins are wide and a single edit moves ≤ a
    # few bits (the long-doc variant of this fixture measures 3).
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_dup_pairs(corpus, "doc_id", "text", 12).collect()
    }
    assert (1, 2) in pairs  # identical text → hamming 0
    # near-dup (one word swapped) should be within a few bits
    assert (1, 3) in pairs or (2, 3) in pairs
    # unrelated docs must NOT pair with the base text
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_simhash_hamming_zero_for_identical(spark, corpus):
    # 63 = the widest valid radius (>= the 64-bit width is rejected:
    # it would qualify every pair, which blocking cannot deliver)
    out = dedup.simhash_near_dup_pairs(corpus, "doc_id", "text", 63)
    h = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert h[(1, 2)] == 0


def test_chunked_hamming_recall_contract(spark):
    """The pigeonhole bound is n_blocks−1, NOT bits×(chunks−1): a pair
    whose differing bits spread across all 4 stored 16-bit chunks
    shares no exact chunk, so default (chunk-equality) candidates MISS
    it even at hamming 4 ≤ max_hamming — the documented candidate-set
    mode. Re-blocking into max_hamming+1 bit blocks (the SimHash
    path's mode) finds it, and a too-small n_blocks is rejected."""
    base = [0x1234, 0x5678, 0x9ABC, 0xDEF0]
    # flip ONE low bit in each 16-bit chunk: hamming 4, no shared chunk
    off = [c ^ 1 for c in base]
    sig = spark.createDataFrame(
        [(1, base), (2, off)], "doc_id long, _sh array<int>"
    )
    missed = dedup.chunked_hamming_pairs(sig, "doc_id", max_hamming=6)
    assert missed.count() == 0  # explicit candidate-set mode: not found
    found = dedup.chunked_hamming_pairs(
        sig, "doc_id", max_hamming=6, n_blocks=7
    ).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in found] == [
        (1, 2, 4)
    ]
    with pytest.raises(ValueError):
        dedup.chunked_hamming_pairs(sig, "doc_id", max_hamming=6, n_blocks=6)


def test_chunked_hamming_rejects_blocks_past_bit_width(spark):
    """n_blocks beyond the signature's bit width would create "empty"
    blocks whose sequence(start, start-1) DESCENDS in Spark, reading
    out-of-range chunks into NULL block values and silently losing
    candidates. The in-plan guard must fail the job instead."""
    sig = spark.createDataFrame(
        [(1, [0x1234]), (2, [0x1235])], "doc_id long, _sh array<int>"
    )
    # 16-bit signature: 16 blocks is the finest legal tiling...
    ok = dedup.chunked_hamming_pairs(
        sig, "doc_id", max_hamming=15, n_blocks=16
    ).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in ok] == [(1, 2, 1)]
    # ...17 must raise at execution, not return a candidate-less result
    with pytest.raises(Exception, match="exceeds signature bit width"):
        dedup.chunked_hamming_pairs(
            sig, "doc_id", max_hamming=16, n_blocks=17
        ).collect()


def test_lsh_topk_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    brute = similarity.brute_force_topk(emb, q, k=5)
    # few planes for a tiny corpus: buckets must hold >1 vector
    approx = similarity.lsh_topk(emb, q, k=5, n_planes=2)
    b = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # single-probe LSH: every returned pair shares the query's bucket,
    # and cosine ordering within the bucket matches brute force there.
    assert len(a) > 0
    recall = len(a & b) / len(b)
    assert recall > 0.0  # sanity: buckets aren't degenerate


def test_ivf_topk_recall_beats_single_cell(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    brute = similarity.brute_force_topk(emb, q, k=5)
    ivf = similarity.ivf_topk(emb, q, k=5, n_cells=8, nprobe=2)
    b = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    assert len(a) == len(b)  # every query still gets k results
    assert len(a & b) / len(b) >= 0.3  # multi-probe keeps usable recall


def test_lsh_bucket_deterministic(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(20)
    b1 = emb.select(similarity.lsh_bucket(F.col("embedding")).alias("b")).collect()
    b2 = emb.select(similarity.lsh_bucket(F.col("embedding")).alias("b")).collect()
    assert [r["b"] for r in b1] == [r["b"] for r in b2]
    assert all(0 <= r["b"] < 256 for r in b1)


def test_lsh_candidates_match_self_join_reference(spark):
    """The in-array pair expansion must enumerate exactly the i<j pairs
    the old (band,hash)-keyed self-join produced, with the cap counting
    ALL bucket rows: a bucket at the cap survives whole, one past the
    cap drops whole, and a NULL id counts toward the cap without ever
    appearing in a pair (NULL < x is never true in the join form)."""
    rows = (
        # bucket exactly at cap (3 ids) -> all 3 pairs
        [(0, 11, i) for i in (1, 2, 3)]
        # bucket past cap (4 rows incl. NULL id) -> dropped whole
        + [(0, 22, i) for i in (4, 5, 6)] + [(0, 22, None)]
        # NULL id inside a surviving bucket: counts for cap, no pairs
        + [(1, 33, 7), (1, 33, None), (1, 33, 8)]
        # singleton bucket -> no pairs
        + [(2, 44, 9)]
    )
    banded = spark.createDataFrame(rows, "band_id int, band_hash long, doc_id int")
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup._candidates(banded, "doc_id", max_bucket=3).collect()
    }
    a, b = banded.alias("a"), banded.alias("b")
    from pyspark.sql import Window

    capped = banded.withColumn(
        "_n", F.count("*").over(Window.partitionBy("band_id", "band_hash"))
    ).where(F.col("_n") <= 3)
    ref = {
        (r["id_a"], r["id_b"])
        for r in capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
        .collect()
    }
    assert got == ref == {(1, 2), (1, 3), (2, 3), (7, 8)}


def test_textstats_profile(spark, corpus):
    out = textstats.text_profile(corpus, "doc_id", "text").collect()
    row = {r["doc_id"]: r for r in out}
    assert row[1]["lang_pred"] == "en"  # 'the' ×2, 'and'
    assert row[1]["n_tokens"] == 14
    assert 0.0 <= row[1]["quality"] <= 1.0
    assert row[1]["fingerprint"] == row[2]["fingerprint"]  # identical text
    assert row[1]["fingerprint"] != row[3]["fingerprint"]  # order/word sensitive


def test_multimodal_roundtrip(spark, corpus):
    with_bin = multimodal.attach_fake_binary(corpus, "text")
    feats = multimodal.extract_features(
        with_bin.select("doc_id", "modality", "payload")
    ).collect()
    by_id = {r["doc_id"]: r for r in feats}
    assert by_id[1]["n_bytes"] == len(
        "the quick brown fox jumps over the lazy dog and runs far away home".encode()
    )
    assert by_id[1]["feat_a"] >= 1 and by_id[1]["feat_b"] >= 1


def test_decode_stub_unknown_modality():
    with pytest.raises(NotImplementedError):
        multimodal.decode_stub(b"xx", "hologram")


def test_multimodal_resize_geometry(spark, corpus):
    with_bin = multimodal.attach_fake_binary(corpus, "text")
    out = multimodal.resize_images(
        with_bin.select("doc_id", "payload"), target_h=224, target_w=224
    ).collect()
    for r in out:
        assert max(r["out_h"], r["out_w"]) <= 224
        assert r["src_h"] >= 1 and r["scale"] > 0


def test_multimodal_frame_sampling(spark, corpus):
    with_bin = multimodal.attach_fake_binary(corpus, "text", modality="video")
    out = multimodal.sample_frames(
        with_bin.select("doc_id", "payload"), every=2
    ).collect()
    by_doc: dict[int, list[int]] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    for doc_id, idxs in by_doc.items():
        assert sorted(idxs) == list(range(0, max(idxs) + 1, 2))


def test_enum_lookup_modes(spark):
    from delta_data_pipelines_spark.operators.enums import enum_lookup, mapping_table

    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "zz")], "id long, code string")
    m = mapping_table(spark, {"a": "alpha", "b": "beta"})
    passthrough = {
        r["id"]: r["code_mapped"]
        for r in enum_lookup(df, "code", m, keep_unmapped=True).collect()
    }
    assert passthrough == {1: "alpha", 2: "beta", 3: "zz"}
    defaulted = {
        r["id"]: r["code_mapped"]
        for r in enum_lookup(df, "code", m, default="unknown").collect()
    }
    assert defaulted[3] == "unknown"
    plain = {r["id"]: r["code_mapped"] for r in enum_lookup(df, "code", m).collect()}
    assert plain[3] is None


def test_approx_count_distinct_within_tolerance(spark):
    from delta_data_pipelines_spark.catalog import read_table

    o = read_table(spark, SF, "orders")
    got = o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey", rsd=0.05).alias("approx"),
    ).collect()
    assert len(got) > 0
    for r in got:
        assert abs(r["approx"] - r["exact"]) <= max(2, 0.15 * r["exact"]), r


def test_hash_split_stable_and_disjoint(spark):
    from delta_data_pipelines_spark.operators.sampling import (
        deterministic_sample,
        hash_split,
    )

    df = spark.range(0, 10_000).selectExpr("CAST(id AS STRING) AS doc_key")
    s1 = hash_split(df, "doc_key", {"train": 0.8, "eval": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in s1.groupBy("split").count()
              .withColumnRenamed("count", "n").collect()}
    assert set(counts) == {"train", "eval", "test"}
    assert abs(counts["train"] - 8000) < 300  # ~binomial tolerance
    # stability: same rows land in the same split on a repartitioned rerun
    s2 = hash_split(df.repartition(13), "doc_key",
                    {"train": 0.8, "eval": 0.1, "test": 0.1})
    joined = s1.join(s2.withColumnRenamed("split", "split2"), "doc_key")
    assert joined.where("split <> split2").count() == 0
    # deterministic sample is a prefix of the same bucketing
    samp = deterministic_sample(df, "doc_key", 0.1)
    n = samp.count()
    assert abs(n - 1000) < 150
    assert deterministic_sample(df, "doc_key", 0.1).count() == n


# ---------------------------------------------------------------------------
# near-dup clustering (connected components)
# ---------------------------------------------------------------------------


def test_near_dup_clusters_chain_and_clique(spark):
    """A 4-node chain (1-2-3-4), a 2-clique (10-11), and an isolated
    pair (20-21) must produce 3 components labeled by their min id —
    the chain proves multi-hop propagation, not just direct neighbors."""
    from delta_data_pipelines_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    out = {r["member_id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_near_dup_clusters_order_insensitive(spark):
    """Edge direction must not matter (pairs arrive as id_a < id_b but
    the component is undirected)."""
    from delta_data_pipelines_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame([(5, 9), (3, 9)], "id_a bigint, id_b bigint")
    out = {r["member_id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()}
    assert out == {3: 3, 5: 3, 9: 3}


def test_near_dup_clusters_raises_when_diameter_exceeds_max_iter(spark):
    """A 10-node chain has diameter 9: min-label propagation cannot
    reach fixpoint in 3 rounds, and the contract is to RAISE, not to
    return silently split clusters."""
    from delta_data_pipelines_spark.operators.dedup import near_dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        near_dup_clusters(chain, max_iter=3)
    # the same chain converges when max_iter covers the diameter
    out = {
        r["member_id"]: r["cluster_id"]
        for r in near_dup_clusters(chain, max_iter=12).collect()
    }
    assert set(out.values()) == {1} and len(out) == 10


def test_near_dup_clusters_rejects_nonpositive_max_iter(spark):
    """max_iter=0 would skip every propagation round AND the
    convergence check — must be a ValueError up front."""
    from delta_data_pipelines_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="max_iter"):
            near_dup_clusters(pairs, max_iter=bad)


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_dedup_builders_do_not_accumulate_cache(spark, corpus):
    """The staged persists inside minhash_near_dup_pairs /
    embedding_near_dup_pairs / near_dup_clusters must be released after
    materialization. A leaked ``.persist()`` registers the plan in the
    CacheManager with STRONG references (no GC ever reclaims it; the
    bench loop accumulates it without bound), so after any number of
    invocations the CacheManager must be empty. localCheckpoint blocks
    are deliberately exempt: they are weakly referenced and the
    ContextCleaner reclaims them after GC — asserting on those would
    race the cleaner."""
    from delta_data_pipelines_spark.operators.dedup import (
        embedding_near_dup_pairs,
        minhash_near_dup_pairs,
        near_dup_clusters,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5]) for i in range(12)],
        "doc_id long, vec array<double>",
    )
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # isolate from other tests' leftovers
    assert cache_manager.isEmpty()
    for _ in range(3):
        pairs = minhash_near_dup_pairs(corpus, "doc_id", "text", 0.5)
        pairs.count()
        near_dup_clusters(pairs).count()
        embedding_near_dup_pairs(vecs, "doc_id", "vec", threshold=0.99).count()
        assert cache_manager.isEmpty(), "a staged persist leaked"


def test_pair_builders_execute_eagerly(spark, corpus):
    """Pinned API semantics: the near-dup pair/cluster builders
    materialize at CALL time (localCheckpoint severs lineage so the
    staged persists can be released). Building the DataFrame must
    therefore run Spark jobs before any action is invoked."""
    from delta_data_pipelines_spark.operators.dedup import minhash_near_dup_pairs

    out = minhash_near_dup_pairs(corpus, "doc_id", "text", 0.5)
    # the returned frame is the materialized result (a bare scan of the
    # checkpointed RDD — the LSH joins are gone from the plan), not the
    # live query tree; consuming it twice is cheap and stable
    assert "Join" not in out._jdf.queryExecution().optimizedPlan().toString()
    assert out.count() == out.count()


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style filters)
# ---------------------------------------------------------------------------


def test_dup_token_ratio_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d"),          # all distinct -> 0
            (2, "a a a a"),          # one distinct of four -> 0.75
            (3, "a b a b"),          # two distinct of four -> 0.5
            (4, "solo"),             # single token -> 0
        ],
        "id long, t string",
    )
    got = {
        r["id"]: r["v"]
        for r in df.select(
            "id", textstats.dup_token_ratio(F.col("t")).alias("v")
        ).collect()
    }
    assert got == {1: 0.0, 2: 0.75, 3: 0.5, 4: 0.0}


def test_top_bigram_ratio_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d"),      # 3 bigrams, all unique -> 1/3
            (2, "x y x y x"),    # bigrams: xy yx xy yx -> 2/4
            (3, "solo"),         # no bigrams -> 0.0
        ],
        "id long, t string",
    )
    got = {
        r["id"]: r["v"]
        for r in df.select(
            "id", textstats.top_bigram_ratio(F.col("t")).alias("v")
        ).collect()
    }
    assert abs(got[1] - 1 / 3) < 1e-8
    assert got[2] == 0.5
    assert got[3] == 0.0


def test_dedup_builders_empty_inputs(spark):
    """Zero-row corpora must flow through every builder without error:
    empty pair sets, empty cluster maps — not exceptions."""
    from delta_data_pipelines_spark.operators.dedup import (
        minhash_near_dup_pairs,
        near_dup_clusters,
        simhash_near_dup_pairs,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    pairs = minhash_near_dup_pairs(empty, "doc_id", "text", 0.5)
    assert pairs.count() == 0
    assert near_dup_clusters(pairs).count() == 0
    assert simhash_near_dup_pairs(empty, "doc_id", "text").count() == 0


def test_codec_probe_and_stub_fallback():
    """decode_image is the real-codec seam: with Pillow absent it
    degrades to the deterministic stub; the probe is a plain bool."""
    assert isinstance(multimodal.CODEC_AVAILABLE, bool)
    if not multimodal.CODEC_AVAILABLE:
        assert multimodal.decode_image(b"abcdefghij") == multimodal.decode_stub(
            b"abcdefghij", "image"
        )


@pytest.mark.skipif(
    not multimodal.CODEC_AVAILABLE, reason="Pillow not installed"
)
def test_real_image_decode_via_pillow(spark):
    """When Pillow exists, decode_image reads real dimensions and the
    resize pipeline consumes them through the same Arrow plumbing."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (40, 30)).save(buf, format="PNG")
    png = buf.getvalue()
    assert multimodal.decode_image(png) == {"height": 30, "width": 40, "channels": 3}
    df = spark.createDataFrame([(1, bytearray(png))], "doc_id long, payload binary")
    row = multimodal.resize_images(
        df, 224, 224, decoder=multimodal.decode_image
    ).first()
    assert (row["src_h"], row["src_w"]) == (30, 40)


def test_near_dup_clusters_releases_round_checkpoint_blocks(spark):
    """Each propagation round localCheckpoints its labels; superseded
    rounds' blocks must be released deterministically, not left for
    driver GC. A 10-round chain would otherwise leave ~11 persistent
    RDDs; only the result's own checkpoint (plus at most the final
    round) may remain."""
    from delta_data_pipelines_spark.operators.dedup import near_dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "id_a bigint, id_b bigint"
    )
    before = _persistent_rdd_count(spark)
    out = near_dup_clusters(chain, max_iter=12)
    assert out.count() == 10
    after = _persistent_rdd_count(spark)
    assert after - before <= 2, (before, after)


def test_real_png_dimensions_via_vendored_header_decode(spark):
    """The NON-skipped sibling of the Pillow test: a real (valid) PNG
    built with stdlib-only bytes flows through decode_image and the
    resize pipeline with its REAL dimensions — no codec library needed
    for the container format. Passes identically with or without
    Pillow installed (both paths read the same IHDR truth)."""
    import struct
    import zlib

    def tiny_png(w, h):
        def chunk(ctype, data):
            return (
                struct.pack(">I", len(data))
                + ctype
                + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
        raw = b"".join(b"\x00" + b"\x7f" * (3 * w) for _ in range(h))
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    png = tiny_png(40, 30)
    assert multimodal.decode_image(png) == {
        "height": 30, "width": 40, "channels": 3,
    }
    # non-PNG bytes still degrade to the deterministic stub
    assert multimodal.decode_image(b"not a png") == multimodal.decode_stub(
        b"not a png", "image"
    )
    df = spark.createDataFrame([(1, bytearray(png))], "doc_id long, payload binary")
    row = multimodal.resize_images(
        df, 224, 224, decoder=multimodal.decode_image
    ).first()
    assert (row["src_h"], row["src_w"]) == (30, 40)
    assert (row["out_h"], row["out_w"]) == (168, 224)  # fit-inside, aspect kept


def test_real_jpeg_dimensions_via_vendored_sof_parse(spark):
    """JPEG sibling of the PNG test: a structurally valid JPEG built
    with stdlib-only bytes (SOI → APP0 → SOF0 → SOS → EOI) flows
    through decode_image with its REAL dimensions via the marker-walk
    SOF parse; progressive (SOF2) parses too; truncated/shuffled bytes
    degrade to the stub."""
    import struct

    def seg(marker, data):
        return bytes([0xFF, marker]) + struct.pack(">H", len(data) + 2) + data

    def tiny_jpeg(w, h, sof_marker=0xC0):
        app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        sof = seg(
            sof_marker,
            struct.pack(">BHHB", 8, h, w, 3)
            + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01",
        )
        sos = seg(0xDA, b"\x03\x01\x00\x02\x11\x03\x11\x00\x3f\x00")
        return b"\xff\xd8" + app0 + sof + sos + b"\xda\xbe" + b"\xff\xd9"

    assert multimodal.decode_jpeg_header(tiny_jpeg(320, 240)) == {
        "height": 240, "width": 320, "channels": 3,
    }
    # progressive JPEGs put dimensions in SOF2 — same layout
    assert multimodal.decode_image(tiny_jpeg(64, 48, sof_marker=0xC2)) == {
        "height": 48, "width": 64, "channels": 3,
    }
    # non-JPEG and SOF-less payloads degrade to the stub, never raise
    assert multimodal.decode_image(b"notajpeg") == multimodal.decode_stub(
        b"notajpeg", "image"
    )
    truncated = b"\xff\xd8\xff\xd9"
    assert multimodal.decode_image(truncated) == multimodal.decode_stub(
        truncated, "image"
    )
    jp = tiny_jpeg(320, 240)
    df = spark.createDataFrame([(1, bytearray(jp))], "doc_id long, payload binary")
    row = multimodal.resize_images(
        df, 224, 224, decoder=multimodal.decode_image
    ).first()
    assert (row["src_h"], row["src_w"]) == (240, 320)


def test_pii_scrub_redacts_and_counts(spark):
    """Planted-PII behavioral test (the harness corpus is PII-free, so
    the registry query proves engine parity while this proves the
    semantics): emails/IPv4s/phones redact to typed tokens, clean text
    is untouched, counts report what the scrub actually redacts
    (sequential: each category counted after earlier replacements)."""
    from delta_data_pipelines_spark.operators import textstats
    from pyspark.sql import functions as F

    rows = [
        (1, "contact john.doe+x@example.co.uk or +1 (415) 555-0100 now"),
        (2, "server at 192.168.0.1 port 8080"),
        (3, "no pii here at all"),
        # overlap: the email's digit local-part also matches the phone
        # regex on RAW text — sequential counting must report 1 email,
        # 0 phones (what the scrub actually emits)
        (4, "mail 1234567890@corp.com today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = textstats.pii_counts(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            textstats.scrub_pii(F.col("text")).alias("clean"),
            *[v.alias(k) for k, v in counts.items()],
        ).collect()
    }
    assert out[1]["clean"] == "contact <EMAIL> or <PHONE> now"
    assert (out[1]["email"], out[1]["phone"], out[1]["ipv4"]) == (1, 1, 0)
    assert out[2]["clean"] == "server at <IP> port 8080"
    assert (out[2]["email"], out[2]["phone"], out[2]["ipv4"]) == (0, 0, 1)
    assert out[3]["clean"] == rows[2][1]
    assert (out[3]["email"], out[3]["phone"], out[3]["ipv4"]) == (0, 0, 0)
    assert out[4]["clean"] == "mail <EMAIL> today"
    assert (out[4]["email"], out[4]["phone"], out[4]["ipv4"]) == (1, 0, 0)


def test_stratified_sample_rates_and_stability(spark):
    """Per-stratum deterministic sampling: rate-1.0 strata keep all
    rows, rate-0 strata vanish, unlisted strata get the default, the
    SAME rows survive a rerun, and a lower rate's sample is a subset
    of a higher rate's (monotone bucket threshold)."""
    from delta_data_pipelines_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(300)], "k long, src string"
    )
    kept = sampling.stratified_sample(
        df, "k", "src", {"s0": 1.0, "s1": 0.0}, default_rate=0.5
    )
    per = {r["src"]: r["n"] for r in kept.groupBy("src").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert per["s0"] == 100
    assert "s1" not in per
    assert 20 < per.get("s2", 0) < 80  # ~half of 100, hash-uniform
    # stability: rerun keeps the identical row set
    k1 = {r["k"] for r in kept.collect()}
    k2 = {r["k"] for r in sampling.stratified_sample(
        df, "k", "src", {"s0": 1.0, "s1": 0.0}, default_rate=0.5
    ).collect()}
    assert k1 == k2
    # monotone: 0.2 sample of s2 is a subset of the 0.5 sample
    low = {r["k"] for r in sampling.stratified_sample(
        df, "k", "src", {"s0": 1.0, "s1": 0.0}, default_rate=0.2
    ).where("src = 's2'").collect()}
    high = {r["k"] for r in kept.where("src = 's2'").collect()}
    assert low <= high
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rate"):
        sampling.stratified_sample(df, "k", "src", {"s0": 1.5})


# ---------------------------------------------------------------------------
# sketches (KMV), global cumsum, SCD2, boilerplate
# ---------------------------------------------------------------------------


def test_global_cumsum_matches_single_partition_window(spark):
    from pyspark.sql import Window

    from delta_data_pipelines_spark.operators.ranking import (
        global_cumsum_by_range,
    )

    df = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 37 + 1).alias("v")
    )
    got = {
        r["k"]: r["cum_before"]
        for r in global_cumsum_by_range(df, "k", "v", n_parts=8).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    expect = {
        r["k"]: r["e"]
        for r in df.select(
            "k", F.coalesce(F.sum("v").over(w), F.lit(0)).alias("e")
        ).collect()
    }
    assert got == expect


def test_grouped_rank_matches_per_group_window(spark):
    """Range-sliced per-group rank must equal the single-task
    ROW_NUMBER() OVER (PARTITION BY g ORDER BY k) it replaces."""
    from pyspark.sql import Window

    from delta_data_pipelines_spark.operators.ranking import (
        grouped_rank_by_range,
    )

    df = spark.range(0, 3000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g")
    )
    got = {
        (r["g"], r["k"]): r["group_rank"]
        for r in grouped_rank_by_range(df, "g", "k", n_parts=8).collect()
    }
    w = Window.partitionBy("g").orderBy("k")
    expect = {
        (r["g"], r["k"]): r["e"]
        for r in df.select("g", "k", F.row_number().over(w).alias("e")).collect()
    }
    assert got == expect


def test_interleave_by_weight_matches_brute_force_schedule(spark):
    """The distributed interleave must equal the brute-force schedule:
    sort all (source, k) by k/w with (source, k) tie-break — and a
    double-weight source must appear ~2x as often in every prefix."""
    from delta_data_pipelines_spark.operators.sampling import interleave_by_weight

    rows = [(i, "a", 2.0) for i in range(100)] + [
        (1000 + i, "b", 1.0) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    out = interleave_by_weight(df, "source", "doc_id", "w").collect()
    got = [(r["source"], r["k"]) for r in sorted(out, key=lambda r: r["position"])]
    brute = sorted(
        [(s, k) for s in ("a", "b") for k in range(1, 101)],
        key=lambda sk: (sk[1] / (2.0 if sk[0] == "a" else 1.0), sk[0], sk[1]),
    )
    assert got == brute
    # schedule property: among the first 90 slots, a ≈ 2x b
    head = got[:90]
    n_a = sum(1 for s, _ in head if s == "a")
    assert n_a == 60


def test_binned_histogram_merges_by_addition(spark):
    """The mergeable-quantile claim: histogram(part1) + histogram(part2)
    (summed per bucket) must equal histogram(whole), and quantiles read
    from the merged histogram must equal quantiles from the direct one.
    """
    from delta_data_pipelines_spark.operators.sketches import (
        binned_histogram,
        quantile_from_histogram,
    )

    df = spark.range(0, 2000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        ((F.col("id") * 37 % 1000) / 10.0).alias("v"),
    )
    lo, hi = 0.0, 100.0
    whole = binned_histogram(df, ["g"], "v", lo, hi)
    p1 = binned_histogram(df.where(F.col("id") % 2 == 0), ["g"], "v", lo, hi)
    p2 = binned_histogram(df.where(F.col("id") % 2 == 1), ["g"], "v", lo, hi)
    merged = (
        p1.unionByName(p2).groupBy("g", "bucket").agg(F.sum("n").alias("n"))
    )
    key = lambda r: (r["g"], r["bucket"])  # noqa: E731
    assert {key(r): r["n"] for r in merged.collect()} == {
        key(r): r["n"] for r in whole.collect()
    }
    qm = quantile_from_histogram(merged, ["g"], [0.5, 0.95], lo, hi)
    qw = quantile_from_histogram(whole, ["g"], [0.5, 0.95], lo, hi)
    qkey = lambda r: (r["g"], r["p"])  # noqa: E731
    assert {qkey(r): r["q_est"] for r in qm.collect()} == {
        qkey(r): r["q_est"] for r in qw.collect()
    }


def test_binned_histogram_validates_geometry(spark):
    import pytest as _pytest

    from delta_data_pipelines_spark.operators.sketches import binned_histogram

    df = spark.range(3).select(F.col("id").cast("double").alias("v"))
    with _pytest.raises(ValueError, match="bins"):
        binned_histogram(df, [], "v", 0.0, 1.0, bins=0)
    with _pytest.raises(ValueError, match="hi > lo"):
        binned_histogram(df, [], "v", 1.0, 1.0)


def test_token_budget_mix_caps_and_redistributes(spark):
    """With a tiny source and a huge one, temperature flattening pushes
    the tiny source over its epoch cap; the cap must bind exactly and
    the released budget must flow to the uncapped source."""
    from delta_data_pipelines_spark.operators.sampling import token_budget_mix

    per_src = spark.createDataFrame(
        [("big", 1_000_000), ("tiny", 100)], "source string, t_tokens long"
    )
    out = {
        r["source"]: r
        for r in token_budget_mix(per_src, epoch_cap=2.0).collect()
    }
    # tiny: sqrt weight gives it ~1% of a 500k budget >> its 200 cap
    assert out["tiny"]["tokens_alloc"] == 200.0
    assert out["tiny"]["epochs"] == 2.0
    # the released budget lands on big (one redistribution pass)
    total_alloc = sum(r["tokens_alloc"] for r in out.values())
    budget = (1_000_000 + 100) // 2
    assert abs(total_alloc - budget) < 1.0
    assert out["big"]["epochs"] < 2.0
    # invariant: nobody exceeds the epoch cap
    assert all(r["epochs"] <= 2.0 for r in out.values())


def test_token_budget_mix_validates_params(spark):
    import pytest as _pytest

    from delta_data_pipelines_spark.operators.sampling import token_budget_mix

    per_src = spark.createDataFrame([("a", 10)], "source string, t_tokens long")
    with _pytest.raises(ValueError, match="budget_frac"):
        token_budget_mix(per_src, budget_frac=0.0)
    with _pytest.raises(ValueError, match="epoch_cap"):
        token_budget_mix(per_src, epoch_cap=0)


def test_kmv_sketch_matches_windowed_estimate(spark):
    """The mergeable bottom-k sketch must produce the same estimate as
    the distinct+window form for every group, and the sketch itself
    must be invariant under repartitioning (merge-order independence)."""
    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.operators import sketches

    d = read_table(spark, SF, "documents")
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("token"))
    a = {
        r["lang"]: r["n_est"]
        for r in sketches.kmv_distinct(toks, ["lang"], "token", k=64).collect()
    }
    b = {
        r["lang"]: r["n_est"]
        for r in sketches.kmv_sketch(toks, ["lang"], "token", k=64).collect()
    }
    assert a == b
    c = {
        r["lang"]: tuple(r["sketch"])
        for r in sketches.kmv_sketch(
            toks.repartition(7), ["lang"], "token", k=64
        ).collect()
    }
    c2 = {
        r["lang"]: tuple(r["sketch"])
        for r in sketches.kmv_sketch(toks, ["lang"], "token", k=64).collect()
    }
    assert c == c2


def test_kmv_estimate_error_bounded(spark):
    """KMV with k=64 has ~1/sqrt(62) ≈ 12.7% standard error; assert a
    generous 3-sigma bound against the exact count on synthetic keys
    with known cardinality per group."""
    from delta_data_pipelines_spark.operators import sketches

    df = spark.range(0, 20_000).select(
        (F.col("id") % 4).alias("g"),
        F.concat(F.lit("val_"), (F.col("id") % 5000).cast("string")).alias(
            "v"
        ),
    )
    rows = sketches.kmv_distinct(df, ["g"], "v", k=64).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["n_exact"] >= 64
        rel_err = abs(r["n_est"] - r["n_exact"]) / r["n_exact"]
        assert rel_err < 0.40, (r["g"], r["n_est"], r["n_exact"])


def test_kmv_small_group_is_exact(spark):
    from delta_data_pipelines_spark.operators import sketches

    df = spark.createDataFrame(
        [("g1", f"t{i}") for i in range(10)] + [("g1", "t0")],
        "g string, v string",
    )
    r = sketches.kmv_distinct(df, ["g"], "v", k=64).collect()[0]
    assert r["n_exact"] == 10 and r["n_est"] == 10.0
    assert r["kth_hash"] is None
    s = sketches.kmv_sketch(df, ["g"], "v", k=64).collect()[0]
    assert len(s["sketch"]) == 10 and s["n_est"] == 10.0
    with pytest.raises(ValueError, match="k must be"):
        sketches.kmv_distinct(df, ["g"], "v", k=1)


def test_gopher_repetition_counts_match_expression_path(spark):
    """The Arrow-batched integer counters (r14 fast path behind
    txt_gopher_repetition) must equal the pure-expression helpers on
    the harness corpus PLUS the edge zoo: NULL text, empty string,
    multi-space runs, trailing space, short docs below each gram
    order, and an overlapping-duplicate doc where the interval union
    matters. Integer equality here implies bit-identical ratios, since
    both paths divide the same ints in the same Spark expressions."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators import textstats

    edge = spark.createDataFrame(
        [
            (9001, None),
            (9002, ""),
            (9003, "a  b   a  b"),
            (9004, "one two "),
            (9005, "x"),
            (9006, "x y"),
            (9007, "a b c a b c a b c d"),
        ],
        "doc_id long, text string",
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).unionByName(edge)

    got = {
        r["doc_id"]: r
        for r in textstats.gopher_repetition_counts(docs).collect()
    }

    w = F.col("_w")
    s1 = docs.select("doc_id", F.split(F.col("text"), " ").alias("_w"))
    s2 = s1.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        textstats.sorted_grams_with_pos(w, 2).alias("_s2"),
        textstats.sorted_grams_with_pos(w, 3).alias("_s3"),
        textstats.sorted_grams_with_pos(w, 4).alias("_s4"),
    )
    ref_rows = s2.select(
        "doc_id",
        "n_tokens",
        textstats._max_equal_run(
            F.transform(F.col("_s2"), lambda x: x["g"])
        ).alias("t2"),
        F.size("_s2").alias("g2"),
        textstats._max_equal_run(
            F.transform(F.col("_s3"), lambda x: x["g"])
        ).alias("t3"),
        F.size("_s3").alias("g3"),
        textstats._max_equal_run(
            F.transform(F.col("_s4"), lambda x: x["g"])
        ).alias("t4"),
        F.size("_s4").alias("g4"),
        textstats.dup_ngram_starts(F.col("_s3")).alias("_d3"),
        textstats.dup_ngram_starts(F.col("_s4")).alias("_d4"),
    ).collect()

    def _cov(starts, n):
        cov, end = 0, 0
        for s in starts:
            cov += max(0, (s + n - 1) - max(s, end + 1) + 1)
            end = max(end, s + n - 1)
        return cov

    assert len(ref_rows) == len(got)
    for r in ref_rows:
        g = got[r["doc_id"]]
        if r["n_tokens"] is None:
            assert g["n_tokens"] is None
            continue
        assert g["n_tokens"] == r["n_tokens"], r["doc_id"]
        for c in ("t2", "g2", "t3", "g3", "t4", "g4"):
            assert g[c] == r[c], (r["doc_id"], c, g[c], r[c])
        assert g["cov3"] == _cov(r["_d3"], 3), r["doc_id"]
        assert g["cov4"] == _cov(r["_d4"], 4), r["doc_id"]


def test_gopher_gate_counts_match_expression_path(spark):
    """The Arrow-batched gate counters (r14 fast path behind
    td_gopher_filter) must equal the pure-expression helpers on the
    harness corpus PLUS the edge zoo — including a NON-ASCII doc,
    which both paths must count as punctuation ([^A-Za-z0-9\\s] in
    Java regex terms), and a tab/newline doc pinning the Java \\s
    class [ \\t\\n\\x0B\\f\\r]. Integer equality implies bit-identical
    ratios, since the query divides the same ints in the same Spark
    expressions."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators import textstats

    edge = spark.createDataFrame(
        [
            (9001, None),
            (9002, ""),
            (9003, "a  b   a  b"),
            (9004, "one two "),
            (9005, "x"),
            (9006, "the of THE to to"),
            (9007, "héllo wörld, 敏捷的狐狸!"),
            (9008, "tab\there\nnewline\x0bvt\fff\rcr"),
        ],
        "doc_id long, text string",
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).unionByName(edge)

    got = {
        r["doc_id"]: r
        for r in textstats.gopher_gate_counts(docs).collect()
    }

    t = F.col("text")
    w = F.split(t, " ")
    stripped = F.regexp_replace(t, r"[^A-Za-z0-9\s]", "")
    ref_rows = docs.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
        textstats._max_equal_run(
            F.array_sort(textstats.bigrams(t))
        ).alias("top_bg"),
        F.size(textstats.bigrams(t)).alias("n_bg"),
        F.size(
            F.filter(w, lambda x: x.isin(*textstats.STOPWORDS))
        ).alias("sw_hits"),
        F.length(t).alias("text_len"),
        F.length(stripped).alias("kept_chars"),
    ).collect()

    assert len(ref_rows) == len(got)
    for r in ref_rows:
        g = got[r["doc_id"]]
        if r["n_tokens"] is None:
            for c in (
                "n_tokens", "n_distinct", "top_bg", "n_bg",
                "sw_hits", "text_len", "kept_chars",
            ):
                assert g[c] is None, (r["doc_id"], c)
            continue
        for c in (
            "n_tokens", "n_distinct", "top_bg", "n_bg",
            "sw_hits", "text_len", "kept_chars",
        ):
            assert g[c] == r[c], (r["doc_id"], c, g[c], r[c])


def test_passage_dup_stats_modes_agree_and_detect_planted_dup(spark):
    """Both df shapes (skew-safe join, single-explode window) must
    produce identical stats; a doc duplicated verbatim scores
    dup_frac 1.0 while a unique-text doc scores 0.0."""
    rows = [
        (1, "one two three four five six seven eight nine ten"),
        (2, "one two three four five six seven eight nine ten"),  # clone
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        r["doc_id"]: (r["n_passages"], r["n_dup"], r["dup_frac"])
        for r in textstats.passage_dup_stats(df, n=8, df_mode="join").collect()
    }
    b = {
        r["doc_id"]: (r["n_passages"], r["n_dup"], r["dup_frac"])
        for r in textstats.passage_dup_stats(df, n=8, df_mode="window").collect()
    }
    assert a == b
    assert a[1][2] == 1.0 and a[2][2] == 1.0  # clones: every gram shared
    assert a[3][2] == 0.0  # unique text: none shared
    with pytest.raises(ValueError, match="df_mode"):
        textstats.passage_dup_stats(df, df_mode="nope")


def test_misra_gries_candidates_superset_and_bounded(spark):
    """The MG guarantee under adversarial load: a sea of singletons
    must not evict the true heavy hitters, and each partition's
    summary stays within its k-1 counter budget regardless of the
    distinct count streaming through."""
    from delta_data_pipelines_spark.operators import sketches

    k = 10
    rows = [(f"rare{i}",) for i in range(5000)] + [("HOT",)] * 600 + [
        ("WARM",)
    ] * 580
    df = (
        spark.createDataFrame(rows, "item string")
        # deliberately interleave so heavies and singletons share tasks
        .repartition(8)
    )
    cand = sketches.misra_gries_candidates(df, "item", k).collect()
    names = {r["item"] for r in cand}
    assert "HOT" in names and "WARM" in names  # freq ~ n/10 >> n/k bound
    # budget: <= (k-1) counters per partition
    assert len(cand) <= (k - 1) * 8
    with pytest.raises(ValueError, match="k must be"):
        sketches.misra_gries_candidates(df, "item", 1)


def test_heavy_hitters_exact_equals_naive(spark):
    """The two-pass MG answer must EQUAL the naive groupBy-filter
    answer — the whole point of the candidate pass is memory shape,
    not approximation."""
    from delta_data_pipelines_spark.operators import sketches

    k = 10
    rows = (
        [(f"rare{i}",) for i in range(3000)]
        + [("HOT",)] * 500
        + [("WARM",)] * 450  # n=4340, n/k=434: in
        + [("almost",)] * 390  # just under n/k: must be EXCLUDED
    )
    df = spark.createDataFrame(rows, "item string").repartition(8)
    n = len(rows)
    naive = {
        (r["item"], r["cnt"])
        for r in df.groupBy("item")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > n / k)
        .collect()
    }
    got = {
        (r["item"], r["cnt"])
        for r in sketches.heavy_hitters_exact(df, "item", k).collect()
    }
    assert got == naive
    assert ("HOT", 500) in got and ("WARM", 450) in got
    assert all(name != "almost" for name, _ in got)


def test_scd2_intervals_tile_per_key(spark):
    """Intervals must tile each key's timeline: ordered, contiguous
    (next valid_from == previous valid_to), exactly one open (current)
    interval per key, and the value rides along unchanged."""
    from delta_data_pipelines_spark.operators.temporal import scd2_intervals

    rows = [
        (1, "2024-01-01 00:00:00", 10.0),
        (1, "2024-01-03 00:00:00", 20.0),
        (1, "2024-01-07 00:00:00", 15.0),
        (2, "2024-02-01 12:00:00", 99.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    out = scd2_intervals(df, "user_id", "ts", ["value"]).collect()
    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r["user_id"], []).append(r)
    assert {k: len(v) for k, v in by_key.items()} == {1: 3, 2: 1}
    for key, ivs in by_key.items():
        ivs.sort(key=lambda r: r["valid_from"])
        assert sum(1 for r in ivs if r["is_current"]) == 1
        assert ivs[-1]["valid_to"] is None and ivs[-1]["is_current"]
        for prev, nxt in zip(ivs, ivs[1:]):
            assert prev["valid_to"] == nxt["valid_from"]
            assert prev["valid_from"] < prev["valid_to"]
    assert [r["value"] for r in by_key[1]] == [10.0, 20.0, 15.0]


def test_boilerplate_shingle_planted(spark):
    """A bigram planted in every doc of one source must surface as that
    source's rank-1 boilerplate with df_ratio 1.0; other sources must
    not report it above their genuine frequencies."""
    from delta_data_pipelines_spark.operators.dedup import shingles

    docs = [
        (1, "s1", "click here now alpha beta"),
        (2, "s1", "click here please gamma delta"),
        (3, "s1", "epsilon click here zeta eta"),
        (4, "s2", "totally unrelated words only"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, source string, text string")
    sh = d.select(
        "source", F.explode(shingles(F.col("text"), n=2)).alias("shingle")
    )
    counts = sh.groupBy("source", "shingle").count()
    top = (
        counts.where(F.col("source") == "s1")
        .orderBy(F.col("count").desc(), "shingle")
        .first()
    )
    assert top["shingle"] == "click here" and top["count"] == 3


def test_kmeans_recovers_planted_clusters(spark):
    """Two tight planted direction-clusters; after 2 Lloyd rounds every
    vector must land with its plant-mates, whichever seed its cluster
    kept. Seeds are ids 0 and 1 (k=2), one from each plant."""
    import random

    from delta_data_pipelines_spark.operators.similarity import kmeans_assign

    rng = random.Random(7)
    rows = []
    for i in range(40):
        plant = i % 2  # ids alternate plants so seeds 0,1 differ
        base = [1.0, 0.0, 0.0] if plant == 0 else [0.0, 1.0, 0.0]
        rows.append((i, [c + rng.uniform(-0.05, 0.05) for c in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cid"] for r in kmeans_assign(df, k=2, n_iter=2).collect()}
    assert len(got) == 40
    evens = {got[i] for i in range(0, 40, 2)}
    odds = {got[i] for i in range(1, 40, 2)}
    assert evens == {0} and odds == {1}


def test_ivf_assign_tie_null_semantics_and_no_shuffle(spark):
    """The r14 map-only ivf_assign (fold over a broadcast centroid
    array) must reproduce the old window pick `_sim DESC NULLS LAST,
    cid ASC` exactly: equal-cosine ties take the SMALLER cid, a
    zero-norm vector (all cosines NULL) takes the SMALLEST cid, and a
    mixed vector ignores NULL-sim centroids. And it must stay
    map-only: no Exchange in the assignment plan (the old shape
    shuffled the k×|corpus| scored frame through a row_number
    window)."""
    from delta_data_pipelines_spark.operators.similarity import ivf_assign

    cent = spark.createDataFrame(
        [(3, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 1.0]), (9, [0.0, 0.0])],
        "cid long, cv array<double>",
    )
    vecs = spark.createDataFrame(
        [
            (10, [0.0, 2.0]),   # ties between cid 1 and 2 -> smaller (1)
            (11, [2.0, 0.0]),   # unique best -> 3
            (12, [0.0, 0.0]),   # zero norm: every cosine NULL -> smallest cid (1)
        ],
        "vec_id long, _v array<double>",
    )
    got = {r["vec_id"]: r["cid"] for r in ivf_assign(vecs, cent).collect()}
    assert got == {10: 1, 11: 3, 12: 1}
    # zero-norm CENTROID (cid 9) must never win over a real-sim one
    assert got[11] == 3
    # map-only: the assignment subplan has no Exchange besides the
    # 1-row centroid aggregation (which is an agg on a 4-row frame,
    # tolerated) — assert the corpus side never hash-partitions on the
    # vector id the way the old window did
    plan = ivf_assign(vecs, cent)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "hashpartitioning(vec_id" not in plan

    # empty centroids keep the old cross-join contract: no output rows
    empty = cent.where("cid < 0")
    assert ivf_assign(vecs, empty).count() == 0


def test_pq_nearest_code_tie_null_semantics_and_no_window(spark):
    """The r14 map-only PQ assignment (fold over a per-sub_id
    broadcast codeword array) must reproduce the old window pick
    `_sim DESC NULLS LAST, code ASC` exactly, per subspace: ties →
    smaller code, all-NULL sub-vector → smallest code, a zero-norm
    codeword never wins, an absent sub_id emits nothing (the old
    inner join), and keep_sim carries the winner's cosine. And it
    must stay window-free: the old shape shuffled the k×|corpus|
    scored frame through a row_number window per (vector, subspace)."""
    from delta_data_pipelines_spark.operators.similarity import pq_encode

    cb = spark.createDataFrame(
        [
            # sub_id 0: codes 1 and 2 tie on direction, 3 orthogonal
            (0, 3, [1.0, 0.0]),
            (0, 1, [0.0, 1.0]),
            (0, 2, [0.0, 2.0]),
            (0, 9, [0.0, 0.0]),  # zero-norm codeword: NULL cosine
            # sub_id 1 deliberately ABSENT from the codebook
        ],
        "sub_id int, code long, _cv array<double>",
    )
    vecs = spark.createDataFrame(
        [
            (10, [0.0, 2.0, 5.0, 5.0]),  # sub 0 ties 1 vs 2 -> 1; sub 1 absent
            (11, [2.0, 0.0, 5.0, 5.0]),  # sub 0 unique best -> 3
            (12, [0.0, 0.0, 5.0, 5.0]),  # sub 0 zero norm: all NULL -> code 1
        ],
        "vec_id long, embedding array<double>",
    )
    rows = pq_encode(vecs, cb, m=2, keep_sim=True).collect()
    # absent sub_id 1: no rows for it at all
    assert {r["sub_id"] for r in rows} == {0}
    got = {r["vec_id"]: r["code"] for r in rows}
    assert got == {10: 1, 11: 3, 12: 1}
    sims = {r["vec_id"]: r["_sim"] for r in rows}
    assert sims[10] == 1.0 and sims[11] == 1.0 and sims[12] is None
    plan = (
        pq_encode(vecs, cb, m=2, keep_sim=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "hashpartitioning(vec_id" not in plan


def test_pq_codes_shape_range_and_m1_degenerates_to_kmeans(spark):
    """PQ structural invariants on the harness embeddings: every
    vector gets exactly m codes, each in [0, k); and with m=1 the
    single 'subspace' IS the whole vector, so the codes must equal
    kmeans_assign's cluster ids (same seeds, same rounds, same
    tie-break) — PQ is per-subspace k-means, nothing more."""
    from delta_data_pipelines_spark.operators.similarity import (
        kmeans_assign,
        pq_codes,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    codes = pq_codes(emb, m=4, k=4, n_iter=2).collect()
    n_vecs = emb.count()
    assert len(codes) == 4 * n_vecs
    assert {r["sub_id"] for r in codes} == {0, 1, 2, 3}
    assert all(0 <= r["code"] < 4 for r in codes)
    per_vec = {}
    for r in codes:
        per_vec.setdefault(r["vec_id"], set()).add(r["sub_id"])
    assert all(subs == {0, 1, 2, 3} for subs in per_vec.values())

    m1 = {
        r["vec_id"]: r["code"]
        for r in pq_codes(emb, m=1, k=4, n_iter=2).collect()
    }
    km = {r["vec_id"]: r["cid"] for r in kmeans_assign(emb, k=4, n_iter=2).collect()}
    assert m1 == km


def test_pq_codes_recover_planted_subspace_structure(spark):
    """Independence of subspaces — the property that makes PQ's m·k
    codewords span k^m effective cells: plant two directions in EACH
    2-dim half of a 4-dim vector, independently; after the fit,
    vectors sharing a half-plant share that half's code, across all 4
    plant combinations."""
    import random

    from delta_data_pipelines_spark.operators.similarity import pq_codes

    rng = random.Random(11)
    dirs = {0: [1.0, 0.0], 1: [0.0, 1.0]}
    rows = []
    for i in range(40):
        p0, p1 = i % 2, (i // 2) % 2  # ids 0,1 cover (0,0) and (1,1)
        v = [
            c + rng.uniform(-0.05, 0.05) for c in dirs[p0]
        ] + [c + rng.uniform(-0.05, 0.05) for c in dirs[p1]]
        rows.append((i, v, p0, p1))
    df = spark.createDataFrame(
        [(i, v) for i, v, _, _ in rows], "vec_id long, embedding array<double>"
    )
    got = {
        (r["vec_id"], r["sub_id"]): r["code"]
        for r in pq_codes(df, m=2, k=2, n_iter=2).collect()
    }
    for i, _, p0, p1 in rows:
        # same half-plant -> same code as the exemplar with that plant
        assert got[(i, 0)] == got[(p0, 0)]
        assert got[(i, 1)] == got[(2 * p1, 1)]  # ids 0,2 cover p1=0,1


def test_pq_adc_topk_serves_usable_neighbors(spark):
    """The ADC scan must return a full top-k per query from codes
    alone, with sane scores (|approx_cos| <= 1 + eps) and nonzero
    overlap with brute force — 8-bit codes are coarse, so the bar is
    'usable candidates', not exact recall."""
    from delta_data_pipelines_spark.operators.similarity import (
        brute_force_topk,
        pq_adc_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    adc = pq_adc_topk(emb, q, m=4, k=4, n_iter=2, topk=5).collect()
    assert len(adc) == 25  # 5 queries x top-5
    assert all(abs(r["approx_cos"]) <= 1.000001 for r in adc)
    brute = brute_force_topk(emb, q, k=50)
    b = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in adc}
    assert len(a & b) > 0  # candidates overlap the true neighborhood


def _bpe_reference(texts: list[str], n_merges: int) -> list[tuple[str, str, int]]:
    """Pure-Python classic BPE (Sennrich 2016) with the engine's
    deterministic tie-break (count DESC, left, right) — the ground
    truth the distributed trainer must reproduce exactly."""
    from collections import Counter

    wf = Counter(w for t in texts for w in t.split(" ") if w)
    vocab = {w: list(w) for w in wf}
    out = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += wf[w]
        if not pairs:
            break
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((l, r, cnt))
        for w, syms in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    merged.append(l + r)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            vocab[w] = merged
    return out


def test_bpe_train_matches_python_reference(spark):
    """The distributed trainer must learn the SAME merge sequence
    (pairs, order, counts) as the sequential reference on the harness
    corpus — pinning greedy-rewrite semantics, frequency weighting,
    and the deterministic tie-break all at once."""
    from delta_data_pipelines_spark.operators.bpe import bpe_train

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    texts = [r["text"] for r in docs.select("text").collect()]
    expect = _bpe_reference(texts, 8)
    got = [
        (r["left"], r["right"], r["pair_count"])
        for r in bpe_train(docs, "text", n_merges=8).orderBy("rank").collect()
    ]
    assert got == expect
    # merged column is the concatenation, ranks are 1..n
    full = bpe_train(docs, "text", n_merges=3).orderBy("rank").collect()
    assert [r["rank"] for r in full] == [1, 2, 3]
    assert all(r["merged"] == r["left"] + r["right"] for r in full)


def test_bpe_segment_concatenation_invariant(spark):
    """Applying learned merges re-tokenizes words WITHOUT changing
    their character content: joining each word's subwords reproduces
    the original text's words; and learned multi-char tokens actually
    appear (the merges did something)."""
    from delta_data_pipelines_spark.operators.bpe import bpe_segment, bpe_train

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, "text", n_merges=4).orderBy("rank").collect()
    ]
    seg = bpe_segment(docs, merges, "text").select("text", "bpe_tokens").collect()
    saw_multichar = False
    for r in seg:
        assert "".join(r["bpe_tokens"]) == r["text"].replace(" ", "")
        saw_multichar = saw_multichar or any(len(t) > 1 for t in r["bpe_tokens"])
    assert saw_multichar


def test_pq_validates_params(spark):
    from delta_data_pipelines_spark.operators.similarity import pq_codes

    df = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id long, embedding array<double>")
    for bad in ({"m": 0}, {"k": 0}, {"n_iter": 0}):
        with pytest.raises(ValueError, match="must be >= 1"):
            pq_codes(df, **bad)
    # ragged dimension must RAISE, not silently drop the vector tail
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [4.0, 5.0, 6.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="divisible"):
        pq_codes(ragged, m=2, k=2, n_iter=1).collect()


def test_kmeans_validates_params(spark):
    from delta_data_pipelines_spark.operators.similarity import kmeans_assign

    df = spark.createDataFrame([(0, [1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="k and n_iter"):
        kmeans_assign(df, k=0)
    with pytest.raises(ValueError, match="k and n_iter"):
        kmeans_assign(df, n_iter=0)


def test_temperature_mix_flattens_distribution(spark):
    """Rarer languages must get strictly higher keep-rates (monotone in
    1/n), capped at 1.0, and the kept counts must respect the rates."""
    from delta_data_pipelines_spark.queries.training_data import (
        ds_temperature_mix,
    )

    rows = ds_temperature_mix(spark, SF).collect()
    assert len(rows) >= 2
    by_n = sorted(rows, key=lambda r: r["n_lang"])
    for rare, common in zip(by_n, by_n[1:]):
        if rare["n_lang"] < common["n_lang"]:
            assert rare["rate"] > common["rate"], (rare, common)
    for r in rows:
        assert 0.0 < r["rate"] <= 1.0
        assert r["n_kept"] <= r["n_lang"]


def test_near_dup_clusters_evaluates_pairs_exactly_once(spark):
    """The staged pairs/edges must survive every propagation round: an
    earlier bug released them after round 1 — silently recomputing the
    full pair build each subsequent round. A 5-node chain needs several
    rounds; the accumulator proves the source was scanned for the
    staging only (at most once per union arm), not once per round."""
    from delta_data_pipelines_spark.operators.dedup import near_dup_clusters

    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tick(x):
        calls.add(1)
        return x

    raw = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "a bigint, id_b bigint"
    )
    pairs = raw.select(tick("a").alias("id_a"), "id_b")
    out = {
        r["member_id"]: r["cluster_id"]
        for r in near_dup_clusters(pairs).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}
    # the symmetric-edges union reads pairs twice at most; after that
    # every round must read the staged edges
    assert calls.value <= 2 * raw.count(), calls.value


def test_near_dup_clusters_keeps_caller_persisted_pairs_cached(spark):
    """An operator releases only what it staged: a pair frame the
    caller persisted is still cached after near_dup_clusters (the
    operator used to re-persist the caller's frame — a no-op — and
    then unpersist it, emptying the caller's cache)."""
    from delta_data_pipelines_spark.operators.dedup import near_dup_clusters

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a bigint, id_b bigint"
    ).persist()
    pairs.count()
    try:
        out = {
            r["member_id"]: r["cluster_id"]
            for r in near_dup_clusters(pairs).collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
        assert cache_manager.lookupCachedData(pairs._jdf).isDefined()
    finally:
        pairs.unpersist()


def test_ivf_topk_with_fitted_kmeans_centroids(spark):
    """The production IVF build: kmeans_centroids feeds ivf_topk. Same
    output contract as the seeded variant, and recall vs brute force
    stays above the single-probe floor."""
    from delta_data_pipelines_spark.catalog import read_table
    from delta_data_pipelines_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
    )

    e = read_table(spark, SF, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    cent = kmeans_centroids(e, k=8, n_iter=2)
    assert cent.count() <= 8
    got = ivf_topk(e, q, k=5, nprobe=2, centroids=cent)
    rows = got.collect()
    assert {r["query_id"] for r in rows} == set(range(10))
    assert all(1 <= r["rank"] <= 5 for r in rows)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(e, q, k=5).collect()
    }
    hits = sum(1 for r in rows if (r["query_id"], r["neighbor_id"]) in exact)
    assert hits / len(exact) >= 0.3  # single-digit-probe recall floor


def test_weighted_sample_semantics(spark):
    """Efraimidis-Spirakis sample: deterministic across calls, without
    replacement, heavy weights dominate, zero/negative weights
    excluded, and k caps per group."""
    from delta_data_pipelines_spark.operators.sampling import weighted_sample

    rows = [(f"d{i}", "g1", 1.0) for i in range(200)]
    rows += [("HEAVY", "g1", 100000.0)]
    rows += [(f"e{i}", "g2", 1.0) for i in range(20)]
    rows += [("zero", "g2", 0.0), ("neg", "g2", -3.0)]
    df = spark.createDataFrame(rows, "k string, g string, w double")

    out1 = weighted_sample(df, "k", "w", k=5, group_col="g").collect()
    out2 = weighted_sample(df, "k", "w", k=5, group_col="g").collect()
    s1 = sorted((r["k"], r["g"]) for r in out1)
    assert s1 == sorted((r["k"], r["g"]) for r in out2)  # deterministic
    assert len(s1) == len(set(s1))  # without replacement
    g1 = [k for k, g in s1 if g == "g1"]
    g2 = [k for k, g in s1 if g == "g2"]
    assert len(g1) == 5 and len(g2) == 5
    # P(HEAVY in top-5 of g1) = 1 - prod(...) ~ 1 for w-ratio 1e5
    assert "HEAVY" in g1
    assert "zero" not in g2 and "neg" not in g2  # excluded, not crashed

    # global (ungrouped) mode: sort+limit path, same properties
    glob = weighted_sample(df, "k", "w", k=3).collect()
    assert len(glob) == 3 and any(r["k"] == "HEAVY" for r in glob)

    # the weight actually steers the sample: uniform weights on the
    # same keys give a DIFFERENT (and lighter) selection
    uni = weighted_sample(
        df.withColumn("w", F.lit(1.0)), "k", "w", k=5, group_col="g"
    ).collect()
    assert sorted((r["k"], r["g"]) for r in uni) != s1
    # NULL keys are excluded, never rank-first
    with_null = spark.createDataFrame(
        [(None, "g3", 9.0), ("a", "g3", 1.0), ("b", "g3", 1.0)],
        "k string, g string, w double",
    )
    got3 = weighted_sample(with_null, "k", "w", k=2, group_col="g").collect()
    assert {r["k"] for r in got3} == {"a", "b"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        weighted_sample(df, "k", "w", k=0)


def test_kmeans_and_pq_seed_from_lowest_ids_not_dense_range(spark):
    """Seeding must follow the 'k lowest-id vectors' contract on a
    SPARSE, OFFSET id space (ids 1000, 1010, ...), where `id < k`
    would select zero seed vectors and silently return empty results:
    the fit must still produce exactly k centroids/codewords and code
    every vector."""
    from delta_data_pipelines_spark.operators.similarity import (
        kmeans_assign,
        pq_codes,
        pq_index,
    )

    rows = [
        (1000 + 10 * i, [1.0 + i % 3, 1.0 + (i * 7) % 5, 1.0, 0.5 + i % 2])
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    km = kmeans_assign(df, k=3, n_iter=2).collect()
    assert len(km) == 24
    assert {r["cid"] for r in km} <= {1000, 1010, 1020}  # seed ids ARE the labels
    assert len({r["cid"] for r in km}) == 3

    codes, cb = pq_index(df, m=2, k=2, n_iter=2)
    cb_rows = cb.collect()
    assert len(cb_rows) == 4  # m*k codewords, none silently missing
    assert {r["code"] for r in cb_rows} == {1000, 1010}
    got = pq_codes(df, m=2, k=2, n_iter=2).collect()
    assert len(got) == 2 * 24  # every vector coded in every subspace


def test_nb_classifier_separates_planted_classes(spark):
    """Naive Bayes on a corpus with a planted vocabulary split: docs
    built from 'good' tokens vs docs from 'bad' tokens must score on
    opposite sides of zero once trained on their own labels; token
    log-odds must carry the right sign; OOV-only docs score exactly
    the prior; NULL-label rows train nothing, and a NULL-text row
    adds no tokens but counts in the class prior."""
    import math

    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators.textstats import (
        classifier_features,
        nb_score,
        nb_train,
    )

    rows = [
        (i, "clean helpful prose with structure and meaning", True)
        for i in range(1, 7)
    ]
    rows += [
        (i, "zz9 spam junk noise garbage spam zz9 junk", False)
        for i in range(10, 16)
    ]
    rows.append((20, None, True))  # NULL text: contributes nothing
    rows.append((21, "clean prose", None))  # NULL label: not trained on
    docs = spark.createDataFrame(rows, "doc_id long, text string, lbl boolean")

    feats = classifier_features(docs)
    weights, prior = nb_train(feats, "lbl")
    w = {r["token"]: r["log_odds"] for r in weights.collect()}
    assert w["clean"] > 0 and w["spam"] < 0  # signs follow the classes
    # the prior counts every labelled doc, doc 20 (NULL text) included:
    # 7 positive against 6 negative, doc 21 (NULL label) left out
    assert prior.collect()[0]["log_prior"] == round(math.log(7 / 6), 9)

    scored = {r["doc_id"]: r for r in nb_score(feats, weights, prior).collect()}
    assert all(scored[i]["pred_pos"] for i in range(1, 7))
    assert not any(scored[i]["pred_pos"] for i in range(10, 16))
    assert 20 not in scored  # NULL text: nothing to score
    assert scored[21]["pred_pos"]  # unlabeled doc scored fine

    # OOV-only doc scores exactly the prior
    oov = spark.createDataFrame(
        [(99, "totally unseen vocabulary here")], "doc_id long, text string"
    )
    lp = prior.collect()[0]["log_prior"]
    got = nb_score(classifier_features(oov), weights, prior).collect()[0]
    assert abs(got["nb_score"] - round(lp, 9)) < 1e-9


def test_remove_dup_passages_keeps_first_and_rebuilds(spark):
    """Corpus-wide duplicated segments keep exactly the min-(doc, pos)
    copy; docs are rebuilt in original order; NULL text passes through;
    a fully-deleted doc becomes the empty string, not NULL."""
    a = "w1 w2 w3 w4 w5"
    b = "x1 x2 x3 x4 x5"
    rows = [
        (1, a + " " + b),      # owns both segments (first occurrence)
        (2, b + " " + a),      # both segments duplicated -> ''
        (3, "u1 u2 u3 " + a),  # unaligned copy: tiling won't match it
        (4, None),             # NULL passthrough
        (5, "y1 y2 y3 y4 y5 y1 y2 y3 y4 y5"),  # within-doc repeat
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["text"], r["n_segments"], r["n_removed"])
        for r in textstats.remove_dup_passages(df, n=5).collect()
    }
    assert out[1] == (a + " " + b, 2, 0)
    assert out[2] == ("", 2, 2)
    # segment tiling is alignment-sensitive by design: doc 3's copy of
    # `a` straddles a segment boundary, so it is NOT removed — the
    # overlapping-shingle SIGNAL (passage_dup_stats) still sees it
    assert out[3] == ("u1 u2 u3 " + a, 2, 0)
    assert out[4] == (None, 0, 0)
    assert out[5] == ("y1 y2 y3 y4 y5", 2, 1)



def test_cluster_balance_caps_dense_cells_only(spark):
    """A dense semantic region is cut to the cap; sparse cells pass
    through whole; ranks are 1..cap and deterministic across calls."""
    from delta_data_pipelines_spark.operators import sampling as smp

    # 12 vectors near (1, 0) — one dense cell; 2 near (0, 1)
    rows = [(i, [1.0, 0.01 * i]) for i in range(12)] + [
        (100, [0.0, 1.0]),
        (101, [0.01, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = smp.cluster_balance(
        df, k=2, n_iter=2, cap=5, salt="t"
    ).collect()
    by_cid = {}
    for r in out:
        by_cid.setdefault(r["cid"], []).append(r)
    sizes = {cid: rs[0]["cluster_n"] for cid, rs in by_cid.items()}
    kept = {cid: len(rs) for cid, rs in by_cid.items()}
    assert sorted(sizes.values()) == [2, 12]
    assert sorted(kept.values()) == [2, 5]  # dense cell capped at 5
    for rs in by_cid.values():
        assert sorted(r["keep_rank"] for r in rs) == list(
            range(1, len(rs) + 1)
        )
    again = smp.cluster_balance(df, k=2, n_iter=2, cap=5, salt="t").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    with pytest.raises(ValueError, match="cap"):
        smp.cluster_balance(df, cap=0)


def test_compression_signal_matches_direct_zlib(spark):
    """The Arrow-batched pass must equal direct zlib.compress(level 6)
    per row; NULL and empty text yield NULL ratio (no 8-byte-header
    artifacts)."""
    import zlib

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "aa " * 200),          # repetitive -> compresses hard
        (3, ""),                   # empty -> NULL ratio
        (4, None),                 # NULL passthrough
        (5, "z8#kQ!m2@v9$"),       # short noise
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in textstats.compression_signal(df).collect()
    }
    for i, t in rows:
        if t is None:
            assert out[i]["n_bytes"] is None
            assert out[i]["compression_ratio"] is None
            continue
        raw = t.encode("utf-8")
        assert out[i]["n_bytes"] == len(raw)
        assert out[i]["n_compressed"] == len(zlib.compress(raw, 6))
        if raw:
            assert out[i]["compression_ratio"] == round(
                len(zlib.compress(raw, 6)) / len(raw), 9
            )
        else:
            assert out[i]["compression_ratio"] is None
    assert out[2]["compression_ratio"] < 0.1  # repetition detected
    assert out[5]["compression_ratio"] > 1.0  # noise inflates


def test_real_wav_metadata_via_vendored_riff_parse(spark):
    """Audio sibling of the PNG/JPEG tests: a structurally valid PCM
    WAV built with stdlib-only bytes flows through decode_audio with
    its REAL sample rate / channel count / sample count via the RIFF
    chunk walk; an extra chunk before fmt parses too; non-WAV bytes
    degrade to the stub."""
    import struct

    def tiny_wav(rate, channels, n_samples, extra_chunk=False):
        bps = 16
        block = channels * bps // 8
        fmt = b"fmt " + struct.pack(
            "<IHHIIHH", 16, 1, channels, rate, rate * block, block, bps
        )
        data = b"data" + struct.pack("<I", n_samples * block) + (
            b"\x00" * (n_samples * block)
        )
        pre = (b"LIST" + struct.pack("<I", 4) + b"INFO") if extra_chunk else b""
        body = b"WAVE" + pre + fmt + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    assert multimodal.decode_wav_header(tiny_wav(16000, 1, 1234)) == {
        "sample_rate": 16000, "n_samples": 1234, "channels": 1,
    }
    assert multimodal.decode_audio(tiny_wav(44100, 2, 10, extra_chunk=True)) == {
        "sample_rate": 44100, "n_samples": 10, "channels": 2,
    }
    assert multimodal.decode_audio(b"not audio") == multimodal.decode_stub(
        b"not audio", "audio"
    )
    # the Arrow seam: feature extraction with the real-WAV decoder
    wav = tiny_wav(8000, 1, 99)
    df = spark.createDataFrame(
        [(1, bytearray(wav), "audio")],
        "doc_id long, payload binary, modality string",
    )
    row = multimodal.extract_features(df, decoder=multimodal.decode_audio).first()
    assert row["feat_a"] == 8000  # sample_rate rides the feature slot


def test_kmv_overlap_small_sets_exact(spark):
    """Below k the merged sketch holds every distinct hash, so union /
    intersection / Jaccard short-circuit to the EXACT values (up to
    md5 collisions, absent on 10-element fixtures)."""
    from delta_data_pipelines_spark.operators import sketches

    # A = {t0..t9}, B = {t5..t14}: |A∪B| = 15, |A∩B| = 5, J = 1/3
    rows = [("a", f"t{i}") for i in range(10)] + [
        ("b", f"t{i}") for i in range(5, 15)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    r = sketches.kmv_overlap(df, "g", "v", k=64).collect()
    assert len(r) == 1
    r = r[0]
    assert (r["group_a"], r["group_b"]) == ("a", "b")
    assert r["n_union_est"] == 15.0
    assert abs(r["jaccard_est"] - 5 / 15) < 1e-8
    assert abs(r["n_inter_est"] - 5.0) < 1e-6
    with pytest.raises(ValueError, match="k must be"):
        sketches.kmv_overlap(df, "g", "v", k=1)


def test_kmv_overlap_error_bounded(spark):
    """Above k: 3 groups with constructed overlap (g0 ⊂ g1 half-shared,
    g2 disjoint). Jaccard/union within generous sketch-error bounds,
    disjoint pair estimates exactly 0 intersection."""
    from delta_data_pipelines_spark.operators import sketches

    # g0 = v0..v1999, g1 = v1000..v2999 (J = 1000/3000), g2 = w0..w999
    df = (
        spark.range(0, 2000)
        .select(F.lit("g0").alias("g"), F.concat(F.lit("v"), "id").alias("v"))
        .unionAll(
            spark.range(1000, 3000).select(
                F.lit("g1").alias("g"), F.concat(F.lit("v"), "id").alias("v")
            )
        )
        .unionAll(
            spark.range(0, 1000).select(
                F.lit("g2").alias("g"), F.concat(F.lit("w"), "id").alias("v")
            )
        )
    )
    got = {
        (r["group_a"], r["group_b"]): r
        for r in sketches.kmv_overlap(df, "g", "v", k=256).collect()
    }
    assert set(got) == {("g0", "g1"), ("g0", "g2"), ("g1", "g2")}
    r01 = got[("g0", "g1")]
    assert abs(r01["n_union_est"] - 3000) / 3000 < 0.30
    assert abs(r01["jaccard_est"] - 1 / 3) < 0.15
    for pair in (("g0", "g2"), ("g1", "g2")):
        assert got[pair]["jaccard_est"] == 0.0
        assert got[pair]["n_inter_est"] == 0.0


def test_pagerank_cycle_is_stationary(spark):
    """On a directed cycle the uniform distribution is stationary:
    every round reproduces round(1/N) exactly; total mass stays 1."""
    from delta_data_pipelines_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    rows = pagerank(edges, n_iter=4).collect()
    assert {r["node"] for r in rows} == {"a", "b", "c"}
    for r in rows:
        assert abs(r["pagerank"] - round(1 / 3, 9)) < 2e-9
    assert abs(sum(r["pagerank"] for r in rows) - 1.0) < 1e-6


def test_pagerank_sink_accumulates_and_is_deterministic(spark):
    """Star into b: b outranks the spokes; weighted edges shift mass
    toward the heavier transition; result invariant under input
    repartitioning (decimal contribution sums)."""
    from delta_data_pipelines_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1), ("c", "b", 1), ("b", "a", 3), ("b", "c", 1)],
        "src string, dst string, w long",
    )
    r1 = {r["node"]: r["pagerank"] for r in pagerank(edges, weight_col="w").collect()}
    # b sinks both spokes' full mass; b's return flow splits 3:1
    # toward a, so the weight (not just the edge) ranks a over c
    assert r1["b"] > r1["a"] > r1["c"]
    r2 = {
        r["node"]: r["pagerank"]
        for r in pagerank(edges.repartition(7), weight_col="w").collect()
    }
    assert r1 == r2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="damping"):
        pagerank(edges, damping=1.0)
    with _pytest.raises(ValueError, match="n_iter"):
        pagerank(edges, n_iter=0)


def test_cm_sketch_never_undercounts_and_merges(spark):
    """CM guarantees: estimate >= true count for every item; two
    sketches over the same geometry merge by cell-wise addition to
    exactly the full-data sketch; counter table stays <= d*w rows."""
    from delta_data_pipelines_spark.operators import sketches

    df = spark.range(0, 5000).select(
        F.concat(F.lit("t"), (F.col("id") % 300).cast("string")).alias("it")
    )
    sk = sketches.cm_sketch(df, "it", d=4, w=64)
    assert sk.count() <= 4 * 64
    exact = df.groupBy("it").agg(F.count("*").alias("n"))
    est = sketches.cm_query(sk, exact, "it", d=4, w=64)
    joined = exact.join(est, exact["it"] == est["item"]).collect()
    assert len(joined) == 300
    assert all(r["n_est"] >= r["n"] for r in joined)

    a = df.where(F.col("it") < "t2")
    b = df.where(~(F.col("it") < "t2"))
    merged = (
        sketches.cm_sketch(a, "it", d=4, w=64)
        .unionByName(sketches.cm_sketch(b, "it", d=4, w=64))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = {(r["row"], r["bucket"]): r["cnt"] for r in sk.collect()}
    got = {(r["row"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert got == full

    import pytest as _pytest

    with _pytest.raises(ValueError, match="d must be"):
        sketches.cm_sketch(df, "it", d=0)
    with _pytest.raises(ValueError, match="w must be"):
        sketches.cm_sketch(df, "it", w=1)


def _viterbi_ref(word, logp, max_len):
    """Sequential reference for the unigram Viterbi fold: same scaled-
    integer domain (round(logp·1e6) as int — exact adds, exact tie
    equality), same -inf sentinel, same shortest-piece tie rule."""
    NEG = -(10**18)
    li = {p: int(round(v * 1e6)) for p, v in logp.items()}
    n = len(word)
    best = [0] + [NEG] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        cands = []
        for l in range(1, max_len + 1):
            p = word[i - l:i] if i >= l else None
            if i >= l and p in li and best[i - l] > -(10**17):
                cands.append(best[i - l] + li[p])
            else:
                cands.append(NEG)
        m = max(cands)
        best[i] = m
        if m > -(10**17):
            back[i] = min(l for l in range(1, max_len + 1)
                          if cands[l - 1] == m)
    if best[n] <= -(10**17):
        return None, None
    parts, pos = [], n
    while pos > 0:
        l = back[pos]
        parts.insert(0, word[pos - l:pos])
        pos -= l
    return parts, round(best[n] / 1e6, 6)


def test_unigram_viterbi_matches_reference(spark):
    """Engine Viterbi segmentation == sequential reference DP for
    every vocabulary word (same pieces, same rounded score, same tie
    handling); a word with a character outside the inventory comes
    back NULL."""
    from delta_data_pipelines_spark.operators import unigram as U

    vocab = spark.createDataFrame(
        [("hello", 10), ("help", 5), ("hell", 3), ("lo", 7), ("he", 2),
         ("ohell", 1), ("loop", 4), ("pool", 4)],
        "word string, n long",
    )
    pieces = U.piece_logprobs(U.unigram_candidates(vocab, max_len=3, min_count=4))
    logp = {r["piece"]: r["logp"] for r in pieces.collect()}
    got = {
        r["word"]: (r["pieces"], r["logp"], r["logp_int"])
        for r in U.viterbi_segment(vocab, pieces, max_len=3).collect()
    }
    assert len(got) == 8
    for w in got:
        ref_parts, ref_score = _viterbi_ref(w, logp, 3)
        assert got[w][0] == ref_parts, (w, got[w], ref_parts)
        assert got[w][1] == ref_score, (w, got[w], ref_score)
        # the raw BIGINT DP score is the exact 1e6-scaled rounded logp
        assert got[w][2] == int(round(ref_score * 1e6)), (w, got[w])

    # unknown character -> unsegmentable -> NULLs
    weird = spark.createDataFrame([("héllo",)], "word string")
    r = U.viterbi_segment(weird, pieces, max_len=3).collect()[0]
    assert r["pieces"] is None and r["logp"] is None and r["logp_int"] is None


def test_unigram_refit_recounts_by_usage(spark):
    """One hard-EM round: the inventory is FIXED (same piece set),
    counts become Viterbi usage (weighted by word frequency) + 1, and
    segmenting again under the refit probabilities still covers every
    word."""
    from delta_data_pipelines_spark.operators import unigram as U

    vocab = spark.createDataFrame(
        [("hello", 10), ("help", 5), ("hell", 3), ("lo", 7), ("he", 2)],
        "word string, n long",
    )
    p0 = U.piece_logprobs(U.unigram_candidates(vocab, max_len=3, min_count=4))
    p1 = U.unigram_refit(vocab, p0, max_len=3)
    s0 = {r["piece"] for r in p0.collect()}
    rows1 = {r["piece"]: r for r in p1.collect()}
    assert set(rows1) == s0  # fixed inventory
    # 'hel' is used by hello(10) and hell(3) under p0 -> 13 + 1
    seg0 = {r["word"]: r["pieces"]
            for r in U.viterbi_segment(vocab, p0, max_len=3).collect()}
    from collections import Counter
    usage = Counter()
    freq = {"hello": 10, "help": 5, "hell": 3, "lo": 7, "he": 2}
    for w, parts in seg0.items():
        for p in parts:
            usage[p] += freq[w]
    for piece, r in rows1.items():
        assert r["cnt"] == usage.get(piece, 0) + 1, piece
    seg1 = U.viterbi_segment(vocab, p1, max_len=3)
    assert seg1.where(F.col("pieces").isNull()).count() == 0


def test_hll_registers_merge_by_max_and_estimate_bounds(spark):
    """HLL invariants: register merge is per-register MAX (idempotent
    — re-merging a replayed batch changes nothing, unlike CM), the
    merged registers equal the full-data sketch, and the estimate
    lands within generous HLL error (~1.04/sqrt(256) ≈ 6.5% std) of a
    known cardinality; m must be a power of two."""
    import pytest as _pytest

    from delta_data_pipelines_spark.operators import sketches

    df = spark.range(0, 30_000).select(
        (F.col("id") % 3).alias("g"),
        F.concat(F.lit("u"), (F.col("id") % 8000).cast("string")).alias("v"),
    )
    full = {
        (r["g"], r["j"]): r["mx"]
        for r in sketches.hll_sketch(df, ["g"], "v", m=256).collect()
    }
    a = sketches.hll_sketch(df.where("id % 2 = 0"), ["g"], "v", m=256)
    b = sketches.hll_sketch(df.where("id % 2 = 1"), ["g"], "v", m=256)
    merged = {
        (r["g"], r["j"]): r["mx"]
        for r in a.unionByName(b)
        .groupBy("g", "j")
        .agg(F.max("mx").alias("mx"))
        .collect()
    }
    assert merged == full
    # idempotent: merging the full sketch with itself is a no-op
    fr = sketches.hll_sketch(df, ["g"], "v", m=256)
    twice = {
        (r["g"], r["j"]): r["mx"]
        for r in fr.unionByName(fr).groupBy("g", "j").agg(F.max("mx").alias("mx")).collect()
    }
    assert twice == full

    est = {
        r["g"]: r["n_est"]
        for r in sketches.hll_estimate(fr, ["g"], m=256).collect()
    }
    # each group holds ~8000/... distinct values; compute exactly
    exact = {
        r["g"]: r["n"]
        for r in df.groupBy("g").agg(F.countDistinct("v").alias("n")).collect()
    }
    for g, n in exact.items():
        assert abs(est[g] - n) / n < 0.25, (g, est[g], n)

    with _pytest.raises(ValueError, match="power of two"):
        sketches.hll_sketch(df, ["g"], "v", m=100)


# ---------------------------------------------------------------------------
# DSIR importance resampling (operators/dsir.py)
# ---------------------------------------------------------------------------


def test_dsir_feature_count_and_null_passthrough(spark):
    from delta_data_pipelines_spark.operators import dsir

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "solo"), (3, None), (4, "")],
        ["doc_id", "text"],
    )
    feats = df.select(
        "doc_id",
        F.size(dsir.hashed_ngram_buckets(F.col("text"), 64)).alias("n"),
    ).collect()
    n = {r["doc_id"]: r["n"] for r in feats}
    # n tokens -> n unigrams + (n-1) bigrams = 2n - 1
    assert n[1] == 5 and n[2] == 1
    assert n[3] is None or n[3] == -1  # NULL text -> NULL array
    assert n[4] == 0

    target = df.where(F.col("doc_id") == 1)
    w = dsir.dsir_weights(df, target, "doc_id", "text", n_buckets=64)
    rows = {r["doc_id"]: r for r in w.collect()}
    assert len(rows) == 4  # nothing dropped
    assert rows[3]["n_features"] == 0 and rows[3]["dsir_weight"] == 0.0
    assert rows[4]["n_features"] == 0 and rows[4]["dsir_weight"] == 0.0


def test_dsir_weights_rank_target_like_docs_higher(spark):
    from delta_data_pipelines_spark.operators import dsir

    # target distribution speaks "x y"; doc 10 repeats it, doc 11 is
    # disjoint vocabulary -> doc 10 must carry the higher log-ratio
    raw = spark.createDataFrame(
        [(10, "x y x y x y"), (11, "p q r s t u")], ["doc_id", "text"]
    )
    target = spark.createDataFrame([(1, "x y x y")], ["doc_id", "text"])
    w = {
        r["doc_id"]: r["dsir_weight"]
        for r in dsir.dsir_weights(raw, target, "doc_id", "text", 128).collect()
    }
    assert w[10] > w[11]


def test_dsir_model_is_full_and_broadcast_sized(spark):
    from delta_data_pipelines_spark.operators import dsir

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    model = dsir.fit_hashed_ngram_model(df, "text", 32)
    rows = model.collect()
    assert len(rows) == 32  # every bucket present (smoothing floor)
    assert all(r["logp"] is not None for r in rows)


def test_gumbel_topk_deterministic_and_excludes_nulls(spark):
    from delta_data_pipelines_spark.operators import dsir
    import pytest as _pytest

    df = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(100)] + [(None, 99.0), (200, None)],
        "doc_id: bigint, w: double",
    )
    a = dsir.gumbel_topk(df, "doc_id", "w", k=10).collect()
    b = dsir.gumbel_topk(df, "doc_id", "w", k=10).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert len(a) == 10
    ids = {r["doc_id"] for r in a}
    assert None not in ids and 200 not in ids

    # re-salting changes the draw (different Gumbel stream)
    c = dsir.gumbel_topk(df, "doc_id", "w", k=10, salt="other").collect()
    assert [r["doc_id"] for r in a] != [r["doc_id"] for r in c]

    with _pytest.raises(ValueError, match="k must be"):
        dsir.gumbel_topk(df, "doc_id", "w", k=0)


def test_gumbel_topk_biases_toward_heavy_log_weights(spark):
    from delta_data_pipelines_spark.operators import dsir

    # 50 heavy docs (log-weight 5) vs 50 light (log-weight -5):
    # exp-weight ratio e^10 — the top-20 should be all heavy
    df = spark.createDataFrame(
        [(i, 5.0 if i < 50 else -5.0) for i in range(100)],
        "doc_id: bigint, w: double",
    )
    top = dsir.gumbel_topk(df, "doc_id", "w", k=20).collect()
    assert all(r["doc_id"] < 50 for r in top)


def test_dsir_weights_flagged_equals_two_frame_form(spark):
    from delta_data_pipelines_spark.operators import dsir

    df = spark.createDataFrame(
        [(1, "x y x", True), (2, "y z", False), (3, "p q r", None),
         (4, None, True), (5, "x z y", True)],
        "doc_id: bigint, text: string, t: boolean",
    )
    two = dsir.dsir_weights(
        df, df.where(F.col("t")), "doc_id", "text", n_buckets=64
    )
    flagged = dsir.dsir_weights_flagged(
        df, F.col("t"), "doc_id", "text", n_buckets=64
    )
    a = {r["doc_id"]: (r["n_features"], r["dsir_weight"]) for r in two.collect()}
    b = {r["doc_id"]: (r["n_features"], r["dsir_weight"]) for r in flagged.collect()}
    assert a == b  # NULL flag == excluded-by-where, identical numbers


def test_mmr_topk_matches_python_reference(spark):
    """mmr_topk equals a sequential pure-Python greedy MMR over the
    same candidate pool (round-9 cosines, same tie rules), including
    the diversity effect: with near-duplicate top candidates, rank-2
    must NOT be the near-duplicate plain top-2."""
    import math

    from delta_data_pipelines_spark.operators import similarity

    vecs = {
        100: [1.0, 0.0, 0.0],
        1: [0.99, 0.14, 0.0],   # near-dup of 2
        2: [0.98, 0.17, 0.0],
        3: [0.7, 0.7, 0.1],     # relevant but diverse
        4: [0.6, -0.7, 0.3],
        5: [0.1, 0.2, 0.9],
        6: [-0.9, 0.1, 0.1],
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id: bigint, embedding: array<double>",
    )
    q = df.where(F.col("vec_id") == 100)
    out = similarity.mmr_topk(df, q, k=4, pool=6, lam=0.7).orderBy("rank")
    got = [(r["neighbor_id"], r["mmr_score"]) for r in out.collect()]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 9)

    qv = vecs[100]

    def reference(lam):
        cands = sorted(
            ((cos(qv, v), -i) for i, v in vecs.items() if i != 100),
            reverse=True,
        )[:6]
        pool = [-i for _, i in cands]
        rel = {i: cos(qv, vecs[i]) for i in pool}
        picked, expect = [], []
        for _ in range(4):
            best = None
            for i in pool:
                if i in picked:
                    continue
                ms = max((cos(vecs[i], vecs[j]) for j in picked), default=0.0)
                score = round(lam * rel[i] - (1 - lam) * ms, 9)
                key = (score, -i)
                if best is None or key > best[0]:
                    best = (key, i, score)
            picked.append(best[1])
            expect.append((best[1], best[2]))
        return expect

    assert got == reference(0.7), (got, reference(0.7))

    # the diversity property at a diversity-heavy lambda: plain top-2
    # is {1, 2} (near-duplicates); MMR's second pick must differ
    div = similarity.mmr_topk(df, q, k=4, pool=6, lam=0.3).orderBy("rank")
    got_div = [(r["neighbor_id"], r["mmr_score"]) for r in div.collect()]
    assert got_div == reference(0.3), (got_div, reference(0.3))
    assert got_div[0][0] == 1 and got_div[1][0] != 2


def test_jl_projection_preserves_distances_statistically(spark):
    """JL sign projection: deterministic across runs, output dim
    respected, and the distance-preservation guarantee holds in the
    statistical sense on real vectors (64 -> 16 dims keeps pair
    distances within a loose [0.4, 1.8] ratio band and a median near
    1 — JL is an expectation bound, not per-pair)."""
    from delta_data_pipelines_spark.operators import similarity

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = e.where(F.col("vec_id") < 12).select(
        "vec_id",
        similarity.as_double(F.col("embedding")).alias("v"),
        similarity.jl_project(F.col("embedding"), 16).alias("p"),
    )
    rows = {r["vec_id"]: r for r in p.collect()}
    rows2 = {r["vec_id"]: r for r in p.collect()}
    assert all(rows[i]["p"] == rows2[i]["p"] for i in rows)  # deterministic
    assert all(len(r["p"]) == 16 for r in rows.values())

    import math

    ratios = []
    ids = sorted(rows)
    for x in ids:
        for y in ids:
            if x >= y:
                continue
            do = math.sqrt(
                sum((a - b) ** 2 for a, b in zip(rows[x]["v"], rows[y]["v"]))
            )
            dp = math.sqrt(
                sum((a - b) ** 2 for a, b in zip(rows[x]["p"], rows[y]["p"]))
            )
            ratios.append(dp / do)
    assert all(0.4 < r < 1.8 for r in ratios), ratios
    med = sorted(ratios)[len(ratios) // 2]
    assert 0.75 < med < 1.25, med


def test_remove_exact_substrings_sliding_window_semantics(spark):
    """True ExactSubstr-L cover-set semantics: a duplicated run ≥ L
    tokens is removed WHEREVER it sits (every occurrence — across docs
    AND self-repeats within one doc), runs under L survive, docs under
    L tokens are untouched, NULL text passes through. The planted
    shared run straddles every 4-token tile boundary, which the tiling
    variant (remove_dup_passages) cannot see — the contrast pin."""
    from delta_data_pipelines_spark.operators import textstats
    from delta_data_pipelines_spark.operators.dedup import (
        remove_exact_substrings,
    )

    docs = spark.createDataFrame(
        [(1, "a b c q r s t u v d e"),   # shared 6-run mid-doc
         (2, "x y q r s t u v z"),       # same run, different offset
         (3, "m n o p m n o p w"),       # self-repeat of a 4-run
         (4, "q r s"),                   # under L -> kept whole
         (5, None)],                     # NULL passthrough
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_removed"])
        for r in remove_exact_substrings(docs, min_len=4).collect()
    }
    assert got[1] == ("a b c d e", 11, 6)
    assert got[2] == ("x y z", 9, 6)
    assert got[3] == ("w", 9, 8)  # both copies of the self-repeat go
    assert got[4] == ("q r s", 3, 0)
    assert got[5] == (None, 0, 0)

    # the tiling variant misses the straddling run entirely (its
    # 4-tiles of docs 1 and 2 never line up) — the gap this operator
    # closes
    tiled = {
        r["doc_id"]: r["n_removed"]
        for r in textstats.remove_dup_passages(docs, n=4).collect()
    }
    assert tiled[1] == 0 and tiled[2] == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_len"):
        remove_exact_substrings(docs, min_len=0)


def test_remove_exact_substrings_fully_duplicated_doc_empties(spark):
    """A document that is one big duplicated substring rebuilds to the
    EMPTY string (not NULL — NULL means 'text was NULL on input'),
    and n_removed == n_tokens."""
    from delta_data_pipelines_spark.operators.dedup import (
        remove_exact_substrings,
    )

    docs = spark.createDataFrame(
        [(1, "c1 c2 c3 c4 c5"), (2, "c1 c2 c3 c4 c5")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_removed"])
        for r in remove_exact_substrings(docs, min_len=5).collect()
    }
    assert got[1] == ("", 5, 5) and got[2] == ("", 5, 5)


def test_exact_substring_spans_consistent_with_rewrite(spark):
    """The spans audit view and the rewrite share one cover set: per
    doc, sum(span_end - span_start + 1) == the rewrite's n_removed,
    spans are disjoint, ordered, and each is at least L tokens."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators.dedup import (
        exact_substring_spans,
        remove_exact_substrings,
    )

    docs = spark.createDataFrame(
        [(1, "a b c q r s t u v d e"),
         (2, "x y q r s t u v z"),
         (3, "m n o p m n o p w"),
         (4, "q r s"),
         (5, None)],
        "doc_id long, text string",
    )
    spans = exact_substring_spans(docs, min_len=4)
    rows = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in spans.collect()
    )
    assert rows == [(1, 4, 9), (2, 3, 8), (3, 1, 8)]
    # covered mass per doc equals the rewrite's n_removed
    removed = {
        r["doc_id"]: r["n_removed"]
        for r in remove_exact_substrings(docs, min_len=4).collect()
    }
    mass = {
        r["doc_id"]: r["m"]
        for r in spans.groupBy("doc_id")
        .agg(F.sum(F.col("span_end") - F.col("span_start") + 1).alias("m"))
        .collect()
    }
    for d, m in mass.items():
        assert m == removed[d], (d, m, removed[d])
    assert all(b - a + 1 >= 4 for _, a, b in rows)


def test_phash_near_dup_pairs_locality_and_exclusions(spark):
    """Perceptual dHash dedup: identical payloads pair at hamming 0,
    a lightly perturbed payload stays within a small distance of its
    source (locality — the property that makes a perceptual hash more
    than a checksum), an unrelated payload sits far away, sub-72-byte
    payloads carry no fingerprint and produce no pairs, and chunk
    values stay within 16 bits."""
    import random

    from delta_data_pipelines_spark.operators.multimodal import (
        dhash_kernel,
        image_dhash,
        phash_near_dup_pairs,
    )

    rng = random.Random(7)
    base = bytes(rng.randrange(256) for _ in range(720))
    # perturb ONE byte: at most a couple of cells' sums move
    near = bytearray(base)
    near[360] = (near[360] + 40) % 256
    far = bytes(rng.randrange(256) for _ in range(720))
    rows = [
        (1, base), (2, bytes(near)), (3, far), (4, base), (5, b"tiny"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    sigs = {
        r["doc_id"]: r["_sh"]
        for r in image_dhash(df).collect()
    }
    assert sigs[5] is None
    assert sigs[1] == dhash_kernel(base)  # executor == local kernel
    assert all(0 <= v <= 0xFFFF for v in sigs[1])

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    assert ham(sigs[1], sigs[2]) <= 4  # one-byte perturbation is local
    assert ham(sigs[1], sigs[3]) >= 16  # unrelated payloads are far

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_dup_pairs(df, max_hamming=6).collect()
    }
    assert pairs[(1, 4)] == 0  # identical payloads
    assert (1, 2) in pairs and pairs[(1, 2)] <= 4
    assert (1, 3) not in pairs and (2, 3) not in pairs
    assert all(5 not in p for p in pairs)


def test_c4_clean_rule_matrix(spark):
    """Each C4 rule on its own row: terminal punctuation, min words,
    the javascript line badword, the <3-retained-lines doc gate, lorem
    ipsum and curly-bracket doc drops, NULL-text drop; survivors keep
    only their clean lines, rejoined in order."""
    good = "alpha beta gamma delta epsilon."
    rows = [
        # survivor: 3 good lines + one dropped per line rule
        (1, "\n".join([good, "too short.", "no terminal punct here at all",
                       "we use javascript on this site.",
                       "one two three four five!", "six seven eight nine ten?"])),
        (2, "\n".join([good, good])),                 # <3 kept -> dropped
        (3, "\n".join([good, good, good, "lorem ipsum dolor sit amet."])),
        (4, "\n".join([good, good, good, "try { x } catch (e) {}"])),
        (5, None),                                    # NULL -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in textstats.c4_clean(df, "doc_id", "text").collect()
    }
    assert set(out) == {1}
    assert out[1]["n_lines"] == 6 and out[1]["n_kept"] == 3
    assert out[1]["clean_text"] == "\n".join(
        [good, "one two three four five!", "six seven eight nine ten?"]
    )


def test_simhash_rejects_radius_at_signature_width(spark, corpus):
    """max_hamming >= 64 qualifies EVERY pair (an exact complement
    shares no block, so blocking cannot find it): the operator must
    reject the radius loudly instead of silently under-recalling."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="signature width"):
        dedup.simhash_near_dup_pairs(corpus, "doc_id", "text",
                                     max_hamming=64).collect()
    # the documented maximum still works: 64 one-bit blocks
    dedup.simhash_near_dup_pairs(corpus, "doc_id", "text",
                                 max_hamming=63).count()


def test_multimodal_kernels_pass_null_payloads_through(spark):
    """NULL binary payloads (a NULL-text row through attach_fake_binary)
    must not reach any decode kernel: features/resize keep the row with
    NULL outputs, frame sampling contributes zero frames, dhash yields
    a NULL signature."""
    rows = [(1, bytearray(bytes(range(144)))), (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    feats = {r["doc_id"]: r for r in multimodal.extract_features(df).collect()}
    assert feats[2]["n_bytes"] is None and feats[2]["feat_a"] is None
    assert feats[1]["n_bytes"] == 144

    res = {r["doc_id"]: r for r in multimodal.resize_images(df, 32, 32).collect()}
    assert res[2]["src_h"] is None and res[2]["scale"] is None
    assert res[1]["out_h"] >= 1

    frames = multimodal.sample_frames(df).collect()
    assert {r["doc_id"] for r in frames} == {1}

    sig = {r["doc_id"]: r["_sh"] for r in multimodal.image_dhash(
        df, payload_col="payload").collect()}
    assert sig[2] is None and sig[1] is not None


def test_pq_index_excludes_null_vectors(spark):
    """A NULL embedding must not kill the PQ build (the ragged-dim
    raise fired on NULL size): it is excluded from fit and coding;
    real vectors still build, and a genuinely ragged dim still
    raises."""
    import pytest as _pytest

    from delta_data_pipelines_spark.operators.similarity import pq_index

    rows = [(1, [1.0, 2.0, 3.0, 4.0]), (2, None), (3, [4.0, 3.0, 2.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes, _cb = pq_index(df, m=2, k=2, n_iter=1)
    got = {r["vec_id"] for r in codes.collect()}
    assert got == {1, 3}

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(Exception, match="divisible"):
        pq_index(ragged, m=2, k=2, n_iter=1)[0].collect()


def test_best_fit_pack_invariants_and_nulls(spark):
    """No-split packing: every bin's contents fit ctx (oversize docs
    alone in a flagged bin), offsets tile each bin without overlap,
    group assignment is the portable md5 bucket, and NULL/zero token
    counts pass through with NULL packing columns."""
    from delta_data_pipelines_spark.operators.packing import best_fit_pack

    rows = [(i, 10 + (i * 7) % 50) for i in range(1, 40)]
    rows += [(100, 300), (101, None), (102, 0)]  # oversize, null, zero
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = best_fit_pack(df, "doc_id", "n_tokens", ctx=64, n_groups=4)
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == len(rows)
    assert got[100]["oversize"] is True and got[100]["offset"] == 0
    assert got[101]["pack_group"] is None and got[102]["bin"] is None

    from collections import defaultdict
    bins = defaultdict(list)
    for r in got.values():
        if r["pack_group"] is not None:
            bins[(r["pack_group"], r["bin"])].append(r)
    for (_, _), members in bins.items():
        if any(m["oversize"] for m in members):
            assert len(members) == 1
            continue
        assert sum(m["n_tokens"] for m in members) <= 64
        spans = sorted((m["offset"], m["offset"] + m["n_tokens"])
                       for m in members)
        for (a, b), (c, d) in zip(spans, spans[1:]):
            assert b <= c  # no overlap inside a bin


def test_bfd_kernel_is_best_fit_not_first_fit(spark):
    """The walk places each doc in the TIGHTEST sufficient bin, not
    the first: ctx=10 over sizes [7,5,4,1] leaves remainders [3,1]
    after the 4 lands in bin1, and the 1 must join bin1 (remainder 1,
    the best fit) — first-fit would put it in bin0 (remainder 3)."""
    from delta_data_pipelines_spark.operators.packing import bfd_kernel

    placed = dict(
        (i, (b, o, ov))
        for i, b, o, ov in bfd_kernel(
            [(1, 7), (2, 5), (3, 4), (4, 1)], 10
        )
    )
    assert placed[1] == (0, 0, False)
    assert placed[2] == (1, 0, False)
    assert placed[3] == (1, 5, False)  # bin0 rem 3 < 4 -> bin1
    assert placed[4] == (1, 9, False)  # best fit: rem 1 beats rem 3


def test_best_fit_pack_rejects_duplicate_ids(spark):
    """Placement is keyed by id: two same-id docs in one group would
    silently share one placement (ADVICE r10) — the kernel raises."""
    import pytest as _pytest

    from delta_data_pipelines_spark.operators.packing import best_fit_pack

    df = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 5)], "doc_id long, n_tokens long"
    )
    with _pytest.raises(Exception, match="duplicate"):
        best_fit_pack(df, "doc_id", "n_tokens", ctx=64, n_groups=1).collect()


def test_best_fit_pack_auto_groups_bound_group_size(spark):
    """n_groups=None derives the group count from the corpus size:
    per-group row counts stay bounded (~docs_per_group, md5-uniform)
    as the corpus multiplies — the 100TB posture the fixed default
    lacked (VERDICT r10 #2)."""
    from delta_data_pipelines_spark.operators.packing import best_fit_pack

    for mult in (1, 4):
        n = 400 * mult
        df = spark.range(1, n + 1).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 50 + 5).alias("n_tokens"),
        )
        out = best_fit_pack(
            df, "doc_id", "n_tokens", ctx=64, docs_per_group=100
        )
        sizes = (
            out.groupBy("pack_group").count().collect()
        )
        assert len(sizes) >= n // 100  # group count grew with corpus
        # md5-uniform groups: nothing close to the whole corpus
        assert max(r["count"] for r in sizes) <= 3 * 100


def test_best_fit_pack_matches_local_kernel(spark):
    """The distributed operator equals the pure-Python BFD kernel run
    per md5 group — the Arrow seam adds nothing to the walk."""
    from delta_data_pipelines_spark.operators.packing import (
        best_fit_pack,
        bfd_kernel,
    )
    from delta_data_pipelines_spark.operators.sampling import md5_hash64

    rows = [(i, 5 + (i * 13) % 90) for i in range(1, 60)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    grp = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id",
            F.pmod(md5_hash64(F.col("doc_id")), 4).cast("int").alias("g"),
        ).collect()
    }
    expect = {}
    from collections import defaultdict
    by_g = defaultdict(list)
    for i, n in rows:
        by_g[grp[i]].append((i, n))
    for g, docs in by_g.items():
        for i, b, o, ov in bfd_kernel(docs, 64):
            expect[i] = (g, b, o, ov)
    got = {
        r["doc_id"]: (r["pack_group"], r["bin"], r["offset"], r["oversize"])
        for r in best_fit_pack(df, "doc_id", "n_tokens", ctx=64, n_groups=4).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# Language-aware curation
# ---------------------------------------------------------------------------


def test_lang_gate_routes_thresholds_per_language(spark):
    """A Spanish doc whose quality (English-stopword component ~0)
    fails the en floor must pass under es thresholds; the same text
    force-labelled en must be cut; an unlisted language falls back to
    the default row instead of erroring or passing everything."""
    from delta_data_pipelines_spark.operators import langcurate

    es_text = "el la de que y " * 4 + "casa perro gato sol luna mar rio pan"
    rows = [(1, es_text, "es"), (2, es_text, "en"), (3, es_text, "xx")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kept = {
        r["doc_id"]: r["lang"]
        for r in langcurate.lang_gate(
            df, "doc_id", "text", lang_col="lang"
        ).collect()
    }
    # es floor 0.30 passes, en floor 0.40 cuts, default floor 0.35 cuts
    assert kept == {1: "es"}

    # lang_col=None routes on the heuristic prediction: the marker
    # words predict 'es', so the doc survives without a label
    auto = langcurate.lang_gate(df.select("doc_id", "text"), "doc_id", "text")
    assert {r["doc_id"]: r["lang"] for r in auto.collect()} == {
        1: "es", 2: "es", 3: "es"
    }

    with pytest.raises(ValueError, match="default"):
        langcurate.lang_gate(df, "doc_id", "text", gates={"en": (1, 9, 1, 1, 0)})


def test_lang_id_routes_unsegmented_chinese(spark):
    """Unsegmented Chinese (no ASCII spaces) never matches whole
    whitespace tokens, so the token-filter score is 0 — the substring
    fallback for space-free marker sets must still route it to zh
    (previously it landed on 'und' and the relaxed zh gate row was
    unreachable without an external label). An English doc stays en
    (no CJK chars → zh score 0), and the zh marker chars embedded in
    an ASCII-spaced English sentence don't flip it when English
    markers dominate."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators import textstats

    zh_text = "我是学生的朋友了在北京我的老师是好人了" * 2
    en_text = "the cat sat of the mat and went to a house"
    df = spark.createDataFrame(
        [(1, zh_text), (2, en_text)], "doc_id long, text string"
    )
    preds = {
        r["doc_id"]: r["pred"]
        for r in df.select(
            "doc_id", textstats.lang_id(F.col("text")).alias("pred")
        ).collect()
    }
    assert preds == {1: "zh", 2: "en"}


def test_lang_quality_gate_rejects_routed_clash(spark):
    """lang_quality_gate with lang_col=None must refuse an input that
    already carries a 'lang_routed' column (withColumn would silently
    overwrite an external classifier's labels with the heuristic);
    passing lang_col='lang_routed' routes on the existing column."""
    from delta_data_pipelines_spark.jobs.curate_corpus import (
        lang_quality_gate,
    )

    es_text = "el la de que y " * 4 + "casa perro gato sol luna mar"
    df = spark.createDataFrame(
        [(1, es_text, "es")], "doc_id long, text string, lang_routed string"
    )
    with pytest.raises(ValueError, match="lang_routed"):
        lang_quality_gate(df, "text")
    kept = lang_quality_gate(df, "text", lang_col="lang_routed").collect()
    assert [r["doc_id"] for r in kept] == [1]


def test_lang_lm_scores_isolate_languages(spark):
    """The LM is fit WITHIN each language: a token common in lang A
    and rare in lang B must score differently per language, and a
    language's single document survives the tail cut (cume_dist 1.0,
    where percent_rank's 0.0 would spuriously drop it)."""
    from delta_data_pipelines_spark.operators import langcurate

    rows = [
        (1, "x x x x", "a"),   # 'x' is 100% of lang a
        (2, "x y z w", "b"),   # 'x' is 25% of lang b's 8 tokens
        (3, "p q r s", "b"),
        (4, "solo", "c"),      # single-doc language
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    sc = {
        (r["doc_id"]): r["avg_logprob"]
        for r in langcurate.lang_lm_scores(df, "doc_id", "text", "lang").collect()
    }
    assert sc[1] == 0.0                      # ln(4/4) per token
    assert sc[2] < 0 and sc[3] < 0           # ln(1/8) tokens
    assert sc[4] == 0.0                      # own language: ln(1/1)

    scores = langcurate.lang_lm_scores(df, "doc_id", "text", "lang")
    # tail=0.4 cuts nothing in a 2-doc language (worst cume_dist 0.5)
    # and must not touch the single-doc languages
    kept04 = sorted(
        r["doc_id"]
        for r in langcurate.lang_lm_tail_cut(scores, "doc_id", tail=0.4).collect()
    )
    assert kept04 == [1, 2, 3, 4]
    # tail=0.5: lang b drops its worst — 2 and 3 tie on score, the
    # doc_id tiebreak makes 2 the cume_dist-0.5 row, so 2 is cut;
    # single-doc langs a and c keep theirs (cume_dist 1.0)
    kept05 = sorted(
        r["doc_id"]
        for r in langcurate.lang_lm_tail_cut(scores, "doc_id", tail=0.5).collect()
    )
    assert kept05 == [1, 3, 4]


def test_gopher_repetition_devices(spark):
    """Hand-computed repetition signals, including the overlap case
    the interval union exists for: duplicated occurrences of
    'x y x' at positions 1 and 3 cover [1,5] (5 tokens), never 6."""
    rows = [
        (1, "a b a b a b c"),    # top2 = 3/6; dup-2 covers [1,6] -> 6/7
        (2, "x y x y x z"),      # top3 = 2/4; dup-3 covers [1,5] -> 5/6
        (3, "p q"),              # shorter than n=3: all zeros there
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    s1 = df.select("doc_id", F.split(F.col("text"), " ").alias("_w"))
    w = F.col("_w")
    s2 = s1.select(
        "doc_id",
        F.size(w).alias("L"),
        textstats.top_ngram_ratio_from_words(w, 2).alias("t2"),
        textstats.top_ngram_ratio_from_words(w, 3).alias("t3"),
        textstats.sorted_grams_with_pos(w, 2).alias("s2"),
        textstats.sorted_grams_with_pos(w, 3).alias("s3"),
    )
    s3 = s2.select(
        "doc_id", "L", "t2", "t3",
        textstats.dup_ngram_starts(F.col("s2")).alias("d2"),
        textstats.dup_ngram_starts(F.col("s3")).alias("d3"),
    )
    out = {
        r["doc_id"]: r
        for r in s3.select(
            "doc_id", "t2", "t3", "d2",
            textstats.dup_ngram_coverage(F.col("d2"), 2, F.col("L")).alias("c2"),
            textstats.dup_ngram_coverage(F.col("d3"), 3, F.col("L")).alias("c3"),
        ).collect()
    }
    assert out[1]["t2"] == 3 / 6
    assert out[1]["d2"] == [1, 2, 3, 4, 5]
    assert out[1]["c2"] == 6 / 7
    assert out[2]["t3"] == 2 / 4
    assert out[2]["c3"] == 5 / 6
    assert out[3]["t3"] == 0.0 and out[3]["c3"] == 0.0
    # single 2-gram, no duplicates: top = 1/1, coverage 0
    assert out[3]["t2"] == 1.0 and out[3]["c2"] == 0.0


def test_lang_lm_threshold_cut_scalable_form(spark):
    """The percentile form keeps ties at the floor and single-doc
    languages, and agrees with the exact cume_dist form away from
    interpolation boundaries."""
    from delta_data_pipelines_spark.operators import langcurate

    rows = [
        (1, "a", -5.0), (2, "a", -4.0), (3, "a", -3.0), (4, "a", -2.0),
        (5, "a", -1.0), (6, "a", -1.0), (7, "a", 0.0), (8, "a", 0.5),
        (9, "a", 0.6), (10, "a", 0.7), (11, "a", 0.8),
        (12, "b", -9.0),
    ]
    sc = spark.createDataFrame(rows, "doc_id long, lang string, avg_logprob double")
    kept = sorted(
        r["doc_id"]
        for r in langcurate.lang_lm_threshold_cut(sc, tail=0.1).collect()
    )
    # lang a: floor = percentile(0.1) = -5 + (-4 - -5)= -4.0; -5 cut,
    # the tie AT the floor (-4.0) kept; lang b single doc survives
    assert kept == [2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12]


def test_sentences_round_trip_and_segmentation(spark):
    """sentences_from_words: terminal-punct segmentation with a
    trailing-fragment sentence, and the exact round-trip contract
    (join(sentences, ' ') == original text) including empty tokens
    from double spaces."""
    rows = [
        (1, "a b. c d! e f"),
        (2, 'x. a b. c "q." z'),
        (3, "no terminal at all"),
        (4, "a  b. c"),          # double space -> empty token preserved
        (5, "."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["s"], r["rt"])
        for r in df.select(
            "doc_id",
            textstats.sentences_from_words(
                F.split(F.col("text"), " ")
            ).alias("s"),
            F.array_join(
                textstats.sentences_from_words(F.split(F.col("text"), " ")),
                " ",
            ).alias("rt"),
        ).collect()
    }
    assert out[1][0] == ["a b.", "c d!", "e f"]
    assert out[2][0] == ["x.", "a b.", 'c "q."', "z"]
    assert out[3][0] == ["no terminal at all"]
    assert out[5][0] == ["."]
    for i, (s, rt) in out.items():
        assert rt == rows[i - 1][1], (i, rt)


def test_dedup_sentence_spans_keep_one(spark):
    """C4 span dedup: the minimum-(id, start) occurrence keeps its
    sentences; every other occurrence of the duplicated 3-sentence
    span loses exactly those sentences; docs without duplicated spans
    and NULL rows pass through; a doc that IS one duplicated span
    empties (callers drop it)."""
    shared = "s2 b. s3 c. s4 d."
    rows = [
        (10, f"s1 a. {shared} s5 e."),
        (11, f"t1 x. {shared} t5 y."),
        (12, "u1 q. u2 r."),
        (13, None),
        (14, shared),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["text"], r["n_sentences"], r["n_removed"])
        for r in textstats.dedup_sentence_spans(df, span=3).collect()
    }
    assert out[10] == (f"s1 a. {shared} s5 e.", 5, 0)   # keeper intact
    assert out[11] == ("t1 x. t5 y.", 5, 3)
    assert out[12] == ("u1 q. u2 r.", 2, 0)
    assert out[13] == (None, 0, 0)
    assert out[14] == ("", 3, 3)                        # emptied


def test_gopher_line_signals(spark):
    """Line-granularity Gopher duplicates: repeat-occurrence counting
    (first occurrence free), char fractions with separators excluded,
    and the top-line product rule — over REAL newline lines (the
    txt_gopher_lines query exercises the derived-line device; this
    pins the \\n path the curation gate uses)."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators import textstats

    rows = [
        # 4 lines, "dup line" twice: dup_frac 1/4; chars: dup line
        # 8 chars repeated once -> 8 / (8+8+5+5) = 8/26; top product
        # = 2*8 = 16 -> 16/26
        (1, "dup line\nalpha\ndup line\nbeta!"),
        (2, "a\nb\nc"),            # all unique: zeros
        (3, "x\nx\nx\nx"),          # one line 4x: 3/4, 3/4, 4/4
        (4, None),                  # NULL text -> zero lines, zeros
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ls = F.split(F.col("text"), "\n")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            textstats.dup_line_fraction_from_lines(ls).alias("f"),
            textstats.dup_line_char_fraction_from_lines(ls).alias("cf"),
            textstats.top_line_char_ratio_from_lines(ls).alias("tf"),
        ).collect()
    }
    assert out[1]["f"] == 0.25
    assert abs(out[1]["cf"] - 8 / 26) < 1e-12
    assert abs(out[1]["tf"] - 16 / 26) < 1e-12
    assert out[2]["f"] == out[2]["cf"] == 0.0
    assert abs(out[2]["tf"] - 1 / 3) < 1e-12  # single char line of 3
    assert out[3]["f"] == 0.75 and out[3]["cf"] == 0.75
    assert out[3]["tf"] == 1.0
    assert out[4]["f"] == out[4]["cf"] == out[4]["tf"] == 0.0

    # derived-line unit: ceil grouping, remainder line kept
    df2 = spark.createDataFrame(
        [(1, "a b c"), (2, None)], "doc_id long, text string"
    )
    w = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    der = {
        r["doc_id"]: r["l"]
        for r in df2.select(
            "doc_id", textstats.lines_from_words(w, 2).alias("l")
        ).collect()
    }
    assert der[1] == ["a b", "c"]
    assert der[2] == []


def test_quality_gate_line_caps(spark):
    """quality_gate(dup_line_cap / dup_line_char_cap): Gopher's
    line-duplicate rules drop the repeated-line doc and keep the
    clean one; caps off -> both survive."""
    from delta_data_pipelines_spark.jobs.curate_corpus import quality_gate

    stops = ["the", "of", "and", "to", "a", "in", "is", "it"]
    clean_lines = [
        " ".join(f"{stops[j % 8]} u{i}w{j}" for j in range(10))
        for i in range(3)
    ]
    dup_line = " ".join(f"{stops[j % 8]} dw{j}" for j in range(10))
    rows = [
        (1, "\n".join(clean_lines)),
        (2, "\n".join([dup_line] * 3 + clean_lines[:1])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    relaxed = dict(quality_floor=0.0, dup_token_cap=1.0, top_bigram_cap=1.0)
    base = {r["doc_id"] for r in quality_gate(df, **relaxed).collect()}
    assert base == {1, 2}
    capped = {
        r["doc_id"]
        for r in quality_gate(
            df, dup_line_cap=0.3, dup_line_char_cap=0.2, **relaxed
        ).collect()
    }
    assert capped == {1}

    # separator regression: a normally formatted multi-paragraph doc
    # (unique content, blank-line separators) must NOT trip the line
    # cap — the '' lines between paragraphs are separators, not
    # duplicate lines
    five_paras = "\n\n".join(
        " ".join(f"{stops[j % 8]} p{i}w{j}" for j in range(10))
        for i in range(5)
    )
    df_sep = spark.createDataFrame(
        [(1, five_paras)], "doc_id long, text string"
    )
    kept_sep = {
        r["doc_id"]
        for r in quality_gate(
            df_sep, dup_line_cap=0.3, dup_line_char_cap=0.2, **relaxed
        ).collect()
    }
    assert kept_sep == {1}

    # paragraph granularity: the same lines arranged as DISTINCT
    # single-line paragraphs pass the line caps but repeated
    # paragraphs (blank-line units) trip the paragraph caps
    rows_p = [
        (1, "\n\n".join(clean_lines)),
        (2, "\n\n".join([dup_line + "\n" + clean_lines[0]] * 3)),
    ]
    dfp = spark.createDataFrame(rows_p, "doc_id long, text string")
    pcapped = {
        r["doc_id"]
        for r in quality_gate(
            dfp, dup_paragraph_cap=0.3, dup_paragraph_char_cap=0.2,
            **relaxed,
        ).collect()
    }
    assert pcapped == {1}


def test_logreg_classifier_separates(spark):
    """Two unrolled GD steps on hashed presence features must separate
    an obviously separable corpus: docs built from one vocabulary
    labeled positive, a disjoint vocabulary negative — every training
    doc scores on its own side after step 2, and an unseen doc from
    the positive vocabulary scores positive. NULL text/label rows are
    excluded from training and scoring without error."""
    import hashlib

    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators.textstats import (
        classifier_features,
        logreg_score,
        logreg_train,
    )

    pos_words = ["good", "fine", "clean", "clear", "neat"]
    neg_words = ["spam", "junk", "noise", "trash", "blob"]
    rows = [
        (i, " ".join(pos_words[(i + j) % 5] for j in range(8)), True)
        for i in range(1, 7)
    ] + [
        (10 + i, " ".join(neg_words[(i + j) % 5] for j in range(8)), False)
        for i in range(1, 7)
    ] + [(99, None, True), (98, "good fine", None)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lbl boolean")
    feats = classifier_features(df, n_buckets=32)
    # step 1 is closed form (w = 0, p = 0.5): each bucket's weight is
    # -lr * Σ(0.5 - y) / n_docs over the twelve labelled docs with
    # text. Doc 99 (NULL text) and doc 98 (NULL label) add no bias row,
    # no bucket row and nothing to the doc count.
    def bucket(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 32

    grad = {}
    for _, text, lbl in rows[:12]:
        for b in {bucket(t) for t in text.split(" ")} | {-1}:
            grad[b] = grad.get(b, 0.0) + 0.5 - (1.0 if lbl else 0.0)
    step1 = {
        r["bucket"]: r["weight"]
        for r in logreg_train(feats, "lbl", steps=1, lr=0.5).collect()
    }
    assert step1 == {b: round(-0.5 * g / 12, 6) for b, g in grad.items()}

    wts = logreg_train(feats, "lbl", steps=2, lr=0.5)
    got = {r["doc_id"]: r for r in logreg_score(feats, wts).collect()}
    assert 99 not in got  # NULL text unscoreable
    for i in range(1, 7):
        assert got[i]["pred_pos"] is True, got[i]
        assert got[10 + i]["pred_pos"] is False, got[10 + i]
    # unseen doc from the positive vocabulary
    unseen = spark.createDataFrame(
        [(50, "clean neat good")], "doc_id long, text string"
    )
    out = logreg_score(
        classifier_features(unseen, n_buckets=32), wts
    ).collect()[0]
    assert out["pred_pos"] is True
    # n_features counts distinct buckets + bias
    assert out["n_features"] <= 4


def test_logreg_steps_accumulate(spark):
    """The update is TRUE gradient descent (w2 = w1 - lr*grad(w1)/n),
    not the fixed-point-of-(-lr*grad) recurrence the r12 review
    caught: on a separable corpus each extra step moves the weights
    FURTHER from zero (shrinking residuals shrink the gradient, so a
    recurrence that drops w_prev stagnates instead)."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.operators.textstats import (
        classifier_features,
        logreg_train,
    )

    rows = [
        (i, " ".join(["good"] * 8), True) for i in range(1, 7)
    ] + [(10 + i, " ".join(["spam"] * 8), False) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lbl boolean")
    feats = classifier_features(df, n_buckets=16)

    def bias_magnitude(steps):
        wts = {
            r["bucket"]: r["weight"]
            for r in logreg_train(feats, "lbl", steps=steps).collect()
        }
        # the two vocab buckets carry opposite-sign weights; use the
        # positive one's magnitude
        return max(abs(v) for b, v in wts.items() if b != -1)

    m1, m2, m4 = (bias_magnitude(s) for s in (1, 2, 4))
    assert m2 > m1 * 1.5, (m1, m2)
    assert m4 > m2 * 1.3, (m2, m4)


def test_logreg_rejects_duplicate_doc_ids(spark):
    """The linear classifier counts docs by their bias rows while its
    doc-keyed aggregates merge rows that share an id, so a duplicated
    id would train on neither the raw nor the deduplicated corpus.
    The step-2 score groupBy and the scorer's groupBy raise instead;
    step 1 has no doc-keyed aggregate and trains."""
    from delta_data_pipelines_spark.operators.textstats import (
        classifier_features,
        logreg_score,
        logreg_train,
    )

    rows = [
        (1, "good fine", True),
        (1, "spam junk", False),
        (2, "good clean", True),
        (3, "spam noise", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lbl boolean")
    feats = classifier_features(df, n_buckets=16)
    with pytest.raises(Exception, match="doc ids must be unique"):
        logreg_train(feats, "lbl", steps=2)
    wts = logreg_train(feats, "lbl", steps=1)
    with pytest.raises(Exception, match="doc ids must be unique"):
        logreg_score(feats, wts).collect()


def test_kn_bigram_logprob_hand_computed(spark):
    """Interpolated KN on a tiny hand-computable corpus: every rung of
    the backoff ladder checked against closed-form arithmetic —
    seen pair (discounted + continuation mass), unseen pair under a
    seen context (discount mass only), unseen context (continuation
    distribution), unseen continuation (1/B floor) — plus the
    exclusion rules (single-token and NULL-text docs are absent)."""
    import math

    ref = spark.createDataFrame(
        [(0, "a b a b c"), (2, "b c d")], "doc_id long, text string"
    )
    docs = ref.unionByName(
        spark.createDataFrame(
            [(1, "a b x d"), (3, "solo"), (5, None)],
            "doc_id long, text string",
        )
    )
    out = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in textstats.kn_logprob_scores(
            docs, ref, 2, "doc_id", "text"
        ).collect()
    }
    # model tables from ref: bf {(a,b):2,(b,a):1,(b,c):2,(c,d):1}, B=4
    # ctx: a(c1=2,n1f=1) b(c1=3,n1f=2) c(c1=1,n1f=1); cont: all 1 -> pc=1/4
    def lp(p):
        return round(math.log(p), 9)

    # doc 1 "a b x d": seen pair, unseen pair w/ seen ctx, unseen ctx
    p_ab = (max(2 - 0.75, 0.0) + 0.75 * 1 * 0.25) / 2  # 0.71875
    p_bx = (0.0 + 0.75 * 2 * 0.25) / 3  # unseen continuation floor 1/4
    p_xd = 0.25  # unseen context -> p_cont(d)
    exp1 = (lp(p_ab) + lp(p_bx) + lp(p_xd)) / 3
    n, got = out[1]
    assert n == 3
    assert abs(got - exp1) < 1e-9, (got, exp1)
    # self-scored reference doc: all pairs seen, exact arithmetic
    p_bc = (max(2 - 0.75, 0.0) + 0.75 * 2 * 0.25) / 3
    p_cd = (max(1 - 0.75, 0.0) + 0.75 * 1 * 0.25) / 1
    exp2 = (lp(p_bc) + lp(p_cd)) / 2
    assert abs(out[2][1] - exp2) < 1e-9
    # exclusions: no bigram -> absent
    assert 3 not in out and 5 not in out


def test_kn_trigram_logprob_hand_computed(spark):
    """Trigram KN on a hand-computable corpus: the two-level backoff
    recursion checked rung by rung against closed-form arithmetic —
    seen trigram, unseen trigram under a seen (w1,w2) context, unseen
    (w1,w2) context (falls to the modified-count bigram level), unseen
    w2 context (falls to the continuation distribution), unseen w3
    (the 1/B2 floor) — plus the under-3-token exclusion."""
    import math

    ref = spark.createDataFrame(
        [(0, "a b c a b d"), (2, "b c a")], "doc_id long, text string"
    )
    docs = ref.unionByName(
        spark.createDataFrame(
            [(1, "a b c x"), (3, "z z a b c"), (5, "a b"), (7, None)],
            "doc_id long, text string",
        )
    )
    out = {
        r["doc_id"]: (r["n_trigrams"], r["avg_logprob"])
        for r in textstats.kn_logprob_scores(
            docs, ref, 3, "doc_id", "text"
        ).collect()
    }

    def lp(p):
        return round(math.log(p), 9)

    # model: bf3 {(a,b,c):1,(b,c,a):2,(c,a,b):1,(a,b,d):1}; bn all 1,
    # B2=4, pc=1/4 each; ctx3 (a,b):(2,2) (b,c):(2,1) (c,a):(1,1);
    # ctx2 b:(2,2) c:(1,1) a:(1,1)
    p2_c_b = (max(1 - 0.75, 0.0) + 0.75 * 2 * 0.25) / 2          # 0.3125
    p3_abc = (max(1 - 0.75, 0.0) + 0.75 * 2 * p2_c_b) / 2        # 0.359375
    p2_x_c = (0.0 + 0.75 * 1 * 0.25) / 1                          # floor pc
    p3_bcx = (0.0 + 0.75 * 1 * p2_x_c) / 2
    exp1 = (lp(p3_abc) + lp(p3_bcx)) / 2
    n, got = out[1]
    assert n == 2
    assert abs(got - exp1) < 1e-9, (got, exp1)

    p3_zza = 0.25                                                 # pc(a)
    p2_b_a = (max(1 - 0.75, 0.0) + 0.75 * 1 * 0.25) / 1          # 0.4375
    exp3 = (lp(p3_zza) + lp(p2_b_a) + lp(p3_abc)) / 3
    assert abs(out[3][1] - exp3) < 1e-9, (out[3][1], exp3)

    # self-scored reference doc 2 "b c a": one trigram, all seen
    p2_a_c = (max(1 - 0.75, 0.0) + 0.75 * 1 * 0.25) / 1
    p3_bca = (max(2 - 0.75, 0.0) + 0.75 * 1 * p2_a_c) / 2
    assert abs(out[2][1] - lp(p3_bca)) < 1e-9

    # exclusions: under 3 tokens / NULL text -> absent
    assert 5 not in out and 7 not in out


def test_kn_quadgram_hand_computed(spark):
    """4-gram KN rung checks on a hand-computable corpus: seen
    4-gram, unseen 4-gram under a seen (w1,w2,w3) context, unseen
    top context (falls to the modified trigram level), unseen (w2,w3)
    (falls to the modified bigram level), unseen w3 (continuation
    distribution), unseen w4 (the 1/B3 floor) — plus the
    under-4-token and NULL exclusions."""
    import math

    ref = spark.createDataFrame(
        [(0, "a b c d a b c e")], "doc_id long, text string"
    )
    docs = ref.unionByName(
        spark.createDataFrame(
            [(1, "a b c d x"), (3, "z z z a b c d"), (5, "a b c"),
             (7, None)],
            "doc_id long, text string",
        )
    )
    out = {
        r["doc_id"]: (r["n_quadgrams"], r["avg_logprob"])
        for r in textstats.kn_logprob_scores(
            docs, ref, 4, "doc_id", "text"
        ).collect()
    }

    def lp(p):
        return round(math.log(p), 9)

    D = 0.75
    # ref 4-grams (each once): abcd bcda cdab dabc abce
    # bn3 rows (w2w3w4): bcd cda dab abc bce -> all 1; bn2 (w3w4):
    # cd da ab bc ce -> all 1; B3=5
    # cont n1c4: d,a,b,c,e -> 1 each; ctx2 c3n/n1f2n: c:(2,2)
    # [cd,ce], d:(1,1), a:(1,1), b:(1,1)
    # ctx3 (w2w3): bc:(2,2) [bcd,bce], cd:(1,1), da:(1,1), ab:(1,1)
    # ctx4 (w1w2w3): abc:(2,2) [abcd,abce], bcd:(1,1), cda:(1,1),
    # dab:(1,1)
    pc = 1 / 5
    # doc 1 "a b c d x": quads abcd (seen), bcdx (unseen w4=x)
    p2_d_c = (max(1 - D, 0.0) + D * 2 * pc) / 2
    p3_cd = (max(1 - D, 0.0) + D * 2 * p2_d_c) / 2   # (b,c) ctx, bcd seen
    p4_abcd = (max(1 - D, 0.0) + D * 2 * p3_cd) / 2  # abc ctx
    pc_x = 1 / 5                                      # unseen w4 floor
    p2_x_d = (0.0 + D * 1 * pc_x) / 1                 # ctx d seen, dx unseen
    p3_cdx = (0.0 + D * 1 * p2_x_d) / 1               # (c,d) ctx, cdx unseen
    p4_bcdx = (0.0 + D * 1 * p3_cdx) / 1              # bcd ctx seen
    exp1 = (lp(p4_abcd) + lp(p4_bcdx)) / 2
    assert out[1][0] == 2
    assert abs(out[1][1] - exp1) < 1e-9, (out[1][1], exp1)

    # doc 3 "z z z a b c d": zzza (all ctx unseen -> pc(a)), zzab
    # (top+trigram ctx unseen, (z,a)? -> w3=a seen ctx2: p2 level),
    # zabc (ctx unseen at top, (a,b) seen at trigram level), abcd seen
    p4_zzza = pc                                       # w3=z unseen -> pc(a)
    p2_b_a = (max(1 - D, 0.0) + D * 1 * pc) / 1        # (a,b) in bn2
    p4_zzab = p2_b_a                                   # (z,a) unseen ctx3
    p2_c_b = (max(1 - D, 0.0) + D * 1 * pc) / 1       # (b,c) in bn2
    p3_abc = (max(1 - D, 0.0) + D * 1 * p2_c_b) / 1
    p4_zabc = p3_abc                                   # (z,a,b) unseen ctx4
    exp3 = (lp(p4_zzza) + lp(p4_zzab) + lp(p4_zabc) + lp(p4_abcd)) / 4
    assert out[3][0] == 4
    assert abs(out[3][1] - exp3) < 1e-9, (out[3][1], exp3)

    # exclusions: under 4 tokens / NULL text -> absent
    assert 5 not in out and 7 not in out

    # orders 2-4 only: a 5-gram model is refused, not silently fit
    with pytest.raises(ValueError, match="KN order"):
        textstats.kn_types(ref, 5)
