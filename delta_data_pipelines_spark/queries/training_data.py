"""Oracle-checked queries for the training-data operators (north star).

Dedup / similarity / text-analysis / multimodal over the harness
``documents`` and ``embeddings`` tables. Where the Spark path is
randomized-but-verified (MinHash-LSH), the oracle is the *exact*
computation it approximates — with the default geometry the miss
probability at the 0.8 threshold is < 1e-7, so hash-equality holds.
SimHash and LSH-top-k have no SQL twin (seeded xxhash64) → rows-only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import read_table
from ..operators import (
    dedup,
    langcurate,
    multimodal,
    sampling,
    similarity,
    staging,
    textstats,
)

# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


def dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup, first doc_id wins (hash-partitioned key)."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(d, "text", "doc_id").select("doc_id", "lang", "source")


def dd_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, Jaccard-verified at 0.8."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.minhash_near_dup_pairs(d, "doc_id", "text", threshold=0.8).orderBy(
        "id_a", "id_b"
    )


def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact 3-gram Jaccard pairs ≥ 0.5 within a language."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, "doc_id", "text", "lang", threshold=0.5).orderBy(
        "id_a", "id_b"
    )


def dd_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle-containment pairs ≥ 0.5 — the fragment-
    inside-superset case Jaccard near-dup misses. Prefix-filter set
    join (rarest-first canonical order), exact result."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(d, "doc_id", "text", threshold=0.5).orderBy(
        "id_a", "id_b"
    )


def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 6), TOTAL recall: candidates
    come from 7-way bit-block pigeonhole (max_hamming+1 blocks —
    Manku et al. '07), so no qualifying pair can be missed and the
    DuckDB twin is the pure brute-force all-pairs definition. Token
    bits come from md5 (engine-portable, all-integer), so the oracle
    recomputes identical 64-bit signatures and Hamming distances."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=6).orderBy(
        "id_a", "id_b"
    )


def dd_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ 0.45 (all-pairs exact; the
    harness embeddings carry no planted near-identical vectors, so the
    threshold sits where the corpus actually has pairs)."""
    e = read_table(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_pairs(e, "vec_id", "embedding", threshold=0.45).orderBy(
        "id_a", "id_b"
    )


def dd_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS, not just pairs: connected components over the
    MinHash-verified pair set (min-label propagation, converges in
    diameter rounds — near-dup components are shallow). cluster_id =
    smallest member doc_id; the curation step keeps that member."""
    d = read_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dup_pairs(d, "doc_id", "text", threshold=0.8)
    return dedup.near_dup_clusters(pairs).orderBy("member_id")


def td_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation pipeline in one plan: exact dedup
    → quality filter (≥0.5) → deterministic hash split → per-(split,
    lang) counts + mean quality. Every stage is the scale-safe variant
    (hash-partitioned dedup, pure-function split, exact decimal mean).
    """
    from ..operators.textstats import quality_score

    d = read_table(spark, sf_dir, "documents")
    deduped = dedup.exact_dedup(d, "text", "doc_id")
    scored = deduped.withColumn("quality", quality_score(F.col("text")))
    kept = scored.where(F.col("quality") >= 0.5)
    split = sampling.hash_split(
        kept, "doc_id", {"train": 0.8, "eval": 0.1, "test": 0.1}, method="md5"
    )
    return split.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        # mean from an exact decimal sum → identical float on both engines
        F.round(
            F.sum(F.col("quality").cast("decimal(18,9)")).cast("double")
            / F.count("*"),
            9,
        ).alias("avg_quality"),
    )


def dd_embedding_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, the 100 TB path: block by deterministic IVF
    cell (16 lowest-vec_id centroids, same cells as sim_ivf_topk) so
    the pair join is per-cell instead of all-pairs. Candidate pairs
    split across cells are skipped by construction (recall<1, standard
    IVF trade-off); the oracle mirrors the same blocking, so the check
    is exact."""
    e = read_table(spark, sf_dir, "embeddings")
    cent = e.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"),
        similarity.as_double(F.col("embedding")).alias("cv"),
    )
    vecs = e.select("vec_id", similarity.as_double(F.col("embedding")).alias("_av"))
    cells = similarity.ivf_assign(vecs, cent, "vec_id", "_av").select("vec_id", "cid")
    blocked = e.join(cells, "vec_id")
    return dedup.embedding_near_dup_pairs(
        blocked, "vec_id", "embedding", block_col="cid", threshold=0.45
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def sim_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the probe set vec_id < 10."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return similarity.brute_force_topk(e, q, k=5).orderBy("query_id", "rank")


def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All neighbors with cosine ≥ 0.35 of each probe (radius search) —
    the fixed-similarity companion to top-k."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return similarity.range_search(e, q, threshold=0.35).orderBy(
        "query_id", "neighbor_id"
    )


def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed top-5. Oracle-checked since r8: the planes'
    ±1 components come from md5-byte parity (engine-portable) and the
    projection is a sequential fold both engines evaluate in the same
    operand order, so the DuckDB twin recomputes identical buckets —
    and therefore the identical candidate set — exactly.

    4 planes → 16 cells, sized to the harness corpora (500-5000
    vectors); at real scale raise n_planes to keep cells ~10⁴-10⁵.
    """
    e = read_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return similarity.lsh_topk(e, q, k=5, n_planes=4).orderBy("query_id", "rank")


def sim_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic spherical k-means over the embeddings (8 cells, 2
    Lloyd rounds unrolled into one lazy plan) — the centroid-fitting
    step behind a production IVF index, oracle-checked exactly because
    seeding is data-deterministic and centroid means are decimal-exact."""
    e = read_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_assign(
        e, "vec_id", "embedding", k=8, n_iter=2
    ).orderBy("vec_id")


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: 16 deterministic centroid cells, probe
    the 2 nearest — fully oracle-checkable because centroid choice is
    data-deterministic (lowest 16 vec_ids)."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return similarity.ivf_topk(e, q, k=5, n_cells=16, nprobe=2).orderBy(
        "query_id", "rank"
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def td_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cluster-capped pruning (SemDeDup / DCLM cluster
    balancing): k=8 deterministic spherical k-means cells, keep at
    most 40 members per cell by portable md5 rank — over-dense
    semantic regions are cut to the cap, small cells pass whole.
    Shares sim_kmeans' exact fit; the keep choice is the same md5
    device as td_global_shuffle, so the whole query is oracle-exact."""
    e = read_table(spark, sf_dir, "embeddings")
    return sampling.cluster_balance(
        e, "vec_id", "embedding", k=8, n_iter=2, cap=40, salt="cb8"
    ).orderBy("vec_id")


def txt_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full text profile: lang-id, token counts, ratios, quality,
    fingerprint."""
    d = read_table(spark, sf_dir, "documents")
    return textstats.text_profile(d, "doc_id", "text")


def txt_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: token-repeat
    fraction and most-frequent-bigram fraction. Pure per-row array
    expressions — no explode, no shuffle; the whole profile is one
    narrow projection over the scan."""
    d = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        textstats.token_count_ws(t).alias("n_tokens"),
        textstats.dup_token_ratio(t).alias("dup_token_ratio"),
        textstats.top_bigram_ratio(t).alias("top_bigram_ratio"),
    )


def txt_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Gopher within-document repetition suite (Rae et al.
    2021 §A1.1, whitespace-token analog): top-n-gram occurrence
    fraction for n=2,3,4 and duplicated-n-gram token coverage —
    Gopher runs coverage at n=5..10 on web text; the synthetic fixture
    has no duplicated 5-grams at any sf, so the query exercises the
    SAME device at n=3,4 where the signal is live (the operator takes
    any n). Coverage is the interval UNION of duplicated-gram
    occurrences, so overlaps never double-count a position. Pure
    per-row array folds over ONE scan: no explode, no shuffle, no
    UDF; the gram/sort intermediates are staged in their own selects
    (lambda bodies get no codegen CSE — the passage_segments
    precedent). The five signals are the heaviest pure-expression
    work in the registry (interpreted HOF folds), so the scan is
    _spread() to cluster parallelism — a small parquet is ONE split,
    which would serialize the whole pass onto one core (no-op at
    scale, where the scan already yields thousands of splits)."""
    d = dedup._spread(read_table(spark, sf_dir, "documents"))
    # r14: the five signals' INTEGER counters come from one Arrow
    # batch pass (textstats.gopher_repetition_counts — Counter beats
    # the interpreted HOF gram-build/sort/fold battery ~2× at sf0.1;
    # measured 2.33 → see OPTIMIZATION_r14.md); every ratio below is
    # the SAME Spark expression on the same exact ints as the
    # expression path (int / nullif(int, 0)::double, coalesce 0.0,
    # round 9), so the hash surface is unchanged — a pytest
    # cross-checks the two implementations on the harness corpus
    c = textstats.gopher_repetition_counts(d, "doc_id", "text")

    def _ratio(top, den):
        return F.coalesce(
            F.col(top) / F.nullif(den, F.lit(0)).cast("double"), F.lit(0.0)
        )

    return c.select(
        "doc_id",
        "n_tokens",
        F.round(_ratio("t2", F.col("g2")), 9).alias("top_2gram_ratio"),
        F.round(_ratio("t3", F.col("g3")), 9).alias("top_3gram_ratio"),
        F.round(_ratio("t4", F.col("g4")), 9).alias("top_4gram_ratio"),
        F.round(_ratio("cov3", F.col("n_tokens")), 9).alias(
            "dup_3gram_coverage"
        ),
        F.round(_ratio("cov4", F.col("n_tokens")), 9).alias(
            "dup_4gram_coverage"
        ),
    ).orderBy("doc_id")


def txt_gopher_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher LINE-granularity repetition signals (Rae et al. 2021
    §A1.1 runs the duplicate family at line/paragraph AND n-gram
    level; the n-gram half is ``txt_gopher_repetition``):
    duplicated-line fraction, duplicated-line CHARACTER fraction
    (repeat occurrences only, the published counting rule), and the
    top-line char ratio (heaviest repeated line's char share). The
    fixture corpus carries no line breaks, so lines are DERIVED as
    non-overlapping 2-token groups (the deterministic-derivation
    device of ``td_dedup_sentence_spans``; k=2 is where the fixture's
    signal is live — 181/500 sf0.01 docs repeat a 2-token line); real
    crawl text passes ``split(text, '\\n')`` into the same
    ``*_from_lines`` operators. Map-only per-row folds over ONE
    _spread() scan: no explode, no shuffle, no UDF — char totals ride
    one array_join length, the top line one sorted-run fold.

    Measured negative (r14 optimization round): an Arrow-batched
    integer-counter twin (the gopher_repetition_counts device) ran
    ~11% SLOWER back-to-back at sf0.1 (1.15 → 1.28 s) — these line
    signals are one distinct + one fold over ~n/2 lines, too cheap
    to buy back the JVM→Python text transfer, unlike the n-gram
    suite's three sorts + five folds. Expression path stays."""
    d = dedup._spread(read_table(spark, sf_dir, "documents"))
    s1 = d.select(
        "doc_id",
        F.filter(F.split(F.col("text"), " "), lambda x: x != "").alias("_w"),
    )
    s2 = s1.select(
        "doc_id", textstats.lines_from_words(F.col("_w"), 2).alias("_l")
    )
    ln = F.col("_l")
    return s2.select(
        "doc_id",
        F.size(ln).cast("bigint").alias("n_lines"),
        F.round(textstats.dup_line_fraction_from_lines(ln), 9).alias(
            "dup_line_frac"
        ),
        F.round(textstats.dup_line_char_fraction_from_lines(ln), 9).alias(
            "dup_line_char_frac"
        ),
        F.round(textstats.top_line_char_ratio_from_lines(ln), 9).alias(
            "top_line_char_ratio"
        ),
    ).orderBy("doc_id")


def td_dedup_sentence_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's three-sentence-span deduplication (keep-one, sliding —
    the published rewrite the tiling and ExactSubstr variants bracket)
    over a deterministically sentencized fixture: the corpus has no
    punctuation at any sf, so the query first appends '.' to every
    7th token (the mm_*-style derive-from-text device, identical
    expression in both engines) and then runs the REAL operator —
    the fixture's shared phrases yield 100+ genuinely duplicated
    grid-aligned spans, so keeper election, sentence deletion, and
    rebuild are all exercised."""
    # _spread: the punctuation derive and the operator's sentencize
    # fold are per-row expression work off a one-split parquet
    d = dedup._spread(read_table(spark, sf_dir, "documents"))
    # stage the split: the index lambda below would otherwise
    # re-evaluate split() once per position (the no-CSE-in-lambdas rule)
    staged = d.select("doc_id", F.split(F.col("text"), " ").alias("_w"))
    w = F.col("_w")
    punctuated = staged.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.size(w)),
                lambda p: F.when(
                    p % 7 == 0, F.concat(F.element_at(w, p), F.lit("."))
                ).otherwise(F.element_at(w, p)),
            ),
            " ",
        ).alias("text"),
    )
    return textstats.dedup_sentence_spans(
        punctuated, "doc_id", "text", span=3
    ).orderBy("doc_id")


def td_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pre-training quality gate (the Gopher-rules shape):
    length window + token-repetition cap + top-bigram cap + composite
    quality floor, applied on UNROUNDED signals (both engines compute
    the same int-ratio doubles, so thresholds can't flip rows).
    Returns the kept docs with their rounded signals.

    The integer counters come from one Arrow batch pass
    (textstats.gopher_gate_counts — the gopher_repetition_counts
    pattern: only ints cross the Python boundary back) and every
    ratio below is the SAME Spark float expression the pure-
    expression helpers compute on those ints, so the output is
    bit-identical to the old all-native form (verified row-for-row
    at sf0.1; 1.96 → 1.37 s with the _spread the per-row pass also
    gained, r14 optimization round)."""
    d = dedup._spread(read_table(spark, sf_dir, "documents"))
    c = textstats.gopher_gate_counts(
        d, "doc_id", "text", keep_cols=("source",)
    )
    nt0 = F.nullif(F.col("n_tokens"), F.lit(0)).cast("double")
    dup = (F.col("n_tokens") - F.col("n_distinct")) / nt0
    topbg = F.coalesce(
        F.col("top_bg") / F.nullif(F.col("n_bg"), F.lit(0)).cast("double"),
        F.lit(0.0),
    )
    sw_ratio = F.col("sw_hits") / nt0
    punct = (F.col("text_len") - F.col("kept_chars")) / F.nullif(
        F.col("text_len"), F.lit(0)
    ).cast("double")
    quality = F.round(
        0.4 * sw_ratio
        + 0.4 * F.least(F.col("n_tokens") / F.lit(64.0), F.lit(1.0))
        + 0.2 * (1 - punct),
        9,
    )
    sig = c.select(
        "doc_id",
        "source",
        "n_tokens",
        dup.alias("_dup"),
        topbg.alias("_topbg"),
        quality.alias("quality"),
    )
    return (
        sig.where(
            F.col("n_tokens").between(10, 10000)
            & (F.col("_dup") <= 0.55)
            # 0.2 keeps the cap satisfiable for short docs: ratio >=
            # 1/(n_tokens-1), so 0.05 would reject every 10-20-token doc
            & (F.col("_topbg") <= 0.2)
            & (F.col("quality") >= 0.4)
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.round("_dup", 9).alias("dup_token_ratio"),
            F.round("_topbg", 9).alias("top_bigram_ratio"),
            "quality",
        )
        .orderBy("doc_id")
    )


def td_lang_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-aware quality gate (the CCNet/FineWeb-2 shape): every
    document is routed by the heuristic lang-id prediction and gated
    by ITS language's thresholds — a stopword floor tuned for English
    must not reject Spanish, and zh gets a relaxed whitespace-token
    window. One narrow signal projection + one broadcast join against
    the O(languages) threshold table + one WHERE; map-only at any
    scale. The scan is _spread(): the signal folds are interpreted
    per-row work and a small parquet is one split (no-op at scale)."""
    d = dedup._spread(read_table(spark, sf_dir, "documents"))
    return langcurate.lang_gate(
        d, "doc_id", "text", keep_cols=("source",)
    ).orderBy("doc_id")


def td_lang_keep_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language curation funnel report: documents routed by
    predicted language → per-language quality gate → per-language
    unigram-LM tail cut (drop each language's worst decile by mean
    log-prob — the CCNet tail bucket). Reports, per language, the doc
    counts and keep rates at each stage — the audit a 100 TB run reads
    before trusting per-language thresholds. Scale shape: the gate is
    map-only + broadcast; the LM is one (lang, token) partial-agg
    shuffle and one per-language window over doc-level rows. The
    signal pass (lang-id + the four gate signals — the expensive
    per-row folds) runs ONCE: ``flag_col`` keeps every row with a
    boolean verdict and the frame is staged once (eager
    localCheckpoint — the
    td_source_drift multi-consumer discipline), so the totals, the
    kept set, and both LM passes all read the staged rows instead of
    re-deriving the signals per consumer; the scan is _spread() so the
    signal folds parallelize off a one-split parquet (no-op at
    scale).

    Boundary caveat: this audit's tail cut is the EXACT rank-fraction
    form (``lang_lm_tail_cut``: strict ``rn/n > tail``, boundary ties
    dropped), while the curation job's corpus-scale path
    (``curate_corpus(lang_aware=True, lm_drop_fraction=...)`` →
    ``lang_lm_threshold_cut``) keeps rows ``>=`` a quantized
    percentile floor, ties kept — so ``final_keep_rate`` can differ
    from the production run by the documents sitting exactly on a
    language's decile boundary. Read the funnel as the exact-rank
    audit, not a replay of the job."""

    d = dedup._spread(read_table(spark, sf_dir, "documents"))
    flagged = langcurate.lang_gate(
        d, "doc_id", "text", keep_cols=("text",), flag_col="_keep"
    ).transform(staging.stage, "staged")
    # the total and gate-kept counts are ONE aggregate over the staged
    # frame (r15): the old two-pass form (groupBy per stage + a
    # broadcast join to recombine) read `flagged` twice and paid a
    # join for numbers one count_if carries — identical values, since
    # count_if(_keep) per lang IS the kept-set count and a lang with
    # zero kept rows yields 0 exactly where the old left-join coalesce
    # did.
    counts = flagged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("_keep")).alias("n_gate_kept"),
    )
    kept = flagged.where(F.col("_keep")).select("doc_id", "lang", "text")
    scores = langcurate.lang_lm_scores(kept, "doc_id", "text", "lang")
    final = langcurate.lang_lm_tail_cut(scores, "doc_id", tail=0.1)
    fin_counts = final.groupBy("lang").agg(F.count("*").alias("n_final"))
    # the count frames are O(languages) rows at any corpus size:
    # broadcast the joined side so the funnel report never
    # sort-merge-shuffles its per-language aggregates
    return (
        counts.join(F.broadcast(fin_counts), "lang", "left")
        .select(
            "lang",
            "n_docs",
            "n_gate_kept",
            F.coalesce("n_final", F.lit(0)).alias("n_final"),
            F.round(
                F.col("n_gate_kept") / F.col("n_docs"), 9
            ).alias("gate_keep_rate"),
            F.round(
                F.coalesce("n_final", F.lit(0)) / F.col("n_docs"), 9
            ).alias("final_keep_rate"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


def mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload metadata (length + sha256) — expression path."""
    d = read_table(spark, sf_dir, "documents")
    with_bin = multimodal.attach_fake_binary(d, "text")
    return with_bin.select(
        "doc_id",
        multimodal.payload_meta(F.col("payload"), F.col("modality")).alias("meta"),
    ).select(
        "doc_id",
        F.col("meta.modality").alias("modality"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.sha256").alias("sha256"),
    )


def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode-stub feature extraction (mapInPandas)."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    with_bin = multimodal.attach_fake_binary(d, "text")
    return multimodal.extract_features(with_bin.select("doc_id", "modality", "payload")).select(
        "doc_id", "n_bytes", "feat_a", "feat_b"
    )


def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stub-codec image resize geometry via mapInPandas (fit-inside
    224x224, aspect preserved). The fake decode derives square source
    dims from the payload byte length, so the oracle can recompute the
    whole geometry in SQL."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    with_bin = multimodal.attach_fake_binary(d, "text")
    return multimodal.resize_images(
        with_bin.select("doc_id", "payload"), target_h=224, target_w=224
    )


def mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stub-codec video frame sampling: every 4th frame, exploded
    executor-side (one row per kept frame)."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    with_bin = multimodal.attach_fake_binary(d, "text", modality="video")
    return multimodal.sample_frames(with_bin.select("doc_id", "payload"), every=4)


def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs over the binary payload column — the
    LAION-style image-dedup shape (multimodal.phash_near_dup_pairs):
    Arrow-batched dHash fingerprints (real difference-hash kernel;
    "pixels" come from the codec seam — the deterministic byte-pool
    stub here, a real decoder's 8×9 pooled grayscale in production),
    then the SimHash family's chunk-pigeonhole Hamming join. Every
    comparison is exact integer arithmetic (cross-multiplied slice
    sums), so the oracle recomputes identical fingerprints from the
    payload's character codes (the fake payload is the UTF-8 bytes of
    ASCII text) and verifies pairs by brute-force XOR popcount.

    Candidate-set contract (both engines, by design): pairs sharing
    ≥1 exact 16-bit chunk, exact Hamming ≤ 20. At radius 20 the
    shared chunk is a blocking heuristic, not a pigeonhole guarantee
    (that holds only ≤ chunks−1 = 3) — see
    multimodal.phash_near_dup_pairs for why a guaranteed 21-block
    split degenerates; the oracle applies the identical restriction
    so the contract is checked, not approximated."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    with_bin = multimodal.attach_fake_binary(d, "text")
    # threshold 20: byte-pooled stub "pixels" are far noisier than a
    # real 8×9 grayscale (every token shift perturbs most cells), so
    # near-dup docs land at hamming ~13-20 where real image near-dups
    # sit under ~6; the candidate/verify machinery is identical
    return (
        multimodal.phash_near_dup_pairs(
            with_bin.select("doc_id", "payload"), "doc_id", max_hamming=20
        )
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


def txt_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM-block main-content extraction (jusText/trafilatura family —
    the published curation stage between raw WARC captures and the
    Gopher gate): pages are segmented into blocks by the Arrow-batched
    stdlib tokenizer, then three NATIVE rules classify each block —
    site-template repetition (md5-of-block df per source ≥ 0.5, one
    (source, hash) shuffle, the txt_boilerplate shape), link density
    > 0.4, and the jusText length/neighbor-rescue pass (lag/lead
    window per page). Pages come from the deterministic builder
    (ingest.maincontent.attach_fake_html — the attach_fake_binary
    pattern): nav and share widgets are link-only, the footer is a
    per-source template, paragraphs carry the document's words 12 per
    block; the oracle re-derives the expected block table from the
    TEXT alone and replays the identical rules, so a parser
    mis-segmentation or rule drift breaks the hash match."""
    from ..ingest import maincontent

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    fake = maincontent.attach_fake_html(d, "text", "source")
    return (
        maincontent.main_content(
            fake, "doc_id", "_html", source_col="source"
        )
        .select("doc_id", "n_blocks", "n_kept", "main_text")
        .orderBy("doc_id")
    )


def txt_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2 — the published
    stage between extraction and dedup in the C4/T5 pipeline): keep
    lines ending in terminal punctuation with ≥5 words, drop
    *javascript* lines, then drop documents with <3 retained lines,
    *lorem ipsum*, or a curly bracket. Pages come from a deterministic
    line renderer (words wrapped 8 per line; terminal punctuation by
    ``(doc_id + i) % 4`` so ~¼ of lines fail the punctuation rule; a
    javascript notice on ``doc_id % 11``, placeholder text on ``% 13``,
    leaked code on ``% 17``) so the oracle re-derives every rule's
    outcome from the word arithmetic alone — a filter-semantics drift
    in :func:`operators.textstats.c4_clean` breaks the hash. The whole
    pass is one map-only native projection: no shuffle, no UDF, no
    explode."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    staged = d.withColumn(
        # staged outside the line lambda (HOF bodies get no CSE)
        "_ws",
        F.expr("filter(split(text, ' '), w -> w != '')"),
    )
    page = (
        "array_join(concat("
        "  IF(size(_ws) = 0, array(),"
        "     transform(sequence(0, int(ceil(size(_ws) / 8.0)) - 1),"
        "       i -> concat(array_join(slice(_ws, i * 8 + 1, 8), ' '),"
        "            element_at(array('', '.', '!', '?'),"
        "                       int(pmod(doc_id + i, 4)) + 1)))),"
        "  IF(doc_id % 11 = 0,"
        "     array('please enable javascript to view this page.'),"
        "     array()),"
        "  IF(doc_id % 13 = 0,"
        "     array('lorem ipsum dolor sit amet.'), array()),"
        "  IF(doc_id % 17 = 0,"
        "     array('try { render(); } catch (e) {}'), array())"
        "), '\\n')"
    )
    fake = staged.withColumn("_page", F.expr(page)).drop("_ws")
    return (
        textstats.c4_clean(fake, "doc_id", "_page")
        .select("doc_id", "n_lines", "n_kept", "clean_text")
        .orderBy("doc_id")
    )


def txt_topk_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 docs per source by quality score (corpus balancing /
    per-domain caps — the standard pre-training selection shape).
    One shuffle on source; rank window inside each group."""
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "source", textstats.quality_score(F.col("text")).alias("quality")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("source", "doc_id", "quality", "rnk")
    )


def txt_enum_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21 scale path: language code → name via a broadcast-joined
    mapping table, unmapped codes pass through."""
    from ..operators.enums import enum_lookup, mapping_table

    d = read_table(spark, sf_dir, "documents")
    m = mapping_table(
        spark,
        {"en": "english", "es": "spanish", "de": "german", "fr": "french"},
    )
    return enum_lookup(
        d.select("doc_id", "lang"), "lang", m, out_col="lang_name", keep_unmapped=True
    )


def txt_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length distribution (exact percentiles): the corpus
    diagnostics pass run before choosing length filters. Exact
    percentile needs a per-group sort — fine for diagnostics; switch to
    approx_percentile at 100 TB (single pass, no sort)."""
    d = read_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.round(F.expr("percentile(n_chars, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90"),
        F.count("*").alias("n"),
    )


def ds_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/eval/test split by key hash (portable md5
    bucketing so the assignment is reproducible in ANY engine — the
    oracle recomputes the identical buckets). Row-stable: membership is
    a pure function of doc_id, immune to repartitioning and reruns,
    unlike randomSplit."""
    d = read_table(spark, sf_dir, "documents")
    out = sampling.hash_split(
        d, "doc_id", {"train": 0.8, "eval": 0.1, "test": 0.1}, method="md5"
    )
    return out.groupBy("split", "lang").agg(F.count("*").alias("n"))


def txt_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top-50 tokens by term frequency
    with document frequency — the explode→groupBy shape (map-side
    partial aggregation collapses each partition's token stream before
    the shuffle, so the exchange carries one row per (partition,
    distinct token), not per occurrence)."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )


def txt_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most characteristic term per document by tf-idf — the classic
    double aggregation (term counts per doc, document frequency per
    term) joined back and ranked per doc. ln() runs on the same
    integer inputs in both engines, so the rounded score is
    engine-identical; ties break on the token for determinism.

    n_docs is a 1-row aggregate broadcast-cross-joined into the plan
    (the tpch_q15 pattern) — NOT a driver-side d.count(), which would
    be a second full corpus scan per invocation."""
    d = read_table(spark, sf_dir, "documents")
    n_docs = d.agg(F.count("*").alias("_n_docs"))
    terms = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tf = terms.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = terms.groupBy("token").agg(
        F.countDistinct("doc_id").alias("doc_freq")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("_score").desc(), F.col("token")
    )
    return (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "_score",
            F.col("tf")
            * F.log((F.col("_n_docs") + 1.0) / (F.col("doc_freq") + 1.0)),
        )
        .drop("_n_docs")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "doc_id",
            "token",
            "tf",
            "doc_freq",
            F.round("_score", 9).alias("tfidf"),
        )
        .orderBy("doc_id")
    )


_BM25_TERMS = ("table", "query", "fast")
_BM25_K1 = 1.2
_BM25_B = 0.75


def txt_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed query — the relevance scorer
    behind query-based corpus filtering (keep docs similar to a seed
    set). Exact-checkable: idf/tf/length-norm math is written with the
    same operation order in both engines, per-term scores are rounded
    then summed as decimals (order-exact), and the corpus stats (N,
    avg doc length) ride in as a broadcast 1-row aggregate, not a
    driver-side count."""
    d = read_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", textstats.token_count_ws(F.col("text")).alias("dl")
    )
    stats = sized.agg(
        F.count("*").alias("_n"),
        (
            F.sum(F.col("dl").cast("decimal(20,6)")).cast("double")
            / F.count("*")
        ).alias("_avgdl"),
    )
    terms = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).where(F.col("token").isin(*_BM25_TERMS))
    tf = terms.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = terms.groupBy("token").agg(
        F.countDistinct("doc_id").alias("doc_freq")
    )
    k1, b = _BM25_K1, _BM25_B
    scored = (
        tf.join(F.broadcast(df_), "token")
        .join(sized, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                (F.col("_n") - F.col("doc_freq") + 0.5)
                / (F.col("doc_freq") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "_s",
            F.round(
                F.col("_idf")
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("_avgdl"))
                ),
                9,
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum(F.col("_s").cast("decimal(20,9)")).cast("double").alias("bm25"),
        F.count("*").alias("n_terms_hit"),
    )
    # top-k via sort+limit (TakeOrderedAndProject — parallel partial
    # top-k per partition), NOT a global row_number window, which would
    # funnel every matching doc through one partition; the rank window
    # then runs over the 20 surviving rows only
    top = per_doc.orderBy(F.col("bm25").desc(), F.col("doc_id")).limit(20)
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "bm25", "n_terms_hit"
    )


def td_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit — the decontamination pass every
    LLM data pipeline runs before trusting an eval split: deterministic
    md5 split (same buckets as ds_hash_split), MinHash-LSH near-dup
    pairs over the whole corpus, then pairs that straddle the
    train/test boundary. Output: each contaminated test doc with its
    train-side near-duplicate and the exact Jaccard. Scale posture:
    the LSH pair set is the only heavy stage (banded, bucket-capped);
    the split-label joins are by doc_id on the tiny pair set."""
    d = read_table(spark, sf_dir, "documents")
    splits = sampling.hash_split(
        d, "doc_id", {"train": 0.8, "eval": 0.1, "test": 0.1}, method="md5"
    ).select("doc_id", "split")
    pairs = dedup.minhash_near_dup_pairs(d, "doc_id", "text", threshold=0.8)
    sa = splits.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(
            ((F.col("split_a") == "train") & (F.col("split_b") == "test"))
            | ((F.col("split_a") == "test") & (F.col("split_b") == "train"))
        )
        .select(
            F.when(F.col("split_a") == "test", F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("test_doc_id"),
            F.when(F.col("split_a") == "train", F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("train_doc_id"),
            "jaccard_sim",
        )
        .orderBy("test_doc_id", "train_doc_id")
    )


def ds_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing / source reweighting: per-source deterministic
    sampling rates (up-weight src0, down-weight the long tail) with
    md5-stable membership — the rates ride in as a broadcast mapping
    table, so thousands of sources stay one tiny broadcast join."""
    d = read_table(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        d,
        "doc_id",
        "source",
        {"src0": 0.5, "src1": 0.25, "src2": 0.25},
        default_rate=0.1,
        method="md5",
    ).select("doc_id", "lang", "source")


def txt_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of the heuristic
    lang_id prediction against the gold ``lang`` label, with per-cell
    share of the gold language — the audit run before trusting a
    cheap classifier to route a 100 TB corpus. One narrow projection
    + one grouped count; the per-gold totals ride on a window over
    the tiny aggregate, not the corpus."""
    d = read_table(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("gold"),
        textstats.lang_id(F.col("text")).alias("pred"),
    )
    cells = pred.groupBy("gold", "pred").agg(F.count("*").alias("n"))
    w = Window.partitionBy("gold")
    return (
        cells.withColumn(
            "share", F.round(F.col("n") / F.sum("n").over(w), 9)
        )
        .orderBy("gold", "pred")
    )


def sim_semantic_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup audit: embedding near-dup pairs (≥0.45
    cosine) joined back to document metadata — do semantic duplicates
    straddle languages/sources? The pair build here is the EXACT
    all-pairs form so the audit (and its oracle) sees every pair; at
    100 TB swap in the cell-blocked builder (``dd_embedding_blocked``'s
    ``block_col`` path) and accept its recall<1 trade-off. The metadata
    joins are by id on the tiny pair set."""
    e = read_table(spark, sf_dir, "embeddings")
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    pairs = dedup.embedding_near_dup_pairs(
        e, "vec_id", "embedding", threshold=0.45
    )
    da = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("source_a"),
    )
    db = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
    )
    return (
        pairs.join(da, "id_a")
        .join(db, "id_b")
        .groupBy("lang_a", "lang_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                F.when(F.col("source_a") == F.col("source_b"), 1).otherwise(0)
            ).alias("n_same_source"),
            # round 6, not 9: small-group double AVG order can differ
            F.round(F.avg("cosine_sim"), 6).alias("avg_cosine"),
        )
        .orderBy("lang_a", "lang_b")
    )


def td_length_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-balanced subsampling: bin documents into 10 token-length
    buckets (value-range bins over the corpus min/max, same explicit
    bin math as a_histogram) and keep the top-20 by quality within
    each — the counter to a corpus whose quality filter would
    otherwise skew the length distribution. One narrow pass + one
    rank window per bin; the bounds ride in broadcast."""
    d = read_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        textstats.token_count_ws(F.col("text")).alias("n_tokens"),
        textstats.quality_score(F.col("text")).alias("quality"),
    )
    bounds = sized.agg(
        F.min("n_tokens").alias("_lo"), F.max("n_tokens").alias("_hi")
    )
    binned = sized.crossJoin(F.broadcast(bounds)).withColumn(
        "len_bin",
        F.when(
            F.col("_hi") > F.col("_lo"),
            F.least(
                F.floor(
                    (F.col("n_tokens") - F.col("_lo"))
                    * 10
                    / (F.col("_hi") - F.col("_lo"))
                )
                + 1,
                F.lit(10),
            ),
        ).otherwise(F.lit(1).cast("bigint")),
    )
    w = Window.partitionBy("len_bin").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        binned.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 20)
        .select("len_bin", "rnk", "doc_id", "n_tokens", "quality")
        .orderBy("len_bin", "rnk")
    )


def ds_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language mixing — the multilingual-corpus
    resampling trick (sampling ∝ n^τ, τ<1 flattens the distribution so
    head languages stop drowning the tail): per-language keep-rate
    0.3·(n_max/n_lang)^0.5 capped at 1, md5-stable membership.

    Unlike ds_stratified_sample the rates are DERIVED FROM THE DATA in
    the same plan (per-language counts → broadcast back), so the mix
    self-adjusts as the corpus grows; pow/round float math is engine-
    identical, membership is the portable md5 bucket. Output: the
    per-language keep accounting (rate, before, after)."""
    d = read_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_lang"))
    mx = counts.agg(F.max("n_lang").alias("_n_max"))
    rates = counts.crossJoin(F.broadcast(mx)).select(
        "lang",
        "n_lang",
        F.round(
            F.least(
                F.lit(1.0),
                # sqrt, not pow(x, 0.5): IEEE sqrt is correctly rounded
                # in both engines; libm pow may differ in the last ulp
                F.lit(0.3)
                * F.sqrt(F.col("_n_max") / F.col("n_lang")),
            ),
            9,
        ).alias("rate"),
    )
    kept = d.join(F.broadcast(rates), "lang").where(
        sampling.split_bucket("doc_id", "md5") < F.col("rate")
    )
    return (
        kept.groupBy("lang", "n_lang", "rate")
        .agg(F.count("*").alias("n_kept"))
        .orderBy("lang")
    )


def txt_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + audit counts — the scrub stage every published
    training corpus runs (emails / IPv4s / phone numbers → typed
    placeholder tokens). Counts mirror the scrub ORDER (each category
    counted with earlier categories already replaced), so they audit
    what was actually redacted. One codegen'd projection of native
    regexp_replace/regexp_count calls, no UDF; regex syntax restricted
    to the subset Java and RE2 read identically so the oracle mirrors
    the scrub byte-for-byte."""
    d = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    counts = textstats.pii_counts(t)
    return d.select(
        "doc_id",
        textstats.scrub_pii(t).alias("clean_text"),
        counts["email"].cast("long").alias("n_emails"),
        counts["ipv4"].cast("long").alias("n_ipv4"),
        counts["phone"].cast("long").alias("n_phones"),
    )


def td_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing — the step that turns a
    curated corpus into fixed-width training windows: documents are
    concatenated in stable doc_id order and the token stream is cut
    every 512 tokens; each doc reports its global token offset and the
    chunk span it lands in.

    The global running offset is NOT a single-partition window —
    ``ranking.global_cumsum_by_range`` range-partitions on doc_id,
    cumsums locally in parallel, and adds per-partition predecessor
    totals (the only unpartitioned window runs over ≤32 partition
    rows). Verified shuffle-shape in tests/test_plans.py."""
    return _pack_core(spark, sf_dir).withColumn(
        "n_chunks", F.col("chunk_end") - F.col("chunk_start") + 1
    ).orderBy("doc_id")


def td_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit sequence packing (Ding et al. 2024 — "Fewer
    Truncations Improve Language Modeling"): documents fill fixed-
    width context bins WITHOUT splitting, the alternative to
    td_pack_sequences' concat-and-chunk (which slices ~a document per
    boundary). Best-fit-decreasing (the paper's rule: smallest
    sufficient remainder, ties to the lowest bin) runs independently
    inside deterministic md5 groups of bounded size (the paper's
    per-shard packing with a portable shard assignment), so thousands
    of groups pack in parallel and the DuckDB oracle replays the
    exact walk with a recursive CTE — the bin ASSIGNMENT hash-checks,
    not just its stats. ctx=128 ≈ 4 docs/bin on this corpus; oversize
    docs flag rather than truncate. n_groups is pinned (16) here so
    the assignment is corpus-size-independent for the hash check; the
    operator default derives it from the corpus size instead."""
    from ..operators.packing import best_fit_pack

    d = read_table(spark, sf_dir, "documents")
    n = F.size(F.expr("filter(split(text, ' '), w -> w != '')"))
    src = d.select("doc_id", n.alias("n_tokens"))
    return best_fit_pack(
        src, "doc_id", "n_tokens", ctx=128, n_groups=16
    ).orderBy("doc_id")


def _pack_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsorted packing core shared by td_pack_sequences (which adds
    the presentation sort) and td_chunk_manifest (which re-partitions
    by chunk — a sort here would be a wasted global exchange)."""
    from ..operators.ranking import chunk_span, global_cumsum_by_range

    ctx = 512
    d = read_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", textstats.token_count_ws(F.col("text")).alias("n_tokens")
    )
    cum = global_cumsum_by_range(sized, "doc_id", "n_tokens")
    span = chunk_span("cum_before", "n_tokens", ctx)
    return cum.select(
        "doc_id",
        "n_tokens",
        span["start_offset"].alias("start_offset"),
        span["chunk_start"].alias("chunk_start"),
        span["chunk_end"].alias("chunk_end"),
    )


def td_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing inverse: one row per (chunk, doc) pair — the
    manifest a training loader consumes (which docs feed chunk N and
    at what offsets). Built by exploding each doc's chunk span from
    the unsorted packing core (td_pack_sequences' presentation sort
    would be a wasted global exchange here — the manifest immediately
    re-partitions on chunk_id); per-chunk doc counts ride along so
    boundary chunks (2 docs) are visible."""
    packed = _pack_core(spark, sf_dir)
    w = Window.partitionBy("chunk_id")
    return (
        packed.select(
            "doc_id",
            "start_offset",
            F.explode(
                F.sequence(F.col("chunk_start"), F.col("chunk_end"))
            ).alias("chunk_id"),
        )
        .withColumn("n_docs_in_chunk", F.count("*").over(w))
        .orderBy("chunk_id", "doc_id")
    )


def sk_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-token cardinality via a KMV sketch, next
    to the exact count — the portable-hash sketch whose estimate an
    oracle can recompute bit-for-bit (md5 is engine-independent),
    unlike HLL/approx_count_distinct. The mergeable bottom-k form
    (operators.sketches.kmv_sketch) is cross-checked in tests."""
    from ..operators import sketches

    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    return sketches.kmv_distinct(toks, ["lang"], "token", k=64).orderBy("lang")


def sk_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-language token-count quantiles (P50/P95/P99) through
    the range-partitioned grouped rank — the exact complement of the
    mergeable binned sketch (sk_binned_quantiles): where the sketch
    trades one bin of error for mergeability, this pays one ranked
    shuffle for the true order statistic, and no group ever occupies
    a single task (ranking.grouped_rank_by_range — the quantile is
    just ``rank == ceil(p·n)`` on a composite unique key). The usual
    split: sketches for dashboards, exact ranks for the cut points a
    curation config hard-codes."""
    from ..operators import ranking

    d = read_table(spark, sf_dir, "documents")
    sized = d.select(
        "lang",
        "doc_id",
        textstats.token_count_ws(F.col("text")).alias("n_tokens"),
    ).withColumn(
        # unique composite order key (token count then doc id) packed
        # into one orderable bigint: ranks are ties-free so each
        # target rank names exactly one row
        "_okey",
        F.col("n_tokens").cast("bigint") * F.lit(2**33) + F.col("doc_id"),
    )
    ranked = ranking.grouped_rank_by_range(sized, "lang", "_okey")
    counts = sized.groupBy("lang").agg(F.count("*").alias("_n"))
    ps = spark.createDataFrame(
        [(0.5,), (0.95,), (0.99,)], "p double"
    )
    targets = counts.crossJoin(F.broadcast(ps)).select(
        F.col("lang").alias("_tlang"),
        "p",
        F.ceil(F.col("p") * F.col("_n")).cast("bigint").alias("_tr"),
    )
    return (
        ranked.join(
            targets,
            (F.col("lang") == F.col("_tlang"))
            & (F.col("group_rank") == F.col("_tr")),
        )
        .select("lang", "p", F.col("n_tokens").alias("q_exact"))
        .orderBy("lang", "p")
    )


def sk_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-token cardinality via HyperLogLog
    registers next to the exact count — the FIXED-SIZE counterpart of
    sk_kmv_distinct (m registers however large the group; merge is
    per-register MAX, idempotent, replay-safe). Register math is
    integer/string only (sketches.hll_sketch), so the oracle rebuilds
    every register and the estimate bit-for-bit — impossible with
    approx_count_distinct's engine-private HLL++ layout."""
    from ..operators import sketches

    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    reg = sketches.hll_sketch(toks, ["lang"], "token", m=256)
    est = sketches.hll_estimate(reg, ["lang"], m=256)
    exact = toks.groupBy("lang").agg(
        F.countDistinct("token").alias("n_exact")
    )
    return exact.join(est, "lang").select(
        "lang", "n_exact", "n_est"
    ).orderBy("lang")


def sk_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary overlap (union / intersection /
    Jaccard distinct-token estimates) from KMV sketches — the "how
    much does source A's vocabulary overlap source B's" question a
    mixture designer asks before setting sampling weights, answered
    WITHOUT joining the token sets (``sketches.kmv_overlap``: raw
    tokens are touched once to build one k-array per source; every
    pairwise estimate is arithmetic on those arrays). Deterministic
    portable-md5 sketches, so the oracle recomputes the estimates
    bit-for-bit."""
    from ..operators import sketches

    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    return sketches.kmv_overlap(toks, "source", "token", k=64).orderBy(
        "group_a", "group_b"
    )


def sk_cm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates next to the exact counts
    for the corpus's top-20 tokens — the "how frequent is THIS item"
    sketch beside KMV (distinct) and Misra-Gries (which items):
    ``sketches.cm_sketch`` reduces the token stream to a d×w counter
    table that merges by addition, ``cm_query`` answers each probe
    from the broadcast counters. Portable-md5 bucket hashing, so the
    oracle rebuilds every cell and estimate bit-for-bit; the
    ``overcount`` column exposes the sketch's one-sided error
    (n_est ≥ n_exact always, the audit the operator tests pin)."""
    from ..operators import sketches

    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    exact = toks.groupBy("token").agg(F.count("*").alias("n_exact"))
    top = exact.orderBy(F.col("n_exact").desc(), "token").limit(20)
    sk = sketches.cm_sketch(toks, "token", d=4, w=256)
    est = sketches.cm_query(sk, top, "token", d=4, w=256)
    return (
        top.join(est, top["token"] == est["item"])
        .select(
            "token",
            "n_exact",
            "n_est",
            (F.col("n_est") - F.col("n_exact")).alias("overcount"),
        )
        .orderBy(F.col("n_exact").desc(), "token")
    )


def txt_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate detection (the CCNet idea at shingle
    granularity): the top-5 word bigrams by within-source document
    frequency — the dictionary a scrub pass would subtract. Shingles
    are distinct per doc, so COUNT(*) after the explode IS document
    frequency; the per-source totals ride in on a broadcast join."""
    d = read_table(spark, sf_dir, "documents")
    sh = d.select(
        "source",
        F.explode(dedup.shingles(F.col("text"), n=2)).alias("shingle"),
    )
    counts = sh.groupBy("source", "shingle").agg(
        F.count("*").alias("n_docs")
    )
    totals = d.groupBy("source").agg(F.count("*").alias("_tot"))
    w = Window.partitionBy("source").orderBy(
        F.col("n_docs").desc(), F.col("shingle")
    )
    return (
        counts.join(F.broadcast(totals), "source")
        .withColumn(
            "df_ratio",
            F.round(F.col("n_docs") / F.col("_tot").cast("double"), 9),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("source", "shingle", "n_docs", "df_ratio", "rnk")
        .orderBy("source", "rnk")
    )


def txt_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model score per document — the CCNet/KenLM-style
    perplexity proxy at order 0: mean over tokens of
    ln(corpus_tf / corpus_total). Unusually low scores flag rare-token
    noise (mojibake, codes, boilerplate markup); the standard quality
    cut keeps docs above a percentile of this score.

    One definition for scoring (``textstats.unigram_logprob_scores``,
    shared with the curation job's LM-filter stage): per-token
    log-probs rounded then decimal-summed (associative → deterministic
    under any partial-agg order), corpus totals as a 1-row broadcast
    aggregate, never a driver-side count. Shape at scale: one explode
    → vocab-sized groupBy → token join (AQE broadcasts the vocab side
    while it fits) → per-doc partial agg."""
    d = read_table(spark, sf_dir, "documents")
    return (
        textstats.unigram_logprob_scores(d, "doc_id", "text")
        .select(
            "doc_id",
            "n_tokens",
            F.round("avg_logprob", 6).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


def td_dup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware sampling weights: each near-dup cluster keeps its
    min-id representative with weight = cluster size (singletons weigh
    1). Downstream samplers draw by weight, so dropping duplicates
    does not silently re-weight the distribution the corpus was
    crawled with. ONE implementation — the curation job's
    ``collapse_near_dups(keep_weights=True)`` — is what the oracle
    checks here."""
    from ..jobs.curate_corpus import collapse_near_dups

    d = read_table(spark, sf_dir, "documents")
    return (
        collapse_near_dups(d, "doc_id", "text", threshold=0.8, keep_weights=True)
        .select(
            "doc_id", "lang", "source", F.col("dup_weight").alias("weight")
        )
        .orderBy("doc_id")
    )


def ds_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted source interleave — the mixture schedule
    a training loader consumes (doc k of source s at virtual time
    k/w_s). Weights derive from the source id (1 + suffix mod 3) so
    the oracle recomputes them; production passes a weights column or
    broadcast config table."""
    d = read_table(spark, sf_dir, "documents")
    # uncapped suffix (substring-to-end), matching the oracle's
    # substr(source, 4): a capped length would silently diverge for
    # source ids with >10-digit suffixes
    w = (
        F.expr("substring(source, 4)").cast("int") % 3 + 1
    ).cast("double")
    docs = d.select("doc_id", "source").withColumn("_w", w)
    return (
        sampling.interleave_by_weight(docs, "source", "doc_id", "_w")
        .select("doc_id", "source", F.col("k").cast("bigint").alias("k"),
                F.col("position").cast("bigint").alias("position"))
        .orderBy("position")
    )


def td_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 13-gram collision decontamination — the published GPT-3/
    PaLM standard, complementing the MinHash near-dup audit
    (td_decontaminate): a train doc is contaminated if it shares ANY
    13-token n-gram with an eval/test doc. Output: contaminated train
    doc ids with their distinct shared-gram counts.

    ONE definition of the collision core
    (``dedup.contamination_gram_hits``, shared with the curation
    job's decontaminate stage): the heldout gram set is the small side
    (explode of ~20% of the corpus, distinct) and AQE broadcasts it
    while it fits; docs under 13 tokens are excluded (no full 13-gram
    exists; the shingle fallback would degrade to whole-text equality,
    a different test)."""
    d = read_table(spark, sf_dir, "documents")
    split = sampling.hash_split(
        d, "doc_id", {"train": 0.8, "eval": 0.1, "test": 0.1}, method="md5"
    )
    return (
        dedup.contamination_gram_hits(split, "doc_id", "text")
        .groupBy("doc_id")
        .agg(F.countDistinct("_gram").alias("n_shared_grams"))
        .orderBy("doc_id")
    )


def ds_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-source sample: rank docs within each source
    by portable md5 hash (tie-broken on doc_id) and keep the first 5 —
    the "inspect a stable handful from every source" debugging sample,
    stable across runs, partitionings, and engines. Per-source ranks
    via grouped_rank_by_range: no source ever occupies a single task.
    """
    from ..operators.ranking import grouped_rank_by_range

    d = read_table(spark, sf_dir, "documents")
    hashed = d.select("doc_id", "source").withColumn(
        "_key", F.struct(sampling.md5_hash64(F.col("doc_id")).alias("h"), "doc_id")
    )
    return (
        grouped_rank_by_range(hashed, "source", "_key")
        .where(F.col("group_rank") <= 5)
        .select("doc_id", "source", F.col("group_rank").cast("bigint").alias("k"))
        .orderBy("source", "k")
    )


def sk_binned_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate quantiles from fixed-bin histograms: P50/
    P95/P99 of event values per type, estimated as the upper edge of
    the first bin whose cumulative fraction reaches p. Error ≤ one bin
    width; bin counts MERGE by addition (per-partition/per-day
    histograms roll up without touching raw data — the quantile
    counterpart of the KMV distinct sketch, where exact percentiles
    would shuffle every value). Bin math is ONE shared expression
    (``sketches.bucket_expr``) mirrored identically in the oracle, so
    the estimate is oracle-exact."""
    from ..operators.sketches import bucket_expr

    e = read_table(spark, sf_dir, "events")
    bounds = e.agg(F.min("value").alias("_lo"), F.max("value").alias("_hi"))
    binned = e.crossJoin(F.broadcast(bounds)).withColumn(
        "bucket",
        F.when(
            F.col("_hi") > F.col("_lo"),
            bucket_expr(F.col("value"), F.col("_lo"), F.col("_hi"), 100),
        ).otherwise(F.lit(1).cast("bigint")),
    )
    counts = binned.groupBy("event_type", "bucket").agg(
        F.count("*").alias("n"), F.first("_lo").alias("_lo"), F.first("_hi").alias("_hi")
    )
    w_cum = Window.partitionBy("event_type").orderBy("bucket")
    w_tot = Window.partitionBy("event_type")
    cum = counts.withColumn("_cum", F.sum("n").over(w_cum)).withColumn(
        "_tot", F.sum("n").over(w_tot)
    )
    ps = spark.createDataFrame([(0.5,), (0.95,), (0.99,)], "p double")
    return (
        cum.crossJoin(F.broadcast(ps))
        .where(F.col("_cum") >= F.col("p") * F.col("_tot"))
        .groupBy("event_type", "p")
        .agg(
            F.min("bucket").alias("_qb"),
            F.first("_lo").alias("_lo2"),
            F.first("_hi").alias("_hi2"),
        )
        .select(
            "event_type",
            "p",
            F.round(
                F.col("_lo2")
                + F.col("_qb") * (F.col("_hi2") - F.col("_lo2")) / 100,
                6,
            ).alias("q_est"),
        )
        .orderBy("event_type", "p")
    )


def ds_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation across sources — the data-recipe
    planning step: spend a budget of half the corpus's tokens across
    sources with temperature-flattened weights (τ=0.5) under an epoch
    cap (≤2 passes over any source), redistributing what the cap
    releases to the uncapped sources in one deterministic pass.

    Float discipline: every sum (weights, leftovers) runs over
    6-dp-rounded DECIMALs (exact, order-free); each division is a
    single float op on exact inputs, rounded before reuse — so both
    engines produce bit-identical allocations. All corpus totals are
    1-row broadcast aggregates; the per-source table is tiny by
    construction (one row per source)."""
    d = read_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.sum(textstats.token_count_ws(F.col("text"))).alias("t_tokens")
    )
    return sampling.token_budget_mix(per_src).orderBy("source")


def ds_det_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 10% corpus sample by doc_id hash — the same rows survive
    every run, so iteration-time metrics stay comparable."""
    d = read_table(spark, sf_dir, "documents")
    return sampling.deterministic_sample(d, "doc_id", 0.1, method="md5").select(
        "doc_id", "lang", "source", "n_chars"
    )


def td_passage_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-passage fraction — the RefinedWeb/CCNet
    exact-substring-duplication signal at passage granularity: the
    fraction of a doc's distinct 8-token shingles that occur in MORE
    than one document corpus-wide. High fractions mark template/
    boilerplate documents that per-doc near-dup (pairwise Jaccard)
    under-reports because the duplication is spread across MANY
    partners.

    Scale shape (textstats.passage_dup_stats, df_mode="join" — the
    skew-safe default): explode distinct shingles ONCE into a staged
    frame (each (doc, gram) appears once, so plain COUNT(*) per gram
    IS its document frequency — no distinct aggregation), join the df
    back, partial-agg per doc. Boilerplate grams make the join key
    skewed at corpus scale — AQE skew-join splits them; nothing
    quadratic. Docs under 8 tokens fall back to their whole-text
    shingle (dedup.shingles' documented fallback), so they still
    carry an exact-dup signal."""
    # _spread: the distinct-shingle explode is per-row expression work
    # off a one-split parquet — unspread it ran on one core (3.21 →
    # 1.92 s interleaved A/B at sf0.1, r14 round). The ExactSubstr
    # twin measured the OPPOSITE (2.10 → 3.20: its window frame is
    # eagerly checkpointed, so the round-robin shuffle of the corpus
    # text costs more than the already-staged enumeration saves) and
    # stays unspread; txt_main_content measured flat (3.37 vs 3.33).
    d = dedup._spread(read_table(spark, sf_dir, "documents"))
    return textstats.passage_dup_stats(d, "doc_id", "text", n=8).orderBy("doc_id")


def td_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split: rank every document by
    its mean unigram log-prob (the shared `unigram_logprob_scores`
    definition — the LM-filter's score) and cut exact TERTILES —
    'head' is the most-natural third, 'tail' the most-outlier third;
    CCNet trains on head+middle and audits tail. Bucket boundaries are
    integer arithmetic over the range-partitioned global rank
    (((rank-1)*3) div n — no percentile float can disagree between
    engines), the doc count is a 1-row broadcast."""
    from ..operators import ranking


    d = read_table(spark, sf_dir, "documents")
    scores = textstats.unigram_logprob_scores(d, "doc_id", "text")
    # staged: the rank's repartitionByRange evaluates its child twice
    # (boundary-sampling job + shuffle), and the child here is the
    # full unigram-LM scoring chain (corpus explode + model join) —
    # the td_curriculum_order finding, r14 round
    keyed = scores.withColumn(
        "_okey",
        F.struct((-F.col("avg_logprob")).alias("neg"), "doc_id"),
    ).transform(staging.stage, "staged")
    ranked = ranking.global_rank_by_range(keyed, "_okey").drop("_okey")
    # count from the base table, not from `scores` — re-aggregating the
    # scoring frame would embed the token-level shuffle a second time.
    # select(id).distinct() — not count(*) — so the count equals the
    # post-groupBy score rows EXACTLY even under duplicate or NULL ids
    # (distinct keeps one NULL row, groupBy keeps one NULL group);
    # empty text still tokenizes to [''] and scores, both engines
    nn = (
        d.where(F.col("text").isNotNull())
        .select("doc_id")
        .distinct()
        .agg(F.count("*").alias("_n"))
    )
    return (
        ranked.crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            "n_tokens",
            F.round("avg_logprob", 6).alias("avg_logprob"),
            F.expr(
                "CASE ((global_rank - 1) * 3) div _n WHEN 0 THEN 'head' "
                "WHEN 1 THEN 'middle' ELSE 'tail' END"
            ).alias("bucket"),
        )
        .orderBy("doc_id")
    )


def txt_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal (RedPajama-v2/DCLM
    "compression filter"): low ratio = templated/repetitive, very high
    = noise. zlib IS the signal's definition, so this is a rows-only
    query (no SQL oracle can exist) — the operator is pinned by tests
    against direct zlib.compress calls. Arrow-batched mapInPandas,
    one pass, no shuffle (textstats.compression_signal)."""
    d = read_table(spark, sf_dir, "documents")
    return textstats.compression_signal(d, "doc_id", "text").orderBy(
        "doc_id"
    )


def td_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-annealed curriculum epoch order: docs are ranked into
    exact quality DECILES (shared quality_score definition), then the
    epoch reads deciles low→high with a deterministic md5 shuffle
    INSIDE each decile — the curriculum/annealing schedule (highest-
    quality data last, when it shapes the final model most), still
    reproducible from any worker like td_global_shuffle.

    Scale shape: BOTH global orderings run through the range-
    partitioned rank (``ranking.global_rank_by_range``) — the decile
    rank over the unique (quality, id) composite and the position rank
    over (decile, md5, id); n is a 1-row broadcast; the decile index
    is integer arithmetic (``(rank-1)*10 div (n-1)``) so no float
    boundary can disagree between engines."""

    from ..operators import ranking

    d = read_table(spark, sf_dir, "documents")
    # BOTH rank inputs are staged (persist): repartitionByRange
    # evaluates its child twice — once in the boundary-sampling job,
    # once in the shuffle — so the unstaged chain ran the quality
    # fold and the first rank's whole subtree once per pass (measured
    # 2.60 -> 1.39 s at sf0.1 with the two stages; r14 round)
    scored = d.select(
        "doc_id", textstats.quality_score(F.col("text")).alias("q")
    ).transform(staging.stage, "staged")
    # unscorable docs (NULL/empty text -> NULL q) rank as the LOWEST
    # quality via coalesce(q, -1) — pinned explicitly because Spark's
    # ascending struct sort puts NULLs first while the oracle's ORDER
    # BY defaults to NULLS LAST; the output q stays the raw value
    keyed = scored.withColumn(
        "_okey", F.struct(F.coalesce("q", F.lit(-1.0)).alias("qk"), "doc_id")
    )
    ranked = ranking.global_rank_by_range(keyed, "_okey").drop("_okey")
    n = d.select().agg(F.count("*").alias("_n"))
    dec = (
        ranked.crossJoin(F.broadcast(n))
        .withColumn(
            "decile",
            F.when(
                F.col("_n") > 1,
                F.least(
                    F.expr("((global_rank - 1) * 10) div (_n - 1)"),
                    F.lit(9),
                ),
            )
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop("global_rank", "_n")
        .transform(staging.stage, "staged")
    )
    h = F.md5(F.concat(F.lit("cur1:"), F.col("doc_id").cast("string")))
    keyed2 = dec.withColumn(
        "_okey", F.struct(F.col("decile"), h.alias("h"), F.col("doc_id"))
    )
    pos = ranking.global_rank_by_range(keyed2, "_okey").drop("_okey")
    return pos.select(
        "doc_id", "q", "decile", F.col("global_rank").alias("position")
    ).orderBy("position")


def td_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage REMOVAL — the rewrite twin of
    td_passage_dup_fraction's signal (Lee et al. 2022 / RefinedWeb
    exact-substring dedup at tiling-segment granularity): every
    corpus-wide duplicated 10-token segment keeps its first occurrence
    (min (doc, pos) — deterministic), all other copies are deleted,
    and documents are reassembled from their surviving segments in
    order. One staged tiling explode, frequency+winner by plain
    groupBy, AQE-skew-split join back — never a per-segment window
    over the raw corpus."""
    d = read_table(spark, sf_dir, "documents")
    return textstats.remove_dup_passages(d, "doc_id", "text", n=10).orderBy(
        "doc_id"
    )


def dd_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE sliding-window exact-substring dedup (the un-approximated
    Lee et al. 2022 ExactSubstr, dedup.remove_exact_substrings): every
    token inside ANY ≥10-token substring that occurs more than once in
    the corpus is removed — including runs that straddle the tiling
    boundaries td_dedup_passages' segment variant cannot see, and
    repeats WITHIN one document. All occurrences go (the released
    ExactSubstr tool's behavior); the tiling twin is the keep-one-copy
    variant. One corpus-scale shuffle (window-hash count), then
    per-doc native interval merges — no suffix array, same cover set."""
    from ..operators import dedup

    d = read_table(spark, sf_dir, "documents")
    return dedup.remove_exact_substrings(
        d, "doc_id", "text", min_len=10
    ).orderBy("doc_id")


def dd_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit twin of dd_exact_substring: the maximal duplicated
    spans themselves — (doc_id, span_start, span_end), 1-based token
    positions — what a dedup review reads BEFORE committing the
    destructive rewrite. Same cover set by construction (shared
    window/interval machinery); the oracle re-derives the spans as
    gaps-and-islands over the covered-position flags, a structurally
    different computation that must land on identical intervals."""
    from ..operators import dedup

    d = read_table(spark, sf_dir, "documents")
    return dedup.exact_substring_spans(
        d, "doc_id", "text", min_len=10
    ).orderBy("doc_id", "span_start")


def td_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded global shuffle — the epoch reshuffle a
    training loader needs: every doc gets a stable position drawn from
    md5 over (epoch-salt, doc_id), so any worker can recompute any
    slice of the order without coordination, and a different salt
    yields an independent permutation.

    The rank over the hash uses the range-partitioned offset pattern
    (``ranking.global_rank_by_range``), never a single-partition
    window: rank locally per range slice, add per-partition cumulative
    offsets (the only global window runs over ≤ n_parts count rows).
    The full 32-hex md5 is the sort key — collision-free in practice
    at any corpus size (vs the 2^32 truncated hash, which birthday-
    collides by ~100k rows)."""
    from ..operators import ranking

    d = read_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("ep7:"), F.col("doc_id").cast("string")))
    docs = d.select("doc_id", "lang", "source").withColumn("_h", h)
    return (
        ranking.global_rank_by_range(docs, "_h")
        .select(
            "doc_id",
            "lang",
            "source",
            F.col("global_rank").alias("shuffle_pos"),
        )
        .orderBy("shuffle_pos")
    )


def td_source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level quality propagation — the domain-reputation cut a
    web-scale curation pipeline applies before per-doc filtering
    (C4/RefinedWeb drop whole domains): per-source doc count, mean
    quality, and mean length, flagged ``reputable`` when the source's
    mean quality reaches the corpus-wide mean.

    One partial-aggregable groupBy per source plus a 1-row corpus
    aggregate broadcast-joined in; means use the exact-decimal-sum
    discipline so the flag's >= compare is bit-stable across engines."""
    d = read_table(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        textstats.quality_score(F.col("text")).alias("_q"),
        textstats.token_count_ws(F.col("text")).alias("_ntok"),
    )
    per_src = scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.sum(F.col("_q").cast("decimal(18,9)")).cast("double")
            / F.count("*"),
            9,
        ).alias("avg_quality"),
        F.round(F.sum("_ntok") / F.count("*"), 9).alias("avg_tokens"),
    )
    corpus = scored.agg(
        F.round(
            F.sum(F.col("_q").cast("decimal(18,9)")).cast("double")
            / F.count("*"),
            9,
        ).alias("_corpus_q")
    )
    return (
        per_src.crossJoin(F.broadcast(corpus))
        .select(
            "source",
            "n_docs",
            "avg_quality",
            "avg_tokens",
            (F.col("avg_quality") >= F.col("_corpus_q")).alias("reputable"),
        )
        .orderBy("source")
    )


def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (m=4 subspaces × k=4 codewords, 2
    Lloyd rounds) over the embeddings — the ANN compression step that
    turns a 64-float vector into 8 bits for the ADC candidate scan.
    Deterministic codebooks (lowest-id seeds, decimal-exact means), so
    the oracle recomputes them exactly; see similarity.pq_codes."""
    e = read_table(spark, sf_dir, "embeddings")
    return similarity.pq_codes(e, "vec_id", "embedding", m=4, k=4, n_iter=2).orderBy(
        "vec_id", "sub_id"
    )


def ds_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement, 5 docs per
    source with selection probability ∝ n_chars — the
    Efraimidis–Spirakis one-pass scheme on portable hashes (see
    sampling.weighted_sample): longer docs are favored, the sample is
    reproducible on any engine, and no sequential state exists
    anywhere."""
    d = read_table(spark, sf_dir, "documents")
    return (
        sampling.weighted_sample(
            d.select("doc_id", "source", "n_chars"),
            "doc_id",
            "n_chars",
            k=5,
            group_col="source",
        )
        .orderBy("source", "doc_id")
    )


def txt_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM score per document — order-1 of the
    CCNet/KenLM perplexity proxy family (txt_unigram_logprob is order
    0): mean of ln(0.75·P(w2|w1) + 0.25·P(w2)) over bigram positions
    (λ=0.75 because both weights are exactly representable doubles —
    see the operator docstring). Flags corpus-rare CONTINUATIONS
    (shuffled text, code soup) that unigram statistics can't see. One
    scoring definition (textstats.bigram_logprob_scores); docs under 2
    tokens have no bigram and are excluded here (the harness corpus
    has none)."""
    d = read_table(spark, sf_dir, "documents")
    s = textstats.bigram_logprob_scores(d, "doc_id", "text", lam=0.75)
    return s.select(
        "doc_id", "n_bigrams", F.round("avg_logprob", 6).alias("avg_logprob")
    ).orderBy("doc_id")


def _kn_logprob_query(
    spark: SparkSession, sf_dir: str, order: int, lang_col: str | None = None
) -> DataFrame:
    """The body of every txt_kn* query: KN order ``order`` fit on the
    even doc_id half and scoring the FULL corpus, so unseen n-grams,
    contexts and continuations exercise every backoff rung (a
    self-trained model never backs off). With ``lang_col`` the type
    table and every marginal are per-language (routed by the fixture's
    real ``lang`` column, deterministic in both engines) and each
    document scores only under its own language's model.

    Fixture-liveness device (the td_dedup_sentence_spans family —
    derive the signal deterministically in BOTH engines): the shared
    fixture vocabulary leaves the backoff ladder nearly dead (6 unseen
    pairs, 1 unseen context, 0 unseen continuations in 26k positions
    at sf0.01), so ' tok<doc_id> kn' is appended to every non-NULL doc
    — odd doc_ids then inject a context AND a continuation the
    even-half model has never seen, firing every rung hundreds of
    times, and every non-NULL doc has at least 3 tokens. NULL text
    stays NULL (Spark `when` mirrors SQL's NULL-propagating ||) and is
    absent from the output.

    _spread: the corpus-side gram explode + vocabulary joins + partial
    agg are all map-side work on the scan partitioning, and the sf
    parquet is ONE split — unspread, the whole scoring chain ran on
    one core (kn3 3.47→3.10, kn4 4.30→3.81 s interleaved A/B at sf0.1;
    the txt_gopher_repetition lesson)."""
    d = dedup._spread(read_table(spark, sf_dir, "documents")).select(
        "doc_id",
        *([lang_col] if lang_col else []),
        F.when(
            F.col("text").isNotNull(),
            F.concat(
                F.col("text"), F.lit(" tok"), F.col("doc_id"), F.lit(" kn")
            ),
        ).alias("text"),
    )
    ref = d.where(F.col("doc_id") % 2 == 0)
    # the type table is staged for kn_logprob_scores' reason: the
    # scorer reads it through every level, ctx, cont and B subtree
    types = textstats.kn_types(ref, order, "text", lang_col)
    s = textstats.kn_score_from_types(
        d,
        staging.stage(types, f"kn{order}_types"),
        order,
        "doc_id",
        "text",
        lang_col=lang_col,
    )
    return s.select(
        *s.columns[:-1], F.round("avg_logprob", 6).alias("avg_logprob")
    ).orderBy("doc_id")


def txt_kn_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY bigram LM score per document — the
    published estimator the CCNet LM filter actually uses (KenLM;
    Kneser & Ney 1995), completing the perplexity-proxy ladder:
    txt_unigram_logprob (order 0) → txt_bigram_logprob (order 1,
    λ-interpolated, self-trained) → THIS (order 1, absolute
    discounting + continuation-probability backoff). Continuation
    counts are the KN point: a word frequent only inside one
    collocation gets a low novel-continuation probability that raw
    frequency interpolation cannot express. One scoring definition
    (textstats.kn_score_from_types at order 2; the train/score split
    and the fixture device are _kn_logprob_query's)."""
    return _kn_logprob_query(spark, sf_dir, 2)


def txt_kn3_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney TRIGRAM LM score per document — the
    order-2 member of the KN family (txt_kn_logprob is order 1),
    showing the estimator's recursion the way KenLM runs it: the
    trigram level discounts raw counts, the bigram level discounts
    MODIFIED (distinct-left-context) counts, the base case is the
    continuation distribution. Same train/score split and liveness
    device as txt_kn_logprob, so every rung of the two-level backoff
    ladder fires on the fixture."""
    return _kn_logprob_query(spark, sf_dir, 3)


def txt_kn_lang_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-LANGUAGE interpolated Kneser-Ney bigram LM score — the
    CCNet production shape (one KenLM per language) made
    driver-checkable: the type table is fit per language, every
    marginal — context totals, continuation counts, the type total B —
    keys on the language, and B becomes an O(languages) broadcast.
    Per-language models are smaller, so unseen pairs/contexts are even
    more frequent than in the global txt_kn_logprob. Output: (doc_id,
    lang, n_bigrams, avg_logprob)."""
    return _kn_logprob_query(spark, sf_dir, 2, lang_col="lang")


def txt_kn3_lang_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-LANGUAGE interpolated Kneser-Ney TRIGRAM LM score — the
    order-2 member of the per-language family (txt_kn_lang_logprob is
    order 1): one KenLM per language with the FULL two-level
    recursion, every marginal keyed on the language; per-language
    trigram models are the sparsest in the family, so the ladder is
    livelier than anywhere else. Matches `fit_reference_model(lm="kn3",
    lang_aware=True)`'s scoring definition exactly — this query is
    the driver-checkable twin of that production path. Output:
    (doc_id, lang, n_trigrams, avg_logprob)."""
    return _kn_logprob_query(spark, sf_dir, 3, lang_col="lang")


def txt_kn4_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney 4-GRAM LM score per document — the
    order-3 member completing the perplexity ladder (unigram →
    λ-bigram → KN2 → KN3 → THIS), at KenLM's production default
    order for the CCNet filter: the 4-gram level discounts raw
    counts and EVERY lower level discounts the next level's MODIFIED
    (distinct-left-context) counts, three levels deep. Same
    train/score split and liveness device as txt_kn_logprob — at
    order 3 the fixture's ladder is the liveliest in the family."""
    return _kn_logprob_query(spark, sf_dir, 4)


def td_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus datasheet: one row of the headline numbers every
    dataset card starts with — doc/token/lang/source counts, exact-dup
    ratio, mean quality, mean length. One aggregation pass (the
    multiple COUNT(DISTINCT)s expand the scan ~4x internally — still a
    single linear pass, the right cost for a report); sums that feed
    fractions use the exact-decimal discipline."""
    return corpus_report_frame(read_table(spark, sf_dir, "documents"))


def corpus_report_frame(d: DataFrame) -> DataFrame:
    """The datasheet aggregation over ANY documents-shaped frame —
    shared by the oracle-checked query above and the CLI's
    ``corpus-report --table`` (a curated VersionedTable output is the
    usual target). Frames without ``lang``/``source`` report 0 for
    those counts instead of failing."""
    lang = F.col("lang") if "lang" in d.columns else F.lit(None).cast("string")
    source = (
        F.col("source") if "source" in d.columns else F.lit(None).cast("string")
    )
    scored = d.select(
        lang.alias("lang"),
        source.alias("source"),
        "text",
        textstats.quality_score(F.col("text")).alias("_q"),
        textstats.token_count_ws(F.col("text")).alias("_ntok"),
    )
    return scored.agg(
        F.count("*").alias("n_docs"),
        F.sum("_ntok").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(
            F.lit(1.0) - F.countDistinct("text") / F.count("*"), 9
        ).alias("exact_dup_ratio"),
        F.round(
            F.sum(F.col("_q").cast("decimal(18,9)")).cast("double")
            / F.count("*"),
            9,
        ).alias("avg_quality"),
        F.round(F.sum("_ntok") / F.count("*"), 9).alias("avg_tokens"),
    )


def td_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup collapse with SOURCE PRIORITY — what real curation
    does when a document exists in both a curated source and a crawl
    dump: keep the copy from the preferred source, not the smallest
    id. Representative = min (priority, doc_id) per cluster (priority
    derived from the source id so the oracle recomputes it; production
    passes a priority column or config table). Unclustered docs pass
    through with cluster_size 1. The per-cluster window is tiny by
    construction (near-dup components are shallow)."""
    d = read_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dup_pairs(d, "doc_id", "text", threshold=0.8)
    clusters = dedup.near_dup_clusters(pairs)
    docs = d.select("doc_id", "lang", "source").withColumn(
        "priority", F.expr("substring(source, 4)").cast("int") % 3
    )
    labeled = (
        docs.join(clusters, docs.doc_id == clusters.member_id, "left")
        .withColumn("_cluster", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
        .drop("member_id", "cluster_id")
    )
    w = Window.partitionBy("_cluster")
    ranked = labeled.withColumn(
        "_rn", F.row_number().over(w.orderBy("priority", "doc_id"))
    ).withColumn("cluster_size", F.count("*").over(w))
    return (
        ranked.where(F.col("_rn") == 1)
        .select("doc_id", "lang", "source", "priority", "cluster_size")
        .orderBy("doc_id")
    )


def txt_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a FROZEN BPE tokenizer (4 pinned merge rules — the
    production shape: the tokenizer is trained once, then applied to
    every corpus) and report per-doc subword counts + the
    chars-per-token compression signal. Scale shape: the corpus
    reduces to its DISTINCT words, each word is encoded ONCE through
    the chained native merge folds (``bpe.bpe_segment`` — no UDF),
    and the per-word subword count joins back to the exploded corpus
    (AQE broadcasts the vocabulary side). The oracle replays the same
    greedy merges as an iterated-leftmost-merge recursive CTE —
    equivalent because a merge never creates a new match site to its
    left (l+r can equal neither l nor r)."""
    from ..operators import bpe

    d = read_table(spark, sf_dir, "documents")
    rules = [("t", "a"), ("ta", "b"), ("l", "e"), ("tab", "le")]
    words = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).where(F.col("w") != "")
    vocab = words.select("w").distinct()
    enc = bpe.bpe_segment(vocab, rules, text_col="w", out_col="_sub").select(
        "w", F.size("_sub").alias("_n_sub")
    )
    return (
        words.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("_n_sub").alias("n_bpe_tokens"),
        )
        .withColumn(
            "bpe_ratio",
            F.round(F.col("n_bpe_tokens") / F.col("n_tokens"), 9),
        )
        .orderBy("doc_id")
    )


def txt_unigram_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer inventory (SentencePiece-style, Kudo '18)
    over the corpus vocabulary: every ≤4-char substring of every
    distinct word, frequency-weighted, thresholded with the
    single-char coverage floor, log-probs over exact-decimal totals
    (operators/unigram.py). Top-30 pieces — the vocabulary a Viterbi
    tokenizer (txt_unigram_encode) serves with. Corpus touched once
    (word-frequency reduction); everything after is vocabulary-side."""
    from ..operators import unigram

    d = read_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    pieces = unigram.piece_logprobs(
        unigram.unigram_candidates(
            vocab, word_col="w", n_col="n", max_len=4, min_count=50
        )
    )
    return pieces.orderBy(F.col("cnt").desc(), "piece").limit(30)


def txt_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi tokenization of the corpus under the unigram-LM
    inventory (the serving path of txt_unigram_pieces' vocabulary):
    each DISTINCT word segments ONCE through the native DP folds
    (operators.unigram.viterbi_segment — no UDF, pinned shortest-
    piece tie rule), then per-word piece counts and scores join back
    to the exploded corpus. Output per doc: token count, piece count,
    a 1e9-scaled integer pieces-per-token ratio, and the 1e6-scaled
    integer document log-prob (a plain BIGINT sum — associative and
    deterministic under any partial-agg order). The oracle replays
    the identical DP as a recursive CTE (forward best/back lists,
    backward step-count walk).

    Float discipline: since r11 the output schema is ALL-BIGINT —
    no DOUBLE or DECIMAL column survives to the hash surface. Piece
    scores quantize ``ln`` at 6 dp before the 1e6 integer scaling (a
    libm ulp is 5 orders below the half-boundary — see
    operators/unigram.py module doc); ``piece_ratio_int`` is
    round-half-up via pure BIGINT arithmetic
    (``(2·np·1e9 + nt) DIV (2·nt)``), and ``doc_logp_int`` is the
    exact integer DP score summed as BIGINT. The float casts the r10
    variant carried (DOUBLE/1e9 ratio, DECIMAL(38,9) log-prob) were
    the last remaining engine-version-dependent surfaces (VERDICT r10
    what's-wrong #1b) — now gone entirely."""
    from ..operators import unigram

    d = read_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).where(F.col("w") != "")
    # vocab feeds THREE consumers (piece inventory, substring
    # enumeration, viterbi base spine) and Spark 4.1.2 does NOT reuse
    # their identical exchanges (the corrected KN finding: 0
    # ReusedExchange — each consumer re-runs the corpus explode,
    # merely hidden by concurrent stages at bench scale, which is
    # also why a CacheManager persist measured 2× slower, 1.29 → 2.64 s). The
    # localCheckpoint is flat locally (2.67 vs 2.73 s interleaved
    # A/B) and removes two full corpus explodes at scale — the
    # vocabulary is the tokenizer's stored artifact in production
    # anyway (jobs.tokenizer).
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").alias("n"))
        .transform(staging.stage, "staged")
    )
    pieces = unigram.piece_logprobs(
        unigram.unigram_candidates(
            vocab, word_col="w", n_col="n", max_len=4, min_count=50
        )
    )
    seg = unigram.viterbi_segment(
        vocab.select("w"), pieces, word_col="w", max_len=4
    ).select(
        "w",
        F.size("pieces").alias("_np"),
        F.col("logp_int").alias("_wlp_int"),
    )
    return (
        words.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("_np").alias("n_pieces"),
            F.sum("_wlp_int").alias("doc_logp_int"),
        )
        .withColumn(
            "piece_ratio_int",
            F.expr(
                "(2 * n_pieces * 1000000000 + n_tokens)"
                " DIV (2 * n_tokens)"
            ),
        )
        .select(
            "doc_id", "n_tokens", "n_pieces", "piece_ratio_int",
            "doc_logp_int",
        )
        .orderBy("doc_id")
    )


def txt_unigram_encode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-WORD debug twin of txt_unigram_encode: one row per distinct
    corpus word with its Viterbi piece count and 1e6-scaled INTEGER
    word log-prob (``wlp_int`` — the exact BIGINT DP score, no
    decimal/double cast anywhere) — the pre-aggregation state of the
    encode query. Exists so a driver hash mismatch on the doc-level
    query decomposes into a row-level diff naming the exact words
    whose segmentation diverges (VERDICT r9 ask #1c). Same
    vocabulary, same inventory, same DP; words the inventory cannot
    segment surface as NULL rows here instead of silently dropping in
    the doc join."""
    from ..operators import unigram

    d = read_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).where(F.col("w") != "")
    vocab = words.groupBy("w").agg(F.count("*").alias("n"))
    pieces = unigram.piece_logprobs(
        unigram.unigram_candidates(
            vocab, word_col="w", n_col="n", max_len=4, min_count=50
        )
    )
    return (
        unigram.viterbi_segment(
            vocab.select("w"), pieces, word_col="w", max_len=4
        )
        .select(
            "w",
            F.size("pieces").alias("n_pieces"),
            F.col("logp_int").alias("wlp_int"),
        )
        .orderBy("w")
    )


def sk_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (token frequency > n/50) through the
    bounded-memory two-pass pattern: per-partition Misra-Gries
    candidate summaries (provable superset, ≤ 49 counters per
    partition however many distinct tokens stream by), then exact
    counts for candidates only. Output equals the naive
    groupBy-filter answer — which is exactly what the oracle computes
    — but the wide aggregation never sees the full token domain."""
    from ..operators import sketches

    d = read_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("token")).where(
        F.col("token") != ""
    )
    return (
        sketches.heavy_hitters_exact(toks, "token", 50)
        .select(F.col("item").alias("token"), "cnt")
        .orderBy("token")
    )


def txt_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-1 of BPE tokenizer training, the oracle-able core: the 20
    most frequent adjacent character pairs weighted by word frequency
    (count DESC, then l, r — a total order, so the limit boundary is
    deterministic). The corpus-proportional pass is the word-frequency
    reduction; pair counting runs on the vocabulary table."""
    from ..operators import bpe

    d = read_table(spark, sf_dir, "documents")
    return (
        bpe.pair_counts(bpe.word_vocab(d, "text"))
        .orderBy(F.col("pair_count").desc(), "l", "r")
        .limit(20)
    )


def txt_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE merge training (8 rounds) — inherently sequential
    (each round's pair counts depend on the previous merge), so no SQL
    twin: rows-only here, with the merge sequence cross-checked
    against a pure-Python reference implementation in
    tests/test_operators.py."""
    from ..operators import bpe

    d = read_table(spark, sf_dir, "documents")
    return bpe.bpe_train(d, "text", n_merges=8).orderBy("rank")


def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ serving path: asymmetric-distance top-5 for the first 10
    vectors as queries — per-query m·k lookup table, corpus scanned by
    its 8-bit codes only (see similarity.pq_adc_topk). The approximate
    scores are deterministic (decimal-summed rounded partials), so the
    oracle recomputes them exactly; recall vs sim_brute_topk is
    audited in-plan by sim_pq_recall_audit."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return similarity.pq_adc_topk(
        e, q, "vec_id", "embedding", m=4, k=4, n_iter=2, topk=5
    ).orderBy("query_id", "rank")


def sim_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-plan ANN quality audit: per query, how many of the PQ ADC
    top-5 are TRUE (brute-force) top-5 neighbors — recall@5 as a
    first-class, oracle-checked query, because both sides are
    deterministic. This is the measurement a production index build
    gates on before swapping in a new codebook; 8-bit codes are
    coarse, so the absolute numbers are modest by design."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    brute = similarity.brute_force_topk(e, q, k=5).select(
        "query_id", "neighbor_id"
    )
    adc = similarity.pq_adc_topk(
        e, q, "vec_id", "embedding", m=4, k=4, n_iter=2, topk=5
    ).select("query_id", "neighbor_id")
    hits = (
        adc.join(brute, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("_n"))
    )
    return (
        q.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("_n"), F.lit(0)).alias("n_matched"),
            F.round(F.coalesce(F.col("_n"), F.lit(0)) / 5, 9).alias(
                "recall_at_5"
            ),
        )
        .orderBy("query_id")
    )


def sim_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe → recall/IO tradeoff curve, as ONE set-based plan —
    the sizing measurement an IVF deployment reads before picking
    nprobe (the FAISS operating-point sweep): for nprobe ∈ {1,2,4,8}
    over 16 deterministic cells, mean recall@5 of the probed search
    vs brute force, next to the mean fraction of the corpus actually
    scanned (the I/O the probe costs). No Python loop over nprobe
    values: query-cell ranks join a broadcast literal nprobe axis
    (rn ≤ nprobe), so all four operating points share one cell
    assignment, one brute-force reference, and one ranking pass.
    Fully deterministic (lowest-id centroids, pinned tie-breaks), so
    the oracle recomputes the whole curve. Recall rises with nprobe
    by construction; the curve's VALUE is the scanned-fraction column
    beside it."""
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "embeddings")
    corpus = e.select(
        "vec_id", similarity.as_double(F.col("embedding")).alias("_v")
    )
    cent = (
        corpus.select(F.col("vec_id").alias("cid"), F.col("_v").alias("cv"))
        .orderBy("cid")
        .limit(16)
    )

    # cells is the corpus-sized 16-way centroid assignment with TWO
    # consumers (the candidate join and the per-cell size agg): stage
    # it (persist — the multi-consumer discipline) so the centroid
    # scoring pass runs once
    cells = (
        similarity.ivf_assign(corpus, cent, "vec_id")
        .select(F.col("vec_id").alias("neighbor_id"), "_v", "cid")
        .transform(staging.stage, "staged")
    )
    csz = cells.groupBy("cid").agg(F.count("*").alias("csz"))
    q = corpus.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("_v").alias("_qv")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("cid")
    )
    qrank = (
        q.join(F.broadcast(cent))
        .withColumn("_sim", similarity.cosine(F.col("_qv"), F.col("cv")))
        .withColumn("_rn", F.row_number().over(wq))
        .select("query_id", "_qv", "cid", "_rn")
    )
    nps = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in (1, 2, 4, 8)])).alias("nprobe")
    )
    qcells = qrank.join(F.broadcast(nps), F.col("_rn") <= F.col("nprobe"))
    # the probed-cells frame is |queries| x sum(nprobe) rows — bounded
    # small by the probe-set contract at any corpus size — while
    # `cells` is the corpus: broadcast qcells so the corpus side is
    # never shuffled by cid (deliberate join strategy; the static
    # plan read SortMergeJoin and relied on AQE to maybe convert)
    scored = (
        F.broadcast(qcells).join(cells, "cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "_s", F.round(similarity.cosine(F.col("_qv"), F.col("_v")), 9)
        )
    )
    wr = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("_s").desc(), F.col("neighbor_id")
    )
    topk = (
        scored.withColumn("_rk", F.row_number().over(wr))
        .where(F.col("_rk") <= 5)
        .select("nprobe", "query_id", "neighbor_id")
    )
    brute = similarity.brute_force_topk(
        e, e.where(F.col("vec_id") < 10), k=5
    ).select("query_id", "neighbor_id")
    # brute is |queries| x k rows and csz |cells| rows — broadcast
    # both so neither semi-join nor the candidate-size join shuffles
    # its probe-derived left side
    hits = (
        topk.join(F.broadcast(brute), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("nprobe")
        .agg(F.count("*").alias("_h"))
    )
    cand = (
        qcells.join(F.broadcast(csz), "cid")
        .groupBy("nprobe")
        .agg(F.sum("csz").alias("_cs"))
    )
    # 1-row broadcast totals, never a build-time count (lazy-plan rule)
    nq = q.agg(F.count("*").alias("_nq"))
    nn = corpus.agg(F.count("*").alias("_N"))
    return (
        nps.join(F.broadcast(hits), "nprobe", "left")
        .join(F.broadcast(cand), "nprobe", "left")
        .crossJoin(F.broadcast(nq))
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            F.round(
                F.coalesce(F.col("_h"), F.lit(0))
                / (F.lit(5.0) * F.col("_nq")),
                9,
            ).alias("avg_recall_5"),
            # probed candidates exclude self: the query's own cell is
            # always among its probed cells (rn=1), so subtract one
            # per query
            F.round(
                (F.coalesce(F.col("_cs"), F.lit(0)) - F.col("_nq"))
                / (F.col("_nq") * (F.col("_N") - 1)),
                9,
            ).alias("avg_cand_frac"),
        )
        .orderBy("nprobe")
    )


def _scratch_index_root(sf_dir: str, kind: str) -> tuple[str, bool]:
    """(index root, needs_rebuild) for a per-sf scratch ANN index under
    the repo's gitignored spark-warehouse. A fingerprint of the source
    embeddings parquet (mtime+size) is stamped next to the index;
    a stale stamp forces a rebuild — serving codes fit on yesterday's
    bytes against today's oracle would hash-mismatch silently. The
    stamp is written by ``_stamp_index`` only AFTER a successful
    build (see there). Returns (root, stale, fingerprint)."""
    sf_name = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    root = os.path.join(repo_root, "spark-warehouse", kind, sf_name)
    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        # nanosecond mtime: second-granularity truncation let a source
        # regenerated same-second with identical size read as unchanged
        # (deterministic generators commonly produce same-size output),
        # silently serving a stale index against a fresh oracle
        fp = f"{st.st_mtime_ns}_{st.st_size}"
    except OSError:
        fp = "unknown"
    marker = os.path.join(root, "source.fp")
    stale = True
    if os.path.exists(marker):
        with open(marker) as f:
            stale = f.read().strip() != fp
    return root, stale, fp


def _stamp_index(root: str, fp: str) -> None:
    """Record the source fingerprint AFTER a successful build — stamping
    before it would mark a crashed half-build as fresh."""
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "source.fp"), "w") as f:
        f.write(fp)


def sim_pq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 served from a STORED PQ index (jobs.ann_index) — the
    production split of ``sim_pq_adc_topk``: that query refits the
    whole codebook in-plan on every run (~30 exchanges, almost all
    fit), this one reads codes+codebook from versioned tables and runs
    only the serve suffix (codes ⋈ broadcast LUT → partial-agg → one
    per-query window — under 10 exchanges however large the corpus).
    The index is built once per sf_dir into a scratch store under the
    repo's gitignored spark-warehouse/ on first call (the refresh job
    a scheduler would own); the fit is deterministic, so serving from
    storage returns byte-identical scores to the in-plan twin and
    shares its oracle."""
    from ..jobs import ann_index

    root, stale, fp = _scratch_index_root(sf_dir, "pq_index")
    store = ann_index.PQIndexStore(spark, root)
    if stale or not store.exists():
        e = read_table(spark, sf_dir, "embeddings")
        ann_index.refresh_pq_index(
            store, e, "vec_id", "embedding", m=4, k=4, n_iter=2
        )
        _stamp_index(root, fp)
    q = read_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 10)
    return ann_index.serve_pq_topk(store, q, topk=5).orderBy(
        "query_id", "rank"
    )


def sim_ivf_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 served from the STORED cell-bucketed layout
    (jobs.ann_index.IVFIndexStore) — the partition-pruned-I/O serve
    ``ivf_topk``'s docstring prescribes at 100 TB: the probe set's
    cell ids map to bucket dirs and ONLY those dirs are read, so a
    query batch scans ~nprobe/n_cells of the corpus instead of all of
    it. Scoring matches ivf_topk expression-for-expression, and the
    index here uses the deterministic lowest-id cells, so the query
    shares sim_ivf_topk's oracle. Built once per sf_dir into the
    gitignored spark-warehouse scratch (the refresh job a scheduler
    would own)."""
    from ..jobs import ann_index

    root, stale, fp = _scratch_index_root(sf_dir, "ivf_index")
    store = ann_index.IVFIndexStore(spark, root)
    if stale or not store.exists():
        e = read_table(spark, sf_dir, "embeddings")
        ann_index.refresh_ivf_index(
            store, e, "vec_id", "embedding", n_cells=16, n_iter=0
        )
        _stamp_index(root, fp)
    q = read_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 10)
    return ann_index.serve_ivf_topk(store, q, k=5, nprobe=2).orderBy(
        "query_id", "rank"
    )


def sim_ivfpq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 from the TWO stored indexes composed at serve time
    (jobs.ann_index.serve_ivfpq_topk — the FAISS IVFADC architecture):
    the IVF store's probed cells prune WHICH rows are read (bucket-dir
    pruning, ~nprobe/n_cells of the corpus), the PQ store's codes
    prune the BYTES per row read (8-bit codes vs raw vectors). Reuses
    the same two scratch stores sim_pq_serve / sim_ivf_serve build, so
    the three serve queries cost one build each per sf_dir. The fit
    and the probe are deterministic, so the oracle recomputes the
    pruned candidate set and the ADC ranking exactly."""
    from ..jobs import ann_index

    proot, pstale, pfp = _scratch_index_root(sf_dir, "pq_index")
    pstore = ann_index.PQIndexStore(spark, proot)
    if pstale or not pstore.exists():
        e = read_table(spark, sf_dir, "embeddings")
        ann_index.refresh_pq_index(
            pstore, e, "vec_id", "embedding", m=4, k=4, n_iter=2
        )
        _stamp_index(proot, pfp)
    iroot, istale, ifp = _scratch_index_root(sf_dir, "ivf_index")
    istore = ann_index.IVFIndexStore(spark, iroot)
    if istale or not istore.exists():
        e = read_table(spark, sf_dir, "embeddings")
        ann_index.refresh_ivf_index(
            istore, e, "vec_id", "embedding", n_cells=16, n_iter=0
        )
        _stamp_index(iroot, ifp)
    q = read_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 10)
    return ann_index.serve_ivfpq_topk(
        istore, pstore, q, topk=5, nprobe=2
    ).orderBy("query_id", "rank")


def _classifier_frame(
    spark: SparkSession, sf_dir: str, *arrays: str, spread: bool = False
) -> DataFrame:
    """The ONE staged input of the trained-classifier queries: a row
    per document, ``(doc_id, _lbl, *arrays)``, where ``_lbl`` is the
    heuristic quality seed label (quality ≥ 0.5) and ``arrays`` are
    the textstats.classifier_features columns the query's operators
    read — ``_toks`` for naive Bayes, ``_bks`` (64 buckets) for
    logreg. Every trainer, scorer and label join of a query reads
    this frame, so it is staged once (eager localCheckpoint: one job,
    the documents scan and the label/featurize expressions run once,
    every consumer reads the RDD and explodes its array lazily).
    Keeping only the used arrays keeps an NB-only query off the
    per-token md5 fold. One definition so the label expression, the
    feature geometry and the staging cannot drift between queries.
    ``spread`` repartitions the one-split documents scan before the
    per-row work (dedup._spread)."""
    from ..operators.textstats import classifier_features, quality_score

    docs = read_table(spark, sf_dir, "documents")
    if spread:
        docs = dedup._spread(docs)
    labeled = docs.select(
        "doc_id", "text", (quality_score(F.col("text")) >= 0.5).alias("_lbl")
    )
    return (
        classifier_features(labeled, n_buckets=64)
        .select("doc_id", "_lbl", *arrays)
        .transform(staging.stage, "staged")
    )


def td_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GPT-3/CCNet quality-classifier pattern, end to end in-plan:
    label the corpus by the heuristic quality gate (quality ≥ 0.5 as
    the seed labels), train a Laplace-smoothed naive-Bayes model in
    one pass (textstats.nb_train — integer counts, round-9 ln, fully
    oracle-recomputable), then score EVERY doc under the trained
    weights (decimal-summed token log-odds + class prior). The
    output's pred_pos column is the classifier's corpus filter; at
    scale the weights table is vocabulary-sized and broadcast, so the
    scoring pass is one explode + one broadcast join + a partial-agg
    groupBy — linear, shuffle-light, no UDF anywhere. Train, prior
    and score all read the one staged per-doc token frame
    (`_classifier_frame`)."""
    from ..operators.textstats import nb_score, nb_train

    d = _classifier_frame(spark, sf_dir, "_toks")
    weights, prior = nb_train(d, "_lbl")
    return (
        nb_score(d, weights, prior)
        .select("doc_id", "n_scored_tokens", "nb_score", "pred_pos")
        .orderBy("doc_id")
    )


def td_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fastText-shaped LINEAR quality classifier (CCNet/LLaMA
    pipelines: hash n-gram features, fit a linear model, filter the
    corpus by its score), trained as TWO unrolled full-batch gradient
    steps from w = 0 (textstats.logreg_train — the t_event_pagerank
    unrolled-iteration family) on 64 hashed unigram-presence buckets
    + bias, seed labels from the heuristic quality gate (quality ≥
    0.5, the same bootstrap td_quality_classifier uses for its
    closed-form NB sibling). Every doc then scores under the final
    weights; pred_pos is the corpus filter. Float discipline per the
    unigram lessons: decimal feature sums, sigmoid quantized at 6 dp
    both sides of exp, one ROUND per weight update — the oracle
    recomputes the exact weights. At scale: one staged per-doc bucket
    frame (`_classifier_frame`, spread: the per-token md5 fold runs
    on the scan partitioning otherwise, and the sf parquet is ONE
    split), two bounded-table broadcast joins per step, O(buckets)
    weight table."""
    from ..operators.textstats import logreg_score, logreg_train

    d = _classifier_frame(spark, sf_dir, "_bks", spread=True)
    weights = logreg_train(d, "_lbl", steps=2, lr=0.5)
    return logreg_score(d, weights).orderBy("doc_id")


def _trained_classifier_verdicts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared fit for the classifier audits (td_classifier_agreement,
    td_classifier_ensemble, td_ensemble_calibrated): the staged
    labeled per-doc frame (`_classifier_frame` with both feature
    arrays — it feeds both trainers, both scorers and the audits'
    label join) and the per-doc verdicts of the two trained scorers,
    `(_nb, _nb_score)` and `(_lr, _lr_score)` keyed by doc_id. One
    definition so the label expression, the staging and the 64/2 fit
    hyperparameters cannot drift between the audits. With one staged
    frame the two fits have no staging jobs left to overlap, so they
    run one after the other on the driver thread."""
    from ..operators.textstats import (
        logreg_score,
        logreg_train,
        nb_score,
        nb_train,
    )

    # negative result (r15): recomposing the label from
    # gopher_gate_counts' Arrow integers (the td_gopher_filter
    # pattern) measured SLOWER here — 0.84 → 1.04 s interleaved for
    # the staged frame — because the label pass must carry the TEXT
    # through the Python boundary both ways (the gate query only
    # carries source); quality_score alone is too cheap to buy the
    # round-trip. Labels verified identical; the expression fold
    # stays.
    d = _classifier_frame(spark, sf_dir, "_toks", "_bks", spread=True)
    nbw, prior = nb_train(d, "_lbl")
    lrw = logreg_train(d, "_lbl", steps=2, lr=0.5)
    nb = nb_score(d, nbw, prior).select(
        "doc_id",
        F.col("pred_pos").alias("_nb"),
        F.col("nb_score").alias("_nb_score"),
    )
    lr = logreg_score(d, lrw).select(
        "doc_id",
        F.col("pred_pos").alias("_lr"),
        F.col("lr_score").alias("_lr_score"),
    )
    return d, nb, lr


def td_classifier_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement audit between the two TRAINED quality classifiers —
    naive-Bayes (closed form) and logistic regression (unrolled GD) —
    fit on the same heuristic seed labels: the confusion cells, raw
    agreement rate, and Cohen's kappa a pipeline owner reads before
    swapping one filter for the other (high kappa: interchangeable;
    low kappa with similar PR: they disagree on WHICH docs, so an
    ensemble earns its cost). One row. Kappa's chance term uses the
    classifiers' own positive rates; all counters are exact BIGINTs
    and the two float divisions are written identically in the
    oracle. Scale shape: both scorers are explode + broadcast-weight
    joins + per-doc partial aggs; the audit joins two doc-keyed
    score tables and aggregates to one row. The labeled per-doc frame
    has FOUR consumers (nb_train, nb_score, logreg_train,
    logreg_score), so it is staged once; without that the final plan
    re-reads the documents scan and recomputes the quality_score
    label expression per consumer (3 avoidable corpus scans at
    100 TB). Staging + both train/score chains live in
    `_trained_classifier_verdicts`, shared with the ensemble
    audits."""
    _, nb, lr = _trained_classifier_verdicts(spark, sf_dir)
    cells = nb.join(lr, "doc_id").agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("_nb") & F.col("_lr")).alias("n_both_pos"),
        F.count_if(F.col("_nb") & ~F.col("_lr")).alias("n_nb_only"),
        F.count_if(~F.col("_nb") & F.col("_lr")).alias("n_lr_only"),
        F.count_if(~F.col("_nb") & ~F.col("_lr")).alias("n_both_neg"),
    )
    n = F.col("n_docs").cast("double")
    po = (F.col("n_both_pos") + F.col("n_both_neg")) / n
    nb_pos = (F.col("n_both_pos") + F.col("n_nb_only")).cast("double")
    lr_pos = (F.col("n_both_pos") + F.col("n_lr_only")).cast("double")
    pe = (
        nb_pos * lr_pos + (n - nb_pos) * (n - lr_pos)
    ) / (n * n)
    return cells.select(
        "n_docs",
        "n_both_pos",
        "n_nb_only",
        "n_lr_only",
        "n_both_neg",
        F.round(po, 9).alias("agreement_rate"),
        F.round(
            (po - pe) / F.nullif(F.lit(1.0) - pe, F.lit(0.0)), 9
        ).alias("kappa"),
    )


def td_classifier_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble-gate audit — the decision table a pipeline owner reads
    before turning on ``classifier="both"`` in the curation jobs: the
    confusion of EACH component classifier (NB, logreg) and of both
    ensemble policies (AND = intersection keep, the high-precision
    gate; OR = union keep, the high-recall gate) against the shared
    heuristic seed labels, one row per scorer with exact BIGINT cells
    and precision/recall as single float divisions over those cells
    (NULL when the scorer keeps nothing — nullif, written identically
    in the oracle). The motivating read: td_classifier_agreement's
    kappa says WHETHER the two classifiers disagree; this table says
    WHAT each policy's disagreement costs in precision vs recall.

    Scale shape: both scorers are the shared explode +
    broadcast-weight joins + per-doc partial aggs over ONE staged
    labeled frame (`_trained_classifier_verdicts`, shared with the
    agreement audit); the per-doc verdicts join doc-keyed, then ONE
    stack unpivot feeds a 4-group aggregate — output is O(scorers),
    never O(docs)."""
    d, nb, lr = _trained_classifier_verdicts(spark, sf_dir)
    per = (
        d.select("doc_id", "_lbl")
        .join(nb, "doc_id")
        .join(lr, "doc_id")
        .select(
            "_lbl",
            "_nb",
            "_lr",
            (F.col("_nb") & F.col("_lr")).alias("_and"),
            (F.col("_nb") | F.col("_lr")).alias("_or"),
        )
    )
    long = per.select(
        "_lbl",
        F.expr(
            "stack(4, 'ensemble_and', _and, 'ensemble_or', _or, "
            "'logreg', _lr, 'nb', _nb) AS (scorer, pred)"
        ),
    )
    return _ensemble_confusion(long)


def _ensemble_confusion(long: DataFrame) -> DataFrame:
    """Shared (scorer, pred, _lbl) → confusion/precision/recall tail
    of the two ensemble audits (td_classifier_ensemble,
    td_ensemble_calibrated) — one definition for the cross-engine
    determinism seam (exact BIGINT cells, the two float divisions
    written identically in both oracles) so a fix to one audit
    cannot silently diverge the other."""
    tp = F.count_if(F.col("pred") & F.col("_lbl"))
    fp = F.count_if(F.col("pred") & ~F.col("_lbl"))
    fn = F.count_if(~F.col("pred") & F.col("_lbl"))
    tn = F.count_if(~F.col("pred") & ~F.col("_lbl"))
    return (
        long.groupBy("scorer")
        .agg(
            F.count("*").alias("n_docs"),
            tp.alias("n_tp"),
            fp.alias("n_fp"),
            fn.alias("n_fn"),
            tn.alias("n_tn"),
        )
        .select(
            "scorer",
            "n_docs",
            "n_tp",
            "n_fp",
            "n_fn",
            "n_tn",
            F.round(
                F.col("n_tp")
                / F.nullif(
                    (F.col("n_tp") + F.col("n_fp")).cast("double"),
                    F.lit(0.0),
                ),
                9,
            ).alias("precision"),
            F.round(
                F.col("n_tp")
                / F.nullif(
                    (F.col("n_tp") + F.col("n_fn")).cast("double"),
                    F.lit(0.0),
                ),
                9,
            ).alias("recall"),
        )
        .orderBy("scorer")
    )


def td_ensemble_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble-gate audit at the CALIBRATED operating point — the
    confusion table of the gate that ACTUALLY runs in production:
    td_classifier_ensemble confuses on each scorer's raw default
    threshold (``pred_pos``), but ``fit_reference_model`` freezes
    percentile-calibrated floors (each scorer's keep set is the
    corpus's best-scoring ``keep_fraction``, never the raw sign — a
    hard cut degenerates to drop-all/keep-all whenever the features
    can't separate the seed labels) and ``curate_batch`` keeps
    ``score >= floor``. This query applies the SAME percentile
    arithmetic (keep_fraction = 0.5, the fit default: floor =
    percentile(score, 0.5), rounded to 9 dp — the cross-engine
    determinism seam; nb_score is already on a 9-dp grid and
    lr_score is an exact decimal cast, so the quantized floor
    compares identically in both engines) and reports each component
    and both ensemble policies against the shared seed labels.

    Scale shape: both scorers ride the ONE staged labeled frame
    (`_trained_classifier_verdicts`); the floors are a 1-row
    aggregate broadcast-cross-joined back (the lm_filter_stage
    percentile discipline); then the ensemble audit's stack unpivot
    and 4-group aggregate — output O(scorers), never O(docs)."""
    d, nb, lr = _trained_classifier_verdicts(spark, sf_dir)
    # the scored frame has TWO consumers (the floors aggregate and the
    # confusion pass) — without staging, both scorer chains re-plan and
    # the corpus scores twice; checkpoint the narrow doc-keyed frame
    # once (eager, lineage-truncating)
    scored = (
        d.select("doc_id", "_lbl")
        .join(nb, "doc_id")
        .join(lr, "doc_id")
        .transform(staging.stage, "staged")
    )
    floors = scored.agg(
        F.round(F.expr("percentile(_nb_score, 0.5)"), 9).alias("_nbf"),
        F.round(F.expr("percentile(_lr_score, 0.5)"), 9).alias("_lrf"),
    )
    per = (
        scored.crossJoin(F.broadcast(floors))
        .select(
            "_lbl",
            (F.col("_nb_score") >= F.col("_nbf")).alias("_nbk"),
            (F.col("_lr_score") >= F.col("_lrf")).alias("_lrk"),
        )
        .select(
            "_lbl",
            "_nbk",
            "_lrk",
            (F.col("_nbk") & F.col("_lrk")).alias("_and"),
            (F.col("_nbk") | F.col("_lrk")).alias("_or"),
        )
    )
    long = per.select(
        "_lbl",
        F.expr(
            "stack(4, 'ensemble_and', _and, 'ensemble_or', _or, "
            "'logreg_cal', _lrk, 'nb_cal', _nbk) AS (scorer, pred)"
        ),
    )
    return _ensemble_confusion(long)


def td_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023) over hashed n-gram
    features: target = the heuristic-quality seed set (quality ≥ 0.5,
    the same bootstrap td_quality_classifier uses), raw = the whole
    corpus; every doc scores sum-of-feature log(p_target/q_raw). Both
    models are 1024-row broadcast tables; fitting is one explode +
    partial-agg pass per corpus and scoring is one explode + broadcast
    join + partial-agg groupBy — linear, shuffle-light, no UDF. Docs
    with no features (NULL/empty text) pass through at weight 0."""
    from ..operators import dsir
    from ..operators.textstats import quality_score

    d = read_table(spark, sf_dir, "documents")
    return dsir.dsir_weights_flagged(
        d, quality_score(F.col("text")) >= 0.5, "doc_id", "text", n_buckets=1024
    ).orderBy("doc_id")


def ds_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR resampling, the selection half of the recipe: Gumbel-top-k
    on the td_dsir_weights log-ratios — equivalent to weighted
    sampling without replacement on exp(weight) but overflow-safe.
    Deterministic (portable-md5 Gumbel keys) and scale-safe
    (sort+limit = TakeOrderedAndProject, no single-partition window)."""
    from ..operators import dsir
    from ..operators.textstats import quality_score

    d = read_table(spark, sf_dir, "documents")
    w = dsir.dsir_weights_flagged(
        d, quality_score(F.col("text")) >= 0.5, "doc_id", "text", n_buckets=1024
    )
    return dsir.gumbel_topk(w, "doc_id", "dsir_weight", k=50).select(
        "doc_id", "dsir_weight", "gumbel_key"
    )


def td_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift vs the whole corpus — the
    monitoring number a pipeline owner watches between crawl snapshots
    or mixture revisions: the plug-in KL estimate

        KL(source ‖ corpus) = Σ_t (o_t/n_s) · ln((o_t·n_c)/(c_t·n_s))

    over the tokens the source actually emits (o_t > 0 — the standard
    plug-in truncation; absent tokens contribute zero mass). Each term
    ln is rounded to 9 dp and the per-source sum runs in
    DECIMAL(28,9), the repo's engine-portability discipline. Shape:
    one token explode, a (source, token) partial-agg, the corpus
    counts REAGGREGATED from that table (no second corpus pass), one
    token-keyed join, one partial-agg by source — linear, and the
    (source, token) table is the only vocabulary-sized shuffle. The
    (source, token) table feeds FOUR consumers (corpus counts, source
    totals, grand total, and the scoring join), so it is staged once
    once (eager localCheckpoint) — the local stand-in for writing it
    to a table, the
    same discipline as the minhash/containment joins — instead of
    re-exploding the corpus per consumer."""

    d = read_table(spark, sf_dir, "documents")
    st = (
        d.where(F.col("text").isNotNull())
        .select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .where(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count("*").alias("o"))
        .transform(staging.stage, "staged")
    )
    ct = st.groupBy("token").agg(F.sum("o").alias("c"))
    ns = st.groupBy("source").agg(F.sum("o").alias("n_s"))
    nc = st.agg(F.sum("o").alias("n_c"))
    # products computed in DOUBLE: the bigint o*n_c wraps past 2^63 at
    # real corpus scale (n_c ~1e13) — Spark would then ln(negative) to
    # NULL and silently drop terms while DuckDB raises; double*double
    # of exact integers is the same IEEE value on both engines
    term = F.round(
        (F.col("o") / F.col("n_s").cast("double"))
        * F.round(
            F.log(
                (F.col("o").cast("double") * F.col("n_c"))
                / (F.col("c").cast("double") * F.col("n_s"))
            ),
            9,
        ),
        9,
    )
    return (
        st.join(ct, "token")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nc))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.count("*").alias("n_distinct_tokens"),
            F.sum(term.cast("decimal(28,9)")).alias("_kl"),
        )
        .select(
            "source",
            "n_tokens",
            "n_distinct_tokens",
            F.round(F.col("_kl").cast("double"), 9).alias("kl_nats"),
        )
        .orderBy("source")
    )


def td_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise agreement between the four Gopher-gate components —
    the datasheet a pipeline owner reads to find REDUNDANT filters
    (near-1 Jaccard: one gate can go) and near-orthogonal ones (each
    earns its corpus pass). Per pair: Jaccard of the kept sets and
    the raw agreement rate. One corpus pass, no join: the 6 pairs'
    18 counters are conditional aggregates in a single-row agg, then
    a stack() to rows — the scale-right shape for a fixed gate list
    (the per-doc signals are computed once, reused by every
    counter). NULL-text docs fail every gate (coalesce false), so
    gates agree on them."""
    d = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    # the bigram ratio coalesces its empty-denominator case to 0.0
    # INSIDE the operator, so on NULL text the bare `<= 0.2` would be
    # TRUE — conjoin isNotNull so NULL-text docs fail this gate like
    # the other three (the docstring contract)
    gates = {
        "bigram": t.isNotNull() & (textstats._top_bigram_ratio_raw(t) <= 0.2),
        "length": textstats.token_count_ws(t).between(10, 10000),
        "quality": textstats.quality_score(t) >= 0.4,
        "repetition": textstats._dup_token_ratio_raw(t) <= 0.55,
    }
    sig = d.select(
        *[F.coalesce(v, F.lit(False)).alias(k) for k, v in gates.items()]
    )
    names = sorted(gates)
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1 :]]
    aggs = [F.count("*").alias("_n")]
    for a, b in pairs:
        aggs += [
            F.count_if(F.col(a) & F.col(b)).alias(f"_both_{a}_{b}"),
            F.count_if(F.col(a) | F.col(b)).alias(f"_either_{a}_{b}"),
            F.count_if(F.col(a) == F.col(b)).alias(f"_agree_{a}_{b}"),
        ]
    stacked = ", ".join(
        f"'{a}', '{b}', _both_{a}_{b}, _either_{a}_{b}, _agree_{a}_{b}"
        for a, b in pairs
    )
    return (
        sig.agg(*aggs)
        .selectExpr(
            "_n",
            f"stack({len(pairs)}, {stacked}) as "
            "(gate_a, gate_b, n_both, _either, _agree)",
        )
        .select(
            "gate_a",
            "gate_b",
            "n_both",
            F.round(
                F.col("n_both") / F.nullif(F.col("_either"), F.lit(0)).cast("double"),
                9,
            ).alias("jaccard"),
            F.round(F.col("_agree") / F.col("_n").cast("double"), 9).alias(
                "agree_rate"
            ),
        )
        .orderBy("gate_a", "gate_b")
    )


def td_classifier_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold sweep over the trained quality classifier — the
    calibration table read before picking the corpus cut: per
    decision threshold, precision/recall/F1 of the NB score against
    the seed labels (docs with a defined label only). One extra
    corpus-free pass over td_quality_classifier's machinery: all 15
    counters (tp/fp/fn × 5 thresholds) are conditional aggregates in
    a single-row agg over the scored-and-labeled frame, stacked to
    rows — never one pass per threshold. Train, score and the label
    join all read the one staged per-doc token frame
    (`_classifier_frame`), so the plan holds no documents scan; the
    session-level cache reset between queries releases it."""
    from ..operators.textstats import nb_score, nb_train

    d = _classifier_frame(spark, sf_dir, "_toks")
    weights, prior = nb_train(d, "_lbl")
    s = (
        nb_score(d, weights, prior)
        .join(d.select("doc_id", "_lbl"), "doc_id")
        .where(F.col("_lbl").isNotNull())
    )
    thresholds = [-2.0, -1.0, 0.0, 1.0, 2.0]
    lbl = F.col("_lbl")
    aggs = []
    for i, t in enumerate(thresholds):
        pos = F.col("nb_score") >= F.lit(t)
        aggs += [
            F.count_if(pos & lbl).alias(f"_tp{i}"),
            F.count_if(pos & ~lbl).alias(f"_fp{i}"),
            F.count_if(~pos & lbl).alias(f"_fn{i}"),
        ]
    stacked = ", ".join(
        f"CAST({t} AS DOUBLE), _tp{i}, _fp{i}, _fn{i}"
        for i, t in enumerate(thresholds)
    )
    return (
        s.agg(*aggs)
        .selectExpr(
            f"stack({len(thresholds)}, {stacked}) as (threshold, tp, fp, fn)"
        )
        .select(
            "threshold",
            (F.col("tp") + F.col("fp")).alias("n_pred_pos"),
            F.round(
                F.col("tp") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)).cast("double"),
                9,
            ).alias("precision_"),
            F.round(
                F.col("tp") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)).cast("double"),
                9,
            ).alias("recall_"),
            F.round(
                (2 * F.col("tp"))
                / F.nullif(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0)).cast(
                    "double"
                ),
                9,
            ).alias("f1"),
        )
        .orderBy("threshold")
    )


def td_logreg_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold sweep over the trained LOGREG quality classifier —
    td_classifier_pr_curve's linear-model twin, completing the audit
    symmetry (every calibration artifact the NB filter publishes, the
    logreg filter publishes too; td_classifier_ensemble then compares
    the two at their operating points). Same single-pass shape: all
    15 counters (tp/fp/fn × 5 thresholds) are conditional aggregates
    in ONE single-row agg over the scored-and-labeled frame, stacked
    to rows — never one pass per threshold. Thresholds span the
    lr_score range ([−0.01, 0.41] at sf0.01; the 64-bucket decimal
    weight sums are small by construction). Train, score and the
    label join all read the one staged per-doc bucket frame
    (`_classifier_frame`), so the plan holds no documents scan; the
    session-level cache reset between queries releases it."""
    from ..operators.textstats import logreg_score, logreg_train

    d = _classifier_frame(spark, sf_dir, "_bks")
    weights = logreg_train(d, "_lbl", steps=2)
    s = (
        logreg_score(d, weights)
        .join(d.select("doc_id", "_lbl"), "doc_id")
        .where(F.col("_lbl").isNotNull())
    )
    thresholds = [0.0, 0.1, 0.2, 0.3, 0.4]
    lbl = F.col("_lbl")
    aggs = []
    for i, t in enumerate(thresholds):
        pos = F.col("lr_score") >= F.lit(t)
        aggs += [
            F.count_if(pos & lbl).alias(f"_tp{i}"),
            F.count_if(pos & ~lbl).alias(f"_fp{i}"),
            F.count_if(~pos & lbl).alias(f"_fn{i}"),
        ]
    stacked = ", ".join(
        f"CAST({t} AS DOUBLE), _tp{i}, _fp{i}, _fn{i}"
        for i, t in enumerate(thresholds)
    )
    return (
        s.agg(*aggs)
        .selectExpr(
            f"stack({len(thresholds)}, {stacked}) as (threshold, tp, fp, fn)"
        )
        .select(
            "threshold",
            (F.col("tp") + F.col("fp")).alias("n_pred_pos"),
            F.round(
                F.col("tp") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)).cast("double"),
                9,
            ).alias("precision_"),
            F.round(
                F.col("tp") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)).cast("double"),
                9,
            ).alias("recall_"),
            F.round(
                (2 * F.col("tp"))
                / F.nullif(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0)).cast(
                    "double"
                ),
                9,
            ).alias("f1"),
        )
        .orderBy("threshold")
    )


def sim_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-5 for the probe set
    vec_id < 10 (λ=0.7, candidate pool 20) — the retrieval that
    penalizes redundancy, where plain top-k returns near-duplicates
    (similarity.mmr_topk: greedy rounds unrolled into one plan,
    max_by-per-query argmax, round-9 cosines — the oracle replays the
    identical greedy as 5 chained CTE rounds)."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return similarity.mmr_topk(e, q, k=5, pool=20, lam=0.7).orderBy(
        "query_id", "rank"
    )


def sim_jl_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss distance-preservation audit: project the
    probe set (vec_id < 10) from 64 to 16 dims with the deterministic
    md5-sign matrix (similarity.jl_project — the Achlioptas database-
    friendly projection, the preprocessing that shrinks vectors before
    LSH/IVF at corpus scale) and report, per probe pair, the original
    and projected euclidean distances and their ratio — the number
    that says whether 16 dims preserve THIS corpus's geometry. All
    folds are sequential in input order, every distance round-9 —
    the oracle regenerates the identical sign matrix from md5."""
    e = read_table(spark, sf_dir, "embeddings")
    p = e.where(F.col("vec_id") < 10).select(
        "vec_id",
        similarity.as_double(F.col("embedding")).alias("_v"),
        similarity.jl_project(F.col("embedding"), 16).alias("_p"),
    )
    a = p.select(
        F.col("vec_id").alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_p").alias("_pa"),
    )
    b = p.select(
        F.col("vec_id").alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_p").alias("_pb"),
    )
    d_o = F.round(similarity.euclidean(F.col("_va"), F.col("_vb")), 9)
    d_p = F.round(similarity.euclidean(F.col("_pa"), F.col("_pb")), 9)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            d_o.alias("d_orig"),
            d_p.alias("d_proj"),
            F.round(
                d_p / F.nullif(d_o, F.lit(0.0)),
                9,
            ).alias("dist_ratio"),
        )
        .orderBy("id_a", "id_b")
    )


def td_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the trained quality classifier against its
    seed labels — the one-number companion to td_classifier_pr_curve:
    the tie-corrected Mann-Whitney statistic

        AUC = (Σ_pos avg_rank − n_pos(n_pos+1)/2) / (n_pos·n_neg)

    with average ranks for tied scores. Computed WITHOUT a global
    window: per-distinct-score counts, then the range-partitioned
    prefix sum (ranking.global_cumsum_by_range — the only
    unpartitioned window runs over ≤ n_parts partition totals), then
    one aggregate. Rank sums are kept ×2 in DECIMAL(38,0) so every
    intermediate is an exact integer (avg ranks are halves); the one
    double division happens last. Train, score and the label join
    all read the one staged per-doc token frame
    (`_classifier_frame`)."""
    from ..operators import ranking
    from ..operators.textstats import nb_score, nb_train

    d = _classifier_frame(spark, sf_dir, "_toks")
    weights, prior = nb_train(d, "_lbl")
    s = (
        nb_score(d, weights, prior)
        .join(d.select("doc_id", "_lbl"), "doc_id")
        .where(F.col("_lbl").isNotNull())
    )
    g = s.groupBy("nb_score").agg(
        F.count("*").alias("n"), F.count_if(F.col("_lbl")).alias("pos")
    )
    c = ranking.global_cumsum_by_range(g, "nb_score", "n")
    rank2 = 2 * F.col("cum_before") + F.col("n") + 1  # 2 × average rank
    agg = c.agg(
        F.sum(F.col("pos").cast("decimal(38,0)") * rank2).alias("_r2"),
        F.sum("pos").alias("_np"),
        F.sum(F.col("n") - F.col("pos")).alias("_nn"),
    )
    numer = (
        F.col("_r2")
        - F.col("_np").cast("decimal(38,0)")
        * (F.col("_np") + 1).cast("decimal(38,0)")
    )
    return agg.select(
        F.col("_np").alias("n_pos"),
        F.col("_nn").alias("n_neg"),
        F.round(
            numer.cast("double")
            / F.nullif(2.0 * F.col("_np") * F.col("_nn"), F.lit(0.0)),
            9,
        ).alias("auc"),
    )


SPARK_QUERIES = {
    "ds_hash_split": ds_hash_split,
    "ds_det_sample": ds_det_sample,
    "ds_stratified_sample": ds_stratified_sample,
    "ds_temperature_mix": ds_temperature_mix,
    "ds_interleave": ds_interleave,
    "ds_group_sample": ds_group_sample,
    "ds_token_budget_mix": ds_token_budget_mix,
    "sk_binned_quantiles": sk_binned_quantiles,
    "td_length_balance": td_length_balance,
    "txt_langid_confusion": txt_langid_confusion,
    "sim_semantic_dedup_audit": sim_semantic_dedup_audit,
    "txt_pii_scrub": txt_pii_scrub,
    "dd_exact": dd_exact,
    "dd_minhash": dd_minhash,
    "dd_ngram_jaccard": dd_ngram_jaccard,
    "dd_containment": dd_containment,
    "dd_simhash": dd_simhash,
    "dd_embedding": dd_embedding,
    "dd_embedding_blocked": dd_embedding_blocked,
    "dd_cluster": dd_cluster,
    "td_curate": td_curate,
    "sim_brute_topk": sim_brute_topk,
    "sim_range_search": sim_range_search,
    "sim_lsh_topk": sim_lsh_topk,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_ivf_serve": sim_ivf_serve,
    "sim_kmeans": sim_kmeans,
    "td_cluster_balance": td_cluster_balance,
    "txt_profile": txt_profile,
    "mm_meta": mm_meta,
    "mm_phash_dedup": mm_phash_dedup,
    "mm_features": mm_features,
    "mm_resize": mm_resize,
    "mm_frames": mm_frames,
    "txt_main_content": txt_main_content,
    "txt_c4_clean": txt_c4_clean,
    "txt_topk_per_source": txt_topk_per_source,
    "txt_enum_lookup": txt_enum_lookup,
    "txt_length_quantiles": txt_length_quantiles,
    "txt_repetition": txt_repetition,
    "td_gopher_filter": td_gopher_filter,
    "td_dedup_sentence_spans": td_dedup_sentence_spans,
    "txt_gopher_repetition": txt_gopher_repetition,
    "txt_gopher_lines": txt_gopher_lines,
    "td_lang_gate": td_lang_gate,
    "td_lang_keep_rate": td_lang_keep_rate,
    "td_decontaminate": td_decontaminate,
    "txt_vocab_topk": txt_vocab_topk,
    "txt_tfidf_top_term": txt_tfidf_top_term,
    "txt_unigram_logprob": txt_unigram_logprob,
    "td_dup_weights": td_dup_weights,
    "td_ngram_contamination": td_ngram_contamination,
    "txt_bm25_topk": txt_bm25_topk,
    "td_pack_sequences": td_pack_sequences,
    "td_pack_bins": td_pack_bins,
    "td_chunk_manifest": td_chunk_manifest,
    "sk_kmv_distinct": sk_kmv_distinct,
    "sk_source_overlap": sk_source_overlap,
    "sk_hll_distinct": sk_hll_distinct,
    "sk_exact_quantiles": sk_exact_quantiles,
    "sk_cm_counts": sk_cm_counts,
    "txt_boilerplate": txt_boilerplate,
    "td_passage_dup_fraction": td_passage_dup_fraction,
    "td_dedup_passages": td_dedup_passages,
    "dd_exact_substring": dd_exact_substring,
    "dd_exact_substring_spans": dd_exact_substring_spans,
    "td_curriculum_order": td_curriculum_order,
    "txt_compression_ratio": txt_compression_ratio,
    "td_perplexity_buckets": td_perplexity_buckets,
    "td_global_shuffle": td_global_shuffle,
    "td_source_reputation": td_source_reputation,
    "sim_pq_codes": sim_pq_codes,
    "sim_pq_adc_topk": sim_pq_adc_topk,
    "sim_pq_serve": sim_pq_serve,
    "sim_ivfpq_serve": sim_ivfpq_serve,
    "sim_pq_recall_audit": sim_pq_recall_audit,
    "sim_ivf_recall_curve": sim_ivf_recall_curve,
    "txt_bpe_pairs": txt_bpe_pairs,
    "txt_unigram_pieces": txt_unigram_pieces,
    "txt_unigram_encode": txt_unigram_encode,
    "txt_unigram_encode_words": txt_unigram_encode_words,
    "txt_bpe_merges": txt_bpe_merges,
    "txt_bpe_encode": txt_bpe_encode,
    "sk_heavy_hitters": sk_heavy_hitters,
    "td_corpus_report": td_corpus_report,
    "td_priority_dedup": td_priority_dedup,
    "txt_bigram_logprob": txt_bigram_logprob,
    "txt_kn_logprob": txt_kn_logprob,
    "txt_kn_lang_logprob": txt_kn_lang_logprob,
    "txt_kn3_lang_logprob": txt_kn3_lang_logprob,
    "txt_kn4_logprob": txt_kn4_logprob,
    "txt_kn3_logprob": txt_kn3_logprob,
    "ds_weighted_sample": ds_weighted_sample,
    "td_quality_classifier": td_quality_classifier,
    "td_logreg_quality": td_logreg_quality,
    "td_classifier_agreement": td_classifier_agreement,
    "td_classifier_ensemble": td_classifier_ensemble,
    "td_ensemble_calibrated": td_ensemble_calibrated,
    "td_dsir_weights": td_dsir_weights,
    "ds_dsir_sample": ds_dsir_sample,
    "td_source_drift": td_source_drift,
    "td_filter_agreement": td_filter_agreement,
    "td_classifier_pr_curve": td_classifier_pr_curve,
    "td_logreg_pr_curve": td_logreg_pr_curve,
    "td_classifier_auc": td_classifier_auc,
    "sim_mmr_topk": sim_mmr_topk,
    "sim_jl_audit": sim_jl_audit,
}

_SHINGLES = """
    SELECT doc_id, lang,
           list_distinct(CASE WHEN len(w) >= 3
               THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
               ELSE [array_to_string(w, ' ')] END) AS sg
    FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)
"""

_JACCARD_PAIRS = f"""
    WITH sh AS MATERIALIZED ({_SHINGLES})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(len(list_intersect(a.sg, b.sg)) /
                 CAST(len(list_distinct(a.sg || b.sg)) AS DOUBLE), 9) AS jaccard_sim
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id {{block}}
"""

# Exact size-prune for a Jaccard >= t filter downstream: sg is already a
# DISTINCT shingle set (list_distinct in _SHINGLES), so
# J = |A∩B|/|A∪B| <= min(|A|,|B|)/max(|A|,|B|) — any pair failing the
# integer inequality below has J strictly < t and cannot pass the
# caller's threshold filter. Skips the O(len) list_intersect for the
# overwhelming majority of the O(n^2) candidate pairs; pure
# oracle-side speedup, zero result change (mirror-verified).
_SIZE_PRUNE_08 = (  # t = 0.8 = 4/5 -> 10*min >= 8*max, integer-exact
    "AND 10 * least(len(a.sg), len(b.sg)) >= 8 * greatest(len(a.sg), len(b.sg))"
)
_SIZE_PRUNE_05 = (  # t = 0.5 -> 2*min >= max
    "AND 2 * least(len(a.sg), len(b.sg)) >= greatest(len(a.sg), len(b.sg))"
)

_MD5_BUCKET = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000)"
    " / 1000000.0"
)

# The trained-NB chain shared by td_quality_classifier and
# td_classifier_pr_curve: seed labels (quality >= 0.5), one-pass
# Laplace counts, round-9 log-odds, DECIMAL(28,9) doc sums. Ends in
# `lab(doc_id, text, pos)`, `prior(lp)`, `scored(doc_id,
# n_scored_tokens, s)` — exactly textstats.nb_train/nb_score.
_LOGREG_SCORED_CTES = """lrb AS (
            SELECT doc_id, text, string_split(text, ' ') AS w,
                   regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')
                       AS stripped
            FROM documents
        ), lrlab AS (
            SELECT doc_id, text, w,
                   (ROUND(0.4 * (len(list_filter(w, x -> x IN
                             ('the','a','of','and','to','in','is','it')))
                             / CAST(NULLIF(len(w), 0) AS DOUBLE))
                       + 0.4 * LEAST(len(w) / 64.0, 1.0)
                       + 0.2 * (1 - (length(text) - length(stripped))
                             / CAST(NULLIF(length(text), 0) AS DOUBLE)),
                       9) >= 0.5) AS pos
            FROM lrb
        ), feats AS (
            SELECT doc_id,
                   CASE WHEN pos THEN 1.0 ELSE 0.0 END AS y,
                   unnest(list_append(list_distinct(list_transform(
                       list_filter(w, x -> x <> ''),
                       t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 64)),
                       -1)) AS bucket
            FROM lrlab WHERE pos IS NOT NULL AND text IS NOT NULL
        ), nd AS (
            SELECT COUNT(DISTINCT doc_id) AS n FROM feats
        ), g1 AS (
            SELECT bucket, SUM(CAST(0.5 - y AS DECIMAL(28,6))) AS gr
            FROM feats GROUP BY bucket
        ), w1 AS (
            SELECT bucket, ROUND(-0.5 * CAST(gr AS DOUBLE) / n, 6) AS wt
            FROM g1 CROSS JOIN nd
        ), z1 AS (
            SELECT f.doc_id, f.y,
                   SUM(CAST(COALESCE(w1.wt, 0.0) AS DECIMAL(28,6))) AS z
            FROM feats f LEFT JOIN w1 USING (bucket)
            GROUP BY f.doc_id, f.y
        ), r1 AS (
            SELECT doc_id,
                   ROUND(1.0 / (1.0 +
                       exp(-ROUND(CAST(z AS DOUBLE), 6))), 6) - y AS resid
            FROM z1
        ), g2 AS (
            SELECT f.bucket, SUM(CAST(r.resid AS DECIMAL(28,6))) AS gr
            FROM feats f JOIN r1 r USING (doc_id) GROUP BY f.bucket
        ), w2 AS MATERIALIZED (
            -- true GD: w2 = w1 - lr*grad(w1)/n (dropping w1 here is
            -- the fixed-point-of-(-lr*grad) bug the r12 review caught)
            SELECT g2.bucket,
                   ROUND(COALESCE(w1.wt, 0.0)
                         - 0.5 * CAST(g2.gr AS DOUBLE) / n, 6) AS wt
            FROM g2 LEFT JOIN w1 USING (bucket) CROSS JOIN nd
        ), sfeats AS (
            SELECT doc_id,
                   unnest(list_append(list_distinct(list_transform(
                       list_filter(w, x -> x <> ''),
                       t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 64)),
                       -1)) AS bucket
            FROM lrlab WHERE text IS NOT NULL
        ), lrscored AS (
            SELECT s.doc_id, COUNT(*) AS n_features,
                   SUM(CAST(COALESCE(w2.wt, 0.0) AS DECIMAL(28,6))) AS s
            FROM sfeats s LEFT JOIN w2 USING (bucket)
            GROUP BY s.doc_id
        )"""


_NB_SCORED_CTES = """b AS (
            SELECT doc_id, text, string_split(text, ' ') AS w,
                   regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g') AS stripped
            FROM documents
        ), lab AS (
            SELECT doc_id, text,
                   (ROUND(0.4 * (len(list_filter(w, x -> x IN
                             ('the','a','of','and','to','in','is','it')))
                             / CAST(NULLIF(len(w), 0) AS DOUBLE))
                       + 0.4 * LEAST(len(w) / 64.0, 1.0)
                       + 0.2 * (1 - (length(text) - length(stripped))
                             / CAST(NULLIF(length(text), 0) AS DOUBLE)),
                       9) >= 0.5) AS pos
            FROM b
        ), toks AS (
            SELECT pos, t AS tok FROM (
                SELECT pos, unnest(string_split(text, ' ')) AS t
                FROM lab WHERE pos IS NOT NULL AND text IS NOT NULL
            ) WHERE t <> ''
        ), counts AS (
            SELECT tok,
                   SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
                   SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cn
            FROM toks GROUP BY tok
        ), tot AS (
            SELECT SUM(cp) AS np, SUM(cn) AS nn, COUNT(*) AS v FROM counts
        ), weights AS MATERIALIZED (
            SELECT tok,
                   ROUND(
                     ROUND(ln((cp + 1) / CAST(np + v AS DOUBLE)), 9)
                   - ROUND(ln((cn + 1) / CAST(nn + v AS DOUBLE)), 9), 9) AS lo
            FROM counts CROSS JOIN tot
        ), prior AS (
            SELECT ROUND(ln(SUM(CASE WHEN pos THEN 1 ELSE 0 END)
                       / CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END)
                              AS DOUBLE)), 9) AS lp
            FROM lab WHERE pos IS NOT NULL
        ), dtoks AS (
            SELECT doc_id, t AS tok FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM lab WHERE text IS NOT NULL
            ) WHERE t <> ''
        ), scored AS (
            SELECT d.doc_id, COUNT(*) AS n_scored_tokens,
                   SUM(CAST(COALESCE(w.lo, 0.0) AS DECIMAL(28,9))) AS s
            FROM dtoks d LEFT JOIN weights w ON d.tok = w.tok
            GROUP BY d.doc_id
        )"""

# DSIR weights shared by td_dsir_weights and ds_dsir_sample: hashed
# unigram+bigram features -> 1024-bucket Laplace models (target =
# quality >= 0.5 docs, raw = all docs) -> per-doc DECIMAL(28,9) sum of
# round-9 log-ratios. Ends in a `weights(doc_id, n_features,
# dsir_weight)` CTE; docs with no features keep weight 0.0 via the
# left join (operators/dsir.py's pass-through invariant).
_DSIR_WEIGHTS_CTES = """docs AS (
            SELECT doc_id, text, string_split(text, ' ') AS w0,
                   list_filter(string_split(text, ' '), x -> x <> '') AS wf,
                   regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g') AS stripped
            FROM documents
        ), feat AS (
            SELECT doc_id,
                   list_concat(wf, CASE WHEN len(wf) >= 2
                       THEN list_transform(range(1, len(wf)),
                                           i -> wf[i] || ' ' || wf[i+1])
                       ELSE [] END) AS f,
                   (ROUND(0.4 * (len(list_filter(w0, x -> x IN
                             ('the','a','of','and','to','in','is','it')))
                             / CAST(NULLIF(len(w0), 0) AS DOUBLE))
                       + 0.4 * LEAST(len(w0) / 64.0, 1.0)
                       + 0.2 * (1 - (length(text) - length(stripped))
                             / CAST(NULLIF(length(text), 0) AS DOUBLE)),
                       9) >= 0.5) AS is_target
            FROM docs
        ), tb AS (
            SELECT ('0x' || substr(md5(t), 1, 8))::BIGINT % 1024 AS bucket
            FROM (SELECT unnest(f) AS t FROM feat WHERE is_target)
        ), tcnt AS (
            SELECT bucket, COUNT(*) AS c FROM tb GROUP BY bucket
        ), ttot AS (SELECT COALESCE(SUM(c), 0) AS n FROM tcnt),
        rb AS (
            SELECT doc_id,
                   ('0x' || substr(md5(t), 1, 8))::BIGINT % 1024 AS bucket
            FROM (SELECT doc_id, unnest(f) AS t FROM feat)
        ), rcnt AS (
            SELECT bucket, COUNT(*) AS c FROM rb GROUP BY bucket
        ), rtot AS (SELECT COALESCE(SUM(c), 0) AS n FROM rcnt),
        lr AS MATERIALIZED (
            SELECT b.bucket,
                   ROUND(
                     ROUND(ln((COALESCE(tc.c, 0) + 1)
                              / CAST(tt.n + 1024 AS DOUBLE)), 9)
                   - ROUND(ln((COALESCE(rc.c, 0) + 1)
                              / CAST(rt.n + 1024 AS DOUBLE)), 9), 9) AS lr
            FROM (SELECT unnest(range(1024)) AS bucket) b
            LEFT JOIN tcnt tc USING (bucket)
            LEFT JOIN rcnt rc USING (bucket)
            CROSS JOIN ttot tt CROSS JOIN rtot rt
        ), scored AS (
            SELECT doc_id, COUNT(*) AS n_features,
                   SUM(CAST(lr AS DECIMAL(28,9))) AS s
            FROM rb JOIN lr USING (bucket) GROUP BY doc_id
        ), weights AS (
            SELECT d.doc_id,
                   COALESCE(n_features, 0) AS n_features,
                   ROUND(CAST(COALESCE(s, CAST(0 AS DECIMAL(28,9)))
                              AS DOUBLE), 9) AS dsir_weight
            FROM documents d LEFT JOIN scored USING (doc_id)
        )"""

# The k=8 / 2-round deterministic spherical k-means fit shared by
# sim_kmeans and td_cluster_balance — ONE definition of the Lloyd
# rounds so the balance query's cells can never drift from the fit the
# engine checks directly. Mirrors similarity.kmeans_assign: lowest-id
# seeds (ids are dense 0-based here, so `vec_id < 8` IS the 8 lowest),
# decimal(38,12) centroid means rounded to 9, ties to the smaller cid.
_KMEANS_FIT_8 = """
        vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), c0 AS (
            SELECT vec_id AS cid, v AS cv FROM vecs WHERE vec_id < 8
        ), s1 AS (
            SELECT vec_id, v, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS rn
            FROM vecs CROSS JOIN c0
        ), a1 AS (
            SELECT vec_id, v, cid FROM s1 WHERE rn = 1
        ), comp1 AS (
            SELECT cid, u.pos AS pos, u.val AS val FROM (
                SELECT cid, unnest(list_transform(v, (x, i) ->
                    struct_pack(pos := i, val := x))) AS u
                FROM a1)
        ), m1 AS (
            SELECT cid, pos,
                   ROUND(CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
                         / COUNT(*), 9) AS c
            FROM comp1 GROUP BY cid, pos
        ), c1 AS (
            SELECT cid, list(c ORDER BY pos) AS cv FROM m1 GROUP BY cid
        ), s2 AS (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS rn
            FROM vecs CROSS JOIN c1
        )
"""

# The PQ codebook fit (m=4 subspaces, k=4 codewords, 2 Lloyd rounds,
# sublen = len(v)//4), shared by the three sim_pq_* twins — ONE
# definition so the codes, the ADC scores, and the recall audit can
# never drift from each other.  Mirrors similarity.pq_index: lowest-id
# seeds, decimal(38,12) centroid means rounded to 9, spherical assign
# with ties to the smaller code.
_PQ_FIT_CTES = """
        vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), sub AS (
            SELECT vec_id, sub_id,
                   v[(sub_id*(len(v)//4))+1 : (sub_id+1)*(len(v)//4)] AS sv
            FROM vecs CROSS JOIN (SELECT unnest(range(0, 4)) AS sub_id) s
        ), c0 AS (
            SELECT sub_id, vec_id AS code, sv AS cv FROM sub WHERE vec_id < 4
        ), s1 AS (
            SELECT vec_id, sub_id, sv, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id
                       ORDER BY list_cosine_similarity(sv, cv) DESC, code) AS rn
            FROM sub JOIN c0 USING (sub_id)
        ), a1 AS (
            SELECT vec_id, sub_id, sv, code FROM s1 WHERE rn = 1
        ), comp1 AS (
            SELECT sub_id, code, u.pos AS pos, u.val AS val FROM (
                SELECT sub_id, code, unnest(list_transform(sv, (x, i) ->
                    struct_pack(pos := i, val := x))) AS u
                FROM a1)
        ), m1 AS (
            SELECT sub_id, code, pos,
                   ROUND(CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
                         / COUNT(*), 9) AS c
            FROM comp1 GROUP BY sub_id, code, pos
        ), c1 AS (
            SELECT sub_id, code, list(c ORDER BY pos) AS cv
            FROM m1 GROUP BY sub_id, code
        ), s2 AS (
            SELECT vec_id, sub_id, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id
                       ORDER BY list_cosine_similarity(sv, cv) DESC, code) AS rn
            FROM sub JOIN c1 USING (sub_id)
        )"""

# the ADC scoring chain on top of the fit (queries = vec_id < 10)
_PQ_ADC_CTES = """, codes AS (
            SELECT vec_id, sub_id, code FROM s2 WHERE rn = 1
        ), qs AS (
            SELECT q.vec_id AS query_id, q.sub_id, q.sv AS qsv,
                   sqrt(list_dot_product(v.v, v.v)) AS qn
            FROM sub q JOIN vecs v ON q.vec_id = v.vec_id
            WHERE q.vec_id < 10
        ), lut AS (
            SELECT query_id, sub_id, code,
                   CAST(ROUND(list_dot_product(qsv, cv), 9)
                        AS DECIMAL(38,12)) AS pd,
                   CAST(ROUND(list_dot_product(cv, cv), 9)
                        AS DECIMAL(38,12)) AS cn2,
                   qn
            FROM qs JOIN c1 USING (sub_id)
        ), adc_scored AS (
            SELECT query_id, c.vec_id AS neighbor_id,
                   ROUND(CAST(SUM(pd) AS DOUBLE) /
                         (MIN(qn) * sqrt(CAST(SUM(cn2) AS DOUBLE))), 9)
                       AS approx_cos
            FROM codes c JOIN lut USING (sub_id, code)
            WHERE c.vec_id <> query_id
            GROUP BY query_id, c.vec_id
        ), adc_ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY approx_cos DESC, neighbor_id
            ) AS rank
            FROM adc_scored
        )"""

def _mmr_oracle(k: int = 5, pool: int = 20, lam: float = 0.7) -> str:
    """Unrolled greedy-MMR oracle: round r picks the argmax of
    lam*rel - (1-lam)*max_sim_to_picked over the surviving pool. The
    lambda literals are emitted with repr() so the SQL doubles are the
    SAME floats Spark's F.lit produces (1.0 - 0.7 is
    0.30000000000000004, NOT 0.3 — a 1-ulp literal mismatch flips
    round-9 boundaries)."""
    l1, l2 = repr(lam), repr(1.0 - lam)
    parts = [f"""cand AS MATERIALIZED (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY rel DESC, nid) AS rn
                FROM (
                    SELECT q.vec_id AS query_id, c.vec_id AS nid,
                           ROUND(list_cosine_similarity(
                               CAST(q.embedding AS DOUBLE[]),
                               CAST(c.embedding AS DOUBLE[])), 9) AS rel
                    FROM embeddings q JOIN embeddings c
                      ON q.vec_id <> c.vec_id
                    WHERE q.vec_id < 10
                )
            ) WHERE rn <= {pool}
        ), pairs AS MATERIALIZED (
            SELECT a.query_id, a.nid AS ia, b.nid AS ib,
                   ROUND(list_cosine_similarity(
                       CAST(ea.embedding AS DOUBLE[]),
                       CAST(eb.embedding AS DOUBLE[])), 9) AS s
            FROM cand a JOIN cand b
              ON a.query_id = b.query_id AND a.nid <> b.nid
            JOIN embeddings ea ON ea.vec_id = a.nid
            JOIN embeddings eb ON eb.vec_id = b.nid
        ), p1 AS (
            SELECT query_id, nid, m, 1 AS rank FROM (
                SELECT query_id, nid,
                       ROUND(CAST({l1} AS DOUBLE) * rel, 9) AS m,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY ROUND(CAST({l1} AS DOUBLE) * rel, 9)
                                    DESC, nid) AS rr
                FROM cand
            ) WHERE rr = 1
        )"""]
    picked = "SELECT query_id, nid, m, rank FROM p1"
    for r in range(2, k + 1):
        parts.append(f""", k{r} AS (
            SELECT query_id, nid FROM ({picked.replace('|', ' UNION ALL ')})
        ), s{r} AS (
            SELECT c.query_id, c.nid,
                   ROUND(CAST({l1} AS DOUBLE) * c.rel
                       - CAST({l2} AS DOUBLE) * COALESCE(ms.m, 0.0), 9) AS m
            FROM cand c
            LEFT JOIN (
                SELECT p.query_id, p.ia, MAX(p.s) AS m
                FROM pairs p JOIN k{r} kk
                  ON p.query_id = kk.query_id AND p.ib = kk.nid
                GROUP BY p.query_id, p.ia
            ) ms ON ms.query_id = c.query_id AND ms.ia = c.nid
            WHERE NOT EXISTS (SELECT 1 FROM k{r} kk
                WHERE kk.query_id = c.query_id AND kk.nid = c.nid)
        ), p{r} AS (
            SELECT query_id, nid, m, {r} AS rank FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY m DESC, nid) AS rr
                FROM s{r}
            ) WHERE rr = 1
        )""")
        picked += f"|SELECT query_id, nid, m, rank FROM p{r}"
    union = " UNION ALL ".join(
        f"SELECT query_id, nid, m, rank FROM p{r}" for r in range(1, k + 1)
    )
    return (
        "\n        WITH " + "".join(parts)
        + f"""
        SELECT query_id, nid AS neighbor_id, m AS mmr_score,
               CAST(rank AS INTEGER) AS rank
        FROM ({union}) ORDER BY query_id, rank
    """
    )



# Shared recursive-CTE chain for the unigram Viterbi oracles
# (txt_unigram_encode and its per-word debug twin): vocabulary,
# candidate inventory, 6-dp-quantized integer piece scores, the
# exact-integer forward DP, the backward step-count walk, and the
# per-word (np, score) segment table. Both entries append only their
# final SELECT, so the DP text can never drift between them.
#
# r11 portability rewrite (VERDICT r10 next-round #1b): the DP step
# previously chained three CROSS JOIN LATERAL subqueries inside the
# recursive member — the single least-version-stable construct in the
# whole oracle corpus, and the prime suspect for the driver-only hash
# red (local duckdb 1.0.0 green, driver version unknown). The
# candidate/argmax/backpointer expressions are now INLINED as plain
# CASE/greatest expressions (built once in Python below so the four
# length arms can't drift), and the seg table carries the raw BIGINT
# score — no DECIMAL(38,9)/DOUBLE cast survives anywhere in the
# chain. Pure integer arithmetic + plain expressions: nothing left
# for an engine version to evaluate differently.


def _unigram_dp_cand(length: int) -> str:
    """Candidate score for ending position i+1 with a piece of
    ``length``: prev-best + piece score, or the -inf sentinel when the
    piece is absent / the prefix unreachable / the position too early.
    Mirrors operators/unigram.py _dp_fold's cands[l-1] exactly.

    The previous best for a length-l piece is the score at position
    (i+1)-l, carried as the SCALAR column b{l-1} (b0 = position i,
    b1 = i-1, …): the DP state is four shifting scalars, not a list —
    list_append-state recursion plus a back-pointer walk was the last
    exotic construct in this oracle, and the one recursive form with a
    driver-green precedent (td_pack_bins) is plain scalar-state."""
    prev = f"d.b{length - 1}"
    gate = "" if length == 1 else f"d.i + 1 >= {length} AND "
    return (
        f"CASE WHEN {gate}k.g{length} IS NOT NULL"
        f" AND {prev} > -100000000000000000"
        f" THEN {prev} + k.g{length}"
        f" ELSE CAST(-1000000000000000000 AS BIGINT) END"
    )


_UNIGRAM_C = [_unigram_dp_cand(length) for length in (1, 2, 3, 4)]
_UNIGRAM_M = "greatest({}, {}, {}, {})".format(*_UNIGRAM_C)
# back-pointer: 0 if unreachable, else the SHORTEST length whose
# candidate equals the max (CASE order = the pinned tie rule)
_UNIGRAM_B = (
    f"CASE WHEN {_UNIGRAM_M} <= -100000000000000000 THEN 0"
    f" WHEN {_UNIGRAM_M} = {_UNIGRAM_C[0]} THEN 1"
    f" WHEN {_UNIGRAM_M} = {_UNIGRAM_C[1]} THEN 2"
    f" WHEN {_UNIGRAM_M} = {_UNIGRAM_C[2]} THEN 3"
    f" ELSE 4 END"
)

_UNIGRAM_DP_SQL = """
        WITH RECURSIVE words AS (
            SELECT doc_id, w FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents
            ) WHERE w <> ''
        ), vocab AS (
            SELECT w, COUNT(*) AS n FROM words GROUP BY w
        ), subs AS (
            SELECT n, unnest(flatten(list_transform(range(1, length(w) + 1),
                   s -> list_transform(
                       range(1, least(4, length(w) - s + 1) + 1),
                       l -> w[s : s + l - 1])))) AS piece
            FROM vocab
        ), cands AS (
            SELECT piece, CAST(SUM(n) AS BIGINT) AS cnt
            FROM subs GROUP BY piece
        ), kept AS (
            SELECT piece, cnt FROM cands
            WHERE length(piece) = 1 OR cnt >= 50
        ), tot AS (
            SELECT SUM(CAST(cnt AS DECIMAL(28,0))) AS t FROM kept
        ), lp AS (
            -- li = round(logp·1e6) as BIGINT: the DP below runs in
            -- exact integers (mirrors operators/unigram.py), so the
            -- back-pointer equality can never flip on an engine's
            -- float evaluation order; the 6-dp ln quantization is
            -- itself libm-proof (ulp ~7e-15 vs 5e-7 half-boundary)
            SELECT piece, cnt,
                   CAST(ROUND(ROUND(ln(CAST(cnt AS DOUBLE)
                            / CAST(t AS DOUBLE)), 6) * 1e6)
                        AS BIGINT) AS li
            FROM kept CROSS JOIN tot
        ), wl AS (
            SELECT w, length(w) AS len FROM vocab
        ), posl AS (
            SELECT w, len, unnest(range(1, len + 1)) AS pos FROM wl
        ), ent AS (
            SELECT posl.w, posl.pos, l.l, lp.li
            FROM posl CROSS JOIN (SELECT unnest(range(1, 5)) AS l) l
            JOIN lp ON lp.piece = posl.w[posl.pos - l.l + 1 : posl.pos]
            WHERE posl.pos >= l.l
        ), lk AS (
            SELECT w, pos,
                   MAX(CASE WHEN l = 1 THEN li END) AS g1,
                   MAX(CASE WHEN l = 2 THEN li END) AS g2,
                   MAX(CASE WHEN l = 3 THEN li END) AS g3,
                   MAX(CASE WHEN l = 4 THEN li END) AS g4
            FROM ent GROUP BY w, pos
        ), dp AS (
            -- scalar-state Viterbi: b0..b3 = best integer score at
            -- positions i, i-1, i-2, i-3; n0..n3 = piece count along
            -- the chosen path at those positions. Each step computes
            -- the new best (__M__) and the pinned shortest-length
            -- back-pointer (__B__) from the four shifting scalars —
            -- no list state, no back-pointer walk.
            SELECT w, len, 0 AS i,
                   CAST(0 AS BIGINT) AS b0,
                   CAST(-1000000000000000000 AS BIGINT) AS b1,
                   CAST(-1000000000000000000 AS BIGINT) AS b2,
                   CAST(-1000000000000000000 AS BIGINT) AS b3,
                   0 AS n0, 0 AS n1, 0 AS n2, 0 AS n3
            FROM wl
            UNION ALL
            SELECT d.w, d.len, d.i + 1,
                   __M__ AS b0,
                   d.b0 AS b1, d.b1 AS b2, d.b2 AS b3,
                   CASE __B__
                       WHEN 1 THEN d.n0 + 1
                       WHEN 2 THEN d.n1 + 1
                       WHEN 3 THEN d.n2 + 1
                       WHEN 4 THEN d.n3 + 1
                       ELSE 0 END AS n0,
                   d.n0 AS n1, d.n1 AS n2, d.n2 AS n3
            FROM dp d
            JOIN lk k ON k.w = d.w AND k.pos = d.i + 1
            WHERE d.i < d.len
        ), seg AS (
            SELECT w, n0 AS np, b0 AS score FROM dp WHERE i = len
        )
""".replace("__M__", _UNIGRAM_M).replace("__B__", _UNIGRAM_B)

# --- Gopher repetition suite: per-n CTE fragments generated in
# Python so the five n values share one definition. Top-n = max gram
# count over gram slots; dup-n coverage = interval union of
# duplicated-gram occurrences via a running-max window (prev_end),
# mirroring textstats.dup_ngram_coverage's fold.
def _rep_top_cte(n: int) -> str:
    return f"""
        t{n} AS (
            SELECT doc_id, MAX(c) AS m, ANY_VALUE(L) AS L FROM (
                SELECT doc_id, g, COUNT(*) AS c, ANY_VALUE(L) AS L
                FROM (
                    SELECT doc_id, L,
                           array_to_string(w[s : s + {n - 1}], ' ') AS g
                    FROM (
                        SELECT doc_id, L, w,
                               unnest(range(1, L - {n} + 2)) AS s
                        FROM rb WHERE L >= {n}
                    )
                ) GROUP BY doc_id, g
            ) GROUP BY doc_id
        )"""


def _rep_dup_cte(n: int) -> str:
    return f"""
        u{n} AS (
            SELECT doc_id, ANY_VALUE(L) AS L, SUM(covd) AS cov FROM (
                SELECT doc_id, L,
                       GREATEST(0, (s + {n - 1})
                           - GREATEST(s, COALESCE(
                                 MAX(s + {n - 1}) OVER (
                                     PARTITION BY doc_id ORDER BY s
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) + 1) + 1) AS covd
                FROM (
                    SELECT doc_id, L, s,
                           COUNT(*) OVER (PARTITION BY doc_id, g) AS c
                    FROM (
                        SELECT doc_id, L, s,
                               array_to_string(w[s : s + {n - 1}], ' ') AS g
                        FROM (
                            SELECT doc_id, L, w,
                                   unnest(range(1, L - {n} + 2)) AS s
                            FROM rb WHERE L >= {n}
                        )
                    )
                ) WHERE c >= 2
            ) GROUP BY doc_id
        )"""


_GOPHER_REPETITION_SQL = (
    """
        WITH rb AS (
            SELECT doc_id, string_split(text, ' ') AS w,
                   len(string_split(text, ' ')) AS L
            FROM documents
        ),"""
    + ",".join([_rep_top_cte(n) for n in (2, 3, 4)])
    + ","
    + ",".join([_rep_dup_cte(n) for n in (3, 4)])
    + """
        SELECT rb.doc_id, rb.L AS n_tokens,
               ROUND(COALESCE(t2.m / CAST(rb.L - 1 AS DOUBLE), 0.0), 9)
                   AS top_2gram_ratio,
               ROUND(COALESCE(t3.m / CAST(rb.L - 2 AS DOUBLE), 0.0), 9)
                   AS top_3gram_ratio,
               ROUND(COALESCE(t4.m / CAST(rb.L - 3 AS DOUBLE), 0.0), 9)
                   AS top_4gram_ratio,
               ROUND(COALESCE(u3.cov / CAST(rb.L AS DOUBLE), 0.0), 9)
                   AS dup_3gram_coverage,
               ROUND(COALESCE(u4.cov / CAST(rb.L AS DOUBLE), 0.0), 9)
                   AS dup_4gram_coverage
        FROM rb
        LEFT JOIN t2 USING (doc_id)
        LEFT JOIN t3 USING (doc_id)
        LEFT JOIN t4 USING (doc_id)
        LEFT JOIN u3 USING (doc_id)
        LEFT JOIN u4 USING (doc_id)
        ORDER BY rb.doc_id
    """
)


# --- language-aware curation: SQL fragments generated from the same
# constants the Spark path reads (textstats.LANG_MARKERS,
# langcurate.DEFAULT_LANG_GATES), so marker lists and thresholds
# cannot drift between engines (the shared-DP-constant discipline).
_LANGID_LANGS = list(textstats.LANG_MARKERS)


def _marker_score_sql(markers: tuple[str, ...]) -> str:
    """DuckDB twin of textstats.marker_score: token filter for word
    markers, per-char replace-length-delta for space-free scripts
    (same branch predicate as the Spark side)."""
    if textstats._space_free_markers(markers):
        return " + ".join(
            f"(length(text) - length(replace(text, '{m}', '')))"
            for m in markers
        )
    return (
        "len(list_filter(w, x -> x IN ("
        + ", ".join(f"'{m}'" for m in markers)
        + ")))"
    )


_LANGID_SCORES_SQL = ",\n                ".join(
    f"{_marker_score_sql(markers)} AS s_{lang}"
    for lang, markers in textstats.LANG_MARKERS.items()
)
_LANGID_CASE_SQL = (
    "CASE "
    + " ".join(
        "WHEN "
        + " AND ".join(
            [f"s_{l} > 0"]
            + [f"s_{l} >= s_{m}" for m in _LANGID_LANGS[i + 1 :]]
        )
        + f" THEN '{l}'"
        for i, l in enumerate(_LANGID_LANGS)
    )
    + " ELSE 'und' END"
)
_LANG_GATE_ROWS_SQL = ",\n                 ".join(
    "('{}', {}, {}, {}, {}, {})".format(
        lang,
        *langcurate.DEFAULT_LANG_GATES.get(
            lang, langcurate.DEFAULT_LANG_GATES["default"]
        ),
    )
    for lang in _LANGID_LANGS + ["und"]
)
# shared prefix: per-doc signals + predicted lang + the gate join
_LANG_GATE_SQL = f"""
        WITH b AS (
            SELECT doc_id, source, text, string_split(text, ' ') AS w,
                   regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g') AS stripped
            FROM documents
        ), sc AS (
            SELECT *, {_LANGID_SCORES_SQL}
            FROM b
        ), c AS (
            SELECT *, {_LANGID_CASE_SQL} AS lang,
                   CASE WHEN len(w) >= 2
                        THEN list_transform(range(1, len(w)),
                                            i -> w[i] || ' ' || w[i+1])
                        ELSE [] END AS bg
            FROM sc
        ), sig AS (
            SELECT doc_id, source, text, lang, len(w) AS n_tokens,
                   (len(w) - len(list_distinct(w)))
                       / CAST(NULLIF(len(w), 0) AS DOUBLE) AS _dup,
                   COALESCE(
                       CAST(list_max(list_transform(list_distinct(bg),
                            d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE)
                       / NULLIF(len(bg), 0), 0.0) AS _topbg,
                   ROUND(0.4 * (len(list_filter(w, x -> x IN
                             ('the','a','of','and','to','in','is','it')))
                             / CAST(NULLIF(len(w), 0) AS DOUBLE))
                       + 0.4 * LEAST(len(w) / 64.0, 1.0)
                       + 0.2 * (1 - (length(text) - length(stripped))
                             / CAST(NULLIF(length(text), 0) AS DOUBLE)),
                       9) AS quality
            FROM c
        ), g AS (
            SELECT * FROM (VALUES
                 {_LANG_GATE_ROWS_SQL})
                 AS t(lang, min_tokens, max_tokens, max_dup_ratio,
                      max_top_bigram, min_quality)
        ), kept AS (
            SELECT doc_id, source, text, sig.lang AS lang, n_tokens,
                   _dup, _topbg, quality
            FROM sig JOIN g ON sig.lang = g.lang
            WHERE n_tokens BETWEEN min_tokens AND max_tokens
              AND _dup <= max_dup_ratio
              AND _topbg <= max_top_bigram
              AND quality >= min_quality
        )
"""

# the 4-gram KN probability ladder, composed bottom-up so each level
# appears ONCE in source (the expansion inlines P2 four times and P3
# twice — exactly the nesting the Spark scorer's `when` chain builds);
# every cast and operation order mirrors kn_score_from_types at order
# 4, term by term
_KN4_PC = "CAST(COALESCE(cont.n1c4, 1) AS DOUBLE) / b3"
_KN4_P2 = f"""CASE WHEN ctx2.c3n IS NOT NULL THEN
                  (GREATEST(CAST(COALESCE(bn2.cn34, 0) - 0.75
                            AS DOUBLE), 0.0)
                   + 0.75 * ctx2.n1f2n * ({_KN4_PC}))
                  / CAST(ctx2.c3n AS DOUBLE)
              ELSE {_KN4_PC} END"""
_KN4_P3 = f"""CASE WHEN ctx3.c23n IS NOT NULL THEN
                  (GREATEST(CAST(COALESCE(bn3.cn234, 0) - 0.75
                            AS DOUBLE), 0.0)
                   + 0.75 * ctx3.n1f3n * ({_KN4_P2}))
                  / CAST(ctx3.c23n AS DOUBLE)
              ELSE {_KN4_P2} END"""

ORACLE_SQL = {
    # thresholds written as the same float sums Python accumulates
    # (0.8 + 0.1, not 0.9) so borderline buckets agree bit-for-bit
    "ds_hash_split": f"""
        WITH b AS (SELECT lang, {_MD5_BUCKET} AS bkt FROM documents)
        SELECT CASE WHEN bkt < 0.8 THEN 'train'
                    WHEN bkt < 0.8 + 0.1 THEN 'eval'
                    ELSE 'test' END AS split,
               lang, COUNT(*) AS n
        FROM b GROUP BY 1, 2
    """,
    "ds_det_sample": f"""
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE {_MD5_BUCKET} < 0.1
    """,
    "ds_stratified_sample": f"""
        SELECT doc_id, lang, source FROM documents
        WHERE {_MD5_BUCKET} < CASE source
            WHEN 'src0' THEN 0.5
            WHEN 'src1' THEN 0.25
            WHEN 'src2' THEN 0.25
            ELSE 0.1 END
    """,
    # generated from the SAME fragments as _LANG_GATE_SQL (markers,
    # argmax tie order, the zh substring fallback) — previously a
    # hand-written twin, the one lang-id oracle that could drift
    "txt_langid_confusion": f"""
        WITH base AS (
            SELECT lang AS gold, text, string_split(text, ' ') AS w
            FROM documents
        ), scores AS (
            SELECT gold, {_LANGID_SCORES_SQL}
            FROM base
        ), pred AS (
            SELECT gold, {_LANGID_CASE_SQL} AS pred
            FROM scores
        ), cells AS (
            SELECT gold, pred, COUNT(*) AS n FROM pred GROUP BY gold, pred
        )
        SELECT gold, pred, n,
               ROUND(n / CAST(SUM(n) OVER (PARTITION BY gold) AS DOUBLE), 9)
                   AS share
        FROM cells ORDER BY gold, pred
    """,
    "sim_semantic_dedup_audit": """
        WITH pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                         CAST(b.embedding AS DOUBLE[])), 9) AS cosine_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                  CAST(b.embedding AS DOUBLE[])) >= 0.45
        ), meta AS (
            SELECT doc_id, lang, source FROM documents
        )
        SELECT la.lang AS lang_a, lb.lang AS lang_b,
               COUNT(*) AS n_pairs,
               CAST(SUM(CASE WHEN la.source = lb.source THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_same_source,
               ROUND(AVG(cosine_sim), 6) AS avg_cosine
        FROM pairs p
        JOIN meta la ON p.id_a = la.doc_id
        JOIN meta lb ON p.id_b = lb.doc_id
        GROUP BY la.lang, lb.lang
        ORDER BY lang_a, lang_b
    """,
    "td_length_balance": """
        WITH sized AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
                   ROUND(
                     0.4 * (len(list_filter(string_split(text, ' '),
                            x -> x IN ('the','a','of','and','to','in','is','it')))
                            / CAST(NULLIF(len(string_split(text, ' ')), 0) AS DOUBLE))
                   + 0.4 * LEAST(len(string_split(text, ' ')) / 64.0, 1.0)
                   + 0.2 * (1 - (length(text) - length(
                           regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                            / CAST(NULLIF(length(text), 0) AS DOUBLE)), 9)
                       AS quality
            FROM documents
        ), bounds AS (
            SELECT MIN(n_tokens) AS _lo, MAX(n_tokens) AS _hi FROM sized
        ), binned AS (
            SELECT doc_id, n_tokens, quality,
                   CASE WHEN _hi > _lo
                        THEN LEAST(CAST(FLOOR((n_tokens - _lo) * 10
                                   / (_hi - _lo)) AS BIGINT) + 1, 10)
                        ELSE CAST(1 AS BIGINT) END AS len_bin
            FROM sized CROSS JOIN bounds
        )
        SELECT len_bin, CAST(rnk AS INTEGER) AS rnk, doc_id, n_tokens, quality
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY len_bin
                       ORDER BY quality DESC, doc_id) AS rnk
            FROM binned
        )
        WHERE rnk <= 20
        ORDER BY len_bin, rnk
    """,
    "ds_temperature_mix": f"""
        WITH counts AS (
            SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang
        ), mx AS (
            SELECT MAX(n_lang) AS _n_max FROM counts
        ), rates AS (
            SELECT lang, n_lang,
                   ROUND(LEAST(1.0,
                       0.3 * SQRT(CAST(_n_max AS DOUBLE) / n_lang)), 9) AS rate
            FROM counts CROSS JOIN mx
        )
        SELECT d.lang, r.n_lang, r.rate, COUNT(*) AS n_kept
        FROM documents d JOIN rates r USING (lang)
        WHERE {_MD5_BUCKET} < r.rate
        GROUP BY d.lang, r.n_lang, r.rate
        ORDER BY d.lang
    """,
    # counts mirror the scrub ORDER (each category counted on the text
    # with earlier categories already replaced): counting everything on
    # the original would double-count, e.g. the digit run inside an
    # email also matches the phone regex
    "txt_pii_scrub": """
        WITH s1 AS (
            SELECT doc_id, text,
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1
            FROM documents
        ), s2 AS (
            SELECT doc_id, text, t1,
                   regexp_replace(t1,
                       '\\b(\\d{1,3}\\.)(\\d{1,3}\\.)(\\d{1,3}\\.)\\d{1,3}\\b',
                       '<IP>', 'g') AS t2
            FROM s1
        )
        SELECT doc_id,
               regexp_replace(t2, '\\+?\\d[\\d()\\- ]{7,}\\d',
                   '<PHONE>', 'g') AS clean_text,
               len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
               len(regexp_extract_all(t1,
                   '\\b(\\d{1,3}\\.)(\\d{1,3}\\.)(\\d{1,3}\\.)\\d{1,3}\\b')) AS n_ipv4,
               len(regexp_extract_all(t2,
                   '\\+?\\d[\\d()\\- ]{7,}\\d')) AS n_phones
        FROM s2
    """,
    "dd_exact": """
        SELECT doc_id, lang, source FROM (
            SELECT doc_id, lang, source,
                   ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) rn
            FROM documents
        ) WHERE rn = 1
    """,
    "txt_vocab_topk": """
        SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS doc_freq
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents)
        GROUP BY token
        ORDER BY n DESC, token
        LIMIT 50
    """,
    "txt_tfidf_top_term": """
        WITH terms AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), tf AS (
            SELECT doc_id, token, COUNT(*) AS tf
            FROM terms GROUP BY doc_id, token
        ), df AS (
            SELECT token, COUNT(DISTINCT doc_id) AS doc_freq
            FROM terms GROUP BY token
        ), scored AS (
            SELECT tf.doc_id, tf.token, tf.tf, df.doc_freq,
                   tf.tf * ln(((SELECT COUNT(*) FROM documents) + 1.0)
                              / (df.doc_freq + 1.0)) AS _score
            FROM tf JOIN df ON tf.token = df.token
        )
        SELECT doc_id, token, tf, doc_freq, ROUND(_score, 9) AS tfidf
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY _score DESC, token
            ) AS _rn
            FROM scored
        )
        WHERE _rn = 1
        ORDER BY doc_id
    """,
    # same split thresholds as ds_hash_split (float sums, 0.8 + 0.1);
    # 13-gram = w[i:i+12] inclusive slice = 13 tokens
    "td_ngram_contamination": f"""
        WITH s AS (
            SELECT doc_id, text,
                   CASE WHEN bkt < 0.8 THEN 'train'
                        WHEN bkt < 0.8 + 0.1 THEN 'eval'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, text, {_MD5_BUCKET} AS bkt FROM documents)
        ), g AS (
            SELECT doc_id, split,
                   unnest(list_transform(range(1, len(w) - 11),
                                         i -> array_to_string(w[i:i+12], ' ')))
                       AS gram
            FROM (SELECT doc_id, split, string_split(text, ' ') AS w FROM s)
            WHERE len(w) >= 13
        ), ev AS (
            SELECT DISTINCT gram FROM g WHERE split <> 'train'
        )
        SELECT t.doc_id, COUNT(DISTINCT t.gram) AS n_shared_grams
        FROM g t JOIN ev USING (gram)
        WHERE t.split = 'train'
        GROUP BY t.doc_id ORDER BY doc_id
    """,
    "ds_group_sample": """
        SELECT doc_id, source, k FROM (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                            AS BIGINT),
                       doc_id) AS k
            FROM documents
        ) WHERE k <= 5 ORDER BY source, k
    """,
    # every sum over 6-dp decimals (exact), every division a single
    # float op on exact inputs — bit-identical allocations
    "ds_token_budget_mix": """
        WITH src AS (
            -- CAST: SUM over BIGINT is HUGEINT in DuckDB, which the
            -- driver's pandas fetch renders as float64 (Spark: bigint)
            SELECT source,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS t_tokens
            FROM documents GROUP BY source
        ), w AS (
            SELECT source, t_tokens,
                   CAST(ROUND(POWER(CAST(t_tokens AS DOUBLE), 0.5), 6)
                        AS DECIMAL(28,6)) AS pw
            FROM src
        ), tot AS (
            SELECT SUM(t_tokens) AS total, SUM(pw) AS wsum FROM w
        ), s1 AS (
            SELECT source, t_tokens, pw,
                   CAST(ROUND(CAST(CAST(FLOOR(total / 2) AS BIGINT) AS DOUBLE)
                              * CAST(pw AS DOUBLE) / CAST(wsum AS DOUBLE), 6)
                        AS DECIMAL(28,6)) AS a1,
                   CAST(t_tokens * 2 AS DECIMAL(28,6)) AS cap
            FROM w CROSS JOIN tot
        ), s2 AS (
            SELECT *, LEAST(a1, cap) AS alloc1, a1 > cap AS capped FROM s1
        ), pools AS (
            SELECT SUM(a1 - alloc1) AS leftover,
                   SUM(CASE WHEN NOT capped THEN pw END) AS uw
            FROM s2
        ), s3 AS (
            SELECT source, t_tokens, cap, alloc1,
                   CAST(CASE WHEN capped OR leftover <= 0 THEN 0.0
                        ELSE ROUND(CAST(leftover AS DOUBLE) * CAST(pw AS DOUBLE)
                                   / CAST(uw AS DOUBLE), 6) END
                        AS DECIMAL(28,6)) AS addl
            FROM s2 CROSS JOIN pools
        )
        SELECT source, t_tokens,
               ROUND(CAST(LEAST(alloc1 + addl, cap) AS DOUBLE), 6)
                   AS tokens_alloc,
               ROUND(CAST(LEAST(alloc1 + addl, cap) AS DOUBLE) / t_tokens, 6)
                   AS epochs
        FROM s3 ORDER BY source
    """,
    # identical float bin math in both engines; quantile = upper edge
    # of the first bin whose cumulative fraction reaches p
    "sk_binned_quantiles": """
        WITH b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
        binned AS (
            SELECT event_type,
                   CASE WHEN hi > lo
                        THEN LEAST(FLOOR((value - lo) * 100 / (hi - lo)) + 1, 100)
                        ELSE 1 END AS bucket
            FROM events CROSS JOIN b
        ), counts AS (
            SELECT event_type, bucket, COUNT(*) AS n FROM binned GROUP BY 1, 2
        ), cum AS (
            SELECT event_type, bucket,
                   SUM(n) OVER (PARTITION BY event_type ORDER BY bucket) AS c,
                   SUM(n) OVER (PARTITION BY event_type) AS tot
            FROM counts
        )
        SELECT event_type, p,
               ROUND(lo + qb * (hi - lo) / 100, 6) AS q_est
        FROM (
            SELECT event_type, p, MIN(bucket) AS qb
            FROM cum CROSS JOIN (VALUES (0.5e0), (0.95e0), (0.99e0)) ps(p)
            WHERE c >= p * tot
            GROUP BY event_type, p
        ) CROSS JOIN b
        ORDER BY event_type, p
    """,
    # virtual-time interleave: k/w is one float division of exact ints
    # in both engines; ties are impossible ((source, k) is unique)
    "ds_interleave": """
        WITH w AS (
            SELECT doc_id, source,
                   CAST(CAST(substr(source, 4) AS INT) % 3 + 1 AS DOUBLE) AS wgt
            FROM documents
        ), r AS (
            SELECT doc_id, source, wgt,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS k
            FROM w
        )
        SELECT doc_id, source, k,
               ROW_NUMBER() OVER (ORDER BY k / wgt, source, k) AS position
        FROM r ORDER BY position
    """,
    # per-token log-probs rounded then summed as DECIMAL (associative),
    # one final float division — engine-identical
    "txt_unigram_logprob": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), freq AS (
            SELECT token, COUNT(*) AS tf FROM toks GROUP BY token
        ), tot AS (
            SELECT SUM(tf) AS total FROM freq
        )
        SELECT doc_id, COUNT(*) AS n_tokens,
               ROUND(CAST(SUM(CAST(ROUND(ln(CAST(tf AS DOUBLE) / total), 9)
                                   AS DECIMAL(28,9))) AS DOUBLE)
                     / COUNT(*), 6) AS avg_logprob
        FROM toks JOIN freq USING (token) CROSS JOIN tot
        GROUP BY doc_id ORDER BY doc_id
    """,
    "txt_unigram_encode_words": _UNIGRAM_DP_SQL + """
        SELECT w, CAST(np AS INTEGER) AS n_pieces,
               CAST(score AS BIGINT) AS wlp_int
        FROM seg ORDER BY w
    """,
    # same toks/freq/tot + decimal-sum discipline as txt_unigram_logprob
    # (ranking runs on the UNROUNDED average — identical IEEE division
    # of identical decimal sums, so the order can't differ); tertile
    # boundary is exact integer arithmetic, doc_id breaks score ties
    "td_perplexity_buckets": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), freq AS (
            SELECT token, COUNT(*) AS tf FROM toks GROUP BY token
        ), tot AS (
            SELECT SUM(tf) AS total FROM freq
        ), scored AS (
            SELECT doc_id, COUNT(*) AS n_tokens,
                   CAST(SUM(CAST(ROUND(ln(CAST(tf AS DOUBLE) / total), 9)
                                 AS DECIMAL(28,9))) AS DOUBLE)
                       / COUNT(*) AS avg_raw
            FROM toks JOIN freq USING (token) CROSS JOIN tot
            GROUP BY doc_id
        ), nn AS (
            SELECT COUNT(*) AS n FROM scored
        ), r AS (
            SELECT doc_id, n_tokens, avg_raw,
                   ROW_NUMBER() OVER (ORDER BY avg_raw DESC, doc_id)
                       AS rk
            FROM scored
        )
        SELECT doc_id, n_tokens, ROUND(avg_raw, 6) AS avg_logprob,
               CASE ((rk - 1) * 3) // n WHEN 0 THEN 'head'
                    WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
        FROM r CROSS JOIN nn ORDER BY doc_id
    """,
    # connected components over the exact-Jaccard pairs (as dd_cluster),
    # then keep min-id representatives carrying their component size
    "td_dup_weights": (
        "WITH RECURSIVE pairs AS MATERIALIZED (SELECT * FROM ("
        + _JACCARD_PAIRS.format(block=_SIZE_PRUNE_08)
        + """) WHERE jaccard_sim >= 0.8
        ), edges AS MATERIALIZED (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ), nodes AS (
            SELECT DISTINCT src AS node FROM edges
        ), reach(node, root) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
        ), cc AS (
            SELECT node AS member_id, MIN(root) AS cluster_id
            FROM reach GROUP BY node
        ), sizes AS (
            SELECT cluster_id, COUNT(*) AS csize FROM cc GROUP BY cluster_id
        )
        SELECT d.doc_id, d.lang, d.source,
               CAST(COALESCE(s.csize, 1) AS BIGINT) AS weight
        FROM documents d
        LEFT JOIN cc ON d.doc_id = cc.member_id
        LEFT JOIN sizes s ON cc.cluster_id = s.cluster_id
        WHERE cc.member_id IS NULL OR cc.member_id = cc.cluster_id
        ORDER BY doc_id
    """
    ),
    # the BFD walk replayed exactly: one recursion step per document
    # in (n DESC, id) order within each md5 pack group, state = the
    # list of bin remainders; fit = first bin with remainder >= n
    "td_pack_bins": """
        WITH RECURSIVE docs AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                        w -> w <> '')) AS BIGINT) AS n,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                        1, 8))::BIGINT % 16 AS INTEGER) AS pack_group
            FROM documents
        ), ord AS (
            SELECT doc_id, n, pack_group,
                   ROW_NUMBER() OVER (PARTITION BY pack_group
                       ORDER BY n DESC, doc_id) AS s,
                   COUNT(*) OVER (PARTITION BY pack_group) AS gsz
            FROM docs WHERE n IS NOT NULL AND n > 0
        ), walk AS (
            SELECT pack_group, 0 AS s,
                   CAST([] AS BIGINT[]) AS rems,
                   CAST([] AS STRUCT(doc_id BIGINT, bin INTEGER,
                        "offset" BIGINT, oversize BOOLEAN)[]) AS placed
            FROM (SELECT DISTINCT pack_group FROM ord)
            UNION ALL
            SELECT w.pack_group, w.s + 1,
                   CASE WHEN o.n > 128 OR f.fit IS NULL
                        THEN list_append(w.rems,
                             CASE WHEN o.n > 128 THEN 0
                                  ELSE 128 - o.n END)
                        ELSE list_transform(range(1, len(w.rems) + 1),
                             j -> CASE WHEN j = f.fit
                                       THEN w.rems[j] - o.n
                                       ELSE w.rems[j] END)
                   END,
                   list_append(w.placed, {
                       'doc_id': o.doc_id,
                       'bin': CAST(CASE WHEN o.n > 128 OR f.fit IS NULL
                                        THEN len(w.rems)
                                        ELSE f.fit - 1 END AS INTEGER),
                       'offset': CASE WHEN o.n > 128 OR f.fit IS NULL
                                      THEN 0
                                      ELSE 128 - w.rems[f.fit] END,
                       'oversize': o.n > 128
                   })
            FROM walk w
            JOIN ord o ON o.pack_group = w.pack_group AND o.s = w.s + 1,
            -- best-fit: the bin with the SMALLEST sufficient
            -- remainder (ties -> lowest index). list_min over the
            -- fitting remainders, then the first bin equal to it;
            -- empty filter -> NULL min -> NULL fit -> new bin
            LATERAL (SELECT NULLIF(list_position(
                         list_transform(w.rems,
                             r -> r >= o.n AND r = list_min(
                                 list_filter(w.rems, x -> x >= o.n))),
                         true), 0) AS fit) f
        ), final AS (
            SELECT w.pack_group, unnest(w.placed) AS pl
            FROM walk w
            JOIN (SELECT pack_group, MAX(gsz) AS gsz FROM ord
                  GROUP BY pack_group) z
              ON z.pack_group = w.pack_group AND w.s = z.gsz
        )
        SELECT d.doc_id, d.n AS n_tokens, f.pack_group,
               f.pl.bin AS bin, f.pl."offset" AS "offset",
               f.pl.oversize AS oversize
        FROM final f JOIN docs d ON d.doc_id = f.pl.doc_id
        UNION ALL
        SELECT doc_id, n AS n_tokens, CAST(NULL AS INTEGER),
               CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
               CAST(NULL AS BOOLEAN)
        FROM docs WHERE n IS NULL OR n <= 0
        ORDER BY doc_id
    """,
    "td_pack_sequences": """
        WITH sized AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ), cum AS (
            -- CAST: DuckDB's windowed SUM over integers yields HUGEINT,
            -- which pandas-side fetch renders as float64; Spark emits
            -- bigint.  Cast keeps the driver's type-faithful digest equal.
            SELECT doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS start_offset
            FROM sized
        )
        SELECT doc_id, n_tokens, start_offset,
               start_offset // 512 AS chunk_start,
               (start_offset + n_tokens - 1) // 512 AS chunk_end,
               (start_offset + n_tokens - 1) // 512
                   - start_offset // 512 + 1 AS n_chunks
        FROM cum ORDER BY doc_id
    """,
    "td_chunk_manifest": """
        WITH sized AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ), cum AS (
            -- CAST: see td_pack_sequences — avoid HUGEINT→float64 in the
            -- driver's pandas fetch of the oracle result.
            SELECT doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS start_offset
            FROM sized
        ), spans AS (
            SELECT doc_id, start_offset,
                   unnest(range(CAST(start_offset // 512 AS BIGINT),
                                CAST((start_offset + n_tokens - 1) // 512 + 1
                                     AS BIGINT)))
                       AS chunk_id
            FROM cum
        )
        SELECT doc_id, start_offset, chunk_id,
               COUNT(*) OVER (PARTITION BY chunk_id) AS n_docs_in_chunk
        FROM spans ORDER BY chunk_id, doc_id
    """,
    "sk_kmv_distinct": """
        WITH toks AS (
            SELECT DISTINCT lang, token FROM (
                SELECT lang, unnest(string_split(text, ' ')) AS token
                FROM documents
            )
        ), hashed AS (
            SELECT lang, token,
                   ('0x' || substr(md5(token), 1, 8))::BIGINT AS h
            FROM toks
        ), ranked AS (
            SELECT lang, h, token,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, token) AS rn
            FROM hashed
        ), g AS (
            SELECT lang, COUNT(*) AS n_exact,
                   MAX(CASE WHEN rn = 64 THEN h END) AS kth_hash
            FROM ranked GROUP BY lang
        )
        SELECT lang, n_exact, kth_hash,
               CASE WHEN n_exact >= 64
                    THEN ROUND(63.0 * 4294967296.0 / kth_hash, 6)
                    ELSE CAST(n_exact AS DOUBLE) END AS n_est
        FROM g ORDER BY lang
    """,
    "sk_cm_counts": """
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ), exact AS (
            SELECT token, COUNT(*) AS n_exact FROM toks GROUP BY token
        ), top AS (
            SELECT token, n_exact FROM exact
            ORDER BY n_exact DESC, token LIMIT 20
        ), rows_ AS (
            SELECT unnest(range(0, 4)) AS row
        ), cells AS (
            SELECT row,
                   ('0x' || substr(md5(row || ':' || token), 1, 8))::BIGINT
                       % 256 AS bucket,
                   COUNT(*) AS cnt
            FROM toks CROSS JOIN rows_ GROUP BY 1, 2
        ), probes AS (
            SELECT t.token, r.row,
                   ('0x' || substr(md5(r.row || ':' || t.token), 1, 8))::BIGINT
                       % 256 AS bucket
            FROM top t CROSS JOIN rows_ r
        ), est AS (
            SELECT token, MIN(COALESCE(c.cnt, 0)) AS n_est
            FROM probes p LEFT JOIN cells c USING (row, bucket)
            GROUP BY token
        )
        SELECT t.token, t.n_exact, e.n_est,
               e.n_est - t.n_exact AS overcount
        FROM top t JOIN est e USING (token)
        ORDER BY n_exact DESC, token
    """,
    "sk_exact_quantiles": """
        WITH sized AS (
            SELECT lang, doc_id,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ), ranked AS (
            SELECT lang, n_tokens,
                   ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY n_tokens, doc_id) AS rnk
            FROM sized
        ), counts AS (
            SELECT lang, COUNT(*) AS n FROM sized GROUP BY lang
        ), targets AS (
            SELECT lang, CAST(p AS DOUBLE) AS p,
                   CAST(CEIL(CAST(p AS DOUBLE) * n) AS BIGINT) AS tr
            FROM counts CROSS JOIN (
                SELECT unnest([0.5, 0.95, 0.99]) AS p
            )
        )
        SELECT r.lang AS lang, t.p, r.n_tokens AS q_exact
        FROM ranked r JOIN targets t
          ON r.lang = t.lang AND r.rnk = t.tr
        ORDER BY r.lang, t.p
    """,
    "sk_hll_distinct": """
        WITH toks AS (
            SELECT lang, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), h AS (
            SELECT lang,
                   ('0x' || substr(md5(token), 1, 8))::BIGINT AS h
            FROM toks WHERE token IS NOT NULL
        ), reg AS (
            SELECT lang, CAST(h % 256 AS INTEGER) AS j,
                   MAX(CASE WHEN h // 256 = 0 THEN 25
                            ELSE 25 - length(bin(h // 256)) END) AS mx
            FROM h GROUP BY lang, j
        ), agg AS (
            SELECT lang,
                   SUM(power(CAST(2.0 AS DOUBLE), -mx)) AS st,
                   COUNT(*) AS r
            FROM reg GROUP BY lang
        ), est AS (
            SELECT lang,
                   (CAST(0.7213 AS DOUBLE)
                    / (CAST(1.0 AS DOUBLE)
                       + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
                   * CAST(256.0 AS DOUBLE) * CAST(256.0 AS DOUBLE)
                   / (st + CAST(256 - r AS DOUBLE)) AS raw,
                   CAST(256 - r AS DOUBLE) AS v
            FROM agg
        ), fin AS (
            SELECT lang,
                   CASE WHEN raw <= CAST(640.0 AS DOUBLE) AND v > 0
                        THEN CAST(256.0 AS DOUBLE)
                             * ln(CAST(256.0 AS DOUBLE) / v)
                        ELSE raw END AS e
            FROM est
        ), ex AS (
            SELECT lang, COUNT(DISTINCT token) AS n_exact
            FROM toks GROUP BY lang
        )
        SELECT ex.lang, n_exact, ROUND(e, 6) AS n_est
        FROM ex JOIN fin USING (lang) ORDER BY lang
    """,
    "sk_source_overlap": """
        WITH toks AS (
            SELECT source, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), h AS (
            SELECT DISTINCT source,
                   ('0x' || substr(md5(token), 1, 8))::BIGINT AS h
            FROM toks
        ), rk AS (
            SELECT source, h,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
            FROM h
        ), sk AS (
            SELECT source, list(h ORDER BY h) AS s
            FROM rk WHERE rn <= 64 GROUP BY source
        ), pairs AS (
            SELECT a.source AS group_a, b.source AS group_b,
                   a.s AS la, b.s AS lb
            FROM sk a JOIN sk b ON a.source < b.source
        ), m AS (
            SELECT group_a, group_b, la, lb,
                   list_sort(list_distinct(list_concat(la, lb)))[1:64]
                       AS merged
            FROM pairs
        ), calc AS (
            SELECT group_a, group_b,
                   len(merged) AS msz, merged[64] AS kth,
                   len(list_filter(merged,
                       x -> list_contains(la, x) AND list_contains(lb, x)))
                       AS common
            FROM m
        ), est AS (
            SELECT group_a, group_b, msz, common,
                   CASE WHEN msz >= 64
                        THEN ROUND(63.0 * 4294967296.0 / kth, 6)
                        ELSE CAST(msz AS DOUBLE) END AS n_union_est
            FROM calc
        )
        SELECT group_a, group_b, n_union_est,
               ROUND(common / CAST(msz AS DOUBLE), 9) AS jaccard_est,
               ROUND((common / CAST(msz AS DOUBLE)) * n_union_est, 6)
                   AS n_inter_est
        FROM est ORDER BY group_a, group_b
    """,
    "txt_unigram_pieces": """
        WITH RECURSIVE words AS (
            SELECT doc_id, w FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents
            ) WHERE w <> ''
        ), vocab AS (
            SELECT w, COUNT(*) AS n FROM words GROUP BY w
        ), subs AS (
            SELECT n, unnest(flatten(list_transform(range(1, length(w) + 1),
                   s -> list_transform(
                       range(1, least(4, length(w) - s + 1) + 1),
                       l -> w[s : s + l - 1])))) AS piece
            FROM vocab
        ), cands AS (
            SELECT piece, CAST(SUM(n) AS BIGINT) AS cnt
            FROM subs GROUP BY piece
        ), kept AS (
            SELECT piece, cnt FROM cands
            WHERE length(piece) = 1 OR cnt >= 50
        ), tot AS (
            SELECT SUM(CAST(cnt AS DECIMAL(28,0))) AS t FROM kept
        ), lp AS (
            -- 6-dp quantization of ln: a libm ulp (~7e-15 at |x|<=60)
            -- sits 5 orders below the 5e-7 half-boundary, so no
            -- cross-version libm difference can flip the rounding
            -- (at 9 dp one piece DID flip between engines)
            SELECT piece, cnt,
                   ROUND(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)), 6)
                       AS logp
            FROM kept CROSS JOIN tot
        )
        SELECT piece, cnt, logp FROM lp ORDER BY cnt DESC, piece LIMIT 30
    """,
    "txt_unigram_encode": _UNIGRAM_DP_SQL + """
        -- piece_ratio_int: round-half-up via pure integer arithmetic
        -- ((2·np·1e9 + nt) // (2·nt)) — mirrors the Spark DIV
        -- expression; doc_logp_int is the exact BIGINT sum of the
        -- per-word integer DP scores. ALL-BIGINT output: no float or
        -- decimal survives to the hash surface (r11)
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(np) AS BIGINT) AS n_pieces,
               CAST((2 * CAST(SUM(np) AS BIGINT) * 1000000000
                     + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
                   AS piece_ratio_int,
               CAST(SUM(score) AS BIGINT) AS doc_logp_int
        FROM words JOIN seg USING (w)
        GROUP BY doc_id ORDER BY doc_id
    """,
    # the block table is re-derived from TEXT (the deterministic page
    # builder's sandwich: link-only nav, 12-word paragraphs, link-only
    # share widget, per-source footer), so the Spark side's actual
    # HTML build->parse cycle is verified against this parse-free
    # reconstruction; all_link mirrors link-density (exactly 1.0 vs
    # 0.0 in the synthetic pages, so no float boundary exists)
    # NULL-text docs are carried by the final UNION arm as
    # (0, 0, NULL) — the Spark side's posexplode_outer row — so the
    # template arms below must never synthesize blocks for them
    "txt_main_content": """
        WITH words AS (
            SELECT doc_id, source,
                   list_filter(string_split(text, ' '), w -> w <> '') AS ws
            FROM documents WHERE text IS NOT NULL
        ), sized AS (
            SELECT doc_id, source, ws,
                   CAST(ceil(len(ws) / 12.0) AS INT) AS nparas
            FROM words
        ), pidx AS (
            SELECT doc_id, source, ws,
                   CAST(unnest(range(0, nparas)) AS INT) AS i
            FROM sized
        ), blocks AS (
            SELECT doc_id, source, 0 AS bidx,
                   'home products about contact' AS btext,
                   true AS all_link
            FROM sized
            UNION ALL
            SELECT doc_id, source, i + 1,
                   array_to_string(ws[i*12+1 : i*12+12], ' '), false
            FROM pidx
            UNION ALL
            SELECT doc_id, source, nparas + 1,
                   'read more share this', true
            FROM sized
            UNION ALL
            SELECT doc_id, source, nparas + 2,
                   'copyright ' || source || ' network all rights reserved',
                   false
            FROM sized
        ), totals AS (
            -- denominator over ALL pages of the source, NULL-text
            -- included: the Spark side's per-source totals come from
            -- the pre-parse frame (maincontent.py), which counts
            -- NULL-html pages too
            SELECT source, COUNT(DISTINCT doc_id) AS sdocs
            FROM documents GROUP BY source
        ), site AS (
            SELECT g.source, g.btext FROM (
                SELECT source, btext, COUNT(DISTINCT doc_id) AS bdocs
                FROM blocks GROUP BY source, btext
            ) g JOIN totals USING (source)
            WHERE bdocs >= 2 AND bdocs / CAST(sdocs AS DOUBLE) >= 0.5
        ), cls AS (
            SELECT b.doc_id, b.bidx, b.btext,
                   (s.btext IS NOT NULL) AS site_bp,
                   b.all_link AS link_bp,
                   len(string_split(b.btext, ' ')) AS nw
            FROM blocks b LEFT JOIN site s
              ON s.source = b.source AND s.btext = b.btext
        ), based AS (
            SELECT *,
                   (NOT site_bp AND NOT link_bp AND nw >= 5) AS base,
                   (NOT site_bp AND NOT link_bp) AS clean
            FROM cls
        ), resc AS (
            SELECT *,
                   base OR (clean AND nw < 5 AND
                       (COALESCE(LAG(base) OVER w, false)
                        OR COALESCE(LEAD(base) OVER w, false))) AS kept
            FROM based WINDOW w AS (PARTITION BY doc_id ORDER BY bidx)
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               COALESCE(string_agg(btext, chr(10) ORDER BY bidx)
                        FILTER (WHERE kept), '') AS main_text
        FROM resc GROUP BY doc_id
        UNION ALL
        SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
               CAST(NULL AS VARCHAR)
        FROM documents WHERE text IS NULL
        ORDER BY doc_id
    """,
    # every rule outcome re-derived from the word arithmetic: a kept
    # line is a word-line with (doc_id+i)%4 != 0 (terminal punct) and
    # least(8, n-8i) >= 5 words; the %11 javascript notice always fails
    # the badword rule; %13/%17 docs fail the doc rules outright; the
    # survivors need >= 3 kept lines
    "txt_c4_clean": """
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ws
            FROM documents
        ), sized AS (
            SELECT doc_id, ws, len(ws) AS n,
                   CAST(ceil(len(ws) / 8.0) AS INT) AS nl
            FROM w
        ), li AS (
            SELECT doc_id, ws, n, nl,
                   CAST(unnest(range(0, nl)) AS INT) AS i
            FROM sized
        ), lines AS (
            SELECT doc_id, i,
                   array_to_string(ws[i*8+1 : i*8+8], ' ')
                   || CASE CAST((doc_id + i) % 4 AS INT)
                        WHEN 1 THEN '.' WHEN 2 THEN '!'
                        WHEN 3 THEN '?' ELSE '' END AS line,
                   least(8, n - 8 * i) AS nw
            FROM li
        ), keptl AS (
            SELECT doc_id, i, line FROM lines
            WHERE (doc_id + i) % 4 <> 0 AND nw >= 5
        ), agg AS (
            SELECT doc_id, COUNT(*) AS n_kept,
                   string_agg(line, chr(10) ORDER BY i) AS clean_text
            FROM keptl GROUP BY doc_id
        )
        SELECT s.doc_id,
               CAST(s.nl + CASE WHEN s.doc_id % 11 = 0 THEN 1 ELSE 0 END
                    AS INTEGER) AS n_lines,
               CAST(a.n_kept AS INTEGER) AS n_kept,
               a.clean_text
        FROM sized s JOIN agg a USING (doc_id)
        WHERE s.doc_id % 13 <> 0 AND s.doc_id % 17 <> 0 AND a.n_kept >= 3
        ORDER BY s.doc_id
    """,
    "txt_boilerplate": """
        WITH sh AS (
            SELECT source,
                   CASE WHEN len(w) >= 2
                        THEN list_distinct(list_transform(range(1, len(w)),
                             i -> w[i] || ' ' || w[i+1]))
                        ELSE list_distinct([array_to_string(w, ' ')]) END AS sg
            FROM (SELECT source, string_split(text, ' ') AS w FROM documents)
        ), ex AS (
            SELECT source, unnest(sg) AS shingle FROM sh
        ), counts AS (
            SELECT source, shingle, COUNT(*) AS n_docs
            FROM ex GROUP BY source, shingle
        ), totals AS (
            SELECT source, COUNT(*) AS _tot FROM documents GROUP BY source
        ), ranked AS (
            SELECT c.source, c.shingle, c.n_docs,
                   ROUND(c.n_docs / CAST(t._tot AS DOUBLE), 9) AS df_ratio,
                   ROW_NUMBER() OVER (PARTITION BY c.source
                       ORDER BY c.n_docs DESC, c.shingle) AS rnk
            FROM counts c JOIN totals t USING (source)
        )
        SELECT source, shingle, n_docs, df_ratio, CAST(rnk AS INTEGER) AS rnk
        FROM ranked WHERE rnk <= 5 ORDER BY source, rnk
    """,
    # identical operation order to the Spark expression; per-term scores
    # rounded then summed as decimals so the doc total is order-exact
    "txt_bm25_topk": """
        WITH sized AS (
            SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
        ), stats AS (
            SELECT COUNT(*) AS _n,
                   CAST(SUM(CAST(dl AS DECIMAL(20,6))) AS DOUBLE)
                       / COUNT(*) AS _avgdl
            FROM sized
        ), terms AS (
            SELECT doc_id, token FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents
            ) WHERE token IN ('table', 'query', 'fast')
        ), tf AS (
            SELECT doc_id, token, COUNT(*) AS tf
            FROM terms GROUP BY doc_id, token
        ), df AS (
            SELECT token, COUNT(DISTINCT doc_id) AS doc_freq
            FROM terms GROUP BY token
        ), scored AS (
            -- constants written as e0 DOUBLE literals: DuckDB parses
            -- bare 1.2 as DECIMAL and does (tf * 2.2) in exact decimal
            -- arithmetic, which differs from Spark's binary-double
            -- product by 1-2 ulp (verified: tf=3 -> 6.6 vs
            -- 6.600000000000001) — a latent rounding-boundary flake
            SELECT tf.doc_id,
                   ROUND(
                       ln((_n - doc_freq + 0.5e0) / (doc_freq + 0.5e0)
                          + 1.0e0)
                       * (tf.tf * (1.2e0 + 1.0e0))
                       / (tf.tf + 1.2e0 * (1.0e0 - 0.75e0
                              + 0.75e0 * sized.dl / _avgdl)),
                       9) AS _s
            FROM tf
            JOIN df USING (token)
            JOIN sized ON tf.doc_id = sized.doc_id
            CROSS JOIN stats
        ), per_doc AS (
            SELECT doc_id,
                   CAST(SUM(CAST(_s AS DECIMAL(20,9))) AS DOUBLE) AS bm25,
                   COUNT(*) AS n_terms_hit
            FROM scored GROUP BY doc_id
        )
        SELECT CAST(rank AS INTEGER) AS rank, doc_id, bm25, n_terms_hit
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                ORDER BY bm25 DESC, doc_id
            ) AS rank
            FROM per_doc
        )
        WHERE rank <= 20
    """,
    "td_decontaminate": (
        "WITH pairs AS (SELECT * FROM ("
        + _JACCARD_PAIRS.format(block=_SIZE_PRUNE_08)
        + f""") WHERE jaccard_sim >= 0.8
        ), s AS (
            SELECT doc_id,
                   CASE WHEN bkt < 0.8 THEN 'train'
                        WHEN bkt < 0.8 + 0.1 THEN 'eval'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, {_MD5_BUCKET} AS bkt FROM documents)
        )
        SELECT CASE WHEN sa.split = 'test' THEN p.id_a ELSE p.id_b END AS test_doc_id,
               CASE WHEN sa.split = 'train' THEN p.id_a ELSE p.id_b END AS train_doc_id,
               p.jaccard_sim
        FROM pairs p
        JOIN s sa ON p.id_a = sa.doc_id
        JOIN s sb ON p.id_b = sb.doc_id
        WHERE (sa.split = 'train' AND sb.split = 'test')
           OR (sa.split = 'test' AND sb.split = 'train')
        ORDER BY test_doc_id, train_doc_id
    """
    ),
    # SimHash recomputed bit-for-bit: md5-half token hashes (the
    # engine-portable choice), ±1 votes per bit, sign -> signature,
    # 16-bit chunk values via MSB-first weights, candidates = pairs
    # sharing an exact chunk, exact Hamming = signature-bit mismatches
    # (equals Spark's chunk-XOR bit_count). All integer arithmetic.
    "dd_simhash": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        ), h AS (
            SELECT doc_id,
                   ('0x' || substr(md5(t), 1, 8))::BIGINT AS h1,
                   ('0x' || substr(md5(t), 9, 8))::BIGINT AS h2
            FROM toks
        ), bitdefs AS (
            SELECT unnest(range(0, 64)) AS bit
        ), votes AS (
            SELECT doc_id, bit,
                   SUM(CASE WHEN ((CASE WHEN bit < 32 THEN h1 >> bit
                                   ELSE h2 >> (bit - 32) END) & 1) = 1
                            THEN 1 ELSE -1 END) AS v
            FROM h CROSS JOIN bitdefs GROUP BY doc_id, bit
        ), sig AS MATERIALIZED (
            SELECT doc_id, bit,
                   CASE WHEN v > 0 THEN 1 ELSE 0 END AS sbit
            FROM votes
        -- brute-force ALL pairs: since r10 the Spark side re-blocks
        -- into max_hamming+1 bit blocks (guaranteed pigeonhole
        -- recall), so the oracle is the pure mathematical definition
        -- rather than a mirror of the blocking geometry
        ), ids AS (
            SELECT DISTINCT doc_id FROM sig
        ), cand AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM ids a JOIN ids b ON a.doc_id < b.doc_id
        ), ham AS (
            SELECT c.id_a, c.id_b,
                   SUM(CASE WHEN sa.sbit <> sb.sbit THEN 1 ELSE 0 END) AS hm
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.id_a
            JOIN sig sb ON sb.doc_id = c.id_b AND sb.bit = sa.bit
            GROUP BY c.id_a, c.id_b
        )
        SELECT id_a, id_b, CAST(hm AS INTEGER) AS hamming
        FROM ham WHERE hm <= 6 ORDER BY id_a, id_b
    """,
    # exact all-pairs Jaccard — the computation MinHash-LSH approximates
    "dd_minhash": (
        "SELECT * FROM ("
        + _JACCARD_PAIRS.format(block=_SIZE_PRUNE_08)
        + ") WHERE jaccard_sim >= 0.8 ORDER BY id_a, id_b"
    ),
    "dd_ngram_jaccard": (
        "SELECT * FROM ("
        + _JACCARD_PAIRS.format(block="AND a.lang = b.lang " + _SIZE_PRUNE_05)
        + ") WHERE jaccard_sim >= 0.5 ORDER BY id_a, id_b"
    ),
    # exact all-pairs containment — what the prefix-filter join prunes
    # losslessly; |a∩b| / |a|, directional (a contained in b)
    "dd_containment": f"""
        WITH sh AS ({_SHINGLES})
        SELECT * FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(len(list_intersect(a.sg, b.sg)) /
                         CAST(len(a.sg) AS DOUBLE), 9) AS containment
            FROM sh a JOIN sh b ON a.doc_id != b.doc_id
        ) WHERE containment >= 0.5 ORDER BY id_a, id_b
    """,
    "dd_embedding": """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 9) AS cosine_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.45
        ORDER BY id_a, id_b
    """,
    # connected components over the exact-Jaccard pair set (what the
    # MinHash pairs approximate, same ≥0.8 threshold as dd_minhash):
    # recursive closure over symmetric edges, cluster = min reachable id
    "dd_cluster": (
        "WITH RECURSIVE pairs AS MATERIALIZED (SELECT * FROM ("
        + _JACCARD_PAIRS.format(block=_SIZE_PRUNE_08)
        + """) WHERE jaccard_sim >= 0.8
        ), edges AS MATERIALIZED (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ), nodes AS (
            SELECT DISTINCT src AS node FROM edges
        ), reach(node, root) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT node AS member_id, MIN(root) AS cluster_id
        FROM reach GROUP BY node ORDER BY member_id
    """
    ),
    "td_curate": """
        WITH deduped AS (
            SELECT doc_id, lang, text FROM (
                SELECT doc_id, lang, text,
                       ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) rn
                FROM documents
            ) WHERE rn = 1
        ), base AS (
            SELECT doc_id, lang, string_split(text, ' ') AS w,
                   regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g') AS stripped,
                   text
            FROM deduped
        ), scored AS (
            SELECT doc_id, lang,
                   ROUND(
                     0.4 * (len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','it')))
                            / CAST(NULLIF(len(w), 0) AS DOUBLE))
                   + 0.4 * LEAST(len(w) / 64.0, 1.0)
                   + 0.2 * (1 - (length(text) - length(stripped))
                            / CAST(NULLIF(length(text), 0) AS DOUBLE)), 9) AS quality
            FROM base
        ), kept AS (
            SELECT doc_id, lang, quality FROM scored WHERE quality >= 0.5
        ), split AS (
            SELECT lang, quality,
                   CASE WHEN bkt < 0.8 THEN 'train'
                        WHEN bkt < 0.8 + 0.1 THEN 'eval'
                        ELSE 'test' END AS split
            FROM (SELECT *, {md5} AS bkt FROM kept)
        )
        SELECT split, lang, COUNT(*) AS n_docs,
               ROUND(CAST(SUM(CAST(quality AS DECIMAL(18,9))) AS DOUBLE)
                     / COUNT(*), 9) AS avg_quality
        FROM split GROUP BY split, lang
    """.replace("{md5}", _MD5_BUCKET),
    # same deterministic IVF cells as sim_ivf_topk's oracle; pairs are
    # compared only within a cell, mirroring the Spark-side blocking
    "dd_embedding_blocked": """
        WITH cent AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings WHERE vec_id < 16
        ), vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), assign AS (
            SELECT vec_id, v, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS rn
            FROM vecs CROSS JOIN cent
        ), cell AS (
            SELECT vec_id, v, cid FROM assign WHERE rn = 1
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(a.v, b.v), 9) AS cosine_sim
        FROM cell a JOIN cell b ON a.vec_id < b.vec_id AND a.cid = b.cid
        WHERE list_cosine_similarity(a.v, b.v) >= 0.45
        ORDER BY id_a, id_b
    """,
    "sim_range_search": """
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(c.embedding AS DOUBLE[])), 9)
                   AS cosine_sim
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 10
          AND ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[])), 9)
              >= 0.35
        ORDER BY query_id, neighbor_id
    """,
    # Sign-LSH recomputed exactly: md5-byte-parity plane components,
    # projection as list_reduce (left-to-right, the same operand order
    # as Spark's sequential fold -> bit-identical doubles), bucket =
    # MSB-first sign bits, then the same bucket-equality candidate set
    # and round-9 cosine ranking as the Spark side.
    "sim_lsh_topk": """
        WITH vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), planes AS (
            SELECT unnest(range(0, 4)) AS p
        ), proj AS (
            SELECT vec_id, p,
                   list_reduce(
                       list_transform(v, (x, j) -> x *
                           (CASE WHEN (('0x' || substr(md5(p::VARCHAR || '_'
                                        || (j - 1)::VARCHAR), 1, 2))::INT
                                       & 1) = 1
                                 THEN 1.0 ELSE -1.0 END)),
                       (a, b) -> a + b) AS s
            FROM vecs CROSS JOIN planes
        ), bkt AS MATERIALIZED (
            SELECT vec_id,
                   SUM(CASE WHEN s >= 0 THEN 1 ELSE 0 END
                       * (1 << (3 - p))) AS bucket
            FROM proj GROUP BY vec_id
        ), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND(list_cosine_similarity(qv.v, cv.v), 9) AS cosine_sim
            FROM bkt q
            JOIN bkt c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
            JOIN vecs qv ON qv.vec_id = q.vec_id
            JOIN vecs cv ON cv.vec_id = c.vec_id
            WHERE q.vec_id < 10
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
            ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
    "sim_brute_topk": """
        WITH scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                CAST(c.embedding AS DOUBLE[])), 9) AS cosine_sim
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < 10
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
            ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
    # unrolled 2-round Lloyd: same deterministic seeds as sim_ivf_topk,
    # centroid means as decimal(38,12) sums rounded to 9 (order-exact)
    "sim_kmeans": f"""
        WITH {_KMEANS_FIT_8}
        SELECT vec_id, cid FROM s2 WHERE rn = 1 ORDER BY vec_id
    """,
    # same fit CTE as sim_kmeans (ONE definition of the k=8 Lloyd
    # rounds); the within-cluster keep choice is the portable md5 rank
    # also used by td_global_shuffle, so both engines agree bit-exactly
    "td_cluster_balance": f"""
        WITH {_KMEANS_FIT_8}, a2 AS (
            SELECT vec_id, cid FROM s2 WHERE rn = 1
        ), ranked AS (
            SELECT vec_id, cid,
                   COUNT(*) OVER (PARTITION BY cid) AS cluster_n,
                   ROW_NUMBER() OVER (PARTITION BY cid
                       ORDER BY md5('cb8:' || CAST(vec_id AS VARCHAR))
                   ) AS keep_rank
            FROM a2
        )
        SELECT vec_id, cid, cluster_n, keep_rank
        FROM ranked WHERE keep_rank <= 40 ORDER BY vec_id
    """,
    # the probe axis is a literal nprobe list joined on rank — one
    # assignment, one brute reference, all four operating points; the
    # averaged ratios are integer-sum divisions rounded at 9, so both
    # engines compute the identical doubles
    "sim_ivf_recall_curve": """
        WITH cent AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings ORDER BY vec_id LIMIT 16
        ), vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), assign AS (
            SELECT vec_id, v, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS rn
            FROM vecs CROSS JOIN cent
        ), cell AS (
            SELECT vec_id AS neighbor_id, v, cid FROM assign WHERE rn = 1
        ), cellsz AS (
            SELECT cid, COUNT(*) AS csz FROM cell GROUP BY cid
        ), qrank AS (
            SELECT vec_id AS query_id, v AS qv, cid, rn FROM assign
            WHERE vec_id < 10
        ), np AS (
            SELECT unnest([1, 2, 4, 8]) AS nprobe
        ), qcells AS (
            SELECT np.nprobe, q.query_id, q.qv, q.cid
            FROM qrank q JOIN np ON q.rn <= np.nprobe
        ), scored AS (
            SELECT nprobe, query_id, neighbor_id,
                   ROUND(list_cosine_similarity(qv, v), 9) AS s
            FROM qcells JOIN cell USING (cid)
            WHERE query_id <> neighbor_id
        ), topk AS (
            SELECT nprobe, query_id, neighbor_id FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY nprobe, query_id
                    ORDER BY s DESC, neighbor_id) AS rk
                FROM scored
            ) WHERE rk <= 5
        ), brute AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                           ROUND(list_cosine_similarity(
                               CAST(q.embedding AS DOUBLE[]),
                               CAST(c.embedding AS DOUBLE[])), 9) DESC,
                           c.vec_id) AS brank
                FROM embeddings q JOIN embeddings c
                     ON q.vec_id <> c.vec_id
                WHERE q.vec_id < 10
            ) WHERE brank <= 5
        ), hits AS (
            SELECT nprobe, COUNT(*) AS h
            FROM topk JOIN brute USING (query_id, neighbor_id)
            GROUP BY nprobe
        ), cand AS (
            SELECT nprobe, SUM(csz) AS cs
            FROM qcells JOIN cellsz USING (cid) GROUP BY nprobe
        ), nq AS (
            SELECT COUNT(*) AS n_q FROM vecs WHERE vec_id < 10
        ), nn AS (
            SELECT COUNT(*) AS n_all FROM vecs
        )
        SELECT CAST(np.nprobe AS INTEGER) AS nprobe,
               ROUND(COALESCE(h, 0) / (5.0 * n_q), 9) AS avg_recall_5,
               ROUND((COALESCE(cs, 0) - n_q)
                     / (CAST(n_q AS DOUBLE) * (n_all - 1)), 9)
                   AS avg_cand_frac
        FROM np LEFT JOIN hits USING (nprobe)
                LEFT JOIN cand USING (nprobe)
                CROSS JOIN nq CROSS JOIN nn
        ORDER BY nprobe
    """,
    "sim_ivf_topk": """
        WITH cent AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings WHERE vec_id < 16
        ), vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), assign AS (
            SELECT vec_id, v, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS rn
            FROM vecs CROSS JOIN cent
        ), cell AS (
            SELECT vec_id AS neighbor_id, v, cid FROM assign WHERE rn = 1
        ), probe AS (
            SELECT vec_id AS query_id, v AS qv, cid FROM assign
            WHERE rn <= 2 AND vec_id < 10
        ), scored AS (
            SELECT query_id, neighbor_id,
                   ROUND(list_cosine_similarity(qv, v), 9) AS cosine_sim
            FROM probe JOIN cell USING (cid)
            WHERE query_id <> neighbor_id
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
            ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
    # storage-backed IVF serve: deterministic lowest-id cells, so the
    # same oracle as the in-plan twin — the Spark side reads the
    # cell-bucketed layout with a pruned bucket scan instead of
    # assigning the whole corpus per query
    "sim_ivf_serve": """
        WITH cent AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings WHERE vec_id < 16
        ), vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), assign AS (
            SELECT vec_id, v, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS rn
            FROM vecs CROSS JOIN cent
        ), cell AS (
            SELECT vec_id AS neighbor_id, v, cid FROM assign WHERE rn = 1
        ), probe AS (
            SELECT vec_id AS query_id, v AS qv, cid FROM assign
            WHERE rn <= 2 AND vec_id < 10
        ), scored AS (
            SELECT query_id, neighbor_id,
                   ROUND(list_cosine_similarity(qv, v), 9) AS cosine_sim
            FROM probe JOIN cell USING (cid)
            WHERE query_id <> neighbor_id
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
            ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
    "txt_profile": """
        WITH base AS (
            SELECT doc_id, text, string_split(text, ' ') AS w,
                   regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g') AS stripped
            FROM documents
        ), scores AS (
            SELECT doc_id, text, w, stripped,
                len(list_filter(w, x -> x IN ('the','a','of','and','to'))) AS s_en,
                len(list_filter(w, x -> x IN ('el','la','de','que','y'))) AS s_es,
                len(list_filter(w, x -> x IN ('der','die','und','das','ist'))) AS s_de,
                len(list_filter(w, x -> x IN ('le','la','et','les','des'))) AS s_fr,
                len(list_filter(w, x -> x IN ('的','是','了','在','我'))) AS s_zh,
                len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','it'))) AS s_stop,
                ROUND((length(text) - length(stripped)) / CAST(NULLIF(length(text), 0) AS DOUBLE), 9) AS p_ratio
            FROM base
        )
        SELECT doc_id,
            CASE
                WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_fr > 0 AND s_fr >= s_zh THEN 'fr'
                WHEN s_zh > 0 THEN 'zh'
                ELSE 'und'
            END AS lang_pred,
            len(w) AS n_tokens,
            len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS n_word_tokens,
            p_ratio AS punct_ratio,
            ROUND(s_stop / CAST(NULLIF(len(w), 0) AS DOUBLE), 9) AS stopword_ratio,
            ROUND(list_sum(list_transform(w, x -> length(x))) /
                  CAST(NULLIF(len(w), 0) AS DOUBLE), 9) AS mean_word_len,
            ROUND(0.4 * (s_stop / CAST(NULLIF(len(w), 0) AS DOUBLE))
                + 0.4 * LEAST(len(w) / 64.0, 1.0)
                + 0.2 * (1 - p_ratio), 9) AS quality,
            CAST(list_sum(list_transform(w, (x, i) ->
                CAST(i AS BIGINT) * (length(x) * 31 + ascii(left(x, 1))))) % 1000000007
                AS BIGINT) AS fingerprint
        FROM scores
    """,
    # recomputes the dHash from character codes (the fake payload is
    # the UTF-8 bytes of ASCII text, so ascii(char) == byte value);
    # verification is brute-force XOR popcount over all pairs — the
    # engine's pigeonhole join must find exactly this set
    "mm_phash_dedup": """
        WITH base AS (
            SELECT doc_id, text, length(text) AS n FROM documents
            WHERE text IS NOT NULL AND length(text) >= 72
        ), codes AS MATERIALIZED (
            SELECT doc_id, n,
                   list_transform(range(1, n + 1),
                                  i -> ascii(text[i])) AS cs
            FROM base
        ), cells AS MATERIALIZED (
            SELECT doc_id,
                   list_transform(range(0, 72), i ->
                       CAST(list_sum(cs[(i * n) // 72 + 1
                                        : ((i + 1) * n) // 72])
                            AS BIGINT)) AS s,
                   list_transform(range(0, 72), i ->
                       ((i + 1) * n) // 72 - (i * n) // 72) AS c
            FROM codes
        ), sig AS MATERIALIZED (
            SELECT doc_id,
                   list_transform(range(0, 4), k ->
                       CAST(list_sum(list_transform(range(0, 16), j ->
                           CASE WHEN
                               s[((k*16+j) // 8) * 9 + ((k*16+j) % 8) + 1]
                               * c[((k*16+j) // 8) * 9 + ((k*16+j) % 8) + 2]
                               >
                               s[((k*16+j) // 8) * 9 + ((k*16+j) % 8) + 2]
                               * c[((k*16+j) // 8) * 9 + ((k*16+j) % 8) + 1]
                           THEN (CAST(1 AS BIGINT) << (15 - j))
                           ELSE 0 END)) AS BIGINT)) AS sh
            FROM cells
        ), cand AS (
            -- the engine's pigeonhole: candidates share >=1 exact
            -- 16-bit chunk (same recall contract as dd_simhash)
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.sh[1], b.sh[1]))
                 + bit_count(xor(a.sh[2], b.sh[2]))
                 + bit_count(xor(a.sh[3], b.sh[3]))
                 + bit_count(xor(a.sh[4], b.sh[4])) AS hm
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS k) ks
            WHERE a.sh[k] = b.sh[k]
        )
        SELECT id_a, id_b, CAST(hm AS INTEGER) AS hamming
        FROM cand WHERE hm <= 20
        ORDER BY id_a, id_b
    """,
    "mm_meta": """
        SELECT doc_id, 'image' AS modality,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS sha256
        FROM documents
    """,
    "mm_features": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(GREATEST(1, CAST(FLOOR(SQRT(octet_length(encode(text)))) AS BIGINT)) AS BIGINT) AS feat_a,
               CAST(GREATEST(1, CAST(FLOOR(SQRT(octet_length(encode(text)))) AS BIGINT)) AS BIGINT) AS feat_b
        FROM documents
    """,
    "txt_topk_per_source": """
        WITH base AS (
            SELECT doc_id, source, string_split(text, ' ') AS w,
                   regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g') AS stripped, text
            FROM documents
        ), scored AS (
            SELECT doc_id, source,
                   ROUND(
                     0.4 * (len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','it')))
                            / CAST(NULLIF(len(w), 0) AS DOUBLE))
                   + 0.4 * LEAST(len(w) / 64.0, 1.0)
                   + 0.2 * (1 - (length(text) - length(stripped))
                            / CAST(NULLIF(length(text), 0) AS DOUBLE)), 9) AS quality
            FROM base
        ), ranked AS (
            SELECT source, doc_id, quality,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY quality DESC, doc_id) AS rnk
            FROM scored
        )
        SELECT source, doc_id, quality, CAST(rnk AS INTEGER) AS rnk
        FROM ranked WHERE rnk <= 3
    """,
    "txt_length_quantiles": """
        SELECT lang,
               ROUND(quantile_cont(n_chars, 0.25), 6) AS p25,
               ROUND(quantile_cont(n_chars, 0.5), 6) AS p50,
               ROUND(quantile_cont(n_chars, 0.9), 6) AS p90,
               COUNT(*) AS n
        FROM documents GROUP BY lang
    """,
    "txt_enum_lookup": """
        SELECT doc_id, lang,
               CASE lang WHEN 'en' THEN 'english' WHEN 'es' THEN 'spanish'
                         WHEN 'de' THEN 'german' WHEN 'fr' THEN 'french'
                         ELSE lang END AS lang_name
        FROM documents
    """,
    "txt_repetition": """
        WITH b AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), c AS (
            SELECT doc_id, w,
                   CASE WHEN len(w) >= 2
                        THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                        ELSE [] END AS bg
            FROM b
        )
        SELECT doc_id,
               len(w) AS n_tokens,
               ROUND((len(w) - len(list_distinct(w)))
                     / CAST(NULLIF(len(w), 0) AS DOUBLE), 9) AS dup_token_ratio,
               ROUND(COALESCE(
                   CAST(list_max(list_transform(list_distinct(bg),
                        d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE)
                   / NULLIF(len(bg), 0), 0.0), 9) AS top_bigram_ratio
        FROM c
    """,
    # NB quality classifier recomputed exactly: heuristic-quality seed
    # labels, Laplace-smoothed per-token log-odds (integer counts,
    # round-9 ln per side, re-rounded difference), decimal-summed doc
    # scores + class prior — the weights, every score, and every
    # prediction match Spark bit for bit.
    "td_quality_classifier": f"""
        WITH {_NB_SCORED_CTES}
        SELECT doc_id, n_scored_tokens,
               ROUND(CAST(s AS DOUBLE) + lp, 9) AS nb_score,
               (CAST(s AS DOUBLE) + lp >= 0) AS pred_pos
        FROM scored CROSS JOIN prior ORDER BY doc_id
    """,
    # NB-vs-logreg agreement: both shared CTE chains composed, exact
    # BIGINT cells, the two float divisions written identically to
    # the Spark expression (po, pe from the same int counters)
    "td_classifier_agreement": f"""
        WITH {_NB_SCORED_CTES}, {_LOGREG_SCORED_CTES},
        nbp AS (
            SELECT s.doc_id,
                   (CAST(s.s AS DOUBLE) + p.lp >= 0) AS nb_pos
            FROM scored s CROSS JOIN prior p
        ), lrp AS (
            SELECT doc_id, (s >= 0) AS lr_pos FROM lrscored
        ), cells AS (
            SELECT COUNT(*) AS n_docs,
                   COUNT(*) FILTER (nb_pos AND lr_pos) AS n_both_pos,
                   COUNT(*) FILTER (nb_pos AND NOT lr_pos) AS n_nb_only,
                   COUNT(*) FILTER (NOT nb_pos AND lr_pos) AS n_lr_only,
                   COUNT(*) FILTER (NOT nb_pos AND NOT lr_pos)
                       AS n_both_neg
            FROM nbp JOIN lrp USING (doc_id)
        )
        SELECT n_docs, n_both_pos, n_nb_only, n_lr_only, n_both_neg,
               ROUND((n_both_pos + n_both_neg)
                     / CAST(n_docs AS DOUBLE), 9) AS agreement_rate,
               ROUND(((n_both_pos + n_both_neg) / CAST(n_docs AS DOUBLE)
                      - (CAST(n_both_pos + n_nb_only AS DOUBLE)
                           * CAST(n_both_pos + n_lr_only AS DOUBLE)
                         + (CAST(n_docs AS DOUBLE)
                              - CAST(n_both_pos + n_nb_only AS DOUBLE))
                           * (CAST(n_docs AS DOUBLE)
                              - CAST(n_both_pos + n_lr_only AS DOUBLE)))
                        / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))
                     / NULLIF(1.0
                       - (CAST(n_both_pos + n_nb_only AS DOUBLE)
                            * CAST(n_both_pos + n_lr_only AS DOUBLE)
                          + (CAST(n_docs AS DOUBLE)
                               - CAST(n_both_pos + n_nb_only AS DOUBLE))
                            * (CAST(n_docs AS DOUBLE)
                               - CAST(n_both_pos + n_lr_only AS DOUBLE)))
                         / (CAST(n_docs AS DOUBLE)
                            * CAST(n_docs AS DOUBLE)), 0.0), 9) AS kappa
        FROM cells
    """,
    # ensemble-gate audit: both shared classifier CTE chains composed
    # (the agreement audit's discipline); seed labels come from the NB
    # chain's `lab` CTE — identical by construction to the logreg
    # chain's `lrlab.pos` (same expression over the same scan), so one
    # label source serves all four scorers. Exact BIGINT cells;
    # precision/recall are single float divisions with nullif guards,
    # written identically to the Spark expression.
    "td_classifier_ensemble": f"""
        WITH {_NB_SCORED_CTES}, {_LOGREG_SCORED_CTES},
        nbp AS (
            SELECT s.doc_id,
                   (CAST(s.s AS DOUBLE) + p.lp >= 0) AS nb_pos
            FROM scored s CROSS JOIN prior p
        ), lrp AS (
            SELECT doc_id, (s >= 0) AS lr_pos FROM lrscored
        ), per AS (
            SELECT l.pos AS lbl, nb_pos, lr_pos,
                   (nb_pos AND lr_pos) AS and_pos,
                   (nb_pos OR lr_pos) AS or_pos
            FROM lab l JOIN nbp USING (doc_id) JOIN lrp USING (doc_id)
        ), long AS (
            SELECT lbl, 'ensemble_and' AS scorer, and_pos AS pred FROM per
            UNION ALL SELECT lbl, 'ensemble_or', or_pos FROM per
            UNION ALL SELECT lbl, 'logreg', lr_pos FROM per
            UNION ALL SELECT lbl, 'nb', nb_pos FROM per
        ), cells AS (
            SELECT scorer, COUNT(*) AS n_docs,
                   COUNT(*) FILTER (pred AND lbl) AS n_tp,
                   COUNT(*) FILTER (pred AND NOT lbl) AS n_fp,
                   COUNT(*) FILTER (NOT pred AND lbl) AS n_fn,
                   COUNT(*) FILTER (NOT pred AND NOT lbl) AS n_tn
            FROM long GROUP BY scorer
        )
        SELECT scorer, n_docs, n_tp, n_fp, n_fn, n_tn,
               ROUND(n_tp / NULLIF(CAST(n_tp + n_fp AS DOUBLE), 0.0), 9)
                   AS precision,
               ROUND(n_tp / NULLIF(CAST(n_tp + n_fn AS DOUBLE), 0.0), 9)
                   AS recall
        FROM cells ORDER BY scorer
    """,
    # the ensemble audit at the FROZEN calibrated operating point:
    # floors = quantile_cont(score, 0.5) rounded to 9 dp (the
    # fit_reference_model percentile arithmetic at the default
    # keep_fraction; scores are 9-dp-grid/decimal so the quantized
    # floor compares identically across engines), keeps = score >=
    # floor exactly as curate_batch applies them
    "td_ensemble_calibrated": f"""
        WITH {_NB_SCORED_CTES}, {_LOGREG_SCORED_CTES},
        nbsc AS (
            SELECT s.doc_id,
                   ROUND(CAST(s.s AS DOUBLE) + p.lp, 9) AS nbs
            FROM scored s CROSS JOIN prior p
        ), lrsc AS (
            SELECT doc_id, CAST(s AS DOUBLE) AS lrs FROM lrscored
        ), j AS (
            SELECT l.pos AS lbl, nbs, lrs
            FROM lab l JOIN nbsc USING (doc_id) JOIN lrsc USING (doc_id)
        ), fl AS (
            SELECT ROUND(quantile_cont(nbs, 0.5), 9) AS nbf,
                   ROUND(quantile_cont(lrs, 0.5), 9) AS lrf
            FROM j
        ), per AS (
            SELECT lbl, (nbs >= nbf) AS nbk, (lrs >= lrf) AS lrk,
                   (nbs >= nbf AND lrs >= lrf) AS and_k,
                   (nbs >= nbf OR lrs >= lrf) AS or_k
            FROM j CROSS JOIN fl
        ), long AS (
            SELECT lbl, 'ensemble_and' AS scorer, and_k AS pred FROM per
            UNION ALL SELECT lbl, 'ensemble_or', or_k FROM per
            UNION ALL SELECT lbl, 'logreg_cal', lrk FROM per
            UNION ALL SELECT lbl, 'nb_cal', nbk FROM per
        ), cells AS (
            SELECT scorer, COUNT(*) AS n_docs,
                   COUNT(*) FILTER (pred AND lbl) AS n_tp,
                   COUNT(*) FILTER (pred AND NOT lbl) AS n_fp,
                   COUNT(*) FILTER (NOT pred AND lbl) AS n_fn,
                   COUNT(*) FILTER (NOT pred AND NOT lbl) AS n_tn
            FROM long GROUP BY scorer
        )
        SELECT scorer, n_docs, n_tp, n_fp, n_fn, n_tn,
               ROUND(n_tp / NULLIF(CAST(n_tp + n_fp AS DOUBLE), 0.0), 9)
                   AS precision,
               ROUND(n_tp / NULLIF(CAST(n_tp + n_fn AS DOUBLE), 0.0), 9)
                   AS recall
        FROM cells ORDER BY scorer
    """,
    # linear (logistic) sibling of the NB classifier: shared CTE
    # chain (_LOGREG_SCORED_CTES — also consumed by the agreement
    # audit, the shared-fragment discipline)
    "td_logreg_quality": f"""
        WITH {_LOGREG_SCORED_CTES}
        SELECT doc_id, n_features, CAST(s AS DOUBLE) AS lr_score,
               (s >= 0) AS pred_pos
        FROM lrscored ORDER BY doc_id
    """,
    # PR sweep over the SAME trained model and seed labels (the shared
    # NB CTE chain): COUNT FILTER keeps the counters BIGINT
    "td_classifier_pr_curve": f"""
        WITH {_NB_SCORED_CTES}, sc AS (
            SELECT l.pos AS lbl,
                   ROUND(CAST(s.s AS DOUBLE) + p.lp, 9) AS score
            FROM scored s JOIN lab l USING (doc_id) CROSS JOIN prior p
            WHERE l.pos IS NOT NULL
        ), agg AS (
            SELECT
                COUNT(*) FILTER (score >= -2 AND lbl) AS tp0,
                COUNT(*) FILTER (score >= -2 AND NOT lbl) AS fp0,
                COUNT(*) FILTER (score < -2 AND lbl) AS fn0,
                COUNT(*) FILTER (score >= -1 AND lbl) AS tp1,
                COUNT(*) FILTER (score >= -1 AND NOT lbl) AS fp1,
                COUNT(*) FILTER (score < -1 AND lbl) AS fn1,
                COUNT(*) FILTER (score >= 0 AND lbl) AS tp2,
                COUNT(*) FILTER (score >= 0 AND NOT lbl) AS fp2,
                COUNT(*) FILTER (score < 0 AND lbl) AS fn2,
                COUNT(*) FILTER (score >= 1 AND lbl) AS tp3,
                COUNT(*) FILTER (score >= 1 AND NOT lbl) AS fp3,
                COUNT(*) FILTER (score < 1 AND lbl) AS fn3,
                COUNT(*) FILTER (score >= 2 AND lbl) AS tp4,
                COUNT(*) FILTER (score >= 2 AND NOT lbl) AS fp4,
                COUNT(*) FILTER (score < 2 AND lbl) AS fn4
            FROM sc
        ), rows_ AS (
            SELECT CAST(-2.0 AS DOUBLE) AS threshold,
                   tp0 AS tp, fp0 AS fp, fn0 AS fn FROM agg
            UNION ALL SELECT CAST(-1.0 AS DOUBLE), tp1, fp1, fn1 FROM agg
            UNION ALL SELECT CAST(0.0 AS DOUBLE), tp2, fp2, fn2 FROM agg
            UNION ALL SELECT CAST(1.0 AS DOUBLE), tp3, fp3, fn3 FROM agg
            UNION ALL SELECT CAST(2.0 AS DOUBLE), tp4, fp4, fn4 FROM agg
        )
        SELECT threshold, tp + fp AS n_pred_pos,
               ROUND(tp / CAST(NULLIF(tp + fp, 0) AS DOUBLE), 9) AS precision_,
               ROUND(tp / CAST(NULLIF(tp + fn, 0) AS DOUBLE), 9) AS recall_,
               ROUND(2 * tp / CAST(NULLIF(2 * tp + fp + fn, 0) AS DOUBLE), 9) AS f1
        FROM rows_ ORDER BY threshold
    """,
    # logreg PR twin: shared _LOGREG_SCORED_CTES chain; lbl comes from
    # the chain's own lrlab CTE (same expression as the NB chain's lab)
    "td_logreg_pr_curve": f"""
        WITH {_LOGREG_SCORED_CTES}, sc AS (
            SELECT l.pos AS lbl, CAST(s.s AS DOUBLE) AS score
            FROM lrscored s JOIN lrlab l USING (doc_id)
            WHERE l.pos IS NOT NULL
        ), agg AS (
            SELECT
                COUNT(*) FILTER (score >= 0.0 AND lbl) AS tp0,
                COUNT(*) FILTER (score >= 0.0 AND NOT lbl) AS fp0,
                COUNT(*) FILTER (score < 0.0 AND lbl) AS fn0,
                COUNT(*) FILTER (score >= 0.1 AND lbl) AS tp1,
                COUNT(*) FILTER (score >= 0.1 AND NOT lbl) AS fp1,
                COUNT(*) FILTER (score < 0.1 AND lbl) AS fn1,
                COUNT(*) FILTER (score >= 0.2 AND lbl) AS tp2,
                COUNT(*) FILTER (score >= 0.2 AND NOT lbl) AS fp2,
                COUNT(*) FILTER (score < 0.2 AND lbl) AS fn2,
                COUNT(*) FILTER (score >= 0.3 AND lbl) AS tp3,
                COUNT(*) FILTER (score >= 0.3 AND NOT lbl) AS fp3,
                COUNT(*) FILTER (score < 0.3 AND lbl) AS fn3,
                COUNT(*) FILTER (score >= 0.4 AND lbl) AS tp4,
                COUNT(*) FILTER (score >= 0.4 AND NOT lbl) AS fp4,
                COUNT(*) FILTER (score < 0.4 AND lbl) AS fn4
            FROM sc
        ), rows_ AS (
            SELECT CAST(0.0 AS DOUBLE) AS threshold,
                   tp0 AS tp, fp0 AS fp, fn0 AS fn FROM agg
            UNION ALL SELECT CAST(0.1 AS DOUBLE), tp1, fp1, fn1 FROM agg
            UNION ALL SELECT CAST(0.2 AS DOUBLE), tp2, fp2, fn2 FROM agg
            UNION ALL SELECT CAST(0.3 AS DOUBLE), tp3, fp3, fn3 FROM agg
            UNION ALL SELECT CAST(0.4 AS DOUBLE), tp4, fp4, fn4 FROM agg
        )
        SELECT threshold, tp + fp AS n_pred_pos,
               ROUND(tp / CAST(NULLIF(tp + fp, 0) AS DOUBLE), 9) AS precision_,
               ROUND(tp / CAST(NULLIF(tp + fn, 0) AS DOUBLE), 9) AS recall_,
               ROUND(2 * tp / CAST(NULLIF(2 * tp + fp + fn, 0) AS DOUBLE), 9) AS f1
        FROM rows_ ORDER BY threshold
    """,
    "td_gopher_filter": """
        WITH b AS (
            SELECT doc_id, source, text, string_split(text, ' ') AS w,
                   regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g') AS stripped
            FROM documents
        ), c AS (
            SELECT *, CASE WHEN len(w) >= 2
                           THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                           ELSE [] END AS bg
            FROM b
        ), sig AS (
            SELECT doc_id, source, len(w) AS n_tokens,
                   (len(w) - len(list_distinct(w)))
                       / CAST(NULLIF(len(w), 0) AS DOUBLE) AS _dup,
                   COALESCE(
                       CAST(list_max(list_transform(list_distinct(bg),
                            d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE)
                       / NULLIF(len(bg), 0), 0.0) AS _topbg,
                   ROUND(0.4 * (len(list_filter(w, x -> x IN
                             ('the','a','of','and','to','in','is','it')))
                             / CAST(NULLIF(len(w), 0) AS DOUBLE))
                       + 0.4 * LEAST(len(w) / 64.0, 1.0)
                       + 0.2 * (1 - (length(text) - length(stripped))
                             / CAST(NULLIF(length(text), 0) AS DOUBLE)),
                       9) AS quality
            FROM c
        )
        SELECT doc_id, source, n_tokens,
               ROUND(_dup, 9) AS dup_token_ratio,
               ROUND(_topbg, 9) AS top_bigram_ratio,
               quality
        FROM sig
        WHERE n_tokens BETWEEN 10 AND 10000
          AND _dup <= 0.55
          AND _topbg <= 0.2
          AND quality >= 0.4
        ORDER BY doc_id
    """,
    "txt_gopher_repetition": _GOPHER_REPETITION_SQL,
    # line-granularity twin: derived 2-token lines (the deterministic
    # device — fixture text has no \n), repeat-occurrence counting,
    # char totals via concat length; the per-distinct nested filter is
    # the _topbg oracle shape, list_max the _LANG_GATE_SQL precedent
    "txt_gopher_lines": """
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ws
            FROM documents
        ), l AS (
            SELECT doc_id,
                   CASE WHEN len(ws) >= 1 THEN
                       list_transform(
                           range(0, CAST(ceil(len(ws) / 2.0) AS INT)),
                           i -> array_to_string(ws[i*2+1 : i*2+2], ' '))
                   ELSE [] END AS ls
            FROM w
        ), sig AS (
            SELECT doc_id,
                   CAST(len(ls) AS BIGINT) AS n_lines,
                   len(ls) - len(list_distinct(ls)) AS ndup,
                   length(array_to_string(ls, '')) AS total_c,
                   length(array_to_string(list_distinct(ls), '')) AS first_c,
                   COALESCE(list_max(list_transform(list_distinct(ls),
                       d -> len(list_filter(ls, x -> x = d)) * length(d))),
                       0) AS best
            FROM l
        )
        SELECT doc_id, n_lines,
               ROUND(COALESCE(ndup / CAST(NULLIF(n_lines, 0) AS DOUBLE),
                              0.0), 9) AS dup_line_frac,
               ROUND(COALESCE((total_c - first_c)
                              / CAST(NULLIF(total_c, 0) AS DOUBLE),
                              0.0), 9) AS dup_line_char_frac,
               ROUND(COALESCE(best / CAST(NULLIF(total_c, 0) AS DOUBLE),
                              0.0), 9) AS top_line_char_ratio
        FROM sig ORDER BY doc_id
    """,
    # C4 three-sentence-span dedup: sentencize by terminal punctuation
    # via a running-sum window over word positions (the generic
    # algorithm, not the 7-grid shortcut — the oracle must check the
    # operator, not the fixture derivation), spans by LEAD, keeper =
    # first (doc_id, start) per duplicated hash, victims delete their
    # sentence positions, docs rebuilt by ordered string_agg
    "td_dedup_sentence_spans": """
        WITH raw AS (
            SELECT doc_id,
                   array_to_string(
                       list_transform(
                           range(1, len(string_split(text, ' ')) + 1),
                           p -> CASE WHEN p % 7 = 0
                                THEN string_split(text, ' ')[p] || '.'
                                ELSE string_split(text, ' ')[p] END),
                       ' ') AS text
            FROM documents
        ), words AS (
            -- SELECT-list unnest (the driver-green posl shape), never
            -- a FROM-clause lateral — LATERAL was the construct class
            -- purged from the unigram oracle after 3 red rounds
            SELECT doc_id, p, ws[p] AS word
            FROM (
                SELECT doc_id, ws, unnest(range(1, L + 1)) AS p
                FROM (
                    SELECT doc_id, string_split(text, ' ') AS ws,
                           len(string_split(text, ' ')) AS L
                    FROM raw
                )
            )
        ), flagged AS (
            SELECT doc_id, p, word,
                   CASE WHEN substr(word, length(word), 1)
                             IN ('.', '!', '?', '"')
                        THEN 1 ELSE 0 END AS term
            FROM words
        ), sid AS (
            SELECT doc_id, p, word,
                   COALESCE(SUM(term) OVER (
                       PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS sidx0
            FROM flagged
        ), sents AS (
            SELECT doc_id, sidx0 + 1 AS sidx,
                   string_agg(word, ' ' ORDER BY p) AS sentence
            FROM sid GROUP BY doc_id, sidx0
        ), sp0 AS (
            SELECT doc_id, sidx AS start,
                   sentence
                   || ' ' || LEAD(sentence, 1) OVER w
                   || ' ' || LEAD(sentence, 2) OVER w AS sp
            FROM sents
            WINDOW w AS (PARTITION BY doc_id ORDER BY sidx)
        ), sp AS (
            SELECT doc_id, start, md5(sp) AS h,
                   ROW_NUMBER() OVER (PARTITION BY md5(sp)
                       ORDER BY doc_id, start) AS rn,
                   COUNT(*) OVER (PARTITION BY md5(sp)) AS c
            FROM sp0 WHERE sp IS NOT NULL
        ), del AS (
            SELECT DISTINCT doc_id, start + u AS sidx
            FROM (
                SELECT doc_id, start, unnest(range(0, 3)) AS u
                FROM sp WHERE c > 1 AND rn > 1
            )
        ), kept AS (
            SELECT s.doc_id, s.sidx, s.sentence
            FROM sents s LEFT JOIN del d
                 ON s.doc_id = d.doc_id AND s.sidx = d.sidx
            WHERE d.doc_id IS NULL
        ), rebuilt AS (
            SELECT doc_id,
                   string_agg(sentence, ' ' ORDER BY sidx) AS text,
                   COUNT(*) AS nk
            FROM kept GROUP BY doc_id
        ), ns AS (
            SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_sentences
            FROM sents GROUP BY doc_id
        )
        SELECT ns.doc_id, COALESCE(r.text, '') AS text,
               ns.n_sentences,
               ns.n_sentences - CAST(COALESCE(r.nk, 0) AS INTEGER)
                   AS n_removed
        FROM ns LEFT JOIN rebuilt r USING (doc_id)
        ORDER BY ns.doc_id
    """,
    "td_lang_gate": _LANG_GATE_SQL
    + """
        SELECT doc_id, source, lang, n_tokens,
               ROUND(_dup, 9) AS dup_token_ratio,
               ROUND(_topbg, 9) AS top_bigram_ratio,
               quality
        FROM kept ORDER BY doc_id
    """,
    "td_lang_keep_rate": _LANG_GATE_SQL
    + """
        , toks AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM kept
        ), freq AS (
            SELECT lang, tok, COUNT(*) AS tf FROM toks GROUP BY lang, tok
        ), tot AS (
            SELECT lang, tok, tf,
                   SUM(tf) OVER (PARTITION BY lang) AS total
            FROM freq
        ), lpt AS (
            SELECT doc_id, t.lang AS lang,
                   CAST(ROUND(ln(CAST(tf AS DOUBLE) / total), 6)
                        AS DECIMAL(28,6)) AS lp
            FROM toks t
            JOIN tot ON t.lang = tot.lang AND t.tok = tot.tok
        ), scd AS (
            SELECT doc_id, lang,
                   CAST(SUM(lp) AS DOUBLE) / COUNT(*) AS avg_logprob
            FROM lpt GROUP BY doc_id, lang
        ), cdd AS (
            -- rank fraction rn/n == cume_dist under the total
            -- tiebreak, written with driver-green constructs
            -- (ROW_NUMBER / COUNT-over) — cume_dist would be a
            -- first-use in the oracle corpus
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY avg_logprob ASC, doc_id ASC)
                   / CAST(COUNT(*) OVER (PARTITION BY lang) AS DOUBLE)
                       AS _cd
            FROM scd
        ), fin AS (
            SELECT doc_id, lang FROM cdd WHERE _cd > 0.1
        ), alln AS (
            SELECT lang, COUNT(*) AS n_docs FROM sig GROUP BY lang
        ), gatec AS (
            SELECT lang, COUNT(*) AS n_gate_kept FROM kept GROUP BY lang
        ), finc AS (
            SELECT lang, COUNT(*) AS n_final FROM fin GROUP BY lang
        )
        SELECT a.lang AS lang, a.n_docs,
               COALESCE(gc.n_gate_kept, 0) AS n_gate_kept,
               COALESCE(fc.n_final, 0) AS n_final,
               ROUND(COALESCE(gc.n_gate_kept, 0)
                     / CAST(a.n_docs AS DOUBLE), 9) AS gate_keep_rate,
               ROUND(COALESCE(fc.n_final, 0)
                     / CAST(a.n_docs AS DOUBLE), 9) AS final_keep_rate
        FROM alln a
        LEFT JOIN gatec gc USING (lang)
        LEFT JOIN finc fc USING (lang)
        ORDER BY lang
    """,
    # fake image decode: square side = max(1, trunc(sqrt(n_bytes)));
    # fit-inside 224x224 with truncating int() like the Python stub
    "mm_resize": """
        WITH src AS (
            SELECT doc_id,
                   GREATEST(1, CAST(TRUNC(SQRT(octet_length(encode(text)))) AS BIGINT)) AS s
            FROM documents
        )
        SELECT doc_id, s AS src_h, s AS src_w,
               GREATEST(1, CAST(TRUNC(s * LEAST(224.0 / s, 224.0 / s)) AS BIGINT)) AS out_h,
               GREATEST(1, CAST(TRUNC(s * LEAST(224.0 / s, 224.0 / s)) AS BIGINT)) AS out_w,
               ROUND(LEAST(224.0 / s, 224.0 / s), 9) AS scale
        FROM src
    """,
    "mm_frames": """
        WITH src AS (
            SELECT doc_id,
                   GREATEST(1, octet_length(encode(text)) // 100) AS nf
            FROM documents
        )
        SELECT doc_id, CAST(UNNEST(range(0, nf, 4)) AS BIGINT) AS frame_idx,
               CAST(nf AS BIGINT) AS n_frames
        FROM src
    """,
    # distinct 8-token shingles (whole-text fallback under 8 tokens,
    # mirroring dedup.shingles); each (doc, gram) row is unique, so
    # COUNT(*) per gram IS its document frequency
    "td_passage_dup_fraction": """
        WITH g AS (
            SELECT doc_id,
                   unnest(list_distinct(CASE WHEN len(w) >= 8
                       THEN list_transform(range(1, len(w) - 6),
                                           i -> array_to_string(w[i:i+7], ' '))
                       ELSE [array_to_string(w, ' ')] END)) AS _g
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        ), dfc AS (
            SELECT _g, COUNT(*) AS _df FROM g GROUP BY _g
        )
        SELECT doc_id,
               COUNT(*) AS n_passages,
               CAST(SUM(CASE WHEN _df > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup,
               ROUND(CAST(SUM(CASE WHEN _df > 1 THEN 1 ELSE 0 END) AS BIGINT)
                     / CAST(COUNT(*) AS DOUBLE), 9) AS dup_frac
        FROM g JOIN dfc USING (_g)
        GROUP BY doc_id ORDER BY doc_id
    """,
    # winner rule: Spark's min-struct (doc_id, pos) == this ROW_NUMBER
    # ordered by (doc_id, pos); a fully-deleted doc is '' (COALESCE), a
    # NULL-text doc stays NULL (the CASE) — both pinned on both engines
    "td_dedup_passages": """
        WITH segs AS MATERIALIZED (
            SELECT doc_id, CAST(pos AS BIGINT) AS pos, seg FROM (
                SELECT doc_id,
                       unnest(range(CAST(ceil(len(w) / 10.0) AS BIGINT)))
                           AS pos,
                       unnest(list_transform(
                           range(CAST(ceil(len(w) / 10.0) AS BIGINT)),
                           i -> array_to_string(w[i*10+1 : i*10+10], ' ')))
                           AS seg
                FROM (SELECT doc_id, string_split(text, ' ') AS w
                      FROM documents WHERE text IS NOT NULL)
            )
        ), flagged AS (
            SELECT doc_id, pos, seg,
                   (COUNT(*) OVER (PARTITION BY seg) = 1
                    OR ROW_NUMBER() OVER (PARTITION BY seg
                           ORDER BY doc_id, pos) = 1) AS keep
            FROM segs
        ), rebuilt AS (
            SELECT doc_id,
                   COALESCE(string_agg(seg, ' ' ORDER BY pos)
                            FILTER (WHERE keep), '') AS text_out,
                   COUNT(*) AS n_segments,
                   CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
                       AS n_removed
            FROM flagged GROUP BY doc_id
        )
        SELECT d.doc_id,
               CASE WHEN d.text IS NULL THEN NULL ELSE r.text_out END
                   AS text,
               COALESCE(r.n_segments, 0) AS n_segments,
               COALESCE(r.n_removed, 0) AS n_removed
        FROM documents d LEFT JOIN rebuilt r USING (doc_id)
        ORDER BY d.doc_id
    """,
    # the oracle recomputes the sliding-window cover set directly: a
    # token is covered iff some duplicated 10-token window starts in
    # [pos-9, pos] — an integer window MAX over the marked-start flag
    # (engine-stable: no float control flow anywhere)
    "dd_exact_substring": """
        WITH arr AS MATERIALIZED (
            SELECT doc_id, string_split(text, ' ') AS w
            FROM documents WHERE text IS NOT NULL
        ), toks AS MATERIALIZED (
            SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS pos
            FROM arr
        ), grams AS MATERIALIZED (
            SELECT doc_id, pos AS s,
                   array_to_string(w[pos : pos + 9], ' ') AS g
            FROM toks WHERE pos <= len(w) - 9
        ), dup AS (
            SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1
        ), marked AS (
            SELECT doc_id, s FROM grams JOIN dup USING (g)
        ), cov AS (
            SELECT t.doc_id, t.pos, t.w[t.pos] AS tok,
                   MAX(CASE WHEN m.s IS NOT NULL THEN 1 ELSE 0 END)
                       OVER (PARTITION BY t.doc_id ORDER BY t.pos
                             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
                       AS covered
            FROM toks t LEFT JOIN marked m
                 ON m.doc_id = t.doc_id AND m.s = t.pos
        ), agg AS (
            SELECT doc_id,
                   COALESCE(string_agg(tok, ' ' ORDER BY pos)
                            FILTER (WHERE covered = 0), '') AS text_out,
                   COUNT(*) AS n_tokens,
                   CAST(SUM(covered) AS BIGINT) AS n_removed
            FROM cov GROUP BY doc_id
        )
        SELECT d.doc_id,
               CASE WHEN d.text IS NULL THEN NULL ELSE a.text_out END
                   AS text,
               COALESCE(a.n_tokens, 0) AS n_tokens,
               COALESCE(a.n_removed, 0) AS n_removed
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id
    """,
    # gaps-and-islands over the covered flags: a structurally
    # different derivation of the same intervals the engine's fold
    # merges — island grouping key = pos - ROW_NUMBER() over covered
    # positions (pure integer arithmetic, engine-stable)
    "dd_exact_substring_spans": """
        WITH arr AS MATERIALIZED (
            SELECT doc_id, string_split(text, ' ') AS w
            FROM documents WHERE text IS NOT NULL
        ), toks AS MATERIALIZED (
            SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS pos
            FROM arr
        ), grams AS MATERIALIZED (
            SELECT doc_id, pos AS s,
                   array_to_string(w[pos : pos + 9], ' ') AS g
            FROM toks WHERE pos <= len(w) - 9
        ), dup AS (
            SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1
        ), marked AS (
            SELECT doc_id, s FROM grams JOIN dup USING (g)
        ), cov AS (
            SELECT t.doc_id, t.pos,
                   MAX(CASE WHEN m.s IS NOT NULL THEN 1 ELSE 0 END)
                       OVER (PARTITION BY t.doc_id ORDER BY t.pos
                             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
                       AS covered
            FROM toks t LEFT JOIN marked m
                 ON m.doc_id = t.doc_id AND m.s = t.pos
        ), islands AS (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM cov WHERE covered = 1
        )
        SELECT doc_id,
               CAST(MIN(pos) AS INTEGER) AS span_start,
               CAST(MAX(pos) AS INTEGER) AS span_end
        FROM islands GROUP BY doc_id, grp
        ORDER BY doc_id, span_start
    """,
    # quality formula mirrors td_curate's scored CTE (ONE definition);
    # the decile boundary is exact integer arithmetic ((rk-1)*10 //
    # (n-1)) so no float rounding can split a boundary between engines;
    # both orderings carry a doc_id tie-break
    "td_curriculum_order": """
        WITH base AS (
            SELECT doc_id, string_split(text, ' ') AS w,
                   regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')
                       AS stripped,
                   text
            FROM documents
        ), scored AS (
            SELECT doc_id,
                   ROUND(
                     0.4 * (len(list_filter(w, x -> x IN
                            ('the','a','of','and','to','in','is','it')))
                            / CAST(NULLIF(len(w), 0) AS DOUBLE))
                   + 0.4 * LEAST(len(w) / 64.0, 1.0)
                   + 0.2 * (1 - (length(text) - length(stripped))
                            / CAST(NULLIF(length(text), 0) AS DOUBLE)),
                   9) AS q
            FROM base
        ), nn AS (
            SELECT COUNT(*) AS n FROM scored
        ), r AS (
            SELECT doc_id, q,
                   ROW_NUMBER() OVER (
                       ORDER BY COALESCE(q, -1), doc_id) AS rk
            FROM scored
        ), d AS (
            SELECT doc_id, q,
                   CAST(CASE WHEN n > 1
                        THEN LEAST(((rk - 1) * 10) // (n - 1), 9)
                        ELSE 0 END AS INTEGER) AS decile
            FROM r CROSS JOIN nn
        )
        SELECT doc_id, q, decile,
               ROW_NUMBER() OVER (ORDER BY decile,
                   md5('cur1:' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS position
        FROM d ORDER BY position
    """,
    "td_global_shuffle": """
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (
                   ORDER BY md5('ep7:' || CAST(doc_id AS VARCHAR))
               ) AS shuffle_pos
        FROM documents ORDER BY shuffle_pos
    """,
    # quality formula mirrors td_curate's scored CTE (ONE definition of
    # quality_score); corpus mean is computed once and compared to each
    # source's mean — both from exact decimal sums
    "td_source_reputation": """
        WITH base AS (
            SELECT source, string_split(text, ' ') AS w,
                   regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g') AS stripped,
                   text
            FROM documents
        ), scored AS (
            SELECT source,
                   ROUND(
                     0.4 * (len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','it')))
                            / CAST(NULLIF(len(w), 0) AS DOUBLE))
                   + 0.4 * LEAST(len(w) / 64.0, 1.0)
                   + 0.2 * (1 - (length(text) - length(stripped))
                            / CAST(NULLIF(length(text), 0) AS DOUBLE)), 9) AS q,
                   len(w) AS ntok
            FROM base
        ), per_src AS (
            SELECT source, COUNT(*) AS n_docs,
                   ROUND(CAST(SUM(CAST(q AS DECIMAL(18,9))) AS DOUBLE)
                         / COUNT(*), 9) AS avg_quality,
                   ROUND(SUM(ntok) / CAST(COUNT(*) AS DOUBLE), 9) AS avg_tokens
            FROM scored GROUP BY source
        ), corpus AS (
            SELECT ROUND(CAST(SUM(CAST(q AS DECIMAL(18,9))) AS DOUBLE)
                         / COUNT(*), 9) AS cq
            FROM scored
        )
        SELECT source, n_docs, avg_quality, avg_tokens,
               avg_quality >= cq AS reputable
        FROM per_src CROSS JOIN corpus ORDER BY source
    """,
    # product quantization: per-subspace spherical codebooks, same
    # deterministic-Lloyd discipline as sim_kmeans, with sub_id as one
    # more grouping column; sublen = len(v) // m
    "sim_pq_codes": f"""
        WITH {_PQ_FIT_CTES}
        SELECT vec_id, CAST(sub_id AS INTEGER) AS sub_id, code
        FROM s2 WHERE rn = 1 ORDER BY vec_id, sub_id
    """,
    # ADC scan: same codebook fit as sim_pq_codes (c1 is the table the
    # final assignment scored against), per-query m·k lookup table,
    # corpus joined on (sub_id, code) only; partial dots/norms rounded
    # to 9 dp then summed as DECIMAL so both engines score identically
    "sim_pq_adc_topk": f"""
        WITH {_PQ_FIT_CTES}{_PQ_ADC_CTES}
        SELECT query_id, neighbor_id, approx_cos, CAST(rank AS INTEGER) AS rank
        FROM adc_ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
    # storage-backed serve: same deterministic fit, so the same oracle —
    # the Spark side reads the persisted codes/codebook instead of
    # refitting in-plan (correctness-identical by construction)
    "sim_ivfpq_serve": f"""
        WITH {_PQ_FIT_CTES}{_PQ_ADC_CTES}, cent AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings WHERE vec_id < 16
        ), assign AS (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS rn
            FROM vecs CROSS JOIN cent
        ), cell AS (
            SELECT vec_id AS neighbor_id, cid FROM assign WHERE rn = 1
        ), probe AS (
            SELECT vec_id AS query_id, cid FROM assign
            WHERE rn <= 2 AND vec_id < 10
        ), cand AS (
            SELECT query_id, neighbor_id FROM probe JOIN cell USING (cid)
            WHERE query_id <> neighbor_id
        ), ivfpq AS (
            SELECT s.query_id, s.neighbor_id, s.approx_cos,
                   ROW_NUMBER() OVER (PARTITION BY s.query_id
                       ORDER BY s.approx_cos DESC, s.neighbor_id) AS prank
            FROM adc_scored s JOIN cand USING (query_id, neighbor_id)
        )
        SELECT query_id, neighbor_id, approx_cos,
               CAST(prank AS INTEGER) AS rank
        FROM ivfpq WHERE prank <= 5 ORDER BY query_id, rank
    """,
    "sim_pq_serve": f"""
        WITH {_PQ_FIT_CTES}{_PQ_ADC_CTES}
        SELECT query_id, neighbor_id, approx_cos, CAST(rank AS INTEGER) AS rank
        FROM adc_ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
    # recall@5 audit: ADC top-5 vs brute-force top-5, both rebuilt from
    # the shared fit/scoring CTEs so the audit can never drift from the
    # queries it audits
    "sim_pq_recall_audit": f"""
        WITH {_PQ_FIT_CTES}{_PQ_ADC_CTES}, adc AS (
            SELECT query_id, neighbor_id FROM adc_ranked WHERE rank <= 5
        ), b_scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND(list_cosine_similarity(q.v, c.v), 9) AS cosine_sim
            FROM vecs q JOIN vecs c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < 10
        ), b_ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
            ) AS rank
            FROM b_scored
        ), brute AS (
            SELECT query_id, neighbor_id FROM b_ranked WHERE rank <= 5
        ), hits AS (
            SELECT query_id, COUNT(*) AS n
            FROM adc JOIN brute USING (query_id, neighbor_id)
            GROUP BY query_id
        )
        SELECT v.vec_id AS query_id,
               CAST(COALESCE(h.n, 0) AS BIGINT) AS n_matched,
               ROUND(COALESCE(h.n, 0) / 5.0, 9) AS recall_at_5
        FROM vecs v LEFT JOIN hits h ON v.vec_id = h.query_id
        WHERE v.vec_id < 10 ORDER BY query_id
    """,
    # BPE round-1 core: frequency-weighted adjacent char pairs over the
    # word vocabulary; chars via 1-based string slicing (w[i:i] is one
    # char).  (count DESC, l, r) is a total order -> LIMIT deterministic
    "txt_bpe_pairs": """
        WITH wf AS (
            SELECT w, COUNT(*) AS wf FROM (
                SELECT unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE w <> '' GROUP BY w
        ), pairs AS (
            SELECT u.l AS l, u.r AS r, wf FROM (
                SELECT wf, unnest(list_transform(range(1, length(w)),
                    i -> struct_pack(l := w[i:i], r := w[i+1:i+1]))) AS u
                FROM wf
            )
        )
        SELECT l, r, CAST(SUM(wf) AS BIGINT) AS pair_count
        FROM pairs GROUP BY l, r
        ORDER BY pair_count DESC, l, r LIMIT 20
    """,
    # iterated-leftmost-merge ≡ Spark's greedy single-pass fold: a
    # merge consumes its site and can create no new site to its left
    # (l||r equals neither l nor r), so both orders reach the same
    # fixpoint. Final state per word = max rule index, then fewest
    # symbols (monotone progress), picked by the ROW_NUMBER.
    "txt_bpe_encode": """
        WITH RECURSIVE rules(ri, l, r) AS (
            VALUES (1,'t','a'), (2,'ta','b'), (3,'l','e'), (4,'tab','le')
        ), words AS MATERIALIZED (
            SELECT doc_id, w FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents
            ) WHERE w <> ''
        ), vocab AS (
            SELECT DISTINCT w FROM words
        ), init AS (
            SELECT w,
                   list_filter(string_split_regex(w, ''), x -> x <> '')
                       AS syms,
                   1 AS ri
            FROM vocab
        ), enc(w, syms, ri) AS (
            SELECT * FROM init
            UNION
            SELECT w,
                   CASE WHEN j IS NOT NULL
                        THEN syms[1:j-1] || [l || r] || syms[j+2:]
                        ELSE syms END,
                   CASE WHEN j IS NOT NULL THEN ri ELSE ri + 1 END
            FROM (
                SELECT e.w, e.syms, e.ri, ru.l, ru.r,
                       list_filter(range(1, len(e.syms)),
                           i -> e.syms[i] = ru.l
                            AND e.syms[i+1] = ru.r)[1] AS j
                FROM enc e JOIN rules ru ON ru.ri = e.ri
                WHERE e.ri <= 4
            )
        ), final AS (
            SELECT w, len(syms) AS n_sub FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY w ORDER BY ri DESC, len(syms) ASC) AS rn
                FROM enc
            ) WHERE rn = 1
        )
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens,
               ROUND(CAST(SUM(n_sub) AS BIGINT)
                     / CAST(COUNT(*) AS DOUBLE), 9) AS bpe_ratio
        FROM words JOIN final USING (w)
        GROUP BY doc_id ORDER BY doc_id
    """,
    # Efraimidis-Spirakis: u = (portable_hash+1)/2^32 (exact — power-of-
    # two divisor), ES key -ln(u)/w rounded to 9 dp before ranking with
    # an id tie-break (the repo's transcendental-compare discipline)
    "ds_weighted_sample": """
        WITH s AS (
            SELECT doc_id, source, n_chars,
                   ROUND(-ln(
                       (('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
                                        1, 8))::BIGINT + 1) / 4294967296.0
                   ) / n_chars, 9) AS es
            FROM documents WHERE n_chars > 0
        ), r AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY source ORDER BY es, doc_id) AS rn
            FROM s
        )
        SELECT doc_id, source, n_chars FROM r WHERE rn <= 5
        ORDER BY source, doc_id
    """,
    # interpolation weights 0.75/0.25: both exactly representable
    # doubles, so the engines cannot diverge by an ulp in the weight
    # (0.7/"1-0.7" DOES diverge: Python 1-0.7 vs DuckDB's
    # decimal-then-cast differ in the last bit)
    "txt_bigram_logprob": """
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), big AS (
            SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
                SELECT doc_id, unnest(list_transform(range(1, len(w)),
                    i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS u
                FROM w WHERE len(w) >= 2)
        ), bf AS (
            SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY w1, w2
        ), uni AS (
            SELECT tok, COUNT(*) AS c FROM (
                SELECT unnest(w) AS tok FROM w
            ) GROUP BY tok
        ), tot AS (
            SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni
        )
        SELECT doc_id, COUNT(*) AS n_bigrams,
               ROUND(CAST(SUM(CAST(ROUND(ln(
                   0.75 * (cb / CAST(c1.c AS DOUBLE))
                   + 0.25 * (c2.c / CAST(n AS DOUBLE))), 9)
                   AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6)
                   AS avg_logprob
        FROM big
        JOIN bf USING (w1, w2)
        JOIN uni c1 ON big.w1 = c1.tok
        JOIN uni c2 ON big.w2 = c2.tok
        CROSS JOIN tot
        GROUP BY doc_id ORDER BY doc_id
    """,
    # interpolated Kneser-Ney bigram LM (fit on even doc_ids, scores
    # all docs): the model tables are marginals of the bigram-TYPE
    # table; the probability expression mirrors the Spark operator's
    # operation order term by term (greatest/coalesce/casts), the
    # backoff ladder is the same CASE, and the per-position ln is
    # ROUND 9 → DECIMAL sum (the family discipline)
    "txt_kn_logprob": """
        WITH w AS (
            SELECT doc_id,
                   string_split(text || ' tok' || CAST(doc_id AS VARCHAR)
                                || ' kn', ' ') AS w
            FROM documents
        ), big AS (
            SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
                SELECT doc_id, unnest(list_transform(range(1, len(w)),
                    i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS u
                FROM w WHERE len(w) >= 2)
        ), bf AS (
            SELECT w1, w2, COUNT(*) AS cb FROM big
            WHERE doc_id % 2 = 0 GROUP BY w1, w2
        ), ctx AS (
            SELECT w1, CAST(SUM(cb) AS BIGINT) AS c1,
                   COUNT(*) AS n1f
            FROM bf GROUP BY w1
        ), cont AS (
            SELECT w2, COUNT(*) AS n1c FROM bf GROUP BY w2
        ), btot AS (
            SELECT COUNT(*) AS b FROM bf
        ), scored AS (
            SELECT big.doc_id,
                   CASE WHEN ctx.c1 IS NOT NULL THEN
                       (GREATEST(CAST(COALESCE(bf.cb, 0) - 0.75 AS DOUBLE),
                                 0.0)
                        + 0.75 * ctx.n1f
                          * (CAST(COALESCE(cont.n1c, 1) AS DOUBLE) / b))
                       / CAST(ctx.c1 AS DOUBLE)
                   ELSE CAST(COALESCE(cont.n1c, 1) AS DOUBLE) / b
                   END AS pr
            FROM big
            LEFT JOIN bf USING (w1, w2)
            LEFT JOIN ctx USING (w1)
            LEFT JOIN cont USING (w2)
            CROSS JOIN btot
        )
        SELECT doc_id, COUNT(*) AS n_bigrams,
               ROUND(CAST(SUM(CAST(ROUND(ln(pr), 9) AS DECIMAL(28,9)))
                     AS DOUBLE) / COUNT(*), 6) AS avg_logprob
        FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
    # per-language KN (CCNet's one-KenLM-per-language shape): the
    # global bigram oracle with the language added to every CTE and
    # join key; the type total B is per-language (JOIN btot USING
    # (lang) — inner, mirroring the scorer's unseen-language filter)
    "txt_kn_lang_logprob": """
        WITH w AS (
            SELECT doc_id, lang,
                   string_split(text || ' tok' || CAST(doc_id AS VARCHAR)
                                || ' kn', ' ') AS w
            FROM documents
        ), big AS (
            SELECT doc_id, lang, u.w1 AS w1, u.w2 AS w2 FROM (
                SELECT doc_id, lang,
                       unnest(list_transform(range(1, len(w)),
                    i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS u
                FROM w WHERE len(w) >= 2)
        ), bf AS (
            SELECT lang, w1, w2, COUNT(*) AS cb FROM big
            WHERE doc_id % 2 = 0 GROUP BY lang, w1, w2
        ), ctx AS (
            SELECT lang, w1, CAST(SUM(cb) AS BIGINT) AS c1,
                   COUNT(*) AS n1f
            FROM bf GROUP BY lang, w1
        ), cont AS (
            SELECT lang, w2, COUNT(*) AS n1c FROM bf GROUP BY lang, w2
        ), btot AS (
            SELECT lang, COUNT(*) AS b FROM bf GROUP BY lang
        ), scored AS (
            SELECT big.doc_id, big.lang,
                   CASE WHEN ctx.c1 IS NOT NULL THEN
                       (GREATEST(CAST(COALESCE(bf.cb, 0) - 0.75 AS DOUBLE),
                                 0.0)
                        + 0.75 * ctx.n1f
                          * (CAST(COALESCE(cont.n1c, 1) AS DOUBLE) / b))
                       / CAST(ctx.c1 AS DOUBLE)
                   ELSE CAST(COALESCE(cont.n1c, 1) AS DOUBLE) / b
                   END AS pr
            FROM big
            LEFT JOIN bf USING (lang, w1, w2)
            LEFT JOIN ctx USING (lang, w1)
            LEFT JOIN cont USING (lang, w2)
            JOIN btot USING (lang)
        )
        SELECT doc_id, lang, COUNT(*) AS n_bigrams,
               ROUND(CAST(SUM(CAST(ROUND(ln(pr), 9) AS DECIMAL(28,9)))
                     AS DOUBLE) / COUNT(*), 6) AS avg_logprob
        FROM scored GROUP BY doc_id, lang ORDER BY doc_id
    """,
    # trigram KN (order-2 of the family): every model table is a
    # marginal of the trigram-TYPE table; the bigram level uses
    # MODIFIED counts (bn = distinct-left-context counts = type-table
    # row counts per (w2,w3)); both CASE ladders and every cast
    # mirror the Spark operator's operation order term by term
    "txt_kn3_logprob": """
        WITH w AS (
            SELECT doc_id,
                   string_split(text || ' tok' || CAST(doc_id AS VARCHAR)
                                || ' kn', ' ') AS w
            FROM documents
        ), trip AS (
            SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3 FROM (
                SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
                    i -> struct_pack(w1 := w[i], w2 := w[i+1],
                                     w3 := w[i+2]))) AS u
                FROM w WHERE len(w) >= 3)
        ), bf3 AS (
            SELECT w1, w2, w3, COUNT(*) AS cb FROM trip
            WHERE doc_id % 2 = 0 GROUP BY w1, w2, w3
        ), ctx3 AS (
            SELECT w1, w2, CAST(SUM(cb) AS BIGINT) AS c12,
                   COUNT(*) AS n1f3
            FROM bf3 GROUP BY w1, w2
        ), bn AS (
            SELECT w2, w3, COUNT(*) AS cn23 FROM bf3 GROUP BY w2, w3
        ), ctx2 AS (
            SELECT w2, CAST(SUM(cn23) AS BIGINT) AS c2n,
                   COUNT(*) AS n1f2
            FROM bn GROUP BY w2
        ), cont AS (
            SELECT w3, COUNT(*) AS n1c3 FROM bn GROUP BY w3
        ), btot AS (
            SELECT COUNT(*) AS b2 FROM bn
        ), scored AS (
            SELECT trip.doc_id,
                   CASE WHEN ctx3.c12 IS NOT NULL THEN
                       (GREATEST(CAST(COALESCE(bf3.cb, 0) - 0.75 AS DOUBLE),
                                 0.0)
                        + 0.75 * ctx3.n1f3 *
                          (CASE WHEN ctx2.c2n IS NOT NULL THEN
                              (GREATEST(CAST(COALESCE(bn.cn23, 0) - 0.75
                                        AS DOUBLE), 0.0)
                               + 0.75 * ctx2.n1f2
                                 * (CAST(COALESCE(cont.n1c3, 1) AS DOUBLE)
                                    / b2))
                              / CAST(ctx2.c2n AS DOUBLE)
                          ELSE CAST(COALESCE(cont.n1c3, 1) AS DOUBLE) / b2
                          END))
                       / CAST(ctx3.c12 AS DOUBLE)
                   ELSE
                       CASE WHEN ctx2.c2n IS NOT NULL THEN
                           (GREATEST(CAST(COALESCE(bn.cn23, 0) - 0.75
                                     AS DOUBLE), 0.0)
                            + 0.75 * ctx2.n1f2
                              * (CAST(COALESCE(cont.n1c3, 1) AS DOUBLE)
                                 / b2))
                           / CAST(ctx2.c2n AS DOUBLE)
                       ELSE CAST(COALESCE(cont.n1c3, 1) AS DOUBLE) / b2
                       END
                   END AS pr
            FROM trip
            LEFT JOIN bf3 USING (w1, w2, w3)
            LEFT JOIN ctx3 USING (w1, w2)
            LEFT JOIN bn USING (w2, w3)
            LEFT JOIN ctx2 USING (w2)
            LEFT JOIN cont USING (w3)
            CROSS JOIN btot
        )
        SELECT doc_id, COUNT(*) AS n_trigrams,
               ROUND(CAST(SUM(CAST(ROUND(ln(pr), 9) AS DECIMAL(28,9)))
                     AS DOUBLE) / COUNT(*), 6) AS avg_logprob
        FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
    # 4-gram KN (order-3, the ladder's top): every model table is a
    # marginal of the 4-gram-TYPE table; bn3/bn2 are the MODIFIED
    # distinct-left-context cascades; the probability ladder is
    # composed from the module-level _KN4_P3/_KN4_P2/_KN4_PC pieces
    "txt_kn4_logprob": f"""
        WITH w AS (
            SELECT doc_id,
                   string_split(text || ' tok' || CAST(doc_id AS VARCHAR)
                                || ' kn', ' ') AS w
            FROM documents
        ), quad AS (
            SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3,
                   u.w4 AS w4 FROM (
                SELECT doc_id, unnest(list_transform(range(1, len(w) - 2),
                    i -> struct_pack(w1 := w[i], w2 := w[i+1],
                                     w3 := w[i+2], w4 := w[i+3]))) AS u
                FROM w WHERE len(w) >= 4)
        ), bf4 AS (
            SELECT w1, w2, w3, w4, COUNT(*) AS cb FROM quad
            WHERE doc_id % 2 = 0 GROUP BY w1, w2, w3, w4
        ), ctx4 AS (
            SELECT w1, w2, w3, CAST(SUM(cb) AS BIGINT) AS c123,
                   COUNT(*) AS n1f4
            FROM bf4 GROUP BY w1, w2, w3
        ), bn3 AS (
            SELECT w2, w3, w4, COUNT(*) AS cn234 FROM bf4
            GROUP BY w2, w3, w4
        ), ctx3 AS (
            SELECT w2, w3, CAST(SUM(cn234) AS BIGINT) AS c23n,
                   COUNT(*) AS n1f3n
            FROM bn3 GROUP BY w2, w3
        ), bn2 AS (
            SELECT w3, w4, COUNT(*) AS cn34 FROM bn3 GROUP BY w3, w4
        ), ctx2 AS (
            SELECT w3, CAST(SUM(cn34) AS BIGINT) AS c3n,
                   COUNT(*) AS n1f2n
            FROM bn2 GROUP BY w3
        ), cont AS (
            SELECT w4, COUNT(*) AS n1c4 FROM bn2 GROUP BY w4
        ), btot AS (
            SELECT COUNT(*) AS b3 FROM bn2
        ), scored AS (
            SELECT quad.doc_id,
                   CASE WHEN ctx4.c123 IS NOT NULL THEN
                       (GREATEST(CAST(COALESCE(bf4.cb, 0) - 0.75
                                 AS DOUBLE), 0.0)
                        + 0.75 * ctx4.n1f4 * ({_KN4_P3}))
                       / CAST(ctx4.c123 AS DOUBLE)
                   ELSE {_KN4_P3} END AS pr
            FROM quad
            LEFT JOIN bf4 USING (w1, w2, w3, w4)
            LEFT JOIN ctx4 USING (w1, w2, w3)
            LEFT JOIN bn3 USING (w2, w3, w4)
            LEFT JOIN ctx3 USING (w2, w3)
            LEFT JOIN bn2 USING (w3, w4)
            LEFT JOIN ctx2 USING (w3)
            LEFT JOIN cont USING (w4)
            CROSS JOIN btot
        )
        SELECT doc_id, COUNT(*) AS n_quadgrams,
               ROUND(CAST(SUM(CAST(ROUND(ln(pr), 9) AS DECIMAL(28,9)))
                     AS DOUBLE) / COUNT(*), 6) AS avg_logprob
        FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
    # per-language trigram KN (one KenLM per language at order 2):
    # the global kn3 oracle with the language added to every CTE and
    # join key; B2 is per-language (JOIN btot USING (lang) — inner,
    # mirroring the scorer's unseen-language filter)
    "txt_kn3_lang_logprob": """
        WITH w AS (
            SELECT doc_id, lang,
                   string_split(text || ' tok' || CAST(doc_id AS VARCHAR)
                                || ' kn', ' ') AS w
            FROM documents
        ), trip AS (
            SELECT doc_id, lang, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3 FROM (
                SELECT doc_id, lang,
                       unnest(list_transform(range(1, len(w) - 1),
                    i -> struct_pack(w1 := w[i], w2 := w[i+1],
                                     w3 := w[i+2]))) AS u
                FROM w WHERE len(w) >= 3)
        ), bf3 AS (
            SELECT lang, w1, w2, w3, COUNT(*) AS cb FROM trip
            WHERE doc_id % 2 = 0 GROUP BY lang, w1, w2, w3
        ), ctx3 AS (
            SELECT lang, w1, w2, CAST(SUM(cb) AS BIGINT) AS c12,
                   COUNT(*) AS n1f3
            FROM bf3 GROUP BY lang, w1, w2
        ), bn AS (
            SELECT lang, w2, w3, COUNT(*) AS cn23 FROM bf3
            GROUP BY lang, w2, w3
        ), ctx2 AS (
            SELECT lang, w2, CAST(SUM(cn23) AS BIGINT) AS c2n,
                   COUNT(*) AS n1f2
            FROM bn GROUP BY lang, w2
        ), cont AS (
            SELECT lang, w3, COUNT(*) AS n1c3 FROM bn GROUP BY lang, w3
        ), btot AS (
            SELECT lang, COUNT(*) AS b2 FROM bn GROUP BY lang
        ), scored AS (
            SELECT trip.doc_id, trip.lang,
                   CASE WHEN ctx3.c12 IS NOT NULL THEN
                       (GREATEST(CAST(COALESCE(bf3.cb, 0) - 0.75 AS DOUBLE),
                                 0.0)
                        + 0.75 * ctx3.n1f3 *
                          (CASE WHEN ctx2.c2n IS NOT NULL THEN
                              (GREATEST(CAST(COALESCE(bn.cn23, 0) - 0.75
                                        AS DOUBLE), 0.0)
                               + 0.75 * ctx2.n1f2
                                 * (CAST(COALESCE(cont.n1c3, 1) AS DOUBLE)
                                    / b2))
                              / CAST(ctx2.c2n AS DOUBLE)
                          ELSE CAST(COALESCE(cont.n1c3, 1) AS DOUBLE) / b2
                          END))
                       / CAST(ctx3.c12 AS DOUBLE)
                   ELSE
                       CASE WHEN ctx2.c2n IS NOT NULL THEN
                           (GREATEST(CAST(COALESCE(bn.cn23, 0) - 0.75
                                     AS DOUBLE), 0.0)
                            + 0.75 * ctx2.n1f2
                              * (CAST(COALESCE(cont.n1c3, 1) AS DOUBLE)
                                 / b2))
                           / CAST(ctx2.c2n AS DOUBLE)
                       ELSE CAST(COALESCE(cont.n1c3, 1) AS DOUBLE) / b2
                       END
                   END AS pr
            FROM trip
            LEFT JOIN bf3 USING (lang, w1, w2, w3)
            LEFT JOIN ctx3 USING (lang, w1, w2)
            LEFT JOIN bn USING (lang, w2, w3)
            LEFT JOIN ctx2 USING (lang, w2)
            LEFT JOIN cont USING (lang, w3)
            JOIN btot USING (lang)
        )
        SELECT doc_id, lang, COUNT(*) AS n_trigrams,
               ROUND(CAST(SUM(CAST(ROUND(ln(pr), 9) AS DECIMAL(28,9)))
                     AS DOUBLE) / COUNT(*), 6) AS avg_logprob
        FROM scored GROUP BY doc_id, lang ORDER BY doc_id
    """,
    # datasheet: quality formula mirrors td_curate's scored CTE; every
    # SUM over integers CAST to BIGINT (pandas HUGEINT hazard)
    "td_corpus_report": """
        WITH base AS (
            SELECT lang, source, text, string_split(text, ' ') AS w,
                   regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g') AS stripped
            FROM documents
        ), scored AS (
            SELECT lang, source, text, len(w) AS ntok,
                   ROUND(
                     0.4 * (len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','it')))
                            / CAST(NULLIF(len(w), 0) AS DOUBLE))
                   + 0.4 * LEAST(len(w) / 64.0, 1.0)
                   + 0.2 * (1 - (length(text) - length(stripped))
                            / CAST(NULLIF(length(text), 0) AS DOUBLE)), 9) AS q
            FROM base
        )
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(ntok) AS BIGINT) AS n_tokens,
               COUNT(DISTINCT lang) AS n_langs,
               COUNT(DISTINCT source) AS n_sources,
               ROUND(1.0 - COUNT(DISTINCT text) / CAST(COUNT(*) AS DOUBLE), 9)
                   AS exact_dup_ratio,
               ROUND(CAST(SUM(CAST(q AS DECIMAL(18,9))) AS DOUBLE)
                     / COUNT(*), 9) AS avg_quality,
               ROUND(CAST(SUM(ntok) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 9)
                   AS avg_tokens
        FROM scored
    """,
    # same recursive-CC core as td_dup_weights, but the representative
    # is min (priority, doc_id) instead of min doc_id
    "td_priority_dedup": (
        "WITH RECURSIVE pairs AS MATERIALIZED (SELECT * FROM ("
        + _JACCARD_PAIRS.format(block=_SIZE_PRUNE_08)
        + """) WHERE jaccard_sim >= 0.8
        ), edges AS MATERIALIZED (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ), nodes AS (
            SELECT DISTINCT src AS node FROM edges
        ), reach(node, root) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
        ), cc AS (
            SELECT node AS member_id, MIN(root) AS cluster_id
            FROM reach GROUP BY node
        ), labeled AS (
            SELECT d.doc_id, d.lang, d.source,
                   CAST(substr(d.source, 4) AS INTEGER) % 3 AS priority,
                   COALESCE(cc.cluster_id, d.doc_id) AS cluster
            FROM documents d LEFT JOIN cc ON d.doc_id = cc.member_id
        ), ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY cluster
                       ORDER BY priority, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY cluster) AS cluster_size
            FROM labeled
        )
        SELECT doc_id, lang, source, priority, cluster_size
        FROM ranked WHERE rn = 1 ORDER BY doc_id
    """
    ),
    # the naive exact computation the MG two-pass must equal; n/50 is
    # the same bigint/int -> double division on both engines
    "sk_heavy_hitters": """
        WITH t AS (
            SELECT token FROM (
                SELECT unnest(string_split(text, ' ')) AS token FROM documents
            ) WHERE token <> ''
        ), tot AS (SELECT COUNT(*) AS n FROM t)
        SELECT token, COUNT(*) AS cnt
        FROM t CROSS JOIN tot GROUP BY token, n
        HAVING COUNT(*) > n / 50
        ORDER BY token
    """,
    # DSIR recomputed exactly: hashed unigram+bigram features (the
    # shared portable-md5 bucket), Laplace-smoothed 1024-bucket target
    # (quality >= 0.5 seed set) and raw models with round-9 ln, round-9
    # log-ratio diffs, DECIMAL(28,9) per-doc sums — the same numbers
    # operators/dsir.py produces, term for term.
    "td_dsir_weights": f"""
        WITH {_DSIR_WEIGHTS_CTES}
        SELECT doc_id, n_features, dsir_weight FROM weights ORDER BY doc_id
    """,
    "ds_dsir_sample": f"""
        WITH {_DSIR_WEIGHTS_CTES}
        SELECT doc_id, dsir_weight,
               ROUND(dsir_weight + (-ln(-ln(
                   (('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    + 0.5) / 4294967296.0))), 9) AS gumbel_key
        FROM weights
        WHERE doc_id IS NOT NULL AND dsir_weight IS NOT NULL
        ORDER BY gumbel_key DESC, doc_id LIMIT 50
    """,
    # plug-in KL over emitted tokens only; per-term round-9 ln times
    # the exact count ratio, DECIMAL(28,9) source sums
    "td_source_drift": """
        WITH st AS (
            SELECT source, token, COUNT(*) AS o FROM (
                SELECT source, unnest(string_split(text, ' ')) AS token
                FROM documents WHERE text IS NOT NULL
            ) WHERE token <> ''
            GROUP BY source, token
        ), ct AS (SELECT token, SUM(o) AS c FROM st GROUP BY token),
        ns AS (SELECT source, SUM(o) AS n_s FROM st GROUP BY source),
        nc AS (SELECT SUM(o) AS n_c FROM st)
        SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_distinct_tokens,
               ROUND(CAST(SUM(CAST(ROUND(
                   (o / CAST(n_s AS DOUBLE))
                   * ROUND(ln((CAST(o AS DOUBLE) * n_c)
                              / (CAST(c AS DOUBLE) * n_s)), 9),
               9) AS DECIMAL(28,9))) AS DOUBLE), 9) AS kl_nats
        FROM st JOIN ct USING (token) JOIN ns USING (source) CROSS JOIN nc
        GROUP BY source ORDER BY source
    """,
    # the four Gopher-gate booleans recomputed from the td_gopher_filter
    # fragments (quality on the round-9 score, dup/top-bigram on the
    # unrounded ratios), NULL -> FALSE; COUNT(*) FILTER keeps the
    # counters BIGINT like Spark's count_if
    "td_filter_agreement": """
        WITH b AS (
            SELECT text, string_split(text, ' ') AS w,
                   regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g') AS stripped
            FROM documents
        ), c AS (
            SELECT *, CASE WHEN len(w) >= 2
                           THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                           ELSE [] END AS bg
            FROM b
        ), sig AS (
            SELECT
                COALESCE(text IS NOT NULL AND COALESCE(
                    CAST(list_max(list_transform(list_distinct(bg),
                         d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE)
                    / NULLIF(len(bg), 0), 0.0) <= 0.2, FALSE) AS g_bigram,
                COALESCE(len(w) BETWEEN 10 AND 10000, FALSE) AS g_length,
                COALESCE(ROUND(0.4 * (len(list_filter(w, x -> x IN
                          ('the','a','of','and','to','in','is','it')))
                          / CAST(NULLIF(len(w), 0) AS DOUBLE))
                    + 0.4 * LEAST(len(w) / 64.0, 1.0)
                    + 0.2 * (1 - (length(text) - length(stripped))
                          / CAST(NULLIF(length(text), 0) AS DOUBLE)),
                    9) >= 0.4, FALSE) AS g_quality,
                COALESCE((len(w) - len(list_distinct(w)))
                    / CAST(NULLIF(len(w), 0) AS DOUBLE) <= 0.55, FALSE)
                    AS g_repetition
            FROM c
        ), agg AS (
            SELECT COUNT(*) AS n,
                COUNT(*) FILTER (g_bigram AND g_length) AS bo_bl,
                COUNT(*) FILTER (g_bigram OR g_length) AS ei_bl,
                COUNT(*) FILTER (g_bigram = g_length) AS ag_bl,
                COUNT(*) FILTER (g_bigram AND g_quality) AS bo_bq,
                COUNT(*) FILTER (g_bigram OR g_quality) AS ei_bq,
                COUNT(*) FILTER (g_bigram = g_quality) AS ag_bq,
                COUNT(*) FILTER (g_bigram AND g_repetition) AS bo_br,
                COUNT(*) FILTER (g_bigram OR g_repetition) AS ei_br,
                COUNT(*) FILTER (g_bigram = g_repetition) AS ag_br,
                COUNT(*) FILTER (g_length AND g_quality) AS bo_lq,
                COUNT(*) FILTER (g_length OR g_quality) AS ei_lq,
                COUNT(*) FILTER (g_length = g_quality) AS ag_lq,
                COUNT(*) FILTER (g_length AND g_repetition) AS bo_lr,
                COUNT(*) FILTER (g_length OR g_repetition) AS ei_lr,
                COUNT(*) FILTER (g_length = g_repetition) AS ag_lr,
                COUNT(*) FILTER (g_quality AND g_repetition) AS bo_qr,
                COUNT(*) FILTER (g_quality OR g_repetition) AS ei_qr,
                COUNT(*) FILTER (g_quality = g_repetition) AS ag_qr
            FROM sig
        ), rows_ AS (
            SELECT 'bigram' AS gate_a, 'length' AS gate_b,
                   bo_bl AS n_both, ei_bl AS n_either, ag_bl AS n_agree, n FROM agg
            UNION ALL SELECT 'bigram', 'quality', bo_bq, ei_bq, ag_bq, n FROM agg
            UNION ALL SELECT 'bigram', 'repetition', bo_br, ei_br, ag_br, n FROM agg
            UNION ALL SELECT 'length', 'quality', bo_lq, ei_lq, ag_lq, n FROM agg
            UNION ALL SELECT 'length', 'repetition', bo_lr, ei_lr, ag_lr, n FROM agg
            UNION ALL SELECT 'quality', 'repetition', bo_qr, ei_qr, ag_qr, n FROM agg
        )
        SELECT gate_a, gate_b, n_both,
               ROUND(n_both / CAST(NULLIF(n_either, 0) AS DOUBLE), 9) AS jaccard,
               ROUND(n_agree / CAST(n AS DOUBLE), 9) AS agree_rate
        FROM rows_ ORDER BY gate_a, gate_b
    """,
    # tie-corrected Mann-Whitney AUC over the shared NB chain; rank
    # sums kept x2 in DECIMAL(38,0) (exact integers), one final double
    # division
    "td_classifier_auc": f"""
        WITH {_NB_SCORED_CTES}, sc AS (
            SELECT ROUND(CAST(s.s AS DOUBLE) + p.lp, 9) AS score,
                   l.pos AS lbl
            FROM scored s JOIN lab l USING (doc_id) CROSS JOIN prior p
            WHERE l.pos IS NOT NULL
        ), g AS (
            SELECT score, COUNT(*) AS n, COUNT(*) FILTER (lbl) AS pos
            FROM sc GROUP BY score
        ), c AS (
            SELECT *, COALESCE(SUM(n) OVER (ORDER BY score
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS cum_before
            FROM g
        ), agg AS (
            SELECT SUM(CAST(pos AS DECIMAL(38,0)) * (2*cum_before + n + 1)) AS r2,
                   SUM(pos) AS np, SUM(n - pos) AS nn
            FROM c
        )
        SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
               ROUND(CAST(r2 - CAST(np AS DECIMAL(38,0))
                              * CAST(np + 1 AS DECIMAL(38,0)) AS DOUBLE)
                     / NULLIF(2.0 * np * nn, 0.0), 9) AS auc
        FROM agg
    """,
    "sim_mmr_topk": _mmr_oracle(),
    # the identical md5-sign matrix and sequential folds, regenerated:
    # s(j,i) from md5('jl:j:i'), component sums left-folded in input
    # order, distances and ratio round-9
    "sim_jl_audit": """
        WITH p AS MATERIALIZED (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   list_transform(range(0, 16), j ->
                       ROUND(list_reduce(
                           list_transform(range(1, len(embedding) + 1), i ->
                               (CASE WHEN ('0x' || substr(md5(
                                    'jl:' || CAST(j AS VARCHAR) || ':'
                                    || CAST(i - 1 AS VARCHAR)), 1, 8))::BIGINT
                                    % 2 = 0
                                     THEN 1.0 ELSE -1.0 END)
                               * (CAST(embedding AS DOUBLE[]))[i]),
                           (a, b) -> a + b) / sqrt(16.0), 9)) AS pj
            FROM embeddings WHERE vec_id < 10
        ), pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(sqrt(list_reduce(
                       list_transform(range(1, len(a.v) + 1), i ->
                           (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])),
                       (x, y) -> x + y)), 9) AS d_orig,
                   ROUND(sqrt(list_reduce(
                       list_transform(range(1, 17), i ->
                           (a.pj[i] - b.pj[i]) * (a.pj[i] - b.pj[i])),
                       (x, y) -> x + y)), 9) AS d_proj
            FROM p a JOIN p b ON a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, d_orig, d_proj,
               ROUND(d_proj / NULLIF(d_orig, 0.0), 9) AS dist_ratio
        FROM pairs ORDER BY id_a, id_b
    """,
}
