"""Document deduplication operators.

Generalizes the reference's URL dedup (Redis blooms + Mongo unique
index, SURVEY.md §2.8 / redis_utils.py:4-32 / mongodb_utils.py:5-44)
to content-level near-duplicate detection over a text corpus:

    exact_dedup            hash-groupBy, first-writer-wins
    shingles               word n-gram sets (the unit of similarity)
    minhash_signature      k permutations via seeded xxhash64
    lsh_candidate_pairs    banded LSH self-join
    minhash_near_dup_pairs LSH candidates verified by exact Jaccard
    ngram_jaccard_pairs    blocked exact all-pairs Jaccard
    containment_pairs      prefix-filter set join, |a∩b|/|a| (asymmetric)
    simhash_near_dup_pairs 64-bit SimHash + chunk-pigeonhole Hamming join
    embedding_near_dup_pairs  cosine ≥ threshold over vector pairs

Scale posture: signatures/shingles/simhash are per-row (narrow, no
shuffle). The only shuffles are the LSH band self-join (keyed on
(band, band_hash) — tiny keys, collision groups are the work unit)
and the final pair-verification join. At 100 TB: salt hot LSH buckets
(boilerplate text collapses into one bucket) and cap bucket size with
a group-size filter before the self-join — both provided here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .staging import release_staged, stage

# MinHash geometry: k = bands * rows_per_band. With 16 bands of 4 rows,
# P(candidate | jaccard=j) = 1-(1-j^4)^16 — ~0.65 at j=0.5, >0.9996 at
# j=0.8: tuned for a 0.8 near-dup threshold.
NUM_PERM = 64
BANDS = 16
ROWS_PER_BAND = 4
SHINGLE_SIZE = 3


def _materialize_and_release(out: DataFrame, *staged: DataFrame) -> DataFrame:
    """Stage ``out``, then release the frames it was built from — the
    eager-operator shape: the caller gets a staged result, and the
    operator's own intermediates are gone before it returns.

    ``staged`` are frames this operator staged itself (never a frame
    the caller handed in). Staging ``out`` severs its lineage, so they
    are safe to release even if staging ``out`` fails; the result's
    own blocks are reclaimed by the ContextCleaner once it is
    dereferenced.
    """
    try:
        return stage(out, "result")
    finally:
        release_staged(*staged)


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def shingles(text: Column, n: int = SHINGLE_SIZE) -> Column:
    """Distinct word n-gram shingles of a document.

    Built by iterated ``zip_with(acc, slice(w, k, …), concat)`` so the
    token array is only ever a DIRECT child expression — evaluated
    once per row. The index-lambda form (``transform(sequence, i ->
    concat_ws(slice(w, i, n)))``) re-evaluates the ``split`` inside
    the lambda once per shingle position: O(n²) re-splitting per row,
    measured several× slower on the signature pass. zip_with pads the
    shorter side with null (concat_ws skips nulls), so the junk tail
    entries are sliced off before dedup."""
    w = tokens(text)
    acc = w
    for k in range(2, n + 1):
        acc = F.zip_with(
            acc,
            F.slice(w, k, F.greatest(F.size(w) - (k - 1), F.lit(1))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(
        F.size(w) >= n,
        F.array_distinct(F.slice(acc, 1, F.size(w) - (n - 1))),
    ).otherwise(F.array_distinct(F.array(F.concat_ws(" ", w))))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string sets."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter / F.nullif(union, F.lit(0)).cast("double")


def exact_dedup(df: DataFrame, key: Column | str, order: Column | str) -> DataFrame:
    """First-writer-wins exact dedup (↔ Mongo DuplicateKeyError skip,
    mongodb_utils.py:21-36).

    Partitions on a 64-bit hash of the key, not the raw text — short
    fixed-width shuffle keys at any document size.
    """
    kc = F.col(key) if isinstance(key, str) else key
    w = Window.partitionBy(F.xxhash64(kc)).orderBy(order)
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's parallelism when the scan gave us
    fewer partitions than cores.

    CPU-heavy per-row operators (signature hashing) otherwise run on
    however many splits the file scan produced — a 30 MB parquet is ONE
    split, serializing the whole corpus onto one core. At 100 TB the
    scan already yields thousands of splits and this is a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_perm: int = NUM_PERM
) -> DataFrame:
    """(id, _hs hashed shingle set, _sig minhash signature) per doc.

    Two-stage hashing: each shingle is hashed ONCE to int64
    (``xxhash64(shingle)``), then the k permutations re-hash that int64
    with the permutation index as seed material (``xxhash64(h, s)``) —
    k×|shingles| fixed-width integer hashes instead of k×|shingles|
    string concat+hash. The stages are separate projections so the
    hashed-shingle array is materialized per row, not re-evaluated
    inside the permutation lambda (a nested expression would recompute
    it k times). Downstream Jaccard verification runs on ``_hs``
    directly — set identity survives hashing (64-bit collisions are
    ~|sh|²/2⁶⁴ ≈ 0), and intersecting long arrays beats strings.

    Measured negative result (r6): an explode → per-doc min-aggregate
    formulation computes bit-identical signatures with codegen'd JVM
    hashing and map-side combine (1.6× faster in isolation), but puts
    an extra exchange on the banding arm's critical path — controlled
    A/B at sf0.1 showed the full dd_minhash pipeline 25% SLOWER
    (median 2.07 s → 2.59 s), so the single-projection HOF stays.
    """
    sh = _spread(df.select(id_col, F.col(text_col))).select(
        id_col, shingles(F.col(text_col)).alias("_sh")
    )
    hashed = sh.select(
        id_col, F.transform("_sh", lambda x: F.xxhash64(x)).alias("_hs")
    )
    return hashed.select(
        id_col,
        "_hs",
        F.transform(
            F.sequence(F.lit(0), F.lit(num_perm - 1)),
            lambda s: F.array_min(F.transform("_hs", lambda h: F.xxhash64(h, s))),
        ).alias("_sig"),
    )


def _banded(df: DataFrame, id_col: str, sig_col: str = "_sig") -> DataFrame:
    """Explode a signature into (band_id, band_hash) rows."""
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(BANDS - 1)),
        lambda b: F.struct(
            b.alias("band_id"),
            F.xxhash64(
                F.concat_ws(",", F.transform(
                    F.slice(F.col(sig_col), b * ROWS_PER_BAND + 1, ROWS_PER_BAND),
                    lambda v: v.cast("string"),
                ))
            ).alias("band_hash"),
        ),
    )
    return df.select(id_col, F.explode(bands).alias("b")).select(
        id_col, F.col("b.band_id").alias("band_id"), F.col("b.band_hash").alias("band_hash")
    )


def _candidates(banded: DataFrame, id_col: str, max_bucket: int) -> DataFrame:
    """Distinct (id_a < id_b) pairs from (band_id, band_hash) buckets.

    ``max_bucket`` drops degenerate buckets (boilerplate collapsing
    millions of docs into one band value) before the quadratic
    pair expansion — the guard that keeps this runnable at 100 TB.

    One groupBy collects each surviving bucket's ids and the i<j
    pairs expand IN-ARRAY (id-sorted slice per element, ≤ cap²/2
    structs per bucket row — bounded by the same guard that made the
    old shape safe). The previous shape shuffled the band table
    through a bucket-count window and then AGAIN through a
    (band, hash)-keyed self-join — two extra corpus-band-sized
    exchanges to enumerate pairs the bucket row already holds (r14
    optimization round, guide §2.4). The cap check counts ALL bucket
    rows (count(*), exactly the old window count — collect_list alone
    would skip NULL ids and move the boundary)."""
    grouped = (
        banded.groupBy("band_id", "band_hash")
        .agg(
            F.count("*").alias("_n"),
            F.collect_list(id_col).alias("_ids"),
        )
        .where(F.col("_n") <= max_bucket)
    )
    # the sort is staged as a COLUMN before the pair lambda: the slice
    # below references it once per element, and lambda bodies get no
    # codegen CSE (an inline array_sort there re-sorts per element)
    staged = grouped.select(F.array_sort(F.col("_ids")).alias("_srt"))
    srt = F.col("_srt")
    pairs = F.flatten(
        F.transform(
            srt,
            lambda a, i: F.transform(
                F.slice(
                    srt, i + 2, F.greatest(F.size(srt) - i - 1, F.lit(0))
                ),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    return (
        staged.select(F.explode(pairs).alias("_p"))
        .select(F.col("_p.id_a"), F.col("_p.id_b"))
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame, id_col: str, text_col: str, max_bucket: int = 1000
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b), deduplicated."""
    sig = minhash_signatures(df, id_col, text_col).select(id_col, "_sig")
    return _candidates(_banded(sig, id_col), id_col, max_bucket)


def minhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with exact Jaccard.

    LSH prunes the O(n²) pair space to colliding buckets; the exact
    Jaccard join (over the hashed shingle sets — see
    ``minhash_signatures``) then removes false positives, so output
    precision is 1.0 and recall is the LSH collision probability (≈1
    at the 0.8 threshold with the default geometry).

    Executes EAGERLY: the full LSH + verify job runs at call time, and
    the signature base is staged across the band/verify arms and
    released after (see ``_materialize_and_release``) — not a lazy plan
    you can ``explain``/``limit`` cheaply.
    """
    # Both the banding arm and the verify arm consume the signature
    # base; unstaged, Spark recomputes the whole shingle+hash pass per
    # arm (~2× cost).
    base = stage(minhash_signatures(df, id_col, text_col), "minhash_signatures")
    cand = _candidates(_banded(base.select(id_col, "_sig"), id_col), id_col, max_bucket)
    hs = base.select(id_col, "_hs")
    out = (
        cand.join(hs.withColumnRenamed(id_col, "id_a").withColumnRenamed("_hs", "_hs_a"), "id_a")
        .join(hs.withColumnRenamed(id_col, "id_b").withColumnRenamed("_hs", "_hs_b"), "id_b")
        .withColumn("jaccard_sim", F.round(jaccard(F.col("_hs_a"), F.col("_hs_b")), 9))
        .where(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )
    return _materialize_and_release(out, base)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Blocked exact n-gram Jaccard: all pairs *within a block* (e.g.
    same source/lang/length-band) scored exactly.

    The block key bounds the quadratic blow-up; choose it so blocks
    stay ~10³-10⁴ docs at full scale. The pairwise Jaccard runs on
    64-bit-hashed shingle sets — set identity survives hashing
    (collisions ≈ |sh|²/2⁶⁴), and intersecting longs is ~4× cheaper
    than strings at sf0.1.
    """
    sh = _spread(df.select(block_col, id_col, text_col)).select(
        F.col(block_col).alias("_blk"),
        F.col(id_col),
        F.transform(shingles(F.col(text_col)), lambda x: F.xxhash64(x)).alias("_sh"),
    )
    sh = sh.withColumn("_sz", F.size("_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    # length filter (standard set-similarity-join prune): Jaccard ≥ t
    # requires min(|a|,|b|) / max(|a|,|b|) ≥ t — checked on two ints
    # before the expensive intersect. The product is rounded to 6 dp
    # before the compare: bare max·t lands epsilon ABOVE the true
    # boundary for thresholds like 0.55 (20·0.55 = 11.000000000000002),
    # which would drop a subset pair at Jaccard exactly t — the same
    # float-ceil hazard fixed in containment_pairs.
    size_ok = F.least(F.col("a._sz"), F.col("b._sz")) >= F.round(
        F.greatest(F.col("a._sz"), F.col("b._sz")) * F.lit(threshold), 6
    )
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(size_ok)
        .withColumn("jaccard_sim", F.round(jaccard(F.col("a._sh"), F.col("b._sh")), 9))
        .where(F.col("jaccard_sim") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "jaccard_sim",
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle-containment pairs: |sh(a)∩sh(b)| / |sh(a)| ≥ t.

    Jaccard-style near-dup misses the quote/embedding case — a short
    document wholly CONTAINED in a longer one has high containment but
    low Jaccard (the union is dominated by the long doc). Containment
    is the right score for "drop the fragment, keep the superset"
    curation; it is directional: ``id_a`` is the (near-)contained doc,
    ``id_b`` the container.

    Scale shape — prefix-filter set join (the AllPairs/PPJoin family,
    exact, never all-pairs):

    1. one global shingle-frequency pass orders each doc's shingle set
       rarest-first (canonical order shared by all docs);
    2. each doc emits only its PREFIX — the first
       ``|sh| - ceil(t·|sh|) + 1`` shingles in that order. Losslessness:
       a container must hold ≥ ceil(t·|sh(a)|) of a's shingles, so it
       must hold at least one prefix element (pigeonhole), whatever the
       element order; rarest-first makes the prefixes avoid hot
       boilerplate shingles, which is what keeps the candidate join's
       per-key fan-out bounded at corpus scale;
    3. candidates = prefix(a) ⋈ inverted-index(all shingles), pruned by
       the size bound |sh(b)| ≥ ceil(t·|sh(a)|) before any intersect;
    4. exact verify on the hashed shingle sets (value identical to the
       string-set computation — collisions ≈ |sh|²/2⁻⁶⁴).

    Output: (id_a, id_b, containment), containment rounded to 9 dp.
    Eager like :func:`minhash_near_dup_pairs`: the ordered shingle-set
    base feeds the prefix, index, and verify arms, so it is staged for
    the run and released after.

    ``max_df`` is the hot-shingle guard (the analog of the LSH path's
    ``max_bucket``): shingles whose document frequency exceeds it are
    excluded from EVERY set — boilerplate shared by millions of docs
    would otherwise put one join key on a large fraction of the index
    side. With the cap, containment is computed over the filtered
    (informative) shingles — a semantics change, so it is opt-in and
    the exact default (None) is what the oracle checks; at corpus
    scale set it around the size where a shingle stops being
    discriminative (~10⁴). Docs whose every shingle is over-cap drop
    out (no informative content to match on).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh = _spread(df.select(id_col, text_col)).select(
        id_col,
        F.transform(shingles(F.col(text_col)), lambda x: F.xxhash64(x)).alias("_hs"),
    )
    # ex feeds two consumers (the df groupBy and the order-attach join)
    # but is deliberately NOT staged: caching the corpus-gram explode
    # MEASURED SLOWER at sf0.1 (2.56 → 2.70 s median with a 7 s spill
    # outlier, r14 optimization round) — the explode recompute off the
    # page-cached scan is cheaper than materializing gram rows
    ex = sh.select(id_col, F.explode("_hs").alias("_h"))
    dfreq = ex.groupBy("_h").agg(F.count("*").alias("_df"))
    if max_df is not None:
        dfreq = dfreq.where(F.col("_df") <= max_df)
    # canonical rarest-first order: (document frequency, hash) — a total
    # order shared by every doc, required for the pigeonhole argument.
    # The dfreq join is inner, so over-cap shingles drop out of the
    # sets here (both the probe and index sides see the same sets).
    ordered = (
        ex.join(dfreq, "_h")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_df", "_h"))), lambda x: x["_h"]
            ).alias("_hs"),
        )
        .withColumn("_sz", F.size("_hs"))
        .transform(stage, "containment_sets")
    )
    # ceil over a 6-dp-rounded product: bare ceil(t·sz) overestimates by
    # 1 whenever the float product lands epsilon ABOVE the true integer
    # (0.55·100 = 55.000000000000004 → ceil 56), silently dropping true
    # pairs at exact-boundary containment. Thresholds are treated with
    # 6-decimal precision.
    need = F.ceil(F.round(F.lit(threshold) * F.col("_sz"), 6)).cast("int")
    # disjoint column names on the two arms: both derive from `ordered`,
    # and a same-name equality in a self-join can resolve trivially
    prefix = ordered.select(
        F.col(id_col).alias("id_a"),
        F.col("_sz").alias("_sz_a"),
        F.explode(F.slice("_hs", 1, F.col("_sz") - need + 1)).alias("_ha"),
    )
    index = ordered.select(
        F.col(id_col).alias("id_b"), F.col("_sz").alias("_sz_b"),
        F.explode("_hs").alias("_hb"),
    )
    cand = (
        prefix.join(
            index,
            (F.col("_ha") == F.col("_hb"))
            & (F.col("id_a") != F.col("id_b"))
            # size prune before the intersect: b can't hold ceil(t·|a|)
            # of a's shingles with fewer total elements than that
            # (same 6-dp-rounded ceil as `need` — see above)
            & (
                F.col("_sz_b")
                >= F.ceil(F.round(F.lit(threshold) * F.col("_sz_a"), 6))
            ),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    hs_a = ordered.select(
        F.col(id_col).alias("id_a"), F.col("_hs").alias("_hs_a"), F.col("_sz").alias("_na")
    )
    hs_b = ordered.select(F.col(id_col).alias("id_b"), F.col("_hs").alias("_hs_b"))
    out = (
        cand.join(hs_a, "id_a")
        .join(hs_b, "id_b")
        .withColumn(
            "containment",
            F.round(
                F.size(F.array_intersect("_hs_a", "_hs_b"))
                / F.col("_na").cast("double"),
                9,
            ),
        )
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
    return _materialize_and_release(out, ordered)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_CHUNKS = 4
_CHUNK_BITS = 16


def simhash_chunks(text_col: str) -> Column:
    """64-bit SimHash over word tokens, as 4×16-bit chunk ints.

    Each token votes ±1 per bit position; the signature bit is the
    vote sign. Chunked layout (instead of one int64) keeps the
    Hamming join expressible without sign issues.

    Token bits come from md5 — two 32-bit halves of the hex digest —
    NOT xxhash64: md5 is the engine-portable choice (the KMV sketch
    discipline), so the DuckDB oracle recomputes the identical
    signatures bit for bit and dd_simhash is hash-checked rather than
    rows-only. All arithmetic is integer, so there is no float-order
    hazard anywhere in the operator.

    Built as a SQL expression because the bit probe needs a variable
    shift (``h >> i`` with lambda-bound ``i``), which the Python
    ``F.shiftright`` API doesn't accept.

    Tokens are hashed ONCE in a pre-pass (``transform(split, t ->
    struct(md5 halves))``) and the bit-vote fold runs over the hash
    array — hashing inside the per-bit lambda would recompute the
    digest 64× per token (interpreted HOF lambdas do no
    common-subexpression elimination; measured 25% slower on the
    corpus pass with the cheaper xxhash64).
    """
    return F.expr(
        f"""
        transform(sequence(0, {_CHUNKS - 1}), c ->
            aggregate(
                slice(
                    aggregate(
                        transform(split({text_col}, ' '), t -> named_struct(
                            'h1', cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint),
                            'h2', cast(conv(substr(md5(t), 9, 8), 16, 10) as bigint))),
                        array_repeat(0, 64),
                        (acc, h) -> zip_with(
                            acc,
                            transform(sequence(0, 63), i ->
                                IF(((IF(i < 32, h.h1 >> i, h.h2 >> (i - 32))
                                     & 1L) = 1L), 1, -1)),
                            (a, b) -> a + b)
                    ),
                    c * {_CHUNK_BITS} + 1, {_CHUNK_BITS}),
                0,
                (acc, v) -> acc * 2 + IF(v > 0, 1, 0)
            )
        )
        """
    )


def _bit_blocks(sig_col: str, n_blocks: int, bits_per_chunk: int):
    """Re-block a chunked signature's BITS into ``n_blocks``
    near-equal blocks (MSB-first within each chunk int) for candidate
    generation — the Manku et al. '07 table layout, expressed as one
    native transform/aggregate (no UDF). Block j covers global bit
    positions [j·B div n, (j+1)·B div n) of the B = chunks×bits
    signature, so blocks tile the bit-space exactly whatever the
    divisibility.

    Guarded: ``n_blocks`` must not exceed the signature's bit width B
    (one bit per block is the finest legal tiling). Past that, a
    block's bit range is empty — and ``sequence(start, start-1)``
    DESCENDS in Spark (default step −1 when start > stop), so the
    "empty" block silently reads out-of-range chunk indices whose
    ``element_at`` is NULL, nulling the block value and dropping
    candidates. The signature width is per-row data, so the guard is
    an in-plan ``assert_true`` that fails the job on the first
    offending row instead of losing recall silently."""
    B = f"(size({sig_col}) * {bits_per_chunk})"
    return F.expr(
        f"""
        CASE WHEN assert_true(
            {B} >= {n_blocks},
            concat('n_blocks={n_blocks} exceeds signature bit width ',
                   {B}, ' ({bits_per_chunk}-bit chunks): blocks must ',
                   'hold at least one bit each')
        ) IS NULL THEN
        transform(sequence(0, {n_blocks - 1}), j -> named_struct(
            'chunk_idx', j,
            'chunk_val', aggregate(
                sequence(j * {B} div {n_blocks},
                         (j + 1) * {B} div {n_blocks} - 1),
                0L,
                (acc, g) -> acc * 2 + bigint(
                    (element_at({sig_col},
                                int(g div {bits_per_chunk}) + 1)
                     >> ({bits_per_chunk - 1} - g % {bits_per_chunk}))
                    & 1)
            )
        )) END
        """
    )


def chunked_hamming_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str = "_sh",
    max_hamming: int = 6,
    n_blocks: int | None = None,
    bits_per_chunk: int = 16,
) -> DataFrame:
    """Near-dup pairs over CHUNKED signatures (array of
    ``bits_per_chunk``-bit ints), candidates by pigeonhole blocking,
    verified by exact chunk-wise Hamming. ONE definition for every
    chunked-signature family (SimHash text signatures, dHash media
    fingerprints): the join geometry cannot drift between them.

    Recall contract — the pigeonhole bound is the NUMBER OF BLOCKS
    minus one, not bits×(chunks−1): distributing d differing bits
    over k blocks leaves an untouched (exactly-equal) block iff
    d ≤ k−1. Two modes:

    - ``n_blocks=None``: candidates are pairs sharing ≥1 exact
      stored chunk. Guaranteed-complete only for
      ``max_hamming ≤ chunks−1`` (3 for a 4-chunk signature); past
      that the output is EXPLICITLY "pairs sharing an exact chunk
      with Hamming ≤ max_hamming" — still exact precision, candidate
      recall documented rather than total.
    - ``n_blocks=k``: candidate generation re-blocks the signature's
      bits into k near-equal blocks (:func:`_bit_blocks`), so
      ``k ≥ max_hamming+1`` guarantees total recall (Manku et al.
      '07). The price is blocks of B/k bits → buckets 2^(B/k) —
      choose k only while B/k stays wide enough to block (for
      max_hamming=20 over 64 bits, k=21 means 3-bit blocks whose
      equi-join degenerates past a cross join; that regime belongs
      to the documented-candidate mode, not a recall guarantee).

    Verification is unchanged in both modes (exact XOR popcount over
    the stored chunks), so precision is always exact."""
    if n_blocks is not None and n_blocks < max_hamming + 1:
        raise ValueError(
            f"n_blocks={n_blocks} cannot guarantee recall at "
            f"max_hamming={max_hamming}; need >= max_hamming + 1"
        )
    entries = (
        F.transform(
            F.sequence(F.lit(0), F.size(sig_col) - 1),
            lambda c: F.struct(
                c.alias("chunk_idx"),
                F.element_at(F.col(sig_col), c + 1).alias("chunk_val"),
            ),
        )
        if n_blocks is None
        else _bit_blocks(sig_col, n_blocks, bits_per_chunk)
    )
    posed = sig.select(
        id_col,
        sig_col,
        F.explode(entries).alias("c"),
    ).select(id_col, sig_col, "c.chunk_idx", "c.chunk_val")
    a, b = posed.alias("a"), posed.alias("b")
    hamming = F.aggregate(
        F.zip_with(
            F.col(f"a.{sig_col}"),
            F.col(f"b.{sig_col}"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 6
) -> DataFrame:
    """SimHash near-dup pairs with GUARANTEED recall: candidate
    generation re-blocks the 64-bit signature into max_hamming+1
    near-equal bit blocks (7 at the default radius — Manku et al.
    '07), so any pair within the radius shares an exact block by
    pigeonhole and candidates come from equi-joins on
    (block_idx, block_value) — never a cross join, never a missed
    pair. Verified by exact chunk-wise Hamming (the shared
    :func:`chunked_hamming_pairs` join), so the output EQUALS the
    brute-force all-pairs answer — which is exactly what the DuckDB
    oracle computes."""
    sig = _spread(df.select(id_col, text_col)).select(
        F.col(id_col), simhash_chunks(text_col).alias("_sh")
    )
    # n_blocks caps at the signature width: 64 one-bit blocks
    # guarantee recall through Hamming 63. Radius >= 64 would qualify
    # EVERY pair (including exact complements no shared block can
    # find) — that's a cross join, not a near-dup search, and
    # silently clamping it would break the guaranteed-recall contract;
    # reject it instead.
    total_bits = _CHUNKS * _CHUNK_BITS
    if max_hamming >= total_bits:
        raise ValueError(
            f"max_hamming={max_hamming} >= signature width {total_bits}: "
            "every pair qualifies — use a cross join, not SimHash"
        )
    return chunked_hamming_pairs(
        sig, id_col, "_sh", max_hamming, n_blocks=max_hamming + 1
    )


def embedding_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, block_col: str | None = None,
    threshold: float = 0.98,
) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ threshold.

    Un-blocked this is all-pairs (fine ≤ ~10⁵ rows); pass ``block_col``
    (an LSH bucket / IVF cell from operators.similarity) to bound it
    at scale.

    Executes EAGERLY at call time (see ``_materialize_and_release``).
    """
    from .similarity import dot, norm

    # Normalize each vector ONCE (O(n·d)); the O(n²) pair loop is then
    # a bare dot product instead of dot + two norms + sqrt per pair.
    raw = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    v = (
        _spread(df)
        .select(
            F.col(id_col),
            raw.alias("_r"),
            *( [F.col(block_col).alias("_blk")] if block_col else [] ),
        )
        # norm materialized as a column: inside the transform lambda it
        # would be recomputed per vector element (O(d²) per row)
        .withColumn("_n", F.nullif(norm(F.col("_r")), F.lit(0.0)))
        .select(
            id_col,
            F.transform("_r", lambda x: x / F.col("_n")).alias("_v"),
            *( ["_blk"] if block_col else [] ),
        )
    )
    # Both self-join arms read v; unstaged, the full upstream
    # (blocking join / IVF assignment / normalization) re-runs per arm.
    v = stage(v, "embedding_unit_vectors")
    a, b = v.alias("a"), v.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col("a._blk") == F.col("b._blk"))
    out = (
        a.join(b, cond)
        .withColumn("cosine_sim", F.round(dot(F.col("a._v"), F.col("b._v")), 9))
        .where(F.col("cosine_sim") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "cosine_sim",
        )
    )
    return _materialize_and_release(out, v)


def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → (member, cluster_id).

    The pair operators above answer "which docs are near-dups of each
    other"; corpus curation needs "which GROUP does each doc belong to"
    (keep one representative per group). This is connected components
    via iterative min-label propagation: every node starts labeled with
    itself, each round takes the min label over its neighbors, stop at
    fixpoint. cluster_id = the smallest member id — deterministic, no
    randomness.

    Scale posture: rounds needed = component diameter, and near-dup
    components are shallow (cliques/chains of a handful of docs), so
    this converges in 2-4 rounds in practice; each round is one
    join + groupBy on (src) — no all-pairs anywhere. Each round's
    labels are staged to SEVER lineage: the round expression references
    the previous labels twice (propagate + changed-count), so an
    unbroken logical plan doubles per round — 2^rounds nodes, a
    driver-heap OOM by round ~12 even on 10 rows. Staging keeps every
    round's plan O(1); GraphFrames' connected components checkpoints
    the same way. Each superseded round is released the moment the
    next round is staged, so storage holds at most two rounds of labels
    at any time, regardless of round count or invocation count.

    Raises RuntimeError if the fixpoint is not reached within
    ``max_iter`` rounds (component diameter > max_iter): returning the
    partially-propagated labels would silently split deep components —
    exactly the shape templated boilerplate produces at 100 TB.
    ``max_iter`` must be ≥ 1 (ValueError otherwise — zero rounds can
    never converge and would skip the convergence check entirely).

    Executes EAGERLY — label propagation is inherently iterative
    (one Spark job per round), so the result is materialized at call
    time (see ``_materialize_and_release``). The operator stages its
    own copy of ``pairs`` and releases only what it staged: a frame the
    caller persisted stays cached.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # staged: the symmetric union reads `pairs` twice, and every
    # propagation round joins against edges — without these the
    # upstream pair computation (LSH join + Jaccard verify) re-runs
    # once per union arm and once per round
    pairs = stage(pairs, "cluster_pairs")
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = labels = None
    try:
        edges = stage(
            fwd.union(
                pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
            ).distinct(),
            "cluster_edges",
        )
        labels = stage(
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node")),
            "cluster_labels",
        )
        changed = 0
        for _ in range(max_iter):
            prop = (
                edges.join(labels.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("label").alias("nlabel"))
            )
            new_labels = stage(
                labels.join(prop, "node", "left").select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                    ).alias("label"),
                ),
                "cluster_labels",
            )
            changed = (
                new_labels.withColumnRenamed("label", "_new")
                .join(labels, "node")
                .where(F.col("_new") != F.col("label"))
                .count()
            )
            # the previous round is dead from here: release it now
            # instead of waiting for driver GC + ContextCleaner
            release_staged(labels)
            labels = new_labels
            if changed == 0:
                break
        if changed != 0:
            raise RuntimeError(
                f"near_dup_clusters did not converge in {max_iter} rounds "
                f"({changed} labels still changing): a component's diameter "
                f"exceeds max_iter; raise max_iter for deep chain-shaped "
                f"components instead of accepting split clusters"
            )
        out = labels.select(
            F.col("node").alias("member_id"), F.col("label").alias("cluster_id")
        )
        return stage(out, "result")
    finally:
        release_staged(pairs, edges, labels)


def contamination_gram_hits(
    split_docs: DataFrame,
    id_col: str,
    text_col: str,
    split_col: str = "split",
    n: int = 13,
    train_label: str = "train",
) -> DataFrame:
    """(id, _gram) — every distinct ``n``-token n-gram a TRAIN doc
    shares with any heldout (non-train) doc: the exact-collision
    decontamination core (GPT-3/PaLM's 13-gram standard), defined ONCE
    for the oracle-checked query (td_ngram_contamination) and the
    curation job's decontaminate stage.

    Docs under ``n`` tokens are excluded — no full n-gram exists, and
    the shingle fallback would degrade the test to whole-text
    equality. The heldout gram set is the small join side (AQE
    broadcasts it while it fits); the output is collision PAIRS so
    callers can either count per doc or take distinct ids.

    NULL-split rows participate on NEITHER side: ``split != 'train'``
    is NULL-false, so they are not flagged as train contamination
    (decontaminate_stage passes them through) AND their n-grams do not
    join the heldout gram set — a train doc sharing grams only with a
    NULL-split doc is kept. If unlabeled rows should be protected like
    heldout, label them before calling (e.g.
    ``F.coalesce(split, F.lit('heldout'))``).
    """
    grams = split_docs.where(
        F.size(F.split(F.col(text_col), " ")) >= n
    ).select(
        id_col,
        split_col,
        F.explode(shingles(F.col(text_col), n)).alias("_gram"),
    )
    heldout = grams.where(F.col(split_col) != train_label).select("_gram").distinct()
    return (
        grams.where(F.col(split_col) == train_label)
        .join(heldout, "_gram")
        .select(id_col, "_gram")
    )


def remove_exact_substrings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
) -> DataFrame:
    """TRUE sliding-window exact-substring dedup (Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" /
    RefinedWeb ExactSubstr) at token granularity: every token that
    lies inside ANY substring of ≥ ``min_len`` tokens occurring more
    than once in the corpus (across documents or within one) is
    removed, and each document is rebuilt from its surviving tokens in
    order. This is the un-approximated semantics the 10-token TILING
    variant (textstats.remove_dup_passages) trades away: a duplicated
    run that straddles tile boundaries escapes the tiling but not this.

    No suffix array needed — the suffix-array formulation is a
    single-machine construction (the released ExactSubstr tool); the
    identical cover set falls out of a distributed-friendly identity:
        token t is inside a duplicated substring of length ≥ L
        ⟺  some L-token window starting in [t-L+1, t] is duplicated.
    So: enumerate every L-token window start (one explode, O(corpus
    tokens) rows), count window occurrences corpus-wide (ONE partial-
    agg shuffle on the window's md5 — the only corpus-scale shuffle),
    semi-join the duplicated hashes back to starts, and per document
    merge the marked [s, s+L-1] intervals with a native fold and slice
    out the gaps. Removal takes EVERY occurrence (the released tool's
    behavior — no canonical copy survives; keep-one-copy semantics is
    what the tiling variant provides).

    Output: (id, text rebuilt, n_tokens, n_removed). NULL-text rows
    pass through with NULL text (n_tokens 0) — the curation-stage
    invariant; a fully-duplicated document becomes the empty string.
    Docs under ``min_len`` tokens contain no window and are kept
    whole. md5 window identity makes the dup set oracle-reproducible;
    a collision would need 2^64 windows in one corpus.

    100 TB posture: the start enumeration is the same overlapping-
    shingle shape as 13-gram decontamination (contamination_gram_hits)
    — linear rows, hot boilerplate windows are AQE-skew-split at the
    count/join; everything after the semi-join is per-document array
    work with no shuffle beyond the per-doc collect_list.
    """
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    L = int(min_len)
    base = docs.select(id_col, text_col)
    w = _word_arrays(base, id_col, text_col)
    # starts feeds TWO consumers (the dup count and the semi-join
    # probe), and Spark 4.1.2 does not reuse their identical
    # subtrees — unstaged, the window enumeration + per-window md5
    # (the op's dominant per-row work) ran twice. Checkpointing
    # measured 2.82 → 1.85 s at sf0.1 (interleaved A/B, r14 round);
    # the streaming twin (streaming/exact_substr.py) already stages
    # the same frame for the same reason.
    starts = _window_starts(w, id_col, L).transform(stage, "staged")
    dup = (
        starts.groupBy("_h")
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") > 1)
        .select("_h")
    )
    marked = (
        starts.join(dup, "_h", "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("_s")).alias("_ms"))
    )
    rebuilt = _rebuild_uncovered(w, marked, id_col, L)
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.col("_text_out"))
        .alias(text_col),
        F.coalesce("n_tokens", F.lit(0).cast("bigint")).alias("n_tokens"),
        F.coalesce("n_removed", F.lit(0).cast("bigint")).alias("n_removed"),
    )


def _word_arrays(base: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _w): whitespace word arrays of the non-NULL-text rows —
    the shared staging frame of the batch and streaming ExactSubstr
    paths."""
    return base.where(F.col(text_col).isNotNull()).select(
        id_col, F.split(F.col(text_col), " ").alias("_w")
    )


def _window_starts(w: DataFrame, id_col: str, L: int) -> DataFrame:
    """(id, _s, _h): every L-token window start position with the
    window content's md5 — ONE definition for the batch dup count and
    the streaming state probe/merge, so the two paths can never hash
    differently. Explode first, hash in a SEPARATE projection
    (generator + expensive sibling in one select re-evaluates the
    sibling per exploded row — the ExtractGenerator trap)."""
    return (
        w.where(F.size("_w") >= L)
        .select(
            id_col,
            "_w",
            F.explode(
                F.expr(f"sequence(1, size(_w) - {L} + 1)")
            ).alias("_s"),
        )
        .select(
            id_col,
            "_s",
            F.md5(F.array_join(F.slice("_w", F.col("_s"), L), " ")).alias(
                "_h"
            ),
        )
    )


def _rebuild_uncovered(
    w: DataFrame, marked: DataFrame, id_col: str, L: int
) -> DataFrame:
    """(id, _text_out, n_tokens, n_removed): merge each document's
    marked [s, s+L-1] cover intervals with a native fold and slice the
    gaps back together — the shared rebuild of the batch and streaming
    paths. ``marked`` is (id, _ms: sorted int array of marked window
    starts); docs absent from it rebuild whole."""
    return (
        w.join(marked, id_col, "left")
        .withColumn(
            "_ms",
            F.coalesce(F.col("_ms"), F.expr("CAST(array() AS array<int>)")),
        )
        # merge marked [s, s+L-1] intervals (sorted starts -> disjoint
        # ascending intervals; adjacency merges too, harmless for the
        # cover set)
        .withColumn(
            "_iv",
            F.expr(
                f"""aggregate(_ms,
                    CAST(array() AS array<struct<a:int,b:int>>),
                    (acc, s) -> CASE
                      WHEN size(acc) > 0
                           AND s <= element_at(acc, -1).b + 1
                      THEN concat(
                          slice(acc, 1, size(acc) - 1),
                          array(named_struct(
                              'a', element_at(acc, -1).a,
                              'b', greatest(element_at(acc, -1).b,
                                            s + {L} - 1))))
                      ELSE concat(acc, array(named_struct(
                          'a', s, 'b', s + {L} - 1)))
                    END)"""
            ),
        )
        .select(
            id_col,
            F.size("_w").cast("bigint").alias("n_tokens"),
            F.expr(
                "CAST(aggregate(_iv, 0, (acc, iv) -> acc + iv.b - iv.a + 1)"
                " AS BIGINT)"
            ).alias("n_removed"),
            # slice out the gaps between intervals, in order
            F.expr(
                """aggregate(_iv,
                    named_struct('cur', 1,
                                 'parts', CAST(array() AS array<string>)),
                    (acc, iv) -> named_struct(
                        'cur', iv.b + 1,
                        'parts', concat(acc.parts,
                                        slice(_w, acc.cur, iv.a - acc.cur))),
                    acc -> array_join(
                        concat(acc.parts,
                               slice(_w, acc.cur, size(_w) - acc.cur + 1)),
                        ' '))"""
            ).alias("_text_out"),
        )
    )


def exact_substring_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
) -> DataFrame:
    """The AUDIT view of :func:`remove_exact_substrings`: one row per
    maximal duplicated span — (id, span_start, span_end), 1-based
    token positions inclusive — instead of the rewritten text. Same
    cover set by construction (shared window enumeration and interval
    merge), so `sum(span_end - span_start + 1)` equals the rewrite's
    `n_removed` per document. This is what a dedup review reads to
    see WHAT would be cut before committing a destructive rewrite."""
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    L = int(min_len)
    base = docs.select(id_col, text_col)
    w = _word_arrays(base, id_col, text_col)
    # two consumers, staged once — see remove_exact_substrings
    starts = _window_starts(w, id_col, L).transform(stage, "staged")
    dup = (
        starts.groupBy("_h")
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") > 1)
        .select("_h")
    )
    marked = (
        starts.join(dup, "_h", "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("_s")).alias("_ms"))
    )
    # the same interval merge _rebuild_uncovered runs (it keeps the
    # intervals internal), exploded instead of sliced — marked docs
    # only (unmarked docs contribute no spans)
    merged = (
        w.join(marked, id_col)
        .withColumn(
            "_iv",
            F.expr(
                f"""aggregate(_ms,
                    CAST(array() AS array<struct<a:int,b:int>>),
                    (acc, s) -> CASE
                      WHEN size(acc) > 0
                           AND s <= element_at(acc, -1).b + 1
                      THEN concat(
                          slice(acc, 1, size(acc) - 1),
                          array(named_struct(
                              'a', element_at(acc, -1).a,
                              'b', greatest(element_at(acc, -1).b,
                                            s + {L} - 1))))
                      ELSE concat(acc, array(named_struct(
                          'a', s, 'b', s + {L} - 1)))
                    END)"""
            ),
        )
        .select(id_col, F.explode("_iv").alias("_sp"))
        .select(
            id_col,
            F.col("_sp.a").alias("span_start"),
            F.col("_sp.b").alias("span_end"),
        )
    )
    return merged
