"""DSIR — Data Selection via Importance Resampling (Xie et al.,
NeurIPS 2023) over hashed n-gram features, all native expressions.

The published recipe for "select web data that looks like my target
corpus": fit two Laplace-smoothed bag-of-hashed-ngram models — the
TARGET distribution p (the data you want more of) and the RAW
distribution q (the corpus you are selecting from) — weight every raw
document by its estimated log importance ratio

    log p(doc)/q(doc) = sum over the doc's features of log(p_b / q_b)

and resample with Gumbel-top-k (equivalent to Efraimidis–Spirakis on
w = exp(log-ratio), but overflow-safe because it never exponentiates).

Engine-portable by construction, like every selection operator here:

- features hash through the ONE shared portable expression
  (``sampling.md5_hash64`` mod ``n_buckets``);
- per-bucket log-probabilities are natural logs rounded to 9 dp (the
  repo-wide transcendental-float discipline);
- per-document sums run in DECIMAL(28,9) — associative, partial-agg
  safe, bit-identical on any engine or partitioning;
- Gumbel keys derive from md5 of the salted document id, so the
  sample is reproducible across engines, reruns, and cluster sizes.

100 TB posture: both models are ``n_buckets``-row tables (the paper
uses 10k buckets) — broadcast-sized regardless of corpus size.
Fitting is one explode + partial-agg groupBy per corpus; scoring is
one explode + one broadcast join + one partial-agg groupBy keyed by
document id; resampling is sort+limit (TakeOrderedAndProject). Linear
end to end, one shuffle per pass, nothing all-pairs, nothing
collected to the driver.

Reference analogue: the reference selects rows by handwritten score
thresholds (price_prediction_data_pipeline.py:63-100's quality gate +
sample); DSIR is the published importance-resampling upgrade of that
select-by-score shape, included as a first-class curation operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .sampling import md5_hash64

__all__ = [
    "words_nonempty",
    "buckets_from_words",
    "hashed_ngram_buckets",
    "fit_hashed_ngram_model",
    "dsir_log_ratio",
    "dsir_log_ratio_flagged",
    "dsir_score",
    "dsir_weights",
    "dsir_weights_flagged",
    "gumbel_topk",
]


def words_nonempty(text: Column) -> Column:
    """Non-empty whitespace tokens — the DSIR feature alphabet's word
    array, exposed so call-sites can STAGE it in its own select: the
    bucket expression references the array ~5 times, and staging lets
    CollapseProject keep the split+filter below (one evaluation per
    row) instead of re-inlining it per reference — measured ~25%
    faster per corpus explode at sf0.1."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def buckets_from_words(w: Column, n_buckets: int) -> Column:
    """Feature-bucket array from a staged word-array column: every
    unigram and adjacent bigram occurrence, hashed into
    ``[0, n_buckets)`` with the portable md5 expression.

    The bigram array is built with ``zip_with(w, slice(w, 2, …))`` —
    direct child expressions, evaluated once per row — not the
    index-lambda form that re-splits the text O(n²) times (the
    textstats.bigrams lesson).
    """
    paired = F.zip_with(
        w,
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(1))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = F.when(F.size(w) >= 2, F.slice(paired, 1, F.size(w) - 1)).otherwise(
        F.array().cast("array<string>")
    )
    return F.transform(
        F.concat(w, bg), lambda t: F.pmod(md5_hash64(t), F.lit(n_buckets))
    )


def hashed_ngram_buckets(text: Column, n_buckets: int) -> Column:
    """Array of feature-bucket ids for one document, straight from the
    text column: ``buckets_from_words(words_nonempty(text))``. NULL
    text yields NULL (explode drops it; weight queries left-join those
    docs back at weight 0). Inside an operator, prefer staging
    ``words_nonempty`` in its own select (see that docstring)."""
    return buckets_from_words(words_nonempty(text), n_buckets)


def fit_hashed_ngram_model(
    df: DataFrame, text_col: str, n_buckets: int, out_col: str = "logp"
) -> DataFrame:
    """Laplace-smoothed hashed-ngram model: the FULL ``n_buckets``-row
    table ``(bucket, out_col)`` with

        out_col = round(ln((count_b + 1) / (n_total + n_buckets)), 9)

    Every bucket is present (zero-count buckets carry the smoothing
    floor), so downstream joins are plain inner joins with no missing-
    key coalesce. The table is ``n_buckets`` rows — broadcast-sized at
    any corpus scale; the fit itself is one explode + one partial-agg
    groupBy over at most ``n_buckets`` keys.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    staged = df.select(words_nonempty(F.col(text_col)).alias("_w"))
    feats = staged.select(
        F.explode(buckets_from_words(F.col("_w"), n_buckets)).alias("bucket")
    )
    counts = feats.groupBy("bucket").agg(F.count("*").alias("_c"))
    full = df.sparkSession.range(n_buckets).withColumnRenamed("id", "bucket")
    # total feature count as a window over the n_buckets-row model
    # table — NOT a separate .agg() consumed via crossJoin, which
    # plans the whole explode+groupBy subtree TWICE (once per
    # consumer). The single-partition window is bounded at n_buckets
    # rows by construction, not by the corpus.
    wall = Window.partitionBy(F.lit(1))
    zero = F.lit(0).cast("long")
    return (
        full.join(counts, "bucket", "left")
        .select("bucket", F.coalesce(F.col("_c"), zero).alias("_c"))
        .withColumn("_n", F.sum("_c").over(wall))
        .select(
            "bucket",
            F.round(
                F.log(
                    (F.col("_c") + F.lit(1))
                    / (F.col("_n") + F.lit(n_buckets)).cast("double")
                ),
                9,
            ).alias(out_col),
        )
    )


def dsir_log_ratio(
    target: DataFrame, raw: DataFrame, text_col: str, n_buckets: int
) -> DataFrame:
    """Per-bucket importance log-ratio table ``(bucket, lr)`` with
    ``lr = round(logp_target - logq_raw, 9)`` — ``n_buckets`` rows,
    broadcast-sized."""
    p = fit_hashed_ngram_model(target, text_col, n_buckets, out_col="_logp")
    q = fit_hashed_ngram_model(raw, text_col, n_buckets, out_col="_logq")
    return p.join(q, "bucket").select(
        "bucket", F.round(F.col("_logp") - F.col("_logq"), 9).alias("lr")
    )


def dsir_score(
    df: DataFrame,
    lr: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
) -> DataFrame:
    """Score documents under a GIVEN log-ratio table ``(bucket, lr)``
    — the serve half of DSIR, usable against a freshly-fit table or
    one read back from storage (the frozen-curation-model path):
    ``(id_col, n_features, dsir_weight)``, DECIMAL(28,9)-summed
    per-feature log-ratios cast to double and rounded to 9 dp.
    Documents with no features (NULL or empty text) pass through at
    weight 0.0 — selection operators must not silently drop rows (the
    curate-stage invariant). One explode + one broadcast join (the lr
    table is ``n_buckets`` rows) + one partial-agg groupBy."""
    staged = df.select(
        F.col(id_col), words_nonempty(F.col(text_col)).alias("_w")
    )
    feats = staged.select(
        id_col,
        F.explode(buckets_from_words(F.col("_w"), n_buckets)).alias("bucket"),
    )
    return _score_from_feats(df, feats, lr, id_col)


def _score_from_feats(
    df: DataFrame, feats: DataFrame, lr: DataFrame, id_col: str
) -> DataFrame:
    """The scoring tail shared by ``dsir_score`` and the staged
    one-explode ``dsir_weights_flagged``: broadcast-join the
    ``(bucket, lr)`` table to the feature rows, DECIMAL(28,9)-sum per
    doc, left-join the weights back onto the id spine so featureless
    docs pass through at weight 0 (the curate-stage invariant)."""
    scored = (
        feats.join(F.broadcast(lr), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_features"),
            F.sum(F.col("lr").cast("decimal(28,9)")).alias("_s"),
        )
    )
    zero = F.lit(0).cast("decimal(28,9)")
    return df.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_features"), F.lit(0).cast("long")).alias("n_features"),
        F.round(F.coalesce(F.col("_s"), zero).cast("double"), 9).alias(
            "dsir_weight"
        ),
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 1024,
) -> DataFrame:
    """Per-document DSIR importance weight over the raw corpus:
    fit both models, then ``dsir_score`` under the resulting
    log-ratio table."""
    lr = dsir_log_ratio(target, raw, text_col, n_buckets)
    return dsir_score(raw, lr, id_col, text_col, n_buckets)


def dsir_weights_flagged(
    raw: DataFrame,
    target_flag: Column,
    id_col: str,
    text_col: str,
    n_buckets: int = 1024,
) -> DataFrame:
    """``dsir_weights`` for the common in-corpus target: the target is
    ``raw.where(target_flag)`` (e.g. the heuristic-quality seed set).
    Same numbers as the two-frame form — bucket counts, round-9 lns,
    round-9 log-ratio, DECIMAL(28,9) doc sums — but the corpus
    explodes ONCE total: the (id, flag, bucket) feature frame is
    staged (``staging.stage`` — the multi-consumer discipline) and
    feeds BOTH the conditional-count model fit and the scoring join.
    The two-frame form explodes three times (target fit, raw fit,
    scoring) and the r13 one-pass-fit form still twice; at 100 TB each
    saved explode is a full corpus pass. A NULL flag counts as
    not-target, matching ``where(flag)``'s NULL-drops semantics; the
    flag expression is evaluated exactly once per doc (below the
    explode — the ExtractGenerator rule, see dsir_log_ratio_flagged)."""
    from .staging import stage

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    pre = raw.select(
        F.col(id_col),
        target_flag.alias("_t"),
        words_nonempty(F.col(text_col)).alias("_w"),
    )
    feats = pre.select(
        id_col,
        "_t",
        F.explode(buckets_from_words(F.col("_w"), n_buckets)).alias("bucket"),
    ).transform(stage, "dsir_feats")
    counts = feats.groupBy("bucket").agg(
        F.count("*").alias("_rc"),
        F.count_if(F.coalesce(F.col("_t"), F.lit(False))).alias("_tc"),
    )
    lr = _lr_from_flag_counts(raw.sparkSession, counts, n_buckets)
    return _score_from_feats(raw, feats, lr, id_col)


def dsir_log_ratio_flagged(
    raw: DataFrame, target_flag: Column, text_col: str, n_buckets: int
) -> DataFrame:
    """One-pass log-ratio fit for an in-corpus target: both bucket
    models come out of one exploded pass with a conditional count on
    the flag. Output ``(bucket, lr)``, the same numbers as
    ``dsir_log_ratio(raw.where(flag), raw, …)``.

    The flag and the bucket array are projected in a SEPARATE select
    below the explode: a select mixing a generator with sibling
    expressions gets split by ExtractGenerator into Generate + an
    upper Project, which re-evaluates the siblings once per EXPLODED
    row — for a text-derived flag like the quality score that is
    O(features × text_length) per doc (measured 14× slower at sf0.1
    before the split)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    pre = raw.select(
        target_flag.alias("_t"), words_nonempty(F.col(text_col)).alias("_w")
    )
    cfeats = pre.select(
        "_t",
        F.explode(buckets_from_words(F.col("_w"), n_buckets)).alias("bucket"),
    )
    counts = cfeats.groupBy("bucket").agg(
        F.count("*").alias("_rc"),
        F.count_if(F.coalesce(F.col("_t"), F.lit(False))).alias("_tc"),
    )
    return _lr_from_flag_counts(raw.sparkSession, counts, n_buckets)


def _lr_from_flag_counts(
    spark, counts: DataFrame, n_buckets: int
) -> DataFrame:
    """(bucket, _rc, _tc) → the full ``n_buckets``-row (bucket, lr)
    log-ratio table — the smoothing/rounding arithmetic shared by
    ``dsir_log_ratio_flagged`` and the staged one-explode
    ``dsir_weights_flagged`` (one definition so the two paths cannot
    drift numerically)."""
    full = spark.range(n_buckets).withColumnRenamed("id", "bucket")
    zero = F.lit(0).cast("long")

    def _smoothed(c: Column, n: Column) -> Column:
        return F.round(
            F.log((c + F.lit(1)) / (n + F.lit(n_buckets)).cast("double")), 9
        )

    # totals as a window over the n_buckets-row model table — a
    # separate .agg() consumed via crossJoin plans the whole
    # explode+groupBy subtree twice (once per consumer); the
    # single-partition window is bounded at n_buckets rows
    wall = Window.partitionBy(F.lit(1))
    return (
        full.join(counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("_rc"), zero).alias("_rc"),
            F.coalesce(F.col("_tc"), zero).alias("_tc"),
        )
        .withColumn("_rn", F.sum("_rc").over(wall))
        .withColumn("_tn", F.sum("_tc").over(wall))
        .select(
            "bucket",
            F.round(
                _smoothed(F.col("_tc"), F.col("_tn"))
                - _smoothed(F.col("_rc"), F.col("_rn")),
                9,
            ).alias("lr"),
        )
    )


def gumbel_topk(
    df: DataFrame,
    id_col: str,
    log_weight_col: str,
    k: int,
    salt: str = "dsir",
    out_col: str = "gumbel_key",
) -> DataFrame:
    """Gumbel-top-k resampling on LOG weights: draw a deterministic
    Gumbel ``g = -ln(-ln(u))`` from the salted portable hash of the
    id, rank by ``round(log_weight + g, 9)`` (id tie-break), keep the
    top ``k``. Equivalent to weighted sampling without replacement on
    ``w = exp(log_weight)`` (the Gumbel-max trick), but never
    exponentiates — log-ratio sums of ±hundreds stay finite.

    ``u = (hash + 0.5) / 2^32`` lies strictly inside (0, 1) — the ES
    sampler's ``(hash + 1) / 2^32`` convention would admit u = 1, where
    the OUTER log of the Gumbel blows up (−ln 0). Both the numerator
    bump and the power-of-two division are exact in double, so u (and
    hence the sample) is engine-portable. Sort+limit is
    TakeOrderedAndProject — per-partition top-k then a k-row merge,
    no single-partition window, scale-safe.

    Rows with a NULL id or NULL log-weight are excluded — a NULL key
    would otherwise occupy a sample slot under descending sort.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    u = (
        md5_hash64(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    key = F.round(F.col(log_weight_col) + (-F.log(-F.log(u))), 9)
    return (
        df.where(F.col(id_col).isNotNull() & F.col(log_weight_col).isNotNull())
        .withColumn(out_col, key)
        .orderBy(F.desc(out_col), F.col(id_col))
        .limit(k)
    )
