"""Byte-pair-encoding merge training over the corpus vocabulary.

The tokenizer-training step of an LLM data pipeline (Sennrich et al.,
"Neural Machine Translation of Rare Words with Subword Units", ACL
2016 — word-level classic BPE). The scale contract: the ONE
corpus-size-proportional pass is the word-frequency reduction
(explode → partial-aggregable groupBy), after which every merge round
iterates over the (word, frequency) VOCABULARY table — orders of
magnitude smaller than the corpus and independent of corpus growth
once the vocabulary saturates. Each round is one shuffle (pair-count
groupBy) plus a 1-row argmax collect (the same O(1)-driver-read
budget as watermark reads); symbol rewriting is a native
``aggregate`` fold — no UDF, no driver-side vocabulary.

Determinism: the winning pair is argmax by (count DESC, left, right)
— a total order, since (left, right) is unique per round — so the
merge sequence is reproducible and cross-checkable against a
reference implementation (tests do exactly that).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .staging import release_staged, stage


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<l,r>> of adjacent symbol pairs; the trailing
    zip_with pad (r = null) is filtered by callers."""
    return F.zip_with(
        syms,
        F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(1))),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )


def merge_pair(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of every adjacent (left, right) in a
    symbol array — the classic-BPE rewrite, as a native fold: the
    accumulator re-checks its own last element, so 'aaa' under (a,a)
    becomes [aa, a] and 'aaaa' becomes [aa, aa], exactly as the
    sequential reference does."""
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(wf, syms): corpus word frequencies with each word split into
    its character symbols — the one corpus-proportional pass."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("wf"))
        .select("wf", F.split("w", "").alias("syms"))
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """(l, r, pair_count): frequency-weighted adjacent symbol pairs
    over the vocabulary — one partial-aggregable shuffle."""
    return (
        vocab.select("wf", F.explode(_adjacent_pairs(F.col("syms"))).alias("p"))
        .where(F.col("p.r").isNotNull())
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("wf").alias("pair_count"))
    )


def bpe_train(
    docs: DataFrame, text_col: str = "text", n_merges: int = 8
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules from the corpus.

    Returns (rank int, left, right, merged, pair_count) in learning
    order. Each round stages the rewritten vocabulary and releases the
    previous round's (the near_dup_clusters pattern): plan depth stays
    O(1) per round instead of compounding fold-inside-fold expressions,
    at the price of one eager job per round — the right trade for an
    inherently sequential algorithm. Stops early when no pair repeats
    (max pair_count would be a single word's internal pair with wf=1
    and no competitors — still merged; only an EMPTY pair table stops).
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    spark = docs.sparkSession
    vocab = stage(word_vocab(docs, text_col), "bpe_vocab")
    merges: list[tuple] = []
    try:
        for rank in range(1, n_merges + 1):
            best = (
                pair_counts(vocab)
                .orderBy(F.col("pair_count").desc(), "l", "r")
                .limit(1)
                .collect()
            )
            if not best:  # every word is a single symbol already
                break
            left, right, cnt = best[0]["l"], best[0]["r"], int(best[0]["pair_count"])
            merges.append((rank, left, right, left + right, cnt))
            prev, vocab = vocab, stage(
                vocab.select(
                    "wf", merge_pair(F.col("syms"), left, right).alias("syms")
                ),
                "bpe_vocab",
            )
            release_staged(prev)
    finally:
        release_staged(vocab)
    return spark.createDataFrame(
        merges,
        "rank int, left string, right string, merged string, pair_count bigint",
    )


def bpe_segment(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply learned merge rules (in rank order) to every word of
    ``text_col``; emits ``out_col`` as the flattened subword array.
    The rules chain as nested native folds — n_merges is small (a
    learned tokenizer applies rules by rank), so the unrolled
    expression stays shallow; no UDF, fully codegen-free-but-JVM-side.
    Concatenation invariant: joining a word's subwords reproduces the
    word (tests assert it)."""
    words = F.split(F.col(text_col), " ")
    syms_of = F.transform(words, lambda w: F.split(w, ""))

    def _apply_rule(left: str, right: str):
        # closure factory: default-arg binding would change the
        # lambda's ARITY, which PySpark inspects to pick the
        # higher-order-function form — a 3-param lambda fails analysis
        return lambda s: merge_pair(s, left, right)

    for left, right in merges:
        syms_of = F.transform(syms_of, _apply_rule(left, right))
    return docs.withColumn(
        out_col,
        F.filter(F.flatten(syms_of), lambda t: t != ""),
    )
