"""Tokenizer lifecycle: train a tokenizer into versioned storage,
encode from the stored artifact — the same build-once / serve-many
split the ANN indexes use (jobs/ann_index.py), applied to the two
tokenizer families (operators/bpe.py, operators/unigram.py).

A production pipeline trains its tokenizer ONCE (an expensive
vocabulary-wide job) and then encodes every corpus, every day, under
the frozen artifact; fusing train+encode in one plan (as the
oracle-twin demo queries txt_bpe_encode / txt_unigram_encode do)
would pay the training passes on every encode. The store mirrors
PQIndexStore: one versioned table per artifact kind plus an atomic
meta JSON pinning (family, params, table version) — an encode racing
a retrain reads a consistent artifact or the complete new one, never
a mix.

Storage layout, under one root:
    <root>/pieces — unigram: (piece, cnt, logp)
                    bpe:     (rank, left, right, merged, pair_count)
    plus ``meta`` pinning family, fit params and pieces_version.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.staging import release_staged, stage
from ..storage import JsonMetaStore, VersionedTable

_FAMILIES = ("unigram", "bpe")


class TokenizerStore(JsonMetaStore):
    """Versioned pieces table + fit-parameter meta under one root."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.pieces = VersionedTable(spark, os.path.join(root, "pieces"))

    def exists(self) -> bool:
        return self.pieces.exists() and self.meta_exists()


def train_tokenizer(
    store: TokenizerStore,
    docs: DataFrame,
    family: str = "unigram",
    text_col: str = "text",
    max_len: int = 4,
    min_count: int = 2,
    em_rounds: int = 1,
    n_merges: int = 8,
) -> dict[str, Any]:
    """BUILD job: fit the tokenizer and commit the artifact.

    ``unigram``: candidate inventory → log-probs → ``em_rounds``
    hard-EM refits (operators/unigram.py). ``bpe``: the first
    ``n_merges`` merge rules in learning order (operators/bpe.py).
    Both reduce the corpus once to its word-frequency vocabulary —
    the only corpus-proportional pass. Meta is written LAST and pins
    the committed version, the family and every fit parameter an
    encode needs, so the serve side can never segment under different
    geometry than the fit."""
    if family not in _FAMILIES:
        raise ValueError(f"family must be one of {_FAMILIES}, got {family!r}")
    if family == "unigram":
        from ..operators import unigram

        vocab = (
            docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
            .where(F.col("w") != "")
            .groupBy("w")
            .agg(F.count("*").alias("n"))
            .transform(stage, "tokenizer_vocab")  # candidates + every EM round
        )
        pieces = unigram.piece_logprobs(
            unigram.unigram_candidates(
                vocab, word_col="w", n_col="n",
                max_len=max_len, min_count=min_count,
            )
        )
        try:
            for r in range(em_rounds):
                # each round reads the last, which is released once the
                # new round is staged
                prev, pieces = pieces, stage(
                    unigram.unigram_refit(
                        vocab, pieces, word_col="w", n_col="n", max_len=max_len
                    ),
                    "unigram_pieces",
                )
                if r:
                    release_staged(prev)
            commit = store.pieces.overwrite(pieces)
        finally:
            release_staged(vocab)
            if em_rounds:
                release_staged(pieces)
        meta = {
            "family": "unigram",
            "max_len": max_len,
            "min_count": min_count,
            "em_rounds": em_rounds,
            "pieces_version": commit.version,
        }
    else:
        from ..operators import bpe

        rules = bpe.bpe_train(docs, text_col=text_col, n_merges=n_merges)
        commit = store.pieces.overwrite(rules)
        # the id space needs the FULL character inventory, not just the
        # symbols merge rules touch: bpe_segment emits every corpus
        # character as a piece, and an id map built from rules alone
        # would send known characters to <unk> (alphabet-sized — meta
        # JSON is the right home, like every other fit parameter)
        chars = sorted(
            r["c"]
            for r in docs.select(
                F.explode(
                    F.split(
                        F.concat_ws("", F.split(F.col(text_col), " ")), ""
                    )
                ).alias("c")
            )
            .where(F.col("c") != "")
            .distinct()
            .collect()
        )
        meta = {
            "family": "bpe",
            "n_merges": n_merges,
            "chars": chars,
            "pieces_version": commit.version,
        }
    store._write_meta(meta)
    n_pieces = store.pieces.read(commit.version).count()
    return {**meta, "n_pieces": n_pieces}


def encode_corpus(
    store: TokenizerStore,
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "pieces",
) -> DataFrame:
    """SERVE: tokenize ``text_col`` under the STORED artifact — no
    fit stages in the plan. Family and parameters come from the
    store's meta, never the caller.

    Scale shape (both families): the corpus reduces to its DISTINCT
    words, each word encodes once, and the per-word piece arrays join
    back to the exploded corpus positions (AQE broadcasts the
    vocabulary side) — cost follows the vocabulary plus one corpus
    join, not words × corpus. Output: input columns + ``out_col``
    (array<string> of pieces, in reading order across the document).
    Rows are re-keyed by ALL input columns, so exact-duplicate input
    rows collapse to one output row — feed unique-id frames (every
    corpus table here has one).
    """
    if not store.exists():
        raise FileNotFoundError(
            f"no tokenizer at {store.root}; run train_tokenizer first"
        )
    meta = store.meta()
    artifact = store.pieces.read(meta.get("pieces_version"))
    with_pos = docs.withColumn(
        "_wp",
        F.filter(
            F.zip_with(
                F.split(F.col(text_col), " "),
                F.sequence(F.lit(1), F.size(F.split(F.col(text_col), " "))),
                lambda w, i: F.struct(w.alias("w"), i.alias("i")),
            ),
            lambda e: e["w"] != "",
        ),
    )
    # explode_OUTER: a NULL/empty/whitespace-only text has no words,
    # and a plain explode would silently delete the document from the
    # output (it encodes to an EMPTY piece array instead)
    exploded = with_pos.select(
        "*", F.explode_outer("_wp").alias("_e")
    ).select("*", F.col("_e.w").alias("_w"), F.col("_e.i").alias("_i"))
    if meta["family"] == "unigram":
        from ..operators import unigram

        # a word with a character outside the inventory (possible when
        # serving a NEWER corpus than the fit saw) degrades to one
        # <unk> piece — the SentencePiece fallback — instead of
        # nulling the whole document's encoding
        seg = unigram.viterbi_segment(
            exploded.select(F.col("_w").alias("w")),
            artifact,
            word_col="w",
            max_len=int(meta["max_len"]),
        ).select(
            F.col("w").alias("_w"),
            F.coalesce(
                F.col("pieces"), F.array(F.lit("<unk>"))
            ).alias("_ps"),
        )
    else:
        from ..operators import bpe

        rules = [
            (r["left"], r["right"])
            for r in artifact.orderBy("rank").collect()
        ]
        vocab = exploded.select(F.col("_w").alias("w")).distinct()
        seg = bpe.bpe_segment(
            vocab, rules, text_col="w", out_col="_ps"
        ).select(F.col("w").alias("_w"), "_ps")
    id_cols = [c for c in docs.columns]
    return (
        exploded.join(seg, "_w", "left")
        .groupBy(*id_cols)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        # collect_list skips NULLs: the explode_outer
                        # placeholder row (no word) contributes nothing
                        # and a wordless doc aggregates to []
                        F.collect_list(
                            F.when(
                                F.col("_w").isNotNull(),
                                F.struct(F.col("_i"), F.col("_ps")),
                            )
                        )
                    ),
                    lambda s: s["_ps"],
                )
            ).alias(out_col)
        )
    )


def encode_ids(
    store: TokenizerStore,
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "piece_ids",
) -> DataFrame:
    """SERVE: tokenize to INTEGER piece ids — what a training loader
    actually consumes. Ids are the stored inventory's rank order
    (count desc, piece asc — deterministic, so the same artifact
    version always yields the same id space), with id 0 reserved for
    ``<unk>``. Same distinct-word shape as :func:`encode_corpus`,
    plus one broadcast piece→id join applied VOCABULARY-side (each
    distinct word's pieces map once, never per corpus row).

    Output: input columns + ``out_col`` (array<int>) +
    ``{out_col}_n`` (its length, for the packing manifest)."""
    from pyspark.sql import Window

    pieces = encode_corpus(store, docs, text_col, out_col="_pstr")
    meta = store.meta()
    artifact = store.pieces.read(meta.get("pieces_version"))
    if meta["family"] == "unigram":
        ordering = [F.col("cnt").desc(), F.col("piece")]
        id_src = artifact.select("piece", "cnt")
    else:
        # BPE: the FULL train-time character inventory (meta['chars'] —
        # bpe_segment emits every character as a piece, so an id map
        # built from rule symbols alone would send known characters to
        # <unk>) + merged symbols ranked by learning order after it.
        # Legacy stores without the chars pin fall back to rule symbols
        # (their historical, narrower behavior).
        spark = docs.sparkSession
        if meta.get("chars"):
            chars = spark.createDataFrame(
                [(c,) for c in meta["chars"]], "piece string"
            ).withColumn("cnt", F.lit(0))
        else:
            chars = (
                artifact.select(
                    F.explode(F.array("left", "right")).alias("piece")
                )
                .where(F.length("piece") == 1)
                .distinct()
                .withColumn("cnt", F.lit(0))
            )
        merged = artifact.select(
            F.col("merged").alias("piece"), (-F.col("rank")).alias("cnt")
        )
        id_src = chars.unionByName(merged)
        ordering = [F.col("cnt").desc(), F.col("piece")]
    w = Window.orderBy(*ordering)
    vocab_ids = id_src.select(
        "piece", F.row_number().over(w).cast("int").alias("_pid")
    )
    # vocabulary-side id mapping: distinct piece-arrays are few; map
    # via explode + join-back on the DISTINCT arrays, not per doc row
    arrs = pieces.select("_pstr").distinct()
    mapped = (
        arrs.select(
            "_pstr", F.posexplode("_pstr").alias("_pos", "piece")
        )
        .join(F.broadcast(vocab_ids), "piece", "left")
        .groupBy("_pstr")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("_pos", F.coalesce("_pid", F.lit(0)).alias("p"))
                    )
                ),
                lambda s: s["p"],
            ).alias(out_col)
        )
    )
    return (
        # LEFT join + empty-array fallback: the empty piece array (a
        # wordless doc) explodes to zero rows in `mapped`, so an inner
        # join would delete the doc the explode_outer upstream just
        # preserved
        pieces.join(mapped, "_pstr", "left")
        .drop("_pstr")
        .withColumn(
            out_col,
            F.coalesce(
                F.col(out_col), F.expr("CAST(array() AS array<int>)")
            ),
        )
        .withColumn(f"{out_col}_n", F.size(out_col))
    )


def piece_counts(
    store: TokenizerStore,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_pieces): per-document stored-tokenizer piece counts —
    the sizing input shared by :func:`pack_manifest` and the curate
    job's --tokenizer packing path (windows in TRAINING tokens)."""
    return encode_ids(store, docs, text_col).select(
        id_col, F.col("piece_ids_n").alias("n_pieces")
    )


def pack_manifest(
    store: TokenizerStore,
    docs: DataFrame,
    ctx: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk packing manifest under TOKENIZER-TRUE counts:
    the same range-partitioned two-phase prefix sum as the curation
    packer (ranking.global_cumsum_by_range — no global window), but
    offsets measured in stored-tokenizer pieces instead of whitespace
    tokens, so the emitted windows are exactly ``ctx`` training
    tokens. Output: (doc_id, n_pieces, start_offset, chunk_start,
    chunk_end) — the loader-side manifest; piece content itself stays
    in the encode output, never shuffled by the packer."""
    from ..operators import ranking

    enc = piece_counts(store, docs, id_col, text_col)
    cum = ranking.global_cumsum_by_range(enc, id_col, "n_pieces")
    span = ranking.chunk_span("cum_before", "n_pieces", ctx)
    return cum.select(
        id_col,
        "n_pieces",
        span["start_offset"].alias("start_offset"),
        span["chunk_start"].alias("chunk_start"),
        span["chunk_end"].alias("chunk_end"),
    )


def materialize_packed(
    store: TokenizerStore,
    docs: DataFrame,
    ctx: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "token_ids",
) -> DataFrame:
    """Materialize the packed training windows themselves:
    (chunk_id, ``out_col`` array<int>) where the id stream of all
    documents (in ``id_col`` order) is tiled into consecutive
    ``ctx``-token windows — the artifact a training loader memory-maps.

    ``pack_manifest`` is the planning half (offsets only, no token
    movement); this is the one job that SHOULD shuffle token content,
    exactly once: every token is keyed to its global position
    (start_offset from the same range-partitioned prefix sum + its
    position within the doc), grouped by ``floor(position / ctx)``,
    and reassembled in order. Cost: one corpus-token shuffle on the
    chunk key — the unavoidable minimum for physical windows, and the
    chunk key is uniform by construction (every chunk holds exactly
    ``ctx`` tokens), so there is no skew to salt.

    The final partial window is emitted as-is (shorter than ``ctx``);
    drop it or pad loader-side per training convention."""
    from ..operators import ranking

    # encode once: the counts->prefix-sum branch and the token explode
    # both consume enc, and the encode plan (distinct-word Viterbi +
    # corpus join) is too expensive to evaluate per branch
    enc = stage(encode_ids(store, docs, text_col), "packed_windows_ids")
    counts = enc.select(id_col, F.col("piece_ids_n").alias("n_pieces"))
    cum = ranking.global_cumsum_by_range(counts, id_col, "n_pieces").select(
        id_col, F.col("cum_before").alias("_off")
    )
    toks = (
        enc.join(cum, id_col)
        .select(
            id_col,
            "_off",
            F.posexplode("piece_ids").alias("_pos", "_tid"),
        )
        .select(
            (F.col("_off") + F.col("_pos")).alias("_gpos"), F.col("_tid")
        )
    )
    return (
        toks.withColumn("chunk_id", F.floor(F.col("_gpos") / ctx))
        .groupBy("chunk_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_gpos", "_tid"))
                ),
                lambda s: s["_tid"],
            ).alias(out_col)
        )
    )
