"""End-to-end training-corpus curation job (north-star path).

The training-data analog of the reference's dataset pipelines
(``price_prediction_data_pipeline.py``'s filter → publish → validate →
rollback shape, applied to a document corpus): quality-gate →
exact dedup → near-dup collapse → deterministic split, published to a
versioned table with per-stage metrics.

Every stage is the scale-safe variant: the quality gate is one narrow
expression pass (no shuffle), exact dedup hash-partitions on
``xxhash64(text)``, near-dup collapse is banded MinHash-LSH with
bucket caps, and the split is a pure function of ``doc_id`` (stable
under reruns, repartitioning, and engine versions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup, langcurate, sampling
from ..operators.textstats import (
    _dup_token_ratio_raw,
    _top_bigram_ratio_raw,
    lang_id,
    pii_counts,
    quality_score,
    scrub_pii,
    token_count_ws,
)
from ..operators.staging import release_staged, stage
from ..storage import VersionedTable

DEFAULT_SPLITS = {"train": 0.8, "eval": 0.1, "test": 0.1}


def blocklist_stage(
    docs: DataFrame,
    url_col: str,
    blocklist: DataFrame,
    id_col: str = "doc_id",
    domain_col: str = "domain",
) -> DataFrame:
    """URL domain-blocklist cut as the ZEROTH curation stage (the
    UT1-blocklist step of RefinedWeb §3.1 / FineWeb — runs on URLs
    before any text is touched): drops docs whose host falls under a
    blocked domain at label boundaries, exact host and all subdomains.
    Rows with no parseable host pass through
    (``functions.urls.filter_blocked_hosts``: one bounded suffix-chain
    explode + broadcast semi-join + anti-join back)."""
    from ..functions.urls import filter_blocked_hosts

    return filter_blocked_hosts(
        docs, url_col, blocklist, id_col=id_col, domain_col=domain_col
    )


def c4_stage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    min_lines: int = 3,
) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2) between the
    scrub and the quality gate — the gate must score the lines that
    will actually be published: ``text_col`` is REPLACED by the
    retained lines (NULL text stays NULL); documents failing the doc
    rules (<``min_lines`` kept, lorem ipsum, curly bracket) are
    dropped. NULL-text rows pass through via the operator's
    ``keep_nulls`` mode (the shared stage invariant) — one map-only
    projection, ONE corpus scan (no passthrough union)."""
    from ..operators.textstats import c4_clean

    return (
        c4_clean(
            docs,
            id_col,
            text_col,
            min_words=min_words,
            min_lines=min_lines,
            keep_nulls=True,
        )
        .drop(text_col, "n_lines", "n_kept")
        .withColumnRenamed("clean_text", text_col)
    )


def scrub_stage(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction as the FIRST curation stage (quality must be
    measured on what will actually be published): replaces ``text_col``
    with the scrubbed text and adds ``n_pii`` (total redactions per
    doc) for the audit metrics. One codegen'd projection, no UDF."""
    t = F.col(text_col)
    counts = pii_counts(t)
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return docs.withColumn("n_pii", total.cast("long")).withColumn(
        text_col, scrub_pii(t)
    )


def pack_stage(
    docs: DataFrame,
    split_col: str = "split",
    id_col: str = "doc_id",
    text_col: str = "text",
    ctx: int = 512,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Per-split concat-and-chunk packing: each split's documents are
    laid out as one contiguous token stream (stable ``id_col`` order)
    and cut every ``ctx`` tokens; every doc gets its stream offset and
    chunk span. Packing never crosses splits — eval chunks must not
    borrow train tokens.

    Scale shape: one ``global_cumsum_by_range`` pass per split (splits
    are few), so the big-table cumsum window is range-partitioned, not
    a per-split single partition. The upstream pipeline is checkpointed
    once here — the split-name collect and the per-split branches would
    otherwise each re-run the whole scrub/gate/dedup lineage."""
    from functools import reduce

    from ..operators.ranking import chunk_span, global_cumsum_by_range

    if ctx < 1:
        raise ValueError(f"pack ctx must be >= 1, got {ctx}")
    # default sizing is whitespace tokens; ``n_tokens_col`` swaps in a
    # precomputed count (the curate job's --tokenizer path feeds
    # stored-tokenizer piece counts, so windows are ctx TRAINING
    # tokens, not ctx whitespace words)
    sized = docs.withColumn(
        "_ntok",
        F.col(n_tokens_col)
        if n_tokens_col
        else token_count_ws(F.col(text_col)),
    ).transform(stage, "pack_sized")
    names = [r[0] for r in sized.select(split_col).distinct().collect()]
    if not names:  # empty input: keep the output schema, skip the union
        span = chunk_span("cum_before", "_ntok", ctx)
        empty = sized.withColumn("cum_before", F.lit(0).cast("bigint"))
        return (
            empty.withColumn("start_offset", span["start_offset"])
            .withColumn("chunk_start", span["chunk_start"])
            .withColumn("chunk_end", span["chunk_end"])
            .drop("cum_before", "_ntok")
        )
    parts = []
    for name in sorted(names):
        sub = sized.where(F.col(split_col) == name)
        cum = global_cumsum_by_range(sub, id_col, "_ntok")
        parts.append(cum)
    out = reduce(lambda a, b: a.unionByName(b), parts)
    span = chunk_span("cum_before", "_ntok", ctx)
    return (
        out.withColumn("start_offset", span["start_offset"])
        .withColumn("chunk_start", span["chunk_start"])
        .withColumn("chunk_end", span["chunk_end"])
        .drop("cum_before", "_ntok")
    )


def quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 10,
    max_tokens: int = 10_000,
    dup_token_cap: float = 0.55,
    top_bigram_cap: float = 0.2,
    quality_floor: float = 0.4,
    dup_coverage_cap: tuple[int, float] | None = None,
    dup_line_cap: float | None = None,
    dup_line_char_cap: float | None = None,
    dup_paragraph_cap: float | None = None,
    dup_paragraph_char_cap: float | None = None,
) -> DataFrame:
    """Gopher-rules gate: length window + repetition caps + composite
    quality floor, evaluated on unrounded signals in one projection.

    ``top_bigram_cap`` bounds the OCCURRENCE fraction of the most
    frequent bigram (Gopher's published filter caps its CHARACTER
    fraction at 0.20; the occurrence form at the same 0.20 is the
    length-insensitive analog). A doc with n tokens has
    top_bigram_ratio >= 1/(n-1), so the cap must satisfy
    cap >= 1/(min_tokens-1) or short documents are unconditionally
    rejected regardless of content — at 0.2 every doc with >= 6 tokens
    can pass, keeping the min_tokens=10 floor reachable (a 0.05 cap
    silently rejected everything under 21 tokens).

    ``dup_coverage_cap=(n, cap)`` adds the Gopher duplicated-n-gram
    coverage rule (the overlap-safe interval-union fraction,
    ``textstats.dup_ngram_coverage``): drop docs where more than
    ``cap`` of token positions sit inside an n-gram occurring more
    than once in the document. It runs AFTER the cheap rules on the
    shrunk survivor set, with the gram sort staged per the
    no-CSE-in-lambdas discipline.

    ``dup_line_cap`` / ``dup_line_char_cap`` add Gopher's
    LINE-granularity duplicate rules (published caps 0.30 / 0.20):
    drop docs whose duplicated-line fraction (repeat occurrences /
    lines) or duplicated-line character fraction exceeds the cap.
    Lines split on ``\\n`` — the unit C4 and the main-content
    extractor emit — so these caps belong BEFORE the pipeline's
    whitespace normalization; like the coverage rule they run on the
    cheap-rule survivors. ``dup_paragraph_cap`` /
    ``dup_paragraph_char_cap`` are the same rules at PARAGRAPH
    granularity (blank-line-separated ``\\n\\n`` units — Rae et al.
    §A1.1 runs both; published caps 0.30 / 0.20): same operators,
    coarser unit."""
    t = F.col(text_col)
    # word-based signals score a line-break-NORMALIZED view (so
    # "end.\nstart" never fuses into one token on \n-structured
    # corpora) while the published column — and the line/paragraph
    # caps, which need the \n units — read the raw text. No-op on
    # single-line corpora (the sf fixtures), so the oracle-checked
    # twins are unaffected.
    t_sig = F.translate(t, "\n", " ")
    gated = (
        docs.withColumn("_ntok", token_count_ws(t_sig))
        .withColumn("_dup", _dup_token_ratio_raw(t_sig))
        .withColumn("_topbg", _top_bigram_ratio_raw(t_sig))
        .withColumn("quality", quality_score(t_sig))
        .where(
            F.col("_ntok").between(min_tokens, max_tokens)
            & (F.col("_dup") <= dup_token_cap)
            & (F.col("_topbg") <= top_bigram_cap)
            & (F.col("quality") >= quality_floor)
        )
        .drop("_ntok", "_dup", "_topbg")
    )
    for sep, frac_cap, char_cap in (
        ("\n", dup_line_cap, dup_line_char_cap),
        ("\n\n", dup_paragraph_cap, dup_paragraph_char_cap),
    ):
        if frac_cap is None and char_cap is None:
            continue
        from ..operators.textstats import (
            dup_line_char_fraction_from_lines,
            dup_line_fraction_from_lines,
        )

        # drop EMPTY units before the fold: split('\n') on blank-line-
        # separated paragraphs yields one '' per paragraph break, and
        # counting those as repeat occurrences rejected any normally
        # formatted >=5-paragraph doc on separators alone (n paras ->
        # (n-2)/(2n-1) "dup lines" > the 0.30 cap at n=5)
        staged_l = gated.select(
            "*",
            F.filter(F.split(t, sep), lambda x: x != "").alias("_ls"),
        )
        keep = F.lit(True)
        if frac_cap is not None:
            keep = keep & (
                dup_line_fraction_from_lines(F.col("_ls")) <= frac_cap
            )
        if char_cap is not None:
            keep = keep & (
                dup_line_char_fraction_from_lines(F.col("_ls")) <= char_cap
            )
        gated = staged_l.where(keep).drop("_ls")
    if dup_coverage_cap is None:
        return gated
    from ..operators.textstats import (
        dup_ngram_coverage,
        dup_ngram_starts,
        sorted_grams_with_pos,
    )

    n, cap = dup_coverage_cap
    staged = gated.select("*", F.split(t_sig, " ").alias("_w"))
    staged = staged.select(
        "*", sorted_grams_with_pos(F.col("_w"), n).alias("_srt")
    )
    staged = staged.select("*", dup_ngram_starts(F.col("_srt")).alias("_st"))
    return staged.where(
        dup_ngram_coverage(F.col("_st"), n, F.size(F.col("_w"))) <= cap
    ).drop("_w", "_srt", "_st")


def lang_quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str | None = None,
    gates: dict[str, tuple[int, int, float, float, float]] | None = None,
) -> DataFrame:
    """Language-aware analog of :func:`quality_gate` (the
    CCNet/FineWeb-2 shape): each document is gated by ITS language's
    thresholds — routed on ``lang_col`` when given, else on the
    heuristic lang-id prediction written to ``lang_routed`` (kept in
    the output so downstream per-language stages reuse the routing).
    Same full-row contract as quality_gate: all input columns survive
    plus ``quality`` (and the routing column); still one narrow
    expression pass plus one broadcast join against the O(languages)
    threshold table. Threshold routing and the keep predicate are
    langcurate's — shared with the oracle-checked td_lang_gate query,
    so the job's cut cannot drift from what the oracle checks."""
    t = F.col(text_col)
    routed = lang_col or "lang_routed"
    if lang_col is None and "lang_routed" in docs.columns:
        # withColumn would silently OVERWRITE a pre-existing routing
        # (e.g. an external classifier's labels) with the heuristic
        # prediction — mirror join_thresholds' clash guard and make
        # the caller choose: pass lang_col="lang_routed" to route on
        # the existing column, or rename it away first.
        raise ValueError(
            "input already has a 'lang_routed' column; pass "
            "lang_col='lang_routed' to route on it, or rename it "
            "before gating"
        )
    # signals and heuristic routing score a line-break-normalized
    # view (the quality_gate discipline); the published column is
    # never rewritten
    t_sig = F.translate(t, "\n", " ")
    base = docs if lang_col else docs.withColumn(routed, lang_id(t_sig))
    sig = (
        base.withColumn("_ntok", token_count_ws(t_sig))
        .withColumn("_dup", _dup_token_ratio_raw(t_sig))
        .withColumn("_topbg", _top_bigram_ratio_raw(t_sig))
        .withColumn("quality", quality_score(t_sig))
    )
    joined, th = langcurate.join_thresholds(sig, routed, gates)
    keep = langcurate.gate_keep_expr(
        th, F.col("_ntok"), F.col("_dup"), F.col("_topbg"), F.col("quality")
    )
    return joined.where(keep).drop(
        "_ntok", "_dup", "_topbg", *langcurate._GATE_COLS
    )


def lang_lm_filter_stage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang_routed",
    drop_fraction: float = 0.05,
) -> DataFrame:
    """Per-language CCNet tail cut: fit the unigram LM WITHIN each
    language and drop each language's docs under its own
    ``drop_fraction`` percentile floor
    (:func:`langcurate.lang_lm_threshold_cut` — the percentile
    partial-aggregates and broadcasts, so a dominant language is never
    a single window-sort task) — a global cut would concentrate on
    whichever language the shared model fits worst. Unscorable rows
    (NULL id/text/lang) pass through and ties at the floor are kept,
    both the lm_filter_stage discipline; a language's single document
    is its own percentile and survives. Doc payloads never ride
    through the scoring shuffle (LEFT SEMI re-entry)."""
    if not (0.0 <= drop_fraction < 1.0):
        raise ValueError(
            f"drop_fraction must be in [0, 1), got {drop_fraction}"
        )
    if drop_fraction == 0.0:
        return docs
    docs = stage(docs, "lang_lm_filter_input")
    unscorable = (
        F.col(id_col).isNull()
        | F.col(text_col).isNull()
        | F.col(lang_col).isNull()
    )
    passthrough = docs.where(unscorable)
    scorable = docs.where(~unscorable)
    # normalized scoring view, published column untouched (the
    # lm_filter_stage discipline)
    scores = langcurate.lang_lm_scores(
        scorable.select(
            id_col,
            lang_col,
            F.translate(F.col(text_col), "\n", " ").alias(text_col),
        ),
        id_col,
        text_col,
        lang_col,
    )
    kept_ids = langcurate.lang_lm_threshold_cut(
        scores, tail=drop_fraction
    ).select(id_col)
    return scorable.join(kept_ids, id_col, "left_semi").unionByName(
        passthrough
    )


def lm_filter_stage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    drop_fraction: float = 0.05,
    lm: str = "unigram",
) -> DataFrame:
    """CCNet-style language-model filter: score every doc by its mean
    log-prob under an LM fit on the corpus itself and drop the lowest
    ``drop_fraction`` — the statistical outlier cut (mojibake, symbol
    soup, wrong-language fragments) that heuristic gates miss. Runs
    AFTER the heuristic gate, as in CCNet.

    ``lm="unigram"`` scores with ``textstats.unigram_logprob_scores``;
    ``"kn"``, ``"kn3"`` and ``"kn4"`` with a self-fit interpolated
    Kneser-Ney model of order 2, 3 or 4
    (``textstats.kn_logprob_scores``). Both are the definitions the
    oracle-checked ``txt_unigram_logprob`` / ``txt_kn*_logprob``
    queries use, so the job's cut can never drift from what the
    oracle checks. The percentile threshold is a 1-row aggregate
    broadcast-cross-joined in, and the docs scored strictly below it
    leave through a LEFT ANTI join on ``id_col``, so doc payloads
    never ride through the scoring shuffle. Ties AT the threshold are
    kept, and a doc the model cannot score (under the KN order's
    minimum token count) is absent from the drop list and passes.

    The input is staged first: the scoring plan embeds it under four
    separate scans (token freq, score join, percentile, anti-join
    probe), and in the job that input is the full regex-heavy
    scrub+gate lineage — without staging it would re-run ~5×.
    """
    if not (0.0 <= drop_fraction < 1.0):
        raise ValueError(f"drop_fraction must be in [0, 1), got {drop_fraction}")
    from ..operators.textstats import (
        KN_ORDERS,
        kn_logprob_scores,
        unigram_logprob_scores,
    )

    if lm != "unigram" and lm not in KN_ORDERS:
        raise ValueError(
            f"lm must be 'unigram', 'kn', 'kn3' or 'kn4', got {lm!r}"
        )
    if drop_fraction == 0.0:
        return docs

    docs = stage(docs, "lm_filter_input")
    # NULL text/id rows cannot be scored (no tokens / no joinable key):
    # pass them through explicitly, mirroring decontaminate_stage
    unscorable = F.col(id_col).isNull() | F.col(text_col).isNull()
    passthrough = docs.where(unscorable)
    scorable = docs.where(~unscorable)
    # score a line-break-normalized VIEW (id + normalized text only):
    # the LM explode splits on single spaces, and "end.\nstart" must
    # not score as one rare fused token; the published column re-
    # enters untouched via the anti-join
    normalized = scorable.select(
        id_col,
        F.translate(F.col(text_col), "\n", " ").alias(text_col),
    )
    if lm in KN_ORDERS:
        # the batch pipeline derives every model from the corpus being
        # curated, so the reference IS the corpus — no backoff fires,
        # but the discount + continuation weighting reorders the tail
        # vs raw unigram frequency: collocation-locked tokens stop
        # inflating their documents' scores
        scores = kn_logprob_scores(
            normalized, normalized, KN_ORDERS[lm], id_col, text_col
        )
    else:
        scores = unigram_logprob_scores(normalized, id_col, text_col)
    scores = scores.select(id_col, F.col("avg_logprob").alias("_avg_lp"))
    thr = scores.agg(
        F.expr(f"percentile(_avg_lp, {drop_fraction})").alias("_thr")
    )
    drop_ids = (
        scores.crossJoin(F.broadcast(thr))
        .where(F.col("_avg_lp") < F.col("_thr"))
        .select(id_col)
    )
    return scorable.join(drop_ids, id_col, "left_anti").unionByName(passthrough)


def compression_filter_stage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bounds: tuple[float, float] = (0.3, 1.1),
) -> DataFrame:
    """Cut documents whose zlib compression ratio falls outside
    ``bounds`` — below the floor is templated/repetitive boilerplate,
    above the ceiling is noise/random strings (the RedPajama-v2 / DCLM
    compression filter; ``textstats.compression_signal``, Arrow-batched
    one-pass, kept set re-enters as a LEFT SEMI join so payloads never
    ride the Python pass twice). Unscorable rows (NULL id, NULL or
    empty text — ratio NULL) pass through, the shared stage invariant.

    The input is staged first — the lm_filter_stage precedent: this
    stage reads its input under three scans (passthrough, semi-join
    left side, signal pass), and in the job that input is the
    regex-heavy scrub+gate lineage."""
    lo, hi = bounds
    if not lo <= hi:
        raise ValueError(f"bounds must satisfy lo <= hi, got {bounds}")
    from ..operators.textstats import compression_signal

    docs = stage(docs, "compression_filter_input")
    unscorable = F.col(id_col).isNull() | F.col(text_col).isNull()
    passthrough = docs.where(unscorable)
    scorable = docs.where(~unscorable)
    kept = (
        compression_signal(scorable.select(id_col, text_col), id_col, text_col)
        .where(
            F.col("compression_ratio").isNull()
            | F.col("compression_ratio").between(lo, hi)
        )
        .select(id_col)
    )
    return scorable.join(kept, id_col, "left_semi").unionByName(passthrough)


def passage_dup_stage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_frac: float = 0.5,
    n: int = 8,
) -> DataFrame:
    """Drop template/boilerplate documents: docs whose duplicated-
    passage fraction (share of distinct ``n``-token shingles occurring
    in >1 doc — ``textstats.passage_dup_stats``) exceeds
    ``max_dup_frac``. Runs AFTER near-dup collapse: surviving
    high-dup-frac docs share passages with many DIFFERENT partners
    (templates), the class pairwise near-dup under-reports.
    Unscorable rows (NULL text or id) pass through, mirroring
    lm_filter_stage. NOTE: eager (the stats operator stages its gram
    explode)."""
    if not 0.0 <= max_dup_frac <= 1.0:
        raise ValueError(f"max_dup_frac must be in [0, 1], got {max_dup_frac}")
    from ..operators.textstats import passage_dup_stats

    unscorable = F.col(id_col).isNull() | F.col(text_col).isNull()
    passthrough = docs.where(unscorable)
    scorable = docs.where(~unscorable)
    keep = (
        passage_dup_stats(scorable, id_col, text_col, n=n)
        .where(F.col("dup_frac") <= max_dup_frac)
        .select(id_col)
    )
    return scorable.join(keep, id_col, "left_semi").unionByName(passthrough)


def dedup_passages_stage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
) -> DataFrame:
    """REWRITE documents instead of dropping them: delete every
    corpus-wide duplicated ``n``-token tiling segment except its first
    occurrence (``textstats.remove_dup_passages`` — Lee et al. 2022 /
    RefinedWeb exact-substring removal), keeping the rest of each
    document. Runs after near-dup collapse: whole-document duplication
    is already gone, this cuts the passage-level boilerplate that
    survives it. Docs emptied by the rewrite are dropped (an empty
    text earns no training tokens but would still cost a row
    everywhere downstream). Unscorable rows (NULL id or text) pass
    through, the invariant every other stage maintains. NOTE: eager
    (the operator stages its tiling explode)."""
    from ..operators.textstats import remove_dup_passages

    unscorable = F.col(id_col).isNull() | F.col(text_col).isNull()
    passthrough = docs.where(unscorable)
    scorable = docs.where(~unscorable)
    rewritten = remove_dup_passages(
        scorable.select(id_col, text_col), id_col, text_col, n
    ).select(id_col, F.col(text_col).alias("_new_text"))
    out = (
        scorable.join(rewritten, id_col)
        .where(F.col("_new_text") != "")
        .withColumn(text_col, F.col("_new_text"))
        .drop("_new_text")
    )
    return out.unionByName(passthrough)


def sentence_spans_stage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 3,
) -> DataFrame:
    """C4's sentence-span dedup as a curation stage
    (:func:`textstats.dedup_sentence_spans` — keep the first
    occurrence of every duplicated ``span``-sentence sliding window,
    delete the sentences of every other occurrence). Docs the rewrite
    empties are dropped (the dedup_passages_stage rule); other columns
    survive via id re-join, so the stage composes anywhere in the
    pipeline."""
    from ..operators.textstats import dedup_sentence_spans

    rewritten = dedup_sentence_spans(
        docs.select(id_col, text_col), id_col, text_col, span=span
    ).where(F.col(text_col).isNull() | (F.col(text_col) != ""))
    return docs.drop(text_col).join(
        rewritten.select(id_col, text_col), id_col
    )


def exact_substr_stage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
) -> DataFrame:
    """REWRITE documents through the TRUE sliding-window ExactSubstr
    cover set (``dedup.remove_exact_substrings`` — Lee et al. 2022
    un-approximated): every token inside ANY ≥ ``min_len``-token
    substring occurring more than once corpus-wide is deleted, all
    occurrences included — catches boundary-straddling runs the tiling
    rewrite (``dedup_passages_stage``) cannot see. Runs after near-dup
    collapse like its tiling sibling; docs emptied by the rewrite are
    dropped; unscorable rows (NULL id or text) pass through — the
    invariant every stage maintains. NOTE: eager is NOT needed here
    (the operator is one lazy plan: window-hash count + semi-join +
    per-doc folds)."""
    from ..operators.dedup import remove_exact_substrings

    unscorable = F.col(id_col).isNull() | F.col(text_col).isNull()
    passthrough = docs.where(unscorable)
    scorable = docs.where(~unscorable)
    rewritten = remove_exact_substrings(
        scorable.select(id_col, text_col), id_col, text_col, min_len
    ).select(id_col, F.col(text_col).alias("_new_text"))
    out = (
        scorable.join(rewritten, id_col)
        .where(F.col("_new_text") != "")
        .withColumn(text_col, F.col("_new_text"))
        .drop("_new_text")
    )
    return out.unionByName(passthrough)


def sample_stage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 1000,
    source_col: str = "source",
) -> DataFrame:
    """Budgeted subsample: ``k`` docs per source, weighted by length
    (Efraimidis-Spirakis — deterministic, without replacement), so a
    downsized corpus keeps long-document coverage instead of
    uniform-random's short-doc bias.

    NULL-id/NULL-text rows cannot be sampled (no key / NULL weight)
    and pass through, preserving the unscorable-rows invariant the
    lm-filter and passage-dup stages maintain; zero-token docs ARE
    scorable (weight 0 = never selected) and stay subject to the
    budget."""
    from ..operators.textstats import token_count_ws

    unsampleable = F.col(id_col).isNull() | F.col(text_col).isNull()
    passthrough = docs.where(unsampleable)
    return (
        sampling.weighted_sample(
            docs.where(~unsampleable).withColumn(
                "_wtok", token_count_ws(F.col(text_col)).cast("double")
            ),
            id_col,
            "_wtok",
            k=k,
            group_col=source_col,
        )
        .drop("_wtok")
        .unionByName(passthrough)
    )


def collapse_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    keep_weights: bool = False,
    weight_col: str | None = None,
) -> DataFrame:
    """Keep one representative per near-dup cluster (the smallest id,
    matching ``near_dup_clusters``' deterministic labeling). Docs in no
    cluster pass through. NOTE: runs the LSH + clustering jobs eagerly
    (see operators.dedup).

    ``keep_weights=True`` adds ``dup_weight`` — the cluster's total
    mass (1 per member, or the sum of members' ``weight_col`` when
    given, so exact-dup counts folded in upstream are conserved):
    dropping duplicates silently down-weights whatever was crawled
    most, so weighted samplers draw by ``dup_weight`` to keep the
    original distribution. Invariant:
    ``sum(dup_weight) == sum of input mass``."""
    pairs = dedup.minhash_near_dup_pairs(docs, id_col, text_col, threshold)
    clusters = dedup.near_dup_clusters(pairs)
    kept = (
        docs.join(
            clusters, docs[id_col] == clusters.member_id, "left"
        )
        .where(
            F.col("cluster_id").isNull()
            | (F.col("member_id") == F.col("cluster_id"))
        )
    )
    if not keep_weights:
        return kept.drop("member_id", "cluster_id")
    base_w = (
        F.col(weight_col).cast("bigint") if weight_col else F.lit(1).cast("bigint")
    )
    members = clusters.join(
        docs.select(F.col(id_col).alias("member_id"), base_w.alias("_bw")),
        "member_id",
    )
    sizes = members.groupBy("cluster_id").agg(F.sum("_bw").alias("_csize"))
    return (
        kept.join(sizes, "cluster_id", "left")
        .withColumn(
            "dup_weight", F.coalesce(F.col("_csize"), base_w).cast("bigint")
        )
        .drop("member_id", "cluster_id", "_csize")
    )


def decontaminate_stage(
    split_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_col: str = "split",
    n: int = 13,
) -> DataFrame:
    """Drop train docs sharing any ``n``-token n-gram with a heldout
    (non-train) doc — the exact-collision decontamination standard
    (GPT-3/PaLM), applied AFTER the split so the heldout sets define
    what counts as leakage. The collision core is ONE definition
    (``dedup.contamination_gram_hits``) shared with the oracle-checked
    td_ngram_contamination query. Heldout rows — including rows whose
    split is NULL, which are never train — pass through untouched;
    train docs under ``n`` tokens are never flagged (no full n-gram
    exists).

    Scale shape: contaminated train ids come from one equi-join on
    the gram and re-enter as a LEFT ANTI join on the id, so document
    payloads never ride the gram shuffle. The input is staged first:
    the plan otherwise embeds the full upstream curation lineage under
    four branches (passthrough, train side, and both gram arms) — ~4×
    the pipeline cost.
    """
    split_docs = stage(split_docs, "decontaminate_input")
    contaminated = dedup.contamination_gram_hits(
        split_docs, id_col, text_col, split_col, n
    ).select(id_col).distinct()
    is_train = F.col(split_col) == "train"
    return split_docs.where(~F.coalesce(is_train, F.lit(False))).unionByName(
        split_docs.where(is_train).join(contaminated, id_col, "left_anti")
    )


def dsir_stage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: int = 1000,
    target: DataFrame | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR selection (Xie et al. 2023): keep the ``keep`` docs whose
    hashed-n-gram distribution most resembles the target, by
    Gumbel-top-k over per-doc importance log-ratios
    (``operators.dsir``). ``target`` defaults to the in-corpus
    heuristic-quality seed set (quality ≥ 0.5 — the same bootstrap
    the trained quality classifier uses); pass an external reference
    corpus to steer toward it, the paper's setting.

    NULL-id/NULL-text rows are unscorable and pass through, the
    shared stage invariant; scorable docs with no features weigh 0
    and compete for slots like everything else. Scale shape: two
    broadcast-sized bucket models, one explode + broadcast join +
    partial agg to score, sort+limit to select — linear, no UDF."""
    from ..operators import dsir
    from ..operators.textstats import quality_score

    unscorable = F.col(id_col).isNull() | F.col(text_col).isNull()
    passthrough = docs.where(unscorable)
    scorable = docs.where(~unscorable)
    # features hash from a line-break-normalized VIEW (the lm_filter
    # discipline — "end.\nstart" must not hash as one fused n-gram);
    # the published column re-enters untouched via the semi-join
    view = scorable.select(
        id_col, F.translate(F.col(text_col), "\n", " ").alias(text_col)
    )
    if target is None:
        # in-corpus seed target: the flagged form fits both bucket
        # models out of ONE exploded pass instead of two
        w = dsir.dsir_weights_flagged(
            view,
            quality_score(F.col(text_col)) >= 0.5,
            id_col,
            text_col,
            n_buckets,
        )
    else:
        w = dsir.dsir_weights(view, target, id_col, text_col, n_buckets)
    kept = dsir.gumbel_topk(w, id_col, "dsir_weight", k=keep).select(id_col)
    return scorable.join(kept, id_col, "left_semi").unionByName(passthrough)


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    splits: dict[str, float] | None = None,
    scrub: bool = True,
    pack_ctx: int | None = None,
    pack_bins_ctx: int | None = None,
    compression_bounds: tuple[float, float] | None = None,
    lm_drop_fraction: float | None = None,
    lm: str = "unigram",
    dup_weights: bool = False,
    decontaminate: bool = False,
    max_passage_dup: float | None = None,
    dedup_passages: int | None = None,
    sentence_spans: int | None = None,
    exact_substr: int | None = None,
    url_blocklist: DataFrame | None = None,
    url_col: str = "url",
    c4: bool = False,
    sample_per_source: int | None = None,
    source_col: str = "source",
    tokenizer_store=None,
    dsir_select: int | None = None,
    dsir_target: DataFrame | None = None,
    lang_aware: bool = False,
    lang_col: str | None = None,
    lang_gates: dict[str, tuple[int, int, float, float, float]] | None = None,
    funnel: dict[str, int] | None = None,
    **gate_kwargs,
) -> DataFrame:
    """(optional) URL blocklist → PII scrub → (optional) C4 line
    cleaning → quality gate → (optional) LM filter → exact dedup →
    near-dup collapse → (optional) passage-dup template cut →
    (optional) duplicated-passage REMOVAL rewrite → md5
    split → (optional) 13-gram decontamination → (optional) per-split
    packing. ``max_passage_dup`` drops docs whose duplicated-passage
    fraction exceeds the threshold (RefinedWeb-style template cut);
    ``dedup_passages`` REWRITES surviving docs instead — duplicated
    N-token tiling segments keep their first occurrence corpus-wide,
    every other copy is deleted and emptied docs are dropped;
    ``sample_per_source`` keeps at most N docs per source after the
    cuts, length-weighted without replacement (Efraimidis–Spirakis —
    deterministic, so the subsample is reproducible). NOTE: a
    zero-token doc carries zero weight and is dropped by this stage
    even when its source is under budget (with the default quality
    gate such docs never reach it).
    ``decontaminate=True`` drops train docs sharing any 13-gram with
    the heldout splits (exact-collision standard, after the split).

    ``scrub=False`` skips redaction (corpora already scrubbed
    upstream); ``compression_bounds=(lo, hi)`` cuts docs whose zlib
    compression ratio leaves the band (repetitive boilerplate below,
    noise above — still a heuristic gate, so it runs before the LM
    cut); ``lm_drop_fraction`` drops the docs scoring in the
    bottom fraction of mean unigram log-prob (CCNet stage order:
    heuristics first, LM cut second); ``dup_weights=True`` carries
    ``dup_weight`` = total duplicate mass on each representative —
    exact-dup copies (counted before they're dropped) PLUS near-dup
    cluster members, so ``sum(dup_weight)`` equals the rows entering
    dedup and weighted samplers preserve the crawl distribution;
    ``pack_ctx`` adds start_offset/chunk_start/chunk_end columns
    laying each split out as ctx-token training windows;
    ``dsir_select`` keeps the N gated docs most like the DSIR target
    distribution (``dsir_target``, defaulting to the in-corpus
    quality-seed set) — it runs AFTER the per-doc filters and BEFORE
    dedup, so the expensive pairwise stages only see the selected
    subset.

    Line-structure contract: the published ``text_col`` is NEVER
    whitespace-rewritten by this pipeline — gates and LM stages score
    line-break-normalized VIEWS of the text. Caveat: the rewrite-
    family stages (``sentence_spans`` / ``exact_substr`` /
    ``dedup_passages``) tokenize on single spaces, so on
    ``\\n``-structured corpora a duplicated run straddling a line
    break is seen as containing one fused token (slight
    under-detection, never corruption); docs those stages DO rewrite
    re-assemble space-joined, docs they don't touch keep their raw
    text via the anti-join re-entry.

    ``funnel``: pass an empty dict to collect the per-stage surviving
    doc counts (insertion order = stage order — the FineWeb-style
    retention report); each instrumented stage is eagerly
    materialized so the count and the downstream consumer share one
    computation. Default ``None`` leaves the plan untouched.

    ``lang_aware=True`` swaps the global gate and LM cut for their
    per-language forms (the CCNet/FineWeb-2 discipline): the gate
    routes each doc by ``lang_col`` (or the heuristic prediction,
    written to ``lang_routed``) and applies that language's
    thresholds (``lang_gates``, default
    :data:`langcurate.DEFAULT_LANG_GATES`); the LM cut fits a unigram
    model per language and drops each language's own worst fraction.
    Mutually exclusive with per-gate ``gate_kwargs`` (thresholds live
    in the gates table)."""
    from pyspark.sql import Window

    if lang_aware and gate_kwargs:
        raise ValueError(
            "lang_aware=True routes thresholds per language via "
            "lang_gates; global gate_kwargs would be silently ignored"
        )

    def _tick(df: DataFrame, name: str) -> DataFrame:
        """Funnel instrumentation: when the caller passes a ``funnel``
        dict, record each stage's surviving doc count (insertion order
        = stage order — the FineWeb-style retention report). The stage
        frame is eagerly checkpointed first so the count and the next
        stage share one computation instead of replaying the lineage
        per consumer; with ``funnel=None`` (default) this is a no-op
        and the plan is unchanged."""
        if funnel is None:
            return df
        df = stage(df, f"funnel_{name}")
        funnel[name] = df.count()
        return df

    docs = _tick(docs, "input")
    if url_blocklist is not None:
        # zeroth stage: URL-level, before any text is touched
        docs = _tick(
            blocklist_stage(docs, url_col, url_blocklist, id_col=id_col),
            "blocklist",
        )
    staged = scrub_stage(docs, text_col) if scrub else docs
    if c4:
        # line cleaning before the gate: quality must be scored on the
        # lines that will actually be published
        staged = _tick(c4_stage(staged, id_col, text_col), "c4_clean")
    # Published text keeps its LINE structure (C4 and the main-content
    # extractor emit one line per kept unit; a destructive \n->space
    # rewrite here both flattened every published corpus and silently
    # disabled the line-duplicate caps — the r12 review finding). The
    # cross-line token-fusion problem ("end.\nstart" scoring as one
    # token) is handled at each stage's TOKENIZATION instead: the
    # gates and LM stages normalize the text view they score, never
    # the column they publish.
    if lang_aware:
        gated = lang_quality_gate(
            staged, text_col, lang_col=lang_col, gates=lang_gates
        )
    else:
        gated = quality_gate(staged, text_col, **gate_kwargs)
    gated = _tick(gated, "quality_gate")
    if compression_bounds is not None:
        # still a heuristic gate (CCNet order: heuristics before the
        # LM cut) — runs on the already-gated survivors
        gated = _tick(
            compression_filter_stage(
                gated, id_col, text_col, compression_bounds
            ),
            "compression",
        )
    if lm_drop_fraction is not None:
        if lang_aware:
            gated = lang_lm_filter_stage(
                gated,
                id_col,
                text_col,
                lang_col or "lang_routed",
                lm_drop_fraction,
            )
        else:
            gated = lm_filter_stage(
                gated, id_col, text_col, lm_drop_fraction, lm=lm
            )
        gated = _tick(gated, "lm_cut")
    if dsir_select is not None:
        gated = _tick(
            dsir_stage(
                gated, id_col, text_col, keep=dsir_select, target=dsir_target
            ),
            "dsir_select",
        )
    if dup_weights:
        # count exact copies in the SAME window pass that picks the
        # first writer — dropping them weightlessly would undercount
        # the most common duplication class
        wp = Window.partitionBy(F.xxhash64(F.col(text_col)))
        exact = (
            gated.withColumn("_exact_w", F.count("*").over(wp))
            .withColumn("_rn", F.row_number().over(wp.orderBy(id_col)))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        uniq = collapse_near_dups(
            exact, id_col, text_col, keep_weights=True, weight_col="_exact_w"
        ).drop("_exact_w")
    else:
        exact = dedup.exact_dedup(gated, text_col, id_col)
        uniq = collapse_near_dups(exact, id_col, text_col)
    uniq = _tick(uniq, "dedup")
    if max_passage_dup is not None:
        # after near-dup collapse: what's left with high passage-dup
        # shares passages across many DIFFERENT partners (templates)
        uniq = _tick(
            passage_dup_stage(uniq, id_col, text_col, max_passage_dup),
            "passage_dup_cut",
        )
    if dedup_passages is not None:
        # the rewrite complement of the cut above: docs under the
        # template threshold may still CONTAIN duplicated passages —
        # delete those (keep-first), keep the documents
        uniq = _tick(
            dedup_passages_stage(uniq, id_col, text_col, dedup_passages),
            "dedup_passages",
        )
    if sentence_spans is not None:
        # C4's published unit: keep-one over sliding SENTENCE spans —
        # sits between the tiling cut (keep-one, boundary-blind) and
        # the ExactSubstr rewrite (boundary-free, keeps no copy)
        uniq = _tick(
            sentence_spans_stage(uniq, id_col, text_col, sentence_spans),
            "sentence_spans",
        )
    if exact_substr is not None:
        # the un-approximated rewrite: sliding-window cover set, every
        # occurrence removed — catches runs straddling the tiling
        # boundaries the stage above works in
        uniq = _tick(
            exact_substr_stage(uniq, id_col, text_col, exact_substr),
            "exact_substr",
        )
    if sample_per_source is not None:
        uniq = _tick(
            sample_stage(
                uniq, id_col, text_col, sample_per_source, source_col
            ),
            "source_sample",
        )
    split = sampling.hash_split(
        uniq, id_col, splits or DEFAULT_SPLITS, method="md5"
    )
    if decontaminate:
        split = _tick(
            decontaminate_stage(split, id_col, text_col), "decontaminate"
        )
    if pack_ctx is not None:
        if tokenizer_store is not None:
            # size windows in stored-tokenizer TRAINING tokens, not
            # whitespace words: per-doc piece counts from the pinned
            # artifact join in, pack_stage consumes them precomputed.
            # Stage the pipeline FIRST: piece_counts and the join's
            # left side both consume `split`, and without the
            # checkpoint the whole scrub/gate/dedup lineage would run
            # twice in one action (pack_stage's own checkpoint comes
            # too late for this fan-out). LEFT join + coalesce(0):
            # a doc the tokenizer yields no pieces for must not be
            # silently deleted from the published corpus.
            from .tokenizer import piece_counts

            split = stage(split, "pack_tokenized_split")
            pc = piece_counts(
                tokenizer_store,
                split.select(id_col, text_col),
                id_col,
                text_col,
            )
            split = pack_stage(
                split.join(pc, id_col, "left").withColumn(
                    "n_pieces", F.coalesce(F.col("n_pieces"), F.lit(0))
                ),
                "split",
                id_col,
                text_col,
                ctx=pack_ctx,
                n_tokens_col="n_pieces",
            ).drop("n_pieces")
        else:
            split = pack_stage(split, "split", id_col, text_col, ctx=pack_ctx)
    if pack_bins_ctx is not None:
        # the no-split alternative (Ding et al. 2024 best-fit packing):
        # whole documents fill ctx-token bins, bins never cross splits
        # (split folds into the grouping). Whitespace token sizing, the
        # pack_stage default; NULL-text docs pass through with NULL
        # packing columns via the operator's invariant.
        from ..operators.packing import best_fit_pack

        n = F.when(
            F.col(text_col).isNotNull(),
            F.size(
                F.expr(
                    f"filter(split(translate({text_col}, '\\n', ' '), ' '),"
                    " w -> w != '')"
                )
            ),
        )
        split = stage(split, "pack_bins_split")
        packed = best_fit_pack(
            split.select(id_col, "split", n.alias("_nt")),
            id_col,
            "_nt",
            ctx=pack_bins_ctx,
            partition_cols=("split",),
        ).select(id_col, "pack_group", "bin", "offset", "oversize")
        split = split.join(packed, id_col, "left")
    return split


def publish_corpus(
    table: VersionedTable,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    splits: dict[str, float] | None = None,
    funnel: bool = False,
    **gate_kwargs,
) -> dict:
    """Run the curation pipeline and publish with stage metrics.

    ``funnel=True`` adds a ``"funnel"`` dict of per-stage surviving
    doc counts (stage order preserved) to the result — the retention
    report a pipeline owner reads before trusting the cut.

    Mirrors ``publish_dataset``'s versioned-commit shape: an empty
    curated corpus fails validation and nothing is committed."""
    n_in = docs.count()
    stage_counts: dict[str, int] | None = {} if funnel else None
    curated = curate_corpus(
        docs, id_col, text_col, splits, funnel=stage_counts, **gate_kwargs
    )
    curated = stage(curated, "publish_curated")  # metrics + write share one run
    try:
        n_out = curated.count()
        if n_out == 0:
            raise ValueError("curation produced an empty corpus; not publishing")
        commit = table.overwrite(curated)
        agg = [F.count("*").alias("n")]
        if "n_pii" in curated.columns:
            agg.append(F.sum("n_pii").alias("pii"))
        per_split_rows = curated.groupBy("split").agg(*agg).collect()
    finally:
        release_staged(curated)
    per_split = {r["split"]: r["n"] for r in per_split_rows}
    out = {
        "version": commit.version,
        "rows_in": n_in,
        "rows_out": n_out,
        "splits": per_split,
    }
    if stage_counts is not None:
        out["funnel"] = stage_counts
    if "n_pii" in curated.columns:
        out["pii_redactions"] = int(sum(r["pii"] for r in per_split_rows))
    return out
