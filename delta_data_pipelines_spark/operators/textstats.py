"""Text-analysis operators for training-data pipelines.

Language-ID (marker-word heuristic), quality scoring, token counting
(whitespace + regex word tokens), and document fingerprinting — all
native expressions, one narrow pass over the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .staging import stage

# Marker stopwords per language for the n-gram-free heuristic. Small on
# purpose: the heuristic's contract is determinism + cheapness, not SOTA.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("的", "是", "了", "在", "我"),
}

WORD_RE = r"[A-Za-z0-9_]+"
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def _words(text: Column) -> Column:
    return F.split(text, " ")


def _space_free_markers(markers: tuple[str, ...]) -> bool:
    """True when every marker is a single non-ASCII char — the
    space-free-script marker shape (zh)."""
    return all(len(m) == 1 and ord(m) > 127 for m in markers)


def marker_score(text: Column, markers: tuple[str, ...]) -> Column:
    """Occurrences (not distinct) of marker words among tokens.

    Space-free scripts (zh: every marker a single CJK char) never
    match whole whitespace tokens — real Chinese text is unsegmented,
    so the token filter scores 0 and routing lands on 'und'. For that
    marker shape the score falls back to counting marker-CHAR
    occurrences in the raw text (length delta under per-char
    replace), making the zh row of the per-language gate reachable
    without an external lang label. Mirrored in the generated oracle
    fragments (queries/training_data.py _LANGID_SCORES_SQL) from the
    same constants."""
    if _space_free_markers(markers):
        total = F.lit(0)
        for m in markers:
            total = total + (
                F.length(text) - F.length(F.replace(text, F.lit(m), F.lit("")))
            )
        return total
    return F.size(F.filter(_words(text), lambda w: w.isin(*markers)))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax marker-hit count, first-listed
    language wins ties, 'und' when nothing matches."""
    scores = {lang: marker_score(text, m) for lang, m in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    best = F.lit("und")
    best_score = F.lit(0)
    # fold right-to-left so earlier languages win ties with >=
    for lang in reversed(langs):
        s = scores[lang]
        take = (s > F.lit(0)) & (s >= best_score)
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(take, s).otherwise(best_score)
    return best


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(_words(text))


def token_count_re(text: Column) -> Column:
    """Regex word-token count (BPE-ish pre-tokenization proxy)."""
    return F.size(F.regexp_extract_all(text, F.lit(WORD_RE), F.lit(0)))


def _punct_ratio_raw(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^A-Za-z0-9\s]", "")
    return (F.length(text) - F.length(stripped)) / F.nullif(
        F.length(text), F.lit(0)
    ).cast("double")


def _stopword_ratio_raw(text: Column) -> Column:
    w = _words(text)
    hits = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    return hits / F.nullif(F.size(w), F.lit(0)).cast("double")


def punct_ratio(text: Column) -> Column:
    return F.round(_punct_ratio_raw(text), 9)


def stopword_ratio(text: Column) -> Column:
    return F.round(_stopword_ratio_raw(text), 9)


def mean_word_len(text: Column) -> Column:
    w = _words(text)
    total = F.aggregate(F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, b: a + b)
    return F.round(total / F.nullif(F.size(w), F.lit(0)).cast("double"), 9)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: favors mid-length documents
    with healthy stopword density and low punctuation noise —
    the usual pre-training corpus filter shape.

    Composed from the *unrounded* ratios so the float result is
    bit-identical to an oracle computing the same expression.
    """
    len_component = F.least(token_count_ws(text) / F.lit(64.0), F.lit(1.0))
    return F.round(
        0.4 * _stopword_ratio_raw(text)
        + 0.4 * len_component
        + 0.2 * (1 - _punct_ratio_raw(text)),
        9,
    )


def _dup_token_ratio_raw(text: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token —
    the Gopher-style token-repetition signal (templated/boilerplate
    text scores high)."""
    w = _words(text)
    return (F.size(w) - F.size(F.array_distinct(w))) / F.nullif(
        F.size(w), F.lit(0)
    ).cast("double")


def dup_token_ratio(text: Column) -> Column:
    return F.round(_dup_token_ratio_raw(text), 9)


def bigrams(text: Column) -> Column:
    """Adjacent word bigrams (order-sensitive, with repeats).

    Built with ``zip_with(w, slice(w, 2, …))`` so every reference to
    the token array is a DIRECT child expression, evaluated once per
    row. The index-lambda form (``transform(sequence, i ->
    element_at(w, i) …)``) re-evaluates the ``split`` inside the lambda
    once per position — O(n²) text re-splitting that measured ~6×
    slower on the corpus pass. zip_with pads the shorter side with
    null (concat_ws then yields the bare last token), so the tail
    entry is sliced off."""
    w = _words(text)
    paired = F.zip_with(
        w,
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(1))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.when(
        F.size(w) >= 2, F.slice(paired, 1, F.size(w) - 1)
    ).otherwise(F.array().cast("array<string>"))


def _top_bigram_ratio_raw(text: Column) -> Column:
    """Fraction of bigrams taken by the single most frequent bigram —
    the Gopher top-n-gram repetition filter.

    Computed as the longest equal-run of the SORTED bigram array via a
    single O(n log n) fold. The naive form — count each distinct
    bigram with a nested filter() lambda — re-evaluates the bigram
    construction once per distinct element (higher-order functions run
    interpreted, outside codegen), which measured ~70s for the corpus
    pass at sf0.1 vs ~1s for this shape. Per-row expression work only:
    no shuffle, no explode."""
    bg = bigrams(text)
    srt = F.array_sort(bg)
    best = F.aggregate(
        srt,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return F.coalesce(
        best / F.nullif(F.size(bg), F.lit(0)).cast("double"), F.lit(0.0)
    )


def top_bigram_ratio(text: Column) -> Column:
    return F.round(_top_bigram_ratio_raw(text), 9)


def sliding_ngrams_from_words(w: Column, n: int) -> Column:
    """Overlapping word ``n``-grams WITH repeats from a STAGED
    word-array column (the Gopher repetition-signal unit — contrast
    ``dedup.shingles``, which is distinct-set for Jaccard). Call-sites
    stage the split and pass the attribute: the slice runs inside a
    ``transform`` lambda and lambda bodies get no codegen
    subexpression elimination, so an inline ``split(text)`` there
    re-evaluates per position (the passage_segments_from_words
    precedent). The ``when`` guard keeps ``sequence`` ascending —
    sequence(1, 0) DESCENDS in Spark, it is not empty."""
    return F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - F.lit(n - 1)),
            lambda s: F.array_join(F.slice(w, s, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _max_equal_run(srt: Column) -> Column:
    """Longest equal-run length of a SORTED string array — the count
    of the most frequent element, via the same O(n log n) fold as
    ``_top_bigram_ratio_raw`` (the naive per-distinct nested filter
    re-evaluates interpreted lambdas quadratically)."""
    return F.aggregate(
        srt,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )


def top_ngram_ratio_from_words(w: Column, n: int) -> Column:
    """Occurrence fraction of the most frequent word ``n``-gram —
    the Gopher top-n-gram repetition filter generalized past the
    existing n=2 form (``top_bigram_ratio``), over a STAGED word
    array. 0.0 for docs shorter than ``n`` tokens (no grams)."""
    grams = sliding_ngrams_from_words(w, n)
    return F.coalesce(
        _max_equal_run(F.array_sort(grams))
        / F.nullif(F.size(grams), F.lit(0)).cast("double"),
        F.lit(0.0),
    )


def top_ngram_ratio_from_sorted_structs(srt: Column) -> Column:
    """Top-n-gram occurrence fraction from a STAGED
    :func:`sorted_grams_with_pos` column: the struct sort orders by
    gram first, so extracting ``g`` yields a gram-sorted array and the
    run fold applies directly — a caller that already pays the struct
    sort for :func:`dup_ngram_starts` gets the top ratio without a
    second gram build + sort (measured ~0.35s/n per corpus pass)."""
    return F.coalesce(
        _max_equal_run(F.transform(srt, lambda x: x["g"]))
        / F.nullif(F.size(srt), F.lit(0)).cast("double"),
        F.lit(0.0),
    )


def sorted_grams_with_pos(w: Column, n: int) -> Column:
    """``(gram, start_pos)`` structs of all overlapping ``n``-grams,
    sorted by gram then position — the staging unit for
    :func:`dup_ngram_starts`. Struct array_sort orders field-by-field,
    so equal grams land adjacent with ascending positions."""
    grams = sliding_ngrams_from_words(w, n)
    return F.when(
        F.size(grams) >= 1,
        F.array_sort(
            F.zip_with(
                grams,
                F.sequence(F.lit(1), F.greatest(F.size(grams), F.lit(1))),
                lambda g, i: F.struct(g.alias("g"), i.alias("i")),
            )
        ),
    ).otherwise(F.array().cast("array<struct<g:string,i:int>>"))


def dup_ngram_starts(srt: Column) -> Column:
    """Ascending start positions of every n-gram occurrence whose gram
    appears MORE THAN ONCE in the document, from a STAGED
    :func:`sorted_grams_with_pos` column (the lambda below indexes
    into ``srt`` per element — an unstaged expression there would
    re-sort per position). An occurrence is duplicated iff a
    sorted-order neighbor shares its gram; the neighbor probes are
    ``when``-guarded because ANSI ``element_at`` throws on index 0."""
    G = F.size(srt)
    flags = F.transform(
        F.sequence(F.lit(1), G),
        lambda i: F.when(
            F.when(
                i > 1, F.element_at(srt, i - 1)["g"] == F.element_at(srt, i)["g"]
            ).otherwise(F.lit(False))
            | F.when(
                i < G, F.element_at(srt, i + 1)["g"] == F.element_at(srt, i)["g"]
            ).otherwise(F.lit(False)),
            F.element_at(srt, i)["i"],
        ),
    )
    return F.when(
        G >= 1, F.array_sort(F.filter(flags, lambda x: x.isNotNull()))
    ).otherwise(F.array().cast("array<int>"))


def dup_ngram_coverage(starts: Column, n: int, n_tokens: Column) -> Column:
    """Fraction of token positions covered by any duplicated
    ``n``-gram — the whitespace-token analog of Gopher's duplicated
    n-gram CHARACTER fraction (Rae et al. 2021 §A1.1), overlap-safe:
    ``starts`` (ascending, from :func:`dup_ngram_starts`) fold into an
    interval UNION, so overlapping occurrences never double-count a
    position."""
    cov = F.aggregate(
        starts,
        F.struct(F.lit(0).alias("cov"), F.lit(0).alias("end")),
        lambda acc, s: F.struct(
            (
                acc["cov"]
                + F.greatest(
                    F.lit(0),
                    (s + F.lit(n - 1)) - F.greatest(s, acc["end"] + 1) + 1,
                )
            ).alias("cov"),
            F.greatest(acc["end"], s + F.lit(n - 1)).alias("end"),
        ),
        lambda acc: acc["cov"],
    )
    return F.coalesce(
        cov / F.nullif(n_tokens, F.lit(0)).cast("double"), F.lit(0.0)
    )


def lines_from_words(w: Column, k: int) -> Column:
    """Non-overlapping ``k``-token "lines" derived from a STAGED word
    array — the deterministic line unit for corpora whose text carries
    no line breaks (the fixture corpus; same device family as the
    sentence derivation in ``dedup_sentence_spans``). Real crawl text
    has real lines: callers with ``\\n``-structured input pass
    ``F.split(text, "\\n")`` to the ``*_from_lines`` signals directly.
    A semantic alias of :func:`passage_segments_from_words` (the
    tiling-dedup segmenter) — one shared body, one empty-array
    guard."""
    return passage_segments_from_words(w, k)


def dup_line_fraction_from_lines(lines: Column) -> Column:
    """Fraction of lines that are repeat occurrences of an earlier
    line — Gopher's duplicated-line fraction (Rae et al. 2021 §A1.1
    runs the repetition family at line AND n-gram granularity; the
    n-gram half is ``dup_ngram_coverage``). Every-occurrence-
    beyond-the-first counts, the published counting rule."""
    n = F.size(lines)
    return F.coalesce(
        (n - F.size(F.array_distinct(lines)))
        / F.nullif(n, F.lit(0)).cast("double"),
        F.lit(0.0),
    )


def dup_line_char_fraction_from_lines(lines: Column) -> Column:
    """Fraction of line CHARACTERS sitting in repeat occurrences —
    Gopher's duplicated-line character fraction. Char totals via
    ``length(array_join(..., ""))`` (one concat, no per-element sum
    fold) with separators excluded; first occurrences don't count,
    matching the published rule."""
    total = F.length(F.array_join(lines, ""))
    firsts = F.length(F.array_join(F.array_distinct(lines), ""))
    return F.coalesce(
        (total - firsts) / F.nullif(total, F.lit(0)).cast("double"),
        F.lit(0.0),
    )


def top_line_char_ratio_from_lines(lines: Column) -> Column:
    """Char fraction of the heaviest repeated line: max over distinct
    lines of (occurrences x line length) / total line chars — the
    line-granularity analogue of the top-n-gram character fraction.
    One sorted-run fold (the ``_max_equal_run`` device), tracking the
    run-length x length product instead of the bare run: within a run
    the product grows monotonically, so the max over prefixes equals
    the full run's product and one pass suffices."""
    srt = F.array_sort(lines)
    best = F.aggregate(
        srt,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc.best,
                (
                    F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
                )
                * F.length(x),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return F.coalesce(
        best / F.nullif(F.length(F.array_join(lines, "")), F.lit(0)).cast(
            "double"
        ),
        F.lit(0.0),
    )


FINGERPRINT_MOD = 1_000_000_007


def fingerprint(text: Column) -> Column:
    """Position-weighted rolling document fingerprint.

    Σ_i i·(31·len(w_i) + ascii(w_i[0])) mod 1e9+7 over 1-based token
    positions — order-sensitive (anagram documents differ), cheap, and
    expressible in plain SQL for oracle checking.
    """
    w = _words(text)
    contrib = F.zip_with(
        w,
        F.sequence(F.lit(1), F.size(w)),
        lambda x, i: i.cast("bigint") * (F.length(x) * 31 + F.ascii(F.substring(x, 1, 1))),
    )
    total = F.aggregate(contrib, F.lit(0).cast("bigint"), lambda a, b: a + b)
    return total % FINGERPRINT_MOD


def unigram_logprob_scores(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-doc mean unigram log-prob under the corpus's own unigram
    distribution — ONE definition shared by the oracle-checked query
    (txt_unigram_logprob) and the curation job's LM-filter stage, so
    the job's cut can never drift from what the oracle checks.

    Output: (id_col, n_tokens, avg_logprob double, UNROUNDED — callers
    round for display). Float discipline: each token's ln(tf/total) is
    rounded to 9 dp and summed as DECIMAL (associative, so Spark's
    partial-agg order can't change it); the final division is one
    float op on two exact values. Corpus totals ride in as a 1-row
    broadcast aggregate (the tpch_q15 pattern), never a driver count.
    """
    toks = df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("_tok"))
    freq = toks.groupBy("_tok").agg(F.count("*").alias("_tf"))
    total = freq.agg(F.sum("_tf").alias("_total"))
    return (
        toks.join(freq, "_tok")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_lp",
            F.round(
                F.log(F.col("_tf").cast("double") / F.col("_total")), 9
            ).cast("decimal(28,9)"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            (F.sum("_lp").cast("double") / F.count("*")).alias("avg_logprob"),
        )
    )


def text_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-pass corpus profile: all textstats columns at once."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        lang_id(t).alias("lang_pred"),
        token_count_ws(t).alias("n_tokens"),
        token_count_re(t).alias("n_word_tokens"),
        punct_ratio(t).alias("punct_ratio"),
        stopword_ratio(t).alias("stopword_ratio"),
        mean_word_len(t).alias("mean_word_len"),
        quality_score(t).alias("quality"),
        fingerprint(t).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing — the redaction stage every published training corpus
# runs. Regexes are kept to the syntax subset Java regex and RE2
# (DuckDB) interpret identically, so the oracle can mirror the scrub.
# ---------------------------------------------------------------------------

PII_PATTERNS: dict[str, tuple[str, str]] = {
    # name -> (pattern, replacement token)
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b(\d{1,3}\.)(\d{1,3}\.)(\d{1,3}\.)\d{1,3}\b", "<IP>"),
    # phones: international/dashed/spaced digit runs, 9+ digits total;
    # the char class has no '.', so IPv4s never match as phones
    "phone": (r"\+?\d[\d()\- ]{7,}\d", "<PHONE>"),
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category counts of what scrub_pii ACTUALLY redacts: each
    category is counted on the text with all EARLIER categories already
    replaced, mirroring the scrub order. Counting every pattern on the
    original text would double-count — the digit run inside
    '1234567890@corp.com' matches the phone regex too, but the scrub
    replaces the whole email first and never emits a <PHONE>."""
    counts: dict[str, Column] = {}
    cur = text
    for name, (pat, token) in PII_PATTERNS.items():
        counts[name] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, token)
    return counts


def scrub_pii(text: Column) -> Column:
    """Redact emails, IPv4s, then phones with typed placeholder tokens.

    Order matters only in that earlier replacements cannot create later
    matches (placeholders contain no digits or '@'); each category is a
    single native regexp_replace — one codegen'd projection, no UDF."""
    out = text
    for _name, (pat, token) in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, token)
    return out


def passage_dup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    df_mode: str = "join",
) -> DataFrame:
    """Per-doc duplicated-passage stats: of a doc's DISTINCT n-token
    shingles, how many occur in more than one document corpus-wide
    (the RefinedWeb/CCNet exact-substring-duplication signal at
    passage granularity). Output: (id, n_passages, n_dup, dup_frac).

    Two document-frequency shapes, same result:

    - ``df_mode="join"`` (default, misnomer kept for API stability):
      since each (doc, gram) row is unique, a gram with df == 1 has
      exactly ONE owning doc — ``min(id)`` of its single row — so
      per-doc dup counts come from TWO aggregations and a doc-keyed
      join of DOC-SIZED frames: ``n_dup = n_passages − n_solo`` where
      ``n_solo`` counts the doc's df-1 grams via the gram table's
      ``(df, owner)`` columns. The corpus-sized gram frame is never
      joined back (the r13 shape shuffled every (doc, gram) row a
      second time through a gram-keyed join just to re-attach its own
      count — r14 optimization round, guide §8: decide on the small
      table, never re-shuffle the big one). Both aggregations are
      partial-agg friendly (the doc-keyed one collapses map-side to
      one row per doc per task); a boilerplate gram is one combiner
      row, so the hot-key skew the join mode guarded against cannot
      occur at all. The explode has two consumers, so it is staged
      once and the result materialized-and-released (the dd_* staging
      precedent; on a cluster this staging is a written table). NOTE
      this mode executes eagerly, like the dd_* operators.
    - ``df_mode="window"``: ``count(*) over (partition by gram)`` — a
      single explode and one shuffle, but a hot gram's window
      partition lands in ONE task (windows have no skew mitigation).
      Right when shingle df is known to be bounded (deduplicated or
      sampled corpora).
    """
    from pyspark.sql import Window

    from .dedup import shingles

    if df_mode not in {"join", "window"}:
        raise ValueError(f"df_mode must be 'join' or 'window', got {df_mode!r}")
    grams = docs.select(
        id_col, F.explode(shingles(F.col(text_col), n)).alias("_g")
    )
    if df_mode == "window":
        with_df = grams.withColumn(
            "_df", F.count("*").over(Window.partitionBy("_g"))
        )
        return (
            with_df.groupBy(id_col)
            .agg(
                F.count("*").alias("n_passages"),
                F.sum(F.when(F.col("_df") > 1, 1).otherwise(0)).alias("n_dup"),
            )
            .select(
                id_col,
                "n_passages",
                "n_dup",
                F.round(F.col("n_dup") / F.col("n_passages"), 9).alias(
                    "dup_frac"
                ),
            )
        )
    from .dedup import _materialize_and_release

    staged = stage(grams, "passage_grams")
    # min over a df-1 gram's single row IS its owner, including a NULL
    # id (min of {NULL} is NULL; the null-safe join below re-attaches
    # it to the NULL doc group exactly as the old gram join did)
    per_gram = staged.groupBy("_g").agg(
        F.count("*").alias("_df"), F.min(id_col).alias("_owner")
    )
    solo = (
        per_gram.where(F.col("_df") == 1)
        .groupBy("_owner")
        .agg(F.count("*").alias("_n_solo"))
    )
    n_pass = staged.groupBy(id_col).agg(F.count("*").alias("n_passages"))
    out = (
        n_pass.join(solo, F.col(id_col).eqNullSafe(F.col("_owner")), "left")
        .withColumn(
            "n_dup",
            F.col("n_passages") - F.coalesce(F.col("_n_solo"), F.lit(0)),
        )
        .select(
            id_col,
            "n_passages",
            "n_dup",
            F.round(F.col("n_dup") / F.col("n_passages"), 9).alias("dup_frac"),
        )
    )
    return _materialize_and_release(out, staged)


def bigram_logprob_scores(
    df: DataFrame, id_col: str, text_col: str, lam: float = 0.75
) -> DataFrame:
    """Per-doc mean INTERPOLATED bigram log-prob under the corpus's
    own counts — the order-1 upgrade of unigram_logprob_scores, one
    step closer to the CCNet/KenLM perplexity cut:
    ln(λ·P(w2|w1) + (1−λ)·P(w2)), averaged over a doc's bigram
    positions. The unigram backoff keeps unseen-in-context pairs
    finite; corpus-rare CONTINUATIONS (mojibake, code soup) score low
    even when their individual tokens are common.

    Same float discipline as the unigram scorer: each position's
    log-prob is rounded to 9 dp and summed as DECIMAL (associative →
    deterministic under any partial-agg order); every division is one
    float op on exact counts. The default λ=0.75 is chosen so BOTH
    weights are exactly representable doubles (0.75 and 0.25) — with
    λ=0.7 the complement differs between Python's 1-0.7
    (0.30000000000000004) and an engine computing 1-0.7 in decimal
    then casting (0.29999999999999999), a one-ulp weight divergence
    that can flip a 9-dp-boundary log-prob. Callers passing a custom
    λ must mirror the EXACT complement in any oracle. Docs with fewer
    than 2 tokens have no bigram and are absent from the output
    (callers pass them through, as lm_filter_stage does for
    unscorables). Shape at scale: one bigram explode → bigram-vocab
    groupBy → three vocabulary joins (AQE broadcasts while they fit)
    → per-doc partial agg.

    Output: (id_col, n_bigrams, avg_logprob double, UNROUNDED).
    """
    big = _word_ngrams(df, text_col, 2, id_col)
    bf = big.groupBy("_w1", "_w2").agg(F.count("*").alias("_cb"))
    toks = df.select(F.explode(F.split(F.col(text_col), " ")).alias("_tok"))
    uni = toks.groupBy("_tok").agg(F.count("*").alias("_c"))
    tot = uni.agg(F.sum("_c").alias("_n"))
    p = F.lit(lam) * (F.col("_cb") / F.col("_c1")) + F.lit(1 - lam) * (
        F.col("_c2") / F.col("_n")
    )
    return (
        big.join(bf, ["_w1", "_w2"])
        .join(
            uni.select(F.col("_tok").alias("_w1"), F.col("_c").alias("_c1")),
            "_w1",
        )
        .join(
            uni.select(F.col("_tok").alias("_w2"), F.col("_c").alias("_c2")),
            "_w2",
        )
        .crossJoin(F.broadcast(tot))
        .withColumn("_lp", F.round(F.log(p), 9).cast("decimal(28,9)"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.sum("_lp").cast("double") / F.count("*")).alias("avg_logprob"),
        )
    )


def _word_ngrams(frame: DataFrame, text_col: str, n: int, *keep) -> DataFrame:
    """One row per n-gram position of ``split(text_col, " ")``, the
    words in ``_w1.._wn``, plus the ``keep`` columns. The word array
    is STAGED in its own select and the transform lambda reads the
    attribute (the passage_segments_from_words rule: lambda bodies get
    no codegen subexpression elimination — an inline split(text)
    would re-run once per element). The ``when`` guard keeps the
    generated sequence ascending: for docs under n tokens
    sequence(1, size-n+1) DESCENDS in Spark, it is not empty."""
    staged = frame.select(*keep, F.split(F.col(text_col), " ").alias("_wd"))
    w = F.col("_wd")
    size = F.size(w)
    names = [f"w{k}" for k in range(1, n + 1)]
    grams = F.when(
        size >= n,
        F.transform(
            F.sequence(F.lit(1), size - (n - 1)),
            lambda i: F.struct(
                *(
                    F.element_at(w, i + k if k else i).alias(nm)
                    for k, nm in enumerate(names)
                )
            ),
        ),
    ).otherwise(
        F.array().cast(
            "array<struct<" + ",".join(f"{nm}:string" for nm in names) + ">>"
        )
    )
    return staged.select(*keep, F.explode(grams).alias("_g")).select(
        *keep, *(F.col(f"_g.{nm}").alias(f"_{nm}") for nm in names)
    )


# lm name → Kneser-Ney order: the one place the batch cut
# (curate_corpus.lm_filter_stage) and the frozen lifecycle
# (incremental_curate) learn which KN models exist
KN_ORDERS = {"kn": 2, "kn3": 3, "kn4": 4}

# the per-doc n-gram count column each order reports
_KN_COUNT_COL = {2: "n_bigrams", 3: "n_trigrams", 4: "n_quadgrams"}


def _kn_words(order: int) -> list[str]:
    """The word columns of an order-``order`` type table; an order the
    estimator does not serve raises."""
    if order not in _KN_COUNT_COL:
        raise ValueError(
            f"KN order must be one of {sorted(_KN_COUNT_COL)}, got {order!r}"
        )
    return [f"_w{k}" for k in range(1, order + 1)]


def kn_types(
    ref: DataFrame,
    order: int,
    text_col: str = "text",
    lang_col: str | None = None,
) -> DataFrame:
    """The order-``order`` KN model's ONE artifact: the reference
    n-gram TYPE table (_w1.._wn, _cb). Every lower order is a marginal
    of it (see :func:`kn_score_from_types`), so nothing else needs
    freezing. With ``lang_col`` the table is per-language — one KenLM
    per language, the CCNet production shape — and every marginal keys
    on the language too."""
    words = _kn_words(order)
    keys = [lang_col] if lang_col else []
    return (
        _word_ngrams(ref, text_col, order, *keys)
        .groupBy(*keys, *words)
        .agg(F.count("*").alias("_cb"))
    )


def kn_score_from_types(
    docs: DataFrame,
    types: DataFrame,
    order: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
    lang_col: str | None = None,
) -> DataFrame:
    """Per-doc mean INTERPOLATED KNESER-NEY log-prob of order 2, 3 or
    4 under a (possibly stored) type table from :func:`kn_types` — the
    published estimator behind the CCNet LM filter (KenLM, Heafield
    2011; Kneser & Ney 1995; Chen & Goodman 1998 eq. 4.25 with one
    constant D), where `bigram_logprob_scores` is the simpler
    λ-interpolated sibling. The top level discounts RAW counts; every
    lower level j discounts MODIFIED counts, N1+(·w), the number of
    distinct words that precede its j-gram in level j+1; the base case
    is the continuation distribution:

        p_j(w | h) = (max(c_j(h w) − D, 0) + D·N1+(h ·)·p_{j−1}(w | h'))
                     / c_j(h ·)                          j = order .. 2
        p_1(w)     = N1+(· w) / B      B = distinct bigram types

    where h' drops h's first word and c_j(h ·) sums level j over w.
    Continuation counts are the KN point: "San Francisco" makes
    "Francisco" frequent but a poor novel continuation, which raw
    frequency interpolation cannot express.

    Backoff ladder (each rung deterministic and mirrored in the
    oracles): n-gram unseen under a seen context → the discount-mass
    term alone; context h unseen at level j → p_{j−1} directly; word w
    never seen as a continuation → the floor 1/B (an unseen word is at
    most as surprising as a singleton continuation — the frozen
    unigram LM's OOV convention).

    Float discipline: every count is an exact BIGINT marginal of the
    type table (a reference token that never opens an n-gram is
    correctly absent as a context); D = 0.75 is exactly representable
    (the λ=0.75 rule of bigram_logprob_scores); p is composed in a
    fixed operation order — mirror it EXACTLY in any oracle; ln is
    rounded to 9 dp and summed as DECIMAL, so the per-doc mean is
    independent of partial-agg order.

    Scale shape: one corpus n-gram explode, 2·(order−1)+1 vocabulary
    joins (AQE broadcasts while they fit), B as one broadcast row, a
    per-doc partial agg — linear in the corpus, no windows. The lower
    levels are deliberately NOT staged: each consumer re-aggregates
    them map-side from the type table, which callers materialise, and
    staging the marginals measured flat-to-slower at sf0.1.

    With ``lang_col`` (table fit per-language) every level and join
    keys on the language, B is an O(languages) broadcast table, the
    output carries the language, and a doc in a language the table
    never saw is ABSENT from the output (callers pass it through).
    Docs under ``order`` tokens have no n-gram and are absent too.
    Output: (id_col, [lang_col,] n_bigrams | n_trigrams | n_quadgrams,
    avg_logprob double, UNROUNDED)."""
    words = _kn_words(order)
    D = F.lit(discount)
    kl = [lang_col] if lang_col else []
    # (table, join words) in join order: level n, ctx n, ..., level 2,
    # ctx 2 — level j < n is level j+1 grouped by its last j words
    tables = []
    level, cnt = types, "_cb"
    for j in range(order, 1, -1):
        if j < order:
            cnt = f"_c{j}"
            level = level.groupBy(*kl, *words[-j:]).agg(F.count("*").alias(cnt))
        ctx = level.groupBy(*kl, *words[-j:-1]).agg(
            F.sum(cnt).alias(f"_ctx{j}"),   # c_j(h ·)
            F.count("*").alias(f"_n1f{j}"),  # N1+(h ·)
        )
        tables += [(level, words[-j:]), (ctx, words[-j:-1])]
    cont = level.groupBy(*kl, words[-1]).agg(F.count("*").alias("_n1c"))
    btot = (
        level.groupBy(*kl).agg(F.count("*").alias("_b"))
        if kl
        else level.agg(F.count("*").alias("_b"))
    )

    p = F.coalesce(F.col("_n1c"), F.lit(1)).cast("double") / F.col("_b")
    for j in range(2, order + 1):
        c = "_cb" if j == order else f"_c{j}"
        seen = (
            F.greatest(F.coalesce(F.col(c), F.lit(0)) - D, F.lit(0.0))
            + D * F.col(f"_n1f{j}") * p
        ) / F.col(f"_ctx{j}")
        p = F.when(F.col(f"_ctx{j}").isNotNull(), seen).otherwise(p)

    joined = _word_ngrams(docs, text_col, order, id_col, *kl)
    for table, on in tables:
        joined = joined.join(table, kl + on, "left")
    joined = joined.join(cont, kl + [words[-1]], "left")
    if kl:
        joined = joined.join(F.broadcast(btot), kl, "left").where(
            F.col("_b").isNotNull()  # unseen language: unscorable
        )
    else:
        joined = joined.crossJoin(F.broadcast(btot))
    return (
        joined.withColumn("_lp", F.round(F.log(p), 9).cast("decimal(28,9)"))
        .groupBy(id_col, *kl)
        .agg(
            F.count("*").alias(_KN_COUNT_COL[order]),
            (F.sum("_lp").cast("double") / F.count("*")).alias("avg_logprob"),
        )
    )


def kn_logprob_scores(
    docs: DataFrame,
    ref: DataFrame,
    order: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Fit on ``ref``, score ``docs``: the train/score split that makes
    every backoff rung reachable (a self-trained model never backs
    off). See :func:`kn_score_from_types` for the estimator.

    The type table is staged: the scorer consumes it through
    2·(order−1)+2 subtrees, and Spark 4.1.2 does NOT reuse the
    identical exchanges — unstaged, the executed plan re-ran the
    reference explode once per consumer (18 scans for one 4-gram
    query; 0 ReusedExchange). Staging measured 3.9 → 3.1 s for the
    4-gram query at sf0.1, where a CacheManager persist measured
    SLOWER (1.18 → 1.85 s for the bigram: cache-manager
    materialisation serialises what concurrent stages hid). It is also
    the production posture: the frozen lifecycle reads the type table
    back as a STORED artifact."""
    return kn_score_from_types(
        docs,
        stage(kn_types(ref, order, text_col), f"kn{order}_types"),
        order,
        id_col,
        text_col,
        discount,
    )


def classifier_features(
    docs: DataFrame, text_col: str = "text", n_buckets: int = 64
) -> DataFrame:
    """The ONE featurizer of the trained quality classifiers: every
    input row plus two per-doc arrays —

    - ``_toks``: the non-empty ``split(text, " ")`` tokens (what
      :func:`nb_train` / :func:`nb_score` explode);
    - ``_bks``: the DISTINCT md5-hashed token buckets in
      ``[0, n_buckets)`` plus the bias bucket -1 (the presence
      features :func:`logreg_train` / :func:`logreg_score` explode).
      The portable-md5 bucket expression is the one shared with
      DSIR/KMV, so an oracle recomputes the identical feature space.

    The frame is lazy and per-doc; each operator explodes the column
    it reads. A caller with several consumers stages it once, keeping
    only the columns it uses — an NB-only frame never runs the
    per-token md5 fold (column pruning drops ``_bks``). NULL text
    gives NULL arrays, which explode to nothing, but the row stays:
    nb_train's class prior counts labelled docs whose text is
    NULL."""
    from .sampling import md5_hash64

    toks = docs.select(
        "*",
        F.filter(F.split(F.col(text_col), " "), lambda t: t != "").alias(
            "_toks"
        ),
    )
    return toks.withColumn(
        "_bks",
        F.array_append(
            F.array_distinct(
                F.transform(
                    "_toks", lambda t: F.pmod(md5_hash64(t), F.lit(n_buckets))
                )
            ),
            F.lit(-1).cast("bigint"),
        ),
    )


def nb_train(feats: DataFrame, label_col: str) -> tuple[DataFrame, DataFrame]:
    """Train a naive-Bayes text classifier in ONE corpus pass —
    the quality-classifier filter of the GPT-3/CCNet pipelines
    (label a seed set, train a cheap linear model, filter the corpus
    by its score), expressed entirely as aggregations so the judge's
    oracle can recompute the exact weights.

    ``feats`` is a :func:`classifier_features` frame and
    ``label_col`` a boolean column on it (True = positive class).
    Returns ``(weights, prior)``:

    - weights: (token, log_odds) — Laplace-smoothed per-token
      log-likelihood ratio ln((c_pos+1)/(n_pos+V)) −
      ln((c_neg+1)/(n_neg+V)), with V = |vocabulary| and n_* = total
      token occurrences per class. Integer counts → one double ln per
      side rounded to 9 dp: deterministic and engine-portable.
    - prior: one row (log_prior) = ln(docs_pos / docs_neg) over the
      labelled rows, rounded to 9.

    Scale shape: one ``_toks`` explode + two grouped aggregations;
    the weight table is vocabulary-sized (broadcast at score time).
    NULL-label docs contribute nothing; NULL-text docs contribute no
    tokens but count in the prior.
    """
    toks = feats.where(F.col(label_col).isNotNull()).select(
        F.col(label_col).alias("_pos"), F.explode("_toks").alias("_tok")
    )
    counts = toks.groupBy("_tok").agg(
        F.sum(F.when(F.col("_pos"), 1).otherwise(0)).alias("_cp"),
        F.sum(F.when(~F.col("_pos"), 1).otherwise(0)).alias("_cn"),
    )
    # the per-token count table has TWO consumers (the totals
    # aggregate below and the weight projection) and Spark 4.1.2
    # reuses no identical exchanges (the r14 non-reuse finding), so
    # the un-staged form ran the corpus token aggregation twice per
    # fit. The table is vocabulary-sized: one eager checkpoint job =
    # one corpus pass, both consumers read the small RDD. (r15; at
    # production scale this is the model table the fit would write to
    # storage anyway.)
    counts = stage(counts, "nb_counts")
    tot = counts.agg(
        F.sum("_cp").alias("_np"),
        F.sum("_cn").alias("_nn"),
        F.count("*").alias("_v"),
    )
    weights = counts.crossJoin(F.broadcast(tot)).select(
        F.col("_tok").alias("token"),
        F.round(
            F.round(
                F.log(
                    (F.col("_cp") + 1).cast("double")
                    / (F.col("_np") + F.col("_v"))
                ),
                9,
            )
            - F.round(
                F.log(
                    (F.col("_cn") + 1).cast("double")
                    / (F.col("_nn") + F.col("_v"))
                ),
                9,
            ),
            9,
        ).alias("log_odds"),
    )
    # a single-class corpus has no likelihood ratio to train: without
    # the guard Spark's non-ANSI division yields a NULL prior and every
    # downstream nb_score/pred_pos is silently NULL — raise loudly at
    # execution time instead (raise_error keeps the plan lazy, matching
    # the operator's compose-then-run contract)
    np_ = F.sum(F.when(F.col(label_col), 1).otherwise(0)).cast("double")
    nn_ = F.sum(F.when(~F.col(label_col), 1).otherwise(0)).cast("double")
    prior = (
        feats.where(F.col(label_col).isNotNull())
        .agg(
            F.when(
                (np_ > 0) & (nn_ > 0),
                F.round(F.log(np_ / nn_), 9),
            )
            .otherwise(
                F.raise_error(
                    "nb_train: both classes must be non-empty — the "
                    "label column put every doc in one class, so there "
                    "is no likelihood ratio to train"
                )
            )
            .alias("log_prior")
        )
    )
    return weights, prior


def nb_score(
    feats: DataFrame,
    weights: DataFrame,
    prior: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Score the docs of a :func:`classifier_features` frame under a
    trained NB model: per-doc sum of its tokens' log-odds (decimal —
    order-free) plus the class prior; positive score → positive class.
    Out-of-vocabulary tokens contribute 0 (the both-classes-unseen
    Laplace terms cancel only approximately, so the conventional
    choice is to skip them — documented, determinate, and identical in
    the oracle). Docs without tokens (NULL or blank text) are absent.
    Output: (id, n_scored_tokens, nb_score double, pred_pos
    boolean)."""
    toks = feats.select(id_col, F.explode("_toks").alias("token"))
    scored = (
        toks.join(weights, "token", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_scored_tokens"),
            F.sum(
                F.coalesce(F.col("log_odds"), F.lit(0.0)).cast(
                    "decimal(28,9)"
                )
            ).alias("_s"),
        )
    )
    return scored.crossJoin(F.broadcast(prior)).select(
        id_col,
        "n_scored_tokens",
        F.round(
            F.col("_s").cast("double") + F.col("log_prior"), 9
        ).alias("nb_score"),
        (
            F.col("_s").cast("double") + F.col("log_prior") >= 0
        ).alias("pred_pos"),
    )


def _unique_doc(n_bias: Column, value: Column, op: str) -> Column:
    """``value``, or an execution-time error when one doc id carries
    more than one bias row. The linear classifier's doc-keyed
    aggregates merge rows that share an id while its doc count counts
    rows, so a duplicated id would train on a corpus that is neither
    the deduplicated nor the raw one."""
    return F.when(
        n_bias > 1,
        F.raise_error(
            F.lit(
                f"{op}: doc ids must be unique — one id carries more "
                "than one bias row"
            )
        ),
    ).otherwise(value)


def logreg_train(
    feats: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    steps: int = 2,
    lr: float = 0.5,
) -> DataFrame:
    """Train a LINEAR (logistic-regression) text quality classifier —
    the fastText-shaped filter of the CCNet/LLaMA pipelines (hash
    n-gram features, fit a linear model, filter the corpus by score)
    — as ``steps`` UNROLLED full-batch gradient steps from w = 0,
    entirely in aggregations so an oracle recomputes the exact
    weights (the t_event_pagerank unrolled-iteration family; contrast
    :func:`nb_train`, the closed-form sibling).

    ``feats`` is a :func:`classifier_features` frame (its
    ``n_buckets`` is the model's feature space) and ``label_col`` a
    boolean column on it; NULL-label and NULL-text docs do not train.
    Doc ids must be unique: a step ≥ 2 fit raises on a duplicated id.

    Float discipline (the unigram-pair lessons): per-doc scores are
    DECIMAL(28,6) sums of 6-dp weights; the sigmoid input is
    quantized at 6 dp before exp and its output re-quantized at 6 dp
    (libm's ~1-ulp exp variance leaves no flip room against the 5e-7
    half boundary); gradients are DECIMAL sums of (p - y) residuals
    that sit ON the 6-dp grid; each new weight is one float
    multiply/divide then ROUND 6. Step 1 is closed-form (w=0 ⇒
    p = 0.5 exactly).

    Scale shape: each step is ONE pass over the ``_bks`` explode.
    Step 1 folds the residual 0.5 − y and the train-doc count into one
    O(n_buckets) aggregate; each later step's doc-keyed score groupBy
    carries the doc's bucket list, and the gradient explodes that list
    — no join back to the exploded frame. The weight table is
    O(n_buckets) and broadcasts everywhere. Returns (bucket, weight)
    with bucket -1 = bias."""
    rows = feats.where(F.col(label_col).isNotNull()).select(
        F.col(id_col),
        F.when(F.col(label_col), F.lit(1.0)).otherwise(0.0).alias("_y"),
        F.explode("_bks").alias("_bucket"),
    )
    # step-1 gradient and the train-doc count in ONE pass: w = 0 ⇒
    # p = 0.5 exactly, so the residual (0.5 − y) is a per-row
    # expression, and the doc count is the bias rows' count — every
    # featurized doc carries exactly one bucket −1 row and pmod()
    # never yields −1, so count(bias rows) = count(train docs) for
    # unique-id corpora (the contract the step ≥ 2 groupBy checks).
    # The per-bucket frame is O(n_buckets) with two consumers (the _nd
    # lookup and the step-1 update) and Spark 4.1.2 reuses no identical
    # exchanges: checkpoint it once so neither re-aggregates the
    # corpus.
    g1 = (
        rows.groupBy("_bucket")
        .agg(
            F.sum(
                (F.lit(0.5) - F.col("_y")).cast("decimal(28,6)")
            ).alias("_gr"),
            F.count("*").alias("_c"),
        )
        .transform(stage, "logreg_step1_grads")
    )
    nd = g1.where(F.col("_bucket") == -1).select(F.col("_c").alias("_nd"))

    def new_weights(
        grads: DataFrame, prev: DataFrame | None
    ) -> DataFrame:
        """One GD update: w ← w_prev − lr·∇/n over a per-bucket
        gradient-sum frame. Every bucket with a feature row gets a
        gradient row, and prev (from the same feature set) covers the
        same buckets — the left join + coalesce(0) is for step 1's
        implicit w = 0."""
        grads = grads.crossJoin(F.broadcast(nd))
        if prev is not None:
            grads = grads.join(F.broadcast(prev), "_bucket", "left")
        else:
            grads = grads.withColumn("_wt", F.lit(None).cast("double"))
        return grads.select(
            "_bucket",
            F.round(
                F.coalesce(F.col("_wt"), F.lit(0.0))
                - lr * F.col("_gr").cast("double") / F.col("_nd"),
                6,
            ).alias("_wt"),
        )

    # step 1 closed form: z = 0, p = 0.5 exactly — the per-bucket
    # residual sums were folded into the g1 pass above (one pass for
    # gradient + doc count), same decimal sums of the same multiset
    # (decimal addition is associative, so aggregation order cannot
    # change the result). The weight frames themselves are NOT
    # checkpointed (r15): with g1 staged, every weights plan is an
    # O(n_buckets) projection over the checkpointed RDD — re-running
    # it per consumer costs microseconds, while each eager checkpoint
    # job cost a fixed ~0.2 s at sf0.1 (two jobs per fit).
    weights = new_weights(g1.select("_bucket", "_gr"), None)
    for _ in range(steps - 1):
        # later steps fuse the score pass and the gradient pass into
        # ONE pass: the per-doc groupBy carries the doc's bucket list
        # alongside its weight sum, so the gradient is an explode of
        # that list, not a join of the exploded rows back to the
        # doc-keyed residuals (a second corpus-sized shuffle and scan
        # per step). Buckets are distinct per doc, so the exploded
        # (bucket, resid) multiset — and its order-free decimal sums —
        # are the join's. Every row of a doc carries the doc's one
        # label, so max(_y) is that label; the bias-row count checks
        # the unique-id contract the doc count relies on.
        zb = (
            rows.join(F.broadcast(weights), "_bucket", "left")
            .groupBy(id_col)
            .agg(
                F.sum(
                    F.coalesce(F.col("_wt"), F.lit(0.0)).cast(
                        "decimal(28,6)"
                    )
                ).alias("_z"),
                F.collect_list("_bucket").alias("_bks"),
                F.max("_y").alias("_y"),
                F.count_if(F.col("_bucket") == -1).alias("_nbias"),
            )
        )
        resid = zb.select(
            F.explode("_bks").alias("_bucket"),
            _unique_doc(
                F.col("_nbias"),
                F.round(
                    F.lit(1.0)
                    / (
                        F.lit(1.0)
                        + F.exp(-F.round(F.col("_z").cast("double"), 6))
                    ),
                    6,
                )
                - F.col("_y"),
                "logreg_train",
            ).alias("_resid"),
        )
        grads = resid.groupBy("_bucket").agg(
            F.sum(F.col("_resid").cast("decimal(28,6)")).alias("_gr")
        )
        # each step's grads subtree contains one full corpus pass, and
        # the NEXT step (or the caller's score) re-plans it per
        # consumer under non-reuse — stage the O(n_buckets) result,
        # exactly like g1 (the weight projection above it stays lazy).
        grads = stage(grads, "logreg_grads")
        weights = new_weights(grads, weights)
    return weights.select(
        F.col("_bucket").alias("bucket"), F.col("_wt").alias("weight")
    )


def logreg_score(
    feats: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Score the docs of a :func:`classifier_features` frame under
    trained linear weights: per-doc DECIMAL sum of its feature
    buckets' weights (bias included); positive score → positive
    class. The frame's ``n_buckets`` must match the fit (the
    frozen-meta rule — callers persisting a model pin it alongside
    the weights). NULL-text docs are absent; a duplicated doc id
    raises. Output: (id, n_features, lr_score double, pred_pos
    boolean)."""
    rows = feats.select(id_col, F.explode("_bks").alias("_bucket"))
    s = _unique_doc(F.col("_nbias"), F.col("_s"), "logreg_score")
    return (
        rows.join(
            F.broadcast(weights), rows["_bucket"] == weights["bucket"], "left"
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_features"),
            F.sum(
                F.coalesce(F.col("weight"), F.lit(0.0)).cast("decimal(28,6)")
            ).alias("_s"),
            F.count_if(F.col("_bucket") == -1).alias("_nbias"),
        )
        .select(
            id_col,
            "n_features",
            s.cast("double").alias("lr_score"),
            (s >= 0).alias("pred_pos"),
        )
    )


def passage_segments_from_words(w: Column, n: int = 10) -> Column:
    """Non-overlapping ``n``-token segments from a STAGED word-array
    column (the last segment may be shorter). Call-sites should stage
    the split in its own select and pass the attribute: the slice runs
    inside a ``transform`` lambda, and lambda bodies get no codegen
    subexpression elimination — an inline ``split(text)`` there is
    re-evaluated once per segment (measured 1.7× slower on the tiling
    explode at sf0.1), while an attribute reference is free.

    The ``when`` guard keeps the generated ``sequence`` ascending:
    for an EMPTY word array (a caller that pre-filters empty tokens),
    sequence(0, -1) DESCENDS in Spark — without the guard the
    segmenter emitted two bogus empty segments at size 0."""
    n_seg = F.ceil(F.size(w) / F.lit(n)).cast("int")
    return F.when(
        F.size(w) >= 1,
        F.transform(
            F.sequence(F.lit(0), n_seg - F.lit(1)),
            lambda i: F.array_join(F.slice(w, i * n + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def passage_segments(text: Column, n: int = 10) -> Column:
    """Non-overlapping ``n``-token segments of a whitespace-tokenized
    document — ``passage_segments_from_words(split(text))``. The
    segment — not the overlapping shingle — is the removal unit for
    exact duplicated-passage DELETION: segments tile the document, so
    dropping one never deletes tokens that a kept neighbor still
    covers. Inside an operator prefer the staged ``_from_words`` form
    (see its docstring for why)."""
    return passage_segments_from_words(F.split(text, " "), n)


def remove_dup_passages(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
) -> DataFrame:
    """Exact duplicated-passage REMOVAL — the rewrite stage behind the
    `passage_dup_stats` signal (Lee et al. 2022 exact-substring dedup /
    RefinedWeb, at tiling-segment granularity): every corpus-wide
    duplicated segment keeps exactly ONE copy (the first occurrence:
    minimum (doc id, position) — deterministic, and also collapses
    repeats WITHIN a document), all other copies are deleted and each
    document is reassembled from its surviving segments in original
    order. Output: (id, text rebuilt, n_segments, n_removed); rows
    whose text is NULL pass through untouched (n_segments 0), and a
    fully-deleted document becomes the empty string, not NULL.

    Scale shape: one tiling explode staged ONCE (two consumers: the
    per-segment frequency/winner aggregate and the join-back),
    frequency+winner by plain groupBy (partial agg; each
    (doc, pos) emits one row so COUNT(*) is the occurrence count), the
    join back on the segment key is AQE-skew-split when boilerplate
    segments are hot — `passage_dup_stats`' df_mode="join" posture
    exactly. Reassembly is a per-doc groupBy over at most the doc's own
    segments. Executes EAGERLY (the staging precedent of the dd_*
    operators: materialize, then release the stage).
    """
    from .dedup import _materialize_and_release

    if n < 1:
        raise ValueError(f"segment size n must be >= 1, got {n}")
    base = docs.select(id_col, text_col)
    segs = (
        base.where(F.col(text_col).isNotNull())
        .select(id_col, F.split(F.col(text_col), " ").alias("_w"))
        .select(
            id_col,
            F.posexplode(
                passage_segments_from_words(F.col("_w"), n)
            ).alias("_pos", "_seg"),
        )
    )
    staged = stage(segs, "passage_segments")
    stats = staged.groupBy("_seg").agg(
        F.count("*").alias("_df"),
        F.min(
            F.struct(F.col(id_col).alias("i"), F.col("_pos").alias("p"))
        ).alias("_w"),
    )
    flagged = staged.join(stats, "_seg").withColumn(
        "_keep",
        (F.col("_df") == 1)
        | (
            (F.col(id_col) == F.col("_w.i"))
            & (F.col("_pos") == F.col("_w.p"))
        ),
    )
    rebuilt = flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("_pos", "_seg"))
                    )
                ),
                lambda s: s["_seg"],
            ),
            " ",
        ).alias("_text_out"),
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("_keep"), 0).otherwise(1)).alias("n_removed"),
    )
    out = base.join(rebuilt, id_col, "left").select(
        id_col,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.col("_text_out"))
        .alias(text_col),
        F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
        F.coalesce("n_removed", F.lit(0).cast("bigint")).alias("n_removed"),
    )
    return _materialize_and_release(out, staged)


import math as _math
import zlib as _zlib


def _zlib_stats(t) -> tuple:
    """Row-level kernel shared by ``compression_signal`` and
    ``with_compression_ratio`` — the ONE place the signal's constants
    live (utf-8 bytes, zlib level 6, ratio rounded to 9; NULL in, or
    empty text, -> NULL ratio). Splitting the definition across the
    two operators would let the batch cut and the in-stream cut drift
    for ratios near a bound. Imports are module-level: this runs once
    per ROW inside the Arrow batch loops."""
    if t is None or (isinstance(t, float) and _math.isnan(t)):
        return (None, None, None)
    raw = t.encode("utf-8")
    comp = _zlib.compress(raw, 6)
    ratio = round(len(comp) / len(raw), 9) if raw else None
    return (len(raw), len(comp), ratio)


def gopher_repetition_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """INTEGER counters behind the Gopher within-doc repetition suite
    (top-n-gram multiplicity and gram count for n=2,3,4; duplicated-
    n-gram covered-position count for n=3,4), Arrow-batched — the
    compute-only twin of the pure-expression helpers
    (:func:`top_ngram_ratio_from_words` / :func:`dup_ngram_coverage`).

    Why it exists (r14 optimization round, guide §4.2): the expression
    form is map-only but runs three gram builds + three struct sorts +
    five folds per row through Spark's INTERPRETED higher-order-
    function path (HOFs get no whole-stage codegen). Counting the same
    integers with one ``Counter`` pass per gram order inside an
    Arrow batch measured ~2× faster at sf0.1. ONLY integers cross the
    Python boundary back: every ratio/round stays a Spark expression
    on exact counts, so the float surface is bit-identical to the
    expression path (a pytest cross-checks the two on the harness
    corpus).

    Token/gram definitions mirror the expression path exactly:
    ``split(text, " ")`` keeps empty tokens (Python ``str.split(" ")``
    and Java regex split with -1 limit agree, including the
    trailing-empty and empty-string cases); grams are space-joined
    slices; coverage is the interval UNION of duplicated-gram
    occurrences (ascending starts, same integer fold). NULL text maps
    to NULL ``n_tokens`` and zero counters — the expression path's
    when/otherwise branches.

    Output: (id, n_tokens int, t2 int, g2 int, t3 int, g3 int,
    t4 int, g4 int, cov3 int, cov4 int).
    """
    from collections.abc import Iterator
    from collections import Counter

    import pandas as pd

    out_schema = (
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        "n_tokens int, t2 int, g2 int, t3 int, g3 int, t4 int, g4 int, "
        "cov3 int, cov4 int"
    )

    def _counts(t):
        if t is None:
            return (None, 0, 0, 0, 0, 0, 0, 0, 0)
        ws = t.split(" ")
        nt = len(ws)
        out = [nt]
        covs = []
        for n in (2, 3, 4):
            if nt >= n:
                grams = [" ".join(ws[i : i + n]) for i in range(nt - n + 1)]
            else:
                grams = []
            cnt = Counter(grams)
            out.append(max(cnt.values(), default=0))
            out.append(len(grams))
            if n >= 3:
                cov = 0
                end = 0
                for i, g in enumerate(grams):
                    if cnt[g] > 1:
                        s = i + 1
                        cov += max(0, (s + n - 1) - max(s, end + 1) + 1)
                        end = max(end, s + n - 1)
                covs.append(cov)
        return tuple(out) + tuple(covs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["n_tokens", "t2", "g2", "t3", "g3", "t4", "g4", "cov3", "cov4"]
        for pdf in batches:
            rows = [_counts(t) for t in pdf[text_col]]
            out = pdf[[id_col]].copy()
            for j, c in enumerate(cols):
                out[c] = pd.array([r[j] for r in rows], dtype="Int32")
            yield out

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def gopher_gate_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """INTEGER counters behind the composite Gopher gate
    (td_gopher_filter), Arrow-batched — the compute-only twin of
    ``token_count_ws`` / ``_dup_token_ratio_raw`` /
    ``_top_bigram_ratio_raw`` / ``quality_score``'s ingredients, the
    :func:`gopher_repetition_counts` pattern applied one query over
    (r14 optimization round, guide §4.2): the expression form runs an
    array_distinct, a bigram build + struct sort + longest-run fold,
    and a stopword filter per row through Spark's INTERPRETED
    higher-order-function path; one ``Counter``/set pass per row
    inside an Arrow batch measured 1.96 → 1.37 s at sf0.1 (with
    ``_spread``; output rows bit-identical). ONLY integers cross the
    Python boundary back — every ratio stays a Spark expression on
    the same exact ints, so the float/hash surface is unchanged.

    Counter semantics mirror the expression path exactly:

    - tokens: ``t.split(" ")`` ≡ Spark ``split(text, " ")`` (empty
      tokens kept, empty string → one empty token);
    - ``n_distinct``: ``len(set(ws))`` ≡ ``size(array_distinct(w))``;
    - ``top_bg``/``n_bg``: max adjacent-bigram multiplicity over the
      space-joined pairs and their count (``nt−1``; 0 under 2
      tokens) ≡ the sorted-run fold over :func:`bigrams`;
    - ``sw_hits``: exact membership in :data:`STOPWORDS`;
    - ``text_len``/``kept_chars``: code-point length and the count of
      ``[A-Za-z0-9]`` + Java-regex-``\\s`` chars ([ \\t\\n\\x0B\\f\\r])
      — so ``text_len − kept_chars`` ≡ the ``regexp_replace(text,
      r"[^A-Za-z0-9\\s]", "")`` length difference for ANY input
      (non-ASCII chars count as punctuation in both, Java and Python
      both count code points).

    NULL text maps to all-NULL counters (the expression path's NULL
    propagation). Output: (id, *keep_cols, n_tokens int, n_distinct
    int, top_bg int, n_bg int, sw_hits int, text_len int, kept_chars
    int)."""
    from collections.abc import Iterator
    from collections import Counter

    import pandas as pd

    passthrough = [id_col, *keep_cols]
    decl = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in passthrough
    )
    out_schema = (
        f"{decl}, n_tokens int, n_distinct int, top_bg int, n_bg int, "
        "sw_hits int, text_len int, kept_chars int"
    )
    stop = set(STOPWORDS)
    allowed = set(
        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
        "0123456789 \t\n\x0b\f\r"
    )

    def _counts(t):
        if t is None:
            return (None,) * 7
        ws = t.split(" ")
        nt = len(ws)
        if nt >= 2:
            cnt = Counter(map(" ".join, zip(ws, ws[1:])))
            top_bg, n_bg = max(cnt.values()), nt - 1
        else:
            top_bg, n_bg = 0, 0
        return (
            nt,
            len(set(ws)),
            top_bg,
            n_bg,
            sum(1 for w in ws if w in stop),
            len(t),
            sum(1 for c in t if c in allowed),
        )

    cols = [
        "n_tokens", "n_distinct", "top_bg", "n_bg",
        "sw_hits", "text_len", "kept_chars",
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_counts(t) for t in pdf[text_col]]
            out = pdf[passthrough].copy()
            for j, c in enumerate(cols):
                out[c] = pd.array([r[j] for r in rows], dtype="Int32")
            yield out

    # text_col may itself ride in keep_cols (the classifier label
    # staging carries the text forward for the token/feature passes) —
    # select it once
    sel = [*passthrough] + ([text_col] if text_col not in passthrough else [])
    return df.select(*sel).mapInPandas(run, schema=out_schema)


def compression_signal(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document zlib compression ratio — the "compression filter"
    quality signal (RedPajama-v2 / DCLM family): templated or
    repetitive text compresses far below natural prose, so a low
    ``compression_ratio`` marks boilerplate that n-gram heuristics can
    miss, and an extremely high one marks noise/random strings.

    zlib (level pinned to 6) IS the reference definition of the
    signal, so this is deliberately a non-oracle operator — the one
    text op whose ground truth is a library, not SQL. It runs as
    Arrow-batched ``mapInPandas`` (the multimodal codec pattern —
    batch in, per-row stdlib call inside the executor, flat frame
    out), never a row-at-a-time Python UDF; tests pin the output
    against direct ``zlib.compress`` calls. Scale: embarrassingly
    parallel, one pass, no shuffle; ``_spread`` widens the scan so a
    single parquet split cannot serialize the CPU-heavy pass.

    Output: (id, n_bytes, n_compressed, compression_ratio) with
    ratio = n_compressed / n_bytes rounded to 9 (NULL for NULL or
    empty text; the 8-byte zlib header would otherwise make empty
    docs look infinitely incompressible).
    """
    from collections.abc import Iterator

    import pandas as pd

    from .dedup import _spread

    base = _spread(df.select(id_col, text_col))
    out_schema = (
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        "n_bytes bigint, n_compressed bigint, compression_ratio double"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[text_col]
            n_bytes, n_comp, ratio = [], [], []
            for t in texts:
                b, c, r = _zlib_stats(t)
                n_bytes.append(b)
                n_comp.append(c)
                ratio.append(r)
            out = pdf[[id_col]].copy()
            out["n_bytes"] = pd.array(n_bytes, dtype="Int64")
            out["n_compressed"] = pd.array(n_comp, dtype="Int64")
            out["compression_ratio"] = pd.array(ratio, dtype="float64")
            yield out

    return base.mapInPandas(run, schema=out_schema)


def with_compression_ratio(
    df: DataFrame, text_col: str = "text", out_col: str = "compression_ratio"
) -> DataFrame:
    """Append the zlib(level 6) compression ratio as a column,
    preserving every input column — the streaming-safe form of
    ``compression_signal`` (no join-back, so it composes with
    Structured Streaming where stream-derived self-joins are not
    allowed). Rows ride the Arrow pass once; NULL/empty text yields a
    NULL ratio. Batch pipelines that must keep payloads off the Python
    pass use ``compression_signal`` + semi-join instead."""
    from collections.abc import Iterator

    import pandas as pd

    out_schema = (
        ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        + f", {out_col} double"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ratio = [_zlib_stats(t)[2] for t in pdf[text_col]]
            out = pdf.copy()
            out[out_col] = pd.array(ratio, dtype="float64")
            yield out

    return df.mapInPandas(run, schema=out_schema)


# C4 terminal punctuation (Raffel et al. 2020 §2.2: period, exclamation
# mark, question mark, end quotation mark)
C4_TERMINAL = (".", "!", "?", '"')


def sentences_from_words(
    w: Column, terminal: tuple[str, ...] = C4_TERMINAL
) -> Column:
    """Sentence strings from a STAGED word array: a sentence ends at
    every word whose LAST character is terminal punctuation
    (:data:`C4_TERMINAL`), and a trailing unterminated fragment is its
    own sentence. Exact round-trip contract:
    ``array_join(sentences, ' ') == array_join(words, ' ')`` — every
    word lands in exactly one sentence, in order, separators
    preserved — so a rebuild after sentence-level deletion never
    perturbs surviving text. One native fold; the current-sentence
    slot is NULL (not '') so an empty TOKEN can still begin a
    sentence without colliding with the no-current sentinel."""
    is_term = lambda x: F.substring(x, -1, 1).isin(*terminal)  # noqa: E731
    return F.aggregate(
        w,
        F.struct(
            F.array().cast("array<string>").alias("s"),
            F.lit(None).cast("string").alias("cur"),
        ),
        lambda acc, x: F.struct(
            F.when(
                is_term(x),
                F.array_append(
                    acc["s"],
                    F.when(acc["cur"].isNull(), x).otherwise(
                        F.concat_ws(" ", acc["cur"], x)
                    ),
                ),
            )
            .otherwise(acc["s"])
            .alias("s"),
            F.when(
                is_term(x), F.lit(None).cast("string")
            )
            .otherwise(
                F.when(acc["cur"].isNull(), x).otherwise(
                    F.concat_ws(" ", acc["cur"], x)
                )
            )
            .alias("cur"),
        ),
        lambda acc: F.when(
            acc["cur"].isNull(), acc["s"]
        ).otherwise(F.array_append(acc["s"], acc["cur"])),
    )


def dedup_sentence_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 3,
    terminal: tuple[str, ...] = C4_TERMINAL,
) -> DataFrame:
    """C4's sentence-span deduplication (Raffel et al. 2020 §2.2:
    "we discard all but one of any three-sentence span occurring more
    than once in the data set") — the keep-one SLIDING-span member of
    the rewrite family: the tiling variant
    (:func:`remove_dup_passages`) keeps one copy but can miss runs
    straddling tile boundaries; the ExactSubstr rewrite
    (``dedup.remove_exact_substrings``) catches every run but keeps NO
    copy; this keeps the first occurrence of every duplicated span and
    deletes the SENTENCES of every other occurrence (C4's unit is the
    sentence, not the token).

    Semantics, pinned deterministic where the released C4 tool is
    random: documents sentencize by terminal punctuation
    (:func:`sentences_from_words`), every ``span``-sentence sliding
    window hashes (md5 of the space-joined span), the minimum
    (id, start) occurrence of each duplicated hash is the keeper, and
    each non-keeper occurrence marks its ``span`` sentence positions
    for deletion (overlapping occurrences of a longer repeat can mark
    sentences inside the keeper's window — the released tool's
    behavior, inherent to keep-one over sliding spans). Documents are
    rebuilt from surviving sentences in order; a fully-deleted doc
    becomes the empty string (callers drop it — the job-stage rule);
    NULL text passes through. Output: (id, text, n_sentences,
    n_removed).

    Scale shape: sentencization and span enumeration are per-row
    folds; the ONE corpus-scale shuffle is the span-hash partial-agg
    (the remove_dup_passages / decontamination shape, AQE-skew-safe);
    deletions re-enter by (id, position) anti-join; the sentence table
    is staged once for its two consumers (spans + rebuild).

    The INPUT is staged first too: it is read under two arms (NULL
    passthrough + live), and when the text column is itself a derived
    expression (a mid-pipeline stage, or the td_dedup_sentence_spans
    fixture derive) Catalyst pushes the live arm's isNotNull down as
    the fully RE-DERIVED predicate — re-evaluating the derivation per
    row on the scan side, serially on a one-split file (measured: the
    pushed punctuation transform alone cost ~3s/5k docs on one task).
    Staging severs both the double read and the pushdown (the
    lm_filter_stage precedent)."""
    if span < 1:
        raise ValueError(f"span must be >= 1, got {span}")
    from .dedup import _materialize_and_release

    base = stage(docs.select(id_col, text_col), "sentence_spans_input")
    nulls = base.where(F.col(text_col).isNull()).select(
        id_col,
        F.col(text_col),
        F.lit(0).alias("n_sentences"),
        F.lit(0).alias("n_removed"),
    )
    live = base.where(F.col(text_col).isNotNull())
    s1 = live.select(id_col, F.split(F.col(text_col), " ").alias("_w"))
    sents = s1.select(
        id_col, sentences_from_words(F.col("_w"), terminal).alias("_sents")
    ).transform(stage, "sentence_arrays")
    ns = F.size(F.col("_sents"))
    spans = sents.select(
        id_col,
        F.explode(
            F.when(
                ns >= span,
                F.transform(
                    F.sequence(F.lit(1), ns - F.lit(span - 1)),
                    lambda i: F.struct(
                        i.alias("start"),
                        F.md5(
                            F.array_join(F.slice(F.col("_sents"), i, span), " ")
                        ).alias("h"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<start:int,h:string>>")
            )
        ).alias("_sp"),
    ).select(id_col, "_sp.start", "_sp.h")
    dup = (
        spans.groupBy("h")
        .agg(
            F.count("*").alias("_c"),
            F.min(F.struct(F.col(id_col), F.col("start"))).alias("_keep"),
        )
        .where(F.col("_c") > 1)
        .select("h", "_keep")
    )
    # deleted positions AS A PER-DOC SET (collect_set dedups exactly
    # like the old row-level distinct): victims are span-occurrence-
    # bounded, so this aggregate is small, and carrying the set lets
    # the rebuild run MAP-SIDE off the cached sentence arrays — the
    # old shape posexploded every sentence back out, anti-joined the
    # corpus-sentence-sized frame on (id, position), and collect_list-
    # regrouped it per doc: three corpus-scale exchanges that existed
    # only to re-derive what `_sents` already holds (r14 optimization
    # round, guide §2.4)
    vic = (
        spans.join(dup, "h")
        .where(
            ~(
                (F.col(id_col) == F.col(f"_keep.{id_col}"))
                & (F.col("start") == F.col("_keep.start"))
            )
        )
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(span - 1))
            ).alias("_sidx"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("_sidx").alias("_del"))
    )
    # rebuild from the CACHED arrays: keep sentences whose 1-based
    # position is not deleted; order is the array's own. A doc with no
    # victims joins NULL _del (contains -> NULL -> kept); a fully-
    # deleted doc rebuilds to "" exactly as the old left-join/coalesce
    # did. n_removed stays BIGINT (the old int-minus-count type).
    dl = F.col("_del")
    out = (
        sents.join(vic, id_col, "left")
        .select(
            id_col,
            F.array_join(
                F.transform(
                    F.filter(
                        F.zip_with(
                            F.col("_sents"),
                            F.sequence(F.lit(1), F.greatest(ns, F.lit(1))),
                            lambda s, i: F.struct(s.alias("s"), i.alias("i")),
                        ),
                        lambda e: ~F.coalesce(
                            F.array_contains(dl, e["i"]), F.lit(False)
                        ),
                    ),
                    lambda e: e["s"],
                ),
                " ",
            ).alias(text_col),
            ns.alias("n_sentences"),
            F.coalesce(F.size(dl), F.lit(0)).cast("long").alias("n_removed"),
        )
        .unionByName(nulls)
    )
    return _materialize_and_release(out, sents, base)


def c4_line_ok(
    line: Column,
    min_words: int = 5,
    badwords: tuple[str, ...] = ("javascript",),
) -> Column:
    """The C4 per-line retention predicate: ends in terminal
    punctuation, carries at least ``min_words`` words, and names no
    line-level badword (C4 drops any line with the word *javascript* —
    the cookie/JS-warning boilerplate tell). Pure native expressions;
    evaluated inside a HOF lambda, so everything here is per-element
    work by construction (no CSE to lose)."""
    ok = F.substring(line, -1, 1).isin(*C4_TERMINAL)
    ok = ok & (
        F.size(F.filter(F.split(line, " "), lambda w: w != "")) >= min_words
    )
    low = F.lower(line)
    for b in badwords:
        ok = ok & ~low.contains(b.lower())
    return ok


def c4_clean(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 5,
    min_lines: int = 3,
    line_badwords: tuple[str, ...] = ("javascript",),
    doc_badwords: tuple[str, ...] = ("lorem ipsum",),
    out_col: str = "clean_text",
    keep_nulls: bool = False,
) -> DataFrame:
    """C4-style line-level corpus cleaning (Raffel et al. 2020 §2.2),
    the published stage between extraction and dedup in the C4/T5
    pipeline: keep only lines that end in terminal punctuation and
    carry ≥ ``min_words`` words, drop lines naming a line badword
    (*javascript*), then drop whole documents that retain fewer than
    ``min_lines`` lines ("fewer than 3 sentences"), contain a doc
    badword (*lorem ipsum* placeholder text), or contain a curly
    bracket (leaked code). NULL text is dropped by default — a gate,
    not a transform, so there is no row to pass through;
    ``keep_nulls=True`` passes NULL-text rows through instead (NULL
    stats/output columns) for pipelines whose shared stage invariant
    is NULL passthrough — expressed in the same WHERE, so it costs no
    second scan or union.

    Scale shape: ONE narrow projection per document — the line split,
    both filters, and the rejoin are native array expressions inside a
    single whole-stage-codegen span; no shuffle, no UDF, no explode
    (the per-line work stays inside the row, so a 100 TB corpus scan
    stays a map-only stage)."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines, lambda l: c4_line_ok(l, min_words, line_badwords)
    )
    low = F.lower(F.col(text_col))
    doc_ok = (F.size(kept) >= min_lines) & ~F.col(text_col).contains("{")
    for b in doc_badwords:
        doc_ok = doc_ok & ~low.contains(b.lower())
    if keep_nulls:
        doc_ok = F.col(text_col).isNull() | doc_ok
    return df.select(
        "*",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, "\n").alias(out_col),
    ).where(doc_ok)
