"""Incremental corpus curation — continuous ingestion with FROZEN
reference models.

``jobs.curate_corpus`` is the batch pipeline: every statistical stage
(the LM outlier cut, decontamination) derives its model from the
corpus being curated. A continuously-ingesting deployment cannot do
that — each micro-batch would re-derive a different unigram
distribution and a different percentile threshold, so a document's
fate would depend on which batch it arrived in. The production answer
(CCNet's: score against a PRE-TRAINED LM; GPT-3's: decontaminate
against a FIXED heldout set) is to fit the models once on a reference
corpus, freeze them in storage, and score every future batch against
the frozen artifacts:

    fit_reference_model(...)        # build job: unigram LM + threshold
                                    #   + heldout gram set -> tables
    run_incremental_curation(...)   # stream: scrub -> gate -> frozen-LM
                                    #   -> frozen decontaminate ->
                                    #   near-dup vs accumulated state ->
                                    #   MERGE into corpus

The near-dup half rides the existing state machinery
(``streaming.neardup.run_incremental_neardup`` — banded signature
tables on bucketed storage, per-batch cost proportional to the batch)
through its ``prepare`` seam, so cleaning happens before any state
interaction: a rejected document never enters the corpus or the
signature state.

Scale posture: the frozen unigram table is vocabulary-sized and
joined on the token (AQE broadcasts it while it fits); the heldout
gram table is heldout-sized and probed with a left-semi join; the
threshold and totals ride in meta. Nothing in the per-batch path
scans the accumulated corpus.

Determinism: scoring uses the same decimal discipline as
``textstats.unigram_logprob_scores`` (per-token ln rounded to 9 dp,
decimal sum, one final float division), so a batch scored today and
the same batch replayed tomorrow produce identical keep/drop sets.
Out-of-vocabulary tokens score ``ln(1/total)`` — the frequency floor
(an unseen token is at most as surprising as a singleton), keeping
scores finite without a smoothing hyperparameter.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import langcurate as langcurate_mod
from ..operators.dedup import shingles
from ..operators.staging import release_staged, stage
from ..operators.textstats import KN_ORDERS, kn_score_from_types, kn_types
from ..storage import JsonMetaStore, VersionedTable
from .curate_corpus import lang_quality_gate, quality_gate, scrub_stage


class FrozenCurationModel(JsonMetaStore):
    """The frozen artifacts under one root: unigram LM table
    (token, tf), heldout gram table (_gram), optional DSIR log-ratio
    table (bucket, lr), optional linear-classifier weight tables
    (logreg: bucket, weight; nb), optional Kneser-Ney type table
    (kn_types: [_kn_lang,] _w1.._wn, _cb — one table whatever the
    order; ``textstats.KN_ORDERS[meta["lm"]]`` says which), and meta
    (total tokens, LM threshold, DSIR threshold, classifier params,
    gate parameters, decontamination n, one ``<table>_version`` pin
    per table) — the shared atomic JSON-sidecar protocol
    (storage.meta). A KN model stored with one table per order, the
    earlier layout, is not read: refit it."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.unigram = VersionedTable(spark, os.path.join(root, "unigram"))
        self.heldout_grams = VersionedTable(
            spark, os.path.join(root, "heldout_grams")
        )
        self.dsir_lr = VersionedTable(spark, os.path.join(root, "dsir_lr"))
        self.logreg = VersionedTable(spark, os.path.join(root, "logreg"))
        self.nb = VersionedTable(spark, os.path.join(root, "nb"))
        self.kn_types = VersionedTable(spark, os.path.join(root, "kn_types"))

    def exists(self) -> bool:
        # dsir_lr is optional (fit with dsir_keep_fraction=None has no
        # DSIR stage); meta records whether it must be present
        return (
            self.unigram.exists()
            and self.heldout_grams.exists()
            and self.meta_exists()
        )


def _frozen_lm_scores(
    docs: DataFrame,
    freq: DataFrame,
    total_tokens: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, avg_logprob) under the FROZEN unigram distribution —
    ``textstats.unigram_logprob_scores``' float discipline with the
    frequency table read from storage instead of derived from the
    batch; OOV tokens take the tf=1 frequency floor."""
    toks = docs.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("_tok")
    )
    return (
        toks.join(freq.withColumnRenamed("token", "_tok"), "_tok", "left")
        .withColumn(
            "_lp",
            F.round(
                F.log(
                    F.coalesce(F.col("tf"), F.lit(1)).cast("double")
                    / F.lit(float(total_tokens))
                ),
                9,
            ).cast("decimal(28,9)"),
        )
        .groupBy(id_col)
        .agg(
            (F.sum("_lp").cast("double") / F.count("*")).alias("avg_logprob")
        )
    )


def _frozen_lang_lm_scores(
    docs: DataFrame,
    freq: DataFrame,
    totals: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
) -> DataFrame:
    """(id, lang, avg_logprob) under the FROZEN per-language unigram
    distributions — ``langcurate.lang_lm_scores``' float discipline
    (6-dp ln — the score ordering feeds threshold compares, the
    libm-proof quantization) with the (lang, token, tf) table read
    from storage and per-language totals riding in as a broadcast.
    OOV tokens take the tf=1 floor WITHIN their language; documents
    in a language the reference never saw get no rows here (inner
    totals join) and the caller passes them through unscored."""
    toks = docs.select(
        id_col,
        F.col(lang_col).alias("_lang"),
        F.explode(F.split(F.col(text_col), " ")).alias("_tok"),
    )
    f = freq.select(
        F.col("lang").alias("_lang"), F.col("token").alias("_tok"), "tf"
    )
    t = totals.select(F.col("lang").alias("_lang"), "total")
    return (
        toks.join(f, ["_lang", "_tok"], "left")
        .join(F.broadcast(t), "_lang")
        .withColumn(
            "_lp",
            F.round(
                F.log(
                    F.coalesce(F.col("tf"), F.lit(1)).cast("double")
                    / F.col("total").cast("double")
                ),
                6,
            ).cast("decimal(28,6)"),
        )
        .groupBy(id_col, "_lang")
        .agg(
            (F.sum("_lp").cast("double") / F.count("*")).alias("avg_logprob")
        )
        .withColumnRenamed("_lang", "lang")
    )


def _kn_text_view(df: DataFrame, text_col: str, *keep: str) -> DataFrame:
    """Line-break-normalized KN input view — ``lm_filter_stage``'s
    rule applied to the frozen path: the KN explode splits on single
    spaces, so "end.\\nstart" must not fit or score as one rare fused
    token. Only the columns the KN pair needs ride through (the
    published text column re-enters untouched downstream). Fit and
    apply both route through this helper, so the frozen type table
    and every score see the same normalization."""
    return df.select(
        *keep, F.translate(F.col(text_col), "\n", " ").alias(text_col)
    )


# (table root, version) pairs whose non-emptiness has been verified —
# a PINNED version of an immutable versioned table cannot become empty
# between micro-batches, so the eager probe runs once per artifact,
# not once per batch
_KN_NONEMPTY_SEEN: set[tuple[str, str]] = set()


def _read_nonempty_kn(model: FrozenCurationModel, meta: dict) -> DataFrame:
    """Read the model's pinned KN type table, raising if it is empty —
    an empty or corrupted artifact at apply time would otherwise yield a
    0-row join, NULL avg_logprob for every doc, and a frozen LM cut
    that silently became a no-op (the fit-time guard only covers the
    fit path). The 1-row probe is memoized per (table, version): a
    pinned version is immutable by the VersionedTable write-once
    contract, so a streaming loop pays it once — external corruption
    of an already-verified version's files mid-session is outside
    that contract and NOT re-detected (restoring an artifact means
    committing a NEW version, which re-probes). An UNPINNED read
    (version None → latest) re-probes every call."""
    table, version = model.kn_types, meta.get("kn_types_version")
    df = table.read(version)
    key = (table.root, str(version))
    if version is not None and key in _KN_NONEMPTY_SEEN:
        return df
    if df.limit(1).count() == 0:
        raise ValueError(
            f"stored KN type table ({meta['lm']}) is empty — the frozen "
            "KN cut would silently become a no-op (every doc unscorable); "
            "refit with fit_reference_model or restore the artifact"
        )
    if version is not None:
        _KN_NONEMPTY_SEEN.add(key)
    return df


def fit_reference_model(
    model: FrozenCurationModel,
    reference_docs: DataFrame,
    heldout_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    drop_fraction: float = 0.05,
    lm: str = "unigram",
    decont_n: int = 13,
    dsir_keep_fraction: float | None = None,
    dsir_n_buckets: int = 1024,
    classifier: str | None = None,
    classifier_n_buckets: int = 64,
    classifier_steps: int = 2,
    classifier_lr: float = 0.5,
    classifier_keep_fraction: float = 0.5,
    ensemble_policy: str = "and",
    lang_aware: bool = False,
    lang_col: str | None = None,
    lang_gates: dict | None = None,
    **gate_kwargs: Any,
) -> dict[str, Any]:
    """BUILD job: freeze the curation models from a reference corpus.

    The unigram distribution is fit on the reference corpus AFTER the
    same scrub + quality gate every future batch will pass (CCNet
    trains its LM on the clean reference, not the raw crawl), so the
    distribution describes text that can actually reach the LM stage.
    The threshold is the reference corpus's own ``drop_fraction``
    percentile under that distribution — the frozen analog of
    ``lm_filter_stage``'s per-run percentile. The heldout gram table
    is the distinct ``decont_n``-token shingle set of ``heldout_docs``
    (docs under ``decont_n`` tokens contribute nothing — no full
    n-gram exists, same rule as the batch stage). Meta is written
    LAST, so a concurrent reader sees a complete model or none.

    ``dsir_keep_fraction`` additionally freezes a DSIR selection
    model: the hashed-n-gram log-ratio table is fit on the clean
    reference (target = its quality ≥ 0.5 seed set, the one-pass
    flagged fit) and the keep threshold is the reference's own
    ``1 − keep_fraction`` quantile of per-doc importance weights —
    the frozen analog of the batch pipeline's Gumbel-top-k budget
    (a stream has no global k; a weight floor calibrated on the
    reference admits the same fraction in expectation).

    ``lang_aware=True`` freezes the PER-LANGUAGE forms (the CCNet
    production shape): the gate routes by ``lang_col`` or the
    heuristic prediction with ``lang_gates`` thresholds, the unigram
    table is fit within each language ((lang, token, tf) schema), and
    meta carries one LM threshold and total per language — each
    language's own ``drop_fraction`` percentile on the reference. At
    apply time the cut is a pure broadcast compare; a batch document
    in a language the reference never saw has no model and passes the
    LM stage through unscored."""
    if not (0.0 <= drop_fraction < 1.0):
        raise ValueError(f"drop_fraction must be in [0, 1), got {drop_fraction}")
    if lm != "unigram" and lm not in KN_ORDERS:
        raise ValueError(
            f"lm must be 'unigram', 'kn', 'kn3' or 'kn4', got {lm!r}"
        )
    if dsir_keep_fraction is not None and not (0.0 < dsir_keep_fraction <= 1.0):
        raise ValueError(
            f"dsir_keep_fraction must be in (0, 1], got {dsir_keep_fraction}"
        )
    if lang_aware and gate_kwargs:
        raise ValueError(
            "lang_aware=True routes thresholds per language via "
            "lang_gates; global gate_kwargs would be silently ignored"
        )
    routed = lang_col or "lang_routed"
    if lang_aware:
        clean = lang_quality_gate(
            scrub_stage(reference_docs, text_col),
            text_col,
            lang_col=lang_col,
            gates=lang_gates,
        ).transform(stage, "reference_clean")
        freq = (
            clean.select(
                F.col(routed).alias("lang"),
                F.explode(F.split(F.col(text_col), " ")).alias("token"),
            )
            .groupBy("lang", "token")
            .agg(F.count("*").alias("tf"))
        )
    else:
        clean = quality_gate(
            scrub_stage(reference_docs, text_col), text_col, **gate_kwargs
        ).transform(stage, "reference_clean")  # freq + threshold share one run
        freq = (
            clean.select(
                F.explode(F.split(F.col(text_col), " ")).alias("token")
            )
            .groupBy("token")
            .agg(F.count("*").alias("tf"))
        )
    try:
        c1 = model.unigram.overwrite(freq)
        stored_freq = model.unigram.read()
        if lang_aware:
            lang_totals = {
                r["lang"]: int(r["t"])
                for r in stored_freq.groupBy("lang")
                .agg(F.sum("tf").alias("t"))
                .collect()
            }
            if not lang_totals:
                raise ValueError(
                    "reference corpus is empty after scrub+gate — no unigram "
                    "distribution to freeze; widen the gates or fix the input"
                )
            totals_df = model.spark.createDataFrame(
                list(lang_totals.items()), "lang string, total long"
            )
            if lm in KN_ORDERS:
                # per-language KN — CCNet's actual production shape (one
                # KenLM per language, at any of the engine's three
                # orders): the frozen artifact is the (lang, …grams) type
                # table; each language's floor is its own drop_fraction
                # percentile of KN scores under the STORED table,
                # calibrated on the gated HELD-OUT docs (the
                # in-sample-bias rule — see the non-lang KN branch; a
                # language present in the reference but absent from the
                # heldout gets no floor and passes the LM stage through,
                # the unseen-language invariant extended to calibration).
                # The per-language unigram table above still freezes
                # (drift + vocabulary artifact).
                ckn = model.kn_types.overwrite(
                    kn_types(
                        _kn_text_view(
                            clean.withColumn("_kn_lang", F.col(routed)),
                            text_col,
                            "_kn_lang",
                        ),
                        KN_ORDERS[lm],
                        text_col,
                        lang_col="_kn_lang",
                    )
                )
                stored_kn = model.kn_types.read(ckn.version)
                cal = lang_quality_gate(
                    scrub_stage(heldout_docs, text_col),
                    text_col,
                    lang_col=lang_col,
                    gates=lang_gates,
                ).where(
                    F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
                )
                scores = kn_score_from_types(
                    _kn_text_view(
                        cal.withColumn("_kn_lang", F.col(routed)),
                        text_col,
                        id_col,
                        "_kn_lang",
                    ),
                    stored_kn,
                    KN_ORDERS[lm],
                    id_col,
                    text_col,
                    lang_col="_kn_lang",
                ).withColumnRenamed("_kn_lang", "lang")
            else:
                scores = _frozen_lang_lm_scores(
                    clean, stored_freq, totals_df, id_col, text_col, routed
                )
            lang_thresholds = {
                r["lang"]: float(r["thr"])
                for r in scores.groupBy("lang")
                .agg(
                    F.expr(f"percentile(avg_logprob, {drop_fraction})").alias(
                        "thr"
                    )
                )
                .collect()
                if r["thr"] is not None
            }
            if lm in KN_ORDERS:
                # held-out calibration must cover every language the
                # reference froze a model for: a modeled language with no
                # floor would silently make its LM stage a permanent
                # no-op (this is NOT the unseen-language invariant — the
                # language IS seen and modeled; only calibration data is
                # missing). Fail the BUILD job loudly instead. The
                # required set is the languages IN THE TYPE TABLE, not
                # every unigram-modeled language: a reference language
                # whose docs are all shorter than the order's minimum has
                # no n-gram types at that order, so no heldout could ever
                # calibrate it — it is KN-unmodeled and passes the LM
                # stage through at apply time (absent from the score
                # frame), the unseen-language invariant.
                kn_langs = {
                    r[0]
                    for r in stored_kn.select("_kn_lang").distinct().collect()
                }
                if not kn_langs:
                    # mirror the non-lang branch's fit-time guard: a KN
                    # model with zero types in EVERY language is not an
                    # all-exempt model, it is no model — and curate_batch
                    # would correctly refuse the empty stored table
                    raise ValueError(
                        "reference corpus has no n-grams at the requested "
                        "order in any language after scrub+gate — no KN "
                        "distribution to freeze; widen the gates or fix "
                        "the input"
                    )
                uncal = sorted(
                    (set(lang_totals) & kn_langs) - set(lang_thresholds)
                )
                if uncal:
                    raise ValueError(
                        "held-out calibration produced no KN floor for "
                        f"modeled language(s) {uncal} — the gated heldout "
                        "has no scorable docs in them; pass a heldout "
                        "covering every reference language modeled at "
                        "this n-gram order"
                    )
            thr = None
            total = sum(lang_totals.values())
        else:
            total = stored_freq.agg(F.sum("tf").alias("t")).collect()[0]["t"]
            if not total:
                raise ValueError(
                    "reference corpus is empty after scrub+gate — no unigram "
                    "distribution to freeze; widen the gate or fix the input"
                )
            if lm in KN_ORDERS:
                # CCNet production parity: the LM cut scores under an
                # interpolated Kneser-Ney model (the KenLM estimator —
                # bigram at lm='kn', trigram at lm='kn3', 4-gram at
                # lm='kn4') instead of the unigram distribution. ONE
                # artifact freezes per order — the n-gram TYPE table;
                # every marginal re-derives deterministically at apply
                # time through the same scoring definition the
                # oracle-checked txt_kn_logprob / txt_kn3_logprob queries
                # use. The unigram table above still freezes: batch_drift's
                # KL runs on it and it documents the reference vocabulary.
                #
                # The floor is calibrated on the HELD-OUT docs (scrubbed
                # and gated like any batch), NOT on the reference's own
                # scores: a KN model scores its own training text with
                # every n-gram seen, so an in-sample percentile is biased
                # optimistic — mildly at order 0 (the unigram path keeps
                # in-sample calibration), fatally by order 2, where
                # in-sample calibration put ~100% of genuinely novel text
                # under the floor (the kn3 lesson this round). Held-out
                # scores have the same unseen-n-gram profile future
                # batches will have.
                # calibration population matches the apply side exactly:
                # curate_batch filters NULL id/text before KN scoring, so
                # the fit must too — otherwise NULL-id heldout rows pool
                # into one pseudo-doc that skews the percentile
                cal = _kn_text_view(
                    quality_gate(
                        scrub_stage(heldout_docs, text_col),
                        text_col,
                        **gate_kwargs,
                    ).where(
                        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
                    ),
                    text_col,
                    id_col,
                )
                fit_view = _kn_text_view(clean, text_col)
                ckn = model.kn_types.overwrite(
                    kn_types(fit_view, KN_ORDERS[lm], text_col)
                )
                stored_types = model.kn_types.read(ckn.version)
                kn_scores = kn_score_from_types(
                    cal, stored_types, KN_ORDERS[lm], id_col, text_col
                )
                if stored_types.limit(1).count() == 0:
                    raise ValueError(
                        "reference corpus has no n-grams at the requested "
                        "order after scrub+gate — no KN distribution to "
                        "freeze; widen the gate or fix the input"
                    )
                thr = kn_scores.agg(
                    F.expr(f"percentile(avg_logprob, {drop_fraction})").alias(
                        "thr"
                    )
                ).collect()[0]["thr"]
                if thr is None:
                    raise ValueError(
                        "heldout corpus is empty after scrub+gate — cannot "
                        "calibrate the KN floor on held-out scores; pass a "
                        "larger heldout_docs"
                    )
            else:
                scores = _frozen_lm_scores(
                    clean, stored_freq, total, id_col, text_col
                )
                thr = scores.agg(
                    F.expr(f"percentile(avg_logprob, {drop_fraction})").alias(
                        "thr"
                    )
                ).collect()[0]["thr"]
        grams = (
            heldout_docs.where(F.size(F.split(F.col(text_col), " ")) >= decont_n)
            .select(F.explode(shingles(F.col(text_col), decont_n)).alias("_gram"))
            .distinct()
        )
        c2 = model.heldout_grams.overwrite(grams)
        meta = {
            "total_tokens": int(total),
            "lm": lm,
            "lm_threshold": float(thr) if thr is not None else None,
            "drop_fraction": drop_fraction,
            "decont_n": decont_n,
            "gate_kwargs": gate_kwargs,
            "unigram_version": c1.version,
            "heldout_grams_version": c2.version,
        }
        if lm in KN_ORDERS:
            meta["kn_types_version"] = ckn.version
        if lang_aware:
            meta.update(
                {
                    "lang_aware": True,
                    "lang_col": lang_col,
                    # JSON round-trips tuples as lists; curate_batch
                    # converts back. The EFFECTIVE gates are resolved HERE
                    # (lang_gates or the package defaults) and frozen into
                    # meta: storing None and re-resolving DEFAULT_LANG_GATES
                    # at apply time would let a later edit to the defaults
                    # silently change a frozen model's thresholds between
                    # fit and apply.
                    "lang_gates": {
                        k: list(v)
                        for k, v in (
                            lang_gates
                            or langcurate_mod.DEFAULT_LANG_GATES
                        ).items()
                    },
                    "lang_totals": lang_totals,
                    "lang_thresholds": lang_thresholds,
                }
            )
        if dsir_keep_fraction is not None:
            from ..operators import dsir
            from ..operators.textstats import quality_score

            lr = dsir.dsir_log_ratio_flagged(
                clean, quality_score(F.col(text_col)) >= 0.5, text_col,
                dsir_n_buckets,
            )
            c3 = model.dsir_lr.overwrite(lr)
            stored_lr = model.dsir_lr.read(c3.version)
            w = dsir.dsir_score(clean, stored_lr, id_col, text_col, dsir_n_buckets)
            dsir_thr = w.agg(
                F.expr(
                    f"percentile(dsir_weight, {1.0 - dsir_keep_fraction})"
                ).alias("thr")
            ).collect()[0]["thr"]
            meta.update(
                {
                    "dsir_threshold": float(dsir_thr),
                    "dsir_keep_fraction": dsir_keep_fraction,
                    "dsir_n_buckets": dsir_n_buckets,
                    "dsir_lr_version": c3.version,
                }
            )
        if classifier is not None:
            # classifier filter (the fastText-shaped CCNet stage): train
            # on the gate-surviving reference with the heuristic-quality
            # seed labels (the same bootstrap the DSIR stage uses), freeze
            # the weight table(s), and record the feature geometry in meta
            # — batch application must score in the SAME space the fit
            # recorded (the frozen-meta rule). Every keep threshold is
            # CALIBRATED, not the raw sign: the frozen floor is the
            # reference corpus's own (1 - keep_fraction) score percentile
            # (the DSIR-stage discipline) — a hard pred_pos cut
            # degenerates to drop-all / keep-all whenever the features
            # can't separate the seed labels, while a percentile floor
            # always keeps the best-scoring fraction.
            #
            # "both" freezes BOTH scorers off the SAME seed bootstrap and
            # composes their calibrated keeps at batch time under
            # ``ensemble_policy``: "and" (intersection — the
            # high-precision gate) or "or" (union — the high-recall gate).
            # td_classifier_ensemble is the oracle-checked audit of what
            # each policy costs in precision vs recall.
            if classifier not in ("logreg", "nb", "both"):
                raise ValueError(
                    "classifier must be None, 'logreg', 'nb' or 'both', "
                    f"got {classifier!r}"
                )
            if classifier == "both" and ensemble_policy not in ("and", "or"):
                raise ValueError(
                    f"ensemble_policy must be 'and' or 'or', got "
                    f"{ensemble_policy!r}"
                )
            from ..operators.textstats import (
                classifier_features,
                logreg_score,
                logreg_train,
                nb_score,
                nb_train,
                quality_score,
            )

            # the labeled per-doc feature frame feeds up to FOUR consumers
            # under "both" (each trainer and each calibration scoring
            # pass) — stage it once, keeping only the arrays the chosen
            # scorers read, so the quality_score label fold and the
            # featurize run one pass over the clean rows
            arrays = {"logreg": ["_bks"], "nb": ["_toks"], "both": ["_toks", "_bks"]}
            labeled = stage(
                classifier_features(
                    clean.withColumn(
                        "_lbl", quality_score(F.col(text_col)) >= 0.5
                    ),
                    text_col,
                    classifier_n_buckets,
                ).select(id_col, "_lbl", *arrays[classifier]),
                "classifier_features",
            )
            try:
                meta.update(
                    {
                        "classifier": classifier,
                        "classifier_keep_fraction": classifier_keep_fraction,
                    }
                )
                if classifier in ("logreg", "both"):
                    wts = logreg_train(
                        labeled,
                        "_lbl",
                        id_col,
                        steps=classifier_steps,
                        lr=classifier_lr,
                    )
                    c4 = model.logreg.overwrite(wts)
                    stored_wts = model.logreg.read(c4.version)
                    ref_scores = logreg_score(labeled, stored_wts, id_col)
                    clf_thr = ref_scores.agg(
                        F.expr(
                            f"percentile(lr_score, {1.0 - classifier_keep_fraction})"
                        ).alias("thr")
                    ).collect()[0]["thr"]
                    meta.update(
                        {
                            "classifier_n_buckets": classifier_n_buckets,
                            "classifier_steps": classifier_steps,
                            "classifier_lr": classifier_lr,
                            "classifier_threshold": float(clf_thr),
                            "logreg_version": c4.version,
                        }
                    )
                if classifier in ("nb", "both"):
                    nbw, prior = nb_train(labeled, "_lbl")
                    c5 = model.nb.overwrite(nbw)
                    stored_nbw = model.nb.read(c5.version)
                    # pin the prior as a plain float in meta (it is one
                    # scalar, not a table) and score the reference through
                    # the SAME reconstructed 1-row frame the batch path uses,
                    # so fit-time calibration and batch-time scoring share
                    # one code shape
                    prior_val = float(prior.collect()[0]["log_prior"])
                    prior_df = model.spark.createDataFrame(
                        [(prior_val,)], "log_prior double"
                    )
                    nb_ref = nb_score(labeled, stored_nbw, prior_df, id_col)
                    nb_thr = nb_ref.agg(
                        F.expr(
                            f"percentile(nb_score, {1.0 - classifier_keep_fraction})"
                        ).alias("thr")
                    ).collect()[0]["thr"]
                    meta.update(
                        {
                            "nb_prior": prior_val,
                            "nb_threshold": float(nb_thr),
                            "nb_version": c5.version,
                        }
                    )
                if classifier == "both":
                    meta["ensemble_policy"] = ensemble_policy
            finally:
                release_staged(labeled)
        model._write_meta(meta)
    finally:
        release_staged(clean)
    return meta


def curate_batch(
    batch: DataFrame,
    model: FrozenCurationModel,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply the frozen curation stages to one batch: scrub → quality
    gate (the fit's own parameters) → frozen-LM outlier cut →
    frozen-DSIR weight floor (when the fit froze one) →
    decontaminate against the frozen heldout grams. NULL-id/NULL-text
    rows cannot be scored and pass the LM stage through (the
    unscorable-rows invariant of the batch stages); the gate drops
    them regardless (NULL comparisons are NULL-false), matching batch
    ``curate_corpus`` ordering. Pure function of (batch, stored
    model) — replaying a batch yields the identical keep set."""
    if not model.exists():
        raise FileNotFoundError(
            f"no frozen curation model at {model.root}; "
            f"run fit_reference_model first"
        )
    meta = model.meta()
    if meta.get("lang_aware"):
        stored_gates = meta.get("lang_gates")
        gated = lang_quality_gate(
            scrub_stage(batch, text_col),
            text_col,
            lang_col=meta.get("lang_col"),
            gates=(
                {k: tuple(v) for k, v in stored_gates.items()}
                if stored_gates
                else None
            ),
        )
        routed = meta.get("lang_col") or "lang_routed"
        unscorable = F.col(id_col).isNull() | F.col(text_col).isNull()
        passthrough = gated.where(unscorable)
        scorable = gated.where(~unscorable)
        spark = batch.sparkSession
        thr_df = spark.createDataFrame(
            list(meta["lang_thresholds"].items()), "lang string, thr double"
        )
        if meta.get("lm", "unigram") in KN_ORDERS:
            # per-language KN cut: marginals re-derive from the STORED
            # (lang, …grams) type table — one scoring definition with
            # the fit's calibration pass; docs in a language the table
            # never saw are absent from the score frame and pass
            # through via the drop-list anti-join
            scores = kn_score_from_types(
                _kn_text_view(
                    scorable.withColumn("_kn_lang", F.col(routed)),
                    text_col,
                    id_col,
                    "_kn_lang",
                ),
                _read_nonempty_kn(model, meta),
                KN_ORDERS[meta["lm"]],
                id_col,
                text_col,
                lang_col="_kn_lang",
            ).withColumnRenamed("_kn_lang", "lang")
        else:
            totals_df = spark.createDataFrame(
                list(meta["lang_totals"].items()), "lang string, total long"
            )
            scores = _frozen_lang_lm_scores(
                scorable,
                model.unigram.read(meta.get("unigram_version")),
                totals_df,
                id_col,
                text_col,
                routed,
            )
        # drop = scored strictly below ITS language's frozen floor; a
        # language with no frozen threshold/model (unseen on the
        # reference) never lands in drop, so its docs pass through —
        # the unscorable-rows invariant extended to unseen languages
        drop = (
            scores.join(F.broadcast(thr_df), "lang", "left")
            .where(F.col("avg_logprob") < F.col("thr"))
            .select(id_col)
        )
        gated = scorable.join(drop, id_col, "left_anti").unionByName(
            passthrough
        )
    else:
        gated = quality_gate(
            scrub_stage(batch, text_col), text_col, **meta["gate_kwargs"]
        )
        thr = meta["lm_threshold"]
        if thr is not None and meta.get("lm", "unigram") in KN_ORDERS:
            # frozen KN cut: marginals re-derive from the STORED type
            # table (deterministic — same scoring definition as the
            # fit's calibration pass). DROP-list semantics: a doc the
            # model cannot score (under the order's minimum token
            # count — absent from the score table) passes through,
            # the unscorable-rows invariant the unigram path gets
            # from its explicit passthrough split.
            kn_scores = kn_score_from_types(
                _kn_text_view(
                    gated.where(
                        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
                    ),
                    text_col,
                    id_col,
                ),
                _read_nonempty_kn(model, meta),
                KN_ORDERS[meta["lm"]],
                id_col,
                text_col,
            )
            drop = (
                kn_scores.where(F.col("avg_logprob") < F.lit(thr))
                .select(id_col)
            )
            gated = gated.join(drop, id_col, "left_anti")
        elif thr is not None:
            unscorable = F.col(id_col).isNull() | F.col(text_col).isNull()
            passthrough = gated.where(unscorable)
            scorable = gated.where(~unscorable)
            keep = (
                _frozen_lm_scores(
                    scorable,
                    model.unigram.read(meta.get("unigram_version")),
                    meta["total_tokens"],
                    id_col,
                    text_col,
                )
                .where(F.col("avg_logprob") >= F.lit(thr))
                .select(id_col)
            )
            gated = scorable.join(keep, id_col, "left_semi").unionByName(
                passthrough
            )
    if meta.get("dsir_threshold") is not None:
        # frozen DSIR floor: score under the STORED log-ratio table
        # (broadcast, n_buckets rows), keep weight >= the reference-
        # calibrated threshold; unscorable rows pass through
        from ..operators import dsir

        unscorable = F.col(id_col).isNull() | F.col(text_col).isNull()
        passthrough = gated.where(unscorable)
        scorable = gated.where(~unscorable)
        keep = (
            dsir.dsir_score(
                scorable,
                model.dsir_lr.read(meta.get("dsir_lr_version")),
                id_col,
                text_col,
                int(meta["dsir_n_buckets"]),
            )
            .where(F.col("dsir_weight") >= F.lit(meta["dsir_threshold"]))
            .select(id_col)
        )
        gated = scorable.join(keep, id_col, "left_semi").unionByName(
            passthrough
        )
    clf = meta.get("classifier")
    if clf in ("logreg", "nb", "both"):
        # frozen classifier filter(s): score under the STORED weight
        # table(s) in the SAME feature space the fit recorded; keep
        # scores at or above the reference-calibrated percentile
        # floor (never the raw sign — see the fit's calibration
        # note); unscorable rows pass through (the shared batch-stage
        # invariant). Under classifier="both" the two calibrated keep
        # sets compose per the frozen ensemble_policy: "and" chains
        # two doc-keyed semi-joins (intersection), "or" semi-joins
        # against the deduplicated union — both linear, doc-keyed.
        from ..operators.textstats import (
            classifier_features,
            logreg_score,
            nb_score,
        )

        unscorable = F.col(id_col).isNull() | F.col(text_col).isNull()
        passthrough = gated.where(unscorable)
        # ONE featurize definition for both scorers; each reads only
        # its own array, so column pruning keeps an NB-only model off
        # the md5 fold. Not staged: this function composes a lazy
        # plan that its caller runs after it returns, so there is no
        # point at which a staged frame could be released.
        scorable = classifier_features(
            gated.where(~unscorable),
            text_col,
            int(meta.get("classifier_n_buckets", 64)),
        )

        def _lr_keep(frame: DataFrame) -> DataFrame:
            return (
                logreg_score(
                    frame, model.logreg.read(meta.get("logreg_version")), id_col
                )
                .where(
                    F.col("lr_score") >= F.lit(meta["classifier_threshold"])
                )
                .select(id_col)
            )

        def _nb_keep(frame: DataFrame) -> DataFrame:
            prior_df = batch.sparkSession.createDataFrame(
                [(float(meta["nb_prior"]),)], "log_prior double"
            )
            return (
                nb_score(
                    frame,
                    model.nb.read(meta.get("nb_version")),
                    prior_df,
                    id_col,
                )
                .where(F.col("nb_score") >= F.lit(meta["nb_threshold"]))
                .select(id_col)
            )

        if clf == "both" and meta.get("ensemble_policy", "and") == "or":
            # union keep: both scorers run over the full scorable set
            # by necessity; no distinct — left_semi is duplicate-blind
            keep = _lr_keep(scorable).unionByName(_nb_keep(scorable))
            scorable = scorable.join(keep, id_col, "left_semi")
        else:
            # single scorer, or "and" (intersection): apply the floors
            # sequentially, each scorer reading only the previous
            # survivor set — under the default keep_fraction 0.5 the
            # second scorer's explode runs over ~half the rows, and
            # intersection is order-independent because each frozen
            # floor is a per-doc predicate
            if clf in ("logreg", "both"):
                scorable = scorable.join(
                    _lr_keep(scorable), id_col, "left_semi"
                )
            if clf in ("nb", "both"):
                scorable = scorable.join(
                    _nb_keep(scorable), id_col, "left_semi"
                )
        gated = scorable.drop("_toks", "_bks").unionByName(passthrough)
    n = int(meta["decont_n"])
    contaminated = (
        gated.where(F.size(F.split(F.col(text_col), " ")) >= n)
        .select(id_col, F.explode(shingles(F.col(text_col), n)).alias("_gram"))
        .join(
            model.heldout_grams.read(meta.get("heldout_grams_version")),
            "_gram",
            "left_semi",
        )
        .select(id_col)
        .distinct()
    )
    return gated.join(contaminated, id_col, "left_anti")


def batch_drift(
    batch: DataFrame,
    model: FrozenCurationModel,
    text_col: str = "text",
) -> dict[str, Any]:
    """Distribution-shift alarm for continuous ingestion: the plug-in
    KL of the batch's token distribution against the FROZEN reference
    unigram (the streaming twin of the td_source_drift datasheet).
    OOV tokens take the tf=1 frequency floor — the same convention as
    the frozen LM scoring, so an all-novel batch reads as maximally
    surprising rather than undefined.

    One pass over the batch (explode → per-token counts → broadcast
    freq join → ONE aggregate row) via the decomposition

        KL = (Σ_t o_t·ln(o_t/tf'_t)) / n  −  ln n  +  ln n_ref

    which needs no second pass for the batch total. Returns
    ``{"n_tokens", "n_oov_tokens", "kl_nats"}``; an empty batch
    returns ``kl_nats=None`` (no distribution to compare — not 0.0,
    which would read as a perfect match)."""
    meta = model.meta()
    freq = model.unigram.read(meta.get("unigram_version"))
    if meta.get("lang_aware"):
        # a lang-aware model stores (lang, token, tf); the drift alarm
        # measures against the POOLED reference distribution (whose
        # total meta["total_tokens"] already is), and joining the
        # per-language table on token alone would fan each batch token
        # out once per language it appears in, overcounting _n
        freq = freq.groupBy("token").agg(F.sum("tf").alias("tf"))
    # NO empty-token filter: the frozen reference's freq/total_tokens
    # and the frozen LM scoring count every split token including ""
    # (double spaces, empty text) — filtering here would miscalibrate
    # the alarm's zero point against the distribution it measures
    toks = batch.where(F.col(text_col).isNotNull()).select(
        F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    st = toks.groupBy("token").agg(F.count("*").alias("_o"))
    row = (
        st.join(freq, "token", "left")
        .agg(
            F.sum("_o").alias("_n"),
            F.sum(F.when(F.col("tf").isNull(), F.col("_o")).otherwise(0)).alias(
                "_oov"
            ),
            F.sum(
                F.col("_o")
                * F.log(
                    F.col("_o")
                    / F.coalesce(F.col("tf"), F.lit(1)).cast("double")
                )
            ).alias("_a"),
        )
        .collect()[0]
    )
    if not row["_n"]:
        return {"n_tokens": 0, "n_oov_tokens": 0, "kl_nats": None}
    import math

    n = int(row["_n"])
    kl = row["_a"] / n - math.log(n) + math.log(int(meta["total_tokens"]))
    return {
        "n_tokens": n,
        "n_oov_tokens": int(row["_oov"]),
        "kl_nats": round(kl, 9),
    }


def run_incremental_curation(
    docs_stream: DataFrame,
    model: FrozenCurationModel,
    state_dir: str,
    corpus,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    drift_log: list | None = None,
    **neardup_kwargs: Any,
):
    """STREAM job: frozen-model curation + near-dup-vs-state dedup +
    corpus MERGE, one micro-batch at a time. Composition of
    ``curate_batch`` (this module) with
    ``streaming.neardup.run_incremental_neardup`` through its
    ``prepare`` seam — cleaning runs before any state interaction, so
    rejected docs never enter the corpus or the signature state, and
    the whole batch path stays batch-proportional (frozen tables are
    broadcast-sized joins, state reads are bucket-pruned).

    ``drift_log`` (a list, the jobs.ann_index convention) receives one
    ``batch_drift`` dict per micro-batch, measured on the RAW batch
    before any curation stage — the shift alarm must see what arrived,
    not what survived the gates the reference calibrated."""
    from ..streaming.neardup import run_incremental_neardup

    def _prepare(b: DataFrame) -> DataFrame:
        if drift_log is not None:
            drift_log.append(batch_drift(b, model, text_col))
        return curate_batch(b, model, id_col, text_col)

    return run_incremental_neardup(
        docs_stream,
        state_dir,
        corpus,
        checkpoint_dir,
        id_col=id_col,
        text_col=text_col,
        prepare=_prepare,
        **neardup_kwargs,
    )
