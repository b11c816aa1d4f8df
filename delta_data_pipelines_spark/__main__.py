"""CLI entry points — the engine's replacement for the reference's
Airflow DAG triggers.

    python -m delta_data_pipelines_spark search-index [--sf-dir D] [--out DIR]
    python -m delta_data_pipelines_spark incremental-index --state DIR [--sf-dir D]
    python -m delta_data_pipelines_spark price-dataset --listings DIR --out DIR
    python -m delta_data_pipelines_spark bench

Each command builds the tuned session (session.get_spark), runs one
job, and prints a one-line JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# default --sf-dir of every subcommand that reads the fixture tables
_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="delta_data_pipelines_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    si = sub.add_parser("search-index", help="full search-index rebuild")
    si.add_argument("--sf-dir", default=_SF_DIR)
    si.add_argument("--out", default=None, help="write result parquet here")

    inc = sub.add_parser("incremental-index", help="watermarked incremental index")
    inc.add_argument("--state", required=True, help="state directory (index + watermarks)")
    inc.add_argument("--sf-dir", default=_SF_DIR)

    pd_ = sub.add_parser("price-dataset", help="versioned ML dataset publish")
    pd_.add_argument("--listings", required=True, help="listings parquet dir")
    pd_.add_argument("--out", required=True, help="dataset table root")

    cc = sub.add_parser("curate-corpus", help="scrub + quality-gate + dedup + split publish")
    cc.add_argument("--sf-dir", default=_SF_DIR)
    cc.add_argument("--out", required=True, help="curated corpus table root")
    cc.add_argument("--no-scrub", action="store_true", help="skip PII redaction")
    cc.add_argument("--pack-ctx", type=int, default=None,
                    help="pack each split into N-token training windows")
    cc.add_argument("--pack-bins", type=int, default=None, metavar="CTX",
                    help="no-split best-fit packing (Ding et al. "
                    "2024): whole documents fill CTX-token bins, "
                    "never crossing splits; adds pack_group/bin/"
                    "offset/oversize columns. Mutually exclusive "
                    "with --pack-ctx")
    cc.add_argument("--tokenizer", default=None, metavar="DIR",
                    help="with --pack-ctx: size windows in STORED-"
                    "tokenizer pieces (train-tokenizer output) instead "
                    "of whitespace tokens")
    cc.add_argument("--lm-drop", type=float, default=None,
                    help="drop the bottom FRACTION by mean LM "
                    "log-prob after the heuristic gate (CCNet-style)")
    cc.add_argument("--lm", choices=["unigram", "kn", "kn3", "kn4"],
                    default="unigram",
                    help="with --lm-drop: the scoring model — "
                    "'unigram' (corpus frequency), 'kn' (self-fit "
                    "interpolated Kneser-Ney bigram, the KenLM "
                    "estimator), 'kn3' (trigram) or 'kn4' (4-gram, "
                    "KenLM's production order); ignored with --lang-aware, whose "
                    "per-language cut is unigram")
    cc.add_argument("--lang-aware", action="store_true",
                    help="route the quality gate (and --lm-drop) per "
                    "language: each doc is gated by its language's "
                    "thresholds and the LM cut fits one unigram model "
                    "per language (CCNet/FineWeb-2 discipline)")
    cc.add_argument("--lang-col", default=None, metavar="COL",
                    help="with --lang-aware: route on an existing "
                    "language column instead of the heuristic "
                    "prediction")
    cc.add_argument("--dup-weights", action="store_true",
                    help="carry dup_weight = near-dup cluster size on "
                    "each kept representative")
    cc.add_argument("--decontaminate", action="store_true",
                    help="drop train docs sharing any 13-gram with the "
                    "heldout splits (exact-collision standard)")
    cc.add_argument("--max-passage-dup", type=float, default=None,
                    help="drop docs whose duplicated-passage fraction "
                    "(8-token shingles in >1 doc) exceeds FRACTION "
                    "after near-dup collapse (template cut)")
    cc.add_argument("--compression-bounds", type=float, nargs=2,
                    default=None, metavar=("LO", "HI"),
                    help="drop docs whose zlib compression ratio falls "
                    "outside [LO, HI] (repetitive boilerplate below, "
                    "noise above; heuristic gate, runs before --lm-drop)")
    cc.add_argument("--dedup-passages", type=int, default=None,
                    metavar="N",
                    help="rewrite surviving docs: delete duplicated "
                    "N-token tiling segments (keep the corpus-wide "
                    "first occurrence), drop docs the rewrite empties")
    cc.add_argument("--sentence-spans", type=int, default=None,
                    metavar="K",
                    help="C4 sentence-span dedup: keep the first "
                    "occurrence of every duplicated K-sentence "
                    "sliding span, delete the sentences of every "
                    "other occurrence, drop docs the rewrite empties")
    cc.add_argument("--exact-substr", type=int, default=None,
                    metavar="L",
                    help="TRUE sliding-window ExactSubstr rewrite: "
                    "delete every token inside any >=L-token substring "
                    "occurring more than once corpus-wide (all "
                    "occurrences; catches runs straddling tiling "
                    "boundaries), drop docs the rewrite empties")
    cc.add_argument("--dsir-select", type=int, default=None, metavar="N",
                    help="DSIR selection: keep the N gated docs whose "
                    "hashed-n-gram distribution most resembles the "
                    "in-corpus quality-seed target (deterministic "
                    "Gumbel-top-k on importance log-ratios); runs "
                    "after the per-doc filters, before dedup")
    cc.add_argument("--sample-per-source", type=int, default=None,
                    help="keep at most N docs per source after the "
                    "cuts, length-weighted without replacement "
                    "(deterministic Efraimidis-Spirakis; zero-token "
                    "docs carry no weight and are dropped)")
    cc.add_argument("--dedup-refetches", action="store_true",
                    help="with --warc-in: collapse refetches of the "
                    "same canonical URL (case/port/tracking-param/"
                    "fragment variants) to the latest capture before "
                    "any text-level stage")
    cc.add_argument("--main-content", action="store_true",
                    help="with --warc-in: DOM-block boilerplate "
                    "removal (jusText/trafilatura family) instead of "
                    "whole-page text — link-dense blocks, short "
                    "orphans and per-host repeated templates drop "
                    "before any quality gate")
    cc.add_argument("--c4", action="store_true",
                    help="C4 line-level cleaning (Raffel et al. 2020) "
                    "after the scrub, before the quality gate: keep "
                    "lines ending in terminal punctuation with >=5 "
                    "words, drop javascript lines, drop docs with <3 "
                    "kept lines / lorem ipsum / curly brackets")
    cc.add_argument("--blocklist", default=None, metavar="FILE",
                    help="domain blocklist (one domain per line, UT1 "
                    "format): drop docs whose URL host falls under an "
                    "entry — exact host or any subdomain, at label "
                    "boundaries; requires --warc-in (URL column)")
    cc.add_argument("--warc-in", default=None, metavar="GLOB",
                    help="read the input corpus from WARC shards "
                    "(Common Crawl container): 2xx HTML responses -> "
                    "(doc_id, url, source, text); damaged shards are "
                    "quarantined as _error rows, not fatal")
    cc.add_argument("--wet-in", default=None, metavar="GLOB",
                    help="read the input corpus from WET shards "
                    "(Common Crawl extracted-text): conversion "
                    "records -> (doc_id, url, source, text) with no "
                    "HTML hop; damaged shards are quarantined as "
                    "_error rows, not fatal")
    cc.add_argument("--jsonl-in", default=None, metavar="DIR",
                    help="read the input corpus from JSONL shards "
                    "(doc_id/text/lang/source; malformed lines are "
                    "quarantined, not fatal) instead of the sf-dir "
                    "parquet")
    cc.add_argument("--export-jsonl", default=None, metavar="DIR",
                    help="also export the curated corpus as gzip JSONL "
                    "shards (the interchange format downstream "
                    "training loaders read)")
    cc.add_argument("--jsonl-shards", type=int, default=None,
                    help="shard count for --export-jsonl (gzip shard "
                    "count = downstream read parallelism)")
    cc.add_argument("--funnel", action="store_true",
                    help="emit per-stage surviving doc counts in the "
                    "result JSON (each instrumented stage is eagerly "
                    "materialized — the retention report costs extra "
                    "actions, so it is opt-in)")

    cr = sub.add_parser(
        "corpus-report",
        help="print the corpus datasheet (doc/token/lang/source counts, "
        "dup ratio, mean quality/length) as one JSON line",
    )
    cr.add_argument("--sf-dir", default=_SF_DIR)
    cr.add_argument("--table", default=None, metavar="DIR",
                    help="report on a curated VersionedTable instead "
                    "of the sf-dir documents parquet")

    cn = sub.add_parser(
        "compact-neardups",
        help="periodic sweep: collapse near-dup residue left by "
        "incremental ingest under out-of-order arrival",
    )
    cn.add_argument("--state", required=True, help="incremental-neardup state dir")
    cn.add_argument("--corpus", required=True, help="corpus table root")
    cn.add_argument("--id-col", default="doc_id")
    cn.add_argument("--threshold", type=float, default=0.8)

    ce = sub.add_parser(
        "compact-exact-substr",
        help="periodic sweep: cut the first-arrival duplicated spans "
        "incremental ExactSubstr ingest had to publish uncut",
    )
    ce.add_argument("--state", required=True,
                    help="incremental-exact-substr state dir")
    ce.add_argument("--corpus", required=True, help="corpus table root")
    ce.add_argument("--id-col", default="doc_id")
    ce.add_argument("--min-len", type=int, default=10)

    ss = sub.add_parser(
        "state-stats",
        help="per-bucket skew report for a bucketed state table",
    )
    ss.add_argument("--table", required=True, help="bucketed table root dir")

    pq = sub.add_parser(
        "pq-index",
        help="build/refresh the PQ ANN index (codes + codebook tables)",
    )
    pq.add_argument("--index", required=True, help="index store root")
    pq.add_argument("--sf-dir", default=_SF_DIR)
    pq.add_argument("--m", type=int, default=4, help="subspaces")
    pq.add_argument("--k", type=int, default=4, help="codewords per subspace")
    pq.add_argument("--n-iter", type=int, default=2, help="Lloyd rounds")

    pa = sub.add_parser(
        "pq-append",
        help="incremental index maintenance: code vectors not yet in the "
        "codes table against the STORED codebook and merge them in; "
        "prints the batch's mean assignment cosine next to the build "
        "baseline (the refit signal)",
    )
    pa.add_argument("--index", required=True, help="index store root")
    pa.add_argument("--sf-dir", default=_SF_DIR)

    iv = sub.add_parser(
        "ivf-index",
        help="build/refresh the IVF ANN index: centroids table + the "
        "corpus bucketed by cell id (probe-pruned serve reads)",
    )
    iv.add_argument("--index", required=True, help="index store root")
    iv.add_argument("--sf-dir", default=_SF_DIR)
    iv.add_argument("--n-cells", type=int, default=16)
    iv.add_argument("--n-iter", type=int, default=2,
                    help="k-means refinement rounds (0 = deterministic "
                    "lowest-id cells, nothing to fit)")
    iv.add_argument("--n-buckets", type=int, default=None,
                    help="cell-table bucket count at CREATION (default "
                    "16); reopening an existing index always adopts "
                    "its stored geometry")

    ia = sub.add_parser(
        "ivf-append",
        help="incremental IVF maintenance: assign vectors not yet in "
        "the cells table against the STORED centroids, merge into the "
        "touched buckets only",
    )
    ia.add_argument("--index", required=True, help="index store root")
    ia.add_argument("--sf-dir", default=_SF_DIR)

    fm = sub.add_parser(
        "fit-curation-model",
        help="freeze the incremental-curation reference models: unigram "
        "LM + percentile threshold fit on the scrubbed+gated reference "
        "corpus, heldout 13-gram set for decontamination",
    )
    fm.add_argument("--model", required=True, help="model store root")
    fm.add_argument("--sf-dir", default=_SF_DIR)
    fm.add_argument("--heldout", required=True,
                    help="parquet dir of heldout docs (doc_id/text)")
    fm.add_argument("--lm-drop", type=float, default=0.05)
    fm.add_argument("--dsir-keep", type=float, default=None,
                    metavar="FRACTION",
                    help="also freeze a DSIR selection model: hashed-"
                    "n-gram log-ratio table fit on the clean reference "
                    "(quality-seed target) with the keep threshold at "
                    "the reference's (1-FRACTION) weight quantile")
    fm.add_argument("--lm", choices=["unigram", "kn", "kn3", "kn4"],
                    default="unigram",
                    help="LM family for the frozen outlier cut: "
                    "'unigram' (frequency table), 'kn' (interpolated "
                    "Kneser-Ney bigram, the CCNet/KenLM estimator — "
                    "freezes the bigram type table), 'kn3' (trigram) or "
                    "'kn4' (4-gram, KenLM's production order). With "
                    "--lang-aware the type table and floors are "
                    "per-language at any order: one KenLM per language, the CCNet "
                    "production shape. KN floors calibrate on the "
                    "gated HELDOUT docs")
    fm.add_argument("--classifier", choices=["logreg", "nb", "both"],
                    default=None,
                    help="also freeze a quality classifier: 'logreg' "
                    "(unrolled-GD logistic regression on hashed "
                    "unigram-presence buckets), 'nb' (closed-form "
                    "naive Bayes over the token vocabulary), or "
                    "'both' (freeze both off the same quality-seed "
                    "labels and compose their calibrated keeps per "
                    "--ensemble-policy); batches keep scores at or "
                    "above the stored calibrated floor(s)")
    fm.add_argument("--ensemble-policy", choices=["and", "or"],
                    default="and",
                    help="with --classifier both: 'and' keeps the "
                    "intersection of the two calibrated keep sets "
                    "(high precision), 'or' the union (high recall) — "
                    "td_classifier_ensemble is the audit of the "
                    "trade")
    fm.add_argument("--classifier-buckets", type=int, default=64,
                    help="with --classifier: hashed feature bucket "
                    "count (frozen into meta — batch scoring must "
                    "hash into the same space)")
    fm.add_argument("--classifier-keep", type=float, default=0.5,
                    metavar="FRACTION",
                    help="with --classifier: freeze the keep threshold "
                    "at the reference's (1-FRACTION) score percentile "
                    "(calibrated floor — never the raw logit sign)")
    fm.add_argument("--lang-aware", action="store_true",
                    help="freeze PER-LANGUAGE gates and LM thresholds "
                    "(CCNet shape): (lang, token, tf) unigram table, "
                    "one percentile floor per language")
    fm.add_argument("--lang-col", default=None, metavar="COL",
                    help="with --lang-aware: route on an existing "
                    "language column instead of the prediction")

    dsc = sub.add_parser(
        "dsir-score",
        help="score a corpus under a FROZEN DSIR model (fit-curation-"
        "model --dsir-keep output): per-doc importance weights vs the "
        "stored log-ratio table, one JSON summary line",
    )
    dsc.add_argument("--model", required=True, help="model store root")
    dsc.add_argument("--sf-dir", default=_SF_DIR)
    dsc.add_argument("--out", default=None, metavar="DIR",
                    help="also write the per-doc (doc_id, n_features, "
                    "dsir_weight) frame as parquet")

    tc = sub.add_parser(
        "table-constraint",
        help="Delta CHECK-constraint parity on a versioned table: "
        "list, add (scans existing data first) or drop; every write "
        "then enforces the predicates",
    )
    tc.add_argument("--table", required=True, help="table root dir")
    tc.add_argument("--add", nargs=2, default=None,
                    metavar=("NAME", "PREDICATE"),
                    help="add a named CHECK predicate (SQL; NULL passes)")
    tc.add_argument("--drop", default=None, metavar="NAME",
                    help="drop a named constraint")

    ct = sub.add_parser(
        "compact-table",
        help="OPTIMIZE parity: rewrite a table into evenly sized "
        "files (or collapse a bucketed table's owning generations), "
        "then vacuum",
    )
    ct.add_argument("--table", required=True, help="table root dir")
    ct.add_argument("--target-rows", type=int, default=1_000_000,
                    help="rows per file (unbucketed tables)")
    ct.add_argument("--keep-last", type=int, default=3,
                    help="history retained by the post-compact vacuum")
    ct.add_argument("--zorder-by", nargs="+", default=None, metavar="COL",
                    help="OPTIMIZE ZORDER BY parity: cluster the "
                    "rewrite on the Morton interleave of 1-4 numeric/"
                    "temporal columns so row-group stats prune scans "
                    "filtered on any of them (unbucketed tables)")
    ct.add_argument("--zorder-method", choices=["range", "rank"],
                    default="range",
                    help="bucket by value range (default) or by "
                    "equi-depth global rank (skew-proof: hot values "
                    "can't collapse a dimension)")

    pg = sub.add_parser(
        "pq-refresh-if-drifted",
        help="drift-gated PQ refresh: probe the corpus's mean "
        "assignment cosine against the stored codebook and refit "
        "only when it fell > tolerance below the build baseline",
    )
    pg.add_argument("--index", required=True, help="PQ index store root")
    pg.add_argument("--sf-dir", default=_SF_DIR)
    pg.add_argument("--tolerance", type=float, default=0.05)

    sw = sub.add_parser(
        "ivf-sweep-dups",
        help="semantic-dedup sweep over the STORED IVF cell layout "
        "(no re-assignment; --cells prunes to the touched cells)",
    )
    sw.add_argument("--index", required=True, help="IVF index store root")
    sw.add_argument("--threshold", type=float, default=0.98)
    sw.add_argument("--cells", type=int, nargs="*", default=None,
                    help="cell ids for an incremental sweep (default: all)")
    sw.add_argument("--out", default=None,
                    help="write the pair table here (parquet); prints "
                    "counts either way")

    tk = sub.add_parser(
        "train-tokenizer",
        help="train a tokenizer (unigram-LM Viterbi or BPE merges) "
        "into a versioned store; encode-time jobs read the pinned "
        "artifact instead of refitting",
    )
    tk.add_argument("--store", required=True, help="tokenizer store root")
    tk.add_argument("--sf-dir", default=_SF_DIR)
    tk.add_argument("--family", choices=["unigram", "bpe"], default="unigram")
    tk.add_argument("--max-len", type=int, default=4,
                    help="unigram: max piece length")
    tk.add_argument("--min-count", type=int, default=50,
                    help="unigram: candidate count floor (chars always kept)")
    tk.add_argument("--em-rounds", type=int, default=1,
                    help="unigram: hard-EM refit rounds")
    tk.add_argument("--n-merges", type=int, default=8,
                    help="bpe: merge rules to learn")

    tc = sub.add_parser(
        "tokenize-corpus",
        help="encode a corpus to integer piece ids under a STORED "
        "tokenizer; optionally emit the packing manifest or the "
        "materialized ctx-token windows",
    )
    tc.add_argument("--store", required=True, help="tokenizer store root")
    tc.add_argument("--sf-dir", default=_SF_DIR)
    tc.add_argument("--out", required=True, help="output parquet dir")
    tc.add_argument("--ctx", type=int, default=None,
                    help="window size; with --materialize writes the "
                    "packed (chunk_id, token_ids) windows, else the "
                    "(doc, offsets) manifest; omitted = per-doc ids")
    tc.add_argument("--materialize", action="store_true",
                    help="with --ctx: shuffle token content into "
                    "physical windows (one skew-free shuffle)")

    rp = sub.add_parser(
        "replicate",
        help="CDC tail: apply a table's change feed to a replica "
        "(changes() -> apply_changes() with a persisted applied-"
        "version watermark; ticks are replay-safe)",
    )
    rp.add_argument("--source", required=True, help="source table root")
    rp.add_argument("--replica", required=True, help="replica table root")
    rp.add_argument("--keys", required=True, nargs="+", metavar="COL",
                    help="CDC key columns (bucketed: must include the "
                    "bucket key)")
    rp.add_argument("--ticks", type=int, default=1,
                    help="number of catch-up ticks to run (default 1)")
    rp.add_argument("--poll", type=float, default=10.0,
                    help="seconds between ticks when --ticks > 1")

    sub.add_parser("bench", help="run the bench harness")

    args = p.parse_args(argv)

    if args.cmd == "bench":
        import subprocess

        return subprocess.call(
            [sys.executable, os.path.join(os.path.dirname(__file__), "..", "bench.py")]
        )

    from .session import get_spark

    spark = get_spark(f"ddp-{args.cmd}")

    if args.cmd == "search-index":
        from .queries.search_index import search_index_full

        df = search_index_full(spark, args.sf_dir)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
        else:
            n = df.count()
        print(json.dumps({"job": "search-index", "rows": n, "out": args.out}))
        return 0

    if args.cmd == "incremental-index":
        from .jobs import run_incremental
        from .storage import VersionedTable, WatermarkStore

        index = VersionedTable(spark, os.path.join(args.state, "index"))
        wm = WatermarkStore(spark, os.path.join(args.state, "watermarks"))
        res = run_incremental(spark, args.sf_dir, index, wm)
        print(json.dumps({"job": "incremental-index", **{
            k: (str(v) if not isinstance(v, (int, float, type(None))) else v)
            for k, v in res.items()}}))
        return 0

    if args.cmd == "curate-corpus":
        def _tok_store(spark, root):
            if not root:
                return None
            from .jobs.tokenizer import TokenizerStore

            return TokenizerStore(spark, root)

        from .catalog import read_table
        from .ingest.jsonl import read_jsonl, split_corrupt, write_jsonl
        from .jobs import publish_corpus
        from .operators.staging import release_staged, stage
        from .storage import VersionedTable

        if args.jsonl_shards is not None and not args.export_jsonl:
            p.error("--jsonl-shards requires --export-jsonl")
        if sum(bool(x) for x in (args.warc_in, args.wet_in, args.jsonl_in)) > 1:
            p.error("--warc-in, --wet-in and --jsonl-in are mutually exclusive")
        if args.dedup_refetches and not (args.warc_in or args.wet_in):
            p.error("--dedup-refetches requires --warc-in/--wet-in (URL column)")
        if args.main_content and not args.warc_in:
            p.error("--main-content requires --warc-in (HTML payloads; "
                    "WET text is already extracted)")
        if args.blocklist and not (args.warc_in or args.wet_in):
            p.error("--blocklist requires --warc-in/--wet-in (URL column)")
        if args.tokenizer and args.pack_ctx is None:
            p.error("--tokenizer requires --pack-ctx")
        if args.pack_bins is not None and args.pack_ctx is not None:
            p.error("--pack-bins and --pack-ctx are mutually exclusive "
                    "(no-split bins vs concat-and-chunk)")
        n_quarantined = 0
        staged_in = None  # the one scan of the input, released after publish
        if args.warc_in:
            from pyspark.sql import functions as F

            from .ingest.warc import documents_from_records, read_warc

            # scan ONCE (each WARC member decompresses on read): the
            # stage feeds the quarantine count and the pipeline
            recs = staged_in = stage(read_warc(spark, args.warc_in), "cli_warc")
            n_quarantined = recs.where(
                F.col("warc_type") == "_error"
            ).count()
            docs = documents_from_records(
                # stage=False: recs is staged two lines up — a second
                # payload-sized stage of resp would pin the corpus
                # bytes twice
                recs, main_content=args.main_content, stage=False
            )
            if args.dedup_refetches:
                from .functions.urls import dedup_refetches

                docs = dedup_refetches(docs)
        elif args.wet_in:
            from pyspark.sql import functions as F

            from .ingest.warc import read_warc, wet_documents_from_records

            # scan ONCE (the WET members decompress on read): the
            # stage feeds the quarantine count and the pipeline
            recs = staged_in = stage(
                read_warc(spark, args.wet_in, split_http=False), "cli_wet"
            )
            n_quarantined = recs.where(
                F.col("warc_type") == "_error"
            ).count()
            docs = wet_documents_from_records(recs)
            if args.dedup_refetches:
                from .functions.urls import dedup_refetches

                docs = dedup_refetches(docs)
        elif args.jsonl_in:
            # parse ONCE: gzip shards are not block-splittable, so every
            # extra pass over the raw corpus is a full decompress+parse;
            # the stage feeds the quarantine count, the job's rows_in
            # count, and the curation pipeline from one scan
            raw = staged_in = stage(
                read_jsonl(
                    spark, args.jsonl_in,
                    "doc_id long, text string, lang string, source string",
                ),
                "cli_jsonl",
            )
            docs, bad = split_corrupt(raw)
            n_quarantined = bad.count()
        else:
            docs = read_table(spark, args.sf_dir, "documents")
        try:
            table = VersionedTable(spark, args.out)
            res = publish_corpus(
                table, docs, funnel=args.funnel,
                scrub=not args.no_scrub, pack_ctx=args.pack_ctx,
                pack_bins_ctx=args.pack_bins,
                lm_drop_fraction=args.lm_drop, lm=args.lm,
                dup_weights=args.dup_weights,
                decontaminate=args.decontaminate,
                max_passage_dup=args.max_passage_dup,
                dedup_passages=args.dedup_passages,
                sentence_spans=args.sentence_spans,
                exact_substr=args.exact_substr,
                compression_bounds=(
                    tuple(args.compression_bounds)
                    if args.compression_bounds else None
                ),
                sample_per_source=args.sample_per_source,
                tokenizer_store=_tok_store(spark, args.tokenizer),
                dsir_select=args.dsir_select,
                c4=args.c4,
                lang_aware=args.lang_aware,
                lang_col=args.lang_col,
                url_blocklist=(
                    # read as a dataset, not driver-side: UT1 lists run
                    # ~100 MB and the filter broadcasts them itself
                    spark.read.text(args.blocklist).withColumnRenamed(
                        "value", "domain"
                    )
                    if args.blocklist
                    else None
                ),
            )
        finally:
            release_staged(staged_in)
        if args.jsonl_in:
            res["quarantined_lines"] = n_quarantined
        if args.warc_in or args.wet_in:
            res["quarantined_shards"] = n_quarantined
        if args.export_jsonl:
            write_jsonl(
                table.read(), args.export_jsonl, shards=args.jsonl_shards
            )
            res["exported_jsonl"] = args.export_jsonl
        print(json.dumps({"job": "curate-corpus", **res}))
        return 0

    if args.cmd == "corpus-report":
        if args.table:
            from .queries.training_data import corpus_report_frame
            from .storage import VersionedTable

            row = corpus_report_frame(
                VersionedTable(spark, args.table).read()
            ).collect()[0]
        else:
            from .queries.training_data import td_corpus_report

            row = td_corpus_report(spark, args.sf_dir).collect()[0]
        print(json.dumps({"job": "corpus-report", **row.asDict()}))
        return 0

    if args.cmd == "compact-neardups":
        from .storage import VersionedTable
        from .streaming.neardup import compact_neardup_residue

        corpus = VersionedTable(spark, args.corpus)
        res = compact_neardup_residue(
            spark, args.state, corpus, id_col=args.id_col, threshold=args.threshold
        )
        print(json.dumps({"job": "compact-neardups", **res}))
        return 0

    if args.cmd == "compact-exact-substr":
        from .storage import VersionedTable
        from .streaming.exact_substr import compact_exact_substr_residue

        corpus = VersionedTable(spark, args.corpus)
        res = compact_exact_substr_residue(
            spark, args.state, corpus,
            id_col=args.id_col, min_len=args.min_len,
        )
        print(json.dumps({"job": "compact-exact-substr", **res}))
        return 0

    if args.cmd == "replicate":
        import time as _time

        from .storage import ChangeFeedTail, VersionedTable

        src = VersionedTable(spark, args.source)
        # a fresh replica mirrors the source's bucket geometry so
        # apply_changes stays bucket-scoped on both sides; an existing
        # one keeps its own
        replica = VersionedTable(spark, args.replica)
        if not replica.exists():
            replica = VersionedTable(
                spark, args.replica, src.bucket_key, src.n_buckets
            )
        tail = ChangeFeedTail(src, replica, keys=list(args.keys))
        results = []
        for i in range(max(1, args.ticks)):
            if i:
                _time.sleep(args.poll)
            results.append(tail.tick())
        print(json.dumps({
            "job": "replicate",
            "source": args.source,
            "replica": args.replica,
            "applied_version": results[-1]["applied_to"],
            "rows_applied": sum(r["rows"] for r in results),
            "ticks": len(results),
        }))
        return 0

    if args.cmd == "state-stats":
        from .storage import VersionedTable

        bt = VersionedTable(spark, args.table)
        if bt.bucket_key is None or not bt.exists():
            print(json.dumps({
                "job": "state-stats", "table": args.table,
                "error": "not a bucketed table (no _meta.json)",
            }))
            return 1
        rows = bt.bucket_stats().collect()
        n_rows = [r["n_rows"] for r in rows]
        print(json.dumps({
            "job": "state-stats",
            "table": args.table,
            "n_buckets": len(rows),
            "rows_total": int(sum(n_rows)),
            "rows_max_bucket": int(max(n_rows)) if n_rows else 0,
            "rows_mean_bucket": round(sum(n_rows) / len(n_rows), 1) if rows else 0,
            "files_total": int(sum(r["n_files"] for r in rows)),
        }))
        return 0

    if args.cmd == "pq-index":
        from .catalog import read_table
        from .jobs.ann_index import PQIndexStore, refresh_pq_index

        e = read_table(spark, args.sf_dir, "embeddings")
        store = PQIndexStore(spark, args.index)
        res = refresh_pq_index(
            store, e, m=args.m, k=args.k, n_iter=args.n_iter
        )
        print(json.dumps({"job": "pq-index", **res}))
        return 0

    if args.cmd == "pq-append":
        from .catalog import read_table
        from .jobs.ann_index import PQIndexStore, append_pq_codes

        store = PQIndexStore(spark, args.index)
        if not store.exists():
            print(json.dumps({
                "job": "pq-append", "error": "no index; run pq-index first",
            }))
            return 1
        id_col = store.meta()["id_col"]
        e = read_table(spark, args.sf_dir, "embeddings")
        # the incremental contract: absorb only vectors the codes table
        # has not seen (anti-join on the id — bucketless but tiny key
        # projection on the state side)
        fresh = e.join(
            store.codes.read().select(id_col).distinct(), id_col, "left_anti"
        )
        res = append_pq_codes(store, fresh)
        print(json.dumps({"job": "pq-append", **res}))
        return 0

    if args.cmd == "ivf-index":
        from .catalog import read_table
        from .jobs.ann_index import IVFIndexStore, refresh_ivf_index

        e = read_table(spark, args.sf_dir, "embeddings")
        store = IVFIndexStore(spark, args.index, n_buckets=args.n_buckets)
        res = refresh_ivf_index(
            store, e, n_cells=args.n_cells, n_iter=args.n_iter
        )
        print(json.dumps({"job": "ivf-index", **res}))
        return 0

    if args.cmd == "ivf-append":
        from .catalog import read_table
        from .jobs.ann_index import IVFIndexStore, append_ivf_cells

        store = IVFIndexStore(spark, args.index)
        if not store.exists():
            print(json.dumps({
                "job": "ivf-append", "error": "no index; run ivf-index first",
            }))
            return 1
        id_col = store.meta()["id_col"]
        e = read_table(spark, args.sf_dir, "embeddings")
        fresh = e.join(
            store.cells.read().select(id_col).distinct(), id_col, "left_anti"
        )
        res = append_ivf_cells(store, fresh)
        print(json.dumps({"job": "ivf-append", **res}))
        return 0

    if args.cmd == "fit-curation-model":
        from .catalog import read_table
        from .jobs.incremental_curate import (
            FrozenCurationModel,
            fit_reference_model,
        )

        ref = read_table(spark, args.sf_dir, "documents")
        heldout = spark.read.parquet(args.heldout)
        model = FrozenCurationModel(spark, args.model)
        res = fit_reference_model(
            model, ref, heldout, drop_fraction=args.lm_drop, lm=args.lm,
            dsir_keep_fraction=args.dsir_keep,
            classifier=args.classifier,
            classifier_n_buckets=args.classifier_buckets,
            classifier_keep_fraction=args.classifier_keep,
            ensemble_policy=args.ensemble_policy,
            lang_aware=args.lang_aware, lang_col=args.lang_col,
        )
        print(json.dumps({"job": "fit-curation-model", **res}))
        return 0

    if args.cmd == "table-constraint":
        from .storage import VersionedTable

        t = VersionedTable(spark, args.table)
        res = {"job": "table-constraint", "table": args.table}
        if args.add:
            t.add_constraint(args.add[0], args.add[1])
            res["added"] = args.add[0]
        if args.drop:
            t.drop_constraint(args.drop)
            res["dropped"] = args.drop
        res["constraints"] = t.constraints()
        print(json.dumps(res))
        return 0

    if args.cmd == "dsir-score":
        from pyspark.sql import functions as F

        from .catalog import read_table
        from .jobs.incremental_curate import FrozenCurationModel
        from .operators import dsir

        model = FrozenCurationModel(spark, args.model)
        meta = model.meta()
        thr = meta.get("dsir_threshold")
        if thr is None or not model.dsir_lr.exists():
            p.error(
                "no frozen DSIR model at this root — refit with "
                "fit-curation-model --dsir-keep"
            )
        docs = read_table(spark, args.sf_dir, "documents")
        w = dsir.dsir_score(
            docs,
            model.dsir_lr.read(meta.get("dsir_lr_version")),
            "doc_id",
            "text",
            int(meta["dsir_n_buckets"]),
        )
        if args.out:
            w.write.mode("overwrite").parquet(args.out)
            w = spark.read.parquet(args.out)  # stats off the written copy
        stats = w.agg(
            F.count("*").alias("n"),
            F.count_if(F.col("dsir_weight") >= F.lit(thr)).alias("kept"),
            F.round(F.avg("dsir_weight"), 6).alias("mean_weight"),
        ).collect()[0]
        out = {
            "job": "dsir-score",
            "n": stats["n"],
            "kept": stats["kept"],
            "keep_rate": round(stats["kept"] / stats["n"], 6) if stats["n"] else None,
            "threshold": thr,
            "mean_weight": stats["mean_weight"],
            "n_buckets": meta["dsir_n_buckets"],
            "lr_version": meta.get("dsir_lr_version"),
        }
        if args.out:
            out["out"] = args.out
        print(json.dumps(out))
        return 0

    if args.cmd == "pq-refresh-if-drifted":
        from .catalog import read_table
        from .jobs.ann_index import PQIndexStore, refresh_pq_if_drifted

        store = PQIndexStore(spark, args.index)
        e = read_table(spark, args.sf_dir, "embeddings")
        res = refresh_pq_if_drifted(store, e, tolerance=args.tolerance)
        print(json.dumps({"job": "pq-refresh-if-drifted", **res}))
        return 0

    if args.cmd == "ivf-sweep-dups":
        from .jobs.ann_index import IVFIndexStore, sweep_ivf_near_dups

        store = IVFIndexStore(spark, args.index)
        pairs = sweep_ivf_near_dups(
            store, threshold=args.threshold, cells=args.cells
        )
        if args.out:
            pairs.write.mode("overwrite").parquet(args.out)
            pairs = spark.read.parquet(args.out)
        n = pairs.count()
        print(json.dumps({
            "job": "ivf-sweep-dups", "pairs": n,
            "threshold": args.threshold,
            "cells": args.cells, "out": args.out,
        }))
        return 0

    if args.cmd == "train-tokenizer":
        from .catalog import read_table
        from .jobs.tokenizer import TokenizerStore, train_tokenizer

        store = TokenizerStore(spark, args.store)
        docs = read_table(spark, args.sf_dir, "documents")
        res = train_tokenizer(
            store, docs, family=args.family, max_len=args.max_len,
            min_count=args.min_count, em_rounds=args.em_rounds,
            n_merges=args.n_merges,
        )
        print(json.dumps({"job": "train-tokenizer", **res}))
        return 0

    if args.cmd == "tokenize-corpus":
        from .catalog import read_table
        from .jobs.tokenizer import (
            TokenizerStore,
            encode_ids,
            materialize_packed,
            pack_manifest,
        )

        if args.materialize and args.ctx is None:
            p.error("--materialize requires --ctx")
        store = TokenizerStore(spark, args.store)
        docs = read_table(spark, args.sf_dir, "documents")
        if args.ctx is not None and args.materialize:
            out_df = materialize_packed(store, docs, ctx=args.ctx)
            kind = "windows"
        elif args.ctx is not None:
            out_df = pack_manifest(store, docs, ctx=args.ctx)
            kind = "manifest"
        else:
            out_df = encode_ids(store, docs)
            kind = "ids"
        out_df.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({
            "job": "tokenize-corpus", "kind": kind, "rows": n,
            "ctx": args.ctx, "out": args.out,
        }))
        return 0

    if args.cmd == "compact-table":
        from .storage import VersionedTable

        t = VersionedTable(spark, args.table)
        c = t.compact(target_rows_per_file=args.target_rows,
                      zorder_by=args.zorder_by,
                      zorder_method=args.zorder_method)
        res = {"kind": "versioned" if t.bucket_key is None else "bucketed",
               "version": c.version, **c.metrics}
        removed = t.vacuum(keep_last=args.keep_last)
        res["vacuumed_versions"] = len(removed)
        print(json.dumps({"job": "compact-table", **res}))
        return 0

    if args.cmd == "price-dataset":
        from .jobs import build_price_dataset, publish_dataset
        from .storage import VersionedTable

        listings = spark.read.parquet(args.listings)
        table = VersionedTable(spark, args.out)
        res = publish_dataset(table, build_price_dataset(listings))
        print(json.dumps({"job": "price-dataset", **res}))
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
