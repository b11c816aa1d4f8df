"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line (compact — medians + calibration only, sized to
survive the driver's tail-of-stdout artifact capture whole):
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1, "runs": 3,
     "calibration": {"probe": ..., "start": s, "end": s,
                     "start_unstable": bool, "start_samples": n,
                     "loadavg": [start_1min, end_1min], ...}}

The START is load-gated (r11 lesson: the driver record opened at 3x
the idle probe floor and 16 run-order-front queries printed as false
regressions): the calibration probe re-runs until two consecutive
samples agree within 1.3x (bounded at 6), else ``start_unstable``
is set and readers should lean on spread_ratio_med / remeasure.

Per-query [min, max] spreads land in the ``bench_spread.json`` sidecar
next to this file (r8 lesson: the spread dict for ~50 queries pushed
the medians past the driver's 2000-char tail window, losing the round's
primary numbers).

Each query is forced end-to-end with the `noop` sink (a bare .count()
lets Spark skip projection work, under-measuring scans).

Each query runs SPARK_GRAFT_BENCH_RUNS times (default 3); "queries"
reports the per-query MEDIAN and "value" the sum of medians. Single
passes proved untrustworthy: the same byte-identical queries swung
4-6× between rounds 2-4, which made any real regression undetectable.
The sidecar's "spread" ([min, max] per query) is the noise bound — a
regression is real only if the new median clears the old max.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # flagship multi-CTE pivot + 5-join search-index rebuild
    "search_index_full",
    "search_index_incremental",
    # TPC-H-shaped scan/join/agg throughput
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    # heaviest of the r5 additions that completed the 22-query suite:
    # double fact-fact semi/anti self-join (waiting suppliers)
    "tpch_q21",
    # relational core
    "j_dim_chain",
    "a_eav_pivot",
    "m_melt_eav",
    "d_anti_join",
    "w_batch_ids",
    # scale-safe id/batch assignment (range-partitioned offset ranks —
    # the variant that survives 100 TB; judge-requested in r1)
    "w_row_number_seq_scalable",
    "w_batch_ids_global",
    # 100 TB-safe blocked embedding dedup
    "dd_embedding_blocked",
    # training-data operators
    "dd_exact",
    "dd_minhash",
    "sim_brute_topk",
    "txt_profile",
    # Gopher-style repetition gate (r5)
    "td_gopher_filter",
    # corpus vocabulary stats — explode -> partial-agg groupBy shape (r5)
    "txt_vocab_topk",
    # streaming semantics (batch-mode windowed agg)
    "st_windowed_counts",
    # temporal joins
    "t_asof_join",
    # ANN scale path
    "sim_ivf_topk",
    # scalar expression throughput
    "f_string_ops",
    # r6 additions: range-partitioned two-phase prefix sum (packing),
    # mergeable KMV sketch, unrolled 2-round Lloyd k-means, and the
    # one-projection PII scrub (regex throughput)
    "td_pack_sequences",
    "sk_kmv_distinct",
    "sim_kmeans",
    "txt_pii_scrub",
    # single-shuffle funnel + BM25 retrieval (r6 final wave)
    "t_funnel_stages",
    "txt_bm25_topk",
    # prefix-filter containment join + stream-stream interval join twin
    "dd_containment",
    "st_interval_join",
    # weighted mixture schedule (grouped + global range-ranks) and the
    # OHLC bars rollup
    "ds_interleave",
    "t_ohlc_bars",
    # r7: the last scalable-rank variant (range-partitioned percent_rank
    # with composite unique key) — completes the scalable-window family
    # next to w_row_number_seq_scalable / w_batch_ids_global
    "w_percent_rank_scalable",
    # r7 additions: passage-granularity duplication signal (explode →
    # gram-df → join-back agg), the PQ ADC serving scan (codes ⋈
    # per-query lookup table), the MG two-pass exact heavy hitters
    # (mapInPandas candidate summaries + semi-join verify), and the
    # deterministic epoch shuffle (range-partitioned rank over md5)
    "td_passage_dup_fraction",
    "sim_pq_adc_topk",
    "sk_heavy_hitters",
    "td_global_shuffle",
    # r8: the storage-backed serves — the same scans as sim_pq_adc_topk
    # / sim_ivf_topk but reading persisted index artifacts instead of
    # fitting/assigning in-plan; the gap between each pair IS the build
    # cost the build/serve split saves on every query (IVF additionally
    # reads only the probe cells' bucket dirs — pruned I/O)
    "sim_pq_serve",
    "sim_ivf_serve",
    # r8: one-pass NB quality-classifier train + full-corpus score —
    # explode -> grouped counts -> broadcast-weight score join
    "td_quality_classifier",
    # r8 late wave: duplicated-passage REMOVAL (staged tiling explode →
    # winner groupBy → skew-join → per-doc reassembly), the
    # SemDeDup-style cluster-capped pruning (kmeans fit + range-sliced
    # group ranks), and the frozen-tokenizer BPE encode (vocab-side
    # chained folds, corpus-side broadcast join)
    "td_dedup_passages",
    "td_cluster_balance",
    "txt_bpe_encode",
    # r8 final wave: quality-annealed curriculum order (two
    # range-partitioned global ranks + the quality pass) and the zlib
    # compression signal (Arrow-batched Python pass — the one
    # deliberate non-native hot loop, benched to keep it honest)
    "td_curriculum_order",
    "txt_compression_ratio",
    # late-r8: the composed IVF-PQ serve (bucket-pruned candidate read
    # + ADC over codes — both prunings in one plan), the pairwise KMV
    # vocabulary-overlap estimates (two-phase sketch build, pair math
    # on k-arrays), and the 3-round decimal-summed PageRank over the
    # event-transition graph (iterative-join family)
    "sim_ivfpq_serve",
    "sk_source_overlap",
    "t_event_pagerank",
    # unigram tokenizer serving: distinct-word Viterbi through two
    # native folds, counts joined back to the exploded corpus
    "txt_unigram_encode",
    # continuation: DSIR importance scoring — two broadcast-sized
    # bucket-model fits + the explode -> broadcast-join -> partial-agg
    # corpus scoring pass
    "td_dsir_weights",
    # r9 additions: sliding-window ExactSubstr rewrite (one window-hash
    # shuffle + per-doc folds) and the IVF nprobe operating-point sweep
    "dd_exact_substring",
    "sim_ivf_recall_curve",
    # r10 shelf, promoted: DOM-block main-content extraction
    # (Arrow-batched block parse + (source, hash) template aggregate +
    # per-page rescue window) and best-fit packing (bounded-group
    # applyInPandas BFD walk)
    "txt_main_content",
    "td_pack_bins",
    # r11 shelf, promoted: the per-language curation funnel, the
    # Gopher repetition suite, and C4 sentence-span dedup
    "td_lang_keep_rate",
    "txt_gopher_repetition",
    "td_dedup_sentence_spans",
    # r12 shelf, promoted: the Gopher line-granularity signals and the
    # unrolled-GD linear classifier (td_classifier_agreement stays on
    # the shelf one more round: its code changed in r13 — the
    # 4-consumer persist — so its baseline re-seats, per the
    # changed-code re-baselining rule)
    "txt_gopher_lines",
    "td_logreg_quality",
    # r13 shelf, promoted (unchanged code): the bigram KN LM
    # (txt_kn3_logprob stayed on the shelf one more round: its trigram
    # scorer was restructured in r14 for the lang_col branch, so its
    # baseline re-seated per the changed-code rule)
    "txt_kn_logprob",
    # r14 shelf, promoted (r14 verdict ask #8): the classifier audits,
    # the logreg PR sweep, the full KN ladder, and the calibrated
    # ensemble enter the stable core — their r14 baselines stand and
    # this round's classifier restructure must show in the compare.
    "td_classifier_agreement",
    "td_classifier_ensemble",
    "td_logreg_pr_curve",
    "txt_kn3_logprob",
    "txt_kn_lang_logprob",
    "txt_kn3_lang_logprob",
    "txt_kn4_logprob",
    "td_ensemble_calibrated",
]

# RETIRED from the driver headline loop (r11 verdict ask #7): a query
# retires once it holds TWO stable driver baselines on unchanged code
# (its noise band is known) AND its plan family stays represented by
# an in-loop sibling. Retirees still run in the FULL sweep
# (SPARK_GRAFT_BENCH_FULL=1 — the weekly cadence) and stay
# correctness-checked every round by tools/check.py; retirement only
# moves them out of the per-round driver record so the headline loop
# stays <= ~50 entries and per-query medians stay readable. A retiree
# whose code changes MUST un-retire onto the shelf for re-baselining.
RETIRED: list[str] = [
    # scalar/text expression throughput — txt_gopher_repetition (the
    # heaviest pure-expression pass) and txt_bm25_topk remain in-loop
    "f_string_ops",
    "txt_profile",
    "txt_vocab_topk",
    "txt_pii_scrub",
    # temporal family — t_asof_join and t_event_pagerank remain
    "t_ohlc_bars",
    "t_funnel_stages",
    # streaming twins — st_interval_join remains
    "st_windowed_counts",
    # sketch family — sk_heavy_hitters and sk_source_overlap remain
    "sk_kmv_distinct",
    # mixing/sampling — td_curriculum_order and td_global_shuffle's
    # range-rank shape is shared with w_*_scalable (in-loop)
    "ds_interleave",
    "td_global_shuffle",
    # ANN — sim_ivf_topk/sim_*_serve remain; the brute baseline and
    # the 2-round Lloyd fit have been flat since r6
    "sim_brute_topk",
    "sim_kmeans",
]
HEADLINE = [q for q in HEADLINE if q not in RETIRED]

# Rotating NEW-ENTRY SHELF (r9 verdict ask #7): entries added THIS
# round, baselined once here and promoted into HEADLINE's stable core
# next round. compare_bench excludes shelf entries (either side's)
# from the cross-round regression gate and geomean, so the
# round-over-round number reads code changes, not list growth — a
# first baseline has no old max to clear and lands during the round's
# busiest machine state. The bench output line carries the shelf list
# (short by construction) so the NEXT round's compare knows what to
# exclude without needing this source file.
SHELF: list[str] = [
    # r15: EMPTY — no new queries this round, and the 8 r14-shelved
    # entries (classifier audits, PR curve, KN family, calibrated
    # ensemble) promote into the stable core per the r14 verdict ask
    # #8: their r14 re-baselines stand, and this round's classifier
    # restructure must show in the compare, not hide behind another
    # re-shelving.
]
HEADLINE = HEADLINE + SHELF
if os.environ.get("SPARK_GRAFT_BENCH_FULL"):
    # weekly full sweep: retirees re-measured alongside the loop
    HEADLINE = HEADLINE + RETIRED


def _reset_session_state(spark) -> None:
    """Release accumulated executor storage between bench queries.

    Several operators materialize eagerly inside their plan
    (``staging.stage`` in near-dup clustering, packing and the
    containment and MinHash joins), and a staged frame that escapes in
    a lazy result is never released by its operator. Its blocks are
    only weakly referenced: across a 39-query loop they linger until
    driver GC runs the ContextCleaner, taxing later queries with storage
    pressure and GC pauses — the r7 round showed byte-identical
    queries (dd_containment 1.56x, txt_bm25_topk 1.28x) regress
    in-loop while measuring flat standalone. Explicitly dropping
    cached DataFrames, unpersisting every persistent RDD (checkpoint
    blocks included), and nudging JVM GC makes each query's timing
    independent of what ran before it."""
    try:
        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc
        rdds = jsc.getPersistentRDDs()
        for rid in list(rdds.keySet().toArray()):
            rdd = rdds.get(rid)
            if rdd is not None:
                rdd.unpersist(False)
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass  # hygiene must never fail the bench


def time_query(spark, fn, sf_dir, runs: int) -> list[float]:
    """The one query timer: ``runs`` wall-clock samples of
    ``fn(spark, sf_dir)`` forced end-to-end through the ``noop`` sink.

    One untimed warm-up runs first: the first execution pays codegen/
    JIT/scan-cache costs that would otherwise land in the first sample
    and drag the median around under background load. The session is
    reset afterwards (``_reset_session_state``) even when a run
    raises, so the next query's timing does not carry this one's
    storage."""

    def run() -> None:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    try:
        run()
        samples: list[float] = []
        for _ in range(runs):
            t0 = time.perf_counter()
            run()
            samples.append(time.perf_counter() - t0)
        return samples
    finally:
        _reset_session_state(spark)


def _calibration_probe(spark, one_core: bool = False) -> float:
    """Fixed-cost machine-load probe: constant-size synthetic aggregate,
    the median of three timed runs after a warm-up.

    SF-independent and IO-free, so its timing moves only with ambient
    machine load (CPU contention, thermal state), never with code or
    data changes.  Run at the start AND end of the bench; cross-round
    query deltas should be read relative to the probe ratio
    (see README "Bench calibration").  The r5->r6 window showed every
    byte-identical query "regress" 1.2-2.5x purely from sandbox
    contention — unreadable without this anchor. The warm-up matters:
    the probe's OWN codegen/JIT tier-up otherwise lands in the START
    samples only (the end-of-run JVM is hot), which read as a
    systematic 1.5-2x start/end "disagreement" (observed r7-r9).

    ``one_core`` runs a smaller aggregate (8M rows) on ONE slice, so
    its timing tracks SINGLE-CORE speed. The r12 investigation found
    the two dimensions move independently across sandbox hosts: a box
    whose 32-way probe read FASTER than ever (0.086 vs the ~0.12
    floor) measured every single-task-dominated query (one-split scan
    stages, driver-adjacent folds, bounded-group kernels) a uniform
    1.2-1.9x SLOWER on byte-identical code, while well-parallelized
    plans (tpch, search_index) stayed flat. Without the single-task
    size that signature is indistinguishable from a real regression
    in exactly the queries it hits."""
    from pyspark.sql import functions as F

    rows, slices = (8_000_000, 1) if one_core else (50_000_000, 32)

    def probe(spark, _sf_dir):
        return spark.range(0, rows, 1, slices).select(
            F.sum(F.col("id") * 2 + 1).alias("s")
        )

    return round(statistics.median(time_query(spark, probe, None, 3)), 3)


def _stable_start_probe(spark) -> tuple[float, bool, int]:
    """Load-gate the bench START: re-run the calibration probe until
    two CONSECUTIVE samples agree within 1.3x, so the headline loop
    never starts into transient machine contention.

    The r11 driver record opened with a start probe at 3x the idle
    floor (front-loaded box load from the round's own verify work);
    the first 15 run-order queries printed as false regressions and
    the round's one driver-captured artifact was unreadable raw.
    Bounded retries (the gate must not hang a genuinely busy box):
    after 6 samples without two stable consecutive readings, proceed
    anyway and mark ``start_unstable`` true so readers know to lean
    on spread_ratio_med / tools/remeasure.py instead of the medians.

    Returns (final probe value, unstable flag, samples taken)."""
    samples = [_calibration_probe(spark)]
    for _ in range(5):
        prev = samples[-1]
        time.sleep(1.0)  # let a transient spike decay between samples
        cur = _calibration_probe(spark)
        samples.append(cur)
        if max(prev, cur) / max(min(prev, cur), 1e-9) < 1.3:
            return cur, False, len(samples)
    return samples[-1], True, len(samples)


def build_session(cpus: str, app_name: str = "delta-data-pipelines-spark-bench"):
    """The bench SparkSession: ``session.get_spark`` on ``local[cpus]``
    with one shuffle partition per core. bench.py, perfbench/ and every
    timing tool take their session here, so they measure the same
    config the tests and ``tools/check.py`` run under."""
    from delta_data_pipelines_spark.session import get_spark

    return get_spark(app_name, master=f"local[{cpus}]", shuffle_partitions=int(cpus))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    spark = build_session(cpus)

    import __spark_entry__ as entrymod

    registry = entrymod.queries()
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}

    # JVM/codegen warmup on the smallest SF so per-query numbers reflect
    # the plan, not first-run JIT.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        try:
            time_query(spark, registry["search_index_full"], warm_dir, 0)
        except Exception:
            pass

    load_start = os.getloadavg()
    calib_start, start_unstable, start_samples = _stable_start_probe(spark)
    calib_1core_start = _calibration_probe(spark, one_core=True)

    for name in HEADLINE:
        fn = registry.get(name)
        if fn is None:
            continue
        try:
            samples = time_query(spark, fn, sf_dir, runs)
            timings[name] = round(statistics.median(samples), 3)
            spread[name] = [round(min(samples), 3), round(max(samples), 3)]
        except Exception as exc:  # record failures, keep benching
            timings[name] = -1.0
            spread[name] = []
            print(f"BENCH-FAIL {name}: {exc}", file=sys.stderr)

    calib_end = _calibration_probe(spark)
    calib_1core_end = _calibration_probe(spark, one_core=True)
    load_end = os.getloadavg()

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # fixed-cost synthetic probe at bench start/end; compare across
    # rounds to separate machine noise from real regressions
    # (README "Bench calibration"). The probes bracket the run but
    # cannot see load shifts in the MIDDLE of it — spread_ratio_med
    # (median over queries of max/min across this run's samples) is
    # the in-run noise index: ~1.1 on a quiet box, >1.3 means medians
    # are contention-shaped whatever the probes say.
    ratios = sorted(
        s[1] / s[0] for s in spread.values() if len(s) == 2 and s[0] > 0
    )
    calibration = {
        "probe": "range50M_sum",
        "start": calib_start,
        "end": calib_end,
        "start_unstable": start_unstable,
        "start_samples": start_samples,
        # single-task twin probes: single-core speed moves
        # independently of 32-way throughput across sandbox hosts
        # (see _calibration_probe) — compare these before
        # believing a regression confined to one-split/bounded-group
        # queries
        "probe_1core": [calib_1core_start, calib_1core_end],
        # 1-min loadavg at bench start/end (start is PRE-gate, so a
        # high value here with start_unstable=false means the gate
        # absorbed the spike before the headline loop began)
        "loadavg": [round(load_start[0], 2), round(load_end[0], 2)],
        "spread_ratio_med": (
            round(ratios[len(ratios) // 2], 3) if ratios else None
        ),
    }
    # per-query [min, max] spreads go to a SIDECAR file: the driver's
    # artifact capture keeps only the tail of stdout, and a spread dict
    # for ~50 queries pushed the medians out of that window in r8 —
    # the compact line below (medians + calibration only) must be LAST
    # and must fit whole.
    shelf_present = [q for q in SHELF if q in timings]
    sidecar = {
        "metric": "headline_queries_spread",
        "sf": sf,
        "runs": runs,
        "queries": timings,
        "spread": spread,
        "shelf": shelf_present,
        "retired": RETIRED,
        "calibration": calibration,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "bench_spread.json"), "w") as f:
        json.dump(sidecar, f, indent=1)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "runs": runs,
                "shelf": shelf_present,
                "calibration": calibration,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
