"""Generate PLANS.md — a physical-plan audit of the headline queries.

For each bench headline query, records the scan/join/shuffle shape
Catalyst chose at sf0.01: join strategies, exchange count, pushed
filters, and read schemas. Run after plan-affecting changes:

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import bench
    import __spark_entry__ as entry

    registry = entry.queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `tools/dump_plans.py` at `{SF_DIR}`. Columns:",
        "broadcast-hash / sort-merge / shuffled-hash join counts, total",
        "exchanges, scans with non-trivial pushed filters, and cross",
        "joins (CartesianProduct / BroadcastNestedLoopJoin).",
        "",
        "Reading notes:",
        "- `dd_minhash` / `dd_exact` / `dd_embedding_blocked` /",
        "  `dd_containment` / `td_passage_dup_fraction` /",
        "  `td_dedup_passages` / `td_cluster_balance` execute",
        "  EAGERLY (every operator materializes through",
        "  `operators/staging.stage` and releases its own stages): the",
        "  audited plan is the scan of the already-materialized result,",
        "  so their LSH/self-join/gram-df shape doesn't appear here —",
        "  see the operator plan tests instead. The rank family",
        "  (`w_batch_ids_global`, `w_percent_rank_scalable`, ...) reads",
        "  its staged range partition the same way.",
        "- `sim_brute_topk` / `sim_ivf_topk` / `sim_kmeans` cross",
        "  entries are the INTENTIONAL broadcast all-pairs: every corpus",
        "  row scores against the (tiny, broadcast) query/centroid set;",
        "  that is the exact-search contract, not a missing join",
        "  condition. `txt_bm25_topk`'s and `sk_heavy_hitters`' cross",
        "  entries are the broadcast 1-row corpus-stats aggregate, and",
        "  `td_curriculum_order`'s are its broadcast 1-row count(*)",
        "  (percent-rank denominator) under the decile arithmetic.",
        "- `sk_source_overlap`'s cross entries are the pair join over",
        "  ONE k-element sketch row per group (`group_a < group_b`",
        "  broadcast non-equi join — |groups|² tiny rows by design),",
        "  and `t_event_pagerank`'s are its per-round broadcast 1-row",
        "  node-count joins (the (1-d)/N term).",
        "- `txt_kn_logprob`'s, `txt_kn3_logprob`'s and",
        "  `txt_kn4_logprob`'s cross cells are ONE node printed",
        "  twice: the broadcast 1-row type-count join (B / B2 / B3,",
        "  the continuation-probability denominator). Same family.",
        "- `td_classifier_agreement`'s cross cell is TWO distinct",
        "  BroadcastNestedLoopJoin nodes (formatted explain prints each",
        "  node twice — tree line + detail — so the raw count reads 4):",
        "  `nb_train`'s broadcast 1-row vocabulary/class-totals join",
        "  and the broadcast 1-row log-prior join at score time. The",
        "  logreg side ALSO crossJoins a broadcast 1-row doc-count per",
        "  GD step (`new_weights` in operators/textstats.py), but those",
        "  execute eagerly behind `logreg_train`'s localCheckpoint",
        "  lineage barrier, so neither `td_logreg_quality` nor the",
        "  agreement audit shows them in the audited (serving) plan",
        "  (`td_classifier_ensemble` composes the same two chains, so",
        "  its cross cell is the same two NB-side nodes;",
        "  `td_ensemble_calibrated` adds the broadcast 1-row",
        "  percentile-floor join — the lm_filter_stage discipline —",
        "  and persists its two-consumer scored frame, so the NB",
        "  nodes it counts sit inside the cached relation's printed",
        "  definition, not in re-executed chains). All are the",
        "  t_event_pagerank family: bounded 1-row broadcast scalars,",
        "  never data-by-data products.",
        "- `txt_kn_lang_logprob` / `txt_kn3_lang_logprob` have NO",
        "  cross cell by design: the per-language type total (B / B2)",
        "  is an O(languages) broadcast HASH join on the language",
        "  key, replacing the global scorers' broadcast 1-row cross",
        "  join.",
        "",
        "| query | BHJ | SMJ | SHJ | exchanges | pushed scans | cross |",
        "|---|---|---|---|---|---|---|",
    ]
    # retirees leave the driver TIMING loop but stay in the plan
    # audit: retirement is about median readability, not coverage
    # (dict.fromkeys: under SPARK_GRAFT_BENCH_FULL=1 bench has already
    # appended RETIRED to HEADLINE — don't audit retirees twice)
    for name in dict.fromkeys(bench.HEADLINE + bench.RETIRED):
        fn = registry.get(name)
        if fn is None:
            continue
        plan = fn(spark, SF_DIR)._jdf.queryExecution().explainString(mode)
        pushed = len(
            [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()]
        )
        cross = plan.count("CartesianProduct") + plan.count(
            "BroadcastNestedLoopJoin"
        )
        lines.append(
            f"| {name} | {plan.count('BroadcastHashJoin')} "
            f"| {plan.count('SortMergeJoin')} "
            f"| {plan.count('ShuffledHashJoin')} "
            f"| {plan.count('Exchange')} | {pushed} "
            f"| {cross or ''} |"
        )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
