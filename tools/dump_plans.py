"""Physical plans of registry queries — the one plan dumper.

    python tools/dump_plans.py                      # regenerate PLANS.md
    python tools/dump_plans.py OUT_DIR [QUERY ...]  # one plan file per query

With no arguments it writes PLANS.md, the audit of the bench headline
and retired queries at ``$SF_DIR`` (default sf0.01): join strategies,
exchange count, pushed filters and cross joins per query. With an
OUT_DIR it writes ``OUT_DIR/<query>.txt`` for each named query (default:
the same headline + retired set), each the formatted plan passed
through :func:`normalize_plan`, so two dumps taken before and after a
change differ only where the plan did. Run after plan-affecting
changes.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")

# the run-specific counters a formatted plan prints, and their masks
_VOLATILE = (
    (re.compile(r"#\d+"), "#N"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1_N"),  # lambda variable counters
    # a staged frame's checkpoint RDD: its id and its call site
    (re.compile(r"(\w+RDD)\[\d+\] at (\w+) at [^,\s]+"), r"\1[N] at \2"),
)


def formatted_plan(df) -> str:
    """``df``'s plan as ``explain("formatted")`` prints it: the scan's
    PushedFilters/ReadSchema on their own lines (plain toString
    truncates long scan lines before they appear)."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return str(df._jdf.queryExecution().explainString(mode))


def normalize_plan(text: str) -> str:
    """``text`` with every counter that differs between two builds of
    the same plan masked (see ``_VOLATILE``)."""
    for pattern, mask in _VOLATILE:
        text = pattern.sub(mask, text)
    return text


def _audit_row(name: str, plan: str) -> str:
    pushed = len(
        [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()]
    )
    cross = plan.count("CartesianProduct") + plan.count("BroadcastNestedLoopJoin")
    return (
        f"| {name} | {plan.count('BroadcastHashJoin')} "
        f"| {plan.count('SortMergeJoin')} "
        f"| {plan.count('ShuffledHashJoin')} "
        f"| {plan.count('Exchange')} | {pushed} "
        f"| {cross or ''} |"
    )


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    import bench
    import __spark_entry__ as entry
    from delta_data_pipelines_spark.session import get_spark

    spark = get_spark("plan-audit", master="local[8]", shuffle_partitions=8)
    registry = entry.queries()
    # retirees leave the driver TIMING loop but stay in the plan
    # audit: retirement is about median readability, not coverage
    # (dict.fromkeys: under SPARK_GRAFT_BENCH_FULL=1 bench has already
    # appended RETIRED to HEADLINE — don't audit retirees twice)
    default = [q for q in dict.fromkeys(bench.HEADLINE + bench.RETIRED) if q in registry]
    out_dir, names = (argv[0], argv[1:] or default) if argv else (None, default)
    plans = {}
    for name in names:
        plans[name] = formatted_plan(registry[name](spark, SF_DIR))
        bench._reset_session_state(spark)

    if out_dir is not None:
        os.makedirs(out_dir, exist_ok=True)
        for name, plan in plans.items():
            out = os.path.join(out_dir, f"{name}.txt")
            with open(out, "w") as f:
                f.write(normalize_plan(plan))
            print(f"wrote {out} ({len(plan.splitlines())} lines)")
        return 0

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
        "- `td_classifier_agreement`'s cross cell is FOUR distinct",
        "  BroadcastNestedLoopJoin nodes (formatted explain prints each",
        "  node twice — tree line + detail — so the raw count reads 8).",
        "  Two are NB's: `nb_train`'s broadcast 1-row vocabulary/class-",
        "  totals join and the broadcast 1-row log-prior join at score",
        "  time. Two are logreg's: `logreg_train` `stage`s each GD",
        "  step's gradient table and keeps the weights a lazy",
        "  O(n_buckets) projection over them, so every step's update",
        "  (`new_weights` in operators/textstats.py) prints its",
        "  broadcast 1-row doc-count join, one node per step (two",
        "  steps here). `td_quality_classifier` shows the NB pair,",
        "  `td_logreg_quality` / `td_logreg_pr_curve` the logreg pair",
        "  and `td_classifier_ensemble` both. `td_ensemble_calibrated`",
        "  `stage`s its two-consumer scored frame, so its plan starts",
        "  at that staged scan and its one cross node is the broadcast",
        "  1-row percentile-floor join (the lm_filter_stage",
        "  discipline). All are the t_event_pagerank family: bounded",
        "  1-row broadcast scalars, never data-by-data products.",
        "- `txt_kn_lang_logprob` / `txt_kn3_lang_logprob` have NO",
        "  cross cell by design: the per-language type total (B / B2)",
        "  is an O(languages) broadcast HASH join on the language",
        "  key, replacing the global scorers' broadcast 1-row cross",
        "  join.",
        "",
        "| query | BHJ | SMJ | SHJ | exchanges | pushed scans | cross |",
        "|---|---|---|---|---|---|---|",
    ]
    lines += [_audit_row(name, plan) for name, plan in plans.items()]
    out = os.path.join(ROOT, "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
