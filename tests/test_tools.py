"""Tests for the round-over-round tooling. tools/compare_bench.py's
two input paths must apply the SAME normalization rules — the r10
review found the driver-record path had drifted from the bench-line
path (min-vs-mean probes, run-level fields polluting the query map,
disagreement never populated). The bench timer, the plan normalizer
and the one-session-builder rule are pinned at the end."""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from tools import compare_bench  # noqa: E402


def _bench_line(queries, start, end, shelf=()):
    return {
        "metric": "headline_queries_total_wall",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "runs": 3,
        "shelf": list(shelf),
        "calibration": {
            "probe": "range50M_sum",
            "start": start,
            "end": end,
            "spread_ratio_med": 1.17,
        },
    }


def _driver_record(queries, start, end, shelf=(), with_parsed=True):
    parsed = _bench_line(queries, start, end, shelf)
    rec = {
        "n": 10,
        "rc": 0,
        "cpus": 32,
        "sf": 0.1,
        "tail": "[Stage 9:> (0 + 1) / 1]\r" + json.dumps(parsed),
    }
    if with_parsed:
        rec["parsed"] = parsed
    return rec


def _run(tmp_path, old, new, threshold=1.0):
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = compare_bench.main(
            [str(po), str(pn), "--threshold", str(threshold)]
        )
    return json.loads(buf.getvalue()), rc


def test_driver_records_mean_probe_and_clean_query_map(tmp_path):
    """Driver-record inputs: machine factor = MEAN(start,end) ratio
    (the README rule), run-level numeric fields never enter the query
    map or the geomean, and probe disagreement is populated."""
    old = _driver_record({"q1": 1.0, "q2": 2.0}, start=0.10, end=0.10)
    # machine = mean(0.16, 0.26)/mean(0.10, 0.10) = 2.1
    new = _driver_record({"q1": 2.1, "q2": 4.2}, start=0.16, end=0.26)
    out, rc = _run(tmp_path, old, new)
    assert out["machine_factor"] == 2.1
    assert out["n_shared"] == 2  # runs/sf/value/... never counted
    assert out["geomean_normalized"] == 1.0
    assert out["regressions"] == {}
    assert rc == 0
    assert out["probe_disagreement"]["new"] == round(0.26 / 0.16, 2)
    assert out["noisy"] is True  # 1.62 > 1.5
    assert out["probe_disagreement"]["old"] == 1.0


def test_legacy_tail_only_record_matches_parsed_path(tmp_path):
    """A record WITHOUT `parsed` (tail regex fallback) produces the
    same numbers as the parsed path: queries scanned only inside the
    queries object, probes averaged, shelf honored."""
    qs_old = {"q1": 1.0, "q2": 2.0}
    qs_new = {"q1": 1.2, "q2": 2.0, "fresh": 9.9}
    old = _driver_record(qs_old, 0.10, 0.12, with_parsed=False)
    new = _driver_record(
        qs_new, 0.11, 0.11, shelf=("fresh",), with_parsed=False
    )
    out, rc = _run(tmp_path, old, new)
    assert out["calibrated"] is True
    assert out["machine_factor"] == 1.0
    assert out["n_shared"] == 2
    assert out["noisy"] is False
    # shelf parsed from the tail: 'fresh' is new AND shelved, so it
    # appears in added but never in the geomean set
    assert "fresh" in out["added"]
    assert out["regressions"] == {"q1": 1.2}
    assert rc == 1


def test_real_driver_records_r9_r10(tmp_path):
    """The actual r9/r10 driver records reproduce the r10 review's
    hand recomputation: machine ~1.026, geomean ~0.93 (faster),
    noisy=true from the r10 run's own 1.65x probe spread."""
    root = Path(__file__).resolve().parents[1]
    r9, r10 = root / "BENCH_r09.json", root / "BENCH_r10.json"
    if not (r9.exists() and r10.exists()):
        import pytest

        pytest.skip("driver records not present")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        compare_bench.main([str(r9), str(r10)])
    out = json.loads(buf.getvalue())
    assert 1.0 <= out["machine_factor"] <= 1.05
    assert 0.90 <= out["geomean_normalized"] <= 0.96
    assert out["noisy"] is True
    assert "runs" not in out["regressions"]
    assert "spread_ratio_med" not in out["regressions"]


def test_registry_md_not_stale():
    """The committed REGISTRY.md must be at most ONE driver round
    behind (the driver runs post-commit, so at judging time the
    newest CORRECTNESS file legitimately postdates the committed
    registry by exactly one round — r12's red row) and its
    machine-readable totals must match a recount SCOPED TO THE ROUND
    IT CLAIMS: the r11 staleness (inventory generated pre-run,
    showing 177 green where the driver had recorded 183 rounds
    earlier) still fails loudly here, because that registry was wrong
    as of its own stated round, not merely one round behind."""
    import re

    root = Path(__file__).resolve().parents[1]
    reg_md = root / "REGISTRY.md"
    assert reg_md.exists(), "REGISTRY.md missing — run tools/inventory.py"
    m = re.search(
        r"<!-- totals: queries=(\d+) oracles=(\d+) green_ever=(\d+) "
        r"through_round=(\d+) -->",
        reg_md.read_text(),
    )
    assert m, "REGISTRY.md lacks the totals comment — regenerate"
    queries, oracles, green_ever, through = map(int, m.groups())

    import sys

    sys.path.insert(0, str(root))
    sys.path.insert(0, str(root / "tools"))
    import __spark_entry__ as entry
    from inventory import current_round, driver_history

    newest = current_round() - 1
    assert newest - 1 <= through <= newest, (
        f"REGISTRY.md generated through r{through} but driver history "
        f"extends to r{newest} — rerun tools/inventory.py (regeneration "
        f"is commit #1 of every round; one-round lag is only legitimate "
        f"when the driver ran after the registry commit)"
    )
    reg = entry.queries()
    # recount as of the registry's own stated round — a registry that
    # was wrong when generated fails even inside the one-round grace
    hist = driver_history(through=through)
    assert queries == len(reg)
    assert oracles == sum(1 for k in reg if k in entry.oracle_sql())
    assert green_ever == sum(
        1 for q in reg if any(ok for _, ok in hist.get(q, []))
    )


def test_time_query_times_runs_after_one_warm_up_and_resets(spark):
    """bench.time_query: one untimed warm-up, then one sample per timed
    run, and the session reset afterwards, so a frame the query staged
    and never released does not outlive the timing."""
    import bench
    from delta_data_pipelines_spark.operators.staging import stage

    calls = []

    def query(spark, sf_dir):
        calls.append(sf_dir)
        return stage(spark.range(1000), "time_query_probe")

    samples = bench.time_query(spark, query, "sf", 3)
    assert len(samples) == 3 and all(t > 0 for t in samples)
    assert calls == ["sf"] * 4
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()


def test_normalize_plan_equates_two_builds_of_one_query(spark):
    """Two builds of one query print different expression ids, plan ids,
    lambda-variable counters and checkpoint RDDs; normalize_plan masks
    exactly those, so the two normalized dumps are equal."""
    import bench
    import __spark_entry__ as entry
    from tools.dump_plans import formatted_plan, normalize_plan

    fn = entry.queries()["txt_unigram_encode"]
    try:
        a, b = (formatted_plan(fn(spark, "/root/testdata/sf0.001")) for _ in "ab")
    finally:
        bench._reset_session_state(spark)
    assert a != b
    assert normalize_plan(a) == normalize_plan(b)


def test_one_session_builder_and_one_plan_dumper():
    """Sessions come from session.get_spark and plans from
    tools/dump_plans.formatted_plan: no other file in the package,
    bench.py, tools/ or tests/ builds a session or an explain mode."""
    files = [
        *ROOT.glob("delta_data_pipelines_spark/**/*.py"),
        ROOT / "bench.py",
        *ROOT.glob("tools/*.py"),
        *ROOT.glob("tests/*.py"),
    ]

    def having(pattern):
        return sorted(
            str(f.relative_to(ROOT)) for f in files if re.search(pattern, f.read_text())
        )

    assert having(r"SparkSession\s*\.\s*builder") == ["delta_data_pipelines_spark/session.py"]
    assert having(r"ExplainMode\s*\.\s*fromString") == ["tools/dump_plans.py"]
