"""Smoke test of the benchmark itself, at sf0.001 sizes.

Each workload runs one set-up and one cycle of operations with tracing
on. The test pins the shape of what a run reports: every call site the
workload names has spans and per-layer numbers, every count is
non-negative, the metric names and units are those of BENCHMARK.json,
and the output checks pass.

    python3 -m pytest perfbench/test_smoke.py
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture
def sf0001(monkeypatch):
    monkeypatch.setattr(workloads.Ingest, "per_site", 20)
    monkeypatch.setattr(workloads.Ingest, "backfill_per_site", 20)
    monkeypatch.setattr(workloads.SearchIndex, "n_orders", 1500)
    monkeypatch.setattr(workloads.CorpusQueries, "n_docs", 60)
    monkeypatch.setattr(workloads.CorpusQueries, "warm_docs", 20)


@pytest.fixture
def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_traced_run_shape(name, sf0001, contract, tmp_path):
    work = str(tmp_path / "work")
    os.makedirs(work)
    run._isolate(work)
    out = run.measure(name, seed=7, seconds=0, trace=True, work=work)

    assert out["failed"] == 0 and out["attempted"] >= 2
    assert set(out["e2e"]) == {m["name"] for m in contract["end_to_end"]}
    assert all(v > 0 for v in out["e2e"].values())

    span_names = {s["name"] for s in out["spans"]}
    sites = workloads.WORKLOADS[name].sites
    assert set(sites) <= span_names
    for s in out["spans"]:
        assert s["end"] >= s["start"]
        assert s["parent"] is None or 0 <= s["parent"] < len(out["spans"])
        if s["name"] == "ingest.crawl":  # caused by a site batch
            assert out["spans"][s["parent"]]["name"] == "write_path.batch"
    layer = out["layer"]
    for site in sites:
        assert layer[f"{site}.wall_s"] > 0
        assert layer[f"{site}.jobs"] >= 1 or site == "storage.vacuum"
    assert all(v >= 0 for v in layer.values())

    line = run.result_line(out)
    assert line["correct"] is True
    want = {m["name"]: m["unit"] for m in contract["per_layer"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want


def test_containment_reference_is_the_twin(tmp_path):
    """At sizes where the DuckDB twin's all-pairs join is quick, the
    reference that checks dd_containment at full size gives its result."""
    import duckdb

    import __spark_entry__

    docs = gen.documents(7, 400)
    gen.write_tables({"documents": docs}, str(tmp_path))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')")
    res = con.execute(__spark_entry__.oracle_sql()["dd_containment"])
    twin = workloads.digest([d[0] for d in res.description], res.fetchall())
    con.close()
    ref = workloads.containment_pairs(docs)
    assert len(ref) > 10  # planted fragments are found
    assert workloads.digest(["id_a", "id_b", "containment"], ref) == twin
