"""Settle bench regressions standalone — the automated form of the
three-round ritual every review ran by hand (r8 tpch_q3/q5, r9 five
queries, r10 sim_brute_topk/txt_pii_scrub/sk_source_overlap): take
compare_bench's normalized regression list, re-run each query ALONE on
a load-gated box (N samples, median + min), and emit one settled
verdict per query.

    python tools/remeasure.py OLD.json NEW.json \
        [--runs 5] [--threshold 1.0] [--band 1.15] \
        [--load-gate 0.5] [--load-timeout 600] [--out REMEASURE.json]

Verdict rule (the one the reviews converged on): a nominal regression
is NOISE if the standalone median — NORMALIZED by a fresh calibration
probe against the old record's probe, so today's machine speed can't
masquerade as a code change — lands within ``--band`` (default 1.15x,
the README's contention band) of the OLD round's median, or if the
standalone MINIMUM reaches it (its own quiet sample proves the code
can still run at the old speed); otherwise it is REAL. Inputs are
bench lines or driver BENCH_r{N}.json records — whatever
compare_bench accepts.

Load gating: waits for the 1-minute loadavg to drop under
``--load-gate`` before each query (memory: the calibration probe
reads hot for ~2 min after a pytest run); on timeout it measures
anyway and records ``load_gated: false`` so the artifact is honest
about its own conditions.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from tools.compare_bench import compare  # noqa: E402


def _wait_for_quiet(gate: float, timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if os.getloadavg()[0] < gate:
            return True
        time.sleep(5)
    return False


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("old")
    p.add_argument("new")
    p.add_argument("--runs", type=int, default=5)
    p.add_argument("--threshold", type=float, default=1.0)
    p.add_argument(
        "--band",
        type=float,
        default=1.15,
        help="standalone-median / old-median above which a regression "
        "is REAL (README contention band)",
    )
    p.add_argument("--load-gate", type=float, default=0.5)
    p.add_argument("--load-timeout", type=float, default=600.0)
    p.add_argument("--out", default="REMEASURE.json")
    args = p.parse_args(argv)

    cmp_out = compare(args.old, args.new, args.threshold)
    regressions = cmp_out["regressions"]
    old_medians = cmp_out["old_medians"]
    result = {
        "compared": {
            "old": args.old,
            "new": args.new,
            "machine_factor": cmp_out["machine_factor"],
            "geomean_normalized": cmp_out["geomean_normalized"],
            "noisy": cmp_out["noisy"],
        },
        "band": args.band,
        "runs": args.runs,
        "queries": {},
        "settled": None,
    }
    if not regressions:
        result["settled"] = "no regressions above threshold"
        _emit(result, args.out)
        return 0

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    import bench as benchmod
    import __spark_entry__ as entrymod

    spark = benchmod.build_session(
        cpus, app_name="delta-data-pipelines-spark-remeasure"
    )

    registry = entrymod.queries()
    # fresh probe vs the OLD record's: today's machine factor. The
    # old medians were measured on the old round's machine state —
    # without this, a slower box today reads as N "REAL" regressions.
    _wait_for_quiet(args.load_gate, args.load_timeout)
    probe_now = benchmod._calibration_probe(spark)
    old_probe = cmp_out.get("old_probe")
    probe_ratio = (
        probe_now / old_probe if old_probe and probe_now else 1.0
    )
    result["probe"] = {
        "now": probe_now,
        "old": old_probe,
        "ratio": round(probe_ratio, 3),
    }
    n_real = 0
    for name in regressions:
        fn = registry.get(name)
        old = old_medians.get(name)
        if fn is None or not old:
            result["queries"][name] = {"verdict": "unmeasurable"}
            continue
        quiet = _wait_for_quiet(args.load_gate, args.load_timeout)
        try:
            samples = benchmod.time_query(spark, fn, sf_dir, args.runs)
        except Exception as exc:
            result["queries"][name] = {
                "verdict": "error", "error": str(exc)[:200]
            }
            continue
        med = statistics.median(samples) / probe_ratio
        mn = min(samples) / probe_ratio
        noise = med <= old * args.band or mn <= old * 1.05
        if not noise:
            n_real += 1
        result["queries"][name] = {
            "normalized_ratio": regressions[name],
            "old_median": old,
            "standalone_median": round(med, 3),
            "standalone_min": round(mn, 3),
            "standalone_max": round(max(samples) / probe_ratio, 3),
            "load_gated": quiet,
            "loadavg": round(os.getloadavg()[0], 2),
            "verdict": "noise" if noise else "REAL",
        }
    result["settled"] = (
        f"{len(regressions)} nominal, {n_real} real after standalone"
        f" re-measure (N={args.runs}, band {args.band}x)"
    )
    _emit(result, args.out)
    return 1 if n_real else 0


def _emit(result: dict, out_path: str) -> None:
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({"settled": result["settled"],
                      "queries": {k: v.get("verdict")
                                  for k, v in result["queries"].items()},
                      "artifact": out_path}))


if __name__ == "__main__":
    sys.exit(main())
