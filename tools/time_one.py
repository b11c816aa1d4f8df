"""Time a handful of registry queries standalone at sf0.1 — the
load-gated N-run remeasure used for creep verdicts (README
"Bench calibration"). Prints one JSON line per query:
median/min/max over N timed runs after one untimed warmup, plus the
bench probes (32-way + 1-core) bracketing the set.

    python tools/time_one.py td_classifier_agreement sim_pq_adc_topk
    SPARK_GRAFT_RUNS=5 python tools/time_one.py sim_pq_adc_topk
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    runs = int(os.environ.get("SPARK_GRAFT_RUNS", "5"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import bench

    import __spark_entry__ as entrymod

    spark = bench.build_session(cpus, app_name="time-one")

    registry = entrymod.queries()

    probe_start, unstable, samples = bench._stable_start_probe(spark)
    p1_start = bench._calibration_probe(spark, one_core=True)
    out: dict = {
        "sf_dir": sf_dir,
        "runs": runs,
        "probe_start": probe_start,
        "start_unstable": unstable,
        "probe_1core_start": p1_start,
        "loadavg_start": round(os.getloadavg()[0], 2),
        "queries": {},
    }
    for name in names:
        ts = bench.time_query(spark, registry[name], sf_dir, runs)
        out["queries"][name] = {
            "median": round(statistics.median(ts), 3),
            "min": round(min(ts), 3),
            "max": round(max(ts), 3),
        }
    out["probe_end"] = bench._calibration_probe(spark)
    out["probe_1core_end"] = bench._calibration_probe(spark, one_core=True)
    out["loadavg_end"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
