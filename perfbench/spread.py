"""Run the benchmark over several seeds and report its run-to-run spread.

    python3 perfbench/spread.py --seeds 1 2 3 4 5 [--workloads W ...] [--trace]

Each run is the command in BENCHMARK.json, started from the current
directory the way any caller starts it. For every workload and
end-to-end metric this prints the median, the quartiles
(``statistics.quantiles(values, n=4)``) and their distance as a share
of the median, next to the metric's bound; ``--record`` stores that
under ``observed`` in ``perfbench/record.json``. With ``--trace`` the
runs are traced instead, and the tracing overhead (median of the traced
end-to-end numbers minus the recorded untraced median) is printed and,
with ``--record``, stored as ``tracing_overhead``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(cmd, workload, seed, seconds, trace) -> dict:
    argv = cmd + ["--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", str(int(trace))]
    t0 = time.time()
    p = subprocess.run(argv, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t0
    return res


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "n": len(values),
            "values": values}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    path = os.path.join(HERE, "record.json")
    with open(path) as f:
        record = json.load(f)
    observed = record.setdefault("observed", {})
    for w in names:
        runs = [run_once(bench["command"], w, s, bench["run_seconds"], args.trace)
                for s in args.seeds]
        for s, r in zip(args.seeds, runs):
            if not r["correct"]:
                print(f"{w} seed {s}: output check failed", file=sys.stderr)
        if args.trace:
            over = {}
            for m in bench["end_to_end"]:
                name = m["name"]
                traced = statistics.median([r["metrics"][f"trace.{name}"]["value"] for r in runs])
                untraced = observed[w]["metrics"][name]["median"]
                over[name] = traced - untraced
                print(f"{w:16s} {name:12s} traced {traced:10.4f} untraced {untraced:10.4f} "
                      f"overhead {traced - untraced:+.4f}")
            observed[w]["tracing_overhead"] = {"seeds": args.seeds, "metrics": over}
            continue
        rows = {}
        for m in bench["end_to_end"]:
            name = m["name"]
            rows[name] = summarize([r["metrics"][name]["value"] for r in runs])
            rows[name]["bound"] = m["bound"]
            print(f"{w:16s} {name:12s} median {rows[name]['median']:10.4f} "
                  f"spread {rows[name]['spread']:.3f} (bound {m['bound']})")
        walls = [r["wall_s"] for r in runs]
        observed[w] = {
            "seeds": args.seeds,
            "metrics": rows,
            "run_wall_s_median": statistics.median(walls),
            "failed_runs": sum(not r["correct"] for r in runs),
        }
        print(f"{w:16s} wall per run (median) {statistics.median(walls):.1f} s")
    if args.record:
        with open(path, "w") as f:
            json.dump(record, f, indent=1, ensure_ascii=False)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
