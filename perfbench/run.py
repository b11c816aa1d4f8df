"""Pipeline benchmark: one seeded workload, timed end to end, or per
layer with ``--trace 1``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The program under
test is imported from that checkout; its session comes from
``bench.build_session`` with one task thread per available core. The
last line of standard output is one JSON object:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": number, "unit": str}}}

with every end-to-end metric of ``BENCHMARK.json`` when tracing is off
and every per-layer metric when it is on. The lines before it give the
same numbers with their sample counts and ``cpus``.

Everything the run writes (tables, Spark scratch, temporary files) is
under ``.perfbench-work/`` in the checkout and removed at exit; a traced
run also leaves its spans in ``.perfbench-traces/WORKLOAD-SEED.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Point Spark's and Python's scratch space into the work dir; must
    run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false --conf spark.ui.enabled=false "
        "pyspark-shell"
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # subprocess.TimeoutExpired
            proc.kill()
            proc.wait()


class Ctx:
    """What a workload needs from the run: the current session, the
    core count, the seed, its work dir and the tracer."""

    def __init__(self, spark, cpus, seed, work):
        self.spark, self.cpus, self.seed, self.work = spark, cpus, seed, work
        self.tracer = None


# (name, unit) of the end-to-end metrics, in BENCHMARK.json order
E2E = (("setup_s", "s"), ("cycle_s", "s"), ("space_amp", "ratio"))


def measure(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    """Set ``name`` up, run its closed loop for ``seconds`` (and at
    least one full cycle of operations), check its outputs, and return
    the counts, end-to-end numbers, sample counts and, when tracing,
    per-layer numbers and spans. Set-up time runs from the process's
    first call into the program: session start (which launches the
    JVM), input generation, source load and warm-up."""
    t_start = time.time()
    import bench

    from spans import Tracer
    from workloads import LAYER_SITES, RATIOS, STORAGE_SITES, WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    ctx = Ctx(bench.build_session(str(cpus)), cpus, seed, work)
    try:
        wl = WORKLOADS[name](ctx)
        ctx.tracer = Tracer(ctx.spark, cpus, enabled=False)
        wl.setup(os.path.join(work, "setup"))
        setup_s = time.time() - t_start
        ctx.tracer = tracer = Tracer(ctx.spark, cpus, enabled=trace)
        attempted = failed = 0
        t0 = time.time()
        # whole cycles only, so every run measures the same mix
        while attempted == 0 or attempted % wl.cycle_ops or time.time() - t0 < seconds:
            attempted += 1
            try:
                wl.step()
            except Exception:
                failed += 1
                traceback.print_exc()
                if failed >= 3:
                    break
        window_s = time.time() - t0
        attempted += 1  # the end-of-run output check
        t_check = time.time()
        try:
            problems = wl.check()
        except Exception:
            traceback.print_exc()
            problems = ["check raised"]
        for p in problems:
            print(f"CHECK FAILED {p}", file=sys.stderr)
        failed += 1 if problems else 0
        check_s = time.time() - t_check
        e2e = {"setup_s": setup_s, **wl.end_to_end()}
        out = {
            "workload": name, "seed": seed, "cpus": cpus, "trace": int(trace),
            "attempted": attempted, "failed": failed, "error_rate": failed / attempted,
            "window_s": window_s, "check_s": check_s,
            "ops": wl.n_ops, "e2e": e2e, "details": wl.details(),
        }
        if trace:
            layer = tracer.layer_metrics(LAYER_SITES, STORAGE_SITES)
            ratios = wl.ratios()
            layer.update({k: ratios.get(k, 0) for k in RATIOS})
            deleted = [s.stats["bytes_deleted"] for s in tracer.spans if "bytes_deleted" in s.stats]
            layer["storage.vacuum.bytes_deleted"] = statistics.median(deleted) if deleted else 0
            layer["spark.leaked_rdds"] = max(tracer.leaked_rdds, default=0)
            layer["spark.jvm_peak_rss_mb"] = _jvm_peak_rss_mb(ctx.spark)
            # the end-to-end numbers of this traced run: minus those of an
            # untraced run they give the tracing overhead
            layer.update({f"trace.{k}": v for k, v in e2e.items()})
            out["layer"] = layer
            out["spans"] = [
                {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
                for s in tracer.spans
            ]
        return out
    finally:
        _stop(ctx.spark)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if name.startswith("trace."):
        return dict(E2E)[last]
    if last.endswith("_s"):
        return "s"
    if "bytes" in last:
        return "B"
    if last.endswith("_mb"):
        return "MB"
    if last in ("jobs", "stages", "leaked_rdds"):
        return "count"
    return "ratio"


def result_line(out: dict) -> dict:
    """The benchmark's contract: counts, correctness and the metrics of
    this mode (end-to-end untraced, per-layer traced)."""
    if out["trace"]:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in out["layer"].items()}
    else:
        metrics = {k: {"value": out["e2e"][k], "unit": u} for k, u in E2E}
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    try:
        import bench  # noqa: F401  (the program's session factory)
        import delta_data_pipelines_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _isolate(work)
    try:
        out = measure(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still has its work dir there
            pass
    if args.trace:
        traces = os.path.join(ROOT, ".perfbench-traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(out["spans"], f)
    print(json.dumps({k: v for k, v in out.items() if k != "spans"}))
    print(json.dumps(result_line(out)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
