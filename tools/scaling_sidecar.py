"""Scaling evidence sidecar (r14 VERDICT #7): sf0.1 is too small for
the 8-vs-32-core ratio to see parallelism — 24 of 58 queries measured
FASTER on 8 cores there (task fan-out overhead exceeds compute at a
~0.2 s per-query floor). This tool synthesizes a 10× corpus
("sf1-synth") and re-times the most expensive queries at both core
counts so "removed a corpus sort/shuffle" claims get a number where
data time dominates the floor.

The synthetic tables replicate each sf0.1 fact row 10× with disjoint
key spaces and a per-replica text/vector divergence (a replica-unique
tail token; embedding component 0 shifted by k·1e-3), so dedup/LSH/
similarity workloads keep their character instead of collapsing onto
10-way exact duplicates. Dimensions are copied as-is. This is TIMING
evidence only — results are never compared to an oracle and nothing
is cached across runs (the synth dir is rebuilt from the sf0.1
parquet on every invocation unless it already exists with the same
fingerprint).

    python tools/scaling_sidecar.py [out.json]
    SPARK_GRAFT_SIDECAR_DIR=/tmp/sf1_synth SPARK_GRAFT_SIDECAR_RUNS=2 \
        python tools/scaling_sidecar.py plans/r15/scaling_sf1.json

Caveat on pair-based dedup ops (measured, r15): the replicas are
near-duplicates of each other BY CONSTRUCTION (one divergent tail
token), so candidate-pair workloads (dd_containment, dd_minhash) see
their near-dup density multiplied along with the corpus — their
blow-up at 10× (dd_containment 3.2 s → 142 s) measures the
downstream-of-LSH pair volume of a pathologically duplicated corpus,
NOT core-scaling of the operator. Read those entries as an
adversarial-density stress result and exclude them from scaling
ratios.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
REPLICAS = int(os.environ.get("SPARK_GRAFT_SIDECAR_REPLICAS", "10"))
OFFSET = 10_000_000

# the 10 most expensive headline queries of the r15 baseline
# (plans/r15/bench_before.json), minus the serve queries (their
# scratch index is keyed by sf dir and would measure index BUILD)
QUERIES = [
    "td_ensemble_calibrated",
    "td_classifier_ensemble",
    "td_classifier_agreement",
    "td_lang_keep_rate",
    "sim_pq_adc_topk",
    "txt_kn4_logprob",
    "search_index_full",
    "sim_ivf_recall_curve",
    "dd_containment",
    "td_logreg_quality",
]


def build_synth(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.catalog import read_table

    os.makedirs(out_dir, exist_ok=True)

    def reps(df, key_cols, diverge=None):
        parts = []
        for k in range(REPLICAS):
            p = df
            for c in key_cols:
                p = p.withColumn(c, F.col(c) + F.lit(k * OFFSET))
            if diverge is not None:
                p = diverge(p, k)
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def div_doc(p, k):
        # replica-unique tail token: shingles/signatures/grams diverge
        return p.withColumn(
            "text",
            F.when(
                F.col("text").isNotNull(),
                F.concat(F.col("text"), F.lit(f" zrep{k}tok")),
            ),
        )

    def div_vec(p, k):
        return p.withColumn(
            "embedding",
            F.when(
                F.col("embedding").isNotNull(),
                F.concat(
                    F.array(
                        (
                            F.element_at("embedding", 1)
                            + F.lit(float(k) * 1e-3)
                        ).cast("float")
                    ),
                    F.slice(
                        "embedding", 2, F.greatest(
                            F.size("embedding") - 1, F.lit(0)
                        )
                    ),
                ),
            ),
        )

    plans = {
        "documents": lambda d: reps(d, ["doc_id"], div_doc),
        "embeddings": lambda d: reps(d, ["vec_id"], div_vec),
        "lineitem": lambda d: reps(d, ["l_orderkey"]),
        "orders": lambda d: reps(d, ["o_orderkey"]),
        "events": lambda d: d,
        "customer": lambda d: d,
        "supplier": lambda d: d,
        "part": lambda d: d,
        "nation": lambda d: d,
        "region": lambda d: d,
    }
    for name, fn in plans.items():
        dst = os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(os.path.join(dst, "_SUCCESS")):
            continue
        fn(read_table(spark, SRC, name)).write.mode("overwrite").parquet(dst)
        print(f"synth {name} -> {dst}", file=sys.stderr)


def time_queries(cpus: str, sf_dir: str, runs: int) -> dict:
    import bench

    spark = bench.build_session(cpus, app_name=f"sidecar-{cpus}c")
    import __spark_entry__ as entrymod

    registry = entrymod.queries()
    out = {}
    for name in QUERIES:
        try:
            ts = bench.time_query(spark, registry[name], sf_dir, runs)
            out[name] = round(statistics.median(ts), 3)
        except Exception as exc:
            out[name] = -1.0
            print(f"SIDECAR-FAIL {name}@{cpus}: {exc}", file=sys.stderr)
    spark.stop()
    return out


def main() -> int:
    global QUERIES
    qs = os.environ.get("SPARK_GRAFT_SIDECAR_QUERIES")
    if qs:
        QUERIES = qs.split(",")
    out_path = sys.argv[1] if len(sys.argv) > 1 else "plans/r15/scaling_sf1.json"
    synth_dir = os.environ.get("SPARK_GRAFT_SIDECAR_DIR", "/tmp/sf1_synth")
    runs = int(os.environ.get("SPARK_GRAFT_SIDECAR_RUNS", "2"))

    import bench

    spark = bench.build_session("32", app_name="sidecar-synth")
    build_synth(spark, synth_dir)
    spark.stop()

    t32 = time_queries("32", synth_dir, runs)
    t8 = time_queries("8", synth_dir, runs)
    ratios = {
        q: round(t8[q] / t32[q], 2)
        for q in QUERIES
        if t32.get(q, -1) > 0 and t8.get(q, -1) > 0
    }
    rec = {
        "metric": "sf1_synth_scaling",
        "replicas": REPLICAS,
        "queries_env": os.environ.get("SPARK_GRAFT_SIDECAR_QUERIES"),
        "src": SRC,
        "runs": runs,
        "sec_32core": t32,
        "sec_8core": t8,
        "ratio_8_over_32": ratios,
        "loadavg": round(os.getloadavg()[0], 2),
    }
    with open(out_path, "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps(rec))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
