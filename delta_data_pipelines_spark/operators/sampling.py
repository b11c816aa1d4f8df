"""Deterministic sampling and dataset splitting.

``randomSplit`` reshuffles membership when the partitioning changes —
a row can hop from train to eval between runs, silently leaking eval
data into training. Hash-based splitting is row-stable: membership is
a pure function of the key, reproducible across runs, partitionings,
clusters, and engine versions (xxhash64 is fixed in Spark).

The same primitive gives deterministic down-sampling (keep x% of a
corpus forever-stably) and per-key sharding.
"""

from __future__ import annotations

import decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1_000_000


def md5_hash64(c: Column) -> Column:
    """Uniform bigint in [0, 2^32) from the first 8 hex digits of md5.

    The ONE portable-hash expression shared by split_bucket's md5 mode
    and the KMV sketches (operators.sketches.portable_hash): md5 is
    bit-identical across engines (Spark, DuckDB, Postgres, …), so
    anything derived from this hash is recomputable by an oracle. Keep
    a single definition — the oracle SQL mirrors exactly this digit
    count and byte order."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )


def split_bucket(key: Column | str, method: str = "xxhash64") -> Column:
    """Uniform bucket in [0, 1) from the key hash.

    ``method='xxhash64'`` (default) is the fast JVM-native path.
    ``method='md5'`` buckets on the first 8 hex digits of md5 — slower,
    but md5 is identical across engines (Spark, DuckDB, Postgres, …),
    so splits survive an engine migration bit-for-bit.
    """
    c = F.col(key) if isinstance(key, str) else key
    if method == "md5":
        return F.pmod(md5_hash64(c), F.lit(_BUCKETS)) / F.lit(float(_BUCKETS))
    if method != "xxhash64":
        raise ValueError(f"unknown hash method: {method}")
    return F.pmod(F.xxhash64(c), F.lit(_BUCKETS)) / F.lit(float(_BUCKETS))


def hash_split(
    df: DataFrame,
    key: str,
    weights: dict[str, float],
    split_col: str = "split",
    method: str = "xxhash64",
) -> DataFrame:
    """Label every row with a deterministic split by key hash.

    ``weights`` maps split name → fraction (must sum to ~1). Equal keys
    always land in the same split (dedup the key first if leakage
    across duplicates matters).
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    b = split_bucket(key, method)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        clause = F.when(b < acc, F.lit(name))
        expr = clause if expr is None else expr.when(b < acc, F.lit(name))
    expr = (
        F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    )
    return df.withColumn(split_col, expr)


def deterministic_sample(
    df: DataFrame, key: str, fraction: float, method: str = "xxhash64"
) -> DataFrame:
    """Keep a stable ``fraction`` of rows by key hash — the same rows
    survive every run (unlike ``df.sample``), so downstream caches and
    metrics stay comparable across pipeline versions."""
    return df.where(split_bucket(key, method) < fraction)


def stratified_sample(
    df: DataFrame,
    key: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    method: str = "xxhash64",
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus mixing /
    reweighting step of a pre-training pipeline (up/down-weight sources
    to target proportions) with hash-stable membership per key.

    The rates ride in as a broadcast-joined mapping table keyed on the
    stratum, not a CASE chain: thousands of sources stay one tiny
    broadcast, and unlisted strata fall back to ``default_rate``.
    Membership is ``split_bucket(key) < rate`` — a pure function of the
    key, so re-runs, repartitions, and engine migrations (md5 mode)
    keep the exact same rows, and a stratum's sample is a SUPERSET of
    any lower rate's (rate changes shrink/grow monotonically).
    """
    for k, v in rates.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"rate for {k!r} must be in [0, 1], got {v}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    spark = df.sparkSession
    rt = spark.createDataFrame(
        [(k, float(v)) for k, v in rates.items()],
        f"{strata_col} string, _rate double",
    )
    return (
        df.join(F.broadcast(rt), strata_col, "left")
        .withColumn("_rate", F.coalesce(F.col("_rate"), F.lit(float(default_rate))))
        .where(split_bucket(key, method) < F.col("_rate"))
        .drop("_rate")
    )


def interleave_by_weight(
    df: DataFrame,
    source_col: str,
    id_col: str,
    weight_col: str,
    n_parts: int = 32,
) -> DataFrame:
    """Deterministic weighted interleave — the training-mixture
    schedule (HF ``interleave_datasets`` semantics, distributed): doc
    number k of source s is placed at virtual time k / w_s, and the
    global order sorts by (vtime, source, k) — so a source with twice
    the weight contributes twice as often in every prefix of the
    schedule, and the layout is a pure function of (ids, weights):
    stable under reruns, repartitioning, and engine versions.

    Scale shape: per-source doc numbers come from
    ``grouped_rank_by_range`` (range slices, never one task per
    source) and the final position from ``global_rank_by_range`` over
    the composite (vtime, source, k) key — the only unpartitioned
    windows run over per-partition count tables. Weights must be > 0
    (a zero weight divides by zero; filter those sources out first).

    Returns ``df`` plus ``k`` (1-based doc number within its source)
    and ``position`` (1-based global schedule position).
    """
    from .ranking import global_rank_by_range, grouped_rank_by_range

    ranked = grouped_rank_by_range(df, source_col, id_col, n_parts)
    # deliberately NOT staged between the two ranks: unlike
    # td_curriculum_order (expensive quality fold upstream, measured
    # 2.60 -> 1.39 s with its stages), this chain is md5-cheap and
    # AQE exchange reuse already dedupes the second rank's
    # boundary-sampling pass — a persist here MEASURED ~7% slower at
    # sf0.1 (0.98 -> 1.05 s, r14 round)
    keyed = (
        ranked.withColumnRenamed("group_rank", "k")
        .withColumn("_vtime", F.col("k") / F.col(weight_col))
        .withColumn(
            "_okey", F.struct(F.col("_vtime"), F.col(source_col), F.col("k"))
        )
    )
    return (
        global_rank_by_range(keyed, "_okey", n_parts)
        .withColumnRenamed("global_rank", "position")
        .drop("_vtime", "_okey")
    )


def token_budget_mix(
    per_src: DataFrame,
    source_col: str = "source",
    tokens_col: str = "t_tokens",
    tau: float = 0.5,
    budget_frac: float = 0.5,
    epoch_cap: float = 2.0,
) -> DataFrame:
    """Token-budget allocation across sources — the data-recipe
    planning step: spend ``budget_frac`` of the corpus's tokens with
    temperature-flattened weights (``T^tau``) under an epoch cap
    (no source repeated more than ``epoch_cap`` times), redistributing
    what the caps release to the uncapped sources in ONE deterministic
    pass (a second pass could re-cap; one is the documented contract).

    Float discipline: every sum (weights, leftovers) runs over
    6-dp-rounded DECIMALs (exact, order-free); each division is a
    single float op on exact inputs, rounded before reuse — so any
    engine recomputing this arithmetic produces bit-identical
    allocations. Corpus totals are 1-row broadcast aggregates; the
    per-source frame is tiny by construction.

    Input: one row per source with ``tokens_col`` (bigint). Output:
    source, t_tokens, tokens_alloc, epochs.
    """
    if not 0.0 < budget_frac <= 1.0:
        raise ValueError(f"budget_frac must be in (0, 1], got {budget_frac}")
    if epoch_cap <= 0:
        raise ValueError(f"epoch_cap must be > 0, got {epoch_cap}")
    t = F.col(tokens_col)
    src = per_src.withColumn(
        "_pw",
        F.round(F.pow(t.cast("double"), tau), 6).cast("decimal(28,6)"),
    )
    tot = src.agg(F.sum(tokens_col).alias("_total"), F.sum("_pw").alias("_w"))
    step1 = (
        src.crossJoin(F.broadcast(tot))
        .withColumn(
            "_budget",
            F.floor(F.col("_total").cast("double") * budget_frac).cast("bigint"),
        )
        .withColumn(
            "_a1",
            F.round(
                F.col("_budget").cast("double")
                * F.col("_pw").cast("double")
                / F.col("_w").cast("double"),
                6,
            ).cast("decimal(28,6)"),
        )
        .withColumn(
            # cap in DECIMAL arithmetic (not double): a double product
            # loses integer precision above ~2^52 tokens, breaking the
            # bit-identical-allocations contract at corpus scale; the
            # decimal product is exact at any magnitude (oracle:
            # CAST(t_tokens * cap AS DECIMAL))
            "_cap",
            (
                t.cast("decimal(20,0)")
                * F.lit(decimal.Decimal(str(epoch_cap)))
            ).cast("decimal(28,6)"),
        )
        .withColumn("_alloc1", F.least(F.col("_a1"), F.col("_cap")))
        .withColumn("_capped", F.col("_a1") > F.col("_cap"))
    )
    pools = step1.agg(
        F.sum(F.col("_a1") - F.col("_alloc1")).alias("_left"),
        F.sum(F.when(~F.col("_capped"), F.col("_pw"))).alias("_uw"),
    )
    out = (
        step1.crossJoin(F.broadcast(pools))
        .withColumn(
            "_add",
            F.when(
                F.col("_capped") | (F.col("_left") <= 0), F.lit(0.0)
            )
            .otherwise(
                F.round(
                    F.col("_left").cast("double")
                    * F.col("_pw").cast("double")
                    / F.col("_uw").cast("double"),
                    6,
                )
            )
            .cast("decimal(28,6)"),
        )
        .withColumn(
            "_alloc2", F.least(F.col("_alloc1") + F.col("_add"), F.col("_cap"))
        )
    )
    return out.select(
        source_col,
        tokens_col,
        F.round(F.col("_alloc2").cast("double"), 6).alias("tokens_alloc"),
        F.round(F.col("_alloc2").cast("double") / t, 6).alias("epochs"),
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str | Column,
    k: int,
    group_col: str | None = None,
    salt: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    Efraimidis–Spirakis one-pass scheme (Inf. Process. Lett. 2006):
    each row draws u from its key's portable hash and ranks by
    -ln(u)/w; the k smallest ranks are exactly a weighted sample
    without replacement. One pass, no sequential state, deterministic
    (same salt → same sample on any engine or cluster) — the property
    that makes corpus subsets reproducible across reruns.

    u = (hash+1)/2^32 ∈ (0, 1]; the division is by a power of two, so
    u is exact. The ES key is rounded to 9 dp before ranking with a
    key tie-break, the repo-wide discipline for transcendental-float
    comparisons across engines (ln is not guaranteed correctly
    rounded everywhere). Rows with NULL keys or non-positive weights
    are EXCLUDED (a NULL key hashes to a NULL score — which Spark's
    ascending sort would otherwise place FIRST, silently occupying a
    sample slot; a w ≤ 0 ES key diverges); pre-clamp weights if those
    rows must stay eligible.

    ``group_col`` takes k per group through
    ``ranking.grouped_rank_by_range`` — range slices of (group, ES
    key), never one task per group, because the callers that matter
    (per-SOURCE subsampling) have few huge groups, exactly where a
    ``partitionBy(group)`` window straggles (the ds_group_sample
    lesson). Global sampling ranks by sort+limit
    (TakeOrderedAndProject — no single-partition window).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (
        md5_hash64(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
        + F.lit(1)
    ) / F.lit(4294967296.0)
    es = F.round(-F.log(u) / w, 9)
    base = (
        df.where(F.col(key_col).isNotNull() & (w > 0)).withColumn("_es", es)
    )
    if group_col is not None:
        from .ranking import grouped_rank_by_range

        keyed = base.withColumn(
            "_okey", F.struct(F.col("_es"), F.col(key_col))
        )
        return (
            grouped_rank_by_range(keyed, group_col, "_okey")
            .where(F.col("group_rank") <= k)
            .drop("_es", "_okey", "group_rank")
        )
    return base.orderBy("_es", key_col).limit(k).drop("_es")


def cluster_balance(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
    cap: int = 64,
    salt: str = "cb",
) -> DataFrame:
    """Embedding-cluster-capped corpus pruning (the SemDeDup / DCLM
    cluster-balancing move): assign every vector to a deterministic
    spherical k-means cell, then keep at most ``cap`` members per cell,
    chosen by md5(salt:id) rank — over-represented semantic regions
    (boilerplate clusters, template farms) are cut to the cap while
    small clusters pass through whole, flattening the corpus's semantic
    density without a similarity join. Returns kept rows only:
    (id, cid, cluster_n, keep_rank).

    Fully oracle-checkable: the k-means fit is
    ``similarity.kmeans_assign`` (lowest-k-id seeds, decimal-exact
    centroids) and the within-cluster choice is a portable md5 rank —
    no randomness anywhere. Scale shape: the assign output (two narrow
    columns) is staged once across its two consumers (rank + sizes);
    per-cluster ranks run through ``ranking.grouped_rank_by_range``
    (range slices — a 10^9-member boilerplate cluster never lands in
    one task); cluster sizes are a k-row broadcast join.
    """
    from .dedup import _materialize_and_release
    from .ranking import grouped_rank_by_range
    from .similarity import kmeans_assign
    from .staging import stage

    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    assign = stage(
        kmeans_assign(df, id_col, vec_col, k=k, n_iter=n_iter), "cluster_assign"
    )
    keyed = assign.withColumn(
        "_h", F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    )
    ranked = grouped_rank_by_range(keyed, "cid", "_h")
    sizes = assign.groupBy("cid").agg(F.count("*").alias("cluster_n"))
    out = (
        ranked.join(F.broadcast(sizes), "cid")
        .where(F.col("group_rank") <= cap)
        .select(
            id_col,
            "cid",
            "cluster_n",
            F.col("group_rank").alias("keep_rank"),
        )
    )
    return _materialize_and_release(out, assign)
