"""Vector similarity search over an embedding column.

Baseline: exact brute-force cosine top-k (query set × corpus). Scale
path: sign-LSH bucketing — deterministic pseudo-random hyperplanes
derived from xxhash64, so buckets are reproducible with no fitted
model — which prunes the corpus side to matching buckets.

All vector math is native expressions (zip_with / aggregate over
array<double>): JVM-side, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .staging import release_staged, stage


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def _probe_frames(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """The shared broadcast-probe projections: corpus as
    (neighbor_id, _cv), queries as (query_id, _qv) — ONE definition so
    brute_force_topk and range_search can never diverge in probe
    shape."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("_cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_qv")
    )
    return c, q


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: every query row against every corpus row.

    The query side is broadcast (top-k search is almost always a small
    probe set against a huge corpus); ranking is a per-query window.
    Deterministic tie-break: higher cosine first, then smaller id.
    """
    c, q = _probe_frames(corpus, queries, id_col, vec_col)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim", F.round(cosine(F.col("_qv"), F.col("_cv")), 9)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def jl_project(
    vec: Column, out_dim: int, salt: str = "jl"
) -> Column:
    """Johnson–Lindenstrauss sign projection to ``out_dim`` dimensions:
    ``y_j = round( (Σ_i s(j,i)·v_i) / sqrt(out_dim), 9 )`` with
    ``s(j,i) ∈ {±1}`` drawn from the portable md5 hash of
    ``salt:j:i`` — the Achlioptas (2001) database-friendly random
    projection, deterministic and engine-reproducible (no fitted
    matrix to store, any engine regenerates the same signs). The per-
    component sum is a sequential left fold in input order, so the
    pre-round doubles are bit-identical to an oracle's fold.

    Cost note: the expression form evaluates d_in × out_dim md5 hashes
    per row — right for probe-sized audits and one-off projections;
    for projecting a full 100 TB corpus, materialize the sign matrix
    once as a (j, i, s) broadcast table and join instead (the signs
    are the same either way)."""
    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    v = as_double(vec)
    # resolved at the end: an EMPTY input vector projects to NULL (the
    # fold over sequence(0, -1) would otherwise zip against Spark's
    # DESCENDING [0, -1] and yield [NULL]*out_dim, while the oracle's
    # list_reduce over an empty list raises — NULL on both engines is
    # the one consistent answer)

    def _sign(j: Column, i: Column) -> Column:
        from .sampling import md5_hash64 as _h

        key = F.concat(
            F.lit(salt + ":"), j.cast("string"), F.lit(":"), i.cast("string")
        )
        return F.when(F.pmod(_h(key), F.lit(2)) == 0, F.lit(1.0)).otherwise(
            F.lit(-1.0)
        )

    def _component(j: Column) -> Column:
        signed = F.zip_with(
            v,
            F.sequence(F.lit(0), F.size(v) - 1),
            lambda x, i: _sign(j, i) * x,
        )
        return F.round(
            F.aggregate(signed, F.lit(0.0), lambda a, b: a + b)
            / F.lit(float(out_dim) ** 0.5),
            9,
        )

    proj = F.transform(
        F.sequence(F.lit(0), F.lit(out_dim - 1)), lambda j: _component(j)
    )
    return F.when(F.size(v) > 0, proj)


def euclidean(a: Column, b: Column) -> Column:
    """Euclidean distance as the same sequential fold both engines
    run: sqrt of the left-fold sum of squared component diffs."""
    sq = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR'98) — the retrieval that balances relevance
    against redundancy, the standard shape for eval-set selection and
    RAG context assembly where plain top-k returns k near-duplicates:

        pick_r = argmax_d  λ·sim(q,d) − (1−λ)·max_{s∈picked} sim(d,s)

    Greedy over a BOUNDED candidate pool (the exact cosine top-``pool``
    per query), with the k selection rounds unrolled into one plan
    (the sim_kmeans precedent — fully oracle-checkable, which no
    driver-loop implementation is). Deterministic ties: higher MMR
    score, then smaller neighbor id. All similarities are round-9
    cosine; each round's argmax is a ``max_by(struct)`` partial-agg
    per query — never a window.

    Scale shape: the only corpus-sized work is the candidate scan
    (query side broadcast, same as brute_force_topk — swap in the IVF
    candidate generator for a bucketed pool at larger scale); the
    pair table is pool² rows per query, bounded by construction, and
    is staged once (k−1 consumers) like the dd_* operator stages.
    NULL/zero-norm similarities rank last (nullif-based), so
    degenerate vectors can never win a round."""
    if not 1 <= k <= pool:
        raise ValueError(f"need 1 <= k <= pool, got k={k} pool={pool}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lambda must be in [0, 1], got {lam}")
    c, q = _probe_frames(corpus, queries, id_col, vec_col)
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).withColumn("_rel", F.round(cosine(F.col("_qv"), F.col("_cv")), 9))
    w = Window.partitionBy("query_id").orderBy(
        F.col("_rel").desc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= pool)
        .select("query_id", "neighbor_id", "_rel", "_cv")
        .transform(stage, "mmr_pool")
    )
    pairs = (
        cand.select(
            "query_id",
            F.col("neighbor_id").alias("_ia"),
            F.col("_cv").alias("_va"),
        )
        .join(
            cand.select(
                "query_id",
                F.col("neighbor_id").alias("_ib"),
                F.col("_cv").alias("_vb"),
            ),
            "query_id",
        )
        .where(F.col("_ia") != F.col("_ib"))
        .select(
            "query_id",
            "_ia",
            "_ib",
            F.round(cosine(F.col("_va"), F.col("_vb")), 9).alias("_s"),
        )
        .transform(stage, "mmr_pairs")
    )
    try:
        base = cand.select("query_id", "neighbor_id", "_rel")
        picked: DataFrame | None = None
        remaining = base
        for r in range(1, k + 1):
            if picked is None:
                mmr = F.round(F.lit(lam) * F.col("_rel"), 9)
                cur = remaining.withColumn("_mmr", mmr)
            else:
                # rename the grouped side's keys before the join: remaining
                # and maxsim share lineage, so attribute-equality conditions
                # can resolve both sides to the SAME column (Spark warns
                # "trivially true equals predicate") and silently join
                # across queries
                maxsim = (
                    pairs.join(
                        picked.select(
                            "query_id", F.col("neighbor_id").alias("_ib")
                        ),
                        ["query_id", "_ib"],
                    )
                    .groupBy("query_id", "_ia")
                    .agg(F.max("_s").alias("_ms"))
                    .withColumnRenamed("query_id", "_qq")
                )
                cur = (
                    remaining.join(
                        maxsim,
                        (F.col("query_id") == F.col("_qq"))
                        & (F.col("neighbor_id") == F.col("_ia")),
                        "left",
                    )
                    .select(
                        "query_id",
                        "neighbor_id",
                        "_rel",
                        F.round(
                            F.lit(lam) * F.col("_rel")
                            - F.lit(1.0 - lam) * F.coalesce(F.col("_ms"), F.lit(0.0)),
                            9,
                        ).alias("_mmr"),
                    )
                )
            # argmax via min_by on (-score, id): negating the DOUBLE score
            # (always safe) instead of the id keeps the smallest-id tie rule
            # working for ANY orderable id type (a negated string id would
            # cast to NULL and break determinism); NULL scores (zero-norm
            # vectors) are excluded up front so min_by can never pick one
            pick = (
                cur.where(F.col("_mmr").isNotNull())
                .groupBy("query_id")
                .agg(
                    F.min_by(
                        F.struct(
                            F.col("neighbor_id").alias("i"),
                            F.col("_mmr").alias("m"),
                        ),
                        F.struct(-F.col("_mmr"), F.col("neighbor_id")),
                    ).alias("_p")
                )
                .select(
                    "query_id",
                    F.col("_p.i").alias("neighbor_id"),
                    F.col("_p.m").alias("mmr_score"),
                    F.lit(r).alias("rank"),
                )
                # cut the lineage per round (the near_dup_clusters iterative
                # precedent): without it round r's plan embeds rounds
                # 1..r-1 recursively and optimizer+codegen time blows up
                # (~40s for k=5 at sf0.01 vs ~4s with the barrier); the
                # checkpointed frame is one row per query — tiny
                .transform(stage, "mmr_pick")
            )
            picked = pick if picked is None else picked.unionByName(pick)
            remaining = remaining.join(
                pick.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
                "left_anti",
            )
    finally:
        # every round's pick is staged, so the result reads neither frame
        release_staged(cand, pairs)
    return picked


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Radius search: every corpus vector with cosine ≥ ``threshold``
    of each query — the fixed-similarity companion to top-k (dedup
    audits and recall measurements want "all neighbors above t", not a
    count cut). Same broadcast-probe shape as ``brute_force_topk``;
    no window at all — the threshold replaces the rank."""
    c, q = _probe_frames(corpus, queries, id_col, vec_col)
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", F.round(cosine(F.col("_qv"), F.col("_cv")), 9))
        .where(F.col("cosine_sim") >= threshold)
        .select("query_id", "neighbor_id", "cosine_sim")
    )


def lsh_bucket(vec: Column, n_planes: int = 8) -> Column:
    """Sign-LSH bucket id from ``n_planes`` pseudo-random hyperplanes.

    Plane p's j-th component is ±1 from the parity of md5's first byte
    over ``"p_j"`` — deterministic, data-independent, nothing to fit
    or persist, and ENGINE-PORTABLE (the KMV/SimHash md5 discipline),
    so the DuckDB oracle recomputes identical buckets: the projection
    is a sequential left-to-right fold in both engines over the same
    double operands, which IEEE arithmetic makes bit-identical.
    Bucket = integer of the sign bits. 2^8 = 256 cells; at 100 TB
    raise n_planes so cells stay ~10⁴-10⁵ vectors and write the
    corpus partitioned by bucket for partition-pruned probes.
    """
    def side(p: Column, j: Column) -> Column:
        byte = F.conv(
            F.substring(
                F.md5(F.concat(p.cast("string"), F.lit("_"), j.cast("string"))),
                1,
                2,
            ),
            16,
            10,
        ).cast("int")
        return F.when(byte.bitwiseAND(F.lit(1)) == 1, F.lit(1.0)).otherwise(
            F.lit(-1.0)
        )

    def plane_sign(p: Column, v: Column) -> Column:
        proj = F.aggregate(
            F.zip_with(
                v,
                F.sequence(F.lit(0), F.size(v) - 1),
                lambda x, j: x * side(p, j),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))

    dv = as_double(vec)
    return F.aggregate(
        F.transform(F.sequence(F.lit(0), F.lit(n_planes - 1)), lambda p: plane_sign(p, dv)),
        F.lit(0),
        lambda acc, bit: acc * 2 + bit,
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "_v",
) -> DataFrame:
    """Assign every vector to its max-cosine centroid (ties → smaller
    centroid id). MAP-ONLY: the centroids collapse to ONE cid-sorted
    array row (broadcast), and the per-vector argmax is a fold over
    that array — no explode to k× rows, no row_number window, no
    shuffle. The previous shape (vectors × broadcast(centroids) +
    argmax window) shuffled the k·|corpus| scored frame — carrying
    BOTH the vector and the centroid on every row — just to pick a
    per-vector max (r14 optimization round, guide §2.4: remove
    shuffles outright; td_cluster_balance 3.12 → measured-after
    below, and every IVF build/serve assignment shares the saving).

    Value-identical to the window pick `_sim DESC NULLS LAST, cid
    ASC`: the fold walks centroids in ascending-cid order, a NULL
    cosine (zero-norm side — `cosine`'s nullif denominator) never
    overwrites, ties keep the earlier (smaller) cid, and an all-NULL
    vector takes the smallest cid (the init), exactly as NULLS LAST
    ordering did. The per-vector norm is staged once per row instead
    of re-derived per centroid — same nullif(norm·norm) denominator
    expression, so identical doubles. (Scope: NaN-free vectors — the
    fold's strict `>` never lets a NaN cosine displace a finite one,
    where the window's `_sim DESC` ordered NaN above every double;
    see `_nearest_code`.)"""
    carr = centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("cid"), F.col("cv"), norm(F.col("cv")).alias("_nc"))
            )
        ).alias("_cs")
    )
    cs = F.col("_cs")
    # two levels so each cosine is evaluated ONCE: lambda bodies get no
    # codegen CSE (the repo-wide staging rule), and a fold step that
    # both tests and carries `s` would re-run the O(dim) dot per
    # reference. Level 1 materializes (sim, cid) per centroid; level 2
    # folds over field accesses only.
    sims = F.transform(
        cs,
        lambda c: F.struct(
            (
                dot(F.col(vec_col), c["cv"])
                / F.nullif(F.col("_nv") * c["_nc"], F.lit(0.0))
            ).alias("sim"),
            c["cid"].alias("cid"),
        ),
    )
    init = F.struct(
        F.lit(None).cast("double").alias("sim"),
        F.try_element_at(cs, F.lit(1))["cid"].alias("cid"),
    )

    def step(acc, c):
        take = c["sim"].isNotNull() & (
            acc["sim"].isNull() | (c["sim"] > acc["sim"])
        )
        return F.when(take, c).otherwise(acc)

    return (
        vectors.withColumn("_nv", norm(F.col(vec_col)))
        .crossJoin(F.broadcast(carr))
        # empty-centroid edge: the old cross join emitted nothing;
        # keep that contract (with >=1 centroid every vector has a row)
        .where(F.size(cs) >= 1)
        .select(id_col, vec_col, F.aggregate(sims, init, step)["cid"].alias("cid"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: inverted-file cells from deterministic
    centroids (default: the ``n_cells`` lowest-id corpus vectors —
    nothing to fit, fully reproducible), queries probe their
    ``nprobe`` nearest cells only.

    ``centroids`` (cid, cv:array<double>) swaps in fitted cells — pass
    ``kmeans_centroids(...)`` to run the production build: k-means-
    refined cells balance cell sizes, which tightens the probe-cost
    tail. At 100 TB: the corpus is *written partitioned by cell*, so a
    probe is partition-pruned I/O — the assignment pass here (corpus ×
    broadcast centroids) is the expensive one-off build step, amortized
    across all queries. Same output schema as brute_force_topk;
    recall < 1 by construction.
    """
    if centroids is not None:
        cent = centroids.select("cid", "cv")
    else:
        # n_cells actual lowest ids, not `id < n_cells` — the latter
        # silently yields fewer cells on sparse/offset id spaces (same
        # contract as the kmeans/pq seeds; identical on dense 0-based).
        # orderBy+limit ON THE VECTOR-CARRYING FRAME compiles to
        # TakeOrderedAndProject (per-partition top-k, no shuffle) —
        # a distinct+join formulation costs a full id shuffle (ids are
        # unique by the vector-table contract, so no dedup is needed)
        cent = (
            corpus.select(
                F.col(id_col).alias("cid"),
                as_double(F.col(vec_col)).alias("cv"),
            )
            .orderBy("cid")
            .limit(n_cells)
        )
    c = corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
    q = queries.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))

    c_cells = ivf_assign(c, cent, id_col).withColumnRenamed(id_col, "neighbor_id")
    # query-side: keep nprobe nearest cells instead of 1
    qs = q.join(F.broadcast(cent)).withColumn(
        "_sim", cosine(F.col("_v"), F.col("cv"))
    )
    wq = Window.partitionBy(id_col).orderBy(F.col("_sim").desc(), F.col("cid"))
    q_cells = (
        qs.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= nprobe)
        .select(F.col(id_col).alias("query_id"), F.col("_v").alias("_qv"), "cid")
    )
    scored = (
        c_cells.join(q_cells, "cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", F.round(cosine(F.col("_qv"), F.col("_v")), 9))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def kmeans_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
) -> DataFrame:
    """Spherical k-means (cosine Lloyd) with deterministic seeding —
    the centroid-fitting step the IVF index needs at real scale
    (ivf_topk's "centroids come from a sampled k-means").

    Fully oracle-checkable, which no seeded/random k-means is:
    - seeds = the ``k`` lowest-id vectors (data-deterministic);
    - a fixed ``n_iter`` of Lloyd rounds, unrolled into one lazy plan
      (no driver-side convergence loop, no collect);
    - centroid means use decimal(38,12) sums rounded to 9 decimals, so
      both engines compute bit-identical centroids regardless of
      aggregation order — the float-sum-order trick from td_curate.

    Each round is: assign (vectors × broadcast centroids + per-vector
    argmax window) then componentwise mean via posexplode → groupBy
    (cid, pos) → rebuild array sorted by pos. Per round the shuffle is
    one hash partition on (cid, pos) — k·dim groups — plus the argmax
    window on the vector id; nothing quadratic, nothing driver-side.
    """
    assign = _kmeans_final_assign(df, id_col, vec_col, k, n_iter)
    return assign.select(id_col, "cid")


def _centroid_means(assign: DataFrame) -> DataFrame:
    """Componentwise decimal-exact means of each cluster's members:
    posexplode → groupBy (cid, pos) → rebuild array sorted by pos."""
    comps = assign.select("cid", F.posexplode("_v").alias("pos", "val"))
    means = comps.groupBy("cid", "pos").agg(
        F.round(
            F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
            / F.count("*"),
            9,
        ).alias("c")
    )
    return means.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("cv")
    )


def _kmeans_final_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_iter: int,
) -> DataFrame:
    """Unrolls every Lloyd round into ONE lazy plan — what the oracle
    checks, and fine for the 1-3 rounds an IVF build needs (plan depth
    grows linearly with rounds)."""
    if k < 1 or n_iter < 1:
        raise ValueError(f"k and n_iter must be >= 1, got k={k} n_iter={n_iter}")
    vecs = df.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
    # seed from the k actual lowest ids, not `id < k` — the latter
    # silently yields < k centroids on sparse/offset id spaces (same
    # contract as pq_index's seed; identical on dense 0-based ids).
    # orderBy+limit on the vector-carrying frame = TakeOrderedAndProject
    # (per-partition top-k, no shuffle, no join-back)
    cent = (
        vecs.select(F.col(id_col).alias("cid"), F.col("_v").alias("cv"))
        .orderBy("cid")
        .limit(k)
    )
    assign = ivf_assign(vecs, cent, id_col)
    for _ in range(n_iter - 1):
        cent = _centroid_means(assign)
        assign = ivf_assign(vecs, cent, id_col)
    return assign


def kmeans_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
) -> DataFrame:
    """Fitted cell centroids (cid, cv) — the production IVF build step:
    run the deterministic Lloyd rounds, then return the mean of each
    FINAL cluster. Feed straight into ``ivf_topk(centroids=...)``."""
    assign = _kmeans_final_assign(df, id_col, vec_col, k, n_iter)
    return _centroid_means(assign)


def _nearest_code(sub: DataFrame, cent: DataFrame) -> DataFrame:
    """MAP-ONLY nearest-codeword pick: the codebook collapses to ONE
    code-sorted array row per sub_id (broadcast), and the per-(vector,
    subspace) argmax is a fold over that array — the ``ivf_assign``
    shape with ``sub_id`` as the broadcast-join key (r14 optimization
    round, guide §2.4). The previous shape joined sub-vectors × the
    m·k-row codebook (a k× row explosion carrying the sub-vector on
    every row) and shuffled it through a row_number window just to
    pick a per-(vector, subspace) max.

    Value-identical to the window pick `_sim DESC NULLS LAST, code
    ASC`: the fold walks codewords in ascending-code order, a NULL
    cosine never overwrites, ties keep the earlier (smaller) code,
    an all-NULL sub-vector takes the smallest code, and a sub_id
    absent from the codebook emits nothing (the old inner join).
    The per-sub-vector norm is staged once per row; the codeword
    norm once per codebook entry — same ``dot/nullif(norm·norm)``
    expression order as ``cosine``, so identical doubles.

    NaN caveat (scoping the claim above): the fold's strict
    ``c.sim > acc.sim`` never lets a NaN similarity displace a finite
    one, while the replaced window's ``_sim DESC`` sort ordered NaN
    ABOVE every double — so for a vector/codeword containing NaN or
    Inf components the two forms can pick different codes. This
    matches ``ivf_assign``'s fold (the intended semantics) and is
    unreachable for finite fixtures; the value-identical claim holds
    for NaN-free inputs.

    Returns ``sub``'s rows plus ``_win`` struct<sim:double, code> of
    the winning codeword."""
    carr = cent.groupBy("sub_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("code"), F.col("_cv"), norm(F.col("_cv")).alias("_nc")
                )
            )
        ).alias("_cs")
    )
    cs = F.col("_cs")
    # two levels so each cosine is evaluated ONCE: lambda bodies get no
    # codegen CSE (the repo-wide staging rule) — see ivf_assign.
    sims = F.transform(
        cs,
        lambda c: F.struct(
            (
                dot(F.col("_sv"), c["_cv"])
                / F.nullif(F.col("_ns") * c["_nc"], F.lit(0.0))
            ).alias("sim"),
            c["code"].alias("code"),
        ),
    )
    init = F.struct(
        F.lit(None).cast("double").alias("sim"),
        F.try_element_at(cs, F.lit(1))["code"].alias("code"),
    )

    def step(acc, c):
        take = c["sim"].isNotNull() & (
            acc["sim"].isNull() | (c["sim"] > acc["sim"])
        )
        return F.when(take, c).otherwise(acc)

    return (
        sub.withColumn("_ns", norm(F.col("_sv")))
        .join(F.broadcast(carr), "sub_id")
        .withColumn("_win", F.aggregate(sims, init, step))
        .drop("_ns", "_cs")
    )


def _pq_assign(sub: DataFrame, cent: DataFrame, id_col: str) -> DataFrame:
    """Per-subspace nearest-codeword assignment — map-only via
    :func:`_nearest_code`. Ties → smaller code, matching ivf_assign."""
    return _nearest_code(sub, cent).select(
        id_col, "sub_id", "_sv", F.col("_win")["code"].alias("code")
    )


def _pq_centroid_means(assign: DataFrame) -> DataFrame:
    """Componentwise decimal-exact codeword means per (subspace, code)
    — the _centroid_means discipline with sub_id as one more grouping
    column, so all m codebooks refine in the same shuffle."""
    comps = assign.select("sub_id", "code", F.posexplode("_sv").alias("pos", "val"))
    means = comps.groupBy("sub_id", "code", "pos").agg(
        F.round(
            F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
            / F.count("*"),
            9,
        ).alias("c")
    )
    return means.groupBy("sub_id", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("_cv")
    )


def pq_codes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
) -> DataFrame:
    """Product-quantization codes — the ANN memory-compression step
    (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    IEEE TPAMI 2011): split each vector into ``m`` contiguous
    subspaces, fit an independent deterministic codebook per subspace,
    and emit each vector's per-subspace nearest-codeword code. A
    vector then costs ``m·log2(k)`` bits on the ADC scan path instead
    of ``dim`` floats — the difference between an in-memory and an
    on-disk candidate scan at corpus scale.

    Fully oracle-checkable, like kmeans_assign: seeds are the ``k``
    lowest-id vectors' sub-vectors, ``n_iter`` Lloyd rounds unroll
    into one lazy plan, centroid means use decimal(38,12) sums rounded
    to 9 decimals, assignment is spherical (cosine) with ties to the
    smaller code. All ``m`` codebooks train TOGETHER: ``sub_id`` is
    just another grouping column through the assign/mean rounds, so
    each Lloyd round is one shuffle for every subspace, not ``m``
    sequential jobs. At 100 TB the fit runs on a sample and the coding
    pass is a broadcast join (m·k codewords) + argmax window — nothing
    quadratic, nothing driver-side.

    ``dim`` must be divisible by ``m`` (a ragged tail sub-vector would
    silently score against full-length codewords). Output: one row per
    (vector, subspace): (id_col, sub_id int, code).
    """
    codes, _cb = pq_index(df, id_col, vec_col, m, k, n_iter)
    return codes


def _subspace_slices(
    df: DataFrame, id_col: str, vec_col: str, m: int, out_col: str
) -> DataFrame:
    """(id, sub_id, out_col): each vector's m contiguous sub-vectors;
    sublen derives from the array length in-plan (dim need not be
    known at build time, only dim % m == 0 — ENFORCED per row: a
    ragged dimension would otherwise silently drop the vector's tail
    from fit, coding, and every ADC score). NULL vectors are EXCLUDED
    (nothing to encode — and a NULL size would otherwise fall into the
    ragged-dim raise, killing the whole build for one bad row)."""
    vecs = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    ).where(F.col("_v").isNotNull())
    sublen = (F.size("_v") / m).cast("int")
    sliced = F.when(
        F.size("_v") % m == 0,
        F.slice(F.col("_v"), F.col("sub_id") * sublen + 1, sublen),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"vector dim must be divisible by m={m}, got dim="),
                F.size("_v").cast("string"),
            )
        )
    )
    return vecs.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub_id"),
        F.col("_v"),
    ).select(id_col, "sub_id", sliced.alias(out_col))


def pq_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Fit + code in one shot: returns ``(codes, codebook)`` where
    ``codes`` is (id, sub_id, code) and ``codebook`` is (sub_id, code,
    _cv) — the EXACT centroid table the final assignment scored
    against, which is what the ADC scan must use (a re-fit codebook
    would disagree with the stored codes)."""
    if m < 1 or k < 1 or n_iter < 1:
        raise ValueError(
            f"m, k, n_iter must be >= 1, got m={m} k={k} n_iter={n_iter}"
        )
    sub = _subspace_slices(df, id_col, vec_col, m, "_sv")
    # Seed codebooks from the k actual lowest ids (docstring contract) —
    # NOT `id < k`, which assumes a dense 0-based id space and silently
    # yields < k codewords (empty downstream results) on sparse or
    # offset id spaces. The k seed VECTORS come straight off a
    # TakeOrderedAndProject (per-partition top-k, no shuffle) and are
    # sliced separately — k rows, so the second slice pass is free;
    # codes are the seed ids themselves, keeping the fit deterministic
    # whatever the id space looks like.
    seeds = df.select(id_col, vec_col).orderBy(id_col).limit(k)
    cent = _subspace_slices(seeds, id_col, vec_col, m, "_cv").select(
        "sub_id", F.col(id_col).alias("code"), "_cv"
    )
    assign = _pq_assign(sub, cent, id_col)
    for _ in range(n_iter - 1):
        cent = _pq_centroid_means(assign)
        assign = _pq_assign(sub, cent, id_col)
    return assign.select(id_col, "sub_id", "code"), cent


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    keep_sim: bool = False,
) -> DataFrame:
    """Code vectors against a FIXED codebook — the incremental half of
    the PQ lifecycle: new vectors arriving after a build are coded
    with the stored codewords (one broadcast join + per-(vector,
    subspace) argmax, no Lloyd rounds), exactly how a production index
    absorbs an hourly batch without refitting. Assignment semantics
    are identical to the fit's final round (`_pq_assign`): spherical,
    ties to the smaller code — so codes appended later are
    indistinguishable from codes written at build time.

    ``keep_sim=True`` additionally emits the winning assignment
    cosine (``_sim``) per (vector, subspace) — the raw material for
    the codebook-drift gate (``jobs.ann_index.pq_assignment_quality``):
    when fresh batches assign markedly worse than the build-time
    baseline, the codebook no longer spans the data and a refit is
    due."""
    sub = _subspace_slices(vectors, id_col, vec_col, m, "_sv")
    win = _nearest_code(sub, codebook)
    cols = [F.col(id_col), F.col("sub_id"), F.col("_win")["code"].alias("code")]
    if keep_sim:
        cols.append(F.col("_win")["sim"].alias("_sim"))
    return win.select(*cols)


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
    topk: int = 5,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes — how a PQ index is
    actually served: per query, precompute the m·k partial dot
    products against the codebook (the ADC lookup table), then score
    every corpus vector by summing m TABLE LOOKUPS joined on its
    (sub_id, code) — the corpus side of the scan touches only the
    8-bit codes, never the original floats. Approximate cosine =
    lut-summed dot / (|q| · |reconstruction|), with the reconstruction
    norm likewise summed from per-codeword norms.

    Scale shape: lut is |queries|·m·k rows (broadcast); the scan is
    one equi-join codes⋈lut + partial-aggregable groupBy — linear in
    corpus size with a constant ~m-fold row multiplier, against
    brute-force's |corpus|·|queries| full-vector scoring. Float
    discipline: partial dots/norms round to 9 dp then sum as
    decimal(38,12) (order-free, so both engines produce identical
    scores); ranking uses the rounded score with id tie-break.
    """
    codes, cb = pq_index(corpus, id_col, vec_col, m, k, n_iter)
    return pq_adc_serve(codes, cb, queries, id_col, vec_col, m, topk)


def pq_adc_serve(
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    topk: int = 5,
) -> DataFrame:
    """The ADC serving scan against a PREBUILT index — the shape a
    production deployment runs hourly while ``pq_index`` runs as a
    build job (mirroring the reference's full-rebuild vs incremental
    DAG split, sql_search_full_rebuild_dag.py:173 /
    sql_search_incremental_dag.py:205). ``codes`` is (id, sub_id,
    code) and ``codebook`` (sub_id, code, _cv) — exactly what
    ``pq_index`` returns / ``jobs.ann_index.refresh_pq_index``
    persists. The plan is the serve-only suffix of ``pq_adc_topk``:
    per-query lookup table (broadcast) ⋈ codes + one partial-aggable
    groupBy + one per-query window — no fit stages, so the exchange
    count stays flat however big the corpus or the training run that
    produced the codebook."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_qv")
    )
    lut = adc_lut(q, codebook, m)
    scored = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(lut), ["sub_id", "code"])
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    return adc_rank(scored, topk)


def adc_lut(q: DataFrame, codebook: DataFrame, m: int) -> DataFrame:
    """Per-query ADC lookup table from a (query_id, _qv) frame:
    (query_id, sub_id, code, _pd, _cn2, _qn) — the ONE definition of
    the partial-dot/codeword-norm/query-norm terms, shared by
    ``pq_adc_serve`` and the composed IVF-PQ serve
    (jobs.ann_index.serve_ivfpq_topk): their probing differs, their
    scoring must not (the nprobe=n_cells ≡ flat-serve invariant is
    test-pinned on exactly this sharing)."""
    qn = q.withColumn("_qn", norm(F.col("_qv")))
    qsub = _subspace_slices(
        q.select(F.col("query_id").alias("qid"), F.col("_qv")),
        "qid", "_qv", m, "_qs",
    )
    return (
        qsub.join(F.broadcast(codebook), "sub_id")
        .select(
            F.col("qid").alias("query_id"),
            "sub_id",
            "code",
            F.round(dot(F.col("_qs"), F.col("_cv")), 9)
            .cast("decimal(38,12)")
            .alias("_pd"),
            F.round(dot(F.col("_cv"), F.col("_cv")), 9)
            .cast("decimal(38,12)")
            .alias("_cn2"),
        )
        .join(qn.select("query_id", "_qn"), "query_id")
    )


def adc_rank(scored_pairs: DataFrame, topk: int) -> DataFrame:
    """ADC aggregation + top-k: (query_id, neighbor_id, _pd, _cn2,
    _qn) pairs → decimal-summed approx cosine, ranked per query.
    Shared by the same two serves as :func:`adc_lut`."""
    scored = scored_pairs.groupBy("query_id", "neighbor_id").agg(
        F.round(
            F.sum("_pd").cast("double")
            / (F.min("_qn") * F.sqrt(F.sum("_cn2").cast("double"))),
            9,
        ).alias("approx_cos")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "approx_cos", "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: probe only the query's LSH cell.

    Same output schema as brute_force_topk; recall < 1 by construction
    (single-probe). Multi-probe = union over neighboring buckets.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("_cv"),
        lsh_bucket(F.col(vec_col), n_planes).alias("_bkt"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("_qv"),
        lsh_bucket(F.col(vec_col), n_planes).alias("_bkt"),
    )
    scored = (
        c.join(F.broadcast(q), ["_bkt"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", F.round(cosine(F.col("_qv"), F.col("_cv")), 9))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )
