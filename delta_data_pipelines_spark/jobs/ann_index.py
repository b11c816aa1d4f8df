"""ANN index lifecycle: build/refresh a PQ index into versioned
storage, serve top-k from the stored artifact.

This is the build-once / serve-many split the reference operates its
search index with (full rebuild DAG vs hourly incremental DAG —
``sql_search_full_rebuild_dag.py:173`` /
``sql_search_incremental_dag.py:205``), applied to the ANN path: the
k-means codebook fit is a scheduled BUILD job writing two versioned
tables, and the serving query is a flat scan that never re-fits —
at corpus scale the fit touches every vector (sampled in production)
while a serve touches only the 8-bit codes and a broadcast-sized
codebook, so fusing them (as the oracle-twin demo ``sim_pq_adc_topk``
does) pays the fit's ~30 exchanges on every query.

Storage layout, under one root:
    <root>/codes     — (id, sub_id, code), one row per (vector, subspace)
    <root>/codebook  — (sub_id, code, _cv), m·k rows
    plus a ``meta`` JSON file pinning the fit parameters (m, k,
    n_iter, vec_col) AND the (codes, codebook) version pair — so a
    serve can neither slice queries with a different ``m`` than the
    fit nor pair tables from different refreshes.

Versioning comes from ``VersionedTable``: a refresh is one atomic
overwrite per table, the atomically-replaced meta is the cross-table
commit point (serves read the pinned version pair), and a bad
codebook rolls back with ``restore`` like any other table.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..operators import similarity
from ..operators.staging import release_staged, stage
from ..storage import JsonMetaStore, VersionedTable


class PQIndexStore(JsonMetaStore):
    """The two versioned tables + fit-parameter meta under one root.

    The meta file is the index's COMMIT POINT: it pins the
    (codes_version, codebook_version) pair a serve should read, and it
    is replaced atomically — so a serve racing a refresh pairs either
    the complete old index or the complete new one, never a new
    codebook with old codes."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.codes = VersionedTable(spark, os.path.join(root, "codes"))
        self.codebook = VersionedTable(spark, os.path.join(root, "codebook"))

    def exists(self) -> bool:
        return (
            self.codes.exists()
            and self.codebook.exists()
            and self.meta_exists()
        )


def refresh_pq_index(
    store: PQIndexStore,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
) -> dict[str, Any]:
    """BUILD job: fit the PQ index and commit codes + codebook.

    The Lloyd fit is evaluated exactly ONCE (the codebook — m·k rows —
    is eagerly staged straight off the fit plan); codes then come from
    a single ``pq_encode`` pass against the staged codebook, which by
    construction reproduces the fit's own final assignments
    (test-asserted in tests/test_jobs.py), and the build-time drift
    baseline is aggregated from that same staged pass — so the whole
    refresh is two corpus passes (fit + encode), not the three a
    naive fit-then-write-then-measure sequence costs. Meta is written
    LAST, after both commits, and PINS the (codes, codebook) version
    pair — serves read the pinned versions, so a serve racing this
    refresh pairs either the complete old index or the complete new
    one (the old versions remain readable until vacuum)."""
    _, cb = similarity.pq_index(vectors, id_col, vec_col, m, k, n_iter)
    cb = stage(cb, "pq_codebook")  # the ONE fit evaluation
    coded = stage(
        similarity.pq_encode(vectors, cb, id_col, vec_col, m, keep_sim=True),
        "pq_codes",
    )
    try:
        c1 = store.codebook.overwrite(cb)
        c2 = store.codes.overwrite(coded.drop("_sim"))
        baseline = _mean_assignment_sim(coded)
    finally:
        release_staged(cb, coded)
    store._write_meta(
        {
            "id_col": id_col,
            "vec_col": vec_col,
            "m": m,
            "k": k,
            "n_iter": n_iter,
            "baseline_mean_sim": baseline,
            "codes_version": c2.version,
            "codebook_version": c1.version,
        }
    )
    return {
        "codes_version": c2.version,
        "codebook_version": c1.version,
        "m": m,
        "k": k,
        "n_iter": n_iter,
        "baseline_mean_sim": baseline,
    }


def _resolve_vec_col(meta: dict[str, Any], caller: str | None) -> str:
    """The build-time vector column is part of the fit (like m and the
    id column), so the meta pin wins — but a caller EXPLICITLY naming a
    different column gets an error, never a silent override (slicing
    the wrong column returns plausible wrong neighbors). ``None``
    defers to the pin; a bare-default 'embedding' on a legacy index
    whose meta predates the pin passes through."""
    pinned = meta.get("vec_col")
    if pinned is None:
        return caller or "embedding"
    if caller is not None and caller != pinned:
        raise ValueError(
            f"index was built on vector column {pinned!r}; got "
            f"vec_col={caller!r} — pass None (or the pinned name) to "
            f"use the fit's column, or rebuild the index"
        )
    return pinned


def _mean_assignment_sim(coded_with_sim: DataFrame) -> float:
    """Mean winning-assignment cosine over a ``pq_encode(keep_sim=True)``
    frame — the drift-gate signal, deterministic (per-row round to 9,
    decimal sum, one final float division), so the build-time baseline
    in the index meta is exactly reproducible."""
    from pyspark.sql import functions as F

    row = coded_with_sim.agg(
        F.round(
            F.sum(F.round(F.col("_sim"), 9).cast("decimal(38,12)")).cast(
                "double"
            )
            / F.count("*"),
            9,
        ).alias("mean_sim")
    ).collect()[0]
    return float(row["mean_sim"] or 0.0)


def pq_assignment_quality(
    vectors: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
) -> tuple[int, float]:
    """(n_vectors, mean winning-assignment cosine) of ``vectors``
    against ``codebook`` — the standalone refit-gate probe (refresh
    and append compute the same number off their own staged encode
    pass via ``_mean_assignment_sim``)."""
    from pyspark.sql import functions as F

    sims = stage(
        similarity.pq_encode(vectors, codebook, id_col, vec_col, m, keep_sim=True),
        "pq_quality",
    )
    try:
        n = sims.count() // max(1, m)
        return int(n), _mean_assignment_sim(sims)
    finally:
        release_staged(sims)


def append_pq_codes(
    store: PQIndexStore,
    new_vectors: DataFrame,
    vec_col: str | None = None,
) -> dict[str, Any]:
    """INCREMENTAL index maintenance — the ANN analog of the
    reference's hourly incremental DAG next to its weekly full rebuild
    (``sql_search_incremental_dag.py:205``): code ONLY the new batch
    against the STORED codebook (no Lloyd rounds, one broadcast join)
    and MERGE into the codes table keyed by (id, subspace) —
    insert-if-absent, so an at-least-once upstream can replay a batch
    without duplicating codes.

    Returns batch metrics including the batch's mean assignment
    cosine next to the build-time baseline from the index meta: when
    ``batch_mean_sim`` drops well below ``baseline_mean_sim``, new
    data has drifted off the codebook's span and the caller should
    schedule ``refresh_pq_index`` (the decision threshold is the
    caller's — this job only measures)."""
    if not store.exists():
        raise FileNotFoundError(
            f"no PQ index at {store.root}; run refresh_pq_index first"
        )
    meta = store.meta()
    id_col, m = meta["id_col"], int(meta["m"])
    vec_col = _resolve_vec_col(meta, vec_col)
    cb = store.codebook.read(meta.get("codebook_version"))
    # merge + quality agg share one eval
    coded = stage(
        similarity.pq_encode(new_vectors, cb, id_col, vec_col, m, keep_sim=True),
        "pq_append_codes",
    )
    try:
        if coded.isEmpty():
            # nothing to absorb: no commit, and NO drift number — a 0.0
            # mean on an empty batch would read as catastrophic drift
            return {
                "codes_version": store.codes.latest_version(),
                "inserted": 0,
                "batch_mean_sim": None,
                "baseline_mean_sim": meta.get("baseline_mean_sim"),
            }
        commit = store.codes.merge(
            coded.drop("_sim"), keys=[id_col, "sub_id"], when_matched="ignore"
        )
        # advance the serve pin to the merged codes — CONDITIONALLY: if a
        # refresh completed while this append ran, its meta pins a new
        # codebook and this batch's codes (encoded against the OLD one)
        # must not be pinned over it
        pinned = store._update_meta(
            _if_unchanged={"codebook_version": meta.get("codebook_version")},
            codes_version=commit.version,
        )
        out = {
            "codes_version": commit.version,
            "inserted": commit.metrics.get("inserted"),
            "batch_mean_sim": _mean_assignment_sim(coded),
            "baseline_mean_sim": meta.get("baseline_mean_sim"),
        }
    finally:
        release_staged(coded)
    if not pinned:
        out["superseded_by_refresh"] = True
    return out


class IVFIndexStore(JsonMetaStore):
    """IVF index on storage: a centroid table (cid, cv) + the corpus
    BUCKETED BY CELL ID — the layout ``similarity.ivf_topk``'s
    docstring prescribes for 100 TB ('the corpus is written
    partitioned by cell, so a probe is partition-pruned I/O'). The
    cells table is bucketed on ``cid``: a serve reads
    only the bucket dirs its probe cells hash into
    (``read_buckets``), never the whole corpus, and an incremental
    append merges only the touched buckets. Like the PQ store, the
    meta file pins the (centroids_version, cells_version) pair a
    serve should pair-read.

    ``n_buckets=None`` (default) adopts an existing table's stored
    geometry — REOPENING an index never passes a count (a conflicting
    one raises); the default of 16 applies only when the cells table
    is first written."""

    def __init__(
        self, spark: SparkSession, root: str, n_buckets: int | None = None
    ):
        self.spark = spark
        self.root = root
        self.centroids = VersionedTable(spark, os.path.join(root, "centroids"))
        self.cells = VersionedTable(
            spark, os.path.join(root, "cells"), bucket_key="cid",
            n_buckets=n_buckets,
        )

    def exists(self) -> bool:
        return (
            self.centroids.exists()
            and self.cells.exists()
            and self.meta_exists()
        )


def refresh_ivf_index(
    store: IVFIndexStore,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_iter: int = 0,
) -> dict[str, Any]:
    """BUILD job: choose cells, assign every vector, lay the corpus
    out bucketed by cell. ``n_iter=0`` uses the deterministic
    lowest-id centroids (nothing to fit — the oracle-checkable mode);
    ``n_iter>=1`` runs the spherical k-means refinement
    (``similarity.kmeans_centroids``), the production mode that
    balances cell sizes and tightens the probe-cost tail."""
    from ..operators.similarity import as_double, ivf_assign, kmeans_centroids

    from pyspark.sql import functions as F

    if n_iter >= 1:
        cent = kmeans_centroids(vectors, id_col, vec_col, n_cells, n_iter)
    else:
        # n_cells lowest ids via TakeOrderedAndProject — no shuffle,
        # no join-back (same formulation as ivf_topk's default seed)
        cent = (
            vectors.select(
                F.col(id_col).alias("cid"),
                as_double(F.col(vec_col)).alias("cv"),
            )
            .orderBy("cid")
            .limit(n_cells)
        )
    c1 = store.centroids.overwrite(cent)
    assigned = ivf_assign(
        vectors.select(id_col, as_double(F.col(vec_col)).alias("_v")),
        store.centroids.read(c1.version),
        id_col,
    ).select(id_col, "cid", F.col("_v").alias(vec_col))
    c2 = store.cells.overwrite(assigned)
    store._write_meta(
        {
            "id_col": id_col,
            "vec_col": vec_col,
            "n_cells": n_cells,
            "n_iter": n_iter,
            "centroids_version": c1.version,
            "cells_version": c2.version,
        }
    )
    return {
        "centroids_version": c1.version,
        "cells_version": c2.version,
        "n_cells": n_cells,
        "n_iter": n_iter,
    }


def append_ivf_cells(
    store: IVFIndexStore,
    new_vectors: DataFrame,
) -> dict[str, Any]:
    """INCREMENTAL IVF maintenance: assign ONLY the new batch against
    the STORED centroids and merge into the cell-bucketed corpus —
    insert-if-absent on the vector id, so an at-least-once upstream
    can replay a batch without duplicating rows, and the bucketed
    merge rewrites only the bucket dirs the batch's cells hash into
    (write cost follows the batch, not the corpus). Centroids are not
    refit — like the PQ append, drift in cell balance is a refresh
    decision, observable via ``store.cells.bucket_stats()``.

    Merge keys are (id, cid): the bucketed merge requires its bucket
    key among the join keys, and a vector's cid is a deterministic
    function of its embedding and the STORED centroids, so a replayed
    batch (same bytes) matches on both and inserts nothing. A vector
    re-arriving with DIFFERENT embedding bytes may assign to a
    different cell and INSERT a second (id, cid) row — id uniqueness
    is the upstream vector table's contract, same as every vector
    operator here; deduplicating ids per batch against the whole
    corpus would cost a full id-projection scan per micro-batch,
    which breaks the batch-proportional write contract. Callers that
    mutate embeddings in place should route through a full
    ``refresh_ivf_index`` instead."""
    from pyspark.sql import functions as F

    from ..operators.similarity import as_double, ivf_assign

    if not store.exists():
        raise FileNotFoundError(
            f"no IVF index at {store.root}; run refresh_ivf_index first"
        )
    meta = store.meta()
    # legacy stores whose meta predates the vec_col pin default to
    # the historical column, as _resolve_vec_col does
    id_col, vec_col = meta["id_col"], meta.get("vec_col", "embedding")
    assigned = ivf_assign(
        new_vectors.select(id_col, as_double(F.col(vec_col)).alias("_v")),
        store.centroids.read(meta.get("centroids_version")),
        id_col,
    ).select(id_col, "cid", F.col("_v").alias(vec_col))
    if assigned.isEmpty():
        return {
            "cells_version": store.cells.latest_version(),
            "inserted": 0,
            "buckets_written": 0,
        }
    commit = store.cells.merge(assigned, keys=[id_col, "cid"])
    # advance the serve pin — conditionally, as append_pq_codes: a
    # refresh completing mid-append pins new centroids, and this
    # batch's cells (assigned under the OLD ones) must not override it
    pinned = store._update_meta(
        _if_unchanged={"centroids_version": meta.get("centroids_version")},
        cells_version=commit.version,
    )
    out = {
        "cells_version": commit.version,
        "inserted": commit.metrics.get("inserted"),
        "buckets_written": commit.metrics.get("buckets_written"),
    }
    if not pinned:
        out["superseded_by_refresh"] = True
    return out


def serve_ivf_topk(
    store: IVFIndexStore,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """SERVE: IVF top-k from the stored layout with PRUNED I/O — the
    probe set's cell ids map to bucket dirs (``bucket_ids_of``) and
    only those dirs are read; at scale that is the difference between
    scanning the corpus per query batch and scanning
    ``nprobe/n_cells`` of it. Scoring matches ``similarity.ivf_topk``
    expression-for-expression (round-9 cosine, id tie-break), so a
    serve against an unrefined index returns exactly the in-plan
    query's rows. EAGER at the probe step (one tiny localCheckpoint of
    |queries|·nprobe rows) — the probe list must be known to prune the
    bucket read."""
    from ..operators.similarity import as_double, cosine

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if not store.exists():
        raise FileNotFoundError(
            f"no IVF index at {store.root}; run refresh_ivf_index first"
        )
    meta = store.meta()
    # legacy stores whose meta predates the vec_col pin default to
    # the historical column, as _resolve_vec_col does
    id_col, vec_col = meta["id_col"], meta.get("vec_col", "embedding")
    cent = store.centroids.read(meta.get("centroids_version"))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_qv")
    )
    qs = q.join(F.broadcast(cent)).withColumn(
        "_sim", cosine(F.col("_qv"), F.col("cv"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("cid")
    )
    q_cells = (
        qs.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= nprobe)
        .select("query_id", "_qv", "cid")
        .transform(stage, "ivf_probe_cells")
    )
    cells_src = store.cells.read_buckets(
        store.cells.bucket_ids_of(q_cells, "cid"),
        version=meta.get("cells_version"),
    )
    scored = (
        cells_src.withColumnRenamed(id_col, "neighbor_id")
        .join(q_cells, "cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim",
            F.round(cosine(F.col("_qv"), as_double(F.col(vec_col))), 9),
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


def run_incremental_ann_ingest(
    vec_stream: DataFrame,
    store: "PQIndexStore | IVFIndexStore",
    checkpoint_dir: str,
    drift_log: list | None = None,
):
    """STREAM job: keep an ANN index fresh under continuous embedding
    ingest — each micro-batch of vectors is absorbed through the
    store's incremental append (``append_pq_codes`` /
    ``append_ivf_cells``), which is insert-if-absent on deterministic
    keys, so the at-least-once replay a crashed micro-batch causes
    merges to a no-op instead of duplicate codes. The codebook/
    centroids are never refit in-stream (that is the scheduled refresh
    job's call); for PQ stores each batch's drift measurement
    (batch vs build-time mean assignment cosine) is appended to
    ``drift_log`` when given — the stream's refit signal.

    Completes the continuous-pipeline triad: curation state
    (incremental_curate), sketch state (sketch_state), and now index
    state all absorb micro-batches with batch-proportional cost
    against bucketed/versioned storage."""
    is_pq = isinstance(store, PQIndexStore)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        id_col = store.meta()["id_col"]
        batch = batch_df.dropDuplicates([id_col])
        if is_pq:
            res = append_pq_codes(store, batch)
            if drift_log is not None:
                drift_log.append(
                    {
                        "epoch": epoch_id,
                        "batch_mean_sim": res["batch_mean_sim"],
                        "baseline_mean_sim": res["baseline_mean_sim"],
                    }
                )
        else:
            append_ivf_cells(store, batch)

    return (
        vec_stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def serve_pq_topk(
    store: PQIndexStore,
    queries: DataFrame,
    vec_col: str | None = None,
    topk: int = 5,
) -> DataFrame:
    """SERVE: ADC top-k from the stored index — no fit stages in the
    plan. ``m``, the id column, and the vector column come from the
    index meta (the fit that produced the codes), never from the
    caller, so a serve can't slice query vectors into a different
    subspace grid than the codebook was trained on; the codes and
    codebook are read at the meta's PINNED version pair, so a serve
    racing a refresh pairs a consistent index."""
    if not store.exists():
        raise FileNotFoundError(
            f"no PQ index at {store.root}; run refresh_pq_index first"
        )
    meta = store.meta()
    return similarity.pq_adc_serve(
        store.codes.read(meta.get("codes_version")),
        store.codebook.read(meta.get("codebook_version")),
        queries,
        id_col=meta["id_col"],
        vec_col=_resolve_vec_col(meta, vec_col),
        m=int(meta["m"]),
        topk=topk,
    )


def serve_ivfpq_topk(
    ivf_store: IVFIndexStore,
    pq_store: PQIndexStore,
    queries: DataFrame,
    topk: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """SERVE: IVF-PQ composition — coarse cells prune the CANDIDATE
    SET, PQ codes prune the BYTES PER CANDIDATE (the FAISS IVFADC
    architecture, Jégou et al. TPAMI'11, re-expressed as three joins).

    The two stores are built independently over the same corpus
    (``refresh_ivf_index`` + ``refresh_pq_index``) and composed only
    at serve time:

    1. probe — queries score against the broadcast centroid table,
       keep ``nprobe`` cells each (one tiny eager checkpoint, needed
       to enumerate the bucket dirs);
    2. candidates — ONLY the probed cells' bucket dirs are read
       (``read_buckets``; I/O ∝ nprobe/n_cells of the corpus), giving
       (query_id, neighbor_id) candidate pairs;
    3. ADC — candidates join the 8-bit codes, then the broadcast
       per-query lookup table, and the partial-aggable groupBy sums
       subspace dots exactly as ``similarity.pq_adc_serve`` — scoring
       math is shared expression-for-expression, so with
       ``nprobe = n_cells`` this returns ``serve_pq_topk``'s rows
       IDENTICALLY (test-pinned), and with ``nprobe < n_cells`` it
       returns the PQ ranking of the probed subset.

    At 100 TB both prunings multiply: a 4096-cell/8-probe index reads
    ~0.2% of the corpus rows, and each row read is m bytes of codes,
    not the raw vector. Cross-store guards: the two indexes must pin
    the same id column and vector column (a serve composing an IVF
    over ``embedding`` with a PQ over ``projection`` returns
    plausible nonsense otherwise).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..operators.similarity import as_double, cosine

    if not ivf_store.exists():
        raise FileNotFoundError(
            f"no IVF index at {ivf_store.root}; run refresh_ivf_index first"
        )
    if not pq_store.exists():
        raise FileNotFoundError(
            f"no PQ index at {pq_store.root}; run refresh_pq_index first"
        )
    imeta, pmeta = ivf_store.meta(), pq_store.meta()
    for key in ("id_col", "vec_col"):
        if imeta.get(key) != pmeta.get(key):
            raise ValueError(
                f"IVF/PQ stores disagree on {key}: "
                f"{imeta.get(key)!r} vs {pmeta.get(key)!r} — rebuild one "
                f"of them over the same corpus columns"
            )
    id_col = imeta["id_col"]
    vec_col = imeta.get("vec_col", "embedding")
    m = int(pmeta["m"])

    # 1. probe: nprobe nearest cells per query (broadcast centroids)
    cent = ivf_store.centroids.read(imeta.get("centroids_version"))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_qv")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_csim").desc(), F.col("cid")
    )
    q_cells = (
        q.join(F.broadcast(cent))
        .withColumn("_csim", cosine(F.col("_qv"), F.col("cv")))
        .withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= nprobe)
        .select("query_id", "cid")
        .transform(stage, "ivfpq_probe_cells")
    )

    # 2. candidates: pruned bucket read -> (query_id, neighbor_id)
    cells_src = ivf_store.cells.read_buckets(
        ivf_store.cells.bucket_ids_of(q_cells, "cid"),
        version=imeta.get("cells_version"),
    )
    cand = (
        cells_src.select(F.col(id_col).alias("neighbor_id"), "cid")
        .join(q_cells, "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )

    # 3. ADC over candidates only — the scoring (LUT terms + decimal
    # aggregation + rank) is the SHARED definition in similarity
    # (adc_lut/adc_rank): pq_adc_serve consumes the same helpers, so
    # the test-pinned nprobe=n_cells ≡ flat-serve invariant cannot be
    # broken by a one-sided scoring change
    from ..operators.similarity import adc_lut, adc_rank

    codes = pq_store.codes.read(pmeta.get("codes_version"))
    cb = pq_store.codebook.read(pmeta.get("codebook_version"))
    lut = adc_lut(q, cb, m)
    scored = cand.join(
        codes.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id"
    ).join(F.broadcast(lut), ["query_id", "sub_id", "code"])
    return adc_rank(scored, topk)


def sweep_ivf_near_dups(
    store: IVFIndexStore,
    threshold: float = 0.98,
    cells: list | None = None,
) -> DataFrame:
    """Semantic-dedup sweep from the STORED cell layout — the
    build-once / sweep-many split applied to embedding dedup: the
    in-plan form (`dd_embedding_blocked`) assigns every vector to a
    cell on every run; this reads the pinned cells table where the
    assignment already lives, so the sweep plan is ONLY the blocked
    pair search (dedup.embedding_near_dup_pairs with the stored cid
    as the block), never all-pairs and never a re-assignment.

    ``cells`` narrows an INCREMENTAL sweep to the listed cell ids —
    the cells an append just touched (``append_ivf_cells`` returns
    buckets_written; ``bucket_stats`` maps buckets to cids) — with
    bucket-dir-pruned I/O: cost follows the touched cells, not the
    corpus. Returns (id_a, id_b, cosine_sim) pairs ≥ threshold;
    feed to ``dedup.near_dup_clusters`` / ``collapse`` as usual."""
    from pyspark.sql import functions as F

    from ..operators import dedup

    if not store.exists():
        raise FileNotFoundError(
            f"no IVF index at {store.root}; run refresh_ivf_index first"
        )
    meta = store.meta()
    # legacy stores whose meta predates the vec_col pin default to
    # the historical column, as _resolve_vec_col does
    id_col, vec_col = meta["id_col"], meta.get("vec_col", "embedding")
    if cells is not None:
        if not cells:
            raise ValueError(
                "cells=[] sweeps nothing; pass None for a full sweep "
                "or a non-empty cell-id list for an incremental one"
            )
        spark = store.spark
        # type the probe frame FROM the stored table's cid column —
        # guessing from the python values (isinstance int) mistypes
        # numpy ints pulled from collected rows, and a string-typed
        # probe hashes into DIFFERENT buckets than the stored longs,
        # silently pruning the sweep to nothing
        full = store.cells.read(meta.get("cells_version"))
        cid_type = full.schema["cid"].dataType
        from pyspark.sql.types import (
            NumericType,
            StringType,
            StructField,
            StructType,
        )

        if isinstance(cid_type, NumericType):
            vals = [int(c) for c in cells]  # numpy ints coerce too
        elif isinstance(cid_type, StringType):
            vals = [str(c) for c in cells]
        else:
            vals = list(cells)
        cell_df = spark.createDataFrame(
            [(c,) for c in vals],
            StructType([StructField("cid", cid_type)]),
        )
        src = store.cells.read_buckets(
            store.cells.bucket_ids_of(cell_df, "cid"),
            version=meta.get("cells_version"),
        ).join(F.broadcast(cell_df), "cid", "left_semi")
    else:
        src = store.cells.read(meta.get("cells_version"))
    return dedup.embedding_near_dup_pairs(
        src, id_col, vec_col, block_col="cid", threshold=threshold
    )


def refresh_pq_if_drifted(
    store: PQIndexStore,
    vectors: DataFrame,
    probe: DataFrame | None = None,
    tolerance: float = 0.05,
) -> dict[str, Any]:
    """Drift-gated refresh policy — the scheduler-side closing of the
    loop whose signal ``append_pq_codes`` / the streaming ingest
    already emit: measure the CURRENT corpus's mean assignment cosine
    against the stored codebook and refit only when it fell more than
    ``tolerance`` below the build-time baseline (new data drifted off
    the codebook's span; re-fitting on every schedule tick wastes the
    full fit cost when nothing moved).

    ``probe`` (default: ``vectors``) lets the caller measure on a
    cheap deterministic sample while refitting on everything —
    at corpus scale the probe is the difference between a
    codes-sized scan and a full fit per tick. Returns the probe
    numbers plus either ``refreshed: False`` or the refresh result.
    """
    if not store.exists():
        raise FileNotFoundError(
            f"no PQ index at {store.root}; run refresh_pq_index first"
        )
    meta = store.meta()
    baseline = meta.get("baseline_mean_sim")
    if baseline is None:
        raise ValueError(
            f"index at {store.root} has no baseline_mean_sim; "
            f"re-run refresh_pq_index to establish the drift baseline"
        )
    cb = store.codebook.read(meta.get("codebook_version"))
    n, mean_sim = pq_assignment_quality(
        probe if probe is not None else vectors,
        cb,
        id_col=meta["id_col"],
        vec_col=meta.get("vec_col", "embedding"),
        m=int(meta["m"]),
    )
    out = {
        "probe_n": n,
        "probe_mean_sim": mean_sim,
        "baseline_mean_sim": baseline,
        "tolerance": tolerance,
    }
    if mean_sim >= baseline - tolerance:
        return {**out, "refreshed": False}
    res = refresh_pq_index(
        store,
        vectors,
        id_col=meta["id_col"],
        vec_col=meta.get("vec_col", "embedding"),
        m=int(meta["m"]),
        k=int(meta["k"]),
        n_iter=int(meta.get("n_iter", 2)),
    )
    return {**out, "refreshed": True, **res}
