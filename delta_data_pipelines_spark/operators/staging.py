"""The one staging primitive for multi-consumer frames.

The rule: every frame the package materialises goes through
:func:`stage`, and every staged frame is released through
:func:`release_staged` by the function that staged it. A function
releases a staged frame in a ``finally`` unless the frame escapes in
the lazy plan it returns; an operator never releases a frame its
caller handed in, so it stages its own copy of any input it must pin.

Why staging at all: Spark 4.1.2 reuses no identical exchanges (0
ReusedExchange anywhere, with and without AQE), so a subtree with two
or more consumers re-executes once per consumer unless it is
materialized. The local form is the eager ``localCheckpoint`` — one
materialization job, every consumer reads an ExistingRDD. That is the
BENCH posture, not the production one: ``localCheckpoint`` stores
blocks on executor-local storage with no lineage fallback, so on a
real cluster one lost executor makes the job unrecoverable mid-query.

At 100 TB the staged frames are exactly the artifacts a production
run writes to storage anyway (KN type tables are the frozen LM, the
vocabulary is the tokenizer's stored table, the labeled frame is a
curation intermediate). Setting

    spark.conf.set("spark.delta_pipelines.staging.dir", "/warehouse/_staging")

switches every ``stage()`` call to write-parquet-and-read-back —
fault-tolerant, resumable, and the written table collapses duplicated
upstream work exactly like the checkpoint does. Each call writes a
fresh ``<name>-<uuid hex>`` dir directly under the staging dir
(staged frames are intra-query intermediates, never cross-run caches),
and :func:`release_staged` deletes it. With the conf unset, ``stage``
is ``localCheckpoint(eager=True)``.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame

_DIR_CONF = "spark.delta_pipelines.staging.dir"
# the dir name stage() writes: <name>-<uuid4 hex>
_STAGED_NAME = re.compile(r"^[\w.-]+-[0-9a-f]{32}$")


def _staging_dir(df: DataFrame) -> str | None:
    try:
        return df.sparkSession.conf.get(_DIR_CONF, None)
    except Exception:
        return None


def stage(df: DataFrame, name: str) -> DataFrame:
    """Materialize a multi-consumer frame once.

    Default (conf unset): eager ``localCheckpoint``. With
    ``spark.delta_pipelines.staging.dir`` set: write the frame to a
    ``<name>-<uuid hex>`` parquet dir under that dir and read it back —
    the fault-tolerant production form (a lost executor recomputes from
    storage instead of killing the job).
    """
    sdir = _staging_dir(df)
    if sdir:
        path = f"{sdir.rstrip('/')}/{name}-{uuid.uuid4().hex}"
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)
    return df.localCheckpoint(eager=True)


def _delete_staged_dir(df: DataFrame, jplan) -> None:
    """Delete the written-form dir behind a frame :func:`stage`
    returned, through the path's Hadoop FileSystem. Only a path
    directly under the configured staging dir and named
    ``<name>-<32 hex>`` qualifies — a user table is never deleted."""
    sdir = _staging_dir(df)
    if not sdir or jplan.getClass().getSimpleName() != "LogicalRelation":
        return
    spark = df.sparkSession
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    hconf = spark._jsc.hadoopConfiguration()
    roots = jplan.relation().location().rootPaths()
    if roots.size() != 1:
        return
    root = roots.head()
    fs = root.getFileSystem(hconf)
    root = fs.makeQualified(root)
    parent = fs.makeQualified(hpath(sdir.rstrip("/") or "/"))
    if root.getParent() is None or not root.getParent().equals(parent):
        return
    if _STAGED_NAME.match(root.getName()):
        fs.delete(root, True)


def release_staged(*dfs: DataFrame | None) -> None:
    """Release frames :func:`stage` returned: the executor-storage
    blocks behind an eager ``localCheckpoint`` (its backing RDD is
    persisted OUTSIDE the CacheManager, so ``DataFrame.unpersist``
    alone does not touch it), any CacheManager entry, and the
    written-form dir. Only the plan root is inspected, so pass the
    frame exactly as ``stage`` returned it. ``None`` entries are
    skipped, so a ``finally`` can name a frame a failed stage never
    assigned. Every branch is best-effort: release hygiene must never
    fail an operator."""
    for df in dfs:
        if df is None:
            continue
        try:
            df.unpersist()
        except Exception:
            pass
        try:
            jplan = df._jdf.queryExecution().analyzed()
            if jplan.getClass().getSimpleName() == "LogicalRDD":
                jplan.rdd().unpersist(False)
            else:
                _delete_staged_dir(df, jplan)
        except Exception:
            pass
