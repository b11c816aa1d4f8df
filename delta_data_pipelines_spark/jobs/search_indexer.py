"""Continuous CDC-driven search-index maintenance — the reference's
hourly ``sql_search_incremental_dag`` (public repo,
sql_search_incremental_dag.py:24-140) recast as one always-on
pipeline over the engine's own storage primitives, closing the
composition gap the r10 review named: ``replication``-style
version-watermark tailing + the flagship pivot/join/transform
(queries.search_index.build_index_frames) + an incrementally-merged
index table.

Where :mod:`.incremental_index` replays the reference literally (a
TIME watermark over ``modified_date``, which misses deletes and
mid-window backdates), this indexer derives the work list from the
CHANGE FEEDS of the source tables, so every mutation class converges:

    tick():
      1. read each source's version; diff against the versions the
         index last absorbed (the index table's watermark, see the
         storage.table module doc: deltas and watermark are one atomic
         CAS commit)
      2. derive AFFECTED FACT KEYS: changed fact rows by key, changed
         EAV (lineitem) rows by their fact FK, changed role (events)
         rows by user → the fact rows of those users
      3. recompute index rows for exactly those keys through the
         flagship plan (the fact scan is semi-join-pruned to the
         affected keys, which also prunes both tall-table arms —
         tick cost follows the change volume, not the corpus)
      4. one apply_changes: fresh rows upsert; affected keys that no
         longer qualify DELETE (a status flip or hard delete leaves
         the index, which the time-watermark path cannot do)

    A dim change (customer/nation/region/part) falls back to a
    full-scope recompute in that tick — the reference handles dims
    with the nightly full rebuild; here it is just the same tick with
    the affected-key prune removed, and stale ids are deleted by the
    same diff. Bootstrap (no watermark) is that full-scope path too:
    on an empty index it writes every row, and on an index a foreign
    write left unwatermarked it also deletes the ids that no longer
    qualify.

At-least-once ticks, exactly-once content: a crash before the commit
leaves watermark and rows untouched (clean retry); the commit carries
both. Replayed ticks re-derive the same scoped recompute and
apply_changes is content-idempotent on it.

100 TB posture: the per-tick cost is (change-feed diff) + (index plan
over affected keys only). On unbucketed sources ``changes()`` reads
the change rows the span's commits recorded, on bucketed sources only
the buckets whose manifest entry moved; the users→fact mapping is one
broadcast semi-join against the fact (bucket-prunable further when the
fact is bucketed by customer key). The index apply touches only fed
buckets when the index itself is bucketed by id.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.staging import release_staged, stage
from ..queries.search_index import (
    FULL_REBUILD_SINCE,
    FULL_REBUILD_STATUS,
    build_index_frames,
)
from ..storage.table import VersionedTable

# CDC key sets per source table (rows must be identifiable across
# versions for snapshot_diff)
_SOURCE_KEYS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "customer": ["c_custkey"],
    "nation": ["n_nationkey"],
    "region": ["r_regionkey"],
    "part": ["p_partkey"],
}
_DIMS = ("customer", "nation", "region", "part")


def default_fact_filter() -> F.Column:
    """The full-rebuild qualification (status + window) — the filter
    under which the maintained index must equal search_index_full."""
    return (F.col("o_orderstatus") == FULL_REBUILD_STATUS) & (
        F.col("o_orderdate") > F.lit(FULL_REBUILD_SINCE).cast("timestamp")
    )


class ContinuousSearchIndexer:
    """Maintain ``index`` (keyed on ``id``) as the materialization of
    the flagship search-index query over seven source tables.

    ``sources`` maps the star-schema names (orders, lineitem, events,
    customer, nation, region, part) to tables (unbucketed or bucketed);
    ``fact_filter`` defaults to the full-rebuild qualification."""

    def __init__(
        self,
        spark: SparkSession,
        sources: dict[str, VersionedTable],
        index: VersionedTable,
        fact_filter: F.Column | None = None,
    ) -> None:
        missing = sorted(set(_SOURCE_KEYS) - set(sources))
        if missing:
            raise ValueError(f"sources missing tables: {missing}")
        self.spark = spark
        self.sources = dict(sources)
        self.index = index
        self.fact_filter = (
            fact_filter if fact_filter is not None else default_fact_filter()
        )

    def indexed_versions(self) -> dict[str, int] | None:
        """Source versions the index last absorbed: its watermark."""
        return self.index.applied_versions() or None

    # ---- the tick -----------------------------------------------------------

    def _snapshots(self, versions: dict[str, int]) -> dict[str, DataFrame]:
        return {
            name: t.read(versions[name]) for name, t in self.sources.items()
        }

    def _build(
        self, snaps: dict[str, DataFrame], scope: DataFrame | None
    ) -> DataFrame:
        orders = snaps["orders"]
        if scope is not None:
            # the affected-key prune: scopes the fact scan AND (through
            # the shared filtered.select(keys) semi-joins inside the
            # plan) both tall-table aggregation arms
            orders = orders.join(
                F.broadcast(scope), ["o_orderkey"], "left_semi"
            )
        return build_index_frames(
            orders,
            snaps["customer"],
            snaps["nation"],
            snaps["region"],
            snaps["lineitem"],
            snaps["part"],
            snaps["events"],
            self.fact_filter,
        )

    def _affected_keys(
        self,
        applied: dict[str, int],
        latest: dict[str, int],
        snaps: dict[str, DataFrame],
    ) -> DataFrame:
        """Fact keys whose index rows MAY have changed in the span —
        a superset is safe (recompute of an unchanged row is a no-op
        upsert), a miss is not."""
        parts: list[DataFrame] = []
        if latest["orders"] != applied["orders"]:
            ch = self.sources["orders"].changes(
                applied["orders"], latest["orders"], keys=_SOURCE_KEYS["orders"]
            )
            parts.append(ch.select("o_orderkey"))
        if latest["lineitem"] != applied["lineitem"]:
            ch = self.sources["lineitem"].changes(
                applied["lineitem"],
                latest["lineitem"],
                keys=_SOURCE_KEYS["lineitem"],
            )
            parts.append(ch.select(F.col("l_orderkey").alias("o_orderkey")))
        if latest["events"] != applied["events"]:
            users = (
                self.sources["events"]
                .changes(
                    applied["events"], latest["events"],
                    keys=_SOURCE_KEYS["events"],
                )
                .select("user_id")
                .distinct()
            )
            # one broadcast semi-join maps changed users to their fact
            # rows (the only place a source table is scanned unscoped;
            # bucket-prunable when the fact is bucketed by o_custkey)
            parts.append(
                snaps["orders"]
                .join(
                    F.broadcast(users),
                    snaps["orders"].o_custkey == users.user_id,
                    "left_semi",
                )
                .select("o_orderkey")
            )
        if not parts:
            empty = snaps["orders"].select("o_orderkey").limit(0)
            return empty
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    def tick(self) -> dict[str, Any]:
        """Catch the index up to the sources' current versions; no-op
        when nothing moved. ``upserts`` counts index rows written,
        ``deletes`` the index ids actually removed: the feed deletes
        only affected ids the index holds."""
        latest = {
            name: t.latest_version() for name, t in self.sources.items()
        }
        none_tables = sorted(n for n, v in latest.items() if v is None)
        if none_tables:
            raise ValueError(f"source tables never written: {none_tables}")
        applied = self.indexed_versions()
        if applied == latest:
            return {"mode": "noop", "indexed_versions": latest}
        snaps = self._snapshots(latest)

        indexed = (
            self.index.read().select(F.col("id").alias("o_orderkey"))
            if self.index.exists() else None
        )
        full = applied is None or any(latest[d] != applied[d] for d in _DIMS)
        if full:
            # bootstrap and the nightly-full fallback: recompute
            # everything, delete index ids that no longer qualify
            scope = None
            stale_universe = indexed
        else:
            # staged: 3 consumers
            scope = stage(self._affected_keys(applied, latest, snaps), "index_scope")
            # only affected ids the index holds can be deleted from it
            stale_universe = scope.join(indexed, ["o_orderkey"], "left_semi")
        try:
            rebuilt = self._build(snaps, scope)
            feed = rebuilt.withColumn("_change_type", F.lit("insert"))
            if stale_universe is not None:
                # affected keys whose recompute produced no row: their
                # fact row was deleted or disqualified -> delete them
                dels = (
                    stale_universe.select(F.col("o_orderkey").alias("id"))
                    .join(rebuilt.select("id"), ["id"], "left_anti")
                    .withColumn("_change_type", F.lit("delete"))
                )
                feed = feed.unionByName(dels, allowMissingColumns=True)
            # a full-scope feed upserts every index row: recording its
            # change rows would write the index twice more
            commit = self.index.apply_changes(
                feed, keys=["id"], applied=latest, record_changes=not full,
            )
        finally:
            if scope is not None:
                release_staged(scope)
        if applied is None:
            mode = "bootstrap"
        else:
            mode = "full" if full else "incremental"
        return {
            "mode": mode,
            "version": commit.version,
            "upserts": commit.metrics.get("upserts", 0),
            "deletes": commit.metrics.get("deletes", 0),
            "indexed_versions": latest,
        }
