"""Continuous CDC replication: tail a table's change feed into a
replica.

The reference's hourly incremental indexer re-derives changed rows
from a watermark and reprocesses them into the search index
(sql_search_incremental_dag.py:118-140 in the public repo). This
module is that shape done as storage-level replication, composing the
two CDC halves the tables already expose — ``changes()`` (Delta
``readChangeFeed`` parity) and ``apply_changes()`` (``APPLY CHANGES
INTO`` parity) — into a driver you can run forever:

    tail = ChangeFeedTail(source, replica, keys=["content_url"])
    tail.tick()                      # apply everything new, once
    q = tail.as_stream(ckpt_dir)     # or: poll as a streaming query

Consistency story (at-least-once ticks, exactly-once content):

- The tail's own state is ONE number — the last source version whose
  changes have been applied — kept as the replica's watermark under
  ``source.root`` (``storage.table`` module doc): the apply and the
  watermark advance are ONE CAS commit, so a crash leaves either both
  or neither.
- Each tick diffs ``changes(applied, latest)`` against the latest
  version it SAW; source writers can keep committing concurrently —
  new versions are simply picked up next tick (a snapshot-consistent
  span, never a torn read, because version manifests are immutable).
- The replica is single-writer-per-tail: the CAS commit protocol
  turns a second concurrent tail into ``ConcurrentWriteError`` on one
  side; the loser's commit never landed, so its retry converges.

Scale posture: on bucketed tables BOTH halves follow churn, not table
size — ``changes()`` reads only buckets whose manifest entry moved
between the two versions, and ``apply_changes()`` rewrites only the
buckets the feed touches, so a tick's cost is proportional to the
change volume however big the table. Source ``vacuum`` retention
bounds how far a lagging tail can catch up from (Delta's exact
contract); a tail lagging past retention must re-bootstrap.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import functions as F

from .table import VersionedTable, snapshot_diff


class ChangeFeedTail:
    """Tails ``source.changes()`` into ``replica`` via
    ``replica.apply_changes()``, tracking the applied source version
    in the replica's watermark.

    ``keys`` identify rows across versions (the CDC key set); a
    bucketed replica needs its bucket key among them (the
    ``apply_changes`` bucket-scope rule)."""

    def __init__(
        self,
        source: VersionedTable,
        replica: VersionedTable,
        keys: list[str],
    ) -> None:
        if not keys:
            raise ValueError("keys required to tail a change feed")
        self.source = source
        self.replica = replica
        self.keys = list(keys)

    # ---- state ----------------------------------------------------------

    def applied_version(self) -> int | None:
        """Last source version whose changes are applied, or None
        before bootstrap."""
        applied = self.replica.applied_versions()
        if applied and self.source.root not in applied:
            raise ValueError(
                f"replica at {self.replica.root} tails "
                f"{', '.join(applied)}, not {self.source.root}"
            )
        return applied.get(self.source.root)

    # ---- the tick -------------------------------------------------------

    def tick(self) -> dict[str, Any]:
        """Apply every source version committed since the last tick.

        Bootstrap (no watermark): the source's latest snapshot lands
        through the SAME ``apply_changes`` path — as an all-insert
        feed onto an empty replica, or as a ``snapshot_diff`` against
        a non-empty one (a foreign write cleared the watermark and the
        source may since have deleted rows the replica holds; the diff
        carries those deletes, so re-bootstrap converges exactly
        instead of stranding phantoms). Steady state: one
        ``changes(applied, latest)`` span. Either way the apply and
        the watermark advance are one commit."""
        latest = self.source.latest_version()
        if latest is None:  # source not yet created
            return {"applied_from": None, "applied_to": None, "rows": 0}
        applied = self.applied_version()
        if applied is not None and applied >= latest:
            return {"applied_from": applied, "applied_to": applied, "rows": 0}
        if applied is None:
            snap = self.source.read(latest)
            if self.replica.exists() and not self.replica.read().isEmpty():
                # re-bootstrap over rows a foreign write left: an
                # all-insert feed could never DELETE a row the source
                # has dropped — a phantom the steady-state spans would
                # then never touch. Diff against what the replica holds
                # so it converges to the snapshot exactly.
                feed = snapshot_diff(self.replica.read(), snap, self.keys)
            else:
                feed = snap.withColumn("_change_type", F.lit("insert"))
        else:
            feed = self.source.changes(applied, latest, keys=self.keys)
        commit = self.replica.apply_changes(
            feed, keys=self.keys, applied={self.source.root: latest}
        )
        m = commit.metrics
        return {
            "applied_from": applied,
            "applied_to": latest,
            "rows": m.get("upserts", 0) + m.get("deletes", 0),
        }

    # ---- streaming form -------------------------------------------------

    def as_stream(self, checkpoint_dir: str, poll_seconds: int = 10):
        """The readStream-style driver: a rate-source heartbeat whose
        ``foreachBatch`` runs :meth:`tick` every ``poll_seconds``.
        The rate rows are only a clock — all real state lives in the
        tables and the replica's watermark, so the stream can be stopped,
        its checkpoint discarded, and restarted anywhere without
        affecting replication correctness."""
        spark = self.replica.spark
        return (
            spark.readStream.format("rate")
            .option("rowsPerSecond", 1)
            .load()
            .writeStream.trigger(processingTime=f"{poll_seconds} seconds")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(lambda _df, _eid: self.tick())
            .start()
        )
