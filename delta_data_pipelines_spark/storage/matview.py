"""Incrementally-maintained materialized aggregates over a change
feed — the Delta Live Tables / incremental-view-maintenance shape.

A grouped COUNT/SUM view over a 100 TB table must not recompute from
the base table on every refresh; the classic delta algebra maintains
it from the change feed alone:

    insert / update_postimage rows contribute +1 to their group's
    count and +value to each sum; delete / update_preimage rows
    contribute -1 and -value

so applying the aggregated deltas of ``source.changes(v0, v1)`` to a
view that was exact at ``v0`` makes it exact at ``v1`` — COUNT and
SUM are the self-maintainable aggregates (Gupta & Mumick's
classification; AVG derives as sum/count at read time).

MIN/MAX (``minmax_cols``) use the standard hybrid: inserts maintain
them incrementally (``least``/``greatest`` against the stored
extremum — no base read), while a delete/update_preimage that TIES OR
BEATS a group's stored extremum makes that group's new extremum
unknowable from the feed (the feed can't say whether another equal
value remains), so exactly those extremum-losing groups recompute
from the post-span base table — bucket-pruned to the losing groups'
buckets when the source is bucketed on a group column. Cost follows
the loser set, not the view: a monotone append-mostly workload never
reads the base at all. This is
what lets the view cover MIN-per-key shapes (the reference's
``MinUserRole`` aggregate, SURVEY A2) incrementally.

Exactly-once, structurally: additive deltas are NOT idempotent, so
the applied source version is the view table's own watermark
(``storage.table`` module doc) — the delta application and the
watermark advance are ONE atomic CAS commit. A crash can only land
before the commit (nothing applied, watermark unchanged → clean
retry) or after it (both applied and advanced); there is no window
where a replay double-counts.

Scale posture: a refresh aggregates the FEED (map-side partial
combine on the group keys — cost follows change volume), reads only
the stored rows of affected groups (bucket-pruned when the view table
is bucketed on a group column), and writes through
``apply_changes`` (touched buckets only). Sums are DECIMAL(38,6):
exact integer-scaled arithmetic, associative under any partial-agg
order, immune to float drift across thousands of refreshes.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.staging import release_staged, stage
from .table import VersionedTable

_SUM_TYPE = "decimal(38,6)"
# the view's watermark key: one source per view
_SOURCE = "source"


class IncrementalAggregate:
    """A grouped count/sum/min/max view stored in ``table`` (a bucketed
    table — the scale path — needs its bucket key among
    ``group_cols``), maintained by :meth:`refresh` from CDC
    feeds or driven end-to-end by :meth:`tick` against a source table.

    View schema: ``group_cols…, n_rows bigint, sum_<c> decimal(38,6)``
    per ``sum_cols`` entry, then ``min_<c>, max_<c>`` (source dtype)
    per ``minmax_cols`` entry. Groups whose count reaches zero leave
    the view (their delete rides in the same atomic commit).
    ``minmax_cols`` refreshes need the post-span base table for
    extremum-losing groups (module doc) — :meth:`refresh` takes a
    ``base_reader`` and :meth:`tick` wires a bucket-pruned one."""

    def __init__(
        self,
        table: VersionedTable,
        group_cols: list[str],
        sum_cols: list[str] | None = None,
        minmax_cols: list[str] | None = None,
    ) -> None:
        if not group_cols:
            raise ValueError("group_cols required")
        # group rows must share a bucket for the scoped refresh write
        table._check_keys(group_cols, "group columns")
        self.table = table
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols or [])
        self.minmax_cols = list(minmax_cols or [])

    # ---- read side --------------------------------------------------------

    def value(self) -> DataFrame:
        """The current view (empty-schema read errors if never
        refreshed — same contract as the underlying table)."""
        return self.table.read()

    def applied_version(self) -> int | None:
        """Last source version folded in: the view table's watermark."""
        return self.table.applied_versions().get(_SOURCE)

    # ---- the delta algebra -------------------------------------------------

    def _deltas(self, feed: DataFrame) -> DataFrame:
        ct = F.col("_change_type")
        sign = (
            F.when(ct.isin("insert", "update_postimage"), F.lit(1))
            .when(ct.isin("delete", "update_preimage"), F.lit(-1))
            .otherwise(F.lit(0))
        )
        aggs = [F.sum(F.col("_sign").cast("long")).alias("_dn")] + [
            F.sum(
                (F.col("_sign") * F.coalesce(F.col(c), F.lit(0))).cast(
                    _SUM_TYPE
                )
            ).alias(f"_d_{c}")
            for c in self.sum_cols
        ]
        for c in self.minmax_cols:
            ins = F.when(F.col("_sign") == 1, F.col(c))
            del_ = F.when(F.col("_sign") == -1, F.col(c))
            aggs += [
                F.min(ins).alias(f"_imin_{c}"),
                F.max(ins).alias(f"_imax_{c}"),
                F.min(del_).alias(f"_dmin_{c}"),
                F.max(del_).alias(f"_dmax_{c}"),
            ]
        return (
            feed.withColumn("_sign", sign)
            .groupBy(*self.group_cols)
            .agg(*aggs)
        )

    def refresh(
        self,
        feed: DataFrame,
        applied_to: int | None = None,
        base_reader=None,
    ) -> dict[str, Any]:
        """Fold one change-feed span into the view as ONE atomic
        commit (group deltas → read affected stored groups → synthetic
        CDC feed of new group rows + zero-count deletes →
        ``apply_changes`` carrying the watermark). Callers managing
        their own spans pass ``applied_to``; :meth:`tick` always does.
        A refresh without it leaves the view unwatermarked, so a later
        :meth:`tick` raises instead of folding that span a second time.

        ``base_reader`` (required when ``minmax_cols`` is set and the
        feed carries deletes that tie-or-beat a stored extremum) takes
        a DataFrame of extremum-losing GROUP KEYS and returns
        POST-SPAN base rows covering at least those groups (extra rows
        are fine — a semi-join scopes them); :meth:`tick` passes a
        bucket-pruned reader. Returns ``groups_recomputed`` alongside
        the usual metrics so callers can assert the loser set stayed
        small."""
        zero = (F.col("_dn") == 0) & F.lit(True)
        for c in self.sum_cols:
            zero = zero & (F.col(f"_d_{c}") == 0)
        for c in self.minmax_cols:
            # a group with any non-null min/max traffic on either side
            # must flow through (an update can move an extremum while
            # every additive delta cancels); all-null on both sides
            # means min/max provably unchanged
            zero = (
                zero
                & F.col(f"_imin_{c}").isNull()
                & F.col(f"_dmin_{c}").isNull()
            )
        # all-zero groups (an update that changed no aggregated column
        # cancels pre against post) must not force a no-op rewrite of
        # their bucket
        delta = stage(self._deltas(feed).where(~zero), "matview_delta")
        staged_rows = None
        try:
            view_cols = (
                self.group_cols
                + ["n_rows"]
                + [f"sum_{c}" for c in self.sum_cols]
                + [x for c in self.minmax_cols for x in (f"min_{c}", f"max_{c}")]
            )
            if self.table.exists():
                # affected groups only, by bucket pruning — the read cost
                # follows the delta, not the view size
                base = self.table.read_buckets(self.table.bucket_ids_of(delta))
                stored = base.select(*view_cols).join(
                    delta.select(*self.group_cols), self.group_cols, "left_semi"
                )
            else:
                stored = None
            recompute = F.lit(False)
            if stored is not None:
                merged = delta.alias("d").join(
                    stored.alias("s"), self.group_cols, "left"
                )
                n_rows = F.coalesce(F.col("s.n_rows"), F.lit(0)) + F.col("d._dn")
                sums = [
                    (
                        F.coalesce(F.col(f"s.sum_{c}"), F.lit(0).cast(_SUM_TYPE))
                        + F.col(f"d._d_{c}")
                    )
                    .cast(_SUM_TYPE)
                    .alias(f"sum_{c}")
                    for c in self.sum_cols
                ]
                # insert-side extremum maintenance is exact
                # (least/greatest skip NULLs); a delete that ties-or-beats
                # the stored extremum makes the group unknowable from the
                # feed — flag it for base recompute
                mms = []
                for c in self.minmax_cols:
                    mms += [
                        F.least(F.col(f"s.min_{c}"), F.col(f"d._imin_{c}"))
                        .alias(f"min_{c}"),
                        F.greatest(F.col(f"s.max_{c}"), F.col(f"d._imax_{c}"))
                        .alias(f"max_{c}"),
                    ]
                    recompute = recompute | (
                        F.col(f"s.min_{c}").isNotNull()
                        & (F.col(f"d._dmin_{c}") <= F.col(f"s.min_{c}"))
                    ) | (
                        F.col(f"s.max_{c}").isNotNull()
                        & (F.col(f"d._dmax_{c}") >= F.col(f"s.max_{c}"))
                    )
            else:
                merged = delta
                n_rows = F.col("_dn")
                sums = [
                    F.col(f"_d_{c}").cast(_SUM_TYPE).alias(f"sum_{c}")
                    for c in self.sum_cols
                ]
                # bootstrap: the feed IS the base (all-insert), so the
                # insert-side extrema are exact
                mms = [
                    x
                    for c in self.minmax_cols
                    for x in (
                        F.col(f"_imin_{c}").alias(f"min_{c}"),
                        F.col(f"_imax_{c}").alias(f"max_{c}"),
                    )
                ]
            rows = merged.select(
                *self.group_cols,
                n_rows.alias("n_rows"),
                *sums,
                *mms,
                (
                    F.coalesce(recompute, F.lit(False)) & (n_rows > 0)
                ).alias("_recompute"),
            )
            n_recomputed = 0
            if self.minmax_cols and stored is not None:
                rows = staged_rows = stage(rows, "matview_rows")
                losers = rows.where(F.col("_recompute")).select(
                    *self.group_cols
                )
                n_recomputed = losers.count()
                if n_recomputed:
                    if base_reader is None:
                        raise ValueError(
                            "refresh needs base_reader: the feed deletes a "
                            "stored MIN/MAX extremum, which is not "
                            "maintainable from the feed alone (pass the "
                            "post-span base, or drive via tick)"
                        )
                    rec = (
                        base_reader(losers)
                        .join(losers, self.group_cols, "left_semi")
                        .groupBy(*self.group_cols)
                        .agg(
                            *[
                                x
                                for c in self.minmax_cols
                                for x in (
                                    F.min(c).alias(f"_rmin_{c}"),
                                    F.max(c).alias(f"_rmax_{c}"),
                                )
                            ]
                        )
                    )
                    rows = rows.join(rec, self.group_cols, "left").select(
                        *self.group_cols,
                        "n_rows",
                        *[f"sum_{c}" for c in self.sum_cols],
                        *[
                            x
                            for c in self.minmax_cols
                            for x in (
                                F.when(
                                    F.col("_recompute"), F.col(f"_rmin_{c}")
                                )
                                .otherwise(F.col(f"min_{c}"))
                                .alias(f"min_{c}"),
                                F.when(
                                    F.col("_recompute"), F.col(f"_rmax_{c}")
                                )
                                .otherwise(F.col(f"max_{c}"))
                                .alias(f"max_{c}"),
                            )
                        ],
                    )
            out = rows.select(*view_cols).withColumn(
                "_change_type",
                F.when(F.col("n_rows") <= 0, F.lit("delete")).otherwise(
                    F.lit("insert")
                ),
            )
            commit = self.table.apply_changes(
                out, keys=self.group_cols,
                applied=None if applied_to is None else {_SOURCE: applied_to},
            )
        finally:
            release_staged(delta, staged_rows)
        return {
            "version": commit.version,
            "groups_touched": commit.metrics.get("upserts", 0)
            + commit.metrics.get("deletes", 0),
            "groups_recomputed": n_recomputed,
            "applied_to": applied_to,
        }

    # ---- the tailing driver -------------------------------------------------

    def tick(
        self, source: VersionedTable, source_keys: list[str]
    ) -> dict[str, Any]:
        """Catch the view up to the source's latest version: bootstrap
        folds the latest snapshot as an all-insert feed, steady state
        folds ``changes(applied, latest)``. Re-running after a crash
        is safe by construction — the watermark travels in the same
        commit as the deltas (module docstring)."""
        latest = source.latest_version()
        if latest is None:
            return {"applied_from": None, "applied_to": None}
        applied = self.applied_version()
        if applied is not None and applied >= latest:
            return {"applied_from": applied, "applied_to": applied}
        if applied is None:
            if self.table.exists() and not self.table.read().isEmpty():
                # a populated view whose latest commit carries no
                # watermark (a write outside tick: overwrite, merge, a
                # refresh without applied_to) must not be bootstrap-
                # folded: refresh MERGES onto stored rows, so an
                # all-insert snapshot feed would silently DOUBLE every
                # count and sum. Loud error over silent corruption.
                raise ValueError(
                    "view has rows but no applied_to watermark in its "
                    "latest commit (written outside tick?); drop the "
                    "view table (or overwrite it empty) and re-tick to "
                    "rebuild"
                )
            feed = source.read(latest).withColumn(
                "_change_type", F.lit("insert")
            )
        else:
            feed = source.changes(applied, latest, keys=source_keys)

        def base_reader(losers: DataFrame) -> DataFrame:
            # post-span base for extremum-losing groups: bucket-pruned
            # when the source's bucket key is a group column (the read
            # cost follows the loser set, not the source size)
            if source.bucket_key in self.group_cols:
                return source.read_buckets(
                    source.bucket_ids_of(losers), version=latest
                )
            return source.read(latest)

        r = self.refresh(feed, applied_to=latest, base_reader=base_reader)
        r["applied_from"] = applied
        return r
