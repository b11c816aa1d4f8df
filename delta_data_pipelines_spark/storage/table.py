"""Parquet-backed versioned table with a JSON commit log.

Layout:
    <root>/_log.json            read-optimized cache of the commit log
    <root>/_commits/0000NN.json per-version commit marker (the CAS
                                commit point — source of truth for
                                entries newer than the cache)
    <root>/v=0000NN-<token>/*.parquet
                                immutable data snapshot for version NN
                                (token makes concurrent writers'
                                staging dirs collision-free)
    <root>/v=0000NN-<token>/_change_data/*.parquet
                                the rows commit NN changed (Delta's
                                ``_change_data``): ``_change_type`` plus
                                the row. Spark and pyarrow skip
                                ``_``-prefixed dirs, so snapshot reads
                                never see them; vacuum drops them with
                                their snapshot.

Commit protocol (Delta optimistic-concurrency parity): write the
snapshot to a writer-unique data dir, then atomically publish the
commit entry via exclusive-create of the per-version marker
(``meta.reserve_version`` — the put-if-absent on ``_delta_log/N.json``).
Two writers that raced from the same snapshot both compute version
N+1; exactly one wins the marker, the loser gets
:class:`ConcurrentWriteError` (and removes its staged dir) instead of
silently replacing the winner's commit — the lost-update the old
read-log/write-log protocol allowed. ``_log.json`` is refreshed after
each win but is only a cache: ``history()`` reconciles it with the
marker tail, so a crash between marker and cache loses nothing.
Readers always see complete versions.

Every mutating op still writes a full snapshot — simple, correct, and
at the reference's table sizes (≤ a few GB) cheap — but each commit
also records the rows it changed (commit-time change data, as Delta
writes for its change-data feed), so ``changes()`` reads work
proportional to the change instead of diffing two full snapshots:

    merge, apply_changes   every row of every touched key, before the
                           commit (update_preimage / delete) and after
                           it (update_postimage / insert), classified
                           under the commit's keys
    append, delete_where   the rows added (insert) / removed (delete);
                           the reader takes their keys under its own
                           key set from the adjacent snapshots
    compact                nothing: content does not change
    a first commit         its own snapshot (all inserts), not a copy
    overwrite, restore     no change data: spans crossing them diff
                           full snapshots, as do tables written
                           before commits recorded change data

The per-commit counts in ``metrics`` come from the written files
(parquet footers, or the ``_change_type`` column of the change rows),
not from extra count jobs.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .constraints import CheckConstraints
from ..operators.staging import release_staged
from .meta import ConcurrentWriteError, drop_marker, marker_tail, reserve_version

__all__ = ["Commit", "ConcurrentWriteError", "VersionedTable", "snapshot_diff"]


_Z_BITS = 14  # bucket resolution per z-order dimension (16384 cells)


def _morton_key(df: DataFrame, cols: list[str]) -> "F.Column":
    """Morton (bit-interleaved) clustering key over numeric/temporal
    columns — the ZORDER BY key. Each column buckets to ``_Z_BITS``
    bits over its observed [min, max] (one column-pruned aggregate;
    constant columns bucket to 0), then bit i of every column lands at
    interleaved position i·n_cols + j, so a range of the key is a
    hypercube-ish region of the value space. ≤ 4 columns (56 bits —
    beyond 4 the per-dimension pruning power decays anyway, same rule
    of thumb as Delta's)."""
    from pyspark.sql.types import DateType, NumericType, TimestampType

    if not 1 <= len(cols) <= 4:
        raise ValueError(f"zorder_by takes 1-4 columns, got {len(cols)}")
    by_name = {f.name: f.dataType for f in df.schema.fields}
    as_num = {}
    for c in cols:
        if c not in by_name:
            raise ValueError(f"zorder column {c!r} not in table schema")
        t = by_name[c]
        if isinstance(t, DateType):
            as_num[c] = F.col(c).cast("timestamp").cast("double")
        elif isinstance(t, (NumericType, TimestampType)):
            as_num[c] = F.col(c).cast("double")
        else:
            raise ValueError(
                f"zorder column {c!r} has unsupported type {t.simpleString()}"
                " (numeric, date or timestamp required)"
            )
    stats = df.agg(
        *[F.min(e).alias(f"_lo_{i}") for i, e in enumerate(as_num.values())],
        *[F.max(e).alias(f"_hi_{i}") for i, e in enumerate(as_num.values())],
    ).first()
    n_cells = 1 << _Z_BITS
    buckets = []
    for i, e in enumerate(as_num.values()):
        lo, hi = stats[f"_lo_{i}"], stats[f"_hi_{i}"]
        if lo is None or hi is None or hi == lo:
            buckets.append(F.lit(0).cast("bigint"))
            continue
        raw = F.floor((e - F.lit(lo)) * n_cells / F.lit(hi - lo))
        buckets.append(
            F.greatest(
                F.least(raw, F.lit(n_cells - 1)), F.lit(0)
            ).cast("bigint")
        )
    c = len(buckets)
    z = F.lit(0).cast("bigint")
    for bit in range(_Z_BITS):
        for j, b in enumerate(buckets):
            z = z + F.shiftleft(
                F.shiftright(b, bit).bitwiseAND(F.lit(1)), bit * c + j
            )
    # a NULL zorder value maps to the MAX bucket (least/greatest skip
    # NULLs), so NULL rows cluster together at the top of the key range
    return z



def _morton_rank_frame(
    df: DataFrame, cols: list[str], n: int
) -> DataFrame:
    """Equi-DEPTH Morton key (``zorder_method='rank'``): each column
    buckets by its range-partitioned GLOBAL RANK instead of its value
    range — skew-proof: a column where 90% of rows share one hot value
    still spreads across buckets by rank (the hot value's ties fan out
    over adjacent buckets; harmless for layout — clustering quality,
    not correctness, is at stake), where the range buckets would
    collapse most rows into one Morton cell and one giant file region.
    Costs one range shuffle per column (a maintenance rewrite already
    pays a full shuffle); appends ``_z``."""
    from ..operators.ranking import global_rank_by_range

    from pyspark.sql.types import DateType, NumericType, TimestampType

    by_name = {f.name: f.dataType for f in df.schema.fields}
    n_cells = 1 << _Z_BITS
    out = df
    bucket_cols = []
    for i, c in enumerate(cols):
        t = by_name[c]
        if not isinstance(t, (NumericType, DateType, TimestampType)):
            raise ValueError(
                f"zorder column {c!r} has unsupported type {t.simpleString()}"
                " (numeric, date or timestamp required)"
            )
        out = global_rank_by_range(out, c).withColumnRenamed(
            "global_rank", f"_zr_{i}"
        )
        bucket_cols.append(
            F.floor((F.col(f"_zr_{i}") - 1) * n_cells / F.lit(max(n, 1)))
            .cast("bigint")
        )
    z = F.lit(0).cast("bigint")
    for bit in range(_Z_BITS):
        for j, b in enumerate(bucket_cols):
            z = z + F.shiftleft(
                F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                bit * len(bucket_cols) + j,
            )
    return out.withColumn("_z", z).drop(
        *[f"_zr_{i}" for i in range(len(cols))]
    )


def snapshot_diff(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """Row-level diff between two snapshots keyed by ``keys`` — the
    Delta change-data-feed row classification, defined ONCE for both
    table variants: inserts (key only in new), deletes (key only in
    old), and updates as BOTH ``update_preimage`` and
    ``update_postimage`` rows. Key-only schemas cannot 'update'.

    Key-local by construction: each side is grouped by key into the
    SORTED list of its rows, and a key whose two lists differ emits
    all its old rows as preimages and all its new rows as
    postimages. So every output row depends only on rows sharing its
    key, a key whose rows did not change emits nothing (also with
    duplicate keys), and NULL keys group like any other value — which
    is what lets ``VersionedTable.changes`` answer from the rows each
    commit touched.

    Schemas are ALIGNED first (a span crossing a schema-evolving merge
    has the new column on one side only — the missing side reads NULL,
    so an old row gains a NULL 'tag' and a post-evolution row with a
    value diffs as an update). Change detection is a NULL-SAFE compare
    of the row lists, not a hash: ``xxhash64`` skips NULL inputs
    entirely, so a value moving between two columns (one going NULL,
    the other gaining it) hashes identically and the update would be
    missed.
    """
    for c in new.columns:
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast(new.schema[c].dataType))
    for c in old.columns:
        if c not in new.columns:
            new = new.withColumn(c, F.lit(None).cast(old.schema[c].dataType))
    cols = new.columns
    nonkeys = [c for c in cols if c not in keys]
    row = F.struct(*nonkeys) if nonkeys else F.lit(True)

    def grouped(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy(*keys).agg(
            F.array_sort(F.collect_list(row)).alias(name)
        )

    on = [F.col(f"o.{_quote(k)}").eqNullSafe(F.col(f"n.{_quote(k)}"))
          for k in keys]
    joined = (
        grouped(old, "_so").alias("o")
        .join(grouped(new, "_sn").alias("n"), on, "full_outer")
        .selectExpr(
            *[f"coalesce(n.{_quote(k)}, o.{_quote(k)}) AS {_quote(k)}"
              for k in keys],
            "_so", "_sn",
        )
    )

    def tagged(side: str, change_type: str) -> str:
        return f"transform({side}, r -> named_struct('t', '{change_type}', 'r', r))"

    # one SQL expression (HOF lambdas built through the Column API cost
    # dozens of Py4J round trips each)
    emitted = (
        f"CASE WHEN _so IS NULL THEN {tagged('_sn', 'insert')}"
        f" WHEN _sn IS NULL THEN {tagged('_so', 'delete')}"
    )
    if nonkeys:
        emitted += (
            " WHEN NOT (_so <=> _sn) THEN concat("
            f"{tagged('_so', 'update_preimage')},"
            f" {tagged('_sn', 'update_postimage')})"
        )
    return joined.selectExpr(
        *[_quote(k) for k in keys], f"explode({emitted} END) AS _ch"
    ).selectExpr(
        *[_quote(c) if c in keys else f"_ch.r.{_quote(c)} AS {_quote(c)}"
          for c in cols],
        "_ch.t AS _change_type",
    )


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


_CHANGE_DIR = "_change_data"
# a table's first commit: every snapshot row is an insert
_FIRST = {"kind": "snapshot"}
_BEFORE = ("update_preimage", "delete")
_AFTER = ("insert", "update_postimage")


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(path, f) for f in sorted(os.listdir(path))
        if f.endswith(".parquet")
    ]


def _footer_rows(path: str) -> int:
    """Rows in the parquet files directly under ``path``, from their
    footers: no Spark job, no data read."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path))


def _rows_metric(data_dir: str) -> dict[str, int]:
    return {"rows": _footer_rows(data_dir)}


def _change_counts(path: str) -> dict[str, int]:
    """Change rows under ``path`` per ``_change_type``: one column read
    with pyarrow instead of a count job per kind."""
    counts = dict.fromkeys(_BEFORE + _AFTER, 0)
    for f in _parquet_files(path):
        col = pq.ParquetFile(f).read(columns=["_change_type"]).column(0)
        for vc in pc.value_counts(col).to_pylist():
            counts[vc["values"]] += vc["counts"]
    return counts


def _restrict(df: DataFrame, touched: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``df`` whose key is in ``touched`` (broadcast), NULL
    keys matching NULL — the grouping ``snapshot_diff`` uses."""
    on = [F.col(f"l.{_quote(k)}").eqNullSafe(F.col(f"r.{_quote(k)}"))
          for k in keys]
    return df.alias("l").join(F.broadcast(touched).alias("r"), on, "left_semi")


def _conform(df: DataFrame, schema) -> DataFrame:
    """``df`` in ``schema``'s columns and types; a column ``df`` lacks
    reads NULL (a row from before a schema-evolving merge)."""
    if [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in schema.fields
    ]:
        return df
    return df.select(*[
        (F.col(f.name) if f.name in df.columns else F.lit(None))
        .cast(f.dataType).alias(f.name)
        for f in schema.fields
    ])


def _compose(
    images: list[tuple[DataFrame, DataFrame]], keys: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Fold per-commit (before, after) images, oldest first, into the
    span's: per key, the before rows of the first commit that recorded
    it and the after rows of the last one."""
    parts = [
        img.withColumn("_v", F.lit(i)).withColumn("_side", F.lit(side))
        for i, pair in enumerate(images)
        for side, img in enumerate(pair)
    ]
    u = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    w = Window.partitionBy(*keys)
    u = u.withColumn("_first", F.min("_v").over(w)).withColumn(
        "_last", F.max("_v").over(w)
    )
    helpers = ["_v", "_side", "_first", "_last"]
    before = u.where((F.col("_side") == 0) & (F.col("_v") == F.col("_first")))
    after = u.where((F.col("_side") == 1) & (F.col("_v") == F.col("_last")))
    return before.drop(*helpers), after.drop(*helpers)


@dataclass
class Commit:
    version: int
    action: str
    ts: float
    metrics: dict[str, Any]
    # data dir name under the table root; None on entries written
    # before the CAS protocol (legacy v=%06d layout)
    data: str | None = None
    # what the commit recorded of the rows it changed (module doc):
    # {"kind": "rows", "keys": [...]} | {"kind": "keys"} |
    # {"kind": "empty"} | {"kind": "snapshot"}, plus the change rows'
    # "schema"; None = nothing, so a span over this commit falls back
    # to the full snapshot diff
    change_data: dict[str, Any] | None = None
    # the snapshot's schema (StructType JSON): reads pass it instead of
    # running a schema-inference job over the footers
    schema: str | None = None


class VersionedTable(CheckConstraints):
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---- log ------------------------------------------------------------

    @property
    def _log_path(self) -> str:
        return os.path.join(self.root, "_log.json")

    def history(self) -> list[Commit]:
        """Committed versions, oldest first: the ``_log.json`` cache
        reconciled with any newer commit markers (a winner that crashed
        between marker and cache refresh still committed)."""
        entries: list[Commit] = []
        if os.path.exists(self._log_path):
            with open(self._log_path) as f:
                entries = [Commit(**e) for e in json.load(f)]
        last = entries[-1].version if entries else -1
        entries.extend(Commit(**e) for e in marker_tail(self.root, last))
        return entries

    def latest_version(self) -> int | None:
        h = self.history()
        return h[-1].version if h else None

    def _write_log_cache(self, entries: list[Commit]) -> None:
        # writer-unique tmp name: two concurrent cache refreshes must
        # not interleave writes into one tmp file. Last replace wins;
        # a stale cache self-heals via history()'s marker-tail merge.
        tmp = f"{self._log_path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump([e.__dict__ for e in entries], f, indent=1)
        os.replace(tmp, self._log_path)

    def _commit(
        self,
        action: str,
        df: DataFrame,
        metrics: dict[str, Any] | Callable[[str], dict[str, Any]],
        change_rows: DataFrame | None = None,
        change_data: dict[str, Any] | None = None,
    ) -> Commit:
        """Write ``df`` as the next version's snapshot and ``change_rows``
        (if any) under its ``_change_data/``, then publish the entry.
        A callable ``metrics`` gets the written data dir, so counts come
        from the files instead of count jobs."""
        self._enforce_constraints(df)
        history = self.history()
        version = (history[-1].version + 1) if history else 0
        # stage to a writer-unique dir: concurrent writers racing to
        # the same version can never clobber each other's files
        data_name = f"v={version:06d}-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(self.root, data_name)
        df.write.mode("overwrite").parquet(data_dir)
        if change_rows is not None:
            change_rows.write.parquet(os.path.join(data_dir, _CHANGE_DIR))
            change_data = {**change_data, "schema": change_rows.schema.json()}
        entry = Commit(
            version=version,
            action=action,
            ts=time.time(),
            metrics=metrics(data_dir) if callable(metrics) else metrics,
            data=data_name,
            change_data=change_data,
            schema=df.schema.json(),
        )
        try:
            # THE commit point: put-if-absent of the version marker
            reserve_version(self.root, version, entry.__dict__)
        except ConcurrentWriteError:
            shutil.rmtree(data_dir, ignore_errors=True)
            raise
        self._write_log_cache(history + [entry])
        return entry

    def _data_dir(self, version: int) -> str:
        for c in self.history():
            if c.version == version:
                if c.data:
                    return os.path.join(self.root, c.data)
                break
        return os.path.join(self.root, f"v={version:06d}")

    # ---- reads ----------------------------------------------------------

    def _parquet(self, path: str, schema: str | None) -> DataFrame:
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(json.loads(schema)))
        return reader.parquet(path)

    def exists(self) -> bool:
        return self.latest_version() is not None

    def read(self, version: int | None = None) -> DataFrame:
        """Read the latest snapshot, or time-travel to ``version``."""
        h = self.history()
        if not h:
            raise FileNotFoundError(f"table {self.root} has no commits")
        if version is None:
            version = h[-1].version
        for c in h:
            if c.version == version:
                name = c.data if c.data else f"v={version:06d}"
                return self._parquet(os.path.join(self.root, name), c.schema)
        raise ValueError(
            f"version {version} not in {[c.version for c in h]}"
        )

    # ---- writes ---------------------------------------------------------

    def overwrite(self, df: DataFrame) -> Commit:
        return self._commit("overwrite", df, _rows_metric)

    def append(self, df: DataFrame) -> Commit:
        if not self.exists():
            return self._commit("append", df, _rows_metric, change_data=_FIRST)
        return self._commit(
            "append",
            self.read().unionByName(df),
            _rows_metric,
            change_rows=df.withColumn("_change_type", F.lit("insert")),
            change_data={"kind": "keys"},
        )

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        when_matched: str = "ignore",
        schema_evolution: bool = False,
    ) -> Commit:
        """MERGE INTO this table USING source ON keys.

        ``when_matched='ignore'``  — insert-if-absent, the Mongo
        unique-index semantics (DuplicateKeyError → skip,
        mongodb_utils.py:21-36). Re-running the same batch is a no-op:
        the exactly-once effect the reference builds from at-least-once
        delivery + downstream dedup (SURVEY §2.9 ST4).

        ``when_matched='update'`` — upsert: source row replaces target.

        Null-key source rows are dropped first (mongodb_utils.py:24-26),
        and the source is deduplicated on the keys so one batch can't
        insert the same key twice.

        ``schema_evolution=True`` — Delta ``mergeSchema`` parity: a
        source with NEW columns widens the table (old rows read NULL
        there); for table columns the source does NOT carry, inserts
        write NULL and updates PRESERVE the target row's value (Delta's
        ``UPDATE SET *`` only sets the columns the source has). Default
        False errors on any column-set mismatch, exactly as Delta MERGE
        does without the option.

        The commit records its change rows — the target rows of every
        matched key (update_preimage), the rows that replace them
        (update_postimage) and the inserted rows — and its
        ``inserted`` / ``updated`` metrics are counted from them. The
        source is staged once (localCheckpoint, released after the
        commit), so the change rows and the snapshot do not each run
        its lineage.
        """
        if when_matched not in {"ignore", "update"}:
            raise ValueError(when_matched)
        for k in keys:
            source = source.where(F.col(k).isNotNull())
        source = source.dropDuplicates(keys)

        if not self.exists():
            return self._commit(
                "merge", source,
                lambda d: {"inserted": _footer_rows(d), "updated": 0},
                change_data=_FIRST,
            )
        # staged: the change rows and the snapshot both consume the
        # source, whose lineage (often a fetch transformer) must run once
        staged = source.localCheckpoint(eager=True)
        try:
            return self._merge(staged, keys, when_matched, schema_evolution)
        finally:
            release_staged(staged)

    def _merge(
        self,
        source: DataFrame,
        keys: list[str],
        when_matched: str,
        schema_evolution: bool,
    ) -> Commit:
        target = self.read()
        inserted = source.join(target.select(*keys), keys, "left_anti")
        changed = inserted.withColumn("_change_type", F.lit("insert"))
        if when_matched == "update":
            kept = target.join(source.select(*keys), keys, "left_anti")
            only_target = [c for c in target.columns if c not in source.columns]
            if schema_evolution and only_target:
                # matched rows keep the target's values in columns the
                # source doesn't carry (UPDATE SET * semantics)
                updated = source.join(
                    target.select(*keys, *only_target), keys, "inner"
                )
            else:
                updated = source.join(target.select(*keys), keys, "left_semi")
            out = kept.unionByName(
                updated, allowMissingColumns=schema_evolution
            ).unionByName(inserted, allowMissingColumns=schema_evolution)
            changed = (
                target.join(source.select(*keys), keys, "left_semi")
                .withColumn("_change_type", F.lit("update_preimage"))
                .unionByName(
                    updated.withColumn(
                        "_change_type", F.lit("update_postimage")
                    ),
                    allowMissingColumns=True,
                )
                .unionByName(changed, allowMissingColumns=True)
            )
        else:
            out = target.unionByName(
                inserted, allowMissingColumns=schema_evolution
            )

        def metrics(data_dir: str) -> dict[str, int]:
            n = _change_counts(os.path.join(data_dir, _CHANGE_DIR))
            return {"inserted": n["insert"], "updated": n["update_postimage"]}

        return self._commit(
            "merge", out, metrics, changed, {"kind": "rows", "keys": list(keys)}
        )

    def delete_where(self, condition) -> Commit:
        """Predicate DELETE (↔ delete_many, S11:
        del_unuse_record_in_mrestate.py:11-19). Records the deleted
        rows as its change rows."""
        target = self.read()
        kept = target.where(~condition | condition.isNull())
        return self._commit(
            "delete",
            kept,
            _rows_metric,
            change_rows=target.where(condition).withColumn(
                "_change_type", F.lit("delete")
            ),
            change_data={"kind": "keys"},
        )

    # ---- rotation / rollback / backup -----------------------------------

    def restore(self, version: int) -> Commit:
        """RESTORE TABLE TO VERSION AS OF — the rollback the reference
        hand-rolls with last-data/old-data object juggling
        (price_prediction_data_pipeline.py:228-268)."""
        df = self.read(version)
        return self._commit("restore", df, {"restored_from": version})

    def apply_changes(
        self,
        feed: DataFrame,
        keys: list[str],
        extra_metrics: dict[str, Any] | None = None,
        record_changes: bool = True,
    ) -> Commit:
        """APPLY CHANGES INTO parity (the CDC consumer): apply a
        change feed in :func:`snapshot_diff`'s shape (``_change_type``
        ∈ insert / delete / update_preimage / update_postimage) to
        this table as ONE atomic commit.

        Deletes drop their keys, inserts and update POSTIMAGES upsert
        (last-writer-wins on key), preimages are informational and
        ignored — so replaying ``source.changes(v)`` onto a replica of
        ``source``'s version ``v`` reproduces ``source``'s current
        snapshot exactly (the roundtrip test), which is what makes the
        change feed a replication protocol rather than a diff report.
        Feeds whose key sets overlap between delete and upsert apply
        delete-then-upsert (the postimage wins — matching
        snapshot_diff, which never emits both for one key). Feed rows
        with a NULL key identify no row and are dropped, as in
        :meth:`merge`.

        The commit records its change rows: every table row of a key
        the feed touches (update_preimage, or delete when the feed does
        not upsert the key) and the upserted rows (update_postimage, or
        insert for a new key). Its metrics count them: ``upserts`` rows
        written for upserted keys, ``deletes`` rows actually removed.
        ``record_changes=False`` is for a full recompute whose feed
        upserts every key: its change rows would be two more copies of
        the table, so the commit records none (a span over it diffs
        full snapshots, as over an overwrite) and its metrics count
        feed rows instead.

        The feed is STAGED once (localCheckpoint): a CDC feed is
        typically ``snapshot_diff`` — a full-snapshot join — and the
        change rows, the constraint aggregate and the commit write
        would otherwise each re-execute that lineage. Downstream
        consumers read the checkpointed blocks instead (single-execution
        pin in tests); the blocks are released once the commit lands."""
        if not keys:
            raise ValueError("keys required to apply a change feed")
        staged = feed.localCheckpoint(eager=True)
        try:
            return self._apply(staged, keys, extra_metrics or {}, record_changes)
        finally:
            release_staged(staged)

    def _apply(
        self,
        feed: DataFrame,
        keys: list[str],
        extra_metrics: dict[str, Any],
        record_changes: bool,
    ) -> Commit:
        for k in keys:
            feed = feed.where(F.col(k).isNotNull())
        ct = F.col("_change_type")
        ups = feed.where(ct.isin(*_AFTER)).drop("_change_type")
        dels = feed.where(ct == "delete").select(*keys)
        # extra_metrics ride in the SAME atomic commit entry — the
        # transactional side-channel consumers like the incremental
        # aggregate use to bind an applied-span watermark to the data
        # it produced (exactly-once under replay)
        if not self.exists():
            return self._commit(
                "apply_changes",
                ups,
                lambda d: {"upserts": _footer_rows(d), "deletes": 0,
                           **extra_metrics},
                change_data=_FIRST,
            )
        target = self.read()
        kept = target.join(dels, keys, "left_anti")
        ups = ups.select(*kept.columns)
        out = kept.join(ups.select(*keys), keys, "left_anti").unionByName(ups)
        if not record_changes:
            return self._commit(
                "apply_changes",
                out,
                {"upserts": ups.count(), "deletes": dels.count(),
                 **extra_metrics},
            )
        # before images (side 0) and after images (side 1) of every
        # touched key, typed by whether the key has the other side
        touched = ups.select(*keys).unionByName(dels)
        side = F.col("_side")
        w = Window.partitionBy(*keys)
        changed = (
            target.join(touched, keys, "left_semi")
            .withColumn("_side", F.lit(0))
            .unionByName(ups.withColumn("_side", F.lit(1)))
            .withColumn(
                "_change_type",
                F.when(
                    side == 0,
                    F.when(F.max(side).over(w) == 1, "update_preimage")
                    .otherwise("delete"),
                ).otherwise(
                    F.when(F.min(side).over(w) == 0, "update_postimage")
                    .otherwise("insert")
                ),
            )
            .drop("_side")
        )

        def metrics(data_dir: str) -> dict[str, Any]:
            n = _change_counts(os.path.join(data_dir, _CHANGE_DIR))
            return {
                "upserts": n["insert"] + n["update_postimage"],
                "deletes": n["delete"],
                **extra_metrics,
            }

        return self._commit(
            "apply_changes", out, metrics, changed,
            {"kind": "rows", "keys": list(keys)},
        )

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """Change-data-feed between two retained versions (Delta CDF
        contract), keyed by ``keys`` (required — a VersionedTable has
        no intrinsic key): exactly
        ``snapshot_diff(read(from_version), read(to_version), keys)``.

        Answered from the change rows the commits in the span recorded
        (module doc): per key, the before rows of the first commit that
        touched it and the after rows of the last one, passed through
        :func:`snapshot_diff`. That is exact because snapshot_diff is
        key-local, and it reads only ``_change_data`` for spans of
        merges and apply_changes (append / delete_where spans also
        read the adjacent snapshots, restricted to the touched keys by
        a broadcast semi-join, so duplicate keys stay exact). A span
        with a commit that recorded nothing (overwrite, restore, a
        table written before change data) or recorded it under keys
        that are not a subset of ``keys`` diffs the two full snapshots
        instead. vacuum retention bounds reach.
        """
        if not keys:
            raise ValueError("keys required to identify rows across versions")
        old = self.read(from_version)
        new = self.read(to_version)
        history = self.history()
        hi = history[-1].version if to_version is None else to_version
        span = [c for c in history if from_version < c.version <= hi]
        if from_version > hi or not all(
            c.change_data is not None
            and set(c.change_data.get("keys", ())) <= set(keys)
            for c in span
        ):
            return snapshot_diff(old, new, keys)
        images = [
            pair for c in span if (pair := self._images(c, keys)) is not None
        ]
        if not images:
            return snapshot_diff(
                self.spark.createDataFrame([], old.schema),
                self.spark.createDataFrame([], new.schema),
                keys,
            )
        before, after = images[0] if len(images) == 1 else _compose(images, keys)
        return snapshot_diff(
            _conform(before, old.schema), _conform(after, new.schema), keys
        )

    def _images(
        self, c: Commit, keys: list[str]
    ) -> tuple[DataFrame, DataFrame] | None:
        """(before, after) rows of the keys commit ``c`` touched, or
        None when it changed nothing."""
        kind = c.change_data["kind"]
        if kind == "empty":
            return None
        if kind == "snapshot":
            after = self.read(c.version)
            return after.limit(0), after
        rows = self._parquet(
            os.path.join(self.root, c.data, _CHANGE_DIR),
            c.change_data["schema"],
        )
        if kind == "rows":
            ct = F.col("_change_type")
            return (
                rows.where(ct.isin(*_BEFORE)).drop("_change_type"),
                rows.where(ct.isin(*_AFTER)).drop("_change_type"),
            )
        # "keys": the rows an append added or a delete removed; the
        # other rows of their keys come from the adjacent snapshots
        touched = rows.select(*keys).distinct()
        return (
            _restrict(self.read(c.version - 1), touched, keys),
            _restrict(self.read(c.version), touched, keys),
        )

    def clone(self, dest_root: str) -> "VersionedTable":
        """DEEP CLONE (↔ weekly mongodump backup, utils_of_backup.py:43-76):
        copies the latest snapshot into a fresh single-version table."""
        dest = VersionedTable(self.spark, dest_root)
        dest.overwrite(self.read())
        return dest

    def validate_against(self, other: "VersionedTable") -> dict[str, Any]:
        """Backup validation (↔ utils_of_backup.py:105-141): schema-set
        equality + nonempty + row-count match."""
        a, b = self.read(), other.read()
        ok_schema = set(a.columns) == set(b.columns)
        ca, cb = a.count(), b.count()
        return {
            "schema_match": ok_schema,
            "rows_src": ca,
            "rows_dst": cb,
            "ok": ok_schema and ca == cb and cb > 0,
        }

    def compact(
        self,
        target_rows_per_file: int = 1_000_000,
        zorder_by: list[str] | None = None,
        zorder_method: str = "range",
    ) -> Commit:
        """Delta ``OPTIMIZE`` parity: rewrite the latest snapshot into
        evenly-sized files, as a new commit (time travel to the
        pre-compaction layout still works until vacuum).

        Why it matters at scale: every ``merge``/``append`` commit
        writes with the plan's own partitioning, so a table fed by a
        micro-batch stream accretes one small-file generation per
        batch — and scan cost at 100 TB is dominated by file count
        (task scheduling + footer reads), not bytes. One round of
        repartition-by-count restores ~``target_rows_per_file`` rows
        per file. Repartition (shuffle) rather than coalesce:
        coalesce glues adjacent partitions and inherits their skew,
        which at scale recreates the straggler files compaction is
        meant to remove. Data content is byte-identical (tests
        assert); only layout changes.

        ``zorder_by`` is ``OPTIMIZE ZORDER BY`` parity: cluster the
        rewrite on the Morton interleave of the named NUMERIC/temporal
        columns, so files are simultaneously narrow in EVERY named
        dimension and parquet row-group min/max stats prune scans
        filtered on any of them (a plain sort is narrow in its first
        key only). Each column is mapped to a 14-bit bucket over its
        [min, max] (one column-pruned agg pass), the buckets' bits are
        interleaved, and the rewrite range-partitions + sorts on that
        key. Layout-only, like plain compaction."""
        if target_rows_per_file < 1:
            raise ValueError(
                f"target_rows_per_file must be >= 1, got {target_rows_per_file}"
            )
        df = self.read()
        # NOT a second data pass: count(*) over a parquet scan prunes
        # to zero columns and answers from row-group footers (the
        # bucketed store's _footer_count pattern). Its cost is one
        # task per file — which is the small-file problem compaction
        # exists to fix, and a distributed footer read still beats a
        # driver-side pyarrow loop over the same million files.
        n = df.count()
        n_files = max(1, -(-n // target_rows_per_file))  # ceil div
        if zorder_by:
            if zorder_method not in ("range", "rank"):
                raise ValueError(
                    f"zorder_method must be 'range' or 'rank', "
                    f"got {zorder_method!r}"
                )
            if not 1 <= len(zorder_by) <= 4:
                raise ValueError(
                    f"zorder_by takes 1-4 columns, got {len(zorder_by)}"
                )
            for c in zorder_by:
                if c not in df.columns:
                    raise ValueError(
                        f"zorder column {c!r} not in table schema"
                    )
            if zorder_method == "rank":
                keyed = _morton_rank_frame(df, zorder_by, n)
            else:
                keyed = df.withColumn("_z", _morton_key(df, zorder_by))
            out = (
                keyed.repartitionByRange(n_files, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        else:
            out = df.repartition(n_files)
        return self._commit(
            "compact",
            out,
            {"rows": n, "files": n_files,
             **({"zorder_by": zorder_by, "zorder_method": zorder_method}
                if zorder_by else {})},
            change_data={"kind": "empty"},
        )

    def vacuum(self, keep_last: int = 3) -> list[int]:
        """Drop all but the last N snapshots (↔ keep-last-3 backup
        retention, utils_of_backup.py:155-164). The log keeps only the
        surviving versions; time travel beyond them is gone. Also
        sweeps data dirs no surviving commit references — the staged
        dirs of writers that lost a CAS race mid-crash (a live loser
        removes its own) — but only at versions ≤ the latest kept
        commit: a dir staged at latest+1 belongs to an in-flight
        writer."""
        history = self.history()
        if len(history) <= keep_last:
            return []
        drop, keep = history[:-keep_last], history[-keep_last:]
        for c in drop:
            name = c.data if c.data else f"v={c.version:06d}"
            shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
            drop_marker(self.root, c.version)
        self._write_log_cache(keep)
        live = {c.data for c in keep if c.data} | {
            f"v={c.version:06d}" for c in keep if not c.data
        }
        latest = keep[-1].version
        for d in os.listdir(self.root):
            if not d.startswith("v=") or d in live:
                continue
            try:
                v = int(d[2:].split("-", 1)[0])
            except ValueError:
                continue
            if v <= latest:
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
        return [c.version for c in drop]
