"""Parquet-backed versioned table with a JSON commit log, unbucketed or
hash-bucketed on a key.

Layout:
    <root>/_log.json            read-optimized cache of the commit log
    <root>/_commits/0000NN.json per-version commit marker (the CAS
                                commit point — source of truth for
                                entries newer than the cache)
    <root>/_meta.json           bucketed tables only: the geometry
                                (bucket_key, n_buckets), recorded by
                                the first commit
    <root>/v=0000NN-<token>/*.parquet
                                unbucketed: immutable data snapshot for
                                version NN (token makes concurrent
                                writers' staging dirs collision-free)
    <root>/v=0000NN-<token>/_bucket=K/*.parquet
                                bucketed: the buckets commit NN wrote;
                                its entry's MANIFEST {bucket -> owner}
                                names the dir holding each bucket's
                                current rows
    <root>/v=0000NN-<token>/_change_data/*.parquet
                                unbucketed: the rows commit NN changed
                                (Delta's ``_change_data``):
                                ``_change_type`` plus the row. Spark
                                and pyarrow skip ``_``-prefixed dirs,
                                so snapshot reads never see them;
                                vacuum drops them with their snapshot.

An unbucketed table is the one-bucket case: its snapshot dir is the
one bucket. A bucketed table routes each row to bucket
``pmod(xxhash64(bucket_key), n_buckets)``; a write reads only the
buckets its source, feed or predicate touches, writes one new data dir
for them, and points the manifest's untouched buckets at their old
dirs — per-batch write cost O(batch + touched buckets), independent of
table size, the contract of the reference's Mongo unique-index insert
(mongodb_utils.py:21-36), which touches only the batch's keys. MERGE
and APPLY CHANGES need the bucket key among their keys, so rows that
can match share a bucket.

Commit protocol (Delta optimistic-concurrency parity): write the
data to a writer-unique data dir, then atomically publish the
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

An unbucketed commit writes a full snapshot — simple, correct, and at
the reference's table sizes (≤ a few GB) cheap — so it also records
the rows it changed (commit-time change data, as Delta writes for its
change-data feed), and ``changes()`` reads work proportional to the
change instead of diffing two full snapshots:

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

A bucketed commit records none: its ``changes()`` diffs only the
buckets whose manifest entry moved, which already follows the churn.

The per-commit counts in ``metrics`` come from the written files
(parquet footers, or the ``_change_type`` column of the change rows),
not from extra count jobs.

The applied-versions watermark (Delta's ``txn`` action): a CDC
consumer that maintains this table from other tables' change feeds
(the replica tail, the materialised view, the search indexer) records
the source versions it has absorbed as ``{source: version}`` in the
SAME commit as the rows they produced — ``apply_changes(applied=)``
sets it, so data and watermark advance in one CAS commit. Only the
latest commit's watermark counts, and :meth:`applied_versions` reads
that one commit. ``compact`` copies it (the content is unchanged),
``restore(v)`` copies version v's; every other commit (overwrite,
append, merge, delete_where, an ``apply_changes`` without ``applied``)
clears it, because it changed the content outside the consumer.
``vacuum`` always keeps the latest commit, so maintenance can never
lose the watermark.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .constraints import CheckConstraints
from ..operators.staging import release_staged, stage
from .meta import (
    ConcurrentWriteError,
    atomic_json_write,
    drop_marker,
    marker_tail,
    reserve_version,
)

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
    Delta change-data-feed row classification: inserts (key only in
    new), deletes (key only in old), and updates as BOTH
    ``update_preimage`` and ``update_postimage`` rows. Key-only
    schemas cannot 'update'.

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
# commit-metrics key of the applied-versions watermark (module doc)
_APPLIED = "applied"
# a table's first commit: every snapshot row is an insert
_FIRST = {"kind": "snapshot"}
_BEFORE = ("update_preimage", "delete")
_AFTER = ("insert", "update_postimage")
# a crash-orphaned merge spill is swept once its lease is this old
_SPILL_GRACE_S = 3600


def _parquet_files(path: str) -> list[str]:
    """Parquet files directly under ``path`` or under its
    ``_bucket=K`` dirs (a bucketed data dir or spill)."""
    out = []
    for f in sorted(os.listdir(path)):
        full = os.path.join(path, f)
        if f.endswith(".parquet"):
            out.append(full)
        elif f.startswith("_bucket="):
            out.extend(_parquet_files(full))
    return out


def _footer_rows(*paths: str) -> int:
    """Rows in the parquet files under ``paths``, from their footers:
    no Spark job, no data read."""
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for p in paths for f in _parquet_files(p)
    )


def _watermark(metrics: dict[str, Any]) -> dict[str, Any]:
    """The watermark entry of a commit's ``metrics``, for a commit that
    carries it forward (compact, restore)."""
    return {_APPLIED: metrics[_APPLIED]} if _APPLIED in metrics else {}


def _rows_metric(data_dir: str) -> dict[str, int]:
    return {"rows": _footer_rows(data_dir)}


def _bucket_ids_in(path: str) -> list[int]:
    """Bucket ids present as ``_bucket=K`` dirs under a written dir."""
    return sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(path)
        if d.startswith("_bucket=")
    )


def _change_counts(path: str) -> dict[str, int]:
    """Change rows under ``path`` per ``_change_type``: one column read
    with pyarrow instead of a count job per kind."""
    counts = dict.fromkeys(_BEFORE + _AFTER, 0)
    for f in _parquet_files(path):
        col = pq.ParquetFile(f).read(columns=["_change_type"]).column(0)
        for vc in pc.value_counts(col).to_pylist():
            counts[vc["values"]] += vc["counts"]
    return counts


def _recorded(data_dir: str) -> dict[str, int] | None:
    """Change-row counts of the commit written to ``data_dir``, or None
    when it recorded no change rows (a bucketed commit)."""
    path = os.path.join(data_dir, _CHANGE_DIR)
    return _change_counts(path) if os.path.isdir(path) else None


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


def _owner_name(owner: Any) -> str:
    """Data-dir name of a manifest owner: CAS-era manifests store the
    name, legacy ones the integer version (``v=%06d`` layout)."""
    if isinstance(owner, str) and owner.startswith("v="):
        return owner
    return f"v={int(owner):06d}"


def _owner_version(owner: Any) -> int:
    return int(_owner_name(owner)[2:].split("-", 1)[0])


def _write_bucketed(df: DataFrame, path: str) -> None:
    """One Spark job: ``df`` (with its ``_bucket`` column) as one file
    per bucket under ``path/_bucket=K``."""
    (
        df.repartition("_bucket")
        .write.mode("overwrite")
        .partitionBy("_bucket")
        .parquet(path)
    )


@dataclass
class Commit:
    version: int
    action: str
    ts: float
    metrics: dict[str, Any]
    # this commit's own data dir under the table root (a restore
    # points at the restored one); None on entries written before the
    # CAS protocol (legacy v=%06d layout) and on bucketed commits that
    # wrote nothing
    data: str | None = None
    # what the commit recorded of the rows it changed (module doc):
    # {"kind": "rows", "keys": [...]} | {"kind": "keys"} |
    # {"kind": "empty"} | {"kind": "snapshot"}, plus the change rows'
    # "schema"; None = nothing, so a span over this commit falls back
    # to the snapshot diff of the moved buckets
    change_data: dict[str, Any] | None = None
    # the snapshot's schema (StructType JSON): reads pass it instead of
    # running a schema-inference job over the footers
    schema: str | None = None
    # bucketed tables only: bucket id -> owning data dir name
    manifest: dict[str, Any] | None = None

    def as_json(self) -> dict[str, Any]:
        # unbucketed entries carry no manifest key
        return {k: v for k, v in self.__dict__.items()
                if k != "manifest" or v is not None}


class VersionedTable(CheckConstraints):
    # spill dirs of merges in flight IN THIS PROCESS: vacuum never
    # sweeps these whatever their age (cross-process protection is the
    # spill's _LEASE file)
    _inflight_spills: set[str] = set()

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        bucket_key: str | None = None,
        n_buckets: int | None = None,
    ):
        """Open or create a table. The bucket geometry is part of the
        table, recorded in ``_meta.json`` by its first commit:
        reopening loads it, and a CONFLICTING ``bucket_key`` /
        ``n_buckets`` raises — a resume with another bucket count
        would route keys to the wrong directories. Opening writes
        nothing: a missing table stays missing until it commits."""
        self.spark = spark
        self.root = root
        meta = self._meta()
        if "bucket_key" in meta:
            for arg, name in ((bucket_key, "bucket_key"), (n_buckets, "n_buckets")):
                if arg is not None and arg != meta[name]:
                    raise ValueError(
                        f"table {root} was created with {name}={meta[name]!r}; "
                        f"got {name}={arg!r}"
                    )
            bucket_key, n_buckets = meta["bucket_key"], meta["n_buckets"]
        elif bucket_key is None:
            if n_buckets not in (None, 1):
                raise ValueError(f"n_buckets={n_buckets} needs a bucket_key")
            n_buckets = 1
        elif self.exists():
            raise ValueError(
                f"table {root} was created without buckets; got "
                f"bucket_key={bucket_key!r}"
            )
        else:
            n_buckets = 16 if n_buckets is None else n_buckets
            if n_buckets < 1:
                raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        self.bucket_key = bucket_key
        self.n_buckets = n_buckets

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.root, "_meta.json")

    def _meta(self) -> dict[str, Any]:
        if not os.path.exists(self._meta_path):
            return {}
        with open(self._meta_path) as f:
            return json.load(f)

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

    def exists(self) -> bool:
        return self.latest_version() is not None

    def applied_versions(self, version: int | None = None) -> dict[str, int]:
        """The applied-versions watermark (module doc) of ``version``
        (default: the latest commit) — that one commit, never a scan of
        history. Empty when the commit carries none or the table has no
        commits."""
        if not self.exists():
            return {}
        return dict(self._entry(version).metrics.get(_APPLIED, {}))

    def _write_log_cache(self, entries: list[Commit]) -> None:
        # writer-unique tmp name: two concurrent cache refreshes must
        # not interleave writes into one tmp file. Last replace wins;
        # a stale cache self-heals via history()'s marker-tail merge.
        tmp = f"{self._log_path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump([e.as_json() for e in entries], f, indent=1)
        os.replace(tmp, self._log_path)

    def _publish(
        self, history: list[Commit], entry: Commit, data_dir: str | None = None
    ) -> Commit:
        """Commit ``entry`` as the next version: the first commit of a
        bucketed table records its geometry, then the CAS-reserved
        version marker is THE commit point (a loser removes its staged
        ``data_dir`` and raises :class:`ConcurrentWriteError`)."""
        if entry.manifest is not None:
            entry.metrics = {**entry.metrics, "buckets_written": sum(
                o == entry.data for o in entry.manifest.values())}
            if not os.path.exists(self._meta_path):
                atomic_json_write(self._meta_path, {
                    "bucket_key": self.bucket_key, "n_buckets": self.n_buckets})
        try:
            reserve_version(self.root, entry.version, entry.as_json())
        except ConcurrentWriteError:
            if data_dir:
                shutil.rmtree(data_dir, ignore_errors=True)
            raise
        self._write_log_cache(history + [entry])
        return entry

    def _commit(
        self,
        action: str,
        df: DataFrame,
        metrics: dict[str, Any] | Callable[[str], dict[str, Any]],
        change_rows: DataFrame | None = None,
        change_data: dict[str, Any] | None = None,
        touched: list[int] | None = None,
    ) -> Commit:
        """Write ``df`` as the next version and publish it. Unbucketed,
        ``df`` is the whole snapshot and ``change_rows`` (if any) go
        under its ``_change_data/``. Bucketed, ``df`` holds the rows of
        the ``touched`` buckets (None: all of them), the manifest keeps
        every other bucket's owner, and no change rows are recorded:
        the moved buckets already bound a diff. A callable
        ``metrics`` gets the written data dir, so counts come from
        the files instead of count jobs."""
        self._enforce_constraints(df)
        history = self.history()
        version = (history[-1].version + 1) if history else 0
        # stage to a writer-unique dir: concurrent writers racing to
        # the same version can never clobber each other's files
        data_name = f"v={version:06d}-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(self.root, data_name)
        manifest = None
        if self.bucket_key is None:
            df.write.mode("overwrite").parquet(data_dir)
            if change_rows is not None:
                change_rows.write.parquet(os.path.join(data_dir, _CHANGE_DIR))
                change_data = {**change_data, "schema": change_rows.schema.json()}
        else:
            manifest = {}
            if touched is not None and history:
                self._reject_type_changes(df, history[-1])
                manifest = {b: o for b, o in self._manifest(history[-1]).items()
                            if int(b) not in touched}
            _write_bucketed(df.withColumn("_bucket", self._bucket_col()), data_dir)
            manifest.update({str(b): data_name for b in _bucket_ids_in(data_dir)})
            change_data = None
        entry = Commit(
            version=version,
            action=action,
            ts=time.time(),
            metrics=metrics(data_dir) if callable(metrics) else metrics,
            data=data_name,
            change_data=change_data,
            schema=df.schema.json(),
            manifest=manifest,
        )
        return self._publish(history, entry, data_dir)

    def _reject_type_changes(self, df: DataFrame, latest: Commit) -> None:
        """A bucketed commit that keeps other buckets' files must not
        change a column's type: those files are read under the new
        schema. Raises before anything is written."""
        schema = self._schema(latest)
        if schema is None:
            return
        old = {f.name: f.dataType.simpleString() for f in schema.fields}
        changed = [
            f.name for f in df.schema.fields
            if f.name in old and f.dataType.simpleString() != old[f.name]
        ]
        if changed:
            raise ValueError(
                f"schema evolution cannot change existing column types: "
                f"{changed} (stored { {c: old[c] for c in changed} }); cast "
                f"the source to the stored types or rewrite the table"
            )

    # ---- layout ---------------------------------------------------------

    def _entry(self, version: int | None = None) -> Commit:
        h = self.history()
        if not h:
            raise FileNotFoundError(f"table {self.root} has no commits")
        if version is None:
            return h[-1]
        for c in h:
            if c.version == version:
                return c
        raise ValueError(f"version {version} not in {[c.version for c in h]}")

    def _manifest(self, c: Commit | None = None) -> dict[str, str]:
        """bucket id -> owning data dir name of commit ``c`` (default:
        the latest). An unbucketed snapshot is one bucket, its dir."""
        c = c or self._entry()
        if c.manifest is None:
            return {"0": c.data or f"v={c.version:06d}"}
        return {b: _owner_name(o) for b, o in c.manifest.items()}

    def _leaves(self, c: Commit, buckets: list[int] | None = None) -> list[str]:
        """Data dirs of commit ``c``'s snapshot, limited to ``buckets``."""
        return [
            os.path.join(self.root, o, *(
                [f"_bucket={b}"] if self.bucket_key is not None else []))
            for b, o in self._manifest(c).items()
            if buckets is None or int(b) in buckets
        ]

    def _data_dir(self, version: int) -> str:
        return os.path.join(self.root, self._entry(version).data or f"v={version:06d}")

    def _schema(self, c: Commit) -> StructType | None:
        # a bucketed table written before per-commit schemas kept one
        # in _meta.json
        s = c.schema if c.schema is not None else self._meta().get("schema")
        if s is None:
            return None
        return StructType.fromJson(json.loads(s) if isinstance(s, str) else s)

    def _bucket_col(self):
        return F.pmod(F.xxhash64(F.col(self.bucket_key)), F.lit(self.n_buckets))

    def bucket_ids_of(
        self, df: DataFrame, key: str | None = None
    ) -> list[int] | None:
        """Distinct bucket ids the values of ``key`` (default: the
        bucket key) hash into — the one function that drives
        ``read_buckets`` pruning, so a probe can never drift from the
        table's own bucket math. Collects ≤ n_buckets ints, never data.
        None on an unbucketed table (no Spark job): its one bucket is
        the whole table."""
        if self.bucket_key is None:
            return None
        return sorted(
            r[0]
            for r in df.select(
                F.pmod(F.xxhash64(F.col(key or self.bucket_key)),
                       F.lit(self.n_buckets)).alias("_b")
            )
            .distinct()
            .collect()
        )

    def _check_keys(self, keys: list[str], role: str) -> None:
        if self.bucket_key is not None and self.bucket_key not in keys:
            raise ValueError(
                f"bucket key {self.bucket_key!r} must be one of the {role} "
                f"{keys} (rows that match must share a bucket)"
            )

    # ---- reads ----------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Read the latest snapshot, or time-travel to ``version``."""
        return self.read_buckets(None, version)

    def read_buckets(
        self, buckets: list[int] | None, version: int | None = None
    ) -> DataFrame:
        """Bucket-pruned scan: only the named buckets' files are read
        (all of them for ``None``) — the layout-as-plan lever for key
        probes. Reads pass the commit's schema: no inference job, and
        buckets written before a schema-evolving merge read NULL in
        the added columns."""
        c = self._entry(version)
        paths = self._leaves(c, buckets)
        schema = self._schema(c)
        if not paths:
            return self.spark.createDataFrame([], schema)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def bucket_stats(self) -> DataFrame:
        """Per-bucket (bucket_id, n_rows, n_files, owning_version) —
        the skew diagnostic for state tables: one hot bucket means the
        bucket key is degenerate (e.g. boilerplate band hashes) and
        per-batch merges rewrite disproportionate data. Counts come
        from the parquet footers: no Spark job."""
        c = self._entry()
        rows = [
            (int(b), _footer_rows(leaf), len(_parquet_files(leaf)),
             _owner_version(o))
            for (b, o), leaf in zip(self._manifest(c).items(), self._leaves(c))
        ]
        return self.spark.createDataFrame(
            rows,
            "bucket_id int, n_rows bigint, n_files int, owning_version int",
        ).orderBy("bucket_id")

    def generations(self) -> int:
        """Distinct owning data dirs in the live manifest — the fan-out
        :meth:`compact` collapses. Metadata-only."""
        return len(set(self._manifest().values())) if self.exists() else 0

    # ---- writes ---------------------------------------------------------

    def overwrite(self, df: DataFrame) -> Commit:
        return self._commit("overwrite", df, _rows_metric)

    def append(self, df: DataFrame) -> Commit:
        if not self.exists():
            return self._commit("append", df, _rows_metric, change_data=_FIRST)
        touched = self.bucket_ids_of(df)
        return self._commit(
            "append",
            self.read_buckets(touched).unionByName(df),
            _rows_metric,
            change_rows=df.withColumn("_change_type", F.lit("insert")),
            change_data={"kind": "keys"},
            touched=touched,
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
        insert the same key twice. On a bucketed table the bucket key
        must be one of ``keys``, so rows that can match share a bucket.

        ``schema_evolution=True`` — Delta ``mergeSchema`` parity: a
        source with NEW columns widens the table (old rows read NULL
        there); for table columns the source does NOT carry, inserts
        write NULL and updates PRESERVE the target row's value (Delta's
        ``UPDATE SET *`` only sets the columns the source has). Default
        False errors on any column-set mismatch, exactly as Delta MERGE
        does without the option.

        The source is staged once, so the joins run inside the commit
        write only: a localCheckpoint on an unbucketed table, released
        after the commit; on a bucketed one a spill partitioned by
        bucket, whose dirs name the touched buckets (no collect job) —
        the hot-loop contract is the spill job plus the commit write.
        Only the touched buckets are read and rewritten. An unbucketed
        commit records its change rows — the target rows of every
        matched key (update_preimage), the rows that replace them
        (update_postimage) and the inserted rows — and ``inserted`` /
        ``updated`` count them; a bucketed commit counts from parquet
        footers (rows written less rows replaced; source rows less
        inserted), exact while the table's keys are unique — the
        invariant merge maintains.
        """
        if when_matched not in {"ignore", "update"}:
            raise ValueError(when_matched)
        self._check_keys(keys, "merge keys")
        for k in keys:
            source = source.where(F.col(k).isNotNull())
        source = source.dropDuplicates(keys)

        if not self.exists():
            return self._commit(
                "merge", source,
                lambda d: {"inserted": _footer_rows(d), "updated": 0},
                change_data=_FIRST,
            )
        with self._staged(source) as (staged, touched, spill):
            return self._merge(
                staged, touched, spill, keys, when_matched, schema_evolution
            )

    @contextmanager
    def _staged(self, source: DataFrame):
        """``(staged source, touched buckets, spill dir)`` for a merge;
        the stage is released on exit."""
        if self.bucket_key is None:
            staged = stage(source, "merge_source")
            try:
                yield staged, None, None
            finally:
                release_staged(staged)
            return
        # writer-unique spill dir: concurrent merges must not share it
        # (vacuum sweeps crash-orphaned spills)
        spill = os.path.join(self.root, f"_tmp_merge-{uuid.uuid4().hex[:8]}")
        VersionedTable._inflight_spills.add(spill)
        try:
            bucketed = source.withColumn("_bucket", self._bucket_col())
            _write_bucketed(bucketed, spill)
            # cross-process liveness lease: the orphan sweep keys on
            # this file's mtime, touched once the spill has landed
            with open(os.path.join(spill, "_LEASE"), "w") as fh:
                fh.write(str(time.time()))
            # _bucket in the read schema parses the dir values as bigint
            yield (
                self.spark.read.schema(bucketed.schema).parquet(spill)
                .drop("_bucket"),
                _bucket_ids_in(spill),
                spill,
            )
        finally:
            VersionedTable._inflight_spills.discard(spill)
            shutil.rmtree(spill, ignore_errors=True)

    def _merge(
        self,
        source: DataFrame,
        touched: list[int] | None,
        spill: str | None,
        keys: list[str],
        when_matched: str,
        schema_evolution: bool,
    ) -> Commit:
        replaced = self._leaves(self._entry(), touched)
        target = self.read_buckets(touched)
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
            n = _recorded(data_dir)
            if n is not None:
                return {"inserted": n["insert"], "updated": n["update_postimage"]}
            n_ins = _footer_rows(data_dir) - _footer_rows(*replaced)
            return {
                "inserted": n_ins,
                "updated": (_footer_rows(spill) - n_ins
                            if when_matched == "update" else 0),
            }

        return self._commit(
            "merge", out, metrics, changed,
            {"kind": "rows", "keys": list(keys)}, touched,
        )

    def delete_where(self, condition) -> Commit:
        """Predicate DELETE (↔ delete_many, S11:
        del_unuse_record_in_mrestate.py:11-19), rewriting only the
        buckets that hold a matching row. Records the deleted rows as
        its change rows."""
        touched = self.bucket_ids_of(self.read().where(condition))
        replaced = self._leaves(self._entry(), touched)
        target = self.read_buckets(touched)
        return self._commit(
            "delete",
            target.where(~condition | condition.isNull()),
            lambda d: {"rows": _footer_rows(d),
                       "deleted": _footer_rows(*replaced) - _footer_rows(d)},
            change_rows=target.where(condition).withColumn(
                "_change_type", F.lit("delete")
            ),
            change_data={"kind": "keys"},
            touched=touched,
        )

    # ---- rotation / rollback / backup -----------------------------------

    def restore(self, version: int) -> Commit:
        """RESTORE TABLE TO VERSION AS OF — the rollback the reference
        hand-rolls with last-data/old-data object juggling
        (price_prediction_data_pipeline.py:228-268). A new commit
        pointing back at ``version``'s data: nothing is copied, history
        is kept, and vacuum keeps the restored dirs alive. The restored
        version's watermark comes back with its content."""
        c = self._entry(version)
        history = self.history()
        return self._publish(history, Commit(
            version=history[-1].version + 1,
            action="restore",
            ts=time.time(),
            metrics={"restored_from": version, **_watermark(c.metrics)},
            data=self._manifest(c)["0"] if c.manifest is None else None,
            schema=c.schema,
            manifest=c.manifest,
        ))

    def apply_changes(
        self,
        feed: DataFrame,
        keys: list[str],
        applied: dict[str, int] | None = None,
        record_changes: bool = True,
    ) -> Commit:
        """APPLY CHANGES INTO parity (the CDC consumer): apply a
        change feed in :func:`snapshot_diff`'s shape (``_change_type``
        ∈ insert / delete / update_preimage / update_postimage) to
        this table as ONE atomic commit that rewrites only the buckets
        the feed touches (a bucket left empty loses its manifest
        entry), so per-application cost follows the change volume.

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

        An unbucketed commit records its change rows: every table row
        of a key the feed touches (update_preimage, or delete when the
        feed does not upsert the key) and the upserted rows
        (update_postimage, or insert for a new key). Its metrics count
        them: ``upserts`` rows written for upserted keys, ``deletes``
        rows actually removed. ``record_changes=False`` is for a full
        recompute whose feed upserts every key: its change rows would
        be two more copies of the table, so the commit records none (a
        span over it diffs full snapshots, as over an overwrite). A
        commit without change rows counts feed rows instead.

        ``applied`` is the consumer's watermark (module doc): the source
        versions this feed brings the table up to, published in the
        same commit as the rows.

        The feed is STAGED once (``staging.stage``): a CDC feed is
        typically ``snapshot_diff`` — a full-snapshot join — and the
        change rows, the constraint aggregate and the commit write
        would otherwise each re-execute that lineage. Downstream
        consumers read the checkpointed blocks instead (single-execution
        pin in tests); the stage is released once the commit lands."""
        if not keys:
            raise ValueError("keys required to apply a change feed")
        self._check_keys(keys, "feed keys")
        staged = stage(feed, "apply_feed")
        try:
            watermark = {_APPLIED: dict(applied)} if applied else {}
            return self._apply(staged, keys, watermark, record_changes)
        finally:
            release_staged(staged)

    def _apply(
        self,
        feed: DataFrame,
        keys: list[str],
        watermark: dict[str, Any],
        record_changes: bool,
    ) -> Commit:
        for k in keys:
            feed = feed.where(F.col(k).isNotNull())
        ct = F.col("_change_type")
        ups = feed.where(ct.isin(*_AFTER)).drop("_change_type")
        dels = feed.where(ct == "delete").select(*keys)
        if not self.exists():
            return self._commit(
                "apply_changes",
                ups,
                lambda d: {"upserts": _footer_rows(d), "deletes": 0,
                           **watermark},
                change_data=_FIRST,
            )
        touched = self.bucket_ids_of(ups.select(*keys).unionByName(dels))
        target = self.read_buckets(touched)
        kept = target.join(dels, keys, "left_anti")
        ups = ups.select(*kept.columns)
        out = kept.join(ups.select(*keys), keys, "left_anti").unionByName(ups)
        probe = ups.select(*keys).unionByName(dels)
        changed = None
        if record_changes:
            # before images (side 0) and after images (side 1) of every
            # touched key, typed by whether the key has the other side
            side = F.col("_side")
            w = Window.partitionBy(*keys)
            changed = (
                target.join(probe, keys, "left_semi")
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
            n = _recorded(data_dir)
            if n is None:
                return {"upserts": ups.count(), "deletes": dels.count(),
                        **watermark}
            return {
                "upserts": n["insert"] + n["update_postimage"],
                "deletes": n["delete"],
                **watermark,
            }

        return self._commit(
            "apply_changes", out, metrics, changed,
            {"kind": "rows", "keys": list(keys)} if record_changes else None,
            touched,
        )

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """Change-data-feed between two retained versions (Delta CDF
        contract), keyed by ``keys`` (default: the bucket key; an
        unbucketed table has no intrinsic key): exactly
        ``snapshot_diff(read(from_version), read(to_version), keys)``.

        When every commit in the span recorded its change rows (module
        doc), the answer comes from them: per key, the before rows of
        the first commit that touched it and the after rows of the
        last one, passed through :func:`snapshot_diff`. That is exact
        because snapshot_diff is key-local, and it reads only
        ``_change_data`` for spans of merges and apply_changes (append
        / delete_where spans also read the adjacent snapshots,
        restricted to the touched keys by a broadcast semi-join, so
        duplicate keys stay exact). Otherwise — a commit that recorded
        nothing (bucketed, overwrite, restore, a table written before
        change data) or recorded under keys that are not a subset of
        ``keys`` — it diffs the buckets whose manifest entry moved
        between the two versions: an untouched bucket proves itself
        unchanged by metadata alone (exact when the bucket key is one
        of ``keys``; otherwise every bucket is diffed). Unbucketed,
        that is the full snapshot diff. vacuum retention bounds reach.
        """
        keys = keys or ([self.bucket_key] if self.bucket_key else None)
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
            moved = None
            if self.bucket_key in keys:
                m0 = self._manifest(self._entry(from_version))
                m1 = self._manifest(self._entry(to_version))
                moved = [int(b) for b in set(m0) | set(m1)
                         if m0.get(b) != m1.get(b)]
            return snapshot_diff(
                self.read_buckets(moved, from_version),
                self.read_buckets(moved, to_version),
                keys,
            )
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
        rows = self.spark.read.schema(
            StructType.fromJson(json.loads(c.change_data["schema"]))
        ).parquet(os.path.join(self.root, c.data, _CHANGE_DIR))
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
        copies the latest snapshot into a fresh single-version table of
        the same geometry."""
        dest = VersionedTable(self.spark, dest_root, self.bucket_key, self.n_buckets)
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
        """Delta ``OPTIMIZE`` parity: rewrite the latest snapshot as a
        new commit (time travel to the pre-compaction layout still
        works until vacuum). Data content is identical (tests assert);
        only layout changes.

        The commit carries the latest commit's watermark forward.

        Unbucketed, the rewrite is evenly-sized files. Every
        ``merge``/``append`` commit writes with the plan's own
        partitioning, so a table fed by a micro-batch stream accretes
        one small-file generation per batch — and scan cost at 100 TB
        is dominated by file count (task scheduling + footer reads),
        not bytes. One round of repartition-by-count restores
        ~``target_rows_per_file`` rows per file. Repartition (shuffle)
        rather than coalesce: coalesce glues adjacent partitions and
        inherits their skew, which at scale recreates the straggler
        files compaction is meant to remove.

        Bucketed, files are already one per bucket; the rewrite
        collapses OWNERSHIP. Partition-scoped merges leave each bucket
        owned by the commit that last rewrote it, and a data dir still
        owning one bucket stays alive through vacuum; after compact
        every bucket has one owner, so a following ``vacuum`` can
        release every older generation.

        ``zorder_by`` (unbucketed only: the bucket layout is the
        clustering) is ``OPTIMIZE ZORDER BY`` parity: cluster the
        rewrite on the Morton interleave of the named NUMERIC/temporal
        columns, so files are simultaneously narrow in EVERY named
        dimension and parquet row-group min/max stats prune scans
        filtered on any of them (a plain sort is narrow in its first
        key only). Each column is mapped to a 14-bit bucket over its
        [min, max] (one column-pruned agg pass), the buckets' bits are
        interleaved, and the rewrite range-partitions + sorts on that
        key."""
        if target_rows_per_file < 1:
            raise ValueError(
                f"target_rows_per_file must be >= 1, got {target_rows_per_file}"
            )
        df = self.read()
        # NOT a second data pass: count(*) over a parquet scan prunes
        # to zero columns and answers from row-group footers. Its cost
        # is one task per file — which is the small-file problem
        # compaction exists to fix, and a distributed footer read
        # still beats a single-process pyarrow loop over the same
        # million files.
        n = df.count()
        n_files = max(1, -(-n // target_rows_per_file))  # ceil div
        if zorder_by:
            if self.bucket_key is not None:
                raise ValueError(
                    "zorder_by applies to unbucketed tables only (the "
                    "bucket layout is the clustering)"
                )
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
            # a bucketed write already lays out one file per bucket
            out = df if self.bucket_key else df.repartition(n_files)
        return self._commit(
            "compact",
            out,
            {"rows": n, "files": n_files,
             **({"zorder_by": zorder_by, "zorder_method": zorder_method}
                if zorder_by else {}),
             **_watermark(self._entry().metrics)},
            change_data={"kind": "empty"},
        )

    def maybe_compact(self, max_generations: int) -> Commit | None:
        """The auto-compaction hook for continuous-merge loops (the
        streaming state tables): :meth:`compact` iff the live manifest
        spans more than ``max_generations`` owning data dirs, else do
        nothing. The trigger reads only the manifest, so calling this
        every micro-batch costs one JSON read when it doesn't fire —
        the same posture as per-batch ``vacuum``. Under a steady merge
        stream this bounds BOTH the generation count (≤
        max_generations + 1 at any instant) and, through the following
        vacuums, the on-disk data-dir count — which keeps per-batch
        read planning flat however long the stream runs."""
        if max_generations < 1:
            raise ValueError(
                f"max_generations must be >= 1, got {max_generations}"
            )
        if self.generations() <= max_generations:
            return None
        return self.compact()

    def vacuum(self, keep_last: int = 3) -> list[int]:
        """Drop history beyond the last N commits (↔ keep-last-3 backup
        retention, utils_of_backup.py:155-164) and delete every data
        dir no surviving commit references; returns the versions of
        the dirs deleted. Time travel beyond the survivors is gone.

        The sweep walks the disk, not the dropped log entries: a dir
        can outlive its own log entry (a kept manifest still pointed an
        untouched bucket at it) and only become garbage rounds later,
        when that bucket is rewritten. It also reclaims the staged dirs
        of writers that lost a CAS race mid-crash (a live loser removes
        its own), but only at versions ≤ the latest kept commit: a dir
        staged above it belongs to an in-flight writer. A merge spill
        is swept only when no merge of this process holds it and its
        ``_LEASE`` (or, lacking one, the dir) is older than an hour.
        The latest commit always survives: it carries the table's
        watermark (module doc)."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        history = self.history()
        if len(history) <= keep_last:
            return []
        drop, keep = history[:-keep_last], history[-keep_last:]
        live = {o for c in keep for o in self._manifest(c).values()}
        latest = keep[-1].version
        removed = []
        now = time.time()
        for d in os.listdir(self.root):
            path = os.path.join(self.root, d)
            if d.startswith("_tmp_merge"):
                if path in VersionedTable._inflight_spills:
                    continue
                lease = os.path.join(path, "_LEASE")
                try:
                    ref = os.path.getmtime(path)
                    if os.path.exists(lease):
                        ref = max(ref, os.path.getmtime(lease))
                except OSError:
                    continue
                if now - ref > _SPILL_GRACE_S:
                    shutil.rmtree(path, ignore_errors=True)
                continue
            if not d.startswith("v=") or d in live:
                continue
            try:
                version = _owner_version(d)
            except ValueError:
                continue
            if version <= latest:
                shutil.rmtree(path, ignore_errors=True)
                removed.append(version)
        for c in drop:
            drop_marker(self.root, c.version)
        self._write_log_cache(keep)
        return sorted(set(removed))
