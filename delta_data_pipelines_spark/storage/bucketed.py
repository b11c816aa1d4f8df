"""Hash-bucketed versioned table: partition-scoped MERGE.

``VersionedTable`` rewrites the whole snapshot on every commit — fine
for the reference's batch jobs (tables ≤ a few GB), but a streaming
job that MERGEs accumulated state every micro-batch (the incremental
near-dup signature tables) would pay O(corpus) write cost per batch:
O(n²) total ingest work. This table fixes the write path the way
Delta/Iceberg do — data is laid out in hash buckets and a commit
rewrites ONLY the buckets the batch touches:

    <root>/_log.json               commit-log CACHE; each entry carries
                                   a MANIFEST {bucket -> owner} naming
                                   the data dir that owns each bucket's
                                   current data (legacy entries store
                                   the integer version; the layout then
                                   is v=%06d)
    <root>/_commits/0000NN.json    per-version commit marker — the CAS
                                   commit point (see storage.meta)
    <root>/v=0000NN-<token>/_bucket=K/...  immutable per-bucket parquet
                                   (token = writer-unique suffix, so
                                   concurrent writers racing to one
                                   version can't clobber each other's
                                   files before the CAS decides)

A read unions the manifest's (version, bucket) leaf directories; a
MERGE buckets the source by ``pmod(xxhash64(key), n_buckets)``, joins
only against the touched buckets' data, writes one new directory per
touched bucket, and points the new manifest's untouched buckets at
their existing directories. Per-batch write cost is
O(batch + touched_buckets_size), independent of table size — the same
contract as the reference's Mongo unique-index insert
(mongodb_utils.py:21-36), which touches only the batch's keys.

Correctness requires the bucket key to be a subset of the merge keys:
rows that can match (equal on all keys) then always share a bucket, so
a bucket-scoped anti-join sees every possible match.

On a real cluster the same API maps onto Delta MERGE with a bucketed
layout (or dynamic partition overwrite); ``storage.DELTA_AVAILABLE``
marks that seam.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .meta import (
    ConcurrentWriteError,
    atomic_json_write,
    drop_marker,
    marker_tail,
    reserve_version,
)
from pyspark.sql import functions as F

from .constraints import CheckConstraints


@dataclass
class BucketedCommit:
    version: int
    action: str
    ts: float
    metrics: dict[str, Any]
    # manifest values: data-dir NAME for CAS-era commits, integer
    # version for legacy entries (v=%06d layout)
    manifest: dict[str, Any] = field(default_factory=dict)
    # this commit's own data dir name; None for metadata-only commits
    # (restore, no-op merge) and legacy entries
    data: str | None = None


class BucketedTable(CheckConstraints):
    # spill dirs of merges currently in flight IN THIS PROCESS —
    # vacuum never sweeps these whatever their age (a same-process
    # sweep racing a long merge was the original hazard; cross-process
    # protection comes from the _LEASE heartbeat, below)
    _inflight_spills: set[str] = set()

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        bucket_key: str | None = None,
        n_buckets: int | None = None,
    ):
        """Open or create a bucketed table.

        The bucket geometry is part of the table (persisted in
        ``_meta.json`` at creation): reopening loads it, and passing a
        CONFLICTING ``bucket_key``/``n_buckets`` raises — a resume with
        a different bucket count would route keys to the wrong
        directories and silently corrupt merges.
        """
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        meta_path = os.path.join(root, "_meta.json")
        if not os.path.exists(meta_path) and os.path.exists(
            os.path.join(root, "_log.json")
        ):
            # A commit log with no bucket metadata is another layout
            # (e.g. a VersionedTable dir): its entries would parse into
            # BucketedCommits with EMPTY manifests, making all existing
            # data silently invisible. Refuse rather than adopt.
            raise ValueError(
                f"{root} has a commit log but no _meta.json — not a "
                f"BucketedTable (VersionedTable layout?); migrate the "
                f"data explicitly instead of reopening it bucketed"
            )
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            for arg, stored, name in (
                (bucket_key, meta["bucket_key"], "bucket_key"),
                (n_buckets, meta["n_buckets"], "n_buckets"),
            ):
                if arg is not None and arg != stored:
                    raise ValueError(
                        f"table {root} was created with {name}={stored!r}; "
                        f"got {name}={arg!r}"
                    )
            self.bucket_key = meta["bucket_key"]
            self.n_buckets = meta["n_buckets"]
        else:
            if bucket_key is None:
                raise ValueError(f"bucket_key required to create table {root}")
            n_buckets = 16 if n_buckets is None else n_buckets
            if n_buckets < 1:
                raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
            self.bucket_key = bucket_key
            self.n_buckets = n_buckets
            tmp = meta_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"bucket_key": bucket_key, "n_buckets": n_buckets}, f)
            os.replace(tmp, meta_path)

    @staticmethod
    def exists_at(root: str) -> bool:
        """True iff ``root`` holds a BucketedTable (checkable without
        constructing one — construction CREATES metadata)."""
        return os.path.exists(os.path.join(root, "_meta.json"))

    # ---- log ------------------------------------------------------------

    @property
    def _log_path(self) -> str:
        return os.path.join(self.root, "_log.json")

    def history(self) -> list[BucketedCommit]:
        """Committed versions, oldest first: the ``_log.json`` cache
        reconciled with any newer commit markers (a winner that
        crashed between marker and cache refresh still committed)."""
        entries: list[BucketedCommit] = []
        if os.path.exists(self._log_path):
            with open(self._log_path) as f:
                entries = [BucketedCommit(**e) for e in json.load(f)]
        last = entries[-1].version if entries else -1
        entries.extend(
            BucketedCommit(**e) for e in marker_tail(self.root, last)
        )
        return entries

    def latest_version(self) -> int | None:
        h = self.history()
        return h[-1].version if h else None

    def exists(self) -> bool:
        return self.latest_version() is not None

    def _write_log(self, entries: list[BucketedCommit]) -> None:
        # writer-unique tmp: concurrent cache refreshes must not
        # interleave into one tmp file; a lost cache update self-heals
        # through history()'s marker-tail merge
        tmp = f"{self._log_path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump([e.__dict__ for e in entries], f, indent=1)
        os.replace(tmp, self._log_path)

    def _append_entry(
        self,
        history: list[BucketedCommit],
        entry: BucketedCommit,
        data_dir: str | None = None,
    ) -> None:
        """Commit ``entry`` with optimistic concurrency: CAS-reserve
        its version marker (the commit point — raises
        :class:`ConcurrentWriteError` when another writer took the
        version first, removing this writer's staged ``data_dir``),
        then refresh the log cache."""
        try:
            reserve_version(self.root, entry.version, entry.__dict__)
        except ConcurrentWriteError:
            if data_dir:
                shutil.rmtree(data_dir, ignore_errors=True)
            raise
        self._write_log(history + [entry])

    # ---- schema (for empty-table reads) ---------------------------------

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.root, "_meta.json")

    def _read_meta(self) -> dict:
        with open(self._meta_path) as f:
            return json.load(f)

    def _store_schema_once(self, df: DataFrame) -> None:
        """Persist the data schema (sans _bucket) on the first
        data-bearing commit, so a table whose manifest later becomes
        empty (delete-all, empty overwrite) still reads as an empty
        DataFrame instead of an unable-to-infer-schema crash."""
        meta = self._read_meta()
        if "schema" not in meta:
            meta["schema"] = json.loads(df.drop("_bucket").schema.json())
            atomic_json_write(self._meta_path, meta)

    def _empty_df(self) -> DataFrame:
        from pyspark.sql.types import StructType

        meta = self._read_meta()
        if "schema" not in meta:
            raise FileNotFoundError(
                f"table {self.root} has no data and no recorded schema "
                f"(no data-bearing commit yet)"
            )
        schema = StructType.fromJson(meta["schema"])
        return self.spark.createDataFrame([], schema)

    @staticmethod
    def _new_data_name(version: int) -> str:
        return f"v={version:06d}-{uuid.uuid4().hex[:8]}"

    def _owner_dir(self, owner: Any) -> str:
        """Data dir of a manifest owner: CAS-era manifests store the
        data-dir NAME; legacy manifests stored the integer version."""
        if isinstance(owner, str) and owner.startswith("v="):
            return os.path.join(self.root, owner)
        return os.path.join(self.root, f"v={int(owner):06d}")

    @staticmethod
    def _owner_version(owner: Any) -> int:
        if isinstance(owner, str) and owner.startswith("v="):
            return int(owner[2:].split("-", 1)[0])
        return int(owner)

    def _version_dir(self, version: int) -> str:
        """Data dir of a COMMITTED version (diagnostics/tests); new
        versions name their dir via ``_new_data_name`` before commit."""
        for c in self.history():
            if c.version == version and c.data:
                return os.path.join(self.root, c.data)
        return os.path.join(self.root, f"v={version:06d}")

    def _bucket_dir(self, owner: Any, bucket: int) -> str:
        return os.path.join(self._owner_dir(owner), f"_bucket={bucket}")

    # ---- bucketing ------------------------------------------------------

    def _bucket_col(self):
        return F.pmod(F.xxhash64(F.col(self.bucket_key)), F.lit(self.n_buckets))

    def bucket_ids_of(self, df: DataFrame, key: str | None = None) -> list[int]:
        """Distinct bucket ids the values of ``key`` (default: this
        table's bucket key) hash into — THE function readers must use
        to drive ``read_buckets`` pruning, so the probe can never
        drift from the table's own bucket math. Collects ≤ n_buckets
        ints, never data."""
        key = key or self.bucket_key
        return sorted(
            r[0]
            for r in df.select(
                F.pmod(F.xxhash64(F.col(key)), F.lit(self.n_buckets)).alias("_b")
            )
            .distinct()
            .collect()
        )

    @staticmethod
    def _bucket_ids_in(path: str) -> list[int]:
        """Bucket ids present as `_bucket=K` partition dirs under a
        written directory — the ONE parse of the on-disk layout."""
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(path)
            if d.startswith("_bucket=")
        )

    def _schema_reader(self):
        """A reader preloaded with the stored table schema when one was
        recorded (skips the per-read schema-inference job); plain
        reader otherwise."""
        reader = self.spark.read
        meta = self._read_meta()
        if "schema" in meta:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(meta["schema"]))
        return reader

    def _write_buckets(self, df: DataFrame, data_name: str) -> list[int]:
        """Write df (with its _bucket column) under
        <data_name>/_bucket=K; one Spark job for all buckets. Returns
        the bucket ids written."""
        vdir = os.path.join(self.root, data_name)
        (
            df.repartition("_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(vdir)
        )
        return self._bucket_ids_in(vdir)

    def _commit(
        self,
        action: str,
        df_bucketed: DataFrame,
        manifest_base: dict[str, Any],
        metrics: dict[str, Any],
    ) -> BucketedCommit:
        self._enforce_constraints(df_bucketed)
        history = self.history()
        version = (history[-1].version + 1) if history else 0
        data_name = self._new_data_name(version)
        written = self._write_buckets(df_bucketed, data_name)
        # schema is known from the frame even when no rows were written
        # (empty overwrite, delete-all): record it on the FIRST commit so
        # exists()-then-read() always works on an empty table
        self._store_schema_once(df_bucketed)
        manifest = dict(manifest_base)
        manifest.update({str(b): data_name for b in written})
        entry = BucketedCommit(
            version=version,
            action=action,
            ts=time.time(),
            metrics={**metrics, "buckets_written": len(written)},
            manifest=manifest,
            data=data_name,
        )
        self._append_entry(
            history, entry, os.path.join(self.root, data_name)
        )
        return entry

    # ---- reads ----------------------------------------------------------

    def _manifest(self, version: int | None = None) -> dict[str, Any]:
        h = self.history()
        if not h:
            raise FileNotFoundError(f"table {self.root} has no commits")
        if version is None:
            return h[-1].manifest
        for c in h:
            if c.version == version:
                return c.manifest
        raise ValueError(f"version {version} not in {[c.version for c in h]}")

    def read(self, version: int | None = None) -> DataFrame:
        """Read the latest state, or time-travel to ``version`` — unions
        the manifest's per-bucket leaf dirs; the internal bucket id is
        not a data column. Reads through the STORED schema (no
        inference job, and buckets written before a schema evolution
        serve NULL for later-added columns by name)."""
        manifest = self._manifest(version)
        if not manifest:  # delete-all / empty-overwrite leave no dirs
            return self._empty_df()
        paths = [self._bucket_dir(v, int(b)) for b, v in manifest.items()]
        return self._schema_reader().parquet(*paths)

    def read_buckets(
        self, buckets: list[int], version: int | None = None
    ) -> DataFrame:
        """Bucket-pruned scan: only the named buckets' files are read —
        the layout-as-plan lever for key-range probes. ``version``
        time-travels the manifest like :meth:`read` (index stores pass
        their pinned version so a probe pairs with its centroids)."""
        manifest = self._manifest(version)
        paths = [
            self._bucket_dir(v, int(b))
            for b, v in manifest.items()
            if int(b) in set(buckets)
        ]
        if not paths:
            return self.read().limit(0)
        return self._schema_reader().parquet(*paths)

    def bucket_stats(self) -> DataFrame:
        """Per-bucket (bucket_id, n_rows, n_files, owning_version) —
        the skew diagnostic for state tables: one hot bucket means the
        bucket key is degenerate (e.g. boilerplate band hashes) and
        per-batch merges rewrite disproportionate data. Row counts come
        from a per-directory ``count()`` (answered from parquet footers
        — no key column read, no hashing, no shuffle); file counts
        from an ``os.listdir`` of the ≤ n_buckets manifest dirs."""
        manifest = self._manifest()
        rows = []
        for b, v in sorted(manifest.items(), key=lambda kv: int(kv[0])):
            d = self._bucket_dir(v, int(b))
            n_files = sum(f.endswith(".parquet") for f in os.listdir(d))
            n_rows = self.spark.read.parquet(d).count()
            rows.append((int(b), n_rows, n_files, self._owner_version(v)))
        return self.spark.createDataFrame(
            rows,
            "bucket_id int, n_rows bigint, n_files int, owning_version int",
        ).orderBy("bucket_id")

    # ---- writes ---------------------------------------------------------

    def overwrite(self, df: DataFrame) -> BucketedCommit:
        """Full rewrite (all buckets); resets the manifest."""
        out = df.withColumn("_bucket", self._bucket_col())
        return self._commit("overwrite", out, {}, {"rows": df.count()})

    def _footer_count(self, paths: list[str]) -> int:
        """Row count over bucket dirs, answered from parquet metadata —
        no data columns are materialized (count(*) over a zero-column
        scan reads row-group counts), so metric jobs never re-run the
        merge joins the way the pre-r7 ``inserted.count()`` did."""
        if not paths:
            return 0
        return self._schema_reader().parquet(*paths).count()

    def _reject_type_changes(self, df: DataFrame) -> None:
        """Fail a schema-evolving commit whose source changes an
        existing column's dataType — BEFORE any bucket is written
        (called pre-write in merge), so a rejected evolution leaves no
        half-committed version behind. No-op when no schema is stored
        yet or names don't overlap."""
        try:
            meta = self._read_meta()
        except FileNotFoundError:
            return
        old_types = {
            f["name"]: f["type"]
            for f in meta.get("schema", {}).get("fields", [])
        }
        if not old_types:
            return
        new_fields = json.loads(df.drop("_bucket").schema.json())["fields"]
        changed = [
            f["name"]
            for f in new_fields
            if f["name"] in old_types and f["type"] != old_types[f["name"]]
        ]
        if changed:
            raise ValueError(
                f"schema evolution cannot change existing column types: "
                f"{changed} (stored "
                f"{ {c: old_types[c] for c in changed} }); cast the "
                f"source to the stored types or rewrite the table"
            )

    def _update_schema(self, df: DataFrame) -> None:
        """WIDEN the stored data schema (sans _bucket) after a
        schema-evolving commit, so _schema_reader serves the new
        columns (parquet reads fill missing columns with NULL by
        name). Widen-only: stored columns absent from ``df`` are KEPT —
        evolution can add columns, never silently drop them (a narrow
        source must not make earlier-evolved columns unreadable).

        Type-change validation is the CALLER's pre-write duty
        (``_reject_type_changes`` before ``_write_buckets``, as merge
        does at its line): this method runs after buckets are already
        on disk, where raising would strand a half-committed version —
        exactly the failure mode the pre-write check exists to avoid,
        so no late re-validation happens here."""
        meta = self._read_meta()
        new_fields = json.loads(df.drop("_bucket").schema.json())["fields"]
        have = {f["name"] for f in new_fields}
        old_fields = meta.get("schema", {}).get("fields", [])
        merged = new_fields + [f for f in old_fields if f["name"] not in have]
        meta["schema"] = {"type": "struct", "fields": merged}
        atomic_json_write(self._meta_path, meta)

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        when_matched: str = "ignore",
        metrics: bool = True,
        schema_evolution: bool = False,
    ) -> BucketedCommit:
        """Partition-scoped MERGE: same semantics as
        ``VersionedTable.merge`` (insert-if-absent / upsert, null keys
        dropped, source deduplicated on keys) but only the buckets the
        source touches are read, joined, and rewritten.

        Job shape (the hot-streaming-loop contract): exactly TWO Spark
        jobs — (1) spill the deduplicated source to a bucketed tmp dir
        (its partition dirs name the touched buckets, replacing the
        former localCheckpoint + distinct-collect pair), (2) the merge
        write itself; a first commit is ONE job (the tmp dir is adopted
        as the version dir).  The anti/semi joins execute exactly once,
        inside the write.  With ``metrics=True`` (default) the
        inserted/updated counts are recovered arithmetically from
        parquet-footer row counts (written − pre-existing), adding only
        metadata-only count jobs; ``metrics=False`` skips those and
        records -1.  Footer math is exact whenever the table's keys are
        unique — the invariant merge itself maintains; a table seeded
        by ``overwrite`` with duplicate keys can over/under-count the
        ``update``-mode metrics (data remains correct).

        ``schema_evolution=True`` — Delta ``mergeSchema`` parity: new
        source columns widen the table schema (the stored schema is
        updated, and UNTOUCHED buckets' parquet serves NULL for the
        new columns by name on read); missing source columns write
        NULL. Default False errors on any column-set mismatch.
        """
        if when_matched not in {"ignore", "update"}:
            raise ValueError(when_matched)
        if self.bucket_key not in keys:
            raise ValueError(
                f"bucket key {self.bucket_key!r} must be one of the merge "
                f"keys {keys} (rows that match must share a bucket)"
            )
        for k in keys:
            source = source.where(F.col(k).isNotNull())
        source = source.dropDuplicates(keys).withColumn(
            "_bucket", self._bucket_col()
        )
        # merge writes through its own spill path, not _commit —
        # enforce on the deduplicated incoming rows here (carried-
        # forward bucket rows passed validation when first written,
        # and add_constraint scans the whole table, so they comply)
        self._enforce_constraints(source)
        # writer-unique spill dir: concurrent merges must not share it
        # (vacuum sweeps crash-orphaned spills)
        tmp = os.path.join(self.root, f"_tmp_merge-{uuid.uuid4().hex[:8]}")
        BucketedTable._inflight_spills.add(tmp)
        try:
            (
                source.repartition("_bucket")
                .write.mode("overwrite")
                .partitionBy("_bucket")
                .parquet(tmp)
            )
            # cross-process liveness lease: the orphan sweep keys its
            # staleness on this file's mtime (re-touched at each merge
            # phase below), not the dir's — a merge whose post-spill
            # joins outlive the grace period keeps its spill alive
            self._touch_lease(tmp)
            touched = self._bucket_ids_in(tmp)
            return self._merge_spilled(
                source, tmp, touched, keys, when_matched, metrics,
                schema_evolution,
            )
        finally:
            BucketedTable._inflight_spills.discard(tmp)
            shutil.rmtree(tmp, ignore_errors=True)

    @staticmethod
    def _touch_lease(tmp: str) -> None:
        try:
            with open(os.path.join(tmp, "_LEASE"), "w") as fh:
                fh.write(str(time.time()))
        except OSError:  # spill vanished mid-merge: surface elsewhere
            pass

    def _merge_spilled(
        self,
        source: DataFrame,
        tmp: str,
        touched: list[int],
        keys: list[str],
        when_matched: str,
        metrics: bool,
        schema_evolution: bool = False,
    ) -> BucketedCommit:
        history = self.history()
        version = (history[-1].version + 1) if history else 0

        if not touched:  # all-null-key batch
            # record the schema even on this no-op commit, so an
            # all-null FIRST batch doesn't create a table where
            # exists() is True but read() has no schema to serve
            self._store_schema_once(source)
            base = self._manifest() if self.exists() else {}
            entry = BucketedCommit(
                version=version,
                action="merge",
                ts=time.time(),
                metrics={"inserted": 0, "updated": 0, "buckets_written": 0},
                manifest=base,
            )
            self._append_entry(history, entry)
            return entry

        if not self.exists():
            # first data-bearing commit: adopt the spill as the version
            # dir (rename, zero extra Spark jobs; the writer-unique
            # name can't collide with anything on disk)
            n_src = self._footer_count([tmp]) if metrics else -1
            data_name = self._new_data_name(version)
            vdir = os.path.join(self.root, data_name)
            try:  # the lease must not ride into the adopted version dir
                os.remove(os.path.join(tmp, "_LEASE"))
            except OSError:
                pass
            os.replace(tmp, vdir)
            self._store_schema_once(source)
            entry = BucketedCommit(
                version=version,
                action="merge",
                ts=time.time(),
                metrics={
                    "inserted": n_src,
                    "updated": 0,
                    "buckets_written": len(touched),
                },
                manifest={str(b): data_name for b in touched},
                data=data_name,
            )
            self._append_entry(history, entry, vdir)
            return entry

        # re-read the spilled source with its KNOWN schema (skips the
        # per-read schema-inference job; _bucket is in the schema so the
        # partition-dir value parses back as bigint, not inferred int)
        self._touch_lease(tmp)  # heartbeat: bucket read/join phase
        src = self.spark.read.schema(source.schema).parquet(tmp)
        manifest = self._manifest()
        existing_dirs = [
            self._bucket_dir(manifest[str(b)], b)
            for b in touched
            if str(b) in manifest
        ]
        if existing_dirs:
            target = self._schema_reader().parquet(*existing_dirs).withColumn(
                "_bucket", self._bucket_col()
            )
        else:
            # empty target in the TABLE's stored schema, not the
            # source's: a narrow source hitting only empty buckets must
            # not make previously-evolved columns vanish from `out`
            # (and then from the stored schema via _update_schema)
            try:
                target = self._empty_df().withColumn(
                    "_bucket", F.lit(None).cast("bigint")
                )
            except FileNotFoundError:  # no schema recorded yet
                target = src.limit(0)
        inserted = src.join(target.select(*keys), keys, "left_anti")
        if when_matched == "update":
            kept = target.join(src.select(*keys), keys, "left_anti")
            only_target = [
                c for c in target.columns if c not in src.columns
            ]
            if schema_evolution and only_target:
                # matched rows keep the target's values in columns the
                # source doesn't carry (UPDATE SET * semantics)
                updated = src.join(
                    target.select(*keys, *only_target), keys, "inner"
                )
            else:
                updated = src.join(target.select(*keys), keys, "left_semi")
            out = kept.unionByName(
                updated, allowMissingColumns=schema_evolution
            ).unionByName(inserted, allowMissingColumns=schema_evolution)
        else:
            out = target.unionByName(
                inserted, allowMissingColumns=schema_evolution
            )

        if schema_evolution:
            # validate BEFORE writing: a type-changing evolution must
            # fail with zero buckets written, not strand a version
            self._reject_type_changes(out)
        self._touch_lease(tmp)  # heartbeat: bucket write phase
        data_name = self._new_data_name(version)
        written = self._write_buckets(out, data_name)
        self._store_schema_once(out)
        if schema_evolution:
            # widen the stored schema so _schema_reader serves the new
            # columns; untouched buckets' old parquet reads NULL there
            self._update_schema(out)
        if metrics:
            n_written = self._footer_count(
                [self._bucket_dir(data_name, b) for b in written]
            )
            n_existing = self._footer_count(existing_dirs)
            n_inserted = n_written - n_existing
            n_updated = (
                self._footer_count([tmp]) - n_inserted
                if when_matched == "update"
                else 0
            )
        else:
            n_inserted = n_updated = -1
        new_manifest = dict(manifest)
        new_manifest.update({str(b): data_name for b in written})
        entry = BucketedCommit(
            version=version,
            action="merge",
            ts=time.time(),
            metrics={
                "inserted": n_inserted,
                "updated": n_updated,
                "buckets_written": len(written),
            },
            manifest=new_manifest,
            data=data_name,
        )
        self._append_entry(
            history, entry, os.path.join(self.root, data_name)
        )
        return entry

    def delete_where(self, condition) -> BucketedCommit:
        """Predicate DELETE, scoped to the buckets that actually hold
        matching rows — untouched buckets keep their manifest pointers."""
        manifest = self._manifest()
        full = self.read().withColumn("_bucket", self._bucket_col())
        hit = full.where(condition)
        touched = sorted(r[0] for r in hit.select("_bucket").distinct().collect())
        if not touched:
            history = self.history()
            version = (history[-1].version + 1) if history else 0
            entry = BucketedCommit(
                version=version,
                action="delete",
                ts=time.time(),
                metrics={"deleted": 0, "buckets_written": 0},
                manifest=manifest,
            )
            self._append_entry(history, entry)
            return entry
        sub = self.read_buckets(touched).withColumn("_bucket", self._bucket_col())
        kept = sub.where(~condition | condition.isNull())
        # single atomic log write: buckets are written FIRST, then the
        # manifest is assembled knowing which touched buckets came back
        # empty (every row deleted → no dir) and must lose their
        # pointer. The earlier two-write patch-up left a window where a
        # crash persisted a manifest still pointing emptied buckets at
        # the pre-delete data, and returned that stale manifest.
        history = self.history()
        version = (history[-1].version + 1) if history else 0
        data_name = self._new_data_name(version)
        written = self._write_buckets(kept, data_name)
        self._store_schema_once(kept)
        # deleted count from footer arithmetic (pre-existing − written):
        # replaces two full data re-scans (sub.count + kept.count) with
        # metadata-only counts
        n_del = self._footer_count(
            [self._bucket_dir(manifest[str(b)], b) for b in touched]
        ) - self._footer_count(
            [self._bucket_dir(data_name, b) for b in written]
        )
        new_manifest = {
            b: v for b, v in manifest.items() if int(b) not in set(touched)
        }
        new_manifest.update({str(b): data_name for b in written})
        entry = BucketedCommit(
            version=version,
            action="delete",
            ts=time.time(),
            metrics={"deleted": n_del, "buckets_written": len(written)},
            manifest=new_manifest,
            data=data_name,
        )
        self._append_entry(
            history, entry, os.path.join(self.root, data_name)
        )
        return entry

    def apply_changes(
        self,
        feed: DataFrame,
        keys: list[str],
        extra_metrics: dict[str, Any] | None = None,
        record_changes: bool = True,
    ) -> BucketedCommit:
        """APPLY CHANGES INTO parity, bucket-scoped (the CDC consumer
        for the scale-path table): apply a :func:`snapshot_diff`-shaped
        feed (``_change_type`` ∈ insert / delete / update_preimage /
        update_postimage) in ONE atomic commit that rewrites ONLY the
        buckets the feed touches — per-application cost follows the
        CHANGE volume, not the table size, exactly the merge contract.

        Deletes drop their keys, inserts and update postimages upsert,
        preimages are ignored; a touched bucket whose rows are all
        deleted loses its manifest pointer (the delete_where rule).
        Replaying ``source.changes(v)`` onto a replica of version ``v``
        reproduces the source snapshot; re-applying the same feed is a
        no-op on content (at-least-once delivery).

        The feed is STAGED once (localCheckpoint) — the bucket probe,
        constraint aggregate, bucket writes and metric counts would
        otherwise each re-execute a typically snapshot-diff-shaped
        lineage (5× the dominant job). ``record_changes`` exists for
        signature parity with :meth:`VersionedTable.apply_changes`:
        this table records no change rows (its change feed diffs the
        buckets whose manifest pointer moved)."""
        if not keys:
            raise ValueError("keys required to apply a change feed")
        feed = feed.localCheckpoint(eager=True)
        if self.bucket_key not in keys:
            raise ValueError(
                f"bucket key {self.bucket_key!r} must be one of the feed "
                f"keys {keys} (rows that match must share a bucket)"
            )
        ct = F.col("_change_type")
        ups = feed.where(
            ct.isin("insert", "update_postimage")
        ).drop("_change_type")
        dels = feed.where(ct == "delete").select(*keys)
        probe = ups.select(*keys).unionByName(dels)
        touched = self.bucket_ids_of(probe)
        history = self.history()
        version = (history[-1].version + 1) if history else 0
        manifest = self._manifest() if self.exists() else {}
        if not touched:  # empty feed
            entry = BucketedCommit(
                version=version,
                action="apply_changes",
                ts=time.time(),
                metrics={
                    "upserts": 0, "deletes": 0, "buckets_written": 0,
                    **(extra_metrics or {}),
                },
                manifest=manifest,
            )
            self._append_entry(history, entry)
            return entry
        existing_dirs = [
            self._bucket_dir(manifest[str(b)], b)
            for b in touched
            if str(b) in manifest
        ]
        ups_b = ups.withColumn("_bucket", self._bucket_col())
        if existing_dirs:
            target = self._schema_reader().parquet(*existing_dirs).withColumn(
                "_bucket", self._bucket_col()
            )
        else:
            target = ups_b.limit(0)
        kept = target.join(dels, keys, "left_anti").join(
            ups.select(*keys), keys, "left_anti"
        )
        out = kept.unionByName(ups_b.select(*kept.columns))
        self._enforce_constraints(ups_b)
        data_name = self._new_data_name(version)
        written = self._write_buckets(out, data_name)
        self._store_schema_once(out)
        new_manifest = {
            b: v for b, v in manifest.items() if int(b) not in set(touched)
        }
        new_manifest.update({str(b): data_name for b in written})
        entry = BucketedCommit(
            version=version,
            action="apply_changes",
            ts=time.time(),
            metrics={
                "upserts": ups.count(),
                "deletes": dels.count(),
                "buckets_written": len(written),
                **(extra_metrics or {}),
            },
            manifest=new_manifest,
            data=data_name,
        )
        self._append_entry(
            history, entry, os.path.join(self.root, data_name)
        )
        return entry

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """Change-data-feed between two committed versions (the Delta
        CDF contract, bucket-pruned): every row inserted, updated, or
        deleted going from ``from_version``'s snapshot to
        ``to_version``'s (default: latest). Only buckets whose manifest
        POINTER differs between the two versions are read — an
        untouched bucket proves itself unchanged by metadata alone, so
        the diff cost follows the churn, not the table size.

        ``keys`` identify rows across versions (default: the bucket
        key — sufficient whenever merges keep keys unique, which
        ``merge`` maintains). Updates emit BOTH ``update_preimage``
        and ``update_postimage`` rows, as Delta CDF does; a changed
        row is one whose non-key columns hash differently.

        History note: both versions' data dirs must still exist —
        ``vacuum`` bounds how far back a change feed can reach, exactly
        like Delta's retention.
        """
        keys = keys or [self.bucket_key]
        m0 = self._manifest(from_version)
        m1 = self._manifest(to_version)
        changed = sorted(
            {b for b in set(m0) | set(m1) if m0.get(b) != m1.get(b)},
            key=int,
        )
        if not changed:
            return self._empty_df().withColumn("_change_type", F.lit(""))
        reader = self._schema_reader()

        def snap(manifest: dict[str, int]) -> DataFrame | None:
            paths = [
                self._bucket_dir(manifest[b], int(b))
                for b in changed
                if b in manifest
            ]
            return reader.parquet(*paths) if paths else None

        old, new = snap(m0), snap(m1)
        if old is None:
            return new.withColumn("_change_type", F.lit("insert"))
        if new is None:
            return old.withColumn("_change_type", F.lit("delete"))
        from .table import snapshot_diff

        return snapshot_diff(old, new, keys)

    def restore(self, version: int) -> BucketedCommit:
        """Roll back to ``version`` as a NEW commit (history preserved,
        like VersionedTable.restore): the new manifest points every
        bucket back at the restored version's data — no data is
        copied, the rollback is a metadata-only commit."""
        manifest = self._manifest(version)  # raises if unknown
        history = self.history()
        new_version = history[-1].version + 1
        entry = BucketedCommit(
            version=new_version,
            action="restore",
            ts=time.time(),
            metrics={"restored_from": version, "buckets_written": 0},
            manifest=dict(manifest),
        )
        self._append_entry(history, entry)
        return entry

    # ---- retention ------------------------------------------------------

    def compact(self) -> BucketedCommit:
        """Generation collapse (the bucketed analog of Delta
        ``OPTIMIZE``): rewrite every live bucket into ONE new owning
        version.

        Why it matters at scale: partition-scoped merges leave each
        bucket owned by the version that last rewrote it, so a
        long-running stream's manifest fans out across dozens of
        version dirs — and any version still owning ONE untouched
        bucket keeps its whole dir alive through vacuum forever (the
        v0 dir survives as long as any v0 bucket does). After compact,
        the manifest points every bucket at a single version, so a
        following ``vacuum`` can release every older generation.
        Per-bucket file layout is already 1 file/bucket by
        construction (``_write_buckets`` hash-repartitions on
        ``_bucket``); this consolidates OWNERSHIP, not files. Data is
        unchanged (tests assert); reads during the rewrite keep
        serving the old manifest (the commit is atomic via the log
        swap)."""
        out = self.read().withColumn("_bucket", self._bucket_col())
        before = len({v for v in self._manifest().values()})
        c = self._commit("compact", out, {}, {"versions_before": before})
        return c

    def generations(self) -> int:
        """Distinct owning versions in the live manifest — the
        generation fan-out :meth:`compact` collapses. Metadata-only."""
        if not self.exists():
            return 0
        return len({str(v) for v in self._manifest().values()})

    def maybe_compact(self, max_generations: int) -> BucketedCommit | None:
        """The auto-compaction hook for continuous-merge loops (the
        streaming state tables): collapse ownership iff the live
        manifest spans more than ``max_generations`` distinct owning
        versions, else do nothing. The trigger check reads only the
        manifest, so calling this every micro-batch costs one JSON
        read when it doesn't fire — the same posture as per-batch
        ``vacuum``. Under a steady merge stream this bounds BOTH the
        generation count (≤ max_generations + 1 at any instant) and,
        through the following vacuums, the on-disk version-dir count —
        which is what keeps per-batch read planning flat however long
        the stream runs."""
        if max_generations < 1:
            raise ValueError(
                f"max_generations must be >= 1, got {max_generations}"
            )
        if self.generations() <= max_generations:
            return None
        return self.compact()

    def vacuum(self, keep_last: int = 3) -> list[int]:
        """Drop history beyond the last N commits, then delete EVERY
        on-disk version dir no surviving manifest references.

        The sweep walks the disk, not the dropped log entries: a dir
        can outlive its own log entry (a kept manifest still pointed an
        untouched bucket at it when the entry was pruned) and only
        become garbage rounds later, when that bucket is rewritten —
        by then no log entry names it, so an entry-driven sweep would
        leak it forever (one generation per micro-batch on a stream).
        """
        history = self.history()
        if len(history) <= keep_last:
            return []
        drop, keep = history[:-keep_last], history[-keep_last:]
        live = set()
        for c in keep:
            for v in c.manifest.values():
                live.add(
                    v
                    if isinstance(v, str) and v.startswith("v=")
                    else f"v={int(v):06d}"
                )
        latest = keep[-1].version
        removed = []
        now = time.time()
        for d in os.listdir(self.root):
            path = os.path.join(self.root, d)
            if d.startswith("_tmp_merge"):
                # crash-orphaned merge spill: sweep once it is clearly
                # not an in-flight merge. Liveness has two witnesses —
                # the in-process registry (this process's own merges,
                # whatever their age) and the _LEASE heartbeat a merge
                # re-touches at each phase (cross-process), so a merge
                # whose post-spill joins outlive the 1h grace is not
                # swept out from under itself; only a spill with NO
                # registry entry and a stale lease (or none: a crash
                # before/while spilling) is an orphan
                if path in BucketedTable._inflight_spills:
                    continue
                lease = os.path.join(path, "_LEASE")
                try:
                    ref = os.path.getmtime(path)
                    if os.path.exists(lease):
                        ref = max(ref, os.path.getmtime(lease))
                    stale = now - ref > 3600
                except OSError:
                    continue
                if stale:
                    shutil.rmtree(path, ignore_errors=True)
                continue
            if not d.startswith("v=") or d in live:
                continue
            try:
                ver = int(d[2:].split("-", 1)[0])
            except ValueError:
                continue
            # only sweep at versions <= the latest kept commit: a dir
            # staged above it belongs to an in-flight writer that has
            # not reached its CAS point yet
            if ver <= latest:
                shutil.rmtree(path, ignore_errors=True)
                removed.append(ver)
        for c in drop:
            drop_marker(self.root, c.version)
        self._write_log(keep)
        return sorted(set(removed))
