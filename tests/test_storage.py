"""Storage-layer tests: MERGE idempotency, time travel, rotation,
backup clone/validate, vacuum retention, watermark semantics —
the property tests SURVEY.md §5 calls for."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from delta_data_pipelines_spark.storage import (
    DELTA_AVAILABLE,
    VersionedTable,
    WatermarkStore,
)

SCHEMA = "content_url string, title string, price long"


def rows(spark, data):
    return spark.createDataFrame(data, SCHEMA)


@pytest.fixture()
def table(spark, tmp_path):
    return VersionedTable(spark, str(tmp_path / "t"))


def test_merge_insert_if_absent_idempotent(spark, table):
    batch = rows(spark, [("u1", "a", 10), ("u2", "b", 20)])
    c1 = table.merge(batch, keys=["content_url"])
    assert c1.metrics == {"inserted": 2, "updated": 0}
    # re-delivering the same batch (at-least-once) inserts nothing
    c2 = table.merge(batch, keys=["content_url"])
    assert c2.metrics == {"inserted": 0, "updated": 0}
    assert table.read().count() == 2


def test_merge_skips_null_keys_and_batch_dups(spark, table):
    batch = rows(spark, [(None, "x", 1), ("u1", "a", 10), ("u1", "a2", 11)])
    c = table.merge(batch, keys=["content_url"])
    assert c.metrics["inserted"] == 1
    assert table.read().count() == 1


def test_merge_upsert(spark, table):
    table.merge(rows(spark, [("u1", "old", 10)]), keys=["content_url"])
    c = table.merge(
        rows(spark, [("u1", "new", 99), ("u2", "b", 20)]),
        keys=["content_url"],
        when_matched="update",
    )
    assert c.metrics == {"inserted": 1, "updated": 1}
    got = {r["content_url"]: r["title"] for r in table.read().collect()}
    assert got == {"u1": "new", "u2": "b"}


def test_time_travel_and_restore(spark, table):
    table.overwrite(rows(spark, [("u1", "v0", 1)]))
    table.overwrite(rows(spark, [("u2", "v1", 2)]))
    assert table.read(0).first()["content_url"] == "u1"
    assert table.read().first()["content_url"] == "u2"
    table.restore(0)
    assert table.read().first()["content_url"] == "u1"
    assert table.latest_version() == 2  # restore is a new commit


def test_delete_where(spark, table):
    from pyspark.sql import functions as F

    table.overwrite(rows(spark, [("u1", None, 1), ("u2", "b", 2)]))
    table.delete_where(F.col("title").isNull())
    got = [r["content_url"] for r in table.read().collect()]
    assert got == ["u2"]


def test_clone_and_validate(spark, table, tmp_path):
    table.overwrite(rows(spark, [("u1", "a", 1), ("u2", "b", 2)]))
    backup = table.clone(str(tmp_path / "backup"))
    report = table.validate_against(backup)
    assert report["ok"] and report["rows_src"] == report["rows_dst"] == 2


def test_vacuum_keeps_last_n(spark, table):
    for i in range(5):
        table.overwrite(rows(spark, [(f"u{i}", "x", i)]))
    dropped = table.vacuum(keep_last=3)
    assert dropped == [0, 1]
    assert [c.version for c in table.history()] == [2, 3, 4]
    with pytest.raises(ValueError):
        table.read(0)
    assert table.read(4).first()["content_url"] == "u4"


def test_watermark_lifecycle(spark, tmp_path):
    wm = WatermarkStore(spark, str(tmp_path / "wm"))
    now = datetime(2026, 1, 2, 12, 0, 0)
    # absent → now - 1 day fallback
    assert wm.lower_bound("idx", now=now) == now - timedelta(days=1)
    wm.advance("idx", datetime(2026, 1, 2, 10, 0, 0))
    # present → wm - 1h overlap
    assert wm.lower_bound("idx", now=now) == datetime(2026, 1, 2, 9, 0, 0)
    # monotonic: stale advance ignored
    wm.advance("idx", datetime(2026, 1, 1, 0, 0, 0))
    assert wm.get("idx") == datetime(2026, 1, 2, 10, 0, 0)
    # independent pipelines
    wm.advance("other", datetime(2026, 1, 2, 11, 0, 0))
    assert wm.get("idx") == datetime(2026, 1, 2, 10, 0, 0)


def test_delta_probe_is_boolean():
    """The delta-spark seam: DELTA_AVAILABLE documents whether the real
    Delta backend can replace the parquet+JSON-log VersionedTable."""
    assert isinstance(DELTA_AVAILABLE, bool)


@pytest.mark.skipif(not DELTA_AVAILABLE, reason="delta-spark not installed")
def test_delta_adapter_surface():
    """When the container gains delta-spark, VersionedTable becomes a
    thin adapter — every op it models must exist on DeltaTable."""
    from delta.tables import DeltaTable

    for op in ("merge", "restoreToVersion", "vacuum", "history"):
        assert hasattr(DeltaTable, op), op


# ---------------------------------------------------------------------------
# BucketedTable: partition-scoped merges
# ---------------------------------------------------------------------------


def _bucket_dirs(bt, version):
    import os

    vdir = bt._version_dir(version)
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(vdir)
        if d.startswith("_bucket=")
    )


@pytest.fixture()
def btable(spark, tmp_path):
    from delta_data_pipelines_spark.storage import BucketedTable

    return BucketedTable(
        spark, str(tmp_path / "bt"), bucket_key="content_url", n_buckets=8
    )


def test_bucketed_merge_semantics_match_versioned(spark, btable):
    batch = rows(spark, [("u1", "a", 10), ("u2", "b", 20)])
    c1 = btable.merge(batch, keys=["content_url"])
    assert c1.metrics["inserted"] == 2 and c1.metrics["updated"] == 0
    # idempotent re-delivery
    c2 = btable.merge(batch, keys=["content_url"])
    assert c2.metrics["inserted"] == 0
    assert btable.read().count() == 2
    # null keys dropped, in-batch dups collapsed
    c3 = btable.merge(
        rows(spark, [(None, "x", 1), ("u3", "c", 30), ("u3", "c2", 31)]),
        keys=["content_url"],
    )
    assert c3.metrics["inserted"] == 1
    # upsert
    c4 = btable.merge(
        rows(spark, [("u1", "NEW", 99)]), keys=["content_url"], when_matched="update"
    )
    assert c4.metrics == {"inserted": 0, "updated": 1, "buckets_written": 1}
    got = {r["content_url"]: r["title"] for r in btable.read().collect()}
    assert got == {"u1": "NEW", "u2": "b", "u3": "c"}


def test_bucketed_merge_rewrites_only_touched_buckets(spark, btable):
    """The 100 TB contract: per-merge write cost is bounded by the
    batch's buckets, NOT the table size (↔ the Mongo unique-index
    insert touches only the batch's keys, mongodb_utils.py:21-36)."""
    seed = rows(spark, [(f"u{i}", "x", i) for i in range(200)])
    c0 = btable.overwrite(seed)
    assert len(_bucket_dirs(btable, c0.version)) == 8  # all buckets live
    c1 = btable.merge(rows(spark, [("new-a", "y", 1)]), keys=["content_url"])
    # a 1-row batch touches exactly 1 bucket: 1 dir written, 7 pointers
    # in the manifest still name v0 dirs
    assert c1.metrics["buckets_written"] == 1
    assert _bucket_dirs(btable, c1.version) == [
        int(b) for b, v in c1.manifest.items() if v == c1.data
    ]
    assert sum(1 for v in c1.manifest.values() if v == c0.data) == 7
    assert btable.read().count() == 201
    # and the rewritten bucket carried its prior rows forward
    c2 = btable.merge(rows(spark, [("new-a", "z", 2)]), keys=["content_url"])
    assert c2.metrics["inserted"] == 0


def test_bucketed_merge_requires_bucket_key_in_keys(spark, btable):
    with pytest.raises(ValueError, match="bucket key"):
        btable.merge(rows(spark, [("u1", "a", 1)]), keys=["title"])


def test_bucketed_time_travel_and_vacuum_keeps_live_dirs(spark, btable):
    import os

    c0 = btable.overwrite(rows(spark, [(f"u{i}", "x", i) for i in range(50)]))
    for i in range(4):
        btable.merge(rows(spark, [(f"n{i}", "y", i)]), keys=["content_url"])
    assert btable.read(c0.version).count() == 50  # time travel
    assert btable.read().count() == 54
    removed = btable.vacuum(keep_last=2)
    # v0 holds buckets still referenced by the last manifests: kept
    # (its log ENTRY is pruned, so resolve the dir via the manifest)
    assert c0.version not in removed
    live_dirs = {btable._owner_dir(v) for v in btable._manifest().values()}
    assert os.path.join(btable.root, c0.data) in live_dirs
    assert all(os.path.isdir(d) for d in live_dirs)
    assert btable.read().count() == 54


def test_bucketed_delete_scoped_and_empty_bucket_dropped(spark, btable):
    from pyspark.sql import functions as F

    btable.overwrite(rows(spark, [("u1", "kill", 1), ("u2", "keep", 2)]))
    c = btable.delete_where(F.col("title") == "kill")
    assert c.metrics["deleted"] == 1
    got = [r["content_url"] for r in btable.read().collect()]
    assert got == ["u2"]


def test_bucketed_read_buckets_prunes(spark, btable):
    btable.overwrite(rows(spark, [(f"u{i}", "x", i) for i in range(100)]))
    import pyspark.sql.functions as F

    full = btable.read().withColumn(
        "_b", F.pmod(F.xxhash64(F.col("content_url")), F.lit(8))
    )
    per = {r["_b"]: r["n"] for r in full.groupBy("_b").agg(F.count("*").alias("n")).collect()}
    got = btable.read_buckets([0, 1]).count()
    assert got == per.get(0, 0) + per.get(1, 0)


def test_bucketed_geometry_persisted_and_conflicts_raise(spark, tmp_path):
    from delta_data_pipelines_spark.storage import BucketedTable

    BucketedTable(spark, str(tmp_path / "g"), bucket_key="content_url", n_buckets=4)
    # reopen with no args: geometry loaded from _meta.json
    re = BucketedTable(spark, str(tmp_path / "g"))
    assert (re.bucket_key, re.n_buckets) == ("content_url", 4)
    # conflicting geometry would corrupt the layout: refuse
    with pytest.raises(ValueError, match="n_buckets"):
        BucketedTable(spark, str(tmp_path / "g"), bucket_key="content_url", n_buckets=8)
    with pytest.raises(ValueError, match="bucket_key"):
        BucketedTable(spark, str(tmp_path / "g2"))  # new table needs a key


def test_bucketed_vacuum_reclaims_dirs_whose_entry_was_already_pruned(
    spark, btable
):
    """A version dir can outlive its own log entry (a kept manifest
    still referenced it at prune time) and only become garbage rounds
    later when that bucket is rewritten — the disk-walk sweep must
    reclaim it then, or a streaming job leaks one generation per batch."""
    import os

    btable.overwrite(rows(spark, [(f"u{i}", "x", i) for i in range(50)]))
    # many single-row merges with aggressive retention — the exact
    # streaming-sink pattern (vacuum every commit)
    for i in range(8):
        btable.merge(rows(spark, [(f"m{i}", "y", i)]), keys=["content_url"])
        btable.vacuum(keep_last=2)
    # rewrite every bucket so no manifest references any old generation
    btable.overwrite(btable.read())
    btable.vacuum(keep_last=1)
    live = {
        os.path.basename(btable._owner_dir(v))
        for v in btable._manifest().values()
    }
    on_disk = {d for d in os.listdir(btable.root) if d.startswith("v=")}
    assert on_disk == live, f"leaked version dirs: {sorted(on_disk - live)}"
    assert btable.read().count() == 58


def test_bucketed_delete_all_then_read_returns_empty(spark, btable):
    from pyspark.sql import functions as F

    btable.overwrite(rows(spark, [("u1", "x", 1), ("u2", "x", 2)]))
    c = btable.delete_where(F.col("title") == "x")
    assert c.metrics["deleted"] == 2
    got = btable.read()
    assert got.count() == 0
    assert got.columns == ["content_url", "title", "price"]
    # and the table is still writable afterwards
    btable.merge(rows(spark, [("u3", "y", 3)]), keys=["content_url"])
    assert btable.read().count() == 1


def test_bucketed_refuses_foreign_commit_log(spark, tmp_path):
    """Opening a VersionedTable layout as a BucketedTable must raise,
    not silently adopt it with empty manifests (data would vanish)."""
    from delta_data_pipelines_spark.storage import BucketedTable

    vt = VersionedTable(spark, str(tmp_path / "vt"))
    vt.overwrite(rows(spark, [("u1", "a", 1)]))
    with pytest.raises(ValueError, match="not a .*BucketedTable"):
        BucketedTable(
            spark, str(tmp_path / "vt"), bucket_key="content_url", n_buckets=8
        )
    assert not BucketedTable.exists_at(str(tmp_path / "vt"))


def test_bucketed_restore_is_metadata_only_rollback(spark, btable):
    """restore(v) rolls back as a NEW commit whose manifest points at
    v's data — no bucket dirs are written, history is preserved, and a
    subsequent vacuum keeps the restored-to dirs alive."""
    import os

    c0 = btable.overwrite(rows(spark, [("u1", "a", 1), ("u2", "a", 2)]))
    btable.merge(rows(spark, [("u3", "b", 3)]), keys=["content_url"])
    assert btable.read().count() == 3
    before_dirs = sorted(os.listdir(btable.root))
    r = btable.restore(c0.version)
    assert r.metrics == {"restored_from": c0.version, "buckets_written": 0}
    assert sorted(os.listdir(btable.root)) == before_dirs  # no new dirs
    assert {x["content_url"] for x in btable.read().collect()} == {"u1", "u2"}
    # the rollback survives vacuum (its manifest keeps v0 alive)
    btable.vacuum(keep_last=1)
    assert {x["content_url"] for x in btable.read().collect()} == {"u1", "u2"}
    with pytest.raises(ValueError, match="not in"):
        btable.restore(99)


def test_bucketed_bucket_stats_counts_and_skew(spark, tmp_path):
    """bucket_stats must report per-bucket row counts that sum to the
    table and reflect deliberate skew (one hot key value)."""
    from delta_data_pipelines_spark.storage import BucketedTable

    bt = BucketedTable(
        spark, str(tmp_path / "bs"), bucket_key="k", n_buckets=4
    )
    rows = [("hot", i) for i in range(40)] + [(f"k{i}", i) for i in range(10)]
    df = spark.createDataFrame(rows, "k string, v int")
    bt.overwrite(df)
    stats = bt.bucket_stats().collect()
    assert sum(r["n_rows"] for r in stats) == 50
    assert all(r["n_files"] >= 1 for r in stats)
    # the 40 'hot' rows all hash to ONE bucket: max >> uniform share
    assert max(r["n_rows"] for r in stats) >= 40


def test_bucketed_commit_ignores_orphaned_version_dir(spark, tmp_path):
    """A crash AFTER writing data but BEFORE the CAS commit leaves an
    orphan dir. Commits never collide with it (writer-unique data-dir
    names), reads never touch it (reads go through the manifest
    names only), and vacuum sweeps it once its version is at or below
    the latest kept commit."""
    import os

    from delta_data_pipelines_spark.storage import BucketedTable

    bt = BucketedTable(spark, str(tmp_path / "cr"), bucket_key="k", n_buckets=2)
    bt.overwrite(spark.createDataFrame([("a", 1)], "k string, v int"))
    orphan_root = os.path.join(bt.root, "v=000001-deadbeef")
    orphan = os.path.join(orphan_root, "_bucket=0")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "w") as f:
        f.write("not parquet")
    c = bt.merge(
        spark.createDataFrame([("b", 2)], "k string, v int"), keys=["k"]
    )
    assert c.version == 1
    got = {(r["k"], r["v"]) for r in bt.read().collect()}
    assert got == {("a", 1), ("b", 2)}
    # the orphan is dead weight, never data: vacuum reclaims it
    bt.merge(spark.createDataFrame([("c", 3)], "k string, v int"), keys=["k"])
    bt.vacuum(keep_last=1)
    assert not os.path.exists(orphan_root)
    got = {(r["k"], r["v"]) for r in bt.read().collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3)}


def test_versioned_changes_cdf(spark, table):
    """VersionedTable change feed (full-snapshot diff through the
    shared snapshot_diff core)."""
    c0 = table.merge(
        rows(spark, [("u1", "a", 1), ("u2", "b", 2)]), keys=["content_url"]
    )
    table.merge(
        rows(spark, [("u1", "NEW", 9), ("u3", "c", 3)]),
        keys=["content_url"],
        when_matched="update",
    )
    ch = {
        (r["_change_type"], r["content_url"], r["title"])
        for r in table.changes(c0.version, keys=["content_url"]).collect()
    }
    assert ch == {
        ("insert", "u3", "c"),
        ("update_preimage", "u1", "a"),
        ("update_postimage", "u1", "NEW"),
    }
    with pytest.raises(ValueError, match="keys required"):
        table.changes(c0.version)


def test_merge_schema_evolution_versioned(spark, table):
    """Delta mergeSchema parity on VersionedTable: strict by default
    (column-set mismatch errors), widened on request — old rows read
    NULL in the new column, and a later narrow source writes NULL."""
    table.merge(rows(spark, [("u1", "a", 1)]), keys=["content_url"])
    wide = spark.createDataFrame(
        [("u2", "b", 2, "hot")],
        "content_url string, title string, price long, tag string",
    )
    with pytest.raises(Exception):
        table.merge(wide, keys=["content_url"])  # strict default
    table.merge(wide, keys=["content_url"], schema_evolution=True)
    got = {r["content_url"]: r["tag"] for r in table.read().collect()}
    assert got == {"u1": None, "u2": "hot"}
    # narrow source after evolution still merges (fills NULL)
    table.merge(
        rows(spark, [("u3", "c", 3)]), keys=["content_url"],
        schema_evolution=True,
    )
    got = {r["content_url"]: r["tag"] for r in table.read().collect()}
    assert got == {"u1": None, "u2": "hot", "u3": None}


def test_merge_schema_evolution_bucketed(spark, btable):
    """Bucketed variant: evolution widens the STORED schema, and
    UNTOUCHED buckets (old parquet without the column) serve NULL by
    name on every read path (read / read_buckets)."""
    btable.merge(
        rows(spark, [(f"u{i}", "x", i) for i in range(20)]),
        keys=["content_url"],
    )
    wide = spark.createDataFrame(
        [("zz", "y", 99, "hot")],
        "content_url string, title string, price long, tag string",
    )
    with pytest.raises(Exception):
        btable.merge(wide, keys=["content_url"])  # strict default
    c = btable.merge(wide, keys=["content_url"], schema_evolution=True)
    assert c.metrics["buckets_written"] == 1  # still partition-scoped
    got = {r["content_url"]: r["tag"] for r in btable.read().collect()}
    assert got["zz"] == "hot"
    assert all(v is None for k, v in got.items() if k != "zz")
    assert len(got) == 21
    # bucket-pruned read of an UNTOUCHED bucket also carries the column
    other = [b for b in range(8) if b not in
             {int(x) for x, v in c.manifest.items() if v == c.data}][0]
    sub = btable.read_buckets([other])
    assert "tag" in sub.columns


def test_schema_evolution_narrow_source_never_drops_columns(spark, btable):
    """Regression: after evolving in a 'tag' column, a NARROW source
    (no tag) merged with schema_evolution=True — including one whose
    keys land only in EMPTY buckets — must not narrow the stored
    schema; the evolved column stays readable with its data."""
    btable.merge(rows(spark, [("u1", "a", 1)]), keys=["content_url"])
    wide = spark.createDataFrame(
        [("u2", "b", 2, "hot")],
        "content_url string, title string, price long, tag string",
    )
    btable.merge(wide, keys=["content_url"], schema_evolution=True)
    # find a key hashing to a bucket with NO data yet
    manifest = btable._manifest()
    probe = None
    for i in range(200):
        cand = f"empty-{i}"
        b = btable.bucket_ids_of(
            spark.createDataFrame([(cand,)], "content_url string")
        )[0]
        if str(b) not in manifest:
            probe = cand
            break
    assert probe is not None
    btable.merge(
        rows(spark, [(probe, "x", 7)]), keys=["content_url"],
        schema_evolution=True,
    )
    got = {r["content_url"]: r["tag"] for r in btable.read().collect()}
    assert got["u2"] == "hot"  # evolved data still readable
    assert set(got) == {"u1", "u2", probe}
    assert "tag" in btable.read().columns


def test_schema_evolution_update_preserves_target_columns(spark, btable):
    """Delta UPDATE SET * parity: an update whose source lacks an
    evolved column must PRESERVE the target row's value there, not
    overwrite it with NULL (both table variants)."""
    from delta_data_pipelines_spark.storage import VersionedTable

    wide = spark.createDataFrame(
        [("u1", "a", 1, "hot")],
        "content_url string, title string, price long, tag string",
    )
    btable.merge(wide, keys=["content_url"])
    btable.merge(
        rows(spark, [("u1", "NEW", 9)]), keys=["content_url"],
        when_matched="update", schema_evolution=True,
    )
    r = btable.read().collect()[0]
    assert (r["title"], r["tag"]) == ("NEW", "hot")

    vt = VersionedTable(spark, btable.root + "_vt")
    vt.merge(wide, keys=["content_url"])
    vt.merge(
        rows(spark, [("u1", "NEW", 9)]), keys=["content_url"],
        when_matched="update", schema_evolution=True,
    )
    r = vt.read().collect()[0]
    assert (r["title"], r["tag"]) == ("NEW", "hot")


def test_changes_across_schema_evolution_and_null_moves(spark, table):
    """Regression pair for snapshot_diff: (1) a CDF span crossing a
    schema-evolving merge must align schemas (old side reads NULL in
    the new column) instead of crashing; (2) a value MOVING between
    columns (one goes NULL, the other gains it) must register as an
    update — xxhash64 skips NULLs, so a hash-based compare missed it."""
    from delta_data_pipelines_spark.storage.table import snapshot_diff

    c0 = table.merge(rows(spark, [("u1", "a", 1)]), keys=["content_url"])
    table.merge(
        spark.createDataFrame(
            [("u2", "b", 2, "hot")],
            "content_url string, title string, price long, tag string",
        ),
        keys=["content_url"],
        schema_evolution=True,
    )
    ch = {(r["_change_type"], r["content_url"], r["tag"])
          for r in table.changes(c0.version, keys=["content_url"]).collect()}
    assert ch == {("insert", "u2", "hot")}  # u1 unchanged (NULL == NULL)

    old = spark.createDataFrame(
        [("k", "x", None)], "id string, a string, b string"
    )
    new = spark.createDataFrame(
        [("k", None, "x")], "id string, a string, b string"
    )
    d = {r["_change_type"] for r in snapshot_diff(old, new, ["id"]).collect()}
    assert d == {"update_preimage", "update_postimage"}


def test_bucketed_changes_cdf(spark, btable):
    """Change feed between versions (Delta CDF contract): inserts,
    deletes, and update pre/post images — derived from ONLY the
    buckets whose manifest pointer moved."""
    import pyspark.sql.functions as F

    c0 = btable.merge(
        rows(spark, [("u1", "a", 1), ("u2", "b", 2), ("u3", "c", 3)]),
        keys=["content_url"],
    )
    c1 = btable.merge(
        rows(spark, [("u1", "NEW", 9), ("u4", "d", 4)]),
        keys=["content_url"],
        when_matched="update",
    )
    ch = btable.changes(c0.version, c1.version).collect()
    by_type: dict = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], set()).add(
            (r["content_url"], r["title"], r["price"])
        )
    assert by_type["insert"] == {("u4", "d", 4)}
    assert by_type["update_preimage"] == {("u1", "a", 1)}
    assert by_type["update_postimage"] == {("u1", "NEW", 9)}
    assert "delete" not in by_type  # nothing deleted between c0 and c1

    c2 = btable.delete_where(F.col("content_url") == "u2")
    ch2 = btable.changes(c1.version, c2.version).collect()
    assert {(r["_change_type"], r["content_url"]) for r in ch2} == {
        ("delete", "u2")
    }
    # identical versions: empty feed, schema intact
    same = btable.changes(c2.version, c2.version)
    assert same.count() == 0 and "_change_type" in same.columns
    # full-span feed (c0 -> latest) composes both effects
    full = {(r["_change_type"], r["content_url"])
            for r in btable.changes(c0.version).collect()}
    assert ("insert", "u4") in full and ("delete", "u2") in full


def test_bucketed_merge_job_count(spark, tmp_path):
    """The hot-streaming-loop contract: a metrics=False merge runs the
    two write actions (source spill + merge write) plus at most one
    broadcast-exchange submit — never per-metric count jobs — and a
    first commit adopts the spill directory in a single job.  AQE is
    disabled for the measurement because it splits one action into a
    job per materialized shuffle stage, which would make the count
    reflect the planner, not the merge's action shape."""
    from delta_data_pipelines_spark.storage import BucketedTable

    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        bt = BucketedTable(
            spark, str(tmp_path / "jc"), bucket_key="k", n_buckets=8
        )
        seed = spark.createDataFrame(
            [(f"u{i}", i) for i in range(50)], "k string, v int"
        )
        sc.setJobGroup("jc-first", "first merge")
        bt.merge(seed, keys=["k"], metrics=False)
        sc.setJobGroup("jc-hot", "hot-loop merge")
        bt.merge(
            spark.createDataFrame([("zz", 1)], "k string, v int"),
            keys=["k"],
            metrics=False,
        )
        sc.setJobGroup("jc-done", "")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    st = sc.statusTracker()
    assert len(st.getJobIdsForGroup("jc-first")) == 1  # adopted spill
    assert len(st.getJobIdsForGroup("jc-hot")) <= 3
    # and the data is right despite the skipped metric jobs
    assert bt.read().count() == 51
    assert bt.history()[-1].metrics == {
        "inserted": -1, "updated": -1, "buckets_written": 1,
    }


def test_schema_evolution_rejects_type_change(spark, btable):
    """A schema-evolving merge whose source CHANGES an existing
    column's type (long→double via union coercion) must fail BEFORE any bucket is
    written: silently adopting the new stored type would leave
    untouched buckets' old parquet unreadable under it. The table must
    remain fully readable at its pre-merge version afterwards."""
    btable.merge(
        rows(spark, [(f"u{i}", "x", i) for i in range(10)]),
        keys=["content_url"],
    )
    v_before = btable.latest_version()
    bad = spark.createDataFrame(
        [("zz", "y", 99.5)],
        "content_url string, title string, price double",
    )
    with pytest.raises(ValueError, match="cannot change existing column types"):
        btable.merge(bad, keys=["content_url"], schema_evolution=True)
    assert btable.latest_version() == v_before  # nothing committed
    got = btable.read().collect()
    assert len(got) == 10  # old buckets still readable, long prices
    assert all(isinstance(r["price"], int) for r in got)


def test_versioned_compact_rewrites_layout_not_data(spark, table):
    """OPTIMIZE parity: after many small appends the snapshot spans
    many files; compact() rewrites it into ceil(rows/target) files as
    a NEW commit — content identical, old layout still time-travelable
    until vacuum."""
    import glob as _glob
    import os

    for i in range(4):
        table.append(rows(spark, [(f"u{i}-{j}", "t", j) for j in range(5)]))
    before = sorted(tuple(r) for r in table.read().collect())
    v_pre = table.latest_version()
    c = table.compact(target_rows_per_file=10)
    assert c.action == "compact"
    assert c.metrics == {"rows": 20, "files": 2}
    files = _glob.glob(os.path.join(table._data_dir(c.version), "*.parquet"))
    assert len(files) == 2
    after = sorted(tuple(r) for r in table.read().collect())
    assert after == before  # layout-only rewrite
    assert sorted(tuple(r) for r in table.read(v_pre).collect()) == before
    with pytest.raises(ValueError):
        table.compact(target_rows_per_file=0)


def test_bucketed_compact_collapses_generations(spark, btable):
    """Partition-scoped merges leave buckets owned by whichever
    version last rewrote them, pinning every such version dir through
    vacuum. compact() re-owns ALL buckets under one version, after
    which vacuum(keep_last=1) releases every older generation."""
    # three merges touching different key ranges -> manifest spans
    # multiple owning versions
    for wave in range(3):
        btable.merge(
            rows(spark, [(f"w{wave}-u{i}", "x", i) for i in range(6)]),
            keys=["content_url"],
        )
    owners_before = set(btable._manifest().values())
    assert len(owners_before) > 1  # fan-out is real
    before = sorted(tuple(r) for r in btable.read().collect())

    c = btable.compact()
    assert set(btable._manifest().values()) == {c.data}
    assert sorted(tuple(r) for r in btable.read().collect()) == before

    removed = btable.vacuum(keep_last=1)
    # old generations released
    assert set(removed) >= {btable._owner_version(o) for o in owners_before}
    assert sorted(tuple(r) for r in btable.read().collect()) == before


def test_versioned_compact_zorder_clusters_both_dims(spark, tmp_path):
    """ZORDER parity: on a 64x64 (x, y) grid rewritten into 16 files,
    every file must be narrow in BOTH dimensions (a plain x-sort is
    narrow in x only — y spans the full range in every file), so
    row-group min/max stats prune scans filtered on either column.
    Content stays identical; bad columns fail loudly."""
    import glob as _glob
    import os

    t = VersionedTable(spark, str(tmp_path / "zt"))
    grid = spark.range(64 * 64).selectExpr(
        "id", "CAST(id % 64 AS DOUBLE) AS x", "CAST(id DIV 64 AS DOUBLE) AS y"
    )
    t.overwrite(grid)
    before = sorted(tuple(r) for r in t.read().collect())

    c = t.compact(target_rows_per_file=256, zorder_by=["x", "y"])
    assert c.metrics["files"] == 16 and c.metrics["zorder_by"] == ["x", "y"]
    assert sorted(tuple(r) for r in t.read().collect()) == before

    files = _glob.glob(os.path.join(t._data_dir(c.version), "*.parquet"))
    assert len(files) == 16
    spreads = []
    for f in files:
        pdf = spark.read.parquet(f).selectExpr(
            "max(x) - min(x) AS sx", "max(y) - min(y) AS sy"
        ).first()
        spreads.append((pdf["sx"], pdf["sy"]))
    # each z-ordered file covers a compact region: both spans well
    # under the full 63-range (a 256-row Morton block spans ~16 cells
    # per side; allow generous slack for range-partition boundaries)
    assert all(sx <= 32 and sy <= 32 for sx, sy in spreads), spreads

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in table schema"):
        t.compact(zorder_by=["nope"])
    t2 = VersionedTable(spark, str(tmp_path / "zs"))
    t2.overwrite(spark.createDataFrame([("a", 1)], "s string, n long"))
    with _pytest.raises(ValueError, match="unsupported type"):
        t2.compact(zorder_by=["s"])
    with _pytest.raises(ValueError, match="1-4 columns"):
        t2.compact(zorder_by=["n", "n", "n", "n", "n"])


def test_versioned_compact_zorder_rank_handles_skew(spark, tmp_path):
    """zorder_method='rank' (equi-depth buckets by range-partitioned
    global rank): on a corpus where 90% of rows share ONE hot x value,
    the value-range method collapses those rows into a single Morton
    cell while rank buckets fan the ties across the full bucket range.
    The testable layout property is statistical: content is identical
    to the input and MOST output files stay narrow in y — files whose
    sampled z-cut straddles a Morton high-bit discontinuity can span
    the full y range (inherent to count-balanced cuts on a
    space-filling curve; Delta's OPTIMIZE ZORDER shares it)."""
    import glob as _glob
    import os

    t = VersionedTable(spark, str(tmp_path / "zs"))
    n = 4096
    skewed = spark.range(n).selectExpr(
        "id",
        # 90% of x values are the hot constant 7.0
        "CAST(CASE WHEN id % 10 < 9 THEN 7.0 ELSE id END AS DOUBLE) AS x",
        "CAST(id % 64 AS DOUBLE) AS y",
    )
    t.overwrite(skewed)
    before = sorted(tuple(r) for r in t.read().collect())

    c = t.compact(
        target_rows_per_file=256, zorder_by=["x", "y"], zorder_method="rank"
    )
    assert c.metrics["zorder_method"] == "rank"
    assert sorted(tuple(r) for r in t.read().collect()) == before

    files = _glob.glob(os.path.join(t._data_dir(c.version), "*.parquet"))
    assert len(files) == 16
    # file boundaries come from repartitionByRange's sampled z cuts, so
    # a file can straddle a Morton-curve high-bit discontinuity (the
    # curve jumps from y-high back to y-low when x's high bit flips)
    # and legitimately span the full y range — a boundary effect of
    # curve order, not a layout failure; how many files straddle
    # depends on where the cuts land. The property that distinguishes
    # rank buckets from value-range buckets under 90%-hot x is that
    # MOST files stay narrow in y (value-range collapses the hot rows
    # into one Morton cell and nearly every file goes wide).
    spreads = []
    for f in files:
        r = spark.read.parquet(f).selectExpr(
            "max(y) - min(y) AS sy", "count(*) AS n"
        ).first()
        spreads.append(r["sy"])
    narrow = [s for s in spreads if s <= 32]
    assert len(narrow) >= 11, spreads  # y stays clustered under x-skew
    assert sorted(spreads)[len(spreads) // 2] <= 32, spreads  # median narrow

    import pytest as _pytest

    with _pytest.raises(ValueError, match="zorder_method"):
        t.compact(zorder_by=["x"], zorder_method="hilbert")


def test_check_constraints_delta_parity(spark, tmp_path):
    """ALTER TABLE ADD CONSTRAINT parity: adding scans the current
    snapshot and fails on existing violations; every write action
    rejects violating data BEFORE committing (the table stays at its
    previous version); NULL predicates pass (SQL CHECK semantics);
    dropped constraints stop enforcing."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "cons"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, None)], "id long, price double"
        )
    )
    # existing data violates -> add fails, nothing stored
    with _pytest.raises(ValueError, match="existing rows violate"):
        t.add_constraint("price_pos", "price > 15")
    assert t.constraints() == {}

    # NULL passes (row 3), all non-null prices are > 5 -> add succeeds
    t.add_constraint("price_min", "price > 5")
    assert t.constraints() == {"price_min": "price > 5"}
    with _pytest.raises(ValueError, match="already exists"):
        t.add_constraint("price_min", "price > 0")

    v_before = t.latest_version()
    bad = spark.createDataFrame([(4, 1.0)], "id long, price double")
    with _pytest.raises(ValueError, match="price_min"):
        t.overwrite(t.read().unionByName(bad))
    with _pytest.raises(ValueError, match="price_min"):
        t.merge(bad, keys=["id"])
    assert t.latest_version() == v_before  # nothing committed
    assert t.read().count() == 3

    # NULL-price rows pass every write
    t.merge(
        spark.createDataFrame([(5, None)], "id long, price double"),
        keys=["id"],
    )
    assert t.read().count() == 4

    # typo'd expression fails at add time even with no snapshot
    t2 = VersionedTable(spark, str(tmp_path / "cons2"))
    with _pytest.raises(Exception):
        t2.add_constraint("broken", "price > ")
    assert t2.constraints() == {}

    # drop stops enforcement
    t.drop_constraint("price_min")
    t.merge(bad, keys=["id"])
    assert t.read().count() == 5
    with _pytest.raises(ValueError, match="no constraint"):
        t.drop_constraint("price_min")


def test_bucketed_check_constraints(spark, btable):
    """The bucketed variant shares the CHECK-constraint mixin: adding
    scans existing data, merges enforce on the rewritten buckets
    (incoming + carried rows — the set Delta validates on a file
    rewrite), and a rejected merge leaves the manifest untouched."""
    btable.overwrite(rows(spark, [("u1", "a", 10), ("u2", "b", 20)]))
    btable.add_constraint("price_pos", "price > 0")
    with pytest.raises(ValueError, match="already exists"):
        btable.add_constraint("price_pos", "price > 1")
    v = btable.latest_version()
    with pytest.raises(ValueError, match="price_pos"):
        btable.merge(rows(spark, [("u3", "c", -5)]), keys=["content_url"])
    assert btable.latest_version() == v
    assert btable.read().count() == 2
    btable.merge(rows(spark, [("u3", "c", 5)]), keys=["content_url"])
    assert btable.read().count() == 3
    with pytest.raises(ValueError, match="existing rows violate"):
        btable.add_constraint("price_big", "price > 100")


# ---------------------------------------------------------------------------
# Optimistic concurrency (Delta put-if-absent parity)
# ---------------------------------------------------------------------------


def test_versioned_concurrent_writers_conflict_not_lost_update(
    spark, table, monkeypatch
):
    """Two writers race from the same snapshot to version N+1: exactly
    one wins the per-version CAS; the loser gets ConcurrentWriteError
    (and removes its staged dir) instead of silently replacing the
    winner's commit — the lost update the old read-log/write-log
    protocol allowed."""
    import os

    from delta_data_pipelines_spark.storage import ConcurrentWriteError

    table.overwrite(rows(spark, [("u1", "a", 1)]))  # v0
    stale = table.history()  # the snapshot BOTH writers read
    table.append(rows(spark, [("u2", "b", 2)]))  # writer A wins v1

    loser = VersionedTable(spark, table.root)
    monkeypatch.setattr(loser, "history", lambda: stale)  # raced read
    with pytest.raises(ConcurrentWriteError, match="version 1"):
        loser.overwrite(rows(spark, [("uX", "evil", 9)]))

    # winner's commit intact; loser left no data dir behind
    fresh = VersionedTable(spark, table.root)
    assert fresh.latest_version() == 1
    assert {r["content_url"] for r in fresh.read().collect()} == {"u1", "u2"}
    assert len([d for d in os.listdir(table.root) if d.startswith("v=")]) == 2
    # a retry from a FRESH read succeeds at the next version
    fresh.append(rows(spark, [("u3", "c", 3)]))
    assert fresh.latest_version() == 2
    assert fresh.read().count() == 3


def test_versioned_history_reconciles_marker_tail_after_cache_loss(
    spark, table
):
    """A winner that crashes between its CAS marker and the _log.json
    cache refresh has still committed: history() reconciles the cache
    with the marker tail, reads serve the marker'd version, and the
    next commit continues the version sequence."""
    import json as _json
    import os

    table.overwrite(rows(spark, [("u1", "a", 1)]))  # v0
    table.append(rows(spark, [("u2", "b", 2)]))  # v1
    log = os.path.join(table.root, "_log.json")
    with open(log) as f:
        entries = _json.load(f)
    with open(log, "w") as f:  # simulate crash-before-cache-refresh
        _json.dump(entries[:1], f)

    t2 = VersionedTable(spark, table.root)
    assert [c.version for c in t2.history()] == [0, 1]
    assert t2.read().count() == 2  # serves v1, not the stale cache
    t2.append(rows(spark, [("u3", "c", 3)]))
    assert t2.latest_version() == 2
    assert t2.read().count() == 3


def test_bucketed_concurrent_writers_conflict_not_lost_update(
    spark, btable, monkeypatch
):
    """BucketedTable shares the CAS commit point: a merge raced from a
    stale snapshot conflicts; the winner's buckets and manifest are
    untouched (writers stage to unique dirs, so the loser can never
    clobber the winner's files pre-CAS either)."""
    from delta_data_pipelines_spark.storage import (
        BucketedTable,
        ConcurrentWriteError,
    )

    btable.overwrite(rows(spark, [(f"u{i}", "x", i) for i in range(20)]))
    stale = btable.history()
    btable.merge(rows(spark, [("win", "w", 1)]), keys=["content_url"])

    loser = BucketedTable(spark, btable.root)
    monkeypatch.setattr(loser, "history", lambda: stale)
    with pytest.raises(ConcurrentWriteError, match="version 1"):
        loser.merge(rows(spark, [("lose", "l", 2)]), keys=["content_url"])

    fresh = BucketedTable(spark, btable.root)
    assert fresh.latest_version() == 1
    got = {r["content_url"] for r in fresh.read().collect()}
    assert "win" in got and "lose" not in got and len(got) == 21
    # retry from a fresh snapshot lands as v2
    fresh.merge(rows(spark, [("lose", "l", 2)]), keys=["content_url"])
    assert fresh.latest_version() == 2
    assert fresh.read().count() == 22


def test_bucketed_history_reconciles_marker_tail_after_cache_loss(
    spark, btable
):
    import json as _json
    import os

    btable.overwrite(rows(spark, [("u1", "a", 1)]))
    btable.merge(rows(spark, [("u2", "b", 2)]), keys=["content_url"])
    log = os.path.join(btable.root, "_log.json")
    with open(log) as f:
        entries = _json.load(f)
    with open(log, "w") as f:
        _json.dump(entries[:1], f)

    from delta_data_pipelines_spark.storage import BucketedTable

    t2 = BucketedTable(spark, btable.root)
    assert [c.version for c in t2.history()] == [0, 1]
    assert t2.read().count() == 2
    t2.merge(rows(spark, [("u3", "c", 3)]), keys=["content_url"])
    assert t2.latest_version() == 2
    assert t2.read().count() == 3


def test_apply_changes_roundtrip_replication(spark, table, tmp_path):
    """APPLY CHANGES INTO parity: replaying source.changes(v) onto a
    replica cloned at version v reproduces the source's current
    snapshot exactly — inserts land, updates take the postimage,
    deletes drop, untouched rows survive. A second application of the
    same feed is idempotent (upserts match, deletes find nothing)."""
    from pyspark.sql import functions as F

    src = table
    src.overwrite(rows(spark, [("u1", "a", 1), ("u2", "b", 2), ("u3", "c", 3)]))
    replica = src.clone(str(tmp_path / "replica"))

    # mutate the source: update u1, delete u2, insert u4
    src.merge(
        rows(spark, [("u1", "A2", 10)]), keys=["content_url"],
        when_matched="update",
    )
    src.delete_where(F.col("content_url") == "u2")
    src.merge(rows(spark, [("u4", "d", 4)]), keys=["content_url"])

    feed = src.changes(0, keys=["content_url"])
    replica.apply_changes(feed, keys=["content_url"])
    want = sorted(tuple(r) for r in src.read().collect())
    got = sorted(tuple(r) for r in replica.read().collect())
    assert got == want

    # idempotent re-application (at-least-once feed delivery)
    replica.apply_changes(feed, keys=["content_url"])
    got2 = sorted(tuple(r) for r in replica.read().collect())
    assert got2 == want

    import pytest as _pytest

    with _pytest.raises(ValueError, match="keys required"):
        replica.apply_changes(feed, keys=[])


def test_apply_changes_executes_feed_once(spark, table, tmp_path):
    """The CDC feed lineage runs EXACTLY once per apply (the staging
    pin): a snapshot-diff feed is a full-snapshot join, and before the
    localCheckpoint the upsert/delete counts, constraint aggregate and
    commit write each re-ran it (4× the dominant job, VERDICT r9 #2).
    Counted with a per-row accumulator UDF spliced into the feed —
    both table variants."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from delta_data_pipelines_spark.storage import BucketedTable

    acc = spark.sparkContext.accumulator(0)

    def tick(v):
        acc.add(1)
        return v

    tick_udf = F.udf(tick, StringType())

    n_rows = 3
    base = spark.createDataFrame(
        [("u1", "a"), ("u2", "b"), ("u3", "c")], "content_url string, v string"
    )
    feed = base.select(
        tick_udf("content_url").alias("content_url"),
        "v",
        F.when(F.col("content_url") == "u3", F.lit("delete"))
        .otherwise(F.lit("insert"))
        .alias("_change_type"),
    )

    vt = table
    vt.overwrite(rows(spark, [("u9", "z", 9)]).select("content_url", "title"))
    # align schema: apply a feed with (content_url, v) onto a fresh table
    vt2_root = str(tmp_path / "exec_once_v")
    from delta_data_pipelines_spark.storage import VersionedTable

    vt2 = VersionedTable(spark, vt2_root)
    vt2.apply_changes(feed, keys=["content_url"])
    assert acc.value == n_rows, f"feed executed {acc.value / n_rows}x"

    acc.value = 0
    bt = BucketedTable(
        spark, str(tmp_path / "exec_once_b"), bucket_key="content_url",
        n_buckets=4,
    )
    bt.apply_changes(feed, keys=["content_url"])
    assert acc.value == n_rows, f"feed executed {acc.value / n_rows}x"


def test_bucketed_apply_changes_roundtrip_and_bucket_scope(
    spark, btable, tmp_path
):
    """Bucket-scoped CDC consumer: replaying source.changes(v) onto a
    replica reproduces the source snapshot, ONLY the feed's buckets
    are rewritten (untouched pointers survive verbatim), a bucket
    emptied by deletes loses its pointer, and re-application is
    content-idempotent."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.storage import BucketedTable

    src = btable
    seed = rows(spark, [(f"u{i}", "x", i) for i in range(60)])
    src.overwrite(seed)
    replica = BucketedTable(
        spark, str(tmp_path / "brep"), bucket_key="content_url", n_buckets=8
    )
    replica.overwrite(seed)

    src.merge(
        rows(spark, [("u1", "NEW", 100)]), keys=["content_url"],
        when_matched="update",
    )
    src.delete_where(F.col("content_url") == "u2")
    src.merge(rows(spark, [("zz-new", "z", 7)]), keys=["content_url"])

    before = replica._manifest()
    feed = src.changes(0, keys=["content_url"])
    c = replica.apply_changes(feed, keys=["content_url"])
    want = sorted(tuple(r) for r in src.read().collect())
    got = sorted(tuple(r) for r in replica.read().collect())
    assert got == want
    # only the feed's buckets moved; every other pointer is verbatim
    touched = set(
        replica.bucket_ids_of(
            feed.where(
                F.col("_change_type").isin(
                    "insert", "delete", "update_postimage"
                )
            ).select("content_url")
        )
    )
    assert c.metrics["buckets_written"] <= len(touched)
    for b, v in before.items():
        if int(b) not in touched:
            assert c.manifest[b] == v, b

    # re-application: content unchanged (a new commit, same rows)
    replica.apply_changes(feed, keys=["content_url"])
    got2 = sorted(tuple(r) for r in replica.read().collect())
    assert got2 == want

    # a bucket emptied by deletes loses its pointer
    solo = BucketedTable(
        spark, str(tmp_path / "bsolo"), bucket_key="k", n_buckets=2
    )
    solo.overwrite(spark.createDataFrame([("a", 1)], "k string, v int"))
    fd = spark.createDataFrame([("a", 1, "delete")], "k string, v int, _change_type string")
    c2 = solo.apply_changes(fd, keys=["k"])
    assert c2.manifest == {}
    assert solo.read().count() == 0

    with pytest.raises(ValueError, match="bucket key"):
        solo.apply_changes(fd, keys=["v"])


# ---------------------------------------------------------------------------
# ChangeFeedTail: continuous CDC replication
# ---------------------------------------------------------------------------


def test_change_feed_tail_converges_under_continued_writes(
    spark, table, tmp_path
):
    """The CDC tail (changes() -> apply_changes() with a persisted
    source-version watermark): bootstrap clones the latest snapshot,
    each tick applies exactly the new span, writes committed BETWEEN
    ticks are picked up by the next tick, and a crash between apply
    and watermark write (simulated by rolling the watermark back)
    replays an idempotent span."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.storage import (
        ChangeFeedTail,
        VersionedTable,
    )

    src = table
    src.overwrite(rows(spark, [("u1", "a", 1), ("u2", "b", 2)]))
    replica = VersionedTable(spark, str(tmp_path / "cft_replica"))
    tail = ChangeFeedTail(src, replica, keys=["content_url"])

    # bootstrap
    r = tail.tick()
    assert r["applied_from"] is None and r["rows"] == 2
    assert sorted(map(tuple, replica.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )

    # idle tick is a no-op commit-wise
    v_before = replica.latest_version()
    assert tail.tick()["rows"] == 0
    assert replica.latest_version() == v_before

    # source keeps committing between ticks (the concurrent-writer
    # story: each tick applies a snapshot-consistent span, later
    # commits land next tick)
    src.merge(
        rows(spark, [("u1", "A2", 10)]), keys=["content_url"],
        when_matched="update",
    )
    src.delete_where(F.col("content_url") == "u2")
    r = tail.tick()
    assert r["rows"] > 0
    src.merge(rows(spark, [("u3", "c", 3)]), keys=["content_url"])
    tail.tick()
    assert sorted(map(tuple, replica.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )

    # crash window: apply committed but the watermark write was lost —
    # the replayed span must be content-idempotent
    applied = tail.applied_version()
    tail._record(applied - 2)
    tail.tick()
    assert tail.applied_version() == applied
    assert sorted(map(tuple, replica.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )

    # a replica cannot silently switch sources
    other = VersionedTable(spark, str(tmp_path / "cft_other_src"))
    other.overwrite(rows(spark, [("x", "y", 0)]))
    with pytest.raises(ValueError, match="tails"):
        ChangeFeedTail(other, replica, keys=["content_url"]).tick()


def test_change_feed_tail_bucketed_touches_only_moved_buckets(
    spark, btable, tmp_path
):
    """On the bucketed pair a tick's cost follows churn: changes()
    reads only moved-pointer source buckets and apply_changes rewrites
    only fed replica buckets — proven by untouched replica pointers
    surviving verbatim across a tick that mutates one key."""
    from delta_data_pipelines_spark.storage import BucketedTable, ChangeFeedTail

    src = btable
    batch = rows(
        spark,
        [(f"u{i}", f"t{i}", i) for i in range(16)],
    )
    src.merge(batch, keys=["content_url"])
    replica = BucketedTable(
        spark, str(tmp_path / "cft_breplica"), bucket_key="content_url",
        n_buckets=8,
    )
    tail = ChangeFeedTail(src, replica, keys=["content_url"])
    tail.tick()
    assert sorted(map(tuple, replica.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )

    before = dict(replica._manifest())
    src.merge(
        rows(spark, [("u1", "CHANGED", 999)]), keys=["content_url"],
        when_matched="update",
    )
    tail.tick()
    after = dict(replica._manifest())
    moved = {b for b in set(before) | set(after) if before.get(b) != after.get(b)}
    touched = set(str(b) for b in src.bucket_ids_of(
        rows(spark, [("u1", "CHANGED", 999)]).select("content_url")
    ))
    assert moved == touched, (moved, touched)
    assert sorted(map(tuple, replica.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )


def test_change_feed_tail_streaming_form(spark, table, tmp_path):
    """as_stream(): the rate-source heartbeat drives tick() on a
    schedule; mutations committed after the stream starts reach the
    replica without any manual tick."""
    import time as _time

    from delta_data_pipelines_spark.storage import (
        ChangeFeedTail,
        VersionedTable,
    )

    src = table
    src.overwrite(rows(spark, [("u1", "a", 1)]))
    replica = VersionedTable(spark, str(tmp_path / "cfs_replica"))
    tail = ChangeFeedTail(src, replica, keys=["content_url"])
    q = tail.as_stream(str(tmp_path / "cfs_ckpt"), poll_seconds=1)
    try:
        deadline = _time.time() + 90
        while _time.time() < deadline and not replica.exists():
            _time.sleep(0.5)
        src.merge(rows(spark, [("u2", "b", 2)]), keys=["content_url"])
        want = sorted(map(tuple, src.read().collect()))
        while _time.time() < deadline:
            if replica.exists() and sorted(
                map(tuple, replica.read().collect())
            ) == want:
                break
            _time.sleep(0.5)
        assert sorted(map(tuple, replica.read().collect())) == want
    finally:
        q.stop()


def test_maybe_compact_bounds_generations_on_a_merge_stream(
    spark, tmp_path
):
    """The streaming-state maintenance policy (merge + maybe_compact +
    vacuum per micro-batch, exactly the sinks' loop): across many
    batches the live manifest's generation count stays <=
    max_generations + 1, on-disk version dirs stay bounded (vacuum can
    actually release old generations once ownership collapses), data
    is never lost, and per-batch wall time stays flat instead of
    growing with batch number."""
    import os
    import time as _time

    from delta_data_pipelines_spark.storage import BucketedTable

    bt = BucketedTable(
        spark, str(tmp_path / "mc"), bucket_key="k", n_buckets=8
    )
    MAXGEN = 4
    times = []
    compactions = 0
    for i in range(30):
        batch = spark.createDataFrame(
            [(f"k{i}", i)], "k string, v long"
        )
        t0 = _time.time()
        bt.merge(batch, keys=["k"], metrics=False)
        if bt.maybe_compact(MAXGEN) is not None:
            compactions += 1
        bt.vacuum(keep_last=3)
        times.append(_time.time() - t0)
        assert bt.generations() <= MAXGEN + 1, (i, bt.generations())
    assert compactions >= 3  # the trigger actually fires repeatedly
    assert bt.read().count() == 30  # nothing lost
    vdirs = [d for d in os.listdir(bt.root) if d.startswith("v=")]
    # without compaction a 30-batch stream can pin ~1 generation per
    # batch; with the policy the disk holds only the last few commits'
    # generations
    assert len(vdirs) <= MAXGEN + 3 + 1, sorted(vdirs)
    # flatness: the last third must not be meaningfully slower than
    # the first third (generous 3x guard - the failure mode without
    # maintenance is monotone growth, not noise)
    first = sorted(times[:10])[5]
    last = sorted(times[-10:])[5]
    assert last <= max(3 * first, first + 2.0), (first, last)


def test_maybe_compact_validates_and_noops_below_threshold(spark, tmp_path):
    from delta_data_pipelines_spark.storage import BucketedTable

    bt = BucketedTable(
        spark, str(tmp_path / "mc2"), bucket_key="k", n_buckets=4
    )
    with pytest.raises(ValueError):
        bt.maybe_compact(0)
    assert bt.maybe_compact(2) is None  # nonexistent table: no-op
    bt.merge(
        spark.createDataFrame([("a", 1)], "k string, v long"), keys=["k"]
    )
    assert bt.generations() == 1
    assert bt.maybe_compact(2) is None  # under threshold: no commit


def test_vacuum_spill_sweep_respects_lease_and_registry(spark, tmp_path):
    """The orphan-spill sweep must not delete an in-flight merge's
    spill: (a) a spill whose top-level mtime is ancient but whose
    _LEASE heartbeat is fresh survives (a merge's post-spill phase ran
    past the grace period — the original hazard), (b) a spill
    registered by this process survives whatever its age, (c) a truly
    orphaned spill (stale dir, stale-or-missing lease, no registry
    entry) is swept."""
    import os
    import time as _time

    from delta_data_pipelines_spark.storage import BucketedTable

    bt = BucketedTable(
        spark, str(tmp_path / "vs"), bucket_key="k", n_buckets=4
    )
    for i in range(4):  # enough history for vacuum to run its sweep
        bt.merge(
            spark.createDataFrame([(f"k{i}", i)], "k string, v long"),
            keys=["k"],
        )
    old = _time.time() - 7200

    # (a) ancient dir, fresh lease
    leased = os.path.join(bt.root, "_tmp_merge-leased")
    os.makedirs(leased)
    with open(os.path.join(leased, "_LEASE"), "w") as fh:
        fh.write("hb")
    os.utime(leased, (old, old))

    # (b) ancient dir, no lease, but registered in-flight
    reg = os.path.join(bt.root, "_tmp_merge-registered")
    os.makedirs(reg)
    os.utime(reg, (old, old))
    BucketedTable._inflight_spills.add(reg)

    # (c) ancient dir, stale lease
    orphan = os.path.join(bt.root, "_tmp_merge-orphan")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "_LEASE"), "w") as fh:
        fh.write("hb")
    os.utime(os.path.join(orphan, "_LEASE"), (old, old))
    os.utime(orphan, (old, old))

    try:
        bt.vacuum(keep_last=2)
        assert os.path.exists(leased)
        assert os.path.exists(reg)
        assert not os.path.exists(orphan)
    finally:
        BucketedTable._inflight_spills.discard(reg)


# ---------------------------------------------------------------------------
# IncrementalAggregate: CDC-maintained materialized view
# ---------------------------------------------------------------------------


def _full_agg(df):
    from pyspark.sql import functions as F

    return {
        tuple(r)[:1] + (r["n_rows"], r["sum_price"])
        for r in df.groupBy("title")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("price").cast("decimal(38,6)")).alias("sum_price"),
        )
        .collect()
    }


def _view_rows(agg):
    return {
        (r["title"], r["n_rows"], r["sum_price"])
        for r in agg.value().collect()
    }


def test_incremental_aggregate_tracks_full_recompute(spark, table, tmp_path):
    """The delta-algebra invariant: after each tick the maintained
    count/sum view EQUALS the full groupBy recompute of the source's
    current snapshot — across inserts, updates (pre cancels, post
    adds), deletes, and a group emptying out of the view entirely.
    Decimal sums make equality exact, not approximate."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.storage import (
        IncrementalAggregate,
        VersionedTable,
    )

    src = table
    src.overwrite(rows(spark, [
        ("u1", "a", 10), ("u2", "a", 5), ("u3", "b", 7),
    ]))
    agg = IncrementalAggregate(
        VersionedTable(spark, str(tmp_path / "agg_v")),
        group_cols=["title"],
        sum_cols=["price"],
    )
    r = agg.tick(src, ["content_url"])
    assert r["applied_from"] is None and agg.applied_version() == 0
    assert _view_rows(agg) == _full_agg(src.read())

    # idle tick: no new commit
    v = agg.table.latest_version()
    agg.tick(src, ["content_url"])
    assert agg.table.latest_version() == v

    # update (group move a->b), delete, insert — over two source commits
    src.merge(
        rows(spark, [("u2", "b", 50)]), keys=["content_url"],
        when_matched="update",
    )
    src.delete_where(F.col("content_url") == "u3")
    agg.tick(src, ["content_url"])
    assert _view_rows(agg) == _full_agg(src.read())

    # empty group 'a' entirely: its row must LEAVE the view
    src.delete_where(F.col("content_url") == "u1")
    agg.tick(src, ["content_url"])
    assert _view_rows(agg) == _full_agg(src.read())
    assert {r["title"] for r in agg.value().collect()} == {"b"}


def test_incremental_aggregate_exactly_once_watermark(spark, table, tmp_path):
    """The watermark travels INSIDE the refresh commit, so a replayed
    tick after any crash point is a no-op: either the commit never
    landed (nothing applied, watermark unchanged) or it landed with
    the watermark. Re-ticking against an unchanged source never
    double-counts the additive deltas."""
    from delta_data_pipelines_spark.storage import (
        IncrementalAggregate,
        VersionedTable,
    )

    src = table
    src.overwrite(rows(spark, [("u1", "a", 10)]))
    agg = IncrementalAggregate(
        VersionedTable(spark, str(tmp_path / "agg_w")),
        group_cols=["title"],
        sum_cols=["price"],
    )
    agg.tick(src, ["content_url"])
    src.merge(rows(spark, [("u2", "a", 5)]), keys=["content_url"])
    agg.tick(src, ["content_url"])
    before = _view_rows(agg)
    # replayed ticks (the crash-recovery path)
    agg.tick(src, ["content_url"])
    agg.tick(src, ["content_url"])
    assert _view_rows(agg) == before == {("a", 2, __import__("decimal").Decimal("15.000000"))}


def test_incremental_aggregate_bucketed_touches_only_fed_buckets(
    spark, tmp_path
):
    """Bucketed scale path: a refresh reads only the delta's buckets
    (read_buckets pruning) and rewrites only fed buckets — untouched
    view pointers survive a tick verbatim; all-zero deltas (an update
    leaving every aggregated column unchanged) rewrite nothing."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.storage import (
        BucketedTable,
        IncrementalAggregate,
        VersionedTable,
    )

    src = VersionedTable(spark, str(tmp_path / "agg_src"))
    data = [(f"u{i}", f"g{i % 6}", i) for i in range(24)]
    src.overwrite(rows(spark, data))
    view = BucketedTable(
        spark, str(tmp_path / "agg_b"), bucket_key="title", n_buckets=8
    )
    agg = IncrementalAggregate(view, ["title"], ["price"])
    agg.tick(src, ["content_url"])
    assert _view_rows(agg) == _full_agg(src.read())

    before = dict(view._manifest())
    src.merge(
        rows(spark, [("u1", "g1", 999)]), keys=["content_url"],
        when_matched="update",
    )
    agg.tick(src, ["content_url"])
    after = dict(view._manifest())
    moved = {b for b in set(before) | set(after) if before.get(b) != after.get(b)}
    expect = set(
        str(b)
        for b in view.bucket_ids_of(
            spark.createDataFrame([("g1",)], "title string"), "title"
        )
    )
    assert moved == expect, (moved, expect)
    assert _view_rows(agg) == _full_agg(src.read())

    # an update that changes NO aggregated column: pre and post cancel
    # to an all-zero delta, and the refresh rewrites no bucket
    src.merge(
        rows(spark, [("u2", "g2", 2)]), keys=["content_url"],
        when_matched="update",
    )  # same title, same price -> content unchanged? price 2 == original
    before2 = dict(view._manifest())
    agg.tick(src, ["content_url"])
    assert dict(view._manifest()) == before2
    assert _view_rows(agg) == _full_agg(src.read())

    # geometry guard: bucket key must be a group column
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bucket key"):
        IncrementalAggregate(view, ["price"], [])


def _full_minmax(df):
    from pyspark.sql import functions as F

    return {
        (r["title"], r["n_rows"], r["min_price"], r["max_price"])
        for r in df.groupBy("title")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("price").alias("min_price"),
            F.max("price").alias("max_price"),
        )
        .collect()
    }


def test_incremental_aggregate_minmax_converges_to_recompute(
    spark, table, tmp_path
):
    """MIN/MAX hybrid maintenance (the reference's MinUserRole shape,
    SURVEY A2): after every tick the maintained min/max equal the full
    groupBy recompute — inserts that move an extremum, deletes that
    kill one (tie included), updates that move a row across groups,
    and a group emptying out entirely."""
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.storage import (
        IncrementalAggregate,
        VersionedTable,
    )

    src = table
    src.overwrite(rows(spark, [
        ("u1", "a", 10), ("u2", "a", 5), ("u3", "a", 5), ("u4", "b", 7),
    ]))
    agg = IncrementalAggregate(
        VersionedTable(spark, str(tmp_path / "agg_mm")),
        group_cols=["title"],
        minmax_cols=["price"],
    )

    def check():
        got = {
            (r["title"], r["n_rows"], r["min_price"], r["max_price"])
            for r in agg.value().collect()
        }
        assert got == _full_minmax(src.read())

    agg.tick(src, ["content_url"])
    check()
    # new max via insert (no base read needed), new min via insert
    src.merge(rows(spark, [("u5", "a", 99), ("u6", "b", 1)]),
              keys=["content_url"])
    agg.tick(src, ["content_url"])
    check()
    # delete ONE of two tied minima: the min must SURVIVE (5 remains)
    src.delete_where(F.col("content_url") == "u2")
    agg.tick(src, ["content_url"])
    check()
    assert agg.value().where("title='a'").first()["min_price"] == 5
    # delete the max: extremum recompute path
    src.delete_where(F.col("content_url") == "u5")
    agg.tick(src, ["content_url"])
    check()
    # update moves a row between groups (delete-side in a, insert in b)
    src.merge(rows(spark, [("u1", "b", 10)]), keys=["content_url"],
              when_matched="update")
    agg.tick(src, ["content_url"])
    check()
    # group 'a' empties entirely
    src.delete_where(F.col("title") == "a")
    agg.tick(src, ["content_url"])
    check()
    assert {r["title"] for r in agg.value().collect()} == {"b"}


def test_incremental_aggregate_minmax_only_losers_read_base(
    spark, table, tmp_path
):
    """The hybrid's cost contract: the base table is read ONLY for
    extremum-losing groups — never on inserts, never on deletes that
    don't touch a stored extremum — and the loser set passed to the
    base reader names exactly the losing groups."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.storage import (
        IncrementalAggregate,
        VersionedTable,
    )

    src = table
    src.overwrite(rows(spark, [
        ("u1", "a", 1), ("u2", "a", 5), ("u3", "a", 9),
        ("u4", "b", 2), ("u5", "b", 8),
    ]))
    agg = IncrementalAggregate(
        VersionedTable(spark, str(tmp_path / "agg_lz")),
        group_cols=["title"],
        minmax_cols=["price"],
    )
    calls: list[list[str]] = []

    def reader(losers):
        calls.append(sorted(r["title"] for r in losers.collect()))
        return src.read()

    def feed(data, ct):
        return rows(spark, data).withColumn("_change_type", F.lit(ct))

    # bootstrap (all-insert): no base read
    r = agg.refresh(feed(
        [("u1", "a", 1), ("u2", "a", 5), ("u3", "a", 9),
         ("u4", "b", 2), ("u5", "b", 8)], "insert"),
        base_reader=reader)
    assert r["groups_recomputed"] == 0 and calls == []
    # insert that MOVES the max: still no base read (insert side is
    # exactly maintainable)
    src.merge(rows(spark, [("u6", "a", 50)]), keys=["content_url"])
    r = agg.refresh(feed([("u6", "a", 50)], "insert"),
                    base_reader=reader)
    assert r["groups_recomputed"] == 0 and calls == []
    # delete a NON-extremum row: no base read
    src.delete_where(F.col("content_url") == "u2")
    r = agg.refresh(feed([("u2", "a", 5)], "delete"),
                    base_reader=reader)
    assert r["groups_recomputed"] == 0 and calls == []
    # delete group a's min AND a non-extremum of b in one span: the
    # reader sees ONLY group a
    src.delete_where(F.col("content_url") == "u1")
    r = agg.refresh(feed([("u1", "a", 1)], "delete"),
                    base_reader=reader)
    assert r["groups_recomputed"] == 1 and calls == [["a"]]
    assert agg.value().where("title='a'").first()["min_price"] == 9
    # extremum-losing delete WITHOUT a base reader: loud error
    src.delete_where(F.col("content_url") == "u5")
    with _pytest.raises(ValueError, match="base_reader"):
        agg.refresh(feed([("u5", "b", 8)], "delete"))


def test_change_feed_tail_rebootstrap_drops_phantoms(spark, table, tmp_path):
    """Crash window at BOOTSTRAP: the snapshot applied but the
    watermark never wrote, then the source deleted a row. The re-run
    bootstrap must diff against what landed and DELETE the phantom —
    an all-insert re-clone would strand it forever."""
    import os

    from pyspark.sql import functions as F

    from delta_data_pipelines_spark.storage import (
        ChangeFeedTail,
        VersionedTable,
    )

    src = table
    src.overwrite(rows(spark, [("u1", "a", 1), ("u2", "b", 2)]))
    replica = VersionedTable(spark, str(tmp_path / "cft_replica2"))
    tail = ChangeFeedTail(src, replica, keys=["content_url"])
    tail.tick()
    os.remove(os.path.join(replica.root, "_replication.json"))  # crash
    src.delete_where(F.col("content_url") == "u2")  # source moves on
    src.merge(rows(spark, [("u3", "c", 3)]), keys=["content_url"])

    r = tail.tick()  # re-bootstrap
    assert r["applied_from"] is None
    got = sorted(r["content_url"] for r in replica.read().collect())
    assert got == ["u1", "u3"]  # u2 phantom deleted, u3 arrived
    # steady state still converges after the repaired bootstrap
    src.delete_where(F.col("content_url") == "u1")
    tail.tick()
    assert sorted(
        r["content_url"] for r in replica.read().collect()
    ) == ["u3"]


def test_incremental_aggregate_refuses_unwatermarked_view(
    spark, table, tmp_path
):
    """A populated view whose history carries no applied_to watermark
    (pruned, or populated outside the class) must raise on tick — a
    silent re-bootstrap would merge the full snapshot ONTO the stored
    rows and double every count."""
    import pytest as _pytest

    from delta_data_pipelines_spark.storage import (
        IncrementalAggregate,
        VersionedTable,
    )

    src = table
    src.overwrite(rows(spark, [("u1", "a", 1), ("u2", "a", 2)]))
    view_t = VersionedTable(spark, str(tmp_path / "mv"))
    view = IncrementalAggregate(view_t, ["title"], sum_cols=["price"])
    view.tick(src, ["content_url"])
    n0 = view.value().where("title = 'a'").first()["n_rows"]
    assert n0 == 2
    # strip the watermark: rewrite the view content via a plain
    # overwrite (no applied_to metric) and prune earlier history
    view_t.overwrite(view.value())
    view_t.vacuum(keep_last=1)
    assert view.applied_version() is None
    with _pytest.raises(ValueError, match="no applied_to watermark"):
        view.tick(src, ["content_url"])
    # counts untouched — the guard fired before any merge
    assert view.value().where("title = 'a'").first()["n_rows"] == 2


def test_incremental_aggregate_maintenance_preserves_watermark(
    spark, table, tmp_path
):
    """Routine view-table maintenance (compact then deep vacuum) must
    not strand the watermark: the wrappers restamp applied_to so the
    next tick stays incremental instead of hitting the unwatermarked
    guard — and the restamped view keeps exact counts."""
    from delta_data_pipelines_spark.storage import (
        IncrementalAggregate,
        VersionedTable,
    )

    src = table
    src.overwrite(rows(spark, [("u1", "a", 1), ("u2", "a", 2), ("u3", "b", 3)]))
    view_t = VersionedTable(spark, str(tmp_path / "mv2"))
    view = IncrementalAggregate(view_t, ["title"], sum_cols=["price"])
    view.tick(src, ["content_url"])
    applied0 = view.applied_version()
    assert applied0 is not None

    view.compact()
    view.vacuum(keep_last=1)  # would prune the refresh commit raw
    assert view.applied_version() == applied0  # restamped, not lost

    # still incremental and exact after maintenance + new source writes
    src.merge(rows(spark, [("u4", "a", 4)]), keys=["content_url"])
    view.tick(src, ["content_url"])
    got = {r["title"]: (r["n_rows"], float(r["sum_price"]))
           for r in view.value().collect()}
    assert got == {"a": (3, 7.0), "b": (1, 3.0)}


# ---- commit-time change data ------------------------------------------------

_CD_SCHEMA = "k int, a string, b int"
_CD_KEY = st.one_of(st.none(), st.integers(0, 5))
_CD_ROW = st.tuples(
    _CD_KEY,
    st.one_of(st.none(), st.sampled_from(["x", "y"])),
    st.one_of(st.none(), st.integers(0, 3)),
)


def _cd_batch(unique: bool):
    if unique:
        return st.lists(_CD_ROW, max_size=5, unique_by=lambda r: r[0])
    return st.lists(_CD_ROW, max_size=5)


def _cd_op(unique: bool):
    batch = _cd_batch(unique)
    return st.one_of(
        st.tuples(st.just("merge"), batch, st.sampled_from(["ignore", "update"]),
                  st.booleans(), st.booleans()),
        st.tuples(st.just("apply_changes"), st.lists(
            st.tuples(_CD_ROW, st.sampled_from(
                ["insert", "delete", "update_preimage", "update_postimage"])),
            max_size=5)),
        st.tuples(st.just("append"), batch),
        st.tuples(st.just("delete_where"), st.integers(0, 3)),
        st.tuples(st.just("overwrite"), batch),
        st.tuples(st.just("restore"), st.integers(0, 10)),
        st.tuples(st.just("compact")),
        st.tuples(st.just("vacuum"), st.integers(1, 3)),
    )


@st.composite
def _cd_history(draw):
    unique = draw(st.booleans())
    first = draw(st.sampled_from(["overwrite", "merge", "append", "apply_changes"]))
    return unique, first, draw(_cd_batch(unique)), draw(
        st.lists(_cd_op(unique), min_size=1, max_size=3)
    )


def _cd_frame(spark, data, wide):
    df = spark.createDataFrame(data, _CD_SCHEMA)
    if wide:
        df = df.withColumn(
            "tag", F.when(F.col("b") > 1, F.concat(F.lit("t"), F.col("a")))
        )
    return df


def _cd_run(spark, table, unique, first, rows, ops):
    """Replay a drawn op sequence; returns nothing, leaves ``table``
    with its retained versions."""
    wide = lambda: "tag" in table.read().columns  # noqa: E731
    if first == "overwrite":
        table.overwrite(_cd_frame(spark, rows, False))
    elif first == "merge":
        table.merge(_cd_frame(spark, rows, False), keys=["k"])
    elif first == "append":
        table.append(_cd_frame(spark, rows, False))
    else:
        table.apply_changes(
            _cd_frame(spark, rows, False).withColumn(
                "_change_type", F.lit("insert")), keys=["k"])
    for op in ops:
        kind = op[0]
        if kind == "merge":
            _, data, when, evolve, widen = op
            has_tag = wide()
            source = _cd_frame(spark, data, widen or has_tag and evolve)
            evolve = evolve or set(source.columns) != set(table.read().columns)
            table.merge(source, keys=["k"], when_matched=when,
                        schema_evolution=evolve)
        elif kind == "apply_changes":
            feed = spark.createDataFrame(
                [r + (t,) for r, t in op[1]], _CD_SCHEMA + ", _change_type string"
            )
            if wide():
                feed = feed.withColumn("tag", F.col("a"))
            table.apply_changes(feed, keys=["k"])
        elif kind == "append":
            table.append(_cd_frame(spark, op[1], wide()))
        elif kind == "delete_where":
            table.delete_where(F.col("b") > op[1])
        elif kind == "overwrite":
            table.overwrite(_cd_frame(spark, op[1], False))
        elif kind == "restore":
            versions = [c.version for c in table.history()]
            table.restore(versions[op[1] % len(versions)])
        elif kind == "compact":
            table.compact(target_rows_per_file=2)
        else:
            table.vacuum(keep_last=op[1])


def _cd_rows(df):
    cols = sorted(df.columns)
    return sorted(repr(tuple(r)) for r in df.select(*cols).collect())


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_cd_history())
def test_changes_from_change_data_equal_full_snapshot_diff(
    spark, tmp_path, history
):
    """For any mix of commits — merge (ignore/update, with and without
    schema evolution), apply_changes, append, delete_where, overwrite,
    restore, compact, vacuum — over unique- and duplicate-key data
    (NULL keys included), ``changes(v0, v1, keys)`` answered from the
    commits' change rows equals the full ``snapshot_diff`` of the two
    snapshots, for every retained pair (and, over the whole retained
    span, for a superset of the recorded keys). One collect per side."""
    import uuid
    from functools import reduce

    from delta_data_pipelines_spark.storage.table import snapshot_diff

    table = VersionedTable(spark, str(tmp_path / uuid.uuid4().hex))
    _cd_run(spark, table, *history)
    versions = [c.version for c in table.history()]
    spans = [(["k"], v0, v1) for i, v0 in enumerate(versions)
             for v1 in versions[i:]]
    spans.append((["k", "a"], versions[0], versions[-1]))
    got, want = [], []
    for keys, v0, v1 in spans:
        tag = F.lit(f"{keys}:{v0}-{v1}").alias("_span")
        got.append(table.changes(v0, v1, keys=keys).select("*", tag))
        want.append(snapshot_diff(
            table.read(v0), table.read(v1), keys).select("*", tag))
    union = lambda fs: reduce(  # noqa: E731
        lambda a, b: a.unionByName(b, allowMissingColumns=True), fs)
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")  # tiny data
    try:
        assert _cd_rows(union(got)) == _cd_rows(union(want))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)


def test_changes_of_merge_and_apply_changes_read_only_change_data(spark, table):
    """A span made only of merge and apply_changes commits is answered
    from their ``_change_data`` files alone: no snapshot is scanned."""
    table.overwrite(rows(spark, [("u1", "a", 1), ("u2", "b", 2)]))
    table.merge(
        rows(spark, [("u1", "A", 9), ("u3", "c", 3)]), keys=["content_url"],
        when_matched="update",
    )
    table.apply_changes(
        rows(spark, [("u2", None, None), ("u4", "d", 4)]).withColumn(
            "_change_type",
            F.when(F.col("content_url") == "u2", F.lit("delete"))
            .otherwise(F.lit("insert")),
        ),
        keys=["content_url"],
    )
    table.merge(rows(spark, [("u5", "e", 5)]), keys=["content_url"])
    for v0 in (0, 1, 2):
        files = table.changes(v0, keys=["content_url"]).inputFiles()
        assert files and all("/_change_data/" in f for f in files), files
    got = {
        (r["_change_type"], r["content_url"])
        for r in table.changes(0, keys=["content_url"]).collect()
    }
    assert got == {
        ("update_preimage", "u1"), ("update_postimage", "u1"),
        ("insert", "u3"), ("delete", "u2"), ("insert", "u4"),
        ("insert", "u5"),
    }
    assert [c.metrics for c in table.history()[1:]] == [
        {"inserted": 1, "updated": 1},
        {"upserts": 1, "deletes": 1},
        {"inserted": 1, "updated": 0},
    ]
