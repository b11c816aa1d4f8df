"""The benchmark's workloads, each a closed loop with one client.

A workload sets itself up, then runs ``step()`` back to back until the
measuring window closes: the next operation starts only after the
previous one returned. Every call into the program is wrapped in a
tracer span named after the layer it enters (see ``spans.py``).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

import gen
from spans import dir_bytes, snapshot_bytes


# Call sites that write tables, and the work ratios; a traced run
# reports every call site (LAYER_SITES), 0 for one its workload skips.
STORAGE_SITES = ("ingest.crawl", "streaming.fetch", "storage.merge", "jobs.search_indexer.tick")
RATIOS = (
    "ingest.crawl.dup_ratio",
    "streaming.fetch.insert_ratio",
    "jobs.search_indexer.tick.effective_feed_ratio",
)


def digest(columns, rows) -> str:
    """Order-insensitive hash of a result, over the normalised rows of
    the repository's correctness gate (``tools/check.py``): columns
    sorted by name, rows sorted, values rendered type-faithfully."""
    from tools.check import _digest

    h = hashlib.sha256(",".join(sorted(columns)).encode())
    lines = _digest(columns, rows)
    for line in lines:
        h.update("|".join(line).encode() + b"\n")
    return f"{len(lines)}:{h.hexdigest()}"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def space_amp(tables) -> float:
    """Bytes on disk under the tables' roots ÷ bytes of their latest
    snapshots."""
    disk = sum(dir_bytes(t.root) for t in tables)
    live = sum(snapshot_bytes(t) for t in tables)
    return disk / live


class Ingest:
    """Paper stages 1-2: crawl dedup into the seen-set, queue publish,
    then fetch → site transformer → MERGE into ``listings``.

    One batch is one site's ``per_site`` candidate URLs, from URLs in to
    listings committed. The seed sets which URLs revisit earlier ones
    (about 40%) and which fetch messages are redelivered (about 5%).
    """

    per_site = 120
    backfill_per_site = 120

    def __init__(self, ctx, root: str, streamed: tuple[str, ...]):
        from pyspark.sql.pandas.types import to_arrow_schema

        from delta_data_pipelines_spark.ingest import registry
        from delta_data_pipelines_spark.storage import VersionedTable

        spark = ctx.spark
        self.ctx, self.root = ctx, root
        self.rng = np.random.default_rng([ctx.seed, 5])
        self.schemas = {s: spark.createDataFrame([], gen.PAYLOAD_DDL[s]).schema for s in gen.SITES}
        self.arrow = {s: to_arrow_schema(self.schemas[s]) for s in gen.SITES}
        self.seen = VersionedTable(spark, os.path.join(root, "seen"))
        self.queue = VersionedTable(spark, os.path.join(root, "queue"))
        self.listings = VersionedTable(spark, os.path.join(root, "listings"))
        self.tables = [self.seen, self.queue, self.listings]
        # backfill: the URLs an earlier crawl saw, queued and stored, so
        # the first batches already meet revisits and redeliveries
        self.stream = gen.CrawlStream(ctx.seed, self.per_site, self.backfill_per_site)
        self.expected = {u for urls in self.stream.issued.values() for u in urls}
        seen_path = os.path.join(root, "backfill", "seen.parquet")
        os.makedirs(os.path.dirname(seen_path))
        gen.write_seen(self.stream.issued, seen_path)
        seen_df = spark.read.parquet(seen_path)
        self.seen.overwrite(seen_df)
        self.queue.overwrite(
            seen_df.select(
                "content_url", "site",
                *[F.lit(None).cast("string").alias(c)
                  for c in ("listingType", "propertyType", "landuseType")],
                F.current_timestamp().alias("enqueued_at"),
            )
        )
        # listings: the streamed sites load their backfill through the
        # fetch pipeline, the others as bare canonical rows
        stored = None
        for site in gen.SITES:
            if site in streamed:
                continue
            rows = registry.conform(
                seen_df.where(F.col("site") == site),
                {"content_url": F.col("content_url"), "created_at": F.current_timestamp()},
                site,
            )
            stored = rows if stored is None else stored.unionByName(rows)
        self.listings.overwrite(stored)
        self.n_batches = 0
        for site in streamed:
            self._land(site, self.stream.issued[site])
            self._drain(site)
        self.walls: list[float] = []
        self.counts = {"candidates": 0, "seen": 0, "delivered": 0, "inserted": 0}

    def step(self, site: str) -> int:
        """Run one batch for ``site``; return the listings it inserted.
        The batch's wall time is its crawl and its fetch drain; landing
        the fetch results (the web's part of the fetch) is not timed."""
        from delta_data_pipelines_spark.ingest import crawl

        spark, tr = self.ctx.spark, self.ctx.tracer
        cand, redelivered = self.stream.next_batch(site)
        before = self.listings.latest_version()
        t0 = time.time()
        with tr.span("ingest.crawl", tables=(self.seen, self.queue)):
            urls = spark.createDataFrame([(u,) for u in cand], "content_url string")
            new, _ = crawl.partition_new(urls, self.seen.read(), site)
            crawl.publish(self.queue, new, site)
            crawl.mark_seen(self.seen, new, site)
            # the URLs the crawl hands to the fetcher
            fetched = [r[0] for r in new.collect()]
        wall = time.time() - t0
        delivered = fetched + redelivered
        self._land(site, delivered)
        t0 = time.time()
        with tr.span("streaming.fetch", tables=(self.listings,)):
            self._drain(site)
        self.walls.append(wall + time.time() - t0)
        self.expected.update(cand)
        inserted = sum(
            c.metrics.get("inserted", 0) for c in self.listings.history()
            if c.version > before
        )
        self.counts["candidates"] += len(cand)
        self.counts["seen"] += len(cand) - len(fetched)
        self.counts["delivered"] += len(delivered)
        self.counts["inserted"] += inserted
        return inserted

    def _land(self, site: str, urls: list[str]) -> None:
        """Write the fetch results for ``urls`` where the site's stream
        picks them up."""
        land = os.path.join(self.root, "landing", site)
        os.makedirs(land, exist_ok=True)
        gen.land_payloads(
            site, urls, os.path.join(land, f"b{self.n_batches:06d}.parquet"),
            self.rng, self.arrow[site],
        )
        self.n_batches += 1

    def _drain(self, site: str) -> None:
        """Drain the site's landed fetch results through its transformer
        into ``listings``."""
        from delta_data_pipelines_spark.ingest import registry
        from delta_data_pipelines_spark.streaming import queue_stream, run_fetch_pipeline

        q = run_fetch_pipeline(
            queue_stream(self.ctx.spark, os.path.join(self.root, "landing", site),
                         self.schemas[site]),
            lambda df: registry.transform(site, df),
            self.listings,
            os.path.join(self.root, "checkpoints", site),
            available_now=True,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"fetch stream failed: {q.exception()}")

    def check(self) -> list[str]:
        got = self.listings.read()
        n, distinct = got.agg(F.count("*"), F.countDistinct("content_url")).first()
        problems = []
        if n != distinct:
            problems.append(f"listings: {n - distinct} duplicate content_url keys")
        urls = {r[0] for r in got.select("content_url").collect()}
        if urls != self.expected:
            problems.append(
                f"listings: {len(self.expected - urls)} generated URLs missing, "
                f"{len(urls - self.expected)} unexpected"
            )
        return problems

    def ratios(self) -> dict:
        c = self.counts
        return {
            "ingest.crawl.dup_ratio": c["seen"] / c["candidates"] if c["candidates"] else 0,
            "streaming.fetch.insert_ratio": c["inserted"] / c["delivered"] if c["delivered"] else 0,
        }


class SearchIndex:
    """Paper stage 3 over the seven star-schema sources at the harness
    sf0.1 size: each hour commits one seeded change batch to orders,
    lineitem and events and then runs an incremental ``tick()``; a night
    edits one dimension row, which forces the tick's full-scope path,
    and vacuums."""

    n_orders = 150_000
    order_share = 0.005

    def __init__(self, ctx, root: str):
        from delta_data_pipelines_spark.catalog import read_table
        from delta_data_pipelines_spark.jobs.search_indexer import ContinuousSearchIndexer
        from delta_data_pipelines_spark.storage import VersionedTable

        spark = ctx.spark
        self.ctx, self.root = ctx, root
        tables = gen.star_tables(ctx.seed, self.n_orders)
        src_dir = os.path.join(root, "input")
        gen.write_tables(tables, src_dir)
        self.sources = {}
        for name in tables:
            t = VersionedTable(spark, os.path.join(root, name))
            t.overwrite(read_table(spark, src_dir, name))
            self.sources[name] = t
        self.index = VersionedTable(spark, os.path.join(root, "search_index"))
        self.tables = list(self.sources.values()) + [self.index]
        self.indexer = ContinuousSearchIndexer(spark, self.sources, self.index)
        r = self.indexer.tick()
        if r["mode"] != "bootstrap":
            raise RuntimeError(f"expected a bootstrap tick, got {r['mode']}")
        self.changes = gen.ChangeStream(ctx.seed, tables, self.order_share)
        self.rng = np.random.default_rng([ctx.seed, 6])
        self.n_hours = 0
        self.ticks: list[float] = []
        self.freshness: list[float] = []
        self.rebuilds: list[float] = []
        self.feed = {"rows": 0, "changed": 0}

    def _read(self, frame, name: str):
        from delta_data_pipelines_spark.catalog import read_table

        d = os.path.join(self.root, "changes", f"{self.n_hours:06d}")
        gen.write_tables({name: frame}, d)
        return read_table(self.ctx.spark, d, name)

    def hour(self) -> int:
        """Commit one change batch and absorb it; return the index rows
        the tick fed (upserts + deletes)."""
        tr, s = self.ctx.tracer, self.sources
        b = self.changes.next_batch()
        upd = self._read(b.orders_updates, "orders")
        li = self._read(b.lineitem_inserts, "lineitem").withColumn(
            "_change_type", F.lit("insert")
        ).unionByName(
            self._read(b.lineitem_deletes, "lineitem_deletes").withColumn(
                "_change_type", F.lit("delete")
            ),
            allowMissingColumns=True,
        )
        ev = self._read(b.events_inserts, "events")
        self.n_hours += 1
        t0 = time.time()
        with tr.span("storage.merge", tables=(s["orders"],)):
            s["orders"].merge(upd, keys=["o_orderkey"], when_matched="update")
        with tr.span("storage.merge", tables=(s["lineitem"],)):
            s["lineitem"].apply_changes(li, keys=["l_orderkey", "l_linenumber"])
        with tr.span("storage.merge", tables=(s["events"],)):
            s["events"].append(ev)
        v0 = self.index.latest_version()
        t1 = time.time()
        with tr.span("jobs.search_indexer.tick", tables=(self.index,)):
            r = self.indexer.tick()
        t2 = time.time()
        if r["mode"] != "incremental":
            raise RuntimeError(f"expected an incremental tick, got {r['mode']}")
        self.ticks.append(t2 - t1)
        self.freshness.append(t2 - t0)
        fed = r["upserts"] + r["deletes"]
        if tr.enabled:
            # read after the tick, outside its span
            self.feed["rows"] += fed
            self.feed["changed"] += (
                self.index.changes(v0, r["version"], keys=["id"])
                .where(F.col("_change_type") != "update_preimage")
                .select("id").distinct().count()
            )
        return fed

    def night(self, also_vacuum=()) -> float:
        """Edit one customer, run the full-scope tick and vacuum every
        table; return the wall time of the three."""
        tr, s = self.ctx.tracer, self.sources
        key = int(self.rng.integers(0, self.n_orders // 10))
        edit = s["customer"].read().where(F.col("c_custkey") == key).withColumn(
            "c_name", F.concat(F.col("c_name"), F.lit("*"))
        )
        t0 = time.time()
        with tr.span("storage.merge", tables=(s["customer"],)):
            s["customer"].merge(edit, keys=["c_custkey"], when_matched="update")
        t1 = time.time()
        with tr.span("jobs.search_indexer.tick_full", tables=(self.index,)):
            r = self.indexer.tick()
        t2 = time.time()
        self.rebuilds.append(t2 - t1)
        if r["mode"] != "full":
            raise RuntimeError(f"expected a full-scope tick, got {r['mode']}")
        tables = self.tables + list(also_vacuum)
        b0 = sum(dir_bytes(t.root) for t in tables) if tr.enabled else 0
        t3 = time.time()
        with tr.span("storage.vacuum") as sp:
            for t in tables:
                t.vacuum(keep_last=3)
        wall = t2 - t0 + time.time() - t3
        if tr.enabled:
            sp.stats["bytes_deleted"] = b0 - sum(dir_bytes(t.root) for t in tables)
        return wall

    def check(self) -> list[str]:
        from delta_data_pipelines_spark.jobs.search_indexer import default_fact_filter
        from delta_data_pipelines_spark.queries.search_index import build_index_frames

        s = self.sources
        want = build_index_frames(
            s["orders"].read(), s["customer"].read(), s["nation"].read(),
            s["region"].read(), s["lineitem"].read(), s["part"].read(),
            s["events"].read(), default_fact_filter(),
        )
        got = self.index.read()
        dw = digest(want.columns, want.collect())
        dg = digest(got.columns, got.collect())
        return [] if dw == dg else [f"search index differs from a rebuild: {dg} != {dw}"]

    def ratios(self) -> dict:
        f = self.feed
        return {
            "jobs.search_indexer.tick.effective_feed_ratio":
                f["changed"] / f["rows"] if f["rows"] else 0,
        }


class WritePath:
    """Paper stages 1-3 in one closed loop. A cycle is one divar
    crawl+fetch batch, one search-index hour and one night (customer
    edit, full-scope tick, vacuum of every table); the window holds
    whole cycles, so ``space_amp`` is always read right after the same
    retention pass.

    Set-up streams the backfill of the divar (JSON) and kilid (HTML)
    sites through their transformers; the cycle runs only the divar
    batch, because a batch costs 5-7 s whatever its size and a second
    site would not fit the run time the benchmark contract allows."""

    STREAMED = ("divar", "kilid")
    CYCLE = ("divar", "hour", "night")
    sites = ("ingest.crawl", "streaming.fetch", "storage.merge", "storage.vacuum",
             "jobs.search_indexer.tick", "jobs.search_indexer.tick_full")
    cycle_ops = len(CYCLE)

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self, root: str) -> None:
        from concurrent.futures import ThreadPoolExecutor

        # the two pipelines are independent, so they set up side by side
        # as two scheduled jobs would; ops later run one at a time
        with ThreadPoolExecutor(2) as pool:
            ingest = pool.submit(Ingest, self.ctx, os.path.join(root, "ingest"), self.STREAMED)
            index = pool.submit(SearchIndex, self.ctx, os.path.join(root, "index"))
            self.ingest, self.index = ingest.result(), index.result()
        self.n_ops = 0
        self.rows = 0
        self.nights: list[float] = []

    def step(self) -> None:
        op = self.CYCLE[self.n_ops % self.cycle_ops]
        self.n_ops += 1
        kind = op if op in ("hour", "night") else "batch"
        with self.ctx.tracer.span(f"write_path.{kind}", site=False):
            if op == "hour":
                self.rows += self.index.hour()
            elif op == "night":
                self.nights.append(self.index.night(also_vacuum=self.ingest.tables))
            else:
                self.rows += self.ingest.step(op)

    def check(self) -> list[str]:
        return self.ingest.check() + self.index.check()

    def end_to_end(self) -> dict:
        wall = sum(self.ingest.walls) + sum(self.index.freshness) + sum(self.nights)
        return {
            "cycle_s": wall / (self.n_ops // self.cycle_ops),
            "space_amp": space_amp(self.ingest.tables + self.index.tables),
        }

    def details(self) -> dict:
        """The stage-level numbers inside ``cycle_s``, with sample counts."""
        i, x = self.ingest, self.index
        wall = sum(i.walls) + sum(x.freshness) + sum(self.nights)
        return {
            "rows_per_s": (self.rows / wall, self.n_ops),
            "batch_p50_s": (_median(i.walls), len(i.walls)),
            "ingest_rows_per_s": (i.counts["inserted"] / sum(i.walls), len(i.walls)),
            "tick_p50_s": (_median(x.ticks), len(x.ticks)),
            "freshness_p50_s": (_median(x.freshness), len(x.freshness)),
            "rebuild_s": (_median(x.rebuilds), len(x.rebuilds)),
        }

    def ratios(self) -> dict:
        return {**self.ingest.ratios(), **self.index.ratios()}


# The training-data operators ROADMAP items 3-5 target: the classifier
# chain (naive Bayes + logistic regression, staged frames, driver
# threads) and the prefix-filter containment join.
CORPUS_QUERIES = (
    "td_ensemble_calibrated",
    "td_classifier_agreement",
    "td_logreg_quality",
    "dd_containment",
)


def containment_pairs(docs) -> list[tuple]:
    """``dd_containment``'s result computed from its definition, the
    DuckDB twin's: pairs (a, b), a != b, whose distinct 3-token shingle
    sets share at least half of a's shingles (a text of fewer than three
    tokens is one shingle), with that share rounded to 9 places. The
    twin compares all pairs; this counts shared shingles through an
    inverted index, which gives the same pairs at corpus sizes where
    the twin's all-pairs join takes minutes."""
    from collections import Counter, defaultdict

    sets = {}
    for doc_id, text in zip(docs["doc_id"].tolist(), docs["text"]):
        w = text.split(" ")
        sets[doc_id] = (
            {" ".join(w[i:i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else {text}
        )
    index = defaultdict(list)
    for doc_id, sg in sets.items():
        for g in sg:
            index[g].append(doc_id)
    rows = []
    for a, sg in sets.items():
        shared = Counter()
        for g in sg:
            shared.update(index[g])
        for b, k in shared.items():
            if b != a and k / len(sg) >= 0.5:
                rows.append((a, b, round(k / len(sg), 9)))
    return rows


class CorpusQueries:
    """Read-only passes over a fixed list of registry queries on a
    seeded documents corpus at the harness sf0.1 size. One operation is
    one query execution, forced with ``collect()`` (every column
    evaluated, as with a noop write, and the rows kept for the output
    check); the queries take turns in a fixed order, and a cycle is one
    pass. Every set-up ends with a warm-up pass over the first
    ``warm_docs`` documents, which pays each query's first execution in
    a session (plan code generation, Python workers) at a fraction of a
    full pass."""

    sites = tuple(f"queries.{q}" for q in CORPUS_QUERIES)
    cycle_ops = len(CORPUS_QUERIES)
    n_docs = 5_000
    warm_docs = 200

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self, root: str) -> None:
        import __spark_entry__

        # the corpus is loaded through Spark, as a source load is, and
        # the load is validated by its token count per language
        spark = self.ctx.spark
        self.sf_dir = root
        docs = gen.documents(self.ctx.seed, self.n_docs)
        staged = os.path.join(root, "generated")
        gen.write_tables({"documents": docs}, staged)
        loaded = spark.read.parquet(os.path.join(staged, "documents.parquet"))
        loaded.coalesce(1).write.parquet(os.path.join(root, "documents.parquet"))
        warm = os.path.join(root, "warm")
        loaded.where(F.col("doc_id") < self.warm_docs).coalesce(1).write.parquet(
            os.path.join(warm, "documents.parquet")
        )
        shutil.rmtree(staged)
        tokens = dict(
            spark.read.parquet(os.path.join(root, "documents.parquet"))
            .select("lang", F.explode(F.split("text", " ")).alias("tok"))
            .groupBy("lang").count().collect()
        )
        want = docs.assign(n=docs["text"].str.count(" ") + 1).groupby("lang")["n"].sum()
        if tokens != want.to_dict():
            raise RuntimeError(f"corpus load lost tokens: {tokens} != {want.to_dict()}")
        self.docs = docs
        registry = __spark_entry__.queries()
        self.fns = {q: registry[q] for q in CORPUS_QUERIES}
        for fn in self.fns.values():  # warm-up pass
            fn(spark, warm).collect()
            spark.catalog.clearCache()
        self.n_ops = 0
        self.walls = {q: [] for q in CORPUS_QUERIES}
        self.results = {}

    def step(self) -> None:
        q = CORPUS_QUERIES[self.n_ops % len(CORPUS_QUERIES)]
        self.n_ops += 1
        t0 = time.time()
        with self.ctx.tracer.span(f"queries.{q}"):
            df = self.fns[q](self.ctx.spark, self.sf_dir)
            rows = df.collect()
        self.walls[q].append(time.time() - t0)
        self.results[q] = (df.columns, rows)
        # the session-level reset bench.py runs between queries
        self.ctx.spark.catalog.clearCache()

    def expected(self) -> dict[str, str]:
        """Each query's expected result digest: its DuckDB twin's, and
        for ``dd_containment`` that of :func:`containment_pairs`."""
        import duckdb

        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        out = {"dd_containment": digest(["id_a", "id_b", "containment"],
                                        containment_pairs(self.docs))}
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {self.ctx.cpus}")
            p = os.path.join(self.sf_dir, "documents.parquet", "*.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')")
            for q in CORPUS_QUERIES:
                if q not in out:
                    res = con.execute(oracles[q])
                    out[q] = digest([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        return out

    def check(self) -> list[str]:
        expected = self.expected()
        problems = []
        for q, (cols, rows) in self.results.items():
            got = digest(cols, [tuple(r) for r in rows])
            if got != expected[q]:
                problems.append(f"{q}: spark {got} != expected {expected[q]}")
        return problems

    def end_to_end(self) -> dict:
        return {
            # seconds per pass: each query's median over the passes
            "cycle_s": sum(_median(w) for w in self.walls.values()),
            # the corpus is only read: disk holds exactly the input and
            # the warm-up sample
            "space_amp": 1.0 * dir_bytes(self.sf_dir)
            / (dir_bytes(os.path.join(self.sf_dir, "documents.parquet"))
               + dir_bytes(os.path.join(self.sf_dir, "warm"))),
        }

    def details(self) -> dict:
        walls = [w for ws in self.walls.values() for w in ws]
        return {
            "mix_pass_s": (self.end_to_end()["cycle_s"], len(walls) // len(CORPUS_QUERIES)),
            "rows_per_s": (self.n_docs * len(walls) / sum(walls), len(walls)),
            **{f"{q}_s": (_median(w), len(w)) for q, w in self.walls.items()},
        }

    def ratios(self) -> dict:
        return {}


LAYER_SITES = WritePath.sites + CorpusQueries.sites

WORKLOADS = {
    "write_path": WritePath,
    "corpus_queries": CorpusQueries,
}
