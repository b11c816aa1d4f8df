"""Spans recorded from outside the program.

A span wraps one call into a layer of the program. It records its
name, start, end and parent in memory; with tracing on it also reads,
after the call returns, what the call cost Spark and the disk:

* jobs are charged to the span whose wall-clock window holds their
  submission time, read from the core status store. Job groups would
  miss the jobs a query submits from its own driver threads;
* stage data is read per span (``lastStageAttempt``), right after the
  call, so the status store's retention limits drop nothing;
* bytes on disk under the table roots the call writes, before and
  after, and rows written against rows changed for storage commits.

With tracing off a span only records its wall time, which is what the
end-to-end metrics are computed from.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except FileNotFoundError:  # removed while walking
                pass
    return total


def snapshot_bytes(table) -> int:
    """Bytes of a VersionedTable's latest snapshot."""
    h = table.history()
    return dir_bytes(os.path.join(table.root, h[-1].data or f"v={h[-1].version:06d}"))


def _rows(table, commit) -> int:
    """Rows in the data a commit wrote, from the parquet footers."""
    d = os.path.join(table.root, commit.data or f"v={commit.version:06d}")
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for f in os.listdir(d) if f.endswith(".parquet")
    )


def _rows_changed(commit, written: int, prev_written: int) -> int:
    """Rows a commit changed. An append records only the table's new
    row count, so its change is the rows it added to the previous
    version."""
    if commit.action == "append":
        return written - prev_written
    m = commit.metrics
    return int(sum(m.get(k, 0) or 0 for k in ("inserted", "updated", "upserts", "deletes")))


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    stats: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``enabled`` turns on the Spark and disk reads."""

    def __init__(self, spark, cpus: int, enabled: bool):
        self.spark = spark
        self.cpus = cpus
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.leaked_rdds: list[int] = []
        self._last_job = -1
        if enabled:
            self._store = spark.sparkContext._jsc.sc().statusStore()
            self._bus = spark.sparkContext._jsc.sc().listenerBus()
            self._last_job = self._max_job_id()

    # ---- spans ----------------------------------------------------------

    @contextmanager
    def span(self, name: str, tables=(), site: bool = True):
        """Time the enclosed call. ``tables`` are the VersionedTables the
        call writes; their commits are charged to this span. A span
        with ``site=False`` groups call sites and is only timed."""
        parent = self._stack[-1] if self._stack else None
        before = {}
        traced = self.enabled and site
        if traced:
            before = {t.root: (t.latest_version(), dir_bytes(t.root)) for t in tables}
        s = Span(name, time.time(), parent)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
        if traced:
            self._read_spark(s)
            if tables:
                self._read_tables(s, tables, before)
            self.leaked_rdds.append(
                self.spark.sparkContext._jsc.getPersistentRDDs().size()
            )

    # ---- Spark status store ---------------------------------------------

    def _max_job_id(self) -> int:
        self._bus.waitUntilEmpty(30_000)
        it = self._store.jobsList(None).iterator()
        m = -1
        while it.hasNext():
            m = max(m, it.next().jobId())
        return m

    def _read_spark(self, s: Span) -> None:
        self._bus.waitUntilEmpty(30_000)
        lo, hi = int(s.start * 1000), int(s.end * 1000)
        jobs = stages = task_ms = shuffle = spill = 0
        seen_stages: set[int] = set()
        newest = self._last_job
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            sub = j.submissionTime()
            t = sub.get().getTime() if sub.isDefined() else None
            if jid <= self._last_job or t is None or t > hi:
                continue
            newest = max(newest, jid)
            if t < lo:  # submitted between spans, by the benchmark itself
                continue
            jobs += 1
            sit = j.stageIds().iterator()
            while sit.hasNext():
                sid = sit.next()
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # py4j error: the stage never ran
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                stages += 1
                task_ms += st.executorRunTime()
                shuffle += st.shuffleWriteBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self._last_job = newest
        s.stats.update(
            jobs=jobs, stages=stages, task_s=task_ms / 1000.0,
            shuffle_bytes=shuffle, spill_bytes=spill,
        )

    # ---- storage --------------------------------------------------------

    def _read_tables(self, s: Span, tables, before) -> None:
        written = changed = rows_written = 0
        for t in tables:
            v0, b0 = before[t.root]
            written += dir_bytes(t.root) - b0
            prev = None
            for c in t.history():
                if v0 is not None and c.version < v0:
                    continue
                n = _rows(t, c)
                if v0 is None or c.version > v0:
                    changed += _rows_changed(c, n, prev or 0)
                    rows_written += n
                prev = n
        s.stats.update(bytes_written=written, rows_written=rows_written, rows_changed=changed)

    # ---- report ---------------------------------------------------------

    def layer_metrics(self, sites, storage_sites) -> dict[str, float]:
        """Per call site, over the calls made in the run (0 for a site
        the workload never calls): medians per call of wall time, jobs,
        stages, task time, shuffle and spill bytes, and core utilisation
        over all calls. ``storage_sites`` also get the median bytes
        written per call and rows written per row changed."""
        out: dict[str, float] = {}
        for site in sites:
            calls = [s for s in self.spans if s.name == site]

            def med(k):
                return statistics.median([c.stats.get(k, 0) for c in calls]) if calls else 0

            wall = sum(c.wall for c in calls)
            out[f"{site}.wall_s"] = statistics.median([c.wall for c in calls]) if calls else 0
            for k in ("jobs", "stages", "task_s", "shuffle_bytes", "spill_bytes"):
                out[f"{site}.{k}"] = med(k)
            task = sum(c.stats.get("task_s", 0) for c in calls)
            out[f"{site}.core_util"] = task / (wall * self.cpus) if wall else 0
            if site in storage_sites:
                out[f"{site}.bytes_written"] = med("bytes_written")
                changed = sum(c.stats.get("rows_changed", 0) for c in calls)
                written = sum(c.stats.get("rows_written", 0) for c in calls)
                out[f"{site}.rows_written_per_row_changed"] = written / changed if changed else 0
        return out
