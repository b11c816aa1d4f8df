"""Crawl pagination loop (SURVEY §2.1 S1-S4, §2.8 D4).

Reference loops: divar walks a cursor through pages 0..50
(divar_crawler.py:84-181), sheypoor carries a server cursor
(sheypoor_crawler.py:72-155), kilid crosses {BUY,RENT}×9 cities
(kilid_crawler.py:36-276), mrestate pages a Next.js data URL
(mrestate_crawler.py:13-191). All four stop early when a page's
duplicate ratio crosses the site threshold (≥0.5 divar, ≥0.3 others)
or a page comes back empty.

The page fetch is inherently sequential driver code (each page's
cursor comes from the previous response) — kept as a generator the
caller supplies. Everything per page is DataFrame logic via
ingest.crawl: dup-ratio probe, anti-join split, queue MERGE,
seen MERGE.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.staging import release_staged, stage
from ..storage import VersionedTable
from .crawl import dup_ratio, mark_seen, partition_new, publish


def ensure_source_order(
    pages: Iterator[DataFrame], order_col: str, descending: bool = True
) -> Iterator[DataFrame]:
    """W2 — the ``sort=searchDate_desc`` contract pushed to the source
    API (kilid_crawler.py:147): newest-first pages are what make the
    dup-ratio early stop *sound* (once a page is mostly seen, all later
    pages are older, hence seen too).

    The reference trusts the API; here the pushed-down order is a
    VERIFIED contract: each page's newest ``order_col`` value must not
    exceed the previous page's oldest (descending; mirrored when
    ascending). A violating source raises immediately instead of
    silently breaking the early stop.

    Each page is staged before the min/max probe, so the page is
    evaluated exactly ONCE: the probe and the consumer read the same
    materialized rows. (An unstaged page would be computed twice — once
    for the probe, once on consumption — and with a non-deterministic
    source the verified edge could belong to different data than what
    gets published.) The stage is released as soon as the consumer
    asks for the next page or stops; the page the caller handed in is
    never touched.
    """
    prev_edge = None
    for i, page in enumerate(pages):
        page = stage(page, "ordered_page")
        try:
            row = page.agg(
                F.min(order_col).alias("lo"), F.max(order_col).alias("hi")
            ).first()
            lo, hi = row["lo"], row["hi"]
            if lo is not None and prev_edge is not None:
                if descending and hi > prev_edge:
                    raise ValueError(
                        f"source order violated at page {i}: {order_col}={hi!r} "
                        f"newer than previous page's oldest {prev_edge!r}"
                    )
                if not descending and lo < prev_edge:
                    raise ValueError(
                        f"source order violated at page {i}: {order_col}={lo!r} "
                        f"older than previous page's newest {prev_edge!r}"
                    )
            if lo is not None:
                prev_edge = lo if descending else hi
            yield page
        finally:
            release_staged(page)


def run_crawl(
    pages: Iterator[DataFrame] | Callable[[], Iterator[DataFrame]],
    site: str,
    seen: VersionedTable,
    queue: VersionedTable,
    max_pages: int = 50,
    dup_stop_ratio: float = 0.5,
    order_col: str | None = None,
) -> dict:
    """Drain a page iterator into the queue with early stopping.

    Per page: probe the dup ratio against the seen table → stop when
    ≥ ``dup_stop_ratio`` (D4, after still enqueuing that page's new
    URLs, matching the reference which publishes before stopping,
    divar_crawler.py:144-164) → anti-join split → MERGE new URLs into
    the queue and the seen table.

    ``order_col`` enables the W2 source-order contract check (pages
    must arrive newest-first on that column; see ensure_source_order).

    Returns crawl metrics (pages walked, urls seen/new, stop reason).
    """
    if callable(pages):
        pages = pages()
    if order_col is not None:
        pages = ensure_source_order(pages, order_col, descending=True)
    n_pages = 0
    n_urls = 0
    n_new = 0
    stop = "max_pages"
    seen_df = seen.read() if seen.exists() else None

    for page in pages:
        if n_pages >= max_pages:
            stop = "max_pages"
            break
        # One page feeds five consumers (count, dup probe, anti-join
        # split, queue MERGE, seen MERGE); staged so the SOURCE
        # evaluates once per page — with a remote/non-deterministic
        # source, re-evaluation could publish different rows than the
        # ones probed. The stage is this loop's own copy: the page the
        # caller handed in is never released here.
        page = stage(page, "crawl_page")
        try:
            n_pages += 1
            total = page.count()
            if total == 0:
                stop = "empty_page"
                break
            n_urls += total

            if seen_df is None:
                ratio = 0.0
                new = page
            else:
                ratio = dup_ratio(page, seen_df, site)
                new, _ = partition_new(page, seen_df, site)

            n_new += publish(queue, new, site)
            mark_seen(seen, page, site)
            seen_df = seen.read()

            if ratio >= dup_stop_ratio:
                stop = "dup_ratio"
                break
        finally:
            release_staged(page)
    else:
        stop = "exhausted"

    return {
        "site": site,
        "pages": n_pages,
        "urls": n_urls,
        "new": n_new,
        "stopped_by": stop,
    }
