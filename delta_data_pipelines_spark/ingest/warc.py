"""WARC (Web ARChive) source — the container format web-scale text
corpora actually arrive in (Common Crawl ships ~100 TB per monthly
crawl as ``.warc.gz`` shards).

The reference crawls listing sites page-by-page over HTTP
(``crawler_divar_dag.py``, ``utils_of_crawler.py:1``) and never sees
an archive file; this module is north-star surface for the LLM-corpus
use case — the batch twin of that crawl: the same fetch→extract
pipeline, but over archived captures instead of live requests.

Scale design (the shape that survives 100 TB):

- **File-level parallelism.** A gzipped WARC is a stream of
  independently-gzipped members — NOT splittable mid-file — so the
  unit of work is one shard (Common Crawl sizes them ~1 GB for
  exactly this reason; shard count = parallelism). The paths frame is
  spread across executors and each worker STREAMS its file: memory is
  bounded by one record, never one file (``binaryFile``'s
  whole-file-as-a-row would pin a full shard per task).
- **Listing via the ``binaryFile`` reader with only ``path``
  selected** — column pruning skips the content read, so globs
  resolve through the same Hadoop-FS machinery as every other source
  (works on any mounted/cluster filesystem; the record reader opens
  local paths — swap ``_open`` for an fsspec/boto opener to stream
  straight from object storage).
- **Errors as data.** A damaged shard (truncated member, garbage
  between records — routine at crawl scale) yields an ``_error`` row
  carrying the message; records parsed before the damage still come
  through. One bad file never kills the job (same stance as
  ingest/jsonl.py's corrupt-line quarantine).
- **stdlib-only parse**: ``gzip`` reads concatenated members
  natively; the record grammar (version line, headers,
  Content-Length payload, CRLF CRLF) is ~40 lines.
"""

from __future__ import annotations

import gzip
import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: One row per WARC record. ``http_status``/``payload`` are the split
#: HTTP response (status line parsed, headers dropped, body kept) for
#: response records; raw record block otherwise. ``error`` is NULL on
#: good rows; an ``_error`` pseudo-record carries the parse failure.
WARC_SCHEMA = (
    "path string, record_id string, warc_type string, target_uri string,"
    " warc_date string, content_type string, content_length bigint,"
    " http_status int, payload binary, error string"
)

_BATCH_ROWS = 256  # records per emitted Arrow batch (bounds batch bytes)


def _open(path: str):
    """Binary stream for a WARC path (local filesystem; ``file:``
    scheme stripped). Multi-member gzip is handled by ``gzip`` itself
    — each record's member decompresses in sequence."""
    local = path[len("file:") :] if path.startswith("file:") else path
    raw = open(local, "rb")
    if local.endswith(".gz"):
        # no BufferedReader wrap: GzipFile implements readline itself,
        # and an outer buffer's read-AHEAD would decompress the next
        # member early — turning damage in member N+1 into a failure
        # while member N's record is still being parsed (records
        # before the damage must survive; tested on truncated shards)
        return gzip.GzipFile(fileobj=raw)
    return io.BufferedReader(raw)


def iter_warc_records(
    fh,
) -> Iterator[tuple[dict[bytes, bytes], bytes]]:
    """Stream (headers, payload) per record from a decompressed WARC
    byte stream (anything with ``readline``/``read``). Raises on
    malformed input; the caller decides whether that kills the file
    or becomes an error row — records yielded before the damage are
    already the caller's."""
    while True:
        line = fh.readline()
        if not line:
            return
        if line in (b"\r\n", b"\n"):
            continue
        if not line.startswith(b"WARC/"):
            raise ValueError(
                f"expected WARC version line, got {line[:40]!r}"
            )
        headers: dict[bytes, bytes] = {}
        while True:
            h = fh.readline()
            if h in (b"\r\n", b"\n", b""):
                break
            if b":" in h:
                k, v = h.split(b":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get(b"content-length", b"0"))
        except ValueError as e:
            raise ValueError(f"bad Content-Length: {e}") from None
        payload = fh.read(clen)
        if len(payload) < clen:
            raise ValueError(
                f"truncated record payload ({len(payload)}/{clen} bytes)"
            )
        yield headers, payload


def split_http_payload(payload: bytes) -> tuple[int | None, bytes]:
    """(status, body) from an ``application/http`` record block: parse
    the status line, drop the HTTP headers, keep the entity body.
    Returns (None, payload) when no header/body separator exists."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        return None, payload
    status_line = payload[:sep].split(b"\r\n", 1)[0]
    parts = status_line.split()
    status = (
        int(parts[1])
        if len(parts) >= 2 and parts[0][:5] == b"HTTP/" and parts[1].isdigit()
        else None
    )
    return status, payload[sep + 4 :]


def _dec(headers: dict[bytes, bytes], key: bytes) -> str | None:
    v = headers.get(key)
    return v.decode("utf-8", "replace") if v is not None else None


def read_warc(
    spark: SparkSession,
    paths: str | list[str],
    split_http: bool = True,
    parallelism: int | None = None,
) -> DataFrame:
    """All records of the WARC shards matched by ``paths`` (path or
    glob or list of either), one row per record per WARC_SCHEMA.

    ``split_http=True`` (default) splits ``application/http`` payloads
    into ``http_status`` + entity body; False keeps raw record blocks.
    ``parallelism`` spreads small path sets across the cluster
    (default: ``sparkContext.defaultParallelism``) — with many shards
    the natural one-task-per-file layout already saturates.
    """
    listing = spark.read.format("binaryFile").load(paths).select("path")
    n = parallelism or spark.sparkContext.defaultParallelism
    spread = listing.repartition(n)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: list[tuple] = []
        for pdf in batches:
            for path in pdf["path"]:
                try:
                    with _open(path) as fh:
                        for headers, payload in iter_warc_records(fh):
                            ctype = _dec(headers, b"content-type")
                            status, body = None, payload
                            if (
                                split_http
                                and ctype
                                and ctype.startswith("application/http")
                            ):
                                status, body = split_http_payload(payload)
                            buf.append(
                                (
                                    path,
                                    _dec(headers, b"warc-record-id"),
                                    _dec(headers, b"warc-type"),
                                    _dec(headers, b"warc-target-uri"),
                                    _dec(headers, b"warc-date"),
                                    ctype,
                                    len(payload),
                                    status,
                                    body,
                                    None,
                                )
                            )
                            if len(buf) >= _BATCH_ROWS:
                                yield _frame(buf)
                                buf = []
                except Exception as e:  # noqa: BLE001 — error-as-data
                    buf.append(
                        (
                            path,
                            None,
                            "_error",
                            None,
                            None,
                            None,
                            None,
                            None,
                            None,
                            f"{type(e).__name__}: {e}",
                        )
                    )
        if buf:
            yield _frame(buf)

    def _frame(rows: list[tuple]) -> pd.DataFrame:
        return pd.DataFrame(
            rows,
            columns=[
                "path",
                "record_id",
                "warc_type",
                "target_uri",
                "warc_date",
                "content_type",
                "content_length",
                "http_status",
                "payload",
                "error",
            ],
        )

    return spread.mapInPandas(run, schema=WARC_SCHEMA)


def warc_documents(
    spark: SparkSession,
    paths: str | list[str],
    min_status: int = 200,
    max_status: int = 299,
    main_content: bool = False,
) -> DataFrame:
    """Successful response captures as a documents-shaped frame:
    (doc_id, url, source, fetched_at, text) — the WARC-to-corpus step
    of a Common-Crawl-style pipeline, feeding directly into the
    curation job (jobs/curate_corpus.py).

    Text is the robust stdlib HTML extraction (ingest/html_udf.py's
    tokenizer — one Python hop, Arrow-batched); ``source`` is the URL
    host via the NATIVE ``parse_url`` and ``lang`` the native marker
    heuristic (operators.textstats.lang_id), so the per-domain and
    per-language stages group without touching Python again.
    """
    return documents_from_records(
        read_warc(spark, paths, split_http=True),
        min_status=min_status,
        max_status=max_status,
        main_content=main_content,
    )


def wet_documents(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Common Crawl WET shards (the *extracted-text* sibling of WARC —
    the actual input format of the C4/RefinedWeb/FineWeb pipelines) as
    a documents-shaped frame. WET ``conversion`` records carry the
    already-extracted page text as a plain-text payload, so there is
    no HTML hop at all: the only Python seam is the shared WARC record
    parser; everything after (type filter, host, lang) is native.
    Per-file ``warcinfo`` header records and ``_error`` rows are
    excluded — count errors off :func:`read_warc` directly when the
    quarantine total matters (the curate CLI pattern)."""
    return wet_documents_from_records(read_warc(spark, paths, split_http=False))


def wet_documents_from_records(recs: DataFrame) -> DataFrame:
    """The record→document step of :func:`wet_documents`, split out so
    a caller that already staged the records frame (the curate CLI's
    single-scan quarantine count) can reuse it."""
    from ..operators.textstats import lang_id

    return (
        recs.where(F.col("warc_type") == "conversion")
        .select(
            F.col("record_id").alias("doc_id"),
            F.col("target_uri").alias("url"),
            F.try_parse_url("target_uri", F.lit("HOST")).alias("source"),
            F.col("warc_date").alias("fetched_at"),
            F.col("payload").cast("string").alias("text"),
        )
        .withColumn("lang", lang_id(F.col("text")))
    )


def documents_from_records(
    recs: DataFrame,
    min_status: int = 200,
    max_status: int = 299,
    main_content: bool = False,
    stage: bool = True,
) -> DataFrame:
    """The record→document step of :func:`warc_documents`, split out
    so a caller that already staged the records frame (e.g. the
    curate CLI, which counts _error rows off the same single scan —
    WARC members decompress once) can reuse it.

    ``main_content=True`` swaps the whole-page text extraction for
    the DOM-block boilerplate removal (ingest.maincontent — jusText/
    trafilatura family): block segmentation in the same Arrow-batched
    seam, link-density + length/rescue rules natively, and the
    site-template rule keyed on ``source`` (the URL host) — nav bars
    and footers repeated across a host's captured pages drop out of
    ``text`` before any downstream quality gating. Pages whose blocks
    all classify as boilerplate yield empty text (the curation job's
    length gate removes them)."""
    resp = recs.where(
        (F.col("warc_type") == "response")
        & F.col("http_status").between(min_status, max_status)
    ).select(
        F.col("record_id").alias("doc_id"),
        F.col("target_uri").alias("url"),
        # try_parse_url: the plain form THROWS on malformed URIs under
        # ANSI mode (any vanilla Spark 4 session) — one bad crawl URI
        # must not kill the shard's job; NULL source just means the
        # per-domain stages skip the row
        F.try_parse_url("target_uri", F.lit("HOST")).alias("source"),
        F.col("warc_date").alias("fetched_at"),
        F.col("payload").cast("string").alias("_html"),
    )
    from ..operators import staging
    from ..operators.textstats import lang_id

    if main_content:
        from .maincontent import main_content as extract_main

        # three consumers read resp (main_content's block parse, its
        # per-source page totals, and the metadata join below) — and
        # resp's lineage is the WARC scan, so unstaged each consumer
        # would re-decompress every shard. One stage makes it one
        # decompression. ``stage=False`` skips it for callers whose
        # ``recs`` is ALREADY staged (the curate CLI — resp's consumers
        # then read the staged record blocks, and a second
        # payload-sized stage would pin the corpus twice).
        if stage:
            resp = staging.stage(resp, "warc_responses")
        body = extract_main(
            resp, "doc_id", "_html", source_col="source"
        ).select("doc_id", F.col("main_text").alias("text"))
        docs = resp.drop("_html").join(body, "doc_id", "left")
    else:
        from .html_udf import extract_page_text

        docs = extract_page_text(resp, "_html").drop("_html")
    return docs.withColumn("lang", lang_id(F.col("text")))
