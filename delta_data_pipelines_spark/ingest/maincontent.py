"""Main-content extraction: DOM-block boilerplate removal for the
WARC→corpus path (the published curation stage between raw captures
and the Gopher gate — trafilatura/jusText's block model, Manku-free).

The whole-page ``html_to_text`` extraction keeps navigation chrome,
footers and share widgets in the corpus text; every published
curation pipeline removes those BEFORE quality gating. The standard
algorithm family (jusText, Pomikálek '11; boilerpipe, Kohlschütter
'10; trafilatura) works per DOM BLOCK:

    segment the page into block-level elements, score each block on
    link density and length, keep content blocks, rescue short
    blocks adjacent to content, and drop blocks repeated across a
    site (nav/footer templates).

Spark-first split of that algorithm:

- **Block segmentation** is the one genuinely non-native step (an
  HTML tokenizer), so it runs exactly where every other codec seam
  runs: an Arrow-batched ``mapInPandas`` kernel over the stdlib
  parser (:func:`blocks_kernel` — the same non-throwing tokenizer
  discipline as html_udf.html_to_text), emitting one struct array
  per page. No shuffle; cost follows bytes parsed per partition.
- **Everything after is native**: per-block features (word count,
  link density) are expressions; the SITE-LEVEL template rule is a
  corpus aggregate — blocks whose md5 repeats across ≥ a fraction
  of a source's documents are boilerplate (one shuffle on
  (source, block-hash), the exact shape of the proven per-source
  shingle dictionary in txt_boilerplate); the jusText neighbor
  RESCUE is a lag/lead window inside each page; assembly is one
  sorted array_join per page.

At 100 TB: the parse is embarrassingly parallel, the site rule is
one partial-agg shuffle over (source, hash) — skew lands on template
hashes, which AQE splits — and the per-page window is narrow (pages
have dozens of blocks). Nothing is all-pairs, nothing collects.
"""

from __future__ import annotations

from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.staging import stage

# Block-level elements: entering or leaving one closes the current
# text block (the linearized-block model trafilatura uses; inline
# elements — a, span, b, em, … — keep accumulating into the block).
BLOCK_TAGS = {
    "p", "div", "section", "article", "main", "aside", "header",
    "footer", "nav", "li", "ul", "ol", "table", "tr", "td", "th",
    "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre",
    "figure", "figcaption", "form",
}
_SKIP = {"script", "style", "noscript", "template"}


class _BlockCollector(HTMLParser):
    """Linearized block stream: (tag, text, chars, link_chars) per
    block, where chars sum the text nodes' lengths (separator-free)
    and link_chars the portion inside <a> — the two numbers jusText's
    link-density feature needs, computed during the single parse."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, str, int, int]] = []
        self._tag = ""
        self._parts: list[str] = []
        self._chars = 0
        self._link = 0
        self._a_depth = 0
        self._skip_depth = 0

    def _flush(self) -> None:
        if self._parts:
            self.blocks.append(
                (self._tag, " ".join(self._parts), self._chars, self._link)
            )
        self._parts, self._chars, self._link = [], 0, 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP:
            self._skip_depth += 1
            return
        if tag == "a":
            self._a_depth += 1
        if tag in BLOCK_TAGS:
            self._flush()
            self._tag = tag

    def handle_endtag(self, tag):
        if tag in _SKIP:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag == "a":
            self._a_depth = max(0, self._a_depth - 1)
        if tag in BLOCK_TAGS:
            self._flush()
            self._tag = ""

    def handle_data(self, data):
        if self._skip_depth:
            return
        # canonical whitespace: real HTML wraps paragraphs across
        # source lines, and a text node carrying internal newlines/
        # tabs/double-spaces would defeat every downstream
        # single-space word split (the length rule would count
        # 'one\ntwo\n…six' as ONE word). Collapse runs to single
        # spaces here, once, so block text is single-space separated
        # by construction.
        t = " ".join(data.split())
        if not t:
            return
        self._parts.append(t)
        self._chars += len(t)
        if self._a_depth:
            self._link += len(t)


def blocks_kernel(html: str | None) -> list | None:
    """One page → its block list (None in → None out; parse damage →
    whatever was collected, the html_udf non-throwing discipline)."""
    if html is None:
        return None
    p = _BlockCollector()
    try:
        p.feed(html)
        p.close()
    except Exception:
        pass
    p._flush()
    return [
        {"tag": t, "text": x, "chars": c, "link_chars": lc}
        for (t, x, c, lc) in p.blocks
    ]


def extract_blocks(
    df: DataFrame, html_col: str, out_col: str = "_blocks"
) -> DataFrame:
    """Append ``out_col``: array<struct<tag,text,chars,link_chars>>
    per row (Arrow-batched kernel, NULL html → NULL array)."""
    fields = [f for f in df.schema.fields if f.name != html_col]
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
        + f", {out_col} array<struct<tag:string,text:string,"
        "chars:int,link_chars:int>>"
    )
    keep = [f.name for f in fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            out[out_col] = [blocks_kernel(h) for h in pdf[html_col]]
            yield out

    return df.mapInPandas(run, schema=out_schema)


def main_content(
    df: DataFrame,
    id_col: str,
    html_col: str,
    source_col: str | None = None,
    min_words: int = 5,
    max_link_density: float = 0.4,
    site_df_ratio: float = 0.5,
    min_site_docs: int = 2,
) -> DataFrame:
    """(id, n_blocks, n_kept, main_text) per page — the block-level
    boilerplate removal. Rules, in evaluation order:

    1. SITE TEMPLATE (needs ``source_col``): a block whose exact text
       (by md5) appears in ≥ ``site_df_ratio`` of its source's pages
       (and ≥ ``min_site_docs`` of them) is boilerplate — nav bars
       and footers prove themselves by repetition, whatever their
       length. Corpus-level, one shuffle on (source, hash).
    2. LINK DENSITY: link_chars/chars > ``max_link_density`` —
       menus, share widgets, related-article lists.
    3. LENGTH: survivors with ≥ ``min_words`` words are content;
       shorter survivors are RESCUED iff an adjacent block is
       content by rule 3 (jusText's context pass — headline lines
       and short closing sentences survive next to their body).

    Pages whose html is NULL or yields no blocks return n_blocks 0
    and NULL main_text (the NULL-passthrough invariant). Kept blocks
    reassemble in document order."""
    base_cols = [id_col] + ([source_col] if source_col else [])
    pages = df.select(*base_cols, html_col)
    blk = extract_blocks(pages, html_col)
    ex = blk.select(
        *base_cols, F.posexplode_outer("_blocks").alias("_bidx", "_b")
    ).select(
        *base_cols,
        "_bidx",
        F.col("_b.text").alias("_btext"),
        F.col("_b.chars").alias("_bchars"),
        F.col("_b.link_chars").alias("_blink"),
    )
    has_block = F.col("_bidx").isNotNull()
    if source_col:
        # the parse output feeds the site aggregate AND the mark join:
        # staged once so the Arrow-batched tokenizer runs one pass
        # (the two-consumer recompute trap)
        ex = stage(ex.withColumn("_bh", F.md5("_btext")), "main_content_blocks")
        # per-source page totals come from the PRE-parse frame — one
        # cheap distinct, no second trip through the block explosion
        totals = pages.groupBy(source_col).agg(
            F.countDistinct(id_col).alias("_sdocs")
        )
        site = (
            ex.where(has_block)
            .groupBy(source_col, "_bh")
            .agg(F.countDistinct(id_col).alias("_bdocs"))
            .join(totals, source_col)
            .where(
                (F.col("_bdocs") >= min_site_docs)
                & (F.col("_bdocs") / F.col("_sdocs") >= site_df_ratio)
            )
            .select(source_col, "_bh", F.lit(True).alias("_site_bp"))
        )
        ex = ex.join(site, [source_col, "_bh"], "left")
    else:
        ex = ex.withColumn("_site_bp", F.lit(None).cast("boolean"))
    site_bp = F.coalesce(F.col("_site_bp"), F.lit(False))
    link_bp = (F.col("_bchars") > 0) & (
        F.col("_blink") / F.col("_bchars") > max_link_density
    )
    n_words = F.size(F.split(F.col("_btext"), " "))
    clean = has_block & ~site_bp & ~link_bp
    base = clean & (n_words >= min_words)
    w = Window.partitionBy(id_col).orderBy("_bidx")
    neighbor_ok = F.coalesce(F.lag(base).over(w), F.lit(False)) | F.coalesce(
        F.lead(base).over(w), F.lit(False)
    )
    kept = base | (clean & (n_words < min_words) & neighbor_ok)
    marked = ex.withColumn("_kept", kept)
    return (
        marked.groupBy(id_col)
        .agg(
            F.sum(has_block.cast("long")).alias("n_blocks"),
            F.sum(F.col("_kept").cast("long")).alias("n_kept"),
            F.when(
                F.sum(has_block.cast("long")) > 0,
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("_kept"),
                                    F.struct(
                                        F.col("_bidx"), F.col("_btext")
                                    ),
                                )
                            )
                        ),
                        lambda s: s["_btext"],
                    ),
                    # one LINE per kept block (the trafilatura/jusText
                    # output convention): the C4 line rules downstream
                    # operate on exactly this unit — a space join
                    # erased the line structure and made --c4 after
                    # --main-content drop every page (min_lines)
                    "\n",
                ),
            ).alias("main_text"),
        )
    )


def attach_fake_html(
    df: DataFrame,
    text_col: str,
    source_col: str,
    words_per_block: int = 12,
    out_col: str = "_html",
) -> DataFrame:
    """Deterministic page builder for oracle-checked exercise of the
    block pipeline (the multimodal ``attach_fake_binary`` pattern):
    wrap a document's words into the canonical boilerplate sandwich —
    a link-only nav, ``words_per_block``-word paragraphs, a link-only
    share widget, and a per-source footer — as ONE native expression,
    so a DuckDB oracle re-derives the expected blocks from the text
    alone and any parser mis-segmentation breaks the hash match.
    NULL text → NULL html."""
    wpb = int(words_per_block)
    staged = df.withColumn(
        # staged OUTSIDE the paragraph lambda: HOF bodies get no
        # subexpression elimination, so an inline split would re-run
        # per paragraph
        "_ws",
        F.expr(f"filter(split({text_col}, ' '), w -> w != '')"),
    )
    paras = (
        f"aggregate(transform(sequence(0, int(ceil(size(_ws) / {wpb}.0)))"
        f", i -> IF(i * {wpb} < size(_ws), concat('<p>', "
        f"array_join(slice(_ws, i * {wpb} + 1, {wpb}), ' '), '</p>'), ''))"
        ", '', (acc, x) -> concat(acc, x))"
    )
    html = (
        "concat('<html><body>', "
        "'<nav><a href=\"/\">home</a> <a href=\"/p\">products</a> "
        "<a href=\"/a\">about</a> <a href=\"/c\">contact</a></nav>', "
        f"{paras}, "
        "'<div class=\"share\"><a href=\"#\">read more</a> "
        "<a href=\"#\">share this</a></div>', "
        f"'<footer>copyright ', {source_col}, "
        "' network all rights reserved</footer>', "
        "'</body></html>')"
    )
    return staged.withColumn(
        out_col,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(
            F.expr(html)
        ),
    ).drop("_ws")
