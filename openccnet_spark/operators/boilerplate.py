"""HTML boilerplate removal (jusText-lite block classification).

Between WARC ingest and text-quality work, every web pipeline strips
page furniture: nav bars, cookie banners, footers. The standard
classifiers (jusText, trafilatura, boilerpipe) segment the page into
BLOCKS and score each by link density and text mass — short blocks and
link-dominated blocks are boilerplate, long low-link blocks are
content. This module is that rule as pure JVM string expressions
(no UDF, no shuffle — the whole classifier runs inside whole-stage
codegen next to the scan), with a DuckDB twin built from the SAME
regex constants so the driver oracle replays every decision.

Rule (deterministic):
- blocks = the page split on closing block tags (``</p>``, ``</div>``,
  ``</li>``, ``</footer>``, ``</header>``, ``</nav>``); a block's text
  is the segment with all tags replaced by spaces, whitespace
  collapsed, trimmed; empty-text segments are not blocks;
- ``link_density_milli`` = 1000 * anchor-text chars / block-text chars
  (anchor text via ``regexp_extract_all`` of ``<a ...>text</a>``);
- a block is CONTENT iff its text is >= MIN_BLOCK_CHARS chars AND its
  link density < MAX_LINK_MILLI; ``main_text`` joins content blocks
  with a newline, in page order.

Regex constants use literal characters only (DuckDB's RE2 silently
matches nothing for ``\\uXXXX`` escapes — CLAUDE.md) and constructs
Java regex and RE2 agree on.

The reference repo (laisuk/OpenccNet) has no counterpart; this is the
HTML main-text extraction stage that feeds ``operators/quality.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "MIN_BLOCK_CHARS",
    "MAX_LINK_MILLI",
    "BLOCK_SPLIT_RE",
    "TAG_RE",
    "ANCHOR_RE",
    "extract_main_text",
    "sql_extract_main_text",
    "sql_synth_page",
]

#: a block needs at least this many visible chars to be content
MIN_BLOCK_CHARS = 40
#: content blocks keep link density strictly below this (milli)
MAX_LINK_MILLI = 333

# Shared verbatim between Spark (Java regex) and DuckDB (RE2).
BLOCK_SPLIT_RE = "</p>|</div>|</li>|</footer>|</header>|</nav>"
TAG_RE = "<[^>]*>"
ANCHOR_RE = "<a [^>]*>([^<]*)</a>"


def extract_main_text(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """Classify blocks and keep the content ones.

    Output: ``(id_col, n_blocks, n_content, main_text)``. Everything is
    a narrow projection — zero joins, zero shuffles, zero Python.
    """
    # the whole block pipeline is one SQL expression (regexp_extract_all
    # has no Column builder API, and the lambda variable must be visible
    # to it — expr() keeps the binding explicit). Each lambda body only
    # touches its own segment, so the no-subexpression-elimination rule
    # for hoisting (CLAUDE.md) does not bite here.
    expr = f"""
    filter(
      transform(
        split(coalesce({html_col}, ''), '{BLOCK_SPLIT_RE}'),
        s -> named_struct(
          'txt', trim(regexp_replace(regexp_replace(s, '{TAG_RE}', ' '), ' +', ' ')),
          'alen', length(array_join(regexp_extract_all(s, '{ANCHOR_RE}', 1), ''))
        )
      ),
      b -> b.txt != ''
    )
    """
    b = F.expr(expr)
    content = F.filter(
        b,
        lambda x: (F.length(x["txt"]) >= MIN_BLOCK_CHARS)
        & (x["alen"] * 1000 < F.length(x["txt"]) * MAX_LINK_MILLI),
    )
    return df.select(
        F.col(id_col),
        F.size(b).cast("long").alias("n_blocks"),
        F.size(content).cast("long").alias("n_content"),
        F.array_join(
            F.transform(content, lambda x: x["txt"]), "\n"
        ).alias("main_text"),
    )


def sql_extract_main_text(
    table: str, html_expr: str = "html", id_col: str = "doc_id"
) -> str:
    """DuckDB twin: identical constants, identical rule.

    ``array_to_string([])`` is NULL in DuckDB 1.0 (CLAUDE.md) — the
    outer coalesce keeps all-boilerplate pages at ``''``.
    """
    blocks = f"""
    list_filter(
      list_transform(
        string_split_regex(coalesce({html_expr}, ''), '{BLOCK_SPLIT_RE}'),
        s -> struct_pack(
          txt := trim(regexp_replace(regexp_replace(s, '{TAG_RE}', ' ', 'g'), ' +', ' ', 'g')),
          alen := length(coalesce(array_to_string(regexp_extract_all(s, '{ANCHOR_RE}', 1), ''), ''))
        )
      ),
      b -> b.txt <> ''
    )
    """
    content = f"""
    list_filter({blocks},
      x -> length(x.txt) >= {MIN_BLOCK_CHARS}
           AND x.alen * 1000 < length(x.txt) * {MAX_LINK_MILLI})
    """
    return f"""
SELECT {id_col},
       len({blocks})::BIGINT AS n_blocks,
       len({content})::BIGINT AS n_content,
       coalesce(array_to_string(list_transform({content}, x -> x.txt), chr(10)), '')
           AS main_text
FROM {table}
"""


def sql_synth_page(text_expr: str) -> str:
    """Deterministic multi-block page around a document's text: a nav
    bar of pure links, the content paragraph, a short cookie banner,
    and a link footer — ``||`` concatenation parses identically in
    Spark SQL and DuckDB, so ONE string serves both engines. The
    synthetic corpus text contains no ``<``/``>``/``&``, so no entity
    escaping is needed (asserted in pytest)."""
    return (
        "('<div id=\"nav\"><a href=\"/\">Home</a> <a href=\"/about\">About</a> "
        "<a href=\"/contact\">Contact page link</a></div>"
        "<p>' || " + text_expr + " || '</p>"
        "<div class=\"cookie\">Cookies: <a href=\"/privacy\">Learn more</a>.</div>"
        "<footer><a href=\"/tos\">Terms</a> <a href=\"/privacy\">Privacy</a></footer>')"
    )
