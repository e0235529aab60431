"""HTML text extraction — the crawl-to-corpus front door, stdlib-only.

Every pretraining pipeline starts by stripping markup from crawled
HTML (trafilatura/jusText/BeautifulSoup in production). This module
implements the core extraction with nothing but ``html.parser``:

- visible text only: ``<script>``, ``<style>``, ``<template>`` and
  comments are dropped wholesale;
- block elements (p/div/br/li/h1..h6/tr/...) become newline breaks,
  inline markup (b/i/a/span/...) concatenates;
- entities (&amp;, &#65;, &#x41;, named refs) are decoded by the
  parser itself (``convert_charrefs=True``);
- whitespace is normalized per text line (runs collapse, blank lines
  drop) — the shape quality filters downstream expect.

Spark integration is one Arrow row map (``transform.map_rows``) — one
narrow map, zero shuffles, bytes cross the JVM boundary per batch.

The registry query (``html_text_extract_docs``) gets an EXACT oracle
by construction: each document's text is wrapped into deterministic
HTML (tags, attributes, entities, a script block, a comment) by pure
Spark expressions, and the extractor must recover precisely the
original text plus the deterministic injected parts — all of which
the DuckDB oracle recomputes from the same ``documents`` columns
without parsing any HTML.
"""

from __future__ import annotations

from html.parser import HTMLParser

from python_plugins_spark.operators.transform import map_rows

_SKIP = {"script", "style", "template"}
_BLOCK = {
    "p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5",
    "h6", "tr", "table", "section", "article", "header", "footer",
    "blockquote", "pre", "hr",
}


class _TextExtractor(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP:
            self._skip_depth += 1
        elif tag in _BLOCK and self._skip_depth == 0:
            # block tags inside a skipped subtree contribute nothing —
            # not even line breaks
            self.parts.append("\n")

    def handle_endtag(self, tag):
        if tag in _SKIP:
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag in _BLOCK and self._skip_depth == 0:
            self.parts.append("\n")

    def handle_data(self, data):
        if self._skip_depth == 0:
            self.parts.append(data)


def extract_text(html: str) -> str:
    """Visible text of an HTML string: skip-subtree removal, block
    breaks, entity decoding, per-line whitespace normalization.
    An UNTERMINATED comment swallows everything after it (browser
    behavior) — stdlib html.parser would instead re-emit the raw
    '<!--...' markup as DATA at EOF, leaking markup into corpus text
    (caught by the crawl-parser fuzz suite)."""
    i = 0
    while True:
        j = html.find("<!--", i)
        if j < 0:
            break
        k = html.find("-->", j + 4)
        if k < 0:
            html = html[:j]
            break
        i = k + 3
    p = _TextExtractor()
    p.feed(html)
    p.close()
    raw = "".join(p.parts)
    lines = [" ".join(ln.split()) for ln in raw.split("\n")]
    return "\n".join(ln for ln in lines if ln)


def extract_text_column(
    df, html_col: str = "html", id_col: str = "doc_id"
):
    """Arrow-batched extraction: (id, html) -> (id, text)."""
    return map_rows(
        df, [id_col, html_col], f"`{id_col}` long, text string",
        lambda rid, html: [(rid, extract_text(html))],
    )
