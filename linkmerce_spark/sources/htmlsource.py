"""HTML response parsing -> rows (reference HtmlTransformer parity).

The reference parses HTML responses with CSS selectors into row dicts
(common/transform.py:245-311 via utils/parse.py). bs4/lxml are not in
this environment, so the extractor is built on stdlib ``html.parser``
— a real, working parser for the structures the reference actually
consumes (tables, repeated item nodes), not a stub.

Two execution shapes:
- ``html_tables`` / ``html_select_text``: driver-side, for single
  documents fetched by the task layer (tasks.py) before
  ``frames.from_rows`` — the reference's shape.
- ``parse_html_column``: distributed ``mapInPandas`` over a DataFrame
  holding one HTML document per row — HTML parsing is per-document
  imperative string work, exactly the case where Python-in-Arrow-batch
  is the right tool (SURVEY §2.12); everything after the parse is
  ordinary columns.
"""

from __future__ import annotations

from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

__all__ = ["html_tables", "html_select_text", "parse_html_column", "HTML_ROW_SCHEMA"]


class _TableParser(HTMLParser):
    """Collect every <table> as a list of rows of cell texts."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.tables: list[list[list[str]]] = []
        self._row: list[str] | None = None
        self._cell: list[str] | None = None

    def handle_starttag(self, tag, attrs):
        if tag == "table":
            self.tables.append([])
        elif tag == "tr" and self.tables:
            self._row = []
        elif tag in ("td", "th") and self._row is not None:
            self._cell = []

    def handle_endtag(self, tag):
        if tag in ("td", "th") and self._cell is not None:
            assert self._row is not None
            self._row.append("".join(self._cell).strip())
            self._cell = None
        elif tag == "tr" and self._row is not None:
            if self.tables:
                self.tables[-1].append(self._row)
            self._row = None

    def handle_data(self, data):
        if self._cell is not None:
            self._cell.append(data)


_VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)


class _SelectParser(HTMLParser):
    """Minimal selector: collect text of elements matching tag and/or
    class name (the subset the reference's selectors actually use)."""

    def __init__(self, tag: str | None, cls: str | None) -> None:
        super().__init__(convert_charrefs=True)
        self.tag, self.cls = tag, cls
        self.matches: list[str] = []
        self._depth = 0
        self._buf: list[str] = []

    def _is_match(self, tag, attrs) -> bool:
        if self.tag and tag != self.tag:
            return False
        if self.cls is not None:
            classes = dict(attrs).get("class", "").split()
            return self.cls in classes
        return True

    def handle_starttag(self, tag, attrs):
        # Void elements (<br>, <img>, ...) never fire handle_endtag —
        # counting them would leave the depth permanently unbalanced and
        # silently swallow the current and all following matches.
        if tag in _VOID_ELEMENTS:
            return
        if self._depth:
            self._depth += 1
        elif self._is_match(tag, attrs):
            self._depth = 1
            self._buf = []

    def handle_endtag(self, tag):
        if self._depth:
            self._depth -= 1
            if self._depth == 0:
                self.matches.append("".join(self._buf).strip())

    def handle_data(self, data):
        if self._depth:
            self._buf.append(data)


def html_tables(html: str) -> list[list[dict[str, str]]]:
    """All <table> elements as lists of dicts keyed by the header row."""
    p = _TableParser()
    p.feed(html)
    out = []
    for rows in p.tables:
        if not rows:
            out.append([])
            continue
        header, *body = rows
        out.append([dict(zip(header, r)) for r in body])
    return out


def html_select_text(html: str, tag: str | None = None, cls: str | None = None) -> list[str]:
    """Text content of elements matching ``tag``/``cls``."""
    p = _SelectParser(tag, cls)
    p.feed(html)
    return p.matches


HTML_ROW_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("table_idx", LongType(), False),
        StructField("row_idx", LongType(), False),
        StructField("cells", ArrayType(StringType()), True),
    ]
)


def parse_html_column(df: DataFrame, html_col: str = "html", id_col: str = "doc_id") -> DataFrame:
    """Explode every table row of every document into flat rows.

    Arrow-batched mapInPandas: the parse is pure per-document Python,
    the output is plain columns — downstream stays JVM-side.
    """

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for did, html in zip(pdf[id_col], pdf[html_col]):
                p = _TableParser()
                p.feed(html or "")
                for ti, rows in enumerate(p.tables):
                    for ri, cells in enumerate(rows):
                        recs.append((int(did), ti, ri, cells))
            yield pd.DataFrame(recs, columns=["doc_id", "table_idx", "row_idx", "cells"])

    from linkmerce_spark.shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    return df.mapInPandas(_kernel, schema=HTML_ROW_SCHEMA)
