"""Structural HTML parse -> sentences DataFrame (SURVEY S2).

The reference parses HTML+PDF with fonduer's ``Parser(structural=True,
lingual=True, visual=True)`` (``hack/utils/utils.py:48-56``) into a
Document/Table/Cell/Sentence hierarchy stored in Postgres. Here the same
structure is computed by ONE deterministic stdlib-only kernel,
``parse_html``, run as an Arrow-batched ``mapInPandas`` over the ``pages``
table — no server round-trips, no worker pools, shuffle-free.

**The byte-identical invariant** (BASELINE.json input_hint): the canonical
extracted text of a page is ``"\\n".join(sentence.text for sentence in
parse_html(html))``, and must equal the ``text`` column of the ``pages``
table byte-for-byte, per url. ``extract_text`` is that definition;
``tests/test_extract.py`` enforces it.

Structural coordinates substitute for fonduer's PDF visual coordinates:
* ``table_id``/``row``/``col`` — cell position (fonduer's Cell model);
* ``page`` — synthetic pagination: 1 + block_ordinal // BLOCKS_PER_PAGE
  (datasheet tables land on early pages, like the reference corpus);
* horizontal alignment == same table row, vertical == same table column
  (the structural projection of ``is_horz_aligned``/``is_vert_aligned``).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
import pyspark.sql.types as T

from tecs_hardware_kbc_spark.functions.text import tokenize

BLOCKS_PER_PAGE = 8
NGRAM_MAX = 3

_BLOCK_TAGS = {"title", "h1", "h2", "h3", "h4", "h5", "h6", "p", "li", "caption"}
_SKIP_TAGS = {"script", "style"}
_WS_RE = re.compile(r"\s+")
_SENT_SPLIT_RE = re.compile(r"(?<=[.!?])\s+")


class _StructParser(HTMLParser):
    """Single-pass structural walk: emits (text, tag, table_id, row, col)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[dict] = []
        self.figures: list[dict] = []
        self._buf: list[str] = []
        self._tag_stack: list[str] = []
        self._block_tag: str | None = None
        self._n_tables = 0
        self._table_id: int | None = None
        self._row = -1
        self._col = -1
        self._in_cell = False

    def _flush(self, tag: str, table_id: int | None = None,
               row: int | None = None, col: int | None = None) -> None:
        text = _WS_RE.sub(" ", "".join(self._buf)).strip()
        self._buf = []
        if text:
            self.blocks.append(
                {"text": text, "tag": tag, "table_id": table_id, "row": row, "col": col}
            )

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "img":
            # figure context node (fonduer's Figure; MentionFigures reads
            # figure.url — circular_connectors.py:82-100). Void element:
            # record it, keep it off the tag stack.
            a = dict(attrs)
            src = (a.get("src") or "").strip()
            if src:
                self.figures.append(
                    {"fig_id": len(self.figures), "src": src,
                     "alt": (a.get("alt") or "").strip()})
            return
        self._tag_stack.append(tag)
        if tag == "table":
            self._table_id = self._n_tables
            self._n_tables += 1
            self._row = -1
        elif tag == "tr":
            self._row += 1
            self._col = -1
        elif tag in ("td", "th"):
            self._col += 1
            self._in_cell = True
            self._buf = []
        elif tag in _BLOCK_TAGS:
            self._block_tag = tag
            self._buf = []

    def handle_endtag(self, tag: str) -> None:
        if tag == "img":
            # void element, never on the stack (see handle_starttag) — an
            # XHTML-style <img/> routes through handle_startendtag, whose
            # default impl calls handle_endtag; draining the stack in search
            # of the unmatched 'img' would discard open ancestors that the
            # _SKIP_TAGS check still needs.
            return
        while self._tag_stack and self._tag_stack[-1] != tag:
            self._tag_stack.pop()
        if self._tag_stack:
            self._tag_stack.pop()
        if tag in ("td", "th") and self._in_cell:
            self._flush("th" if tag == "th" else "td",
                        table_id=self._table_id, row=self._row, col=self._col)
            self._in_cell = False
        elif tag == "table":
            self._table_id = None
        elif tag in _BLOCK_TAGS and self._block_tag == tag:
            self._flush(tag)
            self._block_tag = None

    def handle_data(self, data: str) -> None:
        if any(t in _SKIP_TAGS for t in self._tag_stack):
            return
        if self._in_cell or self._block_tag is not None:
            self._buf.append(data)


def parse_html(html: bytes | str) -> list[dict]:
    """Deterministic structural parse of one page into sentence dicts.

    Prose blocks are split into sentences on terminal punctuation; each table
    cell is one sentence carrying (table_id, table position == table_id, row,
    col). ``position`` is the reading-order sentence ordinal; ``page`` is the
    synthetic pagination of the *block* the sentence came from, except that
    a table's cells all share the table's first page (tables don't straddle
    page breaks in a rendered layout).
    """
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    parser = _StructParser()
    parser.feed(html)
    parser.close()

    sentences: list[dict] = []
    position = 0
    block_ordinal = 0
    last_row_key: tuple | None = None
    table_pages: dict[int, int] = {}
    for blk in parser.blocks:
        if blk["table_id"] is not None:
            # one block per table row; the WHOLE table shares the page of
            # its first row — a rendered table never straddles the page
            # break, and the visual predicates (same-page preconditions in
            # visual.horz/vert_aligned_viz) must agree with the layout the
            # bbox sidecar mirrors (a row-5 cell on "page 2" while its
            # column header sits on "page 1" made every cross-page gold
            # pair silently viz-unaligned)
            row_key = (blk["table_id"], blk["row"])
            if row_key != last_row_key:
                block_ordinal += 1
                last_row_key = row_key
            if blk["table_id"] not in table_pages:
                table_pages[blk["table_id"]] = (
                    1 + (block_ordinal - 1) // BLOCKS_PER_PAGE)
            page = table_pages[blk["table_id"]]
            texts = [blk["text"]]
        else:
            block_ordinal += 1
            last_row_key = None
            texts = _SENT_SPLIT_RE.split(blk["text"])
            page = 1 + (block_ordinal - 1) // BLOCKS_PER_PAGE
        for text in texts:
            text = text.strip()
            if not text:
                continue
            words = tokenize(text)
            # linear cumulative char offsets (word i starts at
            # sum(len(w_j) + 1, j < i) under whitespace normalization).
            # Carried in the schema so grams_col never needs its O(n^2)
            # array-aggregate fallback on real sentences — a garbage page
            # with one unpunctuated 10k-token "sentence" would otherwise
            # cost ~10^8 array copies in the HOF.
            offs, acc = [], 0
            for w in words:
                offs.append(acc)
                acc += len(w) + 1
            sentences.append(
                {
                    "position": position,
                    "text": text,
                    "words": words,
                    "char_offsets": offs,
                    "tag": blk["tag"],
                    "table_id": blk["table_id"],
                    "row": blk["row"],
                    "col": blk["col"],
                    "page": page,
                    "is_tabular": blk["table_id"] is not None,
                }
            )
            position += 1
    return sentences


_PUNCT = ".,;:!?()[]{}\"'"


def extract_text(html: bytes | str) -> str:
    """THE canonical per-url extracted text (byte-identical invariant)."""
    return "\n".join(s["text"] for s in parse_html(html))


SENTENCE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("position", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("words", T.ArrayType(T.StringType()), False),
        T.StructField("char_offsets", T.ArrayType(T.IntegerType()), False),
        T.StructField("tag", T.StringType(), True),
        T.StructField("table_id", T.IntegerType(), True),
        T.StructField("row", T.IntegerType(), True),
        T.StructField("col", T.IntegerType(), True),
        T.StructField("page", T.IntegerType(), True),
        T.StructField("is_tabular", T.BooleanType(), False),
    ]
)


FIGURE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("fig_id", T.IntegerType(), False),
        T.StructField("src", T.StringType(), False),
        T.StructField("alt", T.StringType(), True),
    ]
)


def parse_html_figures(html: bytes | str) -> list[dict]:
    """Figure context nodes of one page: ``<img>`` elements in document
    order (fonduer's ``Figure`` table; the connectors task's mention space
    is exactly these — circular_connectors.py:82-100)."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    parser = _StructParser()
    parser.feed(html)
    parser.close()
    return parser.figures


def parse_figures(pages: DataFrame) -> DataFrame:
    """(url, fig_id, src, alt) — one row per ``<img>`` per page. Same
    Arrow-batched shape as the sentence parse; column-prunes to
    (url, html)."""
    def _parse(batches):
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                for f in parse_html_figures(html):
                    rows.append((url, f["fig_id"], f["src"], f["alt"]))
            yield pd.DataFrame(
                rows, columns=[f.name for f in FIGURE_SCHEMA.fields])

    return pages.select("url", "html").mapInPandas(
        _parse, schema=FIGURE_SCHEMA)


_PUNCT_RGX = r"^[.,;:!?()\[\]{}\"']+|[.,;:!?()\[\]{}\"']+$"


def grams_col(words=None, offsets=None):
    """The sentence's mention n-gram space as a pure JVM column expression
    (array<struct<span, wi, n, char_start, char_end>>).

    Mirrors fonduer's ``MentionNgrams(n_max=3, split_tokens=["-", "/"])``
    (``transistors.py:205-241``): all word 1..3-grams with char offsets,
    plus sub-token unigrams from re-splitting on '-'/'/' and
    punctuation-stripped variants (``n == 0`` marks both). Computed with
    higher-order functions so the whole gram space stays inside
    whole-stage codegen — no Python, no extra Arrow payload.

    Char offsets rely on the extractor's whitespace normalization: word i
    starts at sum(len(w_j) + 1 for j < i). Pass the parse's precomputed
    ``char_offsets`` column as ``offsets`` — the in-expression fallback
    builds the prefix sums by array concatenation, which is O(n^2) per
    sentence and pathological for unpunctuated garbage pages; the parse
    computes the same array in linear time.
    """
    words = words if words is not None else F.col("words")
    offs = offsets if offsets is not None else F.aggregate(
        words, F.array(F.lit(0)),
        lambda acc, w: F.concat(acc, F.array(F.element_at(acc, -1)
                                             + F.length(w) + 1)),
    )

    def gram(span, wi, n, cs, ce):
        return F.struct(span.alias("span"), wi.cast("int").alias("wi"),
                        n.cast("int").alias("n"),
                        cs.cast("int").alias("char_start"),
                        ce.cast("int").alias("char_end"))

    idx = F.sequence(F.lit(0), F.size(words) - 1)

    word_grams = F.flatten(F.transform(idx, lambda i: F.transform(
        F.sequence(F.lit(1), F.least(F.lit(NGRAM_MAX), F.size(words) - i)),
        lambda n: gram(
            F.array_join(F.slice(words, i + 1, n), " "), i, n,
            F.element_at(offs, (i + 1).cast("int")),
            F.element_at(offs, (i + n).cast("int"))
            + F.length(F.element_at(words, (i + n).cast("int"))) - 1,
        ))))

    def derived(i, part):
        w = F.element_at(words, (i + 1).cast("int"))
        start = F.element_at(offs, (i + 1).cast("int")) + F.position(part, w) - 1
        return gram(part, i, F.lit(0), start, start + F.length(part) - 1)

    sub_grams = F.flatten(F.transform(idx, lambda i: F.transform(
        F.filter(
            F.split(F.element_at(words, (i + 1).cast("int")), "[-/]"),
            lambda p: (p != "")
            & (p != F.element_at(words, (i + 1).cast("int"))),
        ),
        lambda p: derived(i, p),
    )))

    strip_grams = F.flatten(F.transform(idx, lambda i: F.transform(
        F.filter(
            F.array(F.regexp_replace(
                F.element_at(words, (i + 1).cast("int")), _PUNCT_RGX, "")),
            lambda p: (p != "")
            & (p != F.element_at(words, (i + 1).cast("int"))),
        ),
        lambda p: derived(i, p),
    )))

    return F.concat(word_grams, sub_grams, strip_grams)


def parse_pages(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> sentences DataFrame via Arrow-batched parse.

    Narrow (no shuffle): each input partition maps to its sentence rows.
    Only ``url`` and ``html`` are read — Catalyst prunes the rest at the scan.
    """

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                for s in parse_html(html):
                    s["url"] = url
                    rows.append(s)
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in SENTENCE_SCHEMA.fields],
            )

    return pages.select("url", "html").mapInPandas(_parse, schema=SENTENCE_SCHEMA)


def check_extraction_invariant(pages: DataFrame) -> DataFrame:
    """Rows where re-extracted text != stored ``text`` (must be empty).

    Distributed check — runs the extraction UDF and compares byte-for-byte.
    """
    extract_udf = F.pandas_udf(
        lambda s: s.map(extract_text), T.StringType()  # type: ignore[arg-type]
    )
    return (
        pages.withColumn("_re", extract_udf(F.col("html")))
        .filter(F.col("_re") != F.col("text"))
        .select("url", "text", "_re")
    )
