"""Mention detection (SURVEY P1-P8): ngram spaces × matchers -> mentions.

Reference semantics (lukehsiao/tecs-hardware-kbc):

* ngram spaces per type — ``MentionNgramsPart/Temp/Volt`` +
  ``MentionNgramsCurrent`` (``transistor_spaces.py:166-327``,
  ``opamp_spaces.py:10-60``) — here the gram space was precomputed at parse
  time, so each space is an ``explode`` + JVM filter;
* matchers — part EECA/JEDEC/JIS/house regexes + Digi-Key dictionary +
  filename matcher (``transistor_matchers.py:80-108``), temp/polarity/
  ce_v_max (``:55-135``), opamp gain/current (``opamp_matchers.py:27-110``);
* normalizing expanders run as built-in regexp expressions (JVM); only
  ``expand_part_range`` (difflib) runs as an Arrow-batched pandas UDF.

All regexes are anchored (``^...$``): fonduer's ``RegexMatchSpan`` uses
``re.match`` (prefix-anchored); full anchoring over an exhaustive ngram
space accepts the same span set and is value-deterministic.

Output schema (all types): ``url, position, mention_type, span`` (the
normalized/display form used downstream), ``raw_span, implicit, wi, n,
char_start, char_end, table_id, row, col, tag, page, is_tabular``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
import pyspark.sql.types as T

from tecs_hardware_kbc_spark.functions.expand import expand_part_range
from tecs_hardware_kbc_spark.operators.context import lower_arr, overlaps

# --- part naming regexes (transistor_matchers.py:82-95) -------------------
EECA_RGX = (
    r"[ABC][A-Z][WXYZ]?[0-9]{3,5}(?:[A-Z]){0,5}[0-9]?[A-Z]?"
    r"(?:-[A-Z0-9]{1,7})?(?:[-][A-Z0-9]{1,2})?(?:/DG)?"
)
JEDEC_RGX = r"2N\d{3,4}[A-Z]{0,5}[0-9]?[A-Z]?"
JIS_RGX = r"2S[ABCDEFGHJKMQRSTVZ]\d{2,4}"
OTHERS_RGX = (
    r"(?:NSVBC|SMBT|MJ|MJE|MPS|MRF|RCA|TIP|ZTX|ZT|ZXT|TIS|TIPL|DTC|MMBT"
    r"|SMMBT|PZT|FZT|STD|BUV|PBSS|KSC|CXT|FCX|CMPT)\d{2,4}[A-Z]{0,5}"
    r"(?:-[A-Z0-9]{0,6})?(?:[-][A-Z0-9]{0,1})?"
)
PART_RGX = f"^(?:{EECA_RGX}|{JEDEC_RGX}|{JIS_RGX}|{OTHERS_RGX})$"

TEMP_MIN_RGX = r"^-[56][05]$"
TEMP_MAX_RGX = r"^(?:1[5-9]|20)[05]$"
POLARITY_RGX = r"^(?i)(?:NPN|PNP)$"
CE_V_MAX_RGX = r"^\d{1,2}[05]$"
GAIN_RGX = r"^(?:\d{1,2}\.\d{1,2}|\d{1,3})$"
CURRENT_RGX = r"^(?:±?\d{1,2}\.\d{1,2}|±?\d{1,4})$"

CE_KEYWORDS = ["collector emitter", "collector-emitter", "collector - emitter",
               "ceo", "vceo"]
HERTZ_UNITS = ["mhz", "khz"]
GAIN_KEYWORDS = ["product", "gain", "unity", "bandwidth", "gbp", "gbw", "gbwp"]
GAIN_FILTER_KEYWORDS = ["-3 db", "maximum", "minimum", "impedance"]
CURRENT_UNITS = ["ma", "μa", "ua", "µa", "a"]
CURRENT_KEYWORDS = ["supply", "quiescent", "iq", "is", "idd", "icc"]
CURRENT_FILTER_KEYWORDS = ["offset", "bias", "logic", "shutdown"]

_CTX_COLS = ["url", "position", "table_id", "row", "col", "tag", "page",
             "is_tabular"]

MENTION_COLS = ["url", "position", "mention_type", "span", "raw_span",
                "implicit", "wi", "n", "char_start", "char_end", "table_id",
                "row", "col", "tag", "page", "is_tabular"]


def gram_space_compact(sentences: DataFrame) -> DataFrame:
    """The COMPACT one-row-per-sentence gram table: context columns + the
    sentence's ``words`` + an array of gram structs, HOF evaluated once and
    localCheckpointed. The context columns are stored once per sentence
    instead of once per gram (~25x less cached row volume); consumers
    re-run only the cheap explode (``explode_gram_arrays``) or read the
    arrays directly (``build_sentence_context`` derives per-sentence gram
    lists with a ``transform`` — no groupBy shuffle of the exploded rows).

    ``n == 0`` marks sub-token / punctuation-stripped grams."""
    from tecs_hardware_kbc_spark.operators.extract import grams_col

    offsets = (F.col("char_offsets")
               if "char_offsets" in sentences.columns else None)
    gc = grams_col(offsets=offsets)
    return sentences.select(*_CTX_COLS, "words", gc.alias("_grams")) \
                    .localCheckpoint()


def explode_gram_arrays(arr: DataFrame) -> DataFrame:
    """The exploded gram view over a ``gram_space_compact`` table: the
    full gram table every matcher and context builder reads, each with a
    cheap ``n`` filter. Callers MUST NOT checkpoint the result — that
    would re-inflate the compact cache 25x."""
    g = arr.select(*_CTX_COLS, F.explode("_grams").alias("g"))
    return g.select(
        *_CTX_COLS,
        F.col("g.span").alias("raw_span"),
        F.col("g.wi").alias("wi"),
        F.col("g.n").alias("n"),
        F.col("g.char_start").alias("char_start"),
        F.col("g.char_end").alias("char_end"),
    )


def pregate_part(g, span):
    """Superset of part_mentions' first row filter: 1..3-grams (and
    derived n==0 grams) whose span carries a digit AND a letter."""
    return ((g["n"] <= 3)
            & F.regexp_like(span, F.lit("[0-9]"))
            & F.regexp_like(span, F.lit("[A-Za-z]")))


def pregate_numeric(max_n: int):
    """Superset of the numeric matchers' first filters (temp / ce_v_max /
    gain / current all demand a digit in the span)."""
    def gate(g, span):
        return (g["n"] <= max_n) & F.regexp_like(span, F.lit("[0-9]"))
    return gate


def pregate_polarity(g, span):
    """Superset of POLARITY_RGX (NPN/PNP unigrams)."""
    return (g["n"] <= 1) & F.regexp_like(span, F.lit("(?i)^[NP]"))


def gated_grams(compact: DataFrame, gate) -> DataFrame:
    """Exploded gram view that filters INSIDE the compact arrays before
    exploding: only grams passing ``gate(struct, span)`` are ever
    materialized as rows. The explode is where the 8 context columns get
    duplicated per gram — the memory-bus cost of reading the gram table —
    so a matcher whose pre-gate keeps ~5% of grams skips ~95% of that row
    traffic. Each gate is a strict SUPERSET of its matcher's own first
    filter (which still runs), so results are identical (pinned by
    test_mentions equivalence)."""
    arr = compact.withColumn(
        "_grams", F.filter("_grams", lambda g: gate(g, g["span"])))
    return explode_gram_arrays(arr)


def _n_filter(grams: DataFrame, n_min: int, n_max: int) -> DataFrame:
    return grams.filter(
        (F.col("n") <= n_max) & ((F.col("n") >= n_min) | (F.col("n") == 0)))


def _finish(df: DataFrame, mention_type: str, span_col=None,
            implicit=None) -> DataFrame:
    span = span_col if span_col is not None else F.col("raw_span")
    imp = implicit if implicit is not None else F.lit(False)
    return df.select(
        "url", "position", F.lit(mention_type).alias("mention_type"),
        span.alias("span"), "raw_span", imp.alias("implicit"),
        "wi", "n", "char_start", "char_end",
        "table_id", "row", "col", "tag", "page", "is_tabular",
    )


# --------------------------------------------------------------------------
# Part mentions (P2+P3+P4+P5 union, then P6 range expansion + P8 widening)
# --------------------------------------------------------------------------

_expand_parts_udf = F.pandas_udf(
    lambda s: s.map(lambda x: [p.upper() for p in expand_part_range(x)]),
    T.ArrayType(T.StringType()),
)

# A span's expansion can differ from [span] only if it contains a range or
# suffix trigger: ',' or '/' (_SUFFIX_RE/_BASE_RE; slash halves), '~', a
# 3+-dot ellipsis, an ASCII or unicode dash, or a to/thru/through separator
# token (every separator branch of _RANGE_RE keys on one of these — a bare
# space between words is NOT a separator). Spans without any trigger are
# provably identity under expand_part_range, so they skip the pandas UDF
# AND the vocabulary join (at 64k pages that is ~70% of the distinct
# vocabulary); soundness is pinned by test_expand's exhaustive property
# test over the corpus alphabet.
_EXPAND_TRIGGER_RGX = "[~,/‐‑‒–—−-]|\\.{3}|(?i:to|thru|through)"


def part_mentions(grams: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """Part-number mentions: (regex ∪ dictionary ∪ filename) matchers over
    1..3-grams, then range/suffix expansion into implicit spans.

    The dictionary match is a broadcast semi-join (the Digi-Key analog is
    ~10k rows — transistor_matchers.py:21-31). The filename matcher uses
    ``levenshtein(span, doc_stem) <= 2`` as the structural analog of the
    reference's common-prefix-length test (transistor_matchers.py:34-52).
    """
    grams = _n_filter(grams, 1, 3)
    up = F.upper(F.col("raw_span"))

    # Expansion runs BEFORE matching (MentionNgramsPart.apply expands every
    # ngram, then the matcher filters the expanded spans). To keep the pandas
    # UDF off the vast majority of grams, only spans containing at least one
    # part-shaped token are expanded — expansion of anything else can never
    # produce a matcher hit.
    part_token_anywhere = PART_RGX.removeprefix("^(?:").removesuffix(")$")
    candidates = grams.filter(
        # cheap digit+letter gate first, expensive alternation after
        F.regexp_like(up, F.lit(r"[0-9]"))
        & F.regexp_like(up, F.lit(r"[A-Za-z]"))
        & (F.regexp_like(up, F.lit(f"(?:{part_token_anywhere})"))
           | F.regexp_like(up, F.lit(r"^[A-Z0-9\-]{5,15}$")))
    )
    # Only spans carrying an expansion trigger go through the UDF + join;
    # trigger-free spans are identity under expansion and take a pure
    # column-expression bypass (no distinct, no broadcast, no Python).
    # Expandable spans expand as DISTINCT vocabulary only (the pandas UDF
    # sees each span once, not every occurrence), then map back over the
    # gram rows via a small broadcast. The vocabulary is tiny in BYTES but
    # CPU-heavy per row (difflib), so AQE would coalesce its exchange to
    # one partition and serialize the UDF — spread it explicitly.
    gate = F.regexp_like(F.col("raw_span"), F.lit(_EXPAND_TRIGGER_RGX))
    gated = candidates.filter(gate)
    par = grams.sparkSession.sparkContext.defaultParallelism
    vocab = (
        gated.select("raw_span").distinct()
        .repartition(par)
        .withColumn("parts", _expand_parts_udf(F.col("raw_span")))
    )
    expanded = gated.join(F.broadcast(vocab), "raw_span").select(
        *(c for c in gated.columns),
        F.explode("parts").alias("part_span"),
    )
    bypass = candidates.filter(~gate).select(
        *(c for c in candidates.columns),
        F.upper(F.col("raw_span")).alias("part_span"),
    )
    exploded = expanded.unionByName(bypass) \
        .filter(~F.col("part_span").contains(" "))

    # ONE pass over the expanded spans: the three matchers are OR'd boolean
    # columns (dictionary membership via a broadcast left join flag), so the
    # expansion UDF and the explode run exactly once.
    ps = F.col("part_span")
    dict_parts = gazetteer.select(F.upper("part").alias("part_span")) \
        .distinct().withColumn("_in_dict", F.lit(True))
    doc_stem = F.upper(F.regexp_replace(F.element_at(F.split(F.col("url"), "/"), -1),
                                        r"\.html$", ""))
    by_rgx = F.regexp_like(ps, F.lit(PART_RGX))
    by_name = (
        F.regexp_like(ps, F.lit(r"^[A-Z0-9\-]{5,15}$"))
        & F.regexp_like(ps, F.lit(r"[0-9]"))
        & F.regexp_like(ps, F.lit(r"[A-Z]"))
        & (F.levenshtein(ps, doc_stem) <= 2)
    )
    matched = (
        exploded.join(F.broadcast(dict_parts), "part_span", "left")
        .filter(by_rgx | F.coalesce("_in_dict", F.lit(False)) | by_name)
        .dropDuplicates(
            ["url", "position", "wi", "n", "char_start", "char_end",
             "part_span"])
    )
    return _finish(
        matched, "part",
        span_col=F.col("part_span"),
        implicit=F.col("part_span") != F.upper(F.col("raw_span")),
    )


# --------------------------------------------------------------------------
# Temperature / voltage mentions (normalizers run as JVM regexp expressions)
# --------------------------------------------------------------------------

_TEMP_NORM_RGX = r"^([+\-‐‑‒–—−])?(\s*)(\d+)$"


def _normalize_temp(col):
    """JVM port of normalize_temp_span (transistor_spaces.py:229-285)."""
    sign = F.regexp_extract(col, _TEMP_NORM_RGX, 1)
    gap = F.regexp_extract(col, _TEMP_NORM_RGX, 2)
    digits = F.regexp_extract(col, _TEMP_NORM_RGX, 3)
    return (
        F.when(~F.regexp_like(col, F.lit(_TEMP_NORM_RGX)), col)
        .when(sign == "", digits)
        .when((sign == "+") & (gap != ""), F.lit(None))  # drop '+ 150' bigram
        .when(sign == "+", digits)
        .otherwise(F.concat(F.lit("-"), digits))
    )


def temp_mentions(grams: DataFrame, kind: str) -> DataFrame:
    """stg_temp_min / stg_temp_max mentions (transistor_matchers.py:70-78)."""
    rgx = TEMP_MIN_RGX if kind == "min" else TEMP_MAX_RGX
    grams = _n_filter(grams, 1, 2)
    norm = (
        grams.withColumn("norm", _normalize_temp(F.col("raw_span")))
        .filter(F.col("norm").isNotNull())
        .filter(F.regexp_like(F.col("norm"), F.lit(rgx)))
    )
    return _finish(
        norm, f"stg_temp_{kind}",
        span_col=F.col("norm"), implicit=F.col("norm") != F.col("raw_span"),
    )


def polarity_mentions(grams: DataFrame, sentences: DataFrame) -> DataFrame:
    """NPN/PNP unigrams not in a 'complementary' sentence
    (transistor_matchers.py:55-67)."""
    grams = _n_filter(grams, 1, 1)
    sent_words = sentences.select(
        "url", "position", lower_arr(F.col("words")).alias("sent_words_l")
    )
    m = (
        grams.filter(F.regexp_like(F.col("raw_span"), F.lit(POLARITY_RGX)))
        .join(sent_words, ["url", "position"])
        .filter(~overlaps(F.col("sent_words_l"), ["complement", "complementary"],
                          lower=False))
        .drop("sent_words_l")
    )
    return _finish(m, "polarity", span_col=F.upper(F.col("raw_span")),
                   implicit=F.upper(F.col("raw_span")) != F.col("raw_span"))


def ce_v_max_mentions(grams: DataFrame, sentences: DataFrame,
                      row_ngrams: DataFrame) -> DataFrame:
    """Collector-emitter voltage mentions: value regex + CE keywords in the
    row + in-table + no vcb/base in the sentence
    (transistor_matchers.py:111-135)."""
    grams = _n_filter(grams, 1, 1)
    sent_text = sentences.select("url", "position",
                                 F.lower("text").alias("_sent_text_l"))
    m = (
        grams.filter(F.col("is_tabular"))
        .filter(F.regexp_like(F.col("raw_span"), F.lit(CE_V_MAX_RGX)))
        .join(row_ngrams, ["url", "table_id", "row"])
        .filter(overlaps(F.col("grams"), CE_KEYWORDS))
        .join(sent_text, ["url", "position"])
        .filter(~F.col("_sent_text_l").contains("vcb")
                & ~F.col("_sent_text_l").contains("base"))
        .drop("grams", "_sent_text_l")
    )
    return _finish(m, "ce_v_max")


# --------------------------------------------------------------------------
# Opamp gain / supply-current mentions (opamp_matchers.py:27-110)
# --------------------------------------------------------------------------


def _right_words(sentences: DataFrame):
    """words to the right of a gram within its sentence (fonduer
    get_right_ngrams window analog), as a lowercase array column; requires
    join to the sentence row."""
    return sentences.select("url", "position",
                            lower_arr(F.col("words")).alias("_words_l"))


def _with_row_spread(df: DataFrame, row_spread: DataFrame, alias: str) -> DataFrame:
    """Join a mention frame to a precomputed spread row-ngram table."""
    rn = row_spread.select(
        "url", "table_id", "row", F.col("grams").alias(alias)
    )
    return df.join(rn, ["url", "table_id", "row"], "left").withColumn(
        alias, F.coalesce(F.col(alias), F.array())
    )


def gain_mentions(grams: DataFrame, sentences: DataFrame,
                  row_ngrams: DataFrame, row_spread2: DataFrame,
                  col_ngrams: DataFrame) -> DataFrame:
    grams = _n_filter(grams, 1, 1)
    words = _right_words(sentences)
    m = (
        grams
        .filter(F.regexp_like(F.col("raw_span"), F.lit(GAIN_RGX)))
        .filter(F.trim(F.col("raw_span")) != "0")
        .filter((F.col("page") == 1) | F.col("is_tabular"))
    )
    m = _with_row_spread(m, row_ngrams, "_row0")
    m = _with_row_spread(m, row_spread2, "_row2")
    coln = col_ngrams.select("url", "table_id", "col",
                             F.col("grams").alias("_colg"))
    m = m.join(coln, ["url", "table_id", "col"], "left").withColumn(
        "_colg", F.coalesce(F.col("_colg"), F.array()))
    m = m.join(words, ["url", "position"])
    right = F.slice(F.col("_words_l"), F.col("wi") + F.col("n") + 1, F.lit(10))
    related = F.concat(right, lower_arr(F.col("_row2")))
    # a table cell is one sentence in this model, so the mention's own
    # words ARE its cell grams (get_cell_ngrams, opamp_matchers.py:44-47)
    cell = F.col("_words_l")
    m = (
        m.filter(~(F.array_contains(cell, "f") & F.array_contains(cell, "=")))
        .filter(~overlaps(F.col("_row0"), GAIN_FILTER_KEYWORDS))
        .filter(~overlaps(F.col("_colg"), ["condition", "conditions"]))
        .filter(overlaps(related, HERTZ_UNITS, lower=False)
                & overlaps(related, GAIN_KEYWORDS, lower=False))
        .drop("_row0", "_row2", "_colg", "_words_l")
    )
    return _finish(m, "gain")


def current_mentions(grams: DataFrame, sentences: DataFrame,
                     row_ngrams: DataFrame, row_spread5: DataFrame,
                     col_ngrams: DataFrame) -> DataFrame:
    grams = _n_filter(grams, 1, 2)
    norm = F.when(
        F.regexp_like(F.col("raw_span"), F.lit(r"^±?\s*\d+\s*\.?\s*\d*$")),
        F.regexp_replace(F.col("raw_span"), r"\s+", ""),
    ).otherwise(F.col("raw_span"))
    words = _right_words(sentences)
    m = (
        grams.withColumn("norm", norm)
        .filter(F.regexp_like(F.col("norm"), F.lit(CURRENT_RGX)))
        .filter(F.trim(F.col("norm")) != "0")
        .filter((F.col("page") == 1) | F.col("is_tabular"))
    )
    m = _with_row_spread(m, row_ngrams, "_row0")
    m = _with_row_spread(m, row_spread5, "_row5")
    coln = col_ngrams.select("url", "table_id", "col",
                             F.col("grams").alias("_colg"))
    m = m.join(coln, ["url", "table_id", "col"], "left").withColumn(
        "_colg", F.coalesce(F.col("_colg"), F.array()))
    m = m.join(words, ["url", "position"])
    right = F.slice(F.col("_words_l"), F.col("wi") + F.col("n") + 1, F.lit(10))
    related = F.concat(right, lower_arr(F.col("_row5")))
    m = (
        m.filter(~overlaps(F.col("_row0"), CURRENT_FILTER_KEYWORDS))
        .filter(~overlaps(F.col("_colg"), ["condition", "conditions"]))
        .filter(overlaps(related, CURRENT_UNITS, lower=False)
                & overlaps(related, CURRENT_KEYWORDS, lower=False))
        .drop("_row0", "_row5", "_colg", "_words_l")
    )
    return _finish(m, "current", span_col=F.col("norm"),
                   implicit=F.col("norm") != F.col("raw_span"))
