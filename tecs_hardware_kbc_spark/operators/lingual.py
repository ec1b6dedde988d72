"""Lingual-lite annotations: per-token POS/NER tags as column expressions.

The reference's parse attaches spaCy part-of-speech and entity tags to
every token (fonduer's ``Sentence.pos_tags`` / ``ner_tags``; consumed by
LFs such as ``LF_too_many_numbers_horz`` which counts ``ner_tags ==
'number'`` along a line, transistor_lfs.py:434-436, and by the mention
spaces' number checks, transistor_spaces.py:206-224). No NLP model ships
in this environment, so this module is the deterministic stand-in:
closed-class lexicons plus regex tag rules, evaluated as pure JVM column
expressions over the ``words`` array — no schema change to the parse UDF,
no Python in the hot path, and every rule is replayable in ANSI SQL (the
``kbc_lingual_tags`` driver entry hash-checks both tag streams vs DuckDB).

Tag sets (documented contract, not spaCy-identical):

- ``ner_tags``: ``number`` (the SAME numeric regex the structural row
  counts use — one definition, shared via ``NUMBER_RE``), ``unit``
  (electrical-unit lexicon), ``part`` (letter+digit part-shaped token),
  ``o`` otherwise.
- ``pos_tags``: ``NUM``, ``PUNCT``, ``SYM``, ``DET``/``ADP``/``CCONJ``
  (closed-class lexicons), ``PROPN`` (capitalized), ``NOUN`` default.

At scale the tagger is a per-row map over an array column — no shuffle,
fully inside whole-stage codegen, and column-prunable (only sentences
whose consumer asks for tags pay for them).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from tecs_hardware_kbc_spark.functions.columns import let

# One numeric definition for the whole engine: context.build_row_number_counts
# and the ner 'number' tag must agree (LF parity depends on it).
NUMBER_RE = r"^[+-]?\d+(\.\d+)?$"
# optional leading digit covers JEDEC names (2N3904, 2SD1454)
PART_RE = r"^\d?[A-Za-z]{1,4}\d{2,5}[A-Za-z]{0,3}$"
PUNCT_RE = "^[.,;:!?()\\[\\]{}\"']+$"
SYM_RE = r"^[±°%/+=<>~-]+$"

UNIT_WORDS = [
    "v", "mv", "kv", "a", "ma", "ua", "µa", "μa", "na",
    "hz", "khz", "mhz", "ghz", "w", "mw", "kw",
    "ohm", "ohms", "kohm", "mohm", "°c", "°f", "db", "pf", "nf", "uf",
]
DET_WORDS = ["the", "a", "an"]
ADP_WORDS = ["of", "in", "on", "at", "to", "for", "with", "by", "from"]
CCONJ_WORDS = ["and", "or", "nor"]


def _ner_one(w: Column) -> Column:
    lw = F.lower(w)
    return (
        F.when(w.rlike(NUMBER_RE), "number")
        .when(lw.isin(UNIT_WORDS), "unit")
        .when(w.rlike(PART_RE), "part")
        .otherwise("o")
    )


def _pos_one(w: Column) -> Column:
    lw = F.lower(w)
    return (
        F.when(w.rlike(NUMBER_RE), "NUM")
        .when(w.rlike(PUNCT_RE), "PUNCT")
        .when(w.rlike(SYM_RE), "SYM")
        .when(lw.isin(DET_WORDS), "DET")
        .when(lw.isin(ADP_WORDS), "ADP")
        .when(lw.isin(CCONJ_WORDS), "CCONJ")
        .when(w.rlike("^[A-Z]"), "PROPN")
        .otherwise("NOUN")
    )


def ner_tag_col(words: Column | None = None) -> Column:
    """``array<string>`` of NER-lite tags, aligned with ``words``."""
    words = words if words is not None else F.col("words")
    return F.transform(words, _ner_one)


def pos_tag_col(words: Column | None = None) -> Column:
    """``array<string>`` of POS-lite tags, aligned with ``words``."""
    words = words if words is not None else F.col("words")
    return F.transform(words, _pos_one)


def with_lingual(sentences: DataFrame, words_col: str = "words") -> DataFrame:
    """Attach ``pos_tags`` and ``ner_tags`` arrays to a sentence frame —
    the lingual leg of the reference's parse, as a zero-shuffle map."""
    w = F.col(words_col)
    return sentences.withColumn("pos_tags", pos_tag_col(w)) \
                    .withColumn("ner_tags", ner_tag_col(w))


# --- dependency-lite (dep_parents / dep_labels) -------------------------
#
# The reference's sentence schema carries spaCy `dep_parents`/`dep_labels`
# per token (transistor_spaces.py:206-224). No reference LF consumes a
# dependency arc, so this is schema parity, not LF-critical behavior; the
# tagger is a deterministic head-rule stand-in over the POS-lite tags
# (documented contract, not spaCy-identical):
#
# - the ROOT is the LAST nominal (NOUN/PROPN) token — datasheet NPs are
#   head-final ("BC546 NPN Silicon Transistor" -> "Transistor") — or
#   token 0 when the sentence has no nominal;
# - DET -> next nominal (det), ADP -> next nominal (case),
#   CCONJ -> next nominal (cc), NUM -> next nominal (nummod),
#   nominals -> next nominal (compound), SYM -> next NUM (sym),
#   PUNCT -> root (punct); every "next" falls back to the root.
#
# Parents always point forward to a nominal (or to the root), so the
# result is a tree by construction. Everything is column expressions over
# the words array; the `kbc_dep_tags` driver entry replays both streams
# in SQL.

NOMINAL_TAGS = ("NOUN", "PROPN")


def dep_col(words: Column | None = None) -> Column:
    """``struct<dep_parents array<int>, dep_labels array<string>>`` for a
    sentence's words: 0-based head indices (-1 for the root) + labels."""
    words = words if words is not None else F.col("words")
    pos = pos_tag_col(words)
    idx = F.sequence(F.lit(0), F.size(words) - 1)

    def build(p):
        def tag(j):
            return F.element_at(p, (j + 1).cast("int"))

        noms = F.filter(idx, lambda j: tag(j).isin(*NOMINAL_TAGS))
        nums = F.filter(idx, lambda j: tag(j) == "NUM")
        env = F.struct(
            p.alias("pos"), noms.alias("noms"), nums.alias("nums"),
            F.coalesce(F.array_max(noms), F.lit(0)).alias("root"))

        def out(e):
            def etag(i):
                return F.element_at(e["pos"], (i + 1).cast("int"))

            def nxt(arr, i):
                return F.array_min(F.filter(arr, lambda j: j > i))

            parent = F.transform(idx, lambda i: F.when(
                i == e["root"], F.lit(-1)).when(
                etag(i) == "PUNCT", e["root"]).when(
                etag(i) == "SYM",
                F.coalesce(nxt(e["nums"], i), e["root"])).otherwise(
                F.coalesce(nxt(e["noms"], i), e["root"])).cast("int"))
            label = F.transform(idx, lambda i: F.when(
                i == e["root"], F.lit("root")).when(
                etag(i) == "PUNCT", F.lit("punct")).when(
                etag(i) == "SYM", F.lit("sym")).when(
                etag(i) == "DET", F.lit("det")).when(
                etag(i) == "ADP", F.lit("case")).when(
                etag(i) == "CCONJ", F.lit("cc")).when(
                etag(i) == "NUM", F.lit("nummod")).otherwise(
                F.lit("compound")))
            return F.struct(parent.alias("dep_parents"),
                            label.alias("dep_labels"))

        return let(env, out)

    return let(pos, build)


def with_dependencies(sentences: DataFrame,
                      words_col: str = "words") -> DataFrame:
    """Attach ``dep_parents`` / ``dep_labels`` arrays — the dependency leg
    of the reference's sentence schema, as a zero-shuffle map."""
    d = dep_col(F.col(words_col))
    return (sentences.withColumn("_dep", d)
            .withColumn("dep_parents", F.col("_dep.dep_parents"))
            .withColumn("dep_labels", F.col("_dep.dep_labels"))
            .drop("_dep"))


def dep_sql(words_sql: str) -> tuple[str, str]:
    """(parent_expr, label_expr) over 1-BASED token index ``i`` for the
    DuckDB replay — callers unnest ``generate_series(1, len(words))`` and
    must have columns ``pos`` (the lingual_sql pos list) in scope.
    Parents are emitted 0-based (-1 root) to match dep_col."""
    noms = ("list_filter(generate_series(1, len(pos)), "
            "j -> list_extract(pos, j) IN ('NOUN', 'PROPN'))")
    nums = ("list_filter(generate_series(1, len(pos)), "
            "j -> list_extract(pos, j) = 'NUM')")
    root = f"coalesce(list_aggregate({noms}, 'max'), 1)"
    nxt_nom = f"list_aggregate(list_filter({noms}, j -> j > i), 'min')"
    nxt_num = f"list_aggregate(list_filter({nums}, j -> j > i), 'min')"
    parent = f"""CASE
        WHEN i = {root} THEN -1
        WHEN list_extract(pos, i) = 'PUNCT' THEN {root} - 1
        WHEN list_extract(pos, i) = 'SYM'
            THEN coalesce({nxt_num}, {root}) - 1
        ELSE coalesce({nxt_nom}, {root}) - 1 END"""
    label = f"""CASE
        WHEN i = {root} THEN 'root'
        WHEN list_extract(pos, i) = 'PUNCT' THEN 'punct'
        WHEN list_extract(pos, i) = 'SYM' THEN 'sym'
        WHEN list_extract(pos, i) = 'DET' THEN 'det'
        WHEN list_extract(pos, i) = 'ADP' THEN 'case'
        WHEN list_extract(pos, i) = 'CCONJ' THEN 'cc'
        WHEN list_extract(pos, i) = 'NUM' THEN 'nummod'
        ELSE 'compound' END"""
    return parent, label


def count_tag(tags: Column, tag: str) -> Column:
    """How many tokens carry ``tag`` (e.g. the LF_too_many_numbers family
    counts ``'number'`` ner tags along a row/column line)."""
    return F.size(F.filter(tags, lambda t: t == F.lit(tag)))


def lingual_sql(words_sql: str) -> tuple[str, str]:
    """(pos_expr, ner_expr): the DuckDB replay of both taggers over a SQL
    expression yielding the words list — keep in lockstep with the column
    forms above (the driver entry hash-checks them)."""
    units = ", ".join(f"'{u}'" for u in UNIT_WORDS)
    dets = ", ".join(f"'{w}'" for w in DET_WORDS)
    adps = ", ".join(f"'{w}'" for w in ADP_WORDS)
    ccs = ", ".join(f"'{w}'" for w in CCONJ_WORDS)
    number = r"^[+-]?\d+(\.\d+)?$"
    punct = "^[.,;:!?()\\[\\]{}\"'']+$"
    sym = r"^[±°%/+=<>~-]+$"
    part = r"^\d?[A-Za-z]{1,4}\d{2,5}[A-Za-z]{0,3}$"
    ner = f"""list_transform({words_sql}, w -> CASE
        WHEN regexp_matches(w, '{number}') THEN 'number'
        WHEN list_contains([{units}], lower(w)) THEN 'unit'
        WHEN regexp_matches(w, '{part}') THEN 'part'
        ELSE 'o' END)"""
    pos = f"""list_transform({words_sql}, w -> CASE
        WHEN regexp_matches(w, '{number}') THEN 'NUM'
        WHEN regexp_matches(w, '{punct}') THEN 'PUNCT'
        WHEN regexp_matches(w, '{sym}') THEN 'SYM'
        WHEN list_contains([{dets}], lower(w)) THEN 'DET'
        WHEN list_contains([{adps}], lower(w)) THEN 'ADP'
        WHEN list_contains([{ccs}], lower(w)) THEN 'CCONJ'
        WHEN regexp_matches(w, '^[A-Z]') THEN 'PROPN'
        ELSE 'NOUN' END)"""
    return pos, ner
