"""Labeling-function matrix + weak-supervision vote aggregation (SURVEY A2).

The reference computes a #cands × #LFs matrix of votes in {ABSTAIN -1,
FALSE 0, TRUE 1} (``transistor_lfs.py:28-30``) with one Python call per
(candidate, LF) pair, then fits a Snorkel ``LabelModel``
(``transistors.py:68-77``). Here ALL LFs for a relation are computed as
columns of ONE wide select over the candidate frame joined once to its
context arrays — a single whole-stage-codegen pass — and the generative
model is replaced by the north-star-sanctioned vote aggregation: a
Laplace-smoothed vote ratio

    prob = (1 + #TRUE) / (2 + #TRUE + #FALSE)

computed with ``aggregate`` over the vote array (monotone in the vote
margin, deterministic, and distributed — no driver-side model fit).

Each LF below cites its reference twin in
``hack/transistors/transistor_lfs.py`` / ``hack/opamps/opamp_matchers.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from tecs_hardware_kbc_spark.operators.candidates import aligned, same_table
from tecs_hardware_kbc_spark.operators.context import lower_arr, overlaps

ABSTAIN, FALSE, TRUE = -1, 0, 1


def _T(cond: Column) -> Column:
    return F.when(cond, TRUE).otherwise(ABSTAIN)


def _F(cond: Column) -> Column:
    return F.when(cond, FALSE).otherwise(ABSTAIN)


# context pieces each relation's LFs actually probe — with_context joins
# nothing else (the sentence-gram window join in particular is only paid by
# polarity). Keys beyond the row/col/sentence basics name entries of the
# ``extra`` context-table dict (built once per corpus in pipeline.py).
RELATION_NEEDS: dict[str, set[str]] = {
    "stg_temp_min": {"a_row", "a_col", "a_words"},
    "stg_temp_max": {"a_row", "a_col", "a_words"},
    "polarity": {"a_row", "a_col", "a_sent", "p_sent", "p_words"},
    "ce_v_max": {"a_row", "a_col", "p_row", "a_head", "a_row_parts",
                 "a_col_parts", "a_row_nnum"},
    "typ_gbp": {"a_row", "a_col"},
    "typ_supply_current": {"a_row", "a_col"},
}

# extra-context join specs: need-name -> (ctx key, mention side, axis
# column, [(output column, value column in the ctx table), ...]) — one
# LEFT JOIN per table no matter how many columns it contributes. Tables
# are keyed (url, table_id, <axis>) like row/col ngrams; missing context
# defaults to an empty array (or 0 for the count column).
_EXTRA_JOINS: dict[str, tuple[str, str, str, list[tuple[str, str]]]] = {
    "a_head_row": ("rowhead", "a_", "row", [("_a_head_row", "grams")]),
    "a_head_col": ("colhead", "a_", "col",
                   [("_a_head_col", "grams"),
                    ("_a_colhead_parts1", "parts1"),
                    ("_a_colhead_parts3", "parts3")]),
    "a_row_parts": ("row_parts", "a_", "row",
                    [("_a_row_parts1", "parts1"),
                     ("_a_row_parts3", "parts3")]),
    "a_col_parts": ("col_parts", "a_", "col",
                    [("_a_col_parts1", "parts1"),
                     ("_a_col_parts3", "parts3")]),
    "a_row_nnum": ("row_nnum", "a_", "row", [("_a_nnum", "n_numbers")]),
}


def build_sentence_context(sentences: DataFrame, grams: DataFrame, *,
                           compact: DataFrame) -> DataFrame:
    """(url, position, words, sent grams, neighbor-sentence grams) — built
    once per corpus and shared by every relation that probes sentence-level
    context. Every consumer reads the gram lists by MEMBERSHIP (overlaps /
    array_contains), so their order is free.

    The per-sentence gram list is a ``transform`` over the cached gram
    arrays of ``compact`` (a ``gram_space_compact`` table): ONE window
    shuffle total, no groupBy of the 25x-larger exploded rows and no join
    back to the sentences. ``sentences`` and ``grams`` are unread."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("url").orderBy("position")
    base = compact.select(
        "url", "position", F.col("words").alias("_words"),
        F.transform("_grams", lambda g: g["span"]).alias("_sent_grams"))
    return base.withColumn(
        "_neighbor_grams",
        F.concat(
            F.coalesce(F.lag("_sent_grams", 1).over(w), F.array()),
            F.coalesce(F.lead("_sent_grams", 1).over(w), F.array()),
        ),
    )


def with_context(cands: DataFrame, sent_ctx: DataFrame,
                 row_ngrams: DataFrame, col_ngrams: DataFrame,
                 needs: set[str] | None = None,
                 extra: dict[str, DataFrame] | None = None) -> DataFrame:
    """Join a candidate frame to exactly the context arrays its LFs probe.

    All left joins on co-partitioned keys; missing context (non-tabular
    sentences) becomes empty arrays so every LF is a total function.
    ``extra`` supplies the ce_v_max context tables (head grams, part-like
    expansions, numeric counts — see ``_EXTRA_JOINS``); the ``a_head`` need
    expands to the row-head + col-head joins concatenated into ``_a_head``.
    """
    has_part = "p_span" in cands.columns
    needs = set(needs) if needs is not None else {
        "a_row", "a_col", "a_words", "a_sent", "p_sent", "p_words"}
    extra = extra or {}
    if "a_head" in needs:
        needs -= {"a_head"}
        needs |= {"a_head_row", "a_head_col"}
    out = cands
    joins = []
    if "a_row" in needs:
        joins.append((row_ngrams, "a_", "row", [("_a_row", "grams")]))
    if "a_col" in needs:
        joins.append((col_ngrams, "a_", "col", [("_a_col", "grams")]))
    if has_part and "p_row" in needs:
        joins.append((row_ngrams, "p_", "row", [("_p_row", "grams")]))
    for need, (key, side, axis, cols) in _EXTRA_JOINS.items():
        if need in needs and key in extra:
            joins.append((extra[key], side, axis, cols))
    for tbl, side, axis, cols in joins:
        renamed = tbl.select(
            "url",
            F.col("table_id").alias(f"{side}table_id"),
            F.col(axis).alias(f"{side}{axis}"),
            *[F.col(val).alias(name) for name, val in cols],
        )
        out = out.join(
            renamed, ["url", f"{side}table_id", f"{side}{axis}"], "left",
        )
        for name, val in cols:
            default = F.lit(0) if val == "n_numbers" else F.array()
            out = out.withColumn(name, F.coalesce(F.col(name), default))
    if "_a_head_row" in out.columns and "_a_head_col" in out.columns:
        out = out.withColumn(
            "_a_head", F.concat("_a_head_row", "_a_head_col"))

    for side in ("a_", "p_") if has_part else ("a_",):
        want_sent = f"{side}sent" in needs
        want_words = want_sent or f"{side}words" in needs
        if not want_words:
            continue
        cols = ["url", F.col("position").alias(f"{side}position"),
                F.col("_words").alias(f"_{side}words")]
        if want_sent:
            cols += [F.col("_sent_grams").alias(f"_{side}sent"),
                     F.col("_neighbor_grams").alias(f"_{side}neighbor")]
        out = out.join(sent_ctx.select(*cols),
                       ["url", f"{side}position"], "left")
    return out


def _left_words(side: str, k: int) -> Column:
    """The k words left of the mention within its sentence — 0-based word
    indices [wi-k, wi-1], matching get_left_ngrams(window=k)
    (transistor_lfs.py:74,85)."""
    start = F.greatest(F.col(f"{side}wi") - k, F.lit(0)) + 1
    length = F.col(f"{side}wi") - (start - 1)
    return lower_arr(F.slice(F.col(f"_{side}words"), start, length))


def _right_words(side: str, k: int) -> Column:
    n = F.greatest(F.col(f"{side}n"), F.lit(1))
    return lower_arr(
        F.slice(F.col(f"_{side}words"), F.col(f"{side}wi") + n + 1, F.lit(k))
    )


def _aligned(side: str = "a_") -> Column:
    return F.concat(F.col(f"_{side}row"), F.col(f"_{side}col"))


def stg_temp_lfs(kind: str) -> dict[str, Column]:
    """transistor_lfs.py:55-211 (the active stg_temp set)."""
    row = F.col("_a_row")
    al = _aligned("a_")
    lfs = {
        "storage_row": _T(overlaps(row, ["storage"])),
        "temperature_row": _T(overlaps(row, ["temperature"])),
        "operating_row": _F(overlaps(row, ["operating"])),
        "tstg_row": _T(overlaps(row, ["tstg", "stg", "ts"])),
        "not_temp_relevant": _F(
            ~overlaps(al, ["storage", "temperature", "tstg", "stg", "ts"])),
        # the reference's active list carries BOTH voltage twins — two
        # textually identical LFs (transistor_lfs.py:126-144,189-203), i.e.
        # a deliberately doubled FALSE vote; reproduced by name
        "voltage_row_temp": _F(overlaps(al, ["voltage", "cbo", "ceo", "ebo", "v"])),
        "voltage_row_part": _F(overlaps(al, ["voltage", "cbo", "ceo", "ebo", "v"])),
        "current_aligned": _F(overlaps(al, ["current", "dc", "ic"])),
        "collector_aligned": _F(overlaps(
            al, ["collector", "collector-current", "collector-base",
                 "collector-emitter"])),
        "temp_on_high_page": _F(F.col("a_page") > 2),
    }
    if kind == "min":
        lfs.update({
            "to_right": _T(F.array_contains(_right_words("a_", 2), "to")),
            "positive_number_right": _T(F.exists(
                _right_words("a_", 4),
                lambda x: F.regexp_like(x, F.lit(r"^\d+")))),
            "other_minus_in_row": _F(F.array_contains(lower_arr(row), "-")),
        })
    else:
        lfs.update({
            "to_left": _T(F.array_contains(_left_words("a_", 2), "to")),
            "negative_number_left": _T(F.exists(
                _left_words("a_", 4),
                lambda x: F.regexp_like(x, F.lit(r"^-\s*\d+")))),
        })
    return lfs


def polarity_lfs() -> dict[str, Column]:
    """transistor_lfs.py:215-374 (the active polarity set).

    ``both_in_top_third`` substitutes first-blocks-of-page-1 for the PDF
    vertical percentile (no visual coords in HTML-only mode).
    ``part_complement_veto`` enables the reference's commented-out
    LF_complement_left_row (transistor_lfs.py:148-160).
    """
    a_sent_l = lower_arr(F.col("_a_sent"))
    nbr_l = F.concat(a_sent_l, lower_arr(F.col("_a_neighbor")))
    return {
        "same_page": _T(F.col("p_page") == F.col("a_page")),
        "description_aligned": _T(overlaps(_aligned("a_"),
                                           ["description", "polarity"])),
        "transistor_type": _T(overlaps(
            nbr_l,
            ["silicon", "power", "darlington", "epitaxial", "low noise",
             "ampl/switch", "switch", "surface", "mount"], lower=False)),
        "part_tabular_aligned": _T(aligned()),
        # LF_polarity_part_viz_aligned (transistor_lfs.py:219-220) reads
        # visual bbox alignment; on an HTML-only corpus the structural
        # proxy stands in (and coincides with the tabular variant). When
        # the frame carries bbox columns, apply_lfs swaps in the true
        # interval-overlap form via _visual_lf_overrides.
        "part_viz_aligned": _T(aligned()),
        "right_of_part": _T(F.array_contains(
            F.slice(F.col("_p_words"), F.col("p_wi") + F.col("p_n") + 1,
                    F.lit(10)),
            F.col("a_span"))),
        "on_early_page": _T((F.col("p_page") <= 2) & (F.col("a_page") <= 2)),
        "in_header_tag": _T(F.col("a_tag").startswith("h")),
        "both_in_top_third": _T(
            (F.col("p_page") == 1) & (F.col("a_page") == 1)
            & (F.col("p_position") <= 16) & (F.col("a_position") <= 16)),
        "complement_veto": _F(overlaps(nbr_l, ["complement", "complementary"],
                                       lower=False)),
        "both_present": _F(F.array_contains(a_sent_l, "npn")
                           & F.array_contains(a_sent_l, "pnp")),
        "part_complement_veto": _F(overlaps(
            lower_arr(F.col("_p_sent")), ["complement", "complementary"],
            lower=False)),
    }


_CE_KEYWORDS = ["collector emitter", "collector-emitter",
                "collector - emitter"]
_CE_ABBREVS = ["ceo", "vceo"]
_NON_CEV_KEYWORDS = [
    "collector-base", "collector - base", "collector base", "vcbo", "cbo",
    "vces", "emitter-base", "emitter - base", "emitter base", "vebo", "ebo",
    "breakdown", "cutoff", "breakdown voltage", "emitter breakdown",
    "emitter breakdown voltage", "current",
]
# raw-gram part-shape test of LF_ce_keywords_no_part_in_rows
# (transistor_lfs.py:656-665) — no expansion, no length floor
_PART_ISH_RGX = r"^(?:[0-9]+[A-Z]+|[A-Z]+[0-9]+)[0-9A-Z]*$"


def _prefix_match(parts: Column) -> Column:
    """any(part span startswith one of the (lowercased) context part
    ngrams) — the `_filter_non_parts` prefix probe used across the
    ce_v_max LF family."""
    p_l = F.lower(F.col("p_span"))
    return F.exists(parts, lambda g: F.startswith(p_l, g))


def _mismatch(trigger: Column, prefix_parts: Column) -> Column:
    """LF_part_miss_match family (transistor_lfs.py:630-645,676-755):
    ABSTAIN when the axis names no part-likes (``trigger``, unigram
    expansions as in the reference's n_max=1) or the candidate part
    prefix-matches one of ``prefix_parts``; FALSE otherwise.

    Deviation from the reference: the prefix set uses n <= 3 expansions, so
    a range header like "2N104A - 2N104C" credits the implied middle
    variants (the reference's n_max=1 prefix set sees only the endpoints
    and falsely vetoes them — part of why its ce_v_max F1 stops at .832)."""
    return F.when((F.size(trigger) == 0) | _prefix_match(prefix_parts),
                  ABSTAIN).otherwise(FALSE)


def ce_v_max_lfs() -> dict[str, Column]:
    """transistor_lfs.py:378-771 — the full active ce_v_max set
    (``ce_v_max_lfs = voltage_lfs + 16``), plus four extras from the
    commented pools kept from round 1.

    Structural proxies (HTML-only input, no visual coords): horz == same
    table row, vert == same column — so the ``*_horz``/``*_vert`` LFs read
    the row/col context tables and ``get_head_ngrams`` reads the min-row /
    min-col cell.
    """
    row = F.col("_a_row")
    p_row = F.col("_p_row")
    al = _aligned("a_")
    head = F.col("_a_head")
    parts3_row = F.col("_a_row_parts3")
    parts1_row = F.col("_a_row_parts1")
    parts1_col = F.col("_a_col_parts1")
    parts1_head = F.col("_a_colhead_parts1")

    ce_all = _CE_KEYWORDS + _CE_ABBREVS
    ce_in_a_row = overlaps(row, ce_all)
    non_cev_a = overlaps(row, _NON_CEV_KEYWORDS)
    non_cev_p = overlaps(p_row, _NON_CEV_KEYWORDS)
    cur_row = overlaps(row, ["i", "ic", "ma"])
    horz_aligned = same_table() & (F.col("p_row") == F.col("a_row"))
    part_ish_in_row = F.exists(
        row, lambda g: F.regexp_like(F.upper(g), F.lit(_PART_ISH_RGX)))

    return {
        # --- voltage_lfs (transistor_lfs.py:378-436) ---
        "aligned_or_global": _T(aligned() | ~F.col("p_is_tabular")),
        "voltage_not_in_table": _F(~F.col("a_is_tabular")),
        "bad_keywords_in_row": _F(overlaps(
            row, ["continuous", "cut-off", "gain", "breakdown"])),
        "current_in_row": _F(cur_row),
        "too_many_numbers_horz": _F(F.col("_a_nnum") > 3),
        # --- CE keyword set (transistor_lfs.py:446-480) ---
        "ce_keywords_in_row": _T(overlaps(row, _CE_KEYWORDS)),
        "ce_keywords_horz": _T(overlaps(row, _CE_KEYWORDS)),
        "ce_abbrevs_in_row": _T(overlaps(row, _CE_ABBREVS)),
        "ce_abbrevs_horz": _T(overlaps(row, _CE_ABBREVS)),
        "head_ends_with_ceo": _T(F.exists(
            head, lambda g: F.endswith(F.lower(g), F.lit("ceo")))),
        "non_ce_voltages_in_row": _F(non_cev_a),
        # --- part-prefix family (transistor_lfs.py:539-628) ---
        "part_ce_keywords_in_row_prefix": _T(
            ce_in_a_row & _prefix_match(parts3_row)
            & ~non_cev_a & ~cur_row),
        "part_ce_keywords_in_row_prefix_same_table": _T(
            same_table() & horz_aligned
            & ce_in_a_row & overlaps(p_row, ce_all)
            & _prefix_match(parts3_row)
            & ~non_cev_p & ~non_cev_a & ~cur_row),
        "ce_keywords_not_part_in_row_col_prefix": _T(
            ~same_table() & ce_in_a_row
            & (F.size(F.concat(parts3_row, F.col("_a_col_parts3"))) == 0)
            & ~non_cev_p & ~non_cev_a & ~cur_row),
        "part_ce_keywords_horz_prefix": _T(
            ce_in_a_row
            & F.exists(lower_arr(row),
                       lambda g: F.startswith(F.lower(F.col("p_span")), g))
            & ~non_cev_a),
        "not_valid_value": _F(~ce_in_a_row),
        "ce_keywords_no_part_in_rows": F.when(part_ish_in_row, ABSTAIN)
        .otherwise(_T(ce_in_a_row)),
        # --- part-mismatch family (transistor_lfs.py:630-755) ---
        "part_mismatch_header": _mismatch(parts1_head,
                                          F.col("_a_colhead_parts3")),
        "part_mismatch_col": _mismatch(parts1_col, F.col("_a_col_parts3")),
        "part_mismatch_row": _mismatch(parts1_row, parts3_row),
        "part_mismatch_vert": _mismatch(parts1_col, F.col("_a_col_parts3")),
        "part_mismatch_horz": _mismatch(parts1_row, parts3_row),
        # --- extras kept from round 1 (commented pools / other relations) --
        "same_table_must_align": _F(same_table() & ~aligned()),
        "low_table_num": _T(F.col("a_is_tabular")
                            & (F.col("a_table_id") <= 2)),
        "equals_in_row": _F(overlaps(row, ["="])),
        "v_aligned": _T(F.array_contains(al, "V")),
    }


def gain_lfs() -> dict[str, Column]:
    """Opamp gain LFs: the reference's ACTIVE set is the single composite
    ``pos_sen_lf`` (opamp_lfs.py:50-60,277-287 — every neg is commented
    out): TRUE iff 'gain' in the row ngrams AND typ in the vertical
    unigrams AND khz/mhz in the row AND NOT(bandwidth-without-gain),
    else FALSE (never abstains). Kept alongside the matcher-evidence
    extras from round 1 (opamp_matchers.py:28-66); vert == column under
    the structural proxy."""
    row = F.col("_a_row")
    col = F.col("_a_col")
    pos_gain = overlaps(row, ["gain"])
    pos_kw = overlaps(col, ["typ", "typ."]) & overlaps(row, ["khz", "mhz"])
    neg_kw = overlaps(row, ["bandwidth"]) & ~overlaps(row, ["gain"])
    return {
        "pos_sen_lf": F.when(pos_gain & pos_kw & ~neg_kw, TRUE)
        .otherwise(FALSE),
        # --- extras (matcher evidence, round 1) ---
        "gain_keywords_row": _T(overlaps(
            row, ["product", "gain", "unity", "bandwidth", "gbp", "gbw",
                  "gbwp"])),
        "hertz_in_row": _T(overlaps(row, ["mhz", "khz"])),
        "gain_filter_keywords": _F(overlaps(
            row, ["-3 db", "maximum", "minimum", "impedance"])),
        "first_page": _T(F.col("a_page") == 1),
        "typ_aligned": _T(overlaps(_aligned("a_"), ["typ", "typical"])),
    }


def current_lfs() -> dict[str, Column]:
    """Opamp supply-current LFs — the reference's active ``current_lfs``
    (opamp_lfs.py:224-298: pos_current, pos_current_units,
    pos_current_typ, neg_current_keywords_in_{column,vert,row},
    neg_low_page_num; vert == column under the structural proxy) plus the
    matcher-evidence extras from round 1 (opamp_matchers.py:72-99)."""
    row = F.col("_a_row")
    col = F.col("_a_col")
    neg_col_kw = ["over", "temperature", "vgn", "f", "-3", "db", "dbc",
                  "min", "max"]
    return {
        # --- reference actives ---
        "pos_current": _T(overlaps(
            row, ["supply", "quiescent", "iq", "is", "idd"])),
        # reference's list ends in 'a' (PDF symbol-font µ + a), NOT
        # the bare article 'a' — substituting bare 'a' made this TRUE vote
        # fire on nearly every row; keep the ligature form only
        "pos_current_units": _T(overlaps(
            row, ["ma", "μa", "ua", "µa", "a"])),
        "pos_current_typ": _T(overlaps(col, ["typ", "typ."])),
        "neg_current_keywords_in_column": _F(overlaps(col, neg_col_kw)),
        "neg_current_keywords_in_vert": _F(overlaps(col, neg_col_kw)),
        "neg_current_keywords_in_row": _F(overlaps(
            row, ["output", "drive", "voltage", "io"])),
        "neg_low_page_num": _F(F.col("a_page") > 8),
        # --- extras (matcher evidence, round 1) ---
        "current_filter_keywords": _F(overlaps(
            row, ["offset", "bias", "logic", "shutdown"])),
        "first_page": _T(F.col("a_page") == 1),
        "slew_veto": _F(overlaps(row, ["slew"])),
    }


def weighted_marginals(scored: DataFrame,
                       clip: float = 0.95) -> DataFrame:
    """Accuracy-weighted vote aggregation — the agreement-statistics
    stand-in for the Snorkel LabelModel (transistors.py:68-77), fully
    distributed:

    1. provisional label per candidate = sign of the unweighted vote margin;
    2. each LF's accuracy = its agreement rate with the provisional label
       over its non-abstain votes (one explode + groupBy);
    3. log-odds weights w_j = log(acc_j / (1 - acc_j)), accuracies clipped
       to [1-clip, clip];
    4. prob = sigmoid(sum of w_j * (2 v_j - 1) over non-abstain votes).

    Replaces the ``prob`` column; keeps everything else.
    """
    margin = F.aggregate(
        "lf_votes", F.lit(0),
        lambda acc, v: acc + F.when(v == TRUE, 1)
        .when(v == FALSE, -1).otherwise(0))
    base = scored.withColumn("_y", F.when(margin >= 0, 1).otherwise(0))

    votes = base.select(
        "_y", F.posexplode("lf_votes").alias("lf_idx", "vote")
    ).filter(F.col("vote") != ABSTAIN)
    acc = (
        votes.groupBy("lf_idx")
        .agg(F.avg((F.col("vote") == F.col("_y")).cast("double"))
             .alias("acc"))
        .withColumn("acc", F.least(F.greatest("acc", F.lit(1 - clip)),
                                   F.lit(clip)))
        .withColumn("w", F.log(F.col("acc") / (1 - F.col("acc"))))
    )
    weights = {r["lf_idx"]: r["w"] for r in acc.collect()}
    first = scored.select(F.size("lf_votes").alias("n")).first()
    if not weights or first is None:
        return scored
    # weight array sized to the FULL LF count (an always-abstaining LF gets
    # weight 0, not a truncated zip)
    warr = F.array(*[F.lit(float(weights.get(i, 0.0)))
                     for i in range(first["n"])])
    z = F.aggregate(
        F.zip_with("lf_votes", warr,
                   lambda v, w: F.when(v == ABSTAIN, 0.0)
                   .otherwise(w * (2 * v - 1))),
        F.lit(0.0), lambda a, x: a + x)
    return base.drop("_y").withColumn("prob", F.lit(1.0) / (1.0 + F.exp(-z)))


LF_SETS = {
    "stg_temp_min": lambda: stg_temp_lfs("min"),
    "stg_temp_max": lambda: stg_temp_lfs("max"),
    "polarity": polarity_lfs,
    "ce_v_max": ce_v_max_lfs,
    "typ_gbp": gain_lfs,
    "typ_supply_current": current_lfs,
}


def _visual_lf_overrides(relation: str) -> dict[str, Column]:
    """True-bbox forms of the LFs whose structural proxies coincide with
    their tabular variants on an HTML-only corpus (VERDICT r2 gap #2):
    applied only when the candidate frame carries visual columns, each
    falls back per-row to the structural proxy where coords are null."""
    from tecs_hardware_kbc_spark.operators.visual import (
        aligned_hybrid, both_in_top_third_viz)

    if relation == "polarity":
        structural_top_third = (
            (F.col("p_page") == 1) & (F.col("a_page") == 1)
            & (F.col("p_position") <= 16) & (F.col("a_position") <= 16))
        return {
            "part_viz_aligned": _T(aligned_hybrid()),
            "both_in_top_third": _T(
                both_in_top_third_viz(structural=structural_top_third)),
        }
    return {}


def apply_lfs(cands_ctx: DataFrame, relation: str) -> DataFrame:
    """Compute the LF vote array + aggregated marginal for one relation.

    Output keeps the candidate columns plus ``lf_votes array<int>`` (fixed
    LF order = sorted names, recorded in ``lf_names``) and ``prob``.
    """
    lfs = LF_SETS[relation]()
    if "p_v_top" in cands_ctx.columns:
        lfs.update(_visual_lf_overrides(relation))
    names = sorted(lfs)
    votes = F.array(*[lfs[n].cast("int") for n in names]).alias("lf_votes")
    out = cands_ctx.select(
        *[c for c in cands_ctx.columns if not c.startswith("_")], votes
    )
    n_true = F.aggregate("lf_votes", F.lit(0),
                         lambda acc, v: acc + F.when(v == TRUE, 1).otherwise(0))
    n_false = F.aggregate("lf_votes", F.lit(0),
                          lambda acc, v: acc + F.when(v == FALSE, 1).otherwise(0))
    out = out.withColumn(
        "prob",
        (F.lit(1.0) + n_true) / (F.lit(2.0) + n_true + n_false),
    ).withColumn("lf_names", F.array(*[F.lit(n) for n in names]))
    return out
