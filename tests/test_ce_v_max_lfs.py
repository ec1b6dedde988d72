"""Truth tables for the ported ce_v_max LF family
(transistor_lfs.py:378-771) over hand-built candidate frames, plus the
corpus-level check that part-mismatch distractor rows score strictly below
genuine CE rows."""

import pyspark.sql.functions as F
import pytest

from tecs_hardware_kbc_spark.operators.labeling import ABSTAIN, FALSE, TRUE, ce_v_max_lfs

_SCHEMA = (
    "p_span string, p_table_id int, a_table_id int, p_row int, a_row int, "
    "p_col int, a_col int, p_is_tabular boolean, a_is_tabular boolean, "
    "a_page int, _a_row array<string>, _p_row array<string>, "
    "_a_col array<string>, _a_head array<string>, "
    "_a_row_parts3 array<string>, _a_col_parts3 array<string>, "
    "_a_row_parts1 array<string>, _a_col_parts1 array<string>, "
    "_a_colhead_parts1 array<string>, _a_colhead_parts3 array<string>, "
    "_a_nnum int"
)

_DEFAULTS = dict(
    p_span="BC546", p_table_id=0, a_table_id=0, p_row=0, a_row=1,
    p_col=2, a_col=2, p_is_tabular=True, a_is_tabular=True, a_page=1,
    _a_row=[], _p_row=[], _a_col=[], _a_head=[],
    _a_row_parts3=[], _a_col_parts3=[], _a_row_parts1=[], _a_col_parts1=[],
    _a_colhead_parts1=[], _a_colhead_parts3=[], _a_nnum=0,
)

_COLS = [c.split(" ")[0] for c in _SCHEMA.split(", ")]


def _vote(spark, lf_name: str, **overrides) -> int:
    row = {**_DEFAULTS, **overrides}
    df = spark.createDataFrame([tuple(row[c] for c in _COLS)], _SCHEMA)
    return df.select(ce_v_max_lfs()[lf_name].cast("int").alias("v")) \
        .first()["v"]


def test_head_ends_with_ceo(spark):
    assert _vote(spark, "head_ends_with_ceo", _a_head=["VCEO"]) == TRUE
    assert _vote(spark, "head_ends_with_ceo", _a_head=["Vceo max"]) == ABSTAIN
    assert _vote(spark, "head_ends_with_ceo", _a_head=["voltage"]) == ABSTAIN
    assert _vote(spark, "head_ends_with_ceo", _a_head=[]) == ABSTAIN


def test_non_ce_voltages_in_row(spark):
    assert _vote(spark, "non_ce_voltages_in_row",
                 _a_row=["VCBO", "60"]) == FALSE
    assert _vote(spark, "non_ce_voltages_in_row",
                 _a_row=["collector base"]) == FALSE
    assert _vote(spark, "non_ce_voltages_in_row",
                 _a_row=["vceo", "45"]) == ABSTAIN


def test_too_many_numbers_horz(spark):
    assert _vote(spark, "too_many_numbers_horz", _a_nnum=4) == FALSE
    assert _vote(spark, "too_many_numbers_horz", _a_nnum=3) == ABSTAIN
    assert _vote(spark, "too_many_numbers_horz", _a_nnum=0) == ABSTAIN


def test_not_valid_value(spark):
    assert _vote(spark, "not_valid_value", _a_row=["storage"]) == FALSE
    assert _vote(spark, "not_valid_value", _a_row=["vceo"]) == ABSTAIN
    assert _vote(spark, "not_valid_value",
                 _a_row=["collector-emitter"]) == ABSTAIN


def test_ce_keywords_no_part_in_rows(spark):
    # part-shaped gram anywhere in the row -> ABSTAIN regardless of keywords
    assert _vote(spark, "ce_keywords_no_part_in_rows",
                 _a_row=["vceo", "XQ123"]) == ABSTAIN
    assert _vote(spark, "ce_keywords_no_part_in_rows",
                 _a_row=["vceo", "45"]) == TRUE
    assert _vote(spark, "ce_keywords_no_part_in_rows",
                 _a_row=["storage", "45"]) == ABSTAIN


def test_part_ce_keywords_in_row_prefix(spark):
    ok = dict(_a_row=["vceo", "BC546A/B"], _a_row_parts3=["bc546a", "bc546b"])
    assert _vote(spark, "part_ce_keywords_in_row_prefix",
                 p_span="BC546A", **ok) == TRUE
    # part does not prefix-match the row's part-likes
    assert _vote(spark, "part_ce_keywords_in_row_prefix", p_span="2N222",
                 **ok) == ABSTAIN
    # NON-CE keyword in row vetoes
    assert _vote(spark, "part_ce_keywords_in_row_prefix", p_span="BC546A",
                 _a_row=["vceo", "vcbo", "BC546A/B"],
                 _a_row_parts3=["bc546a", "bc546b"]) == ABSTAIN
    # current in row vetoes
    assert _vote(spark, "part_ce_keywords_in_row_prefix", p_span="BC546A",
                 _a_row=["vceo", "ma", "BC546A/B"],
                 _a_row_parts3=["bc546a", "bc546b"]) == ABSTAIN


def test_part_ce_keywords_in_row_prefix_same_table(spark):
    ok = dict(p_span="BC546A", p_row=1, a_row=1,
              _a_row=["vceo", "BC546A"], _p_row=["vceo", "BC546A"],
              _a_row_parts3=["bc546a"])
    assert _vote(spark, "part_ce_keywords_in_row_prefix_same_table",
                 **ok) == TRUE
    # different row (not horizontally aligned) -> abstain
    assert _vote(spark, "part_ce_keywords_in_row_prefix_same_table",
                 **{**ok, "p_row": 0}) == ABSTAIN
    # part row lacks CE keywords -> abstain
    assert _vote(spark, "part_ce_keywords_in_row_prefix_same_table",
                 **{**ok, "_p_row": ["storage"]}) == ABSTAIN


def test_ce_keywords_not_part_in_row_col_prefix(spark):
    ok = dict(p_table_id=1, a_table_id=0, _a_row=["vceo", "45"],
              _a_row_parts3=[], _a_col_parts3=[])
    assert _vote(spark, "ce_keywords_not_part_in_row_col_prefix",
                 **ok) == TRUE
    # same table -> abstain
    assert _vote(spark, "ce_keywords_not_part_in_row_col_prefix",
                 **{**ok, "p_table_id": 0}) == ABSTAIN
    # a part-like in row/col -> abstain
    assert _vote(spark, "ce_keywords_not_part_in_row_col_prefix",
                 **{**ok, "_a_row_parts3": ["xq123"]}) == ABSTAIN


def test_part_ce_keywords_horz_prefix(spark):
    assert _vote(spark, "part_ce_keywords_horz_prefix", p_span="BC546A",
                 _a_row=["vceo", "BC546"]) == TRUE
    assert _vote(spark, "part_ce_keywords_horz_prefix", p_span="2N222",
                 _a_row=["vceo", "BC546"]) == ABSTAIN


@pytest.mark.parametrize("lf,trigger_col,prefix_col", [
    ("part_mismatch_row", "_a_row_parts1", "_a_row_parts3"),
    ("part_mismatch_horz", "_a_row_parts1", "_a_row_parts3"),
    ("part_mismatch_col", "_a_col_parts1", "_a_col_parts3"),
    ("part_mismatch_vert", "_a_col_parts1", "_a_col_parts3"),
    ("part_mismatch_header", "_a_colhead_parts1", "_a_colhead_parts3"),
])
def test_part_mismatch_family(spark, lf, trigger_col, prefix_col):
    # no part-likes on the axis -> abstain
    assert _vote(spark, lf) == ABSTAIN
    # axis names a different part -> FALSE
    assert _vote(spark, lf, **{trigger_col: ["xq123"],
                               prefix_col: ["xq123"]}) == FALSE
    # part prefix-matches -> abstain
    assert _vote(spark, lf, p_span="BC546A",
                 **{trigger_col: ["bc546"], prefix_col: ["bc546"]}) == ABSTAIN
    # range-implied variant: unigram endpoints trigger, but the n<=3
    # expansion set credits the middle variant -> abstain
    assert _vote(spark, lf, p_span="2N104B",
                 **{trigger_col: ["2n104a", "2n104c"],
                    prefix_col: ["2n104a", "2n104b", "2n104c"]}) == ABSTAIN


def test_distractor_scores_below_genuine(spark, tiny_tables):
    """Corpus-level: every part-mismatch distractor candidate (value 75)
    scores strictly below the per-doc genuine CE candidates, and the best
    threshold removes all of them."""
    from tecs_hardware_kbc_spark.pipeline import kbc_graph, materialize

    t = materialize(kbc_graph(["ce_v_max"], canonicalize=False),
                    {"pages": tiny_tables["pages"],
                     "gazetteer": tiny_tables["gaz"]},
                    lambda node, build: build(), ["scored_ce_v_max"])
    scored = t["scored_ce_v_max"].cache()
    distract = scored.filter(F.col("a_span") == "75")
    genuine = scored.filter(F.col("a_span") != "75")
    n_distract = distract.count()
    assert n_distract > 0, "corpus must plant mismatch distractors"
    max_d = distract.agg(F.max("prob")).first()[0]
    # genuine candidates reach higher probability than any distractor
    assert genuine.agg(F.max("prob")).first()[0] > max_d
