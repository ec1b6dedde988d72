"""Visual-coordinate alignment: the bbox predicates must DISAGREE with
the structural proxies on planted cases (the whole point of carrying
coordinates), fall back to structural where coords are null, and swap
into the throttlers and LF twins when a sidecar is supplied."""

import pyspark.sql.functions as F
import pytest

from tecs_hardware_kbc_spark.operators.candidates import (
    aligned,
    stg_temp_candidates,
)
from tecs_hardware_kbc_spark.operators.visual import (
    aligned_hybrid,
    attach_visual,
    both_in_top_third_viz,
    horz_aligned_viz,
    synthetic_visual_coords,
    vert_aligned_viz,
)

MENTION_SCHEMA = ("url string, position int, span string, table_id int, "
                  "row int, col int, page int, is_tabular boolean")


def _mentions(spark, rows):
    return spark.createDataFrame(rows, MENTION_SCHEMA)


def _visual(spark, rows):
    return spark.createDataFrame(
        rows, "url string, position int, v_top double, v_left double, "
              "v_bottom double, v_right double")


@pytest.fixture(scope="module")
def planted(spark):
    """Four planted (part, attr) pairs in one table:

    P1/A1 same row, bboxes vertically disjoint -> structural TRUE, viz FALSE
    P2/A2 different row+col, y-bands overlap   -> structural FALSE, viz TRUE
    P3/A3 same row, no coords                  -> both use structural TRUE
    P4/A4 same row, same y-band                -> both TRUE
    P5/A5 different row+col, x-bands overlap   -> structural FALSE, viz TRUE
                                                  (the vert-aligned flavor)
    """
    parts = _mentions(spark, [
        ("u", 0, "P1", 1, 0, 0, 1, True),
        ("u", 2, "P2", 1, 2, 0, 1, True),
        ("u", 4, "P3", 1, 4, 0, 1, True),
        ("u", 6, "P4", 1, 6, 0, 1, True),
        ("u", 8, "P5", 1, 8, 0, 1, True),
    ])
    attrs = _mentions(spark, [
        ("u", 1, "A1", 1, 0, 5, 1, True),
        ("u", 3, "A2", 1, 3, 5, 1, True),
        ("u", 5, "A3", 1, 4, 5, 1, True),
        ("u", 7, "A4", 1, 6, 5, 1, True),
        ("u", 9, "A5", 1, 9, 5, 1, True),
    ])
    visual = _visual(spark, [
        ("u", 0, 100.0, 0.0, 118.0, 50.0),    # P1
        ("u", 1, 400.0, 300.0, 418.0, 350.0),  # A1: same row, far below
        ("u", 2, 200.0, 0.0, 218.0, 50.0),     # P2
        ("u", 3, 205.0, 300.0, 223.0, 350.0),  # A2: y-overlap, diff row/col
        ("u", 6, 500.0, 0.0, 518.0, 50.0),     # P4
        ("u", 7, 500.0, 300.0, 518.0, 350.0),  # A4: same y-band
        ("u", 8, 600.0, 0.0, 618.0, 50.0),     # P5
        ("u", 9, 700.0, 10.0, 718.0, 60.0),    # A5: x-overlap, far below
        # P3/A3: no rows -> null coords -> structural fallback
    ])
    return parts, attrs, visual


def _align_map(pairs_df, pred):
    rows = pairs_df.withColumn("_al", pred).collect()
    return {(r["p_span"], r["a_span"]): r["_al"] for r in rows}


def test_visual_disagrees_with_structural_where_planted(spark, planted):
    from tecs_hardware_kbc_spark.operators.candidates import pair_mentions
    parts, attrs, visual = planted
    pairs = attach_visual(
        pair_mentions(parts, attrs, salt_threshold=None), visual)
    structural = _align_map(pairs, aligned())
    hybrid = _align_map(pairs, aligned_hybrid())
    # planted disagreements
    assert structural[("P1", "A1")] and not hybrid[("P1", "A1")]
    assert not structural[("P2", "A2")] and hybrid[("P2", "A2")]
    assert not structural[("P5", "A5")] and hybrid[("P5", "A5")]
    # fallback (no coords) and agreement rows
    assert structural[("P3", "A3")] and hybrid[("P3", "A3")]
    assert structural[("P4", "A4")] and hybrid[("P4", "A4")]


def test_horz_vert_center_overlap_semantics(spark, planted):
    from tecs_hardware_kbc_spark.operators.candidates import pair_mentions
    parts, attrs, visual = planted
    pairs = attach_visual(
        pair_mentions(parts, attrs, salt_threshold=None), visual)
    horz = _align_map(pairs, horz_aligned_viz())
    vert = _align_map(pairs, vert_aligned_viz())
    assert horz[("P2", "A2")] is True      # y centers inside each other
    assert horz[("P1", "A1")] is False
    assert vert[("P4", "A4")] is False     # x-bands 0-50 vs 300-350
    assert vert[("P5", "A5")] is True      # x-bands 0-50 and 10-60 overlap
    assert horz[("P5", "A5")] is False     # y 600 vs 700


def test_throttler_uses_visual_when_sidecar_present(spark, planted):
    parts, attrs, visual = planted
    with_viz = {(r["p_span"], r["a_span"])
                for r in stg_temp_candidates(parts, attrs,
                                             visual=visual).collect()}
    without = {(r["p_span"], r["a_span"])
               for r in stg_temp_candidates(parts, attrs).collect()}
    assert ("P1", "A1") in without and ("P1", "A1") not in with_viz
    assert ("P2", "A2") not in without and ("P2", "A2") in with_viz
    assert ("P3", "A3") in with_viz and ("P4", "A4") in with_viz


def test_top_third_percentile(spark, planted):
    from tecs_hardware_kbc_spark.operators.candidates import pair_mentions
    parts, attrs, visual = planted
    pairs = attach_visual(
        pair_mentions(parts, attrs, salt_threshold=None), visual)
    structural = (F.col("p_position") <= 1) & (F.col("a_position") <= 1)
    tt = _align_map(pairs, both_in_top_third_viz(structural=structural))
    # P1 top=100 (<264) but A1 top=400 -> viz FALSE even though
    # the structural proxy (positions 0 and 1) would say TRUE
    assert tt[("P1", "A1")] is False
    # P3/A3 have no coords -> structural proxy (positions 4,5 > 1) FALSE
    assert tt[("P3", "A3")] is False
    # P2 (200) / A2 (205) both above 264 -> TRUE
    assert tt[("P2", "A2")] is True


def test_lf_override_applied_when_visual_columns_present(spark):
    from tecs_hardware_kbc_spark.operators.labeling import (
        _visual_lf_overrides)
    ov = _visual_lf_overrides("polarity")
    assert set(ov) == {"part_viz_aligned", "both_in_top_third"}
    assert _visual_lf_overrides("ce_v_max") == {}


def test_synthetic_coords_cover_a_slice_and_mirror_structure(spark):
    sents = spark.createDataFrame(
        [(f"u{i}", p, 1, p // 3, p % 3) for i in range(8) for p in range(6)],
        "url string, position int, table_id int, row int, col int")
    viz = synthetic_visual_coords(sents, doc_fraction_mod=2)
    urls = {r["url"] for r in viz.select("url").distinct().collect()}
    assert 0 < len(urls) < 8            # a slice, not all docs
    wrapped = {
        u for u in urls
        if spark.sql(f"select pmod(xxhash64('{u}'), 4) = 0").first()[0]}
    assert wrapped and wrapped < urls   # both sub-slices populated
    rows = viz.join(sents, ["url", "position"]).collect()
    by_row = {}
    for r in rows:
        by_row.setdefault((r["url"], r["row"]), set()).add(r["v_top"])
    for (u, _), bands in by_row.items():
        if u in wrapped:
            # narrow tables wrap: one structural row -> TWO y-bands
            # (cols 0-1 on the first line, col 2 on the second)
            assert len(bands) == 2
        else:
            # same table row -> same y-band (visually horz-aligned)
            assert len(bands) == 1
    # within a wrapped row, columns on the same line segment share a band
    seg = {}
    for r in rows:
        if r["url"] in wrapped:
            seg.setdefault((r["url"], r["row"], r["col"] >= 2),
                           set()).add(r["v_top"])
    assert all(len(v) == 1 for v in seg.values())


def test_wrapped_layout_disagrees_at_corpus_scale(spark, tmp_path_factory):
    """VERDICT r3 #7: on the planted two-record |part|Tstg|part|Tstg|
    rows, visual-on must measurably CHANGE the stg_temp candidate set
    (the wrapped rendering rejects the structurally-aligned cross-record
    pairs), while both runs keep scoring >= 0.95 — the cross pairs are
    entity-level duplicates, so only the candidate geometry moves."""
    from tecs_hardware_kbc_spark.corpus import distributed_corpus
    from tecs_hardware_kbc_spark.operators import mentions as M
    from tecs_hardware_kbc_spark.operators.extract import parse_pages
    from tecs_hardware_kbc_spark.pipeline import ingest, run_kbc

    # 120 pages for a stable test slice; noise=False strips the planted
    # 3% unreachable-gold recall ceiling so the 0.95 gates measure the
    # engine, not the corpus's own noise floor
    pages, gold, gaz = distributed_corpus(spark, 120, seed=11, noise=False)
    sents = parse_pages(ingest(pages)).localCheckpoint()
    viz = synthetic_visual_coords(sents).localCheckpoint()
    grams = M.explode_gram_arrays(M.gram_space_compact(sents))
    parts = M.part_mentions(grams, gaz).localCheckpoint()
    temps = M.temp_mentions(grams, "min").localCheckpoint()

    c_off = stg_temp_candidates(parts, temps)
    c_on = stg_temp_candidates(parts, temps, visual=viz)
    n_off, n_on = c_off.count(), c_on.count()
    assert n_on < n_off  # the wrap strictly prunes cross-record pairs

    key = ["url", "p_position", "p_span", "a_position", "a_span"]
    dropped = (c_off.select(*key)
               .exceptAll(c_on.select(*key)).select("url").distinct())
    # every dropped pair lies in a wrapped-slice doc
    assert dropped.filter(
        F.pmod(F.xxhash64("url"), F.lit(4)) != 0).count() == 0
    assert dropped.count() > 0

    for viz_arg in (None, viz):
        res = run_kbc(spark, pages, gaz, gold, visual_coords=viz_arg,
                      relations=["stg_temp_min", "stg_temp_max"])
        for rel, s in res.scores.items():
            t = s["test"]
            assert t["precision"] >= 0.95 and t["recall"] >= 0.95, \
                ("visual" if viz_arg is not None else "structural", rel, s)
