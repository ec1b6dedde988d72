"""Sinks (S6/S7)."""

from tecs_hardware_kbc_spark.sources.sinks import (
    write_discrepancies,
    write_prob_csv,
)


def test_prob_csv_sorted_desc(spark, tmp_path):
    ents = spark.createDataFrame(
        [("D1", "P1", "10", 0.2), ("D2", "P2", "20", 0.9),
         ("D3", "P3", "30", 0.5)],
        "doc string, part string, value string, prob double")
    out = str(tmp_path / "probs")
    write_prob_csv(ents, out)
    rows = spark.read.option("header", True).csv(out).collect()
    probs = [float(r["prob"]) for r in rows]
    assert probs == sorted(probs, reverse=True)


def test_discrepancy_sink(spark, tmp_path):
    pred = spark.createDataFrame(
        [("D1", "P1", "a", "1"), ("D9", "P9", "a", "9")],
        "doc string, part string, attribute string, value string")
    gold = spark.createDataFrame(
        [("D1", "P1", "a", "1"), ("D2", "P2", "a", "2")],
        "doc string, part string, attribute string, value string")
    out = str(tmp_path / "disc")
    write_discrepancies(pred, gold, out)
    rows = spark.read.option("header", True).csv(out).collect()
    kinds = {(r["kind"], r["doc"]) for r in rows}
    assert ("FP", "D9") in kinds and ("FN", "D2") in kinds
    assert len(rows) == 2
