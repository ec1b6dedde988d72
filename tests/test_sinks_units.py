"""Sinks (S6/S7)."""

import os

import pyspark.sql.functions as F

from tecs_hardware_kbc_spark.sources.sinks import (
    write_discrepancies,
    write_prob_csv,
    write_triples,
)


def test_triples_sink_partitioned(spark, tmp_path):
    triples = spark.createDataFrame(
        [("D#P", "polarity", "NPN", 0.9), ("D", "typ_gbp", "1100", 0.8)],
        "subj string, pred string, obj string, prob double")
    out = str(tmp_path / "triples")
    write_triples(triples, out)
    dirs = os.listdir(out)
    assert "pred=polarity" in dirs and "pred=typ_gbp" in dirs
    back = spark.read.parquet(out)
    assert back.count() == 2


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
