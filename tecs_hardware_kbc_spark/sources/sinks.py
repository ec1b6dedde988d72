"""Sinks (SURVEY S6/S7/S9). The triple sink, partitioned by predicate,
is the snapshot table (``plans/snapshots.py``); this module holds the CSV
sinks:

* probability CSV (``dump_candidates``, transistors.py:128-135);
* discrepancy CSV — FP/FN rows with human-readable notes, sorted by score
  desc (``compare_entities`` + ``sort_csv``, transistor_utils.py:29-369).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from tecs_hardware_kbc_spark.operators.scoring import ENTITY_KEY, confusion


def write_prob_csv(entities: DataFrame, path: str) -> None:
    """(doc, part, value, prob) sorted by prob desc, one CSV dir."""
    (
        entities.select("doc", "part", "value",
                        F.round("prob", 6).alias("prob"))
        .orderBy(F.desc("prob"), "doc", "part", "value")
        .coalesce(1)
        .write.mode("overwrite").option("header", True).csv(path)
    )


def write_discrepancies(pred: DataFrame, gold: DataFrame, path: str) -> None:
    """FP/FN rows with notes, the relational form of compare_entities."""
    c = confusion(pred, gold)
    fp = c["fp"].select(
        *ENTITY_KEY, F.lit("FP").alias("kind"),
        F.lit("Pipeline emitted an entity gold does not contain.").alias("note"),
    )
    fn = c["fn"].select(
        *ENTITY_KEY, F.lit("FN").alias("kind"),
        F.lit("Gold entity the pipeline missed.").alias("note"),
    )
    (
        fp.unionByName(fn)
        .orderBy(F.desc("kind"), "doc", "part", "attribute", "value")
        .coalesce(1)
        .write.mode("overwrite").option("header", True).csv(path)
    )
