"""Resumable stage checkpoints with per-stage lineage + metrics (SURVEY S5/S9).

The reference resumes via pickles and ``first_time``/``re_label`` flags
(``transistors.py:296, 351-390, 419-437``). Our equivalent: every pipeline
stage is an idempotent parquet table under ``<out_dir>/<stage>`` with a
``_lineage.json`` sidecar recording row count, wall time, input stages,
the Spark application id, per-partition row counts + skew summary
(min/max/avg rows per partition — the signal that tells an operator which
stage needs salting), and the table's schema. ``StageRunner.run`` skips
recomputation when the checkpoint is complete (parquet ``_SUCCESS`` +
lineage with a schema present, from the same input stages) — the
parquet-backed analog of Iceberg snapshot commits (swap the writer for
``writeTo(...).createOrReplace()`` on a cluster with an Iceberg catalog).

A stage is read back, after its write and on resume, with the schema
recorded in its lineage, as Delta Lake keeps a table's schema in its log:
no Spark job reads parquet footers to infer it. A lineage without a
schema is incomplete, and its stage is rebuilt.

Metrics accumulate in ``<out_dir>/metrics.json`` — the analog of the
reference's committed ``fonduer.log`` stage timings (BASELINE.md).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and map value nullable, as a
    parquet scan returns it."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True,
                                       f.metadata) for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _scan_schema(schema: StructType, partition_by: list[str]) -> StructType:
    """The schema a parquet scan infers for ``schema`` written with
    ``partitionBy(*partition_by)``: every field nullable, partition
    columns last."""
    return _nullable(StructType(
        [f for f in schema.fields if f.name not in partition_by]
        + [schema[c] for c in partition_by]))


class StageRunner:
    def __init__(self, spark: SparkSession, out_dir: str,
                 resume: bool = True) -> None:
        self.spark = spark
        self.out_dir = out_dir
        self.resume = resume
        self.metrics: list[dict] = []
        # the per-partition count runs here: AQE would run its shuffle map
        # stage as a job of its own, and its partial counts fit one task
        self._stats = spark.newSession()
        self._stats.conf.set("spark.sql.adaptive.enabled", "false")
        self._stats.conf.set("spark.sql.shuffle.partitions", "1")
        os.makedirs(out_dir, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.out_dir, stage)

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.out_dir, f"{stage}._lineage.json")

    def _complete(self, stage: str, inputs: list[str] | None) -> dict | None:
        """The stage's lineage if its checkpoint is complete: ``_SUCCESS``
        and a lineage with a schema present, and, given ``inputs``, built
        from exactly those (more relations, or another gold or visual
        table, rebuild ``triples``)."""
        path = self._lineage_path(stage)
        if not (os.path.exists(os.path.join(self._path(stage), "_SUCCESS"))
                and os.path.exists(path)):
            return None
        with open(path) as f:
            lineage = json.load(f)
        if "schema" not in lineage or (inputs is not None
                                       and lineage["inputs"] != inputs):
            return None
        return lineage

    def reopen(self, stage: str, inputs: list[str] | None = None):
        """The complete stage's table when resuming, else None. Runs no
        Spark job."""
        lineage = self._complete(stage, inputs) if self.resume else None
        if lineage is None:
            return None
        self.metrics.append({"stage": stage, "skipped": True})
        return self.spark.read.schema(
            StructType.fromJson(lineage["schema"])).parquet(self._path(stage))

    def run(self, stage: str, build, inputs: list[str] | None = None,
            partition_by: list[str] | None = None) -> DataFrame:
        """Materialize ``build()`` at the stage checkpoint, or reload it.

        ``build`` is a thunk returning the stage DataFrame — only invoked on
        a cache miss, so resumed runs never even construct skipped plans.
        A commit runs two Spark jobs: the write and the per-partition count.
        """
        out = self.reopen(stage, inputs)
        if out is not None:
            return out
        path = self._path(stage)
        t0 = time.monotonic()
        df = build()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        schema = _scan_schema(df.schema, partition_by or [])
        scan = self._stats.read.schema(schema).parquet(path)
        # per-partition lineage (north_rule): row count per scan partition,
        # plus the skew summary that tells an operator which stage needs
        # salting. The full histogram is recorded while small; above 512
        # partitions only the summary is kept.
        per_part = sorted(
            (r["p"], r["n"]) for r in
            scan.groupBy(F.spark_partition_id().alias("p"))
            .count().withColumnRenamed("count", "n").collect()
        )
        wall = time.monotonic() - t0
        counts = [n for _, n in per_part]
        skew = {
            "n_partitions": len(counts),
            "min_rows": min(counts) if counts else 0,
            "max_rows": max(counts) if counts else 0,
            "avg_rows": round(sum(counts) / len(counts), 1) if counts else 0,
        }
        lineage = {
            "stage": stage,
            "rows": sum(counts),
            "wall_s": round(wall, 3),
            "inputs": inputs or [],
            "app_id": self.spark.sparkContext.applicationId,
            # no job, and set for an all-empty stage too
            "partitions": scan.rdd.getNumPartitions(),
            "partition_skew": skew,
            "partition_rows": dict(per_part) if len(counts) <= 512 else None,
            "schema": schema.jsonValue(),
        }
        with open(self._lineage_path(stage), "w") as f:
            json.dump(lineage, f, indent=2)
        self.metrics.append(lineage)
        return self.spark.read.schema(schema).parquet(path)

    def flush_metrics(self, extra: dict | None = None) -> None:
        payload = {"stages": self.metrics, **(extra or {})}
        with open(os.path.join(self.out_dir, "metrics.json"), "w") as f:
            json.dump(payload, f, indent=2)
