"""Resumable stage checkpoints with per-stage lineage + metrics (SURVEY S5/S9).

The reference resumes via pickles and ``first_time``/``re_label`` flags
(``transistors.py:296, 351-390, 419-437``). Our equivalent: every pipeline
stage is an idempotent parquet table under ``<out_dir>/<stage>`` with a
``_lineage.json`` sidecar recording row count, wall time, input stages,
the Spark application id, and per-partition row counts + skew summary
(min/max/avg rows per partition — the signal that tells an operator which
stage needs salting). ``StageRunner.run`` skips recomputation when the
checkpoint is complete (parquet ``_SUCCESS`` + lineage present, from the
same input stages) — the parquet-backed analog of Iceberg snapshot
commits (swap the writer for ``writeTo(...).createOrReplace()`` on a
cluster with an Iceberg catalog).

Metrics accumulate in ``<out_dir>/metrics.json`` — the analog of the
reference's committed ``fonduer.log`` stage timings (BASELINE.md).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F


class StageRunner:
    def __init__(self, spark: SparkSession, out_dir: str,
                 resume: bool = True) -> None:
        self.spark = spark
        self.out_dir = out_dir
        self.resume = resume
        self.metrics: list[dict] = []
        os.makedirs(out_dir, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.out_dir, stage)

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.out_dir, f"{stage}._lineage.json")

    def is_complete(self, stage: str, inputs: list[str] | None = None) -> bool:
        """``_SUCCESS`` and lineage present, and, given ``inputs``, built
        from exactly those (more relations, or another gold or visual
        table, rebuild ``triples``)."""
        lineage = self._lineage_path(stage)
        if not (os.path.exists(os.path.join(self._path(stage), "_SUCCESS"))
                and os.path.exists(lineage)):
            return False
        if inputs is None:
            return True
        with open(lineage) as f:
            return json.load(f)["inputs"] == inputs

    def reopen(self, stage: str, inputs: list[str] | None = None):
        """The complete stage's table when resuming, else None."""
        if not (self.resume and self.is_complete(stage, inputs)):
            return None
        self.metrics.append({"stage": stage, "skipped": True})
        return self.spark.read.parquet(self._path(stage))

    def run(self, stage: str, build, inputs: list[str] | None = None,
            partition_by: list[str] | None = None) -> DataFrame:
        """Materialize ``build()`` at the stage checkpoint, or reload it.

        ``build`` is a thunk returning the stage DataFrame — only invoked on
        a cache miss, so resumed runs never even construct skipped plans.
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
        out = self.spark.read.parquet(path)
        # per-partition lineage (north_rule): row count per scan partition,
        # plus the skew summary that tells an operator which stage needs
        # salting. The full histogram is recorded while small; above 512
        # partitions only the summary is kept.
        per_part = sorted(
            (r["p"], r["n"]) for r in
            out.groupBy(F.spark_partition_id().alias("p"))
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
            "partitions": out.rdd.getNumPartitions(),
            "partition_skew": skew,
            "partition_rows": dict(per_part) if len(counts) <= 512 else None,
        }
        with open(self._lineage_path(stage), "w") as f:
            json.dump(lineage, f, indent=2)
        self.metrics.append(lineage)
        return out

    def flush_metrics(self, extra: dict | None = None) -> None:
        payload = {"stages": self.metrics, **(extra or {})}
        with open(os.path.join(self.out_dir, "metrics.json"), "w") as f:
            json.dump(payload, f, indent=2)
