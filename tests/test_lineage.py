"""StageRunner commits: Spark jobs per commit and per re-open, and the
schema recorded in each stage's lineage."""

import json

import pyspark.sql.functions as F
import pytest

from tecs_hardware_kbc_spark.plans.lineage import StageRunner


@pytest.fixture
def stage_df(spark):
    return spark.range(100).select(
        # not numeric: a scan would infer an integer partition column
        F.concat(F.lit("rel"), F.col("id") % 3).alias("pred"),
        F.col("id").alias("x"),
        F.array("id").alias("arr"))


def jobs_in(spark, group, fn):
    """(fn's result, the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn(), len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)


@pytest.mark.parametrize("partition_by", [None, ["pred"]])
def test_commit_runs_two_jobs_and_reopen_none(spark, stage_df, tmp_path,
                                              partition_by):
    runner = StageRunner(spark, str(tmp_path))
    out, n = jobs_in(spark, f"commit-{partition_by}",
                     lambda: runner.run("s", lambda: stage_df, [],
                                        partition_by))
    # the write and the per-partition count
    assert n == 2
    reopened, n = jobs_in(spark, f"reopen-{partition_by}",
                          lambda: runner.reopen("s", []))
    assert n == 0
    inferred = spark.read.parquet(str(tmp_path / "s")).schema
    assert out.schema == reopened.schema == inferred
    assert sorted(r["x"] for r in reopened.collect()) == list(range(100))
    with open(tmp_path / "s._lineage.json") as f:
        lin = json.load(f)
    assert lin["rows"] == 100 == sum(lin["partition_rows"].values())


def test_lineage_without_schema_is_rebuilt(spark, stage_df, tmp_path):
    runner = StageRunner(spark, str(tmp_path))
    runner.run("s", lambda: stage_df, ["a"])
    lineage = tmp_path / "s._lineage.json"
    lin = json.loads(lineage.read_text())
    del lin["schema"]
    lineage.write_text(json.dumps(lin))

    resumed = StageRunner(spark, str(tmp_path))
    assert resumed.reopen("s", ["a"]) is None
    out = resumed.run("s", lambda: stage_df.filter("x < 10"), ["a"])
    assert out.count() == 10
    assert not resumed.metrics[-1].get("skipped")
    assert "schema" in json.loads(lineage.read_text())
    assert StageRunner(spark, str(tmp_path)).reopen("s", ["a"]) is not None
