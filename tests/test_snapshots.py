"""Snapshot-table commit protocol: atomic visibility, idempotent
appends, one file scan per read, partition pruning by Spark."""

import glob
import json
import os

import pyspark.sql.functions as F
import pytest

from tecs_hardware_kbc_spark.plans.snapshots import SnapshotTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, pred string, val string")


def _file_scans(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count(
        "FileScan")


def _files_read(df) -> int:
    """The "number of files read" of the one scan that ``df`` ran
    (``inputFiles()`` lists the whole index of a path-based read)."""
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    return scan.metrics().apply("numFiles").value()


def test_append_read_time_travel(spark, tmp_path_factory):
    t = SnapshotTable(spark, str(tmp_path_factory.mktemp("snap") / "t"))
    assert t.current_version() == 0
    with pytest.raises(ValueError):
        t.read()
    v1 = t.append(_df(spark, [(1, "a", "x")]))
    v2 = t.append(_df(spark, [(2, "b", "y")]))
    assert (v1, v2) == (1, 2)
    assert {r["id"] for r in t.read().collect()} == {1, 2}


def test_idempotent_append_skips_replay(spark, tmp_path_factory):
    t = SnapshotTable(spark, str(tmp_path_factory.mktemp("snap") / "t"))
    assert t.append(_df(spark, [(1, "a", "x")]), "batch-0") == 1
    assert t.append(_df(spark, [(1, "a", "x")]), "batch-0") is None
    assert t.current_version() == 1
    assert t.read().count() == 1
    assert t.append(_df(spark, [(2, "a", "x")]), "batch-1") == 2


def test_partition_pruning_at_the_manifest(spark, tmp_path_factory):
    """A filter on the partition column prunes the one scan to that
    partition's directories; the column keeps its stored string type."""
    t = SnapshotTable(spark, str(tmp_path_factory.mktemp("snap") / "t"),
                      partition_col="pred")
    t.append(_df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "a", "z")]))
    t.append(_df(spark, [(4, "b", "w"), (5, "7", "v")]))
    got = t.read().filter(F.col("pred") == "a")
    rows = got.collect()
    assert {r["id"] for r in rows} == {1, 3}
    assert all(r["pred"] == "a" for r in rows)
    # the scan opened exactly the pred=a files
    assert _files_read(got) == len(glob.glob(f"{t.dir}/data/*/pred=a/*"
                                             ".parquet")) > 0
    assert dict(t.read().dtypes)["pred"] == "string"
    empty = t.read().filter(F.col("pred") == "zz")
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "pred", "val"}


def test_read_is_one_file_scan_over_many_commits(spark, tmp_path_factory):
    t = SnapshotTable(spark, str(tmp_path_factory.mktemp("snap") / "t"),
                      partition_col="pred")
    row = _df(spark, [(0, "a", "x")]).coalesce(1).localCheckpoint()
    for i in range(200):
        t.append(row, idempotency_key=f"batch-{i}")
    got = t.read()
    assert _file_scans(got) == 1
    assert got.count() == 200


def test_uncommitted_directory_is_invisible(spark, tmp_path_factory):
    t = SnapshotTable(spark, str(tmp_path_factory.mktemp("snap") / "t"),
                      partition_col="pred")
    t.append(_df(spark, [(1, "a", "x")]))
    # a writer that crashed between its data write and its publish
    (_df(spark, [(7, "a", "q")]).write.partitionBy("pred")
     .parquet(os.path.join(t._data_dir, "commit=2-deadbeef")))
    assert [r["id"] for r in t.read().collect()] == [1]


def test_zero_row_append_reads_back_empty(spark, tmp_path_factory):
    t = SnapshotTable(spark, str(tmp_path_factory.mktemp("snap") / "t"),
                      partition_col="pred")
    assert t.append(_df(spark, []), idempotency_key="batch-0") == 1
    got = t.read()
    assert got.count() == 0
    assert set(got.columns) == {"id", "pred", "val"}


def test_commit_conflict_rebases_to_next_version(spark, tmp_path_factory):
    t = SnapshotTable(spark, str(tmp_path_factory.mktemp("snap") / "t"))
    t.append(_df(spark, [(1, "a", "x")]))
    # a concurrent writer steals version 2 between head read and publish
    stolen = os.path.join(t._snap_dir, "v2.json")
    with open(stolen, "w") as f:
        json.dump({**t._manifest(1), "version": 2, "parent": 1}, f)
    v = t.append(_df(spark, [(2, "b", "y")]))
    assert v == 3
    assert {r["id"] for r in t.read().collect()} == {1, 2}
