"""Self-test of the benchmark's own code.

    python3 -m pytest perfbench -q

The event-log fold, the metric names and the teardown are checked without
Spark; three runs on a tiny corpus then check the whole command.
"""

import json
import os
import subprocess
import sys
import time

import pytest

from perfbench import run, trace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def running(pid):
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def task_end(stage, run_ms, gc_ms=0, shuffle=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Disk Bytes Spilled": spill}}


def job_start(group, stages):
    return {"Event": "SparkListenerJobStart", "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group} if group else {}}


EVENTS = [
    job_start("context", [1, 2]),
    task_end(1, 100, gc_ms=10, shuffle=2**20),
    task_end(1, 300, spill=2**21),
    # stage 2 is listed again by the next job but ran under "context"
    job_start("labeling", [2, 3]),
    task_end(2, 200),
    task_end(3, 50, gc_ms=5),
    job_start(None, [4]),
    task_end(4, 10),
]


def test_fold_assigns_tasks_to_the_first_job_group():
    folded = trace.fold_event_log(EVENTS)
    ctx, lab = folded["context"], folded["labeling"]
    assert (ctx["jobs"], ctx["tasks"], sorted(ctx["run_ms"])) == (
        1, 3, [100, 200, 300])
    assert (ctx["gc_ms"], ctx["shuffle_write_bytes"],
            ctx["spill_bytes"]) == (10, 2**20, 2**21)
    assert (lab["jobs"], lab["tasks"], lab["gc_ms"]) == (1, 1, 5)
    assert folded[None]["tasks"] == 1


def test_event_log_is_read_in_rolling_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_2_local-1").write_text(
        json.dumps(task_end(1, 300)) + "\n")
    (d / "events_10_local-1").write_text(
        json.dumps(task_end(1, 400)) + "\n")
    (d / "events_1_local-1").write_text(
        json.dumps(job_start("context", [1])) + "\n")
    events = trace.read_event_log(str(tmp_path))
    assert events[0]["Event"] == "SparkListenerJobStart"
    assert [e["Task Metrics"]["Executor Run Time"]
            for e in events[1:]] == [300, 400]


def test_layer_metrics_names_match_benchmark():
    tr = trace.Tracer(spark=None, sid=0)
    tr.add_span("context", wall_s=2.0, cpu_s=4.0)
    out = trace.layer_metrics(tr, trace.fold_event_log(EVENTS), cores=4,
                              outputs={})
    assert set(out) == {m["name"] for m in bench()["per_layer"]}
    assert out["context.busy"] == pytest.approx(0.5)
    assert out["context.task_skew"] == pytest.approx(300 / 200)
    assert out["context.shuffle_write_mb"] == pytest.approx(1.0)
    assert out["lineage.wall_s"] == 0 and out["snapshots.files_written"] == 0


def test_stray_process_is_reported_and_killed():
    cmd = [sys.executable, "-c",
           "import subprocess; subprocess.Popen(['sleep', '60'])"]
    code, stray = run.supervise(cmd, ROOT, dict(os.environ), timeout_s=30,
                                grace_s=1)
    assert code == 0 and len(stray) == 1
    assert not running(stray[0])


def test_timeout_kills_the_whole_session():
    cmd = [sys.executable, "-c",
           "import subprocess, time; subprocess.Popen(['sleep', '60']); "
           "time.sleep(60)"]
    t0 = time.monotonic()
    code, stray = run.supervise(cmd, ROOT, dict(os.environ), timeout_s=2,
                                grace_s=1)
    assert code is None and stray == []
    assert time.monotonic() - t0 < 20


def run_bench(workload, trace_flag, pages, seed):
    """(diagnostics, result) of one run on a tiny corpus."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace_flag),
         "--pages", str(pages)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    diag, result = proc.stdout.strip().splitlines()[-2:]
    return json.loads(diag)["diagnostics"], json.loads(result)


@pytest.fixture(scope="module")
def tiny_runs():
    before = set(os.listdir(ROOT))
    runs = {(w, t): run_bench(w, t, pages=40, seed=42)
            for w, t in [("checkpointed", 0), ("checkpointed", 1),
                         ("stream", 1)]}
    # exit 0 means nothing the runs started outlived them; their
    # directories are gone too
    assert set(os.listdir(ROOT)) == before
    assert not os.path.exists(os.path.join(ROOT, run.RUNS_DIR))
    return runs


@pytest.mark.parametrize("workload,trace_flag", [
    ("checkpointed", 0), ("checkpointed", 1), ("stream", 1)])
def test_tiny_corpus_run(tiny_runs, workload, trace_flag):
    _, result = tiny_runs[workload, trace_flag]
    section = "per_layer" if trace_flag else "end_to_end"
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in bench()[section]}
    m = {k: v["value"] for k, v in result["metrics"].items()}
    if workload == "stream" and trace_flag:
        assert m["snapshots.jobs"] > 0 and m["snapshots.files_written"] > 0
        assert m["streaming.jobs"] > 0 and 0 < m["streaming.new_share"] < 1
        assert m["scoring.jobs"] == 0 and m["lineage.jobs"] == 0
    elif trace_flag:
        assert m["lineage.jobs"] > 0 and m["lineage.files_written"] > 0
        assert m["extract.wall_s"] > 0 and m["scoring.jobs"] > 0


def test_traced_stages_match_the_untraced_driver(tiny_runs):
    """The traced checkpointed run commits the same stage tables, in the
    same order, as ``run_kbc_checkpointed``."""
    untraced, _ = tiny_runs["checkpointed", 0]
    traced, _ = tiny_runs["checkpointed", 1]
    assert traced["stages"] == untraced["stages"]
