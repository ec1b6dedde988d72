"""One benchmark run, inside the session ``run.py`` started for it.

Run as ``python3 -m perfbench.worker`` from the run's temp directory with
the checkout root on ``PYTHONPATH``. It sets up (session plus seeded
corpus on disk), times the workload through the package's public entry
points, checks the outputs and writes ``result.json`` for ``run.py``.

Workloads (one client, closed loop, ``local[<cpus>]``):

* ``checkpointed``: ``run_kbc_checkpointed`` with gold into a fresh stage
  directory (timed), then a resumed call over the complete checkpoints
  (its wall goes to the diagnostics). It is the one user of
  ``plans.lineage`` (parquet stage writes and re-reads, exploded grams).
  Both calls must give the same triples, without duplicates; that they
  equal ``run_kbc``'s is checked by the traced run, which has to run the
  layers against a reference anyway.
* ``stream``: ``streaming.kbc.kbc_stream_available_now`` drains the corpus
  in ``waves`` landed waves, without gold. Every wave after the first also
  re-lands about an eighth of the previous wave's urls one day later, which
  the seen-url anti-join must skip. The first wave is the restart cost
  (diagnostics); ``latency_s`` and ``cpu_s`` are medians over the others.

Each run times one cold pass of its operations: further laps in the same
JVM run warm and drift, so they are not comparable to the first.
``setup_s`` runs from process start to the inputs being on disk, so it
includes interpreter start, JVM launch and the first Python workers.

With ``--trace 1`` the layers run one by one under job groups instead
(``perfbench.trace``), and their output is checked against the untraced
entry points on the same input.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import statistics
import time

import pyspark.sql.functions as F
from pyspark import SparkContext

from tecs_hardware_kbc_spark.corpus import write_corpus
from tecs_hardware_kbc_spark.pipeline import run_kbc, run_kbc_checkpointed
from tecs_hardware_kbc_spark.plans.lineage import StageRunner
from tecs_hardware_kbc_spark.plans.snapshots import SnapshotTable
from tecs_hardware_kbc_spark.session import get_spark
from tecs_hardware_kbc_spark.streaming.kbc import kbc_stream_available_now

from perfbench import trace
from perfbench.proc import PeakRss, cpu_ticks, steal_share, tree_cpu_s

# pages per corpus, relations and waves per workload: what fits the
# benchmark's run budget (about a minute a run) on 4 cores
WORKLOADS = {
    "checkpointed": {"pages": 40, "relations": ["stg_temp_max"]},
    "stream": {"pages": 45, "relations": ["stg_temp_max"], "waves": 3},
}
# share of a wave's urls landed again, one day later, in the next wave
RECRAWL_EVERY = 8


def start_session(event_dir: str | None = None):
    conf = None
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
                # Spark 4 defaults to zstd, which nothing here can read
                "spark.eventLog.compress": "false"}
    spark = get_spark(extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the py4j gateway JVM itself: the JVM exits
    when its stdin closes, and its Python daemon follows it."""
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def read_corpus(spark, d: str):
    return (spark.read.parquet(f"{d}/pages.parquet"),
            spark.read.parquet(f"{d}/gold.parquet"),
            spark.read.parquet(f"{d}/gazetteer.parquet"))


def digests(triples) -> dict[str, str]:
    """sha256 per predicate over the sorted (subj, obj, prob) rows."""
    rows: dict[str, list[str]] = {}
    for r in triples.select("subj", "pred", "obj", "prob").collect():
        rows.setdefault(r["pred"], []).append(
            f"{r['subj']}\t{r['obj']}\t{r['prob']:.6f}")
    return {p: hashlib.sha256("\n".join(sorted(v)).encode()).hexdigest()
            for p, v in rows.items()}


def table_failures(triples, relations: list[str]) -> set[str]:
    """Relations with no triples, or with duplicate (subj, pred, obj)."""
    per = {r["pred"]: (r["n"], r["d"]) for r in triples.groupBy("pred").agg(
        F.count("*").alias("n"),
        F.countDistinct("subj", "obj").alias("d")).collect()}
    return {r for r in relations if r not in per or per[r][0] != per[r][1]}


class Timer:
    """Wall and process-tree CPU seconds of one timed section."""

    def __init__(self, sid: int) -> None:
        self.sid = sid

    def __enter__(self) -> "Timer":
        self._t0, self._c0 = time.perf_counter(), tree_cpu_s(self.sid)
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        self.cpu = tree_cpu_s(self.sid) - self._c0


def reference_digests(spark, corpus: str, relations: list[str]):
    """Digests of ``run_kbc`` with gold on the same corpus: the batch
    driver's triples, which the checkpointed driver must reproduce."""
    pages, gold, gaz = read_corpus(spark, corpus)
    spark.sparkContext.setJobGroup("_reference", "_reference")
    return digests(run_kbc(spark, pages, gaz, gold,
                           relations=relations).triples)


def checkpointed_call(spark, corpus: str, relations: list[str]):
    return run_kbc_checkpointed(
        spark, f"{corpus}/pages.parquet", f"{corpus}/gazetteer.parquet",
        "stages", gold_path=f"{corpus}/gold.parquet", relations=relations)


def checkpointed(spark, sid: int, corpus: str, spec: dict, diag: dict):
    """The timed fresh call, then a resumed call over its complete
    checkpoints: every stage must be skipped and the triples repeat."""
    relations = spec["relations"]
    with Timer(sid) as fresh_t:
        fresh = checkpointed_call(spark, corpus, relations)
    fresh_d = digests(fresh.triples)
    fresh_failed = table_failures(fresh.triples, relations)
    with Timer(sid) as resumed_t:
        resumed = checkpointed_call(spark, corpus, relations)
    diag["resume_s"] = resumed_t.wall
    with open("stages/metrics.json") as f:
        stages = json.load(f)["stages"]
    diag["stages"] = [s["stage"] for s in stages]
    all_skipped = all(s.get("skipped") for s in stages)
    resumed_d = digests(resumed.triples)
    failed = ({(r, "fresh") for r in fresh_failed}
              | {(r, "resumed") for r in relations
                 if not all_skipped or resumed_d.get(r) != fresh_d.get(r)})
    diag["triples"] = fresh.triples.count()
    return {"latency_s": fresh_t.wall, "cpu_s": fresh_t.cpu}, \
        2 * len(relations), failed


def stage_waves(spark, corpus: str, waves: int) -> list[set[str]]:
    """Split the corpus pages into ``waves`` files under ``staging/`` by a
    hash of the url; wave k > 0 also re-lands a hashed eighth of wave
    k - 1's urls with ``warc_ts`` one day later. Returns each wave's urls."""
    pages = spark.read.parquet(f"{corpus}/pages.parquet").withColumn(
        "_wave", F.abs(F.xxhash64("url")) % waves)
    recrawl = (pages
               .filter((F.col("_wave") < waves - 1)
                       & (F.abs(F.xxhash64("url", F.lit("recrawl")))
                          % RECRAWL_EVERY == 0))
               .withColumn("_wave", F.col("_wave") + 1)
               .withColumn("warc_ts",
                           F.col("warc_ts") + F.expr("interval 1 day")))
    landed = pages.unionByName(recrawl)
    # one file per wave: every wave's rows hash to a single partition
    landed.repartition("_wave").write.partitionBy("_wave") \
        .parquet("staging")
    urls: list[set[str]] = [set() for _ in range(waves)]
    for r in landed.select("_wave", "url").collect():
        urls[r["_wave"]].add(r["url"])
    return urls


def land(k: int, landing: str) -> None:
    """Link wave k's staged files into ``landing``: each appears whole at
    once, as a crawler commits a finished file."""
    os.makedirs(landing, exist_ok=True)
    for i, path in enumerate(sorted(
            glob.glob(f"staging/_wave={k}/*.parquet"))):
        os.link(path, f"{landing}/wave-{k}-{i}.parquet")


def drain(spark, landing: str, gaz, out: str, relations: list[str]) -> None:
    kbc_stream_available_now(
        spark, landing, gaz, f"{out}/triples", f"{out}/seen",
        f"{out}/checkpoint", f"{out}/metrics", relations=relations)


def stream_failures(spark, out: str, urls: list[set[str]],
                    relations: list[str]) -> set[int]:
    """Waves failing the exactly-once checks of a drained stream. A wave
    fails when its metrics row does not count its never-seen urls; every
    wave fails when the seen table does not hold each landed url once or
    the triples have duplicate rows or miss a relation."""
    expected_new, seen_so_far = [], set()
    for wave in urls:
        expected_new.append(len(wave - seen_so_far))
        seen_so_far |= wave
    metrics = {r["batch_id"]: r["n_new_urls"] for r in
               SnapshotTable(spark, f"{out}/metrics").read().collect()}
    failed = {k for k, n in enumerate(expected_new) if metrics.get(k) != n}
    seen = [r["url"] for r in
            SnapshotTable(spark, f"{out}/seen").read().collect()]
    triples = SnapshotTable(spark, f"{out}/triples",
                            partition_col="pred").read()
    if (len(metrics) != len(urls) or len(seen) != len(set(seen))
            or set(seen) != seen_so_far
            or table_failures(triples, relations)):
        failed = set(range(len(urls)))
    return failed


def stream(spark, sid: int, corpus: str, spec: dict, diag: dict,
           urls: list[set[str]]):
    relations = spec["relations"]
    gaz = spark.read.parquet(f"{corpus}/gazetteer.parquet")
    walls, cpus = [], []
    for k in range(len(urls)):
        land(k, "landing")
        with Timer(sid) as t:
            drain(spark, "landing", gaz, "out", relations)
        walls.append(t.wall)
        cpus.append(t.cpu)
    diag["cold_latency_s"] = walls[0]
    diag["wave_s"] = walls
    failed = stream_failures(spark, "out", urls, relations)
    triples = SnapshotTable(spark, "out/triples", partition_col="pred").read()
    diag["triples"] = triples.count()
    diag["digests"] = digests(triples)
    return {"latency_s": statistics.median(walls[1:]),
            "cpu_s": statistics.median(cpus[1:])}, len(urls), failed


def traced(spark, sid: int, corpus: str, spec: dict, workload: str,
           tr: trace.Tracer, diag: dict, urls: list[set[str]] | None):
    """Layer-by-layer run; its triples must equal the untraced entry
    point's on the same input and pass the workload's own checks.
    Returns (attempted, failed, {writer layer: directories})."""
    relations = spec["relations"]
    pages, gold, gaz = read_corpus(spark, corpus)
    if workload == "stream":
        for k in range(len(urls)):
            land(k, "landing")
            trace.traced_drain(tr, spark, "landing", gaz, "traced",
                               relations)
        failed = stream_failures(spark, "traced", urls, relations)
        got = digests(SnapshotTable(spark, "traced/triples",
                                    partition_col="pred").read())
        # the untraced drains, wave by wave, over a second landing dir
        spark.sparkContext.setJobGroup("_reference", "_reference")
        for k in range(len(urls)):
            land(k, "landing_ref")
            drain(spark, "landing_ref", gaz, "out", relations)
        want = digests(SnapshotTable(spark, "out/triples",
                                     partition_col="pred").read())
        if got != want:
            failed = set(range(len(urls)))
        outputs = {"snapshots": [f"traced/{t}" for t in
                                 ("triples", "seen", "metrics")]}
        return len(urls), failed, outputs

    runner = StageRunner(spark, "stages_traced", resume=False)
    triples, _, stages = trace.traced_kbc(tr, pages, gaz, gold, relations,
                                          runner=runner)
    diag["stages"] = stages
    failed = table_failures(triples, relations)
    if not trace.resume_stages(tr, spark, "stages_traced", stages):
        failed = set(relations)
    got = digests(triples)
    want = reference_digests(spark, corpus, relations)
    failed |= {r for r in relations if got.get(r) != want.get(r)}
    diag["triples"] = triples.count()
    return len(relations), failed, {"lineage": ["stages_traced"]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pages", type=int, default=None)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()

    spec = WORKLOADS[args.workload]
    pages = args.pages or spec["pages"]
    sid = os.getsid(0)
    cores = len(os.sched_getaffinity(0))
    ticks0 = cpu_ticks()
    diag = {"nproc": cores, "pages": pages}
    values: dict[str, float] = {}
    spark = None
    with PeakRss(sid) as rss:
        try:
            c0, s0 = tree_cpu_s(sid), time.perf_counter()
            spark = start_session("events" if args.trace else None)
            session_span = (time.perf_counter() - s0, tree_cpu_s(sid) - c0)
            spark.sparkContext.setJobGroup("_setup", "_setup")
            write_corpus(spark, "corpus", n_pages=pages, seed=args.seed)
            urls = (stage_waves(spark, "corpus", spec["waves"])
                    if "waves" in spec else None)
            setup_s = time.time() - args.spawned_at
            values["setup_s"] = diag["setup_s"] = setup_s
            if args.trace:
                tr = trace.Tracer(spark, sid)
                tr.add_span("session", *session_span)
                attempted, failed, outputs = traced(
                    spark, sid, "corpus", spec, args.workload, tr, diag,
                    urls)
            elif args.workload == "stream":
                timed, attempted, failed = stream(spark, sid, "corpus",
                                                  spec, diag, urls)
                values.update(timed)
            else:
                timed, attempted, failed = checkpointed(spark, sid, "corpus",
                                                        spec, diag)
                values.update(timed)
        finally:
            if spark is not None:
                stop_jvm(spark)
    if args.trace:
        folded = trace.fold_event_log(trace.read_event_log("events"))
        diag["spill_mb"] = sum(f["spill_bytes"]
                               for f in folded.values()) / 2**20
        values = trace.layer_metrics(tr, folded, cores, outputs)
    else:
        values["peak_rss_mb"] = rss.peak_mb
    diag["steal_share"] = steal_share(ticks0, cpu_ticks())
    diag["failed_ops"] = sorted(map(str, failed))
    with open("result.json", "w") as f:
        json.dump({"correct": not failed, "attempted": attempted,
                   "failed": len(failed), "values": values,
                   "diagnostics": diag}, f)


if __name__ == "__main__":
    main()
