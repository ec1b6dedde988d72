"""The traced run: the KBC layers one by one, each under its own job group.

``traced_kbc`` calls the same public layer functions that
``pipeline.run_kbc`` composes, but sequentially, and materializes every
layer's output (``localCheckpoint``) under a Spark job group named after
the layer. Wall time and process-tree CPU (JVM plus Python workers, from
``/proc``) are taken at each layer boundary, so the pandas-UDF legs are
attributed too. Task metrics come from Spark's own event log, folded per
job group by ``fold_event_log``. Row counts and yield ratios are taken
under the ``_count`` group, outside every layer's span.

``traced_drain`` does the same for one drain of
``streaming.kbc.kbc_stream_available_now``: the stream engine runs a sink
that mirrors the package's, with the new-url selection under
``streaming``, the KBC layers as above and the three snapshot commits under
``snapshots``.

Because every layer is forced to materialize on its own and relations run
one at a time, a traced run is slower than ``run_kbc``; the per-layer
numbers say where time goes, the untraced run says how long a user waits.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from tecs_hardware_kbc_spark import pipeline as P
from tecs_hardware_kbc_spark.operators import context as X
from tecs_hardware_kbc_spark.operators import mentions as M
from tecs_hardware_kbc_spark.operators.canonicalize import (
    canonicalize_entities,
    connected_components,
    doc_alias_edges,
)
from tecs_hardware_kbc_spark.operators.extract import parse_pages
from tecs_hardware_kbc_spark.operators.labeling import (
    RELATION_NEEDS,
    apply_lfs,
    build_sentence_context,
    with_context,
)
from tecs_hardware_kbc_spark.operators.linking import entities_to_triples
from tecs_hardware_kbc_spark.operators.scoring import (
    is_dev_doc,
    tune_and_score,
)
from tecs_hardware_kbc_spark.plans.lineage import StageRunner
from tecs_hardware_kbc_spark.plans.snapshots import SnapshotTable

from perfbench.proc import tree_cpu_s

LAYERS = ["session", "ingest", "extract", "mentions.grams", "mentions",
          "context", "candidates", "labeling", "linking", "canonicalize",
          "scoring", "lineage", "snapshots", "streaming"]
# layers whose parquet output is counted as mb_written / files_written
WRITERS = ["lineage", "snapshots"]
COUNT_GROUP = "_count"
# the session layer runs no Spark task, so it reports only these
SPAN_METRICS = ["wall_s", "cpu_s", "busy"]
# threshold of run_kbc and kbc_stream_available_now without gold
DEFAULT_THRESHOLD = 0.5
# mention table each relation's candidates read (besides "part")
MENTION_KEY = {"typ_gbp": "gain", "typ_supply_current": "current"}


class Tracer:
    """Spans per layer: wall, process-tree CPU and output rows."""

    def __init__(self, spark, sid: int) -> None:
        self.spark = spark
        self.sid = sid
        self.wall = defaultdict(float)
        self.cpu = defaultdict(float)
        self.rows = defaultdict(int)
        self.counts = defaultdict(int)   # named counts for yield ratios
        self.last_rows = 0
        # wall and CPU inside spans and counts, for ``remainder``
        self.inner_wall = self.inner_cpu = 0.0

    def _group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    @contextlib.contextmanager
    def layer(self, name: str):
        self._group(name)
        t0, c0 = time.perf_counter(), tree_cpu_s(self.sid)
        try:
            yield
        finally:
            self.add_span(name, time.perf_counter() - t0,
                          tree_cpu_s(self.sid) - c0)
            self._group(COUNT_GROUP)

    @contextlib.contextmanager
    def remainder(self, name: str):
        """Attribute to ``name`` whatever of the block no inner span or
        count took (the stream engine's own work around its sink)."""
        t0, c0 = time.perf_counter(), tree_cpu_s(self.sid)
        w0, k0 = self.inner_wall, self.inner_cpu
        try:
            yield
        finally:
            self.add_span(
                name,
                time.perf_counter() - t0 - (self.inner_wall - w0),
                tree_cpu_s(self.sid) - c0 - (self.inner_cpu - k0))

    def add_span(self, name: str, wall_s: float, cpu_s: float) -> None:
        self.wall[name] += wall_s
        self.cpu[name] += cpu_s
        self.inner_wall += wall_s
        self.inner_cpu += cpu_s

    def count(self, df: DataFrame) -> int:
        self._group(COUNT_GROUP)
        t0, c0 = time.perf_counter(), tree_cpu_s(self.sid)
        try:
            return df.count()
        finally:
            self.inner_wall += time.perf_counter() - t0
            self.inner_cpu += tree_cpu_s(self.sid) - c0

    def materialize(self, name: str, df: DataFrame) -> DataFrame:
        with self.layer(name):
            out = df.localCheckpoint()
        self.last_rows = self.count(out)
        self.rows[name] += self.last_rows
        return out


def traced_kbc(tr: Tracer, pages: DataFrame, gazetteer: DataFrame,
               gold: DataFrame | None, relations: list[str],
               runner: StageRunner | None = None):
    """``run_kbc`` (canonicalize; with ``gold`` the threshold sweep, without
    it the fixed ``DEFAULT_THRESHOLD``) layer by layer.

    With ``runner``, every stage table that ``run_kbc_checkpointed`` writes
    (all mention tables, whatever the relations) is also committed through
    ``StageRunner`` under the ``lineage`` group, after its layer has
    materialized it, so ``lineage`` holds only the parquet writes, re-reads
    and partition statistics. Without it only the mention tables the
    relations read are built, as in ``run_kbc``.

    Returns ``(triples, scores, stage_names)``.
    """
    stages: list[str] = []

    def stage(name: str, df: DataFrame, partition_by=None) -> None:
        if runner is not None:
            with tr.layer("lineage"):
                runner.run(name, lambda: df, partition_by=partition_by)
            stages.append(name)

    mat = tr.materialize
    clean = mat("ingest", P.ingest(pages))
    sentences = mat("extract", parse_pages(clean))
    stage("sentences", sentences)
    compact = mat("mentions.grams", M.gram_space_compact(sentences))
    grams = M.explode_gram_arrays(compact)
    stage("grams", grams)

    row = mat("context", X.build_row_ngrams(grams))
    ctx = {"row": row,
           "col": mat("context", X.build_col_ngrams(grams)),
           "row2": mat("context", X.build_row_spread(row, 2)),
           "row5": mat("context", X.build_row_spread(row, 5))}
    extra = {}
    if "ce_v_max" in relations:
        with tr.layer("context"):   # the part-expansion UDF runs here
            ce_tables = P.build_ce_context(grams)
        extra = {k: mat("context", v) for k, v in ce_tables.items()}
    if any(r in P.UNARY_RELATIONS for r in relations):
        ctx["ncell"] = mat("context", X.build_neighbor_cell_ngrams(
            grams, directions=["RIGHT"]))
    for name, key in [("row_ngrams", "row"), ("col_ngrams", "col"),
                      ("row_spread2", "row2"), ("row_spread5", "row5")]:
        stage(name, ctx[key])
    sent_ctx = mat("labeling", build_sentence_context(
        sentences, grams, compact=compact))
    stage("sentence_context", sent_ctx)
    for k, v in extra.items():
        stage(f"ce_ctx_{k}", v)
    if "ncell" in ctx:
        stage("neighbor_cells", ctx["ncell"])

    gated = {"part": M.gated_grams(compact, M.pregate_part),
             "numeric1": M.gated_grams(compact, M.pregate_numeric(1)),
             "numeric2": M.gated_grams(compact, M.pregate_numeric(2)),
             "polarity": M.gated_grams(compact, M.pregate_polarity)}
    tr.counts["gated_grams"] += sum(tr.count(g) for g in gated.values())
    lazy = P.extract_mentions(grams, sentences, gazetteer, ctx,
                              compact=compact)
    wanted = (list(lazy) if runner is not None else
              ["part"] + [MENTION_KEY.get(r, r) for r in relations])
    mentions = {k: mat("mentions", lazy[k]) for k in wanted}
    for k, v in mentions.items():
        stage(f"mentions_{k}", v)

    with tr.layer("canonicalize"):  # its star-contraction loop runs jobs
        components = connected_components(doc_alias_edges(clean))
    components = mat("canonicalize", components)

    gold_ents = parts_by_doc = None
    totals: dict = {}
    if gold is not None:
        gold_ents = mat("scoring", P.gold_entities(gold))
        with tr.layer("scoring"):
            totals = {
                (r["attribute"], r["_dev"]): r["n"]
                for r in gold_ents.withColumn("_dev",
                                              is_dev_doc(F.col("doc")))
                .groupBy("attribute", "_dev")
                .agg(F.count("*").alias("n")).collect()}
        parts_by_doc = gold_ents.select("doc", "part").dropDuplicates()

    finals, scores = [], {}
    for rel in relations:
        cands = mat("candidates", P.relation_candidates(rel, mentions, ctx))
        scored = mat("labeling", apply_lfs(with_context(
            cands, sent_ctx, ctx["row"], ctx["col"],
            needs=set(RELATION_NEEDS[rel]), extra=extra), rel))
        stage(f"scored_{rel}", scored)
        ents = mat("linking", P.relation_entities(
            rel, scored, ctx, parts_by_doc, dedup=False))
        tr.counts["entities"] += tr.last_rows
        ents = mat("canonicalize",
                   canonicalize_entities(ents, components, on="doc"))
        b = DEFAULT_THRESHOLD
        if gold_ents is not None:
            with tr.layer("scoring"):
                b, scores[rel] = tune_and_score(
                    ents, gold_ents.filter(F.col("attribute") == rel),
                    dev_total=totals.get((rel, True), 0),
                    test_total=totals.get((rel, False), 0))
        finals.append(ents.filter(F.col("prob") > b))

    union = finals[0]
    for e in finals[1:]:
        union = union.unionByName(e)
    triples = mat("linking", entities_to_triples(union))
    stage("triples", triples, partition_by=["pred"])
    return triples, scores, stages


def traced_drain(tr: Tracer, spark, input_dir: str, gazetteer: DataFrame,
                 out_dir: str, relations: list[str]) -> None:
    """One ``kbc_stream_available_now`` drain of ``input_dir`` into the
    ``triples``, ``seen``, ``metrics`` and ``checkpoint`` directories under
    ``out_dir``, with its sink traced. What the drain spends outside the
    sink's spans (file listing, offset and commit logs) goes to
    ``streaming``."""
    triples_t = SnapshotTable(spark, f"{out_dir}/triples",
                              partition_col="pred")
    seen_t = SnapshotTable(spark, f"{out_dir}/seen")
    metrics_t = SnapshotTable(spark, f"{out_dir}/metrics")

    def sink(batch: DataFrame, batch_id: int) -> None:
        key = f"batch-{batch_id}"
        w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
        latest = (batch.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn"))
        if seen_t.current_version() > 0:
            latest = latest.join(seen_t.read(), "url", "left_anti")
        new_pages = tr.materialize("streaming", latest)
        n_new = tr.last_rows
        n_rows = tr.count(batch)
        tr.counts["landed_urls"] += tr.count(batch.select("url").distinct())
        tr.counts["new_urls"] += n_new
        n_triples = 0
        if n_new > 0:
            triples, _, _ = traced_kbc(tr, new_pages, gazetteer, None,
                                       relations)
            n_triples = tr.last_rows
            with tr.layer("snapshots"):
                triples_t.append(triples, idempotency_key=key,
                                 summary={"n_pages": n_new})
                seen_t.append(new_pages.select("url"), idempotency_key=key)
            tr.rows["snapshots"] += n_triples + n_new
        with tr.layer("snapshots"):
            metrics_t.append(spark.createDataFrame(
                [(int(batch_id), n_rows, n_new, n_triples)],
                "batch_id long, n_rows long, n_new_urls long, "
                "n_triples long").coalesce(1), idempotency_key=key)
        tr.rows["snapshots"] += 1

    schema = ("url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    with tr.remainder("streaming"):
        (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 64).parquet(input_dir)
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", f"{out_dir}/checkpoint")
         .trigger(availableNow=True).start().awaitTermination())


def resume_stages(tr: Tracer, spark, out_dir: str,
                  stages: list[str]) -> bool:
    """Re-open every stage ``traced_kbc`` committed, as a resumed
    ``StageRunner`` does; True when every one was skipped (complete)."""
    runner = StageRunner(spark, out_dir, resume=True)

    def missing():
        raise RuntimeError("stage checkpoint is incomplete")

    with tr.layer("lineage"):
        for name in stages:
            runner.run(name, missing)
    return all(m.get("skipped") for m in runner.metrics)


def read_event_log(log_dir: str) -> list[dict]:
    """Every event under ``log_dir``, in order: Spark 4 writes a rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` directory, kept uncompressed by
    ``spark.eventLog.compress=false``."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*",
                                          "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _no_tasks() -> dict:
    return {"jobs": 0, "tasks": 0, "run_ms": [], "gc_ms": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0}


def fold_event_log(events: list[dict]) -> dict[str, dict]:
    """Task metrics folded per job group.

    Each stage belongs to the group of the first job that lists it (a
    stage reused by a later job is skipped there, its tasks ran once).
    Returns ``{group: {jobs, tasks, run_ms: [...], gc_ms,
    shuffle_write_bytes, spill_bytes}}``."""
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict] = defaultdict(_no_tasks)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics") or {}
            agg = out[group]
            agg["tasks"] += 1
            agg["run_ms"].append(m.get("Executor Run Time", 0))
            agg["gc_ms"] += m.get("JVM GC Time", 0)
            agg["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(out)


def written(dirs: list[str]) -> tuple[float, int]:
    """(MiB, files) under ``dirs``."""
    n_bytes = n_files = 0
    for d in dirs:
        for dirpath, _, files in os.walk(d):
            for name in files:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, name))
    return n_bytes / 2**20, n_files


def layer_metrics(tr: Tracer, folded: dict[str, dict], cores: int,
                  outputs: dict[str, list[str]]) -> dict[str, float]:
    """``<layer>.<metric>`` for every layer in ``LAYERS``; a layer the
    workload never reached reports zeros. ``outputs`` maps a layer of
    ``WRITERS`` to the directories it wrote."""
    out: dict[str, float] = {}
    for name in LAYERS:
        f = folded.get(name) or _no_tasks()
        wall, cpu = tr.wall.get(name, 0.0), tr.cpu.get(name, 0.0)
        run_ms = f["run_ms"]
        median = statistics.median(run_ms) if run_ms else 0
        m = {
            "wall_s": wall,
            "cpu_s": cpu,
            "busy": cpu / (wall * cores) if wall > 0 else 0.0,
            "jobs": f["jobs"],
            "tasks": f["tasks"],
            "rows_out": tr.rows.get(name, 0),
            "shuffle_write_mb": f["shuffle_write_bytes"] / 2**20,
            "gc_s": f["gc_ms"] / 1000,
            "task_skew": max(run_ms) / max(median, 1) if run_ms else 0.0,
        }
        if name == "session":
            m = {k: m[k] for k in SPAN_METRICS}
        out.update({f"{name}.{k}": v for k, v in m.items()})
    c, rows = tr.counts, tr.rows
    out["mentions.yield"] = (rows["mentions"] / c["gated_grams"]
                             if c["gated_grams"] else 0.0)
    out["linking.yield"] = (c["entities"] / rows["candidates"]
                            if rows["candidates"] else 0.0)
    out["streaming.new_share"] = (c["new_urls"] / c["landed_urls"]
                                  if c["landed_urls"] else 0.0)
    for name in WRITERS:
        mb, files = written(outputs.get(name, []))
        out[f"{name}.mb_written"] = mb
        out[f"{name}.files_written"] = files
    return out
