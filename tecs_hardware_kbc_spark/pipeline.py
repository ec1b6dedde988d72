"""End-to-end KBC pipeline: pages -> triples (SURVEY §3 lifecycle).

The reference's hard-coded operator DAG (parse -> mentions -> candidates ->
featurize -> label -> models -> score, ``transistors.py:138-618``) is
declared ONCE here, by ``kbc_graph``: a list of named nodes, each with the
names of its inputs and a build function; Catalyst plans each one. Two
materializers run that one graph. Both build every stage's plan on the
calling thread and run the Spark jobs in one 3-wide, job-tagged thread
pool (``_job_pool``, each job described by its node's name), each node as
soon as its inputs are ready, so independent stages, the gold counts and
the per-relation tails overlap:

* ``run_kbc`` (in memory: tests, ``__spark_entry__``, streaming)
  builds only the nodes ``triples`` reaches through their inputs, and
  ``localCheckpoint``s the pinned stages;
* ``run_kbc_checkpointed`` (bench + cluster runs) commits every stage as
  a resumable parquet table with lineage (``plans.lineage.StageRunner``),
  and lists them in declared order in ``metrics.json``; a resumed run
  re-opens every complete stage, with the schema its lineage records,
  without building its plan.

Either call releases the gold entities and alias components it cached.

Differences that matter at scale:

* parse + mention + context stages are computed once per corpus and shared
  by ALL relations (the reference re-walks Postgres per relation);
* supervision = LF-matrix vote aggregation (north_star replacement for the
  Snorkel LabelModel) — fully distributed, no driver-side fit;
* threshold tuning = the one-pass sweep (scoring.threshold_sweep);
* canonicalization = connected components over alias edges;
* triples land partitioned by predicate (``partitionBy("pred")``).
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from contextlib import contextmanager
from concurrent.futures import (
    FIRST_COMPLETED,
    Future,
    ThreadPoolExecutor,
    wait,
)
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from tecs_hardware_kbc_spark.operators import candidates as C
from tecs_hardware_kbc_spark.operators import context as X
from tecs_hardware_kbc_spark.operators import mentions as M
from tecs_hardware_kbc_spark.operators.canonicalize import (
    canonicalize_entities,
    connected_components,
    doc_alias_edges,
)
from tecs_hardware_kbc_spark.operators.extract import parse_pages
from tecs_hardware_kbc_spark.operators.features import (
    encode_features,
    feature_vocabulary,
    featurize,
    fit_logreg_multitask,
    predict_logreg,
)
from tecs_hardware_kbc_spark.operators.labeling import (
    RELATION_NEEDS,
    apply_lfs,
    build_sentence_context,
    weighted_marginals,
    with_context,
)
from tecs_hardware_kbc_spark.operators.linking import (
    entities_to_triples,
    opamp_entities,
    to_entities,
    widen_aliases,
)
from tecs_hardware_kbc_spark.operators.scoring import (
    is_dev_doc,
    tune_and_score,
)
from tecs_hardware_kbc_spark.plans.lineage import StageRunner

BINARY_RELATIONS = ["stg_temp_min", "stg_temp_max", "polarity", "ce_v_max"]
UNARY_RELATIONS = ["typ_gbp", "typ_supply_current"]
ALL_RELATIONS = BINARY_RELATIONS + UNARY_RELATIONS

# context key, as the mention matchers, candidates and entities read it
# -> the stage holding that table
CONTEXT_STAGES = {"row": "row_ngrams", "col": "col_ngrams",
                  "row2": "row_spread2", "row5": "row_spread5",
                  "ncell": "neighbor_cells"}
# the ce_v_max-only context tables (build_ce_context), one stage each
CE_CONTEXT = ("rowhead", "colhead", "row_parts", "col_parts", "row_nnum")
# relation -> the MENTIONS tables its candidates read: a binary relation
# pairs the part mentions with its own, a unary one reads one table
RELATION_MENTIONS = {
    **{rel: ("part", rel) for rel in BINARY_RELATIONS},
    "typ_gbp": ("gain",),
    "typ_supply_current": ("current",),
}
# mention table -> (gram pre-gate, tables its matcher reads besides the
# sentences, matcher(grams, sentences, gazetteer, ctx)). With the compact
# gram table, each matcher explodes only its pre-gated gram subset
# (mentions.gated_grams): the explode is where context columns get
# duplicated per gram, so gating before it skips ~95% of that row traffic
# per matcher. Gates are supersets of the matchers' own first filters;
# results are identical.
MENTIONS = {
    "part": (M.pregate_part, ("gazetteer",),
             lambda g, s, gz, c: M.part_mentions(g, gz)),
    "stg_temp_min": (M.pregate_numeric(2), (),
                     lambda g, s, gz, c: M.temp_mentions(g, "min")),
    "stg_temp_max": (M.pregate_numeric(2), (),
                     lambda g, s, gz, c: M.temp_mentions(g, "max")),
    "polarity": (M.pregate_polarity, (),
                 lambda g, s, gz, c: M.polarity_mentions(g, s)),
    "ce_v_max": (M.pregate_numeric(1), ("row_ngrams",),
                 lambda g, s, gz, c: M.ce_v_max_mentions(g, s, c["row"])),
    "gain": (M.pregate_numeric(1),
             ("row_ngrams", "row_spread2", "col_ngrams"),
             lambda g, s, gz, c: M.gain_mentions(g, s, c["row"], c["row2"],
                                                 c["col"])),
    "current": (M.pregate_numeric(2),
                ("row_ngrams", "row_spread5", "col_ngrams"),
                lambda g, s, gz, c: M.current_mentions(g, s, c["row"],
                                                       c["row5"], c["col"])),
}


def ingest(pages: DataFrame, lang: str | None = "en") -> DataFrame:
    """Latest crawl per url (late re-crawl dedup) + language filter.

    Order matters: latest-crawl selection FIRST, then the language filter —
    a url whose newest crawl is non-English is dropped, not resurrected via
    a stale superseded English crawl. This mirrors ``streaming_latest_crawl``,
    which tracks the true latest crawl per url regardless of language.

    ``max_by`` aggregation, not a row_number window: one shuffle with
    map-side partial aggregation (each mapper keeps only its local latest
    per url, so shuffle volume is bounded by distinct urls per mapper even
    without a pre-filter — the window variant shuffles every duplicate row
    in full), and downstream stages read the aggregation's partitioning
    directly — no second full shuffle of the html blobs before the parse
    UDF (the session's AQE coalesce floor keeps this exchange at full
    parallelism; see session.py).
    """
    others = [c for c in pages.columns if c != "url"]
    latest = (
        pages.groupBy("url")
        .agg(F.max_by(F.struct(*others), "warc_ts").alias("_s"))
        .select("url", *[F.col(f"_s.{c}").alias(c) for c in others])
    )
    if lang:
        latest = latest.filter(F.col("lang") == lang)
    return latest


@dataclass
class KBCResult:
    triples: DataFrame
    entities: DataFrame
    scores: dict[str, dict] = field(default_factory=dict)
    thresholds: dict[str, float] = field(default_factory=dict)


def gold_entities(gold: DataFrame) -> DataFrame:
    """Gold CSV rows (filename, manuf, part, attribute, value) -> entity
    tuples, uppercased like the reference scorer (transistor_utils.py:146-159)."""
    return gold.select(
        F.upper("filename").alias("doc"),
        F.upper("part").alias("part"),
        F.col("attribute"),
        F.col("value"),
    ).dropDuplicates()


def extract_mentions(grams: DataFrame, sentences: DataFrame,
                     gazetteer: DataFrame, ctx: dict[str, DataFrame], *,
                     compact: DataFrame) -> dict[str, DataFrame]:
    """Every ``MENTIONS`` table, each over its matcher's pre-gated subset
    of the compact gram table. ``grams`` is unread."""
    return {
        k: match(M.gated_grams(compact, gate), sentences, gazetteer, ctx)
        for k, (gate, _, match) in MENTIONS.items()
    }


def build_ce_context(grams: DataFrame) -> dict[str, DataFrame]:
    """The ce_v_max-only context tables (head grams, part-like expansions,
    numeric counts) backing the part-prefix/mismatch LF family. The
    expansion vocabulary is computed once and shared (localCheckpoint so
    the pandas expansion UDF runs exactly once); each table carries every
    column its LFs probe so with_context pays ONE join per table."""
    exp = X.build_part_expansions(grams).localCheckpoint()
    return {
        "rowhead": X.build_head_grams(grams, "row"),
        "colhead": X.build_head_context(grams, exp, "col"),
        "row_parts": X.build_axis_part_grams(grams, exp, "row"),
        "col_parts": X.build_axis_part_grams(grams, exp, "col"),
        "row_nnum": X.build_row_number_counts(grams),
    }


def relation_candidates(rel: str, mentions: dict[str, DataFrame],
                        ctx: dict[str, DataFrame],
                        visual: DataFrame | None = None) -> DataFrame:
    """``mentions`` holds at least the ``RELATION_MENTIONS`` of ``rel``."""
    if rel in UNARY_RELATIONS:
        (key,) = RELATION_MENTIONS[rel]
        return C.unary_candidates(mentions[key])
    parts, own = (mentions[k] for k in RELATION_MENTIONS[rel])
    if rel in ("stg_temp_min", "stg_temp_max"):
        return C.stg_temp_candidates(parts, own, visual=visual)
    if rel == "polarity":
        return C.polarity_candidates(parts, own, ctx["row"], visual=visual)
    return C.ce_v_max_candidates(parts, own, ctx["row"], ctx["col"],
                                 visual=visual)


def relation_entities(rel: str, scored: DataFrame,
                      ctx: dict[str, DataFrame],
                      parts_by_doc: DataFrame | None,
                      dedup: bool = True) -> DataFrame:
    """``dedup=False`` when a canonicalize step follows: its final
    (ENTITY_KEY, max(prob)) aggregation subsumes the per-stage dedups,
    so the intermediate groupBys (and their Exchanges) are skipped."""
    if rel in UNARY_RELATIONS:
        return opamp_entities(scored, rel, ctx["row"], ctx["row2"],
                              ctx["row5"],
                              neighbor_cells=ctx.get("ncell"),
                              dedup=dedup)
    ents = to_entities(scored, rel, dedup=False)
    if parts_by_doc is not None:
        ents = widen_aliases(ents, parts_by_doc, dedup=dedup)
    elif dedup:
        ents = (ents.groupBy("doc", "part", "attribute", "value")
                .agg(F.max("prob").alias("prob")))
    return ents


@dataclass(frozen=True)
class Stage:
    """A table of the KBC graph: ``build(t)`` returns its plan from the
    resolved tables ``t``, on the thread that calls ``materialize``, and
    runs no Spark job. In the shared pool, ``run_kbc`` pins
    (localCheckpoints) it when ``pin`` is set and leaves it a lazy view
    otherwise; ``run_kbc_checkpointed`` commits every stage."""
    name: str
    inputs: tuple[str, ...]
    build: Callable[[dict], DataFrame]
    pin: bool = True
    partition_by: tuple[str, ...] = ()


@dataclass(frozen=True)
class Job:
    """A node whose ``build(t)`` runs Spark jobs itself and returns any
    value. It is never committed: both materializers run it in the shared
    pool."""
    name: str
    inputs: tuple[str, ...]
    build: Callable[[dict], object]


def _once(build):
    """``build(t)``, evaluated on the first call only."""
    memo = []

    def get(t):
        if not memo:
            memo.append(build(t))
        return memo[0]
    return get


def _union(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def _fit_multitask(feats: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Reference flow (transistors.py:350-567): featurize -> frozen key
    space -> shared-trunk multi-task model trained on the weak labels ->
    model marginals replace the vote ratio. ``feats``: per relation, the
    pinned featurized candidates with their vote ``prob`` and a
    ``cand_id``. The multitask trainer collects the per-relation sparse
    matrices to the driver — see the size bound in
    ``fit_logreg_multitask``'s COST CONTRACT; beyond it, use
    ``features.fit_logreg_distributed`` (spark.ml LBFGS) per task."""
    vocab = feature_vocabulary(
        _union([df.select("features") for df in feats.values()])
    ).localCheckpoint()
    vsize = vocab.count()
    # soft targets: the vote marginals themselves (the reference trains
    # Emmental on the LabelModel's probabilistic labels, not a hard
    # threshold) — cross-entropy gradient (p - y) handles y in [0, 1]
    encoded = {
        rel: encode_features(df, vocab, ["cand_id"])
        .join(df.select("cand_id", F.col("prob").alias("_y")), "cand_id")
        .localCheckpoint()
        for rel, df in feats.items()
    }
    model = fit_logreg_multitask(encoded, "_y", vsize)
    out = {}
    for rel, df in feats.items():
        pred = predict_logreg(encoded[rel], model["heads"][rel],
                              out_col="_prob_lr")
        out[rel] = (df.drop("prob", "features")
                    .join(pred.select("cand_id", "_prob_lr"), "cand_id")
                    .withColumnRenamed("_prob_lr", "prob"))
    return out


def _gold_totals(gold: DataFrame) -> dict[tuple[str, bool], int]:
    """(attribute, on the dev doc slice) -> gold entity count."""
    return {
        (r["attribute"], r["_dev"]): r["n"]
        for r in gold.withColumn("_dev", is_dev_doc(F.col("doc")))
        .groupBy("attribute", "_dev").agg(F.count("*").alias("n")).collect()
    }


def kbc_graph(relations: list[str], gold: bool = False,
              canonicalize: bool = True, default_threshold: float = 0.5,
              supervision: str = "votes",
              visual: bool = False) -> list[Stage | Job]:
    """The KBC graph over the external tables ``pages`` and ``gazetteer``
    (plus the ``gold`` entities when ``gold``, and the ``visual`` bbox
    sidecar when ``visual``), in the order ``run_kbc_checkpointed``
    commits its stages. With ``gold``, the ``gold_totals`` node counts the
    gold entities per (relation, dev slice) beside the parse.
    ``entities_<rel>`` yields ``(thresholded entities, threshold, scores
    or None)``; the options are ``run_kbc``'s.

    The compact gram table and the ce_v_max context tables are built on
    first use, so a resumed checkpointed run, which builds no stage plan,
    never builds them."""
    multitask = supervision == "multitask"
    compact = _once(lambda t: M.gram_space_compact(t["sentences"]))
    ce = _once(lambda t: build_ce_context(t["grams"]))

    def ctx(t: dict) -> dict[str, DataFrame]:
        return {k: t[s] for k, s in CONTEXT_STAGES.items() if s in t}

    def mentions(t: dict, key: str) -> DataFrame:
        gate, _, match = MENTIONS[key]
        return match(M.gated_grams(compact(t), gate), t["sentences"],
                     t["gazetteer"], ctx(t))

    def score(t: dict, rel: str) -> DataFrame:
        c = ctx(t)
        needs = set(RELATION_NEEDS[rel])
        if multitask:
            # the feature layer reads the same context arrays the LFs do
            needs |= {"a_row", "a_col"}
        cands = with_context(
            relation_candidates(
                rel, {k: t[f"mentions_{k}"] for k in RELATION_MENTIONS[rel]},
                c, visual=t.get("visual")),
            t["sentence_context"], c["row"], c["col"], needs=needs,
            extra=({k: t[f"ce_ctx_{k}"] for k in CE_CONTEXT}
                   if rel == "ce_v_max" else None))
        if multitask:
            cands = featurize(cands)
        scored = apply_lfs(cands, rel)
        if supervision == "weighted_votes":
            scored = weighted_marginals(scored)
        if multitask:
            scored = scored.withColumn("cand_id",
                                       F.monotonically_increasing_id())
        return scored

    def finish(t: dict, rel: str):
        scored = t["multitask"][rel] if multitask else t[f"scored_{rel}"]
        components = t.get("components")
        parts_by_doc = (t["gold"].select("doc", "part").dropDuplicates()
                        if gold else None)
        ents = relation_entities(rel, scored, ctx(t), parts_by_doc,
                                 dedup=components is None)
        if components is not None:
            ents = canonicalize_entities(ents, components, on="doc")
        ents = ents.localCheckpoint()
        if gold:
            # dev-tune/test-report (reference protocol): b = argmax-F1 on
            # the dev doc slice; reported P/R/F1 comes from the disjoint
            # test slice at that b
            totals = t["gold_totals"]
            b, stats = tune_and_score(
                ents, t["gold"].filter(F.col("attribute") == rel),
                dev_total=totals.get((rel, True), 0),
                test_total=totals.get((rel, False), 0),
                default_threshold=default_threshold)
        else:
            b, stats = default_threshold, None
        return ents.filter(F.col("prob") > b), b, stats

    nodes: list[Stage | Job] = [
        Stage("sentences", ("pages",),
              lambda t: parse_pages(ingest(t["pages"]))),
    ]
    if gold:
        nodes.append(Job("gold_totals", ("gold",),
                         lambda t: _gold_totals(t["gold"])))
    nodes += [
        # the exploded view over the compact gram arrays: pinning it would
        # re-inflate the compact cache 25x, whereas as a parquet stage
        # dictionary/RLE encoding collapses the repeated context columns
        # and each consumer's scan column-prunes
        Stage("grams", ("sentences",),
              lambda t: M.explode_gram_arrays(compact(t)), pin=False),
        Stage("row_ngrams", ("grams",),
              lambda t: X.build_row_ngrams(t["grams"])),
        Stage("col_ngrams", ("grams",),
              lambda t: X.build_col_ngrams(t["grams"])),
        Stage("row_spread2", ("row_ngrams",),
              lambda t: X.build_row_spread(t["row_ngrams"], 2)),
        Stage("row_spread5", ("row_ngrams",),
              lambda t: X.build_row_spread(t["row_ngrams"], 5)),
        Stage("sentence_context", ("sentences", "grams"),
              lambda t: build_sentence_context(t["sentences"], t["grams"],
                                               compact=compact(t))),
    ]
    if "ce_v_max" in relations:
        nodes += [Stage(f"ce_ctx_{k}", ("grams",), lambda t, k=k: ce(t)[k])
                  for k in CE_CONTEXT]
    if any(r in UNARY_RELATIONS for r in relations):
        nodes.append(Stage(
            "neighbor_cells", ("grams",),
            lambda t: X.build_neighbor_cell_ngrams(t["grams"],
                                                   directions=["RIGHT"])))
    # only the part mentions, read by every binary relation, are pinned
    nodes += [Stage(f"mentions_{k}", ("sentences",) + reads,
                    partial(mentions, key=k), pin=k == "part")
              for k, (_, reads, _) in MENTIONS.items()]
    if canonicalize:
        # reads the pages; "sentences" only orders the alias pass after
        # the parse
        nodes.append(Job("components", ("pages", "sentences"),
                         lambda t: connected_components(
                             doc_alias_edges(ingest(t["pages"]))).persist()))
    scored_inputs = (("sentence_context", "row_ngrams", "col_ngrams")
                     + (("visual",) if visual else ()))
    tail_inputs = ((("components",) if canonicalize else ())
                   + (("gold", "gold_totals") if gold else ()))
    for rel in relations:
        nodes.append(Stage(
            f"scored_{rel}",
            tuple(f"mentions_{k}" for k in RELATION_MENTIONS[rel])
            + scored_inputs
            + (tuple(f"ce_ctx_{k}" for k in CE_CONTEXT)
               if rel == "ce_v_max" else ()),
            partial(score, rel=rel), pin=multitask))
        nodes.append(Job(
            f"entities_{rel}",
            (("multitask",) if multitask else (f"scored_{rel}",))
            + tail_inputs
            + (("row_ngrams", "row_spread2", "row_spread5", "neighbor_cells")
               if rel in UNARY_RELATIONS else ()),
            partial(finish, rel=rel)))
    if multitask:
        # the joint fit is a barrier across relations
        nodes.append(Job("multitask",
                         tuple(f"scored_{r}" for r in relations),
                         lambda t: _fit_multitask(
                             {r: t[f"scored_{r}"] for r in relations})))
    nodes.append(Stage(
        "triples", tuple(f"entities_{r}" for r in relations),
        lambda t: entities_to_triples(
            _union([t[f"entities_{r}"][0] for r in relations])),
        pin=False, partition_by=("pred",)))
    return nodes


def materialize(nodes: list[Stage | Job], t: dict, mat,
                targets: list[str]) -> dict:
    """Resolve the nodes that ``targets`` reach through their inputs into
    ``t``, which holds the external inputs, and return it: each node as
    soon as its inputs are resolved, in declared order. No other node is
    built. ``mat(node, thunk)`` returns the node's value, or a Future of
    it."""
    by_name = {n.name: n for n in nodes}
    reached, stack = set(), list(targets)
    while stack:
        name = stack.pop()
        if name in by_name and name not in reached:
            reached.add(name)
            stack.extend(by_name[name].inputs)
    pending = [n for n in nodes if n.name in reached]
    running = {}
    while pending or running:
        blocked = []
        for node in pending:
            if all(i in t for i in node.inputs):
                out = mat(node, partial(node.build, t))
                if isinstance(out, Future):
                    running[out] = node.name
                else:
                    t[node.name] = out
            else:
                blocked.append(node)
        if running:
            done, _ = wait(running, return_when=FIRST_COMPLETED)
            for f in done:
                t[running.pop(f)] = f.result()
        elif len(blocked) == len(pending):
            raise ValueError("unresolvable inputs: "
                             f"{[n.name for n in blocked]}")
        pending = blocked
    return t


def _kbc(pages: DataFrame, gazetteer: DataFrame, gold: DataFrame | None,
         relations: list[str] | None, mat, every_stage: bool,
         visual_coords: DataFrame | None = None,
         **options) -> tuple[KBCResult, list[Stage | Job]]:
    """Run ``kbc_graph`` through the materializer ``mat``, building what
    ``triples`` reaches, or with ``every_stage`` every stage, read or
    not."""
    relations = relations or ALL_RELATIONS
    t = {"pages": pages, "gazetteer": gazetteer}
    if visual_coords is not None:
        t["visual"] = visual_coords
    if gold is not None:
        t["gold"] = gold_entities(gold).persist()
    nodes = kbc_graph(relations, gold=gold is not None,
                      visual=visual_coords is not None, **options)
    try:
        materialize(nodes, t, mat,
                    [n.name for n in nodes if isinstance(n, Stage)]
                    if every_stage else ["triples"])
    finally:
        # once materialize returns no reader is left (the entities are
        # localCheckpointed); on an error the pool cancels the rest
        for name in ("gold", "components"):
            if name in t:
                t[name].unpersist()
    finals = {rel: t[f"entities_{rel}"] for rel in relations}
    return KBCResult(
        triples=t["triples"],
        entities=_union([final for final, _, _ in finals.values()]),
        scores={rel: stats for rel, (_, _, stats) in finals.items()
                if stats is not None},
        thresholds={rel: b for rel, (_, b, _) in finals.items()}), nodes


@contextmanager
def _job_pool(spark: SparkSession):
    """Yields ``submit(name, fn) -> Future``, which runs ``fn`` in a 3-wide
    pool with its Spark jobs tagged for this call and described by
    ``name``. Overlapping jobs hides per-stage scheduling latency: 3 was
    the sweet spot at 8 and 32 cores, 8 doubled wall time on 8 cores. If
    the body raises, the error is re-raised once every call has stopped:
    queued calls never start, and the jobs of running ones are
    cancelled."""
    sc = spark.sparkContext
    # job tags are thread-local and, unlike job groups, leave a caller's
    # group alone
    tag = f"kbc-{uuid.uuid4().hex}"
    pool = ThreadPoolExecutor(max_workers=3)
    submitted: list[Future] = []

    def submit(name: str, fn) -> Future:
        def tagged():
            sc.addJobTag(tag)
            sc.setJobDescription(name)
            try:
                return fn()
            finally:
                sc.setJobDescription(None)
                sc.removeJobTag(tag)
        submitted.append(pool.submit(tagged))
        return submitted[-1]

    try:
        yield submit
    except BaseException:
        pool.shutdown(wait=False, cancel_futures=True)
        # a running call may start another job after a cancel: repeat it
        # until every call has stopped
        sc.cancelJobsWithTag(tag)
        while wait(submitted, timeout=0.5).not_done:
            sc.cancelJobsWithTag(tag)
        raise
    finally:
        pool.shutdown(wait=False)


def run_kbc(
    spark: SparkSession,
    pages: DataFrame,
    gazetteer: DataFrame,
    gold: DataFrame | None = None,
    relations: list[str] | None = None,
    canonicalize: bool = True,
    default_threshold: float = 0.5,
    supervision: str = "votes",
    visual_coords: DataFrame | None = None,
) -> KBCResult:
    """The flagship job. With ``gold``: per-relation threshold sweep and
    P/R/F1; without: fixed ``default_threshold``.

    ``visual_coords``: optional per-sentence bbox sidecar (url, position,
    v_top/v_left/v_bottom/v_right). When provided, candidate throttlers
    use true visual alignment and the viz LFs their bbox forms, falling
    back per-row to the structural proxies (operators/visual.py).

    ``supervision``: "votes" (Laplace vote ratio), "weighted_votes"
    (agreement-statistics accuracy weighting — the LabelModel stand-in),
    or "multitask" (the reference's full flow: featurize -> frozen key
    space -> shared-trunk multi-task LR trained on the weak labels ->
    model marginals, transistors.py:350-567; see ``_fit_multitask``).

    If any node fails, the error is re-raised once its siblings have
    stopped (``_job_pool``).
    """
    # localCheckpoint at every pinned stage: it caches AND truncates the
    # logical plan, so the ~30 downstream actions (per-relation sweeps,
    # counts) each plan against a flat LogicalRDD instead of re-analyzing
    # the full parse->grams->LF lineage. Pinned stages and Job nodes run
    # concurrently in the pool.
    with _job_pool(spark) as in_pool:
        def mat(node: Stage | Job, build):
            if isinstance(node, Job):
                return in_pool(node.name, build)
            df = build()
            return in_pool(node.name, df.localCheckpoint) if node.pin else df

        return _kbc(pages, gazetteer, gold, relations, mat,
                    every_stage=False,
                    canonicalize=canonicalize,
                    default_threshold=default_threshold,
                    supervision=supervision, visual_coords=visual_coords)[0]


def run_kbc_checkpointed(spark: SparkSession, pages_path: str,
                         gazetteer_path: str, out_dir: str,
                         gold_path: str | None = None,
                         relations: list[str] | None = None,
                         resume: bool = True,
                         visual_path: str | None = None) -> KBCResult:
    """Checkpointed variant: each stage is a resumable parquet table with
    lineage + metrics (plans/lineage.py). Used by bench.py and spark-submit
    cluster runs.

    ``visual_path``: optional parquet sidecar of per-sentence bboxes
    (url, position, v_top/v_left/v_bottom/v_right) — same semantics as
    ``run_kbc(visual_coords=...)``."""
    runner = StageRunner(spark, out_dir, resume=resume)
    # node -> the external tables it reads, itself or through its inputs
    # (materialize resolves a node's inputs before it calls mat on it)
    reads: dict[str, set[str]] = {}

    with _job_pool(spark) as in_pool:
        # plans are built on this thread: the _once memos are not
        # thread-safe
        def mat(node: Stage | Job, build):
            reads[node.name] = set().union(
                *(reads.get(i, {i}) for i in node.inputs))
            if isinstance(node, Job):
                return in_pool(node.name, build)
            # recorded inputs name the external tables too, so a resume
            # with or without gold or visual rebuilds what it shapes
            inputs = list(node.inputs) + sorted(
                reads[node.name] - set(node.inputs))
            if (done := runner.reopen(node.name, inputs)) is not None:
                return done
            df = build()
            return in_pool(node.name, partial(
                runner.run, node.name, lambda: df, inputs,
                list(node.partition_by)))

        result, nodes = _kbc(
            spark.read.parquet(pages_path), spark.read.parquet(gazetteer_path),
            spark.read.parquet(gold_path) if gold_path else None, relations,
            mat, every_stage=True,
            visual_coords=(spark.read.parquet(visual_path)
                           if visual_path else None))
    declared = [n.name for n in nodes]
    runner.metrics.sort(key=lambda m: declared.index(m["stage"]))
    runner.flush_metrics({"scores": result.scores,
                          "thresholds": result.thresholds})
    return result
