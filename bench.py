#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline = the flagship KBC pipeline (pages -> triples, end-to-end with
threshold sweep + canonicalization) on a deterministic synthetic corpus
sized to the scale factor, plus representative relational / dedup /
similarity queries over the driver's parquet tables.

The per-layer profile of the real pipeline is ``perfbench/run.py --trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
# pages for the KBC corpus: proportional to the scale factor (overridable)
PAGES_BY_SF = {"sf0.001": 100, "sf0.01": 1000, "sf0.1": 8000}
N_PAGES_ENV = os.environ.get("SPARK_GRAFT_BENCH_PAGES")

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q_threshold_sweep",
    "q_asof_join",
    "q_window_topk",
    "doc_quality",
    "dedup_exact",
    "dedup_minhash_pairs",
    "sim_topk",
    "kbc_lingual_tags",
    "kbc_figures",
    "kbc_asof_pair",
    "media_augment_policy",
    "media_conv",
    # r5 lap 2: the two new scale ops
    "doc_span_dedup",   # exact substring dedup: rolling-window + fp window
    "emb_kmeans",       # fixed-point Lloyd's: 2 iterations + final assign
    "web_pagerank",     # link harvest + 3 integer power iterations
    # r5 lap 3: the KG-construction tail and graph ML (the tier headline)
    "kg_e2e",           # fusion -> conflict resolution -> N-Triples
    "kg_embed",         # TransE: 2 full-batch integer epochs
    # r5 lap 4: the structured-data KG leg + retrieval + graph analytics
    "web_kg_e2e",       # jsonld/meta harvest -> sameAs CC -> fuse -> resolve
    "doc_bm25",         # inverted index + BM25 top-k, df-capped
    "web_triangles",    # degree-ordered triangle counting
]
# doc_curate (the composed funnel) is deliberately NOT a headline query:
# its cost is the sum of components already benched above (minhash bands,
# CC, quality/redact scans) and would only add an 18s constant to the
# suite total. One-off funnel timings live in BENCH.md.


def _sf_label() -> str:
    return os.path.basename(SF_DIR.rstrip("/"))


def _ramp_cpu(seconds: float = 2.0) -> None:
    """Busy-spin all cores briefly so the host's frequency governor ramps
    up BEFORE any timed lap (idle host downclocks 1.5-3x; see BENCH.md
    caveats). Cheap insurance against recording a downclocked number."""
    import numpy as np
    a = np.ones((1500, 1500))
    end = time.monotonic() + seconds
    while time.monotonic() < end:
        (a @ a)  # multithreaded BLAS keeps many cores busy


def run_suite() -> dict:
    import __spark_entry__ as E
    from tecs_hardware_kbc_spark.corpus import distributed_corpus
    from tecs_hardware_kbc_spark.pipeline import run_kbc
    from tecs_hardware_kbc_spark.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    n_pages = (int(N_PAGES_ENV) if N_PAGES_ENV
               else PAGES_BY_SF.get(_sf_label(), 8000))

    t0 = time.monotonic()
    pages, gold, gaz = distributed_corpus(spark, n_pages, seed=42)
    n_page_rows = pages.count()
    gen_s = time.monotonic() - t0

    # lap 0 is an UNTIMED warm-up of the full kbc DAG (JIT-compiles every
    # codegen stage + ramps the host clock), then timed best-of-3 (the host
    # downclocks when idle; cold runs are 1.5-3x slower than warm)
    medians: dict[str, float] = {}

    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    anchor_start = _host_anchor()
    _ramp_cpu()
    result = run_kbc(spark, pages, gaz, gold)
    n_triples = result.triples.count()
    laps = []
    for _ in range(3):
        t0 = time.monotonic()
        result = run_kbc(spark, pages, gaz, gold)
        n_triples = result.triples.count()
        laps.append(time.monotonic() - t0)
    timings["kbc_e2e"] = round(min(laps), 3)
    medians["kbc_e2e"] = round(sorted(laps)[1], 3)

    # r5 (VERDICT r4 #1): warm up EVERY suite query once untimed — first-lap
    # Catalyst analysis/codegen of the large conv/augment expression trees
    # used to land in a timed lap and read as a 9-10x per-query regression
    # on unchanged code — then ramp the clock again before the timed laps.
    qs = E.queries()
    for name in BENCH_QUERIES:
        _noop(qs[name](spark, SF_DIR))
    _ramp_cpu()
    for name in BENCH_QUERIES:
        laps = []
        for _ in range(3):  # min filters cold-JIT/downclock spikes
            t0 = time.monotonic()
            _noop(qs[name](spark, SF_DIR))
            laps.append(time.monotonic() - t0)
        timings[name] = round(min(laps), 3)
        # the median travels alongside: a lap poisoned by a host clock
        # window is then VISIBLE as min << median instead of silently
        # becoming the official number
        medians[name] = round(sorted(laps)[1], 3)

    total = round(sum(timings.values()), 3)
    return {
        "metric": "kbc_e2e_plus_headline_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "suite_sec_median": round(sum(medians.values()), 3),
        "sf": _sf_label(),
        "cpus": CPUS,
        "kbc_pages": n_page_rows,
        "kbc_triples": n_triples,
        "pages_per_sec": round(n_page_rows / timings["kbc_e2e"], 2),
        "corpus_gen_sec": round(gen_s, 3),
        # same-run host anchors: absolute walls of two fixed plain-python
        # kernels (no Spark, no JVM), measured before the first timed lap
        # and after the last.  A shared bursty VM's identical-work walls
        # can swing more than 10x between windows (co-tenant memory-bus
        # steal), so suite numbers are only comparable across runs after
        # normalizing to the anchor.  A suite that looks 2x slower on an
        # anchor that is 10x slower is the box, not a code regression;
        # start/end drift shows whether one window poisoned part of the
        # run.
        "host_anchor": {"start": anchor_start, "end": _host_anchor()},
    }


def _host_anchor() -> dict:
    """Best of two runs of each kernel, one process per core (``CPUS``,
    recorded as ``procs``) — cheap (~3s), absolute, Spark-free;
    co-recorded so every suite JSON carries the host state it was
    measured under. One process per core keeps the mem kernel's
    256 MB-per-process footprint in step with the host."""
    import multiprocessing as mp

    walls = {"procs": CPUS}
    for name, kern in (("cpu", _anchor_cpu_kernel),
                       ("mem", _anchor_mem_kernel)):
        best = None
        for _ in range(2):
            ps = [mp.Process(target=kern, args=(1,)) for _ in range(CPUS)]
            t0 = time.monotonic()
            for p in ps:
                p.start()
            for p in ps:
                p.join()
            d = time.monotonic() - t0
            best = d if best is None else min(best, d)
        walls[f"{name}_wall"] = round(best, 2)
    return walls


def _anchor_cpu_kernel(units: int) -> None:
    for _ in range(units):
        x = 0
        for i in range(12_000_000):
            x += i * i


def _anchor_mem_kernel(units: int) -> None:
    import numpy as np
    a = np.zeros(32 * 1024 * 1024)         # 256 MB per process
    for _ in range(units):
        for _ in range(4):
            a += 1.000001                   # streaming read-modify-write
            a.sum()                         # streaming read


def run_curate(cpus: int, n_docs: int, repeats: int = 3) -> dict:
    """Steady-state curation-funnel probe: a deterministic synthetic
    documents table (docgen.synthetic_documents — ~6% exact dups, ~5%
    near-dups, 12% German, 8% junk, hot-domain urls) written ONCE to
    data/ and reused across runs, then the full funnel
    (exact dedup -> minhash-CC near-dedup -> en keep-list -> quality ->
    Gopher rules -> LM perplexity gate -> PII redaction -> split) timed
    best-of-N warm. The LM trains once, untimed (frozen artifact); laps
    pay only the scoring gate. The funnel's own stage counts are part
    of the job (they are in the product path), so the timing includes
    them."""
    import shutil

    from tecs_hardware_kbc_spark.curate import curate
    from tecs_hardware_kbc_spark.docgen import synthetic_documents
    from tecs_hardware_kbc_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(os.path.dirname(__file__) or ".", "data",
                        f"bench_docs_{n_docs}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        synthetic_documents(spark, n_docs).write \
            .mode("overwrite").parquet(path)
    docs = spark.read.parquet(path).select("doc_id", "text")

    # the CCNet LM is a build-once frozen artifact (train_ngram_lm
    # localCheckpoints its count tables), so training happens ONCE,
    # untimed — the laps pay only the scoring gate, as production would
    import pyspark.sql.functions as F

    from tecs_hardware_kbc_spark.operators.ngram_lm import train_ngram_lm
    lm = train_ngram_lm(docs.filter(F.col("doc_id") % 16 == 0), n=2)

    def lap() -> tuple[float, dict]:
        spark.catalog.clearCache()  # each lap re-persists its ID sets
        t0 = time.monotonic()
        curated, funnel = curate(spark, docs, langs=["en"],
                                 min_quality=0.3, gopher_rules=True,
                                 ngram_lm=lm,
                                 max_perplexity=lm.vocab_size / 2)
        funnel["written"] = curated.count()
        return time.monotonic() - t0, funnel

    _ramp_cpu()
    lap()  # untimed warm-up (codegen + clock ramp)
    _ramp_cpu()
    times, funnel = [], {}
    for _ in range(repeats):
        t, funnel = lap()
        times.append(t)
    best, med = min(times), sorted(times)[len(times) // 2]
    return {
        "metric": "curate_funnel", "docs": n_docs, "cpus": cpus,
        "sec": round(best, 3), "sec_median": round(med, 3),
        "docs_per_sec": round(n_docs / best, 1), "funnel": funnel,
    }


def run_rels_sweep(cpus: int, pages: int = 8000,
                   repeats: int = 3) -> dict:
    """Runtime vs RELATION COUNT at fixed docs — the analog of the
    reference's scaling_rels.sh (1..4 relations over the same 1000-doc
    corpus). The pipeline computes parse/grams/context once and shares
    them across relations, so the marginal cost of each added relation
    should be SUB-linear — this sweep is the measurement of that claim.
    Prints one JSON row per relation-set."""
    import time as _t

    from tecs_hardware_kbc_spark.corpus import distributed_corpus
    from tecs_hardware_kbc_spark.pipeline import run_kbc
    from tecs_hardware_kbc_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    pg, gold, gaz = distributed_corpus(spark, pages, seed=42)
    pg.count()
    _ramp_cpu()

    # the reference's accumulation order (scaling_rels.sh:8-31)
    sets = [
        ["stg_temp_min"],
        ["stg_temp_min", "stg_temp_max"],
        ["stg_temp_min", "stg_temp_max", "polarity"],
        ["stg_temp_min", "stg_temp_max", "polarity", "ce_v_max"],
    ]
    rows = []
    prev = None
    for rels in sets:
        best = None
        for _ in range(repeats):
            t0 = _t.monotonic()
            res = run_kbc(spark, pg, gaz, gold, relations=rels)
            res.triples.count()
            d = _t.monotonic() - t0
            best = d if best is None else min(best, d)
        row = {"n_relations": len(rels), "relations": rels,
               "sec": round(best, 3),
               "marginal_sec": round(best - prev, 3) if prev else None}
        prev = best
        rows.append(row)
        print(json.dumps(row), flush=True)
    return {"metric": "rels_sweep", "cpus": cpus, "pages": pages,
            "rows": rows}


def run_pagerank(cpus: int, n_edges: int, repeats: int = 3) -> dict:
    """Steady-state PageRank probe: a deterministic synthetic directed
    graph (hash-derived endpoints, 20% of edges aimed at 32 hub nodes
    for realistic in-degree skew, ~n_edges/4 nodes) written ONCE to
    data/ and reused across runs, then
    graph.pagerank_fixed_point (5 power iterations: per iteration one
    src-keyed join + one map-combined groupBy(dst) + one driver scalar)
    timed best-of-N warm. This is the iterative join+agg shape — a
    different scaling profile from the scan-heavy datapath and funnel."""
    import shutil

    import pyspark.sql.functions as F

    from tecs_hardware_kbc_spark.operators.graph import pagerank_fixed_point
    from tecs_hardware_kbc_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(os.path.dirname(__file__) or ".", "data",
                        f"bench_edges_{n_edges}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        n_nodes = max(n_edges // 4, 64)
        ids = spark.range(n_edges)
        h = lambda s: F.abs(F.xxhash64("id", F.lit(s)))  # noqa: E731
        edges = ids.select(
            (h("s") % n_nodes).alias("src"),
            F.when(h("hub") % 5 == 0, h("h") % 32)
            .otherwise(h("d") % n_nodes).alias("dst")) \
            .filter(F.col("src") != F.col("dst")).distinct()
        edges.write.mode("overwrite").parquet(path)
    edges = spark.read.parquet(path)
    n_real = edges.count()

    def lap() -> float:
        spark.catalog.clearCache()
        t0 = time.monotonic()
        pagerank_fixed_point(edges, iters=5).count()
        return time.monotonic() - t0

    _ramp_cpu()
    lap()  # untimed warm-up (codegen + clock ramp)
    _ramp_cpu()
    times = [lap() for _ in range(repeats)]
    best, med = min(times), sorted(times)[len(times) // 2]
    return {
        "metric": "pagerank_5_iters", "edges": n_real, "cpus": cpus,
        "sec": round(best, 3), "sec_median": round(med, 3),
        "edges_per_sec": round(n_real / best, 1),
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser(
        description="Headline suite at $SPARK_GRAFT_SF_DIR, or one probe; "
                    "prints one JSON line.")
    probe = ap.add_mutually_exclusive_group()
    probe.add_argument("--rels-sweep", action="store_true",
                       help="KBC wall time vs relation count (8000 "
                            "pages)")
    probe.add_argument("--curate", action="store_true",
                       help="curation funnel over "
                            "$SPARK_GRAFT_BENCH_DOCS documents")
    probe.add_argument("--pagerank", action="store_true",
                       help="5 PageRank iterations over "
                            "$SPARK_GRAFT_BENCH_EDGES edges")
    # parsed before any JVM starts: an unknown flag exits with code 2
    args = ap.parse_args()
    if args.rels_sweep:
        print(json.dumps(run_rels_sweep(CPUS)))
    elif args.curate:
        n = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "200000"))
        print(json.dumps(run_curate(CPUS, n)))
    elif args.pagerank:
        n = int(os.environ.get("SPARK_GRAFT_BENCH_EDGES", "2000000"))
        print(json.dumps(run_pagerank(CPUS, n)))
    else:
        print(json.dumps(run_suite()))
