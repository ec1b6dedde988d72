"""AvailableNow streaming ingest: exactly-once drain + recrawl dedup."""

import pyspark.sql.functions as F

from tecs_hardware_kbc_spark.corpus import write_corpus
from tecs_hardware_kbc_spark.pipeline import ingest
from tecs_hardware_kbc_spark.streaming.ingest import ingest_available_now


def test_ingest_available_now(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    landing = str(base / "landing")
    out = str(base / "pages_clean")
    ckpt = str(base / "ckpt")

    write_corpus(spark, str(base / "c"), n_pages=8, seed=9)
    src = spark.read.parquet(str(base / "c") + "/pages.parquet")
    src.write.mode("overwrite").parquet(landing)

    ingest_available_now(spark, landing, out, ckpt)
    drained = spark.read.parquet(out)
    assert drained.count() > 0
    # per-batch latest-wins: at most one row per url (single batch here)
    assert drained.groupBy("url").count().filter("count > 1").count() == 0

    # second drain with no new files must be a no-op (exactly-once)
    n1 = drained.count()
    ingest_available_now(spark, landing, out, ckpt)
    assert spark.read.parquet(out).count() == n1

    # batch-pipeline ingest() over the drained table stays idempotent
    clean = ingest(spark.read.parquet(out))
    assert clean.count() == clean.select("url").distinct().count()


def test_kbc_stream_incremental_extraction(spark, tmp_path_factory):
    """Streaming KBC drain loop: extract-once per url (recrawls of
    already-extracted urls are skipped), triples snapshot-committed
    partitioned by pred, per-batch metrics rows land, replayed batch
    ids are no-ops (exactly-once), and the distinct triple set over
    all drains equals the batch pipeline's over the same pages."""
    from tecs_hardware_kbc_spark.corpus import (corpus_to_dataframes,
                                                generate_corpus)
    from tecs_hardware_kbc_spark.pipeline import run_kbc
    from tecs_hardware_kbc_spark.plans.snapshots import SnapshotTable
    from tecs_hardware_kbc_spark.streaming.kbc import (
        kbc_stream_available_now)

    base = tmp_path_factory.mktemp("kbcstream")
    landing = str(base / "landing")
    triples_dir = str(base / "triples")
    seen_dir = str(base / "seen")
    ckpt = str(base / "ckpt")
    metrics_dir = str(base / "metrics")
    rels = ["stg_temp_min", "polarity"]

    pages, _, gaz = corpus_to_dataframes(spark, generate_corpus(16, seed=7))
    pages = pages.cache()
    urls = sorted({r["url"] for r in pages.select("url").collect()})
    n1 = len(urls) - 4
    p1 = pages.filter(F.col("url").isin(urls[:n1]))
    p2 = pages.filter(F.col("url").isin(urls[n1:]))

    p1.write.mode("append").parquet(landing)
    kbc_stream_available_now(spark, landing, gaz, triples_dir, seen_dir,
                             ckpt, metrics_dir, relations=rels)
    triples_t = SnapshotTable(spark, triples_dir, partition_col="pred")
    seen_t = SnapshotTable(spark, seen_dir)
    metrics_t = SnapshotTable(spark, metrics_dir)
    t1 = triples_t.read().count()
    assert t1 > 0
    assert seen_t.read().count() == n1

    # batch 2: 4 new pages + 3 recrawls of already-extracted urls
    recrawl = (pages.filter(F.col("url").isin(urls[:3]))
               .withColumn("warc_ts",
                           F.col("warc_ts") + F.expr("interval 1 day")))
    p2.unionByName(recrawl).write.mode("append").parquet(landing)
    kbc_stream_available_now(spark, landing, gaz, triples_dir, seen_dir,
                             ckpt, metrics_dir, relations=rels)
    assert seen_t.read().count() == len(urls)       # recrawls skipped
    t2 = triples_t.read().count()
    assert t2 > t1
    m = {r["batch_id"]: r for r in metrics_t.read().collect()}
    assert m[max(m)]["n_new_urls"] == 4

    # a replayed micro-batch id is a no-op on every table (exactly-once)
    v_before = (triples_t.current_version(), seen_t.current_version())
    assert triples_t.append(p1.limit(0).selectExpr(
        "url as subj", "'x' as pred", "url as obj", "0.5 as prob"),
        idempotency_key=f"batch-{max(m)}") is None
    assert (triples_t.current_version(),
            seen_t.current_version()) == v_before

    # third drain with nothing new is a no-op
    kbc_stream_available_now(spark, landing, gaz, triples_dir, seen_dir,
                             ckpt, metrics_dir, relations=rels)
    assert triples_t.read().count() == t2
    assert seen_t.read().count() == len(urls)

    # incremental extraction converges to the batch pipeline's triples
    streamed = triples_t.read().select("subj", "pred", "obj").distinct()
    batch = run_kbc(spark, pages, gaz, gold=None, relations=rels).triples \
        .select("subj", "pred", "obj").distinct()
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0
