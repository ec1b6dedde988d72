"""Streaming KBC: incremental triple extraction over a continuous crawl.

The batch pipeline answers "extract THIS corpus"; a crawl never stops,
so the production loop is "extract every page we have never extracted,
as it lands" — the reference's nightly re-run
(`hack/transistors/transistors.py` runs parse→supervision over the
whole corpus each time) re-imagined as a Structured-Streaming
micro-batch job that only ever pays for NEW urls:

    micro-batch -> latest crawl per url within the batch
                -> anti-join the persisted seen-url table
                -> run_kbc (fixed-threshold, no gold) on the new pages
                -> snapshot-commit triples (partitioned by pred)
                   + seen urls + a per-batch metrics/lineage row

All three sinks are snapshot tables (plans/snapshots.py — the Iceberg
commit-protocol analog), and every commit carries the micro-batch id as
its idempotency key, so the loop is EXACTLY-ONCE end to end: a batch
replayed after a crash between the appends re-commits only whichever
table misses its key and skips the rest — no duplicate triples, ever.
Stream-engine state stays empty (the seen table IS the state), so no
watermark/TTL questions arise and a restart resumes from the stream
checkpoint plus the tables alone. On a real cluster the three tables
are Iceberg tables and the commits are catalog transactions; no call
site changes.

A recrawl of an already-extracted url is SKIPPED (extract-once
semantics): triple extraction depends only on page content, and the
reference corpus's datasheets are immutable once crawled. Re-admitting
urls whose content moved would require retracting that url's prior
triples (an Iceberg MERGE); the snapshot tables are append-only, so that
is out of scope here.

Each wave's anti-join reads the seen table as ONE file scan over every
committed directory, so its plan does not grow with the stream's age.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from tecs_hardware_kbc_spark.plans.snapshots import SnapshotTable


def kbc_stream_available_now(spark: SparkSession, input_dir: str,
                             gazetteer: DataFrame, triples_dir: str,
                             seen_dir: str, checkpoint_dir: str,
                             metrics_dir: str | None = None,
                             schema=None,
                             relations: list[str] | None = None,
                             default_threshold: float = 0.5) -> None:
    """Drain every page file currently landed, extracting triples from
    urls never extracted before; snapshot-commit triples partitioned by
    ``pred`` (the north_star's predicate-partitioned triple tables),
    the new urls to the seen table, and one metrics row per micro-batch
    — each commit idempotent on the batch id. Read results back via
    ``SnapshotTable(spark, triples_dir, partition_col="pred").read()``.
    """
    from tecs_hardware_kbc_spark.pipeline import run_kbc

    if schema is None:
        schema = ("url string, warc_ts timestamp, html binary, "
                  "text string, lang string")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 64)
              .parquet(input_dir))

    triples_t = SnapshotTable(spark, triples_dir, partition_col="pred")
    seen_t = SnapshotTable(spark, seen_dir)
    metrics_t = (SnapshotTable(spark, metrics_dir)
                 if metrics_dir is not None else None)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        key = f"batch-{batch_id}"
        # latest crawl per url within the batch (ties: keep one, by ts
        # then url order — deterministic), then extract-once anti-join
        w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
        latest = (batch.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn"))
        if seen_t.current_version() > 0:
            new_pages = latest.join(seen_t.read(), "url", "left_anti")
        else:
            new_pages = latest
        new_pages = new_pages.localCheckpoint()
        n_new = new_pages.count()
        n_triples = 0
        if n_new > 0:
            res = run_kbc(spark, new_pages, gazetteer, gold=None,
                          relations=relations,
                          default_threshold=default_threshold)
            triples = res.triples.localCheckpoint()
            n_triples = triples.count()
            triples_t.append(triples, idempotency_key=key,
                             summary={"n_pages": n_new})
            seen_t.append(new_pages.select("url"), idempotency_key=key)
        if metrics_t is not None:
            metrics_t.append(spark.createDataFrame(
                [(int(batch_id), int(batch.count()), int(n_new),
                  int(n_triples))],
                "batch_id long, n_rows long, n_new_urls long, "
                "n_triples long",
            ).coalesce(1), idempotency_key=key)

    (
        stream.writeStream
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
