"""Physical-plan properties that matter at 100 TB: column pruning into the
scan, predicate pushdown, broadcast joins for small dimensions."""

import contextlib
import io

import pyspark.sql.functions as F
import pytest

from tecs_hardware_kbc_spark.corpus import write_corpus
from tecs_hardware_kbc_spark.operators.extract import parse_pages
from tecs_hardware_kbc_spark.sources.pages import read_pages


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("plans") / "corpus")
    write_corpus(spark, out, n_pages=10, seed=3)
    return out


def test_parse_prunes_to_url_and_html(spark, corpus_dir):
    pages = read_pages(spark, f"{corpus_dir}/pages.parquet")
    plan = _plan(parse_pages(pages))
    # the parquet scan must read ONLY url + html — text/lang/warc_ts pruned
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "html" in read_schema and "url" in read_schema
    assert "text" not in read_schema and "lang" not in read_schema


def test_lang_filter_pushed_down(spark, corpus_dir):
    pages = read_pages(spark, f"{corpus_dir}/pages.parquet")
    plan = _plan(pages.filter(F.col("lang") == "en").select("url"))
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "lang" in pushed


def test_gazetteer_join_broadcasts(spark, corpus_dir):
    from tecs_hardware_kbc_spark.operators import mentions as M
    pages = read_pages(spark, f"{corpus_dir}/pages.parquet")
    gaz = spark.read.parquet(f"{corpus_dir}/gazetteer.parquet")
    grams = M.explode_gram_arrays(
        M.gram_space_compact(parse_pages(pages)))
    plan = _plan(M.part_mentions(grams, gaz))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_entity_scoring_uses_hash_joins_not_cartesian(spark, corpus_dir):
    from tecs_hardware_kbc_spark.operators.scoring import confusion
    a = spark.range(100).select(
        F.concat(F.lit("D"), "id").alias("doc"), F.lit("P").alias("part"),
        F.lit("x").alias("attribute"), F.lit("1").alias("value"))
    c = confusion(a, a)
    for df in c.values():
        assert "Cartesian" not in _plan(df)


def test_simhash_hamming_no_cartesian(spark):
    """The block-banded simhash near-dup plan must join on
    (block_idx, block_val) — never a cartesian/nested-loop product."""
    from tecs_hardware_kbc_spark.operators.dedup import simhash_near_duplicates
    docs = spark.createDataFrame(
        [(i, f"doc number {i} words here") for i in range(6)],
        "doc_id long, text string")
    plan = _plan(simhash_near_duplicates(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_near_dup_no_cartesian(spark):
    """Multi-table LSH near-dup joins on (t, bucket) — no all-pairs."""
    from tecs_hardware_kbc_spark.operators.dedup import (
        embedding_near_duplicates)
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 0.2]) for i in range(6)],
        "vec_id long, embedding array<double>")
    plan = _plan(embedding_near_duplicates(emb))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_pairs_no_cartesian(spark):
    from tecs_hardware_kbc_spark.operators.dedup import minhash_near_duplicates
    docs = spark.createDataFrame(
        [(i, f"some shingled text body {i} etc") for i in range(6)],
        "doc_id long, text string")
    plan = _plan(minhash_near_duplicates(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_part_expansion_vocab_broadcast_and_spread(spark, corpus_dir):
    """The expansion vocabulary join-back must be a broadcast (the gram
    side never shuffles on raw_span), and the vocabulary itself must be
    explicitly spread before the pandas UDF."""
    from tecs_hardware_kbc_spark.operators import mentions as M
    from tecs_hardware_kbc_spark.operators.extract import parse_pages
    pages = read_pages(spark, f"{corpus_dir}/pages.parquet")
    grams = M.explode_gram_arrays(
        M.gram_space_compact(parse_pages(pages)))
    gaz = spark.createDataFrame([("BC546", "u")], "part string, url string")
    plan = _plan(M.part_mentions(grams, gaz))
    assert "BroadcastHashJoin" in plan
    assert "RoundRobinPartitioning" in plan  # the explicit vocab spread
