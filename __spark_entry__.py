"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (plus the training-data ops), each runnable on the driver's
parquet tables at ``sf_dir``; ``oracle_sql()`` gives the DuckDB-equivalent
SQL. Column names and float rounding are aligned on both sides (the driver
hashes values after sorting columns by name).

KBC-pipeline entries (kbc_*) run on the repo's deterministic synthetic page
corpus (no SQL oracle — the driver records the weaker rows-only check; the
pytest suite holds the strong P/R >= 0.95 gate for those).
"""

from __future__ import annotations

import functools
import logging
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
from pyspark.sql.window import Window

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn
    return deco


_FANOUT_CAP_BYTES = 64 << 20
_log = logging.getLogger(__name__)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table loader with input-skew fan-out (guide §2.5).

    The driver writes each table as ONE parquet file with ONE row group
    per ~1M rows, and a row group cannot be split: a scan of such a file
    runs as a single task no matter how many cores the session has, so
    every expression over e.g. ``documents`` (50k rows, 5.9 MB, 1 row
    group at sf1.0) was serialized onto one core. For small tables the
    cure is a round-robin repartition to the session's parallelism right
    after the read — the shuffle moves only a few MB and unlocks an
    up-to-#cores speedup on the per-row work that dominates these
    queries (md5 rolling windows, regex harvests, HOF kernels).

    Scale-adaptive, not tuned to local[32]: the fan-out fires only when
    the file layout yields fewer scan splits than
    ``defaultParallelism`` AND the table is at most 64 MB on disk (the
    shuffle is then guaranteed cheaper than the starved scan) AND the
    rows are WIDE (>= 64 compressed bytes/row — text blobs, embedding
    vectors): per-row kernels (md5 rolling windows, regex harvests, HOF
    chains) dominate those tables, so the few-MB shuffle buys an
    up-to-#cores speedup. Narrow relational rows (lineitem/orders/events
    are ~20 B/row) are scan+agg-shaped: their aggregations and joins
    shuffle on their own keys anyway, and a prepended round-robin
    exchange of millions of rows is pure cost (measured: q1 0.20->0.85s,
    q3 0.79->1.38s at sf0.1 with an unconditional fan-out). A
    production-scale table — many files / row groups, more splits than
    cores — is returned untouched."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    parallelism = spark.sparkContext.defaultParallelism
    try:
        if os.path.isfile(path):
            files = [path]
        else:
            files = [os.path.join(path, f)
                     for f in os.listdir(path) if f.endswith(".parquet")]
        size = sum(os.path.getsize(f) for f in files)
        # <=64 MB and fewer (128 MB-bound) splits than cores; only then
        # are the footers read, for the row width
        if size > _FANOUT_CAP_BYTES or len(files) >= parallelism:
            return df
        import pyarrow.parquet as pq
        n_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except (OSError, ImportError) as e:
        _no_fanout(type(e).__name__)
        return df
    if n_rows > 0 and size / n_rows >= 64:
        df = df.repartition(parallelism)
    return df


@functools.cache
def _no_fanout(reason: str) -> None:
    """Log, once per kind of failure, that ``_t`` skipped the fan-out."""
    _log.warning("_t: input fan-out off (%s): cannot size the table on "
                 "the driver's local filesystem", reason)


# --------------------------------------------------------------------------
# Relational core (SURVEY §2.3-2.7): joins, aggs, windows, sorts, set ops
# --------------------------------------------------------------------------

@_q("q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                              AS sum_qty,
       round(sum(l_extendedprice), 2)                         AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)      AS sum_disc_price,
       round(avg(l_discount), 4)                              AS avg_disc,
       count(*)                                               AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""")
def q1(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("sum_disc_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@_q("q3_top_orders", """
SELECT o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS orderdate,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, orderdate
ORDER BY revenue DESC, o.o_orderkey LIMIT 10
""")
def q3(spark, sf):
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey",
                 F.date_format("o_orderdate", TS_FMT_SPARK).alias("orderdate"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@_q("q_region_customers", """
SELECT r.r_name AS region, count(*) AS n_customers,
       round(sum(c.c_acctbal), 2) AS total_balance
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""")
def q_region_customers(spark, sf):
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"))
        .agg(F.count("*").alias("n_customers"),
             F.round(F.sum("c_acctbal"), 2).alias("total_balance"))
    )


@_q("q_anti_join", """
SELECT c.c_mktsegment AS segment, count(*) AS n_customers_without_orders
FROM customer c ANTI JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
""")
def q_anti_join(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_customers_without_orders"))
    )


@_q("q_semi_join", """
SELECT s.s_name, round(s.s_acctbal, 2) AS acctbal
FROM supplier s SEMI JOIN
  (SELECT l_suppkey FROM lineitem WHERE l_quantity > 45) l
  ON s.s_suppkey = l.l_suppkey
ORDER BY s.s_name
""")
def q_semi_join(spark, sf):
    s = _t(spark, sf, "supplier")
    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        s.join(li, s["s_suppkey"] == li["l_suppkey"], "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("acctbal"))
        .orderBy("s_name")
    )


@_q("q_window_topk", """
SELECT o_custkey, o_orderkey, rnk FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders) WHERE rnk <= 3
""")
def q_window_topk(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                                F.asc("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


@_q("q_window_running", """
SELECT o_orderkey, o_custkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING), 2) AS running_total
FROM orders
""")
def q_window_running(spark, sf):
    o = _t(spark, sf, "orders")
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, 0))
    return o.select(
        "o_orderkey", "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@_q("q_set_ops", """
SELECT c_custkey FROM customer WHERE c_acctbal > 7000
INTERSECT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = 'URGENT'
""")
def q_set_ops(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    rich = c.filter(F.col("c_acctbal") > 7000).select("c_custkey")
    urgent = o.filter(F.col("o_orderpriority") == "URGENT") \
        .select(F.col("o_custkey").alias("c_custkey"))
    return rich.intersect(urgent)


@_q("q_threshold_sweep", """
SELECT k,
       count(*) FILTER (WHERE l_discount > k / 99.0) AS n,
       round(coalesce(sum(l_extendedprice * (1 - l_discount))
             FILTER (WHERE l_discount > k / 99.0), 0), 2) AS revenue
FROM range(100) t(k) CROSS JOIN lineitem
GROUP BY k
""")
def q_threshold_sweep(spark, sf):
    """A6 one-pass sweep: bucket by the largest grid index cleared, then a
    reverse running sum over the 100-row grid — O(n) + O(grid), vs the
    oracle's literal 100x cross join."""
    li = _t(spark, sf, "lineitem")
    bucket = (F.ceil(F.col("l_discount") * 99) - 1).cast("long")
    per = (
        li.withColumn("j", F.least(bucket, F.lit(99)))
        .filter(F.col("j") >= 0)
        .groupBy("j")
        .agg(F.count("*").alias("n_at"),
             F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("rev_at"))
    )
    ks = spark.range(100).select(F.col("id").cast("long").alias("k"))
    w = Window.orderBy(F.desc("k")).rowsBetween(Window.unboundedPreceding, 0)
    return (
        ks.join(per, ks["k"] == per["j"], "left")
        .select("k", F.coalesce("n_at", F.lit(0)).alias("n_at"),
                F.coalesce("rev_at", F.lit(0.0)).alias("rev_at"))
        .withColumn("n", F.sum("n_at").over(w))
        .withColumn("revenue", F.round(F.sum("rev_at").over(w), 2))
        .select("k", "n", "revenue")
    )


@_q("q_asof_join", f"""
SELECT p.event_id,
       strftime(p.ts, '{TS_FMT_DUCK}') AS purchase_ts,
       p.user_id,
       strftime(c.ts, '{TS_FMT_DUCK}') AS last_click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""")
def q_asof_join(spark, sf):
    """J6 reading-order as-of match, scalably: one window over the tagged
    union instead of a per-row backward search."""
    e = _t(spark, sf, "events")
    tagged = e.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("marker"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    w = (Window.partitionBy("user_id").orderBy("ts", "marker")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (
        tagged.withColumn("last_click", F.last("click_ts", ignorenulls=True).over(w))
        .filter((F.col("marker") == 1) & F.col("last_click").isNotNull())
        .select(
            "event_id",
            F.date_format("ts", TS_FMT_SPARK).alias("purchase_ts"),
            "user_id",
            F.date_format("last_click", TS_FMT_SPARK).alias("last_click_ts"),
        )
    )


@_q("q_events_windowed", f"""
SELECT strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS hour,
       event_type, count(*) AS n, round(avg(value), 4) AS avg_value
FROM events GROUP BY hour, event_type
""")
def q_events_windowed(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), TS_FMT_SPARK).alias("hour"),
            "event_type")
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


@_q("q_events_json", """
SELECT event_type, round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k
FROM events GROUP BY event_type
""")
def q_events_json(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy("event_type")
        .agg(F.round(F.avg(F.get_json_object("props", "$.k").cast("int")), 4)
             .alias("avg_k"))
    )


# --------------------------------------------------------------------------
# Text analysis / dedup / similarity (training-data ops) on documents
# --------------------------------------------------------------------------

_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_WORDS_SQL = f"string_split({_NORM_SQL}, ' ')"


@_q("doc_token_stats", f"""
SELECT doc_id,
       len({_WORDS_SQL}) AS n_words,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS n_tokens,
       length(text) AS n_chars,
       round(length(text)::double / greatest(len({_WORDS_SQL}), 1), 4)
         AS chars_per_word,
       len(list_distinct({_WORDS_SQL})) AS n_unique_words
FROM documents
""")
def doc_token_stats(spark, sf):
    from tecs_hardware_kbc_spark.operators.textstats import token_stats
    d = _t(spark, sf, "documents")
    out = token_stats(d)
    return out.withColumn("chars_per_word", F.round("chars_per_word", 4))


def _stopword_ratio_sql(lang_words: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in lang_words)
    return (f"len(list_filter({_WORDS_SQL}, x -> x IN ({inlist})))::double"
            f" / greatest(len({_WORDS_SQL}), 1)")


def _lang_sql() -> str:
    from tecs_hardware_kbc_spark.operators.textstats import STOPWORDS
    s = {lang: _stopword_ratio_sql(ws) for lang, ws in STOPWORDS.items()}
    return f"""
SELECT doc_id,
  CASE WHEN greatest(s_de, s_en, s_fr) = 0 THEN 'und'
       WHEN s_fr >= s_en AND s_fr >= s_de THEN 'fr'
       WHEN s_en >= s_de THEN 'en' ELSE 'de' END AS lang_pred,
  round(greatest(s_de, s_en, s_fr), 4) AS lang_score
FROM (SELECT doc_id, {s['de']} AS s_de, {s['en']} AS s_en, {s['fr']} AS s_fr
      FROM documents)
"""


@_q("doc_lang_id", _lang_sql())
def doc_lang_id(spark, sf):
    from tecs_hardware_kbc_spark.operators.textstats import language_id
    d = _t(spark, sf, "documents")
    return language_id(d).withColumn("lang_score", F.round("lang_score", 4))


@_q("doc_quality", f"""
SELECT doc_id,
  round(least(length(text) / 500.0, 1.0), 6) AS len_score,
  round(length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::double
        / greatest(length(text), 1), 6) AS alpha_ratio,
  round(least(({_stopword_ratio_sql(['the','and','of','to','is','in','for','are','with','a'])}) * 5, 1.0), 6)
    AS stopword_score,
  CASE WHEN length(text)::double / greatest(len({_WORDS_SQL}), 1)
            BETWEEN 3 AND 12 THEN 1.0::double ELSE 0.0::double END AS word_len_score,
  round((least(length(text) / 500.0, 1.0)
         + length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::double
           / greatest(length(text), 1)
         + least(({_stopword_ratio_sql(['the','and','of','to','is','in','for','are','with','a'])}) * 5, 1.0)
         + CASE WHEN length(text)::double / greatest(len({_WORDS_SQL}), 1)
                BETWEEN 3 AND 12 THEN 1.0::double ELSE 0.0::double END) / 4.0, 6) AS quality
FROM documents
""")
def doc_quality(spark, sf):
    from tecs_hardware_kbc_spark.operators.textstats import quality_score
    return quality_score(_t(spark, sf, "documents"))


@_q("dedup_exact", f"""
WITH fp AS (SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents)
SELECT fp.doc_id, c.canonical_id, fp.fingerprint
FROM fp JOIN (SELECT fingerprint, min(doc_id) AS canonical_id
              FROM fp GROUP BY fingerprint) c USING (fingerprint)
""")
def dedup_exact(spark, sf):
    from tecs_hardware_kbc_spark.operators.dedup import exact_duplicates
    return exact_duplicates(_t(spark, sf, "documents")) \
        .select("doc_id", "canonical_id", "fingerprint")


def _minhash_sql(num_hashes: int = 4) -> str:
    hashes = ", ".join(
        f"min(('0x' || substr(md5('{i}:' || shingle), 1, 8))::ubigint::bigint) AS m{i}"
        for i in range(num_hashes))
    return f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
       FROM w, unnest(generate_series(1, greatest(len(words) - 2, 1))) AS t(i))
SELECT doc_id, {hashes} FROM sh GROUP BY doc_id
"""


@_q("dedup_minhash_sig", _minhash_sql(4))
def dedup_minhash_sig(spark, sf):
    from tecs_hardware_kbc_spark.operators.dedup import (minhash_signatures,
                                                         word_shingles)
    d = _t(spark, sf, "documents")
    sig = minhash_signatures(word_shingles(d), num_hashes=4)
    return sig.select(
        "doc_id", *[F.col("sig")[i].alias(f"m{i}") for i in range(4)])


def _simhash_sql(bits: int = 16) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h // {2 ** b}) % 2 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits))
    recomb = " + ".join(f"(CASE WHEN b{b} > 0 THEN {2 ** b} ELSE 0 END)"
                        for b in range(bits))
    return f"""
WITH toks AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::ubigint::bigint AS h
  FROM (SELECT doc_id, unnest({_WORDS_SQL}) AS tok FROM documents)),
agg AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id)
SELECT doc_id, ({recomb})::bigint AS simhash FROM agg
"""


@_q("dedup_simhash", _simhash_sql())
def dedup_simhash(spark, sf):
    from tecs_hardware_kbc_spark.operators.dedup import simhash
    return simhash(_t(spark, sf, "documents"))


def _simhash64_sql(src: str = "documents") -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h_{half} // {2 ** b}) % 2 = 1 THEN 1 ELSE -1 END)"
        f" AS {half}{b}"
        for half in ("lo", "hi") for b in range(32))

    def recomb(half: str) -> str:
        return " + ".join(f"(CASE WHEN {half}{b} > 0 THEN {2 ** b} ELSE 0 END)"
                          for b in range(32))

    return f"""
WITH toks AS (
  SELECT doc_id, md5(tok) AS h
  FROM (SELECT doc_id, unnest({_WORDS_SQL}) AS tok FROM {src})),
hs AS (SELECT doc_id,
  ('0x' || substr(h, 1, 8))::ubigint::bigint AS h_lo,
  ('0x' || substr(h, 9, 8))::ubigint::bigint AS h_hi FROM toks),
agg AS (SELECT doc_id, {votes} FROM hs GROUP BY doc_id)
SELECT doc_id, ({recomb('hi')})::bigint AS sim_hi,
       ({recomb('lo')})::bigint AS sim_lo FROM agg
"""


@_q("dedup_simhash64", _simhash64_sql())
def dedup_simhash64(spark, sf):
    from tecs_hardware_kbc_spark.operators.dedup import simhash64
    return simhash64(_t(spark, sf, "documents"))


# near-dup input: each doc < 150 plus a one-token-appended twin (the corpus
# has no planted near-dups, so we plant deterministic ones)
_NEARDUP_SRC = """
(SELECT doc_id, text FROM documents WHERE doc_id < 150
 UNION ALL
 SELECT doc_id + 10000 AS doc_id, text || ' zq' AS text
 FROM documents WHERE doc_id < 150)
"""


def _simhash_hamming_sql() -> str:
    return f"""
WITH sim AS ({_simhash64_sql(_NEARDUP_SRC)}),
blocks AS (
  SELECT doc_id, sim_hi, sim_lo, b.i AS block_idx,
    CASE b.i WHEN 0 THEN sim_lo % 65536 WHEN 1 THEN sim_lo // 65536
             WHEN 2 THEN sim_hi % 65536 ELSE sim_hi // 65536 END AS block_val
  FROM sim, unnest([0, 1, 2, 3]) AS b(i))
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
  (bit_count(xor(x.sim_hi, y.sim_hi))
   + bit_count(xor(x.sim_lo, y.sim_lo)))::int AS hamming
FROM blocks x JOIN blocks y USING (block_idx, block_val)
WHERE x.doc_id < y.doc_id
  AND bit_count(xor(x.sim_hi, y.sim_hi))
      + bit_count(xor(x.sim_lo, y.sim_lo)) <= 3
"""


@_q("dedup_simhash_hamming", _simhash_hamming_sql())
def dedup_simhash_hamming(spark, sf):
    from tecs_hardware_kbc_spark.operators.dedup import simhash_near_duplicates
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 150)
    twins = d.select((F.col("doc_id") + 10000).alias("doc_id"),
                     F.concat("text", F.lit(" zq")).alias("text"))
    src = d.select("doc_id", "text").unionByName(twins)
    out = simhash_near_duplicates(src, max_hamming=3)
    return out.withColumn("hamming", F.col("hamming").cast("int"))


@_q("dedup_ngram_jaccard", f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
       FROM w, unnest(generate_series(1, greatest(len(words) - 2, 1))) AS t(i)),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
shr AS (SELECT sh.* FROM sh SEMI JOIN rare USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shr GROUP BY doc_id),
inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
          FROM shr x JOIN shr y USING (shingle) WHERE x.doc_id < y.doc_id
          GROUP BY x.doc_id, y.doc_id)
SELECT a, b, round(inter::double / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
FROM inter JOIN sizes sa ON inter.a = sa.doc_id
JOIN sizes sb ON inter.b = sb.doc_id
WHERE inter::double / (sa.n_sh + sb.n_sh - inter) >= 0.1
""")
def dedup_ngram_jaccard(spark, sf):
    from tecs_hardware_kbc_spark.operators.dedup import ngram_jaccard_pairs
    out = ngram_jaccard_pairs(_t(spark, sf, "documents"), threshold=0.1)
    return out.withColumn("jaccard", F.round("jaccard", 4))


@_q("sim_topk", """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
           WHERE vec_id < 5),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings)
SELECT query_id, vec_id, round(cos, 4) AS cosine, rnk FROM (
  SELECT q.query_id, c.vec_id,
         list_cosine_similarity(qv, cv) AS cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY list_cosine_similarity(qv, cv) DESC,
                                     c.vec_id) AS rnk
  FROM q CROSS JOIN c WHERE q.query_id != c.vec_id)
WHERE rnk <= 5
""")
def sim_topk(spark, sf):
    from tecs_hardware_kbc_spark.operators.similarity import cosine_topk
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    out = cosine_topk(emb, queries, k=5)
    return out.select("query_id", "vec_id",
                      F.round("cosine", 4).alias("cosine"),
                      F.col("rank").alias("rnk"))


@_q("emb_near_dup", """
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 4) AS cosine
FROM embeddings a CROSS JOIN embeddings b
WHERE a.vec_id < b.vec_id
  AND list_cosine_similarity(a.embedding::DOUBLE[],
                             b.embedding::DOUBLE[]) >= 0.3
""")
def emb_near_dup(spark, sf):
    """Exact all-pairs cosine — the VERIFICATION baseline for near-dup
    (quadratic; oracle-checkable). The scale path is ``emb_near_dup_lsh``
    below (multi-table hyperplane LSH, recall-gated in tests/test_dedup)."""
    from tecs_hardware_kbc_spark.operators.similarity import cosine_pairs
    out = cosine_pairs(_t(spark, sf, "embeddings"), threshold=0.3)
    return out.withColumn("cosine", F.round("cosine", 4))


def _hyperplanes(tables: int, planes: int, dim: int = 64, seed: int = 42):
    """The exact constants dedup.embedding_near_duplicates /
    similarity.lsh_topk derive from RandomState(seed) — embedded as SQL
    literals so DuckDB computes identical sign buckets."""
    import numpy as np
    return np.random.RandomState(seed).randn(tables, planes, dim)


def _vec_lit(v) -> str:
    return "[" + ", ".join(repr(float(x)) for x in v) + "]"


def _emb_near_dup_lsh_sql(threshold: float = 0.9, planes: int = 8,
                          tables: int = 4) -> str:
    hp = _hyperplanes(tables, planes)
    buckets = "\n  UNION ALL ".join(
        "SELECT vec_id, v, {t} AS t, ".format(t=t)
        + " + ".join(
            f"(CASE WHEN list_inner_product(v, {_vec_lit(hp[t][p])}) > 0 "
            f"THEN {2 ** p} ELSE 0 END)" for p in range(planes))
        + " AS bucket FROM e"
        for t in range(tables))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS ({buckets}),
pairs AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b, x.v AS va, y.v AS vb
  FROM b x JOIN b y USING (t, bucket) WHERE x.vec_id < y.vec_id)
SELECT a, b, round(list_cosine_similarity(va, vb), 4) AS cosine
FROM pairs WHERE list_cosine_similarity(va, vb) >= {threshold}
"""


@_q("emb_near_dup_lsh", _emb_near_dup_lsh_sql(threshold=0.4))
def emb_near_dup_lsh(spark, sf):
    """The first-class scale path for embedding near-dup: multi-table
    sign-bucket LSH + exact rerank (never all-pairs). The hyperplane
    constants are embedded in the oracle SQL, so even the approximate path
    is value-checked bit-for-bit; the recall >= 0.9 contract vs the exact
    baseline is pinned by pytest."""
    from tecs_hardware_kbc_spark.operators.dedup import (
        embedding_near_duplicates)
    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    out = embedding_near_duplicates(emb, threshold=0.4)
    return out.withColumn("cosine", F.round("cosine", 4))


def _sim_lsh_topk_sql(k: int = 5, planes: int = 6) -> str:
    hp = _hyperplanes(1, planes)[0]
    bucket = " + ".join(
        f"(CASE WHEN list_inner_product(v, {_vec_lit(hp[p])}) > 0 "
        f"THEN {2 ** p} ELSE 0 END)" for p in range(planes))
    probes = "[" + ", ".join(str(m) for m in [0] + [2 ** p for p in range(planes)]) + "]"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv,
             xor(bucket, m.m) AS bucket
      FROM c, unnest({probes}) AS m(m) WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id,
         list_cosine_similarity(qv, c.v) AS cos
  FROM q JOIN c USING (bucket) WHERE q.query_id != c.vec_id)
SELECT query_id, vec_id, round(cos, 4) AS cosine, rnk FROM (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS rnk
  FROM (SELECT DISTINCT query_id, vec_id, cos FROM scored))
WHERE rnk <= {k}
"""


@_q("doc_fingerprints", f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
sh AS (SELECT doc_id,
         ('0x' || substr(md5(array_to_string(words[i:i+4], ' ')), 1, 8))
           ::ubigint::bigint AS h
       FROM w, unnest(generate_series(1, greatest(len(words) - 4, 1))) AS t(i)),
agg AS (SELECT doc_id, list_sort(list_distinct(list(h))) AS hs
        FROM sh GROUP BY doc_id)
SELECT d.doc_id, md5({_NORM_SQL}) AS fp_md5, to_json(a.hs[1:4]) AS fp_set
FROM documents d JOIN agg a ON d.doc_id = a.doc_id
""")
def doc_fingerprints(spark, sf):
    """Winnowing-style document fingerprints (full-content md5 + k
    smallest shingle hashes) — md5-derived, replayed in SQL."""
    from tecs_hardware_kbc_spark.operators.textstats import fingerprint
    out = fingerprint(_t(spark, sf, "documents"))
    return out.withColumn("fp_set", F.to_json("fp_set"))


@_q("doc_word_counter", f"""
SELECT word, count(*) AS n
FROM (SELECT unnest({_WORDS_SQL}) AS word FROM documents)
GROUP BY word HAVING count(*) >= 10
""")
def doc_word_counter(spark, sf):
    """A4 word counter (collect_word_counter, transistors.py:473)."""
    from tecs_hardware_kbc_spark.operators.dedup import norm_text
    d = _t(spark, sf, "documents")
    return (
        d.select(F.explode(F.split(norm_text(F.col("text")), " ")).alias("word"))
        .groupBy("word").count().withColumnRenamed("count", "n")
        .filter(F.col("n") >= 10)
    )


# --------------------------------------------------------------------------
# Rows-only entries (non-SQL-expressible: full KBC pipeline, LSH ANN,
# multimodal plumbing) — the driver records the weaker check; pytest holds
# the strong gates.
# --------------------------------------------------------------------------

def _synthetic_corpus(spark, n_pages: int = 60):
    from tecs_hardware_kbc_spark.corpus import (corpus_to_dataframes,
                                                generate_corpus)
    return corpus_to_dataframes(spark, generate_corpus(n_pages, seed=42))


# Golden content digests for the rows-only pipeline entries. The pipeline
# is deterministic by construction (SURVEY §1.3: fixed corpus seed, fixed
# LF set, order-independent aggregations), so the composed output values
# are pinned here and self-verified on every run: a row-count-preserving
# regression (threshold drift, widening change, canonicalization bug) now
# fails loudly instead of slipping past the driver's rows-only check.
# Recompute ONLY after an intentional semantic change, via
# `python -c "import __spark_entry__ as E; E.print_golden_digests()"`.
_GOLDEN_DIGESTS = {
    # r4: kbc_sentences re-pinned twice — the planted two-record pair
    # tables (+80 sentences) and the table-shares-its-first-page
    # pagination fix (extract.parse_html). kbc_triples is UNCHANGED by
    # both: the pair-table cross pairs are entity-level duplicates by
    # design (corpus.py), and the page fix moves LF votes without moving
    # any entity past its tuned threshold at 6-dp rounding.
    "kbc_triples": (356, 3021505895541361716),
    "kbc_sentences": (2187, 7923965561404068773),
    # r5: pinned (url, ok) content of the extract invariant — all-true by
    # construction; drift means the corpus or the extractor changed
    "kbc_extract_invariant": (72, -3449246091241218228),
}


def _digest(df, cols) -> tuple[int, int]:
    """(rows, XOR-fold of xxhash64 over the named columns): xor is
    order-independent and overflow-free under ANSI mode."""
    row = df.select(F.bit_xor(F.xxhash64(*cols)).alias("d"),
                    F.count("*").alias("n")).collect()[0]
    return int(row["n"]), int(row["d"]) if row["d"] is not None else 0


def _check_golden(name: str, df, cols):
    """``df`` once its ``_digest`` matches the committed golden value."""
    got = _digest(df, cols)
    want = _GOLDEN_DIGESTS[name]
    if got != want:
        raise AssertionError(
            f"{name}: golden content digest drifted — got (rows, xor64) = "
            f"{got}, committed {want}. If the change is intentional, "
            f"recompute via print_golden_digests().")
    return df


def _triple_digest_cols():
    return ["subj", "pred", "obj", F.round(F.col("prob"), 6)]


# Each golden frame is built by ONE function, shared by its entry and by
# print_golden_digests, so the printed digest is the one the entry checks.

def _golden_triples(spark):
    from tecs_hardware_kbc_spark.pipeline import run_kbc
    pages, gold, gaz = _synthetic_corpus(spark)
    return run_kbc(spark, pages, gaz, gold).triples, _triple_digest_cols()


def _golden_sentences(spark):
    from tecs_hardware_kbc_spark.operators.extract import parse_pages
    pages, _, _ = _synthetic_corpus(spark)
    s = parse_pages(pages)
    # the driver canonicalizer sorts column values in pandas — array columns
    # are unhashable there, so ship arrays as joined strings
    s = s.withColumn("words", F.array_join("words", " ")) \
         .withColumn("char_offsets",
                     F.array_join(F.transform("char_offsets",
                                              lambda x: x.cast("string")),
                                  " "))
    s = s.fillna({"table_id": -1, "row": -1, "col": -1, "tag": ""})
    return s, sorted(s.columns)


def _golden_extract_invariant(spark):
    from tecs_hardware_kbc_spark.operators.extract import extract_text
    import pyspark.sql.types as T
    pages, _, _ = _synthetic_corpus(spark)
    udf = F.pandas_udf(lambda s: s.map(extract_text), T.StringType())
    out = pages.select(
        "url", (udf(F.col("html")) == F.col("text")).alias("ok"))
    return out, ["url", "ok"]


_GOLDEN_FRAMES = {
    "kbc_triples": _golden_triples,
    "kbc_sentences": _golden_sentences,
    "kbc_extract_invariant": _golden_extract_invariant,
}


@_q("kbc_triples")
def kbc_triples(spark, sf):
    return _check_golden("kbc_triples", *_golden_triples(spark))


@_q("kbc_sentences")
def kbc_sentences(spark, sf):
    return _check_golden("kbc_sentences", *_golden_sentences(spark))


def print_golden_digests() -> None:
    """Recompute and print the _GOLDEN_DIGESTS values (run after an
    intentional semantic change to the pipeline or parse)."""
    from tecs_hardware_kbc_spark.session import get_spark
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    for name, frame in _GOLDEN_FRAMES.items():
        print(f'    "{name}": {_digest(*frame(spark))},')


# --------------------------------------------------------------------------
# KBC-core oracle entries: the gram-space kernel, the candidate pairing
# join + throttler, and LF vote aggregation, each run on inputs derived
# deterministically from the documents table so DuckDB can replay them.
# --------------------------------------------------------------------------

_PUNCT_STRIP_SQL = (
    "^[.,;:!?()\\[\\]{}\"'']+|[.,;:!?()\\[\\]{}\"'']+$"
)


def _gram_space_sql() -> str:
    """DuckDB replay of extract.grams_col (word 1..3-grams with char
    offsets + '-'/'/' sub-token grams + punctuation-stripped grams)."""
    return f"""
WITH d AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents
           WHERE doc_id < 40),
tok AS (SELECT doc_id, words, i, words[i] AS w
        FROM d, unnest(generate_series(1, len(words))) AS t(i)),
off AS (SELECT doc_id, words, i, w,
        -- ::bigint: DuckDB's windowed sum promotes to a wide type that the
        -- driver's pandas canonicalizer renders as float ("0.0" vs Spark's
        -- "0"), breaking the value hash even though values are identical.
        coalesce(sum(length(w) + 1) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0)::bigint AS cs
        FROM tok),
wg AS (SELECT doc_id, array_to_string(words[i:i+g-1], ' ') AS span,
         i - 1 AS wi, g AS n, cs AS char_start,
         cs + length(array_to_string(words[i:i+g-1], ' ')) - 1 AS char_end
       FROM off, unnest(generate_series(1, least(3, len(words) - i + 1)))
            AS t(g)),
sub AS (SELECT doc_id, p AS span, i - 1 AS wi, 0 AS n,
         cs + strpos(w, p) - 1 AS char_start,
         cs + strpos(w, p) + length(p) - 2 AS char_end
        FROM off, unnest(string_split_regex(w, '[-/]')) AS t(p)
        WHERE p != '' AND p != w),
strip AS (SELECT doc_id, p AS span, i - 1 AS wi, 0 AS n,
         cs + strpos(w, p) - 1 AS char_start,
         cs + strpos(w, p) + length(p) - 2 AS char_end
        FROM (SELECT doc_id, i, w, cs,
              regexp_replace(w, '{_PUNCT_STRIP_SQL}', '', 'g') AS p FROM off)
        WHERE p != '' AND p != w)
SELECT * FROM wg UNION ALL SELECT * FROM sub UNION ALL SELECT * FROM strip
"""


@_q("kbc_gram_space", _gram_space_sql())
def kbc_gram_space(spark, sf):
    """P1 gram-space kernel (MentionNgrams(n_max=3, split_tokens=['-','/']))
    over the documents table — every span/offset hash-checked vs DuckDB."""
    from tecs_hardware_kbc_spark.operators.dedup import norm_text
    from tecs_hardware_kbc_spark.operators.extract import grams_col
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 40)
    words = F.split(norm_text(F.col("text")), " ")
    return d.select("doc_id", F.explode(grams_col(words)).alias("g")).select(
        "doc_id", F.col("g.span").alias("span"), F.col("g.wi").alias("wi"),
        F.col("g.n").alias("n"), F.col("g.char_start").alias("char_start"),
        F.col("g.char_end").alias("char_end"))


def _lingual_tags_sql() -> str:
    """DuckDB replay of the lingual-lite POS/NER taggers (lingual.py) over
    case-preserving whitespace tokens of the documents table."""
    from tecs_hardware_kbc_spark.operators.lingual import lingual_sql
    words = "string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')"
    pos, ner = lingual_sql("words")
    return f"""
WITH d AS (SELECT doc_id, {words} AS words FROM documents WHERE doc_id < 60),
tagged AS (SELECT doc_id, words, {pos} AS pos, {ner} AS ner FROM d)
SELECT doc_id, i - 1 AS ti, words[i] AS word,
       pos[i] AS pos_tag, ner[i] AS ner_tag
FROM tagged, unnest(generate_series(1, len(words))) AS t(i)
"""


@_q("kbc_lingual_tags", _lingual_tags_sql())
def kbc_lingual_tags(spark, sf):
    """Lingual-lite annotations (fonduer parse's pos_tags/ner_tags leg,
    transistor_spaces.py:206-224 / transistor_lfs.py:434-436): both tag
    streams hash-checked per token vs the DuckDB replay."""
    from tecs_hardware_kbc_spark.operators.lingual import (ner_tag_col,
                                                           pos_tag_col)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 60)
    words = F.split(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")), " ")
    return (
        d.select("doc_id", words.alias("words"),
                 pos_tag_col(words).alias("pos"),
                 ner_tag_col(words).alias("ner"))
        .select("doc_id", F.posexplode(
            F.arrays_zip(F.col("words").alias("word"),
                         F.col("pos").alias("pos_tag"),
                         F.col("ner").alias("ner_tag"))).alias("ti", "z"))
        .select("doc_id", "ti", F.col("z.word").alias("word"),
                F.col("z.pos_tag").alias("pos_tag"),
                F.col("z.ner_tag").alias("ner_tag"))
    )


def _sample_sql() -> str:
    """DuckDB replay of sample_by_hash + split_by_hash (sampling.py):
    md5-uniform keep at 0.3, then 2/1/1 train/val/test boundaries (0.5,
    0.75 — exact binary fractions, no FP boundary drift)."""
    def u(salt: str) -> str:
        return (f"(('0x' || substr(md5(doc_id::varchar || ':{salt}'), "
                f"1, 8))::ubigint / 4294967296.0)")

    return f"""
SELECT doc_id,
       CASE WHEN {u('split')} < 0.5 THEN 'train'
            WHEN {u('split')} < 0.75 THEN 'val'
            ELSE 'test' END AS split
FROM documents
WHERE {u('sample')} < 0.3
"""


@_q("doc_sample", _sample_sql())
def doc_sample(spark, sf):
    """Deterministic corpus selection (sampling.py): hash-Bernoulli
    sample at fraction 0.3 + disjoint/exhaustive 2/1/1 train-val-test
    split labels, both md5-derived (reproducible across runs, engines
    and partitionings — unlike rand()-based sampling) and hash-checked
    vs the DuckDB replay."""
    from tecs_hardware_kbc_spark.operators.sampling import (
        sample_by_hash, split_by_hash)
    d = _t(spark, sf, "documents")
    out = split_by_hash(sample_by_hash(d, "doc_id", 0.3), "doc_id",
                        {"train": 2, "val": 1, "test": 1})
    return out.select("doc_id", "split")


def _decontaminate_sql(n: int = 8) -> str:
    """DuckDB replay of dedup.decontaminate: benchmark = the first 12
    normalized words of every doc_id %% 50 == 0 document, n-gram overlap
    counted per training doc."""
    m = n - 1
    return f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
bs AS (SELECT DISTINCT array_to_string(words[i:i+{m}], ' ') AS shingle
       FROM (SELECT words[1:12] AS words FROM w WHERE doc_id % 50 = 0) b,
            unnest(generate_series(1, greatest(len(words) - {m}, 1)))
              AS t(i)),
ds AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+{m}], ' ')
              AS shingle
       FROM w, unnest(generate_series(1, greatest(len(words) - {m}, 1)))
              AS t(i))
SELECT doc_id, count(*) AS n_hits, min(shingle) AS first_hit
FROM ds JOIN bs USING (shingle)
GROUP BY doc_id
"""


@_q("doc_decontaminate", _decontaminate_sql())
def doc_decontaminate(spark, sf):
    """Benchmark decontamination (dedup.decontaminate — the n-gram
    contamination rule of every pretraining recipe): eval 'benchmark' =
    12-word prompts carved from every 50th document, training docs
    sharing any 8-gram flagged with hit counts; broadcast map-side plan,
    hash-checked vs the DuckDB replay."""
    from tecs_hardware_kbc_spark.operators.dedup import (decontaminate,
                                                         norm_text)
    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        "doc_id",
        F.array_join(
            F.slice(F.split(norm_text(F.col("text")), " "), 1, 12),
            " ").alias("text"))
    return decontaminate(d, bench, n=8)


def _pii_redact_sql(col: str) -> str:
    """The redact_pii replacement chain over ``col``, in PII_PATTERNS
    order."""
    from tecs_hardware_kbc_spark.operators.textstats import PII_PATTERNS
    out = col
    for pat in PII_PATTERNS.values():
        out = f"regexp_replace({out}, '{pat}', '[PII]', 'g')"
    return out


def _redact_sql() -> str:
    """DuckDB replay of textstats.redact_pii over deterministically
    planted PII (the raw documents carry none — planting keeps the
    oracle non-vacuous): counts from the original text, replacements
    chained in PII_PATTERNS order."""
    from tecs_hardware_kbc_spark.operators.textstats import PII_PATTERNS
    email, ipv4, digits = (PII_PATTERNS["email"], PII_PATTERNS["ipv4"],
                           PII_PATTERNS["long_digits"])
    redact = _pii_redact_sql("t")
    return f"""
WITH p AS (SELECT doc_id,
  CASE WHEN doc_id % 4 = 0
         THEN text || ' contact user' || doc_id::varchar
                   || '@example.com for details'
       WHEN doc_id % 4 = 1
         THEN text || ' server 10.0.' || (doc_id % 256)::varchar
                   || '.7 responded'
       WHEN doc_id % 4 = 2
         THEN text || ' account ' || (9000000000 + doc_id)::varchar
                   || ' closed'
       ELSE text END AS t
  FROM documents)
SELECT doc_id, md5({redact}) AS redacted_md5,
  len(regexp_extract_all(t, '{email}')) AS n_email,
  len(regexp_extract_all(t, '{ipv4}')) AS n_ipv4,
  len(regexp_extract_all(t, '{digits}')) AS n_long_digits
FROM p
"""


@_q("doc_redact", _redact_sql())
def doc_redact(spark, sf):
    """PII redaction (textstats.redact_pii): emails / IPv4 / long digit
    runs planted per doc_id residue, scrubbed to [PII] with per-category
    counts; the redacted text (as md5) and every count hash-checked vs
    the DuckDB regex replay — the patterns are restricted to the
    Java-regex/RE2 common dialect precisely so this check is possible."""
    from tecs_hardware_kbc_spark.operators.textstats import redact_pii
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    planted = (
        F.when(did % 4 == 0,
               F.concat(F.col("text"), F.lit(" contact user"),
                        did.cast("string"),
                        F.lit("@example.com for details")))
        .when(did % 4 == 1,
              F.concat(F.col("text"), F.lit(" server 10.0."),
                       (did % 256).cast("string"), F.lit(".7 responded")))
        .when(did % 4 == 2,
              F.concat(F.col("text"), F.lit(" account "),
                       (F.lit(9000000000) + did).cast("string"),
                       F.lit(" closed")))
        .otherwise(F.col("text")))
    out = redact_pii(d.select("doc_id", planted.alias("text")))
    return out.select("doc_id", F.md5("redacted").alias("redacted_md5"),
                      "n_email", "n_ipv4", "n_long_digits")


# planted line structure shared by doc_repetition / doc_gopher: the raw
# documents are single-line, so line-level signals (dup lines, bullets,
# ellipses) need deterministic planting to be non-vacuous
_PLANT_LINES_SQL = """
  CASE WHEN doc_id % 3 = 0
         THEN text || chr(10) || 'alpha beta gamma'
                   || chr(10) || 'alpha beta gamma'
                   || chr(10) || '- bullet point line'
                   || chr(10) || 'end of doc...'
       WHEN doc_id % 3 = 1
         THEN text || chr(10) || '- first item'
                   || chr(10) || '- second item'
                   || chr(10) || 'tail line...'
       ELSE text END"""


def _plant_lines_col():
    did = F.col("doc_id")
    nl = "\n"
    return (
        F.when(did % 3 == 0,
               F.concat(F.col("text"),
                        F.lit(nl + "alpha beta gamma"
                              + nl + "alpha beta gamma"
                              + nl + "- bullet point line"
                              + nl + "end of doc...")))
        .when(did % 3 == 1,
              F.concat(F.col("text"),
                       F.lit(nl + "- first item"
                             + nl + "- second item"
                             + nl + "tail line...")))
        .otherwise(F.col("text")))


def _repetition_sql() -> str:
    """DuckDB replay of textstats.repetition_stats over the planted
    lines: lines/words via list lambdas, adjacent-dup char sums over
    sorted lists ((count-1)*len per distinct value), top-n-gram by
    (count desc, gram asc) via unnest + window."""
    norm = "trim(regexp_replace(lower(t), '\\s+', ' ', 'g'))"
    base = f"""
b AS (SELECT doc_id, {_PLANT_LINES_SQL} AS t FROM documents),
w AS (SELECT doc_id, t,
             string_split({norm}, ' ') AS words,
             greatest(length({norm}), 1) AS denom,
             list_filter(list_transform(string_split(t, chr(10)),
                                        l -> trim(l)),
                         l -> l <> '') AS lines
      FROM b)"""
    dup = ("coalesce(list_sum(list_transform(range(2, len({g}) + 1), "
           "i -> CASE WHEN {g}[i] = {g}[i-1] THEN length({g}[i]) "
           "ELSE 0 END)), 0)")
    gram = ("CASE WHEN len(words) < {n} THEN [] "
            "ELSE list_transform(range(1, len(words) - {n} + 2), "
            "i -> array_to_string(words[i:i+{m}], ' ')) END")
    tops = []
    top_joins = []
    for n in (2, 3, 4):
        g = gram.format(n=n, m=n - 1)
        tops.append(f"""
t{n} AS (SELECT doc_id, cnt * length(gram) AS chars FROM (
    SELECT doc_id, gram, count(*) AS cnt,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY count(*) DESC, gram ASC) AS rn
    FROM (SELECT doc_id, unnest({g}) AS gram FROM w)
    GROUP BY doc_id, gram) WHERE rn = 1)""")
        top_joins.append(
            f"round(least(coalesce(t{n}.chars, 0) / denom, 1.0), 6)"
            f" AS top_{n}gram_char_frac")
    dups = []
    for n in (5, 6, 7, 8, 9, 10):
        g = f"list_sort({gram.format(n=n, m=n - 1)})"
        dups.append(f"round(least(({dup.format(g=g)}) / denom, 1.0), 6)"
                    f" AS dup_{n}gram_char_frac")
    sl = "list_sort(lines)"
    line_chars = ("coalesce(list_sum(list_transform(lines, "
                  "l -> length(l))), 0)")
    return f"""
WITH {base},{",".join(tops)}
SELECT w.doc_id, len(lines) AS n_lines,
  round(CASE WHEN len(lines) > 0
             THEN (len(lines) - len(list_distinct(lines))) / len(lines)
             ELSE 0.0 END, 6) AS dup_line_frac,
  round(CASE WHEN {line_chars} > 0
             THEN ({dup.format(g=sl)}) / {line_chars}
             ELSE 0.0 END, 6) AS dup_line_char_frac,
  {", ".join(top_joins)},
  {", ".join(dups)}
FROM w LEFT JOIN t2 ON w.doc_id = t2.doc_id
       LEFT JOIN t3 ON w.doc_id = t3.doc_id
       LEFT JOIN t4 ON w.doc_id = t4.doc_id
"""


@_q("doc_repetition", _repetition_sql())
def doc_repetition(spark, sf):
    """Gopher repetition signals (textstats.repetition_stats): dup-line
    fraction/chars, top-2/3/4-gram char coverage, dup-5..10-gram char
    fraction — computed shuffle-free via sorted-array run-length folds,
    every column hash-checked against the DuckDB list-lambda replay.
    Line structure (dups, bullets, ellipses) planted per doc_id %% 3."""
    from tecs_hardware_kbc_spark.operators.textstats import repetition_stats
    d = _t(spark, sf, "documents")
    return repetition_stats(
        d.select("doc_id", _plant_lines_col().alias("text")))


def _gopher_sql() -> str:
    from tecs_hardware_kbc_spark.operators.textstats import (
        REQUIRED_STOPWORDS)
    norm = "trim(regexp_replace(lower(t), '\\s+', ' ', 'g'))"
    req = "[" + ", ".join(f"'{w}'" for w in REQUIRED_STOPWORDS) + "]"
    return f"""
WITH b AS (SELECT doc_id, {_PLANT_LINES_SQL} AS t FROM documents),
w AS (SELECT doc_id, t, string_split({norm}, ' ') AS words,
             replace({norm}, ' ', '') AS squeezed,
             list_filter(list_transform(string_split(t, chr(10)),
                                        l -> trim(l)),
                         l -> l <> '') AS lines
      FROM b),
s AS (SELECT doc_id,
  len(words) AS n_words,
  round(length(squeezed) / greatest(len(words), 1), 6) AS mean_word_len,
  round((len(regexp_extract_all(t, '#'))
         + len(regexp_extract_all(t, '\\.\\.\\.')))
        / greatest(len(words), 1), 6) AS symbol_ratio,
  round(len(list_filter(lines, l -> regexp_matches(l, '^[-*•‣]')))
        / greatest(len(lines), 1), 6) AS bullet_line_frac,
  round(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)$')))
        / greatest(len(lines), 1), 6) AS ellipsis_line_frac,
  round(len(list_filter(words, x -> regexp_matches(x, '[a-z]')))
        / greatest(len(words), 1), 6) AS alpha_word_frac,
  len(list_intersect(list_distinct(words), {req})) AS n_req_stopwords
  FROM w)
SELECT *,
  (n_words BETWEEN 50 AND 100000
   AND mean_word_len BETWEEN 3.0 AND 10.0
   AND symbol_ratio <= 0.1
   AND bullet_line_frac <= 0.9
   AND ellipsis_line_frac <= 0.3
   AND alpha_word_frac >= 0.8
   AND n_req_stopwords >= 2) AS gopher_keep
FROM s
"""


@_q("doc_gopher", _gopher_sql())
def doc_gopher(spark, sf):
    """The Gopher quality rule set (textstats.gopher_quality) at the
    paper thresholds over the line-planted documents: every signal
    column AND the composite keep verdict (non-vacuous: word counts
    10-99 straddle the >=50 rule; planted bullets/ellipses exercise the
    line rules) hash-checked against the DuckDB replay."""
    from tecs_hardware_kbc_spark.operators.textstats import gopher_quality
    d = _t(spark, sf, "documents")
    return gopher_quality(
        d.select("doc_id", _plant_lines_col().alias("text")))


def _para_dedup_sql() -> str:
    """DuckDB replay of dedup.paragraph_dedup over planted paragraphs:
    unnest with index, row_number over the normalized-paragraph md5
    ordered by (doc_id, idx), ordered string_agg rebuild."""
    pnorm = "trim(regexp_replace(lower(para), '\\s+', ' ', 'g'))"
    return f"""
WITH b AS (SELECT doc_id,
    text || chr(10) || chr(10)
         || 'shared passage number ' || (doc_id % 7)::varchar
         || chr(10) || chr(10) || 'unique tail ' || doc_id::varchar
         || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || chr(10)
                      || 'unique tail ' || doc_id::varchar
                 ELSE '' END AS t
    FROM documents),
p AS (SELECT doc_id, i, parts[i] AS para
      FROM (SELECT doc_id, string_split(t, chr(10) || chr(10)) AS parts
            FROM b),
           unnest(generate_series(1, len(parts))) AS u(i)
      WHERE trim(parts[i]) <> ''),
k AS (SELECT doc_id, i, para,
             row_number() OVER (PARTITION BY md5({pnorm})
                                ORDER BY doc_id, i) AS rn
      FROM p),
r AS (SELECT doc_id,
             string_agg(para, chr(10) || chr(10) ORDER BY i)
               AS text_dedup,
             count(*) AS n_paras_kept
      FROM k WHERE rn = 1 GROUP BY doc_id)
SELECT b.doc_id, md5(coalesce(r.text_dedup, '')) AS dedup_md5,
       coalesce(r.n_paras_kept, 0) AS n_paras_kept
FROM b LEFT JOIN r ON b.doc_id = r.doc_id
"""


@_q("doc_para_dedup", _para_dedup_sql())
def doc_para_dedup(spark, sf):
    """Corpus-wide paragraph dedup (dedup.paragraph_dedup — the
    CCNet/C4 boilerplate killer): a 'shared passage' paragraph planted
    per doc_id %% 7 (so exactly 7 docs keep one corpus-wide) plus an
    intra-doc duplicate tail every 5th doc; the rebuilt text (as md5)
    and kept-paragraph counts hash-checked against the DuckDB
    window-replay. First occurrence = smallest (doc_id, idx)."""
    from tecs_hardware_kbc_spark.operators.dedup import paragraph_dedup
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    sep = "\n\n"
    planted = F.concat(
        F.col("text"), F.lit(sep + "shared passage number "),
        (did % 7).cast("string"),
        F.lit(sep + "unique tail "), did.cast("string"),
        F.when(did % 5 == 0,
               F.concat(F.lit(sep + "unique tail "), did.cast("string")))
        .otherwise(F.lit("")))
    out = paragraph_dedup(d.select("doc_id", planted.alias("text")))
    return out.select("doc_id", F.md5("text_dedup").alias("dedup_md5"),
                      "n_paras_kept")


def _gf_kind_sql(kind: str, v: str) -> str:
    """DuckDB twin of gold_format.normalize_value, per kind."""
    first = lambda x: f"string_split(trim({x}), ' ')[1]"  # noqa: E731
    kexp = lambda x: f"regexp_replace({x}, '[Kk]', '000', 'g')"  # noqa: E731
    if kind == "temperature":
        return f"trim(regexp_replace(trim({v}), '\\s+\\S+$', ''))"
    if kind == "voltage":
        return f"replace({first(kexp(f'trim({v})'))}, '-', '')"
    if kind == "current":
        return f"replace({first(v)}, '-', '')"
    if kind == "gain":
        pre = f"replace(string_split({v}, '@')[1], ',', '')"
        return f"replace({first(kexp(pre))}, '-', '')"
    if kind == "polarity":
        return (f"CASE WHEN trim({v}) IN ('NPN', 'PNP') "
                f"THEN trim({v}) END")
    return f"trim({v})"


def _gold_format_sql() -> str:
    """DuckDB replay of sources/gold_format.format_gold over a wide raw
    annotation table synthesized from documents: melt (UNION ALL), the
    N/A-cell substring skip, the ';' multi-value split, every per-kind
    normalizer, and the tuple-distinct."""
    from tecs_hardware_kbc_spark.sources.gold_format import (
        TRANSISTOR_ATTRS)
    cells = {
        "part_family": "CASE WHEN doc_id % 5 = 0 THEN 'N/A' ELSE 'Y' END",
        "polarity": ("CASE doc_id % 3 WHEN 0 THEN 'NPN' "
                     "WHEN 1 THEN 'PNP' ELSE 'npn' END"),
        "ce_v_max": ("CASE doc_id % 4 WHEN 0 THEN '45 V' "
                     "WHEN 1 THEN '-30 V;65 V' WHEN 2 THEN 'N/A' "
                     "ELSE '1K V' END"),
        "cb_v_max": "'50 V'",
        "eb_v_max": "'6 V'",
        "c_current_max": "(100 + doc_id % 9)::varchar || ' mA'",
        "dev_dissipation": "'625 mW'",
        "stg_temp_min": "'-55 C'",
        "stg_temp_max": "'150 C'",
        "dc_gain_min": "(100 + doc_id % 7)::varchar || ' @ 2V'",
    }
    arms = " UNION ALL ".join(
        f"SELECT filename, manuf, part, '{name}' AS attribute, "
        f"{name} AS raw FROM raw" for name in cells)
    val = "CASE attribute " + " ".join(
        f"WHEN '{name}' THEN {_gf_kind_sql(kind, 'one')}"
        for name, kind in TRANSISTOR_ATTRS.items()) + " END"
    cols = ", ".join(f"{sql} AS {name}" for name, sql in cells.items())
    return f"""
WITH raw AS (SELECT 'ds_' || doc_id::varchar AS filename,
                    'Fairchild' AS manuf,
                    'BC' || (doc_id % 50)::varchar AS part,
                    {cols}
             FROM documents),
m AS ({arms}),
s AS (SELECT filename, manuf, part, attribute, one
      FROM m, unnest(string_split(raw, ';')) AS u(one)
      WHERE raw IS NOT NULL AND strpos(raw, 'N/A') = 0
        AND trim(one) <> '')
SELECT DISTINCT filename, manuf, part, attribute, {val} AS value
FROM s WHERE ({val}) IS NOT NULL
"""


@_q("kbc_gold_format", _gold_format_sql())
def kbc_gold_format(spark, sf):
    """Raw vendor-gold formatting (sources/gold_format.format_gold —
    the reference's format_gold.py/normalizers.py as one columnar
    projection): a wide annotation table synthesized from documents
    (multi-valued cells, N/A cells, signed voltages, unit suffixes,
    '@ condition' gains, bad polarities) melted + normalized into the
    long gold schema, hash-checked against the DuckDB replay."""
    from tecs_hardware_kbc_spark.sources.gold_format import format_gold
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    raw = d.select(
        F.concat(F.lit("ds_"), did.cast("string"), F.lit(".pdf"))
        .alias("doc_name"),
        F.when(did % 5 == 0, "N/A").otherwise("Y").alias("part_family"),
        F.concat(F.lit("bc "), (did % 50).cast("string")).alias("part_num"),
        F.lit(" Fairchild ").alias("manufacturer"),
        F.when(did % 3 == 0, "NPN").when(did % 3 == 1, "PNP")
        .otherwise("npn").alias("polarity"),
        F.when(did % 4 == 0, "45 V").when(did % 4 == 1, "-30 V;65 V")
        .when(did % 4 == 2, "N/A").otherwise("1K V").alias("ce_v_max"),
        F.lit("50 V").alias("cb_v_max"),
        F.lit("6 V").alias("eb_v_max"),
        F.concat((F.lit(100) + did % 9).cast("string"), F.lit(" mA"))
        .alias("c_current_max"),
        F.lit("625 mW").alias("dev_dissipation"),
        F.lit("-55 C").alias("stg_temp_min"),
        F.lit("150 C").alias("stg_temp_max"),
        F.concat((F.lit(100) + did % 7).cast("string"), F.lit(" @ 2V"))
        .alias("dc_gain_min"),
    )
    return format_gold(raw, component="transistor")


def _span_dedup_sql(L: int = 8) -> str:
    """DuckDB replay of dedup.span_dedup (exact substring dedup, Lee et
    al. 2022) over planted shared passages: rolling md5 L-gram window,
    row_number over fp ordered by (doc_id, start), per-doc cut list,
    position-coverage rebuild."""
    norm = "trim(regexp_replace(lower(t), '\\s+', ' ', 'g'))"
    return f"""
WITH b AS (SELECT doc_id,
    text || ' shared span passage number ' || (doc_id % 9)::varchar
         || ' padder words keep going onward steadily'
         || CASE WHEN doc_id % 4 = 0
                 THEN ' midline unique ' || doc_id::varchar
                      || ' shared span passage number ' || (doc_id % 9)::varchar
                      || ' padder words keep going onward steadily'
                 ELSE '' END AS t
    FROM documents),
w AS (SELECT doc_id, string_split({norm}, ' ') AS words FROM b),
sp AS (SELECT doc_id, i - 1 AS start,
              md5(array_to_string(words[i:i+{L - 1}], ' ')) AS fp
       FROM w, unnest(generate_series(1, len(words) - {L} + 1)) AS u(i)
       WHERE len(words) >= {L}),
r AS (SELECT doc_id, start,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id, start) AS rn
      FROM sp),
c AS (SELECT doc_id, list_sort(list(start)) AS cut_starts
      FROM r WHERE rn > 1 GROUP BY doc_id),
k AS (SELECT w.doc_id, words,
             list_filter(generate_series(0, len(words) - 1),
                         p -> len(list_filter(coalesce(cut_starts, []),
                                              s -> s <= p AND p < s + {L})) = 0)
               AS keep_idx
      FROM w LEFT JOIN c ON w.doc_id = c.doc_id)
SELECT doc_id,
       md5(coalesce(array_to_string(
             list_transform(keep_idx, p -> words[p + 1]), ' '), ''))
         AS dedup_md5,
       len(words) AS n_words,
       len(words) - len(keep_idx) AS n_words_removed
FROM k
"""


@_q("doc_span_dedup", _span_dedup_sql())
def doc_span_dedup(spark, sf):
    """Exact substring dedup (dedup.span_dedup — Lee et al. 2022's
    ExactSubstr as a DataFrame plan): an 11-word passage planted per
    doc_id %% 9 (kept only in its corpus-first doc) plus a second in-doc
    copy every 4th doc; the rebuilt text (as md5) and removed-word
    counts hash-checked against the DuckDB rolling-window replay.
    First occurrence = smallest (doc_id, start)."""
    from tecs_hardware_kbc_spark.operators.dedup import span_dedup
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    passage = F.concat(F.lit(" shared span passage number "),
                       (did % 9).cast("string"),
                       F.lit(" padder words keep going onward steadily"))
    planted = F.concat(
        F.col("text"), passage,
        F.when(did % 4 == 0,
               F.concat(F.lit(" midline unique "), did.cast("string"),
                        passage)).otherwise(F.lit("")))
    out = span_dedup(d.select("doc_id", planted.alias("text")),
                     span_words=8)
    return out.select("doc_id", F.md5("text_dedup").alias("dedup_md5"),
                      "n_words", "n_words_removed")


_QM_POS = " editorial archive longform verified citation"
_QM_NEG = " clickbait spam adfarm popup tracker"


def _quality_model_sql() -> str:
    """DuckDB replay of the frozen quality model's forward pass
    (quality_model.score_quality): md5 token hash -> 1024-bucket weight
    lookup -> fold + bias -> sigmoid, weights inlined as a literal."""
    from tecs_hardware_kbc_spark.operators.quality_model import (
        HASH_DIM, weights_array)
    from tecs_hardware_kbc_spark.operators.quality_weights import (
        FROZEN_QUALITY_MODEL)
    warr = "[" + ", ".join(
        repr(v) for v in weights_array(FROZEN_QUALITY_MODEL, HASH_DIM)) + "]"
    bias = repr(float(FROZEN_QUALITY_MODEL["bias"]))
    norm = "trim(regexp_replace(lower(t), '\\s+', ' ', 'g'))"
    bucket = ("(('0x' || substr(md5('qf:' || x), 1, 8))::ubigint"
              f" % {HASH_DIM})::int")
    return f"""
WITH b AS (SELECT doc_id,
    CASE WHEN source IN ('src0', 'src2') THEN text || '{_QM_POS}'
         ELSE text || '{_QM_NEG}' END AS t
    FROM documents),
z AS (SELECT doc_id,
    {bias} + coalesce(list_sum(list_transform(
        string_split({norm}, ' '),
        x -> ({warr})[1 + {bucket}])), 0.0) AS logit
    FROM b)
SELECT doc_id, round(logit, 6) AS qm_logit,
       round(1.0 / (1.0 + exp(-logit)), 6) AS qm_score
FROM z
"""


@_q("doc_quality_model", _quality_model_sql())
def doc_quality_model(spark, sf):
    """Model-based quality filtering (quality_model.score_quality — the
    CCNet/DCLM fasttext-style gate): the FROZEN logistic model
    (quality_weights.py, trained dev-fit/test-report on the planted
    editorial-vs-clickbait markers) scores every document via the pure
    column-expression forward pass — hashed bag-of-words -> literal
    weight array -> sigmoid — and both logit and score are hash-checked
    against the DuckDB replay with the weights inlined as SQL
    literals."""
    from tecs_hardware_kbc_spark.operators.quality_model import (
        score_quality)
    from tecs_hardware_kbc_spark.operators.quality_weights import (
        FROZEN_QUALITY_MODEL)
    d = _t(spark, sf, "documents")
    planted = d.select(
        "doc_id",
        F.when(F.col("source").isin("src0", "src2"),
               F.concat(F.col("text"), F.lit(_QM_POS)))
        .otherwise(F.concat(F.col("text"), F.lit(_QM_NEG))).alias("text"))
    return score_quality(planted, FROZEN_QUALITY_MODEL)


# CCNet-style LM perplexity: train a bigram add-1 LM on the doc_id%5==0
# reference slice, score EVERY document, bucket head/middle/tail at fixed
# cutoffs (frozen-artifact pattern).  The oracle replays training AND
# scoring: n-gram counts, the prefix marginal, |V|, the smoothed
# conditional logprob and the exp(-avg) fold, all in one DuckDB query.
_PPL_SQL = f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
pos AS (SELECT doc_id, array_to_string(words[i:i+1], ' ') AS ngram,
               words[i] AS prefix
        FROM w, unnest(generate_series(1, len(words) - 1)) AS t(i)),
cnts AS (SELECT ngram, count(*) AS cnt FROM pos WHERE doc_id % 5 = 0
         GROUP BY ngram),
pref AS (SELECT string_split(ngram, ' ')[1] AS prefix, sum(cnt) AS pcnt
         FROM cnts GROUP BY 1),
voc AS (SELECT count(DISTINCT word) AS v
        FROM (SELECT unnest(words) AS word FROM w WHERE doc_id % 5 = 0)),
sc AS (SELECT p.doc_id,
              ln((coalesce(c.cnt, 0) + 1.0)
                 / (coalesce(f.pcnt, 0) + (SELECT v FROM voc))) AS lp
       FROM pos p LEFT JOIN cnts c USING (ngram)
       LEFT JOIN pref f USING (prefix)),
agg AS (SELECT doc_id, count(*) AS n_grams, exp(-avg(lp)) AS ppl
        FROM sc GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.n_grams, 0)::bigint AS n_grams,
       round(a.ppl, 4) AS ppl,
       CASE WHEN a.ppl IS NULL THEN 'unscored'
            WHEN a.ppl <= 30.5 THEN 'head'
            WHEN a.ppl <= 32.5 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@_q("doc_perplexity", _PPL_SQL)
def doc_perplexity_q(spark, sf):
    """CCNet-style LM perplexity (ngram_lm.py): bigram add-1 LM trained
    on the deterministic doc_id%5==0 reference slice, every document
    scored via broadcast joins against the count tables + one
    map-combined doc_id agg, head/middle/tail at fixed cutoffs chosen
    once from the reference tertiles (30.5 / 32.5 — all three buckets
    are populated at both sf0.001 and sf0.01, margins >= 0.0019)."""
    from tecs_hardware_kbc_spark.operators.ngram_lm import (
        doc_perplexity, perplexity_buckets, train_ngram_lm)
    d = _t(spark, sf, "documents")
    lm = train_ngram_lm(d.filter(F.col("doc_id") % 5 == 0), n=2, k=1.0)
    scored = doc_perplexity(d, lm)
    return perplexity_buckets(scored, 30.5, 32.5) \
        .withColumn("ppl", F.round("ppl", 4))


# planted URLs for the URL-curation entries: messy case, default ports,
# tracking params, fragments, a two-level-suffix host every 5th doc
_PLANT_URL_SQL = """
  CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'HTTPS://' END
  || CASE WHEN doc_id % 5 = 0
          THEN 'Sub.Site' || (doc_id % 97)::varchar || '.CO.UK'
          ELSE 'WWW.Site' || (doc_id % 97)::varchar || '.Example.COM'
     END
  || CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END
  || '/Path' || doc_id::varchar
  || CASE WHEN doc_id % 4 = 0
            THEN '?utm_source=feed&b=' || doc_id::varchar || '&a=1#frag'
          WHEN doc_id % 4 = 1 THEN '?gclid=xyz'
          WHEN doc_id % 4 = 2 THEN '#only-frag'
          ELSE '' END"""


def _plant_url_col():
    did = F.col("doc_id")
    host = F.when(
        did % 5 == 0,
        F.concat(F.lit("Sub.Site"), (did % 97).cast("string"),
                 F.lit(".CO.UK"))) \
        .otherwise(F.concat(F.lit("WWW.Site"), (did % 97).cast("string"),
                            F.lit(".Example.COM")))
    return F.concat(
        F.when(did % 2 == 0, F.lit("HTTP://")).otherwise(F.lit("HTTPS://")),
        host,
        F.when(did % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        F.lit("/Path"), did.cast("string"),
        F.when(did % 4 == 0,
               F.concat(F.lit("?utm_source=feed&b="), did.cast("string"),
                        F.lit("&a=1#frag")))
        .when(did % 4 == 1, F.lit("?gclid=xyz"))
        .when(did % 4 == 2, F.lit("#only-frag"))
        .otherwise(F.lit("")))


def _url_canon_sql() -> str:
    """DuckDB replay of urls.canonicalize_url / url_host /
    registered_domain over the planted URLs — every rule (lowercase,
    default-port strip, fragment strip, tracking-param drop, param
    sort, PSL-stand-in registered domain) replayed generically from the
    URL string, not from the planting arithmetic."""
    rgx = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)([^?#]*)\??([^#]*)#?.*$"
    track = "^(utm_[a-z]+|fbclid|gclid|msclkid|ref)="
    return f"""
WITH b AS (SELECT doc_id, {_PLANT_URL_SQL} AS url FROM documents),
p AS (SELECT doc_id, url,
  lower(regexp_extract(url, '{rgx}', 1)) AS scheme,
  regexp_extract(regexp_extract(lower(regexp_extract(url, '{rgx}', 2)),
                                '^(?:[^@]*@)?(.*)$', 1),
                 '^([^:]*)', 1) AS host,
  regexp_extract(regexp_extract(url, '{rgx}', 2), ':([0-9]+)$', 1)
    AS port,
  regexp_extract(url, '{rgx}', 3) AS path,
  regexp_extract(url, '{rgx}', 4) AS query
  FROM b),
q AS (SELECT *,
  CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
            OR (scheme = 'https' AND port = '443')
       THEN '' ELSE ':' || port END AS port_part,
  list_sort(list_filter(
      CASE WHEN query = '' THEN [] ELSE string_split(query, '&') END,
      x -> NOT regexp_matches(lower(x), '{track}'))) AS kept,
  string_split(host, '.') AS labels
  FROM p)
SELECT doc_id,
  scheme || '://' || host || port_part
    || CASE WHEN path = '' THEN '/' ELSE path END
    || CASE WHEN len(kept) > 0
            THEN '?' || array_to_string(kept, '&') ELSE '' END AS canon,
  host,
  CASE WHEN regexp_matches(host,
            '^[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}$')
            OR len(labels) <= 2 THEN host
       WHEN list_contains(['co.uk','org.uk','ac.uk','com.au','co.jp',
                           'co.in','com.br','co.nz','com.cn','co.kr'],
            array_to_string(labels[greatest(len(labels)-1, 1):], '.'))
       THEN array_to_string(labels[greatest(len(labels)-2, 1):], '.')
       ELSE array_to_string(labels[greatest(len(labels)-1, 1):], '.')
  END AS domain
FROM q
"""


@_q("doc_url_canon", _url_canon_sql())
def doc_url_canon(spark, sf):
    """URL canonicalization (urls.canonicalize_url + url_host +
    registered_domain): planted URLs with messy case, default ports,
    tracking params, fragments and co.uk two-level suffixes; the
    canonical form, host and registered domain all hash-checked against
    a DuckDB replay of the same rules (both sides extract from the URL
    string — neither reuses the planting arithmetic)."""
    from tecs_hardware_kbc_spark.operators.urls import (
        canonicalize_url, registered_domain, url_host)
    d = _t(spark, sf, "documents")
    url = _plant_url_col()
    return d.select(
        "doc_id",
        canonicalize_url(url).alias("canon"),
        url_host(url).alias("host"),
        registered_domain(url_host(url)).alias("domain"))


def _domain_cap_sql(cap: int = 5) -> str:
    """Replay of urls.domain_cap: 23 planted domains, keep the ``cap``
    smallest hash_u(doc_id) per domain. The domain value itself is
    checked generically by doc_url_canon; here the plant arithmetic
    stands in for it so the entry isolates the capping window."""
    u = ("(('0x' || substr(md5(doc_id::varchar || ':domain_cap'), 1, 8))"
         "::ubigint / 4294967296.0)")
    return f"""
WITH d AS (SELECT doc_id,
                  'site' || (doc_id % 23)::varchar || '-shop.com'
                    AS domain,
                  {u} AS _u
           FROM documents),
r AS (SELECT doc_id, domain,
             row_number() OVER (PARTITION BY domain
                                ORDER BY _u, doc_id) AS domain_rank
      FROM d)
SELECT doc_id, domain, domain_rank FROM r WHERE domain_rank <= {cap}
"""


@_q("doc_domain_cap", _domain_cap_sql())
def doc_domain_cap(spark, sf):
    """Per-domain document caps (urls.domain_cap — the crawl-curation
    rule that stops one hot forum from dominating the corpus): 23
    planted domains, at most 5 docs each kept by deterministic hash
    order; survivors and their ranks hash-checked vs the DuckDB window
    replay."""
    from tecs_hardware_kbc_spark.operators.urls import domain_cap
    d = _t(spark, sf, "documents")
    planted = d.select(
        "doc_id",
        F.concat(F.lit("https://www.site"),
                 (F.col("doc_id") % 23).cast("string"),
                 F.lit("-shop.com/p"),
                 F.col("doc_id").cast("string")).alias("url"))
    return domain_cap(planted, max_per_domain=5)


def _canon_expr(u: str) -> str:
    """DuckDB expression: urls.canonicalize_url of the URL expression
    ``u`` (same rule set _url_canon_sql replays, as one inline
    expression so it can be applied to both edge endpoints)."""
    rgx = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)([^?#]*)\??([^#]*)#?.*$"
    track = "^(utm_[a-z]+|fbclid|gclid|msclkid|ref)="
    scheme = f"lower(regexp_extract({u}, '{rgx}', 1))"
    host = (f"regexp_extract(regexp_extract(lower(regexp_extract({u}, "
            f"'{rgx}', 2)), '^(?:[^@]*@)?(.*)$', 1), '^([^:]*)', 1)")
    port = f"regexp_extract(regexp_extract({u}, '{rgx}', 2), ':([0-9]+)$', 1)"
    path = f"regexp_extract({u}, '{rgx}', 3)"
    query = f"regexp_extract({u}, '{rgx}', 4)"
    port_part = (f"CASE WHEN {port} = '' OR ({scheme} = 'http' AND "
                 f"{port} = '80') OR ({scheme} = 'https' AND "
                 f"{port} = '443') THEN '' ELSE ':' || {port} END")
    kept = (f"list_sort(list_filter(CASE WHEN {query} = '' THEN [] "
            f"ELSE string_split({query}, '&') END, "
            f"x -> NOT regexp_matches(lower(x), '{track}')))")
    return (f"({scheme} || '://' || {host} || {port_part} || "
            f"CASE WHEN {path} = '' THEN '/' ELSE {path} END || "
            f"CASE WHEN len({kept}) > 0 THEN '?' || "
            f"array_to_string({kept}, '&') ELSE '' END)")


_WEB_DOMAINS = ["www.alpha.com", "beta.co.uk", "Gamma-cdn.com",
                "delta.org", "epsilon.net"]
_WEB_HUB = "https://www.alpha.com/d/0/index.html?v=0&utm_medium=m"


def _web_pages_cte() -> str:
    """DuckDB twin of _web_pages: the synthetic crawl (messy
    case/port/tracking URLs; hub + root-relative + protocol-relative +
    doc-relative + fragment/mailto anchors, doc-dependent link text)."""
    doms = ", ".join(f"'{d}'" for d in _WEB_DOMAINS)
    return f"""
pages AS (SELECT doc_id,
    'HTTPS://' || ([{doms}])[(doc_id % 5)::int + 1] || ':443/d/'
      || doc_id::varchar || '/index.html?utm_source=crawl&v='
      || (doc_id % 3)::varchar AS url,
    '<a href="{_WEB_HUB}">Portal  Home</a>'
      || CASE WHEN doc_id % 7 <> 0
              THEN '<a href="/d/' || (doc_id + 1)::varchar
                   || '/index.html?v=' || ((doc_id + 1) % 3)::varchar
                   || '">Part ' || (doc_id + 1)::varchar || '</a>'
              ELSE '' END
      || '<a href="//static.site.net/lib-' || (doc_id % 4)::varchar
      || '.js">lib asset</a>'
      || CASE WHEN doc_id % 5 = 2
              THEN '<a href="rel-' || (doc_id % 6)::varchar
                   || '.html?z=2&utm_term=q">Related note</a>'
              ELSE '' END
      || '<a href="#top">t</a><a href="mailto:x@y.z">m</a>' AS html
  FROM documents)"""


def _resolve_sql(u: str, h: str) -> str:
    """DuckDB expression: graph.resolve_href of href ``h`` against page
    URL ``u`` (the same CASE ladder, same branch order)."""
    srgx = "^([a-zA-Z][a-zA-Z0-9_+.-]*)://"
    prgx = "^[a-zA-Z][a-zA-Z0-9_+.-]*://[^/?#]+([^?#]*)"
    scheme = f"lower(regexp_extract({u}, '{srgx}', 1))"
    dir_ = (f"regexp_replace(CASE WHEN regexp_extract({u}, '{prgx}', 1) "
            f"= '' THEN '/' ELSE regexp_extract({u}, '{prgx}', 1) END, "
            f"'[^/]*$', '')")
    return f"""
    CASE WHEN regexp_matches({h}, '^#') OR {h} = '' THEN NULL
         WHEN regexp_matches({h}, '{srgx}') THEN
              CASE WHEN lower(regexp_extract({h}, '{srgx}', 1))
                        IN ('http', 'https') THEN {h} END
         WHEN regexp_matches({h}, '^//') THEN {scheme} || ':' || {h}
         WHEN regexp_matches({h}, '^/') THEN
              {scheme} || '://' || {_canon_host(u)} || {h}
         WHEN regexp_matches({h}, '^(mailto|javascript|tel|data):')
              THEN NULL
         ELSE {scheme} || '://' || {_canon_host(u)} || {dir_} || {h}
    END"""


def _web_graph_cte() -> str:
    """Shared DuckDB CTE chain replaying graph.extract_links over the
    synthetic crawl: href regex harvest -> resolution CASE ladder ->
    canonicalization of BOTH endpoints -> self-loop drop -> distinct."""
    canon_u = _canon_expr("url")
    canon_t = _canon_expr("target")
    return f"""
{_web_pages_cte()},
raw_anchors AS (SELECT url,
    unnest(regexp_extract_all(html,
        $hre$<a\\s[^>]*href\\s*=\\s*["']([^"']+)["']$hre$, 1)) AS h0
  FROM pages),
anchors AS (SELECT url, trim(h0) AS h FROM raw_anchors),
res AS (SELECT url, {_resolve_sql("url", "h")} AS target FROM anchors),
edges AS (SELECT DISTINCT {canon_u} AS src, {canon_t} AS dst
          FROM res WHERE target IS NOT NULL AND {canon_u} <> {canon_t})
"""


def _canon_host(u: str) -> str:
    """DuckDB expression: urls.url_host of the URL expression ``u``."""
    rgx = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)([^?#]*)\??([^#]*)#?.*$"
    return (f"regexp_extract(regexp_extract(lower(regexp_extract({u}, "
            f"'{rgx}', 2)), '^(?:[^@]*@)?(.*)$', 1), '^([^:]*)', 1)")


def _web_pages(spark, sf):
    """Spark twin of the pages CTE in _web_graph_cte."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    domains = F.array(*[F.lit(x) for x in _WEB_DOMAINS])
    url = F.concat(
        F.lit("HTTPS://"), F.element_at(domains, (did % 5).cast("int") + 1),
        F.lit(":443/d/"), did.cast("string"),
        F.lit("/index.html?utm_source=crawl&v="), (did % 3).cast("string"))
    hub = F.lit(f'<a href="{_WEB_HUB}">Portal  Home</a>')
    nxt = F.when(did % 7 != 0, F.concat(
        F.lit('<a href="/d/'), (did + 1).cast("string"),
        F.lit('/index.html?v='), ((did + 1) % 3).cast("string"),
        F.lit('">Part '), (did + 1).cast("string"),
        F.lit('</a>'))).otherwise(F.lit(""))
    asset = F.concat(F.lit('<a href="//static.site.net/lib-'),
                     (did % 4).cast("string"), F.lit('.js">lib asset</a>'))
    rel = F.when(did % 5 == 2, F.concat(
        F.lit('<a href="rel-'), (did % 6).cast("string"),
        F.lit('.html?z=2&utm_term=q">Related note</a>'))).otherwise(F.lit(""))
    junk = F.lit('<a href="#top">t</a><a href="mailto:x@y.z">m</a>')
    return d.select(url.alias("url"),
                    F.concat(hub, nxt, asset, rel, junk).alias("html"))


@_q("web_links", f"WITH {_web_graph_cte()} SELECT src, dst FROM edges")
def web_links(spark, sf):
    """Link-graph construction (graph.extract_links): synthetic crawl
    pages with all four href shapes plus fragment/mailto junk; the
    harvested, resolved, canonicalized (src, dst) edge list (self-loops
    dropped — page 0 links itself via the hub anchor) hash-checked
    against the DuckDB replay of the regex + resolution CASE ladder +
    both-endpoint canonicalization."""
    from tecs_hardware_kbc_spark.operators.graph import extract_links
    return extract_links(_web_pages(spark, sf))


@_q("web_triangles", f"""
WITH {_web_graph_cte()},
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
deg AS (SELECT node, count(*) AS deg
        FROM (SELECT a AS node FROM und
              UNION ALL SELECT b FROM und) GROUP BY node),
oe AS (SELECT u.a, u.b, da.deg AS _da, db.deg AS _db,
              (da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b))
                AS a_lo
       FROM und u JOIN deg da ON u.a = da.node
                  JOIN deg db ON u.b = db.node),
ori AS (SELECT CASE WHEN a_lo THEN a ELSE b END AS lo,
               CASE WHEN a_lo THEN b ELSE a END AS hi,
               CASE WHEN a_lo THEN _db ELSE _da END AS _dh
        FROM oe),
wed AS (SELECT l.lo AS w, l.hi AS x, r.hi AS y
        FROM ori l JOIN ori r ON l.lo = r.lo
        WHERE l._dh < r._dh OR (l._dh = r._dh AND l.hi < r.hi)),
tri0 AS (SELECT w, x, y FROM wed
         JOIN ori o ON wed.x = o.lo AND wed.y = o.hi),
pern AS (SELECT node, count(*) AS tri
         FROM (SELECT w AS node FROM tri0
               UNION ALL SELECT x FROM tri0
               UNION ALL SELECT y FROM tri0) GROUP BY node)
SELECT d.node, d.deg, coalesce(p.tri, 0) AS tri,
       CASE WHEN d.deg >= 2
            THEN round(2.0 * coalesce(p.tri, 0)
                       / (d.deg * (d.deg - 1)), 6)
            ELSE 0.0 END AS coeff
FROM deg d LEFT JOIN pern p USING (node)
""")
def web_triangles(spark, sf):
    """Triangle counts + local clustering coefficients
    (graph.triangle_counts) over the web_links crawl graph: the
    degree-ordered orientation (lo->hi by (deg, id)) that bounds wedge
    volume at O(m^1.5) under hub skew, replayed join-for-join in
    DuckDB — undirect, orient, wedge self-join, closing-edge join,
    per-corner counts, coefficient division."""
    from tecs_hardware_kbc_spark.operators.graph import (
        extract_links, triangle_counts)
    return triangle_counts(extract_links(_web_pages(spark, sf)))


def _pagerank_cte(iters: int = 3, scale: int = 10 ** 12,
                  d: int = 85) -> str:
    """CTE chain replaying graph.pagerank_fixed_point over the edges
    CTE: the power iteration unrolled, one dangling scalar subquery per
    round, every step exact integer arithmetic. Final ranks in
    r{iters}."""
    steps = []
    for i in range(iters):
        steps.append(f"""
d{i} AS (SELECT coalesce(sum(rank), 0) AS dang FROM r{i}
         WHERE node NOT IN (SELECT src FROM deg)),
i{i} AS (SELECT l.dst AS node, sum(r.rank // g.d) AS inflow
         FROM edges l JOIN r{i} r ON l.src = r.node
         JOIN deg g ON l.src = g.src
         GROUP BY l.dst),
r{i + 1} AS (SELECT n.node,
        ({100 - d} * (SELECT base FROM c) + {d} * (coalesce(i.inflow, 0)
         + (SELECT dang FROM d{i}) // (SELECT n FROM c))) // 100 AS rank
    FROM nodes n LEFT JOIN i{i} i USING (node))""")
    return f"""
nodes AS (SELECT src AS node FROM edges
          UNION SELECT dst AS node FROM edges),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
c AS (SELECT count(*) AS n, {scale} // count(*) AS base FROM nodes),
r0 AS (SELECT node, (SELECT base FROM c) AS rank FROM nodes),
{",".join(steps)}"""


def _pagerank_sql(iters: int = 3) -> str:
    return (f"WITH {_web_graph_cte()}, {_pagerank_cte(iters)} "
            f"SELECT node, rank::bigint AS rank FROM r{iters}")


@_q("web_pagerank", _pagerank_sql())
def web_pagerank(spark, sf):
    """Deterministic PageRank (graph.pagerank_fixed_point) over the
    web_links crawl graph: 3 power iterations on the integer grid —
    hub-skewed in-links, dangling asset/frontier nodes, damping — with
    the ENTIRE training run (init, every dangling scalar, every inflow
    aggregation, the damping update) replayed as unrolled DuckDB CTEs.
    Exactness argument as in emb_kmeans: non-negative longs, integral
    division, associative sums."""
    from tecs_hardware_kbc_spark.operators.graph import (
        extract_links, pagerank_fixed_point)
    edges = extract_links(_web_pages(spark, sf))
    return pagerank_fixed_point(edges, iters=3)


def _hits_cte(iters: int = 2, scale: int = 10 ** 9) -> str:
    """CTE chain replaying graph.hits_fixed_point over the edges CTE:
    both half-steps of each iteration unrolled, each L1-snap's divisor
    a scalar subquery guarded exactly like the Spark side's
    ``int(coalesce(sum, 1)) or 1`` (NULL on an empty aggregate -> 1,
    zero total mass -> 1). All arithmetic integral; DuckDB widens the
    sums to HUGEINT, a superset of the int64 values Spark produces, so
    every quotient is identical. Final hub in h{iters}, final auth in
    a{iters - 1}."""
    steps = []
    for i in range(iters):
        steps.append(f"""
ar{i} AS (SELECT e.dst AS node, sum(h.hub) AS a
          FROM edges e JOIN h{i} h ON e.src = h.node GROUP BY e.dst),
a{i} AS (SELECT n.node, coalesce(r.a, 0) * {scale}
           // greatest((SELECT coalesce(sum(a), 1) FROM ar{i}), 1)
           AS auth
         FROM nodes n LEFT JOIN ar{i} r USING (node)),
hr{i} AS (SELECT e.src AS node, sum(a.auth) AS h
          FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src),
h{i + 1} AS (SELECT n.node, coalesce(r.h, 0) * {scale}
               // greatest((SELECT coalesce(sum(h), 1) FROM hr{i}), 1)
               AS hub
             FROM nodes n LEFT JOIN hr{i} r USING (node))""")
    return f"""
nodes AS (SELECT src AS node FROM edges
          UNION SELECT dst AS node FROM edges),
h0 AS (SELECT node,
              {scale} // (SELECT count(*) FROM nodes) AS hub
       FROM nodes),
{",".join(steps)}"""


@_q("web_hits", f"""
WITH {_web_graph_cte()}, {_hits_cte(2)}
SELECT h2.node, h2.hub::bigint AS hub, a1.auth::bigint AS auth
FROM h2 JOIN a1 USING (node)
""")
def web_hits(spark, sf):
    """Deterministic HITS hubs-and-authorities (graph.hits_fixed_point)
    over the web_links crawl graph: 2 iterations of the
    auth<-sum(hub), hub<-sum(auth) mutual recursion on the exact 1e9
    integer grid (L1 snaps in place of the classic L2 — rank-preserving
    and replayable), every half-step and both normalization scalars
    unrolled as DuckDB CTEs and hash-checked. Complements web_pagerank:
    PageRank scores endorsement flow, HITS separates the hub role
    (links out to good authorities) from the authority role — the
    directory-page vs content-page split a crawler's seed selection
    uses."""
    from tecs_hardware_kbc_spark.operators.graph import (
        extract_links, hits_fixed_point)
    return hits_fixed_point(extract_links(_web_pages(spark, sf)), iters=2)


def _anchor_text_sql() -> str:
    """DuckDB replay of graph.extract_anchor_texts: full anchor tags
    harvested, href/text split per tag, target resolved + canonicalized,
    text lowercased + whitespace-normalized, distinct pairs."""
    rgx = ("<a\\s[^>]*href\\s*=\\s*[\"']([^\"']+)[\"']"
           "[^>]*>([^<]*)</a>")
    return f"""
WITH {_web_pages_cte()},
tags0 AS (SELECT url,
    unnest(regexp_extract_all(html, $arx${rgx}$arx$, 0)) AS tag
  FROM pages),
parsed AS (SELECT url,
    trim(regexp_extract(tag, $arx${rgx}$arx$, 1)) AS h,
    trim(regexp_replace(lower(regexp_extract(tag, $arx${rgx}$arx$, 2)),
                        '\\s+', ' ', 'g')) AS anchor_text
  FROM tags0),
res AS (SELECT {_resolve_sql("url", "h")} AS target, anchor_text
        FROM parsed)
SELECT DISTINCT {_canon_expr("target")} AS dst, anchor_text
FROM res WHERE target IS NOT NULL AND anchor_text <> ''
"""


@_q("web_anchor_text", _anchor_text_sql())
def web_anchor_text(spark, sf):
    """Anchor-text harvest (graph.extract_anchor_texts — the link-text
    relevance signal: what OTHER pages call a URL): full anchor tags
    split into (target, text) in one scan, targets resolved +
    canonicalized, text normalized; distinct pairs hash-checked against
    the DuckDB replay."""
    from tecs_hardware_kbc_spark.operators.graph import extract_anchor_texts
    return extract_anchor_texts(_web_pages(spark, sf))


def _frontier_sql(cap: int = 5) -> str:
    """DuckDB replay of graph.frontier_batch over the web_links graph
    and the 3-iteration PageRank: uncrawled dsts scored by exact
    integer inflow, per-registered-domain cap window."""
    host = _canon_host("url")
    return f"""
WITH {_web_graph_cte()}, {_pagerank_cte(3)},
sh AS (SELECT g.src, r.rank // g.d AS share
       FROM r3 r JOIN deg g ON r.node = g.src),
fr AS (SELECT l.dst AS url, sum(s.share) AS score
       FROM edges l JOIN sh s USING (src)
       WHERE l.dst NOT IN (SELECT src FROM edges)
       GROUP BY l.dst),
lab AS (SELECT url, score, string_split({host}, '.') AS labels,
               {host} AS host
        FROM fr),
dom AS (SELECT url, score,
    CASE WHEN regexp_matches(host,
              '^[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}$')
              OR len(labels) <= 2 THEN host
         WHEN list_contains(['co.uk','org.uk','ac.uk','com.au','co.jp',
                             'co.in','com.br','co.nz','com.cn','co.kr'],
              array_to_string(labels[greatest(len(labels)-1, 1):], '.'))
         THEN array_to_string(labels[greatest(len(labels)-2, 1):], '.')
         ELSE array_to_string(labels[greatest(len(labels)-1, 1):], '.')
    END AS domain
  FROM lab),
rk AS (SELECT url, score::bigint AS score, domain,
              row_number() OVER (PARTITION BY domain
                                 ORDER BY score DESC, url) AS domain_rank
       FROM dom)
SELECT url, score, domain, domain_rank FROM rk WHERE domain_rank <= {cap}
"""


@_q("web_frontier", _frontier_sql())
def web_frontier(spark, sf):
    """Crawl-frontier selection (graph.frontier_batch — the loop that
    closes web-scale KBC: rank what to fetch next): uncrawled URLs
    scored by the exact integer PageRank inflow their in-links carry,
    at most 5 per registered domain by (score desc, url); the whole
    chain (link harvest, 3 power iterations, inflow, politeness window)
    hash-checked against the DuckDB replay."""
    from tecs_hardware_kbc_spark.operators.graph import (
        extract_links, frontier_batch, pagerank_fixed_point)
    edges = extract_links(_web_pages(spark, sf))
    ranks = pagerank_fixed_point(edges, iters=3)
    return frontier_batch(edges, ranks, max_per_domain=5)


_ROBOT_HOSTS = ["www.alpha.com", "beta.co.uk", "gamma-cdn.com",
                "delta.org"]
_ROBOTS_TXT = {
    "www.alpha.com": ("# crawl policy\nUser-agent: *\n"
                      "Disallow: /private/\nAllow: /private/ok\n"
                      "Disallow:\n\nUser-agent: kbcbot\n"
                      "Disallow: /tmp/\nAllow: /tmp/cache\n"),
    "beta.co.uk": ("User-agent: kbcbot\nUser-agent: helper\n"
                   "Disallow: /d/\n"),
    "gamma-cdn.com": "User-agent: *\nDisallow: /\nAllow: /pub/\n",
}


def _robots_urls(spark, sf):
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    host = F.element_at(F.array(*[F.lit(h) for h in _ROBOT_HOSTS]),
                        (did % 4).cast("int") + 1)
    path = (F.when(did % 5 == 0, F.concat(F.lit("/private/p"),
                                          (did % 10).cast("string")))
            .when(did % 5 == 1, F.concat(F.lit("/private/ok/"),
                                         (did % 10).cast("string")))
            .when(did % 5 == 2, F.concat(F.lit("/d/"),
                                         (did % 20).cast("string")))
            .when(did % 5 == 3, F.lit("/tmp/cache"))
            .otherwise(F.concat(F.lit("/pub/x"),
                                (did % 7).cast("string"))))
    return d.select(F.concat(F.lit("https://"), host, path).alias("url"))


def _robots_sql(agent: str = "kbcbot") -> str:
    """DuckDB replay of robots.parse_robots + apply_robots: the line
    split, comment strip, User-agent grouping windows, agent-group
    precedence (own shadows *), longest-prefix match and allow-on-tie
    — over the same planted robots.txt blobs and URL table."""
    vals = ", ".join(
        "('%s', '%s')" % (d, t.replace("\n", "\\n").replace("'", "''"))
        for d, t in _ROBOTS_TXT.items())
    hosts = ", ".join(f"'{h}'" for h in _ROBOT_HOSTS)
    return f"""
WITH rb AS (SELECT domain, replace(txt, '\\n', chr(10)) AS txt
            FROM (VALUES {vals}) AS v(domain, txt)),
lines AS (SELECT domain, i AS pos,
    trim(regexp_replace(string_split(txt, chr(10))[i], '#.*$', ''))
      AS line
  FROM rb, unnest(generate_series(1,
       len(string_split(txt, chr(10))))) AS t(i)),
typed AS (SELECT domain, pos,
    lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1)) AS key,
    trim(regexp_extract(line, '^[A-Za-z-]+\\s*:(.*)$', 1)) AS value
  FROM lines),
dirs AS (SELECT * FROM typed WHERE key <> ''),
marked AS (SELECT *,
    CASE WHEN key = 'user-agent' AND coalesce(
         lag(key) OVER (PARTITION BY domain ORDER BY pos), '')
         <> 'user-agent' THEN 1 ELSE 0 END AS new_group
  FROM dirs),
grouped AS (SELECT *, sum(new_group)
    OVER (PARTITION BY domain ORDER BY pos) AS grp FROM marked),
agents AS (SELECT domain, grp, lower(value) AS agent FROM grouped
           WHERE key = 'user-agent'),
rules0 AS (SELECT domain, grp, key = 'allow' AS allow,
                  value AS path_prefix, len(value) AS rule_len
           FROM grouped
           WHERE key IN ('allow', 'disallow') AND value <> ''
             AND grp > 0),
rules AS (SELECT a.domain, a.agent, r.allow, r.path_prefix, r.rule_len
          FROM agents a JOIN rules0 r USING (domain, grp)),
r AS (SELECT domain, agent = '{agent}' AS own, allow, path_prefix,
             rule_len
      FROM rules WHERE agent IN ('{agent}', '*')),
own_dom AS (SELECT DISTINCT domain AS od, true AS has_own FROM r
            WHERE own),
u AS (SELECT DISTINCT 'https://'
        || ([{hosts}])[(doc_id % 4)::int + 1]
        || CASE doc_id % 5
           WHEN 0 THEN '/private/p' || (doc_id % 10)::varchar
           WHEN 1 THEN '/private/ok/' || (doc_id % 10)::varchar
           WHEN 2 THEN '/d/' || (doc_id % 20)::varchar
           WHEN 3 THEN '/tmp/cache'
           ELSE '/pub/x' || (doc_id % 7)::varchar END AS url
      FROM documents),
uu AS (SELECT url,
    regexp_extract(regexp_extract(lower(regexp_extract(url,
        '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+).*$', 2)),
        '^(?:[^@]*@)?(.*)$', 1), '^([^:]*)', 1) AS _dom,
    coalesce(nullif(regexp_extract(url,
        '^[a-zA-Z][a-zA-Z0-9_+.-]*://[^/?#]+([^#]*)', 1), ''), '/')
      AS _path
  FROM u),
j AS (SELECT uu.url, r.own, r.allow, r.path_prefix, r.rule_len,
             (r.path_prefix IS NOT NULL
              AND (r.own OR NOT coalesce(o.has_own, false))
              AND starts_with(uu._path, r.path_prefix)) AS elig
      FROM uu LEFT JOIN r ON uu._dom = r.domain
              LEFT JOIN own_dom o ON uu._dom = o.od),
best AS (SELECT *, row_number() OVER (PARTITION BY url
    ORDER BY elig DESC, rule_len DESC, allow DESC, path_prefix) AS rn
  FROM j)
SELECT url,
       CASE WHEN elig THEN allow ELSE true END AS allowed,
       CASE WHEN elig THEN path_prefix END AS matched_rule
FROM best WHERE rn = 1
"""


@_q("web_robots", _robots_sql())
def web_robots(spark, sf):
    """robots.txt compliance (robots.parse_robots + apply_robots — the
    politeness gate between frontier and fetch): three planted
    robots.txt files (comments, multi-agent headers, empty Disallow,
    blanket disallow with an Allow carve-out) against planted URLs on
    four hosts; the parse windows, RFC 9309 own-group-shadows-* choice,
    longest-prefix precedence and allow-on-tie all hash-checked against
    the DuckDB replay."""
    from tecs_hardware_kbc_spark.operators.robots import (
        apply_robots, parse_robots)
    robots = spark.createDataFrame(
        [(d, t) for d, t in _ROBOTS_TXT.items()],
        "domain string, robots_txt string")
    rules = parse_robots(robots)
    urls = _robots_urls(spark, sf).distinct()
    return apply_robots(urls, rules, agent="kbcbot")


_BP_NAV = ('<nav><a href="/">Home</a> <a href="/parts">Parts catalog'
           '</a> <a href="/dl">Downloads area</a> <a href="/help">'
           'Support center</a></nav>')
_BP_FOOT = ('<footer><a href="/privacy">Privacy policy</a> '
            '<a href="/terms">Terms of service</a> '
            '<a href="/legal">Imprint and legal notices</a></footer>')


def _main_content_sql(min_chars: int = 25) -> str:
    """DuckDB replay of boilerplate.main_content over pages assembled
    from documents.text: block split, tag strip, anchor-text sum,
    integer link-density gate, ordered rebuild."""
    split_rgx = (r"(?is)</(?:p|div|li|td|th|h[1-6]|table|tr|ul|ol|"
                 r"article|section|header|footer|nav|aside|"
                 r"blockquote)>")
    vis = ("trim(regexp_replace(regexp_replace({b}, '(?is)<[^>]*>', "
           "' ', 'g'), '\\s+', ' ', 'g'))")
    return f"""
WITH pages AS (SELECT doc_id,
    '{_BP_NAV}<p>' || substr(text, 1, 400)
      || '</p><p>See <a href="/ds-' || doc_id::varchar
      || '">the datasheet</a> for thermal limits, packaging drawings'
      || ' and soldering notes.</p><p>Fig ' || (doc_id % 9)::varchar
      || '.</p>{_BP_FOOT}' AS html
  FROM documents),
sig AS (SELECT doc_id,
    list_transform(regexp_split_to_array(html, '{split_rgx}'),
        b -> struct_pack(
            t := {vis.format(b='b')},
            lc := coalesce(list_sum(list_transform(
                regexp_extract_all(b,
                    '(?is)<a\\b[^>]*>(.*?)</a>', 1),
                a -> len({vis.format(b='a')}))), 0))) AS s
  FROM pages),
kept AS (SELECT doc_id,
    list_filter(s, x -> len(x.t) >= {min_chars}
                        AND x.lc * 3 <= len(x.t) * 1) AS k,
    len(s) AS n_total
  FROM sig)
SELECT doc_id,
       array_to_string(list_transform(k, x -> x.t), chr(10))
         AS main_text,
       len(k) AS n_blocks_kept,
       n_total AS n_blocks_total
FROM kept
"""


@_q("web_main_content", _main_content_sql())
def web_main_content(spark, sf):
    """Boilerplate removal (boilerplate.main_content — the jusText-style
    block link-density pass between crawled HTML and document text):
    pages assembled from documents.text wrapped in link-dense nav/footer
    chrome plus a short figure caption; the block split, anchor-text
    accounting, INTEGER density gate and ordered rebuild hash-checked
    against the DuckDB replay."""
    from tecs_hardware_kbc_spark.operators.boilerplate import main_content
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    html = F.concat(
        F.lit(_BP_NAV), F.lit("<p>"), F.substring("text", 1, 400),
        F.lit('</p><p>See <a href="/ds-'), did.cast("string"),
        F.lit('">the datasheet</a> for thermal limits, packaging'
              ' drawings and soldering notes.</p><p>Fig '),
        (did % 9).cast("string"), F.lit(".</p>"), F.lit(_BP_FOOT))
    pages = d.select("doc_id", html.alias("html"))
    return main_content(pages).select(
        "doc_id", "main_text", "n_blocks_kept", "n_blocks_total")


# --- structured-data harvest (operators/structured.py) -------------------
# WDC-style publisher-authored triples: JSON-LD islands, meta/OpenGraph
# tags and sitemap XML synthesized deterministically from documents;
# every regex + the from_json map semantics replayed verbatim in DuckDB.

# SQL-escaped ('' = one quote inside a DuckDB string literal) twin of
# structured.JSONLD_RGX; the Spark side uses the module constant.
_JSONLD_ISLAND_RGX = (r'(?s)<script\s[^>]*type\s*=\s*["' + "''"
                      r']application/ld\+json["' + "''"
                      r'][^>]*>(.*?)</script>')


def _jsonld_harvest_ctes(out: str = "jl") -> str:
    """CTE chain replaying structured.jsonld_triples over a ``pages``
    (url, html) CTE already in scope; the final CTE named ``out``
    yields (url, subj, pred, obj). Shared by the standalone harvest
    oracle and the web-KG end-to-end chain."""
    return f"""
isl AS (SELECT url, u.block_idx, u.raw
  FROM (SELECT url,
          regexp_extract_all(html, '{_JSONLD_ISLAND_RGX}', 1) AS arr
        FROM pages) t,
       unnest(list_transform(arr, (x, i) ->
          struct_pack(block_idx := i - 1, raw := x))) AS s(u)),
ok AS (SELECT url,
    regexp_replace(regexp_replace(raw, '^\\s+', ''), '\\s+$', '') AS j,
    block_idx
  FROM isl),
valid AS (SELECT url, block_idx, j,
    coalesce(json_extract_string(j, '@id'),
             url || '#jsonld' || block_idx::varchar) AS subj
  FROM ok WHERE CASE WHEN json_valid(j)
                     THEN json_type(j) = 'OBJECT' ELSE false END),
kv AS (SELECT url, subj, k.key,
    json_extract_string(j, k.key) AS val
  FROM valid, unnest(json_keys(j)) AS k(key)),
{out} AS (
  SELECT url, subj, 'rdf:type' AS pred, val AS obj
  FROM kv WHERE key = '@type'
  UNION ALL
  SELECT url, subj, key AS pred, val AS obj
  FROM kv WHERE NOT starts_with(key, '@') AND val IS NOT NULL)"""


def _jsonld_sql() -> str:
    """DuckDB replay of structured.jsonld_triples: same island regex,
    json_keys + json_extract_string mirror Spark's from_json
    map<string,string> per-token text semantics (verified: numbers/
    bools keep their JSON text, nested objects/arrays their raw
    minified JSON, null drops)."""
    return f"""
WITH pages AS (SELECT
    'https://kbc.example/doc/' || doc_id::varchar AS url,
    '<html><head><script type="application/ld+json">' || chr(10)
    || '{{"@context":"https://schema.org","@type":"Product",'
    || CASE WHEN doc_id % 3 <> 0
            THEN '"@id":"urn:part:' || doc_id::varchar || '",'
            ELSE '' END
    || '"name":"Part ' || doc_id::varchar || '","mpn":"MPN-'
    || (doc_id % 97)::varchar || '","pins":' || (doc_id % 64)::varchar
    || ',"rohs":' || CASE WHEN doc_id % 2 = 0 THEN 'true'
                          ELSE 'false' END
    || ',"maker":{{"name":"M' || (doc_id % 7)::varchar || '","tier":'
    || (doc_id % 3)::varchar || '}},"note":null}}' || chr(10)
    || '</script>'
    || CASE WHEN doc_id % 11 = 0
            THEN '<script type="application/ld+json">{{oops</script>'
            ELSE '' END
    || '</head></html>' AS html
  FROM documents),
{_jsonld_harvest_ctes()}
SELECT url, subj, pred, obj FROM jl
"""


def _structured_pages(spark, sf):
    """Pages carrying one well-formed JSON-LD island (blank-node
    subject on every 3rd doc, one malformed extra island on every
    11th) — the Spark twin of the CTE in ``_jsonld_sql``."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    s = did.cast("string")
    island = F.concat(
        F.lit('{"@context":"https://schema.org","@type":"Product",'),
        F.when(did % 3 != 0,
               F.concat(F.lit('"@id":"urn:part:'), s, F.lit('",')))
         .otherwise(F.lit("")),
        F.lit('"name":"Part '), s, F.lit('","mpn":"MPN-'),
        (did % 97).cast("string"), F.lit('","pins":'),
        (did % 64).cast("string"), F.lit(',"rohs":'),
        F.when(did % 2 == 0, F.lit("true")).otherwise(F.lit("false")),
        F.lit(',"maker":{"name":"M'), (did % 7).cast("string"),
        F.lit('","tier":'), (did % 3).cast("string"),
        F.lit('},"note":null}'))
    html = F.concat(
        F.lit('<html><head><script type="application/ld+json">\n'),
        island, F.lit("\n</script>"),
        F.when(did % 11 == 0,
               F.lit('<script type="application/ld+json">'
                     "{oops</script>")).otherwise(F.lit("")),
        F.lit("</head></html>"))
    url = F.concat(F.lit("https://kbc.example/doc/"), s)
    return d.select(url.alias("url"), html.alias("html"))


@_q("web_jsonld", _jsonld_sql())
def web_jsonld(spark, sf):
    """JSON-LD harvest (structured.jsonld_triples — the WDC-style
    publisher-triple leg that precedes any NLP at crawl scale): schema
    islands with @id subjects, minted blank-node fragments, number/
    bool/nested-object/null value handling and malformed-island drops
    all hash-checked against the DuckDB json_keys + json_extract_string
    replay."""
    from tecs_hardware_kbc_spark.operators.structured import (
        jsonld_triples)
    return jsonld_triples(_structured_pages(spark, sf))


def _meta_pages_sql_html() -> str:
    """The meta/OpenGraph page body, shared by both engines: a padded
    title, two metas (one reversed attribute order), an empty-content
    og:locale on every 4th doc, and key-less / content-less tags that
    must NOT emit triples. desc is a quote/angle-sanitized text slice."""
    return """
    '<html><head><title> Part ' || doc_id::varchar
    || ' —  datasheet' || chr(10) || ' catalog </title>'
    || '<meta property="og:title" content="Part '
    || doc_id::varchar || '">'
    || '<meta content=''' || regexp_replace(substr(text, 1, 60),
         '[<>"'']', ' ', 'g') || ''' name=''description''>'
    || CASE WHEN doc_id % 4 = 0
            THEN '<meta property="og:locale" content="">'
            ELSE '' END
    || '<meta charset="utf-8"><meta name="keywords"></head></html>'
"""


def _meta_harvest_ctes(out: str = "mt") -> str:
    """CTE chain replaying structured.meta_triples over a ``pages``
    (url, html) CTE already in scope; ``out`` yields
    (url, subj, pred, obj)."""
    return f"""
tags AS (SELECT url, t AS tag
  FROM pages, unnest(regexp_extract_all(html, '<meta\\s[^>]*>', 0))
       AS s(t)),
metas AS (SELECT url,
    regexp_extract(tag,
        '(?:property|name)\\s*=\\s*["'']([^"'']+)["'']', 1) AS pred,
    regexp_extract(tag, 'content\\s*=\\s*["'']([^"'']*)["'']', 1)
      AS obj,
    regexp_matches(tag, 'content\\s*=\\s*["'']([^"'']*)["'']') AS has_c
  FROM tags),
{out} AS (
  SELECT url, url AS subj, pred, obj
  FROM metas WHERE pred <> '' AND has_c
  UNION ALL
  SELECT url, url AS subj, 'title' AS pred,
      trim(regexp_replace(regexp_extract(html,
          '(?s)<title[^>]*>(.*?)</title>', 1), '\\s+', ' ', 'g'))
        AS obj
  FROM pages
  WHERE trim(regexp_replace(regexp_extract(html,
      '(?s)<title[^>]*>(.*?)</title>', 1), '\\s+', ' ', 'g')) <> '')"""


def _meta_triples_sql() -> str:
    return f"""
WITH pages AS (SELECT 'https://kbc.example/doc/' || doc_id::varchar
    AS url, {_meta_pages_sql_html()} AS html
  FROM documents),
{_meta_harvest_ctes()}
SELECT url, subj, pred, obj FROM mt
"""


@_q("web_meta_triples", _meta_triples_sql())
def web_meta_triples(spark, sf):
    """Meta/OpenGraph + <title> harvest (structured.meta_triples):
    both attribute orders, empty-but-present content, key-less and
    content-less tags dropped, title whitespace collapse — per-tag
    pair extraction hash-checked against the DuckDB replay."""
    from tecs_hardware_kbc_spark.operators.structured import meta_triples
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    s = did.cast("string")
    desc = F.regexp_replace(F.substring("text", 1, 60),
                            "[<>\"']", " ")
    html = F.concat(
        F.lit("<html><head><title> Part "), s,
        F.lit(" —  datasheet\n catalog </title>"),
        F.lit('<meta property="og:title" content="Part '), s,
        F.lit('">'),
        F.lit("<meta content='"), desc, F.lit("' name='description'>"),
        F.when(did % 4 == 0,
               F.lit('<meta property="og:locale" content="">'))
         .otherwise(F.lit("")),
        F.lit('<meta charset="utf-8"><meta name="keywords">'
              "</head></html>"))
    url = F.concat(F.lit("https://kbc.example/doc/"), s)
    pages = d.select(url.alias("url"), html.alias("html"))
    return meta_triples(pages)


def _sitemap_sql() -> str:
    """DuckDB replay of structured.parse_sitemaps over one synthesized
    sitemap file per doc: a full <url> entry (priority present only
    when doc_id%3!=0 — else the spec's 0.5 default), a loc-only entry,
    a loc-less entry that must drop, and an index child on every 4th
    doc (priority NULL — no spec default for children)."""
    return """
WITH sm AS (SELECT
    'https://site' || (doc_id % 4)::varchar || '.example/sm-'
      || doc_id::varchar || '.xml' AS sitemap_url,
    '<?xml version="1.0"?><urlset>'
    || '<url><loc> https://site' || (doc_id % 4)::varchar
    || '.example/p' || doc_id::varchar || ' </loc><lastmod>2026-0'
    || (1 + doc_id % 9)::varchar || '-1' || (doc_id % 9)::varchar
    || '</lastmod><changefreq>'
    || ['daily', 'weekly', 'monthly'][1 + doc_id % 3]
    || '</changefreq>'
    || CASE WHEN doc_id % 3 <> 0
            THEN '<priority>0.' || (doc_id % 10)::varchar
                 || '</priority>' ELSE '' END
    || '</url>'
    || '<url><loc>https://site' || (doc_id % 4)::varchar
    || '.example/p' || doc_id::varchar || '-b</loc></url>'
    || '<url><lastmod>2026-01-03</lastmod></url></urlset>'
    || CASE WHEN doc_id % 4 = 0
            THEN '<sitemapindex><sitemap><loc>https://site0.example/'
                 || 'child-' || doc_id::varchar
                 || '.xml</loc><lastmod>2026-02-01T10:00:00Z'
                 || '</lastmod></sitemap></sitemapindex>'
            ELSE '' END AS xml
  FROM documents),
blk AS (
  SELECT sitemap_url, b, false AS is_index
  FROM sm, unnest(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1))
       AS s(b)
  UNION ALL
  SELECT sitemap_url, b, true AS is_index
  FROM sm, unnest(regexp_extract_all(xml,
       '(?s)<sitemap>(.*?)</sitemap>', 1)) AS s(b))
SELECT sitemap_url,
    regexp_extract(b, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1) AS loc,
    CASE WHEN regexp_matches(b,
        '<lastmod>\\s*([0-9T:+Z.-]+)\\s*</lastmod>')
      THEN regexp_extract(b,
        '<lastmod>\\s*([0-9T:+Z.-]+)\\s*</lastmod>', 1) END AS lastmod,
    CASE WHEN regexp_matches(b,
        '<changefreq>\\s*([a-z]+)\\s*</changefreq>')
      THEN regexp_extract(b,
        '<changefreq>\\s*([a-z]+)\\s*</changefreq>', 1)
      END AS changefreq,
    CASE WHEN regexp_matches(b, '<priority>\\s*([0-9.]+)\\s*</priority>')
      THEN regexp_extract(b,
        '<priority>\\s*([0-9.]+)\\s*</priority>', 1)::double
      WHEN NOT is_index THEN 0.5 END AS priority,
    is_index
FROM blk
WHERE regexp_extract(b, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1) <> ''
"""


@_q("web_sitemap", _sitemap_sql())
def web_sitemap(spark, sf):
    """Sitemap XML parse (structured.parse_sitemaps — the discovery
    complement of graph.frontier_batch): per-doc sitemap files with
    full/partial/loc-less <url> entries plus <sitemap> index children;
    loc trim, optional-field NULLs, the spec's 0.5 priority default
    (url entries only) all hash-checked against the DuckDB replay."""
    from tecs_hardware_kbc_spark.operators.structured import (
        parse_sitemaps)
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    s = did.cast("string")
    host = F.concat(F.lit("https://site"), (did % 4).cast("string"),
                    F.lit(".example"))
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc> '), host,
        F.lit("/p"), s, F.lit(" </loc><lastmod>2026-0"),
        (did % 9 + 1).cast("string"), F.lit("-1"),
        (did % 9).cast("string"),
        F.lit("</lastmod><changefreq>"),
        F.element_at(F.array(F.lit("daily"), F.lit("weekly"),
                             F.lit("monthly")),
                     (did % 3 + 1).cast("int")),
        F.lit("</changefreq>"),
        F.when(did % 3 != 0,
               F.concat(F.lit("<priority>0."),
                        (did % 10).cast("string"),
                        F.lit("</priority>"))).otherwise(F.lit("")),
        F.lit("</url><url><loc>"), host, F.lit("/p"), s,
        F.lit("-b</loc></url>"
              "<url><lastmod>2026-01-03</lastmod></url></urlset>"),
        F.when(did % 4 == 0,
               F.concat(F.lit("<sitemapindex><sitemap><loc>"
                              "https://site0.example/child-"), s,
                        F.lit(".xml</loc><lastmod>2026-02-01T10:00:00Z"
                              "</lastmod></sitemap></sitemapindex>")))
         .otherwise(F.lit("")))
    sm_url = F.concat(F.lit("https://site"), (did % 4).cast("string"),
                      F.lit(".example/sm-"), s, F.lit(".xml"))
    sm = d.select(sm_url.alias("sitemap_url"), xml.alias("xml"))
    return parse_sitemaps(sm)


# SQL-escaped twins of structured.py's microdata regexes ('' = one
# quote inside a DuckDB string literal; Spark uses the module constants)
_MD_TAG_SQL = r"<[^>]*\bitem(?:scope|prop)\b[^>]*>"
_MD_PROP_SQL = 'itemprop\\s*=\\s*["'']([^"'']+)["'']'
_MD_TYPE_SQL = 'itemtype\\s*=\\s*["'']([^"'']+)["'']'
_MD_ID_SQL = 'itemid\\s*=\\s*["'']([^"'']+)["'']'
_MD_CONTENT_SQL = 'content\\s*=\\s*["'']([^"'']*)["'']'
_MD_SRC_SQL = '(?:src|href)\\s*=\\s*["'']([^"'']+)["'']'


@_q("web_microdata", f"""
WITH pages AS (SELECT
    'https://kbc.example/doc/' || doc_id::varchar AS url,
    '<html><body>'
    || CASE WHEN doc_id % 6 = 0
            THEN '<meta itemprop="orphan" content="o">' ELSE '' END
    || '<div itemscope itemtype="https://schema.org/Product"'
    || CASE WHEN doc_id % 4 <> 0
            THEN ' itemid="urn:md:' || (doc_id % 37)::varchar || '"'
            ELSE '' END
    || '><meta itemprop="name" content="Part '
    || (doc_id % 37)::varchar || '">'
    || '<img itemprop="image" src="/img/' || (doc_id % 13)::varchar
    || '.png"><span itemprop="sku">text dropped</span></div>'
    || CASE WHEN doc_id % 3 = 0
            THEN '<div itemscope><meta itemprop="note" content="n'
                 || (doc_id % 5)::varchar
                 || '"><a itemprop="url" href="https://x.example/'
                 || doc_id::varchar || '">t</a></div>'
            ELSE '' END
    || '</body></html>' AS html
  FROM documents),
tg AS (SELECT url, u.idx, u.tag
  FROM (SELECT url,
          regexp_extract_all(html, '{_MD_TAG_SQL}', 0) AS arr
        FROM pages) t,
       unnest(list_transform(arr, (x, i) ->
          struct_pack(idx := i, tag := x))) AS s(u)),
t3 AS (SELECT url, idx, tag,
         regexp_matches(tag, '\\bitemscope\\b') AS is_scope,
         sum(CASE WHEN regexp_matches(tag, '\\bitemscope\\b')
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY url ORDER BY idx) AS scope_k
       FROM tg),
scopes AS (SELECT url, scope_k,
    CASE WHEN regexp_matches(tag, '{_MD_ID_SQL}')
         THEN regexp_extract(tag, '{_MD_ID_SQL}', 1) END AS itemid,
    CASE WHEN regexp_matches(tag, '{_MD_TYPE_SQL}')
         THEN regexp_extract(tag, '{_MD_TYPE_SQL}', 1) END AS itemtype
  FROM t3 WHERE is_scope),
props AS (SELECT url, scope_k,
    regexp_extract(tag, '{_MD_PROP_SQL}', 1) AS pred,
    coalesce(
      CASE WHEN regexp_matches(tag, '{_MD_CONTENT_SQL}')
           THEN regexp_extract(tag, '{_MD_CONTENT_SQL}', 1) END,
      CASE WHEN regexp_matches(tag, '{_MD_SRC_SQL}')
           THEN regexp_extract(tag, '{_MD_SRC_SQL}', 1) END) AS obj
  FROM t3
  WHERE NOT is_scope AND regexp_matches(tag, '{_MD_PROP_SQL}')
        AND scope_k > 0)
SELECT url,
       coalesce(itemid, url || '#item' || scope_k::varchar) AS subj,
       'rdf:type' AS pred, itemtype AS obj
FROM scopes WHERE itemtype IS NOT NULL
UNION ALL
SELECT p.url,
       coalesce(s.itemid,
                p.url || '#item' || p.scope_k::varchar) AS subj,
       p.pred, p.obj
FROM props p JOIN scopes s USING (url, scope_k)
WHERE p.obj IS NOT NULL
""")
def web_microdata(spark, sf):
    """schema.org microdata harvest (structured.microdata_triples —
    the third WDC format next to JSON-LD and meta/OpenGraph): one
    tag-stream pass, nearest-preceding-itemscope prop binding via a
    per-page running-count window, itemid subjects vs minted
    url#item<k> blank nodes, content= vs src=/href= value sources,
    text-content props and pre-scope orphans dropped — the window +
    per-tag extraction replayed in DuckDB."""
    from tecs_hardware_kbc_spark.operators.structured import (
        microdata_triples)
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    k = (did % 37).cast("string")
    html = F.concat(
        F.lit("<html><body>"),
        F.when(did % 6 == 0,
               F.lit('<meta itemprop="orphan" content="o">'))
         .otherwise(F.lit("")),
        F.lit('<div itemscope itemtype="https://schema.org/Product"'),
        F.when(did % 4 != 0,
               F.concat(F.lit(' itemid="urn:md:'), k, F.lit('"')))
         .otherwise(F.lit("")),
        F.lit('><meta itemprop="name" content="Part '), k,
        F.lit('"><img itemprop="image" src="/img/'),
        (did % 13).cast("string"),
        F.lit('.png"><span itemprop="sku">text dropped</span></div>'),
        F.when(did % 3 == 0,
               F.concat(F.lit('<div itemscope><meta itemprop="note"'
                              ' content="n'), (did % 5).cast("string"),
                        F.lit('"><a itemprop="url" '
                              'href="https://x.example/'),
                        did.cast("string"),
                        F.lit('">t</a></div>'))).otherwise(F.lit("")),
        F.lit("</body></html>"))
    url = F.concat(F.lit("https://kbc.example/doc/"),
                   did.cast("string"))
    return microdata_triples(
        d.select(url.alias("url"), html.alias("html")))


# The web-KG end-to-end: ~41 real-world entities each described by many
# pages (doc_id % 41), JSON-LD + meta legs asserting overlapping facts,
# a minority of pages with conflicting claims (pins +1 on every 5th doc,
# rohs flipped on every 7th) and a blank-node minority (every 3rd doc,
# no @id → no identity edge, stays un-merged). Functional resolution
# must pick the majority claim via noisy-or mass.

_WEB_KG_FUNCTIONAL = ["name", "mpn", "pins", "rohs",
                      "og:title", "title", "mfr"]


def _web_kg_sql() -> str:
    fn = ", ".join(f"'{p}'" for p in _WEB_KG_FUNCTIONAL)
    return f"""
WITH base AS (SELECT doc_id, doc_id % 41 AS kk,
                     (doc_id % 41)::varchar AS k FROM documents),
pages AS (SELECT
    'https://kbc.example/doc/' || doc_id::varchar AS url,
    '<html><head><title> Part ' || k || ' —  datasheet </title>'
    || '<meta property="og:title" content="Part ' || k || '">'
    || '<meta name="mfr" content="M' || (kk % 7)::varchar || '">'
    || '<script type="application/ld+json">' || chr(10)
    || '{{"@context":"https://schema.org","@type":"Product",'
    || CASE WHEN doc_id % 3 <> 0
            THEN '"@id":"urn:part:' || k || '",' ELSE '' END
    || '"name":"Part ' || k || '","mpn":"MPN-' || k || '","pins":'
    || ((kk % 64) + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::varchar
    || ',"rohs":'
    || CASE WHEN (kk + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
                 % 2 = 0 THEN 'true' ELSE 'false' END
    || '}}' || chr(10) || '</script></head></html>' AS html
  FROM base),
{_jsonld_harvest_ctes()},
{_meta_harvest_ctes()},
sa AS (SELECT DISTINCT url, subj AS urn FROM jl
       WHERE starts_with(subj, 'urn:part:')),
canon AS (SELECT urn, least(min(url), urn) AS canon
          FROM sa GROUP BY urn),
nmap AS (SELECT urn AS node, canon FROM canon
         UNION ALL
         SELECT sa.url, c.canon FROM sa JOIN canon c USING (urn)),
obs AS (SELECT url AS src, subj, pred, obj, 0.9::double AS prob FROM jl
        UNION ALL
        SELECT url AS src, subj, pred, obj, 0.6::double AS prob
        FROM mt),
rw AS (SELECT coalesce(ms.canon, o.subj) AS subj, o.pred,
              coalesce(mo.canon, o.obj) AS obj, o.prob, o.src
       FROM obs o LEFT JOIN nmap ms ON o.subj = ms.node
                  LEFT JOIN nmap mo ON o.obj = mo.node),
fused AS (SELECT subj, pred, obj,
            round(1.0 - list_reduce(
                list_prepend(1.0::DOUBLE,
                             list_sort(list(round(prob, 6)))),
                (a, q) -> a * (1.0 - q)), 6) AS prob,
            count(DISTINCT src) AS n_src
          FROM rw GROUP BY subj, pred, obj),
rk AS (SELECT *, row_number() OVER (PARTITION BY subj, pred
           ORDER BY prob DESC, n_src DESC, obj ASC) AS _rk,
       count(*) OVER (PARTITION BY subj, pred) AS _n
       FROM fused)
SELECT subj, pred, obj, prob, n_src,
       CASE WHEN pred IN ({fn}) THEN _n ELSE 1 END AS n_alt
FROM rk WHERE pred NOT IN ({fn}) OR _rk = 1
"""


@_q("web_kg_e2e", _web_kg_sql())
def web_kg_e2e(spark, sf):
    """The whole web-scale KG-construction tail over STRUCTURED data in
    one checked chain: JSON-LD + meta harvest (structured.py) →
    owl:sameAs identity edges minted from each island's @id →
    star-contraction identity closure (canonicalize.
    connected_components) → broadcast canonical rewrite of every
    subject and object → noisy-or knowledge fusion across pages
    (fusion.fuse_triples, jsonld sources at 0.9, meta at 0.6) →
    functional-predicate conflict resolution (fusion.
    resolve_functional — the planted minority claims must lose to
    majority noisy-or mass). The DuckDB replay re-runs the harvest
    regexes, closes the planted star graphs with a group-min, and
    replays the fold + argmax — every stage value-checked end-to-end.
    """
    from tecs_hardware_kbc_spark.operators.canonicalize import (
        connected_components)
    from tecs_hardware_kbc_spark.operators.fusion import (
        fuse_triples, resolve_functional)
    from tecs_hardware_kbc_spark.operators.structured import (
        jsonld_triples, meta_triples)
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    kk = did % 41
    k = kk.cast("string")
    pins = ((kk % 64)
            + F.when(did % 5 == 0, F.lit(1)).otherwise(F.lit(0)))
    rohs = F.when((kk + F.when(did % 7 == 0, F.lit(1))
                   .otherwise(F.lit(0))) % 2 == 0,
                  F.lit("true")).otherwise(F.lit("false"))
    html = F.concat(
        F.lit("<html><head><title> Part "), k,
        F.lit(" —  datasheet </title>"),
        F.lit('<meta property="og:title" content="Part '), k,
        F.lit('">'),
        F.lit('<meta name="mfr" content="M'), (kk % 7).cast("string"),
        F.lit('">'),
        F.lit('<script type="application/ld+json">\n'),
        F.lit('{"@context":"https://schema.org","@type":"Product",'),
        F.when(did % 3 != 0,
               F.concat(F.lit('"@id":"urn:part:'), k, F.lit('",')))
         .otherwise(F.lit("")),
        F.lit('"name":"Part '), k, F.lit('","mpn":"MPN-'), k,
        F.lit('","pins":'), pins.cast("string"),
        F.lit(',"rohs":'), rohs,
        F.lit("}\n</script></head></html>"))
    url = F.concat(F.lit("https://kbc.example/doc/"),
                   did.cast("string"))
    pages = d.select(url.alias("url"), html.alias("html"))
    # the JSON-LD harvest feeds BOTH the observation union and the
    # identity-edge derivation (and through it every CC round's lineage)
    # — pin it so the regex+from_json pass over the corpus runs once
    jl = jsonld_triples(pages).localCheckpoint(eager=False)
    mt = meta_triples(pages)
    obs = (jl.withColumn("prob", F.lit(0.9))
             .unionByName(mt.withColumn("prob", F.lit(0.6)))
             .select(F.col("url").alias("src"),
                     "subj", "pred", "obj", "prob"))
    edges = (jl.filter(F.col("subj").startswith("urn:part:"))
               .select(F.col("url").alias("src"),
                       F.col("subj").alias("dst")).distinct())
    comp = connected_components(edges)
    m = F.broadcast(
        comp.select("node", F.col("component").alias("_canon")))
    rw = (obs
          .join(m.withColumnRenamed("node", "subj")
                 .withColumnRenamed("_canon", "_cs"), "subj", "left")
          .join(m.withColumnRenamed("node", "obj")
                 .withColumnRenamed("_canon", "_co"), "obj", "left")
          .select(F.coalesce("_cs", "subj").alias("subj"), "pred",
                  F.coalesce("_co", "obj").alias("obj"),
                  "prob", "src"))
    fused = fuse_triples(rw, src_col="src")
    return resolve_functional(fused, _WEB_KG_FUNCTIONAL)


# --- lexical retrieval (operators/retrieval.py) ---------------------------
# The corpus is ~30 soup words in every doc, so rare "mk<K>" markers are
# planted (K = doc_id % 211, tf = 1 + doc_id % 3) to give retrieval a
# non-degenerate vocabulary; the soup words then demonstrate the
# stopword df-cap by being dropped before the scoring join.

_RETR_DOC_SQL = """
SELECT doc_id,
       text || repeat(' mk' || (doc_id % 211)::varchar,
                      (1 + doc_id % 3)::int) AS text
FROM documents
"""

_RETR_TERMS_SQL = f"""
SELECT doc_id, t AS term
FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws
      FROM retr_docs), unnest(ws) AS s(t)
WHERE t <> ''
"""


def _retr_docs(spark, sf):
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    marker = F.concat(F.lit(" mk"), (did % 211).cast("string"))
    rep = (F.when(did % 3 == 0, marker)
           .when(did % 3 == 1, F.concat(marker, marker))
           .otherwise(F.concat(marker, marker, marker)))
    return d.select("doc_id",
                    F.concat(F.col("text"), rep).alias("text"))


@_q("doc_tfidf", f"""
WITH retr_docs AS ({_RETR_DOC_SQL}),
terms AS ({_RETR_TERMS_SQL}),
post AS (SELECT term, doc_id, count(*) AS tf
         FROM terms GROUP BY term, doc_id),
dfs AS (SELECT term, count(*) AS df FROM post GROUP BY term),
n AS (SELECT count(*)::double AS n FROM retr_docs)
SELECT doc_id, term, tf, df,
       round((1.0 + ln(tf::double))
             * ln((SELECT n FROM n) / df::double), 6) AS weight
FROM post JOIN dfs USING (term)
WHERE df <= 0.3 * (SELECT n FROM n)
""")
def doc_tfidf(spark, sf):
    """Sublinear TF-IDF vectors (retrieval.tfidf_vectors) over the
    marker-planted corpus at max_df_ratio=0.3: the soup vocabulary
    (df ~ N) is dropped by the hot-term cap before weighting, the
    planted rare markers survive; tf, df and the (1+ln tf)*ln(N/df)
    weight all hash-checked against the DuckDB replay."""
    from tecs_hardware_kbc_spark.operators.retrieval import (
        tfidf_vectors)
    return tfidf_vectors(_retr_docs(spark, sf), max_df_ratio=0.3)


# four queries: rare marker + capped soup terms (soup contributes
# nothing — the cap drops it), a doubled term (qtf=2), and one
# out-of-vocabulary query that must return zero rows.
_RETR_QUERIES = [(1, "mk7 merge sort"), (2, "mk42 mk42 vector"),
                 (3, "mk100 stream"), (4, "zzqx")]


@_q("doc_bm25", f"""
WITH retr_docs AS ({_RETR_DOC_SQL}),
terms AS ({_RETR_TERMS_SQL}),
post AS (SELECT term, doc_id, count(*) AS tf
         FROM terms GROUP BY term, doc_id),
dfs AS (SELECT term, count(*) AS df FROM post GROUP BY term
        HAVING count(*) <= 0.5 * (SELECT count(*) FROM retr_docs)),
dls AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY doc_id),
consts AS (SELECT (SELECT count(*)::double FROM retr_docs) AS n,
                  (SELECT avg(dl) FROM dls) AS avgdl),
q AS (SELECT * FROM (VALUES {", ".join(
        f"({i}, '{t}')" for i, t in _RETR_QUERIES)})
      AS v(query_id, qtext)),
qterms AS (SELECT query_id, t AS term, count(*) AS qtf
           FROM q, unnest(string_split(trim(regexp_replace(
               lower(qtext), '\\s+', ' ', 'g')), ' ')) AS s(t)
           WHERE t <> '' GROUP BY query_id, t),
contrib AS (SELECT qt.query_id, p.doc_id,
       ln(1.0 + ((SELECT n FROM consts) - d.df + 0.5) / (d.df + 0.5))
       * (p.tf::double * (1.2 + 1.0))
       / (p.tf::double + 1.2 * (1.0 - 0.75
          + 0.75 * l.dl::double / (SELECT avgdl FROM consts)))
       * qt.qtf::double AS c
     FROM post p JOIN qterms qt USING (term)
                 JOIN dfs d USING (term)
                 JOIN dls l USING (doc_id)),
totals AS (SELECT query_id, doc_id,
             round(list_reduce(list_prepend(0.0::DOUBLE,
                 list_sort(list(c))), (a, x) -> a + x), 6) AS score
           FROM contrib GROUP BY query_id, doc_id),
rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY score DESC, doc_id ASC) AS rank
       FROM totals)
SELECT query_id, doc_id, score, rank FROM rk WHERE rank <= 10
""")
def doc_bm25(spark, sf):
    """Okapi BM25 top-10 (retrieval.bm25_topk — the lexical half of
    the similarity surface; sim_topk is the embedding half): planted
    rare-marker queries against the inverted index, stopword-grade
    terms dropped by the df-cap before the join, qtf=2 weighting, an
    OOV query returning nothing, sorted-fold score totals and the
    deterministic rank cut all hash-checked against the DuckDB
    replay."""
    from tecs_hardware_kbc_spark.operators.retrieval import bm25_topk
    qs = spark.createDataFrame(_RETR_QUERIES, ["query_id", "qtext"])
    return bm25_topk(_retr_docs(spark, sf), qs, k=10)


# --- knowledge fusion / temporal KB (operators/fusion.py) ----------------
# One deterministic observation stream synthesized from documents: 23
# subjects x 3 predicates with conflicting objects, md5-uniform probs,
# crawl timestamps on a (day, hour) grid — the post-extraction shape the
# fusion operators consume. Both engines build it from the same exprs.

_KG_OBS_SQL = """
SELECT 'P' || (doc_id % 23)::varchar AS subj,
       ['polarity', 'ce_v_max', 'typ_gbp'][1 + doc_id % 3] AS pred,
       'v' || ((doc_id * 7) % 5)::varchar AS obj,
       round(0.05 + 0.9 * (('0x' || substr(md5(doc_id::varchar
           || ':fuse'), 1, 8))::ubigint / 4294967296.0), 6) AS prob,
       'u' || doc_id::varchar AS src,
       TIMESTAMP '2024-01-01'
         + ((doc_id % 11)::int) * INTERVAL 1 DAY
         + ((doc_id % 7)::int) * INTERVAL 1 HOUR AS warc_ts
FROM documents
"""

_KG_FUSE_SQL = f"""
WITH obs AS ({_KG_OBS_SQL})
SELECT subj, pred, obj,
       round(1.0 - list_reduce(
           list_prepend(1.0::DOUBLE, list_sort(list(prob::DOUBLE))),
           (a, q) -> a * (1.0 - q)), 6) AS prob,
       count(DISTINCT src) AS n_src
FROM obs GROUP BY subj, pred, obj
"""

_KG_FUNCTIONAL = ["ce_v_max", "polarity"]


def _kg_obs(spark, sf):
    from tecs_hardware_kbc_spark.operators.sampling import hash_u
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    return d.select(
        F.concat(F.lit("P"), (did % 23).cast("string")).alias("subj"),
        F.element_at(F.array(F.lit("polarity"), F.lit("ce_v_max"),
                             F.lit("typ_gbp")),
                     (1 + did % 3).cast("int")).alias("pred"),
        F.concat(F.lit("v"),
                 ((did * 7) % 5).cast("string")).alias("obj"),
        F.round(0.05 + 0.9 * hash_u(did, "fuse"), 6).alias("prob"),
        F.concat(F.lit("u"), did.cast("string")).alias("src"),
        (F.lit("2024-01-01").cast("timestamp")
         + F.make_dt_interval(days=(did % 11).cast("int"),
                              hours=(did % 7).cast("int")))
        .alias("warc_ts"))


@_q("kg_fuse", _KG_FUSE_SQL)
def kg_fuse(spark, sf):
    """Knowledge fusion (fusion.fuse_triples): noisy-or combination of
    per-source extraction confidences per candidate fact — sorted-order
    double fold on a 1e-6 prob grid, replayed bit-for-bit by DuckDB's
    list_reduce. The Knowledge Vault step the reference performs
    implicitly via its global threshold sweep."""
    from tecs_hardware_kbc_spark.operators.fusion import fuse_triples
    return fuse_triples(_kg_obs(spark, sf), src_col="src")


@_q("kg_resolve", f"""
WITH fused AS ({_KG_FUSE_SQL}),
rk AS (SELECT *,
        row_number() OVER (PARTITION BY subj, pred
            ORDER BY prob DESC, n_src DESC, obj ASC) AS _rk,
        count(*) OVER (PARTITION BY subj, pred) AS _n
       FROM fused)
SELECT subj, pred, obj, prob, n_src,
       CASE WHEN pred IN ('ce_v_max', 'polarity') THEN _n
            ELSE 1 END AS n_alt
FROM rk
WHERE pred NOT IN ('ce_v_max', 'polarity') OR _rk = 1
""")
def kg_resolve(spark, sf):
    """Functional-predicate conflict resolution
    (fusion.resolve_functional): one object survives per (subj, pred)
    for functional predicates — argmax fused prob, deterministic
    tie-break — non-functional predicates pass through; the window
    argmax replayed in SQL."""
    from tecs_hardware_kbc_spark.operators.fusion import (
        fuse_triples, resolve_functional)
    fused = fuse_triples(_kg_obs(spark, sf), src_col="src")
    return resolve_functional(fused, _KG_FUNCTIONAL)


@_q("kg_history", f"""
WITH obs AS ({_KG_OBS_SQL}),
c AS (SELECT subj, pred, obj, warc_ts,
        CASE WHEN lag(obj) OVER (PARTITION BY subj, pred
                 ORDER BY warc_ts, obj) IS NULL
               OR lag(obj) OVER (PARTITION BY subj, pred
                 ORDER BY warc_ts, obj) <> obj
             THEN 1 ELSE 0 END AS chg
      FROM obs),
s AS (SELECT *, sum(chg) OVER (PARTITION BY subj, pred
          ORDER BY warc_ts, obj
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
      FROM c),
runs AS (SELECT subj, pred, seg, obj,
           min(warc_ts) AS valid_from, count(*) AS n_obs
         FROM s GROUP BY subj, pred, seg, obj)
SELECT subj, pred, obj, valid_from,
       lead(valid_from) OVER (PARTITION BY subj, pred
           ORDER BY valid_from) AS valid_to,
       n_obs
FROM runs
""")
def kg_history(spark, sf):
    """Temporal KB / SCD2 (fusion.kb_history): per-fact validity
    intervals from the re-crawl observation stream — change-point
    windows, run collapse, lead-closed intervals, open-ended current
    value — every window replayed in DuckDB."""
    from tecs_hardware_kbc_spark.operators.fusion import kb_history
    return kb_history(_kg_obs(spark, sf))


@_q("kg_validate", f"""
WITH vobs AS (
  SELECT 'P' || (doc_id % 23)::varchar AS subj,
         ['ce_v_max', 'polarity', 'mystery'][1 + doc_id % 3] AS pred,
         CASE WHEN doc_id % 3 = 0 THEN ((doc_id * 13) % 120)::varchar
              WHEN doc_id % 3 = 1 THEN
                CASE WHEN doc_id % 2 = 0 THEN 'NPN' ELSE 'PNP' END
              ELSE 'x' || (doc_id % 4)::varchar END AS obj
  FROM documents),
sch(pred, dtype, lo, hi, functional) AS (VALUES
  ('ce_v_max', 'numeric', 0.0, 100.0, true),
  ('polarity', 'string', NULL, NULL, true)),
nobj AS (SELECT subj, pred, count(DISTINCT obj) AS _n_obj
         FROM vobs GROUP BY subj, pred),
j AS (SELECT v.*, s.dtype, s.lo, s.hi, s.functional, n._n_obj,
             try_cast(v.obj AS DOUBLE) AS num
      FROM vobs v LEFT JOIN sch s USING (pred)
      JOIN nobj n USING (subj, pred))
SELECT subj, pred, obj, unnest(list_filter([
    CASE WHEN dtype IS NULL THEN 'unknown_pred' END,
    CASE WHEN dtype = 'numeric' AND num IS NULL
         THEN 'not_numeric' END,
    CASE WHEN dtype = 'numeric' AND num IS NOT NULL
              AND (num < lo OR num > hi) THEN 'out_of_range' END,
    CASE WHEN functional AND _n_obj > 1
         THEN 'functional_conflict' END], x -> x IS NOT NULL))
  AS violation
FROM j
""")
def kg_validate(spark, sf):
    """KB constraint checking (fusion.validate_kg): long-form
    violations vs a broadcast predicate schema — unknown predicate,
    type failure (try_cast), numeric range, functional multiplicity —
    each check replayed in SQL."""
    from tecs_hardware_kbc_spark.operators.fusion import validate_kg
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    vobs = d.select(
        F.concat(F.lit("P"), (did % 23).cast("string")).alias("subj"),
        F.element_at(F.array(F.lit("ce_v_max"), F.lit("polarity"),
                             F.lit("mystery")),
                     (1 + did % 3).cast("int")).alias("pred"),
        F.when(did % 3 == 0, ((did * 13) % 120).cast("string"))
        .when(did % 3 == 1,
              F.when(did % 2 == 0, F.lit("NPN")).otherwise(F.lit("PNP")))
        .otherwise(F.concat(F.lit("x"), (did % 4).cast("string")))
        .alias("obj"))
    schema = spark.createDataFrame(
        [("ce_v_max", "numeric", 0.0, 100.0, True),
         ("polarity", "string", None, None, True)],
        "pred string, dtype string, lo double, hi double, "
        "functional boolean")
    return validate_kg(vobs, schema)


@_q("kg_related", """
WITH obs AS (
  SELECT 'P' || (doc_id % 23)::varchar AS subj,
         ['polarity', 'ce_v_max', 'typ_gbp'][1 + doc_id % 3] AS pred,
         CASE WHEN doc_id % 10 < 3 THEN 'hot'
              ELSE 'v' || ((doc_id * 7) % 40)::varchar END AS obj
  FROM documents),
facts AS (SELECT DISTINCT subj, pred, obj FROM obs),
ok AS (SELECT pred, obj FROM facts
       GROUP BY pred, obj HAVING count(*) <= 15),
small AS (SELECT f.* FROM facts f JOIN ok USING (pred, obj))
SELECT a.subj AS subj_a, b.subj AS subj_b, count(*) AS strength
FROM small a JOIN small b USING (pred, obj)
WHERE a.subj < b.subj
GROUP BY a.subj, b.subj
""")
def kg_related(spark, sf):
    """KG co-fact relatedness (fusion.related_subjects): subject pairs
    sharing (pred, obj) facts, hot values dropped by the max_df
    document-frequency cap BEFORE the self-join — the bounded-task
    guard replayed via a HAVING gate in SQL. The base plants a 'hot'
    object on ~30% of rows so the cap demonstrably drops it (its ~23
    sharers exceed max_df=15) while the long-tail values pair up."""
    from tecs_hardware_kbc_spark.operators.fusion import related_subjects
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    obs = d.select(
        F.concat(F.lit("P"), (did % 23).cast("string")).alias("subj"),
        F.element_at(F.array(F.lit("polarity"), F.lit("ce_v_max"),
                             F.lit("typ_gbp")),
                     (1 + did % 3).cast("int")).alias("pred"),
        F.when(did % 10 < 3, F.lit("hot"))
        .otherwise(F.concat(F.lit("v"), ((did * 7) % 40).cast("string")))
        .alias("obj"))
    return related_subjects(obs, max_df=15)


@_q("kg_er", """
WITH RECURSIVE names AS (
  SELECT DISTINCT CASE (doc_id // 40) % 4
     WHEN 0 THEN 'BC' || (doc_id % 40)::varchar
     WHEN 1 THEN 'BC' || (doc_id % 40)::varchar || 'A'
     WHEN 2 THEN 'bc-' || (doc_id % 40)::varchar
     ELSE 'BD' || (doc_id % 40)::varchar END AS name
  FROM documents),
base AS (SELECT name,
    regexp_replace(lower(name), '[^a-z0-9]', '', 'g') AS norm
  FROM names),
norms AS (SELECT DISTINCT norm AS n FROM base WHERE len(norm) > 0),
blocked AS (SELECT n, substr(n, 1, 4) AS blk FROM norms),
ok AS (SELECT blk FROM blocked GROUP BY blk HAVING count(*) <= 500),
bl AS (SELECT n, blk FROM blocked JOIN ok USING (blk)),
e0 AS (SELECT l.n AS u, r.n AS v FROM bl l JOIN bl r USING (blk)
       WHERE l.n < r.n AND abs(len(l.n) - len(r.n)) <= 1
         AND levenshtein(l.n, r.n) <= 1),
edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
canon AS (SELECT u AS n, least(u, min(v)) AS c FROM reach GROUP BY u)
SELECT base.name, base.norm,
       coalesce(canon.c, base.norm) AS canonical
FROM base LEFT JOIN canon ON base.norm = canon.n
""")
def kg_er(spark, sf):
    """Fuzzy entity resolution (canonicalize.resolve_entity_names):
    normalize surface forms, link normalized variants within 1 edit
    inside prefix blocks, canonicalize components via star-contraction
    CC — replayed with a recursive-CTE closure. The name mix plants
    all three behaviors: punctuation/case variants unify by
    normalization alone ('bc-12' with 'BC12'), suffix variants link by
    edit distance ('BC12A'), and near-misses whose edit falls inside
    the blocking prefix stay separate ('BD12'; single-digit 'BC5A' vs
    'BC5' — the documented blocking recall trade)."""
    from tecs_hardware_kbc_spark.operators.canonicalize import (
        resolve_entity_names)
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    n = (did % 40).cast("string")
    # variant picked by doc_id // 40 so it decorrelates from the part
    # number (doc_id % 4 would be a function of doc_id % 40)
    v = F.floor(did / 40) % 4
    name = (F.when(v == 0, F.concat(F.lit("BC"), n))
            .when(v == 1, F.concat(F.lit("BC"), n, F.lit("A")))
            .when(v == 2, F.concat(F.lit("bc-"), n))
            .otherwise(F.concat(F.lit("BD"), n)))
    return resolve_entity_names(d.select(name.alias("name")))


# backslash spelled chr(92) throughout so the oracle source carries no
# escape-processing ambiguity at all
_NT_BASE_SQL = """
SELECT 'P ' || (doc_id % 23)::varchar AS subj,
       ['rel<a>', 'rel%b', 'polarity'][1 + doc_id % 3] AS pred,
       CASE WHEN doc_id % 5 = 0
            THEN 'say "' || (doc_id % 7)::varchar || '" ' || chr(92)
            ELSE 'v' || ((doc_id * 7) % 5)::varchar END AS obj,
       round(0.05 + 0.9 * (('0x' || substr(md5(doc_id::varchar
           || ':fuse'), 1, 8))::ubigint / 4294967296.0), 6) AS prob
FROM documents
"""

# chained replaces, same fixed ladders as functions/rdf.py (percent /
# backslash first so later rewrites never re-match their own output)
_NT_IRI = ("replace(replace(replace(replace(replace(replace({x}, "
           "'%', '%25'), ' ', '%20'), '\"', '%22'), '<', '%3C'), "
           "'>', '%3E'), '#', '%23')")
_NT_LIT = ("replace(replace(replace(replace(replace({x}, "
           "chr(92), chr(92)||chr(92)), '\"', chr(92)||'\"'), "
           "chr(10), chr(92)||'n'), chr(13), chr(92)||'r'), "
           "chr(9), chr(92)||'t')")


@_q("kg_ntriples", f"""
WITH nt AS ({_NT_BASE_SQL})
SELECT subj, pred, obj,
       '<http://kb.example/' || {_NT_IRI.format(x='subj')} || '> '
       || '<http://kb.example/' || {_NT_IRI.format(x='pred')} || '> '
       || '"' || {_NT_LIT.format(x='obj')} || '" .' AS line
FROM nt
""")
def kg_ntriples(spark, sf):
    """Graph materialization (rdf.to_ntriples): the fused KB rendered
    as W3C N-Triples lines — IRI percent-encoding and the five
    string-literal escapes replayed as the identical replace ladder in
    DuckDB, hash-checked byte-for-byte. The base plants spaces and
    angle brackets in IRIs and quotes/backslashes in literals so the
    escaping is what's actually being checked."""
    from tecs_hardware_kbc_spark.functions.rdf import to_ntriples
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    from tecs_hardware_kbc_spark.operators.sampling import hash_u
    nt = d.select(
        F.concat(F.lit("P "), (did % 23).cast("string")).alias("subj"),
        F.element_at(F.array(F.lit("rel<a>"), F.lit("rel%b"),
                             F.lit("polarity")),
                     (1 + did % 3).cast("int")).alias("pred"),
        F.when(did % 5 == 0,
               F.concat(F.lit('say "'), (did % 7).cast("string"),
                        F.lit('" \\')))
        .otherwise(F.concat(F.lit("v"), ((did * 7) % 5).cast("string")))
        .alias("obj"),
        F.round(0.05 + 0.9 * hash_u(did, "fuse"), 6).alias("prob"))
    return to_ntriples(nt).select("subj", "pred", "obj", "line")


@_q("kg_adjacency", f"""
WITH obs AS ({_KG_OBS_SQL}),
facts AS (SELECT DISTINCT subj, pred, obj FROM obs),
g AS (SELECT subj, count(*) AS n_facts,
        list_sort(list(struct_pack(pred := pred, obj := obj))) AS adj0
      FROM facts GROUP BY subj)
SELECT subj, n_facts, u.pos, u.pred, u.obj
FROM (SELECT subj, n_facts,
        unnest(list_transform(adj0[1:5], (e, i) -> struct_pack(
            pos := i - 1, pred := e.pred, obj := e.obj))) AS u
      FROM g)
""")
def kg_adjacency(spark, sf):
    """Serving-side KG layout (rdf.adjacency_lists): per-subject sorted
    adjacency with a visible max_degree truncation (true fact count
    survives in n_facts) — flattened to long form for the hash compare
    via posexplode, the DuckDB side replaying the sort + slice with a
    correlated generate_series."""
    from tecs_hardware_kbc_spark.functions.rdf import adjacency_lists
    adj = adjacency_lists(_kg_obs(spark, sf), max_degree=5)
    ex = adj.select("subj", "n_facts",
                    F.posexplode("adj").alias("pos", "_e"))
    return ex.select("subj", "n_facts", "pos",
                     F.col("_e.pred").alias("pred"),
                     F.col("_e.obj").alias("obj"))


# --- KG query surface (operators/kg_query.py) ----------------------------
# A deterministic entity graph from documents: parts E* made_by makers
# M*, makers located_in countries C*, a product_country head relation
# that mostly (but not always — e%11 rows contradict, doc%5 rows are
# absent) follows made_by∘located_in, plus an exported_to noise
# relation. Both engines synthesize it from the same arithmetic.

_KG_GRAPH_SQL = """
SELECT 'E' || (doc_id % 40)::varchar AS subj, 'made_by' AS pred,
       'M' || ((doc_id % 40) % 7)::varchar AS obj
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT 'M' || (doc_id % 7)::varchar, 'located_in',
       'C' || ((doc_id % 7) % 3)::varchar
FROM documents WHERE doc_id % 3 = 1
UNION ALL
SELECT 'E' || (doc_id % 40)::varchar, 'product_country',
       'C' || (CASE WHEN (doc_id % 40) % 11 = 0
                    THEN ((doc_id % 40) % 7 + 1) % 3
                    ELSE ((doc_id % 40) % 7) % 3 END)::varchar
FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 <> 0
UNION ALL
SELECT 'C' || ((doc_id % 7) % 3)::varchar, 'exported_to',
       'C' || (((doc_id % 7) + 1) % 3)::varchar
FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 = 0
"""


def _kg_graph(spark, sf):
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    e = did % 40
    made = d.filter(did % 3 == 0).select(
        F.concat(F.lit("E"), e.cast("string")).alias("subj"),
        F.lit("made_by").alias("pred"),
        F.concat(F.lit("M"), (e % 7).cast("string")).alias("obj"))
    loc = d.filter(did % 3 == 1).select(
        F.concat(F.lit("M"), (did % 7).cast("string")).alias("subj"),
        F.lit("located_in").alias("pred"),
        F.concat(F.lit("C"), ((did % 7) % 3).cast("string")).alias("obj"))
    pc_c = (F.when(e % 11 == 0, ((e % 7) + 1) % 3)
            .otherwise((e % 7) % 3))
    pc = d.filter((did % 3 == 2) & (did % 5 != 0)).select(
        F.concat(F.lit("E"), e.cast("string")).alias("subj"),
        F.lit("product_country").alias("pred"),
        F.concat(F.lit("C"), pc_c.cast("string")).alias("obj"))
    exp = d.filter((did % 3 == 2) & (did % 5 == 0)).select(
        F.concat(F.lit("C"), ((did % 7) % 3).cast("string")).alias("subj"),
        F.lit("exported_to").alias("pred"),
        F.concat(F.lit("C"), (((did % 7) + 1) % 3).cast("string"))
        .alias("obj"))
    return made.unionByName(loc).unionByName(pc).unionByName(exp)


@_q("kg_bgp", f"""
WITH g AS ({_KG_GRAPH_SQL}),
t AS (SELECT DISTINCT subj, pred, obj FROM g)
SELECT a.subj AS p, a.obj AS m, b.obj AS c
FROM t a
JOIN t b ON b.pred = 'located_in' AND b.subj = a.obj
JOIN t h ON h.pred = 'product_country' AND h.subj = a.subj
        AND h.obj = b.obj
WHERE a.pred = 'made_by'
""")
def kg_bgp(spark, sf):
    """SPARQL-style basic-graph-pattern matching (kg_query.match_bgp):
    the triangle query "parts whose asserted product_country agrees
    with their maker's location" — three triple patterns compiled to
    selectivity-ordered self-joins on shared variables, replayed as
    explicit joins in SQL. Constant predicates prune the
    pred-partitioned triple sink at scale."""
    from tecs_hardware_kbc_spark.operators.kg_query import match_bgp
    kb = _kg_graph(spark, sf).distinct()
    return match_bgp(kb, [("?p", "made_by", "?m"),
                          ("?m", "located_in", "?c"),
                          ("?p", "product_country", "?c")])


@_q("kg_e2e", f"""
WITH fused AS ({_KG_FUSE_SQL}),
rk AS (SELECT *,
        row_number() OVER (PARTITION BY subj, pred
            ORDER BY prob DESC, n_src DESC, obj ASC) AS _rk
       FROM fused),
resolved AS (SELECT subj, pred, obj, prob FROM rk
             WHERE pred NOT IN ('ce_v_max', 'polarity') OR _rk = 1)
SELECT subj, pred, obj, prob,
       '<http://kb.example/' || {_NT_IRI.format(x='subj')} || '> '
       || '<http://kb.example/' || {_NT_IRI.format(x='pred')} || '> '
       || '"' || {_NT_LIT.format(x='obj')} || '" .' AS line
FROM resolved
""")
def kg_e2e(spark, sf):
    """The KG-materialization tail end-to-end as ONE checked query:
    per-source observations → noisy-or fusion (fusion.fuse_triples) →
    functional-predicate conflict resolution
    (fusion.resolve_functional) → W3C N-Triples serialization
    (rdf.to_ntriples), every stage replayed in the same SQL chain —
    the dedup_e2e discipline applied to the knowledge-graph axis.
    At 100 TB this is the exact shape of the final materialize job:
    two fact-key shuffles (fusion groupBy + resolution window) and a
    line-oriented projection."""
    from tecs_hardware_kbc_spark.functions.rdf import to_ntriples
    from tecs_hardware_kbc_spark.operators.fusion import (
        fuse_triples, resolve_functional)
    fused = fuse_triples(_kg_obs(spark, sf), src_col="src")
    resolved = resolve_functional(fused, _KG_FUNCTIONAL).select(
        "subj", "pred", "obj", "prob")
    return to_ntriples(resolved).select(
        "subj", "pred", "obj", "prob", "line")


@_q("kg_bgp_opt", f"""
WITH g AS ({_KG_GRAPH_SQL}),
t AS (SELECT DISTINCT subj, pred, obj FROM g)
SELECT a.subj AS p, a.obj AS m, h.obj AS c
FROM t a
LEFT JOIN (SELECT subj, obj FROM t
           WHERE pred = 'product_country') h ON h.subj = a.subj
WHERE a.pred = 'made_by'
  AND (h.obj IS NULL OR h.obj <> 'C2')
""")
def kg_bgp_opt(spark, sf):
    """SPARQL OPTIONAL + FILTER (kg_query.match_bgp): every made_by
    pair keeps its product_country when asserted and NULL otherwise
    (left join on the shared variable), then a FILTER with explicit
    NULL handling drops the C2 bindings — replayed as LEFT JOIN +
    WHERE in SQL."""
    from tecs_hardware_kbc_spark.operators.kg_query import match_bgp
    kb = _kg_graph(spark, sf).distinct()
    return match_bgp(
        kb, [("?p", "made_by", "?m")],
        optional=[[("?p", "product_country", "?c")]],
        filters=["c IS NULL OR c <> 'C2'"])


_KG_SUBCLASS = [
    ("npn", "bjt"), ("pnp", "bjt"), ("nmos", "fet"), ("pmos", "fet"),
    ("bjt", "transistor"), ("fet", "transistor"),
    ("transistor", "component"),
    ("npn", "transistor"),   # shortcut: exercises min-depth dedup
]


@_q("kg_types", f"""
WITH RECURSIVE sc(src, dst) AS (VALUES {", ".join(
    f"('{a}', '{b}')" for a, b in _KG_SUBCLASS)}),
cl AS (
  SELECT src, dst, 1 AS hops FROM sc
  UNION
  SELECT cl.src, sc.dst, cl.hops + 1
  FROM cl JOIN sc ON cl.dst = sc.src
  WHERE cl.hops < 8),
inst AS (SELECT DISTINCT 'E' || (doc_id % 40)::varchar AS subj,
           ['npn', 'pnp', 'nmos', 'pmos'][1 + doc_id % 4] AS typ
         FROM documents WHERE doc_id % 2 = 0),
all_d AS (
  SELECT subj, typ AS type, 0 AS depth FROM inst
  UNION ALL
  SELECT i.subj, cl.dst AS type, cl.hops AS depth
  FROM inst i JOIN cl ON i.typ = cl.src)
SELECT subj, type, min(depth) AS depth
FROM all_d GROUP BY subj, type
""")
def kg_types(spark, sf):
    """RDFS type-hierarchy entailment (kg_query.infer_types — rules
    rdfs9/rdfs11): asserted instance types propagate up a subclass
    hierarchy with a shortcut edge planted so the min-depth dedup is
    exercised; the schema closure (reachability) broadcasts into one
    join against the instance assertions. Replayed via a recursive
    CTE + min GROUP BY."""
    from tecs_hardware_kbc_spark.operators.kg_query import infer_types
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    inst = d.filter(did % 2 == 0).select(
        F.concat(F.lit("E"), (did % 40).cast("string")).alias("subj"),
        F.lit("type").alias("pred"),
        F.element_at(F.array(F.lit("npn"), F.lit("pnp"), F.lit("nmos"),
                             F.lit("pmos")),
                     (1 + did % 4).cast("int")).alias("obj"))
    schema = spark.createDataFrame(
        [(a, "subclass_of", b) for a, b in _KG_SUBCLASS],
        ["subj", "pred", "obj"])
    return infer_types(inst.unionByName(schema))


@_q("kg_stats", f"""
WITH g AS ({_KG_GRAPH_SQL}),
t AS (SELECT DISTINCT subj, pred, obj FROM g)
SELECT pred, count(*) AS n_triples,
       count(DISTINCT subj) AS n_subj,
       count(DISTINCT obj) AS n_obj
FROM t GROUP BY pred
""")
def kg_stats(spark, sf):
    """VoID-style predicate statistics (kg_query.predicate_stats):
    per-predicate triple/distinct-subject/distinct-object counts — the
    cardinalities match_bgp's stats-aware join ordering estimates
    pattern sizes from. One map-combinable groupBy, #preds rows."""
    from tecs_hardware_kbc_spark.operators.kg_query import predicate_stats
    return predicate_stats(_kg_graph(spark, sf).distinct())


@_q("kg_paths", f"""
WITH RECURSIVE g AS ({_KG_GRAPH_SQL}),
e AS (SELECT DISTINCT subj AS src, obj AS dst FROM g),
r AS (
  SELECT src, dst, 1 AS hops FROM e
  UNION
  SELECT r.src, e.dst, r.hops + 1
  FROM r JOIN e ON r.dst = e.src
  WHERE r.hops < 3
)
SELECT src, dst, min(hops) AS hops FROM r GROUP BY src, dst
""")
def kg_paths(spark, sf):
    """Bounded property-path closure (kg_query.reachability): min-hop
    pairs within 3 hops over the whole entity graph — the E→M→C chains
    plus the deliberate exported_to C0→C1→C2→C0 cycle, which the
    frontier anti-join terminates (a pair enters once, at its shortest
    depth). Replayed as a DuckDB recursive CTE + min GROUP BY."""
    from tecs_hardware_kbc_spark.operators.kg_query import reachability
    return reachability(_kg_graph(spark, sf), max_hops=3)


@_q("kg_rules", f"""
WITH g AS ({_KG_GRAPH_SQL}),
t AS (SELECT DISTINCT subj, pred, obj FROM g),
body AS (SELECT DISTINCT a.subj AS x, a.pred AS r1,
                         b.pred AS r2, b.obj AS z
         FROM t a JOIN t b ON a.obj = b.subj),
heads AS (SELECT subj AS x, pred AS r3, obj AS z FROM t),
supp AS (SELECT r1, r2, r3, count(*) AS support
         FROM body JOIN heads USING (x, z) GROUP BY r1, r2, r3),
nb AS (SELECT r1, r2, count(*) AS n_body FROM body GROUP BY r1, r2),
pca AS (SELECT r1, r2, r3, count(*) AS n_pca
        FROM body JOIN (SELECT DISTINCT x, r3 FROM heads) h USING (x)
        GROUP BY r1, r2, r3)
SELECT r1, r2, r3, support, n_body,
       round(support / n_body, 6) AS confidence,
       round(support / n_pca, 6) AS pca_confidence
FROM supp JOIN nb USING (r1, r2) JOIN pca USING (r1, r2, r3)
WHERE support >= 2
""")
def kg_rules(spark, sf):
    """AMIE-style path-rule mining (kg_query.mine_path_rules): every
    r1(x,y) ∧ r2(y,z) ⇒ r3(x,z) rule with support ≥ 2, standard and
    PCA confidence — one obj=subj self-join plus head joins, every
    count replayed in SQL. The planted made_by ∘ located_in ⇒
    product_country rule surfaces with high-but-imperfect confidence
    (e%11 subjects contradict it, doc%5 subjects never assert it)."""
    from tecs_hardware_kbc_spark.operators.kg_query import mine_path_rules
    return mine_path_rules(_kg_graph(spark, sf), min_support=2)


def _token_budget_sql(budget: int = 12000, buckets: int = 16) -> str:
    u = ("(('0x' || substr(md5(doc_id::varchar || ':budget'), 1, 8))"
         "::ubigint / 4294967296.0)")
    return f"""
WITH d AS (SELECT doc_id, len({_WORDS_SQL}) AS tokens, {u} AS _u,
                  least(floor({u} * {buckets}), {buckets} - 1) AS _b
           FROM documents),
c AS (SELECT doc_id, tokens,
             sum(tokens) OVER (ORDER BY _b, _u, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum
      FROM d WHERE tokens > 0)
SELECT doc_id, tokens::bigint AS tokens, cum::bigint AS cum_tokens
FROM c WHERE cum <= {budget}
"""


@_q("doc_token_budget", _token_budget_sql())
def doc_token_budget(spark, sf):
    """Global token-budget corpus cut (sampling.token_budget — "train on
    the first 12k tokens" in deterministic hash order): the sharded
    Spark plan (per-bucket totals -> tiny exclusive prefix sum -> one
    window per bucket) must reproduce EXACTLY the single global running
    sum the DuckDB oracle computes — survivor set, per-doc tokens and
    inclusive cumulative totals all hash-checked."""
    from tecs_hardware_kbc_spark.operators.sampling import token_budget
    from tecs_hardware_kbc_spark.operators.textstats import token_stats
    d = _t(spark, sf, "documents")
    toks = token_stats(d).select("doc_id", F.col("n_words").alias("tokens"))
    return token_budget(toks, "doc_id", "tokens",
                        budget=12000, buckets=16)


_RESAMPLE_MULTS = {"src0": 2.5, "src1": 0.4, "src2": 0.0, "src3": 3.0}


def _resample_sql() -> str:
    """DuckDB replay of resample_by_weight (sampling.py): the per-domain
    multiplier CASE, floor + fractional md5-coin copy count, and the
    copy-index explode."""
    cases = " ".join(f"WHEN '{d}' THEN {m}::double"
                     for d, m in _RESAMPLE_MULTS.items())
    u = ("(('0x' || substr(md5(doc_id::varchar || ':resample'), 1, 8))"
         "::ubigint / 4294967296.0)")
    return f"""
WITH m AS (SELECT doc_id, source,
        CASE source {cases} ELSE 1.0::double END AS mult
      FROM documents WHERE doc_id < 200),
n AS (SELECT doc_id, source,
        floor(mult)::int
        + (CASE WHEN {u} < mult - floor(mult) THEN 1 ELSE 0 END)
          AS n_copies
      FROM m)
SELECT doc_id, source, g.c::int AS copy
FROM n, unnest(generate_series(0, n_copies - 1)) AS g(c)
WHERE n_copies >= 1
"""


@_q("doc_resample", _resample_sql())
def doc_resample(spark, sf):
    """Domain-mixture resampling with repetition
    (sampling.resample_by_weight): src0 x2.5, src1 x0.4, src2 dropped,
    src3 x3, everything else pass-through — integer copies plus a
    deterministic per-key fractional coin, the pretraining-mix step
    between corpus and batches; copy assignment hash-checked vs the
    DuckDB replay. (Multipliers here are fixed literals so the oracle
    replays; temperature_multipliers derives them from corpus shares and
    is calibration-tested in pytest.)"""
    from tecs_hardware_kbc_spark.operators.sampling import (
        resample_by_weight)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    out = resample_by_weight(d.select("doc_id", "source"), "doc_id",
                             "source", _RESAMPLE_MULTS)
    return out.select("doc_id", "source", "copy")


_PACK_BUDGET, _PACK_SHARDS = 128, 8


def _pack_sql() -> str:
    """DuckDB replay of pack_sequences (sampling.py): per-shard running
    token sum over the deterministic (hash, key) order, documents laid
    end-to-end, one row per overlapped budget-sized sequence."""
    b, s = _PACK_BUDGET, _PACK_SHARDS
    return f"""
WITH d AS (SELECT doc_id,
        len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')),
            ' ')) AS toks
      FROM documents),
t AS (SELECT doc_id, toks,
        (('0x' || substr(md5(doc_id::varchar), 1, 8))::ubigint % {s})
          AS shard,
        (('0x' || substr(md5(doc_id::varchar || ':pack'), 1, 8))::ubigint
          / 4294967296.0) AS u
      FROM d WHERE toks > 0),
tape AS (SELECT doc_id, toks, shard,
        sum(toks) OVER (PARTITION BY shard ORDER BY u, doc_id)::bigint
          AS e
      FROM t),
spans AS (SELECT doc_id, shard, (e - toks)::bigint AS st, e FROM tape)
SELECT doc_id, shard::int AS shard, seq::int AS seq,
       st AS doc_start, e AS doc_end,
       (greatest(seq * {b}, st) - seq * {b})::int AS seq_off,
       (least(seq * {b} + {b}, e) - greatest(seq * {b}, st))::int
         AS slice_len
FROM spans, unnest(generate_series(st // {b}, (e - 1) // {b})) AS g(seq)
"""


@_q("doc_pack", _pack_sql())
def doc_pack(spark, sf):
    """Concat-and-chunk sequence packing (sampling.pack_sequences — the
    standard LLM-pretraining packing): documents sharded by key hash,
    deterministically shuffled within the shard, laid end-to-end and cut
    every 128 tokens; one row per (document, overlapped sequence), every
    value hash-checked vs the DuckDB window replay."""
    from tecs_hardware_kbc_spark.operators.sampling import pack_sequences
    d = _t(spark, sf, "documents")
    toks = F.size(F.split(
        F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")), " "))
    return pack_sequences(
        d.select("doc_id", toks.alias("toks")), "doc_id", "toks",
        _PACK_BUDGET, shards=_PACK_SHARDS)


def _dep_tags_sql() -> str:
    """DuckDB replay of the dependency-lite head-rule tagger (lingual.py:
    dep_col) over the same tokenization as kbc_lingual_tags."""
    from tecs_hardware_kbc_spark.operators.lingual import (dep_sql,
                                                           lingual_sql)
    words = "string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')"
    pos, _ = lingual_sql("words")
    parent, label = dep_sql("words")
    return f"""
WITH d AS (SELECT doc_id, {words} AS words FROM documents WHERE doc_id < 60),
tagged AS (SELECT doc_id, words, {pos} AS pos FROM d)
SELECT doc_id, i - 1 AS ti, words[i] AS word,
       ({parent})::int AS dep_parent, {label} AS dep_label
FROM tagged, unnest(generate_series(1, len(words))) AS t(i)
"""


@_q("kbc_dep_tags", _dep_tags_sql())
def kbc_dep_tags(spark, sf):
    """Dependency-lite annotations (the dep_parents/dep_labels leg of the
    reference's sentence schema, transistor_spaces.py:206-224): a
    deterministic head-rule tagger over the POS-lite tags — last-nominal
    root, forward attachment, closed-class labels — with every
    parent/label hash-checked vs the DuckDB replay. A spaCy-equipped
    deployment would swap the rule tagger for model output in the same
    columns (see COVERAGE.md P9)."""
    from tecs_hardware_kbc_spark.operators.lingual import dep_col
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 60)
    words = F.split(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")), " ")
    dep = dep_col(words)
    return (
        d.select("doc_id", words.alias("words"), dep.alias("dep"))
        .select("doc_id", F.posexplode(
            F.arrays_zip(F.col("words").alias("word"),
                         F.col("dep.dep_parents").alias("dep_parent"),
                         F.col("dep.dep_labels").alias("dep_label")))
            .alias("ti", "z"))
        .select("doc_id", "ti", F.col("z.word").alias("word"),
                F.col("z.dep_parent").alias("dep_parent"),
                F.col("z.dep_label").alias("dep_label"))
    )


def _synth_mention_cols(kind: str) -> str:
    """(SQL) deterministic mention attributes from md5(doc_id:kind:i)."""
    h = f"md5(doc_id::varchar || ':{kind}:' || i::varchar)"
    byte = "(('0x' || substr({h}, {o}, 2))::int)"
    b = [byte.format(h=h, o=2 * j + 1) for j in range(4)]
    return (f"'doc://' || doc_id AS url, '{kind}' || i AS span, "
            f"i AS position, {b[0]} % 2 AS table_id, {b[1]} % 4 AS row, "
            f"{b[2]} % 4 AS col, {b[3]} % 4 > 0 AS is_tabular")


def _candidate_join_sql() -> str:
    return f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
parts AS (SELECT {_synth_mention_cols('part')}
          FROM ids, unnest(generate_series(0, 3)) AS t(i)),
attrs AS (SELECT {_synth_mention_cols('temp')}
          FROM ids, unnest(generate_series(0, 3)) AS t(i))
SELECT p.url, p.span AS p_span, a.span AS a_span,
       p.table_id AS p_table_id, a.table_id AS a_table_id,
       p.row AS p_row, a.row AS a_row, p.col AS p_col, a.col AS a_col,
       p.is_tabular AS p_is_tabular
FROM parts p JOIN attrs a USING (url)
WHERE CASE WHEN p.table_id = a.table_id
           THEN p.row = a.row OR p.col = a.col
           ELSE p.is_tabular END
"""


def _synth_mentions(d: DataFrame, kind: str, k: int = 4) -> DataFrame:
    base = d.select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
                    .alias("i"))
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{kind}:"),
                       F.col("i").cast("string")))

    def byte(j: int):
        return F.conv(F.substring(h, 2 * j + 1, 2), 16, 10).cast("int")

    return base.select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.concat(F.lit(kind), F.col("i")).alias("span"),
        F.col("i").alias("position"),
        (byte(0) % 2).alias("table_id"),
        (byte(1) % 4).alias("row"),
        (byte(2) % 4).alias("col"),
        (byte(3) % 4 > 0).alias("is_tabular"),
    )


@_q("kbc_candidate_join", _candidate_join_sql())
def kbc_candidate_join(spark, sf):
    """J1/J2 per-doc pairing join + stg_temp throttler on deterministic
    synthetic mentions — the throttler predicate hash-checked vs DuckDB."""
    from tecs_hardware_kbc_spark.operators.candidates import stg_temp_candidates
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 50)
    cands = stg_temp_candidates(_synth_mentions(d, "part"),
                                _synth_mentions(d, "temp"))
    return cands.select("url", "p_span", "a_span", "p_table_id", "a_table_id",
                        "p_row", "a_row", "p_col", "a_col", "p_is_tabular")


def _visual_align_sql() -> str:
    """DuckDB replay of the visual alignment predicates (visual.py):
    fonduer's center-in-range horz/vert bbox alignment, the hybrid form
    (structural fallback where coords are null), and top-third."""
    def byte(j: int) -> str:
        return f"(('0x' || substr(h, {2 * j + 1}, 2))::int)"

    def side(name: str, p: str) -> str:
        return f"""
{name} AS (SELECT url, span AS {p}span, table_id AS {p}table_id,
       row AS {p}row, col AS {p}col,
       1 + {byte(3)} % 2 AS {p}page,
       CASE WHEN {byte(0)} % 4 > 0 THEN ({byte(1)} % 80 * 3)::double END AS {p}v_top,
       CASE WHEN {byte(0)} % 4 > 0 THEN ({byte(1)} % 80 * 3 + 18)::double END AS {p}v_bottom,
       CASE WHEN {byte(0)} % 4 > 0 THEN ({byte(2)} * 2)::double END AS {p}v_left,
       CASE WHEN {byte(0)} % 4 > 0 THEN ({byte(2)} * 2 + 120)::double END AS {p}v_right
  FROM (SELECT *, md5(url || ':viz:' || span) AS h FROM {name}0))"""

    horz = """((p_page = a_page) AND (
        ((p_v_top + p_v_bottom) / 2.0 BETWEEN a_v_top AND a_v_bottom)
        OR ((a_v_top + a_v_bottom) / 2.0 BETWEEN p_v_top AND p_v_bottom)))"""
    vert = """((p_page = a_page) AND (
        ((p_v_left + p_v_right) / 2.0 BETWEEN a_v_left AND a_v_right)
        OR ((a_v_left + a_v_right) / 2.0 BETWEEN p_v_left AND p_v_right)))"""
    structural = """(p_table_id IS NOT NULL AND p_table_id = a_table_id
        AND (p_row = a_row OR p_col = a_col))"""
    return f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
parts0 AS (SELECT {_synth_mention_cols('part')}
           FROM ids, unnest(generate_series(0, 3)) AS t(i)),
attrs0 AS (SELECT {_synth_mention_cols('temp')}
           FROM ids, unnest(generate_series(0, 3)) AS t(i)),
{side('parts', 'p_')},
{side('attrs', 'a_')}
SELECT url, p_span, a_span,
  (p_v_top IS NOT NULL AND a_v_top IS NOT NULL) AS has_viz,
  coalesce({horz}, false) AS horz,
  coalesce({vert}, false) AS vert,
  CASE WHEN p_v_top IS NOT NULL AND a_v_top IS NOT NULL
       THEN {horz} OR {vert} ELSE {structural} END AS hybrid_aligned,
  coalesce(p_page = 1 AND a_page = 1
           AND p_v_top / 792.0 < 1.0 / 3.0
           AND a_v_top / 792.0 < 1.0 / 3.0, false) AS top_third
FROM parts p JOIN attrs a USING (url)
"""


def _with_synth_visual(m: DataFrame, prefix: str) -> DataFrame:
    """md5-derived bbox columns for a synthetic mention side; ~1/4 of the
    mentions stay coordinate-free to exercise the structural fallback."""
    h = F.md5(F.concat(F.col("url"), F.lit(":viz:"), F.col("span")))

    def byte(j: int):
        return F.conv(F.substring(h, 2 * j + 1, 2), 16, 10).cast("int")

    present = byte(0) % 4 > 0
    v_top = (byte(1) % 80 * 3).cast("double")
    v_left = (byte(2) * 2).cast("double")
    return m.select(
        "url", F.col("span").alias(f"{prefix}span"),
        F.col("table_id").alias(f"{prefix}table_id"),
        F.col("row").alias(f"{prefix}row"),
        F.col("col").alias(f"{prefix}col"),
        (1 + byte(3) % 2).alias(f"{prefix}page"),
        F.when(present, v_top).alias(f"{prefix}v_top"),
        F.when(present, v_top + 18).alias(f"{prefix}v_bottom"),
        F.when(present, v_left).alias(f"{prefix}v_left"),
        F.when(present, v_left + 120).alias(f"{prefix}v_right"),
    )


@_q("kbc_visual_align", _visual_align_sql())
def kbc_visual_align(spark, sf):
    """W3/J2 visual leg: fonduer's bbox alignment predicates
    (is_horz_aligned / is_vert_aligned center-in-range, the hybrid
    structural fallback, get_page_vert_percentile top-third;
    transistor_throttlers.py:56-65, transistor_lfs.py:231-241) —
    hash-checked per pair vs the DuckDB replay."""
    from tecs_hardware_kbc_spark.operators.candidates import aligned
    from tecs_hardware_kbc_spark.operators.visual import (
        both_in_top_third_viz, has_visual, horz_aligned_viz,
        vert_aligned_viz)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 50)
    pairs = _with_synth_visual(_synth_mentions(d, "part"), "p_").join(
        _with_synth_visual(_synth_mentions(d, "temp"), "a_"), "url")
    return pairs.select(
        "url", "p_span", "a_span",
        has_visual().alias("has_viz"),
        F.coalesce(horz_aligned_viz(), F.lit(False)).alias("horz"),
        F.coalesce(vert_aligned_viz(), F.lit(False)).alias("vert"),
        F.when(has_visual(), horz_aligned_viz() | vert_aligned_viz())
        .otherwise(aligned()).alias("hybrid_aligned"),
        F.coalesce(both_in_top_third_viz(), F.lit(False)).alias("top_third"),
    )


def _figures_sql() -> str:
    """DuckDB replay of the figure pipeline's planted-dimension math
    (figures.planted_dims) + the HasFigures min-dim filter. The Spark side
    obtains width/height by DECODING real PNG header bytes — equality here
    proves the synthesize -> container -> header-parse loop end-to-end."""
    def byte(j: int) -> str:
        return f"(('0x' || substr(h, {2 * j + 1}, 2))::int)"

    return f"""
WITH d AS (SELECT 'doc://' || doc_id AS url,
           ('0x' || substr(md5('doc://' || doc_id || ':nf'), 1, 2))::int % 4
           AS nf
           FROM documents WHERE doc_id < 80),
figs AS (SELECT url, 'fig' || i || '.png' AS src
         FROM d, unnest(generate_series(0, nf - 1)) AS t(i) WHERE nf > 0),
dims AS (SELECT url, src,
    {byte(0)} % 2 = 1 AS is_connector,
    64 + {byte(1)} % 128 AS s,
    floor((64 + {byte(1)} % 128) / 10)::int AS jitter,
    160 + {byte(2)} % 121 AS ratio,
    {byte(2)} AS b2, {byte(3)} % 2 = 1 AS flip, {byte(4)} % 5 = 0 AS small,
    {byte(1)} AS b1
  FROM (SELECT url, src, md5(url || ':fig:' || src) AS h FROM figs)),
wh AS (SELECT url, src, is_connector,
    CASE WHEN small THEN 8 + b1 % 40
         WHEN is_connector THEN s
         WHEN flip THEN floor(s * ratio / 100.0)::int
         ELSE s END AS width,
    CASE WHEN small THEN 8 + b2 % 40
         WHEN is_connector THEN s + (b2 % (2 * jitter + 1)) - jitter
         WHEN flip THEN s
         ELSE floor(s * ratio / 100.0)::int END AS height
  FROM dims)
SELECT url, src, width, height, is_connector
FROM wh WHERE least(width, height) > 50
"""


@_q("kbc_figures", _figures_sql())
def kbc_figures(spark, sf):
    """S8 figure pipeline (MentionFigures + HasFigures,
    circular_connectors.py:82-100): synthetic figures over the documents
    table, payloads built as REAL PNG headers, dimensions decoded back by
    the pure-Python header tier, min-dim filtered — decoded values
    hash-checked against the DuckDB arithmetic replay."""
    from tecs_hardware_kbc_spark.operators.figures import (
        figure_mentions, planted_dims, synthesize_media)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 80)
    url = F.concat(F.lit("doc://"), F.col("doc_id"))
    nf = F.conv(F.substring(F.md5(F.concat(url, F.lit(":nf"))), 1, 2),
                16, 10).cast("int") % 4
    figs = (
        d.select(url.alias("url"), nf.alias("_nf"))
        .filter(F.col("_nf") > 0)
        .select("url", F.explode(
            F.sequence(F.lit(0), F.col("_nf") - 1)).alias("fig_id"))
        .select("url", "fig_id",
                F.concat(F.lit("fig"), F.col("fig_id"), F.lit(".png"))
                .alias("src"),
                F.lit("").alias("alt"))
    )
    kept = figure_mentions(figs, synthesize_media(figs))
    _, _, is_conn = planted_dims(F.col("url"), F.col("src"))
    return kept.select("url", "src", "width", "height",
                       is_conn.alias("is_connector"))


def _augment_sql() -> str:
    """DuckDB replay of a composed augmentation policy (augment.py):
    flip_horizontal -> cutout(1,1,2) -> normalize(0.5, 0.25) over 6x4
    md5-derived grayscale images. Pixels are b/256.0 (exact binary
    fractions) so every value is bit-identical across engines with no
    rounding convention in play."""
    return """
WITH d AS (SELECT doc_id, 'doc://' || doc_id AS url
           FROM documents WHERE doc_id < 60),
px AS (SELECT doc_id, i,
    (('0x' || substr(md5(url || ':px:' || (i // 16)),
                     (i % 16) * 2 + 1, 2))::int) / 256.0 AS v
  FROM d, unnest(generate_series(0, 23)) AS t(i)),
flip AS (SELECT a.doc_id, a.i, b.v
  FROM (SELECT doc_id, i, (i // 6) * 6 + (5 - i % 6) AS src FROM px) a
  JOIN px b ON b.doc_id = a.doc_id AND b.i = a.src)
SELECT doc_id, i,
  ((CASE WHEN i // 6 BETWEEN 1 AND 2 AND i % 6 BETWEEN 1 AND 2
         THEN 0.0 ELSE v END) - 0.5) / 0.25 AS value
FROM flip
"""


@_q("media_augment", _augment_sql())
def media_augment(spark, sf):
    """Image-augmentation policy (the connectors task's augment_policy.py /
    transforms/ analog): flip -> cutout -> normalize composed as ONE JVM
    projection over md5-derived grayscale pixel arrays, every output pixel
    hash-checked vs the DuckDB index-math replay."""
    from tecs_hardware_kbc_spark.operators.augment import (
        cutout, flip_horizontal, normalize)
    W, H = F.lit(6), F.lit(4)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 60)
    url = F.concat(F.lit("doc://"), F.col("doc_id"))
    pix = F.transform(
        F.sequence(F.lit(0), F.lit(23)),
        lambda i: F.conv(
            F.substring(
                F.md5(F.concat(url, F.lit(":px:"),
                               F.floor(i / 16).cast("int").cast("string"))),
                ((i % 16) * 2 + 1).cast("int"), F.lit(2)),
            16, 10).cast("double") / 256.0)
    out = normalize(
        cutout(flip_horizontal(pix, W, H), W, H,
               F.lit(1), F.lit(1), F.lit(2)),
        0.5, 0.25)
    return (
        d.select("doc_id", F.posexplode(out).alias("i", "value"))
    )


def _asof_pair_sql() -> str:
    """DuckDB native ASOF JOIN replay of linking.asof_pair — the engines
    implement the same semantics through different physical plans (window
    over tagged union vs. DuckDB's asof operator), which is exactly the
    point of the check."""
    def byte(h: str, j: int) -> str:
        return f"('0x' || substr({h}, {2 * j + 1}, 2))::int"

    return f"""
WITH d AS (SELECT 'doc://' || doc_id AS url
           FROM documents WHERE doc_id < 120),
n AS (SELECT url,
        1 + {byte('md5(url)', 0)} % 3 AS n_gain,
        1 + {byte('md5(url)', 1)} % 3 AS n_cur
      FROM d),
g AS (SELECT url,
        20 * k + {byte('h', 0)} % 10 AS position,
        (100 + {byte('h', 1)} * 37)::double / 10 AS gbp_khz
      FROM (SELECT url, k, md5(url || ':gain:' || k) AS h
            FROM n, unnest(generate_series(0, n_gain - 1)) AS t(k))),
c AS (SELECT url,
        20 * k + {byte('h', 0)} % 10 AS position,
        (50 + {byte('h', 1)} * 13)::double / 10 AS supply_ua
      FROM (SELECT url, k, md5(url || ':cur:' || k) AS h
            FROM n, unnest(generate_series(0, n_cur - 1)) AS t(k)))
SELECT g.url, g.position, g.gbp_khz, c.supply_ua
FROM g ASOF JOIN c ON g.url = c.url AND g.position >= c.position
"""


@_q("kbc_asof_pair", _asof_pair_sql())
def kbc_asof_pair(spark, sf):
    """The opamp gain/supply-current reading-order pairing
    (plot_opo.py:38-60) as the window-over-tagged-union as-of plan
    (linking.asof_pair): each GBWP entity takes the latest supply-current
    entity at-or-before its sentence position in the same doc. Fixture
    entity tables are md5-derived from the documents table so DuckDB's
    native ASOF JOIN replays the values."""
    from tecs_hardware_kbc_spark.operators.linking import asof_pair

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 120)
    url = F.concat(F.lit("doc://"), F.col("doc_id"))

    def byte(h, j):
        return F.conv(F.substring(h, 2 * j + 1, 2), 16, 10).cast("int")

    n = d.select(url.alias("url"),
                 (1 + byte(F.md5(url), 0) % 3).alias("n_gain"),
                 (1 + byte(F.md5(url), 1) % 3).alias("n_cur"))

    def side(tag: str, n_col: str, val_col: str, base: int, mult: int):
        h = F.md5(F.concat(F.col("url"), F.lit(f":{tag}:"), F.col("k")))
        return (n.select(
            "url",
            F.explode(F.sequence(F.lit(0), F.col(n_col) - 1)).alias("k"))
            .select(
                "url",
                (20 * F.col("k") + byte(h, 0) % 10).alias("position"),
                ((base + byte(h, 1) * mult).cast("double") / 10)
                .alias(val_col)))

    gains = side("gain", "n_gain", "gbp_khz", 100, 37)
    currents = side("cur", "n_cur", "supply_ua", 50, 13)
    return asof_pair(gains, currents, keys=["url"], order_col="position",
                     left_cols=["gbp_khz"], right_cols=["supply_ua"])


def _conv_sql() -> str:
    """DuckDB replay of the conv feature maps (convolve.py): the planted
    thumbnail raster (figures.synthesize_thumbnail — integer index math)
    convolved with the Sobel-x and center-surround kernels, zero border.
    Tap order in each sum matches conv3x3's (dr, dc) loop exactly so the
    float accumulation is bit-identical."""
    def byte(j: int) -> str:
        return f"('0x' || substr(h, {2 * j + 1}, 2))::int"

    def tap(dr: int, dc: int) -> str:
        return (f"(CASE WHEN r+({dr}) BETWEEN 0 AND 15 "
                f"AND c+({dc}) BETWEEN 0 AND 15 "
                f"THEN p[(r+({dr}))*16 + c+({dc}) + 1] ELSE 0.0 END)")

    sx = " + ".join(
        f"({k}) * {tap(dr, dc)}"
        for dr, row in ((-1, (-1.0, 0.0, 1.0)), (0, (-2.0, 0.0, 2.0)),
                        (1, (-1.0, 0.0, 1.0)))
        for dc, k in zip((-1, 0, 1), row) if k != 0.0)
    cs_rows = {-1: (-1.0, -1.0, -1.0), 0: (-1.0, 8.0, -1.0),
               1: (-1.0, -1.0, -1.0)}
    cs = " + ".join(
        f"({k}) * {tap(dr, dc)}"
        for dr in (-1, 0, 1) for dc, k in zip((-1, 0, 1), cs_rows[dr]))

    return f"""
WITH d AS (SELECT doc_id, 'doc://' || doc_id AS url
           FROM documents WHERE doc_id < 40),
par AS (SELECT doc_id,
    {byte(0)} % 2 = 1 AS is_conn,
    5 + {byte(5)} % 6 AS cx,
    5 + {byte(6)} % 6 AS cy,
    3 + {byte(7)} % 4 AS rad,
    {byte(8)} % 2 = 0 AS horiz,
    3 + {byte(9)} % 3 AS period,
    {byte(10)} AS b10
  FROM (SELECT doc_id, md5(url || ':fig:fig0.png') AS h FROM d)),
px AS (SELECT doc_id, i,
    CASE WHEN (CASE WHEN is_conn
          THEN abs((i // 16 - cy) * (i // 16 - cy)
                   + (i % 16 - cx) * (i % 16 - cx) - rad * rad) <= rad
          ELSE ((CASE WHEN horiz THEN i // 16 ELSE i % 16 END)
                + b10 % period) % period = 0 END)
    THEN 0.9::double ELSE 0.1::double END AS v
  FROM par, unnest(generate_series(0, 255)) AS t(i)),
lst AS (SELECT doc_id, list(v ORDER BY i) AS p FROM px GROUP BY doc_id),
o AS (SELECT doc_id, i, i // 16 AS r, i % 16 AS c, p
      FROM lst, unnest(generate_series(0, 255)) AS t(i))
SELECT doc_id, i, {sx} AS sx, {cs} AS cs
FROM o
"""


@_q("media_conv", _conv_sql())
def media_conv(spark, sf):
    """Fixed-kernel conv feature maps (convolve.py — the ResNet stand-in's
    first layer): Sobel-x and center-surround responses over the planted
    class-dependent thumbnail raster, zero border, every map value
    hash-checked against the DuckDB index-math replay."""
    from tecs_hardware_kbc_spark.operators.convolve import (
        CENTER_SURROUND, SOBEL_X, conv3x3)
    from tecs_hardware_kbc_spark.operators.figures import (
        synthesize_thumbnail)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 40)
    url = F.concat(F.lit("doc://"), F.col("doc_id"))
    px = synthesize_thumbnail(url, F.lit("fig0.png"))
    side = F.lit(16)
    sx = conv3x3(px, side, side, SOBEL_X, border="zero")
    cs = conv3x3(px, side, side, CENTER_SURROUND, border="zero")
    zipped = F.zip_with(sx, cs,
                        lambda a, b: F.struct(a.alias("sx"),
                                              b.alias("cs")))
    return (d.select("doc_id", F.posexplode(zipped).alias("i", "m"))
            .select("doc_id", "i",
                    F.col("m.sx").alias("sx"), F.col("m.cs").alias("cs")))


_POLICY = "ShearX_L0.5@Equalize@Solarize_L0.55@Posterize_L0.75"


def _augment_policy_sql() -> str:
    """DuckDB replay of ``parse_policy(_POLICY)`` over the media_augment
    pixel fixture: ShearX d=+0.15 (nearest = floor(x+0.5), 0-fill) ->
    histogram equalization (cumulative-count window = the per-pixel
    membership form of the CDF) -> solarize t=0.55 -> posterize 3 bits."""
    return """
WITH d AS (SELECT doc_id, 'doc://' || doc_id AS url
           FROM documents WHERE doc_id < 60),
px AS (SELECT doc_id, i,
    (('0x' || substr(md5(url || ':px:' || (i // 16)),
                     (i % 16) * 2 + 1, 2))::int) / 256.0 AS v
  FROM d, unnest(generate_series(0, 23)) AS t(i)),
shear AS (SELECT a.doc_id, a.i,
    CASE WHEN a.sc BETWEEN 0 AND 5 THEN b.v ELSE 0.0 END AS v
  FROM (SELECT doc_id, i, i // 6 AS r,
               floor(i % 6 + 0.15 * (i // 6) + 0.5)::int AS sc FROM px) a
  LEFT JOIN px b ON b.doc_id = a.doc_id AND b.i = a.r * 6 + a.sc
                 AND a.sc BETWEEN 0 AND 5),
eq AS (SELECT doc_id, i, v,
    least(floor(v * 256), 255)::int AS q,
    count(*) OVER (PARTITION BY doc_id ORDER BY least(floor(v * 256), 255)
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cdf,
    min(least(floor(v * 256), 255)::int) OVER (PARTITION BY doc_id)
      AS qmin,
    count(*) OVER (PARTITION BY doc_id) AS n
  FROM shear),
eq2 AS (SELECT doc_id, i,
    CASE WHEN n > cdfmin THEN (cdf - cdfmin)::double / (n - cdfmin)
         ELSE v END AS v
  FROM (SELECT *, sum(CASE WHEN q = qmin THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id) AS cdfmin FROM eq)),
sol AS (SELECT doc_id, i,
    CASE WHEN v < 0.55 THEN v ELSE 1.0 - v END AS v FROM eq2)
SELECT doc_id, i,
  floor(least(floor(v * 256), 255) / 32.0) * 32.0 / 256.0 AS value
FROM sol
"""


@_q("media_augment_policy", _augment_policy_sql())
def media_augment_policy(spark, sf):
    """The policy-grammar compiler (augment.parse_policy — the
    augment_policy.py:19-52 analog) driving four round-4 transforms
    (shear_x, equalize, solarize, posterize) as ONE fused projection,
    hash-checked against the DuckDB replay."""
    from tecs_hardware_kbc_spark.operators.augment import parse_policy
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 60)
    url = F.concat(F.lit("doc://"), F.col("doc_id"))
    pix = F.transform(
        F.sequence(F.lit(0), F.lit(23)),
        lambda i: F.conv(
            F.substring(
                F.md5(F.concat(url, F.lit(":px:"),
                               F.floor(i / 16).cast("int").cast("string"))),
                ((i % 16) * 2 + 1).cast("int"), F.lit(2)),
            16, 10).cast("double") / 256.0)
    out, _, _ = parse_policy(_POLICY, pix, F.lit(6), F.lit(4))
    return d.select("doc_id", F.posexplode(out).alias("i", "value"))


def _mixup_sql() -> str:
    """DuckDB replay of augment.mixup over the media_augment pixel
    fixture: the md5 pool/bucket/order draws, the ring partner (lead with
    wraparound to first_value — both from the SAME window so the partner
    row is consistent), the Kumaraswamy(0.5, 0.5) lam, and the per-pixel
    lerp."""
    def u(tag: str) -> str:
        return ("(('0x' || substr(md5(k || ':" + tag +
                "'), 1, 8))::ubigint / 4294967296.0)")

    return f"""
WITH d AS (SELECT doc_id, doc_id::varchar AS k,
                  'doc://' || doc_id AS url
           FROM documents WHERE doc_id < 60),
px AS (SELECT doc_id, i,
    (('0x' || substr(md5(url || ':px:' || (i // 16)),
                     (i % 16) * 2 + 1, 2))::int) / 256.0 AS v
  FROM d, unnest(generate_series(0, 23)) AS t(i)),
tagged AS (SELECT doc_id,
    ('0x' || substr(md5(url || ':cls'), 1, 2))::int % 3 AS label,
    round(pow(1.0 - pow(1.0 - {u('mix:lam')}, 2.0), 2.0), 6) AS lam,
    CASE WHEN {u('mix:same')} <= 0.5
         THEN 'c:' || (('0x' || substr(md5(url || ':cls'), 1, 2))::int % 3)
         ELSE 'g' END AS pool,
    (('0x' || substr(md5(k || ':mix:bkt'), 1, 4))::ubigint % 4)::int
      AS bkt,
    md5(k || ':mix:ord') AS ord
  FROM d),
pairs AS (SELECT doc_id, label, lam,
    coalesce(lead(doc_id) OVER w, first_value(doc_id) OVER w)
      AS partner_id,
    coalesce(lead(label) OVER w, first_value(label) OVER w)
      AS partner_label
  FROM tagged
  WINDOW w AS (PARTITION BY pool, bkt ORDER BY ord))
SELECT p.doc_id, p.label, p.partner_id, p.partner_label, p.lam, a.i,
       round(p.lam * a.v + (1.0 - p.lam) * b.v, 6) AS value
FROM pairs p
JOIN px a ON a.doc_id = p.doc_id
JOIN px b ON b.doc_id = p.partner_id AND b.i = a.i
"""


@_q("media_mixup", _mixup_sql())
def media_mixup(spark, sf):
    """Cross-row mixup (augment.mixup — the A<alpha>/R<ratio> settings of
    augment_policy.py:49-52, which the reference parses but never
    implements): deterministic ring pairing inside (pool, bucket) windows,
    Kumaraswamy-lam blend, soft label pair — pair selection AND every
    mixed pixel hash-checked against the DuckDB replay."""
    from tecs_hardware_kbc_spark.operators.augment import mixup
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 60)
    url = F.concat(F.lit("doc://"), F.col("doc_id"))
    pix = F.transform(
        F.sequence(F.lit(0), F.lit(23)),
        lambda i: F.conv(
            F.substring(
                F.md5(F.concat(url, F.lit(":px:"),
                               F.floor(i / 16).cast("int").cast("string"))),
                ((i % 16) * 2 + 1).cast("int"), F.lit(2)),
            16, 10).cast("double") / 256.0)
    label = (F.conv(F.substring(F.md5(F.concat(url, F.lit(":cls"))), 1, 2),
                    16, 10).cast("int") % 3)
    imgs = d.select("doc_id", label.alias("label"), pix.alias("pixels"))
    out = mixup(imgs, key_col="doc_id", label_col="label",
                pixels_col="pixels", alpha=0.5, same_class_ratio=0.5,
                buckets=4)
    return (out.select(
        F.col("key").alias("doc_id"), "label",
        F.col("partner_key").alias("partner_id"), "partner_label", "lam",
        F.posexplode("pixels").alias("i", "value"))
        .withColumn("value", F.round("value", 6)))


def _lf_votes_sql() -> str:
    """DuckDB replay of apply_lfs('stg_temp_max'): the 11-LF vote array +
    Laplace marginal over a synthetic candidate frame."""
    h = "md5(doc_id::varchar)"
    byte = "(('0x' || substr({h}, {o}, 2))::int)"
    b = [byte.format(h=h, o=2 * j + 1) for j in range(3)]
    al = "list_concat(a_row, a_col)"
    kw = {
        "storage_row": "CASE WHEN list_has_any(a_row, ['storage']) THEN 1 ELSE -1 END",
        "temperature_row": "CASE WHEN list_has_any(a_row, ['temperature']) THEN 1 ELSE -1 END",
        "operating_row": "CASE WHEN list_has_any(a_row, ['operating']) THEN 0 ELSE -1 END",
        "tstg_row": "CASE WHEN list_has_any(a_row, ['tstg','stg','ts']) THEN 1 ELSE -1 END",
        "not_temp_relevant": f"CASE WHEN NOT list_has_any({al}, ['storage','temperature','tstg','stg','ts']) THEN 0 ELSE -1 END",
        "voltage_row_temp": f"CASE WHEN list_has_any({al}, ['voltage','cbo','ceo','ebo','v']) THEN 0 ELSE -1 END",
        "voltage_row_part": f"CASE WHEN list_has_any({al}, ['voltage','cbo','ceo','ebo','v']) THEN 0 ELSE -1 END",
        "current_aligned": f"CASE WHEN list_has_any({al}, ['current','dc','ic']) THEN 0 ELSE -1 END",
        "collector_aligned": f"CASE WHEN list_has_any({al}, ['collector','collector-current','collector-base','collector-emitter']) THEN 0 ELSE -1 END",
        "temp_on_high_page": "CASE WHEN a_page > 2 THEN 0 ELSE -1 END",
        "to_left": "CASE WHEN list_contains(words[greatest(a_wi - 2, 0) + 1 : a_wi], 'to') THEN 1 ELSE -1 END",
        "negative_number_left": r"CASE WHEN len(list_filter(words[greatest(a_wi - 4, 0) + 1 : a_wi], x -> regexp_matches(x, '^-\s*\d+'))) > 0 THEN 1 ELSE -1 END",
    }
    names = sorted(kw)
    votes = ", ".join(f"{kw[n]} AS v_{n}" for n in names)
    arr = "[" + ", ".join(f"v_{n}" for n in names) + "]"
    return f"""
WITH d AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents
           WHERE doc_id < 100),
frame AS (SELECT doc_id, words,
    {b[0]} % greatest(len(words), 1) AS a_wi,
    1 + {b[1]} % 4 AS a_page,
    words[greatest({b[0]} % greatest(len(words), 1) - 2, 0) + 1 :
          greatest({b[0]} % greatest(len(words), 1) - 2, 0) + 5] AS a_row,
    words[1 + {b[2]} % greatest(len(words) - 2, 1) :
          3 + {b[2]} % greatest(len(words) - 2, 1)] AS a_col
  FROM d),
voted AS (SELECT doc_id, a_wi, a_page, words, {votes} FROM frame)
SELECT doc_id, a_wi, a_page,
  array_to_string({arr}, ',') AS lf_votes,
  round((1.0 + len(list_filter({arr}, x -> x = 1)))
        / (2.0 + len(list_filter({arr}, x -> x != -1))), 6) AS prob
FROM voted
"""


@_q("kbc_lf_votes", _lf_votes_sql())
def kbc_lf_votes(spark, sf):
    """A2 LF vote array + Laplace marginal (apply_lfs) on a synthetic
    candidate-with-context frame — votes and prob hash-checked vs DuckDB."""
    from tecs_hardware_kbc_spark.operators.dedup import norm_text
    from tecs_hardware_kbc_spark.operators.labeling import apply_lfs
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    words = F.split(norm_text(F.col("text")), " ")
    h = F.md5(F.col("doc_id").cast("string"))

    def byte(j: int):
        return F.conv(F.substring(h, 2 * j + 1, 2), 16, 10).cast("int")

    wi = byte(0) % F.greatest(F.size(words), F.lit(1))
    row_start = F.greatest(wi - 2, F.lit(0)) + 1
    col_start = F.lit(1) + byte(2) % F.greatest(F.size(words) - 2, F.lit(1))
    frame = d.select(
        "doc_id",
        words.alias("_a_words"),
        wi.alias("a_wi"),
        F.lit(1).alias("a_n"),
        (F.lit(1) + byte(1) % 4).alias("a_page"),
        F.slice(words, row_start, 5).alias("_a_row"),
        F.slice(words, col_start, 3).alias("_a_col"),
    )
    out = apply_lfs(frame, "stg_temp_max")
    return out.select(
        "doc_id", "a_wi", "a_page",
        F.array_join(F.transform("lf_votes", lambda v: v.cast("string")), ",")
        .alias("lf_votes"),
        F.round("prob", 6).alias("prob"),
    )


def _sim_ivf_sql(k: int = 5, n_probe: int = 3) -> str:
    """DuckDB replay of the frozen-quantizer IVF path: cell assignment
    (argmax of dot(v,c) - |c|²/2 over the committed centroids), n_probe
    nearest cells per query, exact cosine rerank inside probed cells."""
    from tecs_hardware_kbc_spark.operators.ivf_centroids import IVF_CENTROIDS
    n = len(IVF_CENTROIDS)
    scores = ", ".join(
        f"(list_inner_product(v, {_vec_lit(c)}) - "
        f"{repr(0.5 * sum(float(x) * float(x) for x in c))})"
        for c in IVF_CENTROIDS)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (SELECT vec_id, v, [{scores}] AS scores FROM e),
c AS (SELECT vec_id, v,
             list_position(scores, list_max(scores)) - 1 AS cell FROM s),
q AS (SELECT vec_id AS query_id, v AS qv, i - 1 AS cell
      FROM (SELECT vec_id, v, scores, i,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY scores[i] DESC, i) AS pr
            FROM s, unnest(generate_series(1, {n})) AS t(i)
            WHERE vec_id < 5)
      WHERE pr <= {n_probe}),
scored AS (
  SELECT q.query_id, c.vec_id, list_cosine_similarity(qv, c.v) AS cos
  FROM q JOIN c USING (cell) WHERE q.query_id != c.vec_id)
SELECT query_id, vec_id, round(cos, 4) AS cosine, rnk FROM (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS rnk
  FROM scored)
WHERE rnk <= {k}
"""


@_q("sim_ivf_topk", _sim_ivf_sql())
def sim_ivf_topk(spark, sf):
    """IVF ANN scale path (k-means cells + n_probe pruning + exact rerank),
    hash-checked vs DuckDB via the FROZEN quantizer (ivf_centroids.py —
    k-means run once, converged centroids committed as literals, like the
    LSH hyperplanes); recall >= 0.9 vs exact is pinned by pytest."""
    from tecs_hardware_kbc_spark.operators.ivf_centroids import IVF_CENTROIDS
    from tecs_hardware_kbc_spark.operators.similarity import ivf_topk
    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    out = ivf_topk(emb, queries, k=5, centroids=IVF_CENTROIDS)
    return out.select("query_id", "vec_id",
                      F.round("cosine", 4).alias("cosine"),
                      F.col("rank").alias("rnk"))


def _kmeans_sql(k: int = 6, iters: int = 2, dim: int = 64,
                scale: int = 1_000_000, shift: float = 4.0) -> str:
    """DuckDB replay of clustering.kmeans_fixed_point's ENTIRE training
    run — init from the k smallest vec_ids, every assign/update
    iteration, final assignment — as one chained query. All integer
    arithmetic on the fixed-point grid, so the replay is bit-exact:
    assignment = row_number over (dist, cell), update = per-dim sum //
    count (non-negative, so // agrees between Python and DuckDB)."""
    gs = f"generate_series(1, {dim})"
    parts = [f"""
e AS (SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor((x::DOUBLE
                                             + CAST({shift!r} AS DOUBLE))
                                            * {scale}) AS BIGINT)) AS xf
      FROM embeddings),
c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, xf AS c
       FROM (SELECT vec_id, xf FROM e ORDER BY vec_id LIMIT {k}))"""]
    for t in range(iters):
        parts.append(f"""
d{t} AS (SELECT e.vec_id, c{t}.cell,
              list_sum(list_transform({gs},
                       i -> (e.xf[i] - c{t}.c[i]) * (e.xf[i] - c{t}.c[i])))
                AS d
       FROM e CROSS JOIN c{t}),
a{t} AS (SELECT vec_id, cell FROM
        (SELECT vec_id, cell,
                row_number() OVER (PARTITION BY vec_id ORDER BY d, cell)
                  AS rn
         FROM d{t}) WHERE rn = 1),
u{t} AS (SELECT a{t}.cell, i, sum(e.xf[i]) AS s, count(*) AS n
       FROM a{t} JOIN e USING (vec_id), unnest({gs}) AS t{t}(i)
       GROUP BY a{t}.cell, i),
c{t + 1} AS (SELECT cell, list(s // n ORDER BY i) AS c
             FROM u{t} GROUP BY cell)""")
    parts.append(f"""
df AS (SELECT e.vec_id, c{iters}.cell,
              list_sum(list_transform({gs},
                       i -> (e.xf[i] - c{iters}.c[i])
                            * (e.xf[i] - c{iters}.c[i]))) AS d
       FROM e CROSS JOIN c{iters})""")
    return ("WITH " + ",".join(parts) + f"""
SELECT vec_id, cell, d AS dist FROM
 (SELECT vec_id, cell, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
  FROM df) WHERE rn = 1
""")


@_q("emb_kmeans", _kmeans_sql())
def emb_kmeans(spark, sf):
    """Distributed Lloyd's k-means, training run oracle-checked end to
    end (clustering.kmeans_fixed_point): exact integer arithmetic on a
    fixed-point grid makes init, both assign/update iterations and the
    final assignment replayable bit-for-bit in DuckDB — not just a
    frozen artifact like the IVF quantizer, the TRAINER itself."""
    from tecs_hardware_kbc_spark.operators.clustering import (
        kmeans_fixed_point)
    emb = _t(spark, sf, "embeddings")
    _, final = kmeans_fixed_point(emb, k=6, iters=2)
    return final


def _semantic_dedup_sql(threshold: float = 0.4) -> str:
    """DuckDB replay of dedup.semantic_dedup (SemDeDup): frozen-quantizer
    cell assignment, within-cell cosine pairs, recursive-CTE transitive
    closure, component-min keeper."""
    from tecs_hardware_kbc_spark.operators.ivf_centroids import IVF_CENTROIDS
    scores = ", ".join(
        f"(list_inner_product(v, {_vec_lit(c)}) - "
        f"{repr(0.5 * sum(float(x) * float(x) for x in c))})"
        for c in IVF_CENTROIDS)
    return f"""
WITH RECURSIVE
s AS (SELECT vec_id, embedding::DOUBLE[] AS v, [{scores}] AS scores
      FROM embeddings),
c AS (SELECT vec_id, v,
             list_position(scores, list_max(scores)) - 1 AS cell FROM s),
p AS (SELECT a.vec_id AS a, b.vec_id AS b
      FROM c a JOIN c b USING (cell)
      WHERE a.vec_id < b.vec_id
        AND list_cosine_similarity(a.v, b.v) >= {threshold}),
edges AS (SELECT a AS u, b AS v FROM p
          UNION SELECT b AS u, a AS v FROM p),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
canon AS (SELECT u AS vec_id, least(u, min(v)) AS canonical_id
          FROM reach GROUP BY u)
SELECT c.vec_id, c.cell,
       coalesce(canon.canonical_id, c.vec_id) AS canonical_id
FROM c LEFT JOIN canon ON c.vec_id = canon.vec_id
"""


@_q("emb_semantic_dedup", _semantic_dedup_sql())
def emb_semantic_dedup(spark, sf):
    """Semantic dedup (dedup.semantic_dedup — SemDeDup, Abbas et al.
    2023): frozen IVF cells (ivf_centroids.py) + within-cell cosine
    pairs at 0.4 (the synthetic embeddings are near-orthogonal, so 0.4
    stands in for the ~0.9 a real deployment uses) + CC + component-min
    keeper; the full (vec_id, cell, canonical_id) mapping hash-checked
    against the DuckDB recursive-closure replay."""
    from tecs_hardware_kbc_spark.operators.dedup import semantic_dedup
    from tecs_hardware_kbc_spark.operators.ivf_centroids import IVF_CENTROIDS
    emb = _t(spark, sf, "embeddings")
    return semantic_dedup(emb, IVF_CENTROIDS, threshold=0.4)


def _dedup_components_sql() -> str:
    """Connected components replayed as a recursive transitive closure —
    viable at oracle scale (components here are twin pairs); the Spark
    side's min-label propagation is the scale path."""
    return f"""
WITH RECURSIVE pairs AS ({_simhash_hamming_sql()}),
edges AS (SELECT a AS u, b AS v FROM pairs
          UNION SELECT b AS u, a AS v FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
SELECT u AS doc_id, least(u, min(v)) AS canonical_id
FROM reach GROUP BY u
"""


@_q("dedup_components", _dedup_components_sql())
def dedup_components(spark, sf):
    """Near-dup pairs -> canonical groups via connected components
    (iterative min-label propagation on the Spark side; the oracle
    replays it as a recursive transitive closure)."""
    from tecs_hardware_kbc_spark.operators.dedup import (
        near_duplicate_components, simhash_near_duplicates)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 150)
    twins = d.select((F.col("doc_id") + 10000).alias("doc_id"),
                     F.concat("text", F.lit(" zq")).alias("text"))
    pairs = simhash_near_duplicates(
        d.select("doc_id", "text").unionByName(twins), max_hamming=3)
    return near_duplicate_components(pairs)


@_q("kbc_extract_invariant")
def kbc_extract_invariant(spark, sf):
    """One row per url with ok=true iff re-extracted text == stored text
    (must be all-true; violations would also fail pytest). r5: the url+ok
    content is digest-pinned like the other rows-only entries, so a
    corpus or extractor drift fails the entry loudly."""
    return _check_golden("kbc_extract_invariant",
                         *_golden_extract_invariant(spark))


@_q("sim_lsh_topk", _sim_lsh_topk_sql())
def sim_lsh_topk(spark, sf):
    from tecs_hardware_kbc_spark.operators.similarity import lsh_topk
    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    out = lsh_topk(emb, queries, k=5)
    return out.select("query_id", "vec_id",
                      F.round("cosine", 4).alias("cosine"),
                      F.col("rank").alias("rnk"))


def _minhash_pairs_sql(num_hashes: int = 16, bands: int = 4,
                       threshold: float = 0.5,
                       src: str = "documents") -> str:
    rows = num_hashes // bands
    hashes = ", ".join(
        f"min(('0x' || substr(md5('{i}:' || shingle), 1, 8))::ubigint::bigint)"
        f" AS m{i}" for i in range(num_hashes))
    banded = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(f"m{b * rows + r}" for r in range(rows))
        + ")) AS bucket FROM sig" for b in range(bands))
    eq = " + ".join(f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)"
                    for i in range(num_hashes))
    return f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM {src}),
sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
       FROM w, unnest(generate_series(1, greatest(len(words) - 2, 1))) AS t(i)),
sig AS (SELECT doc_id, {hashes} FROM sh GROUP BY doc_id),
banded AS ({banded}),
pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM banded x JOIN banded y USING (band, bucket)
          WHERE x.doc_id < y.doc_id)
SELECT a, b, round(({eq}) / {num_hashes}.0, 4) AS est_jaccard
FROM pairs JOIN sig sa ON pairs.a = sa.doc_id
JOIN sig sb ON pairs.b = sb.doc_id
WHERE ({eq}) / {num_hashes}.0 >= {threshold}
"""


@_q("dedup_minhash_pairs", _minhash_pairs_sql())
def dedup_minhash_pairs(spark, sf):
    from tecs_hardware_kbc_spark.operators.dedup import minhash_near_duplicates
    out = minhash_near_duplicates(_t(spark, sf, "documents"), threshold=0.5)
    return out.withColumn("est_jaccard", F.round("est_jaccard", 4))


def _dedup_e2e_sql() -> str:
    """The full dedup recipe replayed: minhash+LSH pairs -> recursive-CTE
    transitive closure -> keep the min doc_id per component."""
    return f"""
WITH RECURSIVE pairs AS ({_minhash_pairs_sql()}),
edges AS (SELECT a AS u, b AS v FROM pairs
          UNION SELECT b AS u, a AS v FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
canon AS (SELECT u AS doc_id, least(u, min(v)) AS canonical_id
          FROM reach GROUP BY u)
SELECT d.doc_id FROM documents d
LEFT JOIN canon c ON d.doc_id = c.doc_id
WHERE c.doc_id IS NULL OR c.canonical_id = d.doc_id
"""


@_q("dedup_e2e", _dedup_e2e_sql())
def dedup_e2e(spark, sf):
    """The actual 100 TB dedup recipe as ONE checked query: minhash
    signatures -> banded LSH candidate pairs -> connected components ->
    keep-one-per-group anti-join over the documents table. Every stage is
    bucketed/iterative (no all-pairs anywhere); the survivor set is the
    min doc_id of each near-dup component plus every unpaired doc."""
    from tecs_hardware_kbc_spark.operators.dedup import (
        minhash_near_duplicates, near_duplicate_components)
    d = _t(spark, sf, "documents")
    pairs = minhash_near_duplicates(d, threshold=0.5)
    comp = near_duplicate_components(pairs)
    losers = comp.filter(F.col("doc_id") != F.col("canonical_id")) \
        .select("doc_id")
    return d.join(losers, "doc_id", "left_anti").select("doc_id")


def _bpe_ctes(n_merges: int) -> str:
    """Shared CTE chain replaying train_bpe: word frequencies -> wrapped
    double-space symbol reps -> n_merges unrolled rounds of (pair counts
    over the VOCAB, argmax with the (cnt DESC, l, r) tiebreak, plain
    boundary-owning substring replace)."""
    parts = [f"""w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
wf AS (SELECT word, count(*) AS freq
       FROM (SELECT unnest(words) AS word FROM w)
       WHERE word <> '' GROUP BY word),
rep0 AS (SELECT word, freq,
  ' ' || array_to_string(regexp_split_to_array(word, ''), '  ') || ' '
  AS rep FROM wf)"""]
    for i in range(n_merges):
        parts.append(f"""p{i} AS (
  SELECT t.l AS l, t.r AS r, sum(freq) AS cnt FROM (
    SELECT freq, unnest([struct_pack(l := toks[j], r := toks[j+1])
                         for j in generate_series(1, len(toks)-1)]) AS t
    FROM (SELECT string_split(trim(rep), '  ') AS toks, freq
          FROM rep{i})
  ) GROUP BY t.l, t.r),
b{i} AS (SELECT l, r FROM p{i} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
rep{i + 1} AS (SELECT word, freq,
  replace(rep,
          ' ' || (SELECT l FROM b{i}) || '  ' || (SELECT r FROM b{i}) || ' ',
          ' ' || (SELECT l FROM b{i}) || (SELECT r FROM b{i}) || ' ')
  AS rep FROM rep{i})""")
    return ",\n".join(parts)


_BPE_MERGES = 6


def _bpe_merges_sql(n_merges: int = _BPE_MERGES) -> str:
    ranks = "\nUNION ALL ".join(
        f"SELECT {i + 1} AS merge_rank, l, r FROM b{i}"
        for i in range(n_merges))
    return f"WITH {_bpe_ctes(n_merges)}\n{ranks}"


def _bpe_tokens_sql(n_merges: int = _BPE_MERGES) -> str:
    return f"""
WITH {_bpe_ctes(n_merges)},
seg AS (SELECT word, string_split(trim(rep), '  ') AS tokens
        FROM rep{n_merges}),
dw AS (SELECT doc_id, i AS pos, words[i] AS word
       FROM w, unnest(generate_series(1, len(words))) AS t(i)
       WHERE words[i] <> ''),
dt AS (SELECT doc_id, pos,
              coalesce(s.tokens, regexp_split_to_array(word, ''))
              AS tokens
       FROM dw LEFT JOIN seg s USING (word)),
flat AS (SELECT doc_id, pos, j, tokens[j] AS tok
         FROM dt, unnest(generate_series(1, len(tokens))) AS u(j))
SELECT doc_id, count(*) AS n_tokens,
       md5(string_agg(tok, ' ' ORDER BY pos, j)) AS tokens_md5
FROM flat GROUP BY doc_id
"""


@_q("doc_bpe_merges", _bpe_merges_sql())
def doc_bpe_merges(spark, sf):
    """BPE tokenizer training (Sennrich et al. 2016) over the documents
    table: the ordered merge list. Training statistics live on the
    word-frequency table (one corpus groupBy, then n_merges aggregations
    over the ~vocab-sized rep table — the corpus is never rescanned), so
    at 10^12 docs the trainer costs one shuffle plus control-plane."""
    from tecs_hardware_kbc_spark.operators.bpe import train_bpe
    model = train_bpe(_t(spark, sf, "documents"), n_merges=_BPE_MERGES)
    return spark.createDataFrame(
        [(i + 1, l, r) for i, (l, r) in enumerate(model.merges)],
        "merge_rank int, l string, r string")


@_q("doc_bpe_tokens", _bpe_tokens_sql())
def doc_bpe_tokens(spark, sf):
    """The trained tokenizer applied back to the corpus: ONE broadcast
    join of the segmented vocabulary against exploded words, per-doc
    reassembly in word order; value-pinned via an md5 over the full
    token tape."""
    from tecs_hardware_kbc_spark.operators.bpe import apply_bpe, train_bpe
    d = _t(spark, sf, "documents")
    out = apply_bpe(d, train_bpe(d, n_merges=_BPE_MERGES))
    return out.select(
        "doc_id", F.size("tokens").cast("long").alias("n_tokens"),
        F.md5(F.array_join("tokens", " ")).alias("tokens_md5"))


def _incremental_dedup_sql(num_hashes: int = 16, bands: int = 4,
                           threshold: float = 0.5) -> str:
    """Replay of the continuous-crawl shape: even doc_ids are
    'yesterday's corpus' (the persisted LSH index), odd doc_ids are the
    new batch; every new doc reports its ONE deterministic dup partner
    (index matches beat batch matches, then smallest id)."""
    rows = num_hashes // bands
    hashes = ", ".join(
        f"min(('0x' || substr(md5('{i}:' || shingle), 1, 8))::ubigint::bigint)"
        f" AS m{i}" for i in range(num_hashes))
    banded = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(f"m{b * rows + r}" for r in range(rows))
        + ")) AS bucket FROM sig" for b in range(bands))
    eq = " + ".join(f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)"
                    for i in range(num_hashes))
    return f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
       FROM w, unnest(generate_series(1, greatest(len(words) - 2, 1))) AS t(i)),
sig AS (SELECT doc_id, {hashes} FROM sh GROUP BY doc_id),
banded AS ({banded}),
nb AS (SELECT * FROM banded WHERE doc_id % 2 = 1),
idx AS (SELECT * FROM banded WHERE doc_id % 2 = 0),
cand AS (
  SELECT DISTINCT n.doc_id AS d, i.doc_id AS p, 0 AS pri
  FROM nb n JOIN idx i USING (band, bucket) WHERE n.doc_id <> i.doc_id
  UNION ALL
  SELECT DISTINCT y.doc_id AS d, x.doc_id AS p, 1 AS pri
  FROM nb x JOIN nb y USING (band, bucket) WHERE x.doc_id < y.doc_id),
scored AS (
  SELECT d, p, pri, ({eq}) / {num_hashes}.0 AS est
  FROM cand JOIN sig sa ON cand.d = sa.doc_id
            JOIN sig sb ON cand.p = sb.doc_id
  WHERE ({eq}) / {num_hashes}.0 >= {threshold}),
best AS (SELECT d, p, pri, est,
                row_number() OVER (PARTITION BY d ORDER BY pri, p) AS rn
         FROM scored)
SELECT d AS doc_id, p AS dup_of, round(est, 4) AS est_jaccard,
       CASE WHEN pri = 0 THEN 'index' ELSE 'batch' END AS source
FROM best WHERE rn = 1
"""


@_q("dedup_incremental", _incremental_dedup_sql())
def dedup_incremental(spark, sf):
    """Incremental near-dedup against a persisted corpus index — the
    production shape for continuous crawls: the history side is a
    pre-banded (band, bucket)-keyed table that never re-shingles or
    reshuffles; only the increment moves."""
    from tecs_hardware_kbc_spark.operators.dedup import (
        incremental_near_duplicates, minhash_index)
    d = _t(spark, sf, "documents")
    index = minhash_index(d.filter(F.col("doc_id") % 2 == 0))
    out = incremental_near_duplicates(
        d.filter(F.col("doc_id") % 2 == 1), index, threshold=0.5)
    return out.withColumn("est_jaccard", F.round("est_jaccard", 4))


def _curate_sql() -> str:
    """DuckDB replay of the ENTIRE curation funnel (curate.curate):
    exact dedup -> minhash LSH + transitive-closure CC keeper -> language
    keep-list -> quality gate -> PII redaction -> benchmark
    decontamination -> split labels. Composed from the same SQL pieces
    the per-operator oracles already prove; the one simplification is
    that decontamination shingles the ORIGINAL text where Spark shingles
    the redacted text — identical here because the raw documents carry
    no PII (the redaction chain is a no-op on them, and doc_redact
    checks the non-trivial case with planted PII)."""
    from tecs_hardware_kbc_spark.operators.textstats import STOPWORDS
    s = {lang: _stopword_ratio_sql(ws) for lang, ws in STOPWORDS.items()}
    quality = f"""round((least(length(text) / 500.0, 1.0)
      + length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::double
        / greatest(length(text), 1)
      + least(({s['en']}) * 5, 1.0)
      + CASE WHEN length(text)::double / greatest(len({_WORDS_SQL}), 1)
             BETWEEN 3 AND 12 THEN 1.0::double ELSE 0.0::double END)
      / 4.0, 6)"""
    u_split = ("(('0x' || substr(md5(doc_id::varchar || ':split'), 1, 8))"
               "::ubigint / 4294967296.0)")
    return f"""
WITH RECURSIVE
fp AS (SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents),
ek AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fingerprint),
d1 AS (SELECT d.* FROM documents d JOIN ek ON d.doc_id = ek.doc_id),
pairs AS ({_minhash_pairs_sql(src="d1")}),
edges AS (SELECT a AS u, b AS v FROM pairs
          UNION SELECT b AS u, a AS v FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
canon AS (SELECT u AS doc_id, least(u, min(v)) AS canonical_id
          FROM reach GROUP BY u),
d2 AS (SELECT d1.* FROM d1 LEFT JOIN canon c ON d1.doc_id = c.doc_id
       WHERE c.doc_id IS NULL OR c.canonical_id = d1.doc_id),
lang AS (SELECT doc_id,
    CASE WHEN greatest(s_de, s_en, s_fr) = 0 THEN 'und'
         WHEN s_fr >= s_en AND s_fr >= s_de THEN 'fr'
         WHEN s_en >= s_de THEN 'en' ELSE 'de' END AS lang_pred
  FROM (SELECT doc_id, {s['de']} AS s_de, {s['en']} AS s_en,
               {s['fr']} AS s_fr FROM d2)),
d3 AS (SELECT d2.* FROM d2 JOIN lang ON d2.doc_id = lang.doc_id
       WHERE lang.lang_pred = 'en'),
d4 AS (SELECT * FROM d3 WHERE {quality} >= 0.7),
bench AS (SELECT ({_WORDS_SQL})[1:12] AS words
          FROM documents WHERE doc_id % 50 = 0),
bs AS (SELECT DISTINCT array_to_string(words[i:i+7], ' ') AS shingle
       FROM bench,
            unnest(generate_series(1, greatest(len(words) - 7, 1)))
              AS t(i)),
contaminated AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, array_to_string(words[i:i+7], ' ') AS shingle
        FROM (SELECT doc_id, {_WORDS_SQL} AS words FROM d4) dw,
             unnest(generate_series(1, greatest(len(words) - 7, 1)))
               AS t(i)) x
  JOIN bs USING (shingle)),
d5 AS (SELECT d4.* FROM d4 LEFT JOIN contaminated c
       ON d4.doc_id = c.doc_id WHERE c.doc_id IS NULL)
SELECT doc_id,
  CASE WHEN {u_split} < 0.5 THEN 'train'
       WHEN {u_split} < 0.75 THEN 'val' ELSE 'test' END AS split,
  md5({_pii_redact_sql('text')}) AS redacted_md5
FROM d5
"""


@_q("doc_curate", _curate_sql())
def doc_curate(spark, sf):
    """The end-to-end curation funnel (curate.curate — the `curate` CLI
    subcommand's engine) over the documents table: exact + minhash-CC
    dedup, 'en' keep-list, quality >= 0.7, PII redaction, benchmark
    decontamination (the doc%%50 12-word prompts), 2/1/1 split — the
    survivor set, every split label and the redacted-text md5
    hash-checked against the composed DuckDB replay."""
    from tecs_hardware_kbc_spark.curate import curate
    from tecs_hardware_kbc_spark.operators.dedup import norm_text
    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        "doc_id",
        F.array_join(
            F.slice(F.split(norm_text(F.col("text")), " "), 1, 12),
            " ").alias("text"))
    curated, _ = curate(spark, d, benchmark=bench, min_quality=0.7,
                        langs=["en"],
                        splits={"train": 2, "val": 1, "test": 1})
    return curated.select("doc_id", "split",
                          F.md5("text").alias("redacted_md5"))


def _media_sql() -> str:
    """The fake decode is md5-derived, so DuckDB reproduces it exactly:
    byte i of the digest = ('0x' || substr(md5(text), 2i+1, 2))::int."""
    byte = "(('0x' || substr(md5(text), {o}, 2))::int)"
    b = [byte.format(o=2 * i + 1) for i in range(8)]
    feats = ", ".join(f"round({x} / 255.0, 6)" for x in b)
    return f"""
SELECT 'm' || doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'video' ELSE 'image' END AS kind,
       64 + {b[0]} % 192 AS width,
       64 + {b[1]} % 192 AS height,
       CASE WHEN doc_id % 3 = 0 THEN 1 + {b[2]} % 32 ELSE 1 END AS n_frames,
       to_json([{feats}]) AS features
FROM documents WHERE doc_id < 200
"""


@_q("media_features", _media_sql())
def media_features(spark, sf):
    """Multimodal plumbing: binary media column (deterministically derived
    from the documents table) -> Arrow-batched feature extraction. The stub
    decode is md5-derived, so the whole path is oracle-checkable."""
    from tecs_hardware_kbc_spark.operators.multimodal import (
        extract_media_features, size_filter)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    media = d.select(
        F.concat(F.lit("m"), F.col("doc_id")).alias("media_id"),
        F.lit(None).cast("string").alias("url"),
        F.when(F.col("doc_id") % 3 == 0, "video").otherwise("image").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
    )
    out = size_filter(extract_media_features(media))
    # features are float32 from Arrow; 6-dp decimals are within float32
    # precision, so round(double, 6) recovers the exact decimal for hashing
    return out.withColumn(
        "features",
        F.to_json(F.transform(F.col("features").cast("array<double>"),
                              lambda x: F.round(x, 6))))


@_q("kg_construct", f"""
WITH g AS ({_KG_GRAPH_SQL}),
t AS (SELECT DISTINCT subj, pred, obj FROM g),
sol AS (SELECT a.subj AS p, a.obj AS m, b.obj AS c
        FROM t a JOIN t b ON b.subj = a.obj AND b.pred = 'located_in'
        WHERE a.pred = 'made_by')
SELECT p AS subj, 'origin' AS pred, c AS obj FROM sol
UNION
SELECT m, 'type', 'maker' FROM sol
""")
def kg_construct(spark, sf):
    """SPARQL CONSTRUCT (kg_query.construct): derive a new graph from
    BGP solutions — origin(?p, ?c) and type(?m, maker) from the
    made_by/located_in join — one projection per template over the
    solution set, unioned, dedup'd (a CONSTRUCT result is a graph).
    The standard ontology-mapping / rule-materialization primitive;
    replayed as JOIN + UNION in SQL."""
    from tecs_hardware_kbc_spark.operators.kg_query import construct
    kb = _kg_graph(spark, sf).distinct()
    return construct(
        kb,
        [("?p", "made_by", "?m"), ("?m", "located_in", "?c")],
        [("?p", "origin", "?c"), ("?m", "type", "maker")])


@_q("kg_sameas", """
WITH RECURSIVE t AS (
  SELECT DISTINCT * FROM (
    SELECT CASE WHEN doc_id % 2 = 0 THEN 'X' ELSE 'E' END
             || (doc_id % 40)::varchar AS subj,
           'made_by' AS pred, 'M' || ((doc_id % 40) % 7)::varchar AS obj
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT 'X' || (doc_id % 40)::varchar, 'same_as',
           CASE WHEN (doc_id % 40) % 4 = 0 THEN 'Y' ELSE 'E' END
             || (doc_id % 40)::varchar
    FROM documents WHERE doc_id % 3 = 1
    UNION ALL
    SELECT 'Y' || (doc_id % 40)::varchar, 'same_as',
           'E' || (doc_id % 40)::varchar
    FROM documents WHERE doc_id % 3 = 2 AND (doc_id % 40) % 4 = 0)),
e0 AS (SELECT subj AS u, obj AS v FROM t WHERE pred = 'same_as'),
edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
canon AS (SELECT u AS node, least(u, min(v)) AS c FROM reach GROUP BY u)
SELECT DISTINCT coalesce(cs.c, t.subj) AS subj, t.pred,
                coalesce(co.c, t.obj) AS obj
FROM t LEFT JOIN canon cs ON cs.node = t.subj
       LEFT JOIN canon co ON co.node = t.obj
WHERE t.pred <> 'same_as'
""")
def kg_sameas(spark, sf):
    """owl:sameAs smushing (canonicalize.rewrite_sameas): the KB's own
    identity assertions — including planted X→Y→E chains — close into
    components via star contraction, the lexicographic-min IRI wins,
    and every remaining triple is rewritten through the BROADCAST map
    (the KB never shuffles for the rename); facts asserted under an
    alias land on the canonical entity and duplicates collapse.
    Replayed via a recursive-CTE closure + min-label canon in SQL."""
    from tecs_hardware_kbc_spark.operators.canonicalize import (
        rewrite_sameas)
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    e = did % 40
    facts = d.filter(did % 3 == 0).select(
        F.concat(F.when(did % 2 == 0, F.lit("X")).otherwise(F.lit("E")),
                 e.cast("string")).alias("subj"),
        F.lit("made_by").alias("pred"),
        F.concat(F.lit("M"), (e % 7).cast("string")).alias("obj"))
    alias1 = d.filter(did % 3 == 1).select(
        F.concat(F.lit("X"), e.cast("string")).alias("subj"),
        F.lit("same_as").alias("pred"),
        F.concat(F.when(e % 4 == 0, F.lit("Y")).otherwise(F.lit("E")),
                 e.cast("string")).alias("obj"))
    alias2 = d.filter((did % 3 == 2) & (e % 4 == 0)).select(
        F.concat(F.lit("Y"), e.cast("string")).alias("subj"),
        F.lit("same_as").alias("pred"),
        F.concat(F.lit("E"), e.cast("string")).alias("obj"))
    kb = facts.unionByName(alias1).unionByName(alias2).distinct()
    return rewrite_sameas(kb)


@_q("kbc_calibration", """
WITH sc AS (
  SELECT round(0.05 + 0.9 * (('0x' || substr(md5(doc_id::varchar
             || ':calp'), 1, 8))::bigint / 4294967296.0), 6) AS prob,
         (('0x' || substr(md5(doc_id::varchar || ':call'), 1, 8))::bigint
             / 4294967296.0) AS u2
  FROM documents),
lab AS (SELECT prob,
          CASE WHEN u2 < 0.8 * prob + 0.05 THEN 1 ELSE 0 END AS correct
        FROM sc),
agg AS (SELECT least(CAST(floor(prob * 10) AS INT), 9) AS bin,
          count(*)::bigint AS n,
          round(avg(prob), 6) AS mean_prob,
          round(avg(correct), 6) AS acc
        FROM lab GROUP BY 1)
SELECT bin, n, mean_prob, acc,
       round(abs(mean_prob - acc), 6) AS gap
FROM agg
""")
def kbc_calibration(spark, sf):
    """Confidence calibration audit (scoring.calibration_bins):
    reliability diagram of the extraction confidences against a
    deterministically planted correctness signal with systematic
    overconfidence (true accuracy = 0.8·prob + 0.05) — per-decile
    count, mean claimed confidence, empirical accuracy and |gap|; the
    count-weighted gap mean is ECE and the acc column is the
    histogram-binning recalibration map (scoring.calibrate_histogram).
    One map-combinable groupBy, O(bins) output at any corpus size."""
    from tecs_hardware_kbc_spark.operators.sampling import hash_u
    from tecs_hardware_kbc_spark.operators.scoring import calibration_bins
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    scored = d.select(
        F.round(0.05 + 0.9 * hash_u(did, "calp"), 6).alias("prob"),
        F.col("doc_id")).withColumn(
        "correct",
        F.when(hash_u(did, "call") < 0.8 * F.col("prob") + 0.05, 1)
        .otherwise(0))
    return calibration_bins(scored)


@_q("kg_agg", f"""
WITH g AS ({_KG_GRAPH_SQL}),
t AS (SELECT DISTINCT subj, pred, obj FROM g),
sol AS (SELECT a.subj AS p, a.obj AS m, b.obj AS c
        FROM t a JOIN t b ON b.subj = a.subj
        WHERE a.pred = 'made_by' AND b.pred = 'product_country')
SELECT m, count(*)::bigint AS n_claims,
       count(DISTINCT p)::bigint AS n_parts,
       min(p) AS sample_part,
       string_agg(DISTINCT c, ';' ORDER BY c) AS countries
FROM sol GROUP BY m
HAVING count(*) >= 2
ORDER BY n_claims DESC, m
LIMIT 5
""")
def kg_agg(spark, sf):
    """SPARQL 1.1 aggregates over a BGP (kg_query.group_bgp): per
    maker, count the product-country claims of its parts, the distinct
    parts, a deterministic SAMPLE (lexicographic min) and a sorted
    GROUP_CONCAT(DISTINCT) of the claimed countries, with HAVING +
    ORDER BY + LIMIT — the solution modifiers compile to one
    map-combinable groupBy and a TakeOrdered (never a global sort).
    The ordering is made total (count desc, maker asc) so LIMIT is
    deterministic; replayed as GROUP BY / HAVING / ORDER / LIMIT."""
    from tecs_hardware_kbc_spark.operators.kg_query import group_bgp
    kb = _kg_graph(spark, sf).distinct()
    return group_bgp(
        kb,
        [("?p", "made_by", "?m"), ("?p", "product_country", "?c")],
        group_vars=["?m"],
        aggs=[("count", "*", "n_claims"),
              ("count_distinct", "?p", "n_parts"),
              ("sample", "?p", "sample_part"),
              ("group_concat_distinct", "?c", "countries")],
        having="n_claims >= 2",
        order_by=["n_claims DESC", "m ASC"],
        limit=5)


@_q("kg_asof", f"""
WITH obs AS ({_KG_OBS_SQL}),
c AS (SELECT subj, pred, obj, warc_ts,
        CASE WHEN lag(obj) OVER (PARTITION BY subj, pred
                 ORDER BY warc_ts, obj) IS NULL
               OR lag(obj) OVER (PARTITION BY subj, pred
                 ORDER BY warc_ts, obj) <> obj
             THEN 1 ELSE 0 END AS chg
      FROM obs),
s AS (SELECT *, sum(chg) OVER (PARTITION BY subj, pred
          ORDER BY warc_ts, obj
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
      FROM c),
runs AS (SELECT subj, pred, seg, obj,
           min(warc_ts) AS valid_from, count(*) AS n_obs
         FROM s GROUP BY subj, pred, seg, obj),
hist AS (SELECT subj, pred, obj, valid_from,
           lead(valid_from) OVER (PARTITION BY subj, pred
               ORDER BY valid_from) AS valid_to,
           n_obs
         FROM runs)
SELECT subj, pred, obj, valid_from, n_obs
FROM hist
WHERE valid_from <= TIMESTAMP '2024-01-06 00:00:00'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-06 00:00:00')
""")
def kg_asof(spark, sf):
    """Point-in-time KB query (fusion.kb_asof): the facts the KB held
    true at 2024-01-06 under the SCD2 validity intervals of
    fusion.kb_history — time travel over the re-crawl stream as a pure
    interval filter, no recomputation; the whole history fold plus the
    as-of filter replays in SQL."""
    from tecs_hardware_kbc_spark.operators.fusion import (
        kb_asof, kb_history)
    return kb_asof(kb_history(_kg_obs(spark, sf)),
                   "2024-01-06 00:00:00")


# --------------------------------------------------------------------------
# KG embeddings: TransE trained in exact integer algebra, replayed in SQL
# --------------------------------------------------------------------------

def _kge_h32(expr: str) -> str:
    """DuckDB image of kg_embed._h32: first 8 md5 hex chars as bigint."""
    return f"(('0x' || substr(md5({expr}), 1, 8))::bigint)"


_KGE_DIM, _KGE_EPOCHS, _KGE_LR, _KGE_MARGIN, _KGE_R = 4, 2, 25, 2000, 1000


def _kge_train_sql() -> str:
    """The WHOLE TransE training run (kg_embed.train_transe) unrolled
    as SQL CTEs: md5 init grid, per-epoch corrupted-tail join, margin
    test via a windowed L1 sum, full-batch subgradient GROUP BY, apply.
    Returns the chain up to the final parameter table e{EPOCHS}."""
    sgn = "CASE WHEN {x} > 0 THEN 1 WHEN {x} < 0 THEN -1 ELSE 0 END"
    parts = [f"""
g AS MATERIALIZED ({_KG_GRAPH_SQL}),
trip AS MATERIALIZED (SELECT DISTINCT subj, pred, obj FROM g),
tr AS MATERIALIZED (SELECT subj || ':' || pred || ':' || obj AS tid, subj, pred, obj
       FROM trip),
ents AS MATERIALIZED (SELECT node, row_number() OVER (ORDER BY node) - 1 AS id
         FROM (SELECT DISTINCT subj AS node FROM trip
               UNION SELECT DISTINCT obj FROM trip)),
nent AS MATERIALIZED (SELECT count(*) AS n FROM ents),
dims AS MATERIALIZED (SELECT dim FROM range({_KGE_DIM}) r(dim)),
nodes AS MATERIALIZED (SELECT node FROM ents
          UNION SELECT DISTINCT pred FROM trip),
e0 AS MATERIALIZED (SELECT node, dim,
        {_kge_h32("node || ':' || dim::varchar || ':emb'")}
          % {2 * _KGE_R + 1} - {_KGE_R} AS val
       FROM nodes CROSS JOIN dims)"""]
    for e in range(1, _KGE_EPOCHS + 1):
        nid = _kge_h32(
            f"t.subj || ':' || t.pred || ':' || t.obj || ':{e}:neg'")
        sp, sn = sgn.format(x="dp"), sgn.format(x="dn")
        parts.append(f""",
L{e} AS MATERIALIZED (SELECT t.tid, t.subj, t.pred, t.obj, en.node AS neg, d.dim,
           eh.val + er.val - et.val AS dp,
           eh.val + er.val - eg.val AS dn
         FROM tr t CROSS JOIN nent
         JOIN ents en ON en.id = {nid} % nent.n
         CROSS JOIN dims d
         JOIN e{e - 1} eh ON eh.node = t.subj AND eh.dim = d.dim
         JOIN e{e - 1} er ON er.node = t.pred AND er.dim = d.dim
         JOIN e{e - 1} et ON et.node = t.obj AND et.dim = d.dim
         JOIN e{e - 1} eg ON eg.node = en.node AND eg.dim = d.dim),
G{e} AS MATERIALIZED (SELECT * FROM (
           SELECT *, SUM(ABS(dp)) OVER (PARTITION BY tid) AS pos,
                     SUM(ABS(dn)) OVER (PARTITION BY tid) AS negs
           FROM L{e})
         WHERE pos + {_KGE_MARGIN} > negs),
D{e} AS MATERIALIZED (SELECT node, dim, SUM(d)::bigint AS d FROM (
           SELECT subj AS node, dim, {_KGE_LR} * (({sn}) - ({sp})) AS d
           FROM G{e}
           UNION ALL SELECT pred, dim, {_KGE_LR} * (({sn}) - ({sp}))
           FROM G{e}
           UNION ALL SELECT obj, dim, {_KGE_LR} * ({sp}) FROM G{e}
           UNION ALL SELECT neg, dim, -{_KGE_LR} * ({sn}) FROM G{e})
         GROUP BY node, dim),
e{e} AS MATERIALIZED (SELECT p.node, p.dim, (p.val + COALESCE(dl.d, 0))::bigint AS val
         FROM e{e - 1} p LEFT JOIN D{e} dl
           ON dl.node = p.node AND dl.dim = p.dim)""")
    return "WITH " + "".join(parts)


@_q("kg_embed", _kge_train_sql() + f"""
SELECT node, dim::int AS dim, val::bigint AS val FROM e{_KGE_EPOCHS}
""")
def kg_embed(spark, sf):
    """TransE knowledge-graph embeddings (kg_embed.train_transe) over
    the synthetic KB: md5-seeded integer init, L1 margin loss,
    md5-corrupted tails, FULL-BATCH integer subgradient updates — the
    entire 2-epoch training run (not a frozen artifact) replayed
    bit-for-bit by unrolled SQL CTEs, the kmeans_fixed_point /
    pagerank_fixed_point discipline applied to gradient descent. Per
    epoch the plan is four node-keyed equi-joins + one window + one
    map-combinable groupBy — at 10^9 triples x dim 64 this is
    synchronous parameter-averaging SGD with no driver state."""
    from tecs_hardware_kbc_spark.operators.kg_embed import train_transe
    kb = _kg_graph(spark, sf).distinct()
    return (train_transe(kb, dim=_KGE_DIM, epochs=_KGE_EPOCHS,
                         lr=_KGE_LR, margin=_KGE_MARGIN)
            .select("node", "dim", "val"))


@_q("kg_linkpred", _kge_train_sql() + f""",
test AS MATERIALIZED (SELECT * FROM tr WHERE pred = 'product_country'),
cand AS MATERIALIZED (SELECT t.tid, t.subj, t.pred, t.obj, c.node AS cand
         FROM test t CROSS JOIN (SELECT node FROM ents) c
         WHERE NOT EXISTS (SELECT 1 FROM trip f
                           WHERE f.subj = t.subj AND f.pred = t.pred
                             AND f.obj = c.node AND c.node <> t.obj)),
sc AS MATERIALIZED (SELECT x.tid, x.subj, x.pred, x.obj, x.cand,
              SUM(ABS(eh.val + er.val - ec.val))::bigint AS score
       FROM cand x
       CROSS JOIN dims d
       JOIN e{_KGE_EPOCHS} eh ON eh.node = x.subj AND eh.dim = d.dim
       JOIN e{_KGE_EPOCHS} er ON er.node = x.pred AND er.dim = d.dim
       JOIN e{_KGE_EPOCHS} ec ON ec.node = x.cand AND ec.dim = d.dim
       GROUP BY x.tid, x.subj, x.pred, x.obj, x.cand),
ts AS MATERIALIZED (SELECT tid, score AS tscore FROM sc WHERE cand = obj),
rk AS MATERIALIZED (SELECT sc.subj, sc.pred, sc.obj,
              (1 + SUM(CASE WHEN sc.score < ts.tscore
                            OR (sc.score = ts.tscore AND sc.cand < sc.obj)
                       THEN 1 ELSE 0 END))::bigint AS rank
       FROM sc JOIN ts ON ts.tid = sc.tid
       GROUP BY sc.subj, sc.pred, sc.obj)
SELECT subj, pred, obj, rank,
       CASE WHEN rank <= 3 THEN 1 ELSE 0 END AS hit3,
       (1000000 // rank)::bigint AS inv_rank_x1e6
FROM rk
""")
def kg_linkpred(spark, sf):
    """Filtered link-prediction evaluation (Bordes et al. protocol;
    kg_embed.link_prediction_ranks) of the trained TransE parameters:
    for each product_country test triple, rank the true tail among all
    entities minus known-true competitors, exact integer L1 scores,
    ties broken by candidate name. Emits per-triple rank / Hits@3 /
    integer reciprocal rank; the oracle replays training AND
    evaluation in one SQL chain."""
    from tecs_hardware_kbc_spark.operators.kg_embed import (
        link_prediction_ranks, train_transe)
    # kb feeds training, the test slice AND the filtered-candidate
    # anti-join; without the checkpoint each consumer re-runs the whole
    # KG-graph derivation (the audit counted 110 Exchanges in this
    # entry's unrolled plan from the repeated subtree)
    kb = _kg_graph(spark, sf).distinct().localCheckpoint(eager=False)
    emb = train_transe(kb, dim=_KGE_DIM, epochs=_KGE_EPOCHS,
                       lr=_KGE_LR, margin=_KGE_MARGIN)
    test = kb.filter(F.col("pred") == "product_country")
    return link_prediction_ranks(test, emb, kb, dim=_KGE_DIM)


# --------------------------------------------------------------------------
# Driver contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full KBC pipeline (pages -> triples) on the synthetic
    corpus, plus exact-dedup triples over the sf0.001 documents table."""
    from tecs_hardware_kbc_spark.operators.dedup import exact_duplicates
    from tecs_hardware_kbc_spark.pipeline import run_kbc

    sf = "/root/testdata/sf0.001"
    pages, gold, gaz = _synthetic_corpus(spark, n_pages=40)
    kbc = run_kbc(spark, pages, gaz, gold).triples

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    dup_triples = exact_duplicates(docs).select(
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("subj"),
        F.lit("dup_of").alias("pred"),
        F.concat(F.lit("doc:"), F.col("canonical_id")).alias("obj"),
        F.lit(1.0).alias("prob"),
    )
    return kbc.unionByName(dup_triples)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
