"""Context-relation tables (SURVEY J7/W1-W2) — the big architectural rewrite.

Fonduer answers every ``get_row_ngrams``/``get_col_ngrams``/
``get_aligned_ngrams`` probe by walking the object graph per candidate
(N+1 Postgres queries — ``transistor_lfs.py:4-24``). We compute each
context *relation* ONCE as a DataFrame and answer every probe with an
equi-join + ``arrays_overlap``/``exists``:

* ``row_ngrams(url, table_id, row, grams array<string>)``
* ``col_ngrams(url, table_id, col, grams array<string>)``
* aligned ngrams == ``array_union(row, col)`` at the probe site
  (fonduer's ``get_aligned_ngrams`` = row ∪ col);
* sentence/left/right window ngrams come straight off the mention's own
  sentence row (``words`` + the mention's word index) — no join at all.

Grams are stored raw-case; probes that need lowercase apply
``transform(x, lower)`` in the plan (stays in whole-stage codegen).

At 100 TB these tables are bucketable by ``url`` so that the mention ->
context joins are co-partitioned with the candidate join (one shuffle,
reused across stages).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F


def _cell_grams(grams: DataFrame) -> DataFrame:
    """Tabular rows of the shared exploded gram table."""
    return grams.filter(F.col("table_id").isNotNull()).select(
        "url", "table_id", "row", "col", F.col("raw_span").alias("span"))


def build_row_ngrams(grams: DataFrame) -> DataFrame:
    """(url, table_id, row) -> distinct gram spans anywhere in that row."""
    return (
        _cell_grams(grams)
        .groupBy("url", "table_id", "row")
        .agg(F.collect_set("span").alias("grams"))
    )


def build_col_ngrams(grams: DataFrame) -> DataFrame:
    """(url, table_id, col) -> distinct gram spans anywhere in that column."""
    return (
        _cell_grams(grams)
        .groupBy("url", "table_id", "col")
        .agg(F.collect_set("span").alias("grams"))
    )


def build_row_spread(row_ngrams: DataFrame, spread: int) -> DataFrame:
    """(url, table_id, row) -> grams of every row within ±spread.

    Fonduer's ``get_row_ngrams(spread=[-k, k])`` (``opamp_matchers.py:42,79``)
    re-walks the table per candidate; we materialize the spread relation once:
    each row's gram set is contributed to its 2k+1 neighbors via an explode,
    then re-aggregated — one shuffle, reused by every probe of that spread.
    """
    return (
        row_ngrams.select(
            "url", "table_id",
            F.explode(F.sequence(F.col("row") - spread,
                                 F.col("row") + spread)).alias("row"),
            "grams",
        )
        .filter(F.col("row") >= 0)
        .groupBy("url", "table_id", "row")
        .agg(F.array_distinct(F.flatten(F.collect_list("grams"))).alias("grams"))
    )


def build_head_grams(grams: DataFrame, axis: str) -> DataFrame:
    """Grams of the head cell along an axis (fonduer ``get_head_ngrams`` /
    ``_get_head_cell``, used by ``LF_head_ends_with_ceo`` and
    ``LF_part_mismatch_header``, transistor_lfs.py:469-474,676-689):

    * axis='col' -> the cell at the minimum row of each column (the column
      header) -> ``(url, table_id, col, grams)``;
    * axis='row' -> the cell at the minimum col of each row (the row label)
      -> ``(url, table_id, row, grams)``.
    """
    from pyspark.sql.window import Window

    other = "row" if axis == "col" else "col"
    cells = _cell_grams(grams)
    w = Window.partitionBy("url", "table_id", axis)
    return (
        cells.withColumn("_m", F.min(other).over(w))
        .filter(F.col(other) == F.col("_m"))
        .groupBy("url", "table_id", axis)
        .agg(F.collect_set("span").alias("grams"))
    )


PART_LIKE_RGX = r"^(?:[0-9]+[A-Z]+|[A-Z]+[0-9]+)[0-9A-Z]*$"


def build_part_expansions(grams: DataFrame) -> DataFrame:
    """(raw_span, parts): the reference's ``_filter_non_parts``
    (transistor_lfs.py:40-50) as a vocabulary table — every distinct gram's
    ``expand_part_range`` expansions that match the part-like regex with
    length > 2, lowercased. The expansion UDF runs once over the distinct
    span vocabulary (cheap digit+letter regex pre-gate), and the axis
    part-gram tables below join against it."""
    from tecs_hardware_kbc_spark.operators.mentions import _expand_parts_udf

    cand = (
        grams.filter(F.col("n") <= 3)
        .select("raw_span").distinct()
        .filter(F.regexp_like("raw_span", F.lit(r"[0-9]"))
                & F.regexp_like("raw_span", F.lit(r"[A-Za-z]")))
        # tiny in bytes, CPU-heavy per row: spread the vocabulary so the
        # expansion UDF runs in parallel (AQE would coalesce it to 1)
        .repartition(grams.sparkSession.sparkContext.defaultParallelism)
    )
    expanded = cand.withColumn("_exp", _expand_parts_udf(F.col("raw_span")))
    parts = F.transform(
        F.filter(
            "_exp",
            lambda p: F.regexp_like(p, F.lit(PART_LIKE_RGX))
            & (F.length(p) > 2),
        ),
        lambda p: F.lower(p),
    )
    return (
        expanded.select("raw_span", parts.alias("parts"))
        .filter(F.size("parts") > 0)
    )


def _parts_aggs() -> list:
    """parts1 = expansions of unigrams (the reference's n_max=1 trigger),
    parts3 = expansions of all n<=3 grams (the widened prefix set that
    credits range-implied variants) — both from ONE aggregation pass."""
    return [
        F.array_distinct(F.flatten(F.collect_list(
            F.when(F.col("n") == 1, F.col("parts"))))).alias("parts1"),
        F.array_distinct(F.flatten(F.collect_list("parts")))
        .alias("parts3"),
    ]


def build_axis_part_grams(grams: DataFrame, expansions: DataFrame,
                          axis: str) -> DataFrame:
    """(url, table_id, row|col, parts1, parts3): the lowercased part-like
    expansions of the grams along the axis (the relational form of
    ``_filter_non_parts(get_{row,col}_ngrams(c, n_max=k))`` for k=1 and
    k=3, one shuffle for both). The expansion vocabulary is broadcast —
    the join never shuffles the gram table."""
    cells = (
        grams.filter(F.col("table_id").isNotNull()
                     & (F.col("n") >= 1) & (F.col("n") <= 3))
        .select("url", "table_id", axis, "raw_span", "n")
    )
    return (
        cells.join(F.broadcast(expansions), "raw_span")
        .groupBy("url", "table_id", axis)
        .agg(*_parts_aggs())
    )


def build_head_context(grams: DataFrame, expansions: DataFrame,
                       axis: str = "col") -> DataFrame:
    """(url, table_id, col, grams, parts1, parts3): the head cell's raw
    gram set (``get_head_ngrams``) AND its part-like expansions
    (``LF_part_mismatch_header``'s ``_filter_non_parts(get_head_ngrams(c,
    n_max=1, axis='col'))``) in one aggregation — a left join against the
    broadcast expansion vocabulary keeps non-part grams with empty
    expansion lists."""
    from pyspark.sql.window import Window

    other = "row" if axis == "col" else "col"
    cells = (
        grams.filter(F.col("table_id").isNotNull()
                     & (F.col("n") >= 1) & (F.col("n") <= 3))
        .select("url", "table_id", "row", "col", "raw_span", "n")
    )
    w = Window.partitionBy("url", "table_id", axis)
    heads = (cells.withColumn("_m", F.min(other).over(w))
             .filter(F.col(other) == F.col("_m")))
    joined = heads.join(F.broadcast(expansions), "raw_span", "left") \
        .withColumn("parts", F.coalesce("parts", F.array()))
    return (
        joined.groupBy("url", "table_id", axis)
        .agg(F.collect_set("raw_span").alias("grams"), *_parts_aggs())
    )


def build_neighbor_cell_ngrams(grams: DataFrame, dist: int = 5,
                               n_max: int = 1,
                               directions: list[str] | None = None
                               ) -> DataFrame:
    """(url, table_id, row, col, direction, grams): grams of the cells
    within ``dist`` positions of each cell along its row/column, tagged
    with the direction seen FROM that cell — fonduer's
    ``get_neighbor_cell_ngrams(dist=5, directions=True)``
    (opamp_lfs.py:68,112; opamp_utils.py:126). RIGHT/LEFT walk the row,
    UP/DOWN walk the column.

    Built by contribution-explode (like ``build_row_spread``): each source
    cell donates its gram set to every neighbor target within dist, then
    one groupBy per (target cell, direction) — no self-join of the cell
    table.
    """
    cells = (
        grams.filter(F.col("table_id").isNotNull()
                     & (F.col("n") >= 1) & (F.col("n") <= n_max))
        .groupBy("url", "table_id", "row", "col")
        .agg(F.collect_set("raw_span").alias("grams"))
    )
    k = F.explode(F.sequence(F.lit(1), F.lit(dist))).alias("k")
    donated = cells.select("url", "table_id", "row", "col", "grams", k)
    # a source at col c is to the RIGHT of targets at col c-k, etc.;
    # ``directions`` prunes the donation explode to the ones a consumer
    # actually probes (resolve_unit reads only RIGHT)
    variants = [
        (F.col("row"), F.col("col") - F.col("k"), "RIGHT"),
        (F.col("row"), F.col("col") + F.col("k"), "LEFT"),
        (F.col("row") - F.col("k"), F.col("col"), "DOWN"),
        (F.col("row") + F.col("k"), F.col("col"), "UP"),
    ]
    if directions is not None:
        variants = [v for v in variants if v[2] in directions]
    parts = [
        donated.select("url", "table_id", r.alias("row"), c.alias("col"),
                       F.lit(d).alias("direction"), "grams")
        for r, c, d in variants
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.filter((F.col("row") >= 0) & (F.col("col") >= 0))
        .groupBy("url", "table_id", "row", "col", "direction")
        .agg(F.array_distinct(F.flatten(F.collect_list("grams")))
             .alias("grams"))
    )


def build_row_number_counts(grams: DataFrame) -> DataFrame:
    """(url, table_id, row, n_numbers): count of 'number'-tagged unigrams
    in the row — the structural projection of counting 'number' ner_tags
    along the visual line (``LF_too_many_numbers_horz``,
    transistor_lfs.py:434-436). Shares the engine-wide numeric definition
    with the lingual tagger (lingual.NUMBER_RE) so LFs that read either
    surface agree."""
    from tecs_hardware_kbc_spark.operators.lingual import NUMBER_RE
    return (
        grams.filter(
            F.col("table_id").isNotNull() & (F.col("n") == 1)
            & F.regexp_like("raw_span", F.lit(NUMBER_RE)))
        .groupBy("url", "table_id", "row")
        .agg(F.count("*").alias("n_numbers"))
    )


def lower_arr(col):
    """Lowercase every element of an array column (codegen-friendly)."""
    return F.transform(col, lambda x: F.lower(x))


def overlaps(arr_col, keywords: list[str], lower: bool = True):
    """``overlap(keywords, ngrams)`` (transistor_matchers.py:12) as a column
    predicate: does the gram array intersect the keyword list?"""
    arr = lower_arr(arr_col) if lower else F.col(arr_col) if isinstance(arr_col, str) else arr_col
    return F.arrays_overlap(arr, F.array(*[F.lit(k) for k in keywords]))
