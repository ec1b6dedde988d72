"""Context relation tables on a hand-built table (FIXTURES.md F5)."""

import pyspark.sql.functions as F

from tecs_hardware_kbc_spark.operators.context import (
    build_col_ngrams,
    build_row_ngrams,
    build_row_spread,
)
from tecs_hardware_kbc_spark.operators.extract import parse_html

HTML = b"""<html><body><table>
<tr><th>Parameter</th><th>BC546</th></tr>
<tr><td>Storage Temperature</td><td>-55 to 150</td></tr>
<tr><td>Collector Current</td><td>100</td></tr>
</table></body></html>"""


def _sentences(spark):
    rows = parse_html(HTML)
    for r in rows:
        r["url"] = "u"
    import pandas as pd
    from tecs_hardware_kbc_spark.operators.extract import SENTENCE_SCHEMA
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=[f.name for f in SENTENCE_SCHEMA.fields]),
        schema=SENTENCE_SCHEMA,
    )


def _grams(spark):
    from tecs_hardware_kbc_spark.operators.mentions import (
        explode_gram_arrays, gram_space_compact)
    return explode_gram_arrays(gram_space_compact(_sentences(spark)))


def test_row_ngrams(spark):
    rn = build_row_ngrams(_grams(spark))
    r1 = rn.filter(F.col("row") == 1).collect()[0]["grams"]
    assert {"Storage", "Temperature", "Storage Temperature", "-55", "to",
            "150", "55"} <= set(r1)
    assert "100" not in r1


def test_col_ngrams(spark):
    cn = build_col_ngrams(_grams(spark))
    c1 = cn.filter(F.col("col") == 1).collect()[0]["grams"]
    assert {"BC546", "-55 to 150", "100"} <= set(c1)
    assert "Parameter" not in c1


def test_row_spread(spark):
    rn = build_row_ngrams(_grams(spark))
    sp = build_row_spread(rn, 1)
    # row 2's ±1 spread covers rows 1..3 (row 3 doesn't exist)
    r2 = set(sp.filter(F.col("row") == 2).collect()[0]["grams"])
    assert {"Collector", "100", "Storage", "-55"} <= r2
    assert "BC546" not in r2  # row 0 is outside spread 1 of row 2
    # row 1's spread includes the header row
    r1 = set(sp.filter(F.col("row") == 1).collect()[0]["grams"])
    assert "BC546" in r1 and "100" in r1


def test_neighbor_cell_ngrams_directions(spark):
    """get_neighbor_cell_ngrams(dist=5, directions=True) semantics:
    direction is where the NEIGHBOR sits relative to the cell — RIGHT =
    same row, higher col; UP = same col, lower row index (earlier row =
    visually above). Pinned on the hand-built table."""
    from tecs_hardware_kbc_spark.operators.context import (
        build_neighbor_cell_ngrams)

    nc = build_neighbor_cell_ngrams(_grams(spark), dist=5)
    by = {(r["row"], r["col"], r["direction"]): set(r["grams"])
          for r in nc.collect()}
    # cell (1,0) = "Storage Temperature": RIGHT = cell (1,1) = "-55 to 150"
    assert {"-55", "to", "150"} <= by[(1, 0, "RIGHT")]
    assert "Storage" in by[(1, 1, "LEFT")]
    # column walk: from (1,1), the header cell (0,1) is UP, (2,1) is DOWN
    assert "BC546" in by[(1, 1, "UP")]
    assert "100" in by[(1, 1, "DOWN")]
    # dist respected: nothing beyond the table
    assert (0, 0, "UP") not in by
