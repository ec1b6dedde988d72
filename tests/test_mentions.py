"""Matcher semantics on a hand-built datasheet page."""

import pandas as pd
import pyspark.sql.functions as F
import pytest

from tecs_hardware_kbc_spark.operators import mentions as M
from tecs_hardware_kbc_spark.operators.context import (
    build_col_ngrams,
    build_row_ngrams,
    build_row_spread,
)
from tecs_hardware_kbc_spark.operators.extract import SENTENCE_SCHEMA, parse_html

HTML = b"""<html><body>
<h1>BC546 NPN Silicon Transistor</h1>
<p>BC546 thru BC548 are NPN epitaxial transistors.</p>
<p>Complementary to the PNP type BC556.</p>
<table>
<tr><th>Parameter</th><th>Symbol</th><th>BC546</th><th>Unit</th></tr>
<tr><td>Collector-Emitter Voltage</td><td>VCEO</td><td>65</td><td>V</td></tr>
<tr><td>Collector-Base Voltage</td><td>VCBO</td><td>80</td><td>V</td></tr>
<tr><td>Storage Temperature</td><td>Tstg</td><td>-55 to 150</td><td>\xc2\xb0C</td></tr>
</table>
<table>
<tr><td>Gain Bandwidth Product</td><td>GBP</td><td>1.1</td><td>MHz</td></tr>
<tr><td>Maximum Impedance</td><td>Z</td><td>75</td><td>kHz</td></tr>
<tr><td>Supply Current</td><td>Is</td><td>\xc2\xb12.3</td><td>mA</td></tr>
<tr><td>Slew Rate</td><td>SR</td><td>0.4</td><td>V/us</td></tr>
<tr><td>CMRR</td><td>CM</td><td>90</td><td>dB</td></tr>
<tr><td>PSRR</td><td>PS</td><td>94</td><td>dB</td></tr>
<tr><td>Input Offset Voltage</td><td>Vos</td><td>50</td><td>\xc2\xb5V</td></tr>
</table>
</body></html>"""


@pytest.fixture(scope="module")
def ctx(spark):
    rows = parse_html(HTML)
    for r in rows:
        r["url"] = "https://x.example/bc546.html"
    sents = spark.createDataFrame(
        pd.DataFrame(rows, columns=[f.name for f in SENTENCE_SCHEMA.fields]),
        schema=SENTENCE_SCHEMA,
    ).cache()
    grams = M.explode_gram_arrays(M.gram_space_compact(sents)).cache()
    row = build_row_ngrams(grams).cache()
    return {
        "sents": sents, "grams": grams, "row": row,
        "col": build_col_ngrams(grams).cache(),
        "row2": build_row_spread(row, 2), "row5": build_row_spread(row, 5),
    }


@pytest.fixture(scope="module")
def gaz(spark):
    return spark.createDataFrame([("BC547", "u"), ("ZZZ999", "u")],
                                 "part string, url string")


def test_part_mentions(ctx, gaz, spark):
    parts = M.part_mentions(ctx["grams"], gaz)
    spans = {r["span"] for r in parts.select("span").distinct().collect()}
    # regex family + range expansion + header cell + complementary part
    assert {"BC546", "BC547", "BC548", "BC556"} <= spans
    implicit = {r["span"] for r in
                parts.filter("implicit").select("span").distinct().collect()}
    assert "BC547" in implicit  # only exists via range expansion


def test_temp_mentions(ctx, spark):
    mins = M.temp_mentions(ctx["grams"], "min")
    assert {r["span"] for r in mins.select("span").collect()} == {"-55"}
    maxs = M.temp_mentions(ctx["grams"], "max")
    assert {r["span"] for r in maxs.select("span").collect()} == {"150"}


def test_polarity_excludes_complementary(ctx, spark):
    pols = M.polarity_mentions(ctx["grams"], ctx["sents"])
    rows = pols.select("span", "position").collect()
    spans = {r["span"] for r in rows}
    assert spans == {"NPN"}  # PNP only occurs in the complementary sentence


def test_ce_v_max_row_keywords(ctx, spark):
    volts = M.ce_v_max_mentions(ctx["grams"], ctx["sents"], ctx["row"])
    spans = {r["span"] for r in volts.collect()}
    assert "65" in spans     # VCEO row
    assert "80" not in spans  # VCBO row has no CE keywords
    assert "150" not in spans  # storage row


def test_gain_mentions(ctx, spark):
    gains = M.gain_mentions(ctx["grams"], ctx["sents"], ctx["row"], ctx["row2"], ctx["col"])
    spans = {r["span"] for r in gains.collect()}
    assert "1.1" in spans
    # 'maximum'/'impedance' are gain filter keywords (opamp_matchers.py:40)
    assert "75" not in spans
    # offset row is >2 rows from any hertz unit -> spread misses it
    assert "50" not in spans


def test_current_mentions(ctx, spark):
    curs = M.current_mentions(ctx["grams"], ctx["sents"], ctx["row"], ctx["row5"], ctx["col"])
    spans = {r["span"] for r in curs.collect()}
    assert "±2.3" in spans
    # 'offset' is a current filter keyword (opamp_matchers.py:80) even
    # though mA sits within its ±5 row spread
    assert "50" not in spans


def test_gated_grams_equivalence(spark, tiny_tables):
    """Every pre-gate is a superset of its matcher's first filter: each
    matcher over the pre-gated explode must return exactly the rows it
    returns over the full gram table (this is what lets the pipeline
    skip ~95% of the explode row traffic per matcher)."""
    from tecs_hardware_kbc_spark.operators.extract import parse_pages
    from tecs_hardware_kbc_spark.pipeline import ingest

    sents = parse_pages(ingest(tiny_tables["pages"])).localCheckpoint()
    compact = M.gram_space_compact(sents)
    grams = M.explode_gram_arrays(compact)
    gaz = tiny_tables["gaz"]

    def rows(df):
        cols = sorted(df.columns)
        return sorted(tuple(str(r[c]) for c in cols)
                      for r in df.collect())

    pairs = [
        (M.part_mentions(grams, gaz),
         M.part_mentions(M.gated_grams(compact, M.pregate_part), gaz)),
        (M.temp_mentions(grams, "min"),
         M.temp_mentions(M.gated_grams(compact, M.pregate_numeric(2)),
                         "min")),
        (M.polarity_mentions(grams, sents),
         M.polarity_mentions(M.gated_grams(compact, M.pregate_polarity),
                             sents)),
    ]
    for full, gated in pairs:
        full_rows = rows(full)
        assert full_rows  # non-vacuous
        assert full_rows == rows(gated)
