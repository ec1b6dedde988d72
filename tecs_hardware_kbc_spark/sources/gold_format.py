"""Raw vendor gold formatting: wide annotation CSVs -> the long gold table.

The reference ships ~3.5k LoC of driver-side CSV tooling
(`hack/utils/gold_utils/format_gold.py:31-170`,
`hack/opamps/data/utils/normalizers.py:12-139`) that melts raw
Digi-Key/Mouser-style annotation rows — one WIDE row per part, one
column per attribute — into the long (filename, manuf, part, attribute,
value) gold CSV the pipeline consumes (`pipeline.gold_entities`). This
module is that formatter as ONE narrow DataFrame projection: the melt is
an explode of (attribute, raw-cell) structs, multi-valued cells split on
';' and explode again, and every normalizer is a column expression —
no UDF, no driver loop, so a 10^9-row annotation dump formats at scan
speed with a single dedup shuffle at the end.

Normalizer semantics mirrored from the reference (the BEHAVIOR is the
spec; the implementation is columnar):

* doc            strip a trailing .pdf/.PDF extension
* part           uppercase, spaces removed
* manuf          trimmed
* temperature    drop the trailing unit token ("-40 C" -> "-40")
* voltage        K/k -> 000, first space-token, sign dropped
* current/diss   first space-token, sign dropped
* gain           pre-'@' part, commas out, K/k -> 000, first token,
                 sign dropped
* polarity       NPN/PNP kept verbatim; anything else -> null (the
                 reference drops into pdb — a batch engine filters)
* family         Y/N/N/A kept verbatim

Cells containing "N/A" anywhere are skipped before splitting (the
reference's substring test, format_gold.py:85), and the output is
tuple-distinct, mirroring its `seen` set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

# attribute -> normalizer kind, per component (the attribute lists are
# the spec: format_gold.py:55-75 for opamps, :123-134 for transistors)
OPAMP_ATTRS: dict[str, str] = {
    "part_family": "family",
    "typ_gbp": "gain",
    "typ_supply_current": "current",
    "min_op_supply_volt": "voltage",
    "max_op_supply_volt": "voltage",
    "min_op_temp": "temperature",
    "max_op_temp": "temperature",
}
TRANSISTOR_ATTRS: dict[str, str] = {
    "part_family": "family",
    "polarity": "polarity",
    "ce_v_max": "voltage",
    "cb_v_max": "voltage",
    "eb_v_max": "voltage",
    "c_current_max": "current",
    "dev_dissipation": "current",
    "stg_temp_min": "temperature",
    "stg_temp_max": "temperature",
    "dc_gain_min": "gain",
}

_K_EXPANDED = (lambda c: F.regexp_replace(c, "[Kk]", "000"))


def _first_token(c: Column) -> Column:
    return F.element_at(F.split(F.trim(c), " "), 1)


def normalize_value(kind: str, c: Column) -> Column:
    """The per-kind normalizer as a column expression; null = drop."""
    if kind == "temperature":
        return F.trim(F.regexp_replace(F.trim(c), r"\s+\S+$", ""))
    if kind == "voltage":
        return F.translate(_first_token(_K_EXPANDED(F.trim(c))), "-", "")
    if kind == "current":
        return F.translate(_first_token(c), "-", "")
    if kind == "gain":
        pre_at = F.element_at(F.split(c, "@"), 1)
        cleaned = _K_EXPANDED(F.regexp_replace(pre_at, ",", ""))
        return F.translate(_first_token(cleaned), "-", "")
    if kind == "polarity":
        return F.when(F.trim(c).isin("NPN", "PNP"), F.trim(c))
    if kind == "family":
        return F.trim(c)
    raise ValueError(f"unknown normalizer kind: {kind}")


def format_gold(raw: DataFrame, component: str = "transistor",
                doc_col: str = "doc_name", part_col: str = "part_num",
                manuf_col: str = "manufacturer") -> DataFrame:
    """Melt a wide raw-gold DataFrame into the long
    (filename, manuf, part, attribute, value) table ``sources/gold.py``
    consumes. ``raw`` needs the id columns plus one column per
    attribute in the component's attribute map; extra columns (notes,
    annotator) are ignored, like the reference's tuple unpacking."""
    attrs = {"opamp": OPAMP_ATTRS,
             "transistor": TRANSISTOR_ATTRS}[component]
    melted = raw.select(
        F.regexp_replace(F.col(doc_col), r"\.(pdf|PDF)$", "")
        .alias("filename"),
        F.trim(F.col(manuf_col)).alias("manuf"),
        F.upper(F.regexp_replace(F.col(part_col), " ", "")).alias("part"),
        F.explode(F.array(*[
            F.struct(F.lit(name).alias("attribute"),
                     F.col(name).cast("string").alias("raw"))
            for name in attrs])).alias("cell"),
    ).select("filename", "manuf", "part",
             F.col("cell.attribute").alias("attribute"),
             F.col("cell.raw").alias("raw"))
    # the reference skips any CELL containing "N/A" (substring test)
    # before splitting multi-valued cells on ';'
    split = (melted
             .filter(F.col("raw").isNotNull()
                     & ~F.col("raw").contains("N/A"))
             .select("filename", "manuf", "part", "attribute",
                     F.explode(F.split("raw", ";")).alias("one"))
             .filter(F.trim("one") != ""))
    kind_expr = None
    for name, kind in attrs.items():
        norm = normalize_value(kind, F.col("one"))
        kind_expr = (F.when(F.col("attribute") == name, norm)
                     if kind_expr is None
                     else kind_expr.when(F.col("attribute") == name, norm))
    return (split.withColumn("value", kind_expr)
            .filter(F.col("value").isNotNull())
            .select("filename", "manuf", "part", "attribute", "value")
            .dropDuplicates())
