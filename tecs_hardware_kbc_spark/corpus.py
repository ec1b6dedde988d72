"""Deterministic synthetic page corpus (FIXTURES.md F1-F4).

Generates Common-Crawl-style rows ``(url, warc_ts, html, text, lang)`` of
datasheet-like HTML plus jointly-planted gold triples, a part gazetteer and
alias structure. Every surface form the reference pipeline handles is
exercised (citations into lukehsiao/tecs-hardware-kbc):

* part naming families — EECA/JEDEC/JIS/house regexes
  (``transistor_matchers.py:82-95``);
* part ranges "BC546 thru BC548" and slash forms "BC546A/B"
  (``transistor_spaces.py:12-144``);
* spec tables with per-variant columns (value vertically aligned with its
  part header — the structural analog of ``is_vert_aligned``);
* storage-temp cells "-55 to 150", ce_v_max rows, polarity in the
  ``<h1>``, opamp "1.1 MHz" gain and "±2.3 mA" supply-current rows with
  ± doubling (``opamp_utils.py:197-207``);
* distractor rows (operating/junction temp, VCBO, collector current,
  offset voltage) the matchers/LFs must reject;
* hot-domain URL skew, duplicate urls with later ``warc_ts`` (late
  re-crawl), mirrored pages under different doc keys (canonicalization
  targets), and ~3% unrecoverable gold (recall ceiling).

**Every page is a pure function of (seed, page index)** — so generation
distributes over Spark (``distributed_corpus``) with no global state, and
the driver-side ``generate_corpus`` produces the identical corpus for
tests. Part-number uniqueness across pages is by construction: each page
index owns a disjoint numeric core (stride 4 leaves room for sibling
variants).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
from dataclasses import dataclass, field

from tecs_hardware_kbc_spark.operators.extract import extract_text

DOMAINS = [
    "datasheets.example-hot.com",  # hot domain: ~25% of pages (skew test)
    "semi.acme-components.io",
    "parts.transistor-depot.net",
    "docs.opamp-warehouse.org",
    "archive.chipfinder.dev",
    "cdn.electrocat.co",
    "mirror.partslib.org",
]

MANUFACTURERS = [
    "Fairchild", "ON Semiconductor", "NXP", "STMicroelectronics",
    "Toshiba", "Infineon", "Linear Technology", "Analog Devices",
]

_EECA_PREFIXES = ["BC", "BD", "BF", "BU"]
_HOUSE_PREFIXES = ["TIP", "MPS", "ZTX", "KSC"]
_OPAMP_PREFIXES = ["LT", "AD", "OPA", "MAX"]

_BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


@dataclass
class Page:
    url: str
    warc_ts: dt.datetime
    html: bytes
    text: str
    lang: str


@dataclass
class Corpus:
    pages: list[Page] = field(default_factory=list)
    # gold rows: (filename, manuf, part, attribute, value) — schema of the
    # reference gold CSVs (transistor_utils.py:82-83)
    gold: list[tuple[str, str, str, str, str]] = field(default_factory=list)
    gazetteer: list[tuple[str, str]] = field(default_factory=list)  # (part, url)


def _part_family(rng: random.Random, i: int) -> list[str]:
    """Page i's part family. The numeric core 100 + 4*(i mod 24975) is
    unique per page within a 24975-page block (stride 4 leaves room for up
    to 3 sibling variants); beyond one block the EECA prefix rotates with a
    block shift (+2 per block, and 24977 is odd so d blocks apart means
    prefix indices d apart mod 4), keeping (prefix, core) collision-free
    below 4 x 24975 = 99,900 transistor pages. Block 0 reproduces the
    historical scheme byte-for-byte, so small-scale corpora (tests, driver
    entries) are unchanged. Styles whose regex caps the digit count fall
    back to the EECA form once the core outgrows them."""
    style = i % 4
    block, j = divmod(i, 24975)
    core = 100 + 4 * j
    if style != 0 and (core > 9899 or block > 0):
        style = 0  # jedec/jis/house digit ranges exhausted -> EECA form
    if style == 0:
        base = f"{_EECA_PREFIXES[(i + 2 * block) % len(_EECA_PREFIXES)]}{core}"
    elif style == 1:
        base = f"2N{core}"
    elif style == 2:
        base = f"2S{'BCD'[i % 3]}{core}"
    else:
        base = f"{_HOUSE_PREFIXES[i % len(_HOUSE_PREFIXES)]}{core}"

    n = rng.choice([1, 2, 3])
    # numeric siblings need a carry-free, unique last digit for the
    # reference's replace-all range expansion (transistor_spaces.py:70-73)
    last = int(base[-1])
    numeric_ok = last + n - 1 <= 9 and base.count(base[-1]) == 1
    # letter siblings are unsafe when 'A' occurs in the base (replace-all
    # would corrupt, e.g. 2SA123A)
    letter_ok = "A" not in base
    if rng.random() < 0.5 and numeric_ok:
        return [f"{base[:-1]}{last + k}" for k in range(n)]
    if n > 1 and letter_ok:
        return [f"{base}{chr(ord('A') + k)}" for k in range(n)]
    return [base]


def _range_expr(rng: random.Random, family: list[str]) -> str:
    """A prose surface form implying the whole family (exercises P6)."""
    if len(family) == 1:
        return family[0]
    joiner = rng.choice([" thru ", " to ", " ~ ", " - "])
    if rng.random() < 0.4 and all(f[:-1] == family[0][:-1] for f in family):
        return family[0] + "/" + "/".join(f[-1] for f in family[1:])
    return f"{family[0]}{joiner}{family[-1]}"


def _transistor_html(rng: random.Random, family: list[str],
                     manuf: str) -> tuple[str, list[tuple]]:
    polarity = rng.choice(["NPN", "PNP"])
    t_min = rng.choice([-55, -65, -50, -60])
    t_max = rng.choice([150, 150, 175, 200])
    ce_vals = [rng.choice([30, 40, 45, 60, 65, 80]) for _ in family]
    ic_ma = rng.choice([100, 500, 800])
    with_junction = rng.random() < 0.3
    # part-mismatch distractor: a same-table row pairing CE keywords with a
    # DIFFERENT part-like token and a non-gold value. "XQ<core>" passes the
    # part-SHAPE regex (so the part_mismatch_* / prefix LFs see it) but no
    # part MATCHER (so it can never become a mention -> FN/precision trap
    # only). Value 75 is outside the gold ce value set.
    mismatch_part = f"XQ{rng.randrange(100, 900)}" \
        if rng.random() < 0.5 else None
    # '+ 150'-style bigram temp surface (the normalizer must drop the
    # bigram but keep the unigram — transistor_spaces.py:243-254)
    plus_temp = rng.random() < 0.25
    comp_part = None
    if rng.random() < 0.15:
        comp_part = f"{family[0][:2]}{rng.randrange(100, 999)}9"

    range_expr = _range_expr(rng, family)
    per_variant_cols = rng.random() < 0.5 and len(family) > 1
    head_cols = family if per_variant_cols else [range_expr]
    val_cols = ce_vals if per_variant_cols else [ce_vals[0]]
    if not per_variant_cols:
        ce_vals = [ce_vals[0]] * len(family)

    def row(param: str, symbol: str, values: list, unit: str) -> str:
        cells = "".join(f"<td>{v}</td>" for v in values)
        return f"<tr><td>{param}</td><td>{symbol}</td>{cells}<td>{unit}</td></tr>"

    header = ("<tr><th>Parameter</th><th>Symbol</th>"
              + "".join(f"<th>{p}</th>" for p in head_cols)
              + "<th>Unit</th></tr>")
    nvals = len(head_cols)
    t_max_cell = f"{t_min} to + {t_max}" if plus_temp else f"{t_min} to {t_max}"
    rows = [
        header,
        row("Collector-Emitter Voltage", "VCEO", val_cols, "V"),
        row("Collector-Base Voltage", "VCBO", [v + 15 for v in val_cols], "V"),
        row("Collector Current", "IC", [ic_ma] * nvals, "mA"),
        row("Storage Temperature", "Tstg", [t_max_cell] * nvals, "°C"),
        row("Operating Temperature", "Topr", ["-40 to 125"] * nvals, "°C"),
    ]
    if with_junction:
        rows.insert(4, row("Junction Temperature", "TJ", [175] * nvals, "°C"))
    if mismatch_part:
        rows.insert(3, row(f"{mismatch_part} Collector-Emitter Voltage",
                           "VCEO", [75] * nvals, "V"))

    comp_html = (f"<p>Complementary to the {comp_part} series.</p>"
                 if comp_part else "")
    prose_ce = (" A collector-emitter voltage above the rated maximum must "
                "not be applied." if rng.random() < 0.3 else "")
    # two-record-per-row quick-reference table (|part|Tstg|part|Tstg| — the
    # common multi-record datasheet layout): structurally, each record's
    # part shares a ROW with the OTHER record's value, so the structural
    # alignment proxy admits the cross pairs; a wrapped visual rendering
    # (visual.synthetic_visual_coords) puts each record on its own line
    # and rejects them — the planted visual-vs-structural disagreement
    # slice. Values repeat the family-shared Tstg gold, so the cross pairs
    # are entity-level duplicates, never FPs. md5-gated (NOT rng) so the
    # page's rng draw sequence — and every downstream planted value — is
    # byte-identical with or without this table.
    pair_tbl = ""
    if len(family) >= 2:
        gate = int(hashlib.md5(
            f"{family[0]}:pairtbl".encode()).hexdigest()[:2], 16)
        if gate % 4 == 0:
            cell = f"{t_min} to {t_max}"
            pair_tbl = (
                "<table><tr><th>Type</th><th>Tstg</th>"
                "<th>Type</th><th>Tstg</th></tr>"
                f"<tr><td>{family[0]}</td><td>{cell}</td>"
                f"<td>{family[1]}</td><td>{cell}</td></tr></table>"
            )
    html = (
        f"<html><head><title>{family[0]} Datasheet - {manuf}</title></head><body>"
        f"<h1>{family[0]} {polarity} Silicon Transistor</h1>"
        f"<p>{range_expr} are {polarity} silicon epitaxial planar transistors "
        f"designed for general purpose switching and amplification.{prose_ce}</p>"
        f"{comp_html}"
        f"<table>{''.join(rows)}</table>"
        f"{pair_tbl}"
        f"</body></html>"
    )

    gold: list[tuple] = []
    doc = family[0].upper()
    for part, ce in zip(family, ce_vals):
        part = part.upper()
        for attr, val in (("polarity", polarity),
                          ("stg_temp_min", str(t_min)),
                          ("stg_temp_max", str(t_max)),
                          ("ce_v_max", str(ce))):
            gold.append((doc, manuf, part, attr, val))
            if rng.random() < 0.03:
                # recall ceiling: a variant the page never mentions; "Z"
                # prefix keeps it out of reach of prefix alias-widening
                gold.append((doc, manuf, "Z" + part, attr, val))
    return html, gold


def _opamp_html(rng: random.Random, part: str,
                manuf: str) -> tuple[str, list[tuple]]:
    gbp_mhz = rng.choice([0.5, 1.1, 2.2, 4.5, 8.0, 10.0])
    pm = rng.random() < 0.4
    if pm:
        cur_val, cur_unit = rng.choice([1.1, 2.3, 4.5]), "mA"
    else:
        cur_val, cur_unit = rng.choice([230, 450, 950]), "µA"
    cur_span = f"±{cur_val}" if pm else f"{cur_val}"

    def row(param, symbol, value, unit):
        return (f"<tr><td>{param}</td><td>{symbol}</td>"
                f"<td>{value}</td><td>{unit}</td></tr>")

    html = (
        f"<html><head><title>{part} Datasheet - {manuf}</title></head><body>"
        f"<h1>{part} Low Power Operational Amplifier</h1>"
        f"<p>The {part} is a precision operational amplifier optimized for "
        f"low supply current and wide bandwidth.</p>"
        f"<table>"
        f"<tr><th>Parameter</th><th>Symbol</th><th>Typ</th><th>Unit</th></tr>"
        f"{row('Gain Bandwidth Product', 'GBP', gbp_mhz, 'MHz')}"
        f"{row('Supply Current', 'Is', cur_span, cur_unit)}"
        f"{row('Slew Rate', 'SR', 0.4, 'V/µs')}"
        f"{row('Input Offset Voltage', 'Vos', 50, 'µV')}"
        f"</table></body></html>"
    )

    doc = part.upper()
    # gold values in display units matching the reference's output rescale
    # (kHz for gain, µA for current — hack/opamps/opamps.py:47-49), with ±
    # doubling (opamp_utils.py:197-207)
    gold = [(doc, manuf, doc, "typ_gbp", str(int(gbp_mhz * 1000)))]
    cur_ua = cur_val * (1000 if cur_unit == "mA" else 1)
    for c in ([cur_ua, 2 * cur_ua] if pm else [cur_ua]):
        c_str = str(int(c)) if float(c) == int(c) else str(c)
        gold.append((doc, manuf, doc, "typ_supply_current", c_str))
    if rng.random() < 0.03:
        gold.append((doc, manuf, doc, "typ_gbp", "31415"))
    return html, gold


def page_rows(i: int, n_pages: int, seed: int = 42,
              noise: bool = True) -> tuple[list[Page], list[tuple], list[tuple]]:
    """All corpus rows owned by page index i — a PURE function of
    (seed, i, n_pages): primary page, optional re-crawl row, optional
    mirror row, gold, gazetteer entries. Indices n_pages..n_pages+2 are the
    non-English pages; >= n_pages+3 are gazetteer-only entries."""
    rng = random.Random(f"{seed}:{i}")

    if n_pages <= i < n_pages + 3:
        j = i - n_pages
        lang = ["de", "zh", "fr"][j]
        html = (f"<html><body><h1>Übersicht {j}</h1><p>Kein Datenblatt hier."
                f"</p></body></html>").encode("utf-8")
        url = f"https://{rng.choice(DOMAINS)}/misc-{lang}-{j}.html"
        ts = _BASE_TS + dt.timedelta(days=j)
        return [Page(url, ts, html, extract_text(html), lang)], [], []

    if i >= n_pages + 3:
        # gazetteer-only dictionary parts (like the Digi-Key CSV's extra
        # 11,620 rows, transistor_matchers.py:21-31); offset index space
        fam = _part_family(rng, i)
        return [], [], [(p.upper(), f"https://www.digikey.example/{p.lower()}")
                        for p in fam]

    manuf = MANUFACTURERS[i % len(MANUFACTURERS)]
    domain = DOMAINS[0] if rng.random() < 0.25 else rng.choice(DOMAINS[1:])
    if rng.random() < 0.4:
        part = f"{_OPAMP_PREFIXES[i % 4]}{1000 + i}"
        html, gold = _opamp_html(rng, part, manuf)
        family = [part]
    else:
        family = _part_family(rng, i)
        html, gold = _transistor_html(rng, family, manuf)
    if not noise:
        gold = [g for g in gold
                if not (g[2].startswith("Z") or g[4] == "31415")]

    url = f"https://{domain}/{family[0].lower()}.html"
    # 0-3 thumbnail figures per page, md5(url)-derived so the page rng's
    # draw sequence (and with it every planted gold case) is untouched.
    # Image tags contribute no text: the extract_text invariant holds.
    # Dimensions/payloads/class bits live in operators/figures.py, derived
    # from md5(url:fig:src) at media-synthesis time, not baked into html.
    n_figs = hashlib.md5(f"{url}:nf".encode()).digest()[0] % 4
    figs = "".join(f'<img src="fig{j}.png" alt="thumbnail {j}">'
                   for j in range(n_figs))
    html = html.replace("</body>", figs + "</body>", 1)
    ts = _BASE_TS + dt.timedelta(minutes=(i * 17) % 50000)
    html_b = html.encode("utf-8")
    text = extract_text(html_b)
    pages = [Page(url, ts, html_b, text, "en")]
    gaz = [(p.upper(), url) for p in family]

    if rng.random() < 0.05:  # late re-crawl: same url, later ts
        pages.append(Page(url, ts + dt.timedelta(days=30), html_b, text, "en"))
    if rng.random() < 0.06:
        # mirror under a DIFFERENT doc key: only connected-components
        # canonicalization over content-identity edges unifies it — without
        # it every mirror triple is a precision hit. No extra gold.
        mdomain = DOMAINS[(i + 3) % len(DOMAINS)]
        murl = f"https://{mdomain}/{family[0].lower()}-m.html"
        pages.append(Page(murl, ts + dt.timedelta(days=3), html_b, text, "en"))
    return pages, gold, gaz


def _index_space(n_pages: int) -> int:
    return n_pages + 3 + max(50, n_pages // 2)


def generate_corpus(n_pages: int = 100, seed: int = 42,
                    noise: bool = True) -> Corpus:
    """Driver-side generation (tests, tiny corpora) — identical output to
    the distributed path."""
    corpus = Corpus()
    for i in range(_index_space(n_pages)):
        pages, gold, gaz = page_rows(i, n_pages, seed, noise)
        corpus.pages.extend(pages)
        corpus.gold.extend(gold)
        corpus.gazetteer.extend(gaz)
    return corpus


_GEN_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "gold array<struct<filename:string,manuf:string,part:string,"
    "attribute:string,value:string>>, "
    "gaz array<struct<part:string,url:string>>"
)


def distributed_corpus(spark, n_pages: int, seed: int = 42,
                       noise: bool = True, partitions: int | None = None):
    """Generate the corpus ON the cluster: page indices are distributed and
    each partition generates its pages independently (pure per-index
    function, no driver bottleneck). Returns (pages, gold, gazetteer)."""
    import pandas as pd
    import pyspark.sql.functions as F

    parts = partitions or spark.sparkContext.defaultParallelism

    def _gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                pages, gold, gaz = page_rows(i, n_pages, seed, noise)
                for k, p in enumerate(pages):
                    rows.append({
                        "url": p.url, "warc_ts": p.warc_ts.replace(tzinfo=None),
                        "html": p.html, "text": p.text, "lang": p.lang,
                        "gold": gold if k == 0 else [],
                        "gaz": [{"part": g[0], "url": g[1]} for g in gaz]
                        if k == 0 else [],
                    })
                if not pages and gaz:  # gazetteer-only index
                    rows.append({
                        "url": None, "warc_ts": None, "html": None,
                        "text": None, "lang": None, "gold": [],
                        "gaz": [{"part": g[0], "url": g[1]} for g in gaz],
                    })
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang",
                               "gold", "gaz"])

    raw = (
        spark.range(_index_space(n_pages)).repartition(parts)
        .mapInPandas(_gen, schema=_GEN_SCHEMA)
        .localCheckpoint()
    )
    pages = raw.filter(F.col("url").isNotNull()) \
        .select("url", "warc_ts", "html", "text", "lang")
    gold = raw.select(F.explode("gold").alias("g")).select("g.*")
    gaz = raw.select(F.explode("gaz").alias("g")).select("g.*")
    return pages, gold, gaz


def corpus_to_dataframes(spark, corpus: Corpus):
    """Materialize a driver-side corpus as (pages, gold, gazetteer) DFs."""
    import pyspark.sql.types as T

    pages_schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ])
    pages = spark.createDataFrame(
        [(p.url, p.warc_ts, p.html, p.text, p.lang) for p in corpus.pages],
        schema=pages_schema,
    )
    gold = spark.createDataFrame(
        corpus.gold, schema="filename string, manuf string, part string, "
                            "attribute string, value string",
    )
    gaz = spark.createDataFrame(
        corpus.gazetteer, schema="part string, url string"
    )
    return pages, gold, gaz


def write_corpus(spark, out_dir: str, n_pages: int = 100, seed: int = 42,
                 noise: bool = True) -> None:
    """Write pages/gold/gazetteer parquet under ``out_dir`` (bench input)."""
    pages, gold, gaz = distributed_corpus(spark, n_pages, seed, noise)
    pages.write.mode("overwrite").parquet(f"{out_dir}/pages.parquet")
    gold.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/gold.parquet")
    gaz.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/gazetteer.parquet")
