"""URL-level curation operators (the crawl-side half of web-text
curation: before any text filter runs, a crawl is cleaned at the URL
level).

* ``canonicalize_url`` — deterministic URL normalization: lowercase
  scheme/host, strip default ports and fragments, drop tracking query
  parameters (utm_*, fbclid/gclid/msclkid, ref), sort the surviving
  parameters. Two crawls of ``HTTP://Site.com:80/a?utm_source=x&b=1``
  and ``http://site.com/a?b=1`` collapse to the same key — the dedup
  prerequisite.
* ``url_host`` / ``registered_domain`` — host extraction and a
  documented public-suffix-list STAND-IN (last two labels, or three
  when the suffix is one of a small embedded two-level list such as
  co.uk). A PSL-equipped deployment swaps the suffix table; the
  operator shape (pure column expressions) is unchanged.
* ``domain_cap`` — at most ``max_per_domain`` documents per registered
  domain, chosen deterministically by key-hash order (NOT crawl order,
  which over-selects whatever the frontier hit first). One shuffle
  keyed by domain; per-partition state is a row_number, so a hot domain
  (a million pages of one forum) costs one window partition, never a
  join explosion.

Everything is pure column expressions over Java-regex/RE2-common
syntax, so the ``doc_url_canon`` / ``doc_domain_cap`` driver entries
hash-check each rule against a DuckDB replay.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F
from pyspark.sql.window import Window

from tecs_hardware_kbc_spark.functions.columns import let
from tecs_hardware_kbc_spark.operators.sampling import hash_u

# tracking parameters dropped by canonicalization (prefix match for
# utm_*, exact match otherwise)
TRACKING_PARAM_RGX = r"^(utm_[a-z]+|fbclid|gclid|msclkid|ref)="

# two-level public suffixes the registered-domain heuristic knows about
# (a deliberate PSL stand-in — see module docstring)
TWO_LEVEL_SUFFIXES = ["co.uk", "org.uk", "ac.uk", "com.au", "co.jp",
                      "co.in", "com.br", "co.nz", "com.cn", "co.kr"]

_URL_RGX = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)([^?#]*)\??([^#]*)#?.*$"


def url_host(url: Column) -> Column:
    """Lowercased host (authority minus port/userinfo)."""
    auth = F.lower(F.regexp_extract(url, _URL_RGX, 2))
    auth = F.regexp_extract(auth, r"^(?:[^@]*@)?(.*)$", 1)
    return F.regexp_extract(auth, r"^([^:]*)", 1)


def registered_domain(host: Column) -> Column:
    """Last two host labels, or three when the last two form a known
    two-level public suffix (co.uk et al. — the embedded PSL stand-in).
    An IP literal is returned whole. ``host`` is evaluated once (``let``):
    callers pass the composed ``url_host(url)`` expression."""
    def body(h: Column) -> Column:
        parts = F.split(h, r"\.")
        n = F.size(parts)
        last2 = F.array_join(
            F.slice(parts, F.greatest(n - 1, F.lit(1)), 2), ".")
        last3 = F.array_join(
            F.slice(parts, F.greatest(n - 2, F.lit(1)), 3), ".")
        is_ip = h.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
        two_level = F.array(*[F.lit(s) for s in TWO_LEVEL_SUFFIXES])
        return (F.when(is_ip | (n <= 2), h)
                .when(F.array_contains(two_level, last2), last3)
                .otherwise(last2))
    return let(host, body)


def canonicalize_url(url: Column) -> Column:
    """The canonical form of a URL (see module docstring for the rule
    set). Deterministic: rules apply in a fixed order and surviving
    query parameters are sorted, so equal-content URLs compare equal."""
    scheme = F.lower(F.regexp_extract(url, _URL_RGX, 1))
    host = url_host(url)
    port = F.regexp_extract(F.regexp_extract(url, _URL_RGX, 2),
                            r":(\d+)$", 1)
    path = F.regexp_extract(url, _URL_RGX, 3)
    query = F.regexp_extract(url, _URL_RGX, 4)

    default_port = ((scheme == "http") & (port == "80")) \
        | ((scheme == "https") & (port == "443"))
    port_part = F.when((port == "") | default_port, F.lit("")) \
        .otherwise(F.concat(F.lit(":"), port))

    params = F.when(query == "", F.array().cast("array<string>")) \
        .otherwise(F.split(query, "&"))
    kept = F.array_sort(
        F.filter(params, lambda p: ~F.lower(p).rlike(TRACKING_PARAM_RGX)))
    query_part = F.when(F.size(kept) > 0,
                        F.concat(F.lit("?"), F.array_join(kept, "&"))) \
        .otherwise(F.lit(""))

    path_part = F.when(path == "", F.lit("/")).otherwise(path)
    return F.concat(scheme, F.lit("://"), host, port_part, path_part,
                    query_part)


def domain_cap(docs: DataFrame, url_col: str = "url",
               id_col: str = "doc_id",
               max_per_domain: int = 1000,
               salt: str = "domain_cap") -> DataFrame:
    """Keep at most ``max_per_domain`` documents per registered domain,
    selected by deterministic key-hash order (ties on the hash broken by
    id). Returns (doc_id, domain, domain_rank) for the SURVIVORS —
    left-semi join it back against the corpus. One shuffle keyed by
    domain; survivors of a hot domain are the ``max_per_domain``
    smallest hashes, stable under re-execution and across engines."""
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        registered_domain(url_host(F.col(url_col))).alias("domain"),
        hash_u(F.col(id_col), salt).alias("_u"))
    w = Window.partitionBy("domain").orderBy("_u", "doc_id")
    return (d.withColumn("domain_rank", F.row_number().over(w))
            .filter(F.col("domain_rank") <= max_per_domain)
            .select("doc_id", "domain", "domain_rank"))
