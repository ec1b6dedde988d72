"""Web link-graph construction + deterministic PageRank.

A web-scale KBC loop ranks its crawl: link structure decides which
pages are worth re-crawling, which domains seed the frontier, and which
extracted triples inherit authority from their source page. The
reference operates on a pre-ranked crawl slice; this module builds the
two operators that produce such a slice from raw pages:

* ``extract_links`` — harvest ``<a href>`` anchors out of an HTML
  column and resolve them into a canonical ``(src, dst)`` edge list,
  entirely as column expressions (Java-regex/RE2-common syntax, so the
  ``web_links`` driver entry replays every rule in DuckDB). Handles the
  four href shapes a crawler meets: absolute, protocol-relative
  (``//host/p``), root-relative (``/p``), and document-relative
  (``p.html`` against the page's directory). Fragments-only and
  non-http(s) schemes (mailto:, javascript:) are dropped; both
  endpoints go through ``urls.canonicalize_url`` so tracking-param /
  case / default-port variants of one page collapse to one node.

* ``pagerank_fixed_point`` — the classic power iteration
  (Brin & Page 1998) with EXACT integer arithmetic, the same
  cross-engine-replay design as ``clustering.kmeans_fixed_point``:
  ranks live on a fixed-point grid (``scale`` units of total mass),
  a node's outflow share is ``rank // out_degree``, dangling mass is
  redistributed uniformly, and the damping update is

      rank'(v) = ((100-d)*(scale//N) + d*(inflow(v) + dang//N)) // 100

  with ``d`` an integer percent. Every quantity is a non-negative
  long, every sum is associative, and every division is integral —
  so the whole training run (not just the final ranks) replays
  bit-for-bit in any SQL engine (see the ``web_pagerank`` driver
  entry, which unrolls all iterations as chained DuckDB CTEs).
  Floor losses mean total mass decays by a few units per iteration;
  that costs nothing for ranking and buys exact replay.

Scale shape: ``extract_links`` is one narrow projection + one explode
(output rows = anchors, never more) + one distinct keyed by the edge.
PageRank per iteration = one join of edges against ranks on ``src``
(bucket/pre-partition both by the node key and the join is co-located;
the edge table is cached once and reused every iteration) + one
map-combined ``groupBy(dst)`` + one O(1) driver scalar (the dangling
sum — same O(iters) driver state as k-means' centroid stats). No
global sorts, no driver loops over rows, no all-pairs anything.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from tecs_hardware_kbc_spark.functions.columns import let

from tecs_hardware_kbc_spark.operators.urls import (
    canonicalize_url, url_host)

# href attribute of an anchor tag; group 1 = the raw target. Single- or
# double-quoted, first href per tag, stops at the closing quote.
HREF_RGX = r'<a\s[^>]*href\s*=\s*["\']([^"\']+)["\']'

DEFAULT_SCALE = 1_000_000_000_000  # total rank mass, in integer units
DEFAULT_DAMPING_PCT = 85           # d as an integer percent


def _idiv(a: Column, b: Column) -> Column:
    """Exact integral division for non-negative longs.

    (a - a % b) is exactly divisible by b, both operands are exact in
    double below 2^53, and IEEE division is correctly rounded, so the
    quotient is exact. Callers keep a < 2^53 (DEFAULT_SCALE * 100 =
    1e14 < 9e15, with margin)."""
    return ((a - F.pmod(a, b)) / b).cast("long")


def resolve_href(page_url: Column, href: Column) -> Column:
    """Absolute URL for one raw href against its page URL (NULL for
    fragment-only or non-http(s) targets)."""
    scheme = F.lower(F.regexp_extract(page_url, r"^([a-zA-Z][\w+.-]*)://", 1))
    host = url_host(page_url)
    # directory of the page path, always ending in '/'
    path = F.regexp_extract(page_url, r"^[a-zA-Z][\w+.-]*://[^/?#]+([^?#]*)",
                            1)
    dir_ = F.regexp_replace(F.when(path == "", F.lit("/")).otherwise(path),
                            r"[^/]*$", "")
    origin = F.concat(scheme, F.lit("://"), host)
    h = F.trim(href)
    is_abs = h.rlike(r"^[a-zA-Z][\w+.-]*://")
    abs_scheme = F.lower(F.regexp_extract(h, r"^([a-zA-Z][\w+.-]*)://", 1))
    return (
        F.when(h.rlike(r"^#") | (h == ""), F.lit(None).cast("string"))
        .when(is_abs & ~abs_scheme.isin("http", "https"),
              F.lit(None).cast("string"))
        .when(is_abs, h)
        .when(h.rlike(r"^//"), F.concat(scheme, F.lit(":"), h))
        .when(h.rlike(r"^/"), F.concat(origin, h))
        .when(h.rlike(r"^(mailto|javascript|tel|data):"),
              F.lit(None).cast("string"))
        .otherwise(F.concat(origin, dir_, h)))


def extract_links(pages: DataFrame, url_col: str = "url",
                  html_col: str = "html",
                  drop_self_loops: bool = True) -> DataFrame:
    """Canonical (src, dst) edge list from an HTML page table.

    One projection (regexp_extract_all pulls every anchor target into
    an array) + one explode + one distinct on the edge key. Both
    endpoints are canonicalized, so the node space matches
    ``urls.canonicalize_url`` keys used everywhere else in the crawl
    loop."""

    raw = pages.select(
        canonicalize_url(F.col(url_col)).alias("src"),
        F.explode(F.regexp_extract_all(F.col(html_col),
                                       F.lit(HREF_RGX), F.lit(1)))
        .alias("href"),
        F.col(url_col).alias("_page"))
    # let-bind the resolved href: canonicalize_url references its
    # argument ~15 times inside CASE WHEN branches, and codegen's
    # subexpression elimination does not hoist subtrees nested under
    # conditionals — composed directly, the whole resolve_href regex
    # chain re-ran once per branch (measured 6.8s -> 1.3s for the 253k-
    # edge harvest at the 50k-page probe, local[32])
    edges = raw.select(
        "src",
        let(resolve_href(F.col("_page"), F.col("href")),
             lambda r: canonicalize_url(r))
        .alias("dst")).filter(F.col("dst").isNotNull())
    if drop_self_loops:
        edges = edges.filter(F.col("src") != F.col("dst"))
    return edges.distinct()


def pagerank_fixed_point(edges: DataFrame, iters: int = 3,
                         damping_pct: int = DEFAULT_DAMPING_PCT,
                         scale: int = DEFAULT_SCALE) -> DataFrame:
    """Deterministic PageRank over a (src, dst) edge list.

    Returns (node, rank) with ``rank`` an exact long on the
    ``scale``-unit grid — identical rows from any engine replaying the
    same chain (see module docstring for the update rule). Dangling
    nodes (no out-links) spread their mass uniformly; duplicate edges
    should be pre-deduped (``extract_links`` already is).

    Plan shape (r6, guide §2.4): the out-degree is attached to the node
    table ONCE (the old per-iteration ranks-deg join is gone) and the
    edge list is cached hash-partitioned AND sorted on ``src`` — the
    layout the per-iteration join wants — so each power iteration pays
    exactly one Exchange (the dst-keyed inflow aggregation, map-side
    combined). ``share`` inherits the node partitioning of the
    checkpointed ranks through the alias, and the inflow table comes
    out of its groupBy already hash(dst)-partitioned for the rank
    update join. Ranks are O(#nodes) and never collected; the dangling
    mass stays an O(1) driver scalar per iteration."""
    e = (edges.select(F.col("src"), F.col("dst"))
         .repartition("src").sortWithinPartitions("src").cache())
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    nd = (e.select(F.col("src").alias("node"))
          .union(e.select(F.col("dst").alias("node")))
          .distinct()
          .join(deg, F.col("node") == deg["src"], "left")
          .select("node", "out_deg")
          .localCheckpoint(eager=True))
    n_nodes = nd.count()
    base = scale // n_nodes
    d, rem = int(damping_pct), 100 - int(damping_pct)

    ranks = nd.select("node", "out_deg",
                      F.lit(base).cast("long").alias("rank"))
    for _ in range(iters):
        # one materialization per iteration (values unchanged): the
        # dangling scalar and the shares both read it, and without a
        # checkpoint the next round's plan re-executes every prior
        # round — O(iters^2)
        ranks = ranks.localCheckpoint(eager=True)
        # O(1) driver scalar per iteration: total rank of dangling nodes
        dang = ranks.filter(F.col("out_deg").isNull()) \
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("s")) \
            .collect()[0]["s"]
        share = ranks.filter(F.col("out_deg").isNotNull()).select(
            F.col("node").alias("src"),
            _idiv(F.col("rank"), F.col("out_deg")).alias("share"))
        inflow = (e.join(share, "src")
                  .groupBy("dst").agg(F.sum("share").alias("inflow")))
        dang_per = int(dang) // n_nodes
        ranks = nd.join(inflow, nd["node"] == inflow["dst"], "left") \
            .select(
                "node", "out_deg",
                _idiv(F.lit(rem * base)
                      + F.lit(d) * (F.coalesce(F.col("inflow"), F.lit(0))
                                    + F.lit(dang_per)),
                      F.lit(100)).alias("rank"))
    return ranks.select("node", "rank")


# full anchor tag; group 1 = href target, group 2 = the anchor text
ANCHOR_RGX = r'<a\s[^>]*href\s*=\s*["\']([^"\']+)["\'][^>]*>([^<]*)</a>'


def extract_anchor_texts(pages: DataFrame, url_col: str = "url",
                         html_col: str = "html") -> DataFrame:
    """(dst, anchor_text) pairs — the link-text relevance signal (what
    OTHER pages call a URL names the entity behind it better than the
    page itself; search engines and KG entity-naming both lean on it).

    Same shape as ``extract_links``: one projection pulls every full
    anchor tag into an array, a transform splits each tag into
    (href, text) WITHOUT a second scan of the page, then one explode.
    Text is whitespace-normalized and lowercased; empty texts and
    unresolvable targets drop."""
    tags = pages.select(
        F.col(url_col).alias("_page"),
        F.explode(F.regexp_extract_all(F.col(html_col),
                                       F.lit(ANCHOR_RGX), F.lit(0)))
        .alias("tag"))
    parsed = tags.select(
        "_page",
        F.regexp_extract("tag", ANCHOR_RGX, 1).alias("href"),
        F.trim(F.regexp_replace(
            F.lower(F.regexp_extract("tag", ANCHOR_RGX, 2)),
            r"\s+", " ")).alias("anchor_text"))

    return (parsed
            .select(let(resolve_href(F.col("_page"), F.col("href")),
                         lambda r: canonicalize_url(r)).alias("dst"),
                "anchor_text")
            .filter(F.col("dst").isNotNull() & (F.col("anchor_text") != ""))
            .distinct())


def frontier_batch(edges: DataFrame, ranks: DataFrame,
                   max_per_domain: int = 100) -> DataFrame:
    """Next crawl batch: uncrawled URLs ranked by the PageRank mass
    their in-links carry, capped per registered domain.

    ``edges`` is the (src, dst) link table; a node is CRAWLED iff it
    appears as a src (we parsed its page), so the frontier is the
    dangling set. Each frontier URL scores the exact integer inflow it
    would receive in the next power iteration (rank(src) // out_deg
    summed over its in-links — reuses ``ranks`` from
    ``pagerank_fixed_point``), and a per-domain row_number over
    (score desc, url) enforces politeness caps the way
    ``urls.domain_cap`` does for documents.

    One src-keyed join + one dst-keyed aggregation + one window keyed
    by domain — a hot domain costs one window partition, never a
    join explosion."""
    from pyspark.sql.window import Window
    from tecs_hardware_kbc_spark.operators.urls import registered_domain

    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    share = ranks.join(deg, ranks.node == deg.src).select(
        "src", _idiv(F.col("rank"), F.col("out_deg")).alias("share"))
    crawled = edges.select("src").distinct()
    frontier = (edges.join(crawled.withColumnRenamed("src", "dst"),
                           "dst", "left_anti")
                .join(share, "src")
                .groupBy("dst").agg(F.sum("share").alias("score")))
    d = frontier.select(
        F.col("dst").alias("url"), "score",
        registered_domain(url_host(F.col("dst"))).alias("domain"))
    w = Window.partitionBy("domain").orderBy(F.desc("score"), "url")
    return (d.withColumn("domain_rank", F.row_number().over(w))
            .filter(F.col("domain_rank") <= max_per_domain))


def degree_stats(edges: DataFrame) -> DataFrame:
    """(node, out_deg, in_deg) for every node in the edge list — the
    cheap first look at a crawl graph (hub/authority shape, dangling
    count). Two map-combined aggregations + one outer join on the node
    key."""
    out_d = edges.groupBy(F.col("src").alias("node")) \
        .agg(F.count("*").alias("out_deg"))
    in_d = edges.groupBy(F.col("dst").alias("node")) \
        .agg(F.count("*").alias("in_deg"))
    return (out_d.join(in_d, "node", "full")
            .select("node",
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg")))


def undirect(edges: DataFrame) -> DataFrame:
    """(a, b) with a < b: the simple undirected graph underlying a
    directed edge list — reciprocal links collapse to one edge,
    self-loops drop. One distinct keyed by the normalized pair."""
    a = F.least("src", "dst")
    b = F.greatest("src", "dst")
    return (edges.select(a.alias("a"), b.alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct())


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(node, deg, tri, coeff): per-node triangle count and local
    clustering coefficient over the undirected simple graph of
    ``edges``.

    Degree-ordered node-iterator (Cohen 2009 / Suri-Vassilvitskii
    2011): orient every undirected edge from its lower-(deg, id)
    endpoint to the higher, self-join the oriented list on the source
    to enumerate wedges, and close each wedge against the oriented
    edge list. The orientation is THE scale property — a degree-d hub
    would generate O(d^2) wedges under any naive pairing, but oriented
    out-degrees are bounded by O(sqrt(m)), so total wedge volume is
    O(m^1.5) regardless of skew (the web graph's hub tail is exactly
    where this bites). Three hash joins on node/pair keys, no
    cartesian anything; ``coeff = 2*tri / (deg*(deg-1))`` with an
    integer-exact numerator.
    """
    # und feeds the degree count and both sides of the orientation
    # join; ori feeds the wedge self-join twice plus the closing-edge
    # join — pin both so the upstream link harvest runs once, not 5x
    und = undirect(edges).localCheckpoint()
    deg = (und.select(F.col("a").alias("node"))
           .unionByName(und.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    # orient by (deg, node): lo -> hi
    e = (und
         .join(deg.withColumnRenamed("node", "a")
               .withColumnRenamed("deg", "_da"), "a")
         .join(deg.withColumnRenamed("node", "b")
               .withColumnRenamed("deg", "_db"), "b"))
    a_lo = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b")))
    ori = e.select(
        F.when(a_lo, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_lo, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(a_lo, F.col("_da")).otherwise(F.col("_db")).alias("_dl"),
        F.when(a_lo, F.col("_db")).otherwise(F.col("_da")).alias("_dh")
    ).localCheckpoint()
    # wedges at the lo corner: two out-neighbours x, y with x < y in
    # the SAME (deg, id) order, so each unordered pair appears once
    l_ = ori.select(F.col("lo").alias("w"), F.col("hi").alias("x"),
                    F.col("_dh").alias("_dx"))
    r_ = ori.select(F.col("lo").alias("w"), F.col("hi").alias("y"),
                    F.col("_dh").alias("_dy"))
    x_lo = (F.col("_dx") < F.col("_dy")) | (
        (F.col("_dx") == F.col("_dy")) & (F.col("x") < F.col("y")))
    wedges = (l_.join(r_, "w")
              .filter(x_lo)
              .select("w", "x", "y"))
    tri = wedges.join(
        ori.select(F.col("lo").alias("x"), F.col("hi").alias("y")),
        ["x", "y"])
    per_node = (tri.select(F.explode(F.array("w", "x", "y"))
                           .alias("node"))
                .groupBy("node").agg(F.count(F.lit(1)).alias("tri")))
    return (deg.join(per_node, "node", "left")
            .select("node", "deg",
                    F.coalesce("tri", F.lit(0)).alias("tri"))
            .withColumn(
                "coeff",
                F.when(F.col("deg") >= 2,
                       F.round(2.0 * F.col("tri")
                               / (F.col("deg")
                                  * (F.col("deg") - F.lit(1))), 6))
                .otherwise(F.lit(0.0))))


HITS_SCALE = 1_000_000_000  # see overflow bound in hits_fixed_point


def hits_fixed_point(edges: DataFrame, iters: int = 2,
                     scale: int = HITS_SCALE) -> DataFrame:
    """Deterministic HITS (Kleinberg 1999): (node, hub, auth) with both
    scores exact longs on the ``scale``-unit grid.

    Same cross-engine-replay discipline as ``pagerank_fixed_point``:
    the classic L2 normalization needs a sqrt, which no integer grid
    survives, so each half-step L1-normalizes instead —
    ``x' = x * scale // sum(x)`` — which preserves the ranking (HITS
    convergence does not depend on the norm chosen) and keeps every
    quantity a non-negative long. Edges must be pre-deduped (as
    ``extract_links`` output is, and as ``pagerank_fixed_point``
    already requires): the overflow bound below counts each
    counterpart's score ONCE per neighbor, so a multigraph input could
    push a raw sum past ``scale`` and silently wrap. Overflow bound on
    a simple edge list, independent of graph size: a node's raw
    half-step sum adds each counterpart's score at most once, so it is
    bounded by the TOTAL mass, which the L1 snap pins at <= ``scale``;
    hence the only multiplication satisfies
    ``x * scale <= scale^2 = 1e18 < 2^63`` (the reason the HITS grid
    is 1e9, not PageRank's 1e12 — PageRank never multiplies two
    mass-sized quantities). Update per iteration:

        auth(v) = sum of hub(u) over edges u -> v, then L1-snap
        hub(u)  = sum of auth(v) over edges u -> v, then L1-snap

    Per iteration: two node-keyed joins + two map-combined groupBys +
    two O(1) driver scalars (the L1 sums — the same O(iters) driver
    state as PageRank's dangling mass). Nodes with no in-links (or no
    out-links) hold score 0 after the first half-step, as in the
    reference formulation."""
    e = edges.select("src", "dst").cache()
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct().cache())
    n_nodes = nodes.count()
    hub = nodes.select(
        "node", F.lit(scale // n_nodes).cast("long").alias("hub"))
    auth = None
    for _ in range(iters):
        hub = hub.localCheckpoint(eager=True)
        a_raw = (e.join(hub.withColumnRenamed("node", "src"), "src")
                 .groupBy("dst").agg(F.sum("hub").alias("a")))
        a_sum = int(a_raw.agg(
            F.coalesce(F.sum("a"), F.lit(1)).alias("s"))
            .collect()[0]["s"]) or 1
        # SQL `div` (not _idiv): the product reaches scale^2 = 1e18,
        # past the 2^53 exactness window of _idiv's double path
        auth = (nodes
                .join(a_raw, nodes.node == a_raw.dst, "left")
                .select("node",
                        F.coalesce(F.col("a"), F.lit(0)).alias("_x"))
                .select("node",
                        F.expr(f"_x * {scale}L div {a_sum}L")
                        .alias("auth"))
                .localCheckpoint(eager=True))
        h_raw = (e.join(auth.withColumnRenamed("node", "dst"), "dst")
                 .groupBy("src").agg(F.sum("auth").alias("h")))
        h_sum = int(h_raw.agg(
            F.coalesce(F.sum("h"), F.lit(1)).alias("s"))
            .collect()[0]["s"]) or 1
        hub = (nodes
               .join(h_raw, nodes.node == h_raw.src, "left")
               .select("node",
                       F.coalesce(F.col("h"), F.lit(0)).alias("_x"))
               .select("node",
                       F.expr(f"_x * {scale}L div {h_sum}L")
                       .alias("hub")))
    return (hub.join(auth, "node")
            .select("node", "hub", "auth"))
