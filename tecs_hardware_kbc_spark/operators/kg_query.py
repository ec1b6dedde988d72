"""Querying and mining the constructed knowledge graph.

Once the pipeline has fused and resolved a triple table, two things a
KG user does next are (a) ask conjunctive queries over it — the SPARQL
basic-graph-pattern shape, "find every (?part, ?maker, ?country) such
that made_by(?part, ?maker) ∧ located_in(?maker, ?country)" — and
(b) mine the regularities the graph itself exhibits, AMIE-style horn
rules r1(x,y) ∧ r2(y,z) ⇒ r3(x,z) with support and confidence, the
standard KB-completion signal. The reference stops at a flat scored
triple CSV plus ``compare-kb`` set algebra (``hack/opamps/
analysis.py``); these operators give the table a query surface.

Spark-first shape, following the S2RDF / SPARQLGX line of work: a BGP
is nothing but self-joins over the triple table, so ``match_bgp``
compiles patterns to filtered scans joined on shared variables and
lets Catalyst do the rest. Join ORDER is the one decision Catalyst
cannot make for us before stats exist, so patterns are greedily
ordered most-constants-first and then connectivity-first (never join
two scans with no shared variable unless the BGP is genuinely
disconnected) — constants prune via the pred-partitioned triple sink
(``plans/snapshots.py`` partitions by pred, so a constant-predicate
pattern is a partition-pruned scan at 100 TB, the classic vertical-
partitioning win).

``mine_path_rules`` is one obj=subj self-join (the path body), one
join against the table as rule heads, and map-side-combinable
groupBys — never an all-pairs product. The mid-variable y of a path
x -r1-> y -r2-> z is the skew axis (a hub entity referenced by 100k
subjects makes a quadratic bucket); ``max_mid_degree`` drops hub mids
loudly by a degree predicate, the same hot-key guard as
``dedup.py``'s shingle df-cap and ``fusion.related_subjects``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

#: Variables in a triple pattern start with '?'; anything else is a
#: constant matched by equality.
_VAR = "?"


def _is_var(term: str) -> bool:
    return term.startswith(_VAR)


def _pattern_vars(pat: tuple[str, str, str]) -> set[str]:
    return {t for t in pat if _is_var(t)}


def predicate_stats(triples: DataFrame) -> DataFrame:
    """VoID-style property-partition statistics over a triple table:
    one row per predicate with ``n_triples``, ``n_subj`` (distinct
    subjects) and ``n_obj`` (distinct objects) — the cardinalities a
    SPARQL optimizer estimates pattern sizes from. One map-side-
    combinable groupBy; #preds rows, safe to collect and broadcast."""
    return triples.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"))


def _estimate_card(pat: tuple[str, str, str],
                   stats: dict[str, tuple[int, int, int]],
                   total: float) -> float:
    """Estimated result size of one pattern under independence: the
    predicate's triple count (``total`` for a variable predicate),
    divided by its distinct-subject count when the subject is constant
    and by its distinct-object count when the object is constant —
    the textbook |p| / V(p, col) uniform estimate."""
    subj, pred, obj = pat
    if _is_var(pred):
        n_triples = n_subj = n_obj = total
    elif pred in stats:
        n_triples, n_subj, n_obj = stats[pred]
    else:
        return 0.0                         # unknown predicate: empty
    est = float(n_triples)
    if not _is_var(subj):
        est /= max(float(n_subj), 1.0)
    if not _is_var(obj):
        est /= max(float(n_obj), 1.0)
    return est


def _order_patterns(patterns: list[tuple[str, str, str]],
                    stats: dict[str, tuple[int, int, int]] | None = None,
                    ) -> list[tuple[str, str, str]]:
    """Greedy selectivity order: seed with the most selective pattern,
    then repeatedly take the most selective pattern that shares a bound
    variable (connectivity beats selectivity — a shared-var join is a
    hash join, a var-free pairing is a cartesian product). Without
    ``stats``, selectivity is the constant count (more constants =
    smaller scan); with ``stats`` (pred → (n_triples, n_subj, n_obj)),
    it is the estimated cardinality of ``_estimate_card``. Ties break
    on original position, so the order is deterministic."""
    idx = list(range(len(patterns)))
    if stats is None:
        keys = [(len(_pattern_vars(p)) - 3, i)
                for i, p in enumerate(patterns)]
    else:
        total = float(sum(s[0] for s in stats.values()))
        keys = [(_estimate_card(p, stats, total), i)
                for i, p in enumerate(patterns)]
    remaining = sorted(idx, key=lambda i: keys[i])
    out = [remaining.pop(0)]
    bound = set(_pattern_vars(patterns[out[0]]))
    while remaining:
        connected = [i for i in remaining
                     if _pattern_vars(patterns[i]) & bound]
        pick = min(connected or remaining, key=lambda i: keys[i])
        remaining.remove(pick)
        out.append(pick)
        bound |= _pattern_vars(patterns[pick])
    return [patterns[i] for i in out]


def match_bgp(triples: DataFrame,
              patterns: list[tuple[str, str, str]],
              subj_col: str = "subj", pred_col: str = "pred",
              obj_col: str = "obj",
              stats: DataFrame | dict | None = None,
              optional: list[list[tuple[str, str, str]]] | None = None,
              filters: list[str] | None = None) -> DataFrame:
    """Evaluate a SPARQL-style basic graph pattern against a triple
    table: each pattern is ``(subj, pred, obj)`` where terms starting
    with ``?`` are variables and everything else is a constant. Returns
    one column per distinct variable (named without the ``?``), one row
    per binding (duplicates preserved — wrap in ``.distinct()`` for
    SPARQL's DISTINCT).

    Each pattern compiles to a filtered scan of ``triples`` (constants
    become equality predicates, pushed to the source by Catalyst;
    a constant predicate prunes partitions of the pred-partitioned
    triple sink). Scans join inner on shared variables in the greedy
    order of ``_order_patterns``. A variable repeated WITHIN one
    pattern (``(?x, 'likes', ?x)``) becomes a self-equality filter.
    An all-constant pattern contributes an existence check (semantics
    of SPARQL ASK folded into the conjunction): it joins as a 0-or-1
    row scan, so a missing fact empties the result.

    ``stats`` upgrades the constant-count join-order heuristic to
    cardinality estimates: pass ``predicate_stats(triples)`` (or its
    collected dict ``pred → (n_triples, n_subj, n_obj)``). The stats
    table is #preds rows — collecting it is O(vocabulary), not O(data)
    — and at 100 TB it is computed once per table version and reused
    across every query, exactly VoID's role.

    ``optional`` is a list of OPTIONAL groups, each itself a list of
    patterns: the group evaluates as its own BGP and LEFT-joins onto
    the required result on their shared variables (unmatched rows keep
    NULL for the group's new variables — SPARQL's OPTIONAL). Each
    group must share at least one variable with the required patterns;
    a var-free optional would be a cartesian product and is rejected.
    ``filters`` is a list of SQL boolean expressions over the variable
    columns (SPARQL FILTER), applied after all joins — note SQL
    NULL semantics, so a filter on an optional variable drops the
    unmatched rows unless it explicitly handles NULL.
    """
    if not patterns:
        raise ValueError("empty basic graph pattern")
    if isinstance(stats, DataFrame):
        stats = {r["pred"]: (r["n_triples"], r["n_subj"], r["n_obj"])
                 for r in stats.collect()}
    cols = {subj_col: 0, pred_col: 1, obj_col: 2}
    result = _eval_bgp(triples, patterns, cols, stats)
    for group in optional or []:
        opt = _eval_bgp(triples, group, cols, stats)
        shared = sorted(set(result.columns) & set(opt.columns))
        if not shared:
            raise ValueError(
                f"OPTIONAL group {group} shares no variable with the "
                "required patterns (var-free optional = cartesian)")
        result = result.join(opt, on=shared, how="left")
    for expr in filters or []:
        result = result.filter(F.expr(expr))
    return result


def _eval_bgp(triples: DataFrame, patterns: list[tuple[str, str, str]],
              cols: dict[str, int],
              stats: dict | None) -> DataFrame:
    """Core conjunctive evaluation of one pattern group (see
    ``match_bgp``)."""
    result = None
    for pat in _order_patterns(patterns, stats):
        if len(pat) != 3:
            raise ValueError(f"triple pattern must have 3 terms: {pat}")
        scan = triples
        proj, seen = [], {}
        for col, i in cols.items():
            term = pat[i]
            if _is_var(term):
                name = term[1:]
                if not name:
                    raise ValueError(f"bare '?' variable in {pat}")
                if name in seen:            # repeated var in one pattern
                    scan = scan.filter(F.col(col) == F.col(seen[name]))
                else:
                    seen[name] = col
                    proj.append(F.col(col).alias(name))
            else:
                scan = scan.filter(F.col(col) == F.lit(term))
        scan = scan.select(*proj) if proj else scan.select().limit(1)
        if result is None:
            result = scan
        else:
            shared = sorted(set(result.columns) & set(scan.columns))
            result = (result.join(scan, on=shared, how="inner")
                      if shared else result.crossJoin(scan))
    return result


def reachability(edges: DataFrame, max_hops: int = 3,
                 src_col: str = "subj", dst_col: str = "obj"
                 ) -> DataFrame:
    """Bounded-depth transitive closure — the SPARQL property-path
    ``p{1,K}`` shape: (src, dst, hops) with ``hops`` the MINIMUM hop
    count ≤ ``max_hops`` from src to dst. Cycle-safe by construction:
    each BFS round anti-joins the already-reached pair set, so a pair
    enters the result exactly once, at its shortest depth, and a cycle
    stops contributing the moment it stops discovering new pairs.

    Scale shape: per round, one dst=src hash join of the FRONTIER
    (new pairs only, never the accumulated closure) against the edge
    table + one anti-join against the closure so far; the closure is
    localCheckpoint'ed per round — without it round k's plan replays
    rounds 1..k-1 (the ``pagerank_fixed_point`` lesson). Unbounded
    closure over a web-scale graph is a different algorithm (CC /
    semi-naive Datalog); this operator is for the small-K path
    queries a KG serves.
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"))
         .distinct().cache())
    reach = e.withColumn("hops", F.lit(1)).localCheckpoint(eager=True)
    frontier = reach
    for h in range(2, max_hops + 1):
        if frontier.isEmpty():
            break
        nxt = (frontier.alias("f")
               .join(e.alias("n"), F.col("f.dst") == F.col("n.src"))
               .select(F.col("f.src").alias("src"),
                       F.col("n.dst").alias("dst"))
               .distinct()
               .join(reach.select("src", "dst"), on=["src", "dst"],
                     how="left_anti")
               .withColumn("hops", F.lit(h))
               .localCheckpoint(eager=True))   # frontier AND union leg
        reach = reach.unionByName(nxt)         # union of checkpoints
        frontier = nxt
    return reach


def infer_types(triples: DataFrame, type_pred: str = "type",
                subclass_pred: str = "subclass_of",
                max_depth: int = 8) -> DataFrame:
    """RDFS entailment for the type hierarchy — materialize what rules
    rdfs9 + rdfs11 entail: if x type C and C subclass_of* D then
    x type D. Returns (subj, type, depth) where depth is the number of
    subclass hops from the ASSERTED class (0 = asserted directly) —
    the provenance a downstream consumer needs to prefer specific
    types over inherited ones.

    Shape: the class hierarchy is schema-sized (thousands of classes,
    not billions), so its bounded transitive closure via
    ``reachability`` is cheap and the closure BROADCASTS into one join
    against the instance-sized type assertions — the entity table
    never shuffles. ``max_depth`` bounds pathological hierarchies;
    cycles (C subclass_of* C) are safe per ``reachability`` and yield
    the minimum-hop depth. Duplicate derivations of the same (subj,
    type) keep the SMALLEST depth — the most direct justification."""
    classes = (triples.filter(F.col("pred") == subclass_pred)
               .select("subj", "obj"))
    closure = reachability(classes, max_hops=max_depth,
                           src_col="subj", dst_col="obj")
    asserted = (triples.filter(F.col("pred") == type_pred)
                .select("subj", F.col("obj").alias("type"))
                .distinct())
    direct = asserted.withColumn("depth", F.lit(0))
    inherited = (asserted
                 .join(F.broadcast(closure),
                       asserted.type == closure.src)
                 .select(asserted.subj, F.col("dst").alias("type"),
                         F.col("hops").alias("depth")))
    return (direct.unionByName(inherited)
            .groupBy("subj", "type")
            .agg(F.min("depth").alias("depth")))


def mine_path_rules(triples: DataFrame, min_support: int = 2,
                    max_mid_degree: int | None = None,
                    prob_decimals: int = 6) -> DataFrame:
    """AMIE-style mining of length-2 path rules
    ``r1(x, y) ∧ r2(y, z) ⇒ r3(x, z)`` over a (subj, pred, obj) triple
    table. Returns one row per rule with:

    - ``support``  — #distinct (x, z) pairs satisfying body AND head;
    - ``n_body``   — #distinct (x, z) pairs satisfying the body;
    - ``confidence``     — support / n_body (standard confidence);
    - ``pca_confidence`` — support / #body pairs whose x asserts ANY
      r3 fact — AMIE's partial-completeness assumption, the score
      that does not punish a rule for the KB's own incompleteness.

    Shape: triples are deduped once; the body is ONE self-join on
    obj = subj (shuffle on the mid entity y); heads and the PCA
    denominator are joins against the deduped table's (subj, pred[,
    obj]) projections; all three counts are map-side-combinable
    groupBys on (r1, r2[, r3]). ``max_mid_degree`` drops mid entities
    whose total degree (in + out) exceeds the cap BEFORE the self-join —
    the hub guard (see module docstring); at 100 TB also enable AQE
    skew-join for the residual skew under the cap.
    """
    t = triples.select("subj", "pred", "obj").distinct()
    left, right = t, t
    if max_mid_degree is not None:
        hot = (t.select(F.col("obj").alias("_mid"))
               .unionByName(t.select(F.col("subj").alias("_mid")))
               .groupBy("_mid").agg(F.count(F.lit(1)).alias("_deg"))
               .filter(F.col("_deg") > max_mid_degree)
               .select("_mid"))
        left = t.join(F.broadcast(hot), t.obj == hot._mid,
                      "left_anti")
        right = t.join(F.broadcast(hot), t.subj == hot._mid,
                       "left_anti")
    body = (left.select(F.col("subj").alias("x"),
                        F.col("pred").alias("r1"),
                        F.col("obj").alias("y"))
            .join(right.select(F.col("subj").alias("y"),
                               F.col("pred").alias("r2"),
                               F.col("obj").alias("z")), on="y")
            .select("x", "r1", "r2", "z").distinct())
    heads = t.select(F.col("subj").alias("x"),
                     F.col("pred").alias("r3"),
                     F.col("obj").alias("z"))
    supp = (body.join(heads, on=["x", "z"])
            .groupBy("r1", "r2", "r3")
            .agg(F.count(F.lit(1)).alias("support")))
    n_body = body.groupBy("r1", "r2").agg(
        F.count(F.lit(1)).alias("n_body"))
    pca = (body.join(heads.select("x", "r3").distinct(), on="x")
           .groupBy("r1", "r2", "r3")
           .agg(F.count(F.lit(1)).alias("_n_pca")))
    return (supp.filter(F.col("support") >= min_support)
            .join(n_body, on=["r1", "r2"])
            .join(pca, on=["r1", "r2", "r3"])
            .select(
                "r1", "r2", "r3", "support", "n_body",
                F.round(F.col("support") / F.col("n_body"),
                        prob_decimals).alias("confidence"),
                F.round(F.col("support") / F.col("_n_pca"),
                        prob_decimals).alias("pca_confidence")))


_BGP_AGGS = {
    "count": lambda c: F.count(c),
    "count_distinct": lambda c: F.count_distinct(c),
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    # SPARQL SAMPLE() may return any binding; a deterministic engine
    # must pin one — the lexicographic minimum, same rule both engines.
    "sample": F.min,
    # SPARQL GROUP_CONCAT has no defined order either; sort the
    # bindings so the string is deterministic under any partitioning.
    "group_concat": lambda c: F.array_join(
        F.array_sort(F.collect_list(c)), ";"),
    "group_concat_distinct": lambda c: F.array_join(
        F.array_sort(F.collect_set(c)), ";"),
}


def group_bgp(triples: DataFrame,
              patterns: list[tuple[str, str, str]],
              group_vars: list[str],
              aggs: list[tuple[str, str, str]],
              having: str | None = None,
              order_by: list[str] | None = None,
              limit: int | None = None,
              **match_kwargs) -> DataFrame:
    """SPARQL 1.1 solution-group aggregation over a basic graph
    pattern: ``SELECT ?g (AGG(?v) AS ?alias) WHERE {...} GROUP BY ?g
    HAVING ... ORDER BY ... LIMIT n``.

    ``aggs`` entries are ``(fn, var, alias)`` with fn one of
    count / count_distinct / sum / min / max / avg / sample /
    group_concat / group_concat_distinct; ``var = "*"`` with count is
    ``COUNT(*)``. Where the SPARQL spec leaves the result
    implementation-defined (SAMPLE's choice of binding, GROUP_CONCAT's
    order), this engine pins the deterministic reading — lexicographic
    min / sorted concatenation — so results are reproducible under any
    partitioning and replayable in SQL.

    Shape: the BGP joins of ``match_bgp`` followed by ONE
    map-side-combinable groupBy on the group variables; HAVING is a
    post-aggregation filter; ORDER BY + LIMIT compiles to Spark's
    TakeOrdered (per-partition top-n + driver merge of n·#partitions
    rows — never a global sort), which is the 100 TB-safe reading of
    SPARQL's solution modifiers. Callers wanting deterministic LIMIT
    must make the ordering total (e.g. tiebreak on a key column)."""
    sol = match_bgp(triples, patterns, **match_kwargs)
    exprs = []
    for fn, var, alias in aggs:
        if fn not in _BGP_AGGS:
            raise ValueError(f"unknown aggregate {fn!r}")
        if var == "*":
            if fn != "count":
                raise ValueError(f"'*' only valid with count, got {fn}")
            exprs.append(F.count(F.lit(1)).alias(alias))
        else:
            exprs.append(_BGP_AGGS[fn](F.col(var.lstrip("?")))
                         .alias(alias))
    if not exprs:
        raise ValueError("at least one aggregate required")
    out = sol.groupBy(*[v.lstrip("?") for v in group_vars]).agg(*exprs)
    if having:
        out = out.filter(F.expr(having))
    if order_by:
        keys = []
        for e in order_by:
            parts = e.rsplit(None, 1)
            if len(parts) == 2 and parts[1].upper() in ("ASC", "DESC"):
                col = F.expr(parts[0])
                keys.append(col.desc() if parts[1].upper() == "DESC"
                            else col.asc())
            else:
                keys.append(F.expr(e))
        out = out.orderBy(*keys)
    if limit is not None:
        out = out.limit(limit)
    return out


def construct(triples: DataFrame,
              patterns: list[tuple[str, str, str]],
              templates: list[tuple[str, str, str]],
              distinct: bool = True,
              **match_kwargs) -> DataFrame:
    """SPARQL CONSTRUCT: evaluate the WHERE clause as a basic graph
    pattern and instantiate each template triple once per solution —
    the standard way to DERIVE new graph from old (view materialization,
    ontology mapping, rule application). Template terms are ``?var``
    (must be bound by the patterns) or constants; solutions binding a
    template variable to NULL (possible via OPTIONAL) are skipped for
    that template, per the spec. Returns (subj, pred, obj),
    deduplicated by default (CONSTRUCT builds a GRAPH — a set).

    Shape: the BGP joins, then one projection per template unioned —
    no further shuffle until the final distinct. Materializing a
    derived view this way is a single pass at any scale."""
    sol = match_bgp(triples, patterns, **match_kwargs)
    outs = []
    for tpl in templates:
        if len(tpl) != 3:
            raise ValueError(f"template must have 3 terms: {tpl}")
        cols, guards = [], []
        for term, alias in zip(tpl, ("subj", "pred", "obj")):
            if _is_var(term):
                name = term[1:]
                if name not in sol.columns:
                    raise ValueError(
                        f"template var ?{name} not bound by the patterns")
                cols.append(F.col(name).alias(alias))
                guards.append(F.col(name).isNotNull())
            else:
                cols.append(F.lit(term).alias(alias))
        t = sol
        for g in guards:
            t = t.filter(g)
        outs.append(t.select(*cols))
    if not outs:
        raise ValueError("at least one template required")
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.distinct() if distinct else out
