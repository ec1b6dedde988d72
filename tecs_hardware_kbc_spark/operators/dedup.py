"""Deduplication operators for web-scale training-data pipelines.

Five families, all pure DataFrame plans (JVM hash functions only — the
hashes are md5-derived so a SQL oracle can reproduce them bit-for-bit):

* exact          — normalized-text hash groupBy (the canonical group also
                   feeds doc-alias canonicalization, see canonicalize.py);
* minhash + LSH  — shingle -> k minhashes -> banded buckets -> bucket join;
                   candidate pairs verified by signature similarity. The
                   scale path: no all-pairs join ever materializes;
* simhash        — sign-aggregated token fingerprint. Scale path =
                   ``simhash64`` + ``simhash_near_duplicates`` (4x16-bit
                   block banding, EXACT for hamming <= 3); the 16-bit
                   ``simhash``/``simhash_duplicates`` pair stays as the
                   compact oracle demo;
* n-gram jaccard — exact Jaccard over word shingles via a shingle-key
                   self-join (the verification path for small candidate
                   sets; quadratic only within shingle groups);
* embedding cosine — near-dup pairs over an embedding column, brute-force
                   (baseline) or via random-hyperplane LSH buckets (scale);
* decontaminate  — benchmark decontamination: flag training docs sharing
                   any word n-gram with an eval benchmark (broadcast the
                   benchmark's shingles; the corpus side never shuffles);
* paragraph_dedup — corpus-wide duplicate-paragraph removal (CCNet/C4
                   boilerplate killer): explode -> fingerprint window ->
                   rebuild, both shuffles keyed by hash-distributed keys.

At 10^12 docs: exact/minhash/simhash are one-or-two-shuffle plans keyed by
hash/bucket (never by document pair); frequency-capped shingles (``df_cap``)
keep hot shingles (boilerplate) from exploding the self-joins — the same
hot-key discipline as the candidate join (north_rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from tecs_hardware_kbc_spark.functions.columns import let


def norm_text(col) -> Column:
    """Dedup normalization: lowercase + whitespace collapse + trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def md5_u32(col, seed: int | None = None, chunk: int = 0) -> Column:
    """32 bits of md5 as an unsigned int (bigint), optionally seeded.
    ``chunk`` in 0..3 selects one of the four u32 words of the 128-bit
    digest — one md5 evaluation yields FOUR independent hashes, so a
    16-hash minhash signature costs 4 md5 calls, not 16. Reproducible in
    any SQL engine: ('0x' || substr(md5(x), 1+8*chunk, 8))::int."""
    if seed is not None:
        col = F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(F.md5(col), 1 + 8 * chunk, 8), 16, 10) \
        .cast("bigint")


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(doc_id, canonical_id, fingerprint): canonical = min id sharing the
    normalized-text md5. One shuffle on the fingerprint."""
    fp = docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(norm_text(F.col(text_col))).alias("fingerprint"),
    )
    canon = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("canonical_id"))
    return fp.join(canon, "fingerprint").select("doc_id", "canonical_id",
                                                "fingerprint")


def exact_keepers(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(doc_id) of the canonical member of every exact-dup group — the
    reduced form of ``exact_duplicates`` for keep-one-per-group
    consumers: the min-id-per-fingerprint aggregation IS the keeper
    set, so no join back against the mapping is needed (one shuffle,
    half the plan). Equivalence with exact_duplicates is pinned in
    tests."""
    return (docs.select(F.md5(norm_text(F.col(text_col))).alias("fp"),
                        F.col(id_col).alias("doc_id"))
            .groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"))


def paragraph_dedup(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    sep: str = "\n\n") -> DataFrame:
    """CORPUS-WIDE duplicate-paragraph removal (the CCNet/C4 move:
    boilerplate — nav bars, license blurbs, cookie banners — repeats
    across pages, so dedup at paragraph granularity, not document).

    Returns one row per input document: (doc_id, text_dedup,
    n_paras_kept) where ``text_dedup`` rejoins (with ``sep``) only the
    paragraphs whose normalized md5 fingerprint FIRST occurs in this
    document — first = smallest (doc_id, paragraph index), so the result
    is deterministic and every repeated paragraph survives exactly once
    corpus-wide. Documents whose every paragraph lost keep their row
    with empty text (let the downstream quality gate drop them — the
    funnel accounting stays row-attributable).

    Plan: posexplode -> row_number window keyed by the paragraph
    fingerprint -> re-group by doc_id. Two shuffles, BOTH keyed by
    high-cardinality hash-distributed keys (fingerprint, then doc_id) —
    never by document pair; at 100 TB the fingerprint shuffle is the
    same shape as exact dedup's and AQE handles the boilerplate hot
    fingerprints (millions of rows for one cookie banner) the same way
    the candidate join handles hot parts: they collapse to one surviving
    row per fingerprint at the window, not a join explosion."""
    from pyspark.sql import Window

    paras = (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.posexplode(F.split(F.col(text_col), sep))
                    .alias("idx", "para"))
        .filter(F.trim(F.col("para")) != "")
        .withColumn("fp", F.md5(norm_text(F.col("para"))))
    )
    w = Window.partitionBy("fp").orderBy("doc_id", "idx")
    kept = paras.withColumn("rn", F.row_number().over(w)) \
        .filter(F.col("rn") == 1)
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("idx", "para"))),
                        lambda s: s["para"]),
            sep).alias("text_dedup"),
        F.count("*").alias("n_paras_kept"))
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(rebuilt, "doc_id", "left")
        .select("doc_id",
                F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
                F.coalesce("n_paras_kept", F.lit(0)).alias("n_paras_kept"))
    )


def duplicate_span_starts(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          span_words: int = 8) -> DataFrame:
    """(doc_id, start) of every CORPUS-DUPLICATED ``span_words``-word span
    occurrence that is not the corpus-first occurrence of that span —
    the marking half of exact substring deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": their
    ExactSubstr removes repeated ~50-token byte ranges that doc-level
    minhash can't see, e.g. a licence block pasted into otherwise-unique
    pages). Suffix arrays don't distribute; a rolling window of md5'd
    word ``span_words``-grams over normalized text finds the same
    fixed-length repeats as a pure DataFrame plan.

    First occurrence = smallest (doc_id, start), so the survivor is
    deterministic and every duplicated span's text survives exactly once
    corpus-wide. Overlapping duplicated windows simply produce adjacent
    flagged starts; the removal half (``span_dedup``) unions their
    coverage, which is exactly the paper's "merge overlapping dup
    ranges".

    Plan: per-doc fingerprints are built INSIDE the words array (one
    transform + explode of narrow (start, fp) rows — the wide words
    array never rides through the explode), then one row_number window
    keyed by fp. One shuffle, keyed by a high-cardinality hash; hot
    spans (boilerplate repeated millions of times) collapse at the
    window like paragraph_dedup's — never a join explosion.

    The words array is ``let``-bound before the rolling window: a raw
    ``F.slice(words, ...)`` capture inside the transform lambda would
    re-evaluate the full split+normalize chain once PER SPAN START
    (Spark has no subexpression cache across lambda invocations),
    turning the fingerprint pass O(L^2) per document — measured 8.6x
    slower at sf1.0 (47.9s -> 5.6s query wall after the fix)."""
    from pyspark.sql import Window

    def _fps(ws):
        starts = F.when(
            F.size(ws) >= span_words,
            F.sequence(F.lit(0), F.size(ws) - span_words),
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            starts,
            lambda s: F.struct(
                s.cast("int").alias("start"),
                F.md5(F.array_join(F.slice(ws, s + 1, span_words), " "))
                .alias("fp")))

    span_fps = let(F.split(norm_text(F.col(text_col)), " "), _fps)
    occ = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(span_fps).alias("sp")
    ).select("doc_id", F.col("sp.start").alias("start"),
             F.col("sp.fp").alias("fp"))
    w = Window.partitionBy("fp").orderBy("doc_id", "start")
    return (occ.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") > 1)
            .select("doc_id", "start"))


def span_dedup(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", span_words: int = 8) -> DataFrame:
    """Exact substring deduplication (the removal half): cut every word
    position covered by a non-first duplicated ``span_words``-gram and
    rebuild the text. One row per input document: (doc_id, text_dedup,
    n_words, n_words_removed). A document that is an exact copy of an
    earlier one loses ALL its positions (text_dedup = '') — doc-level
    exact dedup is the degenerate case; partial paste-ins lose only the
    pasted range while the unique remainder survives, which is the whole
    point of span-level over doc-level dedup. Single pass, as in the
    reference recipe: removal can create new word adjacencies, which are
    NOT re-scanned.

    Plan: duplicate_span_starts (one fp-keyed shuffle) -> per-doc sorted
    cut list (one doc_id-keyed shuffle, reused by the join back) ->
    coverage test as an array HOF (position p is cut iff some start s in
    [p-span_words+1, p] is flagged). The HOF is O(words x cuts) per doc;
    cuts <= words - span_words + 1, and real-corpus cut lists are short
    — pathological all-boilerplate docs cost one row's worth of local
    CPU, never a shuffle."""
    dups = duplicate_span_starts(docs, id_col, text_col, span_words)
    cuts = dups.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("start")).alias("cut_starts"))
    base = docs.select(F.col(id_col).alias("doc_id"),
                       F.split(norm_text(F.col(text_col)), " ").alias("w"))
    joined = base.join(cuts, "doc_id", "left").select(
        "doc_id", "w",
        F.coalesce("cut_starts", F.array().cast("array<int>")).alias("cs"))
    idx = F.sequence(F.lit(0), F.size("w") - 1)
    kept = F.filter(idx, lambda p: ~F.exists(
        F.col("cs"), lambda s: (s <= p) & (p < s + F.lit(span_words))))
    return joined.select(
        "doc_id",
        F.array_join(F.transform(kept, lambda p: F.element_at("w", p + 1)),
                     " ").alias("text_dedup"),
        F.size("w").alias("n_words"),
        (F.size("w") - F.size(kept)).alias("n_words_removed"))


def word_shingles(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc — all JVM: split + transform
    over index sequence + explode."""
    words = F.split(norm_text(F.col(text_col)), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    shingles = F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, n), " "))
    )
    return docs.select(
        F.col(id_col).alias("doc_id"), F.explode(shingles).alias("shingle")
    ).dropDuplicates()


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  bench_id_col: str = "doc_id",
                  bench_text_col: str = "text",
                  n: int = 8) -> DataFrame:
    """Benchmark decontamination: one row per training document that
    shares at least one word ``n``-gram with the evaluation benchmark —
    the n-gram-overlap contamination rule every serious pretraining
    recipe applies before training (GPT-3 appendix C popularized the
    13-gram form; n is a knob).

    Output: (doc_id, n_hits, first_hit) — overlap count of DISTINCT
    shingles and the lexicographically first overlapping shingle for
    audit.

    Plan: shingle both sides with the same normalization
    (``word_shingles``), deduplicate the benchmark side and BROADCAST it
    — a benchmark is thousands of prompts, never corpus-scale, so its
    distinct shingle set is a few MB. The corpus side then hits a
    map-side broadcast join: at 100 TB the training corpus never
    shuffles for this check; the only aggregation is the per-doc hit
    count, partially aggregated map-side."""
    doc_sh = word_shingles(docs, id_col, text_col, n=n)
    bench_sh = (word_shingles(benchmark, bench_id_col, bench_text_col, n=n)
                .select("shingle").distinct())
    hits = doc_sh.join(F.broadcast(bench_sh), "shingle")
    return hits.groupBy("doc_id").agg(
        F.count("*").alias("n_hits"),
        F.min("shingle").alias("first_hit"))


def minhash_signatures_arr(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", n: int = 3,
                           num_hashes: int = 16) -> DataFrame:
    """(doc_id, sig array<bigint>): the SHUFFLE-FREE minhash signature
    path — shingle the document into a per-row array and take the 16
    seeded-md5 mins directly with array_min, all inside one projection.
    Signatures are bit-identical to ``minhash_signatures``'s (min is
    duplicate-insensitive, so per-occurrence hashing equals
    per-distinct-shingle hashing), but the plan has ZERO shuffles before
    the banding join where the vocab path has three (shingle
    dropDuplicates, vocab distinct, shingle-vocab join). Measured 50k
    docs / 32c: 6.2s vs 38-48s. Every captured array is ``let``-bound —
    without it the HOF-recapture trap makes this path O(L^2) per row and
    8x SLOWER (measured 50s), see functions.columns.let.

    Prefer this path by default; the vocab-join variant
    (``minhash_signatures``) stays for boilerplate-heavy corpora where
    shingles repeat enough across documents that hashing once per
    distinct shingle beats hashing per occurrence."""

    def build(words):
        idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
        grams = F.array_distinct(F.transform(
            idx, lambda i: F.array_join(F.slice(words, i + 1, n), " ")))
        return let(grams, lambda sh: F.array(
            *[F.array_min(F.transform(sh, lambda s: md5_u32(s, seed=i)))
              for i in range(num_hashes)]))

    sig = let(F.split(norm_text(F.col(text_col)), " "), build)
    return docs.select(F.col(id_col).alias("doc_id"), sig.alias("sig"))


def minhash_signatures(shingles: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(doc_id, sig array<bigint>): element i = min over shingles of the
    seed-i md5 hash. The 16 hashes are computed once per DISTINCT shingle
    (boilerplate shingles repeat ~10x across docs) and joined back — AQE
    picks broadcast while the vocabulary is small; map-side partial
    aggregation keeps the final shuffle tiny (num_hashes longs per doc).
    (Measured: deriving 4 hashes from one md5's u32 words is SLOWER here —
    aggregate buffers don't share the digest subexpression — so each hash
    pays its own seeded md5.) See ``minhash_signatures_arr`` for the
    shuffle-free default path; signatures are bit-identical."""
    vocab = shingles.select("shingle").distinct().select(
        "shingle",
        *[md5_u32(F.col("shingle"), seed=i).alias(f"_h{i}")
          for i in range(num_hashes)])
    joined = shingles.join(vocab, "shingle")
    mins = [F.min(f"_h{i}").alias(f"_h{i}") for i in range(num_hashes)]
    agg = joined.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id",
        F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("sig"),
    )


def banded_buckets(signatures: DataFrame, bands: int = 4,
                   num_hashes: int = 16) -> DataFrame:
    """(doc_id, sig, band, bucket): one row per (doc, band) — the band
    bucket is the md5 of that band's signature slice. This IS the LSH
    index row format: two docs are candidate near-dups iff they share a
    (band, bucket) key."""
    rows = num_hashes // bands
    band_hashes = [
        F.md5(F.concat_ws(",", *[
            F.col("sig")[b * rows + r].cast("string") for r in range(rows)
        ])).alias(f"_band{b}")
        for b in range(bands)
    ]
    return signatures.select("doc_id", "sig", *band_hashes).select(
        "doc_id", "sig",
        F.posexplode(F.array(*[F.col(f"_band{b}") for b in range(bands)]))
        .alias("band", "bucket"),
    )


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 4,
                        num_hashes: int = 16,
                        keep_sigs: bool = False,
                        bucket_cap: int = 256) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become a candidate pair.
    Never all-pairs across buckets.

    Physical plan: ONE shuffle — groupBy (band, bucket) collecting
    (doc_id, sig) structs, then in-row pair expansion for buckets up to
    ``bucket_cap`` members. A self-join plan would evaluate the
    signature lineage once per join side and shuffle twice; this
    evaluates it once. Buckets LARGER than the cap (boilerplate blobs:
    O(k²) pairs would materialize inside one row) fall back to a
    streaming self-join over just those buckets' already-shuffled rows
    — exact, no pair lost, memory bounded. ``keep_sigs=True`` carries
    both signatures on every pair (columns ``sig_a``/``sig_b``) so
    verification needs no join back against the signature table."""
    banded = banded_buckets(signatures, bands, num_hashes)
    # Lazy localCheckpoint: the small/hot branches below BOTH consume
    # this aggregation, and the signature expressions are lambda-heavy
    # (HOF lambda-variable ids do not canonicalize), so without the
    # checkpoint Spark re-runs the whole shingle->minhash map side once
    # per consumer (measured 3x). The checkpoint holds (doc_id, sig)
    # structs per bucket — bucket MEMBERSHIP, never the O(k^2) pair
    # blow-up — so it is safe to materialize even for boilerplate
    # buckets.
    bucketed = (banded.groupBy("band", "bucket")
                .agg(F.collect_list(F.struct("doc_id", "sig")).alias("ds"))
                .filter(F.size("ds") > 1)
                .localCheckpoint(eager=False))

    def pairs_of(ds):
        # all i<j member pairs, normalized so a < b regardless of the
        # nondeterministic collect_list order
        return F.flatten(F.transform(ds, lambda x, i: F.filter(
            F.transform(F.slice(ds, i + 2, F.size(ds)), lambda y: F.struct(
                F.least(x["doc_id"], y["doc_id"]).alias("a"),
                F.greatest(x["doc_id"], y["doc_id"]).alias("b"),
                F.when(x["doc_id"] < y["doc_id"], x["sig"])
                .otherwise(y["sig"]).alias("sig_a"),
                F.when(x["doc_id"] < y["doc_id"], y["sig"])
                .otherwise(x["sig"]).alias("sig_b"))),
            lambda p: p["a"] != p["b"])))

    small = (bucketed.filter(F.size("ds") <= bucket_cap)
             .select(F.explode(let(F.col("ds"), pairs_of)).alias("p"))
             .select("p.a", "p.b", "p.sig_a", "p.sig_b"))

    hot = (bucketed.filter(F.size("ds") > bucket_cap)
           .select("band", "bucket", F.explode("ds").alias("d")))
    ha = hot.select("band", "bucket", F.col("d.doc_id").alias("a"),
                    F.col("d.sig").alias("sig_a"))
    hb = hot.select("band", "bucket", F.col("d.doc_id").alias("b"),
                    F.col("d.sig").alias("sig_b"))
    big = (ha.join(hb, ["band", "bucket"]).filter(F.col("a") < F.col("b"))
           .select("a", "b", "sig_a", "sig_b"))

    out = small.unionByName(big).dropDuplicates(["a", "b"])
    return out if keep_sigs else out.select("a", "b")


def minhash_near_duplicates(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            num_hashes: int = 16, bands: int = 4,
                            threshold: float = 0.7,
                            via: str = "array") -> DataFrame:
    """(a, b, est_jaccard): LSH candidates whose signature agreement >=
    threshold. est_jaccard = fraction of equal minhash slots.

    ``via``: 'array' (default) = the shuffle-free per-row signature path
    (``minhash_signatures_arr``); 'vocab' = hash-once-per-distinct-
    shingle join path for boilerplate-heavy corpora. Same signatures,
    same output, different physical plan (4-8x measured on a corpus with
    ~11% duplication)."""
    if via == "array":
        sigs = minhash_signatures_arr(docs, id_col, text_col, n,
                                      num_hashes)
    else:
        sigs = minhash_signatures(
            word_shingles(docs, id_col, text_col, n), num_hashes
        )
    pairs = lsh_candidate_pairs(sigs, bands, num_hashes, keep_sigs=True)
    est = (
        F.aggregate(
            F.zip_with("sig_a", "sig_b",
                       lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0), lambda acc, v: acc + v,
        ).cast("double") / num_hashes
    )
    return (
        pairs.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("a", "b", "est_jaccard")
    )


def _slot_agreement(sig_a, sig_b, num_hashes: int):
    """Fraction of equal minhash slots — the unbiased Jaccard estimate."""
    return (
        F.aggregate(
            F.zip_with(sig_a, sig_b,
                       lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0), lambda acc, v: acc + v,
        ).cast("double") / num_hashes
    )


def minhash_index(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """The persistable LSH index of an already-curated corpus:
    (doc_id, sig, band, bucket), one row per (doc, band).

    This is the state a CONTINUOUS crawl pipeline carries between
    batches: dedup yesterday's corpus once, persist this table, and
    every later increment joins against it instead of re-shingling
    10^12 historical documents. Write it partitioned by ``band`` and
    bucketed/sorted by ``bucket`` (Iceberg ``bucket(bucket, N)``
    transform or parquet ``bucketBy``) so the increment join below is
    storage-partitioned: the index side never shuffles, ever."""
    return banded_buckets(
        minhash_signatures_arr(docs, id_col, text_col, n, num_hashes),
        bands, num_hashes)


def incremental_near_duplicates(new_docs: DataFrame, index: DataFrame,
                                id_col: str = "doc_id",
                                text_col: str = "text", n: int = 3,
                                num_hashes: int = 16, bands: int = 4,
                                threshold: float = 0.7) -> DataFrame:
    """(doc_id, dup_of, est_jaccard, source): every NEW document that
    near-duplicates the indexed corpus (source='index') or an
    earlier-id document of its own batch (source='batch'). Keeping the
    survivors is one anti-join; appending ``minhash_index(survivors)``
    to the index closes the loop for the next batch.

    Each flagged doc reports ONE deterministic partner: index matches
    beat batch matches (history wins — the indexed copy is the one
    already kept), then the smallest partner id. est_jaccard is that
    partner's signature agreement.

    Plan shape at 10^12 indexed docs + 10^9-doc increment: the
    increment's signatures are the shuffle-free array path; vs-index is
    ONE equi-join keyed (band, bucket) against a table stored bucketed
    on exactly that key, so only the increment moves; within-batch
    reuses the one-shuffle banded-bucket group join. Nothing rescans or
    reshuffles history."""
    sigs = minhash_signatures_arr(new_docs, id_col, text_col, n,
                                  num_hashes)
    nb = banded_buckets(sigs, bands, num_hashes).localCheckpoint(
        eager=False)

    idx = index.select(F.col("doc_id").alias("_p"),
                       F.col("sig").alias("_psig"), "band", "bucket")
    vs_index = (
        nb.join(idx, ["band", "bucket"])
        .filter(F.col("doc_id") != F.col("_p"))
        .select("doc_id", "_p", "_psig", "sig", F.lit(0).alias("_pri"))
    )
    batch = (
        lsh_candidate_pairs(nb.select("doc_id", "sig").dropDuplicates(
            ["doc_id"]), bands, num_hashes, keep_sigs=True)
        .select(F.col("b").alias("doc_id"), F.col("a").alias("_p"),
                F.col("sig_a").alias("_psig"),
                F.col("sig_b").alias("sig"), F.lit(1).alias("_pri"))
    )
    est = _slot_agreement(F.col("sig"), F.col("_psig"), num_hashes)
    matches = (
        vs_index.unionByName(batch)
        .withColumn("_est", est)
        .filter(F.col("_est") >= threshold)
        .dropDuplicates(["doc_id", "_p", "_pri"])
    )
    best = (
        matches.groupBy("doc_id")
        .agg(F.min(F.struct("_pri", "_p", "_est")).alias("_m"))
    )
    return best.select(
        "doc_id", F.col("_m._p").alias("dup_of"),
        F.col("_m._est").alias("est_jaccard"),
        F.when(F.col("_m._pri") == 0, F.lit("index"))
        .otherwise(F.lit("batch")).alias("source"))


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.8,
                        df_cap: int = 1000) -> DataFrame:
    """Exact n-gram Jaccard >= threshold via a shingle-key self-join.

    ``df_cap`` drops shingles appearing in more than df_cap docs
    (boilerplate) before the self-join — the skew guard that makes this
    viable beyond toy scale.
    """
    sh = word_shingles(docs, id_col, text_col, n)
    rare = sh.groupBy("shingle").count().filter(F.col("count") <= df_cap)
    sh = sh.join(rare.select("shingle"), "shingle", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("a"), "shingle")
    b = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        a.join(b, "shingle").filter(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a"),
                                F.col("n_sh").alias("na")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"),
                           F.col("n_sh").alias("nb")), "b")
        .withColumn("jaccard",
                    F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


SIMHASH_BITS = 16


def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): per-bit sign of the sum of token-hash bit votes.

    bit b of token hash h votes +1 if set else -1; simhash bit b = 1 iff
    the vote sum > 0. One explode + one groupBy with ``bits`` sums.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(norm_text(F.col(text_col)), " ")).alias("tok"),
    )
    # hash the distinct token vocabulary once, join back (common tokens
    # repeat thousands of times; AQE broadcasts the small vocab side)
    vocab = toks.select("tok").distinct().withColumn(
        "h", md5_u32(F.col("tok")))
    toks = toks.join(vocab, "tok")
    bit_votes = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_votes)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"_b{b}") > 0, 2 ** b).otherwise(0)
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("bigint").alias("simhash"))


def simhash_duplicates(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(doc_id, canonical_id): docs sharing an identical simhash.

    DEMO/ORACLE variant: 16 bits = 65,536 buckets, so birthday collisions
    falsely merge unrelated docs beyond a few hundred. The scale path is
    ``simhash64`` + ``simhash_near_duplicates`` (hamming <= 3, exact)."""
    s = simhash(docs, id_col, text_col)
    canon = s.groupBy("simhash").agg(F.min("doc_id").alias("canonical_id"))
    return s.join(canon, "simhash").select("doc_id", "canonical_id", "simhash")


def simhash64(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """(doc_id, sim_hi, sim_lo): 64-bit simhash as two 32-bit halves.

    Token hash bits 0-31 come from md5 hex chars 1-8, bits 32-63 from chars
    9-16 — both reproducible in any SQL engine, so the near-dup path stays
    oracle-checkable. One explode + one groupBy with 64 sums.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(norm_text(F.col(text_col)), " ")).alias("tok"),
    )
    vocab = toks.select("tok").distinct().withColumn("h", F.md5("tok")).select(
        "tok",
        F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint").alias("h_lo"),
        F.conv(F.substring("h", 9, 8), 16, 10).cast("bigint").alias("h_hi"),
    )
    toks = toks.join(vocab, "tok").select("doc_id", "h_lo", "h_hi")
    votes = []
    for half in ("lo", "hi"):
        votes += [
            F.sum(
                F.when(F.shiftright(f"h_{half}", b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"_{half}{b}")
            for b in range(32)
        ]
    agg = toks.groupBy("doc_id").agg(*votes)

    def recomb(half: str):
        acc = None
        for b in range(32):
            term = F.when(F.col(f"_{half}{b}") > 0, 2 ** b).otherwise(0)
            acc = term if acc is None else acc + term
        return acc.cast("bigint")

    return agg.select("doc_id", recomb("hi").alias("sim_hi"),
                      recomb("lo").alias("sim_lo"))


def simhash_near_duplicates(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            max_hamming: int = 3) -> DataFrame:
    """(a, b, hamming): pairs with 64-bit simhash hamming distance <=
    max_hamming, found by block banding — EXACT for max_hamming <= 3.

    The 64 bits split into 4 16-bit blocks; by pigeonhole, any pair within
    hamming distance 3 agrees on at least one whole block, so the join is
    keyed by (block_idx, block_value) — never all-pairs. Verification
    (bit_count of the XOR) runs only on same-block candidates.
    """
    s = simhash64(docs, id_col, text_col)
    blocks = s.select(
        "doc_id", "sim_hi", "sim_lo",
        F.posexplode(F.array(
            F.col("sim_lo").bitwiseAND(F.lit(65535)),
            F.shiftright("sim_lo", 16),
            F.col("sim_hi").bitwiseAND(F.lit(65535)),
            F.shiftright("sim_hi", 16),
        )).alias("block_idx", "block_val"),
    )
    a = blocks.select(F.col("doc_id").alias("a"),
                      F.col("sim_hi").alias("hi_a"),
                      F.col("sim_lo").alias("lo_a"),
                      "block_idx", "block_val")
    b = blocks.select(F.col("doc_id").alias("b"),
                      F.col("sim_hi").alias("hi_b"),
                      F.col("sim_lo").alias("lo_b"),
                      "block_idx", "block_val")
    hamming = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    )
    return (
        a.join(b, ["block_idx", "block_val"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
        .dropDuplicates()
    )


def near_duplicate_components(pairs: DataFrame, a_col: str = "a",
                              b_col: str = "b") -> DataFrame:
    """(doc_id, canonical_id): collapse any near-dup pair table (minhash,
    simhash-hamming, embedding-LSH) into canonical groups via connected
    components — so "keep one per group" is a single anti-join downstream.
    Composition of the canonicalization CC over similarity edges."""
    from tecs_hardware_kbc_spark.operators.canonicalize import (
        connected_components)

    comp = connected_components(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")))
    return comp.select(F.col("node").alias("doc_id"),
                       F.col("component").alias("canonical_id"))


def semantic_dedup(emb: DataFrame, centroids: list[list[float]],
                   threshold: float = 0.8, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by clustering
    embeddings with a frozen coarse quantizer and collapsing
    within-cluster cosine-near pairs — removes *semantically* redundant
    documents exact/minhash dedup can't see (same content, different
    words).

    Returns the full mapping (vec_id, cell, canonical_id): keeper rows
    have canonical_id == vec_id; "keep one per semantic group" is then
    one filter/anti-join downstream.

    Plan: cell assignment is the IVF quantizer's argmax over broadcast
    centroid literals (``similarity.nearest_cells`` — scan-speed, no
    shuffle); the candidate join is keyed BY CELL, so the quadratic
    blow-up is bounded per cell (the SemDeDup design point: cluster
    count trades recall against block size — at 10^12 docs you run
    ~100k cells so a cell is ~10^7 docs scanned by one join partition
    group, and cells are embarrassingly parallel); connected components
    over the surviving pairs reuses the engine's CC, and the keeper is
    the component-min id. Nothing in the pipeline is ever all-pairs
    across cells."""
    from tecs_hardware_kbc_spark.operators.similarity import (
        cosine, nearest_cells)

    v = F.col(vec_col).cast("array<double>")
    c = emb.select(F.col(id_col).alias("vec_id"), v.alias("v"),
                   F.element_at(nearest_cells(v, centroids, 1), 1)
                   .alias("cell"))
    a = c.select(F.col("vec_id").alias("a"), F.col("v").alias("va"),
                 "cell")
    b = c.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"),
                 "cell")
    pairs = (a.join(b, "cell")
             .filter(F.col("a") < F.col("b"))
             .filter(cosine(F.col("va"), F.col("vb"))
                     >= F.lit(float(threshold)))
             .select("a", "b"))
    comp = near_duplicate_components(pairs)
    return (c.join(comp.withColumnRenamed("doc_id", "vec_id"),
                   "vec_id", "left")
            .select("vec_id", "cell",
                    F.coalesce("canonical_id", "vec_id")
                    .alias("canonical_id")))


def embedding_near_duplicates(emb: DataFrame, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              threshold: float = 0.95,
                              planes: int = 8, tables: int = 4,
                              seed: int = 42) -> DataFrame:
    """(a, b, cosine): pairs with cosine >= threshold — THE scale path for
    embedding near-dup (``cosine_pairs`` is the quadratic verification
    baseline, test-scale only).

    Classic multi-table hyperplane LSH: ``tables`` independent sets of
    ``planes`` random hyperplanes; each vector lands in one sign-bucket per
    table and a pair is a candidate if it shares a bucket in ANY table
    (OR over tables of AND over planes). A single 8-plane bucket recalls
    ~0.75 of cosine-0.95 pairs; 4 tables push that above 0.99 while the
    join stays keyed by (table, bucket) — never all-pairs. Exact cosine
    verifies candidates, so output pairs are always a subset of the exact
    result; recall >= 0.9 at defaults is pinned by tests/test_dedup.py.
    """
    import numpy as np

    rng = np.random.RandomState(seed)
    first = emb.select(F.size(vec_col).alias("d")).first()
    if first is None:
        return emb.sparkSession.createDataFrame(
            [], "a bigint, b bigint, cosine double")
    dim = first["d"]
    hp = rng.randn(tables, planes, dim)

    def sign_bucket(t: int):
        bits = None
        for p in range(planes):
            plane = F.array(*[F.lit(float(x)) for x in hp[t][p]])
            d = F.aggregate(F.zip_with(vec_col, plane, lambda a, b: a * b),
                            F.lit(0.0), lambda acc, v: acc + v)
            term = F.when(d > 0, 2 ** p).otherwise(0)
            bits = term if bits is None else bits + term
        return bits

    bucketed = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        F.posexplode(F.array(*[sign_bucket(t) for t in range(tables)]))
        .alias("t", "bucket"),
    )
    a = bucketed.select(F.col("id").alias("a"), F.col("v").alias("va"),
                        "t", "bucket")
    b = bucketed.select(F.col("id").alias("b"), F.col("v").alias("vb"),
                        "t", "bucket")

    def dot(x, y):
        return F.aggregate(F.zip_with(x, y, lambda p_, q: p_ * q),
                           F.lit(0.0), lambda acc, v: acc + v)

    cos = dot(F.col("va"), F.col("vb")) / (
        F.sqrt(dot(F.col("va"), F.col("va")))
        * F.sqrt(dot(F.col("vb"), F.col("vb")))
    )
    return (
        a.join(b, ["t", "bucket"]).filter(F.col("a") < F.col("b"))
        .select("a", "b", "va", "vb").dropDuplicates(["a", "b"])
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )
