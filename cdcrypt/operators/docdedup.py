"""Document deduplication family for training-data pipelines.

Four strategies over a ``documents(doc_id, text, ...)`` table, each designed
for the 100 TB shape, not just the 60k-row test:

- exact: hash-groupBy on md5(text) — map-side combine, one shuffle of
  (hash, id) pairs only (never the text);
- MinHash + LSH: shingle -> K minhashes -> B bands -> bucket-join; candidate
  pairs only ever meet inside a band bucket, so the quadratic blowup is
  bounded per bucket, and ``max_bucket_size`` drops degenerate hot buckets
  (boilerplate text) before the self-join goes quadratic;
- SimHash: sign-vote fingerprint via explode + bit-population sums;
  near-dups = equal fingerprint (hamming 0) or banded hamming<=k
  (:func:`simhash_near_pairs`);
- n-gram Jaccard verify: exact set similarity over shingle HASH sets for
  candidate pairs (the verify stage after LSH) — longs shuffle, never text.

Hash families (``family=``):
- ``"md5"`` (default): 60-bit md5-derived hashes (functions/hash64.py) that
  DuckDB computes bit-identically — every operator here is fully
  oracle-verifiable end-to-end (the driver's CORRECTNESS gate);
- ``"xx64"``: JVM xxhash64 — ~3x cheaper per hash, Spark-only; use for
  production corpus scale where the oracle isn't in the loop. Both families
  produce the same candidate structure on planted duplicates (tested).

Everything is pure DataFrame ops — deterministic hashing, so results are
stable across runs and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdcrypt.functions.hash64 import h60, h60_combine
from cdcrypt.table.commitfile import atomic_write_json

_FAMILIES = ("md5", "xx64")


def _check_family(family: str) -> None:
    if family not in _FAMILIES:
        raise ValueError(f"hash family {family!r} must be one of {_FAMILIES}")


def _cap_hot_buckets(df: DataFrame, keys: tuple,
                     max_bucket_size: int | None) -> DataFrame:
    """The LSH skew guard, shared by every banded path so their semantics
    cannot diverge: drop EVERY row of a bucket holding more than
    ``max_bucket_size`` rows, expressed as a window count over the
    relation's existing ``keys`` partitioning — no extra shuffle, no
    second pass, and the window's sort doubles as a downstream sort-merge
    join's sort. No-op when ``max_bucket_size`` is None."""
    if max_bucket_size is None:
        return df
    from pyspark.sql import Window
    n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    return df.withColumn("_n", n).where(
        F.col("_n") <= max_bucket_size).drop("_n")


def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: one row per distinct text with keeper id +
    member count. Shuffles only (hash, id)."""
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one doc per distinct text (the min id)."""
    groups = exact_dedup_groups(df, text_col, id_col)
    return df.join(
        groups.select(F.col("keep_id").alias(id_col)), id_col, "left_semi"
    )


def _words(text_col: str):
    """Whitespace-normalized lowercase word array (oracle: regexp_split_to_
    array(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '))."""
    return F.split(
        F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "), " ")


def _shingle_hashes(text_col: str, k: int = 5, family: str = "md5"):
    """Array of 64/60-bit word-k-shingle fingerprints.

    md5 family: shingle string -> h60 (DuckDB-identical). xx64 family: hash
    each word once, combine k consecutive word-hashes with a rotate-xor fold
    — O(words) string hashing instead of O(words x k) char copying (shift
    ops cannot overflow, so ANSI mode stays on); everything downstream
    (explode, shuffle, min-aggregate) moves longs, not text, in BOTH
    families.

    NOTE: higher-order ``F.transform`` lambdas evaluate INTERPRETED per
    array element (outside whole-stage codegen) — row-shaped pipelines
    should prefer :func:`_shingle_rows`, measured ~2.5x cheaper. This
    array form remains for callers that need the per-doc array in one
    expression."""
    words = _words(text_col)
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    if family == "md5":
        return F.when(n >= k, F.transform(
            idx, lambda i: h60(F.array_join(F.slice(words, i + 1, k), " "))
        )).otherwise(F.array(h60(F.array_join(words, " "))))
    wh = F.transform(words, lambda w: F.xxhash64(w))
    poly = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"),
        lambda acc, h: (
            F.shiftleft(acc, 13).bitwiseOR(F.shiftrightunsigned(acc, 51))
        ).bitwiseXOR(h),
    )
    return F.when(n >= k, F.transform(
        idx, lambda i: poly(F.slice(wh, i + 1, k))
    )).otherwise(F.array(poly(wh)))


def _shingle_rows(df: DataFrame, text_col: str, id_col: str, k: int,
                  family: str) -> DataFrame:
    """(id, sh) — ONE ROW per shingle occurrence (not per-doc arrays, not
    deduplicated: every downstream consumer — min-aggregate signatures,
    collect_set — is duplicate-insensitive).

    Explode the shingle INDEX first, then hash at row level: the md5/fold
    expression runs inside whole-stage codegen, where the equivalent
    ``F.transform(idx, ...)`` higher-order lambda is evaluated interpreted
    per array element. Measured on the 5k-doc bench table: 0.21s vs 0.51s
    wall and ~2.8x less CPU for the full minhash pipeline. The exploded
    word array never reaches a shuffle — the groupBy above it map-side
    combines within the same codegen stage."""
    words = _words(text_col)
    # _w: the word STRINGS (md5 family hashes each shingle string) or the
    # per-word HASHES (xx64 folds k consecutive longs) — hashed once per
    # doc here, never re-derived per shingle row
    warr = words if family == "md5" else F.transform(
        words, lambda w: F.xxhash64(w))
    base = (
        df.where(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
        .select(F.col(id_col), warr.alias("_w"))
    )
    n = F.size("_w")
    ex = base.select(
        id_col, "_w",
        F.explode(
            F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))).alias("_i"),
    )
    n2 = F.size("_w")
    if family == "md5":
        sh = h60(
            F.when(n2 >= k,
                   F.array_join(F.slice("_w", F.col("_i") + 1, k), " "))
            .otherwise(F.array_join("_w", " ")))
    else:
        poly = lambda arr: F.aggregate(  # noqa: E731
            arr, F.lit(0).cast("long"),
            lambda acc, h: (
                F.shiftleft(acc, 13).bitwiseOR(F.shiftrightunsigned(acc, 51))
            ).bitwiseXOR(h),
        )
        sh = F.when(n2 >= k,
                    poly(F.slice("_w", F.col("_i") + 1, k))
                    ).otherwise(poly(F.col("_w")))
    return ex.select(id_col, sh.alias("sh"))


_MASK30 = (1 << 30) - 1


def mh_member_consts(i: int) -> tuple[int, int]:
    """Deterministic odd 31-bit multipliers for minhash family member i —
    shared literal constants between the Spark expression and the DuckDB
    oracle SQL (both just inline the integers)."""
    import hashlib

    def c(which: str) -> int:
        h = hashlib.md5(f"mh:{which}:{i}".encode()).digest()
        return (int.from_bytes(h[:4], "big") & 0x7FFFFFFF) | 1

    return c("a"), c("b")


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 32,
                       shingle_k: int = 5, family: str = "md5") -> DataFrame:
    """(id, array<long> minhash signature). min over shingles of
    ``num_hashes`` family members — all JVM-side columns, no Python.

    md5 family members are UNIVERSAL-HASH mixes of the 60-bit shingle
    fingerprint: split into 30-bit halves, multiply each by a member
    constant, add — one md5 per shingle total (not per member), products
    bounded by 2^61 so int64 never overflows (ANSI-safe) and DuckDB
    reproduces the arithmetic exactly. xx64 members re-hash with
    per-member seeds (xxhash64 is cheap enough to run 32x).

    Shape: explode shingle fingerprints once (longs, never shingle text),
    then ONE hash-aggregate with ``num_hashes`` mins — map-side partial
    combine collapses each doc's shingles before the shuffle. No distinct
    pass: ``min`` is duplicate-insensitive, so repeated shingles change
    nothing, and the row-level hash (:func:`_shingle_rows`) stays inside
    whole-stage codegen."""
    _check_family(family)
    ex = _shingle_rows(df, text_col, id_col, shingle_k, family)
    if family == "md5":
        lo = F.col("sh").bitwiseAND(F.lit(_MASK30))
        hi = F.shiftrightunsigned(F.col("sh"), 30)

        def member(i):
            a, b = mh_member_consts(i)
            return lo * F.lit(a) + hi * F.lit(b)
    else:
        member = lambda i: F.xxhash64("sh", F.lit(i))  # noqa: E731
    aggs = [F.min(member(i)).alias(f"h{i}") for i in range(num_hashes)]
    return ex.groupBy(id_col).agg(*aggs).select(
        id_col, F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_banded(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", num_hashes: int = 32,
                   bands: int = 16, shingle_k: int = 5,
                   family: str = "md5") -> DataFrame:
    """(id, band, bhash) — one row per (doc, band): the LSH bucket keys.
    band hash = seeded hash over the band's slice of the signature. Shared
    by the one-shot pipeline (:func:`minhash_lsh_candidates`) and the
    persisted-index path (:class:`MinHashIndex`) so both are bit-identical
    to the DuckDB oracle."""
    _check_family(family)
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k,
                              family)
    if family == "md5":
        bhash = lambda b: h60_combine(  # noqa: E731
            F.lit(b),
            *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)])
    else:
        bhash = lambda b: F.xxhash64(  # noqa: E731
            *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)])
    return sigs.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), bhash(b).alias("bhash"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bhash")


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", num_hashes: int = 32,
                           bands: int = 16, shingle_k: int = 5,
                           family: str = "md5",
                           max_bucket_size: int | None = None,
                           cache: bool = False) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b, n_shared_bands).

    Default 16 bands x 2 rows: candidate generation is the RECALL stage
    (P[band match] = s^2 per band -> ~0.997 overall at shingle-Jaccard 0.55);
    the exact n-gram Jaccard verify downstream restores precision.

    band hash = seeded hash over the band's slice of the signature; pairs
    sharing >= 1 band bucket become candidates via a self-join on
    (band_idx, band_hash).

    Skew guard (the 100 TB must-have): ``max_bucket_size`` drops band
    buckets holding more than that many docs BEFORE the self-join — one
    boilerplate bucket of B docs otherwise costs B^2/2 join rows. The recall
    cost is confined to docs that are near-dups of >max_bucket_size others,
    which a dedup pipeline wants to collapse via exact-dup/clustering
    anyway (their text is degenerate). The bucket-size check is a window
    count over the join's own exchange — no extra shuffle, no second pass
    over the banded rows.

    With ``cache=True`` the persisted banded relation is attached to the
    returned DataFrame; release it after materializing via
    :func:`cdcrypt.functions.persist.unpersist_intermediates`.
    """
    banded = minhash_banded(df, text_col, id_col, num_hashes, bands,
                            shingle_k, family)
    # ONE explicit exchange on the join keys: every consumer (the
    # hot-bucket filter and both self-join sides) hangs off this single
    # exchange, so the shingle->signature->band pipeline is computed once
    # (ReusedExchange). Without it, the separate count-aggregate branch
    # could not share the join's exchange (partial aggregation and column
    # pruning change the exchanged rows) and the pipeline re-ran per
    # consumer — the dominant CPU cost of the whole operator.
    banded = banded.repartition("band", "bhash")
    persisted = None
    if cache:
        # WITHIN one query the explicit exchange above already deduplicates
        # the pipeline (ReusedExchange); persist matters when the RESULT is
        # driven by several separate actions (shuffle files aren't shared
        # across jobs) or must survive executor loss. (id, band, bhash)
        # longs are ~24 B/row x bands, far smaller than the text. Default
        # OFF — at bench scale recompute beats materialization.
        from pyspark import StorageLevel
        banded = persisted = banded.persist(StorageLevel.MEMORY_AND_DISK)
    # hot-bucket drop as a WINDOW count over the same exchange (not a
    # separate count-aggregate + broadcast anti-join, which re-ran the
    # signature pipeline): partitioning is already (band, bhash) so the
    # window adds no shuffle, and its sort doubles as the self-join's
    # SMJ sort (shared _cap_hot_buckets helper).
    banded = _cap_hot_buckets(banded, ("band", "bhash"), max_bucket_size)
    a = banded.alias("a")
    b = banded.alias("b")
    out = (
        a.join(b, ["band", "bhash"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    if persisted is not None:
        from cdcrypt.functions.persist import register_persisted
        out = register_persisted(out, persisted)
    return out


def ngram_jaccard(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_k: int = 5,
                  family: str = "md5") -> DataFrame:
    """Exact Jaccard over word-shingle HASH sets for candidate pairs (the
    verify stage after LSH). Joins the docs twice; pairs is small post-LSH.

    Shuffles shingle-hash longs, never shingle strings — the set cardinality
    arithmetic is identical (60-bit collisions are ~0 at any realistic doc
    size, and the oracle mirrors the same hash so even a collision matches).

    Docs with null/empty text have no shingle set and drop out of the join
    (LSH candidate generation upstream filters them identically, so no
    candidate pair can reference one).
    """
    _check_family(family)
    # explicit exchange so BOTH pair-side joins reuse one computation of
    # the shingle sets: when AQE broadcasts the (small, post-LSH) pairs
    # side, the joins otherwise carry no exchange at all and the whole
    # shingle pipeline re-runs per join
    sh = (
        _shingle_rows(df, text_col, id_col, shingle_k, family)
        .groupBy(id_col)
        .agg(F.collect_set("sh").alias("sh"))
        .repartition(id_col)
    )
    j = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "id_a", "id_b",
        F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
    )


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    family: str = "md5",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Per-document n-gram overlap against an eval/benchmark set — the
    train-test decontamination scan every pretraining pipeline runs before
    shipping a corpus (GPT-3 appendix C shape: flag any training document
    sharing a 13-gram with the benchmark).

    Returns one row per corpus document with a non-empty text:
    ``(id_col, n_ngrams, n_contaminated, contamination)`` where
    ``n_ngrams`` counts the document's DISTINCT word-k-shingles,
    ``n_contaminated`` counts those also present anywhere in
    ``benchmark``, and ``contamination`` is their ratio (rounded to 6
    decimals, oracle-stable).

    Scale shape: both sides reduce to 60-bit shingle-hash longs at the
    scan (codegen'd row-level hashing, _shingle_rows) — no shingle string
    ever shuffles. The benchmark side collapses to its DISTINCT hash set
    and is broadcast (eval suites are MBs of longs even at thousands of
    documents); the corpus side is one map-side-combined distinct plus
    one per-doc count aggregate. For a degenerate "benchmark" the size of
    a corpus shard, pass ``broadcast_benchmark=False`` to fall back to a
    shuffle join (same conditional-hint contract as the incremental
    index lookups, similarity.py).
    """
    _check_family(family)
    doc_sh = _shingle_rows(docs, text_col, id_col, k, family).distinct()
    bench_sh = (
        _shingle_rows(benchmark, text_col, id_col, k, family)
        .select("sh").distinct().withColumn("_hit", F.lit(1))
    )
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    return (
        doc_sh.join(bench_sh, "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.count("_hit").alias("n_contaminated"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_contaminated") / F.col("n_ngrams"), 6),
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    max_hits: int = 0,
    family: str = "md5",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """The corpus with benchmark-contaminated documents removed: any
    document whose distinct-k-shingle overlap with ``benchmark`` exceeds
    ``max_hits`` (default 0 — one shared 13-gram disqualifies, the
    conservative pretraining default) is dropped via a left-anti join on
    the :func:`benchmark_contamination` stats. Documents with null/empty
    text have no shingles, are never flagged, and pass through."""
    flagged = (
        benchmark_contamination(
            docs, benchmark, text_col=text_col, id_col=id_col, k=k,
            family=family, broadcast_benchmark=broadcast_benchmark)
        .where(F.col("n_contaminated") > int(max_hits))
        .select(id_col)
    )
    return docs.join(flagged, id_col, "left_anti")


def boilerplate_ngrams(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 7,
    min_docs: int = 10,
    family: str = "md5",
) -> DataFrame:
    """Corpus-frequent k-shingles — the INTRA-corpus boilerplate relation
    (C4 / RefinedWeb-style line-dedup generalized to shingles): a shingle
    appearing in ``min_docs`` or more DISTINCT documents is boilerplate
    (cookie banners, license headers, navigation chrome — text that is
    frequent because it is template, not content). Returns
    ``(sh, n_docs)`` for every 60-bit shingle hash over the threshold.

    Scale shape: the text reduces to (id, sh) long pairs at the scan
    (codegen'd row-level hashing, :func:`_shingle_rows`); the per-doc
    distinct and the per-shingle doc-count are one map-side-combined
    distinct plus one count aggregate — shuffles carry longs only, never
    shingle strings, and the threshold filter runs inside the final
    aggregate stage. Output size is the boilerplate vocabulary (tiny vs
    the corpus by construction — frequency thresholds are inverse-Zipf).
    """
    _check_family(family)
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    return (
        _shingle_rows(docs, text_col, id_col, k, family).distinct()
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= int(min_docs))
    )


def boilerplate_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 7,
    min_docs: int = 10,
    family: str = "md5",
    boiler: DataFrame | None = None,
    broadcast_boiler: bool = False,
) -> DataFrame:
    """Per-document boilerplate coverage: for each document with non-empty
    text, ``(id_col, n_ngrams, n_boiler, boiler_frac)`` where ``n_ngrams``
    counts its distinct k-shingles, ``n_boiler`` counts those that are
    corpus-frequent (:func:`boilerplate_ngrams`), and ``boiler_frac`` is
    their ratio (rounded to 6 decimals, oracle-stable) — the flag a
    quality filter cuts on ("this page is 80% template").

    ``boiler`` lets the caller pass a PERSISTED boilerplate relation: the
    shingle scan feeds both the frequency count and the coverage join, and
    at corpus scale the text re-scan dominates (the round-2 item-10
    recompute-vs-persist finding) — build once, checkpoint, reuse across
    the stats pass and future increments. Default recomputes (wins at
    bench scale). ``broadcast_boiler=True`` broadcasts the boilerplate
    set for the coverage join; default is a shuffle join because the
    boilerplate vocabulary, while usually small, is data-dependent and
    unbounded (same conditional-hint contract as the incremental index
    lookups, similarity.py)."""
    _check_family(family)
    doc_sh = _shingle_rows(docs, text_col, id_col, k, family).distinct()
    if boiler is None:
        boiler = boilerplate_ngrams(
            docs, text_col=text_col, id_col=id_col, k=k,
            min_docs=min_docs, family=family)
    hits = boiler.select("sh").withColumn("_hit", F.lit(1))
    if broadcast_boiler:
        hits = F.broadcast(hits)
    return (
        doc_sh.join(hits, "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.count("_hit").alias("n_boiler"),
        )
        .withColumn(
            "boiler_frac",
            F.round(F.col("n_boiler") / F.col("n_ngrams"), 6),
        )
    )


def strip_boilerplate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 7,
    min_docs: int = 10,
    max_frac: float = 0.5,
    family: str = "md5",
    boiler: DataFrame | None = None,
    broadcast_boiler: bool = False,
) -> DataFrame:
    """The corpus with template-dominated documents removed: any document
    whose :func:`boilerplate_stats` coverage EXCEEDS ``max_frac`` is
    dropped via a left-anti join. Documents with null/empty text have no
    shingles, are never flagged, and pass through (cut those with the
    length filters in operators/curation.py — different failure mode)."""
    if not 0.0 <= max_frac < 1.0:
        raise ValueError(f"max_frac must be in [0, 1), got {max_frac}")
    flagged = (
        boilerplate_stats(
            docs, text_col=text_col, id_col=id_col, k=k, min_docs=min_docs,
            family=family, boiler=boiler, broadcast_boiler=broadcast_boiler)
        .where(F.col("boiler_frac") > float(max_frac))
        .select(id_col)
    )
    return docs.join(flagged, id_col, "left_anti")


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    keep: str = "none",
    sep: str = "\n",
    min_line_chars: int = 1,
    family: str = "md5",
) -> DataFrame:
    """Line-level exact dedup ACROSS the corpus (C4 / RefinedWeb-style):
    documents are rewritten with corpus-duplicated lines removed, the rest
    preserved in order — finer-grained than document dedup (dedup_near
    drops whole docs) and than strip_boilerplate (which drops
    template-DOMINATED docs); this strips the shared header/footer/banner
    lines every crawl carries while keeping the unique prose around them.

    A line is a duplicate when it appears in >= ``min_docs`` DISTINCT
    documents (lines shorter than ``min_line_chars`` are never dup-eligible
    — blank lines and bullets survive). ``keep='none'`` removes every
    occurrence (RefinedWeb); ``keep='first'`` retains the single globally
    first occurrence by (doc, position) (C4's keep-one semantics),
    deterministic under any partitioning.

    Scale shape: lines shuffle as 60-bit HASHES, never text — one
    map-side-combined count-distinct per line hash, one hash-equi join
    back (duplicate-line vocabulary is data-dependent and unbounded, so no
    broadcast hint — the strip_boilerplate contract), one regroup by doc
    for the ordered reassembly. The h60 family keeps every decision
    DuckDB-replayable; a 60-bit collision merges two distinct lines'
    counts (~n^2/2^61 — odds of one false strip at 10^9 distinct lines are
    ~40%, acceptable for training-data curation; raise to xx64+md5 double
    hashing if ever not). Null-text documents pass through unchanged;
    a document whose EVERY line strips rewrites to the empty string."""
    _check_family(family)
    if keep not in ("none", "first"):
        raise ValueError(f"keep must be 'none' or 'first', got {keep!r}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    base = docs.where(F.col(text_col).isNotNull())
    lines = base.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("pos", "line"),
    )
    hcol = (h60(F.col("line")) if family == "md5"
            else F.xxhash64(F.col("line")))
    lines = lines.withColumn(
        "_lh", F.when(F.length("line") >= min_line_chars, hcol))
    dup = (
        lines.where(F.col("_lh").isNotNull())
        .groupBy("_lh")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"),
             F.min(F.struct(F.col(id_col).alias("i"),
                            F.col("pos").alias("p"))).alias("_first"))
        .where(F.col("_nd") >= min_docs)
        .select("_lh", "_first")
    )
    j = lines.join(dup, "_lh", "left")
    survive = F.col("_first").isNull()
    if keep == "first":
        survive = survive | ((F.col(id_col) == F.col("_first.i"))
                             & (F.col("pos") == F.col("_first.p")))
    rebuilt = (
        j.where(survive)
        .groupBy(id_col)
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.line),
            sep).alias("_rebuilt"))
    )
    keep_cols = [c for c in docs.columns if c != text_col]
    return (
        docs.join(rebuilt, id_col, "left")
        .select(*keep_cols,
                F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
                .otherwise(F.coalesce("_rebuilt", F.lit("")))
                .alias(text_col))
    )


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", family: str = "md5") -> DataFrame:
    """SimHash fingerprint: per word, the word hash votes +1/-1 on each bit;
    the sign of the per-bit sum forms the fingerprint. explode + N
    conditional sums, all codegen'd; one shuffle on id.

    md5 family: 60-bit fingerprint (h60 word hashes, oracle-identical);
    xx64: 64-bit. The fingerprint is always non-negative under md5."""
    _check_family(family)
    n_bits = 60 if family == "md5" else 64
    wcol = F.explode(_words(text_col)).alias("w")
    words = df.where(F.col(text_col).isNotNull()).select(F.col(id_col), wcol)
    hcol = h60(F.col("w")) if family == "md5" else F.xxhash64("w")
    words = words.withColumn("h", hcol)
    sums = words.groupBy(id_col).agg(*[
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(n_bits)
    ])
    fp = None
    for i in range(n_bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseXOR(term)
    return sums.select(id_col, fp.alias("simhash"))


def simhash_dup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       family: str = "md5",
                       fingerprints: DataFrame | None = None) -> DataFrame:
    """Docs sharing an identical simhash (near-dup clusters at hamming 0).

    ``fingerprints`` reuses a precomputed ``(id, simhash)`` frame (a
    :func:`simhash64` output, possibly cached): a production pipeline
    computes fingerprints ONCE and fans them out to the hamming-0 groups
    AND the banded near-pair join rather than re-running the
    word-explode + 60-sum pass per consumer."""
    s = (simhash64(df, text_col, id_col, family)
         if fingerprints is None else fingerprints)
    return (
        s.groupBy("simhash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3,
                       n_bands: int = 4, family: str = "md5",
                       max_bucket_size: int | None = None,
                       fingerprints: DataFrame | None = None) -> DataFrame:
    """Near-dup pairs at hamming distance <= ``max_hamming`` via the banded
    pigeonhole trick: split the fingerprint into ``n_bands`` equal bit bands;
    two fingerprints within hamming k share at least one EXACT band whenever
    ``n_bands >= k + 1`` (k flipped bits can dirty at most k bands). The
    equi-join on (band, band_bits) makes this a bucket join — shuffle
    proportional to collisions, never |docs|^2 — and the popcount verify
    restores exactness.

    Requires ``n_bands > max_hamming`` (else recall is not guaranteed);
    raises otherwise. Output: (id_a, id_b, hamming).

    Skew guard (same contract as :func:`minhash_lsh_candidates`):
    short/boilerplate docs produce near-identical bit-vote sums, so one
    (band, bits) bucket at corpus scale can hold thousands of docs —
    B^2/2 join rows. ``max_bucket_size`` drops those buckets BEFORE the
    self-join via a window count over the join's own exchange (no extra
    shuffle, no second pass). Recall cost is confined to docs
    near-identical to >max_bucket_size others — exactly the degenerate
    mass a dedup pipeline collapses via exact-dup upstream anyway.

    ``fingerprints`` reuses a precomputed ``(id, simhash)`` frame (see
    :func:`simhash_dup_groups`) instead of re-running the signature pass.
    """
    _check_family(family)
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands={n_bands} must exceed max_hamming={max_hamming} "
            "for the pigeonhole guarantee")
    n_bits = 60 if family == "md5" else 64
    if n_bits % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide {n_bits}")
    width = n_bits // n_bands
    mask = (1 << width) - 1
    s = (simhash64(df, text_col, id_col, family)
         if fingerprints is None else fingerprints)
    banded = s.select(
        F.col(id_col), F.col("simhash"),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask)).alias("bits"),
            )
            for b in range(n_bands)
        ])).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.bits")
    # one exchange on the join keys, shared by the hot-bucket filter and
    # both self-join sides — the word-explode + 60-sum simhash pipeline
    # above runs ONCE instead of once per consumer (same shape and
    # rationale as minhash_lsh_candidates)
    banded = _cap_hot_buckets(banded.repartition("band", "bits"),
                              ("band", "bits"), max_bucket_size)
    a = banded.select(F.col(id_col).alias("id_a"),
                      F.col("simhash").alias("fp_a"), "band", "bits")
    b = banded.select(F.col(id_col).alias("id_b"),
                      F.col("simhash").alias("fp_b"), "band", "bits")
    return (
        a.join(b, ["band", "bits"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
                .cast("int").alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= max_hamming)
    )


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 25) -> DataFrame:
    """Near-duplicate CLUSTERS from candidate pairs: (node, component)
    for every node appearing in ``pairs``, where ``component`` is the
    smallest node id in its connected component. The natural step after
    LSH pair generation — a doc near-duplicate to B which is near-duplicate
    to C belongs to one keep-one-of-three group even if (A, C) never
    collided in a band.

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): each round
    is two groupBy+join passes over the edge list and the edge set
    contracts toward star graphs rooted at each component's minimum;
    convergence takes O(log n) rounds on any graph (a path of length
    1000 converges in ~10). Wholly distributed — the driver sees only a
    2-long convergence probe per round, never the edges.

    Each round ends in ``localCheckpoint`` to truncate lineage —
    iterative DataFrame algorithms otherwise grow the plan (and analysis
    time) exponentially. On a multi-node cluster prefer a reliable
    checkpoint dir (``sparkContext.setCheckpointDir`` + ``checkpoint``)
    for executor-loss recovery; the algorithm is agnostic.

    Raises after ``max_iter`` rounds without convergence (cannot happen
    for a correct implementation at 2^25-node components; the guard turns
    an implementation bug into an error instead of an infinite loop).
    """
    # materialize the pair list ONCE up front: the star rounds (and the
    # final node join) each reference the edge relation several times, and
    # without this the whole upstream pipeline (e.g. minhash LSH) would be
    # recomputed per reference per round
    raw = (pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
           .localCheckpoint())
    # nodes from the UNFILTERED pairs: a self-loop-only node still appears
    # in the output (labeled by itself)
    nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
    )
    edges = raw.where(F.col("u") != F.col("v")).distinct()

    def _large_star(e: DataFrame) -> DataFrame:
        # group the full adjacency by u; link every LARGER neighbor to
        # m = min(neighbors + self). u itself is covered by its smaller
        # neighbors' groups (or is a minimum already).
        adj = e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (adj.groupBy("u")
             .agg(F.least(F.min("v"), F.first("u")).alias("m")))
        return (
            adj.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # orient every edge toward its larger endpoint, group there, and
        # link u AND all its smaller neighbors to their minimum — u must
        # be re-linked here or a component's largest node (whom no other
        # group references) falls out of the edge set.
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        m = oriented.groupBy("u").agg(F.min("v").alias("m"))
        relinked = (
            oriented.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m.select(F.col("u"), F.col("m").alias("v")))
        )
        return relinked.where(F.col("u") != F.col("v")).distinct()

    def _probe(e: DataFrame) -> tuple:
        # count + order-independent xor fingerprint (bit_xor, not sum:
        # summing xxhash64 longs overflows under ANSI mode)
        row = e.select(
            F.count(F.lit(1)),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)),
        ).first()
        return (row[0], row[1])

    prev = None
    for _ in range(max_iter):
        # checkpoint BETWEEN the stars too: _small_star references its
        # input three times (orientation scan, m-aggregate, join), and
        # without materialization each reference recomputes the whole
        # large-star stage (measured: 4 joins / 12 input scans per round,
        # zero ReusedExchange — aggregate branches cannot share a join's
        # exchange, the same hazard minhash_lsh_candidates documents)
        edges = _small_star(_large_star(edges).localCheckpoint())
        edges = edges.localCheckpoint()
        cur = _probe(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    # converged edges are (node -> component root); roots map to themselves
    return (
        nodes.join(edges.select(F.col("u").alias("node"),
                                F.col("v").alias("component")),
                   "node", "left")
        .select("node",
                F.coalesce("component", F.col("node")).alias("component"))
    )


def dedup_near(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """End-to-end near-dup corpus dedup: one CANONICAL survivor per
    connected near-dup cluster. Returns one row per surviving document:
    ``(id_col, component, n_in_cluster)`` — join back to ``docs`` on
    ``id_col`` to materialize the deduplicated corpus.

    Canonical pick: longest text wins (a training pipeline keeps the most
    complete variant), ties broken by smallest id for determinism. Null
    text sorts last (it cannot beat any real text).

    Scale shape: :func:`connected_components` over the candidate pairs
    (edge-list-only shuffles), a key-join of the labels back to the
    corpus, and ONE hash aggregate keyed by component. The survivor pick
    is ``min(struct(-len, id))`` — an ordinary map-side-combining
    aggregate, NOT a window: component sizes are unbounded (the LSH
    bucket cap bounds buckets, but transitive chaining composes small
    buckets into arbitrarily large components), and a window would funnel
    a mega-component through one task's sort, where the aggregate
    combines it partially on every input partition. Docs in no pair are
    their own singleton component (left join + coalesce — they never
    enter the shuffle with a skewed NULL key because the coalesced id is
    unique per row).
    """
    comps = connected_components(pairs).withColumnRenamed("node", id_col)
    labeled = (
        docs.select(id_col, text_col)
        .join(comps, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("component"),
            F.coalesce(F.length(text_col), F.lit(-1)).alias("_len"),
        )
    )
    # min(struct(-len, id)): smallest negated length = longest text, ties
    # resolved toward the smallest id; id rides along untouched so any
    # orderable id type works
    return (
        labeled.groupBy("component")
        .agg(
            F.min(F.struct((-F.col("_len")).alias("n"),
                           F.col(id_col).alias("i"))).alias("w"),
            F.count(F.lit(1)).alias("n_in_cluster"),
        )
        .select(F.col("w.i").alias(id_col), "component", "n_in_cluster")
    )


class MinHashIndexError(RuntimeError):
    pass


class MinHashIndex:
    """Persisted MinHash LSH index: shingle/sign ONCE per document, find
    near-dups of each new ingest batch against the whole corpus in
    O(batch), not O(corpus).

    Layout::

        root/_minhash_meta.json   LSH params (num_hashes/bands/shingle_k/
                                  family/id_col/text_col/n_partitions)
        root/banded/bpart=K/      (id, band, bhash) parquet rows — the
                                  corpus's band-bucket keys, UNCAPPED
                                  (the hot-bucket cap is a query-time
                                  policy over union counts; baking it in
                                  would freeze it and break cap-over-
                                  union semantics), Hive-partitioned by
                                  bpart = pmod(bhash, n_partitions) and
                                  sorted by (band, bhash) within files
                                  for row-group zone maps

    Same fetch-once economics as :class:`~cdcrypt.operators.similarity.
    IvfIndex` (and the reference's fetch-once public key,
    GCPKeyManagementService.java:119-132): re-shingling 100 TB of text per
    ingest tick is the cost that must be amortized — signatures are ~24
    bytes/doc/band of longs, ~3 orders of magnitude smaller than the text.
    The incremental query broadcasts the NEW batch's bucket keys against
    this table: the index side is never shuffled, and the bpart equi-term
    lets dynamic partition pruning skip untouched files when the tick is
    small.
    """

    META = "_minhash_meta.json"

    def __init__(self, root: str):
        import json
        import os
        try:
            with open(os.path.join(root, self.META)) as f:
                self.meta = json.load(f)
        except (OSError, ValueError) as e:
            raise MinHashIndexError(f"not a minhash index: {root}") from e
        self.root = root

    def read_banded(self, spark) -> DataFrame:
        import json
        import os
        from pyspark.sql import types as T
        # explicit schema from the meta (recorded at build): an index built
        # on an EMPTY corpus (streaming from scratch) has a banded dir with
        # no data files, which schema inference would reject
        path = os.path.join(self.root, "banded")
        sj = self.meta.get("banded_schema")
        if sj is None:  # pre-schema artifact: fall back to inference
            return spark.read.parquet(path)
        schema = T.StructType.fromJson(json.loads(sj))
        files = self.meta.get("banded_files")
        if files is None:  # pre-manifest artifact: whole-directory read
            return spark.read.schema(schema).parquet(path)
        if not files:
            return spark.createDataFrame([], schema)
        # manifest read (operators/_idxfiles.py): only files the meta
        # committed are visible — a crash between a parquet append and
        # the meta replace leaves torn files invisible, and a replayed
        # batch lands exactly once after GC
        return (spark.read.schema(schema).option("basePath", path)
                .parquet(*[os.path.join(path, f) for f in files]))

    def _banded_for(self, docs: DataFrame) -> DataFrame:
        m = self.meta
        out = minhash_banded(
            docs, text_col=m["text_col"], id_col=m["id_col"],
            num_hashes=m["num_hashes"], bands=m["bands"],
            shingle_k=m["shingle_k"], family=m["family"])
        return out.withColumn(
            "bpart",
            F.pmod("bhash", F.lit(m["n_partitions"])).cast("int"))


def _write_minhash_meta(root: str, meta: dict) -> None:
    import os
    atomic_write_json(os.path.join(root, MinHashIndex.META), meta)


def build_minhash_index(docs: DataFrame, root: str, text_col: str = "text",
                        id_col: str = "doc_id", num_hashes: int = 32,
                        bands: int = 16, shingle_k: int = 5,
                        family: str = "md5",
                        n_partitions: int = 64) -> MinHashIndex:
    """One shingle+signature pass over the corpus into the banded layout
    (see :class:`MinHashIndex`). ``n_partitions`` sizes the bpart dirs:
    pick ~(corpus banded rows / 128 MB of longs) at scale."""
    import os
    banded = (
        minhash_banded(docs, text_col, id_col, num_hashes, bands,
                       shingle_k, family)
        .withColumn("bpart", F.pmod("bhash", F.lit(n_partitions)).cast("int"))
        # cluster by bpart BEFORE the partitionBy writer: without this every
        # write task holds rows of every bpart and emits tasks x n_partitions
        # tiny files (measured 5k+ files at sf0.1). One task per bpart is
        # right while a bpart fits one file; at corpus scale add a second
        # repartition key (e.g. a bhash range) for multiple files per dir.
        .repartition("bpart")
        .sortWithinPartitions("bpart", "band", "bhash")
    )
    os.makedirs(root, exist_ok=True)
    banded.write.mode("overwrite").partitionBy("bpart").parquet(
        os.path.join(root, "banded"))
    import json
    from cdcrypt.operators._idxfiles import list_parquet_files
    meta = {
        "format": "cdcrypt-minhash/1",
        "text_col": text_col, "id_col": id_col,
        "num_hashes": num_hashes, "bands": bands, "shingle_k": shingle_k,
        "family": family, "n_partitions": n_partitions,
        "banded_schema": json.dumps(banded.schema.jsonValue()),
        "banded_files": list_parquet_files(root, "banded"),
    }
    _write_minhash_meta(root, meta)
    return MinHashIndex(root)


def _append_banded(idx: MinHashIndex, banded: DataFrame,
                   meta_extra: dict | None = None) -> MinHashIndex:
    """Append already-computed banded rows into the bpart layout and bump
    the append counter. Shared by :func:`append_to_minhash_index` (which
    computes the rows from text) and :func:`minhash_dedup_tick` (which
    reuses the rows its query pass already materialized).

    ``meta_extra`` entries are merged into the meta JSON in the SAME
    atomic ``os.replace`` as the append counter AND the committed-file
    manifest — a streaming caller can record its watermark (e.g. the
    micro-batch id) exactly-once with the growth it covers
    (streaming/dedup.py). A crash between the parquet append and the
    meta replace leaves torn files that no reader sees (reads go through
    the manifest) and that the next append garbage-collects — replaying
    the batch lands it exactly once (operators/_idxfiles.py)."""
    import os

    from cdcrypt.operators._idxfiles import gc_uncommitted, list_parquet_files
    if "banded_files" in idx.meta:  # pre-manifest indexes: no GC possible
        gc_uncommitted(idx.root, "banded", set(idx.meta["banded_files"]))
    banded.repartition("bpart").sortWithinPartitions(
        "bpart", "band", "bhash").write.mode("append").partitionBy(
        "bpart").parquet(os.path.join(idx.root, "banded"))
    meta = dict(idx.meta)
    meta["appends"] = int(meta.get("appends", 0)) + 1
    meta.update(meta_extra or {})
    if "banded_files" in idx.meta:
        meta["banded_files"] = list_parquet_files(idx.root, "banded")
    _write_minhash_meta(idx.root, meta)
    return MinHashIndex(idx.root)


def append_to_minhash_index(index: "MinHashIndex | str",
                            new_docs: DataFrame,
                            meta_extra: dict | None = None) -> MinHashIndex:
    """Grow the index by one ingest batch: signature pass over the NEW
    docs only, files appended into the bpart layout — existing banded
    files untouched. O(batch) per tick; single-writer, like build.

    CONTRACT: ids must be UNIQUE within a batch and DISJOINT from what
    the index already holds. A repeated id stores a second copy of its
    banded rows, which doubles that doc's n_shared_bands contributions
    and inflates cap-over-union bucket counts — CDC updates to existing
    docs should be collapsed upstream (exact dedup / LWW resolution
    gives exactly this) or handled by rebuilding; the index itself has
    no dedup-on-read, by design (it would cost a corpus-wide distinct
    per query).

    ``meta_extra`` merges into the meta JSON atomically with the append
    counter (the streaming-watermark contract — see ``_append_banded``)."""
    idx = MinHashIndex(index) if isinstance(index, str) else index
    return _append_banded(idx, idx._banded_for(new_docs), meta_extra)


def minhash_candidates_incremental(
        spark, index: "MinHashIndex | str", new_docs: DataFrame,
        max_bucket_size: int | None = None) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b, n_shared_bands) where AT
    LEAST ONE side is in ``new_docs`` — exactly the full pipeline's pairs
    over (corpus ∪ batch) minus the already-known corpus-internal pairs.

    Plan shape (the O(batch) contract):

    - the batch's banded rows are computed once (localCheckpoint — they
      feed the probe key set, the union, and the join);
    - the index side is filtered by a BROADCAST semi-join on the batch's
      distinct (bpart, band, bhash) keys — the corpus table is scanned
      in place, never shuffled, and the bpart equi-term is DPP-prunable;
    - ``max_bucket_size`` counts over the UNION of matched index rows and
      batch rows, which IS the full-pipeline bucket size for every bucket
      the batch touches (index rows outside touched buckets can't pair
      with the batch), so capped results equal the one-shot pipeline's,
      restricted to pairs involving the batch;
    - pair orientation dedupes without a distinct pass: batch-batch pairs
      join once via ``n.id < u.id``; corpus-batch pairs join once because
      only the ``n`` side is the batch.
    """
    idx = MinHashIndex(index) if isinstance(index, str) else index
    new_banded = idx._banded_for(new_docs).localCheckpoint()
    return _candidates_from_banded(spark, idx, new_banded, max_bucket_size)


def _candidates_from_banded(spark, idx: MinHashIndex, new_banded: DataFrame,
                            max_bucket_size: int | None) -> DataFrame:
    """Incremental candidate join over ALREADY-MATERIALIZED batch banded
    rows (callers localCheckpoint them: they feed the probe key set, the
    union, and the join)."""
    id_col = idx.meta["id_col"]
    probe = new_banded.select("bpart", "band", "bhash").distinct()
    matched = idx.read_banded(spark).join(
        F.broadcast(probe), ["bpart", "band", "bhash"])
    unioned = (
        matched.select(id_col, "band", "bhash",
                       F.lit(False).alias("is_new"))
        .unionByName(new_banded.select(id_col, "band", "bhash",
                                       F.lit(True).alias("is_new")))
    ).repartition("band", "bhash")
    unioned = _cap_hot_buckets(unioned, ("band", "bhash"), max_bucket_size)
    n_side = unioned.where("is_new").alias("n")
    u_side = unioned.alias("u")
    return (
        n_side.join(u_side, ["band", "bhash"])
        .where((F.col(f"n.{id_col}") < F.col(f"u.{id_col}"))
               | (~F.col("u.is_new")
                  & (F.col(f"n.{id_col}") != F.col(f"u.{id_col}"))))
        .groupBy(
            F.least(F.col(f"n.{id_col}"), F.col(f"u.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"n.{id_col}"),
                       F.col(f"u.{id_col}")).alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def minhash_dedup_tick(spark, index: "MinHashIndex | str",
                       batch: DataFrame,
                       max_bucket_size: int | None = None,
                       meta_extra: dict | None = None,
                       on_pairs=None) -> DataFrame:
    """One ingest tick of streaming near-dup detection: candidates for
    ``batch`` against everything ingested so far (including the batch
    itself), then the batch joins the index. Returns the MATERIALIZED
    candidate pairs (the append must not race the query, so this is one
    of the engine's few eager operators — batch-sized, not corpus-sized).

    Running ticks over any partition of a corpus yields exactly the
    one-shot pipeline's pairs (each pair surfaces on the tick of its
    later-arriving side; tested), so a streaming deployment loses nothing
    vs a nightly batch job — while paying O(batch) per tick.

    Caveat: the hot-bucket cap is evaluated against the corpus AS OF each
    tick — a bucket can go over the cap only after later ticks, so pairs
    an earlier tick already emitted are not retroactively dropped. With
    cap semantics "collapse degenerate near-everything docs", earlier
    emission is the desired behavior; for exact one-shot cap parity run
    the final corpus through :func:`minhash_lsh_candidates`.

    ``on_pairs`` (a callable receiving the materialized pairs) runs AFTER
    the query and BEFORE the index grows; ``meta_extra`` is merged into
    the index meta atomically with the append. Together they give a
    streaming caller crash-safe ordering: make the pairs durable first,
    then advance the index + watermark — a batch that dies in between is
    redelivered, recomputed against the unchanged index, and its pairs
    sink idempotently (streaming/dedup.py).
    """
    idx = MinHashIndex(index) if isinstance(index, str) else index
    # ONE shingle+signature pass per tick: the checkpointed banded rows
    # feed both the candidate query and the append (re-shingling is the
    # cost this index exists to amortize — paying it twice per tick
    # halved the point). Same id-disjointness contract as
    # :func:`append_to_minhash_index`.
    new_banded = idx._banded_for(batch).localCheckpoint()
    pairs = _candidates_from_banded(
        spark, idx, new_banded, max_bucket_size).localCheckpoint()
    if on_pairs is not None:
        on_pairs(pairs)
    _append_banded(idx, new_banded, meta_extra)
    return pairs
