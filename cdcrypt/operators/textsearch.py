"""Full-text search over the corpus: BM25 scoring + a persisted inverted
index with O(batch) appends.

Training-data pipelines search their own corpus constantly — "find the
documents about X" (curation audits), "which docs match this eval prompt"
(contamination triage beyond n-gram overlap), "pull positives for a
classifier" (quality-filter bootstrapping). This module gives the engine a
native ranked-retrieval operator instead of outsourcing to a search cluster.

Scoring is Lucene-style Okapi BM25::

    score(q, d) = sum over t in q∩d of
        ln(1 + (N - df_t + 0.5)/(df_t + 0.5))          -- idf
        * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) -- saturated tf

Tokenization reuses the corpus-wide word convention (docdedup._words:
lowercase, whitespace-collapse, split — DuckDB-replicable, so the driver
oracle recomputes the whole ranking in SQL).

Scale design (100 TB corpus):
- The postings relation ``(term, doc_id, tf, dl)`` is ~tokens-sized but
  shuffles only (hash, counts) — one explode + one groupBy, no text after
  the tokenize projection. ``dl`` is DENORMALIZED onto each posting at
  build so query-time scoring never joins a doc-length table.
- One-shot :func:`bm25_topk` broadcasts the query terms (queries are small
  by contract) — the corpus side is ONE shuffle (the tf groupBy), then a
  broadcast-join probe; df/idf are computed over the matched subset, which
  is exact because a term's postings are either all matched or all pruned.
- The persisted :class:`TextIndex` Hive-partitions postings by
  ``tpart = pmod(h60(term), n_partitions)`` — the query join carries tpart
  so dynamic partition pruning skips every untouched file (same layout
  economics as MinHashIndex.banded / IvfIndex cells). Appends write only
  the new batch's postings files and bump meta counters; document
  frequencies are intentionally NOT materialized (they'd be corpus-global
  counters that every append must rewrite) — df is computed at query time
  from the pruned postings, which is candidate-proportional work.
- Top-k is a rank window partitioned by query_id: tiny for interactive
  query sets, and still a single key-partitioned shuffle when the "queries"
  are themselves a large table (contamination sweeps).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdcrypt.functions.hash64 import h60
from cdcrypt.operators.docdedup import _words
from cdcrypt.table.commitfile import atomic_write_json

__all__ = [
    "TextIndex", "TextIndexError", "append_to_text_index",
    "bm25_topk", "bm25_topk_indexed", "build_text_index", "doc_postings",
]


def _nonempty_words(text_col: str) -> Column:
    return F.filter(_words(text_col), lambda w: w != F.lit(""))


def doc_postings(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """``(id, term, tf, dl)`` — one row per distinct (doc, term), with the
    document token length denormalized onto every posting.

    One narrow projection (tokenize + explode) and ONE shuffle (the tf
    groupBy). ``dl`` rides through the groupBy as a ``first`` aggregate —
    it is functionally dependent on the id, so no second pass or join."""
    words = _nonempty_words(text_col)
    return (
        docs.select(F.col(id_col).alias("id"),
                    F.size(words).alias("dl"),
                    F.explode(words).alias("term"))
            .groupBy("id", "term")
            .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )


def _corpus_stats(docs: DataFrame, text_col: str) -> DataFrame:
    """1-row (n_docs, avgdl); zero-token docs count toward N and drag the
    average down, matching the meta counters the persisted index keeps."""
    return docs.agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.size(_nonempty_words(text_col)))
         / F.count("*")).alias("avgdl"))


def _score_matches(matched: DataFrame, stats: DataFrame,
                   k1: float, b: float, k: int) -> DataFrame:
    """Shared scoring tail: matched ``(query_id, id, term, tf, dl)`` rows ->
    per-query top-k. df/idf are computed over ``matched``, which holds the
    COMPLETE postings of every query term (term-level pruning only) — as a
    count window over (query_id, term) rather than a groupBy+self-join, so
    the matched relation is scanned ONCE (a self-join would re-read the
    postings scan / re-tokenize the one-shot corpus; plan-asserted in
    tests)."""
    df_w = F.count("*").over(Window.partitionBy("query_id", "term"))
    n = F.col("n_docs").cast("double")
    idf = F.log(F.lit(1.0) + (n - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_sat = (F.col("tf") * (k1 + 1.0)
              / (F.col("tf")
                 + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))))
    scored = (
        matched.withColumn("df", df_w)
               .crossJoin(F.broadcast(stats))
               .groupBy("query_id", F.col("id").alias("doc_id"))
               .agg(F.sum(idf * tf_sat).alias("score"))
               .withColumn("score", F.round("score", 4))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("query_id", "doc_id", "rank", "score"))


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id",
              query_id_col: str = "query_id",
              query_text_col: str = "query") -> DataFrame:
    """One-shot ranked retrieval: top-``k`` corpus docs per query by BM25.

    Returns ``(query_id, doc_id, rank, score)`` with score rounded to 4
    decimals and rank ties broken by ascending doc_id (the ANN gates'
    cross-engine determinism convention). The query table is broadcast —
    small by contract; for corpus-sized query tables build a
    :class:`TextIndex` and batch through :func:`bm25_topk_indexed`."""
    postings = doc_postings(docs, text_col, id_col)
    qterms = (
        queries.select(F.col(query_id_col).alias("query_id"),
                       F.explode(_nonempty_words(query_text_col))
                        .alias("term"))
               .distinct()
    )
    matched = postings.join(F.broadcast(qterms), "term")
    return _score_matches(matched, _corpus_stats(docs, text_col), k1, b, k)


# ---------------------------------------------------------------------------
# persisted inverted index
# ---------------------------------------------------------------------------

class TextIndexError(RuntimeError):
    pass


class TextIndex:
    """Persisted inverted index: tokenize the corpus ONCE, serve ranked
    retrieval per query batch in candidate-proportional time.

    Layout::

        root/_text_meta.json    tokenizer/layout params + corpus counters
                                (n_docs, total_len, appends)
        root/postings/tpart=K/  (id, term, tf, dl) parquet, Hive-partitioned
                                by tpart = pmod(h60(term), n_partitions) and
                                sorted by term within files for zone maps

    Query-time df recomputation (instead of stored df) is what makes
    appends O(batch): document frequency is a corpus-global counter, and
    materializing it would turn every append into a corpus-wide rewrite.
    The pruned probe reads exactly the query terms' postings, so computing
    df there is the same candidate-proportional scan the scorer needs
    anyway."""

    META = "_text_meta.json"

    def __init__(self, root: str):
        try:
            with open(os.path.join(root, self.META)) as f:
                self.meta = json.load(f)
        except (OSError, ValueError) as e:
            raise TextIndexError(f"not a text index: {root}") from e
        self.root = root

    def read_postings(self, spark: SparkSession) -> DataFrame:
        from pyspark.sql import types as T
        schema = T.StructType.fromJson(json.loads(self.meta["schema"]))
        return spark.read.schema(schema).parquet(
            os.path.join(self.root, "postings"))

    def _postings_for(self, docs: DataFrame) -> DataFrame:
        m = self.meta
        return (
            doc_postings(docs, m["text_col"], m["id_col"])
            .withColumn("tpart",
                        F.pmod(h60(F.col("term")),
                               F.lit(m["n_partitions"])).cast("int"))
        )


def _write_text_meta(root: str, meta: dict) -> None:
    atomic_write_json(os.path.join(root, TextIndex.META), meta)


def _stats_and_len(docs: DataFrame, text_col: str) -> tuple[int, int]:
    row = docs.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.size(_nonempty_words(text_col))),
                   F.lit(0)).alias("s")).first()
    return int(row.n), int(row.s)


def _write_postings(postings: DataFrame, root: str, mode: str) -> None:
    (postings.repartition("tpart")
             .sortWithinPartitions("tpart", "term")
             .write.mode(mode).partitionBy("tpart")
             .parquet(os.path.join(root, "postings")))


def build_text_index(docs: DataFrame, root: str, text_col: str = "text",
                     id_col: str = "doc_id",
                     n_partitions: int = 64) -> TextIndex:
    """One tokenize pass over the corpus into the tpart layout. Size
    ``n_partitions`` to ~(postings rows / 128 MB) at scale — same sizing
    rule as MinHashIndex.banded."""
    os.makedirs(root, exist_ok=True)
    postings = (
        doc_postings(docs, text_col, id_col)
        .withColumn("tpart", F.pmod(h60(F.col("term")),
                                    F.lit(n_partitions)).cast("int"))
    )
    _write_postings(postings, root, "overwrite")
    n_docs, total_len = _stats_and_len(docs, text_col)
    meta = {
        "format": "cdcrypt-text/1",
        "text_col": text_col, "id_col": id_col,
        "n_partitions": n_partitions,
        "n_docs": n_docs, "total_len": total_len,
        "schema": json.dumps(postings.schema.jsonValue()),
    }
    _write_text_meta(root, meta)
    return TextIndex(root)


def append_to_text_index(index: "TextIndex | str", new_docs: DataFrame,
                         meta_extra: dict | None = None) -> TextIndex:
    """Grow the index by one ingest batch: tokenize the NEW docs only,
    append their postings files, bump the corpus counters. O(batch).

    Same id contract as append_to_minhash_index: batch ids unique and
    disjoint from the corpus (CDC updates collapse upstream). ``meta_extra``
    merges atomically with the counters — the streaming-watermark hook."""
    idx = TextIndex(index) if isinstance(index, str) else index
    _write_postings(idx._postings_for(new_docs), idx.root, "append")
    n_docs, total_len = _stats_and_len(new_docs, idx.meta["text_col"])
    meta = dict(idx.meta)
    meta["n_docs"] = int(meta["n_docs"]) + n_docs
    meta["total_len"] = int(meta["total_len"]) + total_len
    meta["appends"] = int(meta.get("appends", 0)) + 1
    meta.update(meta_extra or {})
    _write_text_meta(idx.root, meta)
    return TextIndex(idx.root)


def bm25_topk_indexed(spark: SparkSession, index: "TextIndex | str",
                      queries: DataFrame, k: int = 10,
                      k1: float = 1.2, b: float = 0.75,
                      query_id_col: str = "query_id",
                      query_text_col: str = "query") -> DataFrame:
    """Ranked retrieval against a persisted :class:`TextIndex` — the corpus
    is never re-tokenized. The probe joins on ``(tpart, term)`` with the
    query side broadcast, so dynamic partition pruning reads only the
    tpart dirs the query terms hash into; df comes from the pruned
    postings (exact — term-level pruning keeps whole terms)."""
    idx = TextIndex(index) if isinstance(index, str) else index
    m = idx.meta
    if int(m["n_docs"]) == 0:
        raise TextIndexError("empty index: append documents first")
    qterms = (
        queries.select(F.col(query_id_col).alias("query_id"),
                       F.explode(_nonempty_words(query_text_col))
                        .alias("term"))
               .distinct()
               .withColumn("tpart",
                           F.pmod(h60(F.col("term")),
                                  F.lit(m["n_partitions"])).cast("int"))
    )
    matched = idx.read_postings(spark).join(
        F.broadcast(qterms), ["tpart", "term"]).drop("tpart")
    stats = spark.createDataFrame(
        [(int(m["n_docs"]),
          float(m["total_len"]) / float(m["n_docs"]))],
        "n_docs bigint, avgdl double")
    return _score_matches(matched, stats, k1, b, k)
