"""N-gram language-model perplexity scoring (CCNet-style quality filter).

CCNet (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") ranks crawl documents by the perplexity of a
language model trained on a trusted reference corpus — low perplexity reads
like the reference, high perplexity is boilerplate/gibberish. This module is
that filter with a hashed bigram LM instead of KenLM: the *pipeline shape*
(train on reference, score the crawl, bucket by perplexity) is the point,
and every step is exactly reproducible in the DuckDB oracle.

Model: add-alpha-smoothed bigram LM over the corpus word convention
(docdedup._words — lowercase, whitespace split), with a ``<s>`` BOS context
per document::

    p(t | prev) = (c(prev, t) + a) / (c(prev, ·) + a * (V + 1))
    avg_logp(d) = mean over tokens of ln p ;  ppl(d) = exp(-avg_logp)

Terms travel as 60-bit md5 hashes (functions/hash64.py) on BOTH engines, so
the LM relation and every join key is a pair of longs — never text. A 60-bit
collision merges two n-gram counts (~n²/2⁶¹ odds); it shifts one
probability, deterministically and identically in engine and oracle.

Scale design (train on curated TBs, score 100 TB):
- Training is ONE shuffle: the (hp, ht) count groupBy, map-side combined.
  Context totals and vocab size derive from the counts relation (LM-sized,
  not corpus-sized).
- Scoring shuffles the crawl's bigrams (longs) against the LM: a shuffle
  join on (hp, ht) by default; pass ``broadcast_lm=True`` when the
  reference LM fits an executor (the common CCNet shape — wiki-sized
  reference, crawl-sized scan) to keep the crawl side shuffle-free.
- Per-doc reduction is the same groupBy(doc) every text op here uses; the
  bigram explode is a narrow projection (array zip, no window/shuffle).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdcrypt.functions.hash64 import h60
from cdcrypt.operators.docdedup import _words
from cdcrypt.table.commitfile import atomic_write_json

__all__ = ["BigramLM", "BigramLMIndex", "LMIndexError",
           "append_to_lm_index", "build_lm_index", "compact_lm_index",
           "doc_bigrams", "perplexity_filter", "score_perplexity",
           "train_bigram_lm"]

BOS = "<s>"


def _nonempty(text_col: str) -> Column:
    return F.filter(_words(text_col), lambda w: w != F.lit(""))


def doc_bigrams(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """``(id, hp, ht)`` — one row per token, hp = hashed previous token
    (BOS for the first), ht = hashed token. Zero-token docs emit nothing.

    Narrow projection only: the BOS-shifted previous-token array is a
    slice+concat, the pairing a zip — no window, no shuffle."""
    ws = _nonempty(text_col)
    prev = F.when(F.size(ws) <= 1, F.array(F.lit(BOS))).otherwise(
        F.concat(F.array(F.lit(BOS)), F.slice(ws, 1, F.size(ws) - 1)))
    pairs = F.zip_with(prev, ws,
                       lambda p, c: F.struct(p.alias("p"), c.alias("c")))
    return (
        docs.select(F.col(id_col).alias("id"),
                    F.explode(pairs).alias("bg"))
            # zip_with pads the empty-doc case (prev=[<s>], ws=[]) with a
            # null current token — not a real bigram
            .where(F.col("bg.c").isNotNull())
            .select("id", h60(F.col("bg.p")).alias("hp"),
                    h60(F.col("bg.c")).alias("ht"))
    )


@dataclass
class BigramLM:
    """Trained LM as three relations (all LM-sized, corpus-independent):
    ``bigrams`` (hp, ht, cnt), ``contexts`` (hp, ctx), ``vocab`` — a 1-row
    (v) distinct-target count for the smoothing denominator."""

    bigrams: DataFrame
    contexts: DataFrame
    vocab: DataFrame


def train_bigram_lm(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> BigramLM:
    """Count bigrams over the reference corpus — one map-side-combined
    groupBy; contexts/vocab are aggregations OF the counts relation."""
    bg = (doc_bigrams(docs, text_col, id_col)
          .groupBy("hp", "ht").agg(F.count("*").alias("cnt")))
    ctx = bg.groupBy("hp").agg(F.sum("cnt").alias("ctx"))
    vocab = bg.agg(F.count_distinct("ht").alias("v"))
    return BigramLM(bigrams=bg, contexts=ctx, vocab=vocab)


def score_perplexity(docs: DataFrame, lm: BigramLM, alpha: float = 0.1,
                     text_col: str = "text", id_col: str = "doc_id",
                     broadcast_lm: bool = False,
                     round_digits: int = 4) -> DataFrame:
    """Per-document LM score: ``(doc_id, n_tokens, avg_logp, ppl)``.

    Unseen bigrams/contexts fall back to the smoothed floor
    (a / (a*(V+1)) and below), so out-of-vocabulary text scores high
    perplexity instead of erroring. Zero-token docs are absent from the
    output (no tokens — perplexity undefined), matching the oracle's
    group-of-nothing semantics."""
    bg = doc_bigrams(docs, text_col, id_col)
    lmb, lmc = lm.bigrams, lm.contexts
    if broadcast_lm:
        lmb, lmc = F.broadcast(lmb), F.broadcast(lmc)
    logp = F.log(
        (F.coalesce(F.col("cnt"), F.lit(0)) + alpha)
        / (F.coalesce(F.col("ctx"), F.lit(0))
           + alpha * (F.col("v") + 1.0)))
    scored = (
        bg.join(lmb, ["hp", "ht"], "left")
          .join(lmc, ["hp"], "left")
          .crossJoin(F.broadcast(lm.vocab))
          .groupBy(F.col("id").alias(id_col))
          .agg(F.count("*").alias("n_tokens"),
               F.avg(logp).alias("_lp"))
    )
    return scored.select(
        id_col, "n_tokens",
        F.round("_lp", round_digits).alias("avg_logp"),
        F.round(F.exp(-F.col("_lp")), round_digits).alias("ppl"))


def perplexity_filter(docs: DataFrame, lm: BigramLM, max_ppl: float,
                      text_col: str = "text", id_col: str = "doc_id",
                      broadcast_lm: bool = False) -> DataFrame:
    """CCNet's keep rule: docs whose perplexity under the reference LM is
    at most ``max_ppl`` (zero-token docs drop — they have no score).
    Returns the original rows; the score join adds one LM-sized probe."""
    keep = score_perplexity(docs, lm, text_col=text_col, id_col=id_col,
                            broadcast_lm=broadcast_lm) \
        .where(F.col("ppl") <= max_ppl).select(id_col)
    return docs.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# persisted LM (train once, grow per ingest batch)
# ---------------------------------------------------------------------------

class LMIndexError(RuntimeError):
    pass


class BigramLMIndex:
    """Persisted bigram-count segments: train the reference LM ONCE, grow
    it per ingest batch in O(batch) — the CCNet filter as a living artifact
    instead of a per-run recount.

    Layout::

        root/_lm_meta.json      tokenizer params + counters (n_docs, appends)
        root/counts/hpart=K/    (hp, ht, cnt) parquet segments,
                                Hive-partitioned by hpart = pmod(hp, P)

    Appends write a NEW segment of the batch's counts; reads re-aggregate
    ``sum(cnt)`` per (hp, ht) — merge-on-read, exactly the MoR lake trade
    (operators/merge.py): appends never rewrite history, the read pays one
    LM-sized groupBy that :func:`compact_lm_index` folds away. Contexts
    and vocab size always DERIVE from the merged counts, so they can never
    drift from the segments."""

    META = "_lm_meta.json"

    def __init__(self, root: str):
        import json
        import os
        try:
            with open(os.path.join(root, self.META)) as f:
                self.meta = json.load(f)
        except (OSError, ValueError) as e:
            raise LMIndexError(f"not an LM index: {root}") from e
        self.root = root

    def read_counts(self, spark) -> DataFrame:
        import json
        import os
        from pyspark.sql import types as T
        schema = T.StructType.fromJson(json.loads(self.meta["schema"]))
        seg = spark.read.schema(schema).parquet(
            os.path.join(self.root, "counts"))
        return seg.groupBy("hp", "ht").agg(F.sum("cnt").alias("cnt"))

    def lm(self, spark) -> BigramLM:
        bg = self.read_counts(spark)
        return BigramLM(
            bigrams=bg,
            contexts=bg.groupBy("hp").agg(F.sum("cnt").alias("ctx")),
            vocab=bg.agg(F.count_distinct("ht").alias("v")))


def _write_lm_meta(root: str, meta: dict) -> None:
    import os
    atomic_write_json(os.path.join(root, BigramLMIndex.META), meta)


def _write_lm_segment(counts: DataFrame, root: str, n_partitions: int,
                      mode: str) -> None:
    import os
    (counts.withColumn("hpart", F.pmod("hp", F.lit(n_partitions))
                       .cast("int"))
           .repartition("hpart")
           .sortWithinPartitions("hpart", "hp", "ht")
           .write.mode(mode).partitionBy("hpart")
           .parquet(os.path.join(root, "counts")))


def build_lm_index(docs: DataFrame, root: str, text_col: str = "text",
                   id_col: str = "doc_id",
                   n_partitions: int = 16) -> BigramLMIndex:
    """One bigram-count pass over the reference corpus into the hpart
    layout."""
    import json
    import os
    os.makedirs(root, exist_ok=True)
    counts = (doc_bigrams(docs, text_col, id_col)
              .groupBy("hp", "ht").agg(F.count("*").alias("cnt")))
    _write_lm_segment(counts, root, n_partitions, "overwrite")
    schema = counts.withColumn(
        "hpart", F.lit(0).cast("int")).schema
    meta = {
        "format": "cdcrypt-lm/1",
        "text_col": text_col, "id_col": id_col,
        "n_partitions": n_partitions,
        "n_docs": docs.count(),
        "schema": json.dumps(schema.jsonValue()),
    }
    _write_lm_meta(root, meta)
    return BigramLMIndex(root)


def append_to_lm_index(index: "BigramLMIndex | str", new_docs: DataFrame,
                       meta_extra: dict | None = None) -> BigramLMIndex:
    """Grow the LM by one batch: count the NEW docs' bigrams only, append
    the segment. O(batch); duplicate (hp, ht) keys across segments are the
    point — the merge-on-read sum folds them. Same atomic meta contract as
    the other indexes (``meta_extra`` carries streaming watermarks)."""
    idx = BigramLMIndex(index) if isinstance(index, str) else index
    m = idx.meta
    counts = (doc_bigrams(new_docs, m["text_col"], m["id_col"])
              .groupBy("hp", "ht").agg(F.count("*").alias("cnt")))
    _write_lm_segment(counts, idx.root, m["n_partitions"], "append")
    meta = dict(m)
    meta["n_docs"] = int(meta["n_docs"]) + new_docs.count()
    meta["appends"] = int(meta.get("appends", 0)) + 1
    meta.update(meta_extra or {})
    _write_lm_meta(idx.root, meta)
    return BigramLMIndex(idx.root)


def compact_lm_index(spark, index: "BigramLMIndex | str") -> BigramLMIndex:
    """Fold all segments into one: rewrite the merged counts as the single
    segment (the read-side groupBy becomes a near-no-op until the next
    append). Counters and layout params are preserved."""
    import os
    import shutil
    idx = BigramLMIndex(index) if isinstance(index, str) else index
    merged = idx.read_counts(spark)
    tmp = os.path.join(idx.root, "counts_compact")
    (merged.withColumn("hpart", F.pmod("hp",
                                       F.lit(idx.meta["n_partitions"]))
                       .cast("int"))
           .repartition("hpart")
           .sortWithinPartitions("hpart", "hp", "ht")
           .write.mode("overwrite").partitionBy("hpart").parquet(tmp))
    live = os.path.join(idx.root, "counts")
    shutil.rmtree(live)
    os.replace(tmp, live)
    meta = dict(idx.meta)
    meta["compactions"] = int(meta.get("compactions", 0)) + 1
    _write_lm_meta(idx.root, meta)
    return BigramLMIndex(idx.root)
