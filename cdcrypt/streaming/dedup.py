"""Near-dup detection as a Structured Streaming job.

The persisted LSH indexes (MinHashIndex for text, EmbeddingLSHIndex for
vectors) already make per-batch near-dup detection O(batch): each tick
queries the index for verified pairs against everything ingested so far,
then joins it. This module wires those ticks under Spark's native
streaming runtime, the same shape as StructuredIngest (structured.py):

    readStream.schema(S).parquet(dir)             # document/vector tail
      .writeStream.foreachBatch(apply_batch)      # tick: query -> sink -> grow
      .option("checkpointLocation", ckpt)         # SS offset log
      .trigger(availableNow=True | processingTime=...)

Per micro-batch, ``apply_batch``:

1. skips if the index meta's ``last_batch_id`` >= this batch id — a batch
   that completed but whose SS offset commit was lost is redelivered and
   must not re-grow the index (the id-disjointness contract) or re-emit
   its pairs;
2. runs the dedup tick with ``on_pairs`` writing the verified pairs to
   ``pairs_dir/epoch=<batch_id>`` (mode=overwrite of THAT directory — a
   re-run of the same batch replaces, never duplicates);
3. lets the tick grow the index, recording ``last_batch_id`` in the meta
   JSON atomically with the append counter (``meta_extra``).

Crash-consistency: the ordering is pairs-durable FIRST, index+watermark
SECOND. A batch that dies before the index grows is redelivered by
Structured Streaming, recomputed against the unchanged index, and its
epoch directory is overwritten — exactly-once pairs, exactly-once index
growth. The remaining window is a crash BETWEEN the append job's commit
and the meta write (or mid-append before the writer's job-commit rename):
the index then holds banded rows with no watermark covering them, and the
redelivered batch would append a second copy. That window is the price of
a manifest-less artifact; it is single-writer-narrow, AUTO-DETECTED at
stream start (:func:`check_index_covered` — the data dir's ``_SUCCESS``
marker strictly newer than the meta JSON means a commit without its
watermark; construction raises :class:`IndexIntegrityError` instead of
double-appending), and recovery is an index rebuild — the same contract
as the build step itself. The CDC lake
(table/lake.py) closes the analogous window with epoch-keyed atomic
commits; the LSH artifacts deliberately stay plain parquet + one meta
JSON because their contents are derivable (rebuild == re-running the
signature pass).

The SS checkpoint and the index watermark form ONE recovery unit: batch
ids are assigned by the offset log, so restoring or rebuilding the
checkpoint without the matching index (or vice versa) re-numbers batches
against a stale watermark — old files can re-append and new files can be
skipped, silently. Recover them together, or rebuild the index and start
a fresh checkpoint. (The CDC ingest has the identical contract between
its checkpoint and the lake's committed_epoch.)

Streamed ticks lose nothing vs a nightly batch job: the union of per-tick
pairs over ANY micro-batching of a corpus equals the one-shot pipeline's
pairs (tested at the tick level in test_minhash_index.py /
test_embedding_index.py, and end-to-end through SS here in
tests/test_streaming_dedup.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from cdcrypt.operators.docdedup import MinHashIndex, minhash_dedup_tick
from cdcrypt.operators.similarity import (
    EmbeddingLSHIndex,
    embedding_dedup_tick,
)
from cdcrypt.streaming.structured import run_file_stream

_KINDS = {
    # (index class, tick fn, data subdirs written before the meta JSON)
    "minhash": (MinHashIndex, minhash_dedup_tick, ("banded",)),
    "embedding": (EmbeddingLSHIndex, embedding_dedup_tick,
                  ("tagged", "vectors")),
}


class IndexIntegrityError(RuntimeError):
    """The index holds an append not covered by its meta watermark — a
    crash hit the window between the append job's commit and the meta
    write. Rebuild the index (contents are derivable) or pass
    ``integrity_check=False`` after manual verification."""


def check_index_covered(index_root: str, kind: str) -> None:
    """Fail fast on the pre-manifest crash window (ADVICE r3): every
    append/build job rewrites the data dir's ``_SUCCESS`` marker FIRST and
    the meta JSON SECOND (same-process, strictly ordered), so in a healthy
    index the meta file is always at least as new as every marker. A
    ``_SUCCESS`` strictly newer than the meta means committed banded rows
    with no watermark covering them — the redelivered batch would
    double-append (duplicate banded rows / a second vector copy, inflating
    cap-over-union counts). Detection is an os.stat, no Spark job.

    Indexes carrying a committed-file manifest (every index built since
    operators/_idxfiles.py landed) SELF-HEAL this window instead: torn
    files are invisible to readers and garbage-collected by the next
    append, so the redelivered batch lands exactly once — no fail-fast
    needed, the check passes straight through. Only a manifest for EVERY
    data subdir passes: a partially manifested meta gets the marker
    check, since its unmanifested subdir is neither hidden nor GC'd."""
    import json

    meta_name = _KINDS[kind][0].META
    subdirs = _KINDS[kind][2]
    meta_path = os.path.join(index_root, meta_name)
    with open(meta_path) as f:
        meta = json.load(f)
    if all(f"{sub}_files" in meta for sub in subdirs):
        return  # manifest-bearing: torn appends are invisible + GC'd
    meta_m = os.stat(meta_path).st_mtime_ns
    for sub in subdirs:
        marker = os.path.join(index_root, sub, "_SUCCESS")
        if os.path.exists(marker) and os.stat(marker).st_mtime_ns > meta_m:
            raise IndexIntegrityError(
                f"{index_root}/{sub} has a commit newer than {meta_name}: "
                "an append landed without its meta watermark (crash between "
                "the append job's commit and the meta write). Rebuild the "
                "index before streaming against it, or pass "
                "integrity_check=False if the state was verified manually."
            )


class StreamingNearDup:
    """foreachBatch driver for streaming near-dup detection over a
    persisted LSH index.

    Parameters
    ----------
    index_root : a built MinHashIndex / EmbeddingLSHIndex directory (build
        it first, possibly on an empty corpus — the from-scratch streaming
        case; pass ``dim`` to the embedding build then).
    source_dir : directory the file source tails for new parquet batches.
    pairs_dir : near-dup pairs land in ``pairs_dir/epoch=<batch_id>/``;
        read them back with :meth:`read_pairs` (epoch is a partition
        column, so downstream consumers can tail new epochs).
    checkpoint_dir : Structured Streaming offset log.
    kind : 'minhash' (text) or 'embedding' (vectors).
    tick_kwargs : forwarded to the tick (e.g. ``max_bucket_size``,
        ``threshold`` for embeddings).
    """

    def __init__(self, index_root: str, source_dir: str, pairs_dir: str,
                 checkpoint_dir: str, kind: str = "minhash",
                 tick_kwargs: dict | None = None,
                 integrity_check: bool = True):
        if kind not in _KINDS:
            raise ValueError(f"kind {kind!r} must be one of {set(_KINDS)}")
        self.index_cls, self._tick, _ = _KINDS[kind]
        self.index_root = index_root
        self.source_dir = source_dir
        self.pairs_dir = pairs_dir
        self.checkpoint_dir = checkpoint_dir
        self.kind = kind
        self.tick_kwargs = dict(tick_kwargs or {})
        self.index_cls(index_root)  # fail fast: must be built already
        if integrity_check:
            # fail fast on an uncovered append instead of double-appending
            # the redelivered batch (see check_index_covered)
            check_index_covered(index_root, kind)

    def _epoch_dir(self, batch_id: int) -> str:
        return os.path.join(self.pairs_dir, f"epoch={int(batch_id)}")

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        idx = self.index_cls(self.index_root)  # reread meta: fresh watermark
        if int(batch_id) <= int(idx.meta.get("last_batch_id", -1)):
            return  # SS redelivery of a completed batch -> idempotent skip
        epoch_dir = self._epoch_dir(batch_id)

        def sink(pairs: DataFrame) -> None:
            # overwrite of the per-epoch directory, not of pairs_dir: a
            # redelivered half-done batch replaces its own output only
            pairs.write.mode("overwrite").parquet(epoch_dir)

        self._tick(batch_df.sparkSession, idx, batch_df,
                   meta_extra={"last_batch_id": int(batch_id)},
                   on_pairs=sink, **self.tick_kwargs)

    def run_stream(
        self,
        spark: SparkSession,
        schema: StructType,
        *,
        available_now: bool = True,
        processing_time: str | None = None,
        max_files_per_trigger: int | None = None,
    ):
        """Start (and for ``available_now`` await) the streaming query."""
        return run_file_stream(
            spark, self.source_dir, schema, self.apply_batch,
            self.checkpoint_dir, available_now=available_now,
            processing_time=processing_time,
            max_files_per_trigger=max_files_per_trigger,
        )

    def read_pairs(self, spark: SparkSession) -> DataFrame:
        """All pairs emitted so far, with their ``epoch`` partition column
        (which micro-batch surfaced each pair)."""
        if not any(e.startswith("epoch=")
                   for e in (os.listdir(self.pairs_dir)
                             if os.path.isdir(self.pairs_dir) else ())):
            # the pair schema is only known once a tick has run — fail
            # with the actual state instead of a parquet PATH_NOT_FOUND
            raise FileNotFoundError(
                f"no pairs emitted yet under {self.pairs_dir} "
                "(no micro-batch has completed)")
        return spark.read.option("basePath", self.pairs_dir).parquet(
            self.pairs_dir)
