"""Structured Streaming driver: the same ingest, under Spark's native
streaming runtime (SURVEY.md P1/P3 expressed with readStream/foreachBatch).

The manual epoch loop (pipeline.py) exists because epoch files stand in for
Kafka offsets and give the bench deterministic batch boundaries. This module
runs the SAME per-batch body (``IngestPipeline.ingest_batch``: DLQ split,
integrity audit, txn alignment, bucket-cluster -> resolve (dedup+LWW) ->
encrypt -> MoR merge, write-audit-publish) as a `foreachBatch` sink of a
file-source stream, so the engine also deploys as a plain Structured
Streaming job:

    readStream.schema(S).parquet(dir)          # binlog tail (file source)
      .writeStream.foreachBatch(apply_batch)   # resolve+encrypt+merge
      .option("checkpointLocation", ckpt)      # SS offset log
      .trigger(availableNow=True | processingTime=...)

Exactly-once holds through BOTH layers: Structured Streaming's checkpointed
offset log gives at-least-once delivery of each micro-batch, and the lake's
epoch-keyed atomic commit (epoch = SS batch_id) makes redelivery a no-op —
the same contract the manual loop proves in tests/test_commit_atomicity.py.

Batch boundaries need NOT align with generator epochs: resolution is a pure
function of (conv_id, turn_idx, op_seq), so ANY partitioning of the change
stream into micro-batches converges to the same final table (asserted
against the DuckDB oracle in tests/test_structured_streaming.py with
maxFilesPerTrigger forcing misaligned batches).

Schema: the file source requires a fixed read schema. Pass the POST-evolution
schema (superset); pre-evolution files yield nulls for added columns —
add-column evolution on read, same as the lake reader. (A column added while
the stream runs requires a stream restart with the new schema — the standard
Structured Streaming contract; the lake side needs no migration.)
"""

from __future__ import annotations

import glob
import os
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from cdcrypt.streaming.pipeline import IngestPipeline, aqe_disabled


def run_file_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    apply_batch,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
    disable_aqe_when_available_now: bool = False,
    source_format: str = "parquet",
    source_adapter=None,
):
    """The one file-source -> foreachBatch wiring every streaming driver in
    this package shares (CDC ingest, near-dup dedup): schema'd parquet
    tail, optional per-trigger file cap, checkpointed offset log, and the
    availableNow-await vs processingTime trigger split. Returns the
    started (and for ``available_now`` terminated) streaming query.

    ``source_format="text"`` tails ``*.jsonl`` files as raw lines instead
    (``schema`` is ignored — a text source is always one string column)
    for envelope feeds that own their parsing via ``source_adapter``, e.g.
    a Debezium topic dump through :func:`cdcrypt.sources.debezium.
    parse_debezium`. The adapter is a plain DataFrame->DataFrame Column
    transform, so it composes with the streaming reader unchanged, and
    batch-misalignment safety carries over: resolution is a pure function
    of (key, op_seq), so ANY split of the envelope lines into micro-batches
    converges to the same table."""
    if source_format == "text":
        reader = spark.readStream
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger",
                                   str(max_files_per_trigger))
        src = reader.text(os.path.join(source_dir, "*.jsonl"))
    else:
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger",
                                   str(max_files_per_trigger))
        # glob keeps non-parquet bookkeeping files (_DONE markers) out
        src = reader.parquet(os.path.join(source_dir, "*.parquet"))
    if source_adapter is not None:
        src = source_adapter(src)
    writer = (
        src.writeStream
        .foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        with (aqe_disabled(spark) if disable_aqe_when_available_now
              else nullcontext()):
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
        return q
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def infer_stream_schema(source_dir: str) -> StructType:
    """Union of all epoch-file footers (pyarrow, driver-side): the
    post-evolution superset schema the file source needs."""
    import pyarrow.parquet as pq
    from pyarrow import unify_schemas
    from pyspark.sql.pandas.types import from_arrow_schema

    schemas = [
        pq.ParquetFile(p).schema_arrow
        for p in sorted(glob.glob(os.path.join(source_dir, "*.parquet")))
    ]
    return from_arrow_schema(unify_schemas(schemas, promote_options="default"))


class StructuredIngest(IngestPipeline):
    """IngestPipeline variant driven by Structured Streaming.

    Runs the pipeline's per-batch body unchanged; only the driver loop
    differs. ``checkpoint_dir`` holds the SS offset log instead of
    per-epoch JSON."""

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        table = self.table()
        if batch_id <= table.committed_epoch:
            return  # SS redelivery after restart -> idempotent skip
        if self.integrity_audit and self.integrity_audit_dir is None:
            # SS has no per-epoch lineage JSON to carry counts, so the
            # audit tap REQUIRES the parquet sink here
            raise ValueError(
                "integrity_audit under Structured Streaming requires "
                "integrity_audit_dir (no lineage JSON to carry counts)")
        # epoch = SS batch id: contiguous from the checkpointed offset
        # log, so the aligner's epoch chain (align(e) reads pending(e-1))
        # holds, and side outputs under epoch=batch_id are overwritten
        # idempotently under SS redelivery
        self.ingest_batch(batch_df.sparkSession, table, batch_df, batch_id)

    def run_stream(
        self,
        spark: SparkSession,
        schema: StructType | None = None,
        *,
        available_now: bool = True,
        processing_time: str | None = None,
        max_files_per_trigger: int | str | None = None,
    ):
        """Start (and for ``available_now`` await) the streaming query.

        With ``source_adapter`` set (e.g. Debezium envelopes), the source
        is tailed as JSON text lines and the adapter owns parsing —
        ``schema`` is then optional; otherwise it is the post-evolution
        parquet read schema.

        ``max_files_per_trigger='auto'`` reads the learned batch size from
        the checkpoint dir's backpressure state (written by
        :meth:`IngestPipeline.run_adaptive` or a previous stream run) —
        Structured Streaming fixes the per-trigger cap at stream start, so
        adaptation happens across restarts rather than within a run."""
        if max_files_per_trigger == "auto":
            from cdcrypt.streaming.backpressure import BatchSizeController
            max_files_per_trigger = BatchSizeController().load(
                self.checkpoint_dir).files_per_trigger()
        self.table()  # create on first run
        # a tolerant adapter (dlq_adapter) splits inside foreachBatch, so
        # the stream itself tails raw text with NO adapter applied
        fmt = ("text" if (self.source_adapter is not None
                          or self.dlq_adapter is not None) else "parquet")
        return run_file_stream(
            spark, self.source_dir, schema, self.apply_batch,
            self.checkpoint_dir, available_now=available_now,
            processing_time=processing_time,
            max_files_per_trigger=max_files_per_trigger,
            disable_aqe_when_available_now=True,
            source_format=fmt, source_adapter=self.source_adapter,
        )
