"""Pipeline observability: the checkpoint lineage log as a DataFrame.

Every committed epoch leaves one ``epoch_NNNNNN.json`` in the
checkpoint directory (streaming/pipeline.py ``write_checkpoint``) —
offsets, rows merged, per-bucket lineage, DLQ/integrity/txn counters,
wall seconds. That log IS the pipeline's metrics store (the reference
delegates this to Connect's JMX metrics + offset topic; this engine
owns the runtime, so the lineage doubles as both). This module turns it
into a typed DataFrame so throughput trends, anomaly-rate trends, and
skew (per-bucket row spread) are one ``spark.sql`` away instead of a
shell loop over JSON files.

Driver-side listing, executor-side parse: checkpoint files are enumerated
on the driver (they are one-per-epoch, thousands at most — metadata
scale, not data scale) and read with ``spark.read.json`` so nothing
about this surface collects payload data.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["lineage_df", "throughput_summary"]


def lineage_df(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """The raw per-epoch lineage log as a DataFrame (one row per
    committed epoch, schema unioned across epochs — early epochs simply
    have nulls for counters introduced later, the same add-column-on-read
    rule as the lake)."""
    paths = sorted(glob.glob(os.path.join(checkpoint_dir, "epoch_*.json")))
    if not paths:
        raise FileNotFoundError(
            f"no epoch checkpoints under {checkpoint_dir!r}")
    # multiLine: each checkpoint is one pretty-printed JSON object
    return spark.read.option("multiLine", "true").json(paths)


def throughput_summary(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """Per-epoch operational rollup: rows/sec, merge outcome, error and
    anomaly counters — the table an operator trends. Columns are stable
    regardless of which optional features (DLQ, integrity audit, txn
    alignment) were enabled; disabled features read as nulls."""
    df = lineage_df(spark, checkpoint_dir)

    def _has(schema, path: list[str]) -> bool:
        head, *rest = path
        if head not in schema.names:
            return False
        if not rest:
            return True
        inner = schema[head].dataType
        return hasattr(inner, "names") and _has(inner, rest)

    def opt(name: str, typ: str = "long"):
        # a nested counter exists only if SOME epoch recorded it (json
        # schema union); absent features read as typed nulls
        return (F.col(name).cast(typ) if _has(df.schema, name.split("."))
                else F.lit(None).cast(typ))

    return df.select(
        F.col("epoch").cast("long").alias("epoch"),
        opt("batch_rows").alias("batch_rows"),
        opt("rows_written").alias("rows_written"),
        opt("wall_sec", "double").alias("wall_sec"),
        F.when(opt("wall_sec", "double") > 0,
               F.round(opt("batch_rows", "double")
                       / opt("wall_sec", "double"), 1))
        .alias("rows_per_sec"),
        opt("buckets_rewritten").alias("buckets_rewritten"),
        opt("delta_files").alias("delta_files"),
        opt("dlq_rows").alias("dlq_rows"),
        opt("txn_pending_rows").alias("txn_pending_rows"),
        opt("integrity.anomalies").alias("integrity_anomalies"),
        opt("integrity.conflict").alias("integrity_conflicts"),
    ).orderBy("epoch")
