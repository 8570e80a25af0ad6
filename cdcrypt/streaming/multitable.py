"""Multi-table ingest driver: one Debezium-shaped stream, N lake tables.

The single-table replay loop (streaming/pipeline.py) assumes the connector
was configured per-table; real Debezium connectors capture a whole database
and interleave every table's envelopes on one stream. This driver owns that
shape end-to-end: epoch discovery and resume, ONE parse of the epoch against
the merged row schema (sources/debezium.py:parse_debezium_multi), optional
transaction alignment BEFORE the fan-out (streaming/txn.py — so no epoch
ever exposes half a source transaction split ACROSS tables, the exact case
single-table alignment cannot see), then operators/multitable.apply_multi.

Exactly-once: each routed table's committed_epoch guard makes the fan-out
idempotent per table; the driver resumes from ``min(committed) + 1`` so a
crash between table A's and table B's commits replays the epoch with A
skipping and B applying (tested at the operator layer). The checkpoint JSON
per epoch mirrors the single-table pipeline's lineage contract (P8), with
per-table sub-lineage.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdcrypt.operators.multitable import TableRoute, apply_multi
from cdcrypt.streaming.pipeline import (
    aqe_disabled,
    list_epochs,
    write_checkpoint,
    write_epoch_parquet,
)


@dataclass
class MultiTableIngest:
    source_dir: str
    checkpoint_dir: str
    routes: dict[str, TableRoute]
    # Debezium-lines mode: per-table row schemas for the one-parse merged
    # read of .jsonl epochs. None: epochs are parquet/json change events
    # that already carry (table, op, op_seq, payload...) columns.
    row_schemas: dict | None = None
    table_col: str = "table"
    on_unknown: str = "error"
    dlq_dir: str | None = None
    aligner: object | None = None  # streaming/txn.py TxnAligner
    merge_kw: dict = dc_field(default_factory=dict)

    def __post_init__(self) -> None:
        if not self.routes:
            raise ValueError("at least one TableRoute required")
        if self.on_unknown == "dlq" and self.dlq_dir is None:
            raise ValueError("on_unknown='dlq' requires dlq_dir")

    # ---------- one epoch ----------
    def _read(self, spark: SparkSession, files: list[str]) -> DataFrame:
        if files[0].endswith(".jsonl"):
            if self.row_schemas is not None:
                from cdcrypt.sources.debezium import parse_debezium_multi
                return parse_debezium_multi(
                    spark.read.text(*files), "value", self.row_schemas)
            return spark.read.json(*files)
        return spark.read.parquet(*files)

    def process_epoch(self, spark: SparkSession, epoch: int,
                      files: list[str]) -> dict:
        t0 = time.monotonic()
        df = self._read(spark, files)
        if "epoch" not in df.columns:
            df = df.withColumn("epoch", F.lit(epoch).cast("long"))
        if self.aligner is not None:
            df = self.aligner.align(spark, df, epoch)
        out = apply_multi(
            spark, df, self.routes, epoch, table_col=self.table_col,
            on_unknown=self.on_unknown, **self.merge_kw)
        lineage = {
            "epoch": epoch,
            "tables": out["tables"],
            "unknown_rows": out["unknown_rows"],
            "files": [os.path.basename(f) for f in files],
        }
        if out["dlq"] is not None:
            lineage["dlq_rows"] = write_epoch_parquet(
                out["dlq"], os.path.join(self.dlq_dir, f"epoch={epoch:06d}"))
        if self.aligner is not None:
            lineage["txn_pending_rows"] = self.aligner.last_pending_rows
        lineage["wall_sec"] = round(time.monotonic() - t0, 3)
        write_checkpoint(self.checkpoint_dir, epoch, lineage)
        return lineage

    # ---------- replay loop ----------
    def run(self, spark: SparkSession,
            max_epochs: int | None = None) -> list[dict]:
        """Process pending epochs; resume = min(per-table committed) + 1,
        so any table left behind by a mid-fan-out crash catches up while
        the already-committed tables skip (per-table idempotency). AQE off
        for the loop, same rationale as the single-table pipeline."""
        floor = min(r.table.refresh().committed_epoch
                    for r in self.routes.values())
        epochs = list_epochs(self.source_dir)
        pending = sorted(e for e in epochs if e > floor)
        if max_epochs is not None:
            pending = pending[:max_epochs]
        with aqe_disabled(spark):
            return [self.process_epoch(spark, e, epochs[e]) for e in pending]
