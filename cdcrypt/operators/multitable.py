"""Multi-table change-stream routing — one micro-batch, N lake tables.

A real Debezium deployment emits ONE logical change stream per source
database: events from every captured table, each envelope naming its origin
in ``source.table`` (the reference SMT is installed per-connector and sees
them all; its per-record transform is table-agnostic, ``Transform.java:88``).
A CDC consumer therefore fans one micro-batch out to N differently-shaped,
differently-keyed lake tables. Kafka Connect gets this from topic routing +
one sink task per table; our engine owns the sink, so the fan-out is an
operator.

Scale shape: the batch is persisted ONCE; each table's slice is a
metadata-cheap filter over the cached batch (no re-scan of the source, no
shuffle added by routing — each per-table merge then shuffles only its own
slice into its own bucket layout). Unknown-table rows follow the engine's
errors.tolerance contract: fail the epoch (default) or split to a DLQ
DataFrame the caller sinks next to the per-epoch DLQ parquet.

Exactly-once across N tables WITHOUT a cross-table transaction: each
LakeTable commits ``epoch`` idempotently, so a crash after table A's commit
but before table B's replays the epoch with A skipping
(``committed_epoch`` guard) and B applying — convergent, no double-apply,
the same self-healing argument as the single-table pipeline's replay
(streaming/pipeline.py). Readers of A may observe the epoch before readers
of B do; cross-TABLE snapshot alignment is the transaction aligner's job
(streaming/txn.py) applied upstream of the fan-out, exactly as Debezium
pairs its transaction-metadata topic with multi-topic sinks.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdcrypt.operators.dedup import resolve_batch
from cdcrypt.operators.merge import merge_upsert
from cdcrypt.table.lake import LakeTable


@dataclass
class TableRoute:
    """One fan-out target.

    ``transform``: optional per-table record rewrite applied BEFORE
    resolution (e.g. a FieldTransform encrypting that table's sensitive
    columns — per-table crypto configs, the multi-connector reference
    deployment). ``resolver``: events -> one row per key, called with
    ``key_cols=``; defaults to the table's merge-engine apply-side
    resolver (dedup.resolve_batch). ``mode``: merge mode per
    table (default: 'cow' for lww tables, 'mor' for partial/aggregate
    engines, whose state lives in the delta log). ``apply``: 'merge'
    (latest-state upsert) or 'scd2' (type-2 history — the table must be
    keyed ``(key..., valid_from_seq)``, operators/scd2.py; resolution is
    interval-building, so ``resolver`` must stay None)."""

    table: LakeTable
    transform: Callable[[DataFrame], DataFrame] | None = None
    resolver: Callable[[DataFrame], DataFrame] | None = None
    mode: str | None = None  # None: 'cow' for lww tables, 'mor' otherwise
    apply: str = "merge"

    def __post_init__(self) -> None:
        if self.apply not in ("merge", "scd2"):
            raise ValueError(f"apply must be 'merge' or 'scd2', "
                             f"got {self.apply!r}")
        if self.apply == "scd2" and self.resolver is not None:
            raise ValueError("apply='scd2' owns its resolution (interval "
                             "building); a custom resolver cannot compose")

    @property
    def merge_mode(self) -> str:
        if self.mode is not None:
            return self.mode
        return "cow" if self.table.merge_engine == "lww" else "mor"


def _slice_for(batch: DataFrame, route: TableRoute) -> DataFrame:
    """Project a table's slice down to its own columns: the table schema's
    columns that exist on the merged stream, plus the change-event
    bookkeeping (op/op_seq/epoch). Columns belonging only to OTHER tables
    are dropped here so schema alignment in merge_upsert never sees them."""
    want = [f.name for f in route.table.schema.fields]
    keep = [c for c in batch.columns
            if c in want or c in ("op", "op_seq", "epoch")]
    return batch.select(*keep)


def apply_multi(
    spark: SparkSession,
    batch: DataFrame,
    routes: dict[str, TableRoute],
    epoch: int,
    table_col: str = "table",
    on_unknown: str = "error",
    **merge_kw,
) -> dict:
    """Fan one micro-batch out to every routed table; returns
    ``{'tables': {name: lineage}, 'unknown_rows': n, 'dlq': df | None}``.

    ``on_unknown='error'`` fails the epoch on the first unroutable row
    (Connect's default tolerance — a typo'd route map should not silently
    drop a table's changes); ``'dlq'`` returns them as a DataFrame for the
    caller's dead-letter sink and applies the rest."""
    if on_unknown not in ("error", "dlq"):
        raise ValueError(f"on_unknown must be 'error' or 'dlq', "
                         f"got {on_unknown!r}")
    batch = batch.persist()
    try:
        unknown = batch.where(
            ~F.col(table_col).isin(list(routes)) | F.col(table_col).isNull())
        n_unknown = unknown.count()  # also materializes the cache
        if n_unknown and on_unknown == "error":
            sample = [r[table_col] for r in
                      unknown.select(table_col).distinct().limit(5).collect()]
            raise ValueError(
                f"{n_unknown} change rows name unrouted tables "
                f"(e.g. {sample}); add TableRoutes or use on_unknown='dlq'")
        lineages: dict[str, dict] = {}
        for name, route in routes.items():
            sub = _slice_for(
                batch.where(F.col(table_col) == name).drop(table_col), route)
            if route.transform is not None:
                sub = route.transform(sub)
            if route.apply == "scd2":
                from cdcrypt.operators.scd2 import scd2_apply
                lineages[name] = scd2_apply(
                    spark, route.table, sub, epoch, **merge_kw)
            else:
                kc = list(route.table.key_cols)
                if route.resolver is not None:
                    resolved = route.resolver(sub, key_cols=kc)
                else:
                    resolved = resolve_batch(sub, route.table.merge_engine,
                                             route.table.agg_spec, kc)
                lineages[name] = merge_upsert(
                    spark, route.table, resolved, epoch,
                    mode=route.merge_mode, **merge_kw)
        return {
            "epoch": epoch,
            "tables": lineages,
            "unknown_rows": int(n_unknown),
            "dlq": unknown if (n_unknown and on_unknown == "dlq") else None,
        }
    finally:
        batch.unpersist()
