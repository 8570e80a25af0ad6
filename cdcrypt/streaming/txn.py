"""Transaction-boundary-consistent CDC apply (Debezium transaction metadata).

The reference consumes Debezium-shaped change streams (``README.md:20``),
and Debezium attaches TRANSACTION metadata to every event — a transaction
id plus the event's count within it (the ``transaction`` block:
id/total_order/data_collection_order, with the companion transaction topic
carrying per-txn event counts). A consumer that applies micro-batches cut
at arbitrary offsets exposes HALF a source transaction to readers: an
order-header row without its line items, a conversation turn without its
tool-call row. This module is the consumer-side guarantee: an epoch's
merge applies ONLY complete transactions; events of transactions still
missing members are held back and re-presented with the next epoch.

Semantics
---------
Each tagged event carries ``txn_col`` (the transaction id) and
``total_col`` (how many events the transaction contains — constant across
its events, the Debezium event_count). A transaction is RELEASABLE once
the distinct ``seq_col`` values seen for it reach the total; redelivered
duplicates therefore never double-count (op_seq is the event's unique
logical position, FIXTURES F2). Untagged events (NULL txn id) release
immediately — a mixed stream of transactional and autocommit producers
is the common case.

Crash/replay contract (mirrors the pipeline's checkpoint floor): pending
state is written per RELEASE epoch to ``state_dir/pending_epoch=N`` by
the pipeline's per-epoch parquet sink (hidden tmp + atomic rename), and
``align(epoch=e)`` reads the state of ``e-1`` — so replaying epoch ``e``
after a crash anywhere before the table commit recomputes the IDENTICAL
release set and overwrites its own pending idempotently. Earlier
pendings are kept (they are boundary-txn sized, not stream sized); a stuck transaction (its producer died
mid-emit) is visible as rows aging in pending — ``flush(spark, epoch)``
is the operator override that releases everything held.

Late duplicates: a redelivered event can arrive AFTER its transaction
already released (FIXTURES F2 pushes ~1% of deliveries one epoch late).
Counted naively, that straggler would sit in pending forever (1 distinct
seq < total, and the missing members never re-arrive — they released).
The aligner therefore also persists the ids it released per epoch
(``released_epoch=N``) and, for the next ``retire_window`` epochs,
releases a tagged row immediately when its id is in that retired set —
the row is a duplicate of an already-applied transaction, and the
downstream op_seq dedup (P4) collapses it. The retired set is
per-recent-epoch sized, matching the generator's bounded redelivery
horizon; a duplicate arriving LATER than the window re-enters pending
and is an operator ``flush`` case, exactly like a producer that died.

Scale shape: one map-side-combined count-distinct per transaction id,
then a semi/anti join of the batch against the complete-id set — all
shuffles are batch-proportional on the txn-id key, and the persisted
pending is only the transactions STRADDLING the epoch boundary (a few
per partition-stream, not O(batch)). The corpus/table is never touched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdcrypt.streaming.pipeline import write_epoch_parquet


class TxnAligner:
    """Hold-and-release alignment of transactional change batches.

    Parameters: ``state_dir`` (pending-state root, created on first use);
    ``txn_col``/``total_col`` (the Debezium transaction id and event
    count); ``seq_col`` (unique logical event position, for
    duplicate-insensitive completeness counting); ``drop_meta`` (strip
    the transaction columns from released rows — they are transport
    metadata, not payload, and the lake schema should not carry them).
    """

    def __init__(self, state_dir: str, txn_col: str = "txn_id",
                 total_col: str = "txn_total", seq_col: str = "op_seq",
                 drop_meta: bool = True, retire_window: int = 2) -> None:
        self.state_dir = state_dir
        self.txn_col = txn_col
        self.total_col = total_col
        self.seq_col = seq_col
        self.drop_meta = drop_meta
        self.retire_window = retire_window
        self.last_pending_rows: int | None = None

    # -- state ------------------------------------------------------------

    def _pending_dir(self, epoch: int) -> str:
        return os.path.join(self.state_dir, f"pending_epoch={epoch:06d}")

    def _released_dir(self, epoch: int) -> str:
        return os.path.join(self.state_dir, f"released_epoch={epoch:06d}")

    def read_pending(self, spark: SparkSession,
                     epoch: int) -> DataFrame | None:
        """The rows held back by the ``epoch`` alignment (None if that
        epoch never ran or held nothing)."""
        d = self._pending_dir(epoch)
        if not os.path.isdir(d):
            return None
        if not any(n.endswith(".parquet") for n in os.listdir(d)):
            return None  # ran, held nothing (empty write = no part files)
        return spark.read.parquet(d)

    def _retired_ids(self, spark: SparkSession,
                     epoch: int) -> DataFrame | None:
        """Transaction ids released in the previous ``retire_window``
        epochs (None when no such state exists — fresh stream head)."""
        dirs = [self._released_dir(e)
                for e in range(max(0, epoch - self.retire_window), epoch)]
        dirs = [d for d in dirs if os.path.isdir(d)
                and any(n.endswith(".parquet") for n in os.listdir(d))]
        if not dirs:
            return None
        return spark.read.parquet(*dirs).select(self.txn_col).distinct()

    # -- alignment --------------------------------------------------------

    def align(self, spark: SparkSession, batch: DataFrame, epoch: int,
              prev_epoch: int | None = None) -> DataFrame:
        """The releasable rows of ``batch`` plus previously-held rows
        whose transactions completed; persists the new pending state for
        ``epoch`` as a side effect (before returning, so a consumer crash
        after this call replays deterministically).

        ``prev_epoch`` defaults to ``epoch - 1`` (the pipeline's
        contiguous-epoch contract); pass it explicitly for gappy epoch
        numbering."""
        txn, total, seq = self.txn_col, self.total_col, self.seq_col
        if txn not in batch.columns or total not in batch.columns:
            raise ValueError(
                f"TxnAligner: batch lacks {txn!r}/{total!r} columns — "
                "untagged streams need no alignment; drop the aligner")
        prev = self.read_pending(
            spark, epoch - 1 if prev_epoch is None else prev_epoch)
        passthrough = batch.where(F.col(txn).isNull())
        tagged = batch.where(F.col(txn).isNotNull())
        # late duplicates of already-released transactions release
        # immediately (module docstring) — split BEFORE completeness
        # counting, or a lone straggler (1 seen < total) pends forever.
        # Pending rows are never retired by construction (release removes
        # the whole txn from pending), so only the fresh batch is probed.
        retired = self._retired_ids(spark, epoch)
        if retired is not None:
            stale = tagged.join(retired, txn, "left_semi")
            tagged = tagged.join(retired, txn, "left_anti")
        else:
            stale = None
        if prev is not None:
            # allowMissingColumns: pending persisted before an add-column
            # schema evolution lacks the new column — null-fill it, the
            # same contract as the lake's evolution read (P7)
            tagged = tagged.unionByName(prev, allowMissingColumns=True)
        # completeness: distinct logical positions seen == declared total.
        # max(total) not first(): constant per txn, and max is deterministic
        complete = (
            tagged.groupBy(txn)
            .agg(F.count_distinct(F.col(seq)).alias("_seen"),
                 F.max(total).alias("_tot"))
            .where(F.col("_seen") >= F.col("_tot"))
            .select(txn)
        )
        release = tagged.join(complete, txn, "left_semi")
        pending = tagged.join(complete, txn, "left_anti")
        # state writes precede the return so a consumer crash after this
        # call replays deterministically; released ids BEFORE pending so
        # a crash between the two is also replay-safe (the replay
        # overwrites both from the same inputs).
        write_epoch_parquet(complete, self._released_dir(epoch))
        self.last_pending_rows = write_epoch_parquet(
            pending, self._pending_dir(epoch))
        out = passthrough.unionByName(release, allowMissingColumns=True)
        if stale is not None:
            out = out.unionByName(stale, allowMissingColumns=True)
        if self.drop_meta:
            out = out.drop(txn, total)
        return out

    def flush(self, spark: SparkSession, epoch: int) -> DataFrame | None:
        """Operator override for stuck transactions: everything held by
        ``epoch``, returned for manual apply (metadata dropped under the
        same ``drop_meta`` contract). Does NOT clear the state — apply,
        then advance past it with the next align (whose completeness scan
        re-counts; an applied-then-completed txn would re-release, so
        only flush a retired stream or dedupe downstream)."""
        held = self.read_pending(spark, epoch)
        if held is None:
            return None
        return held.drop(self.txn_col, self.total_col) \
            if self.drop_meta else held
