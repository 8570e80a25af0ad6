"""Change-feed streaming source: tail a LakeTable's committed snapshots
and serve each new version range as one incremental micro-batch — the
"table as a stream source" / CDF-streaming pattern (Delta `readChangeFeed`,
Iceberg incremental scan), so pipelines CHAIN: raw CDC -> table A ->
change feed -> table B (curated / re-keyed / downstream-merged) without
ever re-reading A's full history.

The lake's version log IS the offset log: versions are monotone, commits
are atomic pointer swaps, and ``read_incremental((from, to])`` is exact
even across compaction (fused append+compact keeps a log-only delta
reference — table/lake.py). The feed therefore persists a single offset,
the last version whose changes the sink processed, through the same
commit-file writer as the lake's own current-pointer
(``commitfile.atomic_write_json``).

Delivery contract — the engine's standard two layers:

1. the offset is committed AFTER the sink returns, so a crash between the
   two redelivers the window (at-least-once);
2. the window itself is DETERMINISTIC under redelivery: the intended
   ``to`` version is recorded as ``pending_to`` BEFORE the sink runs, and
   a restart replays exactly that window even if the source has since
   advanced (otherwise a crash would widen the window and change the
   batch's identity);
3. an epoch-idempotent sink (``merge_upsert`` with ``epoch = to_version``
   — see :func:`lake_merge_sink`) turns the redelivery into a no-op:
   exactly-once end-to-end, the identical contract the ingest runtimes
   prove in tests/test_commit_atomicity.py.

Scale: each tick moves O(changed rows in the window) — delta files only,
manifest-planned, no scan of table A's base files. At 10^10 events the
downstream table stays current by reading only the deltas each commit
added, the same reason MoR ingest is O(batch).

Requires a merge-on-read source: copy-on-write commits carry no change
log and ``read_incremental`` refuses them loudly rather than serving a
wrong feed.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from cdcrypt.table.commitfile import atomic_write_json
from cdcrypt.table.lake import LakeTable, LakeTableError


class ChangeFeedError(RuntimeError):
    """Misconfigured or unserviceable change feed (e.g. the requested
    start version has been expired out of the snapshot log)."""


def lake_merge_sink(target: LakeTable, *, mode: str = "mor",
                    compact_threshold: int = 8, resolver=None):
    """A ready-made sink that merges each change window into ``target``
    with ``epoch = to_version`` — the monotone epoch makes redelivered
    windows skip at the lake (exactly-once).

    The window's change rows may hold several versions of one key (the
    window spans commits), so they are resolved first; the default
    resolver is the target's merge-engine batch resolver
    (``resolve_batch`` — a partial/aggregate target keeps each key's
    newest delete next to its live row), which needs ``op_seq``/``epoch``
    columns — the engine's standard change-row shape
    (``read_incremental`` serves (payload..., op, epoch) and the
    transcript schema carries op_seq). Deletes (op='D') flow through
    merge's normal delete path.
    """
    from cdcrypt.operators.dedup import resolve_batch
    from cdcrypt.operators.merge import merge_upsert

    resolver = resolver or (lambda df: resolve_batch(
        df, target.merge_engine, target.agg_spec, target.key_cols))

    def sink(spark: SparkSession, changes: DataFrame,
             from_version: int, to_version: int) -> dict:
        return merge_upsert(spark, target.refresh(), resolver(changes),
                            epoch=to_version, mode=mode,
                            compact_threshold=compact_threshold)

    return sink


class ChangeFeedStream:
    """Tail a LakeTable's commits; one sink call per version window.

    ``sink(spark, changes_df, from_version, to_version)`` receives the
    window's change rows. ``feed`` picks their shape:

    - ``'raw'`` (default): the raw change rows of snapshots ``(from, to]``
      in the CURRENT schema plus the (op, epoch) change-log columns —
      O(window) delta-file reads, the cheapest feed.
    - ``'changelog'``: RESOLVED before/after images
      (:meth:`LakeTable.read_changelog`) — one row per key whose resolved
      state differs across the window, with ``change_op``/``before``/
      ``after``. For retraction-aware consumers (incremental aggregates,
      search indexes). Costs the two bucket-pruned endpoint reads; the
      window is still deterministic under redelivery (both endpoints are
      pinned snapshot versions).

    The feed shape is recorded in the checkpoint and must match on
    resume — a raw-offset checkpoint replayed as changelog (or vice
    versa) would change every redelivered batch's identity.
    ``max_versions_per_batch`` bounds catch-up windows (a feed started
    at 0 against a long history drains in chunks instead of one giant
    batch).

    ``consumer_id`` registers the feed's offset IN THE SOURCE TABLE
    (:meth:`LakeTable.register_consumer`) at start and after every
    committed window, so ``expire_snapshots`` retains the snapshots this
    feed still needs — a lagging consumer costs retention instead of
    dying to expiration. Unregistered feeds keep the fail-fast behavior.
    """

    def __init__(self, spark: SparkSession, table_root: str,
                 checkpoint_dir: str, sink, *,
                 start_version: int | None = None,
                 max_versions_per_batch: int | None = None,
                 feed: str = "raw",
                 consumer_id: str | None = None):
        if feed not in ("raw", "changelog"):
            raise ChangeFeedError(
                f"feed must be 'raw' or 'changelog', got {feed!r}")
        self.spark = spark
        self.table = LakeTable(table_root)
        self.checkpoint_dir = checkpoint_dir
        self.sink = sink
        self.feed = feed
        self.consumer_id = consumer_id
        self.max_versions = max_versions_per_batch
        os.makedirs(checkpoint_dir, exist_ok=True)
        self._offset_path = os.path.join(checkpoint_dir, "offset.json")
        if os.path.exists(self._offset_path):
            with open(self._offset_path) as f:
                self._state = json.load(f)
            if (start_version is not None
                    and start_version != self._state["start_version"]):
                raise ChangeFeedError(
                    "checkpoint was created with start_version="
                    f"{self._state['start_version']}; restart with the "
                    "same value (or a fresh checkpoint_dir)")
            if self._state.get("feed", "raw") != feed:
                raise ChangeFeedError(
                    "checkpoint was created with feed="
                    f"{self._state.get('feed', 'raw')!r}; restart with the "
                    "same value (or a fresh checkpoint_dir) — switching "
                    "the feed shape would change redelivered batches")
        else:
            if start_version is None:
                start_version = 0
            self._state = {"start_version": int(start_version),
                           "last_version": int(start_version),
                           "pending_to": None, "feed": feed}
            self._write_state()
        if self.consumer_id is not None:
            self.table.register_consumer(self.consumer_id,
                                         self._state["last_version"])
        self._check_serviceable(self._state["last_version"])

    # ---------- offsets ----------
    def _write_state(self) -> None:
        atomic_write_json(self._offset_path, self._state)

    @property
    def last_version(self) -> int:
        return int(self._state["last_version"])

    def _check_serviceable(self, from_version: int) -> None:
        """Fail fast at (re)start if snapshot expiration has removed the
        JSONs the next window needs, instead of a bare missing-snapshot
        error mid-drain."""
        t = self.table.refresh()
        if from_version >= t.version:
            return
        try:
            t.snapshot_at(from_version) if from_version > 0 else None
            t.snapshot_at(from_version + 1)
        except LakeTableError as e:
            raise ChangeFeedError(
                f"change feed needs snapshots v{from_version}.. but they "
                "have been expired (expire_snapshots retention window is "
                "shorter than this feed's lag); restart from a full read "
                "+ a fresh start_version") from e

    # ---------- drain ----------
    def process_available(self) -> list[dict]:
        """Serve every committed-but-unserved window; returns one summary
        dict per sink call (including redelivered pending windows)."""
        out: list[dict] = []
        while True:
            summary = self._process_one()
            if summary is None:
                return out
            out.append(summary)

    def run(self, poll_interval_s: float = 1.0,
            idle_ticks_to_stop: int | None = None,
            max_wall_s: float | None = None) -> list[dict]:
        """Drain-and-poll loop for deployments without an external
        scheduler: drain everything committed, sleep, repeat. Stops after
        ``idle_ticks_to_stop`` consecutive empty polls and/or
        ``max_wall_s`` seconds (at least one bound must be set — an
        unbounded tail is a deliberate caller choice, not a default)."""
        import time
        if idle_ticks_to_stop is None and max_wall_s is None:
            raise ValueError("set idle_ticks_to_stop and/or max_wall_s")
        t0 = time.monotonic()
        idle = 0
        out: list[dict] = []
        while True:
            batch = self.process_available()
            out.extend(batch)
            idle = 0 if batch else idle + 1
            if idle_ticks_to_stop is not None and idle >= idle_ticks_to_stop:
                return out
            if (max_wall_s is not None
                    and time.monotonic() - t0 >= max_wall_s):
                return out
            time.sleep(poll_interval_s)

    def _process_one(self) -> dict | None:
        t = self.table.refresh()
        last = self.last_version
        pending = self._state.get("pending_to")
        if pending is not None and pending > last:
            to = int(pending)  # redelivery: replay the recorded window
        else:
            if t.version <= last:
                return None
            to = t.version if self.max_versions is None else min(
                t.version, last + self.max_versions)
            self._state["pending_to"] = int(to)
            self._write_state()
        self._check_serviceable(last)
        changes = (t.read_changelog(self.spark, last, to)
                   if self.feed == "changelog"
                   else t.read_incremental(self.spark, last, to))
        sink_result = self.sink(self.spark, changes, last, to)
        self._state = {"start_version": self._state["start_version"],
                       "last_version": int(to), "pending_to": None,
                       "feed": self.feed}
        self._write_state()
        if self.consumer_id is not None:
            # offset first, registration second: a crash between them
            # only over-retains for one window, never under-retains
            self.table.register_consumer(self.consumer_id, int(to))
        return {"from_version": last, "to_version": to,
                "sink": sink_result}
