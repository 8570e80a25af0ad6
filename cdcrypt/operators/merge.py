"""Key-partitioned MERGE upsert into the lake table (SURVEY.md P5, §7 stage 6).

Two apply strategies over micro-batches already resolved to one final change
per key (operators/dedup.py):

``mode='mor'`` (the ingest pipeline's default, the 10^10-event path):
merge-on-read — append the resolved batch as bucket-range delta files
(write cost O(batch)); reads resolve last-writer-wins over base+delta
(table/lake.py); buckets whose delta depth reaches ``compact_threshold`` are
compacted back to base inside the same commit. For ingest-heavy CDC, where
every epoch dirties most buckets, MoR replaces the per-epoch full-table
rewrite with an append + amortized compaction.

``mode='cow'``: copy-on-write — a compaction of the batch's dirty buckets
with the batch as one more delta. Reads stay plain scans.

Copy-on-write merges, MoR compaction and clustered rewrites
(operators/maintenance.py) write base files through one helper,
:func:`rewrite_buckets`: the scope's change rows (``LakeTable.change_rows``)
plus any batch rows, one repartition by bucket, then
``dedup.resolve_live`` — the survivor and delete rule ``read()`` applies.

Physical-layout decisions (bench-driven, BENCH/BASELINE.md):
- bucket(conv_id) == Spark HashPartitioning (table/lake.py bucket_col), so
  bucketed writes are ``repartition(B, conv_id)`` + ``coalesce`` to about
  one bucket range per core (table/lake.py coalesce_buckets) + PLAIN
  parquet write: no ``partitionBy`` => no per-task sort of wide rows, and
  a write costs ~cores tasks and files, not B. Each file stores its rows'
  bucket ids as a physical ``bucket`` column; the manifest range and the
  per-bucket lineage counts come from that column. When the caller's plan
  is already clustered by conv_id (``assume_bucketed=True``, the pipeline
  fuses resolve+encrypt+write onto one exchange) the write adds NO
  shuffle.
- lake files default to ``compression='none'``: the dominant bytes are
  AES-GCM ciphertext (maximum entropy) — snappy/zstd cannot shrink them and
  the codec CPU was a measured bottleneck.

Schema evolution: columns present in the batch but not in the table (the
``model`` column arriving mid-stream, FIXTURES.md F2) extend the table schema
at commit; columns in the table but not the batch are filled with nulls.
Both reconciliations are projections — no file rewrite.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from cdcrypt.operators.dedup import resolve_live
from cdcrypt.table.lake import (
    LakeTable, LakeTableError, _live_delta, bucket_col, coalesce_buckets,
    repartition_by_bucket,
)

# kept as the documented default; the ACTUAL key/bucket columns come from
# the table's snapshot metadata (LakeTable.key_cols / .bucket_by), so any
# record shape flows through merge unchanged (VERDICT r2 missing #1)
KEY_COLS = ["conv_id", "turn_idx"]

# ciphertext is incompressible; codec CPU is pure overhead on encrypted tables
LAKE_CODEC = "none"


def _aligned_schema(table: LakeTable, batch: DataFrame) -> StructType:
    """Table schema extended with batch-only columns (add-column evolution)."""
    cur = table.schema
    have = {f.name for f in cur.fields}
    extra = [
        StructField(f.name, f.dataType, True)
        for f in batch.schema.fields
        if f.name not in have and f.name not in ("op", "bucket", "epoch")
    ]
    if not extra:
        return cur
    return StructType(list(cur.fields) + extra)


def _cast_to(df_cols: list[str], target: StructType) -> list:
    return [
        (F.col(f.name).cast(f.dataType) if f.name in df_cols
         else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in target.fields
    ]


# parquet dictionary encoding is pure CPU on high-entropy columns: the
# ciphertexts are uniformly random base64 (dict builds then falls back to
# PLAIN mid-page) and ts/op_seq are near-unique numerics. Disabling it for
# those cut the sf0.1 replay ~11-15% (interleaved A/B: 12.6s vs 14.2s
# best). Genuinely repetitive columns (conv_id ~35 rows per value within
# its bucket, role, op) keep dictionary — that is a file-size lever on
# real storage at corpus scale, irrelevant only on the tmpfs bench.
NO_DICT_COLS = ("text", "tool", "ts", "op_seq")


def _footer_bounds(md, stats_cols: tuple[str, ...]) -> dict:
    """Per-file [min, max] for ``stats_cols`` from the parquet footer's
    row-group statistics (already in hand — the footer is read for
    num_rows anyway, so manifest bounds cost nothing extra). A column is
    recorded only when EVERY row group has min/max of a JSON-stable type;
    anything else is silently unbounded (pruning stays conservative)."""
    ok_types = (str, int, float, bool)
    idx = {md.row_group(0).column(j).path_in_schema: j
           for j in range(md.num_columns)} if md.num_row_groups else {}
    out = {}
    for c in stats_cols:
        j = idx.get(c)
        if j is None:
            continue
        lo = hi = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(j).statistics
            if st is None or not st.has_min_max \
                    or not isinstance(st.min, ok_types) \
                    or not isinstance(st.max, ok_types):
                lo = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            out[c] = [lo, hi]
    return out


def _staging_dir(table: LakeTable) -> str:
    """Per-ATTEMPT unique staging directory for a commit's data files:
    ``data/v{N+1}-{token}``. The version prefix is for humans; the token
    is correctness — two writers racing off the same parent both target
    version N+1, and a deterministic path would let the loser's
    ``mode('overwrite')`` delete files the WINNER's committed snapshot
    references (observed as a lost-update in the commit-race test). A
    failed attempt's directory is referenced by no snapshot and is
    reaped by ``expire_snapshots``' orphan grace pass."""
    import uuid
    return os.path.join(table.root, "data",
                        f"v{table.version + 1}-{uuid.uuid4().hex[:8]}")


def _write_bucketed(
    df: DataFrame,
    staging: str,
    root: str,
    bucket_count: int,
    kind: str,
    assume_bucketed: bool = False,
    timings: dict | None = None,
    bucket_by: str = "conv_id",
    stats_cols: tuple[str, ...] = (),
    max_records_per_file: int | None = None,
    bloom_cols: tuple[str, ...] = (),
) -> tuple[list[dict], Counter]:
    """Write ``df`` as plain parquet files of bucket ranges; return the
    manifest entries and the rows written per bucket.

    The bucket-clustered frame is coalesced to about one range per core
    (table/lake.py coalesce_buckets) and every row carries its bucket id
    in a physical ``bucket`` column. A file's ``[bucket_lo, bucket_hi]``
    and the per-bucket counts are read back from that column, never
    inferred from the file name: a coalesce over a cached parent may
    interleave buckets, and ``maxRecordsPerFile`` splits one range task
    into several files."""
    import time
    t0 = time.monotonic()
    out = df if assume_bucketed else repartition_by_bucket(
        df, bucket_count, bucket_by)
    out = coalesce_buckets(out, bucket_count).withColumn(
        "bucket", bucket_col(bucket_count, bucket_by))
    w = out.write.mode("overwrite").option("compression", LAKE_CODEC)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(int(max_records_per_file)))
    for c in NO_DICT_COLS:
        if c in df.columns:
            w = w.option(f"parquet.enable.dictionary#{c}", "false")
    w.parquet(staging)
    t1 = time.monotonic()
    entries, per_bucket = [], Counter()
    want_bloom = tuple(c for c in bloom_cols if c in df.columns)
    for p in sorted(glob.glob(os.path.join(staging, "part-*.parquet"))):
        pf = pq.ParquetFile(p)
        md = pf.metadata
        nrows = md.num_rows
        if nrows == 0:
            continue
        counts = {c["values"]: c["counts"] for c in pf.read(
            columns=["bucket"]).column("bucket").value_counts().to_pylist()}
        per_bucket.update(counts)
        entry = {"path": os.path.relpath(p, root), "bucket_lo": min(counts),
                 "bucket_hi": max(counts), "schema_id": None,
                 "spec_id": None, "rows": nrows, "kind": kind}
        bounds = _footer_bounds(md, stats_cols)
        if bounds:
            entry["bounds"] = bounds
        if want_bloom:
            # opt-in (table bloom_cols): one key-column read-back per
            # written file -> sidecar bloom for exact-key file skipping
            # (table/bloom.py). Cost is proportional to the file just
            # written; enable on lookup-heavy tables or build during
            # rewrite_clustered where it amortizes into maintenance.
            from cdcrypt.table.bloom import (build_bloom,
                                             write_bloom_sidecar)
            cols = pf.read(columns=list(want_bloom))
            blooms = {}
            for c in want_bloom:
                bl = build_bloom(cols.column(c).to_pylist())
                if bl is not None:
                    blooms[c] = bl
            if blooms:
                side = write_bloom_sidecar(p, blooms)
                entry["bloom"] = os.path.relpath(side, root)
        entries.append(entry)
    if timings is not None:
        timings[f"{kind}_write_sec"] = round(t1 - t0, 3)
        timings[f"{kind}_manifest_sec"] = round(time.monotonic() - t1, 3)
    return entries, per_bucket


def _stats_cols(table: LakeTable, df: DataFrame) -> tuple[str, ...]:
    """Manifest-bounds columns: the MERGE keys plus the monotone change
    metadata (op_seq, epoch). Keys give point/range lookup pruning;
    op_seq/epoch bounds are TIGHT per delta file (each holds one epoch),
    so time/position-range scans skip old deltas from the manifest alone."""
    want = [*table.key_cols, "op_seq", "epoch"]
    have = set(df.columns)
    return tuple(c for c in dict.fromkeys(want) if c in have)


def _change_frame(resolved: DataFrame, target: StructType,
                  epoch: int) -> DataFrame:
    """``resolved`` as change rows over ``target``: payload cast (or
    null-filled) to the target schema, ``op`` as string, and ``epoch``
    stamped with the commit epoch where the batch carries none."""
    return resolved.select(
        *_cast_to(resolved.columns, target),
        F.col("op").cast("string").alias("op"),
        (F.col("epoch").cast("long") if "epoch" in resolved.columns
         else F.lit(epoch).cast("long")).alias("epoch"),
    )


def _rewrite_scope(table: LakeTable, files: list[dict],
                   buckets: set[int]) -> list[dict]:
    """The files a rewrite of ``buckets`` must take: every file that may
    hold one of them (LakeTable.file_buckets), closed under shared
    buckets. A rewrite resolves each key over the files it reads, so a
    key's versions left in an untaken file would outlive a delete the
    rewrite folded away. Aligned ranges close at once; overlapping ones
    (a cached frame's interleaved groups, a change of width or of
    partition spec) widen the scope until no untaken file shares a
    bucket with it."""
    held = table.file_buckets(table.snapshot)
    while True:
        scope = [f for f in files if not held(f).isdisjoint(buckets)]
        wider = set(buckets).union(*map(held, scope))
        if wider == buckets:
            return scope
        buckets = wider


def rewrite_buckets(
    spark: SparkSession,
    table: LakeTable,
    files: list[dict],
    target: StructType,
    staging: str,
    *,
    changes: DataFrame | None = None,
    sort_key: list | tuple = (),
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] | None = None,
    max_records_per_file: int | None = None,
    timings: dict | None = None,
) -> tuple[list[dict], Counter]:
    """Rewrite the live rows of ``files`` plus ``changes`` (change rows
    from :func:`_change_frame`) as base files under ``staging``; return
    the manifest entries and the rows written per bucket.

    One repartition by bucket, then ``dedup.resolve_live`` — the merge
    engine's read resolver and delete rule, exactly what ``read()``
    applies — reusing that exchange, then an optional ``sort_key``
    within each bucket range. Stored rows enter at ``epoch=-1``
    (``LakeTable.change_rows``), so a change row at an equal ``op_seq``
    loses to the stored row. ``stats_cols`` extend the manifest bounds;
    ``bloom_cols`` default to the table's."""
    rows = changes
    if files or changes is None:
        stored = table.change_rows(spark, files, target_schema=target)
        rows = stored if changes is None else stored.unionByName(changes)
    live = resolve_live(
        repartition_by_bucket(rows, table.bucket_count, table.bucket_by),
        table.merge_engine, table.agg_spec, table.key_cols,
    ).select(*[f.name for f in target.fields])
    if table.bucket_by not in table.key_cols:
        # the resolve re-shuffled by key; partition id must be the bucket
        live = repartition_by_bucket(live, table.bucket_count,
                                     table.bucket_by)
    live = coalesce_buckets(live, table.bucket_count)
    if sort_key:
        live = live.sortWithinPartitions(*sort_key)
    return _write_bucketed(
        live, staging, table.root, table.bucket_count, "base",
        assume_bucketed=True, timings=timings, bucket_by=table.bucket_by,
        stats_cols=tuple(dict.fromkeys([*_stats_cols(table, live),
                                        *stats_cols])),
        max_records_per_file=max_records_per_file,
        bloom_cols=tuple(table.bloom_cols if bloom_cols is None
                         else bloom_cols))


def merge_upsert(
    spark: SparkSession,
    table: LakeTable,
    resolved: DataFrame,
    epoch: int,
    # perfbench/phases.py still passes broadcast=pipe.broadcast_merge; the
    # ROADMAP item-5 benchmark PR deletes this parameter
    broadcast: None = None,
    mode: str = "cow",
    compact_threshold: int = 8,
    assume_bucketed: bool = False,
    stage_only: bool = False,
) -> dict:
    """Apply one resolved micro-batch; returns lineage metrics.

    ``stage_only=True`` stages the commit without swapping ``current``
    (write-audit-publish, table/lake.py): the caller audits the staged
    version (``table.read(spark, version=lineage['version'])``) and then
    ``table.publish_staged`` / ``table.abandon_staged``.

    ``resolved``: one row per (conv_id, turn_idx) with columns op, op_seq,
    epoch + after-image payload. Idempotent: epochs at or below
    ``table.committed_epoch`` are skipped (exactly-once under replay).
    ``assume_bucketed``: caller guarantees ``resolved`` is already
    repartition(B, conv_id)-clustered — the MoR delta write then adds no
    shuffle.

    ``mode='cow'`` rewrites the batch's dirty buckets through
    :func:`rewrite_buckets` with the batch as one more delta: there is no
    join strategy, and a CoW merge shuffles once. ``broadcast`` accepts
    only None and raises ``ValueError`` otherwise.
    """
    if broadcast is not None:
        raise ValueError(
            "merge_upsert(broadcast=) accepts only None: copy-on-write "
            "rewrites dirty buckets through rewrite_buckets, with no join")
    if epoch <= table.committed_epoch:
        return {"epoch": epoch, "skipped": True,
                "committed_epoch": table.committed_epoch}
    if table.merge_engine != "lww" and mode != "mor":
        raise LakeTableError(
            f"merge_engine={table.merge_engine!r} is merge-on-read only: "
            "per-column recency/accumulator state lives in the delta log; "
            "a copy-on-write rewrite would need the full event history it "
            "just discarded")
    if mode == "mor":
        return _merge_mor(spark, table, resolved, epoch, compact_threshold,
                          assume_bucketed, stage_only)

    target = _aligned_schema(table, resolved)
    batch = _change_frame(resolved, target, epoch).persist()
    dirty = {r[0] for r in batch.select(
        bucket_col(table.bucket_count, table.bucket_by)).distinct().collect()}
    # a file that may hold a dirty bucket is rewritten WHOLE (the rest of
    # its range, or an old-spec file's co-located rows of other current
    # buckets, move to the current layout with it) and dropped from the
    # snapshot, never duplicated
    scope = _rewrite_scope(table, table.snapshot["files"], dirty)
    new_files, per_bucket = rewrite_buckets(
        spark, table, scope, target, _staging_dir(table), changes=batch)
    rewritten = {f["path"] for f in scope}
    keep_files = [f for f in table.snapshot["files"]
                  if f["path"] not in rewritten]

    batch_rows = batch.count()
    batch.unpersist()
    lineage = {
        "epoch": epoch,
        "mode": "cow",
        "batch_rows": batch_rows,
        "dirty_buckets": sorted(int(x) for x in dirty),
        "rows_written": sum(per_bucket.values()),
        "buckets_rewritten": len(per_bucket),
        # per-partition lineage (P8): live rows per rewritten bucket
        "rows_merged_per_bucket": {
            str(b): n for b, n in sorted(per_bucket.items())},
    }
    version = table.commit(epoch=epoch, keep_files=keep_files,
                           new_files=new_files, lineage=lineage,
                           new_schema=target, stage_only=stage_only)
    lineage["version"] = version
    lineage["staged"] = bool(stage_only)
    return lineage


def _merge_mor(
    spark: SparkSession,
    table: LakeTable,
    resolved: DataFrame,
    epoch: int,
    compact_threshold: int,
    assume_bucketed: bool,
    stage_only: bool = False,
) -> dict:
    """Merge-on-read apply: append delta files, compact deep buckets.

    One commit may mix delta appends and compacted bases; readers of the
    previous snapshot are unaffected (snapshot isolation)."""
    import time
    timings: dict = {}
    t_start = time.monotonic()
    target = _aligned_schema(table, resolved)
    delta_df = _change_frame(resolved, target, epoch)

    staging_root = _staging_dir(table)
    staging_delta = os.path.join(staging_root, "delta")
    new_delta, appended = _write_bucketed(
        delta_df, staging_delta, table.root, table.bucket_count, "delta",
        assume_bucketed=assume_bucketed, timings=timings,
        bucket_by=table.bucket_by, stats_cols=_stats_cols(table, delta_df),
        bloom_cols=tuple(table.bloom_cols))

    keep = list(table.snapshot["files"])

    # --- compaction decision: live delta FILE depth per CURRENT-spec
    # bucket after this append. Log-only deltas (compacted=True, below)
    # are already folded into a base file and don't count toward depth. A
    # delta adds depth to every current bucket it may hold
    # (LakeTable.file_buckets: its range, or an older spec's residue
    # classes) — so post-evolution writes naturally trigger the
    # compaction that migrates old-spec files to the current layout.
    held = table.file_buckets(table.snapshot)
    depth = Counter(b for f in keep + new_delta if _live_delta(f)
                    for b in held(f))
    compact = {b for b, d in depth.items() if d >= compact_threshold}

    compacted = Counter()
    compact_files: list[dict] = []
    if compact:
        in_scope = _rewrite_scope(table, keep + new_delta, compact)
        compact = set().union(*map(held, in_scope))
        # id-projected scans: files written under since-renamed/widened
        # schemas surface under the CURRENT (+batch extras) names/types.
        # Partial-update/aggregate tables compact with their per-column
        # resolver; folding coarsens per-column recency to the row
        # sequence and drops delete cutoffs (the standard log-structured
        # partial-update contract — see resolve_partial_agg's docstring;
        # sum/max/min folds are exact under any batching).
        compact_files, compacted = rewrite_buckets(
            spark, table, in_scope, target,
            os.path.join(staging_root, "compact"), timings=timings)
        compacted_away = {f["path"] for f in in_scope}
        keep = [f for f in keep if f["path"] not in compacted_away]
        # the epoch's own delta rows in scope are folded into the
        # compacted base, but each such FILE stays referenced as a
        # LOG-ONLY delta (compacted=True): read() skips it (rows live in
        # the base), read_incremental() still serves it — a fused
        # append+compact commit must not erase the epoch's change log
        # from the CDC-out feed (Iceberg gets this for free by separating
        # append and rewrite commits)
        new_delta = [dict(f, compacted=True)
                     if f["path"] in compacted_away else f
                     for f in new_delta]

    lineage = {
        "epoch": epoch,
        "mode": "mor",
        "batch_rows": sum(appended.values()),
        "rows_written": sum(appended.values()) + sum(compacted.values()),
        "dirty_buckets": sorted(appended.keys() | compacted.keys()),
        "buckets_compacted": sorted(compact),
        "compacted_rows": sum(compacted.values()),
        "delta_files": len(new_delta),
        # per-partition lineage (P8): rows merged into each bucket this
        # epoch, counted from the delta files' bucket column
        "rows_merged_per_bucket": {
            str(b): n for b, n in sorted(appended.items())},
    }
    t_commit = time.monotonic()
    version = table.commit(epoch=epoch, keep_files=keep,
                           new_files=new_delta + compact_files,
                           lineage=lineage, new_schema=target,
                           stage_only=stage_only)
    timings["commit_sec"] = round(time.monotonic() - t_commit, 3)
    timings["merge_total_sec"] = round(time.monotonic() - t_start, 3)
    lineage["version"] = version
    lineage["staged"] = bool(stage_only)
    lineage["timings"] = timings
    return lineage


def merge_upsert_retrying(
    spark: SparkSession,
    table: LakeTable,
    resolved: DataFrame,
    epoch: int,
    max_conflict_retries: int = 3,
    **merge_kwargs,
) -> dict:
    """:func:`merge_upsert` with the optimistic-concurrency retry loop
    the commit conflict error asks for (table/lake.py
    ``_persist_snapshot``: "refresh() and retry") — the multi-writer
    entry point, e.g. a chunked reconciliation (operators/reconcile.py)
    racing the live ingest pipeline, or two pipelines feeding disjoint
    epoch ranges of one table.

    On ``commit conflict`` the table handle is refreshed and the merge
    RECOMPUTED against the new snapshot — keep-files / dirty-bucket
    selection and the MoR delta baseline are all snapshot-derived, so a
    simple re-commit of the stale attempt would drop the other writer's
    files (Iceberg's validate-and-retry, not blind re-commit). The
    orphaned data files of the failed attempt are unreferenced by any
    snapshot and reaped by ``expire_snapshots``' orphan grace pass.

    Exactly-once composes: if the conflicting writer committed the SAME
    epoch (two replayers racing), the refreshed retry sees
    ``epoch <= committed_epoch`` and returns skipped — the normal replay
    guard, not an error.
    """
    last: LakeTableError | None = None
    for _ in range(max_conflict_retries + 1):
        try:
            return merge_upsert(spark, table.refresh(), resolved, epoch,
                                **merge_kwargs)
        except LakeTableError as e:
            if "commit conflict" not in str(e):
                raise
            last = e
    raise LakeTableError(
        f"merge at epoch {epoch} lost {max_conflict_retries + 1} commit "
        "races in a row; raise max_conflict_retries or serialize the "
        "writers") from last
