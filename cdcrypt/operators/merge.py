"""Key-partitioned MERGE upsert into the lake table (SURVEY.md P5, §7 stage 6).

Two apply strategies over micro-batches already resolved to one final change
per key (operators/dedup.py):

``mode='mor'`` (default, the 10^10-event path): merge-on-read — append the
resolved batch as per-bucket delta files (write cost O(batch)); reads resolve
last-writer-wins over base+delta (table/lake.py); buckets whose delta depth
reaches ``compact_threshold`` are compacted back to base inside the same
commit. For ingest-heavy CDC, where every epoch dirties most buckets, MoR
replaces the per-epoch full-table rewrite with an append + amortized
compaction.

``mode='cow'``: copy-on-write — ``full_outer`` join current dirty-bucket rows
vs the batch on ``(conv_id, turn_idx)`` with a per-row ``op_seq`` stale-guard,
rewrite only dirty buckets. Reads stay plain scans.

Physical-layout decisions (bench-driven, BENCH/BASELINE.md):
- bucket(conv_id) == Spark HashPartitioning (table/lake.py bucket_col), so
  bucketed writes are ``repartition(B, conv_id)`` + PLAIN parquet write:
  no ``partitionBy`` => no per-task sort of wide rows; the file's
  ``part-NNNNN`` index IS its bucket id. When the caller's plan is already
  clustered by conv_id (``assume_bucketed=True``, the pipeline fuses
  resolve+encrypt+write onto one exchange) the write adds NO shuffle.
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

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from cdcrypt.operators.dedup import resolve_live
from cdcrypt.table.lake import (
    LakeTable, LakeTableError, bucket_col, repartition_by_bucket,
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
) -> tuple[list[dict], int]:
    """Write ``df`` as one plain parquet file per bucket; return manifest
    entries. partition_id == bucket (see table/lake.py bucket_col), so the
    bucket id comes from the ``part-NNNNN`` filename index (which survives
    ``maxRecordsPerFile`` splitting — split files share the partition's
    part index with distinct c-suffixes, so bucket attribution holds for
    many files per bucket)."""
    import time
    t0 = time.monotonic()
    out = df if assume_bucketed else repartition_by_bucket(
        df, bucket_count, bucket_by)
    w = out.write.mode("overwrite").option("compression", LAKE_CODEC)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(int(max_records_per_file)))
    for c in NO_DICT_COLS:
        if c in df.columns:
            w = w.option(f"parquet.enable.dictionary#{c}", "false")
    w.parquet(staging)
    t1 = time.monotonic()
    entries, total = [], 0
    want_bloom = tuple(c for c in bloom_cols if c in df.columns)
    for p in sorted(glob.glob(os.path.join(staging, "part-*.parquet"))):
        pf = pq.ParquetFile(p)
        md = pf.metadata
        nrows = md.num_rows
        if nrows == 0:
            continue
        bkt = int(os.path.basename(p).split("-")[1])
        entry = {"path": os.path.relpath(p, root), "bucket": bkt,
                 "schema_id": None, "rows": nrows, "kind": kind}
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
        total += nrows
    if timings is not None:
        timings[f"{kind}_write_sec"] = round(t1 - t0, 3)
        timings[f"{kind}_manifest_sec"] = round(time.monotonic() - t1, 3)
    return entries, total


def _stats_cols(table: LakeTable, df: DataFrame) -> tuple[str, ...]:
    """Manifest-bounds columns: the MERGE keys plus the monotone change
    metadata (op_seq, epoch). Keys give point/range lookup pruning;
    op_seq/epoch bounds are TIGHT per delta file (each holds one epoch),
    so time/position-range scans skip old deltas from the manifest alone."""
    want = [*table.key_cols, "op_seq", "epoch"]
    have = set(df.columns)
    return tuple(c for c in dict.fromkeys(want) if c in have)


def _cow_merged(current: DataFrame, batch: DataFrame, key_cols: list[str],
                tcols: list[str], use_broadcast: bool) -> DataFrame:
    """The CoW MERGE dataflow: apply I/U/D from ``batch`` over ``current``
    with the per-row ``op_seq`` stale-guard (a batch row at or below the
    live row's op_seq is a late duplicate and is ignored).

    ``use_broadcast=False``: one ``full_outer`` sort-merge join — both sides
    shuffle+sort on the key. Correct at any batch size.

    ``use_broadcast=True`` (small batch): Spark cannot broadcast a
    ``full_outer`` join (the hint is silently ignored and falls back to
    SMJ — verified on 4.1), so the same semantics are decomposed into
    broadcast-able pieces, none of which shuffles ``current``:

    - updates/deletes: ``current LEFT JOIN broadcast(batch)`` — one
      BroadcastHashJoin pass over the full-width scan;
    - inserts: batch keys that matched nothing. The matched-key set comes
      from a key-column-only ``LEFT SEMI`` pass over ``current`` (column
      pruning makes this scan a fraction of the data pass), output is at
      most |batch| rows, and the final anti-join broadcasts it back
      against the batch.

    At 100 TB the SMJ form shuffles the dirty buckets TWICE (join hash +
    write bucketing); the broadcast form shuffles only the merged output
    for the bucketed write."""
    data_cols = [c for c in tcols if c not in key_cols]
    t_seq, b_seq = F.col("t.op_seq"), F.col("b.op_seq")
    take_batch = F.col("b.op").isNotNull() & (t_seq.isNull() | (b_seq > t_seq))
    is_delete = take_batch & (F.col("b.op") == "D")
    merge_cols = [
        F.when(take_batch, F.col(f"b.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in data_cols
    ]
    if not use_broadcast:
        j = current.alias("t").join(batch.alias("b"), key_cols, "full_outer")
        return j.where(~is_delete).select(*key_cols, *merge_cols)
    upd = (
        current.alias("t")
        .join(F.broadcast(batch).alias("b"), key_cols, "left")
        .where(~F.coalesce(is_delete, F.lit(False)))
        .select(*key_cols, *merge_cols)
    )
    matched = (current.select(*key_cols)
               .join(F.broadcast(batch.select(*key_cols)), key_cols,
                     "left_semi"))
    ins = (
        batch.alias("b")
        .join(F.broadcast(matched), key_cols, "left_anti")
        .where(F.col("b.op") != "D")
        .select(*key_cols, *[F.col(f"b.{c}").alias(c) for c in data_cols])
    )
    return upd.unionByName(ins)


def _cached_bytes(df: DataFrame) -> int | None:
    """Size of an already-persisted-and-materialized DataFrame from the
    cached relation's statistics (accurate, no extra job)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:  # noqa: BLE001 - stats are an optimization only
        return None


# a resolved micro-batch under this many cached bytes joins via the
# broadcast decomposition; above it, SMJ. Sized like a generous
# autoBroadcastJoinThreshold: the batch ships once per executor.
BROADCAST_BATCH_BYTES = 64 << 20


def merge_upsert(
    spark: SparkSession,
    table: LakeTable,
    resolved: DataFrame,
    epoch: int,
    broadcast: bool | None = None,
    mode: str = "cow",
    compact_threshold: int = 8,
    assume_bucketed: bool = False,
    broadcast_threshold_bytes: int = BROADCAST_BATCH_BYTES,
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
    ``broadcast``: CoW join strategy — ``True`` forces the broadcast
    decomposition, ``False`` forces the full_outer SMJ, ``None`` (default)
    AUTO-selects by the persisted batch size vs
    ``broadcast_threshold_bytes`` (the ingest path runs with AQE off, so
    nothing else converts the join at runtime; VERDICT r3 item 7). The
    chosen strategy is recorded in lineage ``join``.
    """
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
    tcols = [f.name for f in target.fields]

    key_cols = table.key_cols
    batch = resolved.select(
        *_cast_to(resolved.columns, target), "op",
        bucket_col(table.bucket_count, table.bucket_by).alias("bucket"),
    ).persist()
    dirty = {r["bucket"] for r in batch.select("bucket").distinct().collect()}

    # prune_only: old-partition-spec files in scope are rewritten WHOLE
    # (their co-located rows of other current buckets move to the new
    # layout with them), so no row-level bucket predicate here
    current = table.read(spark, buckets=dirty, prune_only=True)
    current = current.select(*_cast_to(current.columns, target))

    if broadcast is None:
        # the dirty-bucket collect above materialized the persisted batch,
        # so cached stats are exact
        sz = _cached_bytes(batch)
        use_broadcast = sz is not None and sz <= broadcast_threshold_bytes
    else:
        use_broadcast = bool(broadcast)
    merged = _cow_merged(current, batch, key_cols, tcols, use_broadcast)

    staging = _staging_dir(table)
    new_files, new_rows = _write_bucketed(
        merged, staging, table.root, table.bucket_count, "base",
        bucket_by=table.bucket_by, stats_cols=_stats_cols(table, merged),
        bloom_cols=tuple(table.bloom_cols))
    # keep = NOT the files read above — the same spec-aware selection, so
    # an old-partition-spec file whose rows were just rewritten (its keys
    # overlap the dirty buckets under the current spec) is dropped, never
    # duplicated
    rewritten = {f["path"] for f in table.files(buckets=dirty)}
    keep_files = [f for f in table.snapshot["files"]
                  if f["path"] not in rewritten]

    batch_rows = batch.count()
    batch.unpersist()
    lineage = {
        "epoch": epoch,
        "mode": "cow",
        "join": "broadcast" if use_broadcast else "smj",
        "batch_rows": batch_rows,
        "dirty_buckets": sorted(int(x) for x in dirty),
        "rows_written": int(new_rows),
        "buckets_rewritten": len({f["bucket"] for f in new_files}),
        # per-partition lineage (P8): live rows per rewritten bucket
        "rows_merged_per_bucket": {
            str(f["bucket"]): int(f["rows"]) for f in new_files},
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
    tcols = [f.name for f in target.fields]

    delta_df = resolved.select(
        *_cast_to(resolved.columns, target),
        F.col("op").cast("string").alias("op"),
        (F.col("epoch").cast("long") if "epoch" in resolved.columns
         else F.lit(epoch).cast("long")).alias("epoch"),
    )

    staging_root = _staging_dir(table)
    staging_delta = os.path.join(staging_root, "delta")
    new_delta, appended_rows = _write_bucketed(
        delta_df, staging_delta, table.root, table.bucket_count, "delta",
        assume_bucketed=assume_bucketed, timings=timings,
        bucket_by=table.bucket_by, stats_cols=_stats_cols(table, delta_df),
        bloom_cols=tuple(table.bloom_cols))

    keep = list(table.snapshot["files"])

    # --- compaction decision: delta FILE depth per CURRENT-spec bucket
    # after this append. Log-only deltas (compacted=True, below) are
    # already folded into a base file and don't count toward depth. A
    # delta written under an older partition spec contributes to every
    # current bucket its residue class can hold (gcd rule, table/lake.py
    # _file_bucket_filter) — so post-evolution writes naturally trigger
    # the compaction that migrates old-spec files to the current layout.
    import math

    specs, default_spec = table._partition_specs(table.snapshot)
    counts = {s["id"]: s["bucket_count"] for s in specs}
    cur_b = table.bucket_count
    depth: dict[int, int] = {}
    for f in keep + new_delta:
        if f.get("kind", "base") == "delta" and not f.get("compacted"):
            fb = counts.get(f.get("spec_id", default_spec), cur_b)
            if fb == cur_b:
                depth[f["bucket"]] = depth.get(f["bucket"], 0) + 1
            else:
                g = math.gcd(cur_b, fb)
                for b in range(f["bucket"] % g, cur_b, g):
                    depth[b] = depth.get(b, 0) + 1
    compact = {b for b, d in depth.items() if d >= compact_threshold}

    compact_files: list[dict] = []
    compacted_rows = 0
    if compact:
        in_compact = table._file_bucket_filter(table.snapshot, compact)
        in_scope = [f for f in keep + new_delta if in_compact(f)]
        # id-projected scans: files written under since-renamed/widened
        # schemas surface under the CURRENT (+batch extras) names/types.
        # Repartition first: the resolve groupBy reuses the bucket
        # clustering (one exchange) and the write needs none. Partial-
        # update/aggregate tables compact with their per-column resolver;
        # folding coarsens per-column recency to the row sequence and
        # drops delete cutoffs (the standard log-structured partial-update
        # contract — see resolve_partial_agg's docstring; sum/max/min
        # folds are exact under any batching).
        live = resolve_live(
            repartition_by_bucket(
                table.change_rows(spark, in_scope, target_schema=target),
                table.bucket_count, table.bucket_by),
            table.merge_engine, table.agg_spec, table.key_cols,
        ).select(*tcols)
        staging_compact = os.path.join(staging_root, "compact")
        compact_files, compacted_rows = _write_bucketed(
            live, staging_compact, table.root, table.bucket_count, "base",
            assume_bucketed=True, timings=timings,
            stats_cols=_stats_cols(table, live),
            bloom_cols=tuple(table.bloom_cols))
        compacted_away = {f["path"] for f in in_scope}
        keep = [f for f in keep if f["path"] not in compacted_away]
        # the epoch's own delta rows are folded into the compacted base,
        # but the FILE stays referenced as a LOG-ONLY delta
        # (compacted=True): read() skips it (rows live in the base),
        # read_incremental() still serves it — a fused append+compact
        # commit must not erase the epoch's change log from the CDC-out
        # feed (Iceberg gets this for free by separating append and
        # rewrite commits; r4 fix — previously these changes silently
        # vanished from the incremental feed)
        new_delta = [dict(f, compacted=True) if f["bucket"] in compact else f
                     for f in new_delta]

    lineage = {
        "epoch": epoch,
        "mode": "mor",
        "batch_rows": int(appended_rows),
        "rows_written": int(appended_rows + compacted_rows),
        "dirty_buckets": sorted({f["bucket"] for f in new_delta + compact_files}),
        "buckets_compacted": sorted(int(b) for b in compact),
        "compacted_rows": int(compacted_rows),
        # per-partition lineage: rows merged into each bucket this epoch
        # (bucket == shuffle partition == file index; P8)
        "rows_merged_per_bucket": {
            str(f["bucket"]): int(f["rows"]) for f in new_delta},
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
