"""Table maintenance: clustered rewrite (major compaction + sort clustering).

The reference SMT (rerorero/kafka-connect-transform-encrypt) has no table
format — Kafka Connect owns its sinks — so this module has no reference
counterpart; it rebuilds the maintenance surface Iceberg gives its tables
(`rewrite_data_files` with sort order) for the cdcrypt lake, because a CDC
table that ingests forever degrades without it:

- **MoR debt**: every epoch appends delta files; bucket-local compaction
  (operators/merge.py) bounds *depth*, but the bases it writes are ordered
  by arrival, not by anything a reader filters on.
- **Scan pruning**: manifest column bounds (table/lake.py `files()`) prune
  files only as well as the data is clustered — on arrival-ordered files
  every file spans ~the full `ts`/`op_seq` range and nothing prunes. One
  clustered rewrite makes the per-file bounds tight and disjoint, so a
  time-range scan opens O(range) files instead of O(table).
- **File sizing**: `max_records_per_file` splits each bucket range into
  contiguous sorted chunks — the bin-packing lever. At 100 TB the rewrite
  is one shuffle (into bucket ranges) + a local sort per bucket range,
  runs range-parallel, and never touches the driver with data.

Scale contract: the rewrite goes through the same bucket-rewrite path as
copy-on-write merges and MoR compaction (operators/merge.py
``rewrite_buckets``): it reads the table's change rows once, shuffles once
into bucket ranges, resolves live rows on that exchange, sorts within
partitions (spillable), and writes sequentially. Snapshot isolation makes
it non-blocking for readers; `stage_only=True` makes it auditable
(write-audit-publish) before the pointer swaps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cdcrypt.operators.merge import _staging_dir, rewrite_buckets
from cdcrypt.table.lake import LakeTable, LakeTableError, _live_delta

# dtypes a z-order dimension may have: anything with a meaningful linear
# order under cast-to-double. Strings/binary hash away their locality and
# are rejected loudly (cluster linearly on them instead).
_ZORDERABLE = ("tinyint", "smallint", "int", "bigint", "float", "double",
               "date", "timestamp", "boolean", "decimal")


def zorder_key(cols: list[str], ranges: dict[str, tuple[float, float]],
               bits: int) -> Column:
    """Morton (Z-order) key: each column is range-normalized to ``bits``
    bits against its global [min, max], then the columns' bits are
    interleaved LSB-first into one long. Two rows close in the key are
    close in EVERY dimension, so sorting by it makes per-file manifest
    bounds tight on all ``cols`` at once (multi-dimensional pruning) —
    Iceberg's `rewrite_data_files(strategy => 'sort', sort_order =>
    zorder(...))` analogue, built from shiftleft/shiftright/bitwiseOR
    Column ops so the whole key stays inside whole-stage codegen
    (bits * len(cols) OR-terms; 32 at the 2-column default).

    The key is a SORT key, not data: float normalization error can only
    reorder rows between adjacent cells, never corrupt results — pruning
    correctness always comes from the recorded per-file bounds.

    NULLs normalize to the column minimum (cell 0): they cluster
    together at the low corner and their files' bounds stay tight for
    the non-null range."""
    d = len(cols)
    if bits * d > 63:
        raise LakeTableError(
            f"zorder bits({bits}) * dims({d}) must fit a long")
    top = (1 << bits) - 1
    parts = []
    for c in cols:
        mn, mx = ranges[c]
        if mn is None or mx is None or not mx > mn:
            parts.append(F.lit(0).cast("long"))
            continue
        col = F.coalesce(F.col(c).cast("double"), F.lit(float(mn)))
        scaled = F.floor(
            (col - F.lit(float(mn))) / F.lit(float(mx - mn))
            * F.lit(float(top))).cast("long")
        parts.append(F.least(F.greatest(scaled, F.lit(0)),
                             F.lit(top).cast("long")))
    z = F.lit(0).cast("long")
    for j in range(bits):
        for i, s in enumerate(parts):
            z = z.bitwiseOR(F.shiftleft(
                F.shiftright(s, j).bitwiseAND(F.lit(1)), j * d + i))
    return z


def _zorder_ranges(live: DataFrame, cols: list[str]) -> dict:
    """Global [min, max] per dimension (one aggregate job — the only
    driver-visible data in the rewrite, 2 doubles per column)."""
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"mx_{c}")]
    row = live.agg(*aggs).first()
    return {c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in cols}


def rewrite_clustered(
    spark: SparkSession,
    table: LakeTable,
    sort_by: list[str] | tuple[str, ...],
    *,
    max_records_per_file: int | None = None,
    stage_only: bool = False,
    bloom_cols: tuple[str, ...] | None = None,
    layout: str = "linear",
    zorder_bits: int | None = None,
) -> dict:
    """Rewrite every live row of ``table`` into base files clustered by
    ``sort_by`` within each bucket range; commit as one new snapshot.

    Effects on the snapshot it produces:

    - all live data sits in ``kind='base'`` files, one-or-more per bucket
      range (``max_records_per_file`` splits a range into contiguous sorted
      chunks), zero live deltas — reads are plain scans, no MoR resolve;
    - manifest bounds for the table keys AND ``sort_by`` are tight and
      (within a range) disjoint across split files, so ``read(key_range=
      {sort_col: (lo, hi)})`` prunes from metadata alone — and because no
      live deltas remain, ``key_range`` accepts NON-key columns too
      (table/lake.py relaxes the key-only rule for delta-free snapshots);
    - uncompacted delta files are retained as log-only entries
      (``compacted=True``) so the incremental change feed keeps serving
      every window — same contract as merge-time compaction
      (operators/merge.py); replaced base files are dropped and reclaimed
      by the next ``expire_snapshots``;
    - ``committed_epoch`` is preserved: a rewrite is data movement, not a
      logical change, and must not disturb exactly-once ingest resume;
    - per-file bloom sidecars (table/bloom.py) are attached for
      ``bloom_cols`` (default: the table's own ``bloom_cols`` property) —
      maintenance is the natural place to pay the key-column read-back,
      so a table created without write-time blooms can still gain
      point-lookup file skipping from one rewrite.

    ``layout``: 'linear' (default) sorts by ``sort_by`` left-to-right —
    bounds become tight on the LEADING column, trailing columns prune
    only within leading-column ties. 'zorder' sorts by the Morton
    interleave of ALL ``sort_by`` columns (:func:`zorder_key`): every
    dimension's bounds tighten simultaneously (each ~bits/d effective
    bits), so range scans on ANY of the columns — or several at once —
    prune from the manifest. Pick zorder when queries filter on more
    than one independent column (user + time, key + position); linear
    when one column dominates. ``zorder_bits`` caps per-dimension
    resolution (default: 63 // len(sort_by), max 16).

    Returns the commit lineage (version, rows, file counts, timings).
    """
    import time

    sort_by = list(sort_by)
    tcols = [f.name for f in table.schema.fields]
    missing = [c for c in sort_by if c not in tcols]
    if missing:
        raise LakeTableError(
            f"sort_by columns {missing} not in table schema {tcols}")

    if layout not in ("linear", "zorder"):
        raise LakeTableError(
            f"layout must be 'linear' or 'zorder', got {layout!r}")
    t0 = time.monotonic()
    snap = table.snapshot
    if layout == "zorder":
        if len(sort_by) < 2:
            raise LakeTableError(
                "zorder needs >= 2 sort_by columns (use linear for one)")
        dtypes = {f.name: f.dataType.simpleString()
                  for f in table.schema.fields}
        bad = [c for c in sort_by
               if not dtypes[c].startswith(_ZORDERABLE)]
        if bad:
            raise LakeTableError(
                f"zorder columns {bad} are not linearly orderable "
                f"({[dtypes[c] for c in bad]}); cluster linearly or "
                "z-order on numeric/date/timestamp dimensions")
        bits = zorder_bits or min(16, 63 // len(sort_by))
        sort_key = [zorder_key(
            sort_by, _zorder_ranges(table.read(spark), sort_by), bits)]
    else:
        sort_key = list(sort_by)

    timings: dict = {}
    new_files, per_bucket = rewrite_buckets(
        spark, table, snap["files"], table.schema, _staging_dir(table),
        sort_key=sort_key, stats_cols=tuple(sort_by), bloom_cols=bloom_cols,
        max_records_per_file=max_records_per_file, timings=timings)

    # keep uncompacted deltas as log-only feed history; drop replaced bases
    keep = [dict(f, compacted=True) if _live_delta(f) else f
            for f in snap["files"] if f["kind"] == "delta"]

    lineage = {
        "mode": "rewrite",
        "sort_by": sort_by,
        "layout": layout,
        "batch_rows": 0,
        "rows_written": sum(per_bucket.values()),
        "files_before": sum(f["kind"] == "base" or _live_delta(f)
                            for f in snap["files"]),
        "files_after": len(new_files),
        "max_records_per_file": max_records_per_file,
    }
    version = table.commit(
        epoch=table.committed_epoch, keep_files=keep, new_files=new_files,
        lineage=lineage, stage_only=stage_only)
    timings["rewrite_total_sec"] = round(time.monotonic() - t0, 3)
    lineage["version"] = version
    lineage["staged"] = bool(stage_only)
    lineage["timings"] = timings
    return lineage
