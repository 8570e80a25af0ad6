"""LakeTable — Iceberg-shaped table format implemented from scratch.

Layout (all paths relative to the table root)::

    _meta/v{N}.json      immutable snapshot: schema list + current schema id,
                         partition spec, file manifest (path, bucket_lo,
                         bucket_hi, schema_id, rows), committed_epoch,
                         lineage metrics, parent version
    _meta/current        text file holding "N"; swapped atomically (os.replace)
    data/v{N}-{token}/   data files written by snapshot N, one per bucket
                         range (copy-on-write: a snapshot's manifest mixes
                         its own new files with carried-over files from
                         parent snapshots)

Semantics ported from the Iceberg spec (public), not from any runtime:
- snapshot isolation: readers resolve ``current`` once and read only that
  manifest's files; old snapshots stay readable (time travel via version=N);
- atomic commit: write ``v{N}.json`` fully, then swap ``current`` — both
  through the one commit-file writer, ``commitfile.atomic_write_json``
  (unique temp file, fsync, then ``os.replace``), which also writes the
  refs, the consumer offsets and the stream drivers' checkpoints; each is
  fsynced before its rename, so torn commit files are impossible and a
  crash before the swap leaves only orphan files, never a corrupt table;
- idempotent epoch commit (exactly-once sink, SURVEY.md P3): every snapshot
  records ``committed_epoch``; the ingest driver skips any epoch <= that,
  so replayed micro-batches are no-ops;
- field-id schema evolution (P7): every column carries a table-lifetime
  unique field id (Iceberg spec §Schemas: ids, not names, are the column
  identity). Add-column assigns fresh ids; ``evolve_schema`` additionally
  supports rename (metadata-only — same id, new name), drop (id retired,
  never reused), and safe type widening (int->long, float->double).
  Readers resolve every file's columns BY ID against the current schema:
  files whose (name, id, type) triples are a compatible subset of the
  current schema — the entire history of an add-only table — are scanned
  in ONE ``spark.read.schema(current).parquet(*paths)`` call exactly as
  before; files written under since-renamed/dropped/widened schemas get
  one scan per historical schema id (bounded by the number of evolutions,
  not files) with an id-matched rename/cast projection. Dropping ``c``
  and later adding a new ``c`` does NOT resurrect old values (different
  ids — the Iceberg re-add test);
- manifest-level partition pruning: ``read(buckets=...)`` selects files by
  the manifest's bucket ranges — no directory listing, no Spark partition
  discovery, mirroring Iceberg's scan planning.

Partition spec: ``bucket(conv_id, B)`` = ``pmod(murmur3(conv_id), B)``,
computed in-JVM on write. A data file covers a bucket range
``[bucket_lo, bucket_hi]`` (about one range per core per write, see
:func:`partition_by_range`) and stores each row's bucket as a physical
``bucket`` column, outside the table schema; the range comes from that
column's values.

Manifest shape: every snapshot in memory carries ``format``, ``version``,
``parent``, ``schema_id``, ``schemas`` (each with per-field ``ids``),
``next_field_id``, ``partition_spec``, ``partition_specs``,
``default_spec_id``, ``bucket_by``, ``bucket_count``, ``key_cols``,
``merge_engine``, ``agg_spec``, ``bloom_cols``, ``files``,
``committed_epoch``, ``lineage`` and ``created_ms``. Every manifest entry
carries ``path``, ``bucket_lo``, ``bucket_hi``, ``kind`` ('base' or
'delta'), ``schema_id``, ``spec_id``, ``rows`` and ``bounds`` (per-column
[min, max], possibly empty); ``compacted: true`` (a log-only delta) and
``bloom`` (a sidecar path) are present only where they apply. Snapshots
written by older versions lack some of these keys: no ``bucket_by``,
``key_cols`` or ``merge_engine``, no partition specs, no field ids,
one-bucket ``bucket: k`` entries, entries with no ``kind``, ``spec_id``
or ``bounds``. :func:`_canonical` upgrades them where a snapshot enters
memory and where ``commit`` receives entries, by adding the missing keys
only; nothing else in the table layer spells a default.

Single-writer assumption (one streaming ingest job), like a Connect task
owning its topic partitions.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cdcrypt.table.commitfile import atomic_write_json

BUCKET_EXPR = "pmod(hash({col}), {b})"
DEFAULT_BUCKET_BY = "conv_id"
DEFAULT_KEY_COLS = ("conv_id", "turn_idx")

# Safe type promotions (Iceberg spec §Schema Evolution: widening only —
# every value representable in the old type is exactly representable in
# the new one, so old files cast losslessly on read). Keys/values are
# Spark typeName() strings.
SAFE_WIDEN = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
}


def bucket_col(bucket_count: int, col: str = DEFAULT_BUCKET_BY):
    """bucket(col) = pmod(murmur3(col), B) — the same function Spark's
    HashPartitioning uses. Writers compute it into a physical ``bucket``
    column; :func:`partition_by_range` groups rows by contiguous ranges of
    it, and reads prune files by it."""
    return F.pmod(F.hash(F.col(col)), F.lit(bucket_count)).cast("int")


def repartition_by_bucket(df: DataFrame, bucket_count: int,
                          col: str = DEFAULT_BUCKET_BY) -> DataFrame:
    """One partition per bucket (partition id == bucket id). No write path
    uses it; ``perfbench/phases.py:traced_epoch`` still does, until the
    benchmark change of ROADMAP item 2 retires that re-spelled epoch."""
    return df.repartition(bucket_count, F.col(col))


RANGE_ID = "_rid"


def partition_by_range(df: DataFrame, bucket_count: int,
                       col: str = DEFAULT_BUCKET_BY) -> DataFrame:
    """Shuffle ``df`` into ``n = min(defaultParallelism, bucket_count)``
    contiguous bucket ranges: partition r holds exactly the buckets ``b``
    with ``floor(b * n / B) == r``, so the stages after it (resolve,
    encrypt UDF, sort, file write) run once per range, not once per
    bucket. The range id is materialized as the :data:`RANGE_ID` column
    and the exchange passes it through as the partition id. A resolver
    that takes it as one more group key reuses the exchange; an
    expression of ``col`` would not, so callers keep the column until the
    resolve is done, then drop it. The extra key leaves the grouping as
    it is while each key's rows carry one ``col`` value: always when
    ``col`` is a key column; an off-key bucket column must be a function
    of the key, as bucket pruning and copy-on-write scopes assume."""
    n = min(df.sparkSession.sparkContext.defaultParallelism, bucket_count)
    rid = F.floor(bucket_col(bucket_count, col) * n / bucket_count)
    return df.withColumn(RANGE_ID, rid.cast("int")).repartitionById(
        n, RANGE_ID)


def file_bucket_range(f: dict) -> tuple[int, int]:
    """A manifest entry's ``[bucket_lo, bucket_hi]`` under the spec it
    was written with."""
    return f["bucket_lo"], f["bucket_hi"]


def _live_delta(f: dict) -> bool:
    """An appended change file whose rows no base file holds yet."""
    return f["kind"] == "delta" and not f.get("compacted")


# Table properties a commit carries over from its parent and a rollback
# restores from its target. The schema and partition-spec lists are
# append-only, so both always take those from the parent.
TABLE_PROPS = ("partition_spec", "bucket_by", "bucket_count",
               "default_spec_id", "key_cols", "merge_engine", "agg_spec",
               "bloom_cols")


def _canonical(snap: dict) -> dict:
    """Upgrade ``snap`` in place to the one manifest shape (module
    docstring) and return it: add each key a legacy snapshot or entry
    lacks, with the value it always implied. No key is removed or
    renamed. Legacy field ids are back-filled by name: before field ids a
    schema could only add columns, so walking the schemas in id order,
    a name's first appearance takes the next id."""
    snap.setdefault("bucket_by", DEFAULT_BUCKET_BY)
    snap.setdefault("key_cols", list(DEFAULT_KEY_COLS))
    snap.setdefault("merge_engine", "lww")
    snap.setdefault("agg_spec", {})
    snap.setdefault("bloom_cols", [])
    if "partition_specs" not in snap:  # one implicit spec
        snap["partition_specs"] = [{"id": 0, "bucket_by": snap["bucket_by"],
                                    "bucket_count": snap["bucket_count"]}]
        snap["default_spec_id"] = 0
    assigned: dict[str, int] = {}
    for e in sorted(snap["schemas"], key=lambda e: e["id"]):
        names = [f["name"] for f in e["spark"]["fields"]]
        for n in names:
            assigned.setdefault(n, len(assigned))
        e.setdefault("ids", [assigned[n] for n in names])
    snap.setdefault("next_field_id", 1 + max(
        (i for e in snap["schemas"] for i in e["ids"]), default=-1))
    snap["files"] = [_canonical_file(f, snap["default_spec_id"])
                     for f in snap["files"]]
    return snap


def _canonical_file(f: dict, spec_id: int) -> dict:
    """A copy of ``f`` with ``kind``, ``bounds``, ``bucket_lo``/
    ``bucket_hi`` and ``spec_id``: a missing kind is 'base', missing
    bounds are none, a one-bucket entry ``bucket: k`` covers ``[k, k]``
    (and keeps ``bucket``), and a missing or in-flight (None) spec id is
    ``spec_id``, the snapshot's default."""
    out = {"kind": "base", "bounds": {}, **f}
    if "bucket_lo" not in f:
        out["bucket_lo"] = out["bucket_hi"] = f["bucket"]
    if f.get("spec_id") is None:
        out["spec_id"] = spec_id
    return out


class LakeTableError(RuntimeError):
    pass


class LakeTableNotFound(LakeTableError):
    """Raised when ``root`` holds no table at all (no ``_meta/current``).

    A dedicated type so callers that open-or-create (IngestPipeline.table)
    can branch structurally instead of substring-matching the message —
    any OTHER LakeTableError (corrupt snapshot, schema mismatch) must
    propagate, never silently trigger table creation."""


class LakeTable:
    def __init__(self, root: str):
        self.root = root
        self._snapshot: dict | None = None
        # sidecar-path -> parsed {col: bloom} (or None for unreadable).
        # Safe across refresh(): a data/sidecar path is written once by
        # one commit attempt (unique staging dirs) and never mutated.
        self._bloom_cache: dict[str, dict | None] = {}
        self._load()

    # ---------- metadata ----------
    @property
    def meta_dir(self) -> str:
        return os.path.join(self.root, "_meta")

    def _current_version(self) -> int:
        cur = os.path.join(self.meta_dir, "current")
        if not os.path.exists(cur):
            raise LakeTableNotFound(f"not a lake table: {self.root}")
        with open(cur) as f:
            return int(f.read().strip())

    def _load(self) -> None:
        self._snapshot = self.snapshot_at(self._current_version())

    def refresh(self) -> "LakeTable":
        self._load()
        return self

    @property
    def snapshot(self) -> dict:
        assert self._snapshot is not None
        return self._snapshot

    @property
    def version(self) -> int:
        return self.snapshot["version"]

    @property
    def committed_epoch(self) -> int:
        return self.snapshot["committed_epoch"]

    @property
    def bucket_count(self) -> int:
        return self.snapshot["bucket_count"]

    @property
    def bucket_by(self) -> str:
        """Partition column."""
        return self.snapshot["bucket_by"]

    # ---------- partition specs ----------
    @staticmethod
    def file_buckets(snap: dict):
        """Map a manifest entry to the buckets, under the snapshot's
        DEFAULT spec, whose keys it may hold (a frozenset).

        A key k has bucket h(k) % B under a B-bucket spec. A file written
        under a spec with count Bo over buckets [lo, hi] can hold a key of
        current bucket bc iff some bo in [lo, hi] has bo ≡ bc (mod
        gcd(B, Bo)) — the range itself for same-spec files, exact residue
        classes when Bo divides B, and graceful no-pruning (g=1, every
        bucket) for unrelated counts. Spec-id-aware manifest pruning is
        the Iceberg partition-evolution scan contract."""
        import math

        counts = {s["id"]: s["bucket_count"]
                  for s in snap["partition_specs"]}
        cur = counts[snap["default_spec_id"]]
        counts[None] = cur  # staged by the in-flight commit: default spec

        def held(f: dict) -> frozenset:
            sid = f["spec_id"]
            if sid not in counts:
                raise LakeTableError(f"file spec id {sid} not in snapshot")
            lo, hi = file_bucket_range(f)
            g = math.gcd(cur, counts[sid])
            res = {b % g for b in range(lo, min(hi, lo + g - 1) + 1)}
            return frozenset(b for b in range(cur) if b % g in res)
        return held

    def evolve_partitioning(self, bucket_count: int) -> int:
        """Metadata-only partition evolution (Iceberg spec §Partition
        Evolution): new files bucket under the NEW count, existing files
        stay under the spec they were written with, and readers prune
        per spec. No data moves; compaction migrates buckets to the
        current spec incrementally as they are rewritten. Returns the
        new table version.

        Pruning sharpness follows gcd(new, old): growing by an integer
        factor (4 -> 8) keeps exact pruning on old files; unrelated
        counts degrade old-file pruning toward full scans of the old
        generation (never wrong results) until compaction migrates them."""
        if bucket_count < 1:
            raise LakeTableError("bucket_count must be >= 1")
        specs = self.snapshot["partition_specs"]
        default_id = self.snapshot["default_spec_id"]
        cur = next(s for s in specs if s["id"] == default_id)
        if bucket_count == cur["bucket_count"]:
            raise LakeTableError(
                f"table already buckets by {bucket_count}")
        new_spec = {"id": max(s["id"] for s in specs) + 1,
                    "bucket_by": cur["bucket_by"],
                    "bucket_count": bucket_count}
        return self.commit(
            epoch=self.committed_epoch,
            keep_files=list(self.snapshot["files"]),
            new_files=[],
            lineage={"mode": "partition_evolution",
                     "from": {"spec_id": default_id,
                              "bucket_count": cur["bucket_count"]},
                     "to": {"spec_id": new_spec["id"],
                            "bucket_count": bucket_count}},
            meta_updates={
                "partition_specs": specs + [new_spec],
                "default_spec_id": new_spec["id"],
                "bucket_count": bucket_count,
                "partition_spec":
                    f"bucket({cur['bucket_by']}, {bucket_count})",
            },
        )

    @property
    def key_cols(self) -> list[str]:
        """MERGE/resolution key columns."""
        return list(self.snapshot["key_cols"])

    @property
    def merge_engine(self) -> str:
        """Row resolution semantics: 'lww' (whole-row last-writer-wins,
        the default), 'partial' (per-column LWW — an update sets only
        its non-null columns; Paimon partial-update analogue) or
        'aggregate' (per-column folds configured by ``agg_spec``; Paimon
        aggregation analogue, with delete-reset semantics). Recorded at
        create."""
        return self.snapshot["merge_engine"]

    @property
    def agg_spec(self) -> dict:
        """merge_engine='aggregate' column -> fn map (sum|max|min|
        last_non_null); unlisted payload columns default to
        last_non_null."""
        return dict(self.snapshot["agg_spec"])

    @property
    def bloom_cols(self) -> list[str]:
        """Columns the writers attach per-file bloom sidecars for
        (table/bloom.py) — point-lookup file skipping beyond min/max
        bounds. Empty (the default) keeps the write path bloom-free."""
        return list(self.snapshot["bloom_cols"])

    @property
    def schema(self) -> StructType:
        sid = self.snapshot["schema_id"]
        for s in self.snapshot["schemas"]:
            if s["id"] == sid:
                return StructType.fromJson(s["spark"])
        raise LakeTableError(f"schema id {sid} missing")

    def snapshot_at(self, version: int) -> dict:
        """Snapshot ``version``; a version with no JSON on disk (expired,
        abandoned or never committed) raises :class:`LakeTableError`."""
        try:
            with open(os.path.join(self.meta_dir, f"v{version}.json")) as f:
                return _canonical(json.load(f))
        except FileNotFoundError:
            raise LakeTableError(
                f"no snapshot v{version}: no such snapshot on disk (expired "
                "or never committed)") from None

    def _versions(self) -> list[int]:
        """Versions with a snapshot JSON in ``_meta``, ascending."""
        return sorted(int(n[1:-5]) for n in os.listdir(self.meta_dir)
                      if n.startswith("v") and n.endswith(".json"))

    # ---------- field ids ----------
    @staticmethod
    def _current_name_to_id(snap: dict) -> dict[str, int]:
        """name -> field id for the snapshot's CURRENT schema."""
        for e in snap["schemas"]:
            if e["id"] == snap["schema_id"]:
                return {f["name"]: fid
                        for f, fid in zip(e["spark"]["fields"], e["ids"])}
        raise LakeTableError(f"schema id {snap['schema_id']} missing")

    # ---------- create ----------
    @classmethod
    def create(cls, root: str, schema: StructType, bucket_count: int = 64,
               bucket_by: str = DEFAULT_BUCKET_BY,
               key_cols=DEFAULT_KEY_COLS,
               merge_engine: str = "lww",
               agg_spec: dict | None = None,
               bloom_cols: tuple = ()) -> "LakeTable":
        names = {f.name for f in schema.fields}
        if "bucket" in names:
            raise LakeTableError(
                "column name 'bucket' is reserved (data files store each "
                "row's bucket id under it)")
        missing = [c for c in [bucket_by, *key_cols] if c not in names]
        if missing:
            raise LakeTableError(
                f"bucket/key columns {missing} not in table schema")
        bad_bloom = [c for c in bloom_cols if c not in names]
        if bad_bloom:
            raise LakeTableError(
                f"bloom_cols {bad_bloom} not in table schema")
        if merge_engine not in ("lww", "partial", "aggregate"):
            raise LakeTableError(
                "merge_engine must be 'lww', 'partial' or 'aggregate', "
                f"got {merge_engine!r}")
        if merge_engine in ("partial", "aggregate") and "op_seq" not in names:
            raise LakeTableError(
                f"merge_engine={merge_engine!r} needs an op_seq column "
                "(the per-column recency sequence)")
        if agg_spec:
            from cdcrypt.operators.dedup import AGG_FNS
            if merge_engine != "aggregate":
                raise LakeTableError(
                    "agg_spec is only valid with merge_engine='aggregate'")
            bad = sorted(set(agg_spec) - names)
            if bad:
                raise LakeTableError(
                    f"agg_spec columns {bad} not in table schema")
            badfn = {c: f for c, f in agg_spec.items() if f not in AGG_FNS}
            if badfn:
                raise LakeTableError(
                    f"unknown aggregate fns {badfn}; supported {AGG_FNS}")
        # a _meta without ``current`` is a create that crashed before its
        # pointer swap: nothing can have committed to it, so finish it
        meta = os.path.join(root, "_meta")
        if os.path.exists(os.path.join(meta, "current")):
            raise FileExistsError(f"a lake table already exists at {root}")
        os.makedirs(meta, exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        snap = {
            "format": "cdcrypt-lake/1",
            "version": 0,
            "parent": None,
            "schema_id": 0,
            "schemas": [{"id": 0, "spark": schema.jsonValue(),
                         "ids": list(range(len(schema.fields)))}],
            "next_field_id": len(schema.fields),
            "partition_spec": f"bucket({bucket_by}, {bucket_count})",
            "partition_specs": [{"id": 0, "bucket_by": bucket_by,
                                 "bucket_count": bucket_count}],
            "default_spec_id": 0,
            "bucket_by": bucket_by,
            "bucket_count": bucket_count,
            "key_cols": list(key_cols),
            "merge_engine": merge_engine,
            "agg_spec": dict(agg_spec or {}),
            "bloom_cols": list(bloom_cols),
            "files": [],
            "committed_epoch": -1,
            "lineage": {},
            "created_ms": int(time.time() * 1000),
        }
        atomic_write_json(os.path.join(meta, "v0.json"), snap)
        cls._swap_current(meta, 0)
        return cls(root)

    @staticmethod
    def _swap_current(meta_dir: str, version: int) -> None:
        atomic_write_json(os.path.join(meta_dir, "current"), version)

    # ---------- commit lock ----------
    # Every snapshot, pointer and ref change after create runs inside
    # ``with self._commit_lock(purpose):``. flock(2) on a well-known file:
    # acquisition is ATOMIC in the kernel (no read-pid/overwrite race —
    # two stealers of the old pid-file scheme could both enter the
    # critical section) and the lock dies WITH the holder (kernel releases
    # on process exit), so crashed writers leave nothing to steal and a
    # same-pid-under-another-user EPERM can never be mistaken for a dead
    # holder. The lock file itself is never unlinked (unlink + recreate
    # would let two processes hold flocks on different inodes of the same
    # path). One-host scope, like the pid lock before it; across hosts a
    # real catalog provides the CAS, as in Iceberg.
    @property
    def _lock_path(self) -> str:
        return os.path.join(self.meta_dir, "commit.lock")

    @contextmanager
    def _commit_lock(self, purpose: str):
        import fcntl
        fd = os.open(self._lock_path, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            holder = b""
            try:
                holder = os.pread(fd, 32, 0)
            except OSError:
                pass
            os.close(fd)
            raise LakeTableError(
                f"commit conflict: another writer holds the commit lock "
                f"(holder pid {holder.decode(errors='replace').strip() or '?'}, "
                f"while acquiring for {purpose}); retry later")
        try:
            try:  # holder pid recorded for debugging only, not liveness
                os.ftruncate(fd, 0)
                os.pwrite(fd, str(os.getpid()).encode(), 0)
            except OSError:
                pass
            yield
        finally:
            os.close(fd)  # closing the fd releases the flock

    # ---------- commit ----------
    def commit(
        self,
        *,
        epoch: int,
        keep_files: list[dict],
        new_files: list[dict],
        lineage: dict,
        new_schema: StructType | None = None,
        new_schema_ids: list[int] | None = None,
        meta_updates: dict | None = None,
        stage_only: bool = False,
    ) -> int:
        """Write snapshot v{N+1} and atomically swap ``current``.

        ``stage_only=True`` is the write-audit-publish (WAP) path: the
        snapshot JSON is written (marked ``staged``) but ``current`` is NOT
        swapped — readers keep the parent, while the auditor time-travels
        to the staged version (``read(version=N+1)``), runs its quality
        gates, then :meth:`publish_staged` (atomic pointer swap) or
        :meth:`abandon_staged`. While one staged snapshot is pending, any
        other commit off the same parent fails loudly instead of silently
        overwriting it. This handle's in-memory state stays at the parent
        until publish.

        ``keep_files``/``new_files``: manifest entries
        ``{path, bucket_lo, bucket_hi, schema_id, rows}`` (paths relative
        to root), upgraded by :func:`_canonical`. A new file's ``schema_id``
        None is stamped with the commit's schema id, and its ``spec_id``
        None with the parent's default spec: it was written under it.

        A changed ``new_schema`` without explicit ``new_schema_ids`` is the
        ADD-COLUMN path (merge_upsert): fields keep their id by name-match
        against the current schema (same type required — a type change here
        would be a silent unsafe cast; use :meth:`evolve_schema`), unknown
        names get fresh ids. ``new_schema_ids`` (from ``evolve_schema``,
        which computes rename/drop/widen-aware ids) is trusted as-is.
        """
        prev = self.snapshot
        version = prev["version"] + 1
        schemas = prev["schemas"]
        schema_id = prev["schema_id"]
        next_fid = prev["next_field_id"]
        if new_schema is not None:
            cur_json = json.dumps(self.schema.jsonValue(), sort_keys=True)
            new_json = json.dumps(new_schema.jsonValue(), sort_keys=True)
            if cur_json != new_json:
                if new_schema_ids is not None:
                    if len(new_schema_ids) != len(new_schema.fields):
                        raise LakeTableError("new_schema_ids length mismatch")
                    ids = list(new_schema_ids)
                    next_fid = max(next_fid, max(ids, default=-1) + 1)
                else:
                    cur_fields = {f.name: f for f in self.schema.fields}
                    n2i = self._current_name_to_id(prev)
                    ids = []
                    for f in new_schema.fields:
                        if f.name in n2i:
                            if f.dataType != cur_fields[f.name].dataType:
                                raise LakeTableError(
                                    f"column '{f.name}' changes type "
                                    f"{cur_fields[f.name].dataType.simpleString()}"
                                    f" -> {f.dataType.simpleString()} in "
                                    "commit(new_schema=...); type changes "
                                    "must go through evolve_schema()")
                            ids.append(n2i[f.name])
                        else:
                            ids.append(next_fid)
                            next_fid += 1
                schema_id = max(s["id"] for s in schemas) + 1
                schemas = [*schemas, {"id": schema_id,
                                      "spark": new_schema.jsonValue(),
                                      "ids": ids}]
        new_files = [
            {**f, "schema_id": schema_id} if f.get("schema_id") is None else f
            for f in new_files
        ]
        # canonical before meta_updates: entries take the parent's spec
        snap = _canonical({
            "format": "cdcrypt-lake/1",
            "version": version,
            "parent": prev["version"],
            **{k: prev[k] for k in TABLE_PROPS},
            "schema_id": schema_id,
            "schemas": schemas,
            "next_field_id": next_fid,
            "partition_specs": prev["partition_specs"],
            "files": keep_files + new_files,
            "committed_epoch": epoch,
            "lineage": lineage,
        })
        if meta_updates:
            allowed = {"bucket_by", "key_cols", "partition_spec",
                       "partition_specs", "default_spec_id", "bucket_count"}
            bad = set(meta_updates) - allowed
            if bad:
                raise LakeTableError(f"meta_updates may only set {allowed}, "
                                     f"got {sorted(bad)}")
            snap.update(meta_updates)
        if stage_only:
            snap["staged"] = True
        # Commit lock: the write-snapshot -> swap-pointer sequence is not
        # atomic, so the orphan-recovery path in _persist_snapshot must not
        # mistake a writer currently INSIDE that window for a crash orphan
        with self._commit_lock("commit"):
            self._persist_snapshot(snap, make_current=not stage_only)
        if not stage_only:
            self._snapshot = snap
        return version

    def _persist_snapshot(self, snap: dict, *, make_current: bool) -> None:
        """Stamp ``created_ms``, write ``v{N}.json`` and (optionally) swap
        ``current``. MUST be called holding the commit lock."""
        version = snap["version"]
        path = os.path.join(self.meta_dir, f"v{version}.json")
        # optimistic concurrency (Iceberg commit semantics): a v{N+1} that
        # already exists is a COMMITTED snapshot from another writer
        # (current advanced -> hard conflict, refresh and retry), a PENDING
        # write-audit-publish snapshot (never overwritten: publish_staged /
        # abandon_staged first), or an orphan left by a crash between
        # snapshot write and pointer swap (replaced; safe under the lock)
        if os.path.exists(path):
            if self._current_version() >= version:
                raise LakeTableError(
                    f"commit conflict: snapshot v{version} already "
                    "committed by another writer; refresh() and retry")
            try:
                with open(path) as f:
                    staged = json.load(f).get("staged")
            except (OSError, json.JSONDecodeError):
                staged = False  # torn crash orphan
            if staged:
                raise LakeTableError(
                    f"snapshot v{version} is staged pending audit "
                    "(write-audit-publish); publish_staged() or "
                    "abandon_staged() it first")
        # one millisecond past the parent at least, so commit instants
        # strictly increase even when two commits share a millisecond
        snap["created_ms"] = max(int(time.time() * 1000),
                                 self.snapshot["created_ms"] + 1)
        atomic_write_json(path, snap)
        if make_current:
            self._swap_current(self.meta_dir, version)

    # ---------- schema evolution ----------
    def evolve_schema(
        self,
        renames: dict[str, str] | None = None,
        drops: tuple[str, ...] | list[str] = (),
        adds: list | None = None,
        widens: dict | None = None,
    ) -> int:
        """Metadata-only schema evolution commit (Iceberg spec §Schema
        Evolution): no data file is touched; readers project old files by
        field id. Returns the new table version.

        ``renames``: {old_name: new_name} — the field keeps its id, so old
        files keep serving values under the new name. Renaming the bucket
        or a key column updates the table's partition/key metadata too
        (values are unchanged, so existing bucket assignments stay valid).
        ``drops``: column names to remove. Their ids are retired and never
        reused — re-adding the same NAME later creates a fresh id, and old
        files' values do NOT resurrect. Bucket/key columns cannot drop.
        ``adds``: new columns, ``StructField`` or ``(name, DataType)``;
        always nullable (old files have no value for them).
        ``widens``: {name: DataType} safe promotions per ``SAFE_WIDEN``
        (int->long, float->double, ...); old files cast on read.

        Order of application: widens -> renames -> drops (named by their
        PRE-rename names is an error — use current names consistently;
        drops/widens/renames all address the CURRENT schema) -> adds.
        """
        renames = dict(renames or {})
        widens = dict(widens or {})
        adds = list(adds or [])
        drops = list(drops)
        cur = self.schema
        cur_names = [f.name for f in cur.fields]
        n2i = self._current_name_to_id(self.snapshot)
        for group, names in (("renames", renames), ("drops", drops),
                             ("widens", widens)):
            unknown = [n for n in names if n not in n2i]
            if unknown:
                raise LakeTableError(f"{group}: unknown columns {unknown}")
        protected = {self.bucket_by, *self.key_cols}
        bad_drop = [n for n in drops if n in protected]
        if bad_drop:
            raise LakeTableError(
                f"cannot drop bucket/key columns {bad_drop}")
        from pyspark.sql.types import StructField as SF

        fields: list = []
        ids: list[int] = []
        taken: set[str] = set()
        for f in cur.fields:
            if f.name in drops:
                continue
            dt = f.dataType
            if f.name in widens:
                new_dt = widens[f.name]
                pair = (dt.typeName(), new_dt.typeName())
                if pair != (dt.typeName(), dt.typeName()) \
                        and pair not in SAFE_WIDEN:
                    raise LakeTableError(
                        f"unsafe type change for '{f.name}': "
                        f"{pair[0]} -> {pair[1]} (allowed: {sorted(SAFE_WIDEN)})")
                dt = new_dt
            name = renames.get(f.name, f.name)
            if name in taken or name == "bucket":
                raise LakeTableError(f"rename collision on '{name}'")
            taken.add(name)
            fields.append(SF(name, dt, f.nullable))
            ids.append(n2i[f.name])
        next_fid = self.snapshot["next_field_id"]
        for a in adds:
            f = a if isinstance(a, SF) else SF(a[0], a[1], True)
            if f.name in taken or f.name == "bucket":
                raise LakeTableError(
                    f"add collision: column '{f.name}' already exists "
                    "or is reserved")
            taken.add(f.name)
            fields.append(SF(f.name, f.dataType, True))
            ids.append(next_fid)
            next_fid += 1
        # renaming the partition/key columns follows the schema
        meta_updates: dict = {}
        new_bucket_by = renames.get(self.bucket_by)
        if new_bucket_by:
            meta_updates["bucket_by"] = new_bucket_by
            meta_updates["partition_spec"] = (
                f"bucket({new_bucket_by}, {self.bucket_count})")
            meta_updates["partition_specs"] = [
                {**s, "bucket_by": new_bucket_by}
                for s in self.snapshot["partition_specs"]]
        if any(k in renames for k in self.key_cols):
            meta_updates["key_cols"] = [renames.get(k, k)
                                        for k in self.key_cols]
        return self.commit(
            epoch=self.committed_epoch,
            keep_files=list(self.snapshot["files"]),
            new_files=[],
            lineage={"mode": "schema_evolution",
                     "renames": renames, "drops": drops,
                     "adds": [f.name for f in fields[len(cur.fields)
                                                     - len(drops):]],
                     "widens": {k: v.simpleString()
                                for k, v in widens.items()},
                     "prior_columns": cur_names},
            new_schema=StructType(fields),
            new_schema_ids=ids,
            meta_updates=meta_updates or None,
        )

    # ---------- read ----------
    def files(self, buckets: set[int] | None = None, version: int | None = None,
              key_range: dict | None = None) -> list[dict]:
        """Manifest entries, optionally pruned to the files that could
        contain keys bucketing into ``buckets`` under the snapshot's
        default spec (spec-id-aware across partition evolutions) and/or
        intersecting ``key_range`` ({col: (lo, hi)}, inclusive; lo or hi
        may be None for half-open) against the per-file column bounds the
        writer recorded from parquet footer stats — Iceberg-style scan
        planning from the manifest alone, no file footers opened. A file
        without bounds for a requested column is never pruned.

        Exact-key probes (``lo == hi``) additionally consult the per-file
        bloom sidecars when the writer recorded them (table/bloom.py):
        bounds say "key inside [min, max]", the bloom says "key provably
        absent" — the discriminating test for high-entropy keys over
        arrival-ordered delta files whose bounds all straddle the probe.
        A file without a sidecar (or an unreadable one) is never pruned."""
        snap = self.snapshot if version is None else self.snapshot_at(version)
        out = snap["files"]
        if buckets is not None:
            held = self.file_buckets(snap)
            out = [f for f in out if not held(f).isdisjoint(buckets)]
        if key_range:
            exact = {c: lo for c, (lo, hi) in key_range.items()
                     if lo is not None and lo == hi}

            def hit(f: dict) -> bool:
                for c, (lo, hi) in key_range.items():
                    b = f["bounds"].get(c)
                    if b is None:
                        continue
                    if (hi is not None and b[0] > hi) or \
                            (lo is not None and b[1] < lo):
                        return False
                if exact and f.get("bloom"):
                    blooms = self._blooms_for(f["bloom"])
                    if blooms:
                        from cdcrypt.table.bloom import bloom_might_contain
                        for c, v in exact.items():
                            bl = blooms.get(c)
                            if bl is not None and \
                                    not bloom_might_contain(bl, v):
                                return False
                return True
            out = [f for f in out if hit(f)]
        return out

    def _blooms_for(self, rel: str) -> dict | None:
        """Cached parse of a bloom sidecar referenced from a manifest
        entry (relative path). None = unreadable -> no pruning."""
        if rel not in self._bloom_cache:
            from cdcrypt.table.bloom import read_bloom_sidecar
            self._bloom_cache[rel] = read_bloom_sidecar(
                os.path.join(self.root, rel))
        return self._bloom_cache[rel]

    def scan_projected(
        self,
        spark: SparkSession,
        files: list[dict],
        snap: dict | None = None,
        target_schema: StructType | None = None,
        changelog: bool = False,
    ) -> DataFrame:
        """Scan manifest entries, resolving columns BY FIELD ID against
        ``target_schema`` (default: ``snap``'s current schema).

        Files are grouped by the schema id they were written with. A group
        whose (name, id, type) triples all appear identically in the target
        — every file of an add-only history — joins one pooled
        ``spark.read.schema(target)`` scan, the exact pre-field-id plan
        (missing columns null-fill by name). Groups separated from the
        target by a rename/drop/widen get one scan each with their own
        write schema plus an id-matched rename/cast projection; the scan
        count is bounded by the number of schema EVOLUTIONS in history,
        never the file count, and per-group pushdown/pruning is intact.

        ``target_schema`` may extend the snapshot schema with not-yet-
        committed columns (merge's add-column path): unknown names have no
        id and read as null from every historical file. Entries with
        ``schema_id`` None (files staged by an in-flight commit, written
        with exactly the target schema) join the pooled scan.
        ``changelog=True`` appends the physical (op, epoch) change-log
        columns carried by delta files (fixed names, not id-tracked).
        """
        from pyspark.sql.types import LongType, StringType, StructField

        snap = self.snapshot if snap is None else snap
        if target_schema is None:
            sid = snap["schema_id"]
            target_schema = StructType.fromJson(
                next(e["spark"] for e in snap["schemas"] if e["id"] == sid))
        cl_fields = [StructField("op", StringType(), True),
                     StructField("epoch", LongType(), True)]
        out_schema = StructType(
            list(target_schema.fields) + (cl_fields if changelog else []))
        if not files:
            return spark.createDataFrame([], out_schema)

        n2i = self._current_name_to_id(snap)
        tgt = [(f.name, f.dataType, n2i.get(f.name))
               for f in target_schema.fields]
        schemas = {e["id"]: e for e in snap["schemas"]}

        groups: dict[int | None, list[str]] = {}
        for f in files:
            groups.setdefault(f["schema_id"], []).append(
                os.path.join(self.root, f["path"]))

        pooled: list[str] = []
        parts: list[DataFrame] = []
        for sid, paths in groups.items():
            if sid is None:  # staged this commit, written with the target
                pooled.extend(paths)
                continue
            if sid not in schemas:
                raise LakeTableError(f"file schema id {sid} not in snapshot")
            ws = StructType.fromJson(schemas[sid]["spark"])
            wids = schemas[sid]["ids"]
            by_name = {wf.name: (wid, wf.dataType)
                       for wf, wid in zip(ws.fields, wids)}
            live_ids = set(wids)
            compat = all(
                (by_name.get(fname) == (fid, ftype))
                if fname in by_name
                else (fid is None or fid not in live_ids)
                for fname, ftype, fid in tgt
            )
            if compat:
                pooled.extend(paths)
                continue
            by_id = {wid: wf.name for wf, wid in zip(ws.fields, wids)}
            proj = [
                (F.col(by_id[fid]).cast(ftype) if fid in by_id
                 else F.lit(None).cast(ftype)).alias(fname)
                for fname, ftype, fid in tgt
            ]
            read_schema = StructType(
                list(ws.fields) + (cl_fields if changelog else []))
            sel = proj + ([F.col("op"), F.col("epoch")] if changelog else [])
            parts.append(
                spark.read.schema(read_schema).parquet(*paths).select(*sel))
        if pooled:
            parts.append(spark.read.schema(out_schema).parquet(*pooled))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def change_rows(
        self,
        spark: SparkSession,
        files: list[dict],
        snap: dict | None = None,
        target_schema: StructType | None = None,
    ) -> DataFrame:
        """The merge-on-read input over ``files``: base rows as change rows
        (op='I', epoch=-1, so any delta version outranks them) unioned with
        the rows of the un-compacted delta files, (op, epoch) attached.
        Log-only deltas (``compacted=True``) are skipped — a base file
        already holds their rows. ``read`` and every base-file rewrite
        (operators/merge.rewrite_buckets: copy-on-write merges, MoR
        compaction, clustered rewrites) resolve exactly this frame
        (operators/dedup.resolve_live).

        An empty side is left out, not unioned: an empty
        ``createDataFrame`` is an RDD scan Catalyst cannot prune, which
        would add empty Python tasks to every read of a table that has
        never compacted, and to every copy-on-write merge."""
        base_fs = [f for f in files if f["kind"] == "base"]
        delta_fs = [f for f in files if _live_delta(f)]
        delta = self.scan_projected(spark, delta_fs, snap, target_schema,
                                    changelog=True)
        if not base_fs:
            return delta
        base = (
            self.scan_projected(spark, base_fs, snap, target_schema)
            .withColumn("op", F.lit("I"))
            .withColumn("epoch", F.lit(-1).cast("long"))
        )
        return base.unionByName(delta) if delta_fs else base

    def read(
        self,
        spark: SparkSession,
        buckets: set[int] | None = None,
        version: int | None = None,
        with_bucket: bool = False,
        key_range: dict | None = None,
        tag: str | None = None,
        as_of_ms: int | None = None,
    ) -> DataFrame:
        """Scan the table (optionally bucket-pruned / time-traveled).

        ``tag`` time-travels to a named snapshot (:meth:`create_tag`);
        ``as_of_ms`` to the newest snapshot committed at or before the
        wall-clock timestamp (:meth:`resolve_as_of`). version / tag /
        as_of_ms are mutually exclusive.

        ``key_range``: {key_col: (lo, hi)} point/range lookup — files are
        pruned from the manifest's recorded column bounds (no footers
        opened) and a row predicate narrows the survivors. KEY columns
        only: a key's rows all live in files whose bounds contain it, so
        pre-resolution filtering is complete per key; range-scanning a
        non-key column under MoR would resolve against a subset of a
        key's versions (use read_incremental for change-position ranges).

        ``buckets`` selects rows whose key buckets into the given ids
        under the snapshot's DEFAULT spec. Manifest pruning is file-level
        and spec-aware (:meth:`file_buckets`); when a selected file may
        hold a bucket outside the request — a bucket range that is not
        inside it, or an older-spec file's co-located rows — a row-level
        bucket predicate is applied on top. Files that hold only
        requested buckets keep the pure-metadata pruning plan.

        One parquet read for ALL files of a kind regardless of schema id:
        the current schema is pushed as the read schema, so old files yield
        nulls for added columns (add-column evolution on read).

        Merge-on-read: when the scope contains delta files (appended change
        batches — see operators/merge.py MoR path), base and delta rows are
        unioned and resolved last-writer-wins per key, deletes dropped —
        Iceberg MoR semantics. Tables maintained copy-on-write never have
        deltas and skip all of this (plain scan, no shuffle).
        """
        if sum(x is not None for x in (version, tag, as_of_ms)) > 1:
            raise LakeTableError(
                "pass at most one of version / tag / as_of_ms")
        if tag is not None:
            version = self.resolve_ref(tag)
        elif as_of_ms is not None:
            version = self.resolve_as_of(as_of_ms)
        snap = self.snapshot if version is None else self.snapshot_at(version)
        snap_schema = StructType.fromJson(
            next(s["spark"] for s in snap["schemas"]
                 if s["id"] == snap["schema_id"]))
        if key_range:
            bad = set(key_range) - set(snap["key_cols"])
            if bad and any(map(_live_delta, snap["files"])):
                raise LakeTableError(
                    f"key_range supports key columns only, got {sorted(bad)}"
                    " (non-key ranges under merge-on-read would resolve "
                    "against partial version history; rewrite_clustered or"
                    " compact the table first)")
        fs = self.files(buckets, version, key_range=key_range)
        # a plain scan when no live delta is in scope: the change columns
        # change_rows attaches to base rows are literals the select drops
        df = self.change_rows(spark, fs, snap)
        if any(map(_live_delta, fs)):
            from cdcrypt.operators.dedup import resolve_live

            df = resolve_live(df, snap["merge_engine"], snap["agg_spec"],
                              snap["key_cols"])
        df = df.select(*[f.name for f in snap_schema.fields])
        if buckets is not None:
            held = self.file_buckets(snap)
            if not all(held(f) <= buckets for f in fs):
                df = df.where(
                    bucket_col(snap["bucket_count"], snap["bucket_by"])
                    .isin(*buckets))
        if key_range:
            for c, (lo, hi) in key_range.items():
                if lo is not None:
                    df = df.where(F.col(c) >= F.lit(lo))
                if hi is not None:
                    df = df.where(F.col(c) <= F.lit(hi))
        if with_bucket:
            df = df.withColumn(
                "bucket", bucket_col(snap["bucket_count"], snap["bucket_by"]))
        return df

    def total_rows(self) -> int:
        return sum(f["rows"] for f in self.snapshot["files"])

    # ---------- incremental read (CDC out) ----------
    def read_incremental(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """The raw change rows committed in snapshots ``(from, to]`` — an
        incremental CDC-out feed (Iceberg incremental append scan).

        MoR delta files ARE the change log: each carries the post-resolution
        change rows plus (op, epoch), so the incremental scan is simply
        "delta files first referenced by a snapshot in range", walked
        per-step so deltas later compacted away are still found via the
        intermediate snapshot JSONs. A delta folded into a base by its OWN
        commit (fused append+compact) is referenced log-only
        (``compacted=True``) and is served here all the same — the feed is
        complete even for epochs that triggered compaction.
        Compaction-produced base files are rewrites, not changes, and are
        excluded by kind. Copy-on-write commits carry no change log —
        raise rather than silently return a wrong feed."""
        to_version = self.version if to_version is None else to_version
        if not 0 <= from_version <= to_version <= self.version:
            raise LakeTableError(
                f"bad incremental range ({from_version}, {to_version}]")
        prev_paths = {f["path"]
                      for f in self.snapshot_at(from_version)["files"]}
        picked: list[dict] = []
        for v in range(from_version + 1, to_version + 1):
            snap = self.snapshot_at(v)
            if snap["lineage"].get("mode") == "cow":
                raise LakeTableError(
                    "incremental read requires merge-on-read deltas; "
                    f"snapshot v{v} was committed copy-on-write")
            added = [f for f in snap["files"] if f["path"] not in prev_paths]
            picked.extend(f for f in added if f["kind"] == "delta")
            prev_paths = {f["path"] for f in snap["files"]}
        # change rows are served in the CURRENT schema (id-projected:
        # deltas written before a rename surface under the new name)
        return self.scan_projected(spark, picked, self.snapshot,
                                   changelog=True)

    def read_changelog(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """RESOLVED per-key changes between two snapshots — before/after
        images (Delta Change-Data-Feed / Paimon changelog semantics), the
        retraction-capable sibling of :meth:`read_incremental`'s raw
        delta rows. One row per key whose RESOLVED state differs between
        the versions: ``change_op`` in insert|update|delete plus
        ``before``/``after`` payload structs (null on the missing side);
        a key touched in the window but resolving to an identical row
        (stale redelivery, no-op patch) emits NOTHING, and a key inserted
        AND deleted within the window emits nothing (it never existed at
        either endpoint). Images are served in the table's CURRENT
        schema (id-projected across renames/widenings, like every read);
        comparison is null-safe over the full stored row, so any stored
        column change — including op_seq — is a change. Engine-agnostic:
        states come from :meth:`read`, so partial-update/aggregate tables
        diff their per-column-resolved rows.

        Scale shape: touched keys come from the window's delta files
        (O(window)); both endpoint states are manifest-pruned to the
        touched keys' buckets (a driver-side set bounded by
        bucket_count, the merge-path pattern) and semi-joined down to
        the touched keys before the full-outer diff — all three joins
        hash on the key columns, and nothing scans buckets the window
        never wrote. CoW windows raise (no delta log), same as
        read_incremental."""
        to_version = self.version if to_version is None else to_version
        raw = self.read_incremental(spark, from_version, to_version)
        cur = self.snapshot
        key_cols = self.key_cols
        cur_schema = self.schema
        payload = [f.name for f in cur_schema.fields
                   if f.name not in key_cols]
        keys = raw.select(*key_cols).distinct()
        cur_n2i = self._current_name_to_id(cur)

        def endpoint(version: int) -> DataFrame:
            snap = self.snapshot_at(version)
            bb = snap["bucket_by"]
            buckets = None
            if bb in key_cols:
                buckets = {r["_b"] for r in keys.select(
                    bucket_col(snap["bucket_count"], bb).alias("_b"))
                    .distinct().collect()}
            df = self.read(spark, buckets=buckets, version=version)
            # id-matched projection of the endpoint's schema onto the
            # CURRENT one: renamed columns follow their field id, widened
            # types cast, added-since columns null-fill, dropped-since
            # columns vanish
            v_n2i = self._current_name_to_id(snap)
            v_i2n = {i: n for n, i in v_n2i.items()}
            cols = []
            for f in cur_schema.fields:
                src = v_i2n.get(cur_n2i.get(f.name))
                cols.append(
                    F.col(src).cast(f.dataType).alias(f.name)
                    if src is not None and src in df.columns
                    else F.lit(None).cast(f.dataType).alias(f.name))
            return df.select(*cols).join(keys, key_cols, "left_semi")

        before = endpoint(from_version).select(
            *key_cols, F.struct(*payload).alias("before"))
        after = endpoint(to_version).select(
            *key_cols, F.struct(*payload).alias("after"))
        j = before.join(after, key_cols, "full_outer")
        return j.where(~F.col("before").eqNullSafe(F.col("after"))).select(
            *key_cols,
            F.when(F.col("after").isNull(), F.lit("delete"))
            .when(F.col("before").isNull(), F.lit("insert"))
            .otherwise(F.lit("update")).alias("change_op"),
            "before", "after",
        )

    # ---------- refs (tags) ----------
    @property
    def _refs_path(self) -> str:
        return os.path.join(self.meta_dir, "refs.json")

    def tags(self) -> dict[str, int]:
        """Named snapshot refs: tag -> version (Iceberg tag semantics)."""
        try:
            with open(self._refs_path) as f:
                return {k: int(v) for k, v in json.load(f).items()}
        except FileNotFoundError:
            return {}

    def resolve_ref(self, name: str) -> int:
        refs = self.tags()
        if name not in refs:
            raise LakeTableError(
                f"unknown tag {name!r}; known: {sorted(refs)}")
        return refs[name]

    def resolve_as_of(self, ms: int) -> int:
        """Timestamp time-travel (Iceberg ``TIMESTAMP AS OF``): the newest
        snapshot whose ``created_ms`` <= ``ms``. Driver-side metadata walk
        from the current version downward — snapshot JSONs are local and
        commit instants strictly increase (``_persist_snapshot`` stamps
        each after its parent's), so the first hit is the answer. The
        walk stops at the first retention-expired version, so a ``ms``
        older than the retained history raises this method's "no snapshot
        at or before" error."""
        v = self.version
        while v >= 0:
            try:
                snap = self.snapshot_at(v)
            except LakeTableError:
                break  # fell off retained history
            if snap["created_ms"] <= ms:
                return v
            v -= 1
        raise LakeTableError(
            f"no snapshot at or before ts {ms} ms (oldest retained is "
            f"newer, or history was expired)")

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin a snapshot under a name — auditable releases ('the corpus
        we trained run 7 on') that survive :meth:`expire_snapshots`
        (tagged versions and their files are retained until the tag is
        dropped). Runs under the commit lock so a concurrent expiration
        pass cannot race the pin."""
        if not name or "/" in name:
            raise LakeTableError(f"bad tag name {name!r}")
        with self._commit_lock("create_tag"):
            self._load()
            v = self.version if version is None else int(version)
            self.snapshot_at(v)  # must exist (and not be expired)
            refs = self.tags()
            if refs.get(name, v) != v:
                raise LakeTableError(
                    f"tag {name!r} already pins v{refs[name]} — tags are "
                    "immutable; drop_tag first")
            refs[name] = v
            atomic_write_json(self._refs_path, refs)
            return v

    def drop_tag(self, name: str) -> bool:
        with self._commit_lock("drop_tag"):
            refs = self.tags()
            if name not in refs:
                return False
            del refs[name]
            atomic_write_json(self._refs_path, refs)
            return True

    # ---------- write-audit-publish ----------
    def staged_versions(self) -> list[int]:
        """Versions with a pending staged (unpublished) snapshot."""
        out = []
        for v in self._versions():
            if v <= self.version:
                continue
            try:
                if self.snapshot_at(v).get("staged"):
                    out.append(v)
            except (LakeTableError, json.JSONDecodeError):
                continue  # abandoned since the listing, or a torn orphan
        return out

    def publish_staged(self, version: int) -> int:
        """Make a staged snapshot current (the P of write-audit-publish).
        Atomic: the staged JSON is rewritten without the marker, then the
        pointer swaps — a crash between the two leaves a publishable
        snapshot, and re-running publish_staged is idempotent-safe."""
        with self._commit_lock("publish_staged"):
            self._load()
            snap = self.snapshot_at(version)
            if not snap.get("staged"):
                if self.version >= version:
                    raise LakeTableError(
                        f"v{version} is already published")
                raise LakeTableError(
                    f"v{version} is not a staged snapshot")
            if self.version != snap["parent"]:
                raise LakeTableError(
                    f"publish conflict: staged v{version} has parent "
                    f"v{snap['parent']} but current is v{self.version}")
            snap.pop("staged")
            atomic_write_json(
                os.path.join(self.meta_dir, f"v{version}.json"), snap)
            self._swap_current(self.meta_dir, version)
            self._snapshot = snap
            return version

    def abandon_staged(self, version: int) -> bool:
        """Drop a staged snapshot that failed its audit. Its data files
        become unreferenced and are reclaimed by the next
        :meth:`expire_snapshots` pass (after the orphan grace window)."""
        with self._commit_lock("abandon_staged"):
            self._load()
            path = os.path.join(self.meta_dir, f"v{version}.json")
            if not os.path.exists(path):
                return False
            if not self.snapshot_at(version).get("staged"):
                raise LakeTableError(
                    f"v{version} is not staged (refusing to delete a "
                    "published snapshot; use expire_snapshots)")
            os.remove(path)
            return True

    # ---------- rollback ----------
    def rollback(self, to_version: int, *, reset_epoch: bool = False) -> int:
        """Restore the table state of an earlier snapshot as a NEW commit
        (Iceberg rollback semantics): manifest, current schema, partition
        default, key/merge config all revert; history stays linear and the
        bad snapshots remain auditable until expired. Only retained
        versions are restorable — expiration deletes both the snapshot
        JSON and any files no retained snapshot references, so a
        successfully resolved ``to_version`` always has its files on disk
        (pin release candidates with :meth:`create_tag`).

        ``committed_epoch`` is KEPT at the current value by default, so an
        exactly-once ingest resuming after the rollback does not re-apply
        epochs that were already merged into the bad snapshots —
        rollback-and-continue drops those epochs' effects. Pass
        ``reset_epoch=True`` to restore the old snapshot's epoch floor for
        deliberate reprocessing: the ingest will re-apply every epoch
        after ``to_version``'s (requires the source stream to still hold
        them — the consumer-retention contract)."""
        with self._commit_lock("rollback"):
            self._load()
            prev = self.snapshot
            if to_version == prev["version"]:
                return prev["version"]
            if to_version > prev["version"]:
                raise LakeTableError(
                    f"cannot rollback forward (to v{to_version} from "
                    f"v{prev['version']})")
            old = self.snapshot_at(to_version)
            snap = {
                "format": prev["format"],
                "version": prev["version"] + 1,
                "parent": prev["version"],
                # schemas/specs lists are append-only across commits, so
                # prev's lists are supersets containing old's entries;
                # only the DEFAULTS revert
                **{k: old[k] for k in TABLE_PROPS},
                "schema_id": old["schema_id"],
                "schemas": prev["schemas"],
                "next_field_id": prev["next_field_id"],
                "partition_specs": prev["partition_specs"],
                "files": old["files"],
                "committed_epoch": (old["committed_epoch"] if reset_epoch
                                    else prev["committed_epoch"]),
                "lineage": {"mode": "rollback", "to_version": to_version,
                            "reset_epoch": reset_epoch},
            }
            self._persist_snapshot(snap, make_current=True)
            self._snapshot = snap
            return snap["version"]

    # ---------- metadata tables ----------
    def history(self, spark: SparkSession) -> DataFrame:
        """The commit log as a DataFrame (Iceberg ``snapshots``/``history``
        metadata-table analogue): one row per RETAINED snapshot with its
        lineage metrics. Driver-side work is O(retained snapshots) JSON
        reads — metadata, not data."""
        rows = []
        for v in self._versions():
            if v > self.version:
                continue  # staged, or a crash orphan beyond current
            try:
                snap = self.snapshot_at(v)
            except LakeTableError:
                continue  # expired since the listing
            lin, fs = snap["lineage"], snap["files"]
            rows.append((
                snap["version"], snap["parent"], snap["committed_epoch"],
                snap["created_ms"], lin.get("mode"), lin.get("batch_rows"),
                lin.get("rows_written"), len(fs),
                sum(map(_live_delta, fs)),
                sum(f["rows"] for f in fs if not f.get("compacted")),
                snap["schema_id"], snap["partition_spec"],
            ))
        return spark.createDataFrame(
            rows,
            "version long, parent long, committed_epoch long, "
            "created_ms long, mode string, batch_rows long, "
            "rows_written long, n_files int, n_live_delta_files int, "
            "stored_rows long, schema_id int, partition_spec string")

    def files_df(self, spark: SparkSession,
                 version: int | None = None) -> DataFrame:
        """The manifest as a DataFrame (Iceberg ``files`` metadata-table
        analogue): one row per data file of the (current or pinned)
        snapshot, with its recorded column bounds as JSON."""
        snap = (self.snapshot if version is None
                else self.snapshot_at(version))
        rows = [(f["path"], f["bucket_lo"], f["bucket_hi"], f["kind"],
                 bool(f.get("compacted")), f["schema_id"], f["spec_id"],
                 f["rows"], json.dumps(f["bounds"]) if f["bounds"] else None)
                for f in snap["files"]]
        return spark.createDataFrame(
            rows,
            "path string, bucket_lo int, bucket_hi int, kind string, "
            "compacted boolean, "
            "schema_id int, spec_id int, rows long, bounds string")

    # ---------- consumers ----------
    @property
    def consumers_dir(self) -> str:
        return os.path.join(self.meta_dir, "consumers")

    def register_consumer(self, consumer_id: str, last_version: int) -> None:
        """Record a change-feed consumer's offset IN THE TABLE (the Kafka
        consumer-group / Iceberg ref pattern): snapshot expiration then
        refuses to eat snapshots a registered consumer still needs, so a
        lagging feed degrades to extra retention instead of a dead feed.
        Atomic per consumer; monotone (a crash-replayed registration of an
        older offset never moves the protection floor backwards)."""
        if not consumer_id or "/" in consumer_id or consumer_id.startswith("."):
            raise LakeTableError(f"bad consumer_id {consumer_id!r}")
        os.makedirs(self.consumers_dir, exist_ok=True)
        path = os.path.join(self.consumers_dir, f"{consumer_id}.json")
        prev = self.consumers().get(consumer_id)
        if prev is not None and prev["last_version"] > int(last_version):
            return
        atomic_write_json(path, {"last_version": int(last_version),
                                 "updated_ms": int(time.time() * 1000)})

    def consumers(self) -> dict[str, dict]:
        """Registered consumer offsets: id -> {last_version, updated_ms}."""
        out: dict[str, dict] = {}
        if not os.path.isdir(self.consumers_dir):
            return out
        for n in os.listdir(self.consumers_dir):
            if n.startswith(".") or not n.endswith(".json"):
                continue
            with open(os.path.join(self.consumers_dir, n)) as f:
                out[n[:-5]] = json.load(f)
        return out

    def remove_consumer(self, consumer_id: str) -> bool:
        """Deregister a dead consumer so expiration can move on — the
        explicit operator action, not a staleness heuristic (a slow
        consumer and a dead one look identical from the table)."""
        try:
            os.remove(os.path.join(self.consumers_dir,
                                   f"{consumer_id}.json"))
            return True
        except FileNotFoundError:
            return False

    # ---------- maintenance ----------
    def expire_snapshots(self, keep_last: int = 2,
                         orphan_grace_ms: int = 600_000,
                         respect_consumers: bool = True) -> dict:
        """Iceberg-style snapshot expiration: keep the most recent
        ``keep_last`` snapshot JSONs, delete the rest, and remove data
        files no retained snapshot references. Time travel to expired
        versions stops working — by design; incremental reads remain
        possible across the retained window.

        Registered change-feed consumers (:meth:`register_consumer`)
        extend the retained window down to their lowest offset — the
        Kafka consumer-group retention contract — unless
        ``respect_consumers=False`` (the operator override for a dead
        consumer; prefer :meth:`remove_consumer`).

        Concurrency safety (ADVICE r2): runs under the commit lock, so a
        concurrent commit cannot swap the pointer (or write a v{N+1}.json
        this pass would treat as expired) mid-expiration. Data files are
        staged by executors BEFORE commit() is ever called, though — the
        lock cannot see those — so files referenced by NO snapshot at all
        are deleted only when older than ``orphan_grace_ms`` (Iceberg's
        orphan-file grace window): a fresh unreferenced file is an
        in-flight commit's staging, an old one is a crash leftover.
        Files referenced only by EXPIRED snapshots are positively known
        garbage and are removed regardless of age."""
        if keep_last < 1:
            raise LakeTableError("keep_last must be >= 1")
        with self._commit_lock("expire_snapshots"):
            self._load()  # re-resolve under the lock
            cur = self.version
            all_versions = set(self._versions())
            keep_versions = {v for v in all_versions
                             if cur - keep_last + 1 <= v <= cur}
            keep_versions |= set(self.tags().values()) & all_versions
            # pending write-audit-publish snapshots (staged, > cur) and
            # their files are protected until published or abandoned
            for v in all_versions:
                if v > cur:
                    try:
                        if self.snapshot_at(v).get("staged"):
                            keep_versions.add(v)
                    except json.JSONDecodeError:
                        continue
            protected_by: list[str] = []
            if respect_consumers:
                # a consumer at offset L reads windows (L, ...] and
                # re-reads snapshot L as the changelog before-endpoint,
                # so every snapshot >= max(L, 1) stays serviceable
                for cid, c in self.consumers().items():
                    floor = max(int(c["last_version"]), 1)
                    if floor <= cur - keep_last:  # it extends retention
                        protected_by.append(cid)
                    keep_versions |= {v for v in all_versions
                                      if floor <= v <= cur}
            retained_ref: set[str] = set()
            expired_ref: set[str] = set()
            for v in all_versions:
                try:
                    paths = {f["path"] for f in self.snapshot_at(v)["files"]}
                except (json.JSONDecodeError, KeyError, OSError) as e:
                    if v <= cur:
                        # a COMMITTED snapshot must parse — surface, don't
                        # guess which data files it referenced
                        raise LakeTableError(
                            f"corrupt committed snapshot v{v}.json") from e
                    # torn crash-orphan beyond current (writer died mid
                    # json.dump before the pointer swap): unreadable, so it
                    # references nothing; its json is removed with the other
                    # non-kept versions below. Without this, one torn file
                    # would fail every future expire_snapshots pass.
                    continue
                (retained_ref if v in keep_versions else expired_ref).update(paths)
            now_ms = time.time() * 1000
            removed_files = 0
            data_root = os.path.join(self.root, "data")
            for dirpath, _, names in os.walk(data_root, topdown=False):
                for n in names:
                    full = os.path.join(dirpath, n)
                    rel = os.path.relpath(full, self.root)
                    if n.endswith(".bloom") or n.endswith(".bloom.tmp"):
                        # sidecar lifecycle follows its data file: keep
                        # while the parquet is referenced by a retained
                        # snapshot, else fall through to the same
                        # expired/orphan-grace decision (torn .tmp files
                        # are never referenced and age out via grace)
                        data_rel = rel[:-6] if rel.endswith(".bloom") \
                            else rel[:-10]
                        if data_rel in retained_ref:
                            continue
                        rel = data_rel
                    elif not n.endswith(".parquet") or rel in retained_ref:
                        continue
                    if rel not in expired_ref:
                        # referenced by no snapshot: possibly an in-flight
                        # commit's staged file — only old ones are orphans
                        try:
                            age_ms = now_ms - os.stat(full).st_mtime * 1000
                        except OSError:
                            continue
                        if age_ms < orphan_grace_ms:
                            continue
                    os.remove(full)
                    removed_files += 1
                if not os.listdir(dirpath):
                    os.rmdir(dirpath)
            removed_snaps = 0
            for v in all_versions - keep_versions:
                os.remove(os.path.join(self.meta_dir, f"v{v}.json"))
                removed_snaps += 1
            return {"removed_snapshots": removed_snaps,
                    "removed_data_files": removed_files,
                    "kept_versions": sorted(keep_versions),
                    "protected_by_consumers": sorted(protected_by)}
