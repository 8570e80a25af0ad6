"""IngestPipeline — the CDC replay driver (SURVEY.md §7 stage 7).

Structured-Streaming-shaped manual micro-batch loop (the sandbox has no Kafka
JAR; epoch files stand in for topic offsets, SURVEY.md P1). Each epoch
(``IngestPipeline.ingest_batch``, shared with the Structured Streaming
driver in structured.py):

    read epoch files -> shuffle into ~one bucket range per core (ONE exchange)
        -> resolve one final change per key (dedup + LWW, exchange reused)
        -> FieldTransform(encrypt text/tool, AAD=conv_id) on winners only
        -> merge_upsert range-file append (no shuffle) -> atomic epoch commit
        -> checkpoint JSON with per-partition lineage

Delivery semantics: exactly-once. The lake commit records the epoch
atomically; replaying an epoch (crash before commit, task retry, duplicate
files) is detected via ``committed_epoch`` and skipped, and the merge itself
carries a per-row ``op_seq`` stale-guard — both layers mirror how the
reference relies on Connect redelivery + its RetriableException contract
(``Transform.java:124-130``) but upgrade at-least-once to exactly-once.

Error routing (O10): a ``ServerErrorException`` raised inside the crypto UDF
surfaces through the Spark action; the driver retries the epoch (bounded),
any other error aborts the job — transient vs data error, exactly the
reference's RetriableException vs DataException split.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cdcrypt.kms import MockKMS
from cdcrypt.operators.dedup import STRATEGIES, resolve_batch
from cdcrypt.operators.merge import merge_upsert
from cdcrypt.operators.transform import FieldTransform, TransformConfig
from cdcrypt.table.commitfile import atomic_write_json
from cdcrypt.table.lake import (
    LakeTable,
    LakeTableError,
    LakeTableNotFound,
    RANGE_ID,
    partition_by_range,
)

_EPOCH_FILE = re.compile(r"epoch=(\d+)\b")

BASE_TABLE_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("role", StringType(), True),
    StructField("text", StringType(), True),
    StructField("tool", StringType(), True),
    StructField("ts", TimestampType(), True),
    StructField("op_seq", LongType(), True),
])


def list_epochs(source_dir: str) -> dict[int, list[str]]:
    """Epoch -> sorted file paths (the source's offset log)."""
    out: dict[int, list[str]] = defaultdict(list)
    for name in sorted(os.listdir(source_dir)):
        m = _EPOCH_FILE.search(name)
        if m and name.endswith((".parquet", ".jsonl")):
            out[int(m.group(1))].append(os.path.join(source_dir, name))
    return dict(out)


@contextmanager
def aqe_disabled(spark: SparkSession):
    """Suspend adaptive query execution for an ingest loop. Every exchange
    in the ingest plan is explicitly sized (repartition to the table's
    bucket count), so adaptive execution has nothing to improve, while its
    per-stage query materialization added 2-6x wall latency per micro-batch
    (measured: AQE-on epochs 5-22s erratic vs AQE-off 3.4-4.8s uniform at
    the same input). Analytics reads keep AQE (skew joins, coalescing)."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def write_epoch_parquet(df: DataFrame, final: str) -> int:
    """Idempotent per-epoch parquet sink (dead letters, integrity
    anomalies, transaction-aligner state): a hidden tmp directory beside
    ``final``, then an atomic rename onto it; an epoch replay overwrites
    its own output. Returns the row count from the written footers (no
    second job)."""
    import shutil

    import pyarrow.parquet as pq

    parent, name = os.path.split(final)
    os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(parent, f".{name}.tmp")
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    df.write.mode("overwrite").parquet(tmp)
    rows = 0
    for name in os.listdir(tmp):
        if name.endswith(".parquet"):
            rows += pq.ParquetFile(os.path.join(tmp, name)).metadata.num_rows
    if os.path.exists(final):
        shutil.rmtree(final)          # replayed epoch: overwrite
    os.replace(tmp, final)
    return rows


def write_checkpoint(checkpoint_dir: str, epoch: int, lineage: dict) -> None:
    """Atomic per-epoch lineage JSON: ``checkpoint_dir/epoch_NNNNNN.json``."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    atomic_write_json(
        os.path.join(checkpoint_dir, f"epoch_{epoch:06d}.json"), lineage,
        indent=1, default=str)


@dataclass
class IngestPipeline:
    source_dir: str
    table_root: str
    checkpoint_dir: str
    key_id: str = "cdcrypt/transcripts"
    encrypt_paths: tuple[str, ...] = ("$.text", "$.tool")
    aad_field: str | None = "conv_id"
    # resolver default: 'agg' (groupBy max_by) — map-side combine collapses
    # duplicates/hot keys before the shuffle and A/Bs ~2x faster than the
    # explicit two-phase salted resolver at the generator's skew profile
    # (bench grid in BENCH/BASELINE.md); 'salted' stays selectable for
    # extreme-skew streams, 'window' for rank-pushdown comparison.
    resolver: str = "agg"
    salt_buckets: int = 16
    bucket_count: int = 64
    max_retries: int = 2
    table_mode: str = "mor"  # 'mor' (append+compact) | 'cow' (rewrite dirty)
    # row resolution semantics of the target table (table/lake.py):
    # 'lww' whole-row last-writer-wins (resolver knob picks the strategy),
    # 'partial' per-column LWW, 'aggregate' per-column folds (agg_spec).
    # Non-lww engines dictate the batch resolver and require table_mode
    # 'mor' (merge_upsert enforces it).
    merge_engine: str = "lww"
    agg_spec: dict | None = None
    compact_threshold: int = 8
    # 'udf' = pandas-UDF crypto, per-Arrow-batch DEKs (north-rule canonical);
    # 'jvm' = builtin aes_encrypt, per-epoch DEK recorded in commit lineage
    crypto_backend: str = "udf"
    # ciphertext storage encoding. 'binary' stores raw envelope bytes —
    # 25% smaller than base64 strings in shuffle/cache and ~that on disk
    # (parquet stores both as BYTE_ARRAY; base64 inflates 4/3), which is
    # pure win on a bandwidth-bound replay. The lake schema's encrypted
    # columns become BinaryType; decrypt_batch auto-detects per item, so
    # readers are unchanged. Requires plain top-level encrypt paths.
    encrypt_encoding: str = "string"
    kms: MockKMS = dc_field(default_factory=MockKMS)
    # generalized record shape (VERDICT r2 missing #1): MERGE key columns,
    # partition column (default: first key col) and table schema — the
    # transcript values are only DEFAULTS, any change-event stream with
    # (op, op_seq, epoch) bookkeeping replays through the same pipeline
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx")
    bucket_by: str | None = None
    table_schema: StructType | None = None
    # source-format adapter (P1 breadth): maps a raw epoch read onto the
    # change-event contract (op, op_seq, payload cols). When set, .jsonl
    # epochs are read as plain text lines (the adapter owns parsing — e.g.
    # sources/debezium.parse_debezium over topic-dump envelopes) and a
    # missing epoch column is stamped from the file epoch.
    source_adapter: object | None = None
    # dead-letter sink (Connect errors.deadletterqueue.topic.name, owned
    # natively): a TOLERANT adapter returns (events, dead) — e.g.
    # sources/debezium.parse_debezium_dlq — and each epoch's poison
    # records land as parquet under dlq_dir/epoch=NNNNNN BEFORE the table
    # commit, so a crash between the two is healed by the same epoch
    # replay that heals the table (the dir is overwritten idempotently).
    # lineage carries dlq_rows. Mutually exclusive with source_adapter.
    dlq_adapter: object | None = None
    dlq_dir: str | None = None
    # per-epoch write-audit-publish (table/lake.py staged commits): when
    # set, each epoch's MERGE is STAGED (snapshot written, pointer not
    # swapped) and ``audit(spark, table, staged_version, lineage)`` runs
    # against the staged state (``table.read(spark, version=v)``). Truthy
    # -> publish_staged (atomic swap); falsy -> the staged snapshot is
    # abandoned and ``audit_action`` decides: 'fail' (default) raises
    # EpochAuditError with no checkpoint written, so a re-run replays the
    # SAME epoch after the operator fixes the input; 'skip' records an
    # empty commit at this epoch (the floor advances, the rejected
    # changes are dropped — auditable via lineage mode='audit_skip').
    audit: object | None = None
    audit_action: str = "fail"  # 'fail' | 'skip'
    # per-epoch change-stream integrity audit (operators/audit.py): when
    # True, each epoch's PARSED events are scanned for positional
    # anomalies — conflict (two writers at one (key, op_seq) position)
    # and redelivery — and the counts land in lineage['integrity'].
    # Transition kinds are deliberately excluded: within one micro-batch
    # a key's earlier history lives in previous epochs, so every
    # first-op/after-delete classification would be a false positive;
    # run audit_changes over the full source for stream-wide forensics.
    # integrity_audit_dir additionally persists the anomaly rows as
    # parquet under dir/epoch=NNNNNN (hidden-tmp + atomic rename, same
    # replay-idempotent crash contract as the DLQ sink — written BEFORE
    # the table commit). Costs one extra aggregation job per epoch.
    integrity_audit: bool = False
    integrity_audit_dir: str | None = None
    # transaction-boundary alignment (streaming/txn.py TxnAligner): when
    # set, each epoch's batch is aligned BEFORE resolution — only complete
    # source transactions reach the table; boundary-straddling txns are
    # held in the aligner's pending state and re-presented next epoch.
    # The aligner's state writes precede the table commit, so the crash
    # contract is the pipeline's own: replaying an epoch recomputes the
    # identical release set. lineage carries txn_pending_rows.
    aligner: object | None = None

    def __post_init__(self) -> None:
        if self.resolver not in STRATEGIES:
            raise ValueError(
                f"resolver must be one of {STRATEGIES}, got "
                f"{self.resolver!r} (merge_engine picks the resolver of "
                "partial/aggregate tables)")
        if self.dlq_adapter is not None and self.source_adapter is not None:
            raise ValueError(
                "source_adapter and dlq_adapter are mutually exclusive "
                "(the tolerant adapter IS the source adapter)")
        if self.dlq_adapter is not None and self.dlq_dir is None:
            raise ValueError("dlq_adapter requires dlq_dir")

    @property
    def broadcast_merge(self) -> None:
        """Always None: copy-on-write has no join strategy. Kept only
        because perfbench/phases.py still reads it; the ROADMAP item-5
        benchmark PR deletes it."""
        return None

    @property
    def _bucket_by(self) -> str:
        return self.bucket_by or self.key_cols[0]

    @property
    def _schema(self) -> StructType:
        base = self.table_schema or BASE_TABLE_SCHEMA
        if self.encrypt_encoding == "string":
            return base
        if self.encrypt_encoding != "binary":
            raise LakeTableError(
                f"encrypt_encoding={self.encrypt_encoding!r} must be "
                "'string' or 'binary'")
        # binary ciphertext: the encrypted columns' lake type flips to
        # BinaryType. Only plain top-level paths are supported (nested /
        # array ciphertext stays base64-string — the in-place struct
        # rewrite cannot change a nested field's type without rewriting
        # the whole struct schema).
        from pyspark.sql.types import BinaryType

        from cdcrypt.functions.fieldpath import compile_path
        tops = set()
        for p in self.encrypt_paths:
            cp = compile_path(p)
            if len(cp.names) != 1 or cp.is_array:
                raise LakeTableError(
                    f"encrypt_encoding='binary' requires plain top-level "
                    f"encrypt paths; got {p!r}")
            tops.add(cp.names[0])
        return StructType([
            StructField(f.name, BinaryType(), f.nullable)
            if f.name in tops and isinstance(f.dataType, StringType) else f
            for f in base.fields
        ])

    # ---------- setup ----------
    def table(self) -> LakeTable:
        try:
            t = LakeTable(self.table_root)
        except LakeTableNotFound:
            pass  # fresh path: fall through to create
        else:
            # the pipeline partitions each epoch by ITS bucket spec and
            # merges with assume_bucketed=True, so every physical-layout
            # knob of an existing table must match — a silent mismatch
            # writes delta files clustered by the wrong column/modulus and
            # readers (bucket pruning, CoW dirty-bucket keep) misinterpret
            # them with no error
            if t.key_cols != list(self.key_cols):
                raise LakeTableError(
                    f"table at {self.table_root} is keyed on {t.key_cols}, "
                    f"pipeline configured for {list(self.key_cols)}")
            if t.bucket_by != self._bucket_by:
                raise LakeTableError(
                    f"table at {self.table_root} is bucketed by "
                    f"{t.bucket_by!r}, pipeline configured for "
                    f"{self._bucket_by!r}")
            if t.bucket_count != self.bucket_count:
                raise LakeTableError(
                    f"table at {self.table_root} has bucket_count="
                    f"{t.bucket_count}, pipeline configured for "
                    f"{self.bucket_count}")
            if t.merge_engine != self.merge_engine:
                raise LakeTableError(
                    f"table at {self.table_root} uses merge_engine="
                    f"{t.merge_engine!r}, pipeline configured for "
                    f"{self.merge_engine!r}")
            return t
        return LakeTable.create(
            self.table_root, self._schema, bucket_count=self.bucket_count,
            bucket_by=self._bucket_by, key_cols=self.key_cols,
            merge_engine=self.merge_engine, agg_spec=self.agg_spec,
        )

    def _encryptor(self) -> FieldTransform:
        return FieldTransform(TransformConfig(
            mode="encrypt",
            fields=list(self.encrypt_paths),
            key_id=self.key_id,
            aad_field=self.aad_field,
            kms=self.kms,
            backend=self.crypto_backend,
            encoding=self.encrypt_encoding,
        ))

    def _epoch_schema(self, spark: SparkSession,
                      files: list[str]) -> StructType:
        """Epoch read schema. Parquet: from ONE footer via pyarrow (driver,
        sub-ms) — skips the per-epoch Spark schema-inference job (a measured
        ~0.15s of fixed latency per micro-batch). JSONL: one Spark inference
        pass over the epoch's first file, then the known change-event types
        are pinned (JSON carries no types; turn_idx/ts would otherwise
        infer as long/string). Files within an epoch share a schema by
        construction (the binlog emits one schema per position; add-column
        evolution changes it only at an epoch boundary)."""
        if files[0].endswith(".jsonl"):
            inferred = spark.read.json(files[0]).schema
            pinned = {f.name: f.dataType for f in self._schema.fields}
            return StructType([
                StructField(f.name, pinned.get(f.name, f.dataType),
                            True)
                for f in inferred.fields
            ])
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(pq.ParquetFile(files[0]).schema_arrow)

    @staticmethod
    def _check_iv_budget(files: list[str]) -> None:
        """NIST SP 800-38D guard for the jvm backend: random 96-bit IVs cap
        at 2^32 invocations per key, and this backend uses ONE DEK per
        micro-batch. Row counts come from parquet footers (driver-side
        metadata, no scan). Over-budget epochs must be split or switched to
        the udf backend (counter nonces, per-Arrow-batch DEKs)."""
        import pyarrow.parquet as pq

        from cdcrypt.errors import ClientErrorException
        from cdcrypt.functions.crypto_jvm import MAX_ROWS_PER_DEK

        if files[0].endswith(".jsonl"):
            # no row-count metadata: bound rows by size / minimal row bytes
            # (a change-event JSON line is >= ~60 B of keys alone) — an
            # epoch only trips this past ~256 GB, where the exact check
            # would need a scan anyway
            rows = sum(os.path.getsize(f) for f in files) // 60
        else:
            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        if rows >= MAX_ROWS_PER_DEK:
            raise ClientErrorException(
                f"epoch has {rows} rows >= 2^32 random-IV budget of one "
                "jvm-backend DEK (NIST SP 800-38D); split the epoch or use "
                "crypto_backend='udf'")

    def _epoch_era(self, files: list[str]) -> str:
        """Schema-era fingerprint of one source epoch, for the adaptive
        loop's group-boundary rule. Adapter sources (Debezium lines, DLQ
        splitters) are schema-free text tails — one era. Parquet: the
        first file's arrow schema string (driver-side footer, sub-ms —
        files within an epoch share a schema by the binlog contract, see
        :meth:`_epoch_schema`). JSONL without an adapter: the sorted key
        set of the first line (types are pinned by ``_epoch_schema``
        anyway, so key-set identity is schema identity)."""
        if self.source_adapter is not None or self.dlq_adapter is not None:
            return "adapter"
        if files[0].endswith(".jsonl"):
            with open(files[0]) as f:
                line = f.readline()
            return ",".join(sorted(json.loads(line).keys())) if line else ""
        import pyarrow.parquet as pq

        return str(pq.ParquetFile(files[0]).schema_arrow)

    # ---------- one batch ----------
    def ingest_batch(self, spark: SparkSession, table: LakeTable,
                     df: DataFrame, epoch: int) -> dict:
        """One micro-batch through the operator chain, shared by the epoch
        loop (:meth:`process_epoch`) and the Structured Streaming sink
        (``StructuredIngest.apply_batch``). ``df`` is the batch as read
        (raw lines when ``dlq_adapter`` is set). Physical shape:

            scan -> Exchange(range id, ~cores) -> resolve per range (NO
            exchange: the groupBy/window takes the range id as one more
            key and reuses the exchange) -> encrypt UDF once per range ->
            plain file write per range (NO exchange, NO partitionBy sort)

        ONE shuffle end-to-end per batch (table/lake.py
        partition_by_range), and ~cores (not B) sorts, tasks, Python UDF
        invocations and files after it. Encryption runs AFTER
        resolution so superseded/duplicate events never pay crypto. Side
        outputs (DLQ, integrity anomalies, aligner state) land BEFORE the
        table commit: a crash between them replays the batch, which
        overwrites them idempotently."""
        if self.audit is not None:
            # crash-recovery: a staged snapshot pending at batch start is a
            # leftover from a run that died between staging and its audit
            # verdict (this pipeline is the table's single writer). Abandon
            # it — the batch replays deterministically and re-stages.
            for sv in table.staged_versions():
                table.abandon_staged(sv)
        raw_cached = None
        if self.dlq_adapter is not None:
            # both halves filter ONE classified parse; cache the raw lines
            # so the dead-letter job and the merge job scan the batch once
            raw_cached = df.persist()
            df, dead = self.dlq_adapter(raw_cached)
            dlq_rows = write_epoch_parquet(
                dead.withColumn("epoch", F.lit(epoch).cast("long")),
                os.path.join(self.dlq_dir, f"epoch={epoch:06d}"))
        if "epoch" not in df.columns:
            # adapter sources (Debezium lines) carry no epoch column; the
            # resolvers tie-break on (op_seq, epoch), so stamp the batch's
            # epoch — constant within a batch, monotone across
            df = df.withColumn("epoch", F.lit(epoch).cast("long"))
        integrity: dict | None = None
        if self.integrity_audit:
            # pre-alignment: the audit sees the batch AS DELIVERED (held
            # transaction fragments included) — the delivery-quality view
            from cdcrypt.operators.audit import audit_changes

            anomalies = audit_changes(df, list(self.key_cols),
                                      include_transitions=False).persist()
            by_kind = {r["kind"]: int(r["count"]) for r in
                       anomalies.groupBy("kind").count().collect()}
            integrity = {"anomalies": sum(by_kind.values()), **by_kind}
            if self.integrity_audit_dir is not None:
                write_epoch_parquet(anomalies, os.path.join(
                    self.integrity_audit_dir, f"epoch={epoch:06d}"))
            anomalies.unpersist(blocking=False)
        if self.aligner is not None:
            df = self.aligner.align(spark, df, epoch)
        resolved = resolve_batch(
            partition_by_range(df, self.bucket_count, self._bucket_by),
            self.merge_engine, self.agg_spec, [*self.key_cols, RANGE_ID],
            self.resolver, self.salt_buckets).drop(RANGE_ID)
        encryptor = self._encryptor()
        lineage = merge_upsert(
            spark, table, encryptor.apply(resolved), epoch,
            mode=self.table_mode, compact_threshold=self.compact_threshold,
            assume_bucketed=True, stage_only=self.audit is not None,
        )
        if raw_cached is not None:
            raw_cached.unpersist(blocking=False)
        if self.audit is not None and not lineage.get("skipped"):
            v = lineage["version"]
            if self.audit(spark, table, v, lineage):
                table.publish_staged(v)
                lineage["audit"] = "published"
            else:
                table.abandon_staged(v)
                if self.audit_action != "skip":
                    from cdcrypt.errors import EpochAuditError
                    raise EpochAuditError(epoch, v, lineage)
                table.commit(
                    epoch=epoch, keep_files=list(table.snapshot["files"]),
                    new_files=[],
                    lineage={"mode": "audit_skip", "epoch": epoch,
                             "rejected_version": v,
                             "batch_rows": lineage.get("batch_rows", 0),
                             "rows_written": 0})
                lineage["audit"] = "skipped"
        if self.dlq_adapter is not None:
            lineage["dlq_rows"] = dlq_rows
        if integrity is not None:
            lineage["integrity"] = integrity
        if self.aligner is not None:
            lineage["txn_pending_rows"] = self.aligner.last_pending_rows
        if encryptor.last_wrapped_deks:
            # per-epoch wrapped DEKs (jvm backend): decrypt-side jobs read
            # these from lineage instead of running key discovery
            import base64 as _b64
            lineage["wrapped_deks"] = [
                _b64.b64encode(w).decode("ascii")
                for w in encryptor.last_wrapped_deks
            ]
        return lineage

    # ---------- one epoch ----------
    def process_epoch(self, spark: SparkSession, table: LakeTable,
                      epoch: int, files: list[str]) -> dict:
        """One source epoch (or a coalesced group of them) through
        :meth:`ingest_batch`, then its checkpoint JSON."""
        t0 = time.monotonic()
        if self.crypto_backend == "jvm":
            self._check_iv_budget(files)
        jsonl = files[0].endswith(".jsonl")
        if self.source_adapter is None and self.dlq_adapter is None:
            reader = spark.read.schema(self._epoch_schema(spark, files))
            df = reader.json(*files) if jsonl else reader.parquet(*files)
        else:
            # adapter sources: raw lines (.jsonl) or rows (parquet), parsed
            # here by source_adapter or split by dlq_adapter in ingest_batch
            df = (spark.read.text(*files) if jsonl
                  else spark.read.parquet(*files))
            if self.source_adapter is not None:
                df = self.source_adapter(df)
        lineage = self.ingest_batch(spark, table, df, epoch)
        lineage.update({
            "files": [os.path.basename(f) for f in files],
            "wall_sec": round(time.monotonic() - t0, 3),
        })
        write_checkpoint(self.checkpoint_dir, epoch, lineage)
        return lineage

    def _process_retrying(self, spark: SparkSession, table: LakeTable,
                          epoch: int, files: list[str]) -> dict:
        """:meth:`process_epoch`, replayed up to ``max_retries`` times on a
        transient (retriable) failure — the sink is idempotent; any other
        error aborts."""
        attempt = 0
        while True:
            try:
                return self.process_epoch(spark, table, epoch, files)
            except Exception as exc:  # noqa: BLE001 - classified below
                if not _is_retriable(exc) or attempt >= self.max_retries:
                    raise
                attempt += 1  # replay the epoch (idempotent sink)

    def requeue_dlq(self, epoch: int | None = None) -> dict:
        """DLQ replay, the Connect recovery pattern: after deploying a fix
        (corrected adapter/schema), pipe the dead-letter queue back
        through the pipeline. Every quarantined line re-enters as ONE new
        source epoch (``epoch=NNNNNN.dlqreplay.jsonl``); the next
        ``run()`` merges the now-parseable lines and re-quarantines the
        still-poison ones under the new epoch. No classification happens
        here — the tolerant adapter IS the classifier, so recovery and
        re-quarantine are the same code path as first ingest.

        Safety: the epoch file lands atomically (temp + rename) BEFORE
        the old dlq dirs are removed — a crash between leaves lines both
        queued and quarantined, and replaying a line twice is harmless
        (the resolver dedups identical (key, op_seq) events; a stale
        recovery can never overwrite newer data past the LWW guard).
        Driver-side file op (poison is rare by contract); epochs default
        to max(source, committed) + 1 so a replay can never collide with
        a pending source epoch. Quiesce the stream first — a concurrent
        writer could race the epoch numbering."""
        import glob
        import shutil

        import pyarrow.parquet as pq

        if self.dlq_dir is None:
            raise LakeTableError("requeue_dlq requires dlq_dir")
        dirs = sorted(glob.glob(os.path.join(self.dlq_dir, "epoch=*")))
        lines: list[str] = []
        for d in dirs:
            for fp in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                col = pq.read_table(fp, columns=["value"]).column("value")
                lines.extend(v for v in col.to_pylist() if v is not None)
        if not lines:
            return {"requeued": 0, "epoch": None}
        if epoch is None:
            existing = list_epochs(self.source_dir)
            epoch = max([*existing, self.table().committed_epoch, 0]) + 1
        name = f"epoch={epoch:06d}.dlqreplay.jsonl"
        tmp = os.path.join(self.source_dir, f".{name}.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, os.path.join(self.source_dir, name))
        for d in dirs:
            shutil.rmtree(d)
        return {"requeued": len(lines), "epoch": epoch}

    # ---------- replay loop ----------
    def run(self, spark: SparkSession, max_epochs: int | None = None) -> list[dict]:
        """Process all pending epochs (resume = committed_epoch + 1), with
        AQE suspended (:func:`aqe_disabled`)."""
        table = self.table()
        epochs = list_epochs(self.source_dir)
        pending = sorted(e for e in epochs if e > table.committed_epoch)
        if max_epochs is not None:
            pending = pending[:max_epochs]
        with aqe_disabled(spark):
            return [self._process_retrying(spark, table, e, epochs[e])
                    for e in pending]
    def run_adaptive(
        self,
        spark: SparkSession,
        target_batch_sec: float = 8.0,
        max_epochs_per_batch: int = 64,
        max_batches: int | None = None,
    ) -> list[dict]:
        """:meth:`run` with adaptive micro-batch sizing (backpressure):
        pending source epochs are COALESCED into grouped commits whose
        size a deterministic AIMD controller (streaming/backpressure.py)
        steers toward ``target_batch_sec`` of wall per commit — the
        engine-native form of the measured big-batch win (resizing the r3
        bench stream 6->3 micro-batches was 2.9-3.8x events/s; fixed
        per-epoch costs amortize over the group).

        Semantics are unchanged by construction: resolution is a pure
        function of (key, op_seq), so ANY grouping of the stream into
        micro-batches converges to the same table (the batch-misalignment
        invariant), and a grouped commit is ONE atomic table commit whose
        ``committed_epoch`` is the group's max source epoch — the replay
        guard and crash-resume work exactly as for singleton epochs (a
        replayed group is skipped wholesale; resume continues after the
        last committed group, re-deriving any uncommitted tail under a
        possibly different, equally valid grouping). The learned size
        persists in the checkpoint dir and seeds the next run (or the
        Structured driver via ``max_files_per_trigger='auto'``).

        jvm-backend note: the 2^32 rows-per-DEK IV budget is checked on
        the GROUP (process_epoch already sums footer counts over the file
        list), so an over-budget coalesced batch fails fast exactly like
        an over-budget source epoch.

        Schema-evolution boundary: ``_epoch_schema`` reads each batch with
        ONE schema ("the binlog emits one schema per position; add-column
        evolution changes it only at an epoch boundary"), so a group must
        never straddle an evolution — grouping epochs 3..5 when the
        ``model`` column appears at 4 would read 4-5 under the OLD schema
        and silently drop the column. Groups are therefore cut at schema-
        era boundaries, detected from driver-side per-epoch fingerprints
        (one parquet footer / one JSON line each — no Spark job). Adapter
        sources own their parsing (schema-free text tail), so no cut.
        """
        from cdcrypt.streaming.backpressure import BatchSizeController

        table = self.table()
        epochs = list_epochs(self.source_dir)
        pending = sorted(e for e in epochs if e > table.committed_epoch)
        ctl = BatchSizeController(
            target_sec=target_batch_sec, max_size=max_epochs_per_batch)
        ctl.load(self.checkpoint_dir)
        era = {e: self._epoch_era(epochs[e]) for e in pending}
        results: list[dict] = []
        with aqe_disabled(spark):
            i, batches = 0, 0
            while i < len(pending) and (
                    max_batches is None or batches < max_batches):
                group = pending[i:i + max(1, ctl.size)]
                cut = next((j for j in range(1, len(group))
                            if era[group[j]] != era[group[0]]), len(group))
                group = group[:cut]
                files = [f for e in group for f in epochs[e]]
                label = group[-1]
                lineage = self._process_retrying(spark, table, label, files)
                if len(group) > 1:
                    # re-stamp the lineage with the group extent (the
                    # checkpoint writer is atomic and idempotent, so the
                    # rewrite is safe); metrics readers see how the
                    # controller grouped the source
                    lineage["epoch_range"] = [group[0], group[-1]]
                    lineage["batch_epochs"] = len(group)
                    write_checkpoint(self.checkpoint_dir, label, lineage)
                results.append(lineage)
                ctl.observe(len(group), float(lineage.get("wall_sec", 0.0)))
                ctl.save(self.checkpoint_dir)
                i += len(group)
                batches += 1
        return results


def _py_root_cause_line(text: str) -> str | None:
    """The raise line of the LAST Python traceback block embedded in a
    Py4J/PySpark error string.

    Traceback structure: frame lines after the ``Traceback (most recent
    call last):`` marker are indented; the first FLUSH-LEFT line after
    them is the exception's own line. Message continuation lines follow
    it — so a multi-line *message* that embeds a line starting with a
    qualified exception name can never be mistaken for the cause
    (VERDICT r2 residual #5; the previous ``re.M`` search over the whole
    string could)."""
    lines = text.splitlines()
    marks = [i for i, ln in enumerate(lines)
             if ln.strip() == "Traceback (most recent call last):"]
    if not marks:
        return None
    for ln in lines[marks[-1] + 1:]:
        if not ln or ln[0] in " \t":
            continue                      # indented frame / source lines
        return ln
    return None


def _is_retriable(exc: Exception) -> bool:
    """O10 classification across the Py4J boundary.

    Driver-side raises are matched by type (isinstance over the cause
    chain). Executor-side raises arrive as PySpark ``PythonException``
    text embedding the worker traceback; retriable iff the ROOT-CAUSE
    line of the LAST traceback block is a ServerErrorException."""
    from cdcrypt.errors import ServerErrorException

    seen: set[int] = set()
    e: BaseException | None = exc
    while e is not None and id(e) not in seen:
        if isinstance(e, ServerErrorException):
            return True
        seen.add(id(e))
        e = e.__cause__ or e.__context__
    root = _py_root_cause_line(str(exc))
    return root is not None and bool(re.match(
        r"cdcrypt\.errors\.ServerErrorException\b\s*:?", root))


def _main() -> None:
    """CLI for spark-submit deployment:

        spark-submit --py-files cdcrypt.zip -m ... \
            cdcrypt/streaming/pipeline.py --source DIR --table DIR --ckpt DIR

    (In-sandbox: python -m cdcrypt.streaming.pipeline ...)
    """
    import argparse

    from cdcrypt.session import get_spark

    ap = argparse.ArgumentParser(description="cdcrypt CDC ingest replay")
    ap.add_argument("--source", required=True, help="change-event epoch dir")
    ap.add_argument("--table", required=True, help="lake table root")
    ap.add_argument("--ckpt", required=True, help="checkpoint dir")
    ap.add_argument("--key-id", default="cdcrypt/transcripts")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--resolver", default="agg",
                    choices=list(STRATEGIES))
    ap.add_argument("--table-mode", default="mor", choices=["mor", "cow"])
    ap.add_argument("--compact-threshold", type=int, default=8)
    ap.add_argument("--crypto-backend", default="udf", choices=["udf", "jvm"])
    ap.add_argument("--max-epochs", type=int, default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark("cdcrypt-ingest", master=args.master)
    pipe = IngestPipeline(
        args.source, args.table, args.ckpt, key_id=args.key_id,
        bucket_count=args.buckets, resolver=args.resolver,
        table_mode=args.table_mode, compact_threshold=args.compact_threshold,
        crypto_backend=args.crypto_backend,
    )
    results = pipe.run(spark, max_epochs=args.max_epochs)
    for r in results:
        print(json.dumps(r))
    print(json.dumps({"epochs_applied": len(results),
                      "committed_epoch": pipe.table().committed_epoch}))


if __name__ == "__main__":
    _main()
