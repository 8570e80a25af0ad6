"""Per-epoch write-audit-publish on the ingest pipeline.

Each epoch's MERGE is staged, audited against the staged snapshot, then
published (atomic pointer swap) or abandoned — data failing its quality
gate never becomes current. Covers: audited == unaudited final state,
reject-fail (same-epoch replay after a fix), reject-skip (floor advances,
epoch dropped, auditable lineage) — both under the epoch loop and the
Structured Streaming driver, which share one per-batch body — and
crash-leftover staged snapshots.
"""

from __future__ import annotations

import os
import shutil

import pytest

from cdcrypt.errors import EpochAuditError
from cdcrypt.sources.changegen import GenSpec, generate_to_dir
from cdcrypt.streaming.pipeline import IngestPipeline, list_epochs
from cdcrypt.streaming.structured import StructuredIngest, infer_stream_schema

GEN = dict(n_convs=25, avg_turns=4, n_epochs=3, seed=21)
DRIVERS = ("epochs", "structured")


def _state(spark, table):
    """Decrypted final state (ciphertext bytes differ per run: fresh DEKs
    and nonces each replay — the per-turn invariant is plaintext equality
    under stable key order, as in test_pipeline_e2e)."""
    from cdcrypt.operators.transform import decrypt_fields

    df = decrypt_fields(table.read(spark), ["$.text", "$.tool"],
                        aad_field="conv_id", key_id="cdcrypt/transcripts")
    return sorted(map(tuple, df.collect()))


def _gen(src):
    generate_to_dir(src, GenSpec(**GEN))
    # the Structured Streaming file source orders files by mtime: pin it to
    # the epoch order so SS batch i is source epoch i (one file per epoch)
    for e, files in list_epochs(src).items():
        for f in files:
            os.utime(f, (1_000_000 + e, 1_000_000 + e))


def _mk(tmp_path, name, driver="epochs", **kw):
    cls = StructuredIngest if driver == "structured" else IngestPipeline
    return cls(str(tmp_path / "stream"), str(tmp_path / name),
               str(tmp_path / f"{name}_ckpt"), bucket_count=4, **kw)


def _run(spark, pipe):
    """Replay the stream with the pipe's driver; the epoch loop returns its
    lineages, the SS driver (one file per micro-batch) returns None."""
    if isinstance(pipe, StructuredIngest):
        pipe.run_stream(spark, infer_stream_schema(pipe.source_dir),
                        available_now=True, max_files_per_trigger=1)
        return None
    return pipe.run(spark)


def test_audited_run_matches_unaudited(spark, tmp_path):
    generate_to_dir(str(tmp_path / "stream"), GenSpec(**GEN))
    plain = _mk(tmp_path, "plain")
    plain.run(spark)

    seen = []

    def audit(spark_, table_, version, lineage):
        # the auditor reads the STAGED snapshot while current is its parent
        staged_rows = table_.read(spark_, version=version).count()
        assert table_.version == version - 1
        seen.append((version, staged_rows, lineage["epoch"]))
        return staged_rows > 0

    audited = _mk(tmp_path, "wap", audit=audit)
    lineages = audited.run(spark)
    assert [ln["audit"] for ln in lineages] == ["published"] * 3
    assert len(seen) == 3
    assert _state(spark, audited.table()) == _state(spark, plain.table())
    t = audited.table()
    assert t.staged_versions() == []
    assert t.committed_epoch == 2


@pytest.mark.parametrize("driver", DRIVERS)
def test_audit_reject_fail_replays_same_epoch(spark, tmp_path, driver):
    _gen(str(tmp_path / "stream"))

    def reject_epoch_1(spark_, table_, version, lineage):
        return lineage["epoch"] != 1

    pipe = _mk(tmp_path, "t", driver, audit=reject_epoch_1)
    with pytest.raises(Exception) as ei:
        _run(spark, pipe)
    if driver == "epochs":
        assert isinstance(ei.value, EpochAuditError) and ei.value.epoch == 1
    else:
        # the sink's error surfaces through the streaming query's failure
        assert "EpochAuditError" in str(ei.value)
        assert "epoch 1 rejected by audit" in str(ei.value)
    t = pipe.table()
    # epoch 1 never became current; nothing staged is left pending
    assert t.committed_epoch == 0
    assert t.staged_versions() == []
    # the operator "fixes the input" (here: the gate) and re-runs — the
    # SAME epoch replays and the stream completes
    pipe2 = _mk(tmp_path, "t", driver, audit=lambda *a: True)
    _run(spark, pipe2)
    assert pipe2.table().committed_epoch == 2
    plain = _mk(tmp_path, "plain")
    plain.run(spark)
    assert _state(spark, pipe2.table()) == _state(spark, plain.table())


@pytest.mark.parametrize("driver", DRIVERS)
def test_audit_reject_skip_drops_epoch(spark, tmp_path, driver):
    src = str(tmp_path / "stream")
    _gen(src)
    pipe = _mk(tmp_path, "t", driver,
               audit=lambda s, t, v, ln: ln["epoch"] != 1,
               audit_action="skip")
    lineages = _run(spark, pipe)
    if lineages is not None:
        assert [ln.get("audit") for ln in lineages] == \
            ["published", "skipped", "published"]
    t = pipe.table()
    assert t.committed_epoch == 2 and t.staged_versions() == []
    # the skip is auditable: an empty commit records the rejected version
    skip_snaps = [t.snapshot_at(v) for v in range(1, t.version + 1)
                  if t.snapshot_at(v)["lineage"].get("mode") == "audit_skip"]
    assert len(skip_snaps) == 1
    assert skip_snaps[0]["committed_epoch"] == 1
    # final state == a run over the same stream WITHOUT epoch 1's files
    src2 = str(tmp_path / "stream2")
    os.makedirs(src2)
    skip_names = {os.path.basename(p) for p in list_epochs(src)[1]}
    for n in os.listdir(src):
        if n not in skip_names and not n.startswith("."):
            shutil.copy(os.path.join(src, n), os.path.join(src2, n))
    assert 1 not in list_epochs(src2), "epoch-1 files must be absent"
    ref = IngestPipeline(src2, str(tmp_path / "ref"),
                         str(tmp_path / "ref_ckpt"), bucket_count=4)
    ref.run(spark)
    assert _state(spark, pipe.table()) == _state(spark, ref.table())


def test_crash_leftover_staged_snapshot_is_abandoned(spark, tmp_path):
    """A run that dies between staging and the audit verdict leaves a
    pending staged snapshot; the replay must abandon and re-stage instead
    of colliding with it."""
    from pyspark.sql import functions as F

    from cdcrypt.operators.dedup import resolve_latest_agg
    from cdcrypt.operators.merge import merge_upsert

    src = str(tmp_path / "stream")
    generate_to_dir(src, GenSpec(**GEN))
    pipe = _mk(tmp_path, "t", audit=lambda *a: True)
    table = pipe.table()
    # simulate the dead run: epoch 0 staged, verdict never delivered
    files = list_epochs(src)[0]
    df = spark.read.schema(pipe._epoch_schema(spark, files)).json(*files) \
        if files[0].endswith(".jsonl") else spark.read.parquet(*files)
    resolved = resolve_latest_agg(
        df.withColumn("epoch", F.lit(0).cast("long")),
        key_cols=list(pipe.key_cols))
    ln = merge_upsert(spark, table, resolved, 0, mode="mor",
                      stage_only=True)
    assert table.staged_versions() == [ln["version"]]
    # the replay abandons the leftover, re-stages, audits, publishes
    lineages = pipe.run(spark)
    assert [l["audit"] for l in lineages] == ["published"] * 3
    assert pipe.table().staged_versions() == []
    plain = _mk(tmp_path, "plain")
    plain.run(spark)
    assert _state(spark, pipe.table()) == _state(spark, plain.table())
