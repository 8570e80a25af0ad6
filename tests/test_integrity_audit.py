"""Per-epoch integrity audit in the ingest driver
(streaming/pipeline.py ``integrity_audit`` + operators/audit.py)."""

from __future__ import annotations

import datetime
import glob
import json
import os

from cdcrypt.operators.transform import decrypt_fields
from cdcrypt.streaming.pipeline import IngestPipeline
from cdcrypt.table.lake import LakeTable

from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType, TimestampType,
)

TS = datetime.datetime(2024, 1, 1)
KEY = "cdcrypt/transcripts"
EV = StructType([
    StructField("op", StringType()), StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()), StructField("op_seq", LongType()),
    StructField("epoch", LongType()), StructField("role", StringType()),
    StructField("text", StringType()), StructField("tool", StringType()),
    StructField("ts", TimestampType()),
])


def _write_epoch(spark, d, epoch, rows):
    df = spark.createDataFrame(rows, EV).coalesce(1)
    tmp = os.path.join(d, f"_tmp_{epoch}")
    df.write.mode("overwrite").parquet(tmp)
    [part] = glob.glob(os.path.join(tmp, "*.parquet"))
    os.replace(part, os.path.join(d, f"epoch={epoch:06d}.parquet"))


def test_pipeline_integrity_audit_counts_and_sink(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    # epoch 0: one conflict (same position, different text) + one
    # redelivery (byte-identical, only the delivery epoch differs)
    _write_epoch(spark, src, 0, [
        ("I", "A", 0, 1, 0, "user", "v1", None, TS),
        ("U", "A", 0, 2, 0, "user", "v2a", None, TS),
        ("U", "A", 0, 2, 0, "user", "v2b", None, TS),   # conflict
        ("I", "B", 0, 1, 0, "user", "x", None, TS),
        ("I", "B", 0, 1, 0, "user", "x", None, TS),     # redelivery
    ])
    # epoch 1: clean — and a key whose insert lives in epoch 0 must NOT
    # be flagged (per-epoch mode excludes transition kinds)
    _write_epoch(spark, src, 1, [
        ("U", "A", 0, 3, 1, "user", "v3", None, TS),
        ("D", "B", 0, 9, 1, None, None, None, TS),
    ])

    adir = str(tmp_path / "anomalies")
    pipe = IngestPipeline(src, str(tmp_path / "t"), str(tmp_path / "c"),
                          key_id=KEY, bucket_count=4,
                          integrity_audit=True, integrity_audit_dir=adir)
    lineages = pipe.run(spark)
    assert lineages[0]["integrity"] == {
        "anomalies": 2, "conflict": 1, "redelivery": 1}
    assert lineages[1]["integrity"] == {"anomalies": 0}

    # anomaly rows persisted per epoch (before the table commit)
    a0 = spark.read.parquet(os.path.join(adir, "epoch=000000")).collect()
    assert {(r["conv_id"], r["op_seq"], r["kind"]) for r in a0} == {
        ("A", 2, "conflict"), ("B", 1, "redelivery")}
    assert spark.read.parquet(
        os.path.join(adir, "epoch=000001")).count() == 0

    # the audit is a tap, not a gate: the table still resolved LWW
    t = LakeTable(str(tmp_path / "t"))
    final = decrypt_fields(t.read(spark), ["$.text", "$.tool"],
                           aad_field="conv_id", key_id=KEY)
    got = {(r["conv_id"], r["text"]) for r in final.collect()}
    assert got == {("A", "v3")}  # B deleted; A's conflict superseded

    # counts land in the checkpoint lineage for trend monitoring
    ck = sorted(glob.glob(str(tmp_path / "c" / "*.json")))
    assert ck, "checkpoints written"
    recorded = json.load(open(ck[0]))
    assert recorded["integrity"]["conflict"] == 1


def test_integrity_audit_without_sink_is_lineage_only(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_epoch(spark, src, 0, [
        ("I", "A", 0, 1, 0, "user", "v1", None, TS),
        ("I", "A", 0, 1, 0, "user", "v1", None, TS),
    ])
    pipe = IngestPipeline(src, str(tmp_path / "t"), str(tmp_path / "c"),
                          key_id=KEY, bucket_count=4, integrity_audit=True)
    [lin] = pipe.run(spark)
    assert lin["integrity"] == {"anomalies": 1, "redelivery": 1}


def test_lineage_metrics_surface(spark, tmp_path):
    from cdcrypt.streaming.metrics import lineage_df, throughput_summary

    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_epoch(spark, src, 0, [
        ("I", "A", 0, 1, 0, "user", "v1", None, TS),
        ("I", "A", 0, 1, 0, "user", "v1", None, TS),   # redelivery
        ("I", "B", 0, 2, 0, "user", "w1", None, TS),
    ])
    _write_epoch(spark, src, 1, [
        ("U", "A", 0, 3, 1, "user", "v2", None, TS),
    ])
    ck = str(tmp_path / "c")
    IngestPipeline(src, str(tmp_path / "t"), ck, key_id=KEY,
                   bucket_count=4, integrity_audit=True).run(spark)

    raw = lineage_df(spark, ck)
    assert raw.count() == 2

    rows = {r["epoch"]: r for r in throughput_summary(spark, ck).collect()}
    # batch_rows is the RESOLVED batch (redelivery collapsed 3 -> 2)
    assert rows[0]["batch_rows"] == 2 and rows[1]["batch_rows"] == 1
    assert rows[0]["integrity_anomalies"] == 1
    assert rows[1]["integrity_anomalies"] == 0
    # no epoch ever recorded a conflict -> typed-null column, not an error
    assert rows[0]["integrity_conflicts"] is None
    # dlq disabled -> null, and the rate column computes
    assert rows[0]["dlq_rows"] is None
    assert rows[0]["rows_per_sec"] and rows[0]["rows_per_sec"] > 0
    # each merge-on-read epoch records the delta files it appended, and
    # together they are the manifest's delta entries (nothing compacted)
    from cdcrypt.table.lake import LakeTable
    assert all(r["delta_files"] >= 1 for r in rows.values())
    assert sum(r["delta_files"] for r in rows.values()) == sum(
        f["kind"] == "delta" for f in LakeTable(str(tmp_path / "t")).files())
