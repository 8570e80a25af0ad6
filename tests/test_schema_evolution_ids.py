"""Field-id schema evolution (Iceberg spec §Schema Evolution, P7).

Columns are identified by table-lifetime field ids, not names: rename is
metadata-only (old files keep serving values under the new name), drop
retires the id forever (re-adding the same NAME must NOT resurrect old
values — the Iceberg re-add test), and type widening casts old files on
read. The reference SMT delegates all of this to Connect's schema
registry; the engine owns it natively.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, FloatType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from cdcrypt.operators.merge import merge_upsert
from cdcrypt.table.lake import LakeTable, LakeTableError

SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("text", StringType(), True),
    StructField("op_seq", LongType(), True),
])


def _batch(spark, rows, schema=None):
    """A resolved micro-batch (op=I upserts) in merge_upsert's shape."""
    cols = ["conv_id", "turn_idx", "text", "op_seq"]
    if schema is None:
        df = spark.createDataFrame(rows, cols)
    else:
        df = spark.createDataFrame(rows, schema)
    return df.withColumn("op", F.lit("I"))


def _mk_table(spark, tmp_path, n=8, mode="cow"):
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, bucket_count=4)
    rows = [(f"c{i}", i, f"msg {i}", 10 + i) for i in range(n)]
    merge_upsert(spark, t, _batch(spark, rows), epoch=0, mode=mode)
    return t


def test_rename_is_metadata_only(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    files_before = {f["path"] for f in t.files()}
    v = t.evolve_schema(renames={"text": "body"})
    assert v == t.version
    # no data movement: the manifest references the exact same files
    assert {f["path"] for f in t.files()} == files_before
    got = t.read(spark)
    assert got.columns == ["conv_id", "turn_idx", "body", "op_seq"]
    assert ({r["body"] for r in got.collect()}
            == {f"msg {i}" for i in range(8)})
    # time travel to the pre-rename version still shows the old name
    old = t.read(spark, version=v - 1)
    assert "text" in old.columns and "body" not in old.columns


def test_rename_then_write_mixes_schema_generations(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    t.evolve_schema(renames={"text": "body"})
    new_schema = StructType([
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("body", StringType(), True),
        StructField("op_seq", LongType(), True),
    ])
    rows = [(f"c{i}", i, f"new {i}", 100 + i) for i in range(8, 12)]
    merge_upsert(spark, t, _batch(spark, rows, new_schema), epoch=1)
    got = {(r["conv_id"], r["body"]) for r in t.read(spark).collect()}
    assert got == ({(f"c{i}", f"msg {i}") for i in range(8)}
                   | {(f"c{i}", f"new {i}") for i in range(8, 12)})


def test_drop_then_readd_does_not_resurrect(spark, tmp_path):
    """THE field-id test: old files hold a 'text' column, but after
    drop+re-add the name maps to a NEW id — old values must read null."""
    t = _mk_table(spark, tmp_path)
    t.evolve_schema(drops=["text"])
    assert "text" not in t.read(spark).columns
    t.evolve_schema(adds=[("text", StringType())])
    got = t.read(spark)
    assert "text" in got.columns
    assert got.where(F.col("text").isNotNull()).count() == 0
    # and new writes under the re-added column are visible
    rows = [("c99", 99, "fresh", 999)]
    merge_upsert(spark, t, _batch(spark, rows), epoch=1)
    vals = {r["text"] for r in t.read(spark).collect()}
    assert vals == {None, "fresh"}
    # time travel before the drop still serves the ORIGINAL values
    pre_drop = t.read(spark, version=1)
    assert pre_drop.where(F.col("text").isNotNull()).count() == 8


def test_widen_int_to_long(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    t.evolve_schema(widens={"turn_idx": LongType()})
    got = t.read(spark)
    assert dict(got.dtypes)["turn_idx"] == "bigint"
    assert sorted(r["turn_idx"] for r in got.collect()) == list(range(8))
    # post-widen writes use the wide type directly
    wide = StructType([
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", LongType(), False),
        StructField("text", StringType(), True),
        StructField("op_seq", LongType(), True),
    ])
    merge_upsert(spark, t, _batch(
        spark, [("c8", 2**40, "big", 200)], wide), epoch=1)
    assert t.read(spark).where(F.col("turn_idx") == 2**40).count() == 1


def test_widen_float_to_double_and_validation(spark, tmp_path):
    schema = StructType([
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("score", FloatType(), True),
        StructField("op_seq", LongType(), True),
    ])
    t = LakeTable.create(str(tmp_path / "t"), schema, bucket_count=4)
    df = spark.createDataFrame(
        [("c0", 0, 1.5, 1)], schema).withColumn("op", F.lit("I"))
    merge_upsert(spark, t, df, epoch=0)
    t.evolve_schema(widens={"score": DoubleType()})
    assert dict(t.read(spark).dtypes)["score"] == "double"
    assert t.read(spark).collect()[0]["score"] == 1.5
    # narrowing and cross-family changes refuse
    with pytest.raises(LakeTableError, match="unsafe"):
        t.evolve_schema(widens={"op_seq": IntegerType()})
    with pytest.raises(LakeTableError, match="unsafe"):
        t.evolve_schema(widens={"conv_id": LongType()})


def test_evolve_validation_errors(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    with pytest.raises(LakeTableError, match="unknown"):
        t.evolve_schema(renames={"nope": "x"})
    with pytest.raises(LakeTableError, match="bucket/key"):
        t.evolve_schema(drops=["conv_id"])
    with pytest.raises(LakeTableError, match="bucket/key"):
        t.evolve_schema(drops=["turn_idx"])
    with pytest.raises(LakeTableError, match="collision"):
        t.evolve_schema(renames={"text": "op_seq"})
    with pytest.raises(LakeTableError, match="collision"):
        t.evolve_schema(adds=[("text", StringType())])


def test_rename_key_and_bucket_column_updates_metadata(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    t.evolve_schema(renames={"conv_id": "session_id", "turn_idx": "seq"})
    assert t.bucket_by == "session_id"
    assert t.key_cols == ["session_id", "seq"]
    assert "session_id" in t.snapshot["partition_spec"]
    # merges keep working against the renamed key/bucket columns, and the
    # bucket layout is still valid (values unchanged -> same hash)
    renamed = StructType([
        StructField("session_id", StringType(), False),
        StructField("seq", IntegerType(), False),
        StructField("text", StringType(), True),
        StructField("op_seq", LongType(), True),
    ])
    df = spark.createDataFrame(
        [("c0", 0, "updated", 500)], renamed).withColumn("op", F.lit("I"))
    merge_upsert(spark, t, df, epoch=1)
    got = {(r["session_id"], r["seq"], r["text"])
           for r in t.read(spark).collect()}
    assert ("c0", 0, "updated") in got
    assert len(got) == 8  # upsert, not duplicate: key identity preserved


def test_commit_new_schema_rejects_type_change(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    changed = StructType([
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", LongType(), False),   # int -> long
        StructField("text", StringType(), True),
        StructField("op_seq", LongType(), True),
    ])
    with pytest.raises(LakeTableError, match="evolve_schema"):
        t.commit(epoch=1, keep_files=list(t.snapshot["files"]),
                 new_files=[], lineage={}, new_schema=changed)


def test_mor_deltas_resolve_across_rename(spark, tmp_path):
    """Delta files written pre-rename + post-rename must resolve LWW into
    one consistent current-schema view, and compaction over the mixed
    generations must preserve it."""
    t = _mk_table(spark, tmp_path, mode="mor")
    t.evolve_schema(renames={"text": "body"})
    new_schema = StructType([
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("body", StringType(), True),
        StructField("op_seq", LongType(), True),
    ])
    # update half the keys post-rename; low threshold forces compaction
    rows = [(f"c{i}", i, f"v2 {i}", 1000 + i) for i in range(4)]
    merge_upsert(spark, t, _batch(spark, rows, new_schema), epoch=1,
                 mode="mor", compact_threshold=2)
    got = {(r["conv_id"], r["body"]) for r in t.read(spark).collect()}
    assert got == ({(f"c{i}", f"v2 {i}") for i in range(4)}
                   | {(f"c{i}", f"msg {i}") for i in range(4, 8)})
    # incremental feed serves pre-rename deltas under the CURRENT name
    feed = t.read_incremental(spark, 0, t.version)
    assert "body" in feed.columns and "text" not in feed.columns
    assert feed.where(F.col("body").startswith("msg")).count() == 8


def test_single_scan_preserved_for_add_only_history(spark, tmp_path):
    """Add-only evolution must keep the original one-pooled-scan plan: no
    per-schema-generation scan multiplication (the fast path)."""
    t = _mk_table(spark, tmp_path)
    with_extra = StructType(
        list(SCHEMA.fields) + [StructField("model", StringType(), True)])
    df = spark.createDataFrame(
        [("c9", 9, "m", 99, "gpt")], with_extra).withColumn("op", F.lit("I"))
    merge_upsert(spark, t, df, epoch=1)
    assert len(t.snapshot["schemas"]) == 2  # two generations on disk
    plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1     # ...but ONE pooled scan
    # and a renamed table DOES split scans by generation (the slow path
    # exists and is bounded by evolutions, not files)
    t.evolve_schema(renames={"text": "body"})
    plan2 = t.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("FileScan") == 2


def test_legacy_snapshot_backfill(spark, tmp_path):
    """Snapshots written before field ids existed (no 'ids'/'next_field_id'
    keys) back-fill deterministically by name-first-appearance, and the
    first evolution on such a table persists a consistent id space."""
    import json
    import os

    t = _mk_table(spark, tmp_path)
    # strip the id metadata in place, simulating a pre-upgrade table
    for v in range(t.version + 1):
        p = os.path.join(t.meta_dir, f"v{v}.json")
        with open(p) as f:
            snap = json.load(f)
        snap.pop("next_field_id", None)
        for e in snap["schemas"]:
            e.pop("ids", None)
        with open(p, "w") as f:
            json.dump(snap, f)
    t.refresh()
    before = {r["conv_id"]: r["text"] for r in t.read(spark).collect()}
    t.evolve_schema(renames={"text": "body"})
    assert t.snapshot["next_field_id"] == 4
    after = {r["conv_id"]: r["body"] for r in t.read(spark).collect()}
    assert after == before


def _strip_to_legacy(meta_dir):
    """Rewrite every snapshot JSON in ``meta_dir`` without the keys older
    writers did not record: table properties, partition specs, field ids,
    base entries' kind, entry spec ids, and one-bucket ranges as
    ``bucket: k``."""
    import json
    import os

    for n in os.listdir(meta_dir):
        if not (n.startswith("v") and n.endswith(".json")):
            continue
        p = os.path.join(meta_dir, n)
        with open(p) as f:
            snap = json.load(f)
        for k in ("bucket_by", "key_cols", "merge_engine", "agg_spec",
                  "bloom_cols", "partition_specs", "default_spec_id",
                  "next_field_id"):
            snap.pop(k, None)
        for e in snap["schemas"]:
            e.pop("ids")
        for f in snap["files"]:
            if f["kind"] == "base":  # before deltas every file was a base
                f.pop("kind")
            f.pop("spec_id")
            if f["bucket_lo"] == f["bucket_hi"]:
                f["bucket"] = f.pop("bucket_lo")
                f.pop("bucket_hi")
        with open(p, "w") as f:
            json.dump(snap, f)


def test_legacy_manifest_reads_like_its_canonical_twin(spark, tmp_path):
    """A MoR table with one compaction, copied and stripped of every key
    a legacy snapshot or entry may lack, plans and reads exactly like the
    original: full, bucket-pruned and key-range reads, the incremental
    feed, the files and history tables, and a partition evolution
    followed by a rollback."""
    import shutil

    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, bucket_count=4)
    for ep in range(4):
        rows = [(f"c{i}", i, f"e{ep} msg {i}", 100 * ep + i)
                for i in range(ep, ep + 6)]
        merge_upsert(spark, t, _batch(spark, rows), epoch=ep, mode="mor",
                     compact_threshold=3)
    assert any(f.get("compacted") for f in t.snapshot["files"])
    shutil.copytree(t.root, str(tmp_path / "legacy"))
    _strip_to_legacy(str(tmp_path / "legacy" / "_meta"))
    legacy = LakeTable(str(tmp_path / "legacy"))
    if spark.sparkContext.defaultParallelism >= 4:  # one bucket per file
        assert all("bucket" in f for f in legacy.snapshot["files"])

    def same(fn):
        a, b = fn(t), fn(legacy)
        assert sorted(a.collect()) == sorted(b.collect())
        return a

    assert same(lambda x: x.read(spark)).count() == 9
    same(lambda x: x.read(spark, buckets={0}))
    same(lambda x: x.read(spark, buckets={1, 3}))
    same(lambda x: x.read(spark, key_range={"conv_id": ("c3", "c5")}))
    same(lambda x: x.read_incremental(spark, 0))
    same(lambda x: x.read_incremental(spark, 1, 3))
    same(lambda x: x.files_df(spark))
    same(lambda x: x.history(spark))
    v = t.version
    for x in (t, legacy):
        x.evolve_partitioning(8)
    same(lambda x: x.read(spark, buckets={2, 5}))
    same(lambda x: x.files_df(spark))
    for x in (t, legacy):
        x.rollback(v)
    same(lambda x: x.read(spark))
    same(lambda x: x.files_df(spark))
    props = ("bucket_count", "partition_spec", "partition_specs",
             "default_spec_id", "bucket_by", "key_cols", "merge_engine",
             "schema_id", "next_field_id")
    assert {k: legacy.snapshot[k] for k in props} \
        == {k: t.snapshot[k] for k in props}
