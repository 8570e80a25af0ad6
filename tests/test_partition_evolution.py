"""Partition evolution (table/lake.py evolve_partitioning).

Iceberg semantics: changing the bucket count is metadata-only — old
files stay under the spec they were written with, new files bucket
under the new count, readers prune per spec (gcd residue rule), and
compaction migrates old-spec files to the current layout incrementally.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from cdcrypt.operators.merge import merge_upsert
from cdcrypt.table.lake import (
    LakeTable, LakeTableError, bucket_col, file_bucket_range,
)

SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("text", StringType(), True),
    StructField("op_seq", LongType(), True),
])


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "text", "op_seq"]
    ).withColumn("turn_idx", F.col("turn_idx").cast("int")) \
     .withColumn("op", F.lit("I"))


def _mk(spark, tmp_path, n=40, bucket_count=4, mode="cow"):
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA,
                         bucket_count=bucket_count)
    rows = [(f"c{i}", i, f"v1 {i}", 10 + i) for i in range(n)]
    merge_upsert(spark, t, _batch(spark, rows), epoch=0, mode=mode)
    return t


@pytest.mark.parametrize("new_count", [8, 2, 6])
def test_evolution_is_metadata_only_and_reads_stay_correct(
        spark, tmp_path, new_count):
    """Grow (4->8, exact old-file pruning), shrink (4->2), and an
    unrelated count (4->6, gcd=2 pruning) all preserve reads with zero
    data movement."""
    t = _mk(spark, tmp_path)
    paths_before = {f["path"] for f in t.files()}
    t.evolve_partitioning(new_count)
    assert t.bucket_count == new_count
    assert {f["path"] for f in t.files()} == paths_before  # nothing moved
    got = {(r["conv_id"], r["text"]) for r in t.read(spark).collect()}
    assert got == {(f"c{i}", f"v1 {i}") for i in range(40)}


def test_spec_aware_bucket_pruning_is_exact_on_growth(spark, tmp_path):
    """After 4->8, read(buckets={b}) must return exactly the rows whose
    key hashes to b under the NEW spec — served from old-spec files via
    the residue rule — and prune old files to the b%4 class only."""
    t = _mk(spark, tmp_path)
    t.evolve_partitioning(8)
    # a few new-generation rows, so BOTH specs stay on disk (a large
    # batch would dirty every bucket and rewrite the old generation away)
    rows = [(f"n{i}", i, f"v2 {i}", 100 + i) for i in range(5)]
    merge_upsert(spark, t, _batch(spark, rows), epoch=1)
    assert {f.get("spec_id") for f in t.files()} == {0, 1}
    full = t.read(spark, with_bucket=True).collect()
    for b in range(8):
        want = {(r["conv_id"], r["turn_idx"]) for r in full
                if r["bucket"] == b}
        got = {(r["conv_id"], r["turn_idx"])
               for r in t.read(spark, buckets={b}).collect()}
        assert got == want, f"bucket {b}"
        # pruning really prunes: only old-spec files whose bucket range
        # reaches the b%4 residue class are selected
        old = [f for f in t.files(buckets={b}) if f.get("spec_id") == 0]
        for f in old:
            lo, hi = file_bucket_range(f)
            assert b % 4 in {x % 4 for x in range(lo, hi + 1)}


def test_cow_merge_across_mixed_specs(spark, tmp_path):
    """An upsert after evolution must rewrite old-spec files whose keys
    it touches — reading them via the residue rule and dropping exactly
    the rewritten files (no duplicate, no lost co-located rows)."""
    t = _mk(spark, tmp_path, n=40)
    t.evolve_partitioning(8)
    # update 10 existing keys + insert 5 new
    rows = ([(f"c{i}", i, f"v2 {i}", 1000 + i) for i in range(10)]
            + [(f"x{i}", i, f"vx {i}", 2000 + i) for i in range(5)])
    merge_upsert(spark, t, _batch(spark, rows), epoch=1)
    got = {(r["conv_id"], r["turn_idx"]): r["text"]
           for r in t.read(spark).collect()}
    exp = {(f"c{i}", i): (f"v2 {i}" if i < 10 else f"v1 {i}")
           for i in range(40)}
    exp.update({(f"x{i}", i): f"vx {i}" for i in range(5)})
    assert got == exp
    # every key exists exactly once (no duplication across generations)
    df = t.read(spark)
    assert df.count() == df.select("conv_id", "turn_idx").distinct().count()


def test_mor_compaction_migrates_old_spec_files(spark, tmp_path):
    """Old-spec base+delta files pulled into a post-evolution compaction
    are rewritten under the current spec and dropped from the manifest;
    reads stay LWW-correct throughout."""
    t = _mk(spark, tmp_path, n=40, mode="mor")
    t.evolve_partitioning(8)
    for e in range(1, 4):  # three post-evolution delta epochs
        rows = [(f"c{i}", i, f"e{e} {i}", 1000 * e + i) for i in range(12)]
        merge_upsert(spark, t, _batch(spark, rows), epoch=e, mode="mor",
                     compact_threshold=2)
    got = {(r["conv_id"], r["turn_idx"]): r["text"]
           for r in t.read(spark).collect()}
    exp = {(f"c{i}", i): (f"e3 {i}" if i < 12 else f"v1 {i}")
           for i in range(40)}
    assert got == exp
    # compaction happened and produced current-spec base files
    specs = {f.get("spec_id") for f in t.files()
             if f.get("kind", "base") == "base"}
    assert 1 in specs, "expected compaction output under the new spec"
    # no file claims a bucket beyond its spec's count
    counts = {s["id"]: s["bucket_count"]
              for s in t.snapshot["partition_specs"]}
    assert all(0 <= file_bucket_range(f)[0] <= file_bucket_range(f)[1]
               < counts[f.get("spec_id")] for f in t.files())


def test_time_travel_uses_the_old_spec(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v_pre = t.version
    t.evolve_partitioning(8)
    # as-of the old snapshot, with_bucket buckets under the OLD spec
    old = t.read(spark, version=v_pre, with_bucket=True)
    assert old.agg(F.max("bucket")).first()[0] < 4
    new = t.read(spark, with_bucket=True)
    got = [r["bucket"] for r in new.collect()]
    assert max(got) >= 4  # 40 keys under 8 buckets: some land high
    # and pruned time-travel reads resolve against the old spec exactly
    for b in range(4):
        want = {r["conv_id"] for r in old.collect() if r["bucket"] == b}
        have = {r["conv_id"]
                for r in t.read(spark, version=v_pre,
                                buckets={b}).collect()}
        assert have == want


def test_validation_and_lineage(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(LakeTableError, match="already buckets"):
        t.evolve_partitioning(4)
    with pytest.raises(LakeTableError, match=">= 1"):
        t.evolve_partitioning(0)
    t.evolve_partitioning(8)
    ln = t.snapshot["lineage"]
    assert ln["mode"] == "partition_evolution"
    assert ln["from"]["bucket_count"] == 4
    assert ln["to"]["bucket_count"] == 8
    assert t.snapshot["partition_spec"] == "bucket(conv_id, 8)"
    # second evolution stacks a third spec
    t.evolve_partitioning(16)
    assert [s["bucket_count"] for s in t.snapshot["partition_specs"]] \
        == [4, 8, 16]


def test_bucket_by_rename_follows_into_specs(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.evolve_partitioning(8)
    t.evolve_schema(renames={"conv_id": "session_id"})
    assert all(s["bucket_by"] == "session_id"
               for s in t.snapshot["partition_specs"])
    assert t.bucket_by == "session_id"
    assert t.read(spark, buckets={3}).count() == \
        t.read(spark, with_bucket=True).where(F.col("bucket") == 3).count()
