"""Bucket-range data files (table/lake.py coalesce_buckets, file_buckets).

A write coalesces its bucket-clustered frame to about one range per core
and each file records ``[bucket_lo, bucket_hi]`` from its own rows' stored
``bucket`` column. Reads, compaction scopes and copy-on-write scopes map a
file to the buckets it may hold through one helper, and a legacy
one-bucket entry ``bucket: k`` reads as ``[k, k]``.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from cdcrypt.operators.merge import merge_upsert
from cdcrypt.sources.changegen import GenSpec, generate_to_dir
from cdcrypt.streaming.pipeline import IngestPipeline
from cdcrypt.table.lake import (
    LakeTable, bucket_col, file_bucket_range, repartition_by_bucket,
)

KV = StructType([StructField("k", StringType(), False),
                 StructField("v", StringType(), True),
                 StructField("op_seq", LongType(), True)])


def _kv_table(tmp_path, name, bucket_count):
    return LakeTable.create(str(tmp_path / name), KV,
                            bucket_count=bucket_count, key_cols=["k"],
                            bucket_by="k")


def _batch(spark, rows, epoch):
    """Resolved change rows (one per key): (op, k, v, op_seq)."""
    return spark.createDataFrame(
        [(*r, epoch) for r in rows],
        "op string, k string, v string, op_seq long, epoch long")


def _keys_by_bucket(spark, bucket_count, n=400):
    out: dict[int, list[str]] = {}
    for r in spark.createDataFrame([(f"k{i}",) for i in range(n)], "k string") \
            .select("k", bucket_col(bucket_count, "k").alias("b")).collect():
        out.setdefault(r["b"], []).append(r["k"])
    return out


def _lww(epochs):
    """FIXTURES F2: the last writer by op_seq per key, deletes dropped."""
    win = {}
    for rows in epochs:
        for op, k, v, seq in rows:
            if k not in win or seq > win[k][0]:
                win[k] = (seq, op, v)
    return sorted((k, v, seq) for k, (seq, op, v) in win.items() if op != "D")


def _state(df):
    return sorted(tuple(r) for r in df.select("k", "v", "op_seq").collect())


def _stored_buckets(spark, t, f):
    return {r["bucket"] for r in spark.read.parquet(
        os.path.join(t.root, f["path"])).select("bucket").collect()}


def _assert_exact_bucket_reads(spark, t):
    """read(buckets={b}) is exactly read(with_bucket=True)'s bucket b."""
    full = t.read(spark, with_bucket=True)
    cols = [c for c in full.columns if c != "bucket"]
    for b in range(t.bucket_count):
        want = sorted(tuple(r) for r in
                      full.where(F.col("bucket") == b).select(*cols).collect())
        got = sorted(tuple(r) for r in
                     t.read(spark, buckets={b}).select(*cols).collect())
        assert got == want, f"bucket {b}"


def test_pipeline_writes_disjoint_ranges_and_exact_bucket_reads(
        spark, tmp_path):
    src = str(tmp_path / "src")
    generate_to_dir(src, GenSpec(n_convs=60, avg_turns=4, n_epochs=2,
                                 seed=23))
    pipe = IngestPipeline(src, str(tmp_path / "t"), str(tmp_path / "c"),
                          bucket_count=8, compact_threshold=999)
    lineages = pipe.run(spark)
    t = pipe.table()
    width = spark.sparkContext.defaultParallelism
    for lin in lineages:
        fs = [f for f in t.snapshot_at(lin["version"])["files"]
              if f.get("kind") == "delta" and f["path"].split("/")[1]
              .startswith(f"v{lin['version']}-")]
        assert 0 < len(fs) <= width
        ranges = sorted(file_bucket_range(f) for f in fs)
        for (_, hi), (lo2, _) in zip(ranges, ranges[1:]):
            assert hi < lo2, ranges  # disjoint
        for f in fs:
            lo, hi = file_bucket_range(f)
            stored = _stored_buckets(spark, t, f)
            assert min(stored) == lo and max(stored) == hi
        # exact per-bucket lineage: the stored bucket column's counts
        stored = spark.read.parquet(*[os.path.join(t.root, f["path"])
                                      for f in fs]).groupBy("bucket").count()
        per_bucket = {int(b): n for b, n in
                      lin["rows_merged_per_bucket"].items()}
        assert per_bucket == {r["bucket"]: r["count"]
                              for r in stored.collect()}
        assert sum(per_bucket.values()) == lin["batch_rows"]
        assert sorted(per_bucket) == lin["dirty_buckets"]
    # rows' stored bucket is the bucket function of their key
    raw = spark.read.parquet(*[os.path.join(t.root, f["path"])
                               for f in t.files()])
    assert raw.where(F.col("bucket") != bucket_col(8)).count() == 0
    assert any(lo < hi for lo, hi in map(file_bucket_range, t.files()))
    _assert_exact_bucket_reads(spark, t)


def test_compaction_folds_exactly_what_it_marks(spark, tmp_path):
    """The deep set {b0} only partly overlaps the range file of epoch 2,
    which also holds a delete of a key of bucket b1 inserted in epoch 1.
    Compaction must take that file whole and, with it, epoch 1's file of
    b1 (else the insert outlives its folded delete); the new delta of b2
    stays live, the one of b0 is marked log-only."""
    B = 64
    kb = _keys_by_bucket(spark, B)
    b0, b1, b2 = 0, 1, 40  # b0, b1 share a range at any width <= 8
    x = kb[b1][0]
    epochs = [
        [("I", k, "e0", 10 + i) for i, k in enumerate(kb[b0][:3])],
        [("I", x, "x1", 100)],
        [("U", kb[b0][0], "e2", 200), ("D", x, None, 201)],
        [("U", kb[b0][1], "e3", 300), ("I", kb[b2][0], "e3", 301)],
    ]
    t = _kv_table(tmp_path, "t", B)
    v0 = t.version
    lins = [merge_upsert(spark, t, _batch(spark, rows, e), e, mode="mor",
                         compact_threshold=3)
            for e, rows in enumerate(epochs)]
    assert [lin["buckets_compacted"] for lin in lins[:3]] == [[], [], []]
    assert {b0, b1} <= set(lins[3]["buckets_compacted"])
    assert b2 not in lins[3]["buckets_compacted"]
    new = [f for f in t.files() if f.get("kind") == "delta"
           and f["path"].split("/")[1].startswith(f"v{lins[3]['version']}-")]
    marks = {file_bucket_range(f): bool(f.get("compacted")) for f in new}
    assert marks == {(b0, b0): True, (b2, b2): False}
    # no live delta shares a bucket with the compacted bases
    held = t.file_buckets(t.snapshot)
    folded = set(lins[3]["buckets_compacted"])
    assert all(held(f).isdisjoint(folded) for f in t.files()
               if f.get("kind") == "delta" and not f.get("compacted"))
    assert _state(t.read(spark)) == _lww(epochs)
    # the change feed serves every epoch's rows exactly once
    feed = t.read_incremental(spark, v0).select("k", "epoch").collect()
    assert sorted((r["k"], r["epoch"]) for r in feed) == sorted(
        (r[1], e) for e, rows in enumerate(epochs) for r in rows)


def test_cached_frame_gets_footer_true_ranges(spark, tmp_path):
    """A frame cached before merge_upsert(assume_bucketed=True) coalesces
    by block locality, so a range task may hold interleaved buckets; each
    file's manifest range still matches its own rows, and reads, bucket
    reads and a compaction over the overlapping ranges stay exact."""
    B = 16
    t = _kv_table(tmp_path, "t", B)
    epochs = [[("I", f"k{i}", "v0", i) for i in range(200)],
              [("U", f"k{i}", "v1", 1000 + i) for i in range(0, 200, 3)]
              + [("D", f"k{i}", None, 2000 + i) for i in range(1, 200, 7)]]
    for e, rows in enumerate(epochs):
        cached = repartition_by_bucket(_batch(spark, rows, e), B, "k").persist()
        cached.count()
        merge_upsert(spark, t, cached, e, mode="mor", compact_threshold=2,
                     assume_bucketed=True)
        cached.unpersist()
        if e == 0:  # the grouping did interleave: written ranges overlap
            ranges = sorted(map(file_bucket_range, t.files()))
            assert any(hi >= lo2 for (_, hi), (lo2, _)
                       in zip(ranges, ranges[1:])), ranges
        for f in t.files():
            lo, hi = file_bucket_range(f)
            stored = _stored_buckets(spark, t, f)
            assert (min(stored), max(stored)) == (lo, hi)
        assert _state(t.read(spark)) == _lww(epochs[:e + 1])
        _assert_exact_bucket_reads(spark, t)
    assert t.snapshot["lineage"]["buckets_compacted"]


def test_legacy_bucket_entries_read_beside_range_files(spark, tmp_path):
    """A hand-built manifest of legacy one-bucket files (``bucket: k``, no
    stored bucket column) mixed with range files written by later merges
    reads and prunes correctly, through merge-on-read and copy-on-write
    merges."""
    B = 4
    kb = _keys_by_bucket(spark, B, n=80)
    t = _kv_table(tmp_path, "t", B)
    legacy, base_rows = [], []
    for b, keys in sorted(kb.items()):
        rows = [(k, "old", 1) for k in keys[:5]]
        base_rows += [("I", *r) for r in rows]
        rel = f"data/v1/bucket={b}/part-{b:05d}.parquet"
        os.makedirs(os.path.join(t.root, os.path.dirname(rel)))
        pq.write_table(pa.table({"k": [r[0] for r in rows],
                                 "v": [r[1] for r in rows],
                                 "op_seq": [r[2] for r in rows]}),
                       os.path.join(t.root, rel))
        legacy.append({"path": rel, "bucket": b, "schema_id": 0,
                       "rows": len(rows), "kind": "base"})
    t.commit(epoch=0, keep_files=[], new_files=legacy, lineage={})
    touched = [r[1] for r in base_rows[::3]]
    mor = [[("U", k, "new", 50 + i) for i, k in enumerate(touched)]
           + [("I", "fresh", "f", 99)]]
    merge_upsert(spark, t, _batch(spark, mor[0], 1), 1, mode="mor",
                 compact_threshold=99)
    assert {("bucket" in f) for f in t.files()} == {True, False}
    want = _lww([[r[:4] for r in base_rows]] + mor)
    assert _state(t.read(spark)) == want
    _assert_exact_bucket_reads(spark, t)
    # copy-on-write over the mix rewrites the legacy files it touches
    cow = [("D", touched[0], None, 500)]
    before = t.files()
    lin = merge_upsert(spark, t, _batch(spark, cow, 2), 2, mode="cow")
    held = t.file_buckets(t.snapshot)
    after = {f["path"] for f in t.files()}
    rewritten = set().union(*[held(f) for f in before
                              if f["path"] not in after])
    assert set(lin["dirty_buckets"]) <= rewritten
    assert {f["bucket"] for f in t.files() if "bucket" in f} \
        == set(kb) - rewritten
    assert _state(t.read(spark)) == _lww([[r[:4] for r in base_rows]]
                                         + mor + [cow])
    _assert_exact_bucket_reads(spark, t)


def test_bucket_column_name_is_reserved(tmp_path):
    from cdcrypt.table.lake import LakeTableError

    with pytest.raises(LakeTableError, match="reserved"):
        LakeTable.create(str(tmp_path / "t"), StructType(
            list(KV.fields) + [StructField("bucket", LongType(), True)]),
            bucket_count=4, key_cols=["k"], bucket_by="k")
    t = _kv_table(tmp_path, "u", 4)
    with pytest.raises(LakeTableError, match="reserved"):
        t.evolve_schema(adds=[("bucket", LongType())])
