"""Resolved changelog (before/after images) between two snapshots —
LakeTable.read_changelog (Delta CDF / Paimon changelog semantics).

Contract: one row per key whose RESOLVED state differs between the two
versions; change_op insert|update|delete with before/after structs;
no-net-change keys (stale redeliveries) and keys born+dead inside the
window emit nothing; applying the changelog to the from-state must
reproduce the to-state exactly.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from cdcrypt.operators.dedup import (
    resolve_latest_agg,
    resolve_partial_update,
)
from cdcrypt.operators.merge import merge_upsert
from cdcrypt.streaming.pipeline import BASE_TABLE_SCHEMA
from cdcrypt.table.lake import LakeTable, LakeTableError

TS = datetime.datetime(2024, 1, 1)
COLS = StructType([
    StructField("op", StringType()), StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()), StructField("op_seq", LongType()),
    StructField("epoch", LongType()), StructField("role", StringType()),
    StructField("text", StringType()), StructField("tool", StringType()),
    StructField("ts", TimestampType()),
])


def _apply(spark, t, rows, epoch, **kw):
    df = spark.createDataFrame(rows, COLS)
    return merge_upsert(spark, t, resolve_latest_agg(df), epoch=epoch,
                        mode="mor", **kw)


def _cl(df):
    out = {}
    for r in df.collect():
        b = r["before"].asDict() if r["before"] is not None else None
        a = r["after"].asDict() if r["after"] is not None else None
        out[(r["conv_id"], r["turn_idx"])] = (r["change_op"], b, a)
    return out


def _mk(spark, tmp_path, **create_kw):
    t = LakeTable.create(str(tmp_path / "t"), BASE_TABLE_SCHEMA,
                         bucket_count=4, **create_kw)
    _apply(spark, t, [
        ("I", "A", 0, 1, 0, "user", "a1", None, TS),
        ("I", "B", 0, 2, 0, "user", "b1", None, TS),
        ("I", "C", 0, 3, 0, "user", "c1", None, TS),
    ], epoch=0)
    v1 = t.version
    _apply(spark, t, [
        ("U", "A", 0, 10, 1, "user", "a2", None, TS),   # update
        ("D", "B", 0, 11, 1, None, None, None, TS),     # delete
        ("I", "D", 1, 12, 1, "user", "d1", None, TS),   # insert
        ("I", "E", 1, 13, 1, "user", "e1", None, TS),   # born...
        ("U", "C", 0, 3, 1, "user", "c1", None, TS),    # stale no-op
    ], epoch=1)
    _apply(spark, t, [
        ("D", "E", 1, 20, 2, None, None, None, TS),     # ...and dead
    ], epoch=2)
    return t, v1


def test_insert_update_delete_noop(spark, tmp_path):
    t, v1 = _mk(spark, tmp_path)
    got = _cl(t.read_changelog(spark, v1))
    assert {k: v[0] for k, v in got.items()} == {
        ("A", 0): "update", ("B", 0): "delete", ("D", 1): "insert",
    }
    op, b, a = got[("A", 0)]
    assert b["text"] == "a1" and a["text"] == "a2" and a["op_seq"] == 10
    op, b, a = got[("B", 0)]
    assert b["text"] == "b1" and a is None
    op, b, a = got[("D", 1)]
    assert b is None and a["text"] == "d1"
    # C was touched by a stale redelivery but resolved unchanged: absent.
    # E was born and deleted inside the window: absent.
    assert ("C", 0) not in got and ("E", 1) not in got


def test_changelog_from_v0_is_all_inserts_matching_read(spark, tmp_path):
    t, _ = _mk(spark, tmp_path)
    got = _cl(t.read_changelog(spark, 0))
    assert all(v[0] == "insert" and v[1] is None for v in got.values())
    state = {(r["conv_id"], r["turn_idx"]): r["text"]
             for r in t.read(spark).collect()}
    assert {k: v[2]["text"] for k, v in got.items()} == state


def test_apply_changelog_reproduces_to_state(spark, tmp_path):
    t, v1 = _mk(spark, tmp_path)
    before = {(r["conv_id"], r["turn_idx"]): r["text"]
              for r in t.read(spark, version=v1).collect()}
    for k, (op, b, a) in _cl(t.read_changelog(spark, v1)).items():
        if op == "delete":
            del before[k]
        else:
            before[k] = a["text"]
    after = {(r["conv_id"], r["turn_idx"]): r["text"]
             for r in t.read(spark).collect()}
    assert before == after


def test_changelog_on_partial_engine(spark, tmp_path):
    """Engine-agnostic: a partial-update table diffs its per-column
    COALESCED rows — the after image carries columns set in older
    epochs, not just the patch."""
    t = LakeTable.create(str(tmp_path / "t"), BASE_TABLE_SCHEMA,
                         bucket_count=4, merge_engine="partial")

    def apply_partial(rows, epoch):
        df = spark.createDataFrame(rows, COLS)
        merge_upsert(spark, t, resolve_partial_update(df), epoch=epoch,
                     mode="mor")

    apply_partial([("I", "A", 0, 1, 0, "user", "a1", "tool1", TS)], 0)
    v1 = t.version
    apply_partial([("U", "A", 0, 10, 1, None, "a2", None, None)], 1)
    got = _cl(t.read_changelog(spark, v1))
    op, b, a = got[("A", 0)]
    assert op == "update"
    assert (b["text"], b["tool"]) == ("a1", "tool1")
    assert (a["text"], a["tool"]) == ("a2", "tool1")  # tool1 coalesced


def test_changelog_across_added_column(spark, tmp_path):
    """Add-column evolution inside the window: the before image
    null-fills the new column, the after image carries it."""
    t = LakeTable.create(str(tmp_path / "t"), BASE_TABLE_SCHEMA,
                         bucket_count=4)
    _apply(spark, t, [("I", "A", 0, 1, 0, "user", "a1", None, TS)], 0)
    v1 = t.version
    wide = StructType(list(COLS.fields)
                      + [StructField("model", StringType())])
    df = spark.createDataFrame(
        [("U", "A", 0, 10, 1, "user", "a2", None, TS, "m1")], wide)
    merge_upsert(spark, t, resolve_latest_agg(df), epoch=1, mode="mor")
    got = _cl(t.read_changelog(spark, v1))
    op, b, a = got[("A", 0)]
    assert b["model"] is None and a["model"] == "m1"


def test_changelog_rejects_cow_window(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), BASE_TABLE_SCHEMA,
                         bucket_count=4)
    df = spark.createDataFrame(
        [("I", "A", 0, 1, 0, "user", "a1", None, TS)], COLS)
    merge_upsert(spark, t, resolve_latest_agg(df), epoch=0, mode="cow")
    with pytest.raises(LakeTableError, match="merge-on-read"):
        t.read_changelog(spark, 0).collect()


def test_changelog_prunes_untouched_buckets(spark, tmp_path, monkeypatch):
    """Scale guard: endpoint scans read ONLY buckets the window touched
    (manifest file-level pruning via the touched-key bucket set) — a
    one-key window against a 16-bucket table must pass a 1-bucket set to
    both endpoint reads, never a full scan."""
    t = LakeTable.create(str(tmp_path / "t"), BASE_TABLE_SCHEMA,
                         bucket_count=16)
    rows = [("I", f"K{i}", 0, i + 1, 0, "user", f"t{i}", None, TS)
            for i in range(32)]
    _apply(spark, t, rows, epoch=0)
    v1 = t.version
    _apply(spark, t, [("U", "K3", 0, 100, 1, "user", "new", None, TS)], 1)

    seen = []
    orig = LakeTable.read

    def spy(self, spark_, buckets=None, **kw):
        seen.append(buckets)
        return orig(self, spark_, buckets=buckets, **kw)

    monkeypatch.setattr(LakeTable, "read", spy)
    got = _cl(t.read_changelog(spark, v1))
    assert set(got) == {("K3", 0)} and got[("K3", 0)][0] == "update"
    endpoint_sets = [b for b in seen if b is not None]
    assert len(endpoint_sets) == 2 and all(len(b) == 1 for b in endpoint_sets)


def test_changelog_leaves_no_cached_frame(spark, tmp_path):
    """Each window's touched-key frame is planned, not cached: distinct
    windows over one table leave the session's persistent RDDs as they
    were."""
    t, _ = _mk(spark, tmp_path)
    _apply(spark, t, [("U", "D", 1, 30, 3, "user", "d2", None, TS)], epoch=3)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for lo, hi in ((0, 1), (0, 2), (1, 3), (0, 4)):
        t.read_changelog(spark, lo, hi).collect()
    assert jsc.getPersistentRDDs().size() == before
