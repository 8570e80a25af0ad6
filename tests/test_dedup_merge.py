"""Dedup/LWW resolver equivalence + merge-level semantics (SURVEY.md P4/P5)."""

from __future__ import annotations

import datetime

import pytest

from cdcrypt.operators.dedup import (
    dedup_changes,
    last_writer_wins,
    resolve_latest_agg,
    resolve_latest_salted,
    resolve_latest_window,
)
from cdcrypt.operators.merge import merge_upsert
from cdcrypt.streaming.pipeline import BASE_TABLE_SCHEMA
from cdcrypt.table.lake import LakeTable

from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType, TimestampType,
)

TS = datetime.datetime(2024, 1, 1)
COLS = StructType([
    StructField("op", StringType()), StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()), StructField("op_seq", LongType()),
    StructField("epoch", LongType()), StructField("role", StringType()),
    StructField("text", StringType()), StructField("tool", StringType()),
    StructField("ts", TimestampType()),
])


def events_df(spark):
    rows = [
        # key A: insert, update, exact duplicate of the update across epochs
        ("I", "A", 0, 1, 0, "user", "a-v1", None, TS),
        ("U", "A", 0, 5, 0, "user", "a-v2", None, TS),
        ("U", "A", 0, 5, 1, "user", "a-v2", None, TS),  # duplicate delivery
        # key B: out-of-order within epoch (op_seq 4 before 2)
        ("U", "B", 1, 4, 0, "assistant", "b-final", None, TS),
        ("I", "B", 1, 2, 0, "assistant", "b-old", None, TS),
        # key C: delete wins
        ("I", "C", 2, 3, 0, "tool", "c-v1", '{"x":1}', TS),
        ("D", "C", 2, 6, 1, None, None, None, TS),
        # key D: delete then re-insert
        ("I", "D", 3, 7, 1, "user", "d-v1", None, TS),
        ("D", "D", 3, 8, 1, None, None, None, TS),
        ("I", "D", 3, 9, 1, "user", "d-v2", None, TS),
    ]
    return spark.createDataFrame(rows, COLS)


def test_dedup_then_lww(spark):
    df = events_df(spark)
    dd = dedup_changes(df)
    assert dd.count() == 9  # one duplicate dropped
    # duplicate kept the EARLIEST epoch's copy
    [kept] = dd.where("conv_id='A' and op_seq=5").collect()
    assert kept["epoch"] == 0
    lw = last_writer_wins(dd)
    assert lw.count() == 4
    final = {r["conv_id"]: (r["op"], r["text"], r["op_seq"]) for r in lw.collect()}
    assert final == {
        "A": ("U", "a-v2", 5),
        "B": ("U", "b-final", 4),
        "C": ("D", None, 6),
        "D": ("I", "d-v2", 9),
    }


def test_resolver_strategies_agree(spark):
    df = events_df(spark)
    cols = sorted(resolve_latest_window(df).columns)
    ref = {tuple(r) for r in resolve_latest_window(df).select(*cols).collect()}
    agg = {tuple(r) for r in resolve_latest_agg(df).select(*cols).collect()}
    slt = {tuple(r) for r in resolve_latest_salted(df, 3).select(*cols).collect()}
    assert ref == agg == slt and len(ref) == 4


def test_merge_stale_guard_and_delete(spark, tmp_path):
    root = str(tmp_path / "t")
    table = LakeTable.create(root, BASE_TABLE_SCHEMA, bucket_count=4)
    df = events_df(spark)
    r1 = merge_upsert(spark, table, resolve_latest_window(df), epoch=0)
    assert not r1.get("skipped")
    state = {r["conv_id"]: r["text"] for r in table.read(spark).collect()}
    assert state == {"A": "a-v2", "B": "b-final", "D": "d-v2"}  # C deleted

    # stale batch (lower op_seq) must NOT overwrite; and epoch gate skips
    stale = spark.createDataFrame(
        [("U", "A", 0, 2, 0, "user", "a-stale", None, TS)], COLS
    )
    assert merge_upsert(spark, table, stale, epoch=0)["skipped"]
    r2 = merge_upsert(spark, table, stale, epoch=1)  # new epoch, old op_seq
    assert not r2.get("skipped")
    [row] = table.read(spark).where("conv_id='A'").collect()
    assert row["text"] == "a-v2" and row["op_seq"] == 5  # stale-guard held

    # late REAL update applies
    fresh = spark.createDataFrame(
        [("U", "A", 0, 99, 2, "user", "a-v3", None, TS)], COLS
    )
    merge_upsert(spark, table, fresh, epoch=2)
    [row] = table.read(spark).where("conv_id='A'").collect()
    assert row["text"] == "a-v3"


def test_merge_only_rewrites_dirty_buckets(spark, tmp_path):
    root = str(tmp_path / "t2")
    table = LakeTable.create(root, BASE_TABLE_SCHEMA, bucket_count=16)
    merge_upsert(spark, table, resolve_latest_window(events_df(spark)), epoch=0)
    files_v1 = {f["path"] for f in table.snapshot["files"]}
    # touch ONE key -> only its bucket rewritten, other files carried over
    one = spark.createDataFrame(
        [("U", "A", 0, 100, 1, "user", "a-new", None, TS)], COLS
    )
    lineage = merge_upsert(spark, table, one, epoch=1)
    assert lineage["buckets_rewritten"] == 1
    files_v2 = {f["path"] for f in table.snapshot["files"]}
    carried = files_v1 & files_v2
    assert carried  # clean buckets kept their old files (copy-on-write)


def test_window_resolution_single_shuffle(spark):
    """Scale guard: resolution must be ONE exchange, with map-side
    rank-limit pushdown (WindowGroupLimit Partial) so hot keys collapse
    before the shuffle at 10^10 events."""
    plan = resolve_latest_window(events_df(spark))._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_cow_broadcast_decomposition_equals_smj(spark, tmp_path):
    """VERDICT r3 item 7: Spark cannot broadcast a full_outer join (the
    hint is silently ignored), so the small-batch CoW path decomposes into
    a broadcast left-join (updates/deletes) + broadcast anti-join
    (inserts). Both strategies must produce the identical final table,
    including the stale-guard and delete semantics."""
    from cdcrypt.operators.merge import _cow_merged

    df = events_df(spark)
    finals = []
    for force in (True, False):
        root = str(tmp_path / f"bt_{force}")
        table = LakeTable.create(root, BASE_TABLE_SCHEMA, bucket_count=4)
        r1 = merge_upsert(spark, table, resolve_latest_window(df), epoch=0,
                          broadcast=force)
        assert r1["join"] == ("broadcast" if force else "smj")
        # second epoch exercises updates, stale rows, deletes, inserts
        # against non-empty current state
        batch2 = spark.createDataFrame(
            [("U", "A", 0, 99, 1, "user", "a-v3", None, TS),   # update
             ("U", "B", 1, 1, 1, "assistant", "b-stale", None, TS),  # stale
             ("D", "D", 3, 50, 1, None, None, None, TS),       # delete
             ("I", "E", 9, 60, 1, "user", "e-new", None, TS)], # insert
            COLS)
        merge_upsert(spark, table, resolve_latest_window(batch2), epoch=1,
                     broadcast=force)
        finals.append(sorted(
            tuple(r) for r in table.read(spark)
            .select("conv_id", "turn_idx", "op_seq", "role", "text", "tool")
            .collect()))
    assert finals[0] == finals[1]
    final = {r[0]: r[4] for r in finals[0]}
    assert final == {"A": "a-v3", "B": "b-final", "E": "e-new"}

    # plan shapes: the decomposition really broadcasts; SMJ really merges
    key_cols = ["conv_id", "turn_idx"]
    tcols = [f.name for f in BASE_TABLE_SCHEMA.fields]
    cur = spark.createDataFrame(
        [("A", 0, 5, "user", "a-v2", None, TS)],
        "conv_id string, turn_idx int, op_seq long, role string, "
        "text string, tool string, ts timestamp")
    bat = spark.createDataFrame(
        [("U", "A", 0, 9, 1, "user", "a-v3", None, TS)], COLS)
    p_b = _cow_merged(cur, bat, key_cols, tcols, True) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p_b and "FullOuter" not in p_b
    p_s = _cow_merged(cur, bat, key_cols, tcols, False) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in p_s and "BroadcastHashJoin" not in p_s


def test_cow_auto_broadcast_by_batch_size(spark, tmp_path):
    """broadcast=None auto-selects: a tiny persisted batch goes broadcast;
    threshold 0 forces the SMJ fallback."""
    df = events_df(spark)
    root = str(tmp_path / "auto")
    table = LakeTable.create(root, BASE_TABLE_SCHEMA, bucket_count=4)
    r = merge_upsert(spark, table, resolve_latest_window(df), epoch=0)
    assert r["join"] == "broadcast"  # tiny batch, default threshold
    one = spark.createDataFrame(
        [("U", "A", 0, 100, 1, "user", "a-new", None, TS)], COLS)
    r2 = merge_upsert(spark, table, resolve_latest_window(one), epoch=1,
                      broadcast_threshold_bytes=0)
    assert r2["join"] == "smj"
    [row] = table.read(spark).where("conv_id='A'").collect()
    assert row["text"] == "a-new"


def test_merge_retrying_recovers_from_commit_race(spark, tmp_path):
    from cdcrypt.operators.merge import merge_upsert_retrying
    from cdcrypt.table.lake import LakeTableError
    import pytest as _pytest

    root = str(tmp_path / "race")
    LakeTable.create(root, BASE_TABLE_SCHEMA, bucket_count=4)
    h1, h2 = LakeTable(root), LakeTable(root)  # two writer handles

    b1 = resolve_latest_window(spark.createDataFrame(
        [("I", "A", 0, 1, 0, "user", "from-w1", None, TS)], COLS))
    b2 = resolve_latest_window(spark.createDataFrame(
        [("I", "B", 0, 2, 0, "user", "from-w2", None, TS)], COLS))

    # writer 2 commits epoch 1 while writer 1's handle is still at v1:
    # writer 1's plain merge computes v2 too -> commit conflict
    merge_upsert(spark, h2, b2, epoch=1)
    with _pytest.raises(LakeTableError, match="commit conflict"):
        merge_upsert(spark, h1, b1, epoch=2)

    # the retrying merge refreshes and RECOMPUTES: both writers' rows
    # survive (a blind re-commit would have dropped writer 2's file)
    lin = merge_upsert_retrying(spark, h1, b1, epoch=2)
    assert not lin.get("skipped")
    got = {(r["conv_id"], r["text"])
           for r in LakeTable(root).read(spark).collect()}
    assert got == {("A", "from-w1"), ("B", "from-w2")}

    # same-epoch race resolves to the replay guard, not an error
    lin2 = merge_upsert_retrying(spark, LakeTable(root), b1, epoch=2)
    assert lin2["skipped"]


def test_mor_compaction_keeps_what_read_returns(spark, tmp_path):
    """A change row with a NULL ``op`` is live to ``read()``; folding its
    bucket into a base file must keep it (compaction and read share one
    delete rule)."""
    t = LakeTable.create(
        str(tmp_path / "t"),
        StructType([StructField("k", StringType(), False),
                     StructField("v", StringType(), True),
                     StructField("op_seq", LongType(), True)]),
        bucket_count=1, key_cols=["k"], bucket_by="k")

    def batch(rows, epoch):
        return resolve_latest_agg(spark.createDataFrame(
            [(*r, epoch) for r in rows],
            "op string, k string, v string, op_seq long, epoch long"),
            key_cols=["k"])

    def keys():
        return sorted(r["k"] for r in t.read(spark).collect())

    merge_upsert(spark, t, batch([("I", "k1", "a", 1), (None, "k2", "b", 2)],
                                 0), epoch=0, mode="mor", compact_threshold=2)
    before = keys()
    lin = merge_upsert(spark, t.refresh(), batch([("U", "k1", "a2", 3)], 1),
                       epoch=1, mode="mor", compact_threshold=2)
    assert lin["buckets_compacted"] == [0]
    assert before == ["k1", "k2"]
    assert keys() == before
