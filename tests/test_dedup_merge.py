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

from pyspark.sql import functions as F
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
    from cdcrypt.table.lake import file_bucket_range

    root = str(tmp_path / "t2")
    table = LakeTable.create(root, BASE_TABLE_SCHEMA, bucket_count=16)
    merge_upsert(spark, table, resolve_latest_window(events_df(spark)), epoch=0)
    files_v1 = {f["path"]: f for f in table.snapshot["files"]}
    # touch ONE key -> only the file whose bucket range holds its bucket
    # is rewritten, other files carried over
    one = spark.createDataFrame(
        [("U", "A", 0, 100, 1, "user", "a-new", None, TS)], COLS
    )
    lineage = merge_upsert(spark, table, one, epoch=1)
    [dirty] = lineage["dirty_buckets"]
    files_v2 = {f["path"] for f in table.snapshot["files"]}
    dropped = [f for p, f in files_v1.items() if p not in files_v2]
    assert dropped == [f for f in files_v1.values()
                       if file_bucket_range(f)[0] <= dirty
                       <= file_bucket_range(f)[1]]
    # the rewrite holds exactly the buckets of the file it replaced
    old_buckets = {r["bucket"] for r in spark.read.parquet(
        *[f"{root}/{f['path']}" for f in dropped]).collect()}
    assert set(map(int, lineage["rows_merged_per_bucket"])) == old_buckets
    assert lineage["buckets_rewritten"] == len(old_buckets)
    carried = set(files_v1) & files_v2
    assert carried  # clean buckets kept their old files (copy-on-write)


def test_window_resolution_single_shuffle(spark):
    """Scale guard: resolution must be ONE exchange, with map-side
    rank-limit pushdown (WindowGroupLimit Partial) so hot keys collapse
    before the shuffle at 10^10 events."""
    plan = resolve_latest_window(events_df(spark))._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowGroupLimit" in plan and "Partial" in plan


# (op, k, v, op_seq[, m]) change events per epoch; epoch 3 adds column m
EQUIV_EPOCHS = [
    [("I", "a", "a1", 1), ("I", "b", "b1", 2), ("I", "c", "c1", 3),
     ("I", "d", "d1", 4),
     (None, "n", "n1", 5)],                  # NULL-op insert
    [("U", "a", "a2", 10),                   # update
     ("I", "b", "b1", 2),                    # duplicate delivery
     ("D", "c", None, 11),                   # delete
     ("D", "d", None, 12)],                  # delete ...
    [("U", "a", "a-stale", 6),               # stale update
     ("I", "d", "d2", 20),                   # ... then re-insert
     ("I", "e", "e1", 21)],                  # insert into a non-empty table
    [("U", "b", "b2", 30, "mb"), ("I", "f", "f1", 31, "mf"),
     (None, "g", "g1", 32, "mg")],           # add-column epoch
]


def _lww_oracle(epochs):
    """Last writer by op_seq per key (first delivery on ties); a key is
    live unless its winner is a delete (a NULL op is live)."""
    win = {}
    for rows in epochs:
        for op, k, v, seq, *m in rows:
            if k not in win or seq > win[k][0]:
                win[k] = (seq, op, v, m[0] if m else None)
    return sorted((k, v, seq, m) for k, (seq, op, v, m) in win.items()
                  if op != "D")


def test_table_modes_match_lww_oracle(spark, tmp_path):
    """MoR (compacting every other epoch), copy-on-write and a default
    TableRoute (copy-on-write for lww tables) apply the same resolved
    batches to the same final table, equal to the LWW-by-op_seq oracle
    row by row: duplicate delivery, stale update, delete, delete then
    re-insert, NULL-op inserts and an add-column epoch."""
    from cdcrypt.operators.multitable import TableRoute, apply_multi

    schema = StructType([StructField("k", StringType(), False),
                         StructField("v", StringType(), True),
                         StructField("op_seq", LongType(), True)])

    def table(name):
        return LakeTable.create(str(tmp_path / name), schema, bucket_count=2,
                                key_cols=["k"], bucket_by="k")

    def events(rows, epoch, table_col=False):
        cols = "op string, k string, v string, op_seq long"
        if len(rows[0]) == 5:
            cols += ", m string"
        df = spark.createDataFrame(rows, cols).withColumn(
            "epoch", F.lit(epoch).cast("long"))
        return df.withColumn("table", F.lit("t")) if table_col else df

    mor, cow, routed = table("mor"), table("cow"), table("routed")
    compacted = []
    for epoch, rows in enumerate(EQUIV_EPOCHS):
        resolved = resolve_latest_agg(events(rows, epoch), key_cols=["k"])
        compacted += merge_upsert(spark, mor, resolved, epoch, mode="mor",
                                  compact_threshold=2)["buckets_compacted"]
        merge_upsert(spark, cow, resolved, epoch, mode="cow")
        if len(rows[0]) == 5:
            # a route projects the batch onto its table's columns, so a
            # routed table gains a column by schema evolution first
            routed.evolve_schema(adds=[("m", StringType())])
        apply_multi(spark, events(rows, epoch, table_col=True),
                    {"t": TableRoute(routed)}, epoch)
    assert compacted  # compaction ran through the shared rewrite

    want = _lww_oracle(EQUIV_EPOCHS)
    assert ("n", "n1", 5, None) in want and ("g", "g1", 32, "mg") in want
    for t in (mor, cow, routed):
        got = sorted(tuple(r) for r in t.refresh().read(spark)
                     .select("k", "v", "op_seq", "m").collect())
        assert got == want, t.root


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


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_rewrite_files_hold_their_bucket_off_key(spark, tmp_path, mode):
    """A table bucketed by a non-key column: every base file a compaction
    or a copy-on-write merge writes holds only rows of its manifest
    bucket range, each row's stored ``bucket`` is its bucket, and a
    bucket-pruned read returns exactly that bucket's rows."""
    from cdcrypt.table.lake import bucket_col, file_bucket_range

    t = LakeTable.create(
        str(tmp_path / mode),
        StructType([StructField("e", StringType(), False),
                     StructField("u", StringType(), True),
                     StructField("op_seq", LongType(), True)]),
        bucket_count=4, key_cols=["e"], bucket_by="u")
    for epoch in range(2):
        merge_upsert(spark, t, spark.createDataFrame(
            [("U", f"e{i}", f"u{i % 7}", 100 * epoch + i, epoch)
             for i in range(40)],
            "op string, e string, u string, op_seq long, epoch long"),
            epoch, mode=mode, compact_threshold=2)
    bases = [f for f in t.files() if f.get("kind", "base") == "base"]
    assert bases
    for f in bases:
        rows = spark.read.parquet(f"{t.root}/{f['path']}")
        lo, hi = file_bucket_range(f)
        assert rows.where(~bucket_col(4, "u").between(lo, hi)
                          | (F.col("bucket") != bucket_col(4, "u"))
                          ).count() == 0
    for b in range(4):
        truth = t.read(spark).where(bucket_col(4, "u") == b).count()
        assert t.read(spark, buckets={b}).count() == truth
