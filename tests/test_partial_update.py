"""Partial-update merge engine (per-column last-writer-wins; the Paimon
`partial-update` analogue — SURVEY.md P5 extension, round 4).

Semantics under test (cdcrypt/operators/dedup.py resolve_partial_*):
- an update event SETS only its non-null payload columns; the resolved row
  coalesces, per column, the latest setter by (op_seq, earliest epoch);
- null in a later event does NOT clear an earlier value (null == "not set");
- deletes are full tombstones: a column survives only if its setter's
  op_seq is strictly newer than the key's newest delete op_seq, and the
  key is live only if its newest live event outranks the newest delete;
- the batch-side resolver keeps the live row AND the newest delete
  tombstone, so the read/compaction resolver still sees the cutoff.

Verified three ways: hand-built cases, a brute-force pure-Python model over
randomized event logs (oracle independence), and end-to-end through the
MoR lake table across epochs with compaction.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from cdcrypt.operators.dedup import (
    resolve_partial_agg,
    resolve_partial_update,
)
from cdcrypt.operators.merge import merge_upsert
from cdcrypt.table.lake import LakeTable, LakeTableError

COLS = StructType([
    StructField("op", StringType()), StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()), StructField("op_seq", LongType()),
    StructField("epoch", LongType()), StructField("a", StringType()),
    StructField("b", StringType()), StructField("c", StringType()),
])

TABLE_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("a", StringType(), True),
    StructField("b", StringType(), True),
    StructField("c", StringType(), True),
    StructField("op_seq", LongType(), True),
])


def _df(spark, rows):
    return spark.createDataFrame(rows, COLS)


def _state(df, cols=("a", "b", "c")):
    return {
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in cols)
        for r in df.collect()
    }


def test_per_column_coalesce(spark):
    """Disjoint setters merge; later setter of the same column wins;
    a null in a later event leaves the earlier value in place."""
    df = _df(spark, [
        ("I", "A", 0, 1, 0, "a1", "b1", None),
        ("U", "A", 0, 2, 0, None, "b2", "c2"),   # sets b, c; leaves a
        ("U", "A", 0, 3, 0, "a3", None, None),   # sets a; leaves b, c
    ])
    out = resolve_partial_agg(df).where("op != 'D'")
    assert _state(out) == {("A", 0): ("a3", "b2", "c2")}
    [row] = out.collect()
    assert row["op_seq"] == 3  # row sequence = newest live event


def test_out_of_order_and_duplicate_delivery(spark):
    """Per-column recency is by op_seq, not arrival; duplicate delivery
    of one op_seq across epochs resolves to the earliest epoch's copy."""
    df = _df(spark, [
        ("U", "A", 0, 5, 0, "a5", None, None),
        ("I", "A", 0, 1, 0, "a1", "b1", "c1"),   # older, arrives later
        ("U", "A", 0, 5, 1, "a5", None, None),   # exact redelivery
    ])
    out = resolve_partial_agg(df).where("op != 'D'")
    assert _state(out) == {("A", 0): ("a5", "b1", "c1")}


def test_delete_cutoff_nulls_older_setters(spark):
    """Delete at seq d: setters <= d are nulled, setters > d survive;
    key live iff newest live event > newest delete."""
    df = _df(spark, [
        ("I", "A", 0, 1, 0, "a1", "b1", "c1"),
        ("D", "A", 0, 5, 0, None, None, None),
        ("U", "A", 0, 7, 0, "a7", None, None),   # post-delete resurrect
        ("I", "B", 1, 2, 0, "a2", "b2", None),
        ("D", "B", 1, 9, 1, None, None, None),   # delete wins outright
    ])
    out = resolve_partial_agg(df)
    live = out.where("op != 'D'")
    # A resurrected with ONLY the post-delete column; pre-delete b/c gone
    assert _state(live) == {("A", 0): ("a7", None, None)}
    dead = {(r["conv_id"], r["turn_idx"]): r["op_seq"]
            for r in out.where("op = 'D'").collect()}
    assert dead == {("B", 1): 9}


def test_batch_resolver_keeps_tombstone_with_live_row(spark):
    """resolve_partial_update emits BOTH the live row and the newest
    delete for a delete-then-resurrect key, so a later read still sees
    the cutoff against pre-delete base columns."""
    df = _df(spark, [
        ("I", "A", 0, 1, 0, "a1", "b1", "c1"),
        ("D", "A", 0, 5, 0, None, None, None),
        ("U", "A", 0, 7, 0, "a7", None, None),
    ])
    out = resolve_partial_update(df).collect()
    by_op = {r["op"]: r for r in out}
    assert set(by_op) == {"U", "D"}
    assert by_op["D"]["op_seq"] == 5
    assert (by_op["U"]["a"], by_op["U"]["b"], by_op["U"]["c"]) == \
        ("a7", None, None)


def _model(events):
    """Brute-force per-column LWW over an event list (independent oracle).

    Ranking is (op_seq, -epoch): highest op_seq wins, ties go to the
    EARLIEST epoch (redelivery idempotence). Cutoff comparisons use
    op_seq only, strictly-greater — mirrors the documented contract.
    """
    def rank(e):
        return (e["op_seq"], -e["epoch"])

    keys = {(e["conv_id"], e["turn_idx"]) for e in events}
    state = {}
    for k in keys:
        evs = [e for e in events
               if (e["conv_id"], e["turn_idx"]) == k]
        dels = [e for e in evs if e["op"] == "D"]
        lives = [e for e in evs if e["op"] != "D"]
        d = max(dels, key=rank) if dels else None
        l = max(lives, key=rank) if lives else None
        if l is None or (d is not None and not l["op_seq"] > d["op_seq"]):
            continue  # dead (or never lived)
        cutoff = d["op_seq"] if d is not None else None
        row = {}
        for c in ("a", "b", "c"):
            setters = [e for e in lives if e[c] is not None]
            if cutoff is not None:
                setters = [e for e in setters if e["op_seq"] > cutoff]
            w = max(setters, key=rank) if setters else None
            row[c] = w[c] if w is not None else None
        state[k] = (row["a"], row["b"], row["c"])
    return state


def test_randomized_against_python_model(spark):
    """400 random events over 20 keys, out-of-order, with deletes,
    redeliveries, and sparse column sets — Spark resolver must equal the
    brute-force model exactly."""
    rng = random.Random(42)
    events = []
    for seq in range(1, 401):
        k = rng.randrange(20)
        op = "D" if rng.random() < 0.12 else ("I" if rng.random() < 0.2
                                              else "U")
        ev = {
            "op": op, "conv_id": f"c{k % 7}", "turn_idx": k,
            "op_seq": seq, "epoch": rng.randrange(4),
            "a": None, "b": None, "c": None,
        }
        if op != "D":
            for c in ("a", "b", "c"):
                if rng.random() < 0.5:
                    ev[c] = f"{c}{seq}"
            if ev["a"] is None and ev["b"] is None and ev["c"] is None:
                ev["a"] = f"a{seq}"
        events.append(ev)
    # redeliver a random 10% in a later epoch
    for e in rng.sample(events, 40):
        events.append(dict(e, epoch=e["epoch"] + 1))
    rng.shuffle(events)

    df = spark.createDataFrame(
        [(e["op"], e["conv_id"], e["turn_idx"], e["op_seq"], e["epoch"],
          e["a"], e["b"], e["c"]) for e in events], COLS)
    got = _state(resolve_partial_agg(df).where("op != 'D'"))
    assert got == _model(events)


def test_single_exchange_plan(spark):
    """Scale guard: partial resolution is ONE hash-partitioning exchange
    with map-side partial_max combine (duplicates and hot keys collapse
    BEFORE the shuffle) — same shape as resolve_latest_agg, regardless of
    payload width. Struct-max with string payloads runs as SortAggregate
    (immutable buffer type), which still gets the partial combine."""
    df = _df(spark, [("I", "A", 0, 1, 0, "a1", None, None)])
    plan = resolve_partial_agg(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_max" in plan


def test_create_validation(spark, tmp_path):
    with pytest.raises(LakeTableError, match="merge_engine"):
        LakeTable.create(str(tmp_path / "t1"), TABLE_SCHEMA,
                         bucket_count=2, merge_engine="nope")
    no_seq = StructType([f for f in TABLE_SCHEMA.fields
                         if f.name != "op_seq"])
    with pytest.raises(LakeTableError, match="op_seq"):
        LakeTable.create(str(tmp_path / "t2"), no_seq,
                         bucket_count=2, merge_engine="partial")
    # lww tables don't require op_seq at create
    LakeTable.create(str(tmp_path / "t3"), TABLE_SCHEMA, bucket_count=2)


def test_partial_rejects_cow(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), TABLE_SCHEMA,
                         bucket_count=2, merge_engine="partial")
    batch = resolve_partial_update(
        _df(spark, [("I", "A", 0, 1, 0, "a1", None, None)]))
    with pytest.raises(LakeTableError, match="merge-on-read"):
        merge_upsert(spark, t, batch, epoch=0, mode="cow")


def _apply(spark, t, rows, epoch, **kw):
    return merge_upsert(spark, t, resolve_partial_update(_df(spark, rows)),
                        epoch=epoch, mode="mor", **kw)


def test_mor_partial_across_epochs(spark, tmp_path):
    """Columns set in different EPOCHS coalesce on read: epoch 0 inserts,
    epoch 1 patches one column, epoch 2 patches another — the read shows
    the union. A cross-epoch delete nulls pre-delete base columns."""
    t = LakeTable.create(str(tmp_path / "t"), TABLE_SCHEMA,
                         bucket_count=4, merge_engine="partial")
    _apply(spark, t, [
        ("I", "A", 0, 1, 0, "a1", "b1", "c1"),
        ("I", "B", 1, 2, 0, "a2", "b2", None),
    ], epoch=0)
    _apply(spark, t, [
        ("U", "A", 0, 10, 1, None, "b10", None),   # patch b only
        ("D", "B", 1, 11, 1, None, None, None),    # delete B
    ], epoch=1)
    _apply(spark, t, [
        ("U", "A", 0, 20, 2, None, None, "c20"),   # patch c only
        ("U", "B", 1, 21, 2, "a21", None, None),   # resurrect B: only a
    ], epoch=2)
    got = _state(t.read(spark))
    assert got == {
        ("A", 0): ("a1", "b10", "c20"),
        ("B", 1): ("a21", None, None),  # pre-delete b2 must NOT leak back
    }


def test_mor_partial_compaction_preserves_state(spark, tmp_path):
    """Compaction folds deltas with the per-column resolver: read state
    is identical before and after the compaction epoch, and compacted
    tables keep resolving later patches (coarsened history contract)."""
    t = LakeTable.create(str(tmp_path / "t"), TABLE_SCHEMA,
                         bucket_count=2, merge_engine="partial")
    seq = 0
    for ep in range(5):  # threshold 3 -> compaction fires mid-run
        rows = []
        for k in range(6):
            seq += 1
            col = ("a", "b", "c")[ep % 3]
            ev = ["U" if ep else "I", f"k{k % 3}", k, seq, ep,
                  None, None, None]
            ev[{"a": 5, "b": 6, "c": 7}[col]] = f"{col}-e{ep}-k{k}"
            rows.append(tuple(ev))
        pre = _state(t.read(spark)) if ep == 4 else None
        _apply(spark, t, rows, epoch=ep, compact_threshold=3)
    snap = t.snapshot
    assert any(f.get("compacted") for f in snap["files"]), \
        "compaction never fired; threshold too high for the test"
    got = _state(t.read(spark))
    # every key: a from epoch 3 (last a-patch), b from epoch 4, c from 2
    for (cid, k), (a, b, c) in got.items():
        assert a == f"a-e3-k{k}" and b == f"b-e4-k{k}" and c == f"c-e2-k{k}"
    assert len(got) == 6
    assert pre is not None and set(pre) == set(got)


def test_pipeline_partial_e2e(spark, tmp_path):
    """Full ingest path with merge_engine='partial': sparse change events
    flow source -> resolve_partial_update -> encrypt -> MoR append; the
    decrypted table coalesces columns set in DIFFERENT epochs, and an
    existing-table engine mismatch fails fast."""
    import datetime

    from cdcrypt.operators.transform import decrypt_fields
    from cdcrypt.streaming.pipeline import (
        BASE_TABLE_SCHEMA, IngestPipeline, LakeTableError,
    )

    ts = datetime.datetime(2024, 1, 1)
    src = str(tmp_path / "src")
    ev_schema = StructType([
        StructField("op", StringType()), *BASE_TABLE_SCHEMA.fields,
        StructField("epoch", LongType()),
    ])

    import os

    os.makedirs(src, exist_ok=True)

    def write_epoch(ep, rows):
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema
        pdf = spark.createDataFrame(rows, ev_schema).toPandas()
        import pyarrow as pa
        tbl = pa.Table.from_pandas(pdf, schema=to_arrow_schema(ev_schema),
                                   preserve_index=False)
        pq.write_table(tbl, f"{src}/batch-epoch={ep}.parquet")

    write_epoch(0, [
        ("I", "A", 0, "user", "hello", "tool-v1", ts, 1, 0),
        ("I", "B", 0, "user", "b-text", None, ts, 2, 0),
    ])
    write_epoch(1, [
        # patch text only — tool-v1 must survive from epoch 0
        ("U", "A", 0, None, "world", None, None, 10, 1),
        ("D", "B", 0, None, None, None, None, 11, 1),
    ])
    pipe = IngestPipeline(src, str(tmp_path / "t"), str(tmp_path / "c"),
                          bucket_count=4, merge_engine="partial")
    pipe.run(spark)
    t = pipe.table()
    assert t.merge_engine == "partial"
    dec = decrypt_fields(t.read(spark), ["$.text", "$.tool"],
                         key_id=pipe.key_id, kms=pipe.kms,
                         aad_field=pipe.aad_field)
    got = {(r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
           for r in dec.collect()}
    assert got == {("A", 0): ("user", "world", "tool-v1")}

    with pytest.raises(LakeTableError, match="merge_engine"):
        IngestPipeline(src, str(tmp_path / "t"), str(tmp_path / "c2"),
                       bucket_count=4).table()


def test_mor_partial_replay_idempotent(spark, tmp_path):
    """Redelivering an already-committed epoch is skipped (exactly-once),
    leaving per-column state unchanged."""
    t = LakeTable.create(str(tmp_path / "t"), TABLE_SCHEMA,
                         bucket_count=2, merge_engine="partial")
    _apply(spark, t, [("I", "A", 0, 1, 0, "a1", "b1", None)], epoch=0)
    _apply(spark, t, [("U", "A", 0, 2, 1, None, "b2", None)], epoch=1)
    before = _state(t.read(spark))
    r = _apply(spark, t, [("U", "A", 0, 2, 1, None, "b2", None)], epoch=1)
    assert r["skipped"]
    assert _state(t.read(spark)) == before == {("A", 0): ("a1", "b2", None)}


def test_batch_resolvers_leave_no_cached_frame(spark, tmp_path):
    """The partial and aggregate batch resolvers emit each key's live row
    and tombstone from one aggregation without caching it: replaying
    epochs into both engines leaves no persisted RDD behind, where a
    persist per batch would pin one cached frame per epoch for the life
    of the session."""
    from cdcrypt.operators.dedup import resolve_batch

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for engine, spec in (("partial", None), ("aggregate", {"a": "max"})):
        t = LakeTable.create(str(tmp_path / engine), TABLE_SCHEMA,
                             bucket_count=2, merge_engine=engine,
                             agg_spec=spec)
        for ep in range(3):
            rows = [("I", "A", 0, 10 * ep + 1, ep, f"a{ep}", None, None),
                    ("D", "B", 1, 10 * ep + 2, ep, None, None, None),
                    ("U", "B", 1, 10 * ep + 3, ep, None, f"b{ep}", None)]
            batch = resolve_batch(_df(spark, rows), engine, t.agg_spec,
                                  t.key_cols)
            merge_upsert(spark, t, batch, epoch=ep, mode="mor")
        assert _state(t.read(spark)) == {("A", 0): ("a2", None, None),
                                         ("B", 1): (None, "b2", None)}
    assert jsc.getPersistentRDDs().size() == before
