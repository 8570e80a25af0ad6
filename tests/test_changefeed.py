"""ChangeFeedStream: table-as-a-stream-source chaining (CDF streaming).

Source table A is built by normal MoR merges; the feed tails A's commits
and merges each version window into table B. The invariant under every
scenario (drain, resume, crash/redelivery, compaction, chunked catch-up):
B's resolved state equals A's resolved state.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from cdcrypt.operators.dedup import resolve_latest_agg
from cdcrypt.operators.merge import merge_upsert
from cdcrypt.streaming.changefeed import (
    ChangeFeedError, ChangeFeedStream, lake_merge_sink,
)
from cdcrypt.table.lake import LakeTable, LakeTableError

SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("text", StringType(), True),
    StructField("op_seq", LongType(), True),
])

# (epoch, op, conv, turn, text, op_seq) — updates, a delete, a re-insert
EVENTS = [
    (0, "I", "c0", 0, "hello", 1),
    (0, "I", "c0", 1, "world", 2),
    (0, "I", "c1", 0, "one", 3),
    (1, "U", "c0", 1, "world!", 4),
    (1, "I", "c2", 0, "two", 5),
    (1, "D", "c1", 0, None, 6),
    (2, "U", "c2", 0, "two!", 7),
    (2, "I", "c1", 0, "reborn", 8),
    (2, "I", "c3", 0, "three", 9),
]


def _batch(spark, epoch):
    rows = [(op, c, t, x, s, epoch)
            for (e, op, c, t, x, s) in EVENTS if e == epoch]
    return spark.createDataFrame(
        rows, "op string, conv_id string, turn_idx int, text string, "
              "op_seq long, epoch long")


def _apply_epoch(spark, table, epoch, **kw):
    merge_upsert(spark, table,
                 resolve_latest_agg(_batch(spark, epoch)),
                 epoch=epoch, mode="mor", **kw)


def _make_source(spark, tmp_path, epochs=3, name="a", **kw):
    t = LakeTable.create(str(tmp_path / name), SCHEMA, bucket_count=4)
    for e in range(epochs):
        _apply_epoch(spark, t, e, **kw)
    return t


def _make_target(tmp_path, name="b"):
    return LakeTable.create(str(tmp_path / name), SCHEMA, bucket_count=4)


def _state(spark, table):
    return sorted(
        tuple(r) for r in table.read(spark)
        .select("conv_id", "turn_idx", "text", "op_seq").collect())


def _feed(spark, src, dst, tmp_path, **kw):
    return ChangeFeedStream(
        spark, src.root, str(tmp_path / "ckpt"),
        lake_merge_sink(dst), **kw)


def test_chain_drains_to_equal_state(spark, tmp_path):
    a = _make_source(spark, tmp_path)
    b = _make_target(tmp_path)
    feed = _feed(spark, a, b, tmp_path)
    batches = feed.process_available()
    assert len(batches) == 1  # no chunk bound: one catch-up window
    assert feed.last_version == a.version
    assert _state(spark, b.refresh()) == _state(spark, a)
    # drained feed is quiescent
    assert feed.process_available() == []


def test_chunked_catchup_and_resume(spark, tmp_path):
    a = _make_source(spark, tmp_path, epochs=2)
    b = _make_target(tmp_path)
    feed = _feed(spark, a, b, tmp_path, max_versions_per_batch=1)
    batches = feed.process_available()
    assert [(x["from_version"], x["to_version"]) for x in batches] == [
        (0, 1), (1, 2)]
    assert _state(spark, b.refresh()) == _state(spark, a)
    # source advances; a NEW feed object on the same checkpoint resumes
    _apply_epoch(spark, a, 2)
    feed2 = _feed(spark, a.refresh(), b, tmp_path, max_versions_per_batch=1)
    assert feed2.last_version == 2
    batches = feed2.process_available()
    assert [(x["from_version"], x["to_version"]) for x in batches] == [(2, 3)]
    assert _state(spark, b.refresh()) == _state(spark, a.refresh())


def test_crash_between_sink_and_offset_is_exactly_once(spark, tmp_path):
    a = _make_source(spark, tmp_path, epochs=2)
    b = _make_target(tmp_path)
    inner = lake_merge_sink(b)
    calls = []

    def crashing(spark_, df, lo, hi):
        r = inner(spark_, df, lo, hi)
        calls.append((lo, hi, r.get("skipped", False)))
        raise RuntimeError("crash after sink, before offset commit")

    feed = ChangeFeedStream(spark, a.root, str(tmp_path / "ckpt"), crashing)
    with pytest.raises(RuntimeError, match="crash after sink"):
        feed.process_available()
    # window was recorded pending; the source ADVANCES before recovery —
    # the replayed window must still be the recorded one, not (0, current]
    _apply_epoch(spark, a, 2)
    feed2 = _feed(spark, a.refresh(), b, tmp_path)
    batches = feed2.process_available()
    assert [(x["from_version"], x["to_version"]) for x in batches] == [
        (0, 2), (2, 3)]
    # the redelivered merge was an epoch-idempotent no-op at the lake
    assert batches[0]["sink"].get("skipped") is True
    assert _state(spark, b.refresh()) == _state(spark, a.refresh())


def test_feed_survives_source_compaction(spark, tmp_path):
    # threshold 2: commits rewrite deep buckets mid-stream; fused
    # append+compact epochs keep log-only delta refs the feed must serve
    a = _make_source(spark, tmp_path, compact_threshold=2)
    assert any(f.get("kind") == "base" for f in a.snapshot["files"])
    b = _make_target(tmp_path)
    feed = _feed(spark, a, b, tmp_path, max_versions_per_batch=1)
    feed.process_available()
    assert _state(spark, b.refresh()) == _state(spark, a)


def test_expired_snapshots_fail_fast(spark, tmp_path):
    a = _make_source(spark, tmp_path)
    a.expire_snapshots(keep_last=1, orphan_grace_ms=0)
    b = _make_target(tmp_path)
    with pytest.raises(ChangeFeedError, match="expired"):
        _feed(spark, a, b, tmp_path)


def test_cow_source_refused(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "cow"), SCHEMA, bucket_count=4)
    merge_upsert(spark, t, resolve_latest_agg(_batch(spark, 0)),
                 epoch=0, mode="cow")
    b = _make_target(tmp_path)
    feed = ChangeFeedStream(spark, t.root, str(tmp_path / "ckpt"),
                            lake_merge_sink(b))
    with pytest.raises(LakeTableError, match="copy-on-write"):
        feed.process_available()


def test_start_version_mismatch_refused(spark, tmp_path):
    a = _make_source(spark, tmp_path)
    b = _make_target(tmp_path)
    _feed(spark, a, b, tmp_path)
    with pytest.raises(ChangeFeedError, match="start_version"):
        _feed(spark, a, b, tmp_path, start_version=1)


def test_two_hop_pipeline_chain(spark, tmp_path):
    """raw CDC -> IngestPipeline (encrypt+merge) -> table A ->
    ChangeFeedStream -> table B: B equals A byte-for-byte, ciphertext
    and mid-stream schema evolution included — the chained-pipeline
    deployment shape (downstream tables stay current reading only the
    deltas each commit added)."""
    from cdcrypt.sources.changegen import GenSpec, generate_to_dir
    from cdcrypt.streaming.pipeline import IngestPipeline

    d = str(tmp_path / "changes")
    generate_to_dir(d, GenSpec(n_convs=25, avg_turns=5, n_epochs=4, seed=7))
    pipe = IngestPipeline(d, str(tmp_path / "a"), str(tmp_path / "ckpt_a"),
                          bucket_count=4, salt_buckets=2)
    results = pipe.run(spark)
    assert all(not r.get("skipped") for r in results)
    a = LakeTable(str(tmp_path / "a"))
    assert len(a.snapshot["schemas"]) > 1  # evolution happened mid-stream
    b = LakeTable.create(str(tmp_path / "b"), a.schema, bucket_count=4,
                         key_cols=list(a.key_cols), bucket_by=a.bucket_by)
    feed = ChangeFeedStream(spark, a.root, str(tmp_path / "ckpt_b"),
                            lake_merge_sink(b), max_versions_per_batch=1)
    batches = feed.process_available()
    assert len(batches) == a.version
    rows_a = sorted(map(tuple, a.read(spark).collect()))
    rows_b = sorted(map(tuple, b.refresh().read(spark).collect()))
    assert rows_a == rows_b and len(rows_a) > 50


def test_run_loop_drains_and_stops_on_idle(spark, tmp_path):
    a = _make_source(spark, tmp_path, epochs=2)
    b = _make_target(tmp_path)
    feed = _feed(spark, a, b, tmp_path, max_versions_per_batch=1)
    out = feed.run(poll_interval_s=0.01, idle_ticks_to_stop=2)
    assert [(x["from_version"], x["to_version"]) for x in out] == [
        (0, 1), (1, 2)]
    assert _state(spark, b.refresh()) == _state(spark, a)
    with pytest.raises(ValueError, match="idle_ticks_to_stop"):
        feed.run(poll_interval_s=0.01)


def test_changelog_feed_windows_chain_and_apply(spark, tmp_path):
    """feed='changelog': each window serves resolved before/after images;
    applying them in order onto the start state reproduces A's final
    state, window images CHAIN (window N's after == window N+1's before
    for shared keys), and the feed-shape mismatch on resume fails fast."""
    a = _make_source(spark, tmp_path, epochs=3)
    windows = []

    def sink(spark_, changes, from_v, to_v):
        rows = changes.collect()
        windows.append((from_v, to_v, rows))
        return {"rows": len(rows)}

    feed = ChangeFeedStream(
        spark, str(tmp_path / "a"), str(tmp_path / "ck"), sink,
        max_versions_per_batch=1, feed="changelog")
    feed.process_available()
    assert len(windows) >= 2  # one window per committed version

    state: dict = {}
    for from_v, to_v, rows in windows:
        for r in rows:
            k = (r["conv_id"], r["turn_idx"])
            if r["change_op"] == "delete":
                assert k in state and r["after"] is None
                before = r["before"].asDict()
                assert state[k] == before["text"]  # image chains
                del state[k]
            else:
                if r["change_op"] == "update":
                    assert state[k] == r["before"].asDict()["text"]
                else:
                    assert k not in state and r["before"] is None
                state[k] = r["after"].asDict()["text"]
    final = {(r["conv_id"], r["turn_idx"]): r["text"]
             for r in a.read(spark).collect()}
    assert state == final

    with pytest.raises(ChangeFeedError, match="feed="):
        ChangeFeedStream(spark, str(tmp_path / "a"), str(tmp_path / "ck"),
                         sink, feed="raw")
    with pytest.raises(ChangeFeedError, match="feed must be"):
        ChangeFeedStream(spark, str(tmp_path / "a"), str(tmp_path / "ck2"),
                         sink, feed="nope")


def test_consumer_registration_protects_retention(spark, tmp_path):
    """A feed with consumer_id registers its offset in the SOURCE table;
    expire_snapshots then retains the snapshots the lagging feed still
    needs (Kafka consumer-group retention), the feed finishes from the
    protected window, and once drained expiration moves on."""
    a = _make_source(spark, tmp_path)  # versions 1..3
    b = _make_target(tmp_path)
    feed = ChangeFeedStream(
        spark, str(tmp_path / "a"), str(tmp_path / "ck"),
        lake_merge_sink(b), max_versions_per_batch=1,
        consumer_id="curator")
    first = feed._process_one()
    assert first["to_version"] == 1  # lagging: 2 windows still unserved

    res = a.refresh().expire_snapshots(keep_last=1)
    assert res["kept_versions"] == [1, 2, 3]  # floor = consumer offset
    assert res["protected_by_consumers"] == ["curator"]
    assert res["removed_snapshots"] == 1  # only the empty creation v0

    feed.process_available()  # survives the expiration pass
    assert _state(spark, b.refresh()) == _state(spark, a.refresh())

    res = a.refresh().expire_snapshots(keep_last=1)
    assert res["kept_versions"] == [3]  # drained: floor advanced
    assert res["protected_by_consumers"] == []


def test_respect_consumers_false_is_the_operator_override(spark, tmp_path):
    a = _make_source(spark, tmp_path)
    b = _make_target(tmp_path)
    feed = ChangeFeedStream(
        spark, str(tmp_path / "a"), str(tmp_path / "ck"),
        lake_merge_sink(b), max_versions_per_batch=1, consumer_id="lagger")
    feed._process_one()
    res = a.refresh().expire_snapshots(keep_last=1,
                                       respect_consumers=False)
    assert res["kept_versions"] == [3]
    with pytest.raises(ChangeFeedError, match="expired"):
        feed.process_available()  # the override killed the lagging feed


def test_consumer_floor_min_monotone_remove(spark, tmp_path):
    a = _make_source(spark, tmp_path)  # versions 1..3
    a.register_consumer("x", 2)
    a.register_consumer("y", 1)
    assert a.expire_snapshots(keep_last=1)["kept_versions"] == [1, 2, 3]
    a.register_consumer("y", 0)  # stale crash-replay: never regresses
    assert a.consumers()["y"]["last_version"] == 1
    a.remove_consumer("y")
    assert a.expire_snapshots(keep_last=1)["kept_versions"] == [2, 3]
    assert a.remove_consumer("x") is True
    assert a.remove_consumer("x") is False
    assert a.expire_snapshots(keep_last=1)["kept_versions"] == [3]
    with pytest.raises(LakeTableError, match="consumer_id"):
        a.register_consumer("../evil", 1)


def test_sink_into_partial_table_keeps_delete_cutoff(spark, tmp_path):
    """A window holding a delete and a later one-column update, merged
    into a partial-engine table: the delete must null the columns set
    before it, exactly as resolving the window with the engine's own
    batch resolver does."""
    from cdcrypt.operators.dedup import resolve_partial_update

    schema = StructType([StructField("k", StringType(), False),
                         StructField("a", StringType(), True),
                         StructField("b", StringType(), True),
                         StructField("op_seq", LongType(), True)])

    def events(rows, epoch):
        return spark.createDataFrame(
            [(*r, epoch) for r in rows],
            "op string, k string, a string, b string, op_seq long, "
            "epoch long")

    window = [("D", "k1", None, None, 2), ("U", "k1", "a2", None, 3)]
    got = {}
    for name in ("sink", "direct"):
        t = LakeTable.create(str(tmp_path / name), schema, bucket_count=2,
                             key_cols=["k"], bucket_by="k",
                             merge_engine="partial")
        merge_upsert(spark, t, resolve_partial_update(
            events([("I", "k1", "a1", "b1", 1)], 0), key_cols=["k"]),
            epoch=0, mode="mor")
        if name == "sink":
            lake_merge_sink(t)(spark, events(window, 1), 1, 2)
        else:
            merge_upsert(spark, t.refresh(), resolve_partial_update(
                events(window, 1), key_cols=["k"]), epoch=2, mode="mor")
        got[name] = sorted(tuple(r) for r in t.refresh().read(spark)
                           .select("k", "a", "b", "op_seq").collect())
    assert got["direct"] == [("k1", "a2", None, 3)]
    assert got["sink"] == got["direct"]
