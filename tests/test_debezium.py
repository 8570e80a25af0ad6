"""Debezium envelope adapter (sources/debezium.py).

The reference's canonical upstream is Debezium CDC (README.md:20 links the
debezium-encrypt-example); these tests prove a Debezium topic dump replays
through the engine: envelope parsing (both wire shapes), op/image/op_seq
mapping, loud malformed-feed errors, and full-pipeline equivalence with the
parquet stream.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from cdcrypt.sources.debezium import parse_debezium

ROW = StructType([
    StructField("k", LongType()),
    StructField("v", StringType()),
])


def _lines_df(spark, lines):
    return spark.createDataFrame([(ln,) for ln in lines], "value string")


def _env(op, before=None, after=None, lsn=None, ts_ms=1_700_000_000_123,
         wrap=True):
    payload = {"before": before, "after": after, "op": op, "ts_ms": ts_ms,
               "source": ({"lsn": lsn} if lsn is not None else None)}
    return json.dumps({"payload": payload} if wrap else payload)


def test_parse_maps_ops_images_and_op_seq(spark):
    lines = [
        _env("c", after={"k": 1, "v": "a"}, lsn=10),
        _env("r", after={"k": 2, "v": "b"}, lsn=11),          # snapshot read
        _env("u", after={"k": 1, "v": "a2"}, before={"k": 1, "v": "a"},
             lsn=12),
        _env("d", before={"k": 2, "v": "b"}, lsn=13),         # delete: before
        _env("c", after={"k": 3, "v": "c"}, lsn=None,
             ts_ms=1_700_000_000_999),                        # lsn fallback
        _env("u", after={"k": 3, "v": "c2"}, lsn=15, wrap=False),  # flat
        "",                                                    # tombstone
        "   ",                                                 # tombstone
    ]
    out = parse_debezium(_lines_df(spark, lines), "value", ROW)
    rows = {r.op_seq: (r.op, r.k, r.v) for r in out.collect()}
    assert rows == {
        10: ("I", 1, "a"),
        11: ("I", 2, "b"),
        12: ("U", 1, "a2"),
        13: ("D", 2, "b"),
        1_700_000_000_999: ("I", 3, "c"),
        15: ("U", 3, "c2"),
    }
    # ts synthesized from ts_ms when the row image carries no ts column
    ts = {r.op_seq: r.ts for r in out.collect()}
    assert ts[10].isoformat().startswith("2023-11-14")


def test_malformed_envelopes_fail_loud(spark):
    bad_op = [_env("x", after={"k": 1, "v": "a"}, lsn=1)]
    with pytest.raises(Exception, match="unknown op"):
        parse_debezium(_lines_df(spark, bad_op), "value", ROW).collect()
    # delete without a before image: REPLICA IDENTITY FULL required
    no_image = [_env("d", lsn=2)]
    with pytest.raises(Exception, match="REPLICA IDENTITY"):
        parse_debezium(_lines_df(spark, no_image), "value", ROW).collect()
    # MALFORMED BYTES fail loud too (regression: PERMISSIVE null-fill
    # used to make a poison line indistinguishable from a field-less
    # tombstone, so it was silently DROPPED — data loss, not an error)
    broken = [_env("c", after={"k": 1, "v": "a"}, lsn=3)[:-5]]
    with pytest.raises(Exception, match="malformed debezium envelope"):
        parse_debezium(_lines_df(spark, broken), "value", ROW).collect()
    # an image with NO op is unknown, never a bogus delete (isin(null)
    # is NULL, which an unguarded negation would skip)
    import json as _json
    op_null = [_json.dumps(
        {"payload": {"before": None, "after": {"k": 9, "v": "z"},
                     "op": None, "ts_ms": 1, "source": None}})]
    with pytest.raises(Exception, match="unknown op"):
        parse_debezium(_lines_df(spark, op_null), "value", ROW).collect()


def test_parse_debezium_dlq_routes_poison_lines(spark):
    """Connect errors.tolerance=all at the SOURCE stage: poison lines
    (malformed bytes / unknown op / missing image) route to the dead
    half with typed errors and original bytes; clean events are exactly
    the strict parse of the clean lines; tombstones reach NEITHER half."""
    from cdcrypt.sources.debezium import parse_debezium_dlq

    clean = [
        _env("c", after={"k": 1, "v": "a"}, lsn=10),
        _env("d", before={"k": 2, "v": "b"}, lsn=13),
        _env("u", after={"k": 3, "v": "c2"}, lsn=15, wrap=False),
    ]
    broken_bytes = _env("c", after={"k": 4, "v": "d"}, lsn=16)[:-7]
    bad_op = _env("x", after={"k": 5, "v": "e"}, lsn=17)
    no_image = _env("d", lsn=18)
    lines = clean + [broken_bytes, "", bad_op, "   ", no_image]
    events, dead = parse_debezium_dlq(_lines_df(spark, lines), "value", ROW)
    got = {r.op_seq: (r.op, r.k, r.v) for r in events.collect()}
    assert got == {10: ("I", 1, "a"), 13: ("D", 2, "b"), 15: ("U", 3, "c2")}
    dead_rows = {r.value: r.error for r in dead.collect()}
    assert set(dead_rows) == {broken_bytes, bad_op, no_image}
    assert dead_rows[broken_bytes].startswith("parse: malformed")
    assert "unknown op x" in dead_rows[bad_op]
    assert "REPLICA IDENTITY" in dead_rows[no_image]
    # events half equals the strict parse of only-clean input
    strict = parse_debezium(_lines_df(spark, clean), "value", ROW)
    assert sorted(map(tuple, strict.collect())) == \
        sorted(map(tuple, events.collect()))


def _write_debezium_dump(cols, dbz_dir):
    """Re-encode generator change events as a Debezium topic dump: one
    envelope per line, alternating wrapped/flat wire shapes."""
    os.makedirs(dbz_dir)
    import numpy as np
    op_map = {"I": "c", "U": "u", "D": "d"}
    has_model = "model" in cols
    for e in np.unique(cols["epoch"]):
        idx = np.flatnonzero(cols["epoch"] == e)
        with open(os.path.join(dbz_dir, f"epoch={int(e):06d}.jsonl"),
                  "w") as f:
            for j, i in enumerate(idx):
                row = {
                    "conv_id": str(cols["conv_id"][i]),
                    "turn_idx": int(cols["turn_idx"][i]),
                    "role": str(cols["role"][i]),
                    "text": (None if cols["text"][i] is None
                             else str(cols["text"][i])),
                    "tool": (None if cols["tool"][i] is None
                             else str(cols["tool"][i])),
                    # generator ts is int64 epoch-MICROseconds
                    "ts": np.datetime_as_string(
                        np.datetime64(int(cols["ts"][i]), "us"), unit="us"),
                }
                if has_model:
                    m = cols["model"][i]
                    row["model"] = None if m is None else str(m)
                op = op_map[str(cols["op"][i])]
                payload = {
                    "before": row if op == "d" else None,
                    "after": None if op == "d" else row,
                    "op": op,
                    "ts_ms": 1_700_000_000_000 + int(cols["op_seq"][i]),
                    "source": {"lsn": int(cols["op_seq"][i])},
                }
                wrapped = {"payload": payload} if j % 2 == 0 else payload
                f.write(json.dumps(wrapped) + "\n")
    return has_model


def _transcript_row_schema(has_model):
    return StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", LongType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
        + ([StructField("model", StringType())] if has_model else [])
    )


def _decrypted_state(spark, table, key, has_model):
    from cdcrypt.operators.transform import decrypt_fields

    dec = decrypt_fields(table.read(spark), ["$.text", "$.tool"],
                         key_id=key, aad_field="conv_id")
    cols_out = ["role", "text", "tool", "ts", "op_seq"] + (
        ["model"] if has_model else [])
    return {(r.conv_id, r.turn_idx): tuple(r[c] for c in cols_out)
            for r in dec.collect()}


def test_debezium_stream_replays_to_identical_table(spark, tmp_path):
    """Full-pipeline equivalence: the generator stream re-encoded as
    Debezium envelopes (mixed wrapped/flat lines), fed through
    IngestPipeline(source_adapter=parse_debezium), lands the IDENTICAL
    final decrypted state as the parquet epochs."""
    from cdcrypt.sources.changegen import (
        GenSpec, generate_change_events, write_epoch_files,
    )
    from cdcrypt.streaming.pipeline import IngestPipeline

    key = "cdcrypt/transcripts"
    spec = GenSpec(n_convs=40, avg_turns=6, n_epochs=4, seed=13)
    cols = generate_change_events(spec)
    pq_dir = str(tmp_path / "pq_stream")
    write_epoch_files(cols, pq_dir, fmt="parquet")
    has_model = _write_debezium_dump(cols, str(tmp_path / "dbz_stream"))
    row_schema = _transcript_row_schema(has_model)

    def replay(src, name, adapter=None):
        p = IngestPipeline(src, str(tmp_path / f"t_{name}"),
                           str(tmp_path / f"c_{name}"), key_id=key,
                           bucket_count=4, source_adapter=adapter)
        p.run(spark)
        return _decrypted_state(spark, p.table(), key, has_model)

    got_pq = replay(pq_dir, "pq")
    got_dbz = replay(
        str(tmp_path / "dbz_stream"), "dbz",
        adapter=lambda raw: parse_debezium(raw, "value", row_schema))
    assert len(got_dbz) > 0
    assert got_dbz == got_pq


def test_debezium_structured_stream_misaligned_batches(spark, tmp_path):
    """The SAME Debezium dump driven through the native Structured
    Streaming runtime (StructuredIngest.run_stream, text source +
    adapter), with maxFilesPerTrigger=1 forcing micro-batches that do NOT
    align with generator epochs — the final decrypted table still equals
    the parquet replay, because resolution is a pure function of
    (key, op_seq) and the lake's epoch-keyed commit absorbs redelivery."""
    from cdcrypt.sources.changegen import (
        GenSpec, generate_change_events, write_epoch_files,
    )
    from cdcrypt.streaming.pipeline import IngestPipeline
    from cdcrypt.streaming.structured import StructuredIngest

    key = "cdcrypt/transcripts"
    spec = GenSpec(n_convs=30, avg_turns=5, n_epochs=3, seed=29)
    cols = generate_change_events(spec)
    pq_dir = str(tmp_path / "pq_stream")
    write_epoch_files(cols, pq_dir, fmt="parquet")
    has_model = _write_debezium_dump(cols, str(tmp_path / "dbz_stream"))
    row_schema = _transcript_row_schema(has_model)

    base = IngestPipeline(pq_dir, str(tmp_path / "t_pq"),
                          str(tmp_path / "c_pq"), key_id=key, bucket_count=4)
    base.run(spark)
    want = _decrypted_state(spark, base.table(), key, has_model)

    ss = StructuredIngest(
        str(tmp_path / "dbz_stream"), str(tmp_path / "t_ss"),
        str(tmp_path / "c_ss"), key_id=key, bucket_count=4,
        source_adapter=lambda raw: parse_debezium(raw, "value", row_schema))
    ss.run_stream(spark, max_files_per_trigger=1)
    got = _decrypted_state(spark, ss.table(), key, has_model)
    assert len(got) > 0
    assert got == want


def test_debezium_pipeline_dlq_end_to_end(spark, tmp_path):
    """Dead-letter sink through the FULL replay (Connect
    errors.deadletterqueue analogue owned natively): poison lines injected
    into the dump are quarantined to dlq_dir/epoch=N with typed errors and
    epoch stamps, lineage counts them, the final decrypted state equals
    the clean replay, and replaying an epoch OVERWRITES its dlq dir
    (exactly-once for poison records, same contract as the table)."""
    import glob

    from cdcrypt.sources.changegen import (
        GenSpec, generate_change_events, write_epoch_files,
    )
    from cdcrypt.sources.debezium import parse_debezium_dlq
    from cdcrypt.streaming.pipeline import IngestPipeline, list_epochs

    key = "cdcrypt/transcripts"
    spec = GenSpec(n_convs=30, avg_turns=5, n_epochs=3, seed=47)
    cols = generate_change_events(spec)
    pq_dir = str(tmp_path / "pq_stream")
    write_epoch_files(cols, pq_dir, fmt="parquet")
    dbz_dir = str(tmp_path / "dbz_stream")
    has_model = _write_debezium_dump(cols, dbz_dir)
    row_schema = _transcript_row_schema(has_model)
    # inject poison: one malformed line + one unknown-op line per epoch
    poison_per_epoch = {}
    for path in sorted(glob.glob(os.path.join(dbz_dir, "*.jsonl"))):
        ep = int(os.path.basename(path).split("=")[1].split(".")[0])
        bad = ['{"payload": {"op": "c", "after"',
               json.dumps({"payload": {
                   "before": None, "after": {"conv_id": "zz", "turn_idx": 0},
                   "op": "q", "ts_ms": 1, "source": {"lsn": 1}}})]
        with open(path, "a") as f:
            f.write("\n".join(bad) + "\n")
        poison_per_epoch[ep] = bad

    base = IngestPipeline(pq_dir, str(tmp_path / "t_pq"),
                          str(tmp_path / "c_pq"), key_id=key, bucket_count=4)
    base.run(spark)
    want = _decrypted_state(spark, base.table(), key, has_model)

    dlq_dir = str(tmp_path / "dlq")
    p = IngestPipeline(
        dbz_dir, str(tmp_path / "t_dlq"), str(tmp_path / "c_dlq"),
        key_id=key, bucket_count=4, dlq_dir=dlq_dir,
        dlq_adapter=lambda raw: parse_debezium_dlq(raw, "value", row_schema))
    lineages = p.run(spark)
    got = _decrypted_state(spark, p.table(), key, has_model)
    assert len(got) > 0 and got == want
    # lineage counts and on-disk dead letters per epoch
    assert [ln["dlq_rows"] for ln in lineages] == [2] * len(lineages)
    dead = spark.read.parquet(os.path.join(dlq_dir, "epoch=*")).collect()
    assert len(dead) == 2 * len(lineages)
    by_epoch = {}
    for r in dead:
        by_epoch.setdefault(r.epoch, set()).add(r.value)
        assert r.error.startswith(("parse: malformed",
                                   "malformed debezium envelope"))
    assert {e: v for e, v in by_epoch.items()} == {
        e: set(v) for e, v in poison_per_epoch.items()}
    # replay idempotence: reprocess the last epoch directly (simulated
    # crash-before-commit redelivery) -> dlq dir overwritten, not doubled
    epochs = list_epochs(dbz_dir)
    last = max(epochs)
    p.process_epoch(spark, p.table(), last, epochs[last])
    again = spark.read.parquet(
        os.path.join(dlq_dir, f"epoch={last:06d}")).collect()
    assert len(again) == 2
    # config validation: at construction, the same for both drivers
    from cdcrypt.streaming.structured import StructuredIngest

    for cls in (IngestPipeline, StructuredIngest):
        with pytest.raises(ValueError, match="mutually exclusive"):
            cls(dbz_dir, str(tmp_path / "t_x"), str(tmp_path / "c_x"),
                key_id=key, dlq_dir=dlq_dir,
                dlq_adapter=lambda r: parse_debezium_dlq(
                    r, "value", row_schema),
                source_adapter=lambda r: r)
        with pytest.raises(ValueError, match="requires dlq_dir"):
            cls(dbz_dir, str(tmp_path / "t_y"), str(tmp_path / "c_y"),
                key_id=key,
                dlq_adapter=lambda r: parse_debezium_dlq(
                    r, "value", row_schema))
        # resolver names an lww strategy; a merge engine ('partial') or
        # a typo is refused before any epoch runs
        for bad in ("partial", "nope"):
            with pytest.raises(ValueError, match="resolver must be one of"):
                cls(dbz_dir, str(tmp_path / "t_z"), str(tmp_path / "c_z"),
                    key_id=key, resolver=bad)


def test_debezium_structured_stream_dlq(spark, tmp_path):
    """The tolerant adapter through the native SS runtime: the split
    happens INSIDE foreachBatch (one cached micro-batch feeds both the
    dead-letter sink and the merge), dead letters land under the SS
    batch id, and the final table equals the clean parquet replay."""
    import glob

    from cdcrypt.sources.changegen import (
        GenSpec, generate_change_events, write_epoch_files,
    )
    from cdcrypt.sources.debezium import parse_debezium_dlq
    from cdcrypt.streaming.pipeline import IngestPipeline
    from cdcrypt.streaming.structured import StructuredIngest

    key = "cdcrypt/transcripts"
    spec = GenSpec(n_convs=25, avg_turns=5, n_epochs=3, seed=61)
    cols = generate_change_events(spec)
    pq_dir = str(tmp_path / "pq_stream")
    write_epoch_files(cols, pq_dir, fmt="parquet")
    dbz_dir = str(tmp_path / "dbz_stream")
    has_model = _write_debezium_dump(cols, dbz_dir)
    row_schema = _transcript_row_schema(has_model)
    n_poison = 0
    for path in sorted(glob.glob(os.path.join(dbz_dir, "*.jsonl"))):
        with open(path, "a") as f:
            f.write('{"payload": {"op": "c", "broken\n')
        n_poison += 1

    base = IngestPipeline(pq_dir, str(tmp_path / "t_pq"),
                          str(tmp_path / "c_pq"), key_id=key, bucket_count=4)
    base.run(spark)
    want = _decrypted_state(spark, base.table(), key, has_model)

    dlq_dir = str(tmp_path / "dlq")
    ss = StructuredIngest(
        dbz_dir, str(tmp_path / "t_ss"), str(tmp_path / "c_ss"),
        key_id=key, bucket_count=4, dlq_dir=dlq_dir,
        dlq_adapter=lambda raw: parse_debezium_dlq(raw, "value", row_schema))
    ss.run_stream(spark, max_files_per_trigger=1)
    got = _decrypted_state(spark, ss.table(), key, has_model)
    assert len(got) > 0 and got == want
    dead = spark.read.parquet(os.path.join(dlq_dir, "epoch=*")).collect()
    assert len(dead) == n_poison
    assert all(r.error.startswith("parse: malformed") for r in dead)


def test_dlq_requeue_recovers_after_adapter_fix(spark, tmp_path):
    """The Connect DLQ-replay lifecycle: a producer bug emits op='q'
    envelopes that quarantine; after deploying a FIXED adapter (maps q->c
    pre-parse) requeue_dlq re-enters every dead letter as one new source
    epoch, the next run() merges the recovered events, the permanently
    malformed line re-quarantines under the new epoch, and the final
    state equals a never-poisoned replay. Requeue is idempotent: the
    resolver dedups replayed (key, op_seq) events."""
    import glob

    from cdcrypt.sources.changegen import (
        GenSpec, generate_change_events, write_epoch_files,
    )
    from cdcrypt.sources.debezium import parse_debezium_dlq
    from cdcrypt.streaming.pipeline import IngestPipeline

    key = "cdcrypt/transcripts"
    spec = GenSpec(n_convs=25, avg_turns=5, n_epochs=3, seed=71)
    cols = generate_change_events(spec)
    pq_dir = str(tmp_path / "pq_stream")
    write_epoch_files(cols, pq_dir, fmt="parquet")
    dbz_dir = str(tmp_path / "dbz_stream")
    has_model = _write_debezium_dump(cols, dbz_dir)
    row_schema = _transcript_row_schema(has_model)
    # producer bug: epoch 0's creates go out with op='q'; plus one line of
    # permanently-broken bytes
    files = sorted(glob.glob(os.path.join(dbz_dir, "*.jsonl")))
    with open(files[0]) as f:
        text = f.read()
    assert '"op": "c"' in text
    with open(files[0], "w") as f:
        f.write(text.replace('"op": "c"', '"op": "q"'))
        f.write('{"payload": {"op": "c", "forever broken\n')

    base = IngestPipeline(pq_dir, str(tmp_path / "t_pq"),
                          str(tmp_path / "c_pq"), key_id=key, bucket_count=4)
    base.run(spark)
    want = _decrypted_state(spark, base.table(), key, has_model)

    dlq_dir = str(tmp_path / "dlq")
    mk = lambda adapter: IngestPipeline(  # noqa: E731
        dbz_dir, str(tmp_path / "t"), str(tmp_path / "c"),
        key_id=key, bucket_count=4, dlq_dir=dlq_dir, dlq_adapter=adapter)
    buggy = mk(lambda raw: parse_debezium_dlq(raw, "value", row_schema))
    buggy.run(spark)
    got0 = _decrypted_state(spark, buggy.table(), key, has_model)
    assert got0 != want  # the q-creates are missing
    n_dead = len(spark.read.parquet(
        os.path.join(dlq_dir, "epoch=*")).collect())
    assert n_dead > 1

    # deploy the fix, replay the DLQ
    fixed = mk(lambda raw: parse_debezium_dlq(
        raw.withColumn("value", F.regexp_replace(
            "value", '"op": "q"', '"op": "c"')), "value", row_schema))
    stats = fixed.requeue_dlq()
    assert stats["requeued"] == n_dead
    fixed.run(spark)
    got1 = _decrypted_state(spark, fixed.table(), key, has_model)
    assert got1 == want
    # only the forever-broken line is still quarantined, under a NEW epoch
    dead = spark.read.parquet(os.path.join(dlq_dir, "epoch=*")).collect()
    assert len(dead) == 1 and dead[0].epoch == stats["epoch"]
    assert dead[0].error.startswith("parse: malformed")
    # idempotence: requeue the survivor again, state unchanged
    stats2 = fixed.requeue_dlq()
    assert stats2["requeued"] == 1 and stats2["epoch"] > stats["epoch"]
    fixed.run(spark)
    assert _decrypted_state(spark, fixed.table(), key, has_model) == want
    # empty DLQ -> no-op
    fixed.requeue_dlq()  # re-quarantined survivor moves once more
    fixed.run(spark)
    empty = IngestPipeline(pq_dir, str(tmp_path / "t2"),
                           str(tmp_path / "c2"), key_id=key,
                           dlq_dir=str(tmp_path / "nodlq"))
    assert empty.requeue_dlq() == {"requeued": 0, "epoch": None}


# ---------------------------------------------------------------------------
# sink side: emit_debezium / changelog_to_debezium (CDC-out)
# ---------------------------------------------------------------------------

def _engine_events(spark):
    import datetime

    us = datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)
    rows = [
        ("I", 10, 1, "héllo \U0001F30D", us),
        ("U", 12, 1, None, us.replace(microsecond=654321)),
        ("D", 13, 2, "bye", us.replace(second=6)),
    ]
    return spark.createDataFrame(
        rows, "op string, op_seq long, k long, v string, ts timestamp")


def test_emit_parse_round_trip_lossless(spark):
    # parse(emit(x)) == x, both wire shapes, incl. microsecond timestamps,
    # NULL payload values, and non-ASCII text
    from cdcrypt.sources.debezium import emit_debezium

    ev = _engine_events(spark)
    schema = StructType([
        StructField("k", LongType()), StructField("v", StringType()),
        StructField("ts", TimestampType()),
    ])
    for wrap in (True, False):
        lines = emit_debezium(ev, wrap_payload=wrap)
        back = parse_debezium(lines, "value", schema)
        want = {tuple(r) for r in ev.select(
            "op", "op_seq", "k", "v", "ts").collect()}
        got = {tuple(r) for r in back.select(
            "op", "op_seq", "k", "v", "ts").collect()}
        assert got == want, f"wrap={wrap}"


def test_emit_op_mapping_and_images(spark):
    import json as _json

    from cdcrypt.sources.debezium import emit_debezium

    lines = emit_debezium(_engine_events(spark), wrap_payload=True)
    envs = [_json.loads(r.value)["payload"] for r in lines.collect()]
    by_op = {e["op"]: e for e in envs}
    assert set(by_op) == {"c", "u", "d"}
    assert by_op["c"]["after"]["k"] == 1 and "before" not in by_op["c"]
    assert by_op["d"]["before"]["k"] == 2 and "after" not in by_op["d"]
    assert by_op["u"]["after"]["k"] == 1
    assert by_op["c"]["source"] == {"name": "cdcrypt", "lsn": 10}
    # envelope ts_ms is millis of the row ts
    assert by_op["d"]["ts_ms"] % 1000 == 6123456 // 1000 % 1000


def test_emit_unknown_op_fails_loud(spark):
    from cdcrypt.sources.debezium import emit_debezium

    bad = spark.createDataFrame(
        [("X", 1, 1)], "op string, op_seq long, k long")
    with pytest.raises(Exception, match="unknown engine op X"):
        emit_debezium(bad).collect()


def test_emit_keys_and_tombstones(spark):
    import json as _json

    from cdcrypt.sources.debezium import emit_debezium

    ev = _engine_events(spark)
    out = emit_debezium(ev, key_cols=["k"], emit_tombstones=True)
    rows = out.collect()
    assert len(rows) == 4  # 3 events + 1 tombstone for the delete
    tombs = [r for r in rows if r.value is None]
    assert len(tombs) == 1 and _json.loads(tombs[0].key) == {"k": 2}
    # the tombstone is dropped on the way back in (compaction marker)
    schema = StructType([
        StructField("k", LongType()), StructField("v", StringType()),
        StructField("ts", TimestampType()),
    ])
    back = parse_debezium(out.select("value"), "value", schema)
    assert back.count() == 3
    with pytest.raises(ValueError, match="requires key_cols"):
        emit_debezium(ev, emit_tombstones=True)


def _mk_mor_table(spark, tmp_path):
    import datetime

    from cdcrypt.operators.dedup import resolve_latest_agg
    from cdcrypt.operators.merge import merge_upsert
    from cdcrypt.streaming.pipeline import BASE_TABLE_SCHEMA
    from cdcrypt.table.lake import LakeTable

    ts = datetime.datetime(2024, 1, 1, microsecond=31337)
    cols = ("op string, conv_id string, turn_idx int, op_seq long, "
            "epoch long, role string, text string, tool string, "
            "ts timestamp")
    t = LakeTable.create(str(tmp_path / "src"), BASE_TABLE_SCHEMA,
                         bucket_count=4)
    e0 = spark.createDataFrame([
        ("I", "A", 0, 1, 0, "user", "a1", None, ts),
        ("I", "B", 0, 2, 0, "user", "b1", '{"x":1}', ts),
        ("I", "C", 1, 3, 0, "tool", "c1", None, ts),
    ], cols)
    e1 = spark.createDataFrame([
        ("U", "A", 0, 10, 1, "user", "a2", None, ts),
        ("D", "B", 0, 11, 1, None, None, None, ts),
        ("I", "D", 2, 12, 1, "assistant", "d1", None, ts),
    ], cols)
    vs = [0]
    for ep, df in enumerate([e0, e1]):
        merge_upsert(spark, t, resolve_latest_agg(df), epoch=ep, mode="mor")
        vs.append(t.version)
    return t, vs


def test_incremental_feed_replicates_over_debezium_wire(spark, tmp_path):
    """CDC-out chaining: table A's raw incremental feed, emitted as
    Debezium JSON and parsed back on the consumer side, merge-applies
    into table B — B converges to A's exact state (the sink-connector
    deployment the reference sits inside, closed end-to-end)."""
    from cdcrypt.operators.merge import merge_upsert
    from cdcrypt.sources.debezium import emit_debezium
    from cdcrypt.streaming.pipeline import BASE_TABLE_SCHEMA
    from cdcrypt.table.lake import LakeTable

    a, vs = _mk_mor_table(spark, tmp_path)
    b = LakeTable.create(str(tmp_path / "dst"), BASE_TABLE_SCHEMA,
                         bucket_count=4)
    row_schema = StructType([f for f in BASE_TABLE_SCHEMA.fields
                             if f.name != "op_seq"])
    row_cols = [f.name for f in row_schema.fields]
    for i in range(len(vs) - 1):
        feed = a.read_incremental(spark, vs[i], vs[i + 1])
        wire = emit_debezium(feed, row_cols,
                             key_cols=["conv_id", "turn_idx"])
        got = parse_debezium(wire.select("value"), "value", row_schema)
        merge_upsert(spark, b, got.withColumn("epoch", F.lit(i)),
                     epoch=i, mode="mor")
    key = ["conv_id", "turn_idx"]
    sa = sorted(tuple(r) for r in a.read(spark).collect())
    sb = sorted(tuple(r) for r in b.read(spark).select(
        *a.read(spark).columns).collect())
    assert sa == sb and len(sa) == 3  # A updated, B deleted, C + D live


def test_changelog_to_debezium_images(spark, tmp_path):
    """Resolved changelog -> envelopes with TRUE before/after images
    (REPLICA IDENTITY FULL shape): update carries both sides, insert
    after-only, delete before-only; lsn = after-side op_seq (before for
    deletes); round-trips through parse_debezium as the image row."""
    import json as _json

    from cdcrypt.sources.debezium import changelog_to_debezium

    a, vs = _mk_mor_table(spark, tmp_path)
    cl = a.read_changelog(spark, vs[1], vs[2])
    wire = changelog_to_debezium(cl, key_cols=["conv_id", "turn_idx"])
    envs = {}
    for r in wire.collect():
        k = _json.loads(r.key)
        envs[(k["conv_id"], k["turn_idx"])] = _json.loads(r.value)["payload"]
    assert {k: e["op"] for k, e in envs.items()} == {
        ("A", 0): "u", ("B", 0): "d", ("D", 2): "c"}
    u = envs[("A", 0)]
    assert u["before"]["text"] == "a1" and u["after"]["text"] == "a2"
    assert u["source"]["lsn"] == 10 and u["before"]["op_seq"] == 1
    d = envs[("B", 0)]
    assert d["before"]["text"] == "b1" and "after" not in d
    assert d["source"]["lsn"] == 2  # before side serves deletes
    c = envs[("D", 2)]
    assert "before" not in c and c["after"]["role"] == "assistant"
    # consumer side: the image rows parse back with full fidelity
    row_schema = StructType([
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ])
    back = parse_debezium(wire.select("value"), "value", row_schema)
    got = {(r.conv_id, r.turn_idx): r.op for r in back.collect()}
    assert got == {("A", 0): "U", ("B", 0): "D", ("D", 2): "I"}
