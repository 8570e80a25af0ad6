"""Full CDC replay correctness harness (SURVEY.md §5.3 / §7 stage 8).

Deterministic change stream -> IngestPipeline replay -> final lake state;
oracle = DuckDB LWW over the same event files (FIXTURES.md F2 oracle).
Per-turn invariant vs the reference: decrypt(text_enc) == text under stable
(conv_id, turn_idx) ordering — the engine's version of the reference e2e
greps (e2e/test.sh:31-35)."""

from __future__ import annotations

import glob
import os
import re

import duckdb
import pytest

from cdcrypt.operators.transform import decrypt_fields
from cdcrypt.sources.changegen import GenSpec, generate_to_dir
from cdcrypt.streaming.pipeline import IngestPipeline, list_epochs
from cdcrypt.table.lake import LakeTable, LakeTableError

KEY = "cdcrypt/transcripts"


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("changes"))
    stats = generate_to_dir(
        d, GenSpec(n_convs=40, avg_turns=6, n_epochs=5, seed=11)
    )
    # generator must produce the adversarial properties it promises
    assert stats["hot_conv_share"] >= 0.05
    assert stats["epochs"] == 5 and stats["evolve_epoch"] == 3
    return d


def _oracle_final_state(stream_dir: str) -> dict:
    files = sorted(glob.glob(os.path.join(stream_dir, "*.parquet")))
    rows = duckdb.sql(
        f"""
        SELECT conv_id, turn_idx, role, text, tool, model FROM (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                       ORDER BY op_seq DESC, epoch ASC) rn
          FROM read_parquet({files!r}, union_by_name=true))
        WHERE rn = 1 AND op <> 'D'
        """
    ).fetchall()
    return {(r[0], r[1]): (r[2], r[3], r[4], r[5]) for r in rows}


def _final_state(spark, table_root: str) -> dict:
    t = LakeTable(table_root)
    df = decrypt_fields(
        t.read(spark), ["$.text", "$.tool"], aad_field="conv_id", key_id=KEY
    )
    return {
        (r.conv_id, r.turn_idx): (r.role, r.text, r.tool, r.model)
        for r in df.collect()
    }


def test_full_replay_matches_oracle(spark, stream_dir, tmp_path):
    pipe = IngestPipeline(
        stream_dir, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        key_id=KEY, bucket_count=8, salt_buckets=4,
    )
    results = pipe.run(spark)
    assert [r["epoch"] for r in results] == [0, 1, 2, 3, 4]
    assert all(not r.get("skipped") for r in results)

    got = _final_state(spark, str(tmp_path / "table"))
    exp = _oracle_final_state(stream_dir)
    assert got == exp  # byte-for-byte after decrypt, deletes applied

    # ciphertext at rest: text column in the table is NOT plaintext
    raw = LakeTable(str(tmp_path / "table")).read(spark)
    sample = [r.text for r in raw.where(raw.text.isNotNull()).limit(5).collect()]
    import base64
    from cdcrypt.envelope import parse_envelope
    for s in sample:
        key_id, _, _, _ = parse_envelope(base64.b64decode(s))
        assert key_id == KEY  # valid self-contained envelope, right key

    # exactly-once: immediate replay is a no-op
    again = pipe.run(spark)
    assert again == []
    t = LakeTable(str(tmp_path / "table"))
    assert t.committed_epoch == 4 and t.version == 5

    # checkpoints carry lineage per epoch
    ckpts = sorted(os.listdir(tmp_path / "ckpt"))
    assert len(ckpts) == 5
    first = results[0]
    assert first["batch_rows"] > 0 and "dirty_buckets" in first
    # per-partition lineage: per-bucket merged-row counts cover the batch
    per_bucket = first["rows_merged_per_bucket"]
    assert sum(per_bucket.values()) == first["batch_rows"]
    assert set(map(int, per_bucket)) == set(first["dirty_buckets"])


def test_full_replay_jvm_backend_matches_oracle(spark, stream_dir, tmp_path):
    """Same replay through the JVM aes_encrypt backend: identical final
    state, wrapped DEKs recorded in checkpoint lineage, and the stored
    envelopes decrypt through the canonical pandas-UDF path (_final_state
    uses backend='udf') — cross-backend at-rest compatibility."""
    import base64
    import json

    pipe = IngestPipeline(
        stream_dir, str(tmp_path / "tj"), str(tmp_path / "cj"),
        key_id=KEY, bucket_count=8, crypto_backend="jvm",
    )
    results = pipe.run(spark)
    assert _final_state(spark, str(tmp_path / "tj")) == _oracle_final_state(stream_dir)
    assert all(len(r.get("wrapped_deks", [])) == 2 for r in results)  # text+tool

    # decrypt via JVM backend using lineage-supplied DEKs (no discovery)
    with open(sorted(glob.glob(str(tmp_path / "cj" / "epoch_*.json")))[0]) as f:
        lin = json.load(f)
    deks = [base64.b64decode(w) for r in results for w in r["wrapped_deks"]]
    assert lin["wrapped_deks"]  # persisted in the checkpoint
    t = LakeTable(str(tmp_path / "tj"))
    dec = decrypt_fields(
        t.read(spark), ["$.text", "$.tool"], aad_field="conv_id", key_id=KEY,
        backend="jvm", wrapped_deks=deks,
    )
    got = {(r.conv_id, r.turn_idx): (r.role, r.text, r.tool, r.model)
           for r in dec.collect()}
    assert got == _oracle_final_state(stream_dir)


def test_full_replay_binary_encoding_matches_oracle(spark, stream_dir,
                                                    tmp_path):
    """encrypt_encoding='binary' stores raw envelope bytes (25% smaller
    than base64 on a bandwidth-bound replay): identical final decrypted
    state, BinaryType lake schema for the encrypted columns, and readers
    unchanged (decrypt_batch auto-detects str vs bytes per item)."""
    from pyspark.sql.types import BinaryType

    pipe = IngestPipeline(
        stream_dir, str(tmp_path / "tb"), str(tmp_path / "cb"),
        key_id=KEY, bucket_count=8, encrypt_encoding="binary",
    )
    pipe.run(spark)
    assert _final_state(spark, str(tmp_path / "tb")) == _oracle_final_state(
        stream_dir)
    raw = LakeTable(str(tmp_path / "tb")).read(spark)
    types = {f.name: f.dataType for f in raw.schema.fields}
    assert isinstance(types["text"], BinaryType)
    assert isinstance(types["tool"], BinaryType)
    # at rest: raw bytes parse directly as envelopes (no base64 layer)
    from cdcrypt.envelope import parse_envelope
    for r in raw.where(raw.text.isNotNull()).limit(5).collect():
        key_id, _, _, _ = parse_envelope(bytes(r.text))
        assert key_id == KEY

    # config guard: nested/array paths cannot flip a lake column type
    bad = IngestPipeline(
        stream_dir, str(tmp_path / "tx"), str(tmp_path / "cx"), key_id=KEY,
        encrypt_paths=("$.a.b",), encrypt_encoding="binary")
    with pytest.raises(LakeTableError, match="top-level"):
        _ = bad._schema

    # backend x encoding combination: jvm builtin-AES envelopes stored raw
    jp = IngestPipeline(
        stream_dir, str(tmp_path / "tjb"), str(tmp_path / "cjb"),
        key_id=KEY, bucket_count=8, crypto_backend="jvm",
        encrypt_encoding="binary",
    )
    jp.run(spark)
    assert _final_state(spark, str(tmp_path / "tjb")) == _oracle_final_state(
        stream_dir)


def _range_exchanges(plan: str) -> list[int]:
    """The partition counts of ``plan``'s range-id (pass-through)
    exchanges; asserts that ``plan`` has no other Exchange."""
    got = re.findall(r"Exchange shufflepartitionidpassthrough\("
                     r"direct_shuffle_partition_id\(\w+#\d+\), (\d+)\)",
                     plan)
    assert plan.count("Exchange") == len(got), plan
    return [int(n) for n in got]


def test_default_epoch_plan_has_one_exchange(spark, stream_dir, tmp_path,
                                             monkeypatch):
    """A default epoch shuffles once: the range-id Exchange feeds resolve
    (the range id is one more group key), encrypt and the per-range write
    with no second exchange. It has min(defaultParallelism, bucket_count)
    partitions, and the same holds for every lww resolver and for the
    partial and aggregate merge engines."""
    import cdcrypt.streaming.pipeline as pipeline_mod

    real_merge = pipeline_mod.merge_upsert
    plans = []

    def recording_merge(spark_, table, resolved, *a, **kw):
        plans.append(resolved._jdf.queryExecution().executedPlan().toString())
        return real_merge(spark_, table, resolved, *a, **kw)

    monkeypatch.setattr(pipeline_mod, "merge_upsert", recording_merge)
    IngestPipeline(stream_dir, str(tmp_path / "t"),
                   str(tmp_path / "c")).run(spark, max_epochs=1)
    assert len(plans) == 1
    assert plans[0].count("Exchange") == 1, plans[0]
    width = min(spark.sparkContext.defaultParallelism, 64)
    assert _range_exchanges(plans[0]) == [width]
    for name, kw in [("window", {"resolver": "window"}),
                     ("salted", {"resolver": "salted"}),
                     ("partial", {"merge_engine": "partial"}),
                     ("aggregate", {"merge_engine": "aggregate",
                                    "agg_spec": {"ts": "max"}})]:
        plans.clear()
        IngestPipeline(stream_dir, str(tmp_path / name),
                       str(tmp_path / f"{name}-c"), **kw).run(
                           spark, max_epochs=1)
        assert len(plans) == 1, name
        assert _range_exchanges(plans[0]) == [width], name


def test_bucket_rewrite_plans_have_one_exchange(spark, tmp_path,
                                               monkeypatch):
    """A copy-on-write merge and a MoR compaction each shuffle once: the
    frame they hand to the bucketed base-file write has one Exchange
    (the range-id shuffle, which the live-row resolve reuses)."""
    import cdcrypt.operators.merge as merge_mod
    from cdcrypt.operators.merge import merge_upsert
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    real_write = merge_mod._write_bucketed
    plans = []

    def recording_write(df, staging, root, bucket_count, kind, *a, **kw):
        if kind == "base":
            plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real_write(df, staging, root, bucket_count, kind, *a, **kw)

    monkeypatch.setattr(merge_mod, "_write_bucketed", recording_write)
    schema = StructType([StructField("k", StringType(), False),
                         StructField("v", StringType(), True),
                         StructField("op_seq", LongType(), True)])

    def batch(epoch):  # already resolved: one row per key
        return spark.createDataFrame(
            [("U", f"k{i}", f"v{epoch}", 10 * epoch + i, epoch)
             for i in range(4)],
            "op string, k string, v string, op_seq long, epoch long")

    for mode in ("cow", "mor"):
        t = LakeTable.create(str(tmp_path / mode), schema, bucket_count=2,
                             key_cols=["k"], bucket_by="k")
        for epoch in range(2):
            merge_upsert(spark, t, batch(epoch), epoch, mode=mode,
                         compact_threshold=2)
        assert len(plans) == {"cow": 2, "mor": 3}[mode]
    for plan in plans:
        assert _range_exchanges(plan) == [
            min(spark.sparkContext.defaultParallelism, 2)], plan


def test_crash_resume(spark, stream_dir, tmp_path):
    troot, ckpt = str(tmp_path / "t2"), str(tmp_path / "c2")
    a = IngestPipeline(stream_dir, troot, ckpt, key_id=KEY, bucket_count=8)
    ra = a.run(spark, max_epochs=2)  # "crash" after 2 epochs
    assert [r["epoch"] for r in ra] == [0, 1]
    # brand-new driver object (process restart analogue) resumes at epoch 2
    b = IngestPipeline(stream_dir, troot, ckpt, key_id=KEY, bucket_count=8)
    rb = b.run(spark)
    assert [r["epoch"] for r in rb] == [2, 3, 4]
    assert _final_state(spark, troot) == _oracle_final_state(stream_dir)


def test_schema_evolution_and_time_travel(spark, stream_dir, tmp_path):
    troot = str(tmp_path / "t3")
    IngestPipeline(stream_dir, troot, str(tmp_path / "c3"),
                   key_id=KEY, bucket_count=8).run(spark)
    t = LakeTable(troot)
    # current schema evolved: model column present
    assert "model" in [f.name for f in t.schema.fields]
    cur = t.read(spark)
    assert cur.where("model is not null").count() > 0
    # pre-evolution rows read as null through the current schema
    assert cur.where("model is null").count() > 0
    # time travel: v1 snapshot has the ORIGINAL schema (no model column)
    old = t.read(spark, version=1)
    assert "model" not in old.columns
    assert old.count() > 0
    # snapshot history chains via parent pointers
    assert t.snapshot_at(2)["parent"] == 1


def test_retriable_vs_fatal_error_routing(spark, stream_dir, tmp_path):
    from cdcrypt.kms import MockKMS

    # server fail-mode -> retried max_retries times, then raised
    p = IngestPipeline(stream_dir, str(tmp_path / "t4"), str(tmp_path / "c4"),
                       key_id=KEY, kms=MockKMS(fail_mode="server"),
                       bucket_count=4, max_retries=1)
    with pytest.raises(Exception, match="ServerErrorException"):
        p.run(spark, max_epochs=1)
    # client fail-mode -> fatal, no retry loop needed to prove: raises
    p2 = IngestPipeline(stream_dir, str(tmp_path / "t5"), str(tmp_path / "c5"),
                        key_id=KEY, kms=MockKMS(fail_mode="client"),
                        bucket_count=4)
    with pytest.raises(Exception, match="ClientErrorException"):
        p2.run(spark, max_epochs=1)


def test_error_classifier_matches_root_cause_not_substring():
    """O10: retry routing must key on the RAISED class, not any substring —
    a data error whose message quotes 'ServerErrorException' aborts."""
    from cdcrypt.errors import ClientErrorException, ServerErrorException
    from cdcrypt.streaming.pipeline import _is_retriable

    assert _is_retriable(ServerErrorException("kms down"))
    try:  # driver-side cause chain
        try:
            raise ServerErrorException("kms down")
        except ServerErrorException as e:
            raise RuntimeError("epoch failed") from e
    except RuntimeError as exc:
        assert _is_retriable(exc)
    # data errors that merely MENTION the class name -> abort, not retry
    assert not _is_retriable(ClientErrorException(
        "payload contained 'ServerErrorException retry me'"))
    assert not _is_retriable(ValueError(
        "field text: cdcrypt.errors.ServerErrorException seen mid-line"))
    # PySpark-style worker traceback: root-cause line is anchored + qualified
    class FakePythonException(Exception):
        pass
    tb = ("An exception was thrown from the Python worker.\n"
          "Traceback (most recent call last):\n"
          '  File "udf.py", line 3, in core\n'
          "cdcrypt.errors.ServerErrorException: mock KMS unavailable\n")
    assert _is_retriable(FakePythonException(tb))
    # a DATA error whose MULTI-LINE message embeds a line starting with
    # the qualified server-error name must still abort: only the raise
    # line of the last traceback block counts (VERDICT r2 residual #5)
    tb_embed = (
        "An exception was thrown from the Python worker.\n"
        "Traceback (most recent call last):\n"
        '  File "udf.py", line 3, in core\n'
        "cdcrypt.errors.ClientErrorException: bad envelope; payload was:\n"
        "cdcrypt.errors.ServerErrorException: quoted log line from data\n")
    assert not _is_retriable(FakePythonException(tb_embed))
    # chained tracebacks: the LAST block's raise line decides
    tb_chain = (
        "Traceback (most recent call last):\n"
        '  File "udf.py", line 1, in outer\n'
        "cdcrypt.errors.ServerErrorException: first attempt\n"
        "\nDuring handling of the above exception, another exception "
        "occurred:\n\n"
        "Traceback (most recent call last):\n"
        '  File "udf.py", line 9, in handler\n'
        "cdcrypt.errors.ClientErrorException: corrupt row\n")
    assert not _is_retriable(FakePythonException(tb_chain))
    # no traceback marker at all -> conservative abort
    assert not _is_retriable(FakePythonException(
        "cdcrypt.errors.ServerErrorException: free-floating mention"))


def test_jsonl_source_replays_to_identical_table(spark, stream_dir, tmp_path):
    """P1 source-format breadth: the same generated change stream written as
    newline-delimited JSON replays to the IDENTICAL final decrypted state
    as the parquet epochs (types pinned at read; ts survives the ISO
    round-trip)."""
    from cdcrypt.operators.transform import decrypt_fields
    from cdcrypt.sources.changegen import (
        GenSpec, generate_change_events, write_epoch_files,
    )

    jdir = str(tmp_path / "jsonl_stream")
    cols = generate_change_events(GenSpec(n_convs=40, avg_turns=6,
                                          n_epochs=5, seed=11))
    write_epoch_files(cols, jdir, fmt="jsonl")

    def replay(src, name):
        p = IngestPipeline(src, str(tmp_path / f"t_{name}"),
                           str(tmp_path / f"c_{name}"), key_id=KEY,
                           bucket_count=4)
        p.run(spark)
        dec = decrypt_fields(p.table().read(spark), ["$.text", "$.tool"],
                             key_id=KEY, aad_field="conv_id")
        return {(r.conv_id, r.turn_idx): (r.role, r.text, r.tool, r.ts,
                                          r.op_seq)
                for r in dec.collect()}

    got_parquet = replay(stream_dir, "pq")
    got_jsonl = replay(jdir, "jl")
    assert got_jsonl == got_parquet
    assert len(got_jsonl) > 0


def test_generalized_keys_second_schema_e2e(spark, tmp_path):
    """The CDC stack is schema-agnostic (VERDICT r2 missing #1): a
    completely different record shape — events keyed on
    (user_id, event_type), bucketed by user_id — replays through the SAME
    IngestPipeline: dedup/LWW resolution, field encryption, MoR merge,
    exactly-once commits. Final state checked against an independent
    last-writer-wins oracle and a decrypt round-trip."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StringType, StructField,
        StructType, TimestampType,
    )

    from cdcrypt.kms import MockKMS
    from cdcrypt.operators.transform import FieldTransform, TransformConfig
    from cdcrypt.streaming.pipeline import IngestPipeline

    schema = StructType([
        StructField("user_id", StringType(), False),
        StructField("event_type", StringType(), False),
        StructField("note", StringType(), True),
        StructField("amount", DoubleType(), True),
        StructField("ts", TimestampType(), True),
        StructField("op_seq", LongType(), True),
    ])
    # deterministic change stream: 40 users x 3 event types, 3 epochs of
    # I/U/D with duplicates and out-of-order op_seq
    import datetime as dt
    rows = []
    seq = 0
    for epoch in range(3):
        for u in range(40):
            for et in ("click", "view"):
                seq += 1
                op = "D" if (epoch == 2 and u % 7 == 0 and et == "click") \
                    else ("I" if epoch == 0 else "U")
                r = (op, f"user{u:03d}", et, f"note-{u}-{et}-e{epoch}",
                     float(u) + epoch, dt.datetime(2026, 1, 1 + epoch),
                     seq, epoch)
                rows.append(r)
                if u % 11 == 0:
                    rows.append(r)          # duplicate delivery
    src = str(tmp_path / "events_stream")
    os.makedirs(src)
    full = StructType(
        [StructField("op", StringType(), False)] + list(schema.fields)
        + [StructField("epoch", LongType(), False)])
    df = spark.createDataFrame(rows, full)
    for e in range(3):
        df.where(F.col("epoch") == e).coalesce(1).write.mode(
            "overwrite").parquet(str(tmp_path / f"stage{e}"))
        import glob as _g
        import shutil
        part = _g.glob(str(tmp_path / f"stage{e}" / "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src, f"epoch={e}.parquet"))

    kms = MockKMS()
    pipe = IngestPipeline(
        src, str(tmp_path / "etab"), str(tmp_path / "eckpt"),
        key_id="cdcrypt/events", encrypt_paths=("$.note",),
        aad_field="user_id", bucket_count=8,
        key_cols=("user_id", "event_type"), bucket_by="user_id",
        table_schema=schema, kms=kms)
    results = pipe.run(spark)
    assert len(results) == 3
    t = pipe.table()
    assert t.key_cols == ["user_id", "event_type"]
    assert t.bucket_by == "user_id"
    final = t.read(spark)

    # oracle: LWW per (user_id, event_type), deletes dropped
    win = F.max(F.struct("op_seq", "op", "note", "amount")).alias("w")
    exp = (df.groupBy("user_id", "event_type").agg(win)
           .where(F.col("w.op") != "D")
           .select("user_id", "event_type", F.col("w.note").alias("note"),
                   F.col("w.op_seq").alias("op_seq")))
    exp_rows = {(r.user_id, r.event_type): (r.note, r.op_seq)
                for r in exp.collect()}
    dec = FieldTransform(TransformConfig(
        mode="decrypt", fields=["$.note"], key_id="cdcrypt/events",
        aad_field="user_id", kms=kms)).apply(final)
    got_rows = {(r.user_id, r.event_type): (r.note, r.op_seq)
                for r in dec.collect()}
    assert got_rows == exp_rows
    # ciphertext really differs from plaintext in the stored table
    stored = {r.user_id: r.note for r in final.collect()}
    assert all(not v.startswith("note-") for v in stored.values())
    # replay is a no-op (exactly-once on the second schema too)
    assert pipe.run(spark) == []
    # a pipeline configured with the WRONG keys refuses the table loudly
    import pytest as _pytest

    from cdcrypt.table.lake import LakeTableError
    bad = IngestPipeline(src, str(tmp_path / "etab"),
                         str(tmp_path / "eckpt2"))
    with _pytest.raises(LakeTableError, match="keyed on"):
        bad.table()
    # ...and so does one with the right keys but a different physical
    # layout (bucket column / modulus): epochs repartitioned by the
    # pipeline's spec + merged with assume_bucketed=True would otherwise
    # silently write wrongly-labeled bucket files
    bad_bucket = IngestPipeline(
        src, str(tmp_path / "etab"), str(tmp_path / "eckpt3"),
        key_cols=("user_id", "event_type"), bucket_by="event_type",
        bucket_count=8, table_schema=schema)
    with _pytest.raises(LakeTableError, match="bucketed by"):
        bad_bucket.table()
    bad_count = IngestPipeline(
        src, str(tmp_path / "etab"), str(tmp_path / "eckpt4"),
        key_cols=("user_id", "event_type"), bucket_by="user_id",
        bucket_count=16, table_schema=schema)
    with _pytest.raises(LakeTableError, match="bucket_count"):
        bad_count.table()
