"""Benchmark phases: session + warmup (set-up), the untraced ingest and read
phases that give the end-to-end metrics, the correctness check, and the
traced single-epoch replay that gives the per-layer metrics.

Every ingest goes through ``IngestPipeline`` with its default configuration,
so a change of a pipeline default shows up in the numbers.
"""

from __future__ import annotations

import base64
import os
import shutil
import time
import traceback

import pyarrow as pa
import pyarrow.parquet as pq

from cdcrypt.operators.transform import decrypt_fields
from cdcrypt.streaming.pipeline import IngestPipeline, list_epochs
from cdcrypt.table.lake import LakeTable

import inputs
from inputs import ENCRYPTED, KEY_ID
from measure import group_jobs_tasks, median, snapshot_bytes, tree_bytes

JVM_HEAP = "1g"  # well under the 15 GiB of the 4-vCPU reference VM
# C1 only: with the default tiered JIT, C2 keeps compiling on the same 4
# cores for minutes, so a one-minute run would time the compiler's
# progress (four rounds of the same scan in one session took 3.7, 2.9, 2.0
# and 1.8 s). C1 code is steady once the set-up's epoch and read are done.
JIT = "-XX:TieredStopAtLevel=1"
LOOKUPS = 3  # point lookups per run; lookup_p50_ms is their median
SCANS = 3  # full reads per run; scan_rows_per_s uses their median


def start_session(work: str, cores: int):
    os.environ["CDCRYPT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["CDCRYPT_DRIVER_MEM"] = JVM_HEAP
    from cdcrypt.session import get_spark

    # the heap is committed and touched up front, so peak RSS does not
    # depend on when the collector last grew it
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch {JIT}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _dirs(work: str, name: str) -> tuple[str, str]:
    return os.path.join(work, name, "table"), os.path.join(work, name, "ckpt")


def _decrypted(df):
    return decrypt_fields(df, ENCRYPTED, key_id=KEY_ID, aad_field="conv_id")


# ---------- read phase ----------

def read_phase(spark, table_root: str, convs: list[str],
               scans: int = SCANS) -> dict:
    """``scans`` full reads + decrypt, each aggregated to a row fingerprint
    (never collected), then one point lookup + decrypt + collect per conv
    id."""
    table = LakeTable(table_root)
    has_model = "model" in table.schema.fieldNames()
    scan_s, fingerprints = [], []
    for _ in range(scans):
        t0 = time.perf_counter()
        scan = inputs.fingerprint_agg(inputs.compare_select(_decrypted(
            LakeTable(table_root).read(spark)), has_model)).collect()[0]
        scan_s.append(time.perf_counter() - t0)
        fingerprints.append(inputs.fingerprint_of(scan))
    lookups = []
    for conv in convs:
        t0 = time.perf_counter()
        kr = {"conv_id": (conv, conv)}
        rows = inputs.compare_select(_decrypted(
            table.read(spark, key_range=kr)), has_model).collect()
        lookups.append({"conv": conv, "s": time.perf_counter() - t0,
                        "rows": [tuple(r) for r in rows]})
    return {"table": table, "has_model": has_model,
            "fingerprints": fingerprints,
            "live_rows": fingerprints[0][0], "scan_s": scan_s,
            "lookups": lookups}


def warmup(spark, src: str, work: str, conv: str) -> dict:
    """Untimed: replay the stream's first epoch into the warm table, then one
    full read + decrypt of it and one lookup of ``conv``, so JIT, Python
    workers and the read path are warm before anything is measured. Every
    measured replay starts from a copy of this table."""
    troot, ckpt = _dirs(work, "warm")
    t0 = time.perf_counter()
    IngestPipeline(src, troot, ckpt).run(spark, max_epochs=1)
    t1 = time.perf_counter()
    rd = read_phase(spark, troot, [conv], scans=1)
    return {"replay_s": t1 - t0, "read_s": rd["scan_s"][0],
            "lookup_s": rd["lookups"][0]["s"]}


def _from_warm(work: str, name: str) -> tuple[str, str]:
    """Fresh copy of the warm table and its checkpoints (manifests hold
    table-relative paths, so a copied table is a valid table)."""
    dst = os.path.join(work, name)
    shutil.copytree(os.path.join(work, "warm"), dst)
    return _dirs(work, name)


def ingest(spark, workload: str, src: str, work: str,
           seconds: float) -> dict:
    """Replay the epochs after the warm one into a copy of the warm table;
    repeat on a fresh copy until ``seconds`` of ingest have been measured.
    bulk_replay uses one ``run()`` per replay, trickle_epochs one
    ``run(max_epochs=1)`` per epoch. The first replay's table is kept for
    the read phase."""
    epochs = list_epochs(src)
    timed = sorted(epochs)[1:]
    per_epoch = workload == "trickle_epochs"
    files = [f for e in timed for f in epochs[e]]
    out = {"files": [f for e in sorted(epochs) for f in epochs[e]],
           "walls": [], "epoch_walls": [],
           "events": 0, "attempted": 0, "failed": 0}
    i = 0
    while True:
        troot, ckpt = _from_warm(work, f"replay-{i}")
        pipe = IngestPipeline(src, troot, ckpt)
        calls = [1] * len(timed) if per_epoch else [None]
        out["attempted"] += len(timed)
        try:
            for n in calls:
                t0 = time.perf_counter()
                lineage = pipe.run(spark, max_epochs=n)
                out["walls"].append(time.perf_counter() - t0)
                out["epoch_walls"] += ([out["walls"][-1]] if per_epoch else
                                       [r["wall_sec"] for r in lineage])
        except Exception:  # noqa: BLE001 - counted as failed
            done = LakeTable(troot).committed_epoch - timed[0] + 1
            out["failed"] += len(timed) - max(0, done)
            out["error"] = traceback.format_exc()[-4000:]
            break
        out["events"] += inputs.source_rows(files)
        if i == 0:
            out["table_root"] = troot
        else:
            shutil.rmtree(os.path.dirname(troot))
        if sum(out["walls"]) >= seconds:
            break
        i += 1
    return out


def end_to_end(ing: dict, rd: dict, setup_s: float, peak_mb: float) -> dict:
    return {
        "ingest_events_per_s": ing["events"] / sum(ing["walls"]),
        "epoch_latency_p50_s": median(ing["epoch_walls"]),
        "scan_rows_per_s": rd["live_rows"] / median(rd["scan_s"]),
        "lookup_p50_ms": 1000 * median(l["s"] for l in rd["lookups"]),
        "stored_bytes_per_live_row":
            snapshot_bytes(rd["table"]) / max(1, rd["live_rows"]),
        "write_amplification": tree_bytes(ing["table_root"])
            / inputs.source_bytes(ing["files"]),
        "peak_rss_mb": peak_mb,
        "setup_s": setup_s,
    }


# ---------- correctness ----------

def check(spark, files: list[str], rd: dict) -> list[str]:
    """Compare the replayed table and every lookup result against the
    oracle; returns the list of mismatches (empty when correct)."""
    oracle = inputs.oracle_table(files)
    problems = []
    if not rd["has_model"] and oracle.column("model").null_count != len(oracle):
        problems.append("table lacks the evolved 'model' column")
    want = inputs.oracle_fingerprint(spark, oracle)
    if any(fp != want for fp in rd["fingerprints"]):
        got = inputs.compare_select(_decrypted(rd["table"].read(spark)),
                                    rd["has_model"])
        problems.append(
            f"table fingerprints {rd['fingerprints']} != oracle {want}; "
            f"sample diff {inputs.diff_rows(spark, got, oracle)}")
    expected = inputs.oracle_rows_by_conv(
        oracle, [l["conv"] for l in rd["lookups"]])
    for l in rd["lookups"]:
        got_rows = sorted(l["rows"], key=lambda r: r[1])
        if got_rows != expected[l["conv"]]:
            problems.append(
                f"lookup {l['conv']}: {len(got_rows)} rows, oracle has "
                f"{len(expected[l['conv']])} (or payloads differ)")
    return problems


# ---------- traced replay (per-layer) ----------

def _resolver(name: str):
    from cdcrypt.operators import dedup

    return {"agg": dedup.resolve_latest_agg,
            "window": dedup.resolve_latest_window,
            "salted": dedup.resolve_latest_salted}[name]


def _materialize(df):
    df = df.persist()
    return df, df.count()


def traced_epoch(spark, pipe: IngestPipeline, epoch: int, files: list[str],
                 tracer) -> dict:
    """One epoch through the public calls ``process_epoch`` makes, with a
    persist + count at each layer boundary so each layer's work lands in
    its own span."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from cdcrypt.operators.merge import merge_upsert
    from cdcrypt.operators.transform import FieldTransform, TransformConfig
    from cdcrypt.table.lake import repartition_by_bucket

    table = pipe.table()
    aqe = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(aqe, "true")
    spark.conf.set(aqe, "false")  # as in IngestPipeline.run
    held = []
    try:
        with tracer.span("pipeline.epoch", epoch=epoch) as ep:
            with tracer.span("source.read"):
                schema = from_arrow_schema(pq.ParquetFile(files[0]).schema_arrow)
                df, rows_in = _materialize(
                    spark.read.schema(schema).parquet(*files))
                held.append(df)
            with tracer.span("lake.shuffle"):
                df, _ = _materialize(repartition_by_bucket(
                    df, pipe.bucket_count, pipe.bucket_by or pipe.key_cols[0]))
                held.append(df)
            with tracer.span("dedup.resolve"):
                df, rows_out = _materialize(_resolver(pipe.resolver)(
                    df, key_cols=list(pipe.key_cols)))
                held.append(df)
            with tracer.span("transform.encrypt"):
                df, _ = _materialize(FieldTransform(TransformConfig(
                    mode="encrypt", fields=list(pipe.encrypt_paths),
                    key_id=pipe.key_id, aad_field=pipe.aad_field,
                    kms=pipe.kms, backend=pipe.crypto_backend,
                    encoding=pipe.encrypt_encoding)).apply(df))
                held.append(df)
            if df.rdd.getNumPartitions() != pipe.bucket_count:
                raise RuntimeError("traced plan lost the bucket clustering")
            with tracer.span("merge.upsert") as mg:
                lineage = merge_upsert(
                    spark, table, df, epoch, broadcast=pipe.broadcast_merge,
                    mode=pipe.table_mode,
                    compact_threshold=pipe.compact_threshold,
                    assume_bucketed=True)
            # merge's own phase timings, laid out inside the merge span
            tm = lineage.get("timings", {})
            m = tracer.spans[mg.id]
            w = tm.get("delta_write_sec", 0) + tm.get("delta_manifest_sec", 0)
            tracer.add("merge.delta_write", m["start"], m["start"] + w, mg.id,
                       source="lineage")
            c = tm.get("commit_sec", 0)
            tracer.add("merge.commit", m["end"] - c, m["end"], mg.id,
                       source="lineage")
        ep_span = tracer.spans[ep.id]
    finally:
        spark.conf.set(aqe, prev)
        for d in held:
            d.unpersist()
    return {"rows_in": rows_in, "rows_out": rows_out, "lineage": lineage,
            "epoch_s": ep_span["end"] - ep_span["start"],
            "self_s": tracer.self_time(ep.id)}


def traced_read(spark, table_root: str, convs: list[str], tracer) -> dict:
    table = LakeTable(table_root)
    has_model = "model" in table.schema.fieldNames()
    with tracer.span("read.full"):
        with tracer.span("lake.read_plan"):
            df = table.read(spark)
        with tracer.span("lake.scan"):
            df, live = _materialize(df)
        with tracer.span("transform.decrypt"):
            dec, _ = _materialize(_decrypted(df))
        with tracer.span("check.fingerprint"):
            fp = inputs.fingerprint_of(inputs.fingerprint_agg(
                inputs.compare_select(dec, has_model)).collect()[0])
        dec.unpersist()
        df.unpersist()
    lookups, files = [], []
    for conv in convs:
        kr = {"conv_id": (conv, conv)}
        with tracer.span("read.lookup", conv=conv) as sp:
            with tracer.span("lake.read_plan"):
                files.append(len(table.files(key_range=kr)))
                df = table.read(spark, key_range=kr)
            with tracer.span("lookup.decrypt_collect"):
                rows = inputs.compare_select(_decrypted(df),
                                             has_model).collect()
        s = tracer.spans[sp.id]
        lookups.append({"conv": conv, "s": s["end"] - s["start"],
                        "rows": [tuple(r) for r in rows]})
    return {"table": table, "has_model": has_model, "fingerprints": [fp],
            "live_rows": live, "lookups": lookups, "files_per_lookup": files}


def data_keys_per_1k_rows(table: LakeTable) -> float:
    """Distinct wrapped DEKs in the envelopes of the table's data files, per
    1000 rows of those files."""
    from cdcrypt.envelope import parse_envelope

    deks, rows = set(), 0
    for f in table.snapshot["files"]:
        t = pq.read_table(os.path.join(table.root, f["path"]),
                          columns=["text", "tool"])
        rows += t.num_rows
        for col in ("text", "tool"):
            for v in t.column(col).to_pylist():
                if v is not None:
                    blob = base64.b64decode(v) if isinstance(v, str) else v
                    deks.add(parse_envelope(blob)[1])
    return 1000 * len(deks) / max(1, rows)


def envelope_us_per_row(files: list[str], n: int = 10_000,
                        reps: int = 3) -> tuple[float, float]:
    """In-process envelope encrypt/decrypt of up to ``n`` workload texts
    (AAD = conv_id), without Spark: the floor under
    transform.*_us_per_row."""
    from cdcrypt.envelope import decrypt_batch, encrypt_batch

    t = pa.concat_tables([pq.read_table(f, columns=["conv_id", "text"])
                          for f in files])
    t = t.filter(t.column("text").is_valid()).slice(0, n)
    texts = t.column("text").to_pylist()
    aad = t.column("conv_id").to_pylist()
    enc_t, dec_t = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        envs = encrypt_batch(texts, KEY_ID, aad=aad)
        enc_t.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        plain = decrypt_batch(envs, aad=aad, expect_key_id=KEY_ID,
                              dek_cache={})
        dec_t.append(time.perf_counter() - t0)
        if plain != texts:
            raise RuntimeError("envelope round trip changed the texts")
    return (1e6 * median(enc_t) / len(texts),
            1e6 * median(dec_t) / len(texts))


def traced_run(spark, workload: str, src: str, work: str, convs: list[str],
               tracer) -> dict:
    """Per-layer run: the epoch after the warm one, once untraced through
    ``run()`` (job group + lineage) and once traced, each on a copy of the
    warm table; then a traced read of the traced table."""
    epochs = list_epochs(src)
    e1 = sorted(epochs)[1]
    sc = spark.sparkContext
    troot, ckpt = _from_warm(work, "ref")
    sc.setJobGroup("perfbench-ref-epoch", "untraced reference epoch")
    t0 = time.perf_counter()
    ref = IngestPipeline(src, troot, ckpt).run(spark, max_epochs=1)[0]
    ref_s = time.perf_counter() - t0
    sc.setJobGroup("perfbench-other", "")
    jobs, tasks = group_jobs_tasks(sc, "perfbench-ref-epoch")

    troot, ckpt = _from_warm(work, "traced")
    ep = traced_epoch(spark, IngestPipeline(src, troot, ckpt), e1,
                      epochs[e1], tracer)
    rd = traced_read(spark, troot, convs, tracer)
    with tracer.span("kms.count_deks"):
        deks = data_keys_per_1k_rows(rd["table"])
    with tracer.span("envelope.bench"):
        env_enc, env_dec = envelope_us_per_row(
            [f for e in sorted(epochs) for f in epochs[e]])

    per_bucket = list(ref["rows_merged_per_bucket"].values())
    tm = ref.get("timings", {})
    enc_s = median(tracer.durations("transform.encrypt"))
    dec_s = median(tracer.durations("transform.decrypt"))
    delta_files = sum(1 for f in rd["table"].snapshot["files"]
                      if f.get("kind") == "delta" and not f.get("compacted"))
    metrics = {
        "pipeline.epoch_s": ref_s,
        "pipeline.self_s": ep["self_s"],
        "spark.jobs_per_epoch": jobs,
        "spark.tasks_per_epoch": tasks,
        "dedup.resolve_s": median(tracer.durations("dedup.resolve")),
        "dedup.rows_in": ep["rows_in"],
        "dedup.rows_out": ep["rows_out"],
        "dedup.survivor_ratio": ep["rows_out"] / ep["rows_in"],
        "lake.bucket_skew": max(per_bucket) / (sum(per_bucket) / len(per_bucket)),
        "transform.encrypt_s": enc_s,
        "transform.encrypt_us_per_row": 1e6 * enc_s / ep["rows_out"],
        "transform.decrypt_s": dec_s,
        "transform.decrypt_us_per_row": 1e6 * dec_s / max(1, rd["live_rows"]),
        "envelope.encrypt_us_per_row": env_enc,
        "envelope.decrypt_us_per_row": env_dec,
        "kms.data_keys_per_1k_rows": deks,
        "merge.delta_write_s": tm.get("delta_write_sec", 0.0)
            + tm.get("delta_manifest_sec", 0.0),
        "merge.upsert_s": median(tracer.durations("merge.upsert")),
        "lake.read_plan_s": median(tracer.durations("lake.read_plan")),
        "lake.files_per_lookup": median(rd["files_per_lookup"]),
        "lake.delta_files": delta_files,
        "lake.scan_s": median(tracer.durations("lake.scan")),
        "trace.overhead_ratio": ep["epoch_s"] / ref_s - 1,
    }
    files = [f for e in sorted(epochs) for f in epochs[e]]
    return {"metrics": metrics, "read": rd, "files": files,
            "traced_epoch_s": ep["epoch_s"], "untraced_epoch_s": ref_s}
