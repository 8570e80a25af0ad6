"""Driver contract for the spark-graft builder (PySpark target).

Maps the engine's operator inventory (SURVEY.md §2 + the training-data ops)
onto the driver-provided tables. EVERY query has a DuckDB oracle: crypto
round-trips check against the identity projection, and the
minhash/simhash/LSH family hashes with the md5-derived 60-bit family
(cdcrypt/functions/hash64.py) that DuckDB computes bit-identically, so the
oracles replicate the full candidate-generation pipelines, not just row
counts. Deeper gates (resolver equivalence, e2e replay, recall on planted
dups) live in ``tests/``.

Numeric discipline for value-hash matches: money sums use exact integer
cents/e4 arithmetic (doubles summed in different orders do NOT hash-match);
cosine sims are rounded to 4 decimals on both engines.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # memoized via _memo_df (defined below): ~90 gates re-scan the same
    # handful of small tables; one cached read per (dataset, table)
    # removes the repeated parquet-open/footer cost from the sweep
    path = f"{sf_dir}/{name}.parquet"

    def build():
        # a fingerprint MISS means the files changed (or first touch):
        # drop Spark's session-lifetime file-listing/footer cache for the
        # path, or the new plan would silently read the OLD listing — a
        # stale-data hazard that predates the memo but is now detected
        # and healed by it (tests/test_entry_memo.py)
        spark.catalog.refreshByPath(path)
        return spark.read.parquet(path)

    return _memo_df(spark, f"t:{os.path.abspath(sf_dir)}:{name}",
                    _table_fingerprint(sf_dir, name), build)


def _table_fingerprint(sf_dir: str, name: str) -> str:
    """Cheap content fingerprint of a source table for the /tmp gate-artifact
    caches: path + (file, size, mtime_ns) of every data file. Regenerating a
    dataset at the same path changes the fingerprint, so a stale index can
    never be silently reused (ADVICE r3 item 4). Pure os.stat — no Spark job."""
    import hashlib
    import os

    path = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    parts = [path]
    if os.path.isdir(path):
        for root, _dirs, files in sorted(os.walk(path)):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:16]


#: session-scoped DataFrame memo. The driver (and tools/gatecheck.py) runs
#: every gate in ONE SparkSession; several gates share identical upstream
#: subplans (the repartitioned table reads; the minhash shingle->signature->
#: band pipeline feeds EIGHT gates). Recomputing those per gate is pure
#: sweep overhead — a per-gate cost the operator doesn't have in production,
#: where the pipeline runs once. Memoized frames are .cache()'d (MEMORY_AND_
#: DISK, so a bench-scale frame spills instead of OOMing). One entry per slot
#: (what is memoized: path, name, params), stamped with the session's
#: applicationId and the source-table content fingerprints: a regenerated
#: dataset or a new session supersedes the entry instead of being served it,
#: and a superseded frame of the live session is unpersisted, not leaked.
_DF_MEMO: dict[str, tuple[tuple[str, str], DataFrame]] = {}


def _memo_df(spark: SparkSession, slot: str, fingerprint: str,
             build) -> DataFrame:
    stamp = (spark.sparkContext.applicationId, fingerprint)
    old_stamp, df = _DF_MEMO.get(slot, (None, None))
    if old_stamp != stamp:
        if old_stamp and old_stamp[0] == stamp[0]:
            df.unpersist()  # a stopped session's cache went with it
        df = build().cache()
        df.count()  # materialize once; every later consumer pays ~zero
        _DF_MEMO[slot] = (stamp, df)
    return df


def _tp(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """Read + spread across cores, memoized. The test tables are single
    small parquet files (one row group -> ONE input partition), which would
    serialize the map-side hash/shingle work onto a single core; at corpus
    scale the many-file input provides this parallelism naturally, so the
    repartition exists only at bench scale (it shuffles KBs)."""
    n = spark.sparkContext.defaultParallelism
    return _memo_df(
        spark, f"tp:{os.path.abspath(sf_dir)}:{name}:{key}",
        f"{n}:" + _table_fingerprint(sf_dir, name),
        lambda: _t(spark, sf_dir, name).repartition(n, F.col(key)))


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: field-level encrypt/decrypt round-trip (the reference SMT's
    core semantic) + text analytics over documents at sf0.001."""
    from cdcrypt.functions.text import lang_id, quality_score
    from cdcrypt.operators.transform import decrypt_fields, encrypt_fields

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    enc = encrypt_fields(docs, ["$.text"], key_id="cdcrypt/docs")
    dec = decrypt_fields(enc, ["$.text"], key_id="cdcrypt/docs")
    joined = dec.alias("d").join(
        docs.select("doc_id", F.col("text").alias("orig")).alias("o"), "doc_id"
    )
    return (
        joined.select(
            lang_id(F.col("d.text")).alias("lang_guess"),
            quality_score(F.col("d.text")).alias("q"),
            (F.col("d.text") == F.col("orig")).alias("roundtrip_ok"),
        )
        .groupBy("lang_guess")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("q"), 4).alias("avg_quality"),
            F.sum(F.when(F.col("roundtrip_ok"), 1).otherwise(0)).alias("n_roundtrip_ok"),
        )
        .orderBy("lang_guess")
    )


# --------------------------------------------------------------------------
# queries (spark side)
# --------------------------------------------------------------------------

def _q_smt_encrypt_roundtrip(spark, sf_dir):
    # O1/O4/O8/C1-C11: projection-rewrite crypto; decrypt(encrypt(x)) == x,
    # so the oracle is the identity projection.
    from cdcrypt.operators.transform import decrypt_fields, encrypt_fields

    docs = _t(spark, sf_dir, "documents")
    enc = encrypt_fields(docs, ["$.text"], key_id="cdcrypt/docs",
                         aad_field="source")
    dec = decrypt_fields(enc, ["$.text"], key_id="cdcrypt/docs",
                         aad_field="source")
    return dec.select("doc_id", "text")


def _q_smt_roundtrip_jvm(spark, sf_dir):
    # same semantics through the JVM aes_encrypt backend (crypto_jvm.py);
    # cross-backend: encrypt via builtin AES-GCM, decrypt via pandas UDF
    from cdcrypt.operators.transform import decrypt_fields, encrypt_fields

    docs = _t(spark, sf_dir, "documents")
    enc = encrypt_fields(docs, ["$.text"], key_id="cdcrypt/docs",
                         aad_field="source", backend="jvm")
    dec = decrypt_fields(enc, ["$.text"], key_id="cdcrypt/docs",
                         aad_field="source")
    return dec.select("doc_id", "text")


def _q_smt_array_wildcard(spark, sf_dir):
    # O4/O5: $.path[*] wildcard over an array column — all elements of all
    # gated rows form ONE crypto batch (one KMS wrap per Arrow batch)
    from cdcrypt.operators.transform import decrypt_fields, encrypt_fields

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.array(F.col("text"), F.col("source")).alias("vals"))
    enc = encrypt_fields(docs, ["$.vals[*]"], key_id="cdcrypt/docs")
    dec = decrypt_fields(enc, ["$.vals[*]"], key_id="cdcrypt/docs")
    return dec.select(
        "doc_id",
        F.col("vals")[0].alias("text"),
        F.col("vals")[1].alias("source"),
    )


def _q_smt_array_struct_wildcard(spark, sf_dir):
    # O4/O5 mid-path arrays (r4): $.path[*].field over an array of STRUCTS —
    # the reference's nested-Debezium shape (README.md:142-148 positional
    # operators, TransformTest.java:43-49 nested fixture). Leaves are
    # extracted with F.transform, cryptoed as ONE batch, zipped back via
    # withField — sibling struct fields untouched.
    from cdcrypt.operators.transform import decrypt_fields, encrypt_fields

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array(
            F.struct(F.col("text").alias("t"), F.col("source").alias("s")),
            F.struct(F.col("source").alias("t"), F.col("text").alias("s")),
        ).alias("turns"))
    enc = encrypt_fields(docs, ["$.turns[*].t"], key_id="cdcrypt/docs")
    dec = decrypt_fields(enc, ["$.turns[*].t"], key_id="cdcrypt/docs")
    return dec.select(
        "doc_id",
        F.col("turns")[0]["t"].alias("text"),
        F.col("turns")[0]["s"].alias("source"),
        F.col("turns")[1]["t"].alias("source2"),
    )


def _q_smt_nested_array_crypto(spark, sf_dir):
    # O4/O5 NESTED array segments (r4 cont.): $.turns[*].tool_calls[*].args
    # — the transcript tool-call shape (a Debezium payload with tool calls
    # inside turns). Leaves gather as array<array<string>> into ONE crypto
    # batch (flatten/regroup inside the pandas UDF — span-exact for ragged
    # and null inner arrays), write back via nested transform/withField,
    # siblings untouched. Round-trip must be the identity.
    from cdcrypt.operators.transform import decrypt_fields, encrypt_fields

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("user").alias("role"),
                F.array(
                    F.struct(F.lit("search").alias("name"),
                             F.col("text").alias("args")),
                    F.struct(F.lit("fetch").alias("name"),
                             F.col("source").alias("args")),
                ).alias("tool_calls")),
            F.struct(
                F.lit("tool").alias("role"),
                F.array(
                    F.struct(F.lit("calc").alias("name"),
                             F.col("source").alias("args")),
                ).alias("tool_calls")),
        ).alias("turns"))
    path = ["$.turns[*].tool_calls[*].args"]
    enc = encrypt_fields(docs, path, key_id="cdcrypt/docs")
    dec = decrypt_fields(enc, path, key_id="cdcrypt/docs")
    return dec.select(
        "doc_id",
        F.col("turns")[0]["tool_calls"][0]["args"].alias("text"),
        F.col("turns")[0]["tool_calls"][1]["args"].alias("source"),
        F.col("turns")[1]["tool_calls"][0]["args"].alias("source2"),
        F.col("turns")[1]["role"].alias("role2"),
    )


def _q_smt_key_rotation(spark, sf_dir):
    # C12 key rotation as the AWS Encryption SDK models it: rotating the
    # MASTER key only re-wraps each envelope's data key (header splice,
    # payload AES-GCM untouched, O(distinct DEKs) KMS work —
    # envelope.rewrap_batch). encrypt(k1) -> rewrap(k2) -> decrypt
    # verifying k2 must be the identity; a rewrap that corrupts the
    # payload, loses the AAD binding, or skips rows hash-mismatches.
    from cdcrypt.operators.transform import (
        decrypt_fields, encrypt_fields, rewrap_fields,
    )

    docs = _t(spark, sf_dir, "documents")
    enc = encrypt_fields(docs, ["$.text"], key_id="cdcrypt/old",
                         aad_field="source")
    rot = rewrap_fields(enc, ["$.text"], "cdcrypt/new")
    dec = decrypt_fields(rot, ["$.text"], key_id="cdcrypt/new",
                         aad_field="source")
    return dec.select("doc_id", "text")


def _q_smt_crypto_shred(spark, sf_dir):
    # Crypto-shredding (r4): a shreddable column gets one data key per
    # (batch x distinct aad identity), wrapped under KMS context
    # {'shred': <identity>} — so revoking ONE identity's key material
    # erases its rows from an immutable lake (GDPR) while the ciphertext
    # bytes stay put. Here the 'src3' identity is revoked between write
    # and read (two KMS instances: the write-side KMS never saw the
    # revocation — plans are lazy, and a real revocation happens after
    # the data is at rest); the revoked_to_null read surfaces its rows
    # as NULLs and decrypts every other identity intact, which is
    # exactly the CASE expression the oracle predicts from plaintext.
    from cdcrypt.kms import MockKMS
    from cdcrypt.operators.transform import decrypt_fields, encrypt_fields

    docs = _t(spark, sf_dir, "documents")
    enc = encrypt_fields(docs, ["$.text"], key_id="cdcrypt/docs",
                         kms=MockKMS(), aad_field="source",
                         shreddable=True)
    kms_read = MockKMS()
    kms_read.revoke("cdcrypt/docs", {"shred": "src3"})
    dec = decrypt_fields(enc, ["$.text"], key_id="cdcrypt/docs",
                         kms=kms_read, aad_field="source",
                         shreddable=True, revoked_to_null=True)
    return dec.select("doc_id", "text", "source")


def _q_smt_dlq_tolerance(spark, sf_dir):
    # Error tolerance + dead-letter routing (r4): Kafka Connect
    # errors.tolerance=all/DLQ semantics, which the reference SMT inherits
    # from its runtime — this engine owns the runtime, so it owns the
    # tolerance. Rows with doc_id % 37 == 0 get their envelope poisoned
    # (invalid base64) after encrypt; the on_error='dlq' decrypt yields
    # NULL + a typed error entry for exactly those rows instead of failing
    # the task, and decrypts every other row intact — the CASE/flag pair
    # the oracle predicts from plaintext.
    from cdcrypt.operators.transform import ERROR_COL, decrypt_fields, \
        encrypt_fields

    docs = _t(spark, sf_dir, "documents")
    enc = encrypt_fields(docs, ["$.text"], key_id="cdcrypt/docs")
    poison = F.col("doc_id") % 37 == 0
    enc = enc.withColumn(
        "text", F.when(poison, F.concat(F.lit("!poison!"), F.col("text")))
                 .otherwise(F.col("text")))
    dec = decrypt_fields(enc, ["$.text"], key_id="cdcrypt/docs",
                         on_error="dlq")
    return dec.select(
        "doc_id", "text",
        (F.size(F.col(ERROR_COL)) > 0).alias("quarantined"))


def _q_smt_parse_dlq(spark, sf_dir):
    # Converter-stage error tolerance (r4): Connect errors.tolerance=all
    # for records the JSON converter itself rejects — one stage BEFORE the
    # SMT-level smt_dlq_tolerance. Rows with doc_id % 41 == 0 get their
    # payload BYTES corrupted pre-transform; on_parse_error='dlq' carries
    # them byte-unchanged through encrypt AND decrypt with an ERROR_COL
    # entry while every clean row round-trips. The final extraction sees
    # null fields for the corrupt payloads — the CASE/flag pair the
    # oracle predicts from plaintext.
    from cdcrypt.operators.schemaless import (
        decrypt_json_payload, encrypt_json_payload,
    )
    from cdcrypt.operators.transform import ERROR_COL

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.to_json(F.struct("text", "source"),
                  {"ignoreNullFields": "false"}).alias("payload"))
    corrupt = F.col("doc_id") % 41 == 0
    raw = docs.withColumn(
        "payload",
        F.when(corrupt, F.concat(F.lit("!{"), F.col("payload")))
         .otherwise(F.col("payload")))
    schema = "text string, source string"
    enc = encrypt_json_payload(raw, "payload", schema, ["$.text"],
                               key_id="cdcrypt/docs", on_parse_error="dlq")
    dec = decrypt_json_payload(enc.drop(ERROR_COL), "payload", schema,
                               ["$.text"], key_id="cdcrypt/docs",
                               on_parse_error="dlq")
    p = F.from_json("payload", schema)
    return dec.select(
        "doc_id",
        p.getField("text").alias("text"),
        (F.size(F.col(ERROR_COL)) > 0).alias("quarantined"))


def _q_smt_conditional_crypto(spark, sf_dir):
    # O6 through the crypto path: only source='src3' rows are encrypted
    # (then decrypted back); others pass through untouched — round-trip
    # identity either way, which is exactly what the oracle checks
    from cdcrypt.operators.transform import decrypt_fields, encrypt_fields

    docs = _t(spark, sf_dir, "documents")
    enc = encrypt_fields(docs, ["$.text"], key_id="cdcrypt/docs",
                         condition_field="$.source", condition_equals="src3")
    dec = decrypt_fields(enc, ["$.text"], key_id="cdcrypt/docs",
                         condition_field="$.source", condition_equals="src3")
    return dec.select("doc_id", "text", "source")


def _q_smt_mask_field(spark, sf_dir):
    # MaskField-family SMT (operators/masking.py): regex-redact digits from
    # gated rows only — pure Column (regexp_replace inside whole-stage
    # codegen), zero Python, non-matching rows byte-identical
    from cdcrypt.operators.masking import mask_fields

    docs = _t(spark, sf_dir, "documents")
    out = mask_fields(docs, ["$.text"], regex="[0-9]+", replacement="#",
                      condition_field="$.source", condition_equals="src3")
    return out.select("doc_id", "text", "source")


def _q_smt_hash_field(spark, sf_dir):
    # Hash pseudonymization SMT: salted sha256 is deterministic, so the
    # hashed column still GROUPS — the query groups ON the pseudonym and the
    # oracle reproduces the digest with DuckDB's sha256 over the identical
    # salt|value preimage (cross-engine hex equality)
    from cdcrypt.operators.masking import hash_fields

    docs = _t(spark, sf_dir, "documents")
    h = hash_fields(docs, ["$.source"], salt="gate")
    return (h.groupBy(F.col("source").alias("source_h"))
             .agg(F.count("*").alias("n"))
             .select("source_h", "n"))


def _q_smt_connect_chain(spark, sf_dir):
    # Stock Connect SMT chain (operators/smtlib.py): from_json promote ->
    # Flatten -> Cast -> TimestampConverter (string + unix forms) ->
    # ReplaceField rename -> InsertField static -> MaskField literal.
    # Seven chained stages fuse into ONE Catalyst projection (plan-asserted
    # in tests/test_smtlib.py) — the oracle recomputes each stage in SQL.
    from cdcrypt.operators.smtlib import compile_smt_chain

    ev = (_t(spark, sf_dir, "events")
          .withColumn("props", F.from_json("props", "k int"))
          .withColumn("ts2", F.col("ts")))
    chain = compile_smt_chain([
        {"type": "Flatten", "delimiter": "_"},
        {"type": "Cast", "spec": "user_id:int32"},
        {"type": "TimestampConverter", "field": "ts",
         "target.type": "string", "format": "yyyy-MM-dd HH:mm:ss"},
        {"type": "TimestampConverter", "field": "ts2",
         "target.type": "unix", "unix.precision": "milliseconds"},
        {"type": "ReplaceField", "renames": "event_type:etype,ts2:ts_ms"},
        {"type": "InsertField", "static.field": "dc", "static.value": "dc1"},
        {"type": "MaskField", "fields": "value", "replacement": "0"},
    ])
    return chain.apply(ev).select(
        "event_id", "etype", "props_k", "ts", "ts_ms", "dc", "user_id",
        "value")


def _q_range_join_assign(spark, sf_dir):
    # bucketed range join (operators/rangejoin.py): every event falling in
    # any 10-minute incident window opened by a sampled error event. The
    # naive non-equi formulation is a nested-loop/cartesian plan; the
    # operator bins time (bin >= window, ENFORCED at execution), replicates
    # each interval to <=2 bins, equi-joins on the bin, and re-checks the
    # half-open range on full-precision timestamps — shuffle is linear in
    # rows, no cross product (plan-asserted in tests/test_rangejoin.py).
    from cdcrypt.operators.rangejoin import range_join

    ev = _t(spark, sf_dir, "events")
    intervals = (ev.where((F.col("event_type") == "error")
                          & (F.col("event_id") % 20 == 0))
                 .select(F.col("event_id").alias("incident_id"),
                         F.col("ts").alias("start"),
                         (F.col("ts") + F.expr("INTERVAL 10 MINUTES")
                          ).alias("end")))
    pairs = range_join(ev.select("event_id", "ts"), intervals,
                       point_ts="ts", bin_seconds=600)
    return pairs.select("incident_id", "event_id")


def _q_range_join_hot(spark, sf_dir):
    # hot-bin salting (VERDICT r4 item 7): a third of all points are
    # re-timestamped into ONE 9-minute burst (a flash-crowd minute), which
    # lands them in 1-2 time bins — the exact skew that pins a single
    # reducer in the unsalted plan. salt_k=8 splits each bin's point
    # population into 8 sub-partitions (hash of the point ts) and
    # replicates the interval side to all of them; results are identical
    # to the unsalted oracle (salting never changes semantics, only the
    # exchange's key cardinality — tests/test_rangejoin.py asserts both).
    from cdcrypt.operators.rangejoin import range_join

    ev = _t(spark, sf_dir, "events")
    hot = F.lit("2030-01-01 00:00:00").cast("timestamp")
    pts = ev.select(
        "event_id",
        F.when(F.col("event_id") % 3 == 0,
               F.timestamp_add("SECOND",
                               (F.col("event_id") % 540).cast("int"), hot))
        .otherwise(F.col("ts").cast("timestamp")).alias("ts"))
    iv = (ev.where((F.col("event_type") == "error")
                   & (F.col("event_id") % 20 == 0))
          .select(F.col("event_id").alias("incident_id"),
                  F.col("ts").cast("timestamp").alias("start"),
                  (F.col("ts") + F.expr("INTERVAL 10 MINUTES"))
                  .cast("timestamp").alias("end"))
          .unionByName(spark.range(1).select(
              F.lit(-1).cast("long").alias("incident_id"),
              hot.alias("start"),
              F.timestamp_add("MINUTE", F.lit(10), hot).alias("end"))))
    pairs = range_join(pts, iv, point_ts="ts", bin_seconds=600, salt_k=8)
    return pairs.select("incident_id", "event_id")


def _q_smt_header_predicate(spark, sf_dir):
    # Connect record headers (ordered multimap as array<struct<key,value>>)
    # + predicate-gated SMT application (operators/smtlib.py): InsertHeader
    # -> HeaderFrom copy -> FieldEquals-gated MaskField -> FieldEquals-gated
    # InsertHeader -> DropHeaders. Non-matching rows pass through UNMODIFIED
    # (per-column CASE WHEN over pre-stage values); the whole gated chain is
    # still ONE fused projection (plan-asserted in tests/test_smtlib.py).
    # Headers render as 'k=v;k=v' in construction order for the value hash.
    from cdcrypt.operators.smtlib import compile_smt_chain

    ev = _t(spark, sf_dir, "events")
    chain = compile_smt_chain([
        {"type": "InsertHeader", "header": "src", "value.literal": "cdc"},
        {"type": "HeaderFrom", "fields": "event_type",
         "headers": "etype", "operation": "copy"},
        {"type": "MaskField", "fields": "props", "replacement": "***",
         "predicate": {"type": "FieldEquals", "field": "event_type",
                       "equals": "error"}},
        {"type": "InsertHeader", "header": "err", "value.literal": "1",
         "predicate": {"type": "FieldEquals", "field": "event_type",
                       "equals": "error"}},
        {"type": "DropHeaders", "headers": "src"},
    ])
    return chain.apply(ev).select(
        "event_id", "event_type", "props",
        F.concat_ws(";", F.transform(
            "_headers",
            lambda h: F.concat_ws("=", h["key"], h["value"]),
        )).alias("headers"))


def _q_smt_regex_router(spark, sf_dir):
    # Routing/key SMTs: HoistField+ExtractField identity, ValueToKey,
    # RegexRouter (whole-match gate), TimestampRouter daily expansion,
    # Filter predicate — then a per-topic rollup so the oracle checks the
    # routed topic strings and the key column end-to-end
    from cdcrypt.operators.smtlib import compile_smt_chain

    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("db.srv."), "event_type").alias("_topic"),
        F.col("ts").alias("_ts"), "event_id", "user_id", "event_type")
    chain = compile_smt_chain([
        {"type": "HoistField", "field": "payload"},
        {"type": "ExtractField", "field": "payload"},
        {"type": "ValueToKey", "fields": "user_id"},
        {"type": "Filter", "topic.regex": "db\\.srv\\.(click|view)",
         "negate": "true"},
        {"type": "RegexRouter", "regex": "db\\.srv\\.(.*)",
         "replacement": "cdc-$1"},
        {"type": "TimestampRouter", "topic.format": "${topic}-${timestamp}",
         "timestamp.format": "yyyyMMdd"},
    ])
    out = chain.apply(ev)
    return (out.groupBy(F.col("_topic").alias("topic"))
               .agg(F.count("*").alias("n"),
                    F.sum(F.col("_key.user_id")).alias("key_sum"))
               .select("topic", "n", "key_sum"))


def _q_smt_outbox_route(spark, sf_dir):
    # Debezium outbox pattern (smtlib EventRouter): an outbox-table shape
    # synthesized from orders routes to per-aggregate topics, key from the
    # aggregate id, payload passthrough, one placement alias — the whole
    # expansion is a single fused projection
    from cdcrypt.operators.smtlib import compile_smt_chain

    ob = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderstatus") == "O", "order")
         .otherwise("shipment").alias("aggregatetype"),
        F.concat(F.lit("agg-"), F.col("o_custkey")).alias("aggregateid"),
        F.lit("OrderEvent").alias("type"),
        F.concat(F.lit('{"o_orderkey":'), F.col("o_orderkey"),
                 F.lit("}")).alias("payload"))
    out = compile_smt_chain([{
        "type": "EventRouter",
        "fields.additional.placement": "type:envelope:eventType",
    }]).apply(ob)
    return out.select(F.col("_topic").alias("topic"),
                      F.col("_key.aggregateid").alias("key"),
                      "payload", "eventType")


def _q_smt_schemaless_roundtrip(spark, sf_dir):
    # O3 schemaless Map mode as an engine API (Transform.java:63-69):
    # JSON-string payload -> from_json promote -> FieldTransform -> to_json
    # repack; the oracle checks the extracted fields against the originals
    from cdcrypt.operators.schemaless import (
        decrypt_json_payload, encrypt_json_payload,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.to_json(F.struct("text", "source"),
                  {"ignoreNullFields": "false"}).alias("payload"))
    schema = "text string, source string"
    enc = encrypt_json_payload(docs, "payload", schema, ["$.text"],
                               key_id="cdcrypt/docs")
    dec = decrypt_json_payload(enc, "payload", schema, ["$.text"],
                               key_id="cdcrypt/docs")
    p = F.from_json("payload", schema)
    return dec.select(
        "doc_id",
        p.getField("text").alias("text"),
        p.getField("source").alias("source"),
    )


def _q_smt_asym_roundtrip(spark, sf_dir):
    # C9/C10: RSA-OAEP-wrapped DEKs — public key fetched once at compile,
    # encrypt fully local, decrypt unwraps via the (mock) KMS private key
    from cdcrypt.kms import MockKMS
    from cdcrypt.operators.transform import decrypt_fields, encrypt_fields

    kms = MockKMS()  # shared: the RSA pair lives in the KMS instance
    docs = _t(spark, sf_dir, "documents")
    enc = encrypt_fields(docs, ["$.text"], key_id="cdcrypt/asym", kms=kms,
                         asymmetric=True)
    dec = decrypt_fields(enc, ["$.text"], key_id="cdcrypt/asym", kms=kms)
    return dec.select("doc_id", "text")


def _q_det_key_groupby(spark, sf_dir):
    # C4/O11: CONVERGENT encryption of a key column — the groupBy below
    # runs ON CIPHERTEXT (equality survives encryption; Vault derived-key
    # semantics), then the key decrypts back for the oracle compare
    from cdcrypt.operators.transform import decrypt_fields, encrypt_fields

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_key"), "event_id")
    enc = encrypt_fields(ev, ["$.user_key"], key_id="cdcrypt/keys",
                         deterministic=True)
    grouped = enc.groupBy("user_key").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("event_id").alias("max_event_id"),
    )
    return decrypt_fields(grouped, ["$.user_key"], key_id="cdcrypt/keys")


def _q_condition_gate(spark, sf_dir):
    # O6 as pure SQL: per-row branch, non-matching rows unmodified
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("event_type") == "click", F.round(F.col("value") * 2, 6))
        .otherwise(F.round(F.col("value"), 6))
        .alias("value_out"),
    )


def _q_cdc_window_dedup(spark, sf_dir):
    # P4: window row_number dedup — latest event per (user_id, event_type)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", F.round("value", 6).alias("value"))
    )


def _q_cdc_last_writer_wins(spark, sf_dir):
    # LWW resolution via max_by (map-side combine form used by the engine)
    ev = _t(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.max_by(F.col("event_id"), ordk).alias("last_event_id"),
        F.round(F.max_by(F.col("value"), ordk), 6).alias("last_value"),
    )


def _q_cdc_merge_full_outer(spark, sf_dir):
    # P5 merge-as-join: state (even event ids) full-outer changes (odd),
    # change wins — the MERGE upsert shape on neutral tables
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def latest(side):
        return (
            side.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_type", "event_id", "value")
        )

    state = latest(ev.where(F.col("event_id") % 2 == 0))
    change = latest(ev.where(F.col("event_id") % 2 == 1))
    j = state.alias("t").join(change.alias("b"), ["user_id", "event_type"], "full_outer")
    return j.select(
        "user_id", "event_type",
        F.coalesce(F.col("b.event_id"), F.col("t.event_id")).alias("event_id"),
        F.round(F.coalesce(F.col("b.value"), F.col("t.value")), 6).alias("value"),
    )


def _q_cdc_reconcile(spark, sf_dir):
    # P1/P5 extension (round 4): source-vs-lake anti-entropy repair
    # (operators/reconcile.py — Debezium ad-hoc incremental snapshot /
    # DBLog re-read semantics). Stale lake state = LWW over events that
    # skipped every event_id % 4 == 3 delivery; fresh source snapshot =
    # LWW over ALL events minus keys deleted at the source (user_id %
    # 11 == 3). reconcile_events must emit exactly the corrective set:
    # 'U' with the snapshot after-image for missing/drifted keys, 'D'
    # for keys the source no longer has — at the snapshot watermark.
    # The oracle recomputes both states and diffs them with a full
    # outer join; a fingerprint that misses a null shift, leaks an
    # unchanged key, or misclassifies a side hash-mismatches.
    from cdcrypt.operators.reconcile import reconcile_events

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())

    def latest(side):
        return (side.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("user_id", "event_type", "event_id",
                        F.round("value", 6).alias("value")))

    stale = latest(ev.where(F.col("event_id") % 4 != 3))
    snap = latest(ev).where(F.col("user_id") % 11 != 3)
    return reconcile_events(stale, snap, ["user_id", "event_type"],
                            op_seq=1000, epoch=9)


def _q_cdc_stream_audit(spark, sf_dir):
    # Stream integrity audit (operators/audit.py): op/seq derived
    # deterministically from events (op by event_id % 5, position by
    # event_id % 97 so busy keys collide into redeliveries/conflicts),
    # then classified per (key, position, kind). The oracle replicates
    # the taxonomy with a GROUP BY + lag window; a fingerprint that
    # confuses epoch with payload, a nondeterministic conflict
    # representative, or a missed transition hash-mismatches.
    from cdcrypt.operators.audit import audit_changes

    ev = _t(spark, sf_dir, "events")
    changes = ev.select(
        "user_id", "event_type",
        F.when(F.col("event_id") % 5 == 0, F.lit("I"))
        .when(F.col("event_id") % 5 == 4, F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        (F.col("event_id") % 97).cast("long").alias("op_seq"),
        (F.col("event_id") % 3).cast("long").alias("epoch"),
        F.col("value"),
    )
    return audit_changes(changes, ["user_id", "event_type"],
                         payload_cols=["value"])


def _q_cdc_partial_update(spark, sf_dir):
    # P5 extension (round 4): per-column last-writer-wins resolution
    # (merge_engine='partial', the Paimon partial-update analogue —
    # cdcrypt/operators/dedup.py resolve_partial_agg). Event stream
    # derived deterministically from `events`: op_seq = event_id (unique),
    # deletes every 19th id, column `a` set on even ids, column `b` on
    # ids divisible by 3 — so most resolved rows coalesce setters from
    # DIFFERENT events, and delete cutoffs null pre-delete setters.
    from cdcrypt.operators.dedup import resolve_partial_agg

    ev = _t(spark, sf_dir, "events")
    is_del = F.col("event_id") % 19 == 0
    e = ev.select(
        F.when(is_del, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        "user_id", "event_type",
        F.col("event_id").alias("op_seq"),
        F.lit(0).cast("long").alias("epoch"),
        F.when(~is_del & (F.col("event_id") % 2 == 0),
               F.round("value", 6)).alias("a"),
        F.when(~is_del & (F.col("event_id") % 3 == 0),
               F.col("props")).alias("b"),
    )
    out = resolve_partial_agg(e, key_cols=["user_id", "event_type"])
    return out.where(F.col("op") != "D").select(
        "user_id", "event_type", "a", "b", "op_seq")


def _q_cdc_aggregate_engine(spark, sf_dir):
    # P5 extension (round 4): aggregation merge engine — per-column folds
    # with delete-reset semantics (cdcrypt/operators/dedup.py
    # resolve_aggregate; merge_engine='aggregate'). Derived stream:
    # op_seq = event_id, deletes every 23rd id; v_sum sums exact integer
    # millis (float-accumulation-order safe for the hash compare), v_max
    # maxes even-id values, tag keeps the latest props on ids % 3 == 0.
    from cdcrypt.operators.dedup import resolve_aggregate

    ev = _t(spark, sf_dir, "events")
    is_del = F.col("event_id") % 23 == 0
    e = ev.select(
        F.when(is_del, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        "user_id", "event_type",
        F.col("event_id").alias("op_seq"),
        F.lit(0).cast("long").alias("epoch"),
        F.when(~is_del,
               F.round(F.col("value") * 1000).cast("long")).alias("v_sum"),
        F.when(~is_del & (F.col("event_id") % 2 == 0),
               F.round("value", 6)).alias("v_max"),
        F.when(~is_del & (F.col("event_id") % 3 == 0),
               F.col("props")).alias("tag"),
    )
    out = resolve_aggregate(
        e, {"v_sum": "sum", "v_max": "max", "tag": "last_non_null"},
        key_cols=["user_id", "event_type"])
    return out.where(F.col("op") != "D").select(
        "user_id", "event_type", "v_sum", "v_max", "tag", "op_seq")


def _q_cdc_multi_table(spark, sf_dir):
    # multi-table fan-out (operators/multitable.py): ONE derived change
    # stream routed into two differently-shaped, differently-keyed lake
    # tables in one pass (even ids -> 'clicks' keyed (user_id, event_type),
    # odd ids -> 'views' keyed (user_id)); output is the union of both
    # final table states. Oracle: two LWW branches UNION ALL in DuckDB.
    import tempfile

    from cdcrypt.operators.multitable import TableRoute, apply_multi
    from cdcrypt.table.lake import LakeTable
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    ev = _t(spark, sf_dir, "events")
    is_del = F.col("event_id") % 13 == 0
    stream = ev.select(
        F.when(F.col("event_id") % 2 == 0, F.lit("clicks"))
        .otherwise(F.lit("views")).alias("table"),
        F.when(is_del, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("event_id").alias("op_seq"),
        F.lit(0).cast("long").alias("epoch"),
        "user_id", "event_type",
        F.when(~is_del, F.round("value", 6)).alias("value"),
        F.when(~is_del, F.col("props")).alias("props"),
    )
    clicks_schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("op_seq", LongType()),
    ])
    views_schema = StructType([
        StructField("user_id", LongType()),
        StructField("props", StringType()),
        StructField("op_seq", LongType()),
    ])
    root = tempfile.mkdtemp(prefix="cdcrypt_multi_")
    routes = {
        "clicks": TableRoute(LakeTable.create(
            f"{root}/clicks", clicks_schema, bucket_count=8,
            bucket_by="user_id", key_cols=("user_id", "event_type"))),
        "views": TableRoute(LakeTable.create(
            f"{root}/views", views_schema, bucket_count=8,
            bucket_by="user_id", key_cols=("user_id",))),
    }
    apply_multi(spark, stream, routes, epoch=0)
    cl = routes["clicks"].table.read(spark).select(
        F.lit("clicks").alias("tbl"), "user_id", "event_type", "value",
        F.lit(None).cast("string").alias("props"))
    vw = routes["views"].table.read(spark).select(
        F.lit("views").alias("tbl"), "user_id",
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("double").alias("value"), "props")
    return cl.unionByName(vw)


def _q_cdc_scd2_history(spark, sf_dir):
    # P5 extension: SCD Type 2 history resolution (operators/scd2.py) —
    # one interval row per (key, version), deletes close without reopening.
    # Derived stream: key (user_id, event_type), op_seq = event_id
    # (unique), deletes every 17th id. Oracle: lead() window in DuckDB.
    from cdcrypt.operators.scd2 import scd2_resolve

    ev = _t(spark, sf_dir, "events")
    is_del = F.col("event_id") % 17 == 0
    e = ev.select(
        F.when(is_del, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        "user_id", "event_type",
        F.col("event_id").alias("op_seq"),
        F.when(~is_del, F.round("value", 6)).alias("value"),
    )
    out = scd2_resolve(e, key_cols=["user_id", "event_type"])
    return out.select("user_id", "event_type", "value",
                      "valid_from_seq", "valid_to_seq", "is_current")


def _q_cdc_scd2_asof(spark, sf_dir):
    # as-of read over the same history: latest state at the mid-sequence
    # point, with SCD2 gaps (deleted keys) absent. The point is derived
    # from the data (max event_id / 2) so the gate is sf-independent.
    from cdcrypt.operators.scd2 import scd2_as_of, scd2_resolve

    ev = _t(spark, sf_dir, "events")
    point = ev.agg(F.max("event_id")).first()[0] // 2
    is_del = F.col("event_id") % 17 == 0
    e = ev.select(
        F.when(is_del, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        "user_id", "event_type",
        F.col("event_id").alias("op_seq"),
        F.when(~is_del, F.round("value", 6)).alias("value"),
    )
    hist = scd2_resolve(e, key_cols=["user_id", "event_type"])
    return scd2_as_of(hist, point).select(
        "user_id", "event_type", "value", "valid_from_seq")


def _q_asof_join_enrich(spark, sf_dir):
    # Temporal enrichment (operators/asof.py): each click event picks up
    # the user's latest purchase at or before it — pandas merge_asof /
    # DuckDB ASOF JOIN semantics, implemented as ONE union + keyed-window
    # pass (no join node in the plan; hot keys cannot cross-product).
    # Oracle: DuckDB's native ASOF LEFT JOIN — an independent engine
    # implementation, so a window-ordering or side-marker bug mismatches.
    from cdcrypt.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    facts = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("seq"),
        F.round("value", 6).alias("click_value"))
    dims = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("vseq"),
        F.round("value", 6).alias("purchase_value"))
    return asof_join(
        facts, dims, key_cols=["user_id"], on="seq", right_on="vseq",
        payload_cols=["purchase_value"], matched_col="purchase_seq")


def _mor_table_for(spark, sf_dir, tag="mor", compact_threshold=999,
                   require_delta=True, bloom_cols=(), epoch_by="op_seq",
                   bucket_count=8):
    """The shared MoR lake artifact for the cdc_* lake-read gates: three
    event epochs (op_seq % 3) applied as MoR delta appends. The default
    variant keeps every file an uncompacted delta (compact_threshold
    high); tag='morc' builds the compacting variant (threshold 2) whose
    snapshots mix deltas with compaction-produced base rewrites. Cached
    per source fingerprint with a torn-build guard; versions are
    create=v1 then one snapshot per committed epoch 0/1/2."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
        TimestampType,
    )

    from cdcrypt.operators.dedup import resolve_latest_agg
    from cdcrypt.operators.merge import merge_upsert
    from cdcrypt.table.lake import LakeTable, LakeTableNotFound

    key = hashlib.md5(
        (os.path.abspath(sf_dir) + f":{tag}:"
         + _table_fingerprint(sf_dir, "events")).encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"cdcrypt_{tag}_{key}")
    schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("op_seq", LongType()),
        StructField("value", DoubleType()),
        StructField("ts", TimestampType()),
    ])
    try:
        table = LakeTable(root)
        if table.committed_epoch < 2:  # torn build from a crashed run
            raise LakeTableNotFound(root)
    except LakeTableNotFound:
        import shutil
        shutil.rmtree(root, ignore_errors=True)
        table = LakeTable.create(root, schema, bucket_count=bucket_count,
                                 bucket_by="user_id",
                                 key_cols=["user_id", "event_type"],
                                 bloom_cols=tuple(bloom_cols))
        ev = _t(spark, sf_dir, "events").select(
            F.lit("U").alias("op"),
            F.col("user_id").cast("long").alias("user_id"),
            "event_type",
            F.col("event_id").cast("long").alias("op_seq"),
            F.col("value").cast("double").alias("value"),
            "ts")
        for e in range(3):
            batch = (ev.where(F.pmod(F.col(epoch_by), F.lit(3)) == e)
                     .withColumn("epoch", F.lit(e).cast("long")))
            merge_upsert(
                spark, table,
                resolve_latest_agg(batch,
                                   key_cols=["user_id", "event_type"]),
                epoch=e, mode="mor", compact_threshold=compact_threshold)
        if require_delta:
            assert any(f.get("kind") == "delta"
                       for f in table.snapshot["files"]), \
                "MoR gate needs deltas"
        else:
            assert any(f.get("kind", "base") == "base"
                       for f in table.snapshot["files"]), \
                "compacting gate needs compaction-produced base files"
    return table


def _mor_version_at_epoch(table, epoch):
    """Snapshot version whose committed_epoch == epoch (P8 lineage walk)."""
    for v in range(1, table.version + 1):
        if table.snapshot_at(v)["committed_epoch"] == epoch:
            return v
    raise AssertionError(f"no snapshot committed epoch {epoch}")


def _q_cdc_merge_mor_read(spark, sf_dir):
    # P5 merge-on-read, gated end-to-end through the REAL lake artifact
    # (VERDICT r3 item 6): table.read() resolves base+delta
    # last-writer-wins per (user_id, event_type) — the oracle is the same
    # LWW over the raw events, so a wrong delta union/resolve/delete path
    # hash-mismatches. The gated work is the MoR READ path.
    table = _mor_table_for(spark, sf_dir)
    return table.read(spark).select(
        "user_id", "event_type",
        F.col("op_seq").alias("event_id"),
        F.round("value", 6).alias("value"))


def _q_cdc_time_travel(spark, sf_dir):
    # P7/P8 time travel, gated through the same artifact: read the table AS
    # OF the snapshot that committed epoch 1 (version resolved by walking
    # the snapshot lineage, the engine's own metadata — not a hardcoded
    # number). Oracle: LWW over only the epoch-0/1 raw events — a reader
    # that leaks epoch-2 files into an old snapshot, or loses epoch-0 base
    # rows, hash-mismatches.
    table = _mor_table_for(spark, sf_dir)
    v = _mor_version_at_epoch(table, 1)
    return table.read(spark, version=v).select(
        "user_id", "event_type",
        F.col("op_seq").alias("event_id"),
        F.round("value", 6).alias("value"))


def _q_cdc_changelog(spark, sf_dir):
    # P8 CDC-out with RESOLVED before/after images (round 4:
    # LakeTable.read_changelog — Delta CDF / Paimon changelog semantics):
    # diff the epoch-1 snapshot against the final one. Keys whose LWW
    # winner is an epoch-2 event (op_seq % 3 == 2) emit update (or insert
    # if ALL their events are epoch-2); unchanged keys emit nothing. The
    # oracle recomputes both endpoint states from the raw events and
    # diffs them — an engine that misses a bucket, leaks an unchanged
    # key, or serves a stale before-image hash-mismatches.
    table = _mor_table_for(spark, sf_dir)
    v1 = _mor_version_at_epoch(table, 1)
    cl = table.read_changelog(spark, v1)
    return cl.select(
        "user_id", "event_type", "change_op",
        F.round(F.col("before.value"), 6).alias("before_value"),
        F.col("before.op_seq").alias("before_seq"),
        F.round(F.col("after.value"), 6).alias("after_value"),
        F.col("after.op_seq").alias("after_seq"))


def _q_cdc_compacted_read(spark, sf_dir):
    # P5 compaction equivalence: the same three epochs applied with
    # compact_threshold=2, so commits rewrite deep buckets into base files
    # mid-stream. read() over the mixed base+delta layout must equal the
    # delta-only table's LWW — same oracle as cdc_merge_mor_read; a
    # compaction that loses rows, resurrects deletes, or double-counts a
    # rewritten delta hash-mismatches.
    table = _mor_table_for(spark, sf_dir, tag="morc", compact_threshold=2,
                           require_delta=False)
    return table.read(spark).select(
        "user_id", "event_type",
        F.col("op_seq").alias("event_id"),
        F.round("value", 6).alias("value"))


def _q_cdc_incremental_read(spark, sf_dir):
    # P1-out (CDC change feed): read_incremental over (v@epoch0, v@epoch1]
    # returns exactly the delta rows snapshot-committed in that range —
    # epoch 1's resolved batch with its (op, epoch) change metadata.
    # Runs against the COMPACTING variant: epoch 1's delta files are
    # compacted away in later snapshots, so the walk must find them via
    # the intermediate snapshot JSONs (the Iceberg incremental-scan
    # contract). Oracle: LWW per key over only the epoch-1 raw events plus
    # the constant change columns. Wrong file selection (compaction
    # rewrites, deltas outside the range, base files) hash-mismatches.
    table = _mor_table_for(spark, sf_dir, tag="morc", compact_threshold=2,
                           require_delta=False)
    v0 = _mor_version_at_epoch(table, 0)
    v1 = _mor_version_at_epoch(table, 1)
    return table.read_incremental(spark, v0, v1).select(
        "user_id", "event_type",
        F.col("op_seq").alias("event_id"),
        F.round("value", 6).alias("value"),
        "op", "epoch")


def _q_cdc_changefeed_chain(spark, sf_dir):
    # Table-as-a-stream-source chaining (streaming/changefeed.py — the
    # Delta-CDF / Iceberg-incremental-scan pattern): ChangeFeedStream
    # tails table A's commits and merges each version window into table B
    # with epoch = to_version (deterministic pending windows, resumable
    # offset, exactly-once through the lake's epoch skip). Gated work:
    # the whole chain — B must reach exactly A's resolved LWW state, so
    # the oracle is the same LWW over the raw events that gates the MoR
    # read. The feed drains in 1-version windows to exercise chunked
    # catch-up; a re-run is a resume no-op (offset == A.version).
    import hashlib
    import os
    import shutil
    import tempfile

    from cdcrypt.streaming.changefeed import (
        ChangeFeedStream, lake_merge_sink,
    )
    from cdcrypt.table.lake import LakeTable, LakeTableNotFound

    a = _mor_table_for(spark, sf_dir)
    key = hashlib.md5(
        (os.path.abspath(sf_dir) + ":cfeed:"
         + _table_fingerprint(sf_dir, "events")).encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"cdcrypt_cfeed_{key}")
    try:
        b = LakeTable(os.path.join(root, "b"))
        if b.committed_epoch > a.version:  # stale artifact vs rebuilt A
            raise LakeTableNotFound(root)
    except LakeTableNotFound:
        shutil.rmtree(root, ignore_errors=True)
        b = LakeTable.create(os.path.join(root, "b"), a.schema,
                             bucket_count=8, bucket_by="user_id",
                             key_cols=["user_id", "event_type"])
    feed = ChangeFeedStream(spark, a.root, os.path.join(root, "ckpt"),
                            lake_merge_sink(b), max_versions_per_batch=1)
    feed.process_available()  # torn states self-heal: replayed windows
    assert feed.last_version == a.version  # skip at the lake (epoch gate)
    return b.refresh().read(spark).select(
        "user_id", "event_type",
        F.col("op_seq").alias("event_id"),
        F.round("value", 6).alias("value"))


def _q_cdc_agg_view(spark, sf_dir):
    # Incrementally-maintained GROUP BY view (streaming/aggview.py —
    # materialized-view maintenance over the changelog feed, the Flink
    # retract-stream / Materialize pattern). A dedicated MoR table A is
    # replayed from events with LWW updates AND deletes (op_seq % 7) and
    # NULL measures (op_seq % 11); a ChangeFeedStream(feed='changelog')
    # drains A in 1-version windows into an AggView grouped by event_type
    # maintaining count(*) / count(col) / sum / avg as retractable
    # (sum, non-null-count) pairs. Oracle: one-shot GROUP BY over the
    # LWW-resolved final state — a view that double-counts an update,
    # fails to retract a delete, mixes up SQL NULL semantics, or
    # double-applies a redelivered window hash-mismatches. The measure is
    # an exact long (floor micro-units) so integer sums compare
    # bit-for-bit; avg is one final division on both sides.
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from cdcrypt.operators.dedup import resolve_latest_agg
    from cdcrypt.operators.merge import merge_upsert
    from cdcrypt.streaming.aggview import AggView
    from cdcrypt.streaming.changefeed import ChangeFeedStream
    from cdcrypt.table.lake import LakeTable, LakeTableNotFound

    key = hashlib.md5(
        (os.path.abspath(sf_dir) + ":aggview:"
         + _table_fingerprint(sf_dir, "events")).encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"cdcrypt_aggview_{key}")
    schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("op_seq", LongType()),
        StructField("value_m", LongType()),
    ])
    try:
        a = LakeTable(os.path.join(root, "a"))
        if a.committed_epoch < 2:  # torn build from a crashed run
            raise LakeTableNotFound(root)
    except LakeTableNotFound:
        shutil.rmtree(root, ignore_errors=True)
        a = LakeTable.create(os.path.join(root, "a"), schema,
                             bucket_count=8, bucket_by="user_id",
                             key_cols=["user_id", "event_type"])
        ev = _t(spark, sf_dir, "events").select(
            F.when(F.col("event_id") % 7 == 0, F.lit("D"))
            .otherwise(F.lit("U")).alias("op"),
            F.col("user_id").cast("long").alias("user_id"),
            "event_type",
            F.col("event_id").cast("long").alias("op_seq"),
            F.when(F.col("event_id") % 11 == 0, F.lit(None))
            .otherwise(F.floor(F.col("value") * 1e6)).alias("value_m"))
        for e in range(3):
            batch = (ev.where(F.pmod(F.col("op_seq"), F.lit(3)) == e)
                     .withColumn("epoch", F.lit(e).cast("long")))
            merge_upsert(
                spark, a,
                resolve_latest_agg(batch,
                                   key_cols=["user_id", "event_type"]),
                epoch=e, mode="mor")
    view_root = os.path.join(root, "view")
    if not os.path.exists(os.path.join(view_root, AggView.META)):
        AggView.create(view_root, schema, ["event_type"], {
            "n": ("count", "*"),
            "n_vals": ("count", "value_m"),
            "total": ("sum", "value_m"),
            "mean": ("avg", "value_m"),
        }, bucket_count=4)
    view = AggView(view_root)
    feed = ChangeFeedStream(spark, a.root, os.path.join(root, "ckpt"),
                            view.sink(), feed="changelog",
                            max_versions_per_batch=1)
    feed.process_available()  # idempotent: drained feeds no-op, torn
    assert feed.last_version == a.refresh().version  # drains self-heal
    return view.read(spark).select(
        "event_type", "n", "n_vals", "total",
        F.round("mean", 6).alias("mean"))


def _evo_table_for(spark, sf_dir):
    """Lake artifact for the cdc_schema_evolution gate: four event epochs
    (op_seq % 4) applied as MoR merges with compact_threshold=2, with a
    FIELD-ID SCHEMA EVOLUTION between epochs 1 and 2 — widen value
    float->double, rename value->score, drop ts, add source. Epochs 2/3
    write the post-evolution shape, and epoch 3's compaction folds
    pre-evolution base/delta files together with post-evolution deltas
    (the cross-generation id-projection path). Cached per source
    fingerprint with a torn-build guard (table/lake.py evolve_schema)."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql.types import (
        DoubleType, FloatType, LongType, StringType, StructField,
        StructType, TimestampType,
    )

    from cdcrypt.operators.dedup import resolve_latest_agg
    from cdcrypt.operators.merge import merge_upsert
    from cdcrypt.table.lake import LakeTable, LakeTableNotFound

    key = hashlib.md5(
        (os.path.abspath(sf_dir) + ":evo:"
         + _table_fingerprint(sf_dir, "events")).encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"cdcrypt_evo_{key}")
    schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("op_seq", LongType()),
        StructField("value", FloatType()),
        StructField("ts", TimestampType()),
    ])
    try:
        table = LakeTable(root)
        if table.committed_epoch < 3:  # torn build from a crashed run
            raise LakeTableNotFound(root)
    except LakeTableNotFound:
        import shutil
        shutil.rmtree(root, ignore_errors=True)
        table = LakeTable.create(root, schema, bucket_count=8,
                                 bucket_by="user_id",
                                 key_cols=["user_id", "event_type"])
        ev = _t(spark, sf_dir, "events").select(
            F.lit("U").alias("op"),
            F.col("user_id").cast("long").alias("user_id"),
            "event_type",
            F.col("event_id").cast("long").alias("op_seq"),
            F.col("value").cast("double").alias("value"),
            "ts")
        for e in range(4):
            batch = ev.where(F.pmod(F.col("op_seq"), F.lit(4)) == e)
            if e < 2:  # pre-evolution shape: float value + ts
                batch = batch.withColumn("value",
                                         F.col("value").cast("float"))
            else:      # post-evolution shape: score double, source, no ts
                batch = (batch
                         .withColumnRenamed("value", "score")
                         .withColumn("source", F.lit("replay"))
                         .drop("ts"))
            merge_upsert(
                spark, table,
                resolve_latest_agg(
                    batch.withColumn("epoch", F.lit(e).cast("long")),
                    key_cols=["user_id", "event_type"]),
                epoch=e, mode="mor", compact_threshold=2)
            if e == 1:
                table.evolve_schema(widens={"value": DoubleType()},
                                    renames={"value": "score"},
                                    drops=["ts"],
                                    adds=[("source", StringType())])
        # the scenario is real: a post-evolution commit compacted files
        # from BOTH schema generations
        assert any(
            table.snapshot_at(v)["committed_epoch"] >= 2
            and table.snapshot_at(v)["lineage"].get("buckets_compacted")
            for v in range(1, table.version + 1)), \
            "evolution gate needs a cross-generation compaction"
    return table


def _boot_table_for(spark, sf_dir):
    """Lake artifact for the cdc_snapshot_bootstrap gate: a DBLog-style
    CHUNKED snapshot (per-key watermarks at 4 different binlog positions,
    keys assigned by hash — the snapshot was 'read while the stream
    advanced') bootstrapped as epoch 0, then the FULL change stream
    (including deletes: op_seq % 5 == 0) replayed over it in two epochs.
    Convergence claim under LWW: final state == LWW over the raw stream
    alone, independent of the chunking — events at or below a chunk's
    watermark lose to the snapshot row, events above it supersede it
    (operators/bootstrap.py)."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from cdcrypt.operators.bootstrap import bootstrap_snapshot
    from cdcrypt.operators.dedup import resolve_latest_agg
    from cdcrypt.operators.merge import merge_upsert
    from cdcrypt.table.lake import LakeTable, LakeTableNotFound

    key = hashlib.md5(
        (os.path.abspath(sf_dir) + ":boot:"
         + _table_fingerprint(sf_dir, "events")).encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"cdcrypt_boot_{key}")
    schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("op_seq", LongType()),
        StructField("value", DoubleType()),
    ])
    try:
        table = LakeTable(root)
        if table.committed_epoch < 2:  # torn build from a crashed run
            raise LakeTableNotFound(root)
    except LakeTableNotFound:
        import shutil
        shutil.rmtree(root, ignore_errors=True)
        table = LakeTable.create(root, schema, bucket_count=8,
                                 bucket_by="user_id",
                                 key_cols=["user_id", "event_type"])
        ev = _t(spark, sf_dir, "events").select(
            F.when(F.col("event_id") % 5 == 0, "D").otherwise("U")
            .alias("op"),
            F.col("user_id").cast("long").alias("user_id"),
            "event_type",
            F.col("event_id").cast("long").alias("op_seq"),
            F.col("value").cast("double").alias("value"))
        hi = ev.agg(F.max("op_seq")).first()[0]
        wlo, wstep = hi // 3, max(1, hi // 8)
        # chunked snapshot: each key's chunk was consistent as of its
        # own watermark (4 distinct positions in the 33%..70% window)
        wm = (F.lit(wlo)
              + F.pmod(F.hash("user_id", "event_type"), F.lit(4))
              * F.lit(wstep)).cast("long")
        state = resolve_latest_agg(
            ev.withColumn("_w", wm).where(F.col("op_seq") <= F.col("_w"))
            .withColumn("epoch", F.lit(0).cast("long")),
            key_cols=["user_id", "event_type"])
        live = state.where(F.col("op") != "D").select(
            "user_id", "event_type", "value", "_w")
        ln = bootstrap_snapshot(spark, table, live, "_w", epoch=0,
                                mode="mor")
        assert ln["bootstrap"]["min_watermark"] == wlo
        # full replay (overlap with the snapshot is the point): two epochs
        for e in (1, 2):
            batch = (ev.where(F.pmod(F.col("op_seq"), F.lit(2)) == e - 1)
                     .withColumn("epoch", F.lit(e).cast("long")))
            merge_upsert(
                spark, table,
                resolve_latest_agg(batch,
                                   key_cols=["user_id", "event_type"]),
                epoch=e, mode="mor")
    return table


def _pevo_table_for(spark, sf_dir):
    """Lake artifact for the cdc_partition_evolution gate: four event
    epochs applied as MoR merges (compact_threshold=2), with the bucket
    count EVOLVED 4 -> 8 between epochs 1 and 2 (metadata-only,
    table/lake.py evolve_partitioning). Post-evolution deltas bucket
    under the new spec while pre-evolution base/delta files stay under
    the old one; epoch 3's compaction pulls BOTH generations of a bucket
    residue class (gcd rule) and rewrites them under the current spec —
    the incremental-migration path."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
        TimestampType,
    )

    from cdcrypt.operators.dedup import resolve_latest_agg
    from cdcrypt.operators.merge import merge_upsert
    from cdcrypt.table.lake import LakeTable, LakeTableNotFound

    key = hashlib.md5(
        (os.path.abspath(sf_dir) + ":pevo:"
         + _table_fingerprint(sf_dir, "events")).encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"cdcrypt_pevo_{key}")
    schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("op_seq", LongType()),
        StructField("value", DoubleType()),
        StructField("ts", TimestampType()),
    ])
    try:
        table = LakeTable(root)
        if table.committed_epoch < 3:  # torn build from a crashed run
            raise LakeTableNotFound(root)
    except LakeTableNotFound:
        import shutil
        shutil.rmtree(root, ignore_errors=True)
        table = LakeTable.create(root, schema, bucket_count=4,
                                 bucket_by="user_id",
                                 key_cols=["user_id", "event_type"])
        ev = _t(spark, sf_dir, "events").select(
            F.lit("U").alias("op"),
            F.col("user_id").cast("long").alias("user_id"),
            "event_type",
            F.col("event_id").cast("long").alias("op_seq"),
            F.col("value").cast("double").alias("value"),
            "ts")
        for e in range(4):
            batch = (ev.where(F.pmod(F.col("op_seq"), F.lit(4)) == e)
                     .withColumn("epoch", F.lit(e).cast("long")))
            merge_upsert(
                spark, table,
                resolve_latest_agg(batch,
                                   key_cols=["user_id", "event_type"]),
                epoch=e, mode="mor", compact_threshold=2)
            if e == 1:
                table.evolve_partitioning(8)
        # the scenario is real: post-evolution files exist under the new
        # spec AND a post-evolution compaction touched old-spec files
        assert {f.get("spec_id") for f in table.snapshot["files"]} >= {1}
        assert any(
            table.snapshot_at(v)["committed_epoch"] >= 2
            and table.snapshot_at(v)["lineage"].get("buckets_compacted")
            for v in range(1, table.version + 1)), \
            "partition-evolution gate needs a post-evolution compaction"
    return table


def _q_cdc_partition_evolution(spark, sf_dir):
    # P6 partition evolution gated end-to-end: the table re-bucketed
    # 4 -> 8 mid-stream without touching a data file; the read must
    # resolve LWW across files living under BOTH partition specs and
    # across the compaction that migrated part of the old generation to
    # the new layout. Oracle = LWW over the raw events (it never sees
    # buckets or specs); lost co-located rows, double-applied rewrites,
    # or wrong spec-aware pruning in the merge path hash-mismatch.
    table = _pevo_table_for(spark, sf_dir)
    return table.read(spark).select(
        "user_id", "event_type",
        F.col("op_seq").alias("event_id"),
        F.round("value", 6).alias("value"))


def _q_cdc_snapshot_bootstrap(spark, sf_dir):
    # P1 initial-load: chunked-snapshot bootstrap + full-stream replay
    # must converge to LWW over the stream alone (deletes applied). The
    # oracle never sees the snapshot or the watermarks — a cutover that
    # loses in-flight events, double-applies the overlap, or resurrects
    # snapshot rows past a delete hash-mismatches. op_seq is excluded
    # from the projection by design: snapshot-won rows carry their chunk
    # watermark, which is Spark-side hash state the oracle cannot know.
    table = _boot_table_for(spark, sf_dir)
    return table.read(spark).select(
        "user_id", "event_type", F.round("value", 6).alias("value"))


def _q_cdc_clustered_scan(spark, sf_dir):
    # Maintenance rewrite (operators/maintenance.py): the MoR artifact is
    # rewritten into sort-clustered, size-split base files (bounds tight
    # and disjoint per bucket), then range-scanned on the NON-key sort
    # column — legal only because the snapshot is delta-free, and pruned
    # from manifest bounds alone. Oracle = LWW resolution of the raw
    # events restricted to the same op_seq range.
    table = _mor_table_for(spark, sf_dir, tag="rwc")
    if any(f.get("kind") == "delta" and not f.get("compacted")
           for f in table.files()):
        from cdcrypt.operators.maintenance import rewrite_clustered
        rewrite_clustered(spark, table, ["op_seq"],
                          max_records_per_file=2048)
    mn, mx = _t(spark, sf_dir, "events").agg(
        F.min(F.col("event_id").cast("long")),
        F.max(F.col("event_id").cast("long"))).first()
    lo, hi = int(mn) + (int(mx) - int(mn)) * 15 // 16, int(mx)
    return table.read(spark, key_range={"op_seq": (lo, hi)}).select(
        "user_id", "event_type",
        F.col("op_seq").alias("event_id"),
        F.round("value", 6).alias("value"))


def _q_cdc_zorder_scan(spark, sf_dir):
    # Z-order clustered rewrite (operators/maintenance.py zorder_key):
    # the MoR artifact is rewritten with the Morton interleave of
    # (user_id, op_seq), then scanned with ranges on BOTH dimensions —
    # the key column AND the non-key change position (legal: the
    # rewritten snapshot is delta-free). Files are pruned from manifest
    # bounds alone, which only tighten on both dims simultaneously under
    # the z-layout; a linear layout cannot serve the trailing dim (the
    # property test proves that separation). Oracle = LWW resolution of
    # the raw events restricted to the same two ranges; a z-key bit
    # error that REORDERS rows can't corrupt this (bounds stay
    # conservative), but dropped/duplicated rows hash-mismatch.
    # 2 buckets + a file size targeting ~16 base files: pruning must be
    # demonstrable at EVERY gate sf (at sf0.01 the default 2048-row files
    # never split — one file per bucket prunes nothing, whatever the
    # layout). mrpf is derived from the resolved row count, so the
    # rebuild check below is idempotent per dataset.
    table = _mor_table_for(spark, sf_dir, tag="rwz2", bucket_count=2)
    lin = table.snapshot.get("lineage", {})
    n = sum(f["rows"] for f in table.files()
            if f.get("kind", "base") == "base") or None
    if n is None:  # first run: still all-delta
        n = table.read(spark).count()
    mrpf = max(64, -(-int(n) // 16))
    if any(f.get("kind") == "delta" and not f.get("compacted")
           for f in table.files()) \
            or lin.get("layout") != "zorder" \
            or lin.get("max_records_per_file") != mrpf:
        from cdcrypt.operators.maintenance import rewrite_clustered
        rewrite_clustered(spark, table, ["user_id", "op_seq"],
                          layout="zorder", max_records_per_file=mrpf)
    ev = _t(spark, sf_dir, "events")
    mnu, mxu, mns, mxs = ev.agg(
        F.min(F.col("user_id").cast("long")),
        F.max(F.col("user_id").cast("long")),
        F.min(F.col("event_id").cast("long")),
        F.max(F.col("event_id").cast("long"))).first()
    hi_user = (int(mnu) + int(mxu)) // 2
    lo_seq = int(mns) + (int(mxs) - int(mns)) * 3 // 4
    sel = table.files(key_range={"user_id": (None, hi_user),
                                 "op_seq": (lo_seq, None)})
    n_base = sum(1 for f in table.files()
                 if f.get("kind", "base") == "base")
    # pruning is only demonstrable with enough z-cells per bucket; the
    # tiny-sf gate run (sf0.001 resolves to ~75 rows) checks result
    # correctness only — the layout property itself is proven on a
    # controlled grid in tests/test_zorder.py
    if n_base >= 8:
        assert len(sel) < len(table.files()), (
            f"z-order pruned nothing ({len(sel)} of {len(table.files())})")
    return table.read(spark, key_range={"user_id": (None, hi_user),
                                        "op_seq": (lo_seq, None)}).select(
        "user_id", "event_type",
        F.col("op_seq").alias("event_id"),
        F.round("value", 6).alias("value"))


def _q_cdc_tag_read(spark, sf_dir):
    # Snapshot tags (table/lake.py create_tag): pin the epoch-1 snapshot
    # under a name and time-travel by tag — the auditable-release
    # contract. Oracle = LWW over epochs 0..1 only (op_seq % 3 <= 1).
    table = _mor_table_for(spark, sf_dir)
    v = _mor_version_at_epoch(table, 1)
    if table.tags().get("epoch-1") != v:
        table.create_tag("epoch-1", version=v)
    return table.read(spark, tag="epoch-1").select(
        "user_id", "event_type",
        F.col("op_seq").alias("event_id"),
        F.round("value", 6).alias("value"))


def _q_cdc_rollback_read(spark, sf_dir):
    # Rollback (table/lake.py rollback): restore the epoch-1 state as a
    # NEW linear commit on a dedicated artifact; the read of CURRENT then
    # equals the epoch-1 state while history stays auditable. Idempotent
    # across runs via the lineage mode marker.
    table = _mor_table_for(spark, sf_dir, tag="rb")
    if table.snapshot.get("lineage", {}).get("mode") != "rollback":
        table.rollback(_mor_version_at_epoch(table, 1))
    return table.read(spark).select(
        "user_id", "event_type",
        F.col("op_seq").alias("event_id"),
        F.round("value", 6).alias("value"))


def _q_cdc_point_lookup(spark, sf_dir):
    # P6 manifest scan planning: point lookup of ONE hot key's resolved
    # state through bucket pruning + the manifest's recorded per-file
    # column bounds (no footers opened at plan time), then MoR LWW over
    # just the surviving files. Key = min(user_id) (engine-independent).
    # Oracle = LWW over the raw events for that key; a pruning rule that
    # drops a delta holding a newer version of the key hash-mismatches.
    table = _mor_table_for(spark, sf_dir)
    k = _t(spark, sf_dir, "events").agg(
        F.min(F.col("user_id").cast("long"))).first()[0]
    return table.read(spark, key_range={"user_id": (k, k)}).select(
        "user_id", "event_type",
        F.col("op_seq").alias("event_id"),
        F.round("value", 6).alias("value"))


def _q_cdc_bloom_lookup(spark, sf_dir):
    # P6 scan planning, bloom tier (table/bloom.py): the same MoR stream
    # applied into a table created with bloom_cols=('user_id',), so every
    # delta file carries a sidecar key bloom. A point lookup then prunes
    # by bucket -> bounds -> bloom membership before MoR LWW resolution.
    # The fixture asserts the bloom tier actually pruned files that
    # bucket+bounds kept (user_id is dense, so per-epoch delta bounds all
    # straddle any mid-range key) — a bloom layer that stopped working
    # would fail loudly here, and one that pruned WRONGLY (false
    # negative = dropped delta holding the key's newest version)
    # hash-mismatches against the oracle's LWW over the raw events.
    # Epochs split by user (user_id % 3), not by op_seq: each key's rows
    # then live in exactly ONE epoch's delta, so for any probed key the
    # other two deltas in its bucket are bloom-prunable while their
    # user_id BOUNDS straddle it (each epoch's users span the id range).
    # The final LWW state is independent of the batching (op_seq total-
    # orders each key), so the oracle is the same row_number replay.
    table = _mor_table_for(spark, sf_dir, tag="morb",
                           bloom_cols=("user_id",), epoch_by="user_id")
    ev = _t(spark, sf_dir, "events")
    m, mx = ev.agg(F.min(F.col("user_id").cast("long")),
                   F.max(F.col("user_id").cast("long"))).first()
    half = (m + mx) // 2
    k = ev.where(F.col("user_id").cast("long") > half).agg(
        F.min(F.col("user_id").cast("long"))).first()[0]
    with_bloom = table.files(key_range={"user_id": (k, k)})
    import copy
    t2 = copy.deepcopy(table)
    for f in t2.snapshot["files"]:
        f.pop("bloom", None)
    bounds_only = t2.files(key_range={"user_id": (k, k)})
    assert len(with_bloom) < len(bounds_only), (
        "bloom tier pruned nothing beyond bounds "
        f"({len(with_bloom)} vs {len(bounds_only)})")
    return table.read(spark, key_range={"user_id": (k, k)}).select(
        "user_id", "event_type",
        F.col("op_seq").alias("event_id"),
        F.round("value", 6).alias("value"))


def _q_cdc_schema_evolution(spark, sf_dir):
    # P7 field-id schema evolution gated end-to-end: pre-evolution epochs
    # wrote (value float, ts); mid-stream the table widened value->double,
    # renamed it to score, dropped ts, and added source — all
    # metadata-only. The read must id-project BOTH file generations into
    # the current schema (pre-evolution rows: float-precision score, null
    # source) and resolve LWW across them, through a compaction that mixed
    # the generations. Oracle replays the same float round-trip on the raw
    # events; a reader that loses a generation, resurrects ts, or maps
    # columns by name instead of id hash-mismatches.
    table = _evo_table_for(spark, sf_dir)
    return table.read(spark).select(
        "user_id", "event_type",
        F.col("op_seq").alias("event_id"),
        F.round("score", 6).alias("score"),
        "source")


def _q_cdc_txn_align(spark, sf_dir):
    # Transaction-boundary-consistent apply (streaming/txn.py TxnAligner),
    # driven through the REAL hold-and-release state machine — pending and
    # retired parquet state included — over 3 synthetic epochs derived from
    # `events`: delivery epoch = event_id % 3; txns = runs of 10 consecutive
    # event_ids, 3 of every 4 runs tagged (txn_total = actual member
    # count); every 7th delivery redelivered one epoch late, which
    # exercises BOTH duplicate-insensitive completeness counting and the
    # retired-window straggler release. Closed-form oracle: a txn releases
    # at the max first-delivery epoch of its members; each delivered row
    # releases at greatest(txn release, its own delivery epoch); untagged
    # rows release at their delivery epoch. Debezium transaction-block
    # semantics per the reference's source contract (README.md:20).
    import hashlib
    import os
    import tempfile

    from cdcrypt.streaming.txn import TxnAligner

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("op_seq"),
        "user_id", "event_type",
        F.round("value", 6).alias("value"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("epoch"),
        F.when(F.pmod(F.expr("event_id div 10"), F.lit(4)) < 3,
               F.concat(F.lit("txn"), F.expr("event_id div 10"))
               ).alias("txn_id"),
    )
    tot = ev.where(F.col("txn_id").isNotNull()).groupBy("txn_id").agg(
        F.count(F.lit(1)).alias("txn_total"))
    ev = ev.join(tot, "txn_id", "left")
    dup = (ev.where(F.pmod(F.col("op_seq"), F.lit(7)) == 0)
           .withColumn("epoch", F.least(F.col("epoch") + 1, F.lit(2))))
    # materialize the derived stream ONCE: each of the 3 epoch batches
    # below filters this frame, and without the checkpoint the txn-total
    # join + union re-executes per epoch (3x the prep for the same rows —
    # harness overhead, not aligner cost). Batch-sized, eager.
    full = ev.unionByName(dup).localCheckpoint()
    key = hashlib.md5(
        (os.path.abspath(sf_dir) + ":txnalign:"
         + _table_fingerprint(sf_dir, "events")).encode()).hexdigest()[:12]
    # deterministic on-disk state (NOT cleaned before return: the returned
    # plan lazily re-reads pending/released parquet at collect time); each
    # call overwrites epochs 0..2 idempotently — the replay contract
    state = os.path.join(tempfile.gettempdir(), f"cdcrypt_txn_{key}")
    al = TxnAligner(state)
    outs = []
    for e in range(3):
        batch = full.where(F.col("epoch") == e)
        outs.append(al.align(spark, batch, e).withColumn(
            "release_epoch", F.lit(e).cast("long")))
    out = outs[0].unionByName(outs[1]).unionByName(outs[2])
    return out.select("op_seq", "user_id", "event_type", "value",
                      "release_epoch")


def _q_debezium_parse(spark, sf_dir):
    # P1 breadth: Debezium envelope adapter (sources/debezium.py). The
    # events table is re-encoded as Debezium change envelopes (to_json:
    # before-image for deletes, after-image otherwise, op c/u/d/r, lsn,
    # ts_ms), then parse_debezium maps them back onto the engine's
    # change-event contract — one vectorized from_json, no UDF. Oracle
    # computes the mapping directly from the raw columns, so any parse or
    # op/image/op_seq mapping error hash-mismatches.
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from cdcrypt.sources.debezium import parse_debezium

    ev = _t(spark, sf_dir, "events")
    opr = (
        F.when(F.pmod(F.col("event_id"), F.lit(4)) == 0, F.lit("c"))
        .when(F.pmod(F.col("event_id"), F.lit(4)) == 1, F.lit("u"))
        .when(F.pmod(F.col("event_id"), F.lit(4)) == 2, F.lit("d"))
        .otherwise(F.lit("r"))
    )
    row = F.struct(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("event_type"),
        F.col("value").alias("value"),
    )
    env = F.to_json(F.struct(F.struct(
        F.when(opr == "d", row).alias("before"),
        F.when(opr != "d", row).alias("after"),
        opr.alias("op"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.struct(F.col("event_id").cast("long").alias("lsn"))
        .alias("source"),
    ).alias("payload")))
    lines = ev.select(env.alias("value"))
    row_schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    out = parse_debezium(lines, "value", row_schema)
    return out.select(
        "user_id", "event_type", "op",
        F.col("op_seq").alias("event_id"),
        F.round("value", 6).alias("value"),
        F.unix_millis("ts").alias("ts_ms"),
    )


def _q_debezium_emit(spark, sf_dir):
    # CDC-out symmetry (sources/debezium.py emit_debezium): engine change
    # events encoded as Debezium envelope JSON and parsed back on the
    # consumer side — the chained sink-connector deployment. The oracle
    # computes the mapping directly from the raw columns, so any encode
    # OR decode defect (op mapping, image side, lsn routing, microsecond
    # timestamp truncation — to_json's default format silently drops
    # micros, DBZ_TS_FMT is the fix) hash-mismatches. ts_us proves the
    # image timestamp survives the wire at full precision.
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
        TimestampType,
    )

    from cdcrypt.sources.debezium import emit_debezium, parse_debezium

    ev = _t(spark, sf_dir, "events").select(
        F.when(F.pmod("event_id", F.lit(3)) == 0, F.lit("I"))
        .when(F.pmod("event_id", F.lit(3)) == 1, F.lit("U"))
        .otherwise(F.lit("D")).alias("op"),
        F.col("event_id").cast("long").alias("op_seq"),
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        F.round("value", 6).alias("value"),
        "ts",
    )
    wire = emit_debezium(
        ev, ["user_id", "event_type", "value", "ts"],
        key_cols=["user_id"], wrap_payload=True)
    row_schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("ts", TimestampType()),
    ])
    out = parse_debezium(wire.select("value"), "value", row_schema)
    return out.select(
        "op", F.col("op_seq").alias("event_id"), "user_id", "event_type",
        "value", F.unix_micros("ts").alias("ts_us"))


def _q_debezium_parse_dlq(spark, sf_dir):
    # Source-stage error tolerance (r4): parse_debezium_dlq routes poison
    # envelopes (here: unknown op 'x' for event_id % 43 == 0) to a dead
    # half with the ORIGINAL bytes + a typed error instead of failing the
    # job, while the clean half is exactly the strict parse. The gate
    # re-parses the dead bytes (valid JSON, just a bad op) to prove the
    # quarantine carried the record intact — row-level coverage of BOTH
    # halves, unioned on event_id, with the exact error string predicted
    # by the oracle.
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from cdcrypt.sources.debezium import (
        debezium_envelope_schema, parse_debezium_dlq,
    )

    ev = _t(spark, sf_dir, "events")
    poison = F.pmod(F.col("event_id"), F.lit(43)) == 0
    opr = (
        F.when(poison, F.lit("x"))
        .when(F.pmod(F.col("event_id"), F.lit(4)) == 0, F.lit("c"))
        .when(F.pmod(F.col("event_id"), F.lit(4)) == 1, F.lit("u"))
        .when(F.pmod(F.col("event_id"), F.lit(4)) == 2, F.lit("d"))
        .otherwise(F.lit("r"))
    )
    # image placement follows the %4 rule even for poison rows, so the
    # dead-half re-parse must find the row in either slot
    is_del = F.pmod(F.col("event_id"), F.lit(4)) == 2
    row = F.struct(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("event_type"),
        F.col("value").alias("value"),
    )
    env = F.to_json(F.struct(F.struct(
        F.when(is_del, row).alias("before"),
        F.when(~is_del, row).alias("after"),
        opr.alias("op"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.struct(F.col("event_id").cast("long").alias("lsn"))
        .alias("source"),
    ).alias("payload")))
    lines = ev.select(env.alias("value"))
    row_schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    events, dead = parse_debezium_dlq(lines, "value", row_schema)
    clean_half = events.select(
        "user_id", "event_type", "op",
        F.col("op_seq").alias("event_id"),
        F.round("value", 6).alias("value"),
        F.unix_millis("ts").alias("ts_ms"),
        F.lit(None).cast("string").alias("error"),
    )
    p = F.from_json("value", debezium_envelope_schema(row_schema)) \
         .getField("payload")
    img = F.coalesce(p.getField("after"), p.getField("before"))
    dead_half = dead.select(
        img.getField("user_id").alias("user_id"),
        img.getField("event_type").alias("event_type"),
        F.lit(None).cast("string").alias("op"),
        p.getField("source").getField("lsn").alias("event_id"),
        F.round(img.getField("value"), 6).alias("value"),
        p.getField("ts_ms").alias("ts_ms"),
        F.col("error"),
    )
    return clean_half.unionByName(dead_half)


def _pii_augmented(docs):
    # deterministic PII plant over the synthetic corpus (the oracle
    # re-derives the SAME augmented text in SQL and re-runs the SAME
    # regexes, so detection/redaction parity is tested end-to-end, not
    # predicted from doc_id)
    d = F.col("doc_id")
    return docs.withColumn("text", F.concat(
        F.col("text"),
        F.when(d % 7 == 0, F.concat(F.lit(" contact u"), d.cast("string"),
                                    F.lit("@example.com now")))
         .otherwise(F.lit("")),
        F.when(d % 11 == 0, F.lit(" ssn 123-45-6789.")).otherwise(F.lit("")),
        F.when(d % 13 == 0, F.concat(F.lit(" from 10.0."),
                                     (d % 256).cast("string"), F.lit(".7 ")))
         .otherwise(F.lit("")),
        F.when(d % 17 == 0, F.lit(" card 4111 1111 1111 1111 "))
         .otherwise(F.lit("")),
        F.when(d % 19 == 0, F.lit(" call +1 555 867-5309 "))
         .otherwise(F.lit("")),
    ))


_PII_AUG_SQL = """
    text
    || CASE WHEN doc_id % 7 = 0
            THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now'
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-6789.' ELSE '' END
    || CASE WHEN doc_id % 13 = 0
            THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 '
            ELSE '' END
    || CASE WHEN doc_id % 17 = 0 THEN ' card 4111 1111 1111 1111 ' ELSE '' END
    || CASE WHEN doc_id % 19 = 0 THEN ' call +1 555 867-5309 ' ELSE '' END
"""


def _q_pii_scan(spark, sf_dir):
    # Structured-PII corpus audit (operators/pii.py): regex classifiers
    # (email, SSN, PAN, IPv4, E.164-ish phone) + in-place [KIND] redaction,
    # all pure Column rlike/regexp_replace inside whole-stage codegen —
    # zero Python, zero shuffles. Patterns are engine-portable (no
    # lookarounds/backreferences): the oracle runs them verbatim in RE2.
    from cdcrypt.operators.pii import redact_pii, scan_pii

    docs = _pii_augmented(_t(spark, sf_dir, "documents"))
    out = scan_pii(docs, "text")
    return out.select(
        "doc_id",
        *[F.col(f"pii_{k}") for k in
          ("email", "ssn", "credit_card", "ipv4", "phone")],
        F.col("pii_count").cast("long").alias("pii_count"),
        redact_pii(F.col("text")).alias("redacted"),
    )


def _q_smt_encrypt_pii(spark, sf_dir):
    # Detect-then-encrypt (operators/pii.py encrypt_pii_fields): fields
    # CONTAINING detected PII are envelope-encrypted through the standard
    # O6 condition gate; clean rows pass byte-unchanged; the boolean
    # marker column is both the decrypt gate and the audit trail. The
    # round trip plus the marker is exactly what the oracle predicts by
    # re-running the detector on the same augmented plaintext.
    from cdcrypt.operators.pii import encrypt_pii_fields
    from cdcrypt.operators.transform import decrypt_fields

    docs = _pii_augmented(_t(spark, sf_dir, "documents"))
    enc = encrypt_pii_fields(docs, ["$.text"], key_id="cdcrypt/docs")
    dec = decrypt_fields(enc, ["$.text"], key_id="cdcrypt/docs",
                         condition_field="$.text_pii",
                         condition_equals="true")
    return dec.select("doc_id", "text", F.col("text_pii").alias("has_pii"))


def _q_repetition_stats(spark, sf_dir):
    # Gopher-style repetition quality signals (functions/text.py): dup
    # token/2-gram/3-gram fractions via split -> transform(sequence) ->
    # array_distinct — one codegen stage, zero shuffles, linear per row;
    # oracle replicates with DuckDB list comprehensions over the same
    # whitespace split.
    from cdcrypt.functions.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "text")


def _q_session_windows(spark, sf_dir):
    # gap-based sessionization, batch form (streaming/windowed.py): lag ->
    # boundary flag -> running sum -> group summary, integer-microsecond
    # time arithmetic, one shuffle (window exchange reused by the agg)
    from cdcrypt.streaming.windowed import session_windows

    ev = _t(spark, sf_dir, "events")
    return session_windows(ev, gap_seconds=3600, key_cols=("user_id",),
                           ts_col="ts", tiebreak_cols=("event_id",))


def _q_windowed_counts(spark, sf_dir):
    # tumbling event-time window (batch form of streaming/windowed.py):
    # date_trunc is engine-portable; exact micro-units keep the hash stable
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format(F.date_trunc("day", F.col("ts")),
                              "yyyy-MM-dd").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1000000).cast("long"))
            .alias("sum_value_e6"),
        )
    )


def _q_tpch_q1_agg(spark, sf_dir):
    # aggregation pipeline with exact integer-cents arithmetic
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp")
    )
    qty = F.round(F.col("l_quantity")).cast("long")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.sum(cents).alias("sum_base_cents"),
            F.sum(cents * (100 - disc)).alias("sum_disc_e4"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_tpch_join_revenue(spark, sf_dir):
    # multi-join with broadcast dims: revenue per nation (exact e4 ints)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(cents * (100 - disc)).alias("revenue_e4"),
             F.count(F.lit(1)).alias("n_items"))
    )


def _q_dedup_exact(spark, sf_dir):
    from cdcrypt.operators.docdedup import exact_dedup_groups
    return exact_dedup_groups(_t(spark, sf_dir, "documents"))


def _q_line_dedup(spark, sf_dir):
    # RefinedWeb-style line-level corpus dedup: rewrite every document with
    # corpus-duplicated lines (>=2 distinct docs, >=5 chars) removed. The
    # engine decides on h60(line) hashes (shuffles longs, never text); the
    # oracle groups by the raw line string — identical absent a 60-bit
    # collision, which the hash_match would flag.
    from cdcrypt.operators.docdedup import dedup_lines
    return dedup_lines(_t(spark, sf_dir, "documents"),
                       min_docs=2, min_line_chars=5).select("doc_id", "text")


def _q_line_dedup_keep_first(spark, sf_dir):
    # C4-style keep-one semantics: the globally first (doc_id, pos)
    # occurrence of each duplicated line survives, deterministic under any
    # partitioning (min(struct) on both engines).
    from cdcrypt.operators.docdedup import dedup_lines
    return dedup_lines(_t(spark, sf_dir, "documents"), min_docs=2,
                       min_line_chars=5,
                       keep="first").select("doc_id", "text")


def _q_text_stats(spark, sf_dir):
    from cdcrypt.functions.text import (
        digit_ratio, fingerprint64, lang_id, punct_ratio, quality_score,
        token_count,
    )
    d = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        F.length(c).alias("n_chars"),
        token_count(c).alias("n_tokens"),
        punct_ratio(c).alias("punct_ratio"),
        digit_ratio(c).alias("digit_ratio"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_guess"),
        fingerprint64(c).alias("fp64"),
    )


def _q_token_counts(spark, sf_dir):
    from cdcrypt.functions.text import bpe_ish_token_count, token_count
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_subwords"),
    )


_MESSY_PREFIX = '<p class="c">'
_MESSY_SUFFIX = " &amp;&lt;x&gt;‘q’—z<!--c--> end  "
# decomposed e + COMBINING ACUTE: NFC must compose it to U+00E9
_NFC_SUFFIX = " e\u0301"


def _q_text_normalize(spark, sf_dir):
    # full curation cleanup chain (markup -> entities -> control ->
    # punctuation fold -> whitespace), pure Column / codegen; the messy
    # wrapper is synthesized identically on both engines so the gate
    # exercises every step, not the near-clean corpus text
    from cdcrypt.functions.textnorm import normalize_text

    d = _t(spark, sf_dir, "documents")
    messy = F.concat(F.lit(_MESSY_PREFIX), F.col("text"),
                     F.lit(_MESSY_SUFFIX))
    return d.select("doc_id", normalize_text(messy).alias("norm"))


def _q_text_nfc(spark, sf_dir):
    # unicode NFC (UAX #15) — the one normalization step that needs the
    # Python boundary (Arrow-batched pandas UDF); DuckDB's nfc_normalize
    # implements the same algorithm, so even this gates
    from cdcrypt.functions.textnorm import nfc

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        nfc(F.concat(F.col("text"), F.lit(_NFC_SUFFIX))).alias("norm"))


def _q_hot_keys(spark, sf_dir):
    # exact heavy hitters with the pigeonhole local prune: the exchange is
    # proportional to hot mass + candidates, never |distinct keys| — the
    # detector that sizes salt_buckets for the MERGE/LWW salting tier
    from cdcrypt.operators.skew import hot_keys

    return hot_keys(_t(spark, sf_dir, "events"), "user_id",
                    min_share=0.005)


def _q_corpus_profile(spark, sf_dir):
    # one-pass per-column profile with a cross-engine-deterministic HLL
    # (operators/profile.py): stack-unpivot inside the scan stage, two
    # map-side-combining aggs whose post-shuffle size is O(n_cols * 2^p),
    # independent of corpus row count
    from cdcrypt.operators.profile import profile_columns

    return profile_columns(
        _t(spark, sf_dir, "documents"),
        ["doc_id", "text", "lang", "source", "n_chars"])


def _q_numeric_histogram(spark, sf_dir):
    # equi-width histogram over exact min/max: bounds agg broadcast back,
    # (col, bin) agg — post-shuffle n_cols * bins rows at any corpus size
    from cdcrypt.operators.profile import numeric_histogram

    return numeric_histogram(
        _t(spark, sf_dir, "documents"), ["doc_id", "n_chars"])


def _q_numeric_quantiles(spark, sf_dir):
    # histogram-interpolated quantiles — deterministic (oracle-replicable)
    # where percentile_approx/approx_quantile sketches are engine-private
    from cdcrypt.operators.profile import numeric_quantiles

    return numeric_quantiles(
        _t(spark, sf_dir, "documents"), ["doc_id", "n_chars"])


def _q_profile_incremental(spark, sf_dir):
    # bounded-state incremental profile: three ingest ticks over disjoint
    # thirds of the corpus, then a read from persisted sketch state only;
    # sketch-union exactness makes the result BIT-identical to a one-shot
    # profile, so the same DuckDB oracle gates it
    import tempfile

    from cdcrypt.operators.profile import (
        build_profile_index, read_profile, update_profile_index,
    )

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    d = _t(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="cdcrypt_gate_pidx_")
    idx = build_profile_index(d.where(F.col("doc_id") % 3 == 0), root, cols)
    idx = update_profile_index(idx, d.where(F.col("doc_id") % 3 == 1))
    idx = update_profile_index(idx, d.where(F.col("doc_id") % 3 == 2))
    return read_profile(spark, idx)


def _q_pack_sequences(spark, sf_dir):
    # sharded cumulative-sum sequence packing (operators/packing.py): pack
    # assignment is a pure function of (id, salt, budget, shards) via the
    # cross-engine h60 hash, so the oracle replays the identical window
    from cdcrypt.operators.packing import pack_sequences

    d = _t(spark, sf_dir, "documents")
    return pack_sequences(d, budget=256, n_shards=8)


def _q_pack_manifest(spark, sf_dir):
    # pack MATERIALIZATION (operators/packing.py materialize_packs): one
    # row per (shard, pack) with members in offset order — the shape a
    # trainer's loader reads (doc boundary table). One bounded hash agg
    # on the pack key; per-pack state is capped by the token budget.
    # Arrays project to CSV strings for the value-hash (engine-portable
    # text beats ndarray-vs-list repr drift); the library surface keeps
    # real arrays.
    from cdcrypt.operators.packing import materialize_packs, pack_sequences

    d = _t(spark, sf_dir, "documents")
    m = materialize_packs(pack_sequences(d, budget=256, n_shards=8))
    as_csv = lambda c: F.concat_ws(  # noqa: E731
        ",", F.transform(c, lambda x: x.cast("string")))
    return m.select(
        "shard", "pack", "n_docs", "total_tokens",
        as_csv("doc_ids").alias("doc_ids_csv"),
        as_csv("doc_offsets").alias("doc_offsets_csv"))


def _q_chunk_documents(spark, sf_dir):
    # context-window chunking: sequence+posexplode+substring, zero shuffles
    from cdcrypt.operators.packing import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, max_chars=500, overlap=100)


# shared LSH/minhash gate parameters — the oracle SQL builders below must
# use the exact same values (they replicate the full pipeline in DuckDB)
_MINHASH = dict(num_hashes=32, bands=16, shingle_k=5, max_bucket_size=64)


def _lsh_pairs(spark, sf_dir) -> DataFrame:
    """The shared minhash candidate pipeline (shingle -> signatures ->
    bands -> capped bucket join), memoized per dataset: EIGHT gates
    (pairs, jaccard, components, near-dedup, leakage-safe split, both
    curations, training export) consume these identical pairs — in
    production the pipeline runs once and fans out, so the sweep should
    pay the shingle pass once too."""
    from cdcrypt.operators.docdedup import minhash_lsh_candidates

    slot = f"lshpairs:{os.path.abspath(sf_dir)}:{sorted(_MINHASH.items())}"
    fingerprint = _table_fingerprint(sf_dir, "documents")
    return _memo_df(spark, slot, fingerprint, lambda: minhash_lsh_candidates(
        _tp(spark, sf_dir, "documents", "doc_id"),
        num_hashes=_MINHASH["num_hashes"], bands=_MINHASH["bands"],
        shingle_k=_MINHASH["shingle_k"],
        max_bucket_size=_MINHASH["max_bucket_size"]))
_SIMHASH_NEAR = dict(max_hamming=3, n_bands=4, max_bucket_size=64)
_ANN_LSH = dict(k=5, n_bits=6, dim=64, seed=42)
_NEARDUP_LSH = dict(threshold=0.4, n_bands=6, bits_per_band=6, dim=64, seed=42,
                    max_bucket_size=64)


def _q_minhash_lsh_pairs(spark, sf_dir):
    # md5-family hashing (functions/hash64.py) is DuckDB-identical, so the
    # full shingle->minhash->band->bucket-join pipeline is oracle-verified;
    # max_bucket_size is the 100TB hot-bucket skew guard (also in the oracle)
    return _lsh_pairs(spark, sf_dir)


def _q_minhash_incremental(spark, sf_dir):
    # persisted-index variant of minhash_lsh_pairs: signature pass over the
    # even half ONCE into the banded artifact, then the odd half finds its
    # near-dups against it in O(batch) — broadcast probe, no index shuffle,
    # hot-bucket cap applied over UNION counts. Result == the one-shot
    # pipeline's pairs restricted to pairs involving the odd half.
    import hashlib
    import os
    import tempfile

    from cdcrypt.operators.docdedup import (
        MinHashIndex, MinHashIndexError, build_minhash_index,
        minhash_candidates_incremental)
    docs = _tp(spark, sf_dir, "documents", "doc_id")
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:mh:{sorted(_MINHASH.items())}:"
        f"{_table_fingerprint(sf_dir, 'documents')}".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"cdcrypt_mhidx_{key}")
    try:
        idx = MinHashIndex(root)
    except MinHashIndexError:
        idx = build_minhash_index(
            docs.where(F.col("doc_id") % 2 == 0), root,
            num_hashes=_MINHASH["num_hashes"], bands=_MINHASH["bands"],
            shingle_k=_MINHASH["shingle_k"])
    return minhash_candidates_incremental(
        spark, idx, docs.where(F.col("doc_id") % 2 == 1),
        max_bucket_size=_MINHASH["max_bucket_size"])


def _q_dedup_components(spark, sf_dir):
    # LSH candidate pairs -> transitive near-dup CLUSTERS via alternating
    # large-star/small-star contraction (O(log n) rounds, fully distributed);
    # oracle is a DuckDB recursive CTE over the identical pair set
    from cdcrypt.operators.docdedup import connected_components
    pairs = _lsh_pairs(spark, sf_dir)
    return (connected_components(pairs)
            .select(F.col("node").alias("doc_id"), "component"))


def _q_dedup_near(spark, sf_dir):
    # end-to-end corpus dedup: LSH pairs -> transitive clusters -> one
    # canonical survivor per cluster (longest text, min-id tiebreak)
    from cdcrypt.operators.docdedup import dedup_near
    docs = _tp(spark, sf_dir, "documents", "doc_id")
    return dedup_near(docs, _lsh_pairs(spark, sf_dir))


def _simhash_fps(spark, sf_dir) -> DataFrame:
    # the word-explode + 60-conditional-sum fingerprint pass, memoized:
    # groups and near-pairs both consume the identical (doc_id, simhash)
    # frame — in production the fingerprints are computed once and fanned
    # out, so the sweep pays the signature pass once too
    from cdcrypt.operators.docdedup import simhash64

    slot = f"simhash:{os.path.abspath(sf_dir)}"
    fingerprint = _table_fingerprint(sf_dir, "documents")
    return _memo_df(spark, slot, fingerprint, lambda: simhash64(
        _tp(spark, sf_dir, "documents", "doc_id")))


def _q_simhash_groups(spark, sf_dir):
    from cdcrypt.operators.docdedup import simhash_dup_groups
    return simhash_dup_groups(_tp(spark, sf_dir, "documents", "doc_id"),
                              fingerprints=_simhash_fps(spark, sf_dir))


def _q_simhash_near_pairs(spark, sf_dir):
    # banded pigeonhole hamming<=k near-dup pairs (n_bands > max_hamming);
    # max_bucket_size is the hot-bucket skew guard (also in the oracle)
    from cdcrypt.operators.docdedup import simhash_near_pairs
    return simhash_near_pairs(_tp(spark, sf_dir, "documents", "doc_id"),
                              max_hamming=_SIMHASH_NEAR["max_hamming"],
                              n_bands=_SIMHASH_NEAR["n_bands"],
                              max_bucket_size=_SIMHASH_NEAR["max_bucket_size"],
                              fingerprints=_simhash_fps(spark, sf_dir))


def _q_ngram_jaccard(spark, sf_dir):
    # LSH candidates -> exact n-gram Jaccard verify stage (over shingle-hash
    # sets: longs shuffle, never shingle strings)
    from cdcrypt.operators.docdedup import ngram_jaccard
    docs = _tp(spark, sf_dir, "documents", "doc_id")
    return ngram_jaccard(docs, _lsh_pairs(spark, sf_dir)).where(F.col("jaccard") >= 0.8)


# decontamination scan: a deterministic slice of the documents table
# (doc_id % 17 == 0) plays the benchmark/eval set, the rest is the
# training corpus — the planted near-duplicates in the synthetic corpus
# straddle the slice, so real 13-gram contamination exists at sf0.01.
_DECON = dict(k=13, bench_mod=17)


def _q_decontamination(spark, sf_dir):
    from cdcrypt.operators.docdedup import benchmark_contamination
    docs = _tp(spark, sf_dir, "documents", "doc_id")
    bench = docs.where(F.col("doc_id") % _DECON["bench_mod"] == 0)
    corpus = docs.where(F.col("doc_id") % _DECON["bench_mod"] != 0)
    return benchmark_contamination(corpus, bench, k=_DECON["k"])


# token-budget domain mixture: 4 of the corpus's 20 sources with explicit
# token shares, natural budget scaled 1.9x — src0 binds (largest share over
# ~equal token masses), so the plan upsamples src0/src1 (~1.9/1.3 epochs)
# and downsamples src2/src3 — both regimes exercised. The fractions are
# computed IN-ENGINE on both sides from exact int64 token totals with
# IEEE-identical op order (see sampling._mixture_fractions contract).
_MIX = dict(shares={"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
            budget_factor=1.9, salt="mix-v1")


def _q_mixture_plan(spark, sf_dir):
    from cdcrypt.functions.sampling import mixture_plan
    return mixture_plan(_t(spark, sf_dir, "documents"), _MIX["shares"],
                        budget_factor=_MIX["budget_factor"])


def _q_mixture_sample(spark, sf_dir):
    from cdcrypt.functions.sampling import mixture_by_tokens
    return mixture_by_tokens(_t(spark, sf_dir, "documents"), _MIX["shares"],
                             budget_factor=_MIX["budget_factor"],
                             salt=_MIX["salt"])


# intra-corpus boilerplate scan: shingles appearing in >= min_docs distinct
# documents (the planted near-duplicate families provide real template
# signal: 70-90 corpus-frequent 7-grams at every sf) — per-doc coverage
# stats a quality filter cuts on
_BOILER = dict(k=7, min_docs=3)


def _q_boilerplate_scan(spark, sf_dir):
    from cdcrypt.operators.docdedup import boilerplate_stats
    docs = _tp(spark, sf_dir, "documents", "doc_id")
    return boilerplate_stats(docs, k=_BOILER["k"],
                             min_docs=_BOILER["min_docs"])


def _q_cosine_topk(spark, sf_dir):
    from cdcrypt.operators.similarity import cosine_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, k=5)


def _q_ann_lsh(spark, sf_dir):
    from cdcrypt.operators.similarity import ann_lsh_topk
    emb = _tp(spark, sf_dir, "embeddings", "vec_id")
    # 6 bits ~ |base|/64 candidates per bucket at sf0.01; scale n_bits with
    # |base|. The oracle replicates the hyperplane signs with unrolled
    # identical-order arithmetic, so buckets match bit-for-bit.
    return ann_lsh_topk(emb, emb.where(F.col("vec_id") < 10),
                        k=_ANN_LSH["k"], n_bits=_ANN_LSH["n_bits"],
                        seed=_ANN_LSH["seed"], dim=_ANN_LSH["dim"])


def _q_embedding_neardup(spark, sf_dir):
    # the 100TB scale path: banded sign-LSH candidates + exact cosine verify
    # — no driver collect, shuffle ~ collisions. The oracle replicates the
    # full band/bucket pipeline in SQL; embedding_neardup_exact remains the
    # small-N baseline (recall quantified in tests/test_training_ops.py).
    from cdcrypt.operators.similarity import embedding_neardup_lsh
    emb = _tp(spark, sf_dir, "embeddings", "vec_id")
    return embedding_neardup_lsh(
        emb, threshold=_NEARDUP_LSH["threshold"],
        n_bands=_NEARDUP_LSH["n_bands"],
        bits_per_band=_NEARDUP_LSH["bits_per_band"],
        seed=_NEARDUP_LSH["seed"], dim=_NEARDUP_LSH["dim"],
        max_bucket_size=_NEARDUP_LSH["max_bucket_size"])


def _emb_index_for(spark, sf_dir):
    """The gate's shared embedding sign-LSH index: built ONCE per sf dir
    on the EVEN vec_ids with the _NEARDUP_LSH band params, cached in /tmp
    (same economics as the IVF/minhash gate artifacts). Two gates query
    it — embedding_incremental (near-dup ticks) and ann_lsh_indexed
    (similarity top-k) — the one-artifact/two-query-types design."""
    import hashlib
    import os
    import tempfile

    from cdcrypt.operators.similarity import (
        EmbeddingLSHIndex, EmbeddingLSHIndexError, build_embedding_lsh_index)
    emb = _tp(spark, sf_dir, "embeddings", "vec_id")
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:emb:{sorted(_NEARDUP_LSH.items())}:"
        f"{_table_fingerprint(sf_dir, 'embeddings')}".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"cdcrypt_embidx_{key}")
    try:
        idx = EmbeddingLSHIndex(root)
    except EmbeddingLSHIndexError:
        idx = build_embedding_lsh_index(
            emb.where(F.col("vec_id") % 2 == 0), root,
            n_bands=_NEARDUP_LSH["n_bands"],
            bits_per_band=_NEARDUP_LSH["bits_per_band"],
            seed=_NEARDUP_LSH["seed"], dim=_NEARDUP_LSH["dim"])
    return idx, emb


def _q_embedding_incremental(spark, sf_dir):
    # persisted-index variant of embedding_neardup: hyperplane-sign the
    # even half ONCE into the banded artifact, then the odd half finds its
    # near-dups against it in O(batch) — broadcast probe of the corpus's
    # band keys, vector fetch ∝ candidates, hot-bucket cap over UNION
    # counts. Result == the one-shot pipeline's pairs restricted to pairs
    # involving the odd half (cdcrypt/operators/similarity.py, mirrored
    # from the MinHashIndex contract).
    from cdcrypt.operators.similarity import embedding_candidates_incremental
    idx, emb = _emb_index_for(spark, sf_dir)
    return embedding_candidates_incremental(
        spark, idx, emb.where(F.col("vec_id") % 2 == 1),
        threshold=_NEARDUP_LSH["threshold"],
        max_bucket_size=_NEARDUP_LSH["max_bucket_size"])


def _q_ann_lsh_indexed(spark, sf_dir):
    # the SAME persisted index also serves ANN top-k: multi-table LSH
    # OR-probing (candidates share >=1 band bucket) + exact cosine rank —
    # corpus signed once at build, per-batch cost is one sign pass over
    # the queries plus candidate-proportional fetch/shuffle. Oracle
    # replicates band tagging with identical-order arithmetic + the rank
    # window over the even-id base.
    from cdcrypt.operators.similarity import ann_lsh_topk_indexed
    idx, emb = _emb_index_for(spark, sf_dir)
    return ann_lsh_topk_indexed(
        spark, idx, emb.where(F.col("vec_id") < 10), k=_ANN_LSH["k"])


def _q_ann_ivf(spark, sf_dir):
    # IVF with full probe == exact brute force (same oracle as cosine_topk);
    # pruned-probe recall covered in tests
    from cdcrypt.operators.similarity import ann_ivf_topk
    emb = _t(spark, sf_dir, "embeddings")
    return ann_ivf_topk(emb, emb.where(F.col("vec_id") < 10), k=5,
                        n_centroids=8, n_probe=8)


def _q_ann_ivf_indexed(spark, sf_dir):
    # persisted-index variant: build once (train + ONE base assignment
    # pass into a cell-partitioned parquet artifact), then query it —
    # the amortized shape repeated query batches need at corpus scale.
    # Full probe == exact, same oracle as ann_ivf_topk.
    import hashlib
    import os
    import tempfile

    from cdcrypt.operators.similarity import (
        IvfIndex, ann_ivf_topk_indexed, build_ivf_index)
    emb = _t(spark, sf_dir, "embeddings")
    # deterministic per-sf cache dir: build once, reuse across gate/bench
    # invocations (a fresh mkdtemp per call leaked a full parquet copy of
    # the embeddings table into /tmp on every run)
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:"
        f"{_table_fingerprint(sf_dir, 'embeddings')}".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"cdcrypt_ivfidx_{key}")
    try:
        idx = IvfIndex(root)
    except Exception:
        idx = build_ivf_index(emb, root, n_centroids=8)
    return ann_ivf_topk_indexed(spark, idx, emb.where(F.col("vec_id") < 10),
                                k=5, n_probe=8)


def _q_ann_ivf_append(spark, sf_dir):
    # incremental-growth gate: build the index on the even half of the
    # embeddings, append the odd half (no retrain, no reassignment of the
    # old lists), query across the split with full probe — equality with
    # exact brute force over the UNION proves appended vectors are
    # searchable and existing lists intact. The index dir is rebuilt
    # (overwrite) each call, so the single append never accumulates.
    import hashlib
    import os
    import tempfile

    from cdcrypt.operators.similarity import (
        ann_ivf_topk_indexed, append_to_ivf_index, build_ivf_index)
    emb = _t(spark, sf_dir, "embeddings")
    key = hashlib.md5(
        (os.path.abspath(sf_dir) + ":append:"
         + _table_fingerprint(sf_dir, "embeddings")).encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"cdcrypt_ivfapp_{key}")
    build_ivf_index(emb.where(F.col("vec_id") % 2 == 0), root, n_centroids=8)
    idx = append_to_ivf_index(root, emb.where(F.col("vec_id") % 2 == 1))
    return ann_ivf_topk_indexed(spark, idx, emb.where(F.col("vec_id") < 10),
                                k=5, n_probe=8)


# deterministic split/sample gate parameters (functions/sampling.py);
# thresholds are Python-summed literals embedded in BOTH engines
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_SALT, _SAMPLE_SALT, _SAMPLE_FRAC = "v1", "s1", 0.25
_SHUFFLE_SALT = "sh1"


def _q_dataset_split(spark, sf_dir):
    # reproducible train/val/test assignment + nested-sample membership:
    # pure function of (doc_id, salt) via the DuckDB-identical md5 hash —
    # stable under repartitioning/ordering/engine, unlike randomSplit
    from cdcrypt.functions.sampling import deterministic_split, unit_hash
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    out = deterministic_split(docs, _SPLIT_WEIGHTS, salt=_SPLIT_SALT)
    return out.withColumn(
        "in_sample",
        unit_hash("doc_id", _SAMPLE_SALT) < F.lit(_SAMPLE_FRAC))


_QUOTAS = {"src1": 30, "src3": 10}


def _q_quota_sample(spark, sf_dir):
    # exact per-stratum quotas: each stratum keeps its n smallest unit
    # hashes — deterministic, nested under one salt, WindowGroupLimit
    # keeps the shuffle O(partitions x quota). Unlisted strata drop.
    from cdcrypt.functions.sampling import quota_sample
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return quota_sample(docs, _QUOTAS, "source", salt=_SAMPLE_SALT)


def _q_dataset_shuffle(spark, sf_dir):
    # deterministic global shuffle for training export: (shard, sort_key)
    # is a pure function of (doc_id, salt) — identical permutation across
    # engines/layouts/cluster sizes, balanced shards from one hash, local
    # per-shard ordering instead of a global range sort. with_rank
    # materializes the dense within-shard position for verification (the
    # export path writes sortWithinPartitions and never needs it).
    from cdcrypt.functions.sampling import shuffle_dataset
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return shuffle_dataset(docs, 8, salt=_SHUFFLE_SALT, with_rank=True)


def _q_split_leakage_safe(spark, sf_dir):
    # eval-contamination-safe split: assignment hashes the near-dup
    # CONNECTED COMPONENT (minhash LSH pairs -> min-label closure), so no
    # near-duplicate pair ever straddles train and test; singletons hash
    # their own id (component == id), matching dataset_split for them
    from cdcrypt.functions.sampling import leakage_safe_split
    docs = _tp(spark, sf_dir, "documents", "doc_id")
    pairs = _lsh_pairs(spark, sf_dir)
    return leakage_safe_split(
        docs.select("doc_id"), pairs.select("id_a", "id_b"),
        _SPLIT_WEIGHTS, salt=_SPLIT_SALT)


_CURATE = dict(min_quality=0.8, langs=("en",))


def _q_corpus_curation_v2(spark, sf_dir):
    # the capstone with the round-4 quality stages enabled: Gopher-style
    # repetition gate (drop dup_3gram > 0.01 — threshold chosen so it
    # BITES on the synthetic corpus: ~5% of docs) and the PII flag column
    # (pure Column regex count; positive-case coverage lives in pii_scan).
    # Both fuse into the existing survivor scan — zero added shuffles vs
    # the base capstone.
    from cdcrypt.operators.curation import curate_corpus
    docs = _tp(spark, sf_dir, "documents", "doc_id")
    pairs = _lsh_pairs(spark, sf_dir)
    return curate_corpus(
        docs, pairs.select("id_a", "id_b"), _SPLIT_WEIGHTS,
        min_quality=_CURATE["min_quality"], langs=_CURATE["langs"],
        max_dup_3gram=0.01, pii="flag", salt=_SPLIT_SALT)


def _q_corpus_curation(spark, sf_dir):
    # the capstone composition every pretraining pipeline runs, one call:
    # LSH near-dup pairs -> transitive clusters -> canonical survivor ->
    # quality + language gates -> token counts -> deterministic split
    # (hashed on the component, so the split is stable even if the
    # survivor pick changes). Oracle replays the WHOLE pipeline in SQL:
    # banded CTEs -> recursive closure -> survivor window -> the same
    # quality/lang/token expressions -> hash-split CASE.
    from cdcrypt.operators.curation import curate_corpus
    docs = _tp(spark, sf_dir, "documents", "doc_id")
    pairs = _lsh_pairs(spark, sf_dir)
    return curate_corpus(
        docs, pairs.select("id_a", "id_b"), _SPLIT_WEIGHTS,
        min_quality=_CURATE["min_quality"], langs=_CURATE["langs"],
        salt=_SPLIT_SALT)


def _q_training_export(spark, sf_dir):
    # the training-export endgame: curated corpus -> TRAIN split only ->
    # token-budget pack assignment (operators/packing.py sharded-cumsum
    # binning driven by the curation's token counts). One composition,
    # zero added scans: pack_sequences consumes the curated projection's
    # n_tokens directly (tokens_col), so the tail is the single
    # shard-keyed exchange packing always has. The real-BPE variant
    # (operators/tokenizer.py tokenize_and_pack) swaps in true id counts
    # with identical packing arithmetic; its merge loop is not
    # SQL-expressible, so the oracle gates this hash-token-count path and
    # the tokenizer is pinned by tests/test_tokenizer.py instead.
    from cdcrypt.operators.curation import curate_corpus
    from cdcrypt.operators.packing import pack_sequences
    docs = _tp(spark, sf_dir, "documents", "doc_id")
    pairs = _lsh_pairs(spark, sf_dir)
    curated = curate_corpus(
        docs, pairs.select("id_a", "id_b"), _SPLIT_WEIGHTS,
        min_quality=_CURATE["min_quality"], langs=_CURATE["langs"],
        salt=_SPLIT_SALT).where(F.col("split") == "train")
    return pack_sequences(curated, 256, tokens_col="n_tokens", n_shards=8)


def _q_curation_incremental(spark, sf_dir):
    # streaming incremental curation (VERDICT r3 item 4): the same capstone
    # composition maintained PER INGEST TICK as CDC upserts into a curated
    # lake table — two ticks over halves of the corpus, then one read.
    # Components update via star-edge union-find over the minhash index's
    # O(batch) pair queries; per-doc stats are computed once on arrival.
    # Uncapped (tick-time caps are as-of caps), so the oracle is the
    # cap-free one-shot curation SQL — incremental == one-shot == DuckDB.
    import hashlib
    import os
    import tempfile

    from cdcrypt.operators.docdedup import build_minhash_index
    from cdcrypt.streaming.curation import StreamingCuration
    from cdcrypt.table.lake import LakeTable, LakeTableNotFound

    key = hashlib.md5(
        (os.path.abspath(sf_dir) + ":scur:"
         + _table_fingerprint(sf_dir, "documents")).encode()).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"cdcrypt_scur_{key}")
    docs = _tp(spark, sf_dir, "documents", "doc_id")
    try:
        out = LakeTable(os.path.join(base, "out"))
        if out.committed_epoch < 1:  # torn build from a crashed run
            raise LakeTableNotFound(base)
    except LakeTableNotFound:
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        build_minhash_index(
            docs.where("doc_id < 0"), os.path.join(base, "idx"),
            num_hashes=_MINHASH["num_hashes"], bands=_MINHASH["bands"],
            shingle_k=_MINHASH["shingle_k"])
        sc = StreamingCuration(
            os.path.join(base, "idx"), os.path.join(base, "state"),
            os.path.join(base, "out"), _SPLIT_WEIGHTS,
            min_quality=_CURATE["min_quality"], langs=_CURATE["langs"],
            salt=_SPLIT_SALT, max_bucket_size=None)
        for e in range(2):
            sc.apply_batch(docs.where(F.col("doc_id") % 2 == e), e)
    sc = StreamingCuration(
        os.path.join(base, "idx"), os.path.join(base, "state"),
        os.path.join(base, "out"), _SPLIT_WEIGHTS,
        min_quality=_CURATE["min_quality"], langs=_CURATE["langs"],
        salt=_SPLIT_SALT, max_bucket_size=None)
    return sc.read_curated(spark)


def _q_multimodal_features(spark, sf_dir):
    # real struct-parsed header probes (PNG IHDR, WAV RIFF/fmt/data, MP4 box
    # walk) over synthesized-but-valid container bytes; the oracle derives
    # every header field from (doc_id, byte length) — the synthesis
    # contract — and replays the REAL int16 PCM stats (rms/peak/silence)
    # by hex-parsing the same bytes in SQL: integer-exact sums, so the
    # rounded doubles match bit-for-bit
    from cdcrypt.operators.multimodal import attach_fake_media, extract_media_features
    docs = _t(spark, sf_dir, "documents")
    feats = extract_media_features(attach_fake_media(docs))
    return feats.select("doc_id", "media_type", "byte_len", "n_frames",
                        "width", "height", "sample_rate", "duration_s",
                        "pcm_rms", "pcm_peak", "pcm_silence_ratio")


# fixed query set for the BM25 gates (drawn from the generator's vocabulary;
# 'watermark' is deliberately out-of-vocab to exercise unmatched terms)
_BM25_QUERIES = [(0, "hash join order"), (1, "stream window watermark"),
                 (2, "customer table scan merge")]


def _q_bm25_topk(spark, sf_dir):
    # Okapi BM25 ranked retrieval (operators/textsearch.py): one corpus
    # tokenize+tf groupBy, broadcast query terms, window df, top-10 per
    # query — the oracle recomputes the full ranking in SQL (same
    # tokenizer as the minhash family's _WORDS_SQL, same round/tie-break
    # contract as the ANN gates)
    from cdcrypt.operators.textsearch import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    qs = spark.createDataFrame(_BM25_QUERIES, "query_id bigint, query string")
    return bm25_topk(docs, qs, k=10)


def _bm25_index_for(spark, sf_dir):
    """The gate's persisted inverted index: built ONCE per sf dir on the
    EVEN doc_ids then grown by ONE append of the odd half — so the cached
    artifact exercises build + O(batch) append and serves the full corpus
    (same /tmp cache economics + content fingerprint as the IVF/minhash/
    embedding gate artifacts)."""
    import hashlib
    import os
    import tempfile

    from cdcrypt.operators.textsearch import (
        TextIndex, TextIndexError, append_to_text_index, build_text_index)
    docs = _t(spark, sf_dir, "documents")
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:bm25:v1:"
        f"{_table_fingerprint(sf_dir, 'documents')}".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"cdcrypt_textidx_{key}")
    try:
        idx = TextIndex(root)
    except TextIndexError:
        idx = build_text_index(docs.where(F.col("doc_id") % 2 == 0), root,
                               n_partitions=16)
        idx = append_to_text_index(idx, docs.where(F.col("doc_id") % 2 == 1))
    return idx


def _q_bm25_indexed(spark, sf_dir):
    # persisted-index variant: tokenize once into the tpart layout
    # (build on evens + one append of odds == the whole corpus — the
    # append-equals-rebuild contract), then serve the same query set with
    # dynamic-partition-pruned postings reads; same oracle as bm25_topk
    from cdcrypt.operators.textsearch import bm25_topk_indexed

    idx = _bm25_index_for(spark, sf_dir)
    qs = spark.createDataFrame(_BM25_QUERIES, "query_id bigint, query string")
    return bm25_topk_indexed(spark, idx, qs, k=10)


_DSIR = dict(n_buckets=2048, alpha=0.5, k=50, salt="dsir")


def _q_dsir_weights(spark, sf_dir):
    # DSIR importance weights (operators/dsir.py): target = the src2
    # slice, raw = the whole corpus; hashed uni+bigram multinomials,
    # per-token mean log-ratio. The oracle rebuilds the features with a
    # lag window and replays the smoothing arithmetic
    from cdcrypt.operators.dsir import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_weights(docs, docs.where(F.col("source") == "src2"),
                        n_buckets=_DSIR["n_buckets"], alpha=_DSIR["alpha"])


def _q_dsir_sample(spark, sf_dir):
    # Gumbel top-k importance resample: deterministic noise from the
    # md5-derived 60-bit hash, so the SELECTED SET itself is oracle-gated
    from cdcrypt.operators.dsir import dsir_sample

    docs = _t(spark, sf_dir, "documents")
    return dsir_sample(docs, docs.where(F.col("source") == "src2"),
                       k=_DSIR["k"], n_buckets=_DSIR["n_buckets"],
                       alpha=_DSIR["alpha"], salt=_DSIR["salt"])


def _dsir_cte() -> str:
    """Shared DSIR CTEs: hashed features (lag-window bigrams), target/raw
    totals, smoothed log-ratio table, per-doc scores."""
    from cdcrypt.functions.hash64 import h60_sql
    b, a = _DSIR["n_buckets"], _DSIR["alpha"]
    return f"""
        WITH tok AS (
          SELECT doc_id, source, unnest(ws) AS term,
                 generate_subscripts(ws, 1) AS pos
          FROM (SELECT doc_id, source,
                       list_filter({_WORDS_SQL}, x -> x <> '') AS ws
                FROM documents)),
        grams AS (
          SELECT doc_id, source, 'u:' || term AS g FROM tok
          UNION ALL
          SELECT doc_id, source,
                 'b:' || lag(term) OVER (PARTITION BY doc_id ORDER BY pos)
                      || ' ' || term AS g
          FROM tok),
        feat AS (
          SELECT doc_id, source, {h60_sql("g")} % {b} AS bucket,
                 count(*) AS cnt
          FROM grams WHERE g IS NOT NULL GROUP BY 1, 2, 3),
        ct AS (SELECT bucket, sum(cnt) AS c_t FROM feat
               WHERE source = 'src2' GROUP BY 1),
        cr AS (SELECT bucket, sum(cnt) AS c_r FROM feat GROUP BY 1),
        tot AS (
          SELECT sum(coalesce(c_t, 0)) AS tt, sum(coalesce(c_r, 0)) AS tr
          FROM cr FULL OUTER JOIN ct USING (bucket)),
        lr AS (
          SELECT bucket,
                 ln((coalesce(c_t, 0) + {a}) / (tt + {a} * {b}))
                 - ln((coalesce(c_r, 0) + {a}) / (tr + {a} * {b})) AS lr
          FROM cr FULL OUTER JOIN ct USING (bucket) CROSS JOIN tot),
        scores AS (
          SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feats,
                 round(sum(cnt * lr) / sum(cnt), 4) AS logw
          FROM feat JOIN lr USING (bucket)
          GROUP BY doc_id)
    """


def _dsir_sample_sql() -> str:
    from cdcrypt.functions.hash64 import h60_sql
    k, salt = _DSIR["k"], _DSIR["salt"]
    pre = h60_sql(f"CAST(doc_id AS VARCHAR) || ':' || '{salt}'")
    g = f"-ln(-ln({pre} / {float(1 << 60)!r}))"
    return _dsir_cte() + f"""
        SELECT doc_id, logw, key, rank FROM (
          SELECT doc_id, logw, round(logw + {g}, 4) AS key,
                 row_number() OVER (ORDER BY round(logw + {g}, 4) DESC,
                                    doc_id ASC) AS rank
          FROM scores)
        WHERE rank <= {k}
    """


_SEMDEDUP = dict(threshold=0.5, bits=6, dim=64, seed=42)


def _q_semdedup(spark, sf_dir):
    # SemDeDup (Abbas et al. 2023) with the LSH assigner — the cluster ids
    # are 6-bit hyperplane-sign buckets whose float arithmetic the oracle
    # replays term-for-term, then the greedy lower-id sweep inside each
    # cluster; the kmeans assigner (the paper's) is property-tested with
    # planted duplicate groups in tests/test_semdedup.py
    from cdcrypt.operators.similarity import semdedup

    emb = _tp(spark, sf_dir, "embeddings", "vec_id")
    p = _SEMDEDUP
    return semdedup(emb, threshold=p["threshold"], assigner="lsh",
                    bits=p["bits"], seed=p["seed"], dim=p["dim"])


def _semdedup_sql() -> str:
    from cdcrypt.operators.similarity import lsh_planes
    p = _SEMDEDUP
    planes = lsh_planes(p["dim"], p["bits"], p["seed"])
    bucket = " + ".join(
        f"CASE WHEN {_plane_dot_sql('embedding', pl, p['dim'])} >= 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, pl in enumerate(planes))
    return f"""
        WITH tagged AS (
          SELECT vec_id, CAST({bucket} AS BIGINT) AS cluster
          FROM embeddings),
        drops AS (
          SELECT DISTINCT b.vec_id
          FROM tagged a
          JOIN tagged b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          JOIN embeddings ea ON ea.vec_id = a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id
          WHERE round(list_cosine_similarity(
                  ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4)
                >= {p["threshold"]})
        SELECT t.vec_id, t.cluster, (d.vec_id IS NULL) AS keep
        FROM tagged t LEFT JOIN drops d USING (vec_id)
    """


def _lm_index_for(spark, sf_dir):
    """The gate's persisted bigram LM: built ONCE per sf dir on the EVEN
    src1 doc_ids, grown by ONE append of the odd src1 half, then
    compacted — the cached artifact exercises build + O(batch) append +
    merge-on-read compaction and equals training on all of src1."""
    import hashlib
    import os
    import tempfile

    from cdcrypt.operators.lmscore import (
        BigramLMIndex, LMIndexError, append_to_lm_index, build_lm_index,
        compact_lm_index)
    docs = _t(spark, sf_dir, "documents").where(F.col("source") == "src1")
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:lm:v1:"
        f"{_table_fingerprint(sf_dir, 'documents')}".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"cdcrypt_lmidx_{key}")
    try:
        idx = BigramLMIndex(root)
    except LMIndexError:
        idx = build_lm_index(docs.where(F.col("doc_id") % 2 == 0), root,
                             n_partitions=8)
        idx = append_to_lm_index(idx, docs.where(F.col("doc_id") % 2 == 1))
        idx = compact_lm_index(spark, idx)
    return idx


def _q_lm_incremental(spark, sf_dir):
    # persisted-LM variant of lm_perplexity: count src1's bigrams once
    # into hpart segments (evens) + one O(batch) append (odds) + a
    # compaction — scoring through the artifact must equal training from
    # scratch, so it shares lm_perplexity's oracle verbatim
    from cdcrypt.operators.lmscore import score_perplexity

    idx = _lm_index_for(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return score_perplexity(docs, idx.lm(spark), broadcast_lm=True)


def _q_lm_perplexity(spark, sf_dir):
    # CCNet-shaped quality filter (operators/lmscore.py): train an
    # add-alpha bigram LM on the src1 slice (the 'trusted reference'),
    # score EVERY document's perplexity under it. All joins on 60-bit
    # md5 hashes — the oracle rebuilds the identical LM with a lag
    # window and replays the smoothing arithmetic
    from cdcrypt.operators.lmscore import score_perplexity, train_bigram_lm

    docs = _t(spark, sf_dir, "documents")
    lm = train_bigram_lm(docs.where(F.col("source") == "src1"))
    return score_perplexity(docs, lm, broadcast_lm=True)


def _turns_df(spark, sf_dir, with_event_id=False):
    """The transcripts relation (BASELINE.json input_hint shape) derived
    deterministically from the events table so the DuckDB oracle can
    rebuild it verbatim: conv = user, stable turn order = (ts, event_id)
    row_number, roles cycled by event_id, ~2.7% NULL texts (the
    changegen null-text case), tool set only on tool turns.
    ``with_event_id`` additionally carries the source event_id (the
    lake-capstone gate keys its mutation arithmetic on it)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    role = (F.when(F.col("event_id") % 3 == 0, "user")
             .when(F.col("event_id") % 3 == 1, "assistant")
             .otherwise("tool"))
    extra = [F.col("event_id")] if with_event_id else []
    return ev.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        F.row_number().over(w).alias("turn_idx"),
        role.alias("role"),
        F.when(F.col("event_id") % 37 == 5, F.lit(None).cast("string"))
         .otherwise(F.concat(F.col("event_type"), F.lit(" "),
                             F.col("props"))).alias("text"),
        F.when(role == "tool", F.col("event_type")).alias("tool"),
        F.col("ts"),
        *extra,
    )


def _transcript_lake_for(spark, sf_dir):
    """Transcript-shaped lake artifact: the _turns_df relation applied
    through the REAL storage engine (MoR merges, LWW, deletes) — epoch 1
    inserts every turn, epoch 2 edits text where event_id%9==4 and
    deletes turns where event_id%17==6 (arithmetic rules the oracle
    restates as final-state predicates). Cached per source fingerprint
    with a torn-build guard."""
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
        TimestampType,
    )

    from cdcrypt.operators.dedup import resolve_latest_agg
    from cdcrypt.operators.merge import merge_upsert
    from cdcrypt.table.lake import LakeTable, LakeTableNotFound

    key = hashlib.md5(
        (os.path.abspath(sf_dir) + ":tlake:"
         + _table_fingerprint(sf_dir, "events")).encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"cdcrypt_tlake_{key}")
    try:
        table = LakeTable(root)
        if table.committed_epoch >= 2:
            return table
        raise LakeTableNotFound(root)
    except LakeTableNotFound:
        shutil.rmtree(root, ignore_errors=True)
    schema = StructType([
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
        StructField("op_seq", LongType(), True),
    ])
    table = LakeTable.create(root, schema, bucket_count=8,
                             bucket_by="conv_id",
                             key_cols=["conv_id", "turn_idx"])
    turns = _turns_df(spark, sf_dir, with_event_id=True)
    e1 = turns.select(
        F.lit("I").alias("op"), "conv_id", "turn_idx", "role", "text",
        "tool", "ts", F.col("event_id").alias("op_seq"),
        F.lit(1).cast("long").alias("epoch"))
    merge_upsert(spark, table,
                 resolve_latest_agg(e1, key_cols=["conv_id", "turn_idx"]),
                 epoch=1, mode="mor")
    eid = F.col("event_id")
    changed = turns.where((eid % 9 == 4) | (eid % 17 == 6))
    e2 = changed.select(
        F.when(eid % 17 == 6, "D").otherwise("U").alias("op"),
        "conv_id", "turn_idx", "role",
        F.concat(F.coalesce(F.col("text"), F.lit("")),
                 F.lit(" [edited]")).alias("text"),
        "tool", "ts", (eid + 1_000_000_000).alias("op_seq"),
        F.lit(2).cast("long").alias("epoch"))
    merge_upsert(spark, table,
                 resolve_latest_agg(e2, key_cols=["conv_id", "turn_idx"]),
                 epoch=2, mode="mor")
    return table


def _q_transcript_export(spark, sf_dir):
    # capstone: turns applied THROUGH the lake (MoR LWW, edits, deletes)
    # then rendered in stable turn order — the training-export shape
    from cdcrypt.operators.transcripts import render_transcript

    table = _transcript_lake_for(spark, sf_dir)
    return render_transcript(table.read(spark))


def _q_transcript_stats(spark, sf_dir):
    # conversation-level scalar rollup: one map-side-combining aggregate
    from cdcrypt.operators.transcripts import conversation_stats

    return conversation_stats(_turns_df(spark, sf_dir))


def _q_transcript_render(spark, sf_dir):
    # canonical training-sample rendering under stable turn ordering
    from cdcrypt.operators.transcripts import render_transcript

    return render_transcript(_turns_df(spark, sf_dir))


def _q_transcript_sft_pairs(spark, sf_dir):
    # adjacent user->assistant pair extraction (one window shuffle)
    from cdcrypt.operators.transcripts import sft_pairs

    return sft_pairs(_turns_df(spark, sf_dir))


def _q_transcript_tool_stats(spark, sf_dir):
    # per-tool usage rollup with exact distinct-conversation counts
    from cdcrypt.operators.transcripts import tool_usage

    return tool_usage(_turns_df(spark, sf_dir))


def _joinview_for(spark, sf_dir):
    """Shared JoinView artifact: fact (events keyed by event_id, join key
    user_id) + user dim, both bootstrapped at epoch 1 and mutated at
    epoch 2 (value updates, join-key movers, fact deletes, dim updates,
    dim deletes) with ONE maintenance tick folding both changelogs. The
    mutation rules are pure arithmetic on event_id/user_id so the oracle
    states the FINAL join directly. Cached per source fingerprint with a
    torn-build guard."""
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from cdcrypt.operators.dedup import resolve_latest_agg
    from cdcrypt.operators.merge import merge_upsert
    from cdcrypt.streaming.joinview import JoinView
    from cdcrypt.table.lake import LakeTable, LakeTableNotFound

    key = hashlib.md5(
        (os.path.abspath(sf_dir) + ":jview:"
         + _table_fingerprint(sf_dir, "events")).encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"cdcrypt_jview_{key}")
    try:
        view = JoinView(root + "/view")
        if view.table.committed_epoch < 2:
            raise LakeTableNotFound(root)
        return view
    except (LakeTableNotFound, FileNotFoundError):
        shutil.rmtree(root, ignore_errors=True)

    fact_schema = StructType([
        StructField("event_id", LongType(), False),
        StructField("user_id", LongType(), True),
        StructField("val", DoubleType(), True),
        StructField("op_seq", LongType(), True),
    ])
    dim_schema = StructType([
        StructField("user_id", LongType(), False),
        StructField("seg", StringType(), True),
        StructField("op_seq", LongType(), True),
    ])
    fact = LakeTable.create(root + "/fact", fact_schema, bucket_count=8,
                            bucket_by="user_id", key_cols=["event_id"])
    dim = LakeTable.create(root + "/dim", dim_schema, bucket_count=8,
                           bucket_by="user_id", key_cols=["user_id"])
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("value").cast("double").alias("val"))
    eid, uid = F.col("event_id"), F.col("user_id")

    f1 = ev.select(
        F.lit("I").alias("op"), "event_id", "user_id", "val",
        eid.alias("op_seq"), F.lit(1).cast("long").alias("epoch"))
    merge_upsert(spark, fact,
                 resolve_latest_agg(f1, key_cols=["event_id"]),
                 epoch=1, mode="mor")
    users = ev.select("user_id").distinct()
    d1 = users.select(
        F.lit("I").alias("op"), "user_id",
        F.concat(F.lit("s"), (uid % 4).cast("string")).alias("seg"),
        uid.alias("op_seq"), F.lit(1).cast("long").alias("epoch"))
    merge_upsert(spark, dim,
                 resolve_latest_agg(d1, key_cols=["user_id"]),
                 epoch=1, mode="mor")

    view = JoinView.create(root + "/view", fact, dim,
                           on=("user_id", "user_id"), how="left",
                           bucket_count=8)
    view.bootstrap(spark)

    # epoch 2: composable arithmetic mutations (deletes trump, movers and
    # value updates compose) — mirrored verbatim in the oracle SQL
    changed = ev.where((eid % 11 == 3) | (eid % 7 == 0) | (eid % 13 == 5))
    f2 = changed.select(
        F.when(eid % 11 == 3, "D").otherwise("U").alias("op"),
        "event_id",
        F.when(eid % 13 == 5, uid + 1).otherwise(uid).alias("user_id"),
        F.when(eid % 7 == 0, F.col("val") + 1.0)
         .otherwise(F.col("val")).alias("val"),
        (eid + 1_000_000_000).alias("op_seq"),
        F.lit(2).cast("long").alias("epoch"))
    merge_upsert(spark, fact,
                 resolve_latest_agg(f2, key_cols=["event_id"]),
                 epoch=2, mode="mor")
    d2 = (users.where((uid % 5 == 0) | (uid % 13 == 0)).select(
        F.when(uid % 13 == 0, "D").otherwise("U").alias("op"),
        "user_id",
        F.lit("upd").alias("seg"),
        (uid + 1_000_000_000).alias("op_seq"),
        F.lit(2).cast("long").alias("epoch")))
    merge_upsert(spark, dim,
                 resolve_latest_agg(d2, key_cols=["user_id"]),
                 epoch=2, mode="mor")
    view.tick(spark)
    return view


def _q_ann_sq_topk(spark, sf_dir):
    # scalar-quantized (SQ8) ANN: 1 byte/dim codes, asymmetric-distance
    # top-k — encode/reconstruct/score are pure Column arithmetic the
    # oracle replays term-for-term (operators/pq.py)
    from cdcrypt.operators.pq import sq_encode, sq_topk, sq_train

    emb = _tp(spark, sf_dir, "embeddings", "vec_id")
    book = sq_train(emb)
    codes = sq_encode(emb, book)
    queries = emb.where(F.col("vec_id") < 10)
    return sq_topk(codes, queries, book, k=5)


def _q_decontam_spans(spark, sf_dir):
    # span-level benchmark decontamination: corpus spans duplicating any
    # reference text (reference = every 10th document), broadcast probe
    from cdcrypt.operators.substrdedup import contaminated_spans

    docs = _tp(spark, sf_dir, "documents", "doc_id")
    ref = docs.where(F.col("doc_id") % 10 == 0)
    return contaminated_spans(docs, ref, k=8)


def _q_cdc_join_view(spark, sf_dir):
    # incrementally-maintained fact-dim join view (streaming/joinview.py):
    # final state after one tick over both sources' epoch-2 changelogs
    view = _joinview_for(spark, sf_dir)
    return view.read(spark).select(
        "event_id", "user_id", F.round("val", 6).alias("val"), "seg")


def _q_substr_dup_spans(spark, sf_dir):
    # exact-substring dedup (Lee et al. 2021): maximal duplicated >=k-token
    # spans via duplicated-k-gram island contraction — no self-join
    from cdcrypt.operators.substrdedup import duplicate_spans

    docs = _tp(spark, sf_dir, "documents", "doc_id")
    return duplicate_spans(docs, k=8)


def _q_substr_scrub(spark, sf_dir):
    # the scrubbed corpus: duplicated spans removed, survivors verbatim
    from cdcrypt.operators.substrdedup import scrub_duplicate_spans

    docs = _tp(spark, sf_dir, "documents", "doc_id")
    return scrub_duplicate_spans(docs, k=8)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "smt_encrypt_roundtrip": _q_smt_encrypt_roundtrip,
        "smt_key_rotation": _q_smt_key_rotation,
        "smt_crypto_shred": _q_smt_crypto_shred,
        "smt_dlq_tolerance": _q_smt_dlq_tolerance,
        "smt_parse_dlq": _q_smt_parse_dlq,
        "smt_roundtrip_jvm": _q_smt_roundtrip_jvm,
        "smt_array_wildcard": _q_smt_array_wildcard,
        "smt_array_struct_wildcard": _q_smt_array_struct_wildcard,
        "smt_nested_array_crypto": _q_smt_nested_array_crypto,
        "smt_conditional_crypto": _q_smt_conditional_crypto,
        "smt_mask_field": _q_smt_mask_field,
        "smt_hash_field": _q_smt_hash_field,
        "smt_connect_chain": _q_smt_connect_chain,
        "smt_header_predicate": _q_smt_header_predicate,
        "range_join_assign": _q_range_join_assign,
        "range_join_hot": _q_range_join_hot,
        "smt_regex_router": _q_smt_regex_router,
        "smt_outbox_route": _q_smt_outbox_route,
        "smt_schemaless_roundtrip": _q_smt_schemaless_roundtrip,
        "smt_asym_roundtrip": _q_smt_asym_roundtrip,
        "det_key_groupby": _q_det_key_groupby,
        "condition_gate": _q_condition_gate,
        "cdc_window_dedup": _q_cdc_window_dedup,
        "cdc_last_writer_wins": _q_cdc_last_writer_wins,
        "cdc_merge_full_outer": _q_cdc_merge_full_outer,
        "cdc_reconcile": _q_cdc_reconcile,
        "cdc_stream_audit": _q_cdc_stream_audit,
        "cdc_partial_update": _q_cdc_partial_update,
        "cdc_aggregate_engine": _q_cdc_aggregate_engine,
        "cdc_multi_table": _q_cdc_multi_table,
        "cdc_scd2_history": _q_cdc_scd2_history,
        "cdc_scd2_asof": _q_cdc_scd2_asof,
        "asof_join_enrich": _q_asof_join_enrich,
        "cdc_changelog": _q_cdc_changelog,
        "cdc_merge_mor_read": _q_cdc_merge_mor_read,
        "cdc_changefeed_chain": _q_cdc_changefeed_chain,
        "cdc_agg_view": _q_cdc_agg_view,
        "cdc_time_travel": _q_cdc_time_travel,
        "cdc_schema_evolution": _q_cdc_schema_evolution,
        "cdc_snapshot_bootstrap": _q_cdc_snapshot_bootstrap,
        "cdc_partition_evolution": _q_cdc_partition_evolution,
        "cdc_point_lookup": _q_cdc_point_lookup,
        "cdc_bloom_lookup": _q_cdc_bloom_lookup,
        "cdc_clustered_scan": _q_cdc_clustered_scan,
        "cdc_zorder_scan": _q_cdc_zorder_scan,
        "cdc_tag_read": _q_cdc_tag_read,
        "cdc_rollback_read": _q_cdc_rollback_read,
        "cdc_compacted_read": _q_cdc_compacted_read,
        "cdc_incremental_read": _q_cdc_incremental_read,
        "cdc_txn_align": _q_cdc_txn_align,
        "windowed_counts": _q_windowed_counts,
        "session_windows": _q_session_windows,
        "debezium_parse": _q_debezium_parse,
        "debezium_emit": _q_debezium_emit,
        "debezium_parse_dlq": _q_debezium_parse_dlq,
        "pii_scan": _q_pii_scan,
        "smt_encrypt_pii": _q_smt_encrypt_pii,
        "repetition_stats": _q_repetition_stats,
        "tpch_q1_agg": _q_tpch_q1_agg,
        "tpch_join_revenue": _q_tpch_join_revenue,
        "dedup_exact": _q_dedup_exact,
        "line_dedup": _q_line_dedup,
        "line_dedup_keep_first": _q_line_dedup_keep_first,
        "corpus_profile": _q_corpus_profile,
        "hot_keys": _q_hot_keys,
        "text_normalize": _q_text_normalize,
        "text_nfc": _q_text_nfc,
        "numeric_histogram": _q_numeric_histogram,
        "numeric_quantiles": _q_numeric_quantiles,
        "profile_incremental": _q_profile_incremental,
        "text_stats": _q_text_stats,
        "token_counts": _q_token_counts,
        "bm25_topk": _q_bm25_topk,
        "bm25_indexed": _q_bm25_indexed,
        "lm_perplexity": _q_lm_perplexity,
        "lm_incremental": _q_lm_incremental,
        "semdedup": _q_semdedup,
        "dsir_weights": _q_dsir_weights,
        "dsir_sample": _q_dsir_sample,
        "pack_sequences": _q_pack_sequences,
        "pack_manifest": _q_pack_manifest,
        "chunk_documents": _q_chunk_documents,
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "dedup_components": _q_dedup_components,
        "dedup_near": _q_dedup_near,
        "minhash_incremental": _q_minhash_incremental,
        "simhash_groups": _q_simhash_groups,
        "simhash_near_pairs": _q_simhash_near_pairs,
        "ngram_jaccard": _q_ngram_jaccard,
        "decontamination": _q_decontamination,
        "boilerplate_scan": _q_boilerplate_scan,
        "mixture_plan": _q_mixture_plan,
        "mixture_sample": _q_mixture_sample,
        "cosine_topk": _q_cosine_topk,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf,
        "ann_ivf_indexed": _q_ann_ivf_indexed,
        "ann_ivf_append": _q_ann_ivf_append,
        "embedding_neardup": _q_embedding_neardup,
        "embedding_incremental": _q_embedding_incremental,
        "ann_lsh_indexed": _q_ann_lsh_indexed,
        "dataset_split": _q_dataset_split,
        "dataset_shuffle": _q_dataset_shuffle,
        "quota_sample": _q_quota_sample,
        "split_leakage_safe": _q_split_leakage_safe,
        "corpus_curation": _q_corpus_curation,
        "training_export": _q_training_export,
        "corpus_curation_v2": _q_corpus_curation_v2,
        "curation_incremental": _q_curation_incremental,
        "multimodal_features": _q_multimodal_features,
        "transcript_stats": _q_transcript_stats,
        "transcript_render": _q_transcript_render,
        "transcript_sft_pairs": _q_transcript_sft_pairs,
        "transcript_tool_stats": _q_transcript_tool_stats,
        "transcript_export": _q_transcript_export,
        "substr_dup_spans": _q_substr_dup_spans,
        "substr_scrub": _q_substr_scrub,
        "cdc_join_view": _q_cdc_join_view,
        "decontam_spans": _q_decontam_spans,
        "ann_sq_topk": _q_ann_sq_topk,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------
#
# The LSH/minhash/simhash oracles REPLICATE the engine's full pipeline in
# SQL: both sides hash with the md5-derived 60-bit family
# (cdcrypt/functions/hash64.py — bit-identical across Spark and DuckDB) and
# the hyperplane-sign buckets use unrolled identical-order double
# arithmetic, so candidate sets match exactly, not just statistically.

_WORDS_SQL = ("regexp_split_to_array(regexp_replace(trim(lower(text)), "
              "'\\s+', ' ', 'g'), ' ')")


def _bm25_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """Full BM25 ranking replicated in DuckDB SQL (shared by the one-shot
    and indexed gates — the index is a layout, not a semantics change):
    same tokenizer as _WORDS_SQL, idf = ln(1+(N-df+.5)/(df+.5)), saturated
    tf, 4-dp rounding before the rank window, doc_id tie-break."""
    vals = ", ".join(f"({qid}, '{txt}')" for qid, txt in _BM25_QUERIES)
    return f"""
        WITH w AS (
          SELECT doc_id,
                 list_filter({_WORDS_SQL}, x -> x <> '') AS ws
          FROM documents),
        stats AS (
          SELECT count(*) AS n_docs,
                 sum(len(ws))::DOUBLE / count(*) AS avgdl FROM w),
        post AS (
          SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl FROM (
            SELECT doc_id, unnest(ws) AS term, len(ws) AS dl FROM w)
          GROUP BY doc_id, term),
        dfs AS (SELECT term, count(*) AS df FROM post GROUP BY term),
        qt AS (
          SELECT DISTINCT query_id, term FROM (
            SELECT query_id,
                   unnest(list_filter(regexp_split_to_array(
                     regexp_replace(trim(lower(qtext)), '\\s+', ' ', 'g'),
                     ' '), x -> x <> '')) AS term
            FROM (VALUES {vals}) v(query_id, qtext))),
        scored AS (
          SELECT qt.query_id, p.doc_id,
                 round(sum(
                   ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * p.tf * {k1 + 1.0}
                   / (p.tf + {k1} * (1 - {b} + {b} * p.dl / s.avgdl))
                 ), 4) AS score
          FROM qt
          JOIN post p USING (term)
          JOIN dfs d USING (term)
          CROSS JOIN stats s
          GROUP BY 1, 2)
        SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank, score
        FROM (
          SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc_id ASC) AS rank
          FROM scored)
        WHERE rank <= {k}
    """


def _minhash_cte(cap: "int | None" = -1) -> str:
    """CTEs shared by minhash_lsh_pairs / ngram_jaccard: words -> distinct
    shingle hashes -> 32 minhashes -> 16 band hashes -> hot-bucket cap.
    ``cap=None`` emits the uncapped pipeline (banded = banded_all) for the
    gates whose Spark side runs uncapped (tick-time caps are as-of caps,
    so the incremental-curation gate compares cap-free)."""
    from cdcrypt.functions.hash64 import h60_combine_sql, h60_sql
    from cdcrypt.operators.docdedup import mh_member_consts

    nh, bands = _MINHASH["num_hashes"], _MINHASH["bands"]
    k = _MINHASH["shingle_k"]
    if cap == -1:
        cap = _MINHASH["max_bucket_size"]
    rpb = nh // bands
    sh_expr = h60_sql(f"array_to_string(ws[i:i+{k - 1}], ' ')")
    single = h60_sql("array_to_string(ws, ' ')")

    def member_sql(i: int) -> str:
        # universal-hash member: same literal constants as the Spark side
        a, b = mh_member_consts(i)
        return f"(s % 1073741824) * {a} + (s // 1073741824) * {b}"

    mins = ",\n             ".join(
        f"min({member_sql(i)}) AS h{i}" for i in range(nh))
    band_selects = "\n          UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + h60_combine_sql(str(b), *[f"h{b * rpb + r}" for r in range(rpb)])
        + " AS bhash FROM sig"
        for b in range(bands))
    return f"""
        WITH w AS (
          SELECT doc_id, {_WORDS_SQL} AS ws
          FROM documents WHERE text IS NOT NULL AND length(text) > 0
        ),
        shs AS (
          SELECT doc_id, list_distinct(
            CASE WHEN len(ws) >= {k}
              THEN [{sh_expr} for i in range(1, len(ws) - {k - 2})]
              ELSE [{single}] END) AS sh
          FROM w
        ),
        ex AS (SELECT doc_id, unnest(sh) AS s FROM shs),
        sig AS (SELECT doc_id,
             {mins}
             FROM ex GROUP BY doc_id),
        banded_all AS ({band_selects}),
        {_cap_ctes(cap)}
    """


def _cap_ctes(cap: "int | None") -> str:
    if cap is None:
        return "banded AS (SELECT * FROM banded_all)"
    return f"""hot AS (SELECT band, bhash FROM banded_all
                GROUP BY band, bhash HAVING count(*) > {cap}),
        banded AS (
          SELECT ba.* FROM banded_all ba
          LEFT JOIN hot h ON h.band = ba.band AND h.bhash = ba.bhash
          WHERE h.band IS NULL
        )"""


def _minhash_pairs_sql() -> str:
    return _minhash_cte() + """
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               count(*) AS n_shared_bands
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    """


def _tokens_sql(col: str) -> str:
    """DuckDB replica of functions/text.py token_count (BIGINT)."""
    return (f"CAST(CASE WHEN length(trim({col})) = 0 THEN 0 "
            f"ELSE len(regexp_split_to_array(trim({col}), '\\s+')) END "
            "AS BIGINT)")


def _punct_ratio_sql(col: str) -> str:
    return (f"round((length({col}) - length(regexp_replace({col}, "
            f"'[.,;:!?''\"()\\[\\]{{}}]', '', 'g'))) "
            f"/ greatest(length({col}), 1)::DOUBLE, 6)")


def _digit_ratio_sql(col: str) -> str:
    return (f"round((length({col}) - length(regexp_replace({col}, "
            f"'[0-9]', '', 'g'))) / greatest(length({col}), 1)::DOUBLE, 6)")


def _quality_sql(col: str) -> str:
    """DuckDB replica of functions/text.py quality_score (round 6)."""
    space = (f"round((length({col}) - length(replace({col}, ' ', ''))) "
             f"/ greatest(length({col}), 1)::DOUBLE, 6)")
    return (f"round(greatest(least(length({col}) / 500.0, 1.0) * 0.4 "
            f"+ least({space} * 8, 1.0) * 0.4 "
            f"+ (1 - least(({_punct_ratio_sql(col)} "
            f"+ {_digit_ratio_sql(col)}) * 3, 1.0)) * 0.2, 0.0), 6)")


def _lang_sql(col: str) -> str:
    """DuckDB replica of functions/text.py lang_id."""
    return f"""CASE
                WHEN len(regexp_extract_all({col}, '[぀-ヿ一-鿿]')) > 0 THEN 'cjk'
                WHEN len(regexp_extract_all({col}, '[Ͱ-Ͽ]')) > 0 THEN 'greek'
                WHEN (length({col}) - length(replace({col}, ' the ', ''))) / 5.0
                   + (length({col}) - length(replace({col}, ' and ', ''))) / 5.0
                   + (length({col}) - length(replace({col}, ' of ', ''))) / 4.0
                   + (length({col}) - length(replace({col}, ' to ', ''))) / 4.0 >= 1
                  THEN 'en'
                ELSE 'other'
              END"""


def _components_closure_cte() -> str:
    """The ONE copy of the minhash-pairs -> min-label reachability closure
    every components-based oracle splices after the RECURSIVE banded CTEs:
    ends with ``comp(node, component)``. (Three oracles previously carried
    hand-copied variants of this fragment.)"""
    return """
        , pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        ),
        edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION
          SELECT id_b AS u, id_a AS v FROM pairs
        ),
        reach(node, r) AS (
          SELECT u, u FROM edges
          UNION
          SELECT re.node, e.v FROM reach re JOIN edges e ON e.u = re.r
        ),
        comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
    """


def _dedup_components_sql() -> str:
    # same banded CTEs as minhash_lsh_pairs, then min-label reachability
    # closure: component = min node id reachable over the candidate edges
    cte = _minhash_cte().replace("WITH ", "WITH RECURSIVE ", 1)
    return cte + _components_closure_cte() + """
        SELECT node AS doc_id, component FROM comp
    """


def _dataset_split_sql() -> str:
    # one md5 per row per purpose (split/sample), computed in a subquery —
    # mirrors deterministic_split's hashed helper column
    from cdcrypt.functions.sampling import split_case_sql, unit_hash_sql
    case = split_case_sql("u_split", _SPLIT_WEIGHTS)
    return f"""
        SELECT doc_id, {case} AS split,
               u_sample < {_SAMPLE_FRAC!r} AS in_sample
        FROM (
          SELECT doc_id,
                 {unit_hash_sql('doc_id', _SPLIT_SALT)} AS u_split,
                 {unit_hash_sql('doc_id', _SAMPLE_SALT)} AS u_sample
          FROM documents)
    """


def _quota_sample_sql() -> str:
    from cdcrypt.functions.sampling import unit_hash_sql
    case = " ".join(f"WHEN '{v}' THEN {n}" for v, n in _QUOTAS.items())
    return f"""
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY u, doc_id) AS rk,
                 CASE source {case} ELSE 0 END AS q
          FROM (SELECT doc_id, source,
                       {unit_hash_sql('doc_id', _SAMPLE_SALT)} AS u
                FROM documents))
        WHERE rk <= q
    """


def _dataset_shuffle_sql() -> str:
    from cdcrypt.functions.sampling import shuffle_dataset_sql
    return f"""
        SELECT doc_id, sort_key, shard,
               row_number() OVER (
                   PARTITION BY shard
                   ORDER BY sort_key, doc_id) AS shard_rank
        FROM (SELECT doc_id,
                     {shuffle_dataset_sql('doc_id', _SHUFFLE_SALT, 8)}
              FROM documents)
    """


def _split_leakage_safe_sql() -> str:
    # the shared components closure, then every doc left-joined (singleton
    # component = own id) and the split CASE over ONE hash of the component
    from cdcrypt.functions.sampling import split_case_sql, unit_hash_sql
    cte = _minhash_cte().replace("WITH ", "WITH RECURSIVE ", 1)
    return cte + _components_closure_cte() + f"""
        , labeled AS (
          SELECT d.doc_id,
                 coalesce(c.component, d.doc_id) AS component
          FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        )
        SELECT doc_id, component,
               {split_case_sql("u_split", _SPLIT_WEIGHTS)} AS split
        FROM (
          SELECT doc_id, component,
                 {unit_hash_sql('component', _SPLIT_SALT)} AS u_split
          FROM labeled)
    """


def _pii_count_sql(col: str) -> str:
    """DuckDB replica of operators/pii.py scan_pii's pii_count — same
    PII_PATTERNS source, so the regexes cannot drift."""
    from cdcrypt.operators.pii import PII_PATTERNS

    return ("CAST(" + " + ".join(
        f"CAST(coalesce(regexp_matches({col}, '{p}'), false) AS INT)"
        for p in PII_PATTERNS.values()) + " AS BIGINT)")


def _corpus_curation_sql(cap: "int | None" = -1,
                         v2: bool = False) -> str:
    from cdcrypt.functions.sampling import split_case_sql, unit_hash_sql
    cte = _minhash_cte(cap).replace("WITH ", "WITH RECURSIVE ", 1)
    mq, lang = _CURATE["min_quality"], _CURATE["langs"][0]
    extra_score = extra_out = extra_where = ""
    if v2:
        extra_score = (f", {_dup_ngram_sql(3, 'd.text')} AS dup_3gram, "
                       f"{_pii_count_sql('d.text')} AS pii_count")
        extra_out = ", dup_3gram, pii_count"
        extra_where = " AND dup_3gram <= 0.01"
    return cte + _survivors_cte() + f"""
        , scored AS (
          SELECT s.doc_id, s.component, s.n_in_cluster,
                 {_tokens_sql('d.text')} AS n_tokens,
                 {_quality_sql('d.text')} AS quality,
                 {_lang_sql('d.text')} AS lang_guess{extra_score}
          FROM survivors s JOIN documents d ON d.doc_id = s.doc_id
        )
        SELECT doc_id, component, n_in_cluster, n_tokens, quality,
               lang_guess{extra_out},
               {split_case_sql('u_split', _SPLIT_WEIGHTS)} AS split
        FROM (
          SELECT *, {unit_hash_sql('component', _SPLIT_SALT)} AS u_split
          FROM scored
          WHERE quality >= {mq!r} AND lang_guess = '{lang}'{extra_where})
    """


def _training_export_sql() -> str:
    # the full curation SQL as a nested CTE, train split only, then the
    # identical sharded-cumsum pack arithmetic as the pack_sequences
    # oracle (budget 256, 8 shards, salt 'pack', h60 = md5-derived)
    return f"""
        WITH curated AS ({_corpus_curation_sql()}),
        base AS (
          SELECT doc_id, n_tokens,
                 ('0x' || substr(md5('pack' || ':' ||
                      CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS h
          FROM curated WHERE split = 'train'
        ), cum AS (
          SELECT doc_id, n_tokens, CAST(h % 8 AS INT) AS shard,
                 COALESCE(SUM(n_tokens) OVER (
                     PARTITION BY h % 8 ORDER BY h, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS cb
          FROM base)
        SELECT doc_id, n_tokens, shard,
               CAST(cb // 256 AS BIGINT) AS pack,
               CAST(cb - (cb // 256) * 256 AS BIGINT) AS off_tokens
        FROM cum
    """


def _dedup_near_sql() -> str:
    # CC closure as in dedup_components, then left-join every document and
    # keep the longest-text row per component (min doc_id tiebreak; null
    # text coalesced below any real length on both engines)
    cte = _minhash_cte().replace("WITH ", "WITH RECURSIVE ", 1)
    return cte + _survivors_cte() + """
        SELECT doc_id, component, n_in_cluster FROM survivors
    """


def _survivors_cte() -> str:
    """Splices after the closure: ``survivors(doc_id, component,
    n_in_cluster)`` — dedup_near's canonical pick (longest text, min-id
    tiebreak, null text below any real text). Shared by the dedup_near
    and corpus_curation oracles."""
    return _components_closure_cte() + """
        , labeled AS (
          SELECT d.doc_id,
                 coalesce(c.component, d.doc_id) AS component,
                 coalesce(length(d.text), -1) AS len
          FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        ),
        survivors AS (
          SELECT doc_id, component, n_in_cluster FROM (
            SELECT doc_id, component,
                   CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
                     AS n_in_cluster,
                   row_number() OVER (PARTITION BY component
                                      ORDER BY len DESC, doc_id ASC) AS rn
            FROM labeled)
          WHERE rn = 1
        )
    """


def _ngram_jaccard_sql() -> str:
    return _minhash_cte() + """
        , pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b, jaccard FROM (
          SELECT p.id_a, p.id_b,
                 round(len(list_intersect(sa.sh, sb.sh))
                       / greatest(len(list_distinct(sa.sh || sb.sh)), 1),
                       6) AS jaccard
          FROM pairs p
          JOIN shs sa ON sa.doc_id = p.id_a
          JOIN shs sb ON sb.doc_id = p.id_b)
        WHERE jaccard >= 0.8
    """


def _decontamination_sql() -> str:
    """Replicates benchmark_contamination: distinct word-13-shingle h60
    hashes per doc; left join the corpus side against the benchmark
    slice's distinct hash set; per-doc totals + ratio."""
    from cdcrypt.functions.hash64 import h60_sql

    k, mod = _DECON["k"], _DECON["bench_mod"]
    sh_expr = h60_sql(f"array_to_string(ws[i:i+{k - 1}], ' ')")
    single = h60_sql("array_to_string(ws, ' ')")
    return f"""
        WITH w AS (
          SELECT doc_id, {_WORDS_SQL} AS ws
          FROM documents WHERE text IS NOT NULL AND length(text) > 0
        ),
        shs AS (
          SELECT doc_id, list_distinct(
            CASE WHEN len(ws) >= {k}
              THEN [{sh_expr} for i in range(1, len(ws) - {k - 2})]
              ELSE [{single}] END) AS sh
          FROM w
        ),
        ex AS (SELECT doc_id, unnest(sh) AS s FROM shs),
        bench AS (SELECT DISTINCT s FROM ex WHERE doc_id % {mod} = 0),
        corp AS (SELECT doc_id, s FROM ex WHERE doc_id % {mod} <> 0)
        SELECT c.doc_id,
               count(*) AS n_ngrams,
               count(b.s) AS n_contaminated,
               round(count(b.s)::DOUBLE / count(*), 6) AS contamination
        FROM corp c LEFT JOIN bench b USING (s)
        GROUP BY c.doc_id
    """


def _mixture_cte() -> str:
    """Shared fraction pipeline for the mixture gates: exact int64 token
    totals per listed domain -> natural budget T0 = min(tokens/share) ->
    fraction = (share * (T0 * factor)) / tokens, every double op in the
    SAME order as sampling._mixture_fractions so the doubles are
    bit-identical across engines."""
    shares, factor = _MIX["shares"], _MIX["budget_factor"]
    domains = ", ".join(f"'{d}'" for d in shares)
    case = ("CASE source " + " ".join(
        f"WHEN '{d}' THEN CAST({w!r} AS DOUBLE)"
        for d, w in shares.items()) + " END")
    return f"""
        WITH tok AS (
          SELECT source, {_tokens_sql('text')} AS t
          FROM documents WHERE source IN ({domains})
        ),
        tot AS (
          SELECT source, CAST(SUM(t) AS BIGINT) AS n_tokens,
                 COUNT(*) AS n_docs
          FROM tok GROUP BY source
        ),
        sh AS (SELECT source, n_tokens, n_docs, {case} AS share FROM tot),
        t0 AS (SELECT MIN(CAST(n_tokens AS DOUBLE) / share) AS v FROM sh),
        fr AS (
          SELECT source, n_tokens, n_docs, share,
                 (share * (t0.v * CAST({factor!r} AS DOUBLE)))
                   / CAST(n_tokens AS DOUBLE) AS f
          FROM sh, t0
        )
    """


def _mixture_plan_sql() -> str:
    return _mixture_cte() + """
        SELECT source, n_docs, n_tokens, share, round(f, 6) AS fraction
        FROM fr
    """


def _mixture_sample_sql() -> str:
    from cdcrypt.functions.sampling import unit_hash_sql

    u = unit_hash_sql("doc_id", _MIX["salt"])
    return _mixture_cte() + f"""
        SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
               -- kept epochs are a PREFIX 0..n_keep-1 (full copies plus
               -- the remainder copy), so the count folds into the range
               -- bound — no epoch filter (DuckDB cannot bind an unnest
               -- alias from an outer WHERE, and lateral generate_series
               -- rejects column parameters)
               unnest(range(0, CAST(floor(fr.f) AS BIGINT)
                 + CASE WHEN {u} < fr.f - floor(fr.f)
                        THEN 1 ELSE 0 END)) AS epoch
        FROM documents d JOIN fr USING (source)
    """


def _boilerplate_scan_sql() -> str:
    """Replicates boilerplate_stats: distinct word-7-shingle h60 hashes
    per doc; shingles in >= min_docs distinct docs are boilerplate; left
    join the corpus against that set; per-doc totals + coverage ratio."""
    from cdcrypt.functions.hash64 import h60_sql

    k, min_docs = _BOILER["k"], _BOILER["min_docs"]
    sh_expr = h60_sql(f"array_to_string(ws[i:i+{k - 1}], ' ')")
    single = h60_sql("array_to_string(ws, ' ')")
    return f"""
        WITH w AS (
          SELECT doc_id, {_WORDS_SQL} AS ws
          FROM documents WHERE text IS NOT NULL AND length(text) > 0
        ),
        shs AS (
          SELECT doc_id, list_distinct(
            CASE WHEN len(ws) >= {k}
              THEN [{sh_expr} for i in range(1, len(ws) - {k - 2})]
              ELSE [{single}] END) AS sh
          FROM w
        ),
        ex AS (SELECT doc_id, unnest(sh) AS s FROM shs),
        boiler AS (
          SELECT s FROM ex GROUP BY s HAVING count(*) >= {min_docs}
        )
        SELECT e.doc_id,
               count(*) AS n_ngrams,
               count(b.s) AS n_boiler,
               round(count(b.s)::DOUBLE / count(*), 6) AS boiler_frac
        FROM ex e LEFT JOIN boiler b ON e.s = b.s
        GROUP BY e.doc_id
    """


def _simhash_cte() -> str:
    """words -> h60 word hashes -> 60 bit-vote sums -> fingerprint."""
    from cdcrypt.functions.hash64 import h60_sql
    bit_sums = ",\n           ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60))
    fp_terms = " + ".join(
        f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(60))
    return f"""
        WITH wx AS (
          SELECT doc_id, unnest({_WORDS_SQL}) AS wrd
          FROM documents WHERE text IS NOT NULL
        ),
        hx AS (SELECT doc_id, {h60_sql('wrd')} AS h FROM wx),
        bits AS (SELECT doc_id,
           {bit_sums}
           FROM hx GROUP BY doc_id),
        fp AS (SELECT doc_id, CAST({fp_terms} AS BIGINT) AS simhash FROM bits)
    """


def _simhash_groups_sql() -> str:
    return _simhash_cte() + """
        SELECT simhash, min(doc_id) AS keep_id, count(*) AS n_docs
        FROM fp GROUP BY simhash HAVING count(*) > 1
    """


def _simhash_near_pairs_sql() -> str:
    km, nb = _SIMHASH_NEAR["max_hamming"], _SIMHASH_NEAR["n_bands"]
    cap = _SIMHASH_NEAR["max_bucket_size"]
    width = 60 // nb
    mask = (1 << width) - 1
    bands = ", ".join(str(b) for b in range(nb))
    return _simhash_cte() + f"""
        , banded_all AS (
          SELECT doc_id, simhash, band,
                 (simhash >> (band * {width})) & {mask} AS bits
          FROM fp, (SELECT unnest([{bands}]) AS band)
        ),
        hot AS (SELECT band, bits FROM banded_all
                GROUP BY band, bits HAVING count(*) > {cap}),
        banded AS (
          SELECT ba.* FROM banded_all ba
          LEFT JOIN hot h ON h.band = ba.band AND h.bits = ba.bits
          WHERE h.band IS NULL
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.simhash AS fp_a, b.simhash AS fp_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
        FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= {km}
    """


def _plane_dot_sql(vec_expr: str, plane: list[float], dim: int) -> str:
    """Unrolled left-associated double dot product — identical fp order to
    Spark's F.aggregate fold, so sign decisions match bit-for-bit."""
    return " + ".join(
        f"CAST({vec_expr}[{i + 1}] AS DOUBLE) * {plane[i]!r}"
        for i in range(dim))


def _ann_lsh_sql() -> str:
    from cdcrypt.operators.similarity import lsh_planes
    k, n_bits = _ANN_LSH["k"], _ANN_LSH["n_bits"]
    dim, seed = _ANN_LSH["dim"], _ANN_LSH["seed"]
    planes = lsh_planes(dim, n_bits, seed)
    bucket = " + ".join(
        f"CASE WHEN {_plane_dot_sql('embedding', p, dim)} >= 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes))
    return f"""
        WITH sig AS (
          SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket
          FROM embeddings
        ),
        cand AS (
          SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
                 round(list_cosine_similarity(
                   q.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
          FROM sig q JOIN sig b
            ON q.bucket = b.bucket AND q.vec_id <> b.vec_id
          WHERE q.vec_id < 10
        )
        SELECT query_id, neighbor_id, rank, sim FROM (
          SELECT query_id, neighbor_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id ASC) AS rank
          FROM cand)
        WHERE rank <= {k}
    """


def _emb_band_tag_sql() -> str:
    """The sign-LSH band tagging every embedding-index oracle shares:
    (vec_id, band, bucket) rows with identical-order float arithmetic."""
    from cdcrypt.operators.similarity import lsh_planes
    nb = _NEARDUP_LSH["n_bands"]
    bpb, dim = _NEARDUP_LSH["bits_per_band"], _NEARDUP_LSH["dim"]
    seed = _NEARDUP_LSH["seed"]
    band_selects = []
    for band in range(nb):
        planes = lsh_planes(dim, bpb, seed + 1000 * band)
        bucket = " + ".join(
            f"CASE WHEN {_plane_dot_sql('embedding', p, dim)} >= 0 "
            f"THEN {1 << i} ELSE 0 END"
            for i, p in enumerate(planes))
        band_selects.append(
            f"SELECT vec_id, {band} AS band, CAST({bucket} AS BIGINT) "
            "AS bucket FROM embeddings")
    return "\n          UNION ALL ".join(band_selects)


def _ann_lsh_indexed_sql() -> str:
    k = _ANN_LSH["k"]
    return f"""
        WITH tagged_all AS ({_emb_band_tag_sql()}),
        base AS (SELECT * FROM tagged_all WHERE vec_id % 2 = 0),
        qtag AS (SELECT * FROM tagged_all WHERE vec_id < 10),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS neighbor_id
          FROM qtag q JOIN base b
            ON q.band = b.band AND q.bucket = b.bucket
           AND q.vec_id <> b.vec_id
        ),
        sims AS (
          SELECT c.query_id, c.neighbor_id,
                 round(list_cosine_similarity(
                   eq.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS sim
          FROM cand c
          JOIN embeddings eq ON eq.vec_id = c.query_id
          JOIN embeddings eb ON eb.vec_id = c.neighbor_id
        )
        SELECT query_id, neighbor_id, rank, sim FROM (
          SELECT query_id, neighbor_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id ASC) AS rank
          FROM sims)
        WHERE rank <= {k}
    """


def _neardup_lsh_sql() -> str:
    t = _NEARDUP_LSH["threshold"]
    cap = _NEARDUP_LSH["max_bucket_size"]
    return f"""
        WITH tagged_all AS ({_emb_band_tag_sql()}),
        hot AS (SELECT band, bucket FROM tagged_all
                GROUP BY band, bucket HAVING count(*) > {cap}),
        tagged AS (
          SELECT ta.* FROM tagged_all ta
          LEFT JOIN hot h ON h.band = ta.band AND h.bucket = ta.bucket
          WHERE h.band IS NULL
        ),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM tagged a JOIN tagged b
            ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, sim FROM (
          SELECT c.id_a, c.id_b,
                 round(list_cosine_similarity(
                   ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS sim
          FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.id_a
          JOIN embeddings eb ON eb.vec_id = c.id_b)
        WHERE sim >= {t}
    """


def _dup_ngram_sql(n: int, col: str = "text") -> str:
    """DuckDB replica of functions/text.py dup_ngram_fraction: identical
    whitespace split, identical LINEAR shifted-slice zip window (a
    slice-per-index list comprehension is O(tokens²) per doc — 170 s at
    sf1 vs ~20 s for this), identical guard arithmetic (cross-engine
    probe-verified before gating)."""
    k = n - 1
    toks = f"regexp_split_to_array(trim({col}), '\\s+')"
    if n == 1:
        grams = toks
    else:
        parts = ", ".join(
            f"({toks})[{1 + i}:len({toks})-{k - i}]" for i in range(n))
        joined = " || ' ' || ".join(f"x[{i + 1}]" for i in range(n))
        grams = f"list_transform(list_zip({parts}), x -> {joined})"
    return (f"round(CASE WHEN length(trim(coalesce({col},''))) > 0 "
            f"AND len({toks})-{k} >= 1 "
            f"THEN 1.0 - len(list_distinct({grams}))::DOUBLE / len({grams}) "
            f"ELSE 0.0 END, 6)")


def _pii_oracle_entries() -> dict[str, str]:
    """pii_scan / smt_encrypt_pii oracles built FROM cdcrypt's own
    PII_PATTERNS, so the regexes can never drift between engines (the
    patterns avoid lookarounds/backreferences, which RE2 lacks)."""
    from cdcrypt.operators.pii import PII_PATTERNS

    aug = f"SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents"
    flags = ", ".join(
        f"coalesce(regexp_matches(text, '{p}'), false) AS pii_{k}"
        for k, p in PII_PATTERNS.items())
    count = " + ".join(
        f"CAST(coalesce(regexp_matches(text, '{p}'), false) AS INT)"
        for p in PII_PATTERNS.values())
    red = "text"
    for k, p in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{p}', '[{k.upper()}]', 'g')"
    any_pii = " OR ".join(
        f"coalesce(regexp_matches(text, '{p}'), false)"
        for p in PII_PATTERNS.values())
    return {
        "pii_scan": (
            f"SELECT doc_id, {flags}, CAST({count} AS BIGINT) AS pii_count, "
            f"{red} AS redacted FROM ({aug})"),
        "smt_encrypt_pii": (
            f"SELECT doc_id, text, ({any_pii}) AS has_pii FROM ({aug})"),
    }


def oracle_sql() -> dict[str, str]:
    from cdcrypt.functions.hash64 import h60_sql as _h60_sql
    from cdcrypt.operators.profile import (
        numeric_histogram_sql, numeric_quantiles_sql, profile_columns_sql,
    )
    from cdcrypt.functions.textnorm import nfc_sql, normalize_text_sql
    from cdcrypt.operators.skew import hot_keys_sql

    def _q(s):  # SQL string literal
        return "'" + s.replace("'", "''") + "'"

    messy = (f"({_q(_MESSY_PREFIX)} || text || {_q(_MESSY_SUFFIX)})")
    out = {
        "hot_keys": hot_keys_sql("events", "user_id", 0.005),
        "text_normalize": (
            f"SELECT doc_id, {normalize_text_sql(messy)} AS norm "
            "FROM documents"),
        "text_nfc": (
            f"SELECT doc_id, {nfc_sql(f'(text || {_q(_NFC_SUFFIX)})')} "
            "AS norm FROM documents"),
        **_pii_oracle_entries(),
        "repetition_stats": (
            f"SELECT doc_id, {_dup_ngram_sql(1)} AS dup_token, "
            f"{_dup_ngram_sql(2)} AS dup_2gram, "
            f"{_dup_ngram_sql(3)} AS dup_3gram FROM documents"),
        "smt_encrypt_roundtrip": "SELECT doc_id, text FROM documents",
        "smt_key_rotation": "SELECT doc_id, text FROM documents",
        "smt_crypto_shred": (
            "SELECT doc_id, CASE WHEN source = 'src3' THEN NULL "
            "ELSE text END AS text, source FROM documents"),
        "smt_dlq_tolerance": (
            "SELECT doc_id, CASE WHEN doc_id % 37 = 0 THEN NULL "
            "ELSE text END AS text, doc_id % 37 = 0 AS quarantined "
            "FROM documents"),
        "smt_parse_dlq": (
            "SELECT doc_id, CASE WHEN doc_id % 41 = 0 THEN NULL "
            "ELSE text END AS text, doc_id % 41 = 0 AS quarantined "
            "FROM documents"),
        "smt_roundtrip_jvm": "SELECT doc_id, text FROM documents",
        "smt_array_wildcard": "SELECT doc_id, text, source FROM documents",
        "smt_array_struct_wildcard": (
            "SELECT doc_id, text, source, source AS source2 FROM documents"),
        "smt_nested_array_crypto": (
            "SELECT doc_id, text, source, source AS source2, "
            "'tool' AS role2 FROM documents"),
        "smt_conditional_crypto": "SELECT doc_id, text, source FROM documents",
        "smt_mask_field": (
            "SELECT doc_id, CASE WHEN source = 'src3' THEN "
            "regexp_replace(text, '[0-9]+', '#', 'g') ELSE text END AS text, "
            "source FROM documents"),
        "smt_hash_field": (
            "SELECT sha256('gate|' || source) AS source_h, "
            "COUNT(*)::BIGINT AS n FROM documents GROUP BY 1"),
        "smt_connect_chain": """
            SELECT event_id,
                   event_type AS etype,
                   CAST(json_extract(props, '$.k') AS INTEGER) AS props_k,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   epoch_ms(ts) AS ts_ms,
                   'dc1' AS dc,
                   CAST(user_id AS INTEGER) AS user_id,
                   CAST(0 AS DOUBLE) AS value
            FROM events
        """,
        "range_join_assign": """
            SELECT i.event_id AS incident_id, e.event_id
            FROM events i JOIN events e
              ON e.ts >= i.ts AND e.ts < i.ts + INTERVAL 10 MINUTE
            WHERE i.event_type = 'error' AND i.event_id % 20 = 0
        """,
        "range_join_hot": """
            WITH pts AS (
              SELECT event_id,
                     CASE WHEN event_id % 3 = 0
                          THEN TIMESTAMP '2030-01-01 00:00:00'
                               + (event_id % 540) * INTERVAL 1 SECOND
                          ELSE ts END AS ts
              FROM events),
            iv AS (
              SELECT event_id AS incident_id, ts AS start_ts,
                     ts + INTERVAL 10 MINUTE AS end_ts
              FROM events
              WHERE event_type = 'error' AND event_id % 20 = 0
              UNION ALL
              SELECT CAST(-1 AS BIGINT),
                     TIMESTAMP '2030-01-01 00:00:00',
                     TIMESTAMP '2030-01-01 00:10:00')
            SELECT i.incident_id, p.event_id
            FROM iv i JOIN pts p
              ON p.ts >= i.start_ts AND p.ts < i.end_ts
        """,
        "smt_header_predicate": """
            SELECT event_id, event_type,
                   CASE WHEN event_type = 'error' THEN '***'
                        ELSE props END AS props,
                   CASE WHEN event_type = 'error'
                        THEN 'etype=' || event_type || ';err=1'
                        ELSE 'etype=' || event_type END AS headers
            FROM events
        """,
        "smt_regex_router": """
            SELECT 'cdc-' || event_type || '-'
                     || strftime(ts, '%Y%m%d') AS topic,
                   COUNT(*) AS n,
                   CAST(SUM(user_id) AS BIGINT) AS key_sum
            FROM events
            WHERE event_type IN ('click', 'view')
            GROUP BY 1
        """,
        "smt_outbox_route": """
            SELECT 'outbox.event.' ||
                     CASE WHEN o_orderstatus = 'O'
                          THEN 'order' ELSE 'shipment' END AS topic,
                   'agg-' || CAST(o_custkey AS VARCHAR) AS key,
                   '{"o_orderkey":' || CAST(o_orderkey AS VARCHAR) || '}'
                     AS payload,
                   'OrderEvent' AS eventType
            FROM orders
        """,
        "smt_schemaless_roundtrip": "SELECT doc_id, text, source FROM documents",
        "smt_asym_roundtrip": "SELECT doc_id, text FROM documents",
        "det_key_groupby": """
            SELECT CAST(user_id AS VARCHAR) AS user_key,
                   count(*) AS n_events,
                   CAST(max(event_id) AS BIGINT) AS max_event_id
            FROM events GROUP BY user_id
        """,
        "condition_gate": """
            SELECT event_id,
                   CASE WHEN event_type = 'click' THEN round(value * 2, 6)
                        ELSE round(value, 6) END AS value_out
            FROM events
        """,
        "debezium_emit": """
            SELECT CASE CAST(event_id % 3 AS INTEGER)
                        WHEN 0 THEN 'I' WHEN 1 THEN 'U' ELSE 'D' END AS op,
                   event_id, CAST(user_id AS BIGINT) AS user_id, event_type,
                   round(value, 6) AS value,
                   CAST(epoch_us(ts) AS BIGINT) AS ts_us
            FROM events
        """,
        "cdc_window_dedup": """
            SELECT user_id, event_type, event_id, round(value, 6) AS value
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY user_id, event_type
                      ORDER BY ts DESC, event_id DESC) rn
                  FROM events)
            WHERE rn = 1
        """,
        "cdc_last_writer_wins": """
            SELECT user_id, event_id AS last_event_id,
                   round(value, 6) AS last_value
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
                  FROM events)
            WHERE rn = 1
        """,
        "cdc_merge_full_outer": """
            WITH state AS (
              SELECT user_id, event_type, event_id, value
              FROM (SELECT *, row_number() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts DESC, event_id DESC) rn
                    FROM events WHERE event_id % 2 = 0) WHERE rn = 1),
            change AS (
              SELECT user_id, event_type, event_id, value
              FROM (SELECT *, row_number() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts DESC, event_id DESC) rn
                    FROM events WHERE event_id % 2 = 1) WHERE rn = 1)
            SELECT COALESCE(b.user_id, t.user_id) AS user_id,
                   COALESCE(b.event_type, t.event_type) AS event_type,
                   COALESCE(b.event_id, t.event_id) AS event_id,
                   round(COALESCE(b.value, t.value), 6) AS value
            FROM state t FULL OUTER JOIN change b
              USING (user_id, event_type)
        """,
        "cdc_reconcile": """
            WITH latest_all AS (
              SELECT user_id, event_type, event_id, round(value, 6) AS value
              FROM (SELECT *, row_number() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts DESC, event_id DESC) rn
                    FROM events)
              WHERE rn = 1),
            stale AS (
              SELECT user_id, event_type, event_id, round(value, 6) AS value
              FROM (SELECT *, row_number() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts DESC, event_id DESC) rn
                    FROM events WHERE event_id % 4 <> 3)
              WHERE rn = 1),
            snap AS (SELECT * FROM latest_all WHERE user_id % 11 <> 3)
            SELECT CASE WHEN s.user_id IS NULL THEN 'D' ELSE 'U' END AS op,
                   CAST(1000 AS BIGINT) AS op_seq,
                   CAST(9 AS BIGINT) AS epoch,
                   COALESCE(l.user_id, s.user_id) AS user_id,
                   COALESCE(l.event_type, s.event_type) AS event_type,
                   s.event_id AS event_id,
                   s.value AS value
            FROM stale l FULL OUTER JOIN snap s
              ON l.user_id = s.user_id AND l.event_type = s.event_type
            WHERE l.user_id IS NULL OR s.user_id IS NULL
               OR l.event_id <> s.event_id
               OR l.value IS DISTINCT FROM s.value
        """,
        "cdc_stream_audit": """
            WITH c AS (
              SELECT user_id, event_type,
                     CASE event_id % 5 WHEN 0 THEN 'I' WHEN 4 THEN 'D'
                          ELSE 'U' END AS op,
                     CAST(event_id % 97 AS BIGINT) AS op_seq,
                     value
              FROM events),
            per_pos AS (
              SELECT user_id, event_type, op_seq,
                     count(*) AS n,
                     count(DISTINCT (op, value)) AS nd,
                     max(op) AS op
              FROM c GROUP BY 1, 2, 3),
            trans AS (
              SELECT user_id, event_type, op_seq,
                     CASE WHEN prev IS NULL AND op <> 'I'
                               THEN 'first_op_not_insert'
                          WHEN prev = 'D' AND op = 'U'
                               THEN 'update_after_delete'
                          WHEN prev = 'D' AND op = 'D'
                               THEN 'double_delete'
                          WHEN prev IN ('I', 'U') AND op = 'I'
                               THEN 'reinsert'
                     END AS kind
              FROM (SELECT *, lag(op) OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY op_seq) AS prev
                    FROM per_pos))
            SELECT user_id, event_type, op_seq,
                   CASE WHEN nd > 1 THEN 'conflict'
                        ELSE 'redelivery' END AS kind
            FROM per_pos WHERE n > 1
            UNION ALL
            SELECT user_id, event_type, op_seq, kind
            FROM trans WHERE kind IS NOT NULL
        """,
        "cdc_partial_update": """
            WITH e AS (
              SELECT user_id, event_type, event_id AS op_seq,
                     CASE WHEN event_id % 19 = 0 THEN 'D' ELSE 'U' END AS op,
                     CASE WHEN event_id % 19 <> 0 AND event_id % 2 = 0
                          THEN round(value, 6) END AS a,
                     CASE WHEN event_id % 19 <> 0 AND event_id % 3 = 0
                          THEN props END AS b
              FROM events),
            agg AS (
              SELECT user_id, event_type,
                     max(op_seq) FILTER (WHERE op = 'D') AS del_seq,
                     max(op_seq) FILTER (WHERE op <> 'D') AS live_seq,
                     arg_max(a, op_seq)
                       FILTER (WHERE op <> 'D' AND a IS NOT NULL) AS a_v,
                     max(op_seq)
                       FILTER (WHERE op <> 'D' AND a IS NOT NULL) AS a_seq,
                     arg_max(b, op_seq)
                       FILTER (WHERE op <> 'D' AND b IS NOT NULL) AS b_v,
                     max(op_seq)
                       FILTER (WHERE op <> 'D' AND b IS NOT NULL) AS b_seq
              FROM e GROUP BY 1, 2)
            SELECT user_id, event_type,
                   CASE WHEN a_seq > coalesce(del_seq, -1) THEN a_v END AS a,
                   CASE WHEN b_seq > coalesce(del_seq, -1) THEN b_v END AS b,
                   live_seq AS op_seq
            FROM agg
            WHERE live_seq IS NOT NULL
              AND (del_seq IS NULL OR live_seq > del_seq)
        """,
        "cdc_multi_table": """
            WITH clicks AS (
              SELECT user_id, event_type, event_id AS op_seq,
                     CASE WHEN event_id % 13 = 0 THEN 'D' ELSE 'U' END AS op,
                     CASE WHEN event_id % 13 <> 0
                          THEN round(value, 6) END AS value
              FROM events WHERE event_id % 2 = 0),
            cl AS (
              SELECT user_id, event_type, value FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY op_seq DESC) rn
                FROM clicks)
              WHERE rn = 1 AND op <> 'D'),
            views AS (
              SELECT user_id, event_id AS op_seq,
                     CASE WHEN event_id % 13 = 0 THEN 'D' ELSE 'U' END AS op,
                     CASE WHEN event_id % 13 <> 0 THEN props END AS props
              FROM events WHERE event_id % 2 = 1),
            vw AS (
              SELECT user_id, props FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY op_seq DESC) rn
                FROM views)
              WHERE rn = 1 AND op <> 'D')
            SELECT 'clicks' AS tbl, user_id, event_type, value,
                   CAST(NULL AS VARCHAR) AS props FROM cl
            UNION ALL
            SELECT 'views' AS tbl, user_id, CAST(NULL AS VARCHAR), NULL,
                   props FROM vw
        """,
        "cdc_scd2_history": """
            WITH e AS (
              SELECT user_id, event_type, event_id AS seq,
                     CASE WHEN event_id % 17 = 0 THEN 'D' ELSE 'U' END AS op,
                     CASE WHEN event_id % 17 <> 0
                          THEN round(value, 6) END AS value
              FROM events),
            w AS (
              SELECT *, lead(seq) OVER (
                  PARTITION BY user_id, event_type ORDER BY seq
              ) AS valid_to_seq
              FROM e)
            SELECT user_id, event_type, value,
                   seq AS valid_from_seq, valid_to_seq,
                   (valid_to_seq IS NULL) AS is_current
            FROM w WHERE op <> 'D'
        """,
        "cdc_scd2_asof": """
            WITH e AS (
              SELECT user_id, event_type, event_id AS seq,
                     CASE WHEN event_id % 17 = 0 THEN 'D' ELSE 'U' END AS op,
                     CASE WHEN event_id % 17 <> 0
                          THEN round(value, 6) END AS value
              FROM events),
            w AS (
              SELECT *, lead(seq) OVER (
                  PARTITION BY user_id, event_type ORDER BY seq
              ) AS valid_to_seq
              FROM e),
            s AS (SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS pt
                  FROM events)
            SELECT w.user_id, w.event_type, w.value,
                   w.seq AS valid_from_seq
            FROM w, s
            WHERE w.op <> 'D' AND w.seq <= s.pt
              AND (w.valid_to_seq IS NULL OR w.valid_to_seq > s.pt)
        """,
        "asof_join_enrich": """
            WITH f AS (
              SELECT user_id, event_id AS seq, round(value, 6) AS click_value
              FROM events WHERE event_type = 'click'),
            d AS (
              SELECT user_id, event_id AS vseq,
                     round(value, 6) AS purchase_value
              FROM events WHERE event_type = 'purchase')
            SELECT f.user_id, f.seq, f.click_value,
                   d.purchase_value, d.vseq AS purchase_seq
            FROM f ASOF LEFT JOIN d
              ON f.user_id = d.user_id AND f.seq >= d.vseq
        """,
        "cdc_aggregate_engine": """
            WITH e AS (
              SELECT user_id, event_type, event_id AS op_seq,
                     CASE WHEN event_id % 23 = 0 THEN 'D' ELSE 'U' END AS op,
                     CASE WHEN event_id % 23 <> 0
                          THEN CAST(round(value * 1000) AS BIGINT) END AS v_sum,
                     CASE WHEN event_id % 23 <> 0 AND event_id % 2 = 0
                          THEN round(value, 6) END AS v_max,
                     CASE WHEN event_id % 23 <> 0 AND event_id % 3 = 0
                          THEN props END AS tag
              FROM events),
            cut AS (
              SELECT user_id, event_type,
                     coalesce(max(op_seq) FILTER (WHERE op = 'D'), -1) AS cut
              FROM e GROUP BY 1, 2)
            SELECT e.user_id, e.event_type,
                   CAST(sum(e.v_sum) AS BIGINT) AS v_sum,
                   max(e.v_max) AS v_max,
                   arg_max(e.tag, e.op_seq)
                     FILTER (WHERE e.tag IS NOT NULL) AS tag,
                   max(e.op_seq) AS op_seq
            FROM e JOIN cut USING (user_id, event_type)
            WHERE e.op <> 'D' AND e.op_seq > cut.cut
            GROUP BY 1, 2
        """,
        # Closed-form of the hold-and-release state machine (txn.py module
        # docstring): a txn releases at the max FIRST-delivery epoch of its
        # members (duplicates never add distinct op_seqs earlier than
        # originals); each delivered copy releases at greatest(txn release,
        # its own delivery epoch) — below R it pends, above R the
        # retired-window path releases it on arrival (max redelivery delay
        # is 1 epoch < retire_window=2). Untagged rows pass through.
        "cdc_txn_align": """
            WITH ev AS (
              SELECT event_id AS op_seq, user_id, event_type,
                     round(value, 6) AS value,
                     CAST(event_id % 3 AS BIGINT) AS epoch,
                     CASE WHEN (event_id // 10) % 4 < 3
                          THEN 'txn' || CAST(event_id // 10 AS VARCHAR)
                     END AS txn_id
              FROM events),
            rel AS (
              SELECT txn_id, max(epoch) AS txn_rel
              FROM ev WHERE txn_id IS NOT NULL GROUP BY txn_id),
            deliv AS (
              SELECT op_seq, user_id, event_type, value,
                     epoch AS d, txn_id
              FROM ev
              UNION ALL
              SELECT op_seq, user_id, event_type, value,
                     least(epoch + 1, 2) AS d, txn_id
              FROM ev WHERE op_seq % 7 = 0)
            SELECT v.op_seq, v.user_id, v.event_type, v.value,
                   CAST(CASE WHEN v.txn_id IS NULL THEN v.d
                             ELSE greatest(r.txn_rel, v.d)
                        END AS BIGINT) AS release_epoch
            FROM deliv v LEFT JOIN rel r ON v.txn_id = r.txn_id
        """,
        "cdc_changelog": """
            WITH b AS (
              SELECT user_id, event_type,
                     arg_max(value, event_id) AS bval,
                     max(event_id) AS bseq
              FROM events WHERE event_id % 3 < 2 GROUP BY 1, 2),
            a AS (
              SELECT user_id, event_type,
                     arg_max(value, event_id) AS aval,
                     max(event_id) AS aseq
              FROM events GROUP BY 1, 2)
            SELECT a.user_id, a.event_type,
                   CASE WHEN b.user_id IS NULL THEN 'insert'
                        ELSE 'update' END AS change_op,
                   round(b.bval, 6) AS before_value, b.bseq AS before_seq,
                   round(a.aval, 6) AS after_value, a.aseq AS after_seq
            FROM a LEFT JOIN b
              ON a.user_id = b.user_id AND a.event_type = b.event_type
            WHERE b.user_id IS NULL OR a.aseq <> b.bseq
        """,
        "cdc_merge_mor_read": """
            SELECT user_id, event_type, event_id, round(value, 6) AS value
            FROM (SELECT user_id, event_type, event_id, value,
                         row_number() OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY event_id DESC) rn
                  FROM events) WHERE rn = 1
        """,
        "cdc_changefeed_chain": """
            SELECT user_id, event_type, event_id, round(value, 6) AS value
            FROM (SELECT user_id, event_type, event_id, value,
                         row_number() OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY event_id DESC) rn
                  FROM events) WHERE rn = 1
        """,
        "cdc_agg_view": """
            WITH resolved AS (
              SELECT user_id, event_type, value_m
              FROM (SELECT user_id, event_type,
                           CASE WHEN event_id % 7 = 0 THEN 'D'
                                ELSE 'U' END AS op,
                           CASE WHEN event_id % 11 = 0 THEN NULL
                                ELSE CAST(FLOOR(value * 1e6) AS BIGINT)
                           END AS value_m,
                           row_number() OVER (
                               PARTITION BY user_id, event_type
                               ORDER BY event_id DESC) rn
                    FROM events) WHERE rn = 1 AND op <> 'D')
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(value_m) AS BIGINT) AS n_vals,
                   CAST(SUM(value_m) AS BIGINT) AS total,
                   CASE WHEN COUNT(value_m) > 0 THEN round(
                       CAST(SUM(value_m) AS DOUBLE) / COUNT(value_m), 6)
                   END AS mean
            FROM resolved GROUP BY event_type
        """,
        "cdc_time_travel": """
            SELECT user_id, event_type, event_id, round(value, 6) AS value
            FROM (SELECT user_id, event_type, event_id, value,
                         row_number() OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY event_id DESC) rn
                  FROM events WHERE event_id % 3 <= 1) WHERE rn = 1
        """,
        "cdc_compacted_read": """
            SELECT user_id, event_type, event_id, round(value, 6) AS value
            FROM (SELECT user_id, event_type, event_id, value,
                         row_number() OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY event_id DESC) rn
                  FROM events) WHERE rn = 1
        """,
        "cdc_point_lookup": """
            SELECT user_id, event_type, event_id, round(value, 6) AS value
            FROM (SELECT user_id, event_type, event_id, value,
                         row_number() OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY event_id DESC) rn
                  FROM events
                  WHERE user_id = (SELECT min(user_id) FROM events))
            WHERE rn = 1
        """,
        "cdc_bloom_lookup": """
            SELECT user_id, event_type, event_id, round(value, 6) AS value
            FROM (SELECT user_id, event_type, event_id, value,
                         row_number() OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY event_id DESC) rn
                  FROM events
                  WHERE user_id = (
                      SELECT min(user_id) FROM events
                      WHERE user_id > (SELECT (min(user_id) + max(user_id))
                                              // 2
                                       FROM events)))
            WHERE rn = 1
        """,
        "cdc_partition_evolution": """
            SELECT user_id, event_type, event_id, round(value, 6) AS value
            FROM (SELECT user_id, event_type, event_id, value,
                         row_number() OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY event_id DESC) rn
                  FROM events) WHERE rn = 1
        """,
        "cdc_clustered_scan": """
            SELECT user_id, event_type, event_id, round(value, 6) AS value
            FROM (SELECT user_id, event_type, event_id, value,
                         row_number() OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY event_id DESC) rn
                  FROM events)
            WHERE rn = 1
              AND event_id >= (SELECT min(event_id)
                                      + (max(event_id) - min(event_id))
                                        * 15 // 16
                               FROM events)
              AND event_id <= (SELECT max(event_id) FROM events)
        """,
        "cdc_zorder_scan": """
            SELECT user_id, event_type, event_id, round(value, 6) AS value
            FROM (SELECT user_id, event_type, event_id, value,
                         row_number() OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY event_id DESC) rn
                  FROM events)
            WHERE rn = 1
              AND user_id <= (SELECT (min(user_id) + max(user_id)) // 2
                              FROM events)
              AND event_id >= (SELECT min(event_id)
                                      + (max(event_id) - min(event_id))
                                        * 3 // 4
                               FROM events)
        """,
        "cdc_tag_read": """
            SELECT user_id, event_type, event_id, round(value, 6) AS value
            FROM (SELECT user_id, event_type, event_id, value,
                         row_number() OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY event_id DESC) rn
                  FROM events WHERE event_id % 3 <= 1)
            WHERE rn = 1
        """,
        "cdc_rollback_read": """
            SELECT user_id, event_type, event_id, round(value, 6) AS value
            FROM (SELECT user_id, event_type, event_id, value,
                         row_number() OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY event_id DESC) rn
                  FROM events WHERE event_id % 3 <= 1)
            WHERE rn = 1
        """,
        "cdc_snapshot_bootstrap": """
            SELECT user_id, event_type, round(value, 6) AS value
            FROM (SELECT user_id, event_type, value,
                         CASE WHEN event_id % 5 = 0 THEN 'D'
                              ELSE 'U' END AS op,
                         row_number() OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY event_id DESC) rn
                  FROM events) WHERE rn = 1 AND op <> 'D'
        """,
        "cdc_schema_evolution": """
            SELECT user_id, event_type, event_id,
                   round(CASE WHEN event_id % 4 >= 2 THEN value
                         ELSE CAST(CAST(value AS FLOAT) AS DOUBLE) END,
                         6) AS score,
                   CASE WHEN event_id % 4 >= 2 THEN 'replay' END AS source
            FROM (SELECT user_id, event_type, event_id, value,
                         row_number() OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY event_id DESC) rn
                  FROM events) WHERE rn = 1
        """,
        "cdc_incremental_read": """
            SELECT user_id, event_type, event_id, round(value, 6) AS value,
                   'U' AS op, CAST(1 AS BIGINT) AS epoch
            FROM (SELECT user_id, event_type, event_id, value,
                         row_number() OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY event_id DESC) rn
                  FROM events WHERE event_id % 3 = 1) WHERE rn = 1
        """,
        "debezium_parse": """
            SELECT user_id, event_type,
                   CASE CAST(event_id % 4 AS INTEGER)
                        WHEN 2 THEN 'D' WHEN 1 THEN 'U' ELSE 'I' END AS op,
                   event_id, round(value, 6) AS value,
                   CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
            FROM events
        """,
        "debezium_parse_dlq": """
            SELECT user_id, event_type,
                   CASE WHEN event_id % 43 = 0 THEN NULL
                        WHEN event_id % 4 = 2 THEN 'D'
                        WHEN event_id % 4 = 1 THEN 'U' ELSE 'I' END AS op,
                   event_id, round(value, 6) AS value,
                   CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
                   CASE WHEN event_id % 43 = 0 THEN
                        'malformed debezium envelope: unknown op x'
                   END AS error
            FROM events
        """,
        "session_windows": """
            SELECT user_id, CAST(_sess AS BIGINT) AS session_idx,
                   count(*) AS n_events,
                   min(us) AS start_us, max(us) AS end_us
            FROM (
              SELECT user_id, event_id, us,
                     sum(CASE WHEN prev_us IS NULL
                                   OR us - prev_us > 3600000000
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS _sess
              FROM (SELECT user_id, event_id, epoch_us(ts) AS us,
                           lag(epoch_us(ts)) OVER (
                               PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev_us
                    FROM events WHERE ts IS NOT NULL)
            )
            GROUP BY user_id, _sess
        """,
        "windowed_counts": """
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
                     AS sum_value_e6
            FROM events GROUP BY 1, 2
        """,
        # NOTE: DuckDB's sum(BIGINT) returns HUGEINT (int128) — the OUTER
        # CAST back to BIGINT makes the value dtype match Spark's bigint
        # (values were already identical; round-1 hash mismatch was this
        # dtype artifact, VERDICT.md "What's wrong" #1).
        "tpch_q1_agg": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                     AS sum_base_cents,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
                     AS sum_disc_e4,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_join_revenue": """
            SELECT n_name,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
                     AS revenue_e4,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
                   count(*) AS n_copies
            FROM documents WHERE text IS NOT NULL
            GROUP BY md5(text)
        """,
        "line_dedup": """
            WITH l AS (
              SELECT doc_id,
                     unnest(string_split(text, chr(10))) AS line,
                     generate_subscripts(string_split(text, chr(10)), 1)
                       AS pos
              FROM documents WHERE text IS NOT NULL),
            freq AS (
              SELECT line FROM l WHERE length(line) >= 5
              GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
            kept AS (
              SELECT l.doc_id, l.pos, l.line
              FROM l LEFT JOIN freq f USING (line)
              WHERE f.line IS NULL),
            rebuilt AS (
              SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t
              FROM kept GROUP BY doc_id)
            SELECT d.doc_id,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(r.t, '') END AS text
            FROM documents d LEFT JOIN rebuilt r USING (doc_id)
        """,
        "line_dedup_keep_first": """
            WITH l AS (
              SELECT doc_id,
                     unnest(string_split(text, chr(10))) AS line,
                     generate_subscripts(string_split(text, chr(10)), 1)
                       AS pos
              FROM documents WHERE text IS NOT NULL),
            freq AS (
              SELECT line,
                     min(struct_pack(i := doc_id, p := pos)) AS first
              FROM l WHERE length(line) >= 5
              GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
            kept AS (
              SELECT l.doc_id, l.pos, l.line
              FROM l LEFT JOIN freq f USING (line)
              WHERE f.line IS NULL
                 OR (l.doc_id = f.first.i AND l.pos = f.first.p)),
            rebuilt AS (
              SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t
              FROM kept GROUP BY doc_id)
            SELECT d.doc_id,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(r.t, '') END AS text
            FROM documents d LEFT JOIN rebuilt r USING (doc_id)
        """,
        "corpus_profile": profile_columns_sql(
            "documents", ["doc_id", "text", "lang", "source", "n_chars"]),
        "numeric_histogram": numeric_histogram_sql(
            "documents", ["doc_id", "n_chars"]),
        "numeric_quantiles": numeric_quantiles_sql(
            "documents", ["doc_id", "n_chars"]),
        # the incremental profile is bit-identical to the one-shot by
        # sketch-union exactness, so it shares the one-shot's oracle
        "profile_incremental": profile_columns_sql(
            "documents", ["doc_id", "text", "lang", "source", "n_chars"]),
        "text_stats": f"""
            SELECT doc_id,
              length(text) AS n_chars,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
              {_punct_ratio_sql('text')} AS punct_ratio,
              {_digit_ratio_sql('text')} AS digit_ratio,
              {_quality_sql('text')} AS quality,
              {_lang_sql('text')} AS lang_guess,
              ('0x' || substr(md5(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                              1, 15))::BIGINT AS fp64
            FROM documents
        """,
        "token_counts": f"""
            SELECT doc_id,
              {_tokens_sql('text')} AS n_tokens,
              CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                + floor(length(regexp_replace(text, '\\s', '', 'g')) / 4) AS BIGINT)
                AS n_subwords
            FROM documents
        """,
        "bm25_topk": _bm25_sql(),
        "bm25_indexed": _bm25_sql(),
        "semdedup": _semdedup_sql(),
        "dsir_weights": _dsir_cte() + " SELECT doc_id, n_feats, logw FROM scores",
        "dsir_sample": _dsir_sample_sql(),
        "lm_perplexity": f"""
            WITH big_all AS (
              SELECT doc_id, source,
                {_h60_sql("coalesce(lag(term) OVER "
                          "(PARTITION BY doc_id ORDER BY pos), '<s>')")}
                  AS hp,
                {_h60_sql("term")} AS ht
              FROM (
                SELECT doc_id, source, unnest(ws) AS term,
                       generate_subscripts(ws, 1) AS pos
                FROM (SELECT doc_id, source,
                             list_filter({_WORDS_SQL}, x -> x <> '') AS ws
                      FROM documents))),
            train AS (
              SELECT hp, ht, count(*) AS cnt FROM big_all
              WHERE source = 'src1' GROUP BY 1, 2),
            ctx AS (SELECT hp, CAST(sum(cnt) AS BIGINT) AS ctx
                    FROM train GROUP BY hp),
            v AS (SELECT count(DISTINCT ht) AS v FROM train)
            SELECT doc_id, count(*) AS n_tokens,
                   round(avg(ln((coalesce(cnt, 0) + 0.1)
                       / (coalesce(ctx, 0) + 0.1 * (v + 1)))), 4)
                     AS avg_logp,
                   round(exp(-avg(ln((coalesce(cnt, 0) + 0.1)
                       / (coalesce(ctx, 0) + 0.1 * (v + 1))))), 4) AS ppl
            FROM big_all
            LEFT JOIN train USING (hp, ht)
            LEFT JOIN ctx USING (hp)
            CROSS JOIN v
            GROUP BY doc_id
        """,
        "pack_sequences": f"""
            WITH base AS (
              SELECT doc_id,
                     {_tokens_sql('text')} AS n_tokens,
                     ('0x' || substr(md5('pack' || ':' ||
                          CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS h
              FROM documents
            ), cum AS (
              SELECT doc_id, n_tokens, CAST(h % 8 AS INT) AS shard,
                     COALESCE(SUM(n_tokens) OVER (
                         PARTITION BY h % 8 ORDER BY h, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS cb
              FROM base)
            SELECT doc_id, n_tokens, shard,
                   CAST(cb // 256 AS BIGINT) AS pack,
                   CAST(cb - (cb // 256) * 256 AS BIGINT) AS off_tokens
            FROM cum
        """,
        "pack_manifest": f"""
            WITH base AS (
              SELECT doc_id,
                     {_tokens_sql('text')} AS n_tokens,
                     ('0x' || substr(md5('pack' || ':' ||
                          CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS h
              FROM documents
            ), cum AS (
              SELECT doc_id, n_tokens, CAST(h % 8 AS INT) AS shard,
                     COALESCE(SUM(n_tokens) OVER (
                         PARTITION BY h % 8 ORDER BY h, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS cb
              FROM base
            ), assigned AS (
              SELECT doc_id, n_tokens, shard,
                     CAST(cb // 256 AS BIGINT) AS pack,
                     CAST(cb - (cb // 256) * 256 AS BIGINT) AS off_tokens
              FROM cum)
            SELECT shard, pack,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   string_agg(CAST(doc_id AS VARCHAR), ','
                              ORDER BY off_tokens, doc_id) AS doc_ids_csv,
                   string_agg(CAST(off_tokens AS VARCHAR), ','
                              ORDER BY off_tokens, doc_id)
                       AS doc_offsets_csv
            FROM assigned GROUP BY shard, pack
        """,
        "chunk_documents": """
            SELECT doc_id, CAST(s // 400 AS BIGINT) AS chunk_idx,
                   substring(text, s + 1, 500) AS chunk
            FROM (SELECT doc_id, text,
                         unnest(generate_series(0,
                             greatest(length(text) - 1, 0), 400)) AS s
                  FROM documents WHERE text IS NOT NULL)
        """,
        "cosine_topk": """
            SELECT query_id, neighbor_id, rank, sim FROM (
              SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
                     round(list_cosine_similarity(
                       q.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(
                         q.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
                                DESC, b.vec_id ASC) AS rank
              FROM embeddings q, embeddings b
              WHERE q.vec_id < 10 AND q.vec_id <> b.vec_id)
            WHERE rank <= 5
        """,
        "ann_ivf_topk": """
            SELECT query_id, neighbor_id, rank, sim FROM (
              SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
                     round(list_cosine_similarity(
                       q.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(
                         q.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
                                DESC, b.vec_id ASC) AS rank
              FROM embeddings q, embeddings b
              WHERE q.vec_id < 10 AND q.vec_id <> b.vec_id)
            WHERE rank <= 5
        """,
        "ann_ivf_indexed": """
            SELECT query_id, neighbor_id, rank, sim FROM (
              SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
                     round(list_cosine_similarity(
                       q.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(
                         q.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
                                DESC, b.vec_id ASC) AS rank
              FROM embeddings q, embeddings b
              WHERE q.vec_id < 10 AND q.vec_id <> b.vec_id)
            WHERE rank <= 5
        """,
        "ann_ivf_append": """
            SELECT query_id, neighbor_id, rank, sim FROM (
              SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
                     round(list_cosine_similarity(
                       q.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(
                         q.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
                                DESC, b.vec_id ASC) AS rank
              FROM embeddings q, embeddings b
              WHERE q.vec_id < 10 AND q.vec_id <> b.vec_id)
            WHERE rank <= 5
        """,
        "embedding_neardup": _neardup_lsh_sql(),
        # incremental-index path == the one-shot pipeline restricted to
        # pairs involving the new (odd) half — same bands, same hot-bucket
        # cap over the union (the minhash_incremental contract, for vectors)
        "embedding_incremental": (
            "SELECT * FROM (" + _neardup_lsh_sql()
            + ") WHERE id_a % 2 = 1 OR id_b % 2 = 1"),
        # the same index artifact serving ANN: multi-band OR candidates
        # over the even-id base + exact cosine rank window
        "ann_lsh_indexed": _ann_lsh_indexed_sql(),
        "dataset_split": _dataset_split_sql(),
        "dataset_shuffle": _dataset_shuffle_sql(),
        "quota_sample": _quota_sample_sql(),
        "split_leakage_safe": _split_leakage_safe_sql(),
        "corpus_curation": _corpus_curation_sql(),
        "training_export": _training_export_sql(),
        "corpus_curation_v2": _corpus_curation_sql(v2=True),
        "curation_incremental": _corpus_curation_sql(cap=None),
        "minhash_lsh_pairs": _minhash_pairs_sql(),
        "dedup_components": _dedup_components_sql(),
        "dedup_near": _dedup_near_sql(),
        # the incremental-index path must produce EXACTLY the one-shot
        # pipeline's pairs restricted to pairs involving the new (odd) half
        # — same bands, same hot-bucket cap over the union
        "minhash_incremental": (
            "SELECT * FROM (" + _minhash_pairs_sql()
            + ") WHERE id_a % 2 = 1 OR id_b % 2 = 1"),
        "ngram_jaccard": _ngram_jaccard_sql(),
        "decontamination": _decontamination_sql(),
        "boilerplate_scan": _boilerplate_scan_sql(),
        "mixture_plan": _mixture_plan_sql(),
        "mixture_sample": _mixture_sample_sql(),
        "simhash_groups": _simhash_groups_sql(),
        "simhash_near_pairs": _simhash_near_pairs_sql(),
        "ann_lsh_topk": _ann_lsh_sql(),
        # replicates the synthesis contract of attach_fake_media + the real
        # header probes: PNG = sig(8)+IHDR(25)+IDAT(12+t)+IEND(12);
        # WAV = RIFF(12)+fmt(24)+data(8+aligned); MP4 = ftyp(16)+mdat(8+t).
        # PCM stats: the WAV data chunk IS the doc's utf-8 bytes, so the
        # oracle hex-parses them into the same little-endian int16 samples
        # the numpy probe reads; squared-sample sum / peak / silence count
        # are integer-exact, making the rounded doubles bit-identical.
        "multimodal_features": """
            SELECT doc_id,
              CASE doc_id % 3 WHEN 0 THEN 'image/png'
                   WHEN 1 THEN 'audio/wav'
                   ELSE 'video/mp4' END AS media_type,
              CAST(CASE doc_id % 3
                   WHEN 0 THEN 57 + t
                   WHEN 1 THEN 44 + (t // ba) * ba
                   ELSE 216 + t + 4 * ((t + fs - 1) // fs)
                   END AS BIGINT) AS byte_len,
              CAST(CASE doc_id % 3
                   WHEN 0 THEN 1
                   WHEN 1 THEN t // ba
                   ELSE (t + fs - 1) // fs END AS INTEGER) AS n_frames,
              CAST(CASE WHEN doc_id % 3 = 0 THEN 16 + doc_id % 241 END
                   AS INTEGER) AS width,
              CAST(CASE WHEN doc_id % 3 = 0 THEN 16 + (doc_id * 7) % 181 END
                   AS INTEGER) AS height,
              CAST(CASE WHEN doc_id % 3 = 1 THEN rate END
                   AS INTEGER) AS sample_rate,
              CASE WHEN doc_id % 3 = 1 THEN round((t // ba) / rate, 6)
                   WHEN doc_id % 3 = 2 THEN
                     round((40 * ((t + fs - 1) // fs)) / 1000.0, 6)
                   END AS duration_s,
              CASE WHEN doc_id % 3 = 1 AND ns > 0 THEN
                round(sqrt(CAST(list_sum(list_transform(vs, v -> v * v))
                                AS DOUBLE) / ns), 6) END AS pcm_rms,
              CAST(CASE WHEN doc_id % 3 = 1 AND ns > 0 THEN
                list_max(list_transform(vs, v -> abs(v))) END
                AS INTEGER) AS pcm_peak,
              CASE WHEN doc_id % 3 = 1 AND ns > 0 THEN
                round(len(list_filter(vs, v -> abs(v) <= 327)) / ns, 6)
                END AS pcm_silence_ratio
            FROM (
              SELECT *,
                     CASE WHEN doc_id % 3 = 1 AND ns > 0 THEN
                       [CASE WHEN u > 32767 THEN u - 65536 ELSE u END
                        FOR u IN [
                          ('0x' || substr(hx, 4*i + 1, 2))::BIGINT
                          + 256 * ('0x' || substr(hx, 4*i + 3, 2))::BIGINT
                          FOR i IN range(0, ns)]]
                     ELSE [] END AS vs
              FROM (
                SELECT doc_id,
                       octet_length(encode(COALESCE(text, ''))) AS t,
                       hex(encode(COALESCE(text, ''))) AS hx,
                       CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 10000
                            WHEN 2 THEN 20000 ELSE 40000 END AS rate,
                       64 + doc_id % 129 AS fs,
                       (1 + doc_id % 2) * 2 AS ba,
                       ((octet_length(encode(COALESCE(text, '')))
                         // ((1 + doc_id % 2) * 2))
                        * ((1 + doc_id % 2) * 2)) // 2 AS ns
                FROM documents))
        """,
    }
    # the persisted-LM gate must reproduce training from scratch exactly,
    # so it shares lm_perplexity's oracle verbatim (build+append+compact
    # is a layout change, not a semantics change)
    out["lm_incremental"] = out["lm_perplexity"]
    # transcripts relation (_turns_df) replayed verbatim: conv = user,
    # stable turn order = (ts, event_id) row_number, roles cycled by
    # event_id, deterministic NULL texts, tool set on tool turns only
    turns_cte = """
        WITH turns AS (
          SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS turn_idx,
                 CASE WHEN event_id % 3 = 0 THEN 'user'
                      WHEN event_id % 3 = 1 THEN 'assistant'
                      ELSE 'tool' END AS role,
                 CASE WHEN event_id % 37 = 5 THEN NULL
                      ELSE event_type || ' ' || props END AS text,
                 CASE WHEN event_id % 3 = 2 THEN event_type END AS tool,
                 ts, event_id
          FROM events)
    """
    out["transcript_stats"] = turns_cte + """
        SELECT conv_id,
               COUNT(*) AS n_turns,
               CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_user,
               CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_assistant,
               CAST(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_tool,
               CAST(SUM(COALESCE(length(text), 0)) AS BIGINT)
                 AS total_chars,
               MIN(turn_idx) AS first_turn,
               MAX(turn_idx) AS last_turn,
               MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us
        FROM turns GROUP BY conv_id
    """
    out["transcript_render"] = turns_cte + """
        SELECT conv_id, COUNT(*) AS n_turns,
               string_agg(role || ': ' || COALESCE(text, ''), chr(10)
                          ORDER BY turn_idx,
                                   role || ': ' || COALESCE(text, ''))
                 AS transcript
        FROM turns GROUP BY conv_id
    """
    # lake capstone: final state = turns minus deletes, edits applied —
    # the engine reaches it through two MoR merges + LWW resolution
    out["transcript_export"] = turns_cte + """
        , final AS (
          SELECT conv_id, turn_idx, role,
                 CASE WHEN event_id % 9 = 4
                      THEN COALESCE(text, '') || ' [edited]'
                      ELSE text END AS text
          FROM turns WHERE event_id % 17 <> 6)
        SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
               string_agg(role || ': ' || COALESCE(text, ''), chr(10)
                          ORDER BY turn_idx,
                                   role || ': ' || COALESCE(text, ''))
                 AS transcript
        FROM final GROUP BY conv_id
    """
    out["transcript_sft_pairs"] = turns_cte + """
        , led AS (
          SELECT conv_id, turn_idx, role, text,
                 lead(role) OVER (PARTITION BY conv_id
                                  ORDER BY turn_idx) AS nr,
                 lead(text) OVER (PARTITION BY conv_id
                                  ORDER BY turn_idx) AS nt
          FROM turns)
        SELECT conv_id, turn_idx, text AS prompt, nt AS response
        FROM led WHERE role = 'user' AND nr = 'assistant'
    """
    # exact-substring dedup: the gram/island contraction replayed in SQL
    # (k=8, min_occurrences=2, case-preserving whitespace tokens)
    substr_cte = f"""
        WITH sw AS (
          SELECT doc_id,
                 regexp_split_to_array(
                   regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
          FROM documents WHERE text IS NOT NULL),
        grams AS (
          SELECT doc_id, CAST(t.pos AS INT) AS pos,
                 {_h60_sql("array_to_string(w[t.pos + 1 : t.pos + 8], ' ')")}
                   AS gh
          FROM sw, UNNEST(range(0, len(w) - 7)) AS t(pos)
          WHERE len(w) >= 8),
        dup AS (
          SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY gh) AS f FROM grams)
          WHERE f >= 2),
        isl0 AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER
                        (PARTITION BY doc_id ORDER BY pos) > 8
                      THEN 1 ELSE 0 END AS brk
          FROM dup),
        isl AS (
          SELECT doc_id, pos,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS g
          FROM isl0),
        spans AS (
          SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 8 AS span_end,
                 CAST(COUNT(*) AS BIGINT) AS n_grams
          FROM isl GROUP BY doc_id, g)
    """
    # join-view gate: the maintained view must equal the one-shot join of
    # both sources' FINAL states (the _joinview_for mutation arithmetic)
    out["cdc_join_view"] = """
        WITH fact AS (
          SELECT event_id,
                 CASE WHEN event_id % 13 = 5 THEN user_id + 1
                      ELSE user_id END AS user_id,
                 ROUND(CASE WHEN event_id % 7 = 0 THEN value + 1.0
                            ELSE value END, 6) AS val
          FROM events WHERE event_id % 11 <> 3),
        dim AS (
          SELECT user_id,
                 CASE WHEN user_id % 5 = 0 THEN 'upd'
                      ELSE 's' || CAST(user_id % 4 AS VARCHAR) END AS seg
          FROM (SELECT DISTINCT user_id FROM events)
          WHERE user_id % 13 <> 0)
        SELECT f.event_id, f.user_id, f.val, d.seg
        FROM fact f LEFT JOIN dim d USING (user_id)
    """
    # SQ8 ADC replayed term-for-term: same bounds aggregate, same
    # floor/clamp encode, same center-of-cell reconstruction, same
    # sequential squared-diff fold, rounded before ranking
    out["ann_sq_topk"] = """
        WITH dims AS (
          SELECT i, MIN(x) AS lo, MAX(x) AS hi,
                 (MAX(x) - MIN(x)) / 255.0 AS step
          FROM (SELECT CAST(t.i AS INT) AS i,
                       embedding[t.i + 1]::DOUBLE AS x
                FROM embeddings,
                     UNNEST(range(0, len(embedding))) AS t(i))
          GROUP BY i),
        b AS (SELECT list(lo ORDER BY i) AS lo,
                     list(step ORDER BY i) AS step
              FROM dims),
        recon AS (
          SELECT vec_id,
                 list_transform(range(1, len(embedding) + 1), i ->
                   b.lo[i] + (
                     (CASE WHEN b.step[i] = 0 THEN 0
                           ELSE GREATEST(0, LEAST(255,
                             CAST(FLOOR((embedding[i]::DOUBLE - b.lo[i])
                                        / b.step[i]) AS INT)))
                      END) + 0.5) * b.step[i]) AS rv
          FROM embeddings, b)
        SELECT query_id, neighbor_id, rank, dist FROM (
          SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
                 round(list_sum(
                   list_transform(range(1, len(q.embedding) + 1), i ->
                     (q.embedding[i]::DOUBLE - r.rv[i])
                     * (q.embedding[i]::DOUBLE - r.rv[i]))), 4) AS dist,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_sum(
                     list_transform(range(1, len(q.embedding) + 1), i ->
                       (q.embedding[i]::DOUBLE - r.rv[i])
                       * (q.embedding[i]::DOUBLE - r.rv[i]))), 4) ASC,
                     r.vec_id ASC) AS rank
          FROM embeddings q, recon r
          WHERE q.vec_id < 10 AND q.vec_id <> r.vec_id)
        WHERE rank <= 5
    """
    out["decontam_spans"] = rf"""
        WITH sw AS (
          SELECT doc_id,
                 regexp_split_to_array(
                   regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS w
          FROM documents WHERE text IS NOT NULL),
        refg AS (
          SELECT DISTINCT
                 {_h60_sql("array_to_string(w[t.pos + 1 : t.pos + 8], ' ')")}
                   AS gh
          FROM sw, UNNEST(range(0, len(w) - 7)) AS t(pos)
          WHERE len(w) >= 8 AND doc_id % 10 = 0),
        dup AS (
          SELECT g.doc_id, g.pos FROM (
            SELECT doc_id, CAST(t.pos AS INT) AS pos,
                 {_h60_sql("array_to_string(w[t.pos + 1 : t.pos + 8], ' ')")}
                   AS gh
            FROM sw, UNNEST(range(0, len(w) - 7)) AS t(pos)
            WHERE len(w) >= 8) g JOIN refg USING (gh)),
        isl0 AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER
                        (PARTITION BY doc_id ORDER BY pos) > 8
                      THEN 1 ELSE 0 END AS brk
          FROM dup),
        isl AS (
          SELECT doc_id, pos,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS g
          FROM isl0)
        SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 8 AS span_end,
               MAX(pos) + 8 - MIN(pos) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM isl GROUP BY doc_id, g
    """
    out["substr_dup_spans"] = substr_cte + """
        SELECT doc_id, span_start, span_end,
               span_end - span_start AS n_tokens, n_grams
        FROM spans
    """
    out["substr_scrub"] = substr_cte + """
        , tok AS (
          SELECT doc_id, CAST(t.pos AS INT) AS pos, w[t.pos + 1] AS word
          FROM sw, UNNEST(range(0, len(w))) AS t(pos)),
        keep AS (
          SELECT k.doc_id, k.pos, k.word
          FROM tok k
          WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = k.doc_id
              AND k.pos >= s.span_start AND k.pos < s.span_end)),
        agg AS (
          SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS text_clean,
                 COUNT(*) AS n_kept
          FROM keep GROUP BY doc_id)
        SELECT sw.doc_id,
               COALESCE(a.text_clean, '') AS text_clean,
               CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_kept,
               CAST(len(sw.w) - COALESCE(a.n_kept, 0) AS BIGINT)
                 AS n_tokens_dropped
        FROM sw LEFT JOIN agg a USING (doc_id)
    """
    out["transcript_tool_stats"] = turns_cte + """
        SELECT tool, COUNT(*) AS n_calls,
               COUNT(DISTINCT conv_id) AS n_convs,
               CAST(SUM(COALESCE(length(text), 0)) AS BIGINT)
                 AS total_chars
        FROM turns
        WHERE tool IS NOT NULL AND trim(tool) <> ''
        GROUP BY tool
    """
    return out
