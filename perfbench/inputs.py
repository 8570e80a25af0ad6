"""Workload inputs and the correctness oracle.

Inputs come from the program's own seeded change-event generator
(``cdcrypt.sources.changegen``); the workload seed is the CLI ``--seed``
passed as ``GenSpec.seed``, so the same seed gives byte-identical epoch files.

Oracle (FIXTURES.md F2): last-writer-wins by ``op_seq`` per
``(conv_id, turn_idx)`` over the replayed source files, deletes dropped. The
replayed table must equal it on every compared column after decryption.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from cdcrypt.sources.changegen import GenSpec, generate_to_dir

KEY_ID = "cdcrypt/transcripts"  # IngestPipeline's default key id
ENCRYPTED = ["$.text", "$.tool"]
COMPARE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts",
                "op_seq", "model"]


def workload_spec(workload: str, seed: int) -> GenSpec:
    """GenSpec per workload (see BENCHMARK.json for why each exists)."""
    if workload == "bulk_replay":
        # 2 epochs of ~12k events, long texts: dups cross the boundary, the
        # ``model`` column arrives at epoch 1, conv 0 takes >= 5% of events.
        # Many short conversations keep event counts within ~2% across seeds.
        return GenSpec(n_convs=2600, avg_turns=6, n_epochs=2,
                       text_repeat=6, seed=seed)
    if workload == "trickle_epochs":
        # 2 epochs of ~3.6k events, short text, two updates per insert:
        # epoch 1 holds almost only updates, deletes and re-inserts. No
        # 17 KB texts: a handful of them would swing this small table's
        # bytes per row by several percent from seed to seed.
        return GenSpec(n_convs=1000, avg_turns=2, n_epochs=2,
                       update_ratio=2.0, long_text_ratio=0.0, seed=seed)
    raise ValueError(f"unknown workload {workload!r}")


def generate(workload: str, seed: int, out_dir: str) -> dict:
    spec = workload_spec(workload, seed)
    stats = generate_to_dir(out_dir, spec, files_per_epoch=4)
    stats["n_convs"] = spec.n_convs
    return stats


def epoch_files(source_dir: str, epochs: list[int]) -> list[str]:
    want = {f"epoch={e:06d}" for e in epochs}
    return sorted(os.path.join(source_dir, n) for n in os.listdir(source_dir)
                  if n.split(".")[0] in want and n.endswith(".parquet"))


def source_rows(files: list[str]) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def source_bytes(files: list[str]) -> int:
    return sum(os.path.getsize(f) for f in files)


def oracle_table(files: list[str]) -> pa.Table:
    """Expected live rows after replaying ``files``: LWW by op_seq per key,
    deletes dropped, ``ts`` as int64 microseconds."""
    t = pa.concat_tables([pq.read_table(f) for f in files],
                         promote_options="default")
    if "model" not in t.column_names:
        t = t.append_column("model", pa.nulls(len(t), pa.string()))
    t = t.append_column("_i", pa.array(np.arange(len(t))))
    keys = t.select(["conv_id", "turn_idx", "op_seq", "_i"]).to_pandas()
    last = (keys.sort_values("op_seq", kind="stable")
            .drop_duplicates(["conv_id", "turn_idx"], keep="last"))
    win = t.take(pa.array(np.sort(last["_i"].to_numpy())))
    win = win.filter(pc.not_equal(win.column("op"), "D"))
    win = win.set_column(win.schema.get_field_index("ts"), "ts",
                         pc.cast(win.column("ts"), pa.int64()))
    return win.select(COMPARE_COLS)


def oracle_rows_by_conv(oracle: pa.Table, convs: list[str]) -> dict:
    sub = oracle.filter(pc.is_in(oracle.column("conv_id"),
                                 value_set=pa.array(convs)))
    out: dict[str, list[tuple]] = {c: [] for c in convs}
    for r in sub.to_pylist():
        out[r["conv_id"]].append(tuple(r[c] for c in COMPARE_COLS))
    return {c: sorted(v, key=lambda r: r[1]) for c, v in out.items()}


def lookup_convs(seed: int, n_convs: int, k: int) -> list[str]:
    """``k`` conversations from the middle half of the id range: files are
    pruned by their conv_id bounds, so keys near either end of the range
    would make a lookup's cost depend on the seed."""
    rng = np.random.default_rng(seed + 1)
    picks = rng.choice(np.arange(n_convs // 4, 3 * n_convs // 4), size=k,
                       replace=False)
    return [f"conv{int(i):08d}" for i in picks]


# ---------- Spark-side comparison ----------

def compare_select(df, has_model: bool):
    """The compared columns of a decrypted table read; ``ts`` as micros,
    ``model`` null-filled when the table has not evolved yet."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in COMPARE_COLS[:5]]
    cols += [F.unix_micros("ts").alias("ts"), F.col("op_seq")]
    cols.append(F.col("model") if has_model
                else F.lit(None).cast("string").alias("model"))
    return df.select(*cols)


def fingerprint_agg(df):
    """count + order-free row fingerprint over COMPARE_COLS. Each column is
    hashed with its null flag so (a, null) and (null, a) differ."""
    from pyspark.sql import functions as F

    parts = []
    for c in COMPARE_COLS:
        parts += [F.col(c), F.col(c).isNull()]
    h = F.xxhash64(*parts)
    return df.agg(F.count(F.lit(1)).alias("rows"),
                  F.sum(h.cast("decimal(38,0)")).alias("hsum"),
                  F.bit_xor(h).alias("hxor"))


def fingerprint_of(row) -> tuple:
    return int(row["rows"]), str(row["hsum"]), int(row["hxor"] or 0)


def oracle_fingerprint(spark, oracle: pa.Table) -> tuple:
    return fingerprint_of(
        fingerprint_agg(spark.createDataFrame(oracle)).collect()[0])


def diff_rows(spark, table_df, oracle: pa.Table, limit: int = 5) -> list:
    """A few rows present on one side only (diagnostics for a mismatch)."""
    exp = spark.createDataFrame(oracle)
    only_got = table_df.exceptAll(exp).limit(limit).collect()
    only_exp = exp.exceptAll(table_df).limit(limit).collect()
    return ([("table_only", r.asDict()) for r in only_got]
            + [("oracle_only", r.asDict()) for r in only_exp])
