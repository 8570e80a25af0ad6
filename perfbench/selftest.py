#!/usr/bin/env python3
"""Self-test of the benchmark's correctness oracle.

    python3 perfbench/selftest.py

Replays one epoch, checks that the table passes, then alters one live row
of a copy of the table on disk and checks that the oracle rejects it — once
in a plain column (``role``) and once in an encrypted one (``text``,
re-encrypted under the right key and AAD to a different plaintext, so only
the decrypted comparison can see it). The altered row's conversation is
among the looked-up keys, so the lookup comparison must reject it too.
Exits 0 only if the clean table passes and both altered tables fail.
"""

from __future__ import annotations

import os
import shutil
import sys

import run as bench

SEED = 7


def _alter_one_row(table_root: str, column: str) -> str:
    """Rewrite the first live row of the first data file; returns its
    conv_id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdcrypt.envelope import encrypt_batch
    from cdcrypt.table.lake import LakeTable

    from inputs import KEY_ID

    entry = LakeTable(table_root).snapshot["files"][0]
    path = os.path.join(table_root, entry["path"])
    t = pq.read_table(path)
    ops, texts = t.column("op").to_pylist(), t.column("text").to_pylist()
    i = next(i for i, (op, tx) in enumerate(zip(ops, texts))
             if op != "D" and tx is not None)
    conv = t.column("conv_id")[i].as_py()
    if column == "text":
        new = encrypt_batch(["altered text"], KEY_ID, aad=[conv])[0]
    else:
        new = "altered"
    values = t.column(column).to_pylist()
    values[i] = new
    t = t.set_column(t.schema.get_field_index(column), column,
                     pa.array(values, t.schema.field(column).type))
    # INT96 timestamps, as Spark wrote them
    pq.write_table(t, path, compression="none",
                   use_deprecated_int96_timestamps=True)
    # drop the Hadoop checksum of the original bytes, or the reader refuses
    # the file before the oracle ever sees it
    d, name = os.path.split(path)
    os.remove(os.path.join(d, f".{name}.crc"))
    return conv


def main() -> int:
    work = os.path.join(bench.ROOT, ".perfbench_work",
                        f"selftest-{os.getpid()}")
    bench._prepare_env(work)
    bench._become_subreaper()
    import inputs
    import phases

    src = os.path.join(work, "src")
    stats = inputs.generate("trickle_epochs", SEED, src)
    files = inputs.epoch_files(src, [0])
    convs = inputs.lookup_convs(SEED, stats["n_convs"], 2)
    spark = phases.start_session(work, min(os.cpu_count() or 1, 4))
    outcomes = []
    try:
        troot, ckpt = phases._dirs(work, "clean")
        phases.IngestPipeline(src, troot, ckpt).run(spark, max_epochs=1)
        problems = phases.check(
            spark, files, phases.read_phase(spark, troot, convs))
        outcomes.append(("clean table passes", not problems, problems))
        for column in ("role", "text"):
            dst = os.path.join(work, f"altered-{column}")
            shutil.copytree(os.path.dirname(troot), dst)
            conv = _alter_one_row(os.path.join(dst, "table"), column)
            rd = phases.read_phase(spark, os.path.join(dst, "table"),
                                   [conv] + convs)
            problems = phases.check(spark, files, rd)
            caught = (any("fingerprint" in p for p in problems)
                      and any(p.startswith(f"lookup {conv}")
                              for p in problems))
            outcomes.append((f"one altered {column!r} is rejected by the "
                             "scan and the lookup", caught, problems))
    finally:
        bench._stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for name, ok, problems in outcomes:
        print(f"{'PASS' if ok else 'FAIL'}: {name}")
        for p in problems:
            print(f"    {p[:300]}")
    return 0 if all(ok for _, ok, _ in outcomes) else 1


if __name__ == "__main__":
    sys.exit(main())
