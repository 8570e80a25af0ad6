"""A/B grid: replay throughput across engine strategy knobs at one size.

Dimensions (one run each, local[16], sf0.1 stream, fresh table):
  resolver        agg | salted | window     (operators/dedup.py)
  crypto backend  udf | jvm                 (operators/transform.py)
  table mode      mor | cow                 (operators/merge.py)

Writes BENCH/ab_grid.json. Run in a quiet window; single-shot numbers on
this host carry ~2x noise (see BENCH/BASELINE.md), so the grid is read for
ORDERING and large ratios, not small deltas.

Usage: PYTHONPATH=/root/repo python tools/ab_grid.py
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.environ.get("CDCRYPT_BENCH_DIR", "/dev/shm/cdcrypt_scaling")
CPUS = int(os.environ.get("CDCRYPT_AB_CPUS", "16"))

_RUNNER = '''
import os, shutil, sys, time, json
sys.path.insert(0, {repo!r})
from cdcrypt.session import get_spark
from cdcrypt.streaming.pipeline import IngestPipeline
cfg = json.loads(sys.argv[1]); stream = sys.argv[2]; work = sys.argv[3]
spark = get_spark("ab", master=f"local[{cpus}]", shuffle_partitions={cpus}*2)
spark.sparkContext.setLogLevel("ERROR")
root = f"{{work}}/ab_t"
for d in (root, root+"_ck", root+"_warm", root+"_warmck"):
    shutil.rmtree(d, ignore_errors=True)
warm = IngestPipeline(stream, root+"_warm", root+"_warmck", bucket_count=128, **cfg)
warm.run(spark, max_epochs=1)
shutil.rmtree(root+"_warm", ignore_errors=True); shutil.rmtree(root+"_warmck", ignore_errors=True)
pipe = IngestPipeline(stream, root, root+"_ck", bucket_count=128, **cfg)
t0 = time.monotonic()
res = pipe.run(spark)
print(json.dumps({{"wall": time.monotonic()-t0,
                   "epoch_walls": [r["wall_sec"] for r in res]}}))
'''


def ensure_stream() -> tuple[str, int]:
    sys.path.insert(0, REPO)
    from cdcrypt.sources.changegen import GenSpec, generate_to_dir
    stream = os.path.join(BENCH_DIR, "stream_sf0.1")
    marker = os.path.join(stream, "_DONE")
    if not os.path.exists(marker):
        os.makedirs(BENCH_DIR, exist_ok=True)
        stats = generate_to_dir(
            stream, GenSpec(n_convs=60000, avg_turns=35, n_epochs=6,
                            text_repeat=6), files_per_epoch=16)
        with open(marker, "w") as f:
            json.dump({k: v for k, v in stats.items() if k != "files"}, f)
    with open(marker) as f:
        return stream, json.load(f)["events"]


GRID = [
    {"label": "baseline (agg/udf/mor/fused)", "cfg": {}},
    {"label": "resolver=salted", "cfg": {"resolver": "salted"}},
    {"label": "resolver=window", "cfg": {"resolver": "window"}},
    {"label": "backend=jvm", "cfg": {"crypto_backend": "jvm"}},
    {"label": "mode=cow", "cfg": {"table_mode": "cow"}},
    {"label": "jvm+mor best-combo", "cfg": {"crypto_backend": "jvm",
                                            "resolver": "agg"}},
]


def main() -> None:
    runner = "/tmp/cdcrypt_ab_runner.py"
    with open(runner, "w") as f:
        f.write(_RUNNER.format(repo=REPO, cpus=CPUS))
    stream, n_events = ensure_stream()
    print(f"stream: {n_events} events, cpus={CPUS}")
    results = []
    env = {**os.environ, "PYTHONPATH": REPO}
    for item in GRID:
        time.sleep(20)
        out = subprocess.run(
            ["taskset", "-c", f"0-{CPUS-1}", sys.executable, runner,
             json.dumps(item["cfg"]), stream, BENCH_DIR],
            capture_output=True, text=True, timeout=1800, env=env)
        try:
            rec = json.loads(out.stdout.strip().splitlines()[-1])
        except Exception:
            print(item["label"], "FAILED:", out.stderr.strip()[-400:])
            continue
        rec.update(label=item["label"], cfg=item["cfg"],
                   eps=round(n_events / rec["wall"], 1))
        results.append(rec)
        print(f"{item['label']:32s} wall {rec['wall']:6.1f}s "
              f"{rec['eps']:9.0f} eps")
    out_path = os.path.join(REPO, "BENCH", "ab_grid.json")
    with open(out_path, "w") as f:
        json.dump({"events": n_events, "cpus": CPUS, "grid": results}, f,
                  indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
