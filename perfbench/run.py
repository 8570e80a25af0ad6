#!/usr/bin/env python3
"""cdcrypt benchmark of record (``bench.py`` and ``BENCH/`` are legacy).

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 5 --trace 0

One process, one Spark session at ``local[min(nproc, 4)]`` with the JVM's
C1 compiler only (see ``phases.JIT``), the ingest pipeline's default
configuration. A run is:

  1. input generation from ``--seed`` (not timed);
  2. set-up (``setup_s``): session start plus an untimed replay of the
     stream's first epoch, one full read of it and one lookup (the warm
     table);
  3. ``--trace 0``: the remaining epochs replayed onto a copy of the warm
     table, repeated until ``--seconds`` of ingest are measured, then three
     full reads + decrypt and three point lookups on the table it wrote ->
     end-to-end metrics;
     ``--trace 1``: the epoch after the warm one, once untraced and once
     with spans at every layer boundary, then a traced read -> per-layer
     metrics, a span file and a per-layer table under ``.perfbench_out/``;
  4. the correctness check against the last-writer-wins oracle.

The last stdout line is the JSON result. A wrong table or lookup exits 1;
a missing program exits 2. Everything is written under the checkout, in
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk_replay", "trickle_epochs")


def _prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python workers import cdcrypt from the checkout, like this process
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    sys.path[:0] = [ROOT, HERE]


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _cpu_shares(t0: list[int], t1: list[int]) -> dict:
    """Shares of all CPU time between two /proc/stat samples that went to
    iowait and to other guests (steal) -- context for a slow run."""
    d = [b - a for a, b in zip(t0, t1)]
    total = max(1, sum(d[:8]))
    return {"iowait": d[4] / total, "steal": d[7] / total}


def _become_subreaper() -> None:
    """Orphaned descendants (spark-submit's launcher) are re-parented to
    this process, so it can reap every process the run started."""
    import ctypes

    try:
        prctl = ctypes.CDLL(None).prctl
    except (OSError, AttributeError):
        return  # not Linux: orphans go to init, as without this call
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _reap_children() -> None:
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    from measure import descendants, stop_process_tree

    kids = descendants(os.getpid())
    try:
        spark.stop()
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
    finally:
        stop_process_tree(kids)
        _reap_children()


def run(args, work: str, out_dir: str) -> tuple[dict, dict]:
    import inputs
    import metrics
    import phases
    from measure import RssSampler, Tracer

    cores = min(os.cpu_count() or 1, 4)
    report = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "nproc": os.cpu_count(), "cores": cores,
              "loadavg_start": _loadavg()}
    src = os.path.join(work, "src")
    stats = inputs.generate(args.workload, args.seed, src)
    report["events_generated"] = stats["events"]
    # one key for the set-up's warm lookup, the others for the timed ones
    warm_conv, *convs = inputs.lookup_convs(args.seed, stats["n_convs"],
                                            1 + phases.LOOKUPS)

    cpu0 = _cpu_times()
    rss = RssSampler().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = phases.start_session(work, cores)
        report["session_s"] = time.perf_counter() - t0
        report["warmup"] = phases.warmup(spark, src, work, warm_conv)
        setup_s = time.perf_counter() - t0

        if not args.trace:
            ing = phases.ingest(spark, args.workload, src, work,
                                args.seconds)
            if ing["failed"]:
                rd, problems = None, [f"ingest failed: {ing.get('error')}"]
            else:
                rd = phases.read_phase(spark, ing["table_root"], convs)
            peak_mb = rss.stop()
            report["peak_rss_parts_mb"] = [p >> 20 for p in rss.peak_parts]
            if rd is not None:
                problems = phases.check(spark, ing["files"], rd)
                values = phases.end_to_end(ing, rd, setup_s, peak_mb)
                report["detail"] = {
                    "ingest_walls_s": ing["walls"],
                    "epoch_walls_s": ing["epoch_walls"],
                    "events_replayed": ing["events"],
                    "scan_s": rd["scan_s"], "live_rows": rd["live_rows"],
                    "lookup_s": [l["s"] for l in rd["lookups"]]}
            attempted = ing["attempted"] + phases.SCANS + len(convs)
            failed = ing["failed"]
            catalog = metrics.END_TO_END
        else:
            tracer = Tracer(f"{args.workload}-seed{args.seed}")
            tr = phases.traced_run(spark, args.workload, src, work, convs,
                                   tracer)
            rss.stop()
            problems = phases.check(spark, tr["files"], tr["read"])
            values = tr["metrics"]
            attempted, failed = 3 + len(convs), 0
            catalog = metrics.PER_LAYER
            stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            tracer.dump(stem + ".spans.jsonl")
            table = _layer_table(values, tr)
            with open(stem + ".layers.txt", "w") as f:
                f.write(table)
            print(table, end="")
    except Exception:  # noqa: BLE001 - reported as a failed run
        if spark is None:
            raise
        problems = [f"run failed: {traceback.format_exc()}"[-4000:]]
        values, attempted, failed, catalog = {}, 1, 1, {}
    finally:
        rss.stop()
        if spark is not None:
            _stop_spark(spark)

    correct = not problems and not failed
    report.update({"loadavg_end": _loadavg(),
                   "cpu": _cpu_shares(cpu0, _cpu_times()),
                   "correct": int(correct),
                   "failed_ops_ratio": failed / attempted,
                   "problems": problems})
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics.as_result(values, catalog) if correct
              else {}}
    report["metrics"] = result["metrics"]
    return report, result


def _layer_table(values: dict, tr: dict) -> str:
    from metrics import PER_LAYER

    lines = [f"{'metric':32} {'value':>14} {'unit':6} {'layer':22} moves"]
    for name, (unit, _, layer, moves) in PER_LAYER.items():
        lines.append(f"{name:32} {values[name]:14.6g} {unit:6} {layer:22} "
                     f"{moves}")
    lines.append(
        f"tracing overhead: traced epoch {tr['traced_epoch_s']:.3f} s vs "
        f"untraced {tr['untraced_epoch_s']:.3f} s "
        f"({100 * values['trace.overhead_ratio']:+.1f}%)")
    return "\n".join(lines) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "cdcrypt", "__init__.py")):
        print(f"perfbench: no cdcrypt package under {ROOT}; nothing to run",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _prepare_env(work)
    _become_subreaper()
    try:
        report, result = run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report["wall_s"] = time.perf_counter() - t_start
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                 f"-trace{args.trace}.json")
    with open(stem, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    print(json.dumps(result))
    if not result["correct"]:
        print("perfbench: output does not match the oracle: "
              + "; ".join(report["problems"]), file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
