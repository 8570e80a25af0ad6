"""SparkSession factory with engine-tuned defaults.

Scale rationale (tuned on a single host's ``local[N]``, designed for
1000-executor clusters):
- Arrow vectorization on, 10k rows/batch: amortizes the JVM<->Python boundary
  for the crypto UDFs (one data-key wrap per 10k rows).
- AQE on with coalescing + skew-join: runtime re-planning for the merge join;
  we additionally salt hot keys explicitly (operators/dedup.py
  resolve_latest_salted) as the north rule requires, and can A/B the two.
- shuffle.partitions defaults to 2x cores locally; on a real cluster set it
  near (executors * cores * 2) or rely on AQE coalescing from a higher value.

Python daemon: PySpark re-reads the central directory of every zip archive
on a worker's ``sys.path`` (``pyspark.zip``, the spark-core jar) before each
task, ~0.1-0.4 s of worker CPU per task on CPython 3.11, which dominated the
pandas-UDF crypto stages. ``spark.python.daemon.module`` is set to
``cdcrypt._pydaemon``, which skips a re-read when the archive's inode, size
and mtime are unchanged and invalidates every other import cache as before.
The daemon starts before any ``--py-files`` arrive, so it is set only where
the workers can import it (``daemon_importable``): a ``local``/``local[...]``
master, with cdcrypt's parent directory on ``PYTHONPATH`` or the working
directory. Elsewhere Spark's own daemon runs; ``extra_conf`` overrides the
setting either way.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DAEMON_CONF = "spark.python.daemon.module"
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))


def daemon_importable(master: str) -> bool:
    """Whether Python workers of ``master`` can import ``cdcrypt._pydaemon``
    on their own. Local workers inherit this process's ``PYTHONPATH`` and
    working directory. They need not run this interpreter (``PYSPARK_PYTHON``
    defaults to ``python3`` on ``PATH``), so its site-packages prove nothing;
    ``sys.path`` edits made here do not reach them, and a ``--py-files`` zip
    is not a directory."""
    if master != "local" and not master.startswith("local["):
        return False
    searched = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    return os.path.isdir(_PKG_PARENT) and any(
        os.path.realpath(p) == _PKG_PARENT for p in [*searched, os.getcwd()])


def get_spark(
    app_name: str = "cdcrypt",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("CDCRYPT_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if master.startswith("local[") and master != "local[*]":
        try:
            cores = int(master[6:-1])
        except ValueError:
            pass
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores * 2)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("CDCRYPT_DRIVER_MEM", "16g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # Single-node: shuffle bytes never cross a network, so compression is
        # pure CPU overhead (drop it), and tmpfs shuffle dirs skip ext4
        # journaling syscalls. On a real cluster keep the defaults
        # (lz4 + fast local disks) — these keys are only set for local[*].
        # tmpfs only helps while shuffle/spill fits in RAM; fall back to the
        # default disk dirs when /dev/shm is small so jobs that would
        # survive on disk don't die on a full tmpfs (round-1 ADVICE item).
        # CDCRYPT_LOCAL_DIR overrides both the path and the fallback.
        local_dir = os.environ.get("CDCRYPT_LOCAL_DIR", "/dev/shm/sparktmp")
        try:
            os.makedirs(local_dir, exist_ok=True)
            st = os.statvfs(local_dir)
            free_gb = st.f_bavail * st.f_frsize / (1 << 30)
            if "CDCRYPT_LOCAL_DIR" in os.environ or free_gb >= 8:
                b = b.config("spark.local.dir", local_dir)
        except OSError:
            pass
        b = (b.config("spark.shuffle.compress", "false")
             .config("spark.shuffle.spill.compress", "false"))
    if daemon_importable(master):
        b = b.config(DAEMON_CONF, "cdcrypt._pydaemon")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
