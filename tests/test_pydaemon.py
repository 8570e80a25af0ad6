"""The cdcrypt Python daemon (``cdcrypt._pydaemon``): workers skip re-reading
unchanged zip archives before each task, yet still see what ``addPyFile``
ships, and ``get_spark`` configures the daemon only where workers can import
it."""

from __future__ import annotations

import importlib
import os
import site
import sys
import uuid
import zipfile
import zipimport

import pytest
from pyspark.sql import SparkSession

from cdcrypt import _pydaemon, session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------- where get_spark sets it ----------

@pytest.mark.parametrize("master", ["local", "local[2]", "local[*]"])
def test_importable_from_working_directory(monkeypatch, master):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(ROOT)
    assert session.daemon_importable(master)


def test_importable_from_pythonpath(monkeypatch, tmp_path):
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), ROOT]))
    monkeypatch.chdir(tmp_path)
    assert session.daemon_importable("local[2]")


@pytest.mark.parametrize("master", [
    "spark://host:7077", "yarn", "k8s://https://host:443",
    "local-cluster[2,1,1024]"])
def test_not_importable_off_local_masters(monkeypatch, master):
    monkeypatch.setenv("PYTHONPATH", ROOT)
    monkeypatch.chdir(ROOT)
    assert not session.daemon_importable(master)


def test_not_importable_through_driver_sys_path_only(monkeypatch, tmp_path):
    # this process imports cdcrypt through a sys.path entry (pytest's
    # rootdir insertion), which the workers never see
    monkeypatch.syspath_prepend(ROOT)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(tmp_path)
    assert not session.daemon_importable("local[2]")


def test_not_importable_from_a_py_files_zip(monkeypatch, tmp_path):
    # under spark-submit --py-files the driver's PYTHONPATH holds the zip,
    # but the workers get it only after the daemon has started
    pkg = str(tmp_path / "cdcrypt_pkg.zip")
    monkeypatch.setattr(session, "_PKG_PARENT", pkg)
    monkeypatch.setenv("PYTHONPATH", pkg)
    monkeypatch.chdir(tmp_path)
    assert not session.daemon_importable("local[2]")


def test_not_importable_from_site_packages_alone(monkeypatch, tmp_path):
    # local workers run PYSPARK_PYTHON or python3 on PATH, which need not
    # be this interpreter, so its site-packages prove nothing
    monkeypatch.setattr(session, "_PKG_PARENT", site.getsitepackages()[0])
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(tmp_path)
    assert not session.daemon_importable("local[2]")


def _builder_options(monkeypatch, **kw) -> dict:
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    return session.get_spark(**kw)


def test_get_spark_sets_the_daemon_where_importable(monkeypatch, tmp_path):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.setenv("CDCRYPT_LOCAL_DIR", str(tmp_path / "local"))
    monkeypatch.chdir(ROOT)
    opts = _builder_options(monkeypatch, master="local[2]")
    assert opts[session.DAEMON_CONF] == "cdcrypt._pydaemon"
    monkeypatch.chdir(tmp_path)
    assert session.DAEMON_CONF not in _builder_options(monkeypatch,
                                                       master="local[2]")
    assert session.DAEMON_CONF not in _builder_options(
        monkeypatch, master="spark://host:7077")


def test_extra_conf_keeps_sparks_own_daemon(monkeypatch, tmp_path):
    monkeypatch.setenv("CDCRYPT_LOCAL_DIR", str(tmp_path / "local"))
    monkeypatch.chdir(ROOT)
    opts = _builder_options(monkeypatch, extra_conf={
        session.DAEMON_CONF: "pyspark.daemon"})
    assert opts[session.DAEMON_CONF] == "pyspark.daemon"


# ---------- the archive re-read rule, in process ----------

def _zip(path: str, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_archive_reread_only_when_it_changes(monkeypatch, tmp_path):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pydaemon.invalidate)
    monkeypatch.setattr(sys, "path_importer_cache", {})  # only this archive
    tag = uuid.uuid4().hex[:8]
    a, b = f"pyd_a_{tag}", f"pyd_b_{tag}"
    archive = str(tmp_path / "lib.zip")
    _zip(archive, {f"{a}.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(a).X == 1

    importlib.invalidate_caches()  # first sight of the archive: read it
    n = _pydaemon.rereads
    for _ in range(3):
        importlib.invalidate_caches()
    assert _pydaemon.rereads == n  # unchanged: nothing re-read

    # rewritten in place (new size and mtime): re-read, and the new module
    # is importable through the cached importer
    _zip(archive, {f"{a}.py": "X = 1\n", f"{b}.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert _pydaemon.rereads == n + 1
    assert importlib.import_module(b).Y == 2
    for mod in (a, b):
        sys.modules.pop(mod, None)


# ---------- the daemon in the test session ----------

def _require_daemon(spark):
    conf = spark.sparkContext.getConf().get(session.DAEMON_CONF, None)
    if conf != "cdcrypt._pydaemon":
        pytest.skip("test session runs Spark's own daemon "
                    "(cdcrypt not importable by its workers)")


def test_warm_workers_run_the_daemon_and_reread_no_archive(spark):
    _require_daemon(spark)
    parts = 2 * spark.sparkContext.defaultParallelism

    def probe(_):
        import os
        import sys

        d = sys.modules.get("cdcrypt._pydaemon")
        yield os.getpid(), d is not None, d.rereads if d else -1

    rdd = spark.sparkContext.parallelize(range(parts), parts)
    warm = [rdd.mapPartitions(probe).collect() for _ in range(3)]
    assert all(loaded for run in warm for _, loaded, _ in run)
    warm_max: dict[int, int] = {}
    for run in warm:
        for pid, _, n in run:
            warm_max[pid] = max(n, warm_max.get(pid, n))

    k_tasks = 0
    for _ in range(4):
        for pid, loaded, n in rdd.mapPartitions(probe).collect():
            assert loaded
            if pid in warm_max:
                k_tasks += 1
                assert n == warm_max[pid], (pid, n, warm_max[pid])
    assert k_tasks >= parts  # warm workers did run the measured tasks


def test_add_py_file_reaches_warm_workers(spark, tmp_path):
    """A module and a zipped package added after the workers are warm must
    import. The module lands in the SparkFiles directory, which the workers
    have already listed; the directory's mtime is put back as it was, as on
    a filesystem whose timestamps did not tick in between, so only the
    invalidation before the task lets the workers see the new file."""
    sc = spark.sparkContext
    parts = sc.defaultParallelism
    tag = uuid.uuid4().hex[:8]
    mod, pkg = f"pyd_mod_{tag}", f"pyd_pkg_{tag}"
    absent = f"pyd_absent_{tag}"

    def lister(_):
        import importlib.util

        from pyspark import SparkFiles

        importlib.util.find_spec(absent)  # lists every sys.path directory
        yield SparkFiles.getRootDirectory()

    rdd = sc.parallelize(range(parts), parts)
    for _ in range(2):
        roots = set(rdd.mapPartitions(lister).collect())
    (root,) = roots
    st = os.stat(root)

    (tmp_path / f"{mod}.py").write_text("VALUE = 41\n")
    archive = str(tmp_path / f"{pkg}.zip")
    _zip(archive, {f"{pkg}/__init__.py": "VALUE = 1\n"})
    sc.addPyFile(str(tmp_path / f"{mod}.py"))
    sc.addPyFile(archive)
    os.utime(root, ns=(st.st_atime_ns, st.st_mtime_ns))

    def user(_):
        import importlib

        yield (importlib.import_module(mod).VALUE
               + importlib.import_module(pkg).VALUE)

    assert rdd.mapPartitions(user).collect() == [42] * parts
