"""The engine's PySpark daemon (``ayeaye_spark.core.pyworker``) and the
Python-worker settings ``get_spark`` gives local sessions."""

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from ayeaye_spark.core import pyworker
from ayeaye_spark.core.session import PACKAGE_ROOT, PYWORKER_MODULE, _with_python_worker_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, files):
    """Write a fresh archive (new inode) holding ``{name: source}``."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, source in files.items():
            z.writestr(name, source)
    os.replace(tmp, path)


@pytest.fixture()
def directory_reads(monkeypatch):
    """Gated invalidation in this process for one test; yields the list of
    archives whose directory was read."""
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport, "_zip_directory_cache", dict(zipimport._zip_directory_cache))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker.gated_invalidate_caches)
    monkeypatch.setattr(pyworker, "_stamps", {})
    return reads


class TestGatedInvalidation:
    def test_unchanged_archive_is_not_reread(self, tmp_path, directory_reads):
        archive = str(tmp_path / "lib.zip")
        _write_zip(archive, {"mod_a.py": "VALUE = 1\n", "pkg/__init__.py": ""})
        top = zipimport.zipimporter(archive)
        sub = zipimport.zipimporter(os.path.join(archive, "pkg"))
        top.invalidate_caches()  # first stamp of the archive: one read
        assert directory_reads == [archive, archive]
        directory_reads.clear()
        for _ in range(5):
            top.invalidate_caches()
            sub.invalidate_caches()
        assert directory_reads == []
        assert top.find_spec("mod_a") is not None

    def test_rewritten_archive_is_reread_and_new_module_imports(
        self, tmp_path, directory_reads, monkeypatch
    ):
        archive = str(tmp_path / "shipped.zip")
        _write_zip(archive, {"pyworker_probe_a.py": "VALUE = 1\n"})
        monkeypatch.syspath_prepend(archive)
        for name in ("pyworker_probe_a", "pyworker_probe_b"):
            monkeypatch.delitem(sys.modules, name, raising=False)
        assert importlib.import_module("pyworker_probe_a").VALUE == 1
        importlib.invalidate_caches()
        directory_reads.clear()
        importlib.invalidate_caches()
        assert directory_reads == []

        _write_zip(archive, {"pyworker_probe_a.py": "VALUE = 1\n",
                             "pyworker_probe_b.py": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert directory_reads == [archive]
        assert importlib.import_module("pyworker_probe_b").VALUE == 2

    def test_deleted_archive_reads_empty(self, tmp_path, directory_reads):
        archive = str(tmp_path / "gone.zip")
        _write_zip(archive, {"mod_a.py": "VALUE = 1\n"})
        importer = zipimport.zipimporter(archive)
        importer.invalidate_caches()
        os.remove(archive)
        importer.invalidate_caches()
        assert importer.find_spec("mod_a") is None
        assert archive not in zipimport._zip_directory_cache
        _write_zip(archive, {"mod_a.py": "VALUE = 1\n"})
        importer.invalidate_caches()
        assert importer.find_spec("mod_a") is not None


class TestPythonWorkerConf:
    def test_local_master_gets_daemon_and_package_path(self):
        conf = _with_python_worker_conf(
            "local[2]", {"spark.executorEnv.PYTHONPATH": os.pathsep.join(["/x", PACKAGE_ROOT])}
        )
        assert conf["spark.python.daemon.module"] == PYWORKER_MODULE
        assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join([PACKAGE_ROOT, "/x"])
        assert os.path.isdir(os.path.join(PACKAGE_ROOT, "ayeaye_spark"))

    def test_cluster_master_keeps_spark_daemon(self):
        extra = {"spark.executorEnv.PYTHONPATH": "/x"}
        assert _with_python_worker_conf("spark://head:7077", extra) == extra
        assert _with_python_worker_conf("yarn", {}) == {}


DRIVER = textwrap.dedent(
    """
    import json, os, sys, zipfile, zipimport

    sys.path.insert(0, {repo!r})
    from pyspark.sql import functions as F
    from ayeaye_spark import PartitionedModel, connector_for
    from ayeaye_spark.core.session import get_spark

    spark = get_spark("pyworker_test")
    sc = spark.sparkContext
    out = {{"daemon": sc.getConf().get("spark.python.daemon.module")}}

    def worker_state(_):
        return (os.getpid(), zipimport.zipimporter.invalidate_caches.__name__)

    states = [sc.parallelize([0], 1).map(worker_state).collect()[0] for _ in range(4)]
    out["pids"] = [pid for pid, _ in states]
    out["invalidate"] = sorted({{name for _, name in states}})

    with open("people.csv", "w") as f:
        f.write("name,n\\nada,1\\nbob,2\\n")
    people = connector_for("csv://" + os.path.abspath("people.csv"),
                           transform_map={{"name": lambda v: v.upper()}}).read(spark)
    out["udf"] = sorted(r["name"] for r in people.collect())

    class Squares(PartitionedModel):
        distribution = "rdd"

        def build(self):
            pass

        def partition_slice(self, n):
            return [("square", {{"x": x}}) for x in range(4)]

        def square(self, x):
            return x * x

        def partition_subtask_complete(self, name, kwargs, value):
            out.setdefault("squares", []).append(value)

    model = Squares()
    model.log_to_stdout = False
    out["model_ok"] = model.go(spark)

    with zipfile.ZipFile("shipped.zip", "w") as z:
        z.writestr("pyworker_shipped.py", "VALUE = 42\\n")
    sc.addPyFile(os.path.abspath("shipped.zip"))
    shipped = F.udf(lambda v: __import__("pyworker_shipped").VALUE + v, "long", useArrow=True)
    out["shipped"] = [r[0] for r in spark.range(3, numPartitions=2).select(shipped("id")).collect()]
    spark.stop()
    print(json.dumps(out))
    """
)


def test_local_session_runs_python_tasks_under_engine_daemon(tmp_path):
    """Run from another directory with PYTHONPATH unset: only the
    driver's sys.path knows ayeaye_spark, yet every Python task runs."""
    (tmp_path / "driver.py").write_text(DRIVER.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "driver.py"], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["daemon"] == PYWORKER_MODULE
    assert out["invalidate"] == ["gated_invalidate_caches"]
    assert len(set(out["pids"])) < len(out["pids"]), out["pids"]
    assert out["udf"] == ["ADA", "BOB"]
    assert out["model_ok"] is True
    assert sorted(out["squares"]) == [0, 1, 4, 9]
    assert sorted(out["shipped"]) == [42, 43, 44]
