"""The engine's Python worker daemon (workerd.py) and the session defaults
that select it: a task's ``importlib.invalidate_caches()`` must not re-read
zip directories, yet files added mid-session must still import."""

import os
import sys
import zipfile

import pytest

import vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark as vm
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark import session


def _one_per_task(spark, fn, n=4):
    return spark.sparkContext.parallelize(range(n), n).mapPartitions(fn).collect()


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 zipimport is lazy on its own"
)
def test_task_invalidation_reads_no_zip_directory(spark):
    def probe(_):
        import importlib
        import zipimport

        calls = []
        real = zipimport._read_directory

        def counting(path):
            calls.append(path)
            return real(path)

        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()  # what every task start does
            eager = len(calls)
            for z in zips:  # the next lookup reads each archive once
                z.find_spec("no_such_module_in_any_zip")
        finally:
            zipimport._read_directory = real
        yield eager, len(zips), len(set(calls)), len(calls) - eager

    for eager, n_zips, n_archives, lazy in _one_per_task(spark, probe):
        assert n_zips > 0  # pyspark.zip et al. are on the worker's path
        assert eager == 0
        assert lazy == n_archives <= n_zips


def test_pyfile_added_after_first_task_imports(spark, tmp_path):
    def first(_):
        yield 1

    assert sum(_one_per_task(spark, first)) == 4
    zpath = tmp_path / "workerd_late_dep.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("workerd_late_dep.py", "VALUE = 41 + 1\n")
    spark.sparkContext.addPyFile(str(zpath))

    def late(_):
        import workerd_late_dep

        yield workerd_late_dep.VALUE

    assert _one_per_task(spark, late) == [42] * 4


@pytest.fixture
def built_conf(monkeypatch):
    """get_spark with getOrCreate returning the collected options instead
    of a session, so the defaults are read without starting a second JVM."""
    from pyspark.sql import SparkSession

    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    return lambda master="local[1]", **kw: vm.get_spark(master=master, **kw)


def test_get_spark_selects_daemon_module(spark, built_conf):
    mod = "vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.workerd"
    assert built_conf()["spark.python.daemon.module"] == mod
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == mod
    conf = built_conf(extra_conf={"spark.python.daemon.module": "pyspark.daemon"})
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"
    # executors of a cluster may import the engine only from --py-files
    conf = built_conf(master="spark://head:7077")
    assert "spark.python.daemon.module" not in conf


def test_get_spark_keeps_stock_daemon_unless_engine_importable(
    built_conf, monkeypatch, tmp_path
):
    """The daemon starts before --py-files reach sys.path: the engine's
    daemon is chosen only for a local[...] master whose workers find the
    package in their working directory or on PYTHONPATH."""
    assert "spark.python.daemon.module" in built_conf(master="local")
    assert "spark.python.daemon.module" not in built_conf(
        master="local-cluster[2,1,1536]"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(vm.__file__)))
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert "spark.python.daemon.module" not in built_conf()
    monkeypatch.setenv("PYTHONPATH", repo)
    assert "spark.python.daemon.module" in built_conf()


def test_driver_memory_fits_host(built_conf, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = built_conf()["spark.driver.memory"]
    assert mem == session.default_driver_memory()
    mib = int(mem.removesuffix("m"))
    assert 0 < mib * session.MIB <= min(phys // 2, 16 << 30)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert built_conf()["spark.driver.memory"] == "3g"
    conf = built_conf(extra_conf={"spark.driver.memory": "1g"})
    assert conf["spark.driver.memory"] == "1g"
