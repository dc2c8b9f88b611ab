"""The Python worker daemon: zip archives are re-indexed only when they
change, the workers of a get_spark session run with that wrapper, and
get_spark selects the daemon only for local masters it launches itself."""

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pandas as pd
import pytest

from diive_spark import _pydaemon, session


def _write_zip(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def read_counts(monkeypatch):
    """Archive path -> number of central-directory reads since the fixture."""
    counts: dict = {}
    real = zipimport._read_directory

    def counting(archive):
        counts[archive] = counts.get(archive, 0) + 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return counts


def test_rewritten_archive_is_reindexed_and_unchanged_one_is_not(
        tmp_path, monkeypatch, read_counts):
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, {"pd_zmod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for mod in ("pd_zmod_a", "pd_zmod_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("pd_zmod_a").X == 1
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pydaemon.invalidate_caches)

    importlib.invalidate_caches()  # first call indexes every archive once
    read_counts.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert read_counts == {}

    _write_zip(archive, {"pd_zmod_a.py": "X = 1\n", "pd_zmod_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert read_counts == {archive: 1}
    assert importlib.import_module("pd_zmod_b").Y == 2

    # same size, new mtime: re-read as well
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert read_counts == {archive: 2}
    importlib.invalidate_caches()
    assert read_counts == {archive: 2}


def test_workers_run_the_engine_daemon(spark):
    def probe(batches):
        for _ in batches:
            pass
        import importlib
        import zipimport

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        wrapper = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"wrapper": [f"{wrapper.__module__}.{wrapper.__name__}"],
                            "reads": [len(reads)]})

    got = (spark.range(0, 8, numPartitions=4)
           .mapInPandas(probe, "wrapper string, reads long").toPandas())
    assert len(got) == 4
    assert set(got["wrapper"]) == {"diive_spark._pydaemon.invalidate_caches"}
    assert (got["reads"] == 0).all()


class _Builder:
    def __init__(self):
        self.master_, self.conf = None, {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.master_ = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


@pytest.mark.parametrize("master, submit, foreign_jvm, expect_master, daemon", [
    (None, False, False, "local[3]", True),
    ("local[4]", False, False, "local[4]", True),
    ("local", False, False, "local", True),
    ("spark://host:7077", False, False, "spark://host:7077", False),
    ("local-cluster[2,1,1024]", False, False, "local-cluster[2,1,1024]", False),
    (None, True, False, None, False),
    ("local[2]", True, False, "local[2]", False),
    ("local[2]", False, True, "local[2]", False),
])
def test_daemon_conf_only_for_local_masters_get_spark_launches(
        monkeypatch, master, submit, foreign_jvm, expect_master, daemon):
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    if submit:
        monkeypatch.setenv("SPARK_SUBMIT_MODE", "1")
    else:
        monkeypatch.delenv("SPARK_SUBMIT_MODE", raising=False)
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    gateway = object() if foreign_jvm else None
    monkeypatch.setattr(session, "SparkContext", types.SimpleNamespace(_gateway=gateway))
    monkeypatch.setattr(session, "_own_gateway", None)

    session.get_spark(master=master)
    assert builder.master_ == expect_master
    got = builder.conf.get("spark.python.daemon.module")
    assert got == ("diive_spark._pydaemon" if daemon else None)


def test_extra_conf_overrides_the_daemon(monkeypatch):
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    monkeypatch.setattr(session, "SparkContext", types.SimpleNamespace(_gateway=None))
    monkeypatch.setattr(session, "_own_gateway", None)
    session.get_spark(master="local[2]",
                      extra_conf={"spark.python.daemon.module": "pyspark.daemon"})
    assert builder.conf["spark.python.daemon.module"] == "pyspark.daemon"
