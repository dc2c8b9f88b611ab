"""``__spark_entry__._ensure_shipped``: nothing to ship to workers that run
the engine daemon, and at most one ``addPyFile`` per other SparkContext."""

import os
import subprocess
import weakref

import __spark_entry__ as entry


class _Context:
    """A SparkContext whose workers run the stock daemon."""

    def __init__(self):
        self.added = []

    def getConf(self):
        return {}

    def addPyFile(self, path):
        self.added.append(path)


class _Session:
    def __init__(self, sc):
        self.sparkContext = sc


def test_engine_daemon_session_ships_nothing(spark, monkeypatch):
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == "diive_spark._pydaemon"
    monkeypatch.setattr(entry, "_shipped", weakref.WeakSet())

    def fail(*args, **kwargs):
        raise AssertionError("shipped to workers that import the checkout")

    monkeypatch.setattr(sc, "addPyFile", fail)
    monkeypatch.setattr(os, "walk", fail)
    entry._ensure_shipped(spark)
    entry._ensure_shipped(spark)


def test_other_sessions_get_the_zip_once_per_context(monkeypatch):
    monkeypatch.setattr(entry, "_shipped", weakref.WeakSet())
    monkeypatch.setattr(subprocess, "run", lambda *a, **k: None)  # leave dist/ alone
    zip_path = os.path.join(entry._REPO, "dist", "diive_spark.zip")
    first, second = _Context(), _Context()
    for _ in range(3):
        entry._ensure_shipped(_Session(first))
    entry._ensure_shipped(_Session(second))
    assert first.added == [zip_path]
    assert second.added == [zip_path]
