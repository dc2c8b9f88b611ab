"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship query on /root/testdata/sf0.001
queries()     -> named operator queries (spark, sf_dir) -> DataFrame
oracle_sql()  -> matching DuckDB ANSI-SQL per query (correctness gate)

Implementation lives in diive_spark.queries; this module is the stable
driver surface.
"""

from __future__ import annotations

import os
import subprocess
import sys
import weakref
from collections.abc import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from diive_spark import queries as q  # noqa: E402
from diive_spark.operators import gapfill, grid, resample  # noqa: E402
from diive_spark.session import DAEMON_MODULE  # noqa: E402

_REPO = os.path.dirname(os.path.abspath(__file__))
#: SparkContexts _ensure_shipped has seen: their workers import the checkout,
#: or the zip was shipped to them (or could not be)
_shipped: weakref.WeakSet = weakref.WeakSet()


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the package to executor Python workers regardless of how the
    caller's SparkSession was created (its workers only see diive_spark if
    launched from this repo's cwd or with --py-files). Safe to call often:
    a session whose workers run the ``diive_spark._pydaemon`` daemon already
    imports the checkout, and any other SparkContext gets the zip once."""
    sc = spark.sparkContext
    if sc in _shipped:
        return
    _shipped.add(sc)
    if sc.getConf().get("spark.python.daemon.module") == DAEMON_MODULE:
        return
    zip_path = os.path.join(_REPO, "dist", "diive_spark.zip")
    try:
        # rebuild when missing OR stale (any package source newer than the
        # zip): a stale zip would ship old module code to executor workers
        # while the driver pickles kernels referencing the new one
        newest_src = max(
            os.path.getmtime(os.path.join(r, f))
            for r, _d, fs in os.walk(os.path.join(_REPO, "diive_spark"))
            for f in fs if f.endswith(".py")
        )
        if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest_src:
            subprocess.run(
                [sys.executable, os.path.join(_REPO, "scripts", "make_pyfiles_zip.py")],
                capture_output=True, timeout=60,
            )
        if os.path.exists(zip_path):
            sc.addPyFile(zip_path)
    except (OSError, subprocess.SubprocessError, Py4JError):
        pass  # already added, or workers can import via cwd/PYTHONPATH anyway


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full 3-tier rollup cascade over events + gap-filled hourly
    continuous aggregate with quality flags (the engine's core pipeline)."""
    _ensure_shipped(spark)
    sf_dir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t1m = resample.rollup(ev, "ts", ["value"], "1m", key_cols=["event_type"])
    t1h = resample.reaggregate(t1m, "1h", ["value"], key_cols=["event_type"])
    g = grid.gridded(t1h, "1h", ["event_type"])
    filled = gapfill.gapfill_cascade(
        g.select("event_type", "window_start", "value_cnt", "value_mean"),
        ["event_type"], "window_start", "value_mean",
        tier_seconds=3600, interp_limit=3, window_tiers=[5, 13, 49],
    )
    return filled.select(
        "event_type", "window_start",
        F.col("value_cnt").alias("cnt"),
        F.round("value_mean", 6).alias("mean_v"),
        F.round("filled", 6).alias("filled_v"),
        "fill_flag", "fill_granular",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_shipped(spark)
            return fn(spark, sf_dir)
        return run

    return {name: wrap(fn) for name, fn in q.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(q.ORACLES)
