"""SparkSession construction tuned for the rollup engine.

Scale stance: the session defaults assume many-executor clusters; in this
sandbox they run on ``local[N]``. AQE is always on (skew-join splitting +
partition coalescing), Arrow is always on (every Python kernel in this
engine is a vectorized pandas/Arrow UDF — no per-row Python anywhere,
per BASELINE.json input_hint).

Python workers: every task of a Python stage (the halo grouped maps, the
Gorilla pack/unpack) starts with ``importlib.invalidate_caches()``, which
in stock PySpark re-reads the central directory of every zip archive on the
worker's path (150-300 ms per task with Spark 4.1 and CPython 3.11). Where
``get_spark`` launches a local master itself (no spark-submit, no JVM that
other code started), its workers inherit the PYTHONPATH set below, so it
sets ``spark.python.daemon.module`` to ``diive_spark._pydaemon``: a
``pyspark.daemon`` that re-reads an archive only when its mtime or size
changed. A cluster opts in the same way: set that conf and put the package
on the PYTHONPATH the executors' Python starts with (for example through
``spark.executorEnv.PYTHONPATH``). The daemon imports the package before
any task has fetched ``--py-files``, so those alone are not enough.
"""

from __future__ import annotations

import os
import re

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"
DAEMON_MODULE = "diive_spark._pydaemon"

# the JVM gateway a get_spark call launched: its Python workers inherit the
# PYTHONPATH set below, so they can import the daemon module
_own_gateway = None


def get_spark(
    app_name: str = "diive_spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Args:
        master: Spark master; defaults to ``local[$SPARK_GRAFT_CPUS]`` or
            ``local[*]``. On a real cluster this is supplied by spark-submit
            and must be left ``None``.
        shuffle_partitions: sized so one shuffle partition of the tier-0
            rollup fits comfortably in executor memory. Rule of thumb at
            100 TB input: ``input_bytes / 128MB`` map tasks, shuffle
            partitions ~= 2-4x total cores; AQE coalesces the tail.
    """
    # Executor Python workers must be able to import this package: in local
    # mode they inherit PYTHONPATH from the driver process env (sys.path
    # mutations do NOT propagate). On a real cluster, ship the package with
    # ``spark-submit --py-files diive_spark.zip`` instead.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_parent}{os.pathsep}{pypath}" if pypath else pkg_parent

    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_SUBMIT_MODE"):
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if master is not None:
        builder = builder.master(master)

    conf = {
        # AQE: runtime re-plan — coalesce small shuffle partitions, split skewed ones.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # let AQE coalesce the output partitioning of CACHED plans too
        # (default false): without it every .cache() pins the full
        # session shuffle width onto downstream jobs — a cached 200k-row
        # rollup tier occupies `shuffle.partitions` near-empty partitions
        # and every later stage pays that many tasks (guide §2.2: fewer,
        # larger partitions). Scale-neutral: AQE targets
        # advisoryPartitionSizeInBytes, so big caches keep full width.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        # Arrow transfer for every pandas UDF / applyInPandas kernel.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions
            or os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        ),
        # Timestamps are wall-clock UTC throughout the engine.
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
    }
    if _launches_local_master(master):
        conf["spark.python.daemon.module"] = DAEMON_MODULE
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    launching = SparkContext._gateway is None
    spark = builder.getOrCreate()
    if launching:
        global _own_gateway
        _own_gateway = SparkContext._gateway
    return spark


def _launches_local_master(master: str | None) -> bool:
    """True when this process runs the workers of a local master and their
    environment comes from the PYTHONPATH ``get_spark`` set: not under
    spark-submit (the JVM was started before this call) and not on a JVM
    some other code launched."""
    return (
        master is not None
        and re.fullmatch(r"local(\[[^\]]*\])?", master) is not None
        and not os.environ.get("SPARK_SUBMIT_MODE")
        and SparkContext._gateway in (None, _own_gateway)
    )
