"""SparkSession factory tuned for the local[N] sandbox.

Sizing follows the machine: local[cores] over the cores this process
may use, and a driver heap derived from physical memory (both
overridable through the environment, see ``default_cores`` and
``default_driver_mem``). On a real cluster the same settings apply
except master/memory, which spark-submit supplies; AQE + adaptive
coalescing + skew-join stay on.

Spark's Python daemon starts as ``georasters_spark._daemon``, over a Unix
domain socket. Spark puts ``pyspark.zip``, the py4j zip and a spark-core
jar on the workers' ``PYTHONPATH``, and every task's
``importlib.invalidate_caches()`` re-reads their central directories
(about 0.2 s per task on a 4-core VM). ``_daemon`` removes those entries
and re-executes itself as ``-m pyspark.daemon``, so the workers import the
directory-installed ``pyspark`` and ``py4j`` and still show as
``pyspark.daemon`` in their command line. The Unix domain socket cuts
the worker's socket wait too (a no-op 32-task job: 1.6 s with Spark's
daemon, 0.75 s with ``_daemon`` over TCP, 0.5 s with both); its one cost is
an occasional ``BrokenPipeError`` traceback on stderr at ``spark.stop()``
from an idle worker whose socket the JVM closed. Two guards keep today's
behaviour:

* ``get_spark`` sets the module only when this package imports from a
  directory the daemon can import it from: its parent is the working
  directory or on ``PYTHONPATH``. A package that arrives as a
  ``--py-files`` zip does not qualify.
* ``_daemon`` keeps ``PYTHONPATH`` unchanged when ``pyspark`` or ``py4j``
  has no directory install on the filtered path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_mem(cores: int) -> str:
    """``SPARK_DRIVER_MEM`` if set, else a third of physical memory left
    after 512 MiB per core for the Python workers (at least 1 GiB)."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return f"{max(1024, (total_kb // 1024 - 512 * cores) // 3)}m"


def daemon_conf(module_file: str, cwd: str, pythonpath: str) -> dict:
    """The ``_daemon`` settings when the package holding the module
    ``module_file`` imports from a directory that is ``cwd`` or on
    ``pythonpath``; an empty dict otherwise."""
    parent = os.path.dirname(os.path.dirname(os.path.abspath(module_file)))
    roots = {os.path.realpath(p) for p in [cwd, *pythonpath.split(os.pathsep)] if p}
    if not os.path.isdir(parent) or os.path.realpath(parent) not in roots:
        return {}
    return {
        "spark.python.daemon.module": "georasters_spark._daemon",
        "spark.python.unix.domain.socket.enabled": "true",
    }


def get_spark(
    app_name: str = "georasters_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", default_driver_mem(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
    )
    conf = daemon_conf(__file__, os.getcwd(), os.environ.get("PYTHONPATH", ""))
    for k, v in {**conf, **(extra_conf or {})}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
