"""Spark's Python daemon, started without Spark's zip archives and jar on
its import path (``spark.python.daemon.module``, set by ``session.get_spark``).

Every task calls ``importlib.invalidate_caches()``, which re-reads the
central directory of every zip and jar on ``sys.path``. This module drops
those entries from ``PYTHONPATH`` and re-executes the interpreter as
``-m pyspark.daemon`` (same pid and file descriptors), so the workers
import the directory-installed ``pyspark`` and ``py4j`` and the process
still reads as ``pyspark.daemon`` in its command line. When either has no
directory install on the filtered path, ``PYTHONPATH`` stays as it is.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder

_ARCHIVES = (".zip", ".jar")


def filtered_pythonpath(pythonpath: str, sys_path: list[str]) -> str:
    """``pythonpath`` without its ``.zip`` and ``.jar`` entries, or
    unchanged unless ``pyspark`` and ``py4j`` import from a directory on
    the ``sys_path`` entries that remain."""
    kept = [p for p in pythonpath.split(os.pathsep) if not p.endswith(_ARCHIVES)]
    dirs = [p for p in sys_path if not p.endswith(_ARCHIVES)]
    if all(PathFinder.find_spec(m, dirs) for m in ("pyspark", "py4j")):
        return os.pathsep.join(kept)
    return pythonpath


if __name__ == "__main__":
    os.environ["PYTHONPATH"] = filtered_pythonpath(os.environ.get("PYTHONPATH", ""), sys.path)
    argv = list(sys.orig_argv)
    argv[argv.index("-m") + 1] = "pyspark.daemon"
    os.execv(sys.executable, argv)
