"""The session factory's Python daemon (``georasters_spark._daemon``): the
workers import pyspark and py4j from a directory with no Spark archive on
their path, still show as ``pyspark.daemon``, and both guards keep Spark's
own daemon and path when the package or pyspark lives only in a zip."""

from __future__ import annotations

import os
import zipfile

from georasters_spark import _daemon
from georasters_spark.session import daemon_conf


def test_workers_import_pyspark_from_a_directory(spark):
    def probe(it):
        import os
        import sys

        import pandas as pd
        import py4j
        import pyspark

        for _ in it:
            pass
        # zip and jar files on the path (a missing one, like the
        # interpreter's own python311.zip, reads nothing)
        archives = [p for p in sys.path
                    if p.endswith((".zip", ".jar")) and os.path.isfile(p)]
        yield pd.DataFrame({"pyspark": [pyspark.__file__], "py4j": [py4j.__file__],
                            "archives": [repr(archives)]})

    rows = spark.range(0, 8, numPartitions=4).mapInPandas(
        probe, "pyspark string, py4j string, archives string").collect()
    assert spark.conf.get("spark.python.daemon.module") == "georasters_spark._daemon"
    assert len(rows) == 4
    for r in rows:
        assert os.path.isfile(r["pyspark"]) and os.path.isfile(r["py4j"]), r
        assert r["archives"] == "[]", r


def _cmdline(pid):
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        return f.read().split(b"\0")


def _descendants(root):
    children = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def test_python_workers_show_as_pyspark_daemon(spark):
    from pyspark import SparkContext

    assert spark.range(0, 8, numPartitions=4).mapInPandas(
        lambda it: it, "id long").count() == 8
    pythons = []
    for pid in _descendants(SparkContext._gateway.proc.pid):
        try:
            argv = _cmdline(pid)
        except OSError:
            continue
        if os.path.basename(argv[0]).startswith(b"python"):
            pythons.append((pid, argv))
    assert pythons
    for pid, argv in pythons:
        assert b"pyspark.daemon" in argv, (pid, argv)


def _package(root, *names):
    for name in names:
        os.makedirs(os.path.join(root, name))
        open(os.path.join(root, name, "__init__.py"), "w").close()
    return str(root)


def test_daemon_drops_archives_when_pyspark_is_in_a_directory(tmp_path):
    site = _package(tmp_path / "site", "pyspark", "py4j")
    zips = [str(tmp_path / "pyspark.zip"), str(tmp_path / "spark-core.jar")]
    kept = str(tmp_path / "repo")
    pythonpath = os.pathsep.join([zips[0], kept, zips[1]])
    assert _daemon.filtered_pythonpath(pythonpath, [kept, *zips, site]) == kept


def test_daemon_keeps_path_when_pyspark_is_only_in_a_zip(tmp_path):
    lib = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(lib, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("py4j/__init__.py", "")
    # py4j alone in a directory is not enough
    site = _package(tmp_path / "site", "py4j")
    pythonpath = os.pathsep.join([str(lib), str(tmp_path / "repo")])
    assert _daemon.filtered_pythonpath(pythonpath, [str(lib), site]) == pythonpath


def test_daemon_conf_only_for_a_package_directory(tmp_path):
    repo = tmp_path / "repo"
    init = _package(repo, "georasters_spark") + "/georasters_spark/__init__.py"
    other = str(tmp_path / "elsewhere")
    want = {"spark.python.daemon.module": "georasters_spark._daemon",
            "spark.python.unix.domain.socket.enabled": "true"}
    assert daemon_conf(init, str(repo), "") == want
    assert daemon_conf(init, other, os.pathsep.join(["/x", str(repo)])) == want
    assert daemon_conf(init, other, "/x") == {}
    # a --py-files zip on PYTHONPATH: the package imports from the zip
    pkg = tmp_path / "pkg.zip"
    with zipfile.ZipFile(pkg, "w") as z:
        z.writestr("georasters_spark/__init__.py", "")
    zipped = f"{pkg}/georasters_spark/__init__.py"
    assert daemon_conf(zipped, str(tmp_path), str(pkg)) == {}
