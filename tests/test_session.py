"""The harness session's Python workers (session.py, pydaemon.py).

``get_spark`` starts its workers from ``pydaemon``, which drops Spark's
source-only archives from ``sys.path`` so the workers import the installed,
compiled PySpark, and puts the package's parent directory on the workers'
path so they find the package from any cwd.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile

import pyspark
from pyspark.find_spark_home import _find_spark_home

from eecs485_p4_mapreduce_spark.pydaemon import without_spark_archives

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_installed_pyspark(spark):
    """A task imports PySpark from a directory (a module inside an archive
    is no file), the Spark driver's version of it, and holds no zipimporter on
    Spark's own archives."""

    def worker_imports(_):
        import sys
        import zipimport

        import pyspark

        archives = [
            v.archive
            for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        ]
        yield pyspark.__file__, pyspark.__version__, archives

    home = os.path.realpath(_find_spark_home())
    rows = spark.sparkContext.parallelize(range(2), 2).mapPartitions(worker_imports).collect()
    assert len(rows) == 2
    for file, version, archives in rows:
        assert os.path.isfile(file), file
        assert version == pyspark.__version__
        assert not [a for a in archives if os.path.realpath(a).startswith(home + os.sep)]


def test_worker_finds_package_from_empty_cwd(tmp_path):
    """The Spark driver process puts the repo on its own ``sys.path`` only; a worker
    started from an empty cwd with no ``PYTHONPATH`` still unpickles a
    package function."""
    code = (
        f"import sys; sys.path.insert(0, {REPO!r}); "
        "from eecs485_p4_mapreduce_spark import get_spark; "
        "from eecs485_p4_mapreduce_spark.mapreduce.job import keyof; "
        "spark = get_spark('empty-cwd', cpus=1); "
        "print(spark.sparkContext.parallelize(['k\\tv'], 1).map(keyof).collect()); "
        "spark.stop()"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    run = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.strip().splitlines()[-1] == "['k']"


def _zip(path, *packages):
    with zipfile.ZipFile(path, "w") as zf:
        for pkg in packages:
            zf.writestr(f"{pkg}/__init__.py", "")
    return str(path)


def test_path_filter_drops_spark_archives_only_when_pyspark_resolves(tmp_path):
    """Spark's ``python/lib`` archives and its jar leave the path only when
    ``pyspark`` and ``py4j`` resolve from a directory without them; a user
    archive always stays.  ``$SPARK_HOME`` may be a symlink to the
    directory the JVM names the jar in."""
    home = tmp_path / "spark-4.1.2"
    (home / "python" / "lib").mkdir(parents=True)
    (home / "jars").mkdir()
    (tmp_path / "spark").symlink_to(home)
    spark_zip = _zip(tmp_path / "spark" / "python" / "lib" / "pyspark.zip", "pyspark")
    py4j_zip = _zip(tmp_path / "spark" / "python" / "lib" / "py4j-0.10.9.9-src.zip", "py4j")
    jar = _zip(home / "jars" / "spark-core_2.13-4.1.2.jar", "org")
    user_zip = _zip(tmp_path / "deps.zip", "deps")
    site = tmp_path / "site"
    site.mkdir()
    path = [spark_zip, py4j_zip, jar, user_zip, str(site)]

    # pyspark resolves only from the archive: nothing is dropped
    assert without_spark_archives(path, str(tmp_path / "spark")) == path

    for pkg in ("pyspark", "py4j"):
        (site / pkg).mkdir()
        (site / pkg / "__init__.py").write_text("")
    importlib.invalidate_caches()
    assert without_spark_archives(path, str(tmp_path / "spark")) == [user_zip, str(site)]
    # no SPARK_HOME: no archive is known to be Spark's
    assert without_spark_archives(path, None) == path
