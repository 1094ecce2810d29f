"""The Python-worker path rewrite (``solr_spark.worker_daemon``), without
Spark: which archives leave a worker's ``sys.path`` and what replaces
``pyspark.zip``."""

from __future__ import annotations

import os
import zipfile

from solr_spark.worker_daemon import worker_path

VERSION = b"__version__: str = '4.1.2'\n"


def _zip(path, version=VERSION):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", b"")
        z.writestr("pyspark/version.py", version)
    return str(path)


def _package(root, version=VERSION):
    os.makedirs(os.path.join(root, "pyspark"), exist_ok=True)
    with open(os.path.join(root, "pyspark", "version.py"), "wb") as f:
        f.write(version)
    return str(root)


def test_distribution_layout(tmp_path):
    """``$SPARK_HOME/python/lib/pyspark.zip`` → ``$SPARK_HOME/python``, in
    the zip's place; the py4j zip stays and the jar goes."""
    home = tmp_path / "spark"
    z = _zip(home / "python" / "lib" / "pyspark.zip")
    py4j = str(home / "python" / "lib" / "py4j-src.zip")
    jar = str(home / "jars" / "spark-core_2.13.jar")
    pkg = _package(home / "python")
    cwd, stdlib = str(tmp_path / "work"), str(tmp_path / "lib" / "python3.11")
    new, dropped = worker_path([cwd, z, py4j, jar, stdlib])
    assert new == [cwd, pkg, py4j, stdlib]
    assert dropped == [z, jar]


def test_pip_layout(tmp_path):
    """``site-packages/pyspark/python/lib/pyspark.zip`` → ``site-packages``;
    when it is on the path already the zip is only dropped."""
    sp = tmp_path / "site-packages"
    z = _zip(sp / "pyspark" / "python" / "lib" / "pyspark.zip")
    pkg = _package(sp)
    jar, cwd = str(tmp_path / "spark-core.jar"), str(tmp_path / "work")
    assert worker_path([z, jar]) == ([pkg], [z, jar])
    assert worker_path([cwd, z, jar, pkg]) == ([cwd, pkg], [z, jar])


def test_equal_copy_on_the_path_comes_first(tmp_path):
    """A distribution's zip next to an equal installed copy on the path:
    the zip is dropped and the distribution directory is not added."""
    home = tmp_path / "spark"
    z = _zip(home / "python" / "lib" / "pyspark.zip")
    _package(home / "python")
    sp = _package(tmp_path / "site-packages")
    assert worker_path([z, sp]) == ([sp], [z])


def test_no_package_directory_keeps_the_zip(tmp_path):
    z = _zip(tmp_path / "spark" / "python" / "lib" / "pyspark.zip")
    jar = str(tmp_path / "spark" / "jars" / "spark-core.jar")
    stdlib = str(tmp_path / "lib" / "python3.11")
    assert worker_path([z, jar, stdlib]) == ([z, stdlib], [jar])


def test_version_mismatch_keeps_the_zip(tmp_path):
    home = tmp_path / "spark"
    z = _zip(home / "python" / "lib" / "pyspark.zip")
    _package(home / "python", version=b"__version__: str = '4.0.0'\n")
    other = _package(tmp_path / "site-packages", version=b"__version__: str = '3.5.1'\n")
    assert worker_path([z, other]) == ([z, other], [])
