"""Python-worker entry: import PySpark from its package directory, then
run ``pyspark.daemon``.

Spark starts a worker with ``…/python/lib/pyspark.zip`` and the
spark-core jar on its ``PYTHONPATH``. Every task then calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``), and on Python 3.11 that makes each cached zip
importer re-read its archive's whole directory: 1,328 entries for
``pyspark.zip``, 5,359 for the jar, which holds no Python file, several
times per task. With the package directory on the path in place of the
zip, no jar, and no archive importer cached, the call only clears
directory listings.

``session.get_spark`` names this module in ``spark.python.daemon.module``
for ``local*`` masters; Spark runs it as ``python -m
solr_spark.worker_daemon pyspark.worker``. It imports the standard
library only, so that no pyspark module loads from the zip before the
path is rewritten.
"""

from __future__ import annotations

import os
import sys
import zipfile

_VERSION = "pyspark/version.py"


def _read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        return None


def package_dir(zip_path: str, paths: list[str]) -> str | None:
    """A directory whose ``pyspark/version.py`` is byte-equal to the one
    in ``zip_path``, or None (the zip is then kept).

    A directory already on ``paths`` comes first: it is the interpreter's
    installed copy (``site-packages`` of a pip install), which carries
    bytecode for this interpreter. Then the package directory shipped
    beside the zip: ``$SPARK_HOME/python`` for a Spark distribution
    (``…/python/lib/pyspark.zip``), ``site-packages`` for a pip install
    (``…/site-packages/pyspark/python/lib/pyspark.zip``).
    """
    try:
        with zipfile.ZipFile(zip_path) as z:
            want = z.read(_VERSION)
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    python = os.path.dirname(os.path.dirname(zip_path))
    beside = [python, os.path.dirname(os.path.dirname(python))]
    for d in [*paths, *beside]:
        if d and _read(os.path.join(d, _VERSION)) == want:
            return d
    return None


def worker_path(paths: list[str]) -> tuple[list[str], list[str]]:
    """``(new path, dropped archives)`` for a worker's ``sys.path``.

    ``.jar`` entries are dropped. A ``pyspark.zip`` entry is dropped when
    ``package_dir`` finds an equal package directory; that directory
    takes the zip's place unless it is on the path already. A pure
    function of the path list and the files it names.
    """
    out: list[str] = []
    dropped: list[str] = []
    for p in paths:
        if p.endswith(".jar"):
            dropped.append(p)
            continue
        if os.path.basename(p) == "pyspark.zip":
            pkg = package_dir(p, paths)
            if pkg is not None:
                dropped.append(p)
                if pkg not in paths:
                    out.append(pkg)
                continue
        out.append(p)
    return out, dropped


def main() -> None:
    sys.path[:], dropped = worker_path(sys.path)
    # importing this module walked the archives; forget their importers
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
