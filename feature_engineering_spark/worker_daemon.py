"""Python worker daemon: pyspark's own ``daemon.manager()``, importing
pyspark from the interpreter's installed package.

Spark starts its Python daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar at the front of ``sys.path``.
Every task then ends ``pyspark.worker_util.setup_spark_files`` with
``importlib.invalidate_caches()``, and on Python 3.11 each cached
``zipimporter`` answers that by re-reading its whole archive directory:
pyspark.zip (1,328 entries) once per pyspark subpackage a worker imported
and the jar (5,359 entries, no ``.py`` files) twice, a 0.268 s median per
task on a 4-vCPU host. With those archives off the path the invalidation
costs ~0.15 ms, and workers import the installed pyspark: the copy the
driver uses, which ships ``.pyc`` where the zip has none.

``session.get_spark`` points ``spark.python.daemon.module`` here. Any other
archive on the path, such as a ``--py-files`` engine zip, stays. The path
stays as Spark built it when the interpreter has no pyspark or py4j of its
own, or its pyspark version differs from the archive's.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""", re.M)


def _version(source: bytes) -> str | None:
    m = _VERSION.search(source.decode("utf-8", "replace"))
    return m.group(1) if m else None


def _installed_version(path: list[str]) -> str | None:
    """``pyspark.__version__`` as ``path`` would import it, read without
    importing; None when pyspark or py4j is not on ``path``."""
    spec = PathFinder.find_spec("pyspark", path)
    if (spec is None or spec.loader is None or not spec.submodule_search_locations
            or PathFinder.find_spec("py4j", path) is None):
        return None
    try:
        return _version(spec.loader.get_data(
            os.path.join(spec.submodule_search_locations[0], "version.py")))
    except OSError:
        return None


def spark_archives(path: list[str], spark_home: str | None) -> list[str]:
    """The entries of ``path`` that are Spark's own archives (pyspark.zip,
    py4j, the Spark jar) and should be dropped; empty when the
    interpreter's pyspark cannot stand in for them."""
    if not spark_home:
        return []
    home = os.path.join(os.path.realpath(spark_home), "")
    archives = [p for p in path
                if p.endswith((".zip", ".jar"))
                and os.path.realpath(p).startswith(home)]
    zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return []
    try:
        with zipfile.ZipFile(zips[0]) as z:
            want = _version(z.read("pyspark/version.py"))
    except (OSError, KeyError, zipfile.BadZipFile):
        return []
    have = _installed_version([p for p in path if p not in archives])
    return archives if want is not None and have == want else []


def main() -> None:
    drop = spark_archives(sys.path, os.environ.get("SPARK_HOME"))
    sys.path[:] = [p for p in sys.path if p not in drop]
    # The ``-m`` lookup of this module already cached a zipimporter per
    # archive; a cached one is re-read on every invalidation even when its
    # entry is off the path.
    for archive in drop:
        sys.path_importer_cache.pop(archive, None)

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
