"""Python worker daemon that imports the installed PySpark, not Spark's zips.

Spark starts its Python daemon with `$SPARK_HOME/python/lib/pyspark.zip`,
the py4j zip and the `spark-core` jar on `sys.path` ahead of
site-packages, so workers import PySpark through `zipimport`. Every task
then runs `pyspark.worker.main`, whose `worker_util.setup_spark_files`
calls `importlib.invalidate_caches()`. That call makes every
`zipimporter` in `sys.path_importer_cache` re-read its archive's central
directory in pure Python: one importer per imported subpackage of
`pyspark.zip` (1,328 entries, about 5 ms each) and two over the jar
(22-51 ms each), 110-150 ms per task on 4 vCPUs before the task reads
a row.

`session.get_spark` names this module in `spark.python.daemon.module`.
It drops the Spark distribution's `.zip`/`.jar` entries from `sys.path`
and their importers from `sys.path_importer_cache`, then runs
`pyspark.daemon.manager()`. Forked workers inherit the pruned path, and
`pyspark.daemon` still takes the worker module from `argv`, so the
Python data-source workers get it too. It prunes only when the rest of
the path imports a PySpark of the archived version (read from
`pyspark/version.py` in the zip); otherwise the path is left as is and
the daemon behaves exactly as Spark's.

Run as `python -m bitcoin_olap_spark.pyworker [worker_module]`. It must
not import `pyspark` (nor anything that does) before pruning.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_ARCHIVE_SUFFIXES = (".zip", ".jar")
_VERSION_RE = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)['"]""")


def _parse_version(source: str) -> str | None:
    m = _VERSION_RE.search(source)
    return m.group(1) if m else None


def _archived_pyspark(paths: list[str]) -> tuple[str, str | None] | None:
    """(path, version) of the first archive on `paths` holding `pyspark`."""
    for entry in paths:
        if not entry.endswith(_ARCHIVE_SUFFIXES):
            continue
        try:
            with zipfile.ZipFile(entry) as zf:
                source = zf.read("pyspark/version.py").decode("utf-8")
        except (OSError, KeyError, zipfile.BadZipFile):
            continue
        return entry, _parse_version(source)
    return None


def _installed_version(paths: list[str]) -> str | None:
    """Version of the `pyspark` package that `paths` would import."""
    spec = PathFinder.find_spec("pyspark", paths)
    if spec is None or spec.origin is None:
        return None
    try:
        with open(
            os.path.join(os.path.dirname(spec.origin), "version.py"),
            encoding="utf-8",
        ) as f:
            return _parse_version(f.read())
    except OSError:
        return None


def prune_archives(path: list[str], importer_cache: dict) -> bool:
    """Drop the archives of the Spark distribution that holds the
    archived PySpark (`<home>/python/lib/pyspark.zip`) from `path`, in
    place, and their importers from `importer_cache`. Only when the
    rest of `path` imports that PySpark's version and a py4j; other
    archives (an interpreter's stdlib zip, say) stay. Returns whether
    it pruned."""
    found = _archived_pyspark(path)
    if found is None:
        return False
    zip_path, archived = found
    home = os.path.dirname(os.path.dirname(os.path.dirname(os.path.realpath(zip_path))))
    spark = [
        p for p in path
        if p.endswith(_ARCHIVE_SUFFIXES)
        and os.path.realpath(p).startswith(home + os.sep)
    ]
    rest = [p for p in path if p not in spark]
    if (
        archived is None
        or _installed_version(rest) != archived
        or PathFinder.find_spec("py4j", rest) is None
    ):
        return False
    path[:] = rest
    # an archive's importers are keyed by the archive path, and by
    # `<archive>/<subpackage>` for each subpackage imported from it
    inside = tuple(a + os.sep for a in spark)
    for key in [k for k in importer_cache if k in spark or k.startswith(inside)]:
        del importer_cache[key]
    return True


if __name__ == "__main__":
    prune_archives(sys.path, sys.path_importer_cache)
    from pyspark.daemon import manager

    manager()
