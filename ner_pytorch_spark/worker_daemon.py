"""``pyspark.daemon`` without the per-task import-cache flush.

``get_spark`` selects this module through ``spark.python.daemon.module``.
Stock ``pyspark.worker_util.setup_spark_files`` ends every Python task with
``importlib.invalidate_caches()``; on Python 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
directory (1,328 entries for Spark's ``pyspark.zip``, one importer per
imported subpackage). Before anything imports ``pyspark`` the daemon

(a) drops Spark's ``pyspark.zip`` and ``py4j-*-src.zip`` from the path, but
    only when the rest of the path finds a ``py4j`` and a ``pyspark`` whose
    ``version.py`` states the zip's ``__version__``;
(b) replaces ``setup_spark_files`` with the stock body minus the flush and
    invalidates only when ``(sys.path, mtime of the SparkFiles root)``
    differs from the previous task's, so a task that brings an
    ``addPyFile`` zip or ``.py`` still invalidates.

If ``setup_spark_files`` is not an ``(infile)`` function in a module whose
``importlib`` is the real one, (b) is skipped and the stock daemon runs.
"""

from __future__ import annotations

import importlib
import inspect
import os
import re
import sys
import types
import zipfile
from importlib.machinery import PathFinder

_SPARK_ZIP = re.compile(r"(pyspark|py4j-.+-src)\.zip")
_VERSION = re.compile(r"""__version__\W.*?=\s*['"]([^'"]+)""")


def drop_spark_zips(path: list[str]) -> None:
    """Remove Spark's own zips from ``path`` (in place) when the rest of
    ``path`` imports the same pyspark version and a py4j."""
    zips = [p for p in path if _SPARK_ZIP.fullmatch(os.path.basename(p))]
    rest = [p for p in path if p not in zips]
    pyspark_zip = next((z for z in zips if z.endswith("pyspark.zip")), None)
    spec = PathFinder.find_spec("pyspark", rest)
    if (pyspark_zip is None or spec is None or not spec.submodule_search_locations
            or PathFinder.find_spec("py4j", rest) is None):
        return
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as fh:
            installed = _VERSION.search(fh.read())
        with zipfile.ZipFile(pyspark_zip) as zf:
            zipped = _VERSION.search(zf.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return
    if installed and zipped and installed.group(1) == zipped.group(1):
        path[:] = rest
        for z in zips:
            sys.path_importer_cache.pop(z, None)


def _files_root_mtime_ns() -> int | None:
    from pyspark.core.files import SparkFiles

    try:
        return os.stat(SparkFiles._root_directory or "").st_mtime_ns
    except OSError:
        return None


def patch(worker_util: types.ModuleType) -> bool:
    """Install the flush-on-change ``setup_spark_files`` in ``worker_util``;
    False, with nothing changed, if the stock function has another shape."""
    stock = getattr(worker_util, "setup_spark_files", None)
    if (not isinstance(stock, types.FunctionType)
            or list(inspect.signature(stock).parameters) != ["infile"]
            or getattr(worker_util, "importlib", None) is not importlib):
        return False
    no_flush = types.SimpleNamespace(invalidate_caches=lambda: None)
    body = types.FunctionType(stock.__code__, {**stock.__globals__, "importlib": no_flush},
                              stock.__name__, stock.__defaults__, stock.__closure__)
    last_key = None

    def setup_spark_files(infile):
        nonlocal last_key
        body(infile)
        key = (tuple(sys.path), _files_root_mtime_ns())
        if key != last_key:
            last_key = key
            importlib.invalidate_caches()

    worker_util.setup_spark_files = setup_spark_files
    return True


def main() -> None:
    drop_spark_zips(sys.path)
    import pyspark.worker_util

    # Patched before pyspark.daemon imports pyspark.worker (or the worker
    # module named in argv), so their ``from pyspark.worker_util import
    # setup_spark_files`` binds the replacement.
    patch(pyspark.worker_util)
    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    # Run the imported module, not ``__main__``, so the patched function
    # reports ``__module__ == "ner_pytorch_spark.worker_daemon"``.
    from ner_pytorch_spark.worker_daemon import main as _main

    _main()
