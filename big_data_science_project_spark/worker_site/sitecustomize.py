"""Python worker start-up hook: load pyspark from the installed package,
not from Spark's archives.

Spark starts every Python worker — task workers and the driver-side
Python data source planner workers alike — with
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and the
spark-core jar at the front of ``PYTHONPATH``. Each worker call then runs
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
and on CPython 3.11 that makes every zip importer in
``sys.path_importer_cache`` re-read its archive's whole directory:
pyspark.zip (1,328 entries), the jar (5,359) and ~16 sub-package
importers over them cost 0.12-0.18 s per call, against 0.007 s with the
archives off ``sys.path``.

When the installed pyspark and py4j have the versions the archives hold,
this hook removes the archives from ``sys.path`` and their importers from
``sys.path_importer_cache`` before anything imports pyspark; otherwise
the path stays as Spark set it. ``session.get_spark`` appends this
directory to the workers' ``PYTHONPATH``. Python runs only the first
``sitecustomize`` on the path, so this one then runs the one it shadows.

The hook runs only when Python imports this file as ``sitecustomize`` at
start-up; importing it as a package module has no side effect.
"""

from __future__ import annotations

import os
import re
import sys
import zipimport
from fnmatch import fnmatch
from importlib.machinery import PathFinder
from importlib.util import module_from_spec

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGES = ("pyspark", "py4j")
ARCHIVES = ("pyspark*.zip", "py4j*.zip", "*.jar")
_VERSION = re.compile(rb"""^__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""",
                      re.M)


def is_spark_archive(entry: str) -> bool:
    return any(fnmatch(os.path.basename(entry), p) for p in ARCHIVES)


def _parse_version(source: bytes) -> str | None:
    m = _VERSION.search(source)
    return m.group(1).decode() if m else None


def archive_version(archives: list[str], package: str) -> str | None:
    """``package.__version__`` as the first archive holding it has it.

    ``zipimporter`` reuses the directory the start-up imports already
    read, so this costs no extra archive scan.
    """
    for archive in archives:
        try:
            source = zipimport.zipimporter(archive).get_data(
                f"{package}/version.py")
        except (zipimport.ZipImportError, OSError):
            continue
        return _parse_version(source)
    return None


def installed_version(path: list[str], package: str) -> str | None:
    """``package.__version__`` of the package ``path`` would import,
    read without importing it; None when it is missing."""
    spec = PathFinder.find_spec(package, path)
    for location in (spec and spec.submodule_search_locations) or ():
        try:
            with open(os.path.join(location, "version.py"), "rb") as f:
                return _parse_version(f.read())
        except OSError:
            continue
    return None


def strip_spark_archives(path: list[str], importer_cache: dict) -> list[str]:
    """Removes Spark's archives from ``path`` and their importers from
    ``importer_cache``, in place, when the rest of ``path`` holds pyspark
    and py4j at the archives' versions. Returns the removed entries; an
    empty list means both were left untouched."""
    archives = [p for p in path if isinstance(p, str) and is_spark_archive(p)]
    if not archives:
        return []
    rest = [p for p in path if p not in archives]
    for package in PACKAGES:
        version = archive_version(archives, package)
        if version is None or version != installed_version(rest, package):
            return []
    path[:] = rest
    for key in list(importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del importer_cache[key]
    return archives


def run_shadowed_sitecustomize() -> None:
    """Runs the ``sitecustomize`` this one shadows, if ``sys.path`` has
    one, and leaves it as the ``sitecustomize`` module."""
    rest = [p for p in sys.path
            if not (isinstance(p, str) and os.path.abspath(p or os.curdir) == HERE)]
    spec = PathFinder.find_spec("sitecustomize", rest)
    if spec is None or spec.loader is None:
        return
    module = module_from_spec(spec)
    sys.modules["sitecustomize"] = module
    spec.loader.exec_module(module)


if __name__ == "sitecustomize":
    try:
        strip_spark_archives(sys.path, sys.path_importer_cache)
    finally:
        run_shadowed_sitecustomize()
