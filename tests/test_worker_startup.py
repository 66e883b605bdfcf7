"""Python worker start-up hook (``worker_site/sitecustomize.py``): task
workers and data source planner workers import pyspark from the installed
package, the guard leaves foreign paths alone, and a shadowed
``sitecustomize`` still runs."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql.datasource import DataSource, DataSourceReader
from pyspark.sql.functions import pandas_udf

from big_data_science_project_spark.session import WORKER_SITE
from big_data_science_project_spark.worker_site.sitecustomize import (
    is_spark_archive, strip_spark_archives)

# workers cannot import this test module by name
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _worker_view() -> str:
    """Where this process imported pyspark from, and how many importers
    over Spark's archives it still caches, as one identifier."""
    import pyspark

    origin = "archive" if ".zip" in pyspark.__file__ else "site"
    importers = sum(1 for k, v in sys.path_importer_cache.items()
                    if type(v).__name__ == "zipimporter"
                    and any(is_spark_archive(p) for p in k.split(os.sep)))
    return f"pyspark_{origin}_archive_importers_{importers}"


def test_task_worker_imports_installed_pyspark(spark):
    @pandas_udf("string")
    def view(s: pd.Series) -> pd.Series:
        return pd.Series([_worker_view()] * len(s))

    seen = {r[0] for r in spark.range(4).select(view("id")).collect()}
    assert seen == {"pyspark_site_archive_importers_0"}


class _PlannerView(DataSource):
    @classmethod
    def name(cls):
        return "worker_startup_planner_view"

    def schema(self):
        return f"{_worker_view()} string"

    def reader(self, schema):
        return _OneRow()


class _OneRow(DataSourceReader):
    def read(self, partition):
        yield ("x",)


def test_planner_worker_imports_installed_pyspark(spark):
    spark.dataSource.register(_PlannerView)
    df = spark.read.format(_PlannerView.name()).load()
    assert df.columns == ["pyspark_site_archive_importers_0"]


def _fake_layout(tmp_path, archive_version="4.1.2", installed=("pyspark",
                                                               "py4j")):
    """A fake Spark layout: versioned pyspark/py4j zips and a jar, plus a
    site-packages directory holding the ``installed`` packages."""
    lib, site = tmp_path / "lib", tmp_path / "site"
    lib.mkdir(parents=True)
    site.mkdir()
    versions = {"pyspark": archive_version, "py4j": "0.10.9.9"}
    archives = [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip"),
                str(lib / "spark-core_2.13-4.1.2.jar")]
    for archive, pkg in zip(archives, ("pyspark", "py4j", None)):
        with zipfile.ZipFile(archive, "w") as z:
            if pkg:
                z.writestr(f"{pkg}/__init__.py", "")
                z.writestr(f"{pkg}/version.py",
                           f"__version__: str = '{versions[pkg]}'\n")
            else:
                z.writestr("org/Empty.class", b"")
    for pkg in installed:
        (site / pkg).mkdir()
        (site / pkg / "__init__.py").write_text("")
        (site / pkg / "version.py").write_text(
            f"__version__ = '{'4.1.2' if pkg == 'pyspark' else '0.10.9.9'}'\n")
    path = [str(tmp_path), *archives, str(site)]
    cache = {a: object() for a in archives}
    cache[archives[0] + os.sep + "pyspark"] = object()
    cache[str(site)] = object()
    return path, cache, archives


def test_guard_strips_archives_when_versions_match(tmp_path):
    path, cache, archives = _fake_layout(tmp_path)
    assert strip_spark_archives(path, cache) == archives
    assert path == [str(tmp_path), str(tmp_path / "site")]
    assert list(cache) == [str(tmp_path / "site")]


def test_guard_leaves_path_on_version_mismatch(tmp_path):
    path, cache, _ = _fake_layout(tmp_path, archive_version="4.0.0")
    before, cache_before = list(path), dict(cache)
    assert strip_spark_archives(path, cache) == []
    assert path == before and cache == cache_before


def test_guard_leaves_path_when_installed_package_missing(tmp_path):
    for installed in (("py4j",), ("pyspark",)):
        path, cache, _ = _fake_layout(tmp_path / installed[0],
                                      installed=installed)
        before, cache_before = list(path), dict(cache)
        assert strip_spark_archives(path, cache) == []
        assert path == before and cache == cache_before


def test_shadowed_sitecustomize_still_runs(tmp_path):
    other = tmp_path / "other"
    other.mkdir()
    (other / "sitecustomize.py").write_text("MARK = 'shadowed ran'\n")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([WORKER_SITE,
                                                       str(other)]))
    out = subprocess.run(
        [sys.executable, "-c", "import sitecustomize; print(sitecustomize.MARK)"],
        env=env, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "shadowed ran"
