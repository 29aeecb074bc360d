"""The Python worker daemon imports pyspark from the interpreter's
installed package: workers hold no importer on Spark's archives, and the
path filter drops only Spark's own archives, and only when the installed
pyspark can stand in for them."""

from __future__ import annotations

import json
import os
import sys
import zipfile

import pytest

from feature_engineering_spark.worker_daemon import spark_archives


def test_workers_import_installed_pyspark_and_hold_no_spark_archive(spark):
    def probe(batches):
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pd.DataFrame({"pyspark": [pyspark.__file__],
                            "spark_home": [os.environ.get("SPARK_HOME", "")],
                            "zips": [json.dumps(zips)]})

    got = spark.range(1).mapInPandas(
        probe, "pyspark string, spark_home string, zips string").first()
    assert got.spark_home
    home = os.path.join(os.path.realpath(got.spark_home), "")
    # A module read from an archive has a __file__ inside the archive.
    assert os.path.isfile(got.pyspark), got.pyspark
    held = [k for k in json.loads(got.zips)
            if os.path.realpath(k).startswith(home)]
    assert held == []


def _zip(path, files):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _package(root, name, files):
    d = root / name
    d.mkdir(parents=True)
    for f, text in {"__init__.py": "", **files}.items():
        (d / f).write_text(text)


@pytest.fixture
def layout(tmp_path, monkeypatch):
    """A fake Spark home (pyspark 9.9.9, py4j, spark-core jar), a
    site-packages dir and an engine zip outside the Spark home."""
    # find_spec caches an importer per visited entry; keep them out of
    # this process's cache.
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    home = tmp_path / "spark"
    lib = home / "python" / "lib"
    spark_zips = [
        _zip(lib / "pyspark.zip",
             {"pyspark/__init__.py": "",
              "pyspark/version.py": '__version__: str = "9.9.9"\n'}),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(home / "jars" / "spark-core_2.13-9.9.9.jar", {"org/x.class": ""}),
    ]
    engine = _zip(tmp_path / "fes.zip",
                  {"feature_engineering_spark/__init__.py": ""})
    site = tmp_path / "site"
    _package(site, "py4j", {})
    return {"home": str(home), "spark": spark_zips, "engine": engine,
            "site": site}


def _path(layout):
    return [*layout["spark"], layout["engine"], str(layout["site"])]


def test_drops_spark_archives_and_keeps_other_zips(layout):
    _package(layout["site"], "pyspark", {"version.py": "__version__: str = '9.9.9'\n"})
    assert spark_archives(_path(layout), layout["home"]) == layout["spark"]


def test_keeps_path_without_installed_pyspark(layout):
    assert spark_archives(_path(layout), layout["home"]) == []


def test_keeps_path_when_versions_differ(layout):
    _package(layout["site"], "pyspark", {"version.py": "__version__: str = '9.9.8'\n"})
    assert spark_archives(_path(layout), layout["home"]) == []
