"""The Python worker daemon that ``get_spark`` starts on local masters
(``fever_spark._pydaemon``): workers keep their zip import caches across
tasks, archives added mid-session still import, and a non-local master
keeps Spark's own daemon."""

import importlib.util
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fever_spark import _pydaemon
from fever_spark.session import get_spark


def test_worker_invalidate_caches_keeps_zip_caches(spark):
    @F.pandas_udf(T.BooleanType())
    def hooked(x: pd.Series) -> pd.Series:
        import importlib

        marked = getattr(importlib.invalidate_caches,
                         "_fever_keeps_zip_caches", False)
        return pd.Series([marked] * len(x))

    rows = spark.range(64).repartition(4).select(hooked("id").alias("h")).collect()
    assert len(rows) == 64 and all(r["h"] for r in rows)


def test_add_py_file_mid_session_imports_in_udf(spark, tmp_path):
    name = f"fever_addpy_{uuid.uuid4().hex[:8]}"
    zpath = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")

    @F.pandas_udf(T.LongType())
    def plus_one(x: pd.Series) -> pd.Series:
        return x + 1

    # a UDF first, so live workers already hold their zip caches
    spark.range(4).select(plus_one("id")).collect()
    spark.sparkContext.addPyFile(str(zpath))

    @F.pandas_udf(T.LongType())
    def value(x: pd.Series) -> pd.Series:
        import importlib

        return pd.Series([importlib.import_module(name).VALUE] * len(x))

    rows = spark.range(16).repartition(4).select(value("id").alias("v")).collect()
    assert [r["v"] for r in rows] == [42] * 16


def test_wrapper_spares_only_absolute_zip_importers(tmp_path, monkeypatch):
    zpath = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("fever_zipmod.py", "")
    zimp = zipimport.zipimporter(zpath)
    other = object()
    monkeypatch.setitem(sys.path_importer_cache, zpath, zimp)
    monkeypatch.setitem(sys.path_importer_cache, "rel.zip",
                        zipimport.zipimporter(zpath))
    monkeypatch.setitem(sys.path_importer_cache, str(tmp_path), other)
    seen = []

    def original():
        seen.append(dict(sys.path_importer_cache))
        raise RuntimeError("boom")

    monkeypatch.setattr(_pydaemon, "_invalidate_caches", original)
    with pytest.raises(RuntimeError):
        _pydaemon.invalidate_caches()
    # the original saw every finder but the absolute-path zip importer ...
    assert zpath not in seen[0]
    assert "rel.zip" in seen[0] and seen[0][str(tmp_path)] is other
    # ... which is back, as the same object, even though the original raised
    assert sys.path_importer_cache[zpath] is zimp
    assert importlib.invalidate_caches is not _pydaemon.invalidate_caches


def test_non_local_master_keeps_spark_daemon(monkeypatch):
    captured = {}

    class _Context:
        def setLogLevel(self, level):
            pass

    class _Session:
        sparkContext = _Context()

    def get_or_create(builder):
        captured.update(builder._options)
        return _Session()

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    get_spark(master="spark://cluster:7077", app_name="remote")
    assert captured["spark.master"] == "spark://cluster:7077"
    assert "spark.python.daemon.module" not in captured
    assert "spark.executorEnv.PYTHONPATH" not in captured

    captured.clear()
    get_spark(master="local[2]", app_name="local")
    assert captured["spark.python.daemon.module"] == "fever_spark._pydaemon"
    root = captured["spark.executorEnv.PYTHONPATH"]
    assert importlib.util.find_spec("fever_spark._pydaemon").origin.startswith(root)
