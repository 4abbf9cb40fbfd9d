"""Every name a fever_spark subpackage lists in ``__all__`` resolves, so
``from fever_spark.<pkg> import *`` works. Imports only: no Spark session."""

import importlib
import pkgutil

import pytest

import fever_spark

SUBPACKAGES = sorted(m.name for m in pkgutil.iter_modules(fever_spark.__path__)
                     if m.ispkg)


def test_subpackages_found():
    assert {"jobs", "operators", "ops", "sketch", "sources",
            "streaming"} <= set(SUBPACKAGES)


@pytest.mark.parametrize("name", SUBPACKAGES)
def test_star_import_resolves(name):
    pkg = importlib.import_module(f"fever_spark.{name}")
    exported = getattr(pkg, "__all__", [])
    missing = [n for n in exported if not hasattr(pkg, n)]
    assert not missing, f"fever_spark.{name}.__all__ names missing: {missing}"


def test_job_module_names_bind_modules():
    """``import fever_spark.jobs.<job> as m`` binds the job's module: the
    package exports no function under the name of its own module."""
    import types

    import fever_spark.jobs.curate as curate_mod
    import fever_spark.jobs.ingest as ingest_mod

    assert isinstance(curate_mod, types.ModuleType)
    assert isinstance(ingest_mod, types.ModuleType)


def test_sketch_and_files_import_no_spark():
    """The sketch kernels and the atomic file writer they save through
    stay Spark-free: Python workers and the driver-side CLIs (bloomctl,
    sketchctl) import them without pyspark."""
    import os
    import subprocess
    import sys

    code = ("import sys, fever_spark.sketch, fever_spark.files; "
            "print('pyspark' in sys.modules)")
    root = os.path.dirname(os.path.dirname(fever_spark.__file__))
    out = subprocess.run([sys.executable, "-c", code], cwd=root,
                         capture_output=True, text=True,
                         check=True).stdout.strip()
    assert out == "False"
