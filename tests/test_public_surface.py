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
