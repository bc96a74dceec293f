"""The package reads only deployment settings from the environment.

Measured-and-rejected operator variants are deleted, not kept behind
``SPARK_GRAFT_*`` switches; their A/Bs live in git history and
``measurements/``. Adding an env read to the package means editing the
expected set below.
"""

from __future__ import annotations

import pathlib
import re

import pytest

import project_graphdb_spark
from project_graphdb_spark.session import local_cpus

#: cores, driver heap, data directory, calibration-anchor directory
DEPLOYMENT_KNOBS = {"CPUS", "DRIVER_MEM", "SF_DIR", "CALIB_DIR"}
#: cores, data directory, bench.py's detail sidecar path
HARNESS_KNOBS = {"CPUS", "SF_DIR", "BENCH_DETAIL"}


def _knobs(paths) -> set[str]:
    return {
        m.group(1)
        for path in paths
        for m in re.finditer(r"SPARK_GRAFT_([A-Z_]+)", path.read_text())
    }


def test_package_env_knobs_are_deployment_settings_only():
    root = pathlib.Path(project_graphdb_spark.__file__).parent
    found = _knobs(root.rglob("*.py"))
    assert found == DEPLOYMENT_KNOBS, sorted(found ^ DEPLOYMENT_KNOBS)


def test_harness_env_knobs_are_deployment_settings_only():
    """The timing harnesses take their query subsets and pass counts as
    arguments or constants, not as environment switches."""
    repo = pathlib.Path(project_graphdb_spark.__file__).parent.parent
    found = _knobs([repo / "bench.py", *(repo / "tools").glob("*.py")])
    assert found == HARNESS_KNOBS, sorted(found ^ HARNESS_KNOBS)


def test_cpus_knob_is_a_positive_integer(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == 32
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert local_cpus() == 4
    for raw in ("abc", "0"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            local_cpus()
