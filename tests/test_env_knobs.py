"""The package reads only deployment settings from the environment.

Measured-and-rejected operator variants are deleted, not kept behind
``SPARK_GRAFT_*`` switches; their A/Bs live in git history and
``measurements/``. Adding an env read to the package means editing the
expected set below.
"""

from __future__ import annotations

import pathlib
import re

import project_graphdb_spark

#: cores, driver heap, data directory, calibration-anchor directory
DEPLOYMENT_KNOBS = {"CPUS", "DRIVER_MEM", "SF_DIR", "CALIB_DIR"}


def test_package_env_knobs_are_deployment_settings_only():
    root = pathlib.Path(project_graphdb_spark.__file__).parent
    found = {
        m.group(1)
        for path in root.rglob("*.py")
        for m in re.finditer(r"SPARK_GRAFT_([A-Z_]+)", path.read_text())
    }
    assert found == DEPLOYMENT_KNOBS, sorted(found ^ DEPLOYMENT_KNOBS)
