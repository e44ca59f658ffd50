"""The package reads exactly three ``SPARK_GRAFT_*`` environment
variables, all configuration: the core count, the driver memory and the
default data directory. A new flag, or an A/B lever, fails here."""

from __future__ import annotations

import re
from pathlib import Path

import end_to_end_aws_data_pipeline_spark as pkg


def test_package_env_flags_are_configuration_only():
    root = Path(pkg.__file__).parent
    names = {
        m
        for p in root.rglob("*.py")
        for m in re.findall(r"SPARK_GRAFT_([A-Z_]+)", p.read_text())
    }
    assert names == {"CPUS", "DRIVER_MEM", "SF_DIR"}
