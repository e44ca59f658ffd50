"""The package reads exactly two ``SPARK_GRAFT_*`` environment
variables, both configuration: the core count and the driver memory.
The data directory is an argument of every query; ``bench.py`` and
the tools read their own. A new flag, or an A/B lever, fails here."""

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
    assert names == {"CPUS", "DRIVER_MEM"}
