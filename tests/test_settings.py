"""The package reads a fixed set of ``SPARK_GRAFT_*`` environment
variables: deployment settings plus the benchmark's profiling switch.
Each stage of ``link`` has one plan, so a new tuning switch must change
this allowlist on purpose."""

from __future__ import annotations

import pathlib
import re

ALLOWED = {"CPUS", "DRIVER_MEM", "WAREHOUSE", "PARQUET_CODEC", "PROFILE_PAIRGEN"}


def test_env_switches_are_allowlisted():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "mix_blink_spark"
    found = set()
    for py in pkg.rglob("*.py"):
        found |= set(re.findall(r"SPARK_GRAFT_(\w+)", py.read_text()))
    assert found == ALLOWED
