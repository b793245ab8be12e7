"""The package reads a fixed set of ``SPARK_GRAFT_*`` environment
variables (deployment settings plus the benchmark's profiling switch),
and ``LinkConfig`` has a fixed set of fields. Each stage of ``link`` has
one plan, so a new tuning switch or knob must change these lists on
purpose."""

from __future__ import annotations

import dataclasses
import pathlib
import re

from mix_blink_spark.plans.pipeline import LinkConfig

ALLOWED = {"CPUS", "DRIVER_MEM", "WAREHOUSE", "PARQUET_CODEC", "PROFILE_PAIRGEN"}


def test_env_switches_are_allowlisted():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "mix_blink_spark"
    found = set()
    for py in pkg.rglob("*.py"):
        found |= set(re.findall(r"SPARK_GRAFT_(\w+)", py.read_text()))
    assert found == ALLOWED


def test_link_config_fields_are_pinned():
    assert [f.name for f in dataclasses.fields(LinkConfig)] == [
        "measure",
        "dense_weight",
        "tau_mm",
        "tau_ent",
        "max_block_size",
        "neighborhood",
        "encoder",
        "broadcast_spans",
        "me_max_block_size",
        "broadcast_dense_limit",
        "alias_store",
        "driver_pairs_limit",
    ]
