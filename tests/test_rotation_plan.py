"""The driver hash-verifies only the first 50 keys of queries() order.
That prefix, base_etl_spark/driver_order.py, is generated by
tools/driver_order.py from the committed CORRECTNESS_r*.json rows."""

from __future__ import annotations

import os
import sys

from base_etl_spark import queries
from base_etl_spark.driver_order import DRIVER_PRIORITY

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))
import driver_order  # noqa: E402

sys.path.pop(0)
ALL_KEYS = set(queries())


def test_driver_priority_matches_recomputation():
    assert DRIVER_PRIORITY == driver_order.compute(), "run tools/driver_order.py"


def test_window_leads_with_driver_priority():
    assert list(queries())[: len(DRIVER_PRIORITY)] == DRIVER_PRIORITY


def test_recheck_keys_are_registered_rechecks():
    rows = set().union(*driver_order.load_rounds().values())
    assert not set(driver_order.RECHECK) - ALL_KEYS
    assert not set(driver_order.RECHECK) - rows


def test_ordering_rule_on_synthetic_rounds():
    rounds = {1: ["a", "b", "c"], 2: ["d", "a"], 3: ["e", "b"]}
    keys = ["b", "new2", "a", "c", "e", "d", "new1"]
    # recheck, never-checked in key order, then by (latest round, position)
    assert driver_order.driver_order(rounds, keys, recheck=["e"]) == [
        "e", "new2", "new1", "c", "d", "a", "b",
    ]


def test_survey_family_tables_enumerate_registry():
    """r7 VERDICT task 6: SURVEY §2's FAMILY tables (§2.1-2.11) are the
    binding inventory — they must enumerate every registry key exactly,
    without needing the per-round status appendices. Non-registry rows
    allowed: S (surface, pytest-verified) and documented-n/a rows."""
    import re

    lines = open(os.path.join(_REPO, "SURVEY.md")).read().split("\n")
    start = next(i for i, l in enumerate(lines) if l.startswith("### 2.1 "))
    end = next(i for i, l in enumerate(lines) if l.startswith("### 2.12 "))
    fam, st = {}, None
    for line in lines[start:end]:
        m = re.match(r"\|\s*([a-z0-9_]+)\s*\|\s*([^|]+)\|", line)
        if m and m.group(1) != "key":
            fam[m.group(1)] = m.group(2).strip()
    missing = sorted(ALL_KEYS - set(fam))
    assert not missing, f"registry keys absent from SURVEY family tables: {missing}"
    extra = {
        k: v for k, v in fam.items()
        if k not in ALL_KEYS and not (v.startswith("S") or v.startswith("n/a"))
    }
    assert not extra, f"family-table rows naming unknown non-S keys: {extra}"
