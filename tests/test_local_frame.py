"""io.local_frame: driver-held rows as a local relation."""

from __future__ import annotations

import inspect
import pathlib

from base_etl_spark.io import local_frame

_SCHEMA = "i int, l bigint, d double, s string, b boolean, a array<double>"
_ROWS = [
    (1, 2**40, 1.5, "x", True, [1.0, None, -2.5]),
    (None, None, None, None, None, None),
    (-3, -1, 0.1, "", False, []),
]


def test_local_frame_plans_as_local_table_scan(spark):
    df = local_frame(spark, _ROWS, _SCHEMA)
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


def test_local_frame_matches_create_data_frame(spark):
    df = local_frame(spark, _ROWS, _SCHEMA)
    ref = spark.createDataFrame(_ROWS, _SCHEMA)
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()


def test_local_frame_empty_keeps_schema(spark):
    df = local_frame(spark, [], _SCHEMA)
    assert df.schema == spark.createDataFrame([], _SCHEMA).schema
    assert df.collect() == []


def test_package_builds_driver_frames_only_through_local_frame():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "base_etl_spark"
    hits = [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        for line in p.read_text().splitlines()
        if "createDataFrame(" in line
    ]
    assert hits == ["io.py"]
    assert "createDataFrame(" in inspect.getsource(local_frame)
