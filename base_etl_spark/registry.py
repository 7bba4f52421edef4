"""Query registry: one decorator keeps each Spark query and its DuckDB
oracle SQL side-by-side, so a key can never exist on one side only
(SURVEY §3 E2).

Usage::

    @query("agg_pricing", oracle="SELECT ... FROM lineitem ...")
    def agg_pricing(t: Tables) -> DataFrame:
        return t.lineitem...

Keys with ``oracle=None`` are rows-only checks (SURVEY §2 'R' rows).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from base_etl_spark.driver_order import DRIVER_PRIORITY
from base_etl_spark.io import Tables, load_tables

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    key: str
    fn: QueryFn  # (spark, sf_dir) -> DataFrame
    oracle: str | None  # DuckDB SQL, or None for rows-only keys
    doc: str


REGISTRY: dict[str, QuerySpec] = {}


def query(key: str, oracle: str | None = None) -> Callable:
    """Register a (Tables -> DataFrame) function under ``key``."""

    def deco(fn: Callable[[Tables], DataFrame]) -> QueryFn:
        if key in REGISTRY:
            raise ValueError(f"duplicate query key: {key}")

        def runner(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(load_tables(spark, sf_dir))

        runner.__name__ = fn.__name__
        runner.__doc__ = fn.__doc__
        # raw (Tables -> DataFrame) body, so tests can drive the same
        # code path over hand-built edge-case frames (SURVEY §5.4)
        runner.tables_fn = fn
        REGISTRY[key] = QuerySpec(key, runner, oracle, fn.__doc__ or "")
        return runner

    return deco


def _ensure_loaded() -> None:
    # importing the package registers every operator module's queries
    import base_etl_spark.operators  # noqa: F401


# The driver's correctness harness evaluates only the FIRST 50 keys of
# queries() iteration order. Registration order follows module import
# order, an accident of file naming, so the externally visible order is
# pinned by DRIVER_PRIORITY (written by tools/driver_order.py from the
# committed driver rows). Listed keys come first, in list order; every
# other key follows in registration order.
def _ordered() -> list[str]:
    listed = [k for k in DRIVER_PRIORITY if k in REGISTRY]
    rest = [k for k in REGISTRY if k not in DRIVER_PRIORITY]
    return listed + rest


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {k: REGISTRY[k].fn for k in _ordered()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {
        k: REGISTRY[k].oracle for k in _ordered() if REGISTRY[k].oracle is not None
    }
