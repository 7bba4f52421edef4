"""Central loader: the ONLY supported way to read the fixture tables.

Handles the ns-timestamp ingestion (FIXTURES.md gotcha 1) once, asserts
schemas against the footer, and registers every table as a temp view so
the SQL entry point (`spark.sql`) sees the same canonical tables as the
DataFrame API.

100 TB posture: this module is a thin veneer over `spark.read.parquet`
(vectorized reader, predicate pushdown, column pruning all intact). The
ns->us conversion is a single projected expression — it does not
materialize anything and stays inside whole-stage codegen.
"""

from __future__ import annotations

import os
import weakref
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, LongType

from base_etl_spark import schemas

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: runtime-settable SQL confs the loader depends on; applied defensively
#: so a session built elsewhere (e.g. the driver's harness) works too.
REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",  # events.ts hard-fails otherwise
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",  # one timestamp type
    "spark.sql.session.timeZone": "UTC",  # oracle parity
}


def ensure_confs(spark: SparkSession) -> None:
    for k, v in REQUIRED_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, asserted + canonicalized.

    events.ts has shipped in two fixture generations: INT64
    TIMESTAMP(NANOS) — LongType nanoseconds under nanosAsLong, converted
    here with integer `div` (not `/`: float division of ~1.7e18 ns loses
    precision beyond 2^53) — and TIMESTAMP(MICROS), which Spark reads
    natively as TimestampType and needs no conversion. Both layouts pass
    the drift gate (schemas.ALT_RAW_SCHEMAS) and canonicalize to the same
    TimestampType column.
    """
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    schemas.assert_schema(name, df.schema)
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


@dataclass
class Tables:
    """All ten canonical tables for one scale-factor directory.

    Attribute access (`t.lineitem`) returns the DataFrame; every table is
    also registered as a temp view, so `t.spark.sql("... from lineitem")`
    works identically.
    """

    spark: SparkSession
    sf_dir: str
    _dfs: dict[str, DataFrame] = field(default_factory=dict)

    def __post_init__(self) -> None:
        ensure_confs(self.spark)
        for name in schemas.TABLE_NAMES:
            df = read_table(self.spark, self.sf_dir, name)
            self._dfs[name] = df
            df.createOrReplaceTempView(name)

    def __getattr__(self, name: str) -> DataFrame:
        try:
            return self._dfs[name]
        except KeyError:
            raise AttributeError(name) from None

    def __getitem__(self, name: str) -> DataFrame:
        return self._dfs[name]


# Weak keys: a garbage-collected session's entries vanish with it, so a
# new session that happens to reuse the old object's id can never receive
# stale Tables (DataFrames bound to a stopped session).
_CACHE: weakref.WeakKeyDictionary[SparkSession, dict[str, Tables]] = (
    weakref.WeakKeyDictionary()
)


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> Tables:
    """Load (memoized per session+dir) all tables and register views.

    Temp views are session-global and last-writer-wins: loading a second
    sf_dir repoints the views, which is why every call re-registers its
    own directory's views before returning. Hold the returned Tables and
    use attribute access for multi-dir work; `spark.sql` always sees the
    most recently loaded directory.
    """
    sf_dir = os.path.abspath(sf_dir or DEFAULT_SF_DIR)
    per_session = _CACHE.setdefault(spark, {})
    if sf_dir not in per_session:
        per_session[sf_dir] = Tables(spark, sf_dir)
    else:
        # re-register views in case another sf_dir overwrote them
        for name in schemas.TABLE_NAMES:
            per_session[sf_dir]._dfs[name].createOrReplaceTempView(name)
    return per_session[sf_dir]


def events_between(spark: SparkSession, sf_dir: str, start_us: int, end_us: int) -> DataFrame:
    """Event-time range scan with parquet pushdown intact.

    The canonical loader converts ts ns->us with an expression, which
    hides ts from parquet predicate pushdown — filtering the converted
    column scans every row group. This helper pushes the equivalent
    RAW-nanosecond bounds below the conversion so the reader skips row
    groups by min/max stats: the difference between scanning a day and
    scanning a year at 100 TB.

    Bounds are microseconds since epoch, [start_us, end_us).

    With the us-timestamp fixture layout the native TimestampType column
    is already pushdown-friendly, so the bounds become timestamp literals
    and no conversion is needed at all.
    """
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if isinstance(raw.schema["ts"].dataType, LongType):
        pushed = raw.filter(
            (F.col("ts") >= F.lit(start_us * 1000)) & (F.col("ts") < F.lit(end_us * 1000))
        )
        return pushed.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.filter(
        (F.col("ts") >= F.timestamp_micros(F.lit(start_us)))
        & (F.col("ts") < F.timestamp_micros(F.lit(end_us)))
    )


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A frame over rows the driver already holds (tuples in the field
    order of the DDL `schema`), built as an Arrow table so it plans as a
    one-task `LocalTableScan`. A Python list passed to `createDataFrame`
    plans as `Scan ExistingRDD` instead: one task per default partition,
    each in a Python worker. An empty `rows` keeps the schema.

    Timestamp columns are out of scope: Arrow reads a naive datetime as
    UTC where Spark's row path reads it as JVM-local time. Pass epoch
    micros as `bigint` and rebuild with `F.timestamp_micros`."""
    struct = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    table = pa.Table.from_pylist(
        [dict(zip(arrow_schema.names, r)) for r in rows], schema=arrow_schema
    )
    return spark.createDataFrame(table, struct)
