"""Daily-ETL job layer — the reference system's core use case
(BASELINE.json: 'Daily ETL system for data pipelines', 'DataFrame batch
transformations + JDBC/Parquet sinks'; reference checkout unavailable,
SURVEY.md §0).

A job is extract (central loader) -> transform (registry-grade DataFrame
expressions) -> load (partitioned parquet and/or JDBC). Jobs are plain
functions so a scheduler (cron/airflow) calls them with a logical date;
idempotency comes from overwrite-by-partition and upsert_parquet.
"""

from __future__ import annotations

import datetime as dt
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from base_etl_spark.functions import money
from base_etl_spark.io import Tables, load_tables
from base_etl_spark.registry import query
from base_etl_spark import sinks


def daily_order_summary(
    spark: SparkSession, sf_dir: str, day: dt.date
) -> DataFrame:
    """One day's order rollup: the canonical incremental-batch transform.
    The o_orderdate predicate prunes at the scan (and, on a
    date-partitioned lake copy, prunes whole partitions)."""
    t = load_tables(spark, sf_dir)
    d0 = F.lit(day.isoformat()).cast("timestamp")
    d1 = F.lit((day + dt.timedelta(days=1)).isoformat()).cast("timestamp")
    orders = t.orders.filter((F.col("o_orderdate") >= d0) & (F.col("o_orderdate") < d1))
    return (
        orders.join(t.lineitem, orders.o_orderkey == t.lineitem.l_orderkey, "left")
        .groupBy("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus")
        .agg(
            F.count("l_linenumber").alias("n_lines"),
            F.round(
                F.coalesce(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), F.lit(0.0)),
                2,
            ).alias("revenue"),
        )
    )


def run_daily_job(
    spark: SparkSession,
    sf_dir: str,
    day: dt.date,
    out_path: str,
    jdbc_url: str | None = None,
    jdbc_table: str = "daily_order_summary",
    jdbc_properties: dict[str, str] | None = None,
) -> int:
    """Extract -> transform -> load for one logical date. Parquet is
    partitioned by order date (idempotent overwrite of that partition via
    dynamic partition overwrite); when a JDBC URL is given the same rows
    are LOADED into the database (executed, not just planned — tested
    against embedded Derby). The JDBC leg is replay-idempotent too:
    the logical date's rows are deleted before the append, so re-running
    a backfill date never double-inserts (delete+append ~= partition
    overwrite for databases). Returns the row count written. The dynamic
    mode is a per-write option, so the session's own
    partitionOverwriteMode is left as it was."""
    out = daily_order_summary(spark, sf_dir, day).withColumn(
        "ds", F.date_format("o_orderdate", "yyyy-MM-dd")
    )
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ds")
        .parquet(out_path)
    )
    if jdbc_url:
        # ANSI-quoted column (Spark's JDBC writer creates case-sensitive
        # lowercase identifiers) + VARCHAR cast (Derby maps StringType to
        # CLOB, which cannot compare to a literal without it)
        sinks.jdbc_delete_where(
            spark, jdbc_url, jdbc_table,
            f"CAST(\"ds\" AS VARCHAR(10)) = '{day.isoformat()}'",
            properties=jdbc_properties,
        )
        sinks.build_jdbc_writer(
            out, jdbc_url, jdbc_table, properties=jdbc_properties
        ).save()
    return out.count()


def run_range(
    spark: SparkSession,
    sf_dir: str,
    dates: list[dt.date],
    out_path: str,
    run_log_path: str | None = None,
    jdbc_url: str | None = None,
    jdbc_properties: dict[str, str] | None = None,
) -> list[dict]:
    """Backfill driver: run the daily job for each logical date, recording
    every run in an append-only parquet run log.

    Idempotency: re-running any date overwrites exactly that date's
    parquet partition (dynamic partition overwrite in run_daily_job) and
    delete+appends the same date in the JDBC sink, so a backfill can be
    replayed safely on both legs; the run log is append-only history —
    a scheduler queries `latest status per (job, ds)` from it (see
    read_run_log) exactly like an Airflow task-instance table. Failures
    are logged with status='failed' and do not abort the remaining dates
    (standard backfill semantics: collect stragglers, re-run them)."""
    results = []
    for day in dates:
        ds = day.isoformat()
        started = dt.datetime.now(dt.timezone.utc)
        t0 = time.monotonic()
        try:
            rows = run_daily_job(
                spark, sf_dir, day, out_path,
                jdbc_url=jdbc_url, jdbc_properties=jdbc_properties,
            )
            status, err = "success", None
        except Exception as e:  # noqa: BLE001 — backfills record, not raise
            rows, status, err = -1, "failed", str(e)[:500]
        rec = {
            "job": "daily_order_summary",
            "ds": ds,
            "status": status,
            "rows": rows,
            "duration_sec": round(time.monotonic() - t0, 3),
            "started_at": started.isoformat(),
            "error": err,
        }
        results.append(rec)
        if run_log_path:
            spark.createDataFrame([rec], schema=_RUN_LOG_SCHEMA).write.mode(
                "append"
            ).parquet(run_log_path)
    return results


_RUN_LOG_SCHEMA = (
    "job string, ds string, status string, rows long, "
    "duration_sec double, started_at string, error string"
)


def read_run_log(spark: SparkSession, run_log_path: str) -> DataFrame:
    """Latest status per (job, ds) from the append-only run log — the
    scheduler's 'which dates are done / need re-run' view."""
    log = spark.read.parquet(run_log_path)
    w = Window.partitionBy("job", "ds").orderBy(F.desc("started_at"))
    return log.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    effective_date: str,
    tracked: list[str],
) -> DataFrame:
    """Slowly-changing-dimension type 2: close the current version of each
    updated key and open a new one.

    dim: current snapshot (one row per key). updates: new attribute values
    (one row per changed key, same columns). Output adds valid_from /
    valid_to / is_current. The daily-ETL dim-load staple: at scale this is
    two hash joins keyed on the dimension key (changed keys are typically
    a tiny fraction -> AQE broadcasts the update side) plus a union — no
    windows, no shuffles beyond the join key.
    """
    hi = F.lit("9999-12-31").cast("timestamp")
    lo = F.lit("1900-01-01").cast("timestamp")
    eff = F.lit(effective_date).cast("timestamp")
    cols = [key, *tracked]
    changed_keys = updates.select(key)
    unchanged = dim.join(changed_keys, key, "left_anti").select(
        *cols,
        lo.alias("valid_from"),
        hi.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closed = dim.join(changed_keys, key, "left_semi").select(
        *cols,
        lo.alias("valid_from"),
        eff.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = updates.select(
        *cols,
        eff.alias("valid_from"),
        hi.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return unchanged.unionByName(closed).unionByName(opened)


@query(
    "etl_scd2",
    oracle="""
    WITH updates AS (
        SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2) AS c_acctbal,
               c_mktsegment
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    )
    SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, c_mktsegment,
           '1900-01-01' AS valid_from,
           '9999-12-31' AS valid_to,
           TRUE AS is_current
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = customer.c_custkey)
    UNION ALL
    SELECT c_custkey, c_name, round(c_acctbal, 2), c_mktsegment,
           '1900-01-01',
           '1998-01-01',
           FALSE
    FROM customer
    WHERE EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = customer.c_custkey)
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
           '1998-01-01',
           '9999-12-31',
           TRUE
    FROM updates
    """,
)
def etl_scd2(t: Tables) -> DataFrame:
    """SCD2 dim load over customer: customers with >=1 urgent order get a
    simulated acctbal change effective 1998-01-01; their current version
    closes and a new one opens, everyone else stays current. acctbal is
    rounded on both sides (global double rule).

    valid_from/valid_to are emitted as yyyy-MM-dd STRINGS, not timestamps:
    the SCD2 open-ended sentinel 9999-12-31 overflows pandas ns-datetime64
    (max 2262-04-11), which crashed the round-2 driver harness before any
    comparison. scd2_apply itself keeps real timestamps for range lookups;
    only this reporting surface stringifies."""
    dim = t.customer.select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"), "c_mktsegment"
    )
    urgent = t.orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    updates = (
        t.customer.join(urgent, t.customer.c_custkey == urgent.o_custkey, "left_semi")
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
            "c_mktsegment",
        )
    )
    return scd2_apply(
        dim, updates, "c_custkey", "1998-01-01",
        ["c_name", "c_acctbal", "c_mktsegment"],
    ).withColumn("valid_from", F.date_format("valid_from", "yyyy-MM-dd")).withColumn(
        "valid_to", F.date_format("valid_to", "yyyy-MM-dd")
    )


@query(
    "etl_upsert_merge",
    oracle="""
    WITH updates AS (
        SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2) AS c_acctbal,
               c_mktsegment
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    )
    SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, c_mktsegment,
           FALSE AS was_updated
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = customer.c_custkey)
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment, TRUE
    FROM updates
    """,
)
def etl_upsert_merge(t: Tables) -> DataFrame:
    """SCD1 upsert (MERGE semantics): updates overwrite matching keys in
    place, everyone else passes through — the other half of the dim-load
    story next to etl_scd2's history-keeping SCD2. Same anti-join + union
    shape as upsert_parquet, held to a driver oracle.

    At scale: one hash anti-join keyed on the dimension key (the changed
    set is small -> AQE broadcasts it) + a union — identical plan to what
    Delta/Iceberg MERGE INTO compiles to for non-matched-by-source
    passthrough."""
    dim = t.customer.select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"), "c_mktsegment"
    )
    urgent = t.orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    updates = (
        t.customer.join(urgent, t.customer.c_custkey == urgent.o_custkey, "left_semi")
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
            "c_mktsegment",
        )
    )
    kept = dim.join(updates.select("c_custkey"), "c_custkey", "left_anti").withColumn(
        "was_updated", F.lit(False)
    )
    return kept.unionByName(updates.withColumn("was_updated", F.lit(True)))


def upsert_parquet(
    spark: SparkSession, existing_path: str, updates: DataFrame, key: str
) -> DataFrame:
    """MERGE-style upsert without a table format: keep existing rows whose
    key is absent from `updates`, union the updates (anti-join + union —
    the v1 emulation; a lakehouse deployment swaps this for Delta/Iceberg
    MERGE INTO with the same semantics)."""
    existing = spark.read.parquet(existing_path)
    kept = existing.join(updates.select(key), key, "left_anti")
    return kept.unionByName(updates)


@query(
    "etl_dq_checks",
    oracle="""
    SELECT 'lineitem_rows' AS check_name,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_bad
    UNION ALL
    SELECT 'orders_orphan_custkey',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders_null_key',
           CAST((SELECT count(*) FROM orders WHERE o_orderkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'orders_dup_pk',
           CAST((SELECT count(*) FROM (SELECT o_orderkey FROM orders
                 GROUP BY o_orderkey HAVING count(*) > 1)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT)
    UNION ALL
    SELECT 'customer_null_name',
           CAST((SELECT count(*) FROM customer WHERE c_name IS NULL) AS BIGINT)
    """,
)
def etl_dq_checks(t: Tables) -> DataFrame:
    """Data-quality gate for the daily load: referential integrity
    (orphan foreign keys via anti joins), primary-key uniqueness,
    null/range violations — one (check_name, n_bad) row per check, plus
    a row-count control row proving the counting plumbing.

    The shape a production ETL runs between transform and load: every
    check is an independent aggregate (they scan different tables, so
    there is nothing to fuse) and Spark schedules them as parallel
    stages; each anti join broadcasts the smaller key side. A nonzero
    n_bad (other than the control row) fails the run before the sink."""
    def row(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("n_bad")).select(
            F.lit(name).alias("check_name"), "n_bad"
        )

    checks = [
        row("lineitem_rows", t.lineitem),
        row(
            "orders_orphan_custkey",
            t.orders.join(
                t.customer, t.orders.o_custkey == t.customer.c_custkey, "left_anti"
            ),
        ),
        row(
            "lineitem_orphan_orderkey",
            t.lineitem.join(
                t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey, "left_anti"
            ),
        ),
        row("orders_null_key", t.orders.filter(F.col("o_orderkey").isNull())),
        row(
            "orders_dup_pk",
            t.orders.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1),
        ),
        row(
            "lineitem_qty_range",
            t.lineitem.filter((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)),
        ),
        row("customer_null_name", t.customer.filter(F.col("c_name").isNull())),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


@query(
    "etl_cohort_retention",
    oracle="""
    WITH first_order AS (
        SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cohort
        FROM orders GROUP BY o_custkey
    ),
    activity AS (
        SELECT DISTINCT o_custkey, date_trunc('month', o_orderdate) AS m
        FROM orders
    )
    SELECT f.cohort,
           CAST(date_diff('month', f.cohort, a.m) AS BIGINT) AS month_offset,
           CAST(count(*) AS BIGINT)                          AS n_customers
    FROM activity a JOIN first_order f ON a.o_custkey = f.o_custkey
    GROUP BY f.cohort, date_diff('month', f.cohort, a.m)
    """,
)
def etl_cohort_retention(t: Tables) -> DataFrame:
    """Cohort retention matrix: customers grouped by first-order month,
    counted in each subsequent month they ordered again (offset 0 = the
    cohort month itself). The standard growth-analytics rollup.

    Two shuffles, both on o_custkey (first-order agg + distinct), then
    one hash agg on the tiny (cohort, offset) key — at 100 TB the
    customer-keyed aggregates dominate and co-partition, and the final
    matrix is thousands of rows regardless of input size. months_between
    on month-truncated dates is integral, so the offset is exact on both
    engines."""
    first_order = t.orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    activity = t.orders.select(
        "o_custkey", F.date_trunc("month", "o_orderdate").alias("m")
    ).distinct()
    return (
        activity.join(first_order, "o_custkey")
        .groupBy(
            "cohort",
            F.months_between("m", "cohort").cast("long").alias("month_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


@query(
    "etl_snapshot_diff",
    oracle="""
    WITH today AS (
        SELECT c_custkey, c_name,
               round(CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 50.0
                          ELSE c_acctbal END, 2) AS c_acctbal,
               c_mktsegment
        FROM customer
        WHERE c_custkey % 11 <> 0
    ),
    yesterday AS (
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal,
               c_mktsegment
        FROM customer
        WHERE c_custkey % 13 <> 0
    )
    SELECT CASE WHEN y.c_custkey IS NULL THEN 'added'
                WHEN t.c_custkey IS NULL THEN 'removed'
                WHEN t.c_acctbal IS DISTINCT FROM y.c_acctbal
                  OR t.c_name IS DISTINCT FROM y.c_name
                  OR t.c_mktsegment IS DISTINCT FROM y.c_mktsegment
                     THEN 'changed'
                ELSE 'unchanged' END           AS change_type,
           count(*)                            AS n_rows
    FROM today t FULL JOIN yesterday y USING (c_custkey)
    GROUP BY 1
    """,
)
def etl_snapshot_diff(t: Tables) -> DataFrame:
    """Snapshot diff (data-diff / CDC reconciliation): classify every key
    across two dimension snapshots as added / removed / changed /
    unchanged — the audit step between consecutive daily loads, and the
    validation tool when migrating a pipeline (old engine vs new engine
    outputs). Snapshots are derived deterministically from customer
    (yesterday drops keys %13, today drops %11 and perturbs %7 balances)
    so the diff exercises all four classes.

    At scale: ONE full outer hash join on the key plus a tiny class agg —
    the join co-partitions both snapshots; null-safe comparison
    (eqNullSafe / IS DISTINCT FROM) makes 'changed' correct under NULL
    attributes. No window, no collect."""
    base = t.customer.select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"), "c_mktsegment"
    )
    today = base.filter(F.col("c_custkey") % 11 != 0).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 7 == 0, F.round(F.col("c_acctbal") + 50.0, 2)
        ).otherwise(F.col("c_acctbal")),
    )
    yesterday = base.filter(F.col("c_custkey") % 13 != 0)
    tt = today.select(
        F.col("c_custkey").alias("k"),
        *[F.col(c).alias(f"t_{c}") for c in ("c_name", "c_acctbal", "c_mktsegment")],
    )
    yy = yesterday.select(
        F.col("c_custkey").alias("k"),
        *[F.col(c).alias(f"y_{c}") for c in ("c_name", "c_acctbal", "c_mktsegment")],
    )
    changed = (
        ~F.col("t_c_acctbal").eqNullSafe(F.col("y_c_acctbal"))
        | ~F.col("t_c_name").eqNullSafe(F.col("y_c_name"))
        | ~F.col("t_c_mktsegment").eqNullSafe(F.col("y_c_mktsegment"))
    )
    # presence markers: attribute nulls can't prove a side absent after
    # the outer join (a real row may have NULL attributes)
    j = tt.withColumn("_t", F.lit(1)).join(
        yy.withColumn("_y", F.lit(1)), "k", "full_outer"
    )
    cls = (
        F.when(F.col("_y").isNull(), "added")
        .when(F.col("_t").isNull(), "removed")
        .when(changed, "changed")
        .otherwise("unchanged")
    )
    return j.groupBy(cls.alias("change_type")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@query(
    "join_point_in_time",
    oracle="""
    WITH updates AS (
        SELECT c_custkey, round(c_acctbal + 100.0, 2) AS c_acctbal
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    ),
    dim AS (
        SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal,
               TIMESTAMP '1900-01-01' AS valid_from,
               TIMESTAMP '9999-12-31' AS valid_to, TRUE AS is_current
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM updates u
                          WHERE u.c_custkey = customer.c_custkey)
        UNION ALL
        SELECT c_custkey, round(c_acctbal, 2),
               TIMESTAMP '1900-01-01', TIMESTAMP '1998-01-01', FALSE
        FROM customer
        WHERE EXISTS (SELECT 1 FROM updates u
                      WHERE u.c_custkey = customer.c_custkey)
        UNION ALL
        SELECT c_custkey, c_acctbal,
               TIMESTAMP '1998-01-01', TIMESTAMP '9999-12-31', TRUE
        FROM updates
    )
    SELECT o_orderkey, o_custkey, d.c_acctbal AS acctbal_at_order,
           d.is_current AS version_is_current
    FROM orders
    JOIN dim d ON o_custkey = d.c_custkey
              AND o_orderdate >= d.valid_from
              AND o_orderdate <  d.valid_to
    """,
)
def join_point_in_time(t: Tables) -> DataFrame:
    """Point-in-time (PIT) join: each order picks the SCD2 dimension
    version that was valid AT its order date — the lookup that makes
    versioned dimensions useful, and the batch twin of a feature-store
    PIT lookup (training-data correctness depends on it: joining the
    CURRENT version leaks future attribute values into past facts).

    Spark side reuses scd2_apply (real timestamps internally; the
    9999-12-31 sentinel never reaches the output, so the driver's pandas
    conversion is safe). The join is an equi join on the dimension key
    with the validity range as a residual predicate — per key there are
    at most a handful of versions, so the residual filters a few rows per
    match and NO range/nested-loop join appears. Orders before and after
    the 1998-01-01 effective date exercise both versions."""
    dim = t.customer.select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"), "c_mktsegment"
    )
    urgent = t.orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    updates = t.customer.join(
        urgent, t.customer.c_custkey == urgent.o_custkey, "left_semi"
    ).select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
        "c_mktsegment",
    )
    scd2 = scd2_apply(
        dim, updates, "c_custkey", "1998-01-01", ["c_name", "c_acctbal", "c_mktsegment"]
    )
    o = t.orders.select("o_orderkey", "o_custkey", "o_orderdate")
    return o.join(
        scd2,
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("o_orderdate") >= F.col("valid_from"))
        & (F.col("o_orderdate") < F.col("valid_to")),
    ).select(
        "o_orderkey",
        "o_custkey",
        F.col("c_acctbal").alias("acctbal_at_order"),
        F.col("is_current").alias("version_is_current"),
    )


@query(
    "etl_surrogate_keys",
    oracle="""
    WITH sk AS (
        SELECT c_custkey,
               md5(c_name || '|' || CAST(c_nationkey AS VARCHAR)
                   || '|' || c_mktsegment) AS surrogate_key
        FROM customer
    )
    SELECT count(*) AS n_rows,
           count(DISTINCT surrogate_key) AS n_distinct_keys,
           min(surrogate_key) AS min_key, max(surrogate_key) AS max_key
    FROM sk
    """,
)
def etl_surrogate_keys(t: Tables) -> DataFrame:
    """Deterministic surrogate keys by content hash (md5 of the
    pipe-delimited natural-key attributes) with a collision audit —
    the engine-reproducible alternative to monotonically_increasing_id
    (which depends on partition layout and differs run to run: useless
    for incremental dim loads or cross-system reconciliation).

    The audit aggregate (row count vs distinct keys, plus the hash range
    endpoints) is what the driver hashes; at 100 TB the key assignment
    is a pure projection and the collision audit one hash agg. 128-bit
    md5 collision odds at 10^10 rows: ~10^-19 — acceptable for dim keys;
    use sha2-256 where compliance demands it."""
    sk = F.md5(
        F.concat_ws(
            "|", F.col("c_name"), F.col("c_nationkey").cast("string"), F.col("c_mktsegment")
        )
    )
    keyed = t.customer.select("c_custkey", sk.alias("surrogate_key"))
    return keyed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("surrogate_key").alias("n_distinct_keys"),
        F.min("surrogate_key").alias("min_key"),
        F.max("surrogate_key").alias("max_key"),
    )


@query(
    "etl_k_anonymity",
    oracle="""
    WITH qi AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
               count(*) AS grp_n
        FROM customer
        GROUP BY 1, 2, 3
    )
    SELECT CAST(sum(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups,
           CAST(sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
               AS n_exposed_rows,
           count(*) AS n_groups,
           CAST(min(grp_n) AS BIGINT) AS k_actual
    FROM qi
    """,
)
def etl_k_anonymity(t: Tables) -> DataFrame:
    """k-anonymity audit (k=5) over the quasi-identifier combination
    (nation, market segment, account-balance band): groups smaller than
    k re-identify their members, so the release gate is `k_actual >= k`.
    The audit reports violating-group and exposed-row counts — the
    numbers a generalization step (widen the balance band, drop a QI
    column) must drive to zero before data leaves the boundary.

    One hash agg over the QI tuple + a 4-number re-aggregation; the
    banding uses engine-neutral floor division (the etl_profile /
    events_histogram bin rule)."""
    qi = t.customer.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("grp_n"))
    return qi.agg(
        F.sum(F.when(F.col("grp_n") < 5, 1).otherwise(0)).cast("long").alias("n_violating_groups"),
        F.sum(F.when(F.col("grp_n") < 5, F.col("grp_n")).otherwise(0))
        .cast("long")
        .alias("n_exposed_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("grp_n").cast("long").alias("k_actual"),
    )


@query(
    "etl_cdc_apply",
    oracle="""
    WITH ops AS (
        SELECT o_orderkey AS k, o_orderstatus, o_totalprice AS price,
               1 AS seq, 'I' AS op
        FROM orders
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
               floor(o_totalprice * 1.1 * 100 + 0.5) / 100,
               2, 'U'
        FROM orders WHERE o_orderkey % 10 IN (7, 8)
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice, 2, 'D'
        FROM orders WHERE o_orderkey % 10 = 9
    ),
    latest AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
            FROM ops
        ) WHERE rn = 1 AND op <> 'D'
    )
    SELECT o_orderstatus, count(*) AS n_rows,
           round(sum(price), 2) AS total_price
    FROM latest GROUP BY o_orderstatus
    """,
)
def etl_cdc_apply(t: Tables) -> DataFrame:
    """CDC changelog application: an insert/update/delete op log (derived
    deterministically — every key an I at seq 1, 20% of keys a U at seq
    2, 10% a D) collapsed to final table state by last-op-wins per key,
    deletes dropped — the merge every Debezium/binlog-fed lake table
    runs.

    The collapse is a key-partitioned row_number window (hash-
    distributed; at scale this is THE canonical CDC-compaction shape —
    Delta/Iceberg MERGE does the same resolution transactionally). The
    audited result is final-state counts and sums per status, so a
    wrong op resolution (e.g. applying the U after the D, or keeping
    deleted rows) flips the hash."""
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        "o_orderstatus",
        F.col("o_totalprice").alias("price"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
    )
    upd = (
        t.orders.filter((F.col("o_orderkey") % 10).isin(7, 8))
        .select(
            F.col("o_orderkey").alias("k"),
            "o_orderstatus",
            money(F.col("o_totalprice") * 1.1).alias("price"),
            F.lit(2).alias("seq"),
            F.lit("U").alias("op"),
        )
    )
    dele = (
        t.orders.filter(F.col("o_orderkey") % 10 == 9)
        .select(
            F.col("o_orderkey").alias("k"),
            "o_orderstatus",
            F.col("o_totalprice").alias("price"),
            F.lit(2).alias("seq"),
            F.lit("D").alias("op"),
        )
    )
    ops = base.unionByName(upd).unionByName(dele)
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    latest = (
        ops.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
    )
    return latest.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("price"), 2).alias("total_price"),
    )


@query(
    "etl_impute_median",
    oracle="""
    WITH holed AS (
        SELECT p_partkey, p_type,
               CASE WHEN p_partkey % 7 = 0 THEN NULL
                    ELSE p_retailprice END AS price
        FROM part
    ),
    med AS (SELECT p_type AS ty, quantile_cont(price, 0.5) AS m
            FROM holed GROUP BY p_type)
    SELECT h.p_type,
           CAST(sum(CASE WHEN h.price IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_imputed,
           count(*) AS n_rows,
           round(sum(coalesce(h.price, med.m)), 2) AS total_imputed_price,
           round(avg(coalesce(h.price, med.m)), 4) AS avg_imputed_price
    FROM holed h JOIN med ON h.p_type = med.ty
    GROUP BY h.p_type
    """,
)
def etl_impute_median(t: Tables) -> DataFrame:
    """Median imputation per group: nulls (deterministically punched into
    every 7th part's price) filled with the within-type median — the
    robust feature-prep default (mean imputation drags toward outliers).
    The audit reports imputed counts plus post-imputation sums/averages,
    so a wrong median or a miscounted null flips the hash.

    Two passes: per-type exact median (broadcast ~6 rows) + coalesce
    join-back — the win_mad_outliers plan family; swap approx_percentile
    at extreme group cardinality, same shape."""
    holed = t.part.select(
        "p_partkey",
        "p_type",
        F.when(F.col("p_partkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("p_retailprice"))
        .alias("price"),
    )
    med = holed.groupBy(F.col("p_type").alias("ty")).agg(
        F.percentile("price", F.lit(0.5)).alias("m")
    )
    imputed = holed.join(F.broadcast(med), holed.p_type == med.ty).select(
        "p_type", "price", F.coalesce("price", "m").alias("filled")
    )
    return imputed.groupBy("p_type").agg(
        F.sum(F.when(F.col("price").isNull(), 1).otherwise(0)).cast("long").alias("n_imputed"),
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("filled"), 2).alias("total_imputed_price"),
        F.round(F.avg("filled"), 4).alias("avg_imputed_price"),
    )


@query(
    "etl_freshness_sla",
    oracle="""
    WITH marks AS (
        SELECT 'events' AS table_name, max(ts) AS latest FROM events
        UNION ALL
        SELECT 'orders', max(o_orderdate) FROM orders
        UNION ALL
        SELECT 'lineitem', max(l_shipdate) FROM lineitem
    ),
    ref AS (SELECT max(latest) AS now_ts FROM marks)
    SELECT table_name,
           strftime(latest, '%Y-%m-%d %H:%M:%S') AS latest_ts,
           CAST(date_diff('day', latest, (SELECT now_ts FROM ref)) AS BIGINT)
               AS staleness_days,
           date_diff('day', latest, (SELECT now_ts FROM ref)) <= 9000
               AS within_sla
    FROM marks
    """,
)
def etl_freshness_sla(t: Tables) -> DataFrame:
    """Data-freshness report: each fact table's latest event-time mark,
    staleness against the newest mark in the warehouse, and an SLA flag —
    the first page of every pipeline-health dashboard (a stale upstream
    is the most common silent ETL failure; the DQ gate catches bad rows,
    this catches MISSING rows). One max() scan per table (min/max from
    parquet footers at planning when statistics allow), a one-row
    reference broadcast, and timestamps emitted as strings for
    driver-safe comparison (the etl_scd2 ns-bounds lesson)."""
    marks = (
        t.events.agg(F.lit("events").alias("table_name"), F.max("ts").alias("latest"))
        .unionByName(
            t.orders.agg(
                F.lit("orders").alias("table_name"), F.max("o_orderdate").alias("latest")
            )
        )
        .unionByName(
            t.lineitem.agg(
                F.lit("lineitem").alias("table_name"), F.max("l_shipdate").alias("latest")
            )
        )
    )
    ref = marks.agg(F.max("latest").alias("now_ts"))
    staleness = F.datediff(F.col("now_ts"), F.col("latest")).cast("long")
    return marks.crossJoin(F.broadcast(ref)).select(
        "table_name",
        F.date_format("latest", "yyyy-MM-dd HH:mm:ss").alias("latest_ts"),
        staleness.alias("staleness_days"),
        (staleness <= 9000).alias("within_sla"),
    )


@query(
    "etl_id_gap_audit",
    oracle="""
    WITH holed AS (
        SELECT o_orderkey AS id FROM orders WHERE o_orderkey % 97 <> 0
    ),
    b AS (SELECT id, id // 1000 AS bucket FROM holed),
    within AS (
        SELECT bucket,
               CAST(sum(CASE WHEN next_id IS NOT NULL AND next_id - id > 1
                             THEN next_id - id - 1 ELSE 0 END) AS BIGINT)
                   AS missing_inside
        FROM (SELECT bucket, id,
                     lead(id) OVER (PARTITION BY bucket ORDER BY id) AS next_id
              FROM b)
        GROUP BY bucket
    ),
    edges AS (
        SELECT bucket, min(id) AS lo, max(id) AS hi FROM b GROUP BY bucket
    ),
    boundary AS (
        SELECT e.bucket,
               CAST(e.lo - lag(e.hi) OVER (ORDER BY e.bucket) - 1 AS BIGINT)
                   AS missing_before
        FROM edges e
    )
    SELECT CAST(sum(w.missing_inside) AS BIGINT)
               + CAST(sum(coalesce(bd.missing_before, 0)) AS BIGINT)
               AS n_missing_ids,
           CAST(count(*) AS BIGINT) AS n_buckets
    FROM within w JOIN boundary bd ON w.bucket = bd.bucket
    """,
)
def etl_id_gap_audit(t: Tables) -> DataFrame:
    """Sequence-gap audit over a dense id column (every 97th order id
    deterministically punched out to stand in for lost records): counts
    missing ids WITHOUT a global-order window — ids bucket by id/1000,
    gaps inside a bucket come from a bucket-partitioned lead(), and gaps
    ACROSS bucket boundaries from a lag over the tiny per-bucket
    min/max table (the two-phase global-rank discipline applied to
    sequence integrity). The audited totals pin both gap classes; a
    wrong boundary term (the classic off-by-one) flips the hash.

    This is the completeness check ingestion pipelines run on
    monotonically-assigned upstream keys (kafka offsets, db sequences) —
    dropped batches appear as id gaps long before anyone reads the
    data."""
    holed = t.orders.select(F.col("o_orderkey").alias("id")).filter(
        F.col("o_orderkey") % 97 != 0
    )
    b = holed.withColumn("bucket", (F.col("id") / 1000).cast("long"))
    wlead = Window.partitionBy("bucket").orderBy("id")
    within = (
        b.withColumn("next_id", F.lead("id").over(wlead))
        .groupBy("bucket")
        .agg(
            F.sum(
                F.when(
                    F.col("next_id").isNotNull() & (F.col("next_id") - F.col("id") > 1),
                    F.col("next_id") - F.col("id") - 1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("missing_inside")
        )
    )
    edges = b.groupBy("bucket").agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
    wb = Window.orderBy("bucket")  # bounded: one row per 1000-id bucket
    boundary = edges.select(
        "bucket",
        (F.col("lo") - F.lag("hi").over(wb) - 1).cast("long").alias("missing_before"),
    )
    return (
        within.join(boundary, "bucket")
        .agg(
            (
                F.sum("missing_inside") + F.sum(F.coalesce("missing_before", F.lit(0)))
            )
            .cast("long")
            .alias("n_missing_ids"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
        )
    )


@query(
    "etl_quarantine_rules",
    oracle="""
    WITH dirty AS (  -- deterministically punched violations (see docstring)
        SELECT c_custkey,
               CASE WHEN c_custkey % 97 = 0 THEN -5000.0 ELSE c_acctbal END
                   AS c_acctbal,
               CASE WHEN c_custkey % 89 = 0 THEN 'CRYPTO' ELSE c_mktsegment END
                   AS c_mktsegment,
               CASE WHEN c_custkey % 83 = 0 THEN 'x' ELSE c_name END AS c_name,
               CASE WHEN c_custkey % 79 = 0 THEN 99 ELSE c_nationkey END
                   AS c_nationkey
        FROM customer
    )
    SELECT CASE
             WHEN c_acctbal < -999.99 THEN 'balance_below_floor'
             WHEN c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','FURNITURE',
                                       'HOUSEHOLD','MACHINERY') THEN 'unknown_segment'
             WHEN len(c_name) < 5 THEN 'name_too_short'
             WHEN c_nationkey < 0 OR c_nationkey > 24 THEN 'nation_out_of_range'
             ELSE 'clean'
           END AS verdict,
           CAST(count(*) AS BIGINT)            AS n_rows,
           CAST(min(c_custkey) AS BIGINT)      AS first_key
    FROM dirty
    GROUP BY 1
    """,
)
def etl_quarantine_rules(t: Tables) -> DataFrame:
    """Row-level rule quarantine: each row is tagged with the FIRST
    failing rule from an ordered rule list (or 'clean') — the row-level
    companion to etl_dq_checks' table-level gate, and the routing logic
    in front of every quarantine sink (scan_csv_permissive handles rows
    that don't PARSE; this handles rows that parse but VIOLATE the
    contract). First-failure-wins keeps one verdict per row so the
    quarantine split is a partition of the input, never a multiplication.

    The fixture is valid by construction, so violations are PUNCHED
    deterministically first (the etl_impute_median protocol — key-modulo
    mangling, identical on both sides): %97 floors the balance, %89
    fakes a segment, %83 truncates the name, %79 breaks the FK range.
    Rule PRIORITY is part of the contract: a row mangled by two rules
    must be counted once, under the earlier rule.

    One CASE projection + one tiny hash agg — zero joins, zero Python;
    at 100 TB the rule evaluation is free inside the ingest scan, and
    the per-rule counts feed the same drift alarms as etl_profile.
    first_key gives the auditor a deterministic example row per rule."""
    dirty = t.customer.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 97 == 0, -5000.0)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        F.when(F.col("c_custkey") % 89 == 0, "CRYPTO")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.when(F.col("c_custkey") % 83 == 0, "x")
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        F.when(F.col("c_custkey") % 79 == 0, 99)
        .otherwise(F.col("c_nationkey"))
        .alias("c_nationkey"),
    )
    verdict = (
        F.when(F.col("c_acctbal") < -999.99, "balance_below_floor")
        .when(
            ~F.col("c_mktsegment").isin(
                "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"
            ),
            "unknown_segment",
        )
        .when(F.length("c_name") < 5, "name_too_short")
        .when(
            (F.col("c_nationkey") < 0) | (F.col("c_nationkey") > 24),
            "nation_out_of_range",
        )
        .otherwise("clean")
    )
    return (
        dirty.select(verdict.alias("verdict"), "c_custkey")
        .groupBy("verdict")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("c_custkey").cast("long").alias("first_key"),
        )
    )


@query(
    "etl_na_policies",
    oracle="""
    WITH punched AS (  -- deterministically punched nulls (see docstring)
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END
                   AS c_acctbal,
               CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_mktsegment END
                   AS c_mktsegment,
               CASE WHEN c_custkey % 13 = 0 THEN NULL
                    ELSE c_nationkey END AS c_nationkey
        FROM customer
    ),
    cleaned AS (
        -- policy: DROP rows missing the FK (can't be repaired),
        -- FILL numeric nulls with 0.0, fill segment with 'UNKNOWN'
        SELECT c_custkey,
               coalesce(c_acctbal, 0.0)        AS c_acctbal,
               coalesce(c_mktsegment, 'UNKNOWN') AS c_mktsegment,
               c_nationkey
        FROM punched
        WHERE c_nationkey IS NOT NULL
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT)           AS n_rows,
           round(sum(c_acctbal), 2)           AS total_bal,
           CAST(sum(CASE WHEN c_acctbal = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_filled_bal
    FROM cleaned
    GROUP BY c_mktsegment
    """,
)
def etl_na_policies(t: Tables) -> DataFrame:
    """The df.na policy surface (drop / fill) as an explicit per-column
    contract — the decision every silver-layer load writes down: rows
    missing an IRREPARABLE column (the FK) are dropped; repairable
    numeric nulls fill with a sentinel 0.0; categorical nulls fill with
    an explicit 'UNKNOWN' level (never silently imputed — the honest
    companion to etl_impute_median, which REPAIRS with a statistic and
    audits the repair). Nulls are punched deterministically (%7 balance,
    %11 segment, %13 FK) so every policy genuinely fires.

    Exercises the first-class API — na.drop(subset), na.fill(map) — not
    hand-rolled coalesce, so the key pins Spark's own null-policy
    semantics (drop BEFORE fill: a dropped row must not be resurrected
    by the fill). One projection + one hash agg; the UNKNOWN group
    surfaces in the output as its own audit row."""
    punched = t.customer.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None)).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
        F.when(F.col("c_custkey") % 11 == 0, F.lit(None)).otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
        F.when(F.col("c_custkey") % 13 == 0, F.lit(None)).otherwise(F.col("c_nationkey")).alias("c_nationkey"),
    )
    cleaned = (
        punched.na.drop(subset=["c_nationkey"])
        .na.fill({"c_acctbal": 0.0, "c_mktsegment": "UNKNOWN"})
    )
    return cleaned.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        F.sum(F.when(F.col("c_acctbal") == 0.0, 1).otherwise(0))
        .cast("long")
        .alias("n_filled_bal"),
    )


@query(
    "etl_time_travel",
    oracle="""
    WITH cls AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 31 = 0 THEN 'd'
                    WHEN c_custkey % 7 = 0  THEN 'u'
                    ELSE 'k' END AS cls
        FROM customer
    )
    SELECT CAST((SELECT count(*) FROM cls) AS BIGINT)          AS n_asof1,
           CAST((SELECT count(*) FROM cls WHERE cls <> 'd') AS BIGINT)
               AS n_asof2,
           CAST((SELECT count(*) FROM cls WHERE cls = 'd') AS BIGINT)
               AS n_deleted,
           CAST((SELECT count(*) FROM cls WHERE cls = 'u') AS BIGINT)
               AS n_updated
    """,
)
def etl_time_travel(t: Tables) -> DataFrame:
    """Merge-on-read time travel over a version-partitioned changelog —
    the lakehouse pattern (Delta/Iceberg snapshots) built from plain
    parquet: version 1 is the full dim snapshot; version 2 is a DELTA
    (updated rows + 'd' tombstones, derived deterministically: %31
    deletes — tombstone wins — %7 updates). ``read_asof(v)`` filters
    version <= v (STATIC partition pruning on the version directory —
    only the needed snapshots are ever opened), resolves last-writer-
    wins per key, and drops tombstones. The returned stats compare the
    as-of-1 and as-of-2 states; the oracle recomputes them in closed
    form from the same modular classes, fully independent of the
    file layout.

    At 100 TB the delta layout is why this scales: each version adds
    only its changed rows, reads merge k small deltas against one base,
    and compaction (etl_compaction) periodically rewrites a new full
    base. The LWW merge is the etl_cdc_apply window on (key, version)."""
    from pyspark.sql import Window as W

    from base_etl_spark.sinks import (
        _derived_path,
        _ensure_derived,
        _source_fingerprint,
        read_derived,
        write_parquet,
    )

    path = _derived_path(t.sf_dir, "customer_versions")
    base = t.customer.select(
        "c_custkey", "c_acctbal", F.lit(1).alias("version"), F.lit("u").alias("op")
    )
    delta = (
        t.customer.filter((F.col("c_custkey") % 31 == 0) | (F.col("c_custkey") % 7 == 0))
        .select(
            "c_custkey",
            (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
            F.lit(2).alias("version"),
            F.when(F.col("c_custkey") % 31 == 0, "d").otherwise("u").alias("op"),
        )
    )
    _ensure_derived(
        path,
        _source_fingerprint(t.sf_dir, "customer"),
        lambda p: write_parquet(base.unionByName(delta), p, partition_by=["version"]),
    )

    changelog_schema = base.unionByName(delta).schema

    def read_asof(v: int):
        # explicit schema: a zero-row source writes a version-partitioned
        # layout with no part files (see sinks.read_derived)
        hist = read_derived(t.spark, path, changelog_schema).filter(
            F.col("version") <= v
        )
        w = W.partitionBy("c_custkey").orderBy(F.desc("version"))
        return (
            hist.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("op") != "d"))
        )

    s1, s2 = read_asof(1), read_asof(2)
    n1 = s1.agg(F.count(F.lit(1)).cast("long").alias("n_asof1"))
    n2 = s2.agg(F.count(F.lit(1)).cast("long").alias("n_asof2"))
    deleted = s1.join(
        s2.select("c_custkey"), "c_custkey", "left_anti"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_deleted"))
    updated = (
        s1.select("c_custkey", F.col("c_acctbal").alias("b1"))
        .join(s2.select("c_custkey", F.col("c_acctbal").alias("b2")), "c_custkey")
        .filter(F.col("b1") != F.col("b2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_updated"))
    )
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(deleted))
        .crossJoin(F.broadcast(updated))
    )


@query(
    "etl_backfill_plan",
    oracle="""
    WITH present AS (
        SELECT DISTINCT CAST(date_trunc('day', o_orderdate) AS DATE) AS d
        FROM orders
    ),
    bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM present),
    expected AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
        FROM bounds
    ),
    missing AS (
        SELECT e.d FROM expected e
        LEFT JOIN present p ON e.d = p.d
        WHERE p.d IS NULL
    ),
    grp AS (
        SELECT d,
               d - CAST(row_number() OVER (ORDER BY d) AS INTEGER) AS g
        FROM missing
    )
    SELECT min(d) AS range_start, max(d) AS range_end,
           CAST(count(*) AS BIGINT) AS n_days
    FROM grp GROUP BY g
    """,
)
def etl_backfill_plan(t: Tables) -> DataFrame:
    """Backfill planner for a date-partitioned layout: every calendar
    date between the first and last o_orderdate that has ZERO orders,
    coalesced into contiguous [range_start, range_end] runs via the
    gaps-and-islands trick (date minus row_number is constant within a
    run) — the work order an orchestrator submits as one backfill job
    per range rather than one per day.

    Scale plan: the fact table is reduced to DISTINCT partition dates
    (one map-side-combined shuffle, output bounded by the CALENDAR, not
    by rows); the expected-date spine is generated from a 1-row bounds
    aggregate (F.sequence — no driver loop); missing dates come from a
    broadcast anti join of two calendar-bounded frames. The one
    partition-less window orders the missing-date set — bounded by the
    calendar span (~10^3 rows per millennium), never by fact rows."""
    present = t.orders.select(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("d")
    ).distinct()
    expected = (
        present.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("d"))
    )
    missing = expected.join(F.broadcast(present), "d", "left_anti")
    w = Window.orderBy("d")  # bounded: ≤ calendar span after the anti join
    grp = missing.withColumn(
        "g", F.datediff("d", F.lit("1970-01-01")) - F.row_number().over(w)
    )
    return grp.groupBy("g").agg(
        F.min("d").alias("range_start"),
        F.max("d").alias("range_end"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    ).drop("g")


@query(
    "etl_partition_skew_report",
    oracle="""
    WITH per_key AS (
        SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY l_suppkey
    ),
    top1 AS (
        SELECT l_suppkey, n_rows FROM per_key
        ORDER BY n_rows DESC, l_suppkey LIMIT 1
    )
    SELECT 'l_suppkey' AS key_col,
           CAST((SELECT count(*) FROM per_key) AS BIGINT) AS n_keys,
           CAST((SELECT sum(n_rows) FROM per_key) AS BIGINT) AS total_rows,
           (SELECT l_suppkey FROM top1) AS hottest_key,
           (SELECT n_rows FROM top1) AS max_rows,
           round((SELECT sum(n_rows) FROM per_key) * 1.0
                 / (SELECT count(*) FROM per_key), 6) AS avg_rows,
           round((SELECT n_rows FROM top1)
                 / ((SELECT sum(n_rows) FROM per_key) * 1.0
                    / (SELECT count(*) FROM per_key)), 6) AS skew_ratio,
           round((SELECT quantile_cont(n_rows, 0.5) FROM per_key), 6) AS p50,
           round((SELECT quantile_cont(n_rows, 0.9) FROM per_key), 6) AS p90,
           round((SELECT quantile_cont(n_rows, 0.99) FROM per_key), 6) AS p99
    """,
)
def etl_partition_skew_report(t: Tables) -> DataFrame:
    """Shuffle-key skew audit for the fact table's supplier key — the
    observability pass that DECIDES whether join_skew_salted's salting
    is needed before a 100 TB run: per-key row counts, the hottest key
    (deterministic tie-break by key), max/avg skew ratio, and the
    p50/p90/p99 of the per-key distribution. A skew_ratio near 1 means
    hash partitioning balances; >> 1 means one task drags the stage.

    Plan: ONE hash agg reduces the fact table to key cardinality
    (map-side partials — the scan never shuffles raw rows), then every
    statistic (max-by, exact interpolated percentiles, totals) runs
    over the BOUNDED per-key frame; the final row is a single global
    agg. Exact percentiles sort only the key-cardinality frame —
    at extreme cardinalities swap for approx_percentile (the
    agg_approx_quantile posture)."""
    per_key = t.lineitem.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    return per_key.agg(
        F.lit("l_suppkey").alias("key_col"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.max(
            F.struct(
                F.col("n_rows"), (-F.col("l_suppkey")).alias("neg_key")
            )
        ).alias("top"),
        F.round(F.percentile("n_rows", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("n_rows", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("n_rows", F.lit(0.99)), 6).alias("p99"),
    ).select(
        "key_col",
        "n_keys",
        "total_rows",
        (-F.col("top.neg_key")).cast("long").alias("hottest_key"),
        F.col("top.n_rows").alias("max_rows"),
        F.round(F.col("total_rows") * 1.0 / F.col("n_keys"), 6).alias("avg_rows"),
        F.round(
            F.col("top.n_rows")
            / (F.col("total_rows") * 1.0 / F.col("n_keys")),
            6,
        ).alias("skew_ratio"),
        "p50",
        "p90",
        "p99",
    )


@query(
    "etl_incremental_dedup",
    oracle="""
    WITH hist AS (
        SELECT DISTINCT sha256(text) AS h
        FROM documents WHERE doc_id % 10 < 8
    ),
    batch AS (
        SELECT doc_id, sha256(text) AS h
        FROM documents WHERE doc_id % 10 >= 8
    )
    SELECT b.doc_id,
           hist.h IS NULL AS is_novel
    FROM batch b LEFT JOIN hist ON b.h = hist.h
    """,
)
def etl_incremental_dedup(t: Tables) -> DataFrame:
    """Incremental-ingest dedup: the arriving batch (doc_id % 10 >= 8 —
    the deterministic 20% 'today' slice) is checked against the
    HISTORICAL corpus's content-hash set (the other 80%), and each new
    document gets an is_novel verdict — the daily-crawl gate that keeps
    a training corpus append-only without ever re-deduplicating
    history (dedup_exact rebuilds the full collapse map; this touches
    history only through its hash set).

    Plan: both sides reduce to sha256 hashes in-scan; the historical
    side is a DISTINCT hash projection (one shuffle, hash-cardinality
    sized) left-joined to the batch on the hash key. At 100 TB the
    historical hash set is a precomputed bucketed table in practice —
    the join is then co-located and history is never rescanned; the
    oracle's recompute-both-sides shape is the fixture-scale stand-in.
    NULL text hashes to NULL on both engines, never matching — a NULL
    batch doc stays novel (LEFT JOIN on NULL key), same verdict both
    sides."""
    hist = (
        t.documents.filter(F.col("doc_id") % 10 < 8)
        .select(F.sha2("text", 256).alias("h"))
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    batch = t.documents.filter(F.col("doc_id") % 10 >= 8).select(
        "doc_id", F.sha2("text", 256).alias("h")
    )
    return batch.join(hist, "h", "left").select(
        "doc_id", F.col("seen").isNull().alias("is_novel")
    )


@query(
    "etl_scd3",
    oracle="""
    WITH upd AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderpriority = '1-URGENT'
    )
    SELECT c_custkey,
           CASE WHEN upd.o_custkey IS NOT NULL
                THEN 'PRIORITY' ELSE c_mktsegment END AS segment_current,
           CASE WHEN upd.o_custkey IS NOT NULL
                THEN c_mktsegment END AS segment_prev,
           upd.o_custkey IS NOT NULL AS changed
    FROM customer LEFT JOIN upd ON c_custkey = upd.o_custkey
    """,
)
def etl_scd3(t: Tables) -> DataFrame:
    """SCD Type-3 dimension update — the third member of the
    slowly-changing family (type 2: etl_scd2 full history rows; type 1
    would overwrite): customers with at least one 1-URGENT order move
    to the 'PRIORITY' segment while the PREVIOUS value is preserved in
    a prior-value COLUMN (one level of history, the type-3 contract),
    everyone else keeps their segment with a NULL prior. The pattern a
    reporting dim uses when only 'current vs before the reorg' matters.

    Plan: the update key set is a DISTINCT projection of the fact
    (pushdown-filtered on priority) left-joined to the dimension —
    AQE broadcasts the key set while it fits; at 100 TB it shuffles on
    the dim key like every other dim-maintenance op."""
    upd = (
        t.orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        t.customer.join(upd, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            "c_custkey",
            F.when(F.col("hit").isNotNull(), F.lit("PRIORITY"))
            .otherwise(F.col("c_mktsegment"))
            .alias("segment_current"),
            F.when(F.col("hit").isNotNull(), F.col("c_mktsegment")).alias(
                "segment_prev"
            ),
            F.col("hit").isNotNull().alias("changed"),
        )
    )


@query(
    "etl_late_arriving_dim",
    oracle="""
    WITH dim AS (
        SELECT * FROM customer WHERE c_custkey % 10 <> 3
    ),
    fact_keys AS (SELECT DISTINCT o_custkey FROM orders),
    inferred AS (
        SELECT o_custkey AS c_custkey
        FROM fact_keys LEFT JOIN dim ON o_custkey = c_custkey
        WHERE dim.c_custkey IS NULL
    ),
    aug AS (
        SELECT c_mktsegment AS segment, FALSE AS is_inferred, c_acctbal
        FROM dim
        UNION ALL
        SELECT 'INFERRED', TRUE, NULL FROM inferred
    )
    SELECT segment, is_inferred,
           CAST(count(*) AS BIGINT)          AS n_members,
           round(sum(c_acctbal), 2)          AS total_bal
    FROM aug GROUP BY segment, is_inferred
    """,
)
def etl_late_arriving_dim(t: Tables) -> DataFrame:
    """Late-arriving dimension handling (the Kimball pattern): facts may
    reference dimension keys whose member rows have not landed yet —
    the load must NOT drop those facts or fail the FK audit, it mints
    INFERRED placeholder members (key only, attributes defaulted) that
    the real dimension row later overwrites in place (etl_scd2's update
    path). Lateness is simulated deterministically (every 10th customer
    key withheld from the dim) so the oracle recomputes the same split;
    output is the augmented dimension's per-segment census with the
    inferred block visible as its own segment.

    Plan: fact keys reduce to DISTINCT key cardinality FIRST (map-side
    combined — the only fact-sized stage), then a left-anti join against
    the dim finds the missing keys; AQE broadcasts whichever side fits.
    The inferred frame unions into the dim census: one dim-bounded agg.
    At 100 TB the inferred-member write is an append to the dimension
    (idempotent by key), never a fact rewrite."""
    dim = t.customer.filter(F.col("c_custkey") % 10 != 3)
    fact_keys = t.orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    inferred = fact_keys.join(dim.select("c_custkey"), "c_custkey", "left_anti")
    aug = dim.select(
        F.col("c_mktsegment").alias("segment"),
        F.lit(False).alias("is_inferred"),
        F.col("c_acctbal"),
    ).unionByName(
        inferred.select(
            F.lit("INFERRED").alias("segment"),
            F.lit(True).alias("is_inferred"),
            F.lit(None).cast("double").alias("c_acctbal"),
        )
    )
    return aug.groupBy("segment", "is_inferred").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@query(
    "etl_subject_access_export",
    oracle="""
    WITH subjects AS (
        SELECT c_custkey AS k FROM customer WHERE c_custkey % 1000 = 7
    ),
    per AS (
        SELECT k, 'customer' AS table_name, CAST(count(c_custkey) AS BIGINT) AS n_rows
        FROM subjects LEFT JOIN customer ON c_custkey = k GROUP BY k
        UNION ALL
        SELECT k, 'orders', CAST(count(o_orderkey) AS BIGINT)
        FROM subjects LEFT JOIN orders ON o_custkey = k GROUP BY k
        UNION ALL
        SELECT k, 'lineitem', CAST(count(l_orderkey) AS BIGINT)
        FROM subjects
        LEFT JOIN (SELECT o_custkey, l_orderkey
                   FROM orders JOIN lineitem ON l_orderkey = o_orderkey) f
          ON f.o_custkey = k
        GROUP BY k
    )
    SELECT k AS custkey, table_name, n_rows FROM per
    """,
)
def etl_subject_access_export(t: Tables) -> DataFrame:
    """Subject-access-request export manifest (GDPR art. 15 — the read
    twin of etl_forget_users' erasure): for each requested subject, how
    many rows each table holds about them, INCLUDING explicit zero rows
    (an SAR response must state 'no data' per table, so absent
    facts cannot just vanish from the manifest — left joins, not inner).
    Subjects are a deterministic key set (custkey % 1000 = 7) standing
    in for the request queue table.

    Plan: each footprint counts off an INNER join with the broadcast
    subject set (Spark cannot broadcast the PRESERVED side of an outer
    join — a subjects-left-join spelling silently degrades to a shuffle,
    caught by the HintErrorLogger warning at build time), and the
    per-subject zeros come from left-joining the subject-bounded count
    frames back onto the subject list — a tiny⋈tiny join. The lineitem
    footprint pays one orders⋈lineitem equi-join planned off the
    broadcast-pruned orders side. At 100 TB each leg is an independent
    scan; the export of the actual ROWS (not counted here) streams per
    table with the same pushed predicates."""
    subjects = t.customer.filter(F.col("c_custkey") % 1000 == 7).select(
        F.col("c_custkey").alias("k")
    )

    def leg(fact: DataFrame, key: str, name: str) -> DataFrame:
        cnt = (
            fact.join(F.broadcast(subjects), F.col(key) == F.col("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        return subjects.join(cnt, "k", "left").select(
            "k",
            F.lit(name).alias("table_name"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_rows"),
        )

    fact = t.orders.select("o_custkey", "o_orderkey").join(
        t.lineitem.select("l_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        leg(t.customer, "c_custkey", "customer")
        .unionByName(leg(t.orders, "o_custkey", "orders"))
        .unionByName(leg(fact, "o_custkey", "lineitem"))
        .select(F.col("k").alias("custkey"), "table_name", "n_rows")
    )


@query(
    "etl_fk_orphan_audit",
    oracle="""
    SELECT * FROM (
        SELECT 'lineitem->orders' AS fk,
               CAST(count(*) AS BIGINT) AS n_child_keys,
               CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_orphans
        FROM (SELECT DISTINCT l_orderkey FROM lineitem) c
        LEFT JOIN orders ON l_orderkey = o_orderkey
        UNION ALL
        SELECT 'lineitem->part', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT DISTINCT l_partkey FROM lineitem) c
        LEFT JOIN part ON l_partkey = p_partkey
        UNION ALL
        SELECT 'lineitem->supplier', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT DISTINCT l_suppkey FROM lineitem) c
        LEFT JOIN supplier ON l_suppkey = s_suppkey
        UNION ALL
        SELECT 'orders->customer', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT DISTINCT o_custkey FROM orders) c
        LEFT JOIN customer ON o_custkey = c_custkey
        UNION ALL
        SELECT 'customer->nation', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT DISTINCT c_nationkey FROM customer) c
        LEFT JOIN nation ON c_nationkey = n_nationkey
        UNION ALL
        SELECT 'supplier->nation', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT DISTINCT s_nationkey FROM supplier) c
        LEFT JOIN nation ON s_nationkey = n_nationkey
        UNION ALL
        SELECT 'nation->region', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT DISTINCT n_regionkey FROM nation) c
        LEFT JOIN region ON n_regionkey = r_regionkey
    )
    """,
)
def etl_fk_orphan_audit(t: Tables) -> DataFrame:
    """Referential-integrity audit over every declared FK edge of the
    star schema: per relationship, DISTINCT child keys and how many
    lack a parent row (orphans) — the conformance gate a warehouse runs
    after every load batch (etl_dq_checks validates values INSIDE a
    table; this validates the edges BETWEEN tables; etl_id_gap_audit
    validates key sequences). Zero-orphan rows stay visible: the audit
    asserting 'checked, clean' is the deliverable, not just failures.

    Plan: each edge reduces the child side to DISTINCT KEYS first
    (map-side combined — key cardinality, not fact rows, crosses the
    wire), then left-joins the parent's key column; dims broadcast
    under the session threshold, and the fact-to-fact edge
    (lineitem→orders at 100 TB) falls back to a key-only merge join.
    Seven two-column frames union into the report. The audit never
    ships attribute columns — keys only on both sides."""
    edges = [
        ("lineitem->orders", t.lineitem, "l_orderkey", t.orders, "o_orderkey"),
        ("lineitem->part", t.lineitem, "l_partkey", t.part, "p_partkey"),
        ("lineitem->supplier", t.lineitem, "l_suppkey", t.supplier, "s_suppkey"),
        ("orders->customer", t.orders, "o_custkey", t.customer, "c_custkey"),
        ("customer->nation", t.customer, "c_nationkey", t.nation, "n_nationkey"),
        ("supplier->nation", t.supplier, "s_nationkey", t.nation, "n_nationkey"),
        ("nation->region", t.nation, "n_regionkey", t.region, "r_regionkey"),
    ]
    legs = []
    for name, child, ck, parent, pk in edges:
        keys = child.select(ck).distinct()
        j = keys.join(parent.select(pk), F.col(ck) == F.col(pk), "left")
        legs.append(
            j.agg(
                F.count(F.lit(1)).cast("long").alias("n_child_keys"),
                F.sum(F.col(pk).isNull().cast("long")).cast("long").alias("n_orphans"),
            ).select(F.lit(name).alias("fk"), "n_child_keys", "n_orphans")
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


@query(
    "etl_psi_drift",
    oracle="""
    WITH b AS (
        SELECT CAST(least(floor(o_totalprice / 50000), 9) AS BIGINT) AS bucket,
               CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END
                   AS is_ref
        FROM orders
    ),
    c AS (
        SELECT bucket,
               CAST(sum(is_ref) AS BIGINT)     AS n_ref,
               CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
        FROM b GROUP BY bucket
    ),
    g AS (SELECT unnest(generate_series(0, 9)) AS bucket),
    j AS (
        SELECT g.bucket,
               coalesce(n_ref, 0) AS n_ref,
               coalesce(n_cur, 0) AS n_cur
        FROM g LEFT JOIN c USING (bucket)
    ),
    w AS (
        SELECT bucket, n_ref, n_cur,
               (n_ref + 1.0) / (sum(n_ref) OVER () + 10) AS p,
               (n_cur + 1.0) / (sum(n_cur) OVER () + 10) AS q
        FROM j
    )
    SELECT bucket, n_ref, n_cur,
           round(p, 6)                               AS p_ref,
           round(q, 6)                               AS q_cur,
           round((p - q) * ln(p / q), 6)             AS contrib,
           round(sum((p - q) * ln(p / q)) OVER (), 6) AS psi
    FROM w
    """,
)
def etl_psi_drift(t: Tables) -> DataFrame:
    """Population Stability Index of the order-value distribution
    between the reference period (pre-1998) and the current period —
    THE standard drift gate a feature pipeline runs before retraining
    or backfilling on new data (PSI < 0.1 stable, > 0.25 action). Fixed
    bucket bounds (50k-wide, capped at bucket 9) keep the binning a
    pure projection — no quantile pass, so the same bounds apply to any
    future period and the index is comparable across runs. Laplace
    smoothing (+1 per bucket) makes empty buckets contribute finitely
    instead of blowing up ln(p/q).

    The bucket grid is a LITERAL 0..9 frame left-joined onto observed
    counts (the events_quantile_treatment_effect lesson: derive report
    grids from literals, not from observed data, or empty input loses
    the frame shape entirely).

    Scale: one conditional hash agg over the fact scan (map-side
    combine onto <=10 groups), then all totals/PSI come from windows
    over the 10-row bucket frame — the single-partition exchange
    carries ten rows, never data."""
    spark = t.orders.sparkSession
    b = t.orders.select(
        F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9))
        .cast("long")
        .alias("bucket"),
        F.when(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 1)
        .otherwise(0)
        .alias("is_ref"),
    )
    c = b.groupBy("bucket").agg(
        F.sum("is_ref").cast("long").alias("n_ref"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("n_cur"),
    )
    grid = spark.range(10).select(F.col("id").alias("bucket"))
    j = grid.join(c, "bucket", "left").select(
        "bucket",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    w = Window.partitionBy()
    p = (F.col("n_ref") + 1.0) / (F.sum("n_ref").over(w) + 10)
    q = (F.col("n_cur") + 1.0) / (F.sum("n_cur").over(w) + 10)
    contrib = (p - q) * F.log(p / q)
    return j.select(
        "bucket",
        "n_ref",
        "n_cur",
        F.round(p, 6).alias("p_ref"),
        F.round(q, 6).alias("q_cur"),
        F.round(contrib, 6).alias("contrib"),
        F.round(F.sum(contrib).over(w), 6).alias("psi"),
    )


_TTL_CUTOFF = "2024-07-01"  # retention horizon (fixture events span 2024)


@query(
    "etl_ttl_expiry_plan",
    oracle=f"""
    WITH m AS (
        SELECT date_trunc('month', ts) AS month,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN ts < TIMESTAMP '{_TTL_CUTOFF}' THEN 1 ELSE 0 END)
                    AS BIGINT)          AS n_expired
        FROM events GROUP BY month
    )
    SELECT month, n_rows, n_expired,
           round(n_expired * 1.0 / n_rows, 6) AS pct_expired,
           CASE WHEN month + INTERVAL 1 MONTH <= TIMESTAMP '{_TTL_CUTOFF}'
                THEN 'drop_partition'
                WHEN n_expired > 0 THEN 'filter_delete'
                ELSE 'keep' END AS action
    FROM m
    """,
)
def etl_ttl_expiry_plan(t: Tables) -> DataFrame:
    """Retention (TTL) sweep plan over month partitions of the event
    log — the governance pass a 100 TB pipeline runs nightly: months
    that end before the retention horizon are whole-partition DROPS
    (a metadata operation — never read the data you are deleting),
    the single month straddling the horizon needs a filtered rewrite
    (the expensive case, quantified by n_expired/pct_expired so the
    scheduler can budget it), and everything newer is kept untouched.
    Complements etl_forget_users (row-targeted deletion) and
    etl_compaction (size-targeted rewrite) as the time-targeted member
    of the maintenance family.

    Scale: one map-side-combined hash agg to calendar-month
    cardinality; the plan FRAME is months, not rows, so the report
    costs one fact scan regardless of corpus size — and on a
    date-partitioned table the scan itself prunes to the straddling
    month + a metadata listing."""
    cutoff = F.lit(_TTL_CUTOFF).cast("timestamp")
    m = t.events.groupBy(F.date_trunc("month", "ts").alias("month")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("ts") < cutoff, 1).otherwise(0))
        .cast("long")
        .alias("n_expired"),
    )
    return m.select(
        "month",
        "n_rows",
        "n_expired",
        F.round(F.col("n_expired") * 1.0 / F.col("n_rows"), 6).alias("pct_expired"),
        F.when(F.add_months(F.col("month"), 1) <= cutoff, "drop_partition")
        .when(F.col("n_expired") > 0, "filter_delete")
        .otherwise("keep")
        .alias("action"),
    )


@query(
    "etl_vacuum_orphan_plan",
    oracle="""
    WITH part AS (
        SELECT date_trunc('month', ts) AS month,
               CAST(user_id % 4 AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT)    AS n_rows
        FROM events GROUP BY 1, 2
    ),
    files AS (
        SELECT month, bucket, n_rows,
               CAST((extract(month FROM month) + bucket) % 3 AS BIGINT) AS current_v,
               CAST(v AS BIGINT) AS v
        FROM part, LATERAL (SELECT unnest(generate_series(0, 2)) AS v) g
    )
    SELECT month, bucket,
           CAST(count(*) AS BIGINT)                           AS n_files,
           CAST(sum(CASE WHEN v < current_v THEN 1 ELSE 0 END) AS BIGINT)
                                                              AS n_vacuum,
           CAST(sum(CASE WHEN v > current_v THEN 1 ELSE 0 END) AS BIGINT)
                                                              AS n_inflight,
           CAST(sum(CASE WHEN v < current_v THEN n_rows * 64 ELSE 0 END)
                AS BIGINT)                                    AS reclaim_bytes
    FROM files GROUP BY month, bucket
    """,
)
def etl_vacuum_orphan_plan(t: Tables) -> DataFrame:
    """Lakehouse VACUUM / orphan-file GC plan — the maintenance-family
    twin of etl_ttl_expiry_plan (r9 VERDICT task 8b): given a table's
    file inventory and its commit log, classify every physical file as
    current (referenced by the live snapshot), superseded (an older
    version a compaction/overwrite replaced — safe to delete, a
    METADATA-ONLY drop that never reads the bytes it reclaims), or
    IN-FLIGHT (version above the committed snapshot: an uncommitted
    writer's output that a safe vacuum must NEVER touch — deleting it
    is the classic corruption bug this plan's n_inflight column
    exists to surface). reclaim_bytes budgets the sweep per partition.

    The fixture carries no multi-version file layout (single parquet
    per table), so the inventory is MODELED deterministically from the
    fact table — per (month, user-bucket) partition: versions 0..2 on
    disk, committed version = (month + bucket) % 3, bytes ~ rows * 64.
    The decision semantics (supersede test, in-flight guard, per-
    partition reclaim accounting) are the operator; the oracle
    recomputes them in closed form.

    Scale: one map-side-combined hash agg to partition cardinality,
    then an in-row 3-element explode — the plan frame is partitions x
    versions, not rows; on a real lakehouse the inventory comes from
    the transaction log (metadata), never a data scan."""
    part = t.events.groupBy(
        F.date_trunc("month", "ts").alias("month"),
        (F.col("user_id") % 4).alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    files = part.select(
        "month", "bucket", "n_rows",
        ((F.month("month") + F.col("bucket")) % 3).cast("long").alias("current_v"),
        F.explode(F.array(*[F.lit(v).cast("long") for v in (0, 1, 2)])).alias("v"),
    )
    return files.groupBy("month", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum((F.col("v") < F.col("current_v")).cast("long")).alias("n_vacuum"),
        F.sum((F.col("v") > F.col("current_v")).cast("long")).alias("n_inflight"),
        F.sum(
            F.when(F.col("v") < F.col("current_v"), F.col("n_rows") * 64).otherwise(0)
        ).cast("long").alias("reclaim_bytes"),
    )


@query(
    "etl_duplicate_payment_audit",
    oracle="""
    WITH seq AS (
        SELECT o_custkey, o_totalprice, o_orderdate, o_orderkey,
               lag(o_orderdate)  OVER w AS prev_date,
               lag(o_orderkey)   OVER w AS prev_key,
               lag(o_totalprice) OVER w AS prev_amount
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT o_custkey,
           prev_key   AS first_orderkey,
           o_orderkey AS repeat_orderkey,
           CAST(date_diff('day', prev_date, o_orderdate) AS BIGINT) AS gap_days,
           round(prev_amount, 2)  AS first_amount,
           round(o_totalprice, 2) AS repeat_amount,
           CASE WHEN o_totalprice = prev_amount THEN 'exact_dup'
                WHEN abs(o_totalprice - prev_amount)
                     / greatest(o_totalprice, prev_amount) < 0.05 THEN 'near_amount'
                ELSE 'rapid_repeat' END AS grade
    FROM seq
    WHERE prev_date IS NOT NULL
      AND date_diff('day', prev_date, o_orderdate) <= 3
    """,
)
def etl_duplicate_payment_audit(t: Tables) -> DataFrame:
    """Double-charge / double-submit screen: consecutive orders from the
    SAME customer within 3 days, graded by amount similarity —
    'exact_dup' (same amount: the classic duplicate payment),
    'near_amount' (<5% apart: retried-with-fee / partial-capture
    suspects), 'rapid_repeat' (context for the reviewer). Grading
    instead of exact-only filtering keeps the audit useful on any
    amount distribution (exact collisions are measure-zero on
    continuous prices). Consecutive-pair semantics via lag: a run of n
    rapid orders flags n-1 adjacent pairs, never O(n^2) — the
    win_gaps_islands run discipline.

    Scale: ONE window keyed on o_custkey (a single hash exchange,
    customer-bounded partitions); no self-join; output is
    suspicion-bounded (pairs within the 3-day gate only)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = t.orders.select(
        "o_custkey",
        "o_totalprice",
        "o_orderdate",
        "o_orderkey",
        F.lag("o_orderdate").over(w).alias("prev_date"),
        F.lag("o_orderkey").over(w).alias("prev_key"),
        F.lag("o_totalprice").over(w).alias("prev_amount"),
    )
    grade = (
        F.when(F.col("o_totalprice") == F.col("prev_amount"), "exact_dup")
        .when(
            F.abs(F.col("o_totalprice") - F.col("prev_amount"))
            / F.greatest("o_totalprice", "prev_amount")
            < 0.05,
            "near_amount",
        )
        .otherwise("rapid_repeat")
    )
    return seq.filter(
        F.col("prev_date").isNotNull()
        & (F.datediff(F.col("o_orderdate"), F.col("prev_date")) <= 3)
    ).select(
        "o_custkey",
        F.col("prev_key").alias("first_orderkey"),
        F.col("o_orderkey").alias("repeat_orderkey"),
        F.datediff(F.col("o_orderdate"), F.col("prev_date"))
        .cast("long")
        .alias("gap_days"),
        F.round("prev_amount", 2).alias("first_amount"),
        F.round("o_totalprice", 2).alias("repeat_amount"),
        grade.alias("grade"),
    )


@query(
    "etl_reconciliation_gate",
    oracle="""
    WITH l AS (
        SELECT l_orderkey,
               sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS calc
        FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
        SELECT o.o_totalprice,
               l.calc,
               abs(o.o_totalprice - l.calc)
                   / greatest(o.o_totalprice, l.calc) AS rel_diff
        FROM orders o JOIN l ON o.o_orderkey = l.l_orderkey
    )
    SELECT CAST(count(*) AS BIGINT)                                   AS n_orders,
           CAST(sum(CASE WHEN rel_diff > 0.0001 THEN 1 ELSE 0 END)
                AS BIGINT)                                            AS n_mismatched,
           round(sum(CASE WHEN rel_diff > 0.0001 THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6)                                 AS pct_mismatched,
           round(max(abs(o_totalprice - calc)), 2)                    AS max_abs_diff,
           round(quantile_cont(rel_diff, 0.50), 6)                    AS p50_rel_diff,
           round(quantile_cont(rel_diff, 0.95), 6)                    AS p95_rel_diff
    FROM j
    """,
)
def etl_reconciliation_gate(t: Tables) -> DataFrame:
    """Header-vs-detail reconciliation gate: recompute each order's
    total from its line items (extendedprice x (1-discount) x (1+tax) —
    the TPC-H charge formula) and report the mismatch DISTRIBUTION
    against the header's o_totalprice — the load-acceptance check every
    warehouse runs between a fact table and its rollup header before
    publishing. Reported as distribution stats (count, share, max
    absolute, p50/p95 relative) rather than example rows so the output
    is bounded at any corpus size and a drifting pipeline shows up as a
    moving percentile, not a truncated sample. (On this synthetic
    fixture the header is independent of the lines, so the gate fires
    on 100% of orders — the REPORT is the contract, and a gate that
    can fire is the demonstration.)

    Scale: one map-side-combined per-order rollup + one header join
    keyed on the order key + one global agg; exact percentiles over the
    order-bounded frame (agg_percentiles contract)."""
    l = t.lineitem.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).alias("calc")
    )
    j = t.orders.join(l, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "o_totalprice",
        "calc",
        (
            F.abs(F.col("o_totalprice") - F.col("calc"))
            / F.greatest("o_totalprice", "calc")
        ).alias("rel_diff"),
    )
    mism = F.sum(F.when(F.col("rel_diff") > 0.0001, 1).otherwise(0))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        mism.cast("long").alias("n_mismatched"),
        F.round(mism * 1.0 / F.count(F.lit(1)), 6).alias("pct_mismatched"),
        F.round(F.max(F.abs(F.col("o_totalprice") - F.col("calc"))), 2).alias(
            "max_abs_diff"
        ),
        F.round(F.percentile("rel_diff", F.lit(0.50)), 6).alias("p50_rel_diff"),
        F.round(F.percentile("rel_diff", F.lit(0.95)), 6).alias("p95_rel_diff"),
    )
