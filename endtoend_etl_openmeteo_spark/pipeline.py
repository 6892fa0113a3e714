"""The reference's ELT pipeline, Spark-first (SURVEY.md §3.1):

    extract → validate → load → transform

collapses into one function call: bronze JSON scan → flatten → DQ gate →
partition-scoped merge into silver → daily mart. The reference's process
boundaries (Airflow tasks, XCom, psycopg2) become Spark job boundaries. A
warm cycle into existing silver and gold runs five jobs: the gate's scan
(which also observes the batch's months), the merge's dynamic-overwrite
write (two under AQE) and the gold refresh's write (two). The only
shuffles are the merge's key dedup and the mart's groupBy.

**Layout: silver and gold are partitioned by month** — the UTC calendar
month (``ym``, ``yyyy-MM``) of silver's ``timestamp`` and of gold's
``day``, which agree for every row. The hourly DAG lands every city every
hour, so a city partition would scope nothing: each cycle would rewrite
every city's whole history. By month, a cycle's merge and gold refresh
read and rewrite the batch's month only (two at a month boundary), and a
cycle's cost stays flat as history grows. ``city`` is a data column.

Month, not day: a daily partition schedules more jobs and tasks per
cycle, and above Spark's ``parallelPartitionDiscovery.threshold`` (32
directories) every listing of the whole table — the gold frame
``run_elt`` returns, silver's read when there is no gold table, the
backfill's gap search — runs a Spark listing job of its own. Months stay
under that threshold for 32 months of history. The merge and the gold
refresh list only the batch's leaf directories, so they never pay it.

Reference lifecycle traced at /root/reference/airflow/dags/
etl_openmeteo.py:179-183 (extract:20-109, validate:111-149, load:151-177)
and dbt/models/marts/fct_city_day.sql:1-11.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from endtoend_etl_openmeteo_spark import fsio
from endtoend_etl_openmeteo_spark.operators.dq import REFERENCE_WEATHER_SUITE, dq_gate
from endtoend_etl_openmeteo_spark.operators.explode import (
    flatten_validation_records,
    parse_time,
    unzip_hourly,
)
from endtoend_etl_openmeteo_spark.operators.merge import (
    leaf_path,
    merge_upsert,
    read_partitions,
)
from endtoend_etl_openmeteo_spark.schemas import (
    FCT_CITY_DAY_SCHEMA,
    WEATHER_HOURLY_SCHEMA,
)
from endtoend_etl_openmeteo_spark.sources.bronze import read_bronze

#: The partition column of silver and gold (module docstring).
MONTH = "ym"


def month_of(ts: Column) -> Column:
    """``ts``'s calendar month as ``yyyy-MM`` in the session time zone
    (pinned UTC): the value of :data:`MONTH`."""
    return F.date_format(ts, "yyyy-MM")


#: Silver as stored: the hourly rows plus their month.
SILVER_SCHEMA = T.StructType(
    WEATHER_HOURLY_SCHEMA.fields + [T.StructField(MONTH, T.StringType())]
)
#: Gold as stored: the mart with ``city`` as its last data column, plus the
#: month. :func:`read_gold` returns the first five, the columns (and order)
#: ``run_elt`` and ``backfill_missing`` return.
GOLD_SCHEMA = T.StructType(
    [f for f in FCT_CITY_DAY_SCHEMA.fields if f.name != "city"]
    + [FCT_CITY_DAY_SCHEMA["city"], T.StructField(MONTH, T.StringType())]
)


def fct_city_day(silver: DataFrame) -> DataFrame:
    """The gold mart: GROUP BY city, day with three AVGs — exactly what the
    shipped model computes (fct_city_day.sql:2-10; parity target is the
    code, not the docs — SURVEY §8 D3)."""
    return silver.groupBy(
        "city", F.date_trunc("day", F.col("timestamp")).alias("day")
    ).agg(
        F.avg("temperature_2m").alias("temperature_2m"),
        F.avg("precipitation").alias("precipitation"),
        F.avg("wind_speed_10m").alias("wind_speed_10m"),
    )


def fct_city_day_full(silver: DataFrame) -> DataFrame:
    """The docs' extended mart (docs/dashboard.md:89-95, D3):
    min/max/avg temperature, precipitation sum, wind max — one pass."""
    return silver.groupBy(
        "city", F.date_trunc("day", F.col("timestamp")).alias("day")
    ).agg(
        F.avg("temperature_2m").alias("temperature_avg"),
        F.min("temperature_2m").alias("temperature_min"),
        F.max("temperature_2m").alias("temperature_max"),
        F.sum("precipitation").alias("precipitation_sum"),
        F.max("wind_speed_10m").alias("wind_speed_max"),
    )


def run_elt(
    spark: SparkSession,
    bronze_path: str,
    silver_path: str,
    gold_path: str | None = None,
    policy: str = "nullpad",
    time_range: tuple[str, str] | None = None,
    ingested_at: Column | None = None,
) -> DataFrame:
    """One ELT cycle: read bronze → validate (raises on DQ failure, T6) →
    flatten → optional half-open window filter (F1) → merge into silver
    (last-write-wins on (city, timestamp), T4) → rebuild gold mart.

    Idempotent under re-runs and overlapping windows (T2): the merge
    reconciles duplicates exactly like the reference's ON CONFLICT loader.
    Returns the gold DataFrame.

    The batch's months are observed by the gate's own scan of the
    validation records, parsing ``time`` as the explode does. After a
    passing gate every record has a non-null ``time``, so under
    ``nullpad`` with no ``time_range`` they are exactly ``hourly``'s
    months and no separate collect runs. With ``time_range`` or
    ``truncate`` a month can be left with no rows, and its silver and gold
    partitions must not be rewritten to change nothing, so the months are
    collected from ``hourly`` instead.
    """
    raw = read_bronze(spark, bronze_path)

    # validate BEFORE load — failure blocks the load (etl_openmeteo.py:135-149)
    parts = _validate(spark, raw)
    if time_range is not None or policy != "nullpad":
        parts = None

    hourly = unzip_hourly(raw, policy=policy, ingested_at=ingested_at)
    if time_range is not None:
        start, end = time_range
        hourly = hourly.filter(
            (F.col("timestamp") >= F.lit(start)) & (F.col("timestamp") < F.lit(end))
        )

    return _load_and_refresh(spark, hourly, silver_path, gold_path, parts)


def _validate(spark: SparkSession, raw: DataFrame) -> list | None:
    """Gate ``raw``'s validation records with the reference suite (raises
    DQValidationError) and return the batch's months, observed by the
    gate's own scan.

    The months are ``Row(ym=...)``s, as ``select(MONTH).distinct()
    .collect()`` returns them. ``time`` is parsed exactly as
    ``unzip_hourly`` parses it, so the observed set is the batch's; the
    lenient parse gives a malformed time a NULL month here, and the
    merge's strict parse still raises on it. The month observation is
    registered before the gate's own, so it is normally filled by the
    time the gate's ``obs.get`` returns. It stays empty only when no
    action ran over the records (a gate replaced by a no-op, say); the
    listener bus is then given a bounded drain before None is returned,
    and the caller collects the months itself."""
    obs = Observation()
    month = month_of(parse_time(F.col("time"), strict=False)).alias(MONTH)
    records = flatten_validation_records(raw).observe(
        obs, F.collect_set(F.struct(month)).alias("months")
    )
    dq_gate(records, REFERENCE_WEATHER_SUITE)
    if not obs._jo.getRowOrEmpty().isDefined():
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Py4JJavaError:
            pass  # bus still busy: fall back to the caller's collect
        if not obs._jo.getRowOrEmpty().isDefined():
            return None
    return obs.get["months"]


def _load_and_refresh(
    spark: SparkSession,
    hourly: DataFrame,
    silver_path: str,
    gold_path: str | None,
    parts: list | None,
) -> DataFrame:
    """Merge ``hourly`` into silver's month partitions, then refresh gold
    for the months it touched (or return the mart over silver when there
    is no gold table).

    ``parts`` is the batch's months as ``Row(ym=...)``s; when it is None
    they are collected here, once. Either way they are shared by the
    merge's partition scope and the gold refresh. Silver and gold are read
    with known schemas, so no footer-inference job runs."""
    batch = hourly.withColumn(MONTH, month_of(F.col("timestamp")))
    if parts is None:
        parts = batch.select(MONTH).distinct().collect()
    merge_upsert(
        spark,
        batch,
        silver_path,
        keys=["city", "timestamp"],
        order_col="_ingested_at",
        partition_cols=[MONTH],
        batch_parts=parts,
    )
    if gold_path is None:
        return fct_city_day(spark.read.schema(SILVER_SCHEMA).parquet(silver_path))
    refresh_gold_incremental(
        spark, batch, silver_path, gold_path, touched=[r[MONTH] for r in parts]
    )
    return read_gold(spark, gold_path)


def read_gold(spark: SparkSession, gold_path: str) -> DataFrame:
    """The gold mart at ``gold_path``: ``day``, the three averages and
    ``city``, in that order, without the month partition column."""
    return spark.read.schema(GOLD_SCHEMA).parquet(gold_path).drop(MONTH)


def backfill_missing(
    spark: SparkSession,
    silver_path: str,
    bronze_path: str,
    start,
    end,
    fetch_hours,
    city_dim: DataFrame | None = None,
    chunk_size: int = 24,
    gold_path: str | None = None,
) -> DataFrame:
    """The weekly backfill flow (SURVEY §3.3, backfill_openmeteo.py:244-248):
    identify_gaps → extract_missing (chunked) → validate → load.

    ``fetch_hours(city, [datetime, ...]) -> payload dict`` is injected — the
    HTTP client in production (sources.http), a fixture in tests; fetching
    stays driver-side by design. Batches are ≤``chunk_size`` hours per call,
    mirroring the API chunking of backfill_openmeteo.py:119-124. Gap
    detection uses the REAL timestamp column, fixing the reference's
    timestamp_utc bug (SURVEY §8 D1) by construction.

    Only the NEWLY FETCHED payloads are validated and merged — backfilling
    one missing day must not re-scan, re-validate, or re-merge the whole
    bronze corpus (and a historical DQ violation must not block a good
    backfill). The payloads are still archived to ``bronze_path`` so the
    bronze layer stays the complete record.

    Returns the refreshed gold mart. Idempotent: re-running after a full
    backfill finds no gaps and changes nothing.
    """
    from endtoend_etl_openmeteo_spark.operators.gaps import (
        chunk_hours,
        find_missing_hours,
    )
    from endtoend_etl_openmeteo_spark.sources.bronze import write_bronze
    from endtoend_etl_openmeteo_spark.sources.http import payloads_to_df

    silver = spark.read.schema(SILVER_SCHEMA).parquet(silver_path)
    missing = find_missing_hours(silver, start, end, ["city"], keys=city_dim)
    batches = chunk_hours(missing, ["city"], chunk_size=chunk_size).collect()

    by_batch: dict[tuple, list] = {}
    for row in batches:
        by_batch.setdefault((row.city, row.batch_id), []).append(row.expected_hour)

    payloads = []
    for (city, _bid), hours in sorted(by_batch.items()):
        payload = fetch_hours(city, sorted(hours))
        if payload and (payload.get("hourly") or {}).get("time"):
            payloads.append((city, payload))

    if payloads:
        raw = payloads_to_df(spark, payloads)
        write_bronze(raw, bronze_path)  # archive; processing uses `raw` directly
        parts = _validate(spark, raw)
        return _load_and_refresh(spark, unzip_hourly(raw), silver_path, gold_path, parts)
    if gold_path is not None:
        return read_gold(spark, gold_path)
    return fct_city_day(silver)


def refresh_gold_incremental(
    spark: SparkSession,
    batch: DataFrame,
    silver_path: str,
    gold_path: str,
    touched: list | None = None,
) -> None:
    """Rebuild the gold mart ONLY for the months the batch touched.

    The reference recomputes the whole mart on every dbt run
    (fct_city_day.sql materialized='table'); at 100 TB that full rebuild is
    the scale killer — an hourly batch must not re-aggregate years of
    history. Touched months (``yyyy-MM`` strings) come from ``touched``, or
    from the batch's ``timestamp`` when the caller has none. Only those
    months' silver leaf directories are listed and read, every
    ``(city, day)`` in them is re-aggregated, and dynamic partition
    overwrite replaces only those months' gold partitions. A missing gold
    table is built from all of silver.
    """
    if touched is None:
        touched = [
            r[0] for r in batch.select(month_of(F.col("timestamp"))).distinct().collect()
        ]
    if not touched:
        return  # empty batch: no partition to refresh
    if not fsio.exists(spark, gold_path):
        silver = spark.read.schema(SILVER_SCHEMA).parquet(silver_path)
        _gold_rows(silver).write.mode("overwrite").partitionBy(MONTH).parquet(gold_path)
        return
    leaves = {leaf_path(spark, [MONTH], {MONTH: m}) for m in touched}
    silver = read_partitions(spark, silver_path, SILVER_SCHEMA, leaves)
    if silver is None:
        return  # no silver rows in those months: gold has none either
    # No materialization needed: the plan reads silver_path only — the gold
    # write never overwrites its own input.
    # Dynamic overwrite pinned on THIS writer, not trusted from the session:
    # under Spark's static default, overwrite+partitionBy would delete every
    # month partition the batch did not touch.
    (
        _gold_rows(silver).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(MONTH)
        .parquet(gold_path)
    )


def _gold_rows(silver: DataFrame) -> DataFrame:
    """:func:`fct_city_day` over ``silver`` in gold's stored column order."""
    mart = fct_city_day(silver).withColumn(MONTH, month_of(F.col("day")))
    return mart.select(*GOLD_SCHEMA.fieldNames())
