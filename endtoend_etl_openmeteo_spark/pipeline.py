"""The reference's ELT pipeline, Spark-first (SURVEY.md §3.1):

    extract → validate → load → transform

collapses into one function call: bronze JSON scan → flatten → DQ gate →
partition-scoped merge into silver → daily mart. The reference's process
boundaries (Airflow tasks, XCom, psycopg2) become Spark job boundaries. A
warm cycle into existing silver and gold runs five jobs: the gate's scan
(which also observes the batch's cities), the merge's staged write (two
under AQE) and the gold refresh's write (two). The only shuffles are the
merge's key dedup and the mart's groupBy.

Reference lifecycle traced at /root/reference/airflow/dags/
etl_openmeteo.py:179-183 (extract:20-109, validate:111-149, load:151-177)
and dbt/models/marts/fct_city_day.sql:1-11.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.operators.dq import REFERENCE_WEATHER_SUITE, dq_gate
from endtoend_etl_openmeteo_spark.operators.explode import (
    flatten_validation_records,
    unzip_hourly,
)
from endtoend_etl_openmeteo_spark.operators.merge import merge_upsert
from endtoend_etl_openmeteo_spark.schemas import (
    FCT_CITY_DAY_SCHEMA,
    WEATHER_HOURLY_SCHEMA,
)
from endtoend_etl_openmeteo_spark.sources.bronze import read_bronze


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

    The batch's cities are observed by the gate's own scan of the
    validation records. After a passing gate every record has a non-null
    ``time``, so under ``nullpad`` with no ``time_range`` they are exactly
    ``hourly``'s cities and no separate collect runs. With ``time_range``
    or ``truncate`` a city can be left with no rows, and its silver and
    gold partitions must not be rewritten to change nothing, so the
    cities are collected from ``hourly`` instead.
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
    DQValidationError) and return the batch's cities, observed by the
    gate's own scan.

    The cities are ``Row(city=...)``s, as ``select("city").distinct()
    .collect()`` returns them; the struct keeps a NULL city, which a bare
    ``collect_set`` would drop. The city observation is registered before
    the gate's own, so it is normally filled by the time the gate's
    ``obs.get`` returns. It stays empty only when no action ran over the
    records (a gate replaced by a no-op, say); the listener bus is then
    given a bounded drain before None is returned, and the caller
    collects the cities itself."""
    obs = Observation()
    records = flatten_validation_records(raw).observe(
        obs, F.collect_set(F.struct("city")).alias("cities")
    )
    dq_gate(records, REFERENCE_WEATHER_SUITE)
    if not obs._jo.getRowOrEmpty().isDefined():
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Py4JJavaError:
            pass  # bus still busy: fall back to the caller's collect
        if not obs._jo.getRowOrEmpty().isDefined():
            return None
    return obs.get["cities"]


def _load_and_refresh(
    spark: SparkSession,
    hourly: DataFrame,
    silver_path: str,
    gold_path: str | None,
    parts: list | None,
) -> DataFrame:
    """Merge ``hourly`` into silver, then refresh gold for the cities it
    touched (or return the mart over silver when there is no gold table).

    ``parts`` is the batch's cities as ``Row(city=...)``s; when it is None
    they are collected here, once. Either way they are shared by the merge's
    partition scope and the gold refresh. Silver and gold are read with
    known schemas — the batch's own and FCT_CITY_DAY_SCHEMA — so no
    footer-inference job runs; partition discovery still appends ``city``
    last, as an inferring read would."""
    if parts is None:
        parts = hourly.select("city").distinct().collect()
    merge_upsert(
        spark,
        hourly,
        silver_path,
        keys=["city", "timestamp"],
        order_col="_ingested_at",
        partition_cols=["city"],
        batch_parts=parts,
    )
    silver = spark.read.schema(hourly.schema).parquet(silver_path)
    if gold_path is None:
        return fct_city_day(silver)
    refresh_gold_incremental(
        spark, hourly, silver, gold_path, touched=[r.city for r in parts]
    )
    return spark.read.schema(FCT_CITY_DAY_SCHEMA).parquet(gold_path)


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

    silver = spark.read.schema(WEATHER_HOURLY_SCHEMA).parquet(silver_path)
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
        return spark.read.schema(FCT_CITY_DAY_SCHEMA).parquet(gold_path)
    return fct_city_day(silver)


def refresh_gold_incremental(
    spark: SparkSession,
    batch: DataFrame,
    silver: DataFrame,
    gold_path: str,
    touched: list | None = None,
) -> None:
    """Rebuild the gold mart ONLY for the city partitions the batch touched.

    The reference recomputes the whole mart on every dbt run
    (fct_city_day.sql materialized='table'); at 100 TB that full rebuild is
    the scale killer — a 24-row hourly batch must not re-aggregate years of
    history. Touched cities come from the batch (small by construction) —
    or from ``touched`` when the caller already has them; partition
    pruning limits the silver re-read, and dynamic partition overwrite
    replaces only those cities' gold partitions.
    """
    from endtoend_etl_openmeteo_spark.operators.merge import _path_exists

    if touched is None:
        touched = [r.city for r in batch.select("city").distinct().collect()]
    if not touched:
        return  # empty batch: no partition to refresh
    if not _path_exists(spark, gold_path):
        fct_city_day(silver).write.mode("overwrite").partitionBy("city").parquet(
            gold_path
        )
        return
    # eqNullSafe fold, not isin(): IN against a NULL element matches
    # nothing, so a NULL-city batch (whose rows merge_upsert deliberately
    # preserves in silver's __HIVE_DEFAULT_PARTITION__) would leave the
    # gold mart's null-city partition silently stale forever
    pred = None
    for c in touched:
        eq = F.col("city").eqNullSafe(F.lit(c))
        pred = eq if pred is None else (pred | eq)
    scoped = silver.filter(pred)
    # No materialization needed: the plan reads silver_path only — the gold
    # write never overwrites its own input (localCheckpoint here would add an
    # unreplicated-block availability risk on a real cluster for nothing).
    updated = fct_city_day(scoped)
    # Dynamic overwrite pinned on THIS writer, not trusted from the session:
    # under Spark's static default, overwrite+partitionBy would delete every
    # city partition the batch did not touch.
    (
        updated.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("city")
        .parquet(gold_path)
    )
