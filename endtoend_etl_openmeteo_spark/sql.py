"""SQL facade: the engine's `spark.sql` surface.

The reference's users query Postgres/dbt with plain SQL (README.md:294-314,
docs/dashboard.md:57-95 in /root/reference/); this module gives the same
entry point on Spark — register the star schema (and optionally the weather
tables) as views, then run ANSI SQL through Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from endtoend_etl_openmeteo_spark.pipeline import MONTH
from endtoend_etl_openmeteo_spark.session import ensure_engine_conf
from endtoend_etl_openmeteo_spark.sources.tables import TABLES, tbl


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every synthetic table as a temp view; returns the names."""
    ensure_engine_conf(spark)
    for name in TABLES:
        tbl(spark, sf_dir, name).createOrReplaceTempView(name)
    return list(TABLES)


def register_weather_views(
    spark: SparkSession,
    silver_path: str,
    gold_path: str | None = None,
) -> None:
    """Register the weather tables the way dbt exposes its models:
    `weather_hourly` (silver source), `stg_weather_hourly` (typed staging
    view — dbt/models/staging/stg_weather_hourly.sql:1-7) and, if present,
    `fct_city_day`. The month partition column of the pipeline's tables
    is left out, as the dbt models have none."""
    ensure_engine_conf(spark)
    silver = spark.read.parquet(silver_path).drop(MONTH)
    silver.createOrReplaceTempView("weather_hourly")
    spark.sql(
        """
        SELECT city, timestamp,
               CAST(temperature_2m AS DOUBLE) AS temperature_2m,
               CAST(precipitation AS DOUBLE) AS precipitation,
               CAST(wind_speed_10m AS DOUBLE) AS wind_speed_10m
        FROM weather_hourly
        """
    ).createOrReplaceTempView("stg_weather_hourly")
    if gold_path is not None:
        spark.read.parquet(gold_path).drop(MONTH).createOrReplaceTempView(
            "fct_city_day"
        )


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """One-shot: register views then run the query."""
    register_views(spark, sf_dir)
    return spark.sql(query)


def register_versioned_view(
    spark: SparkSession,
    table: str,
    name: str,
    version: int | None = None,
) -> None:
    """Expose a versioned-table snapshot to the SQL surface: resolves ONE
    manifest (latest, or ``version`` for time travel) and registers the
    pinned scan as a temp view — concurrent commits/compactions cannot
    change what the view reads (snapshot isolation carried into
    `spark.sql`)."""
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_read

    ensure_engine_conf(spark)
    vt_read(spark, table, version=version).createOrReplaceTempView(name)
