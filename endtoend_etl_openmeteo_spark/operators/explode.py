"""Struct-of-arrays → rows: the reference's unzip/explode step (SURVEY.md
§2.2 P1-P3).

The raw Open-Meteo payload stores hourly data as parallel arrays under
``hourly`` (columnar-within-a-file). The reference has TWO ragged-array
policies and we implement both:

- ``truncate`` — keep only fully-paired indices, ``n = min(len(...))``
  (``ingestion/loader/load_to_postgres.py:83-86``);
- ``nullpad`` — pad short arrays with null (``airflow/dags/
  etl_openmeteo.py:82-85``) — which is exactly ``arrays_zip``'s built-in
  semantics.

Everything is JVM array expressions inside whole-stage codegen: one narrow
projection, no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MEASURES = ("temperature_2m", "precipitation", "wind_speed_10m")


def _zip_hourly(policy: str) -> Column:
    time_arr = F.col("hourly.time")
    # A NULL measure array (payload missing the key entirely) reads as
    # EMPTY, not as poison: arrays_zip returns NULL when ANY input is
    # NULL, which would silently vanish the whole payload under both
    # policies — nullpad must emit every hour with null measures (the
    # reference pads missing values with None) and truncate must
    # truncate to the shortest array, which an absent one makes 0. A
    # NULL time array still drops the payload (no spine to explode —
    # the F4 empty-input guard).
    measures = [
        F.coalesce(F.col(f"hourly.{m}"), F.array()) for m in MEASURES
    ]
    if policy == "nullpad":
        arrays = [time_arr] + measures
    elif policy == "truncate":
        n = F.least(F.size(time_arr), *[F.size(m) for m in measures])
        arrays = [F.slice(time_arr, 1, n)] + [F.slice(m, 1, n) for m in measures]
    else:
        raise ValueError(f"unknown ragged-array policy {policy!r}")
    aliased = [arrays[0].alias("time")] + [
        a.alias(m) for a, m in zip(arrays[1:], MEASURES)
    ]
    return F.arrays_zip(*aliased)


def parse_time(time: Column, strict: bool = True) -> Column:
    """An hourly ``time`` string as a timestamp. ``strict=False`` gives NULL
    for a malformed string where the strict parse raises (ANSI mode).

    X8 parity: the reference normalizes trailing 'Z' before fromisoformat
    (etl_openmeteo.py:66). With the session timezone pinned UTC (engine
    conf), a Z-suffixed instant and the bare string denote the same value,
    and bare strings parse at any precision (Spark rejects minute-precision
    strings with an explicit offset, so stripping beats rewriting)."""
    bare = F.regexp_replace(time, "Z$", "")
    return F.to_timestamp(bare) if strict else F.try_to_timestamp(bare)


def unzip_hourly(
    raw: DataFrame,
    policy: str = "nullpad",
    city_col: str = "city",
    ingested_at: Column | None = None,
) -> DataFrame:
    """Flatten raw payloads to one row per (city, hour).

    Output: city, timestamp, temperature_2m, precipitation, wind_speed_10m,
    _ingested_at — the silver shape (schemas.WEATHER_HOURLY_SCHEMA).

    Timestamp parsing normalizes ``Z``-suffixed ISO strings (SURVEY §2.7
    X8) — Spark's to_timestamp handles both naive and ``Z`` forms; the
    session timezone is pinned UTC so naive strings are read as UTC.
    Rows whose ``time`` entry is NULL are dropped (the empty-input guard
    F4); a MALFORMED time string raises (ANSI mode, pinned in engine
    conf) — exactly the reference's ``datetime.fromisoformat`` behavior
    (etl_openmeteo.py:66): bad data fails the run, it doesn't vanish.
    Null measures survive (they are data, not raggedness).
    """
    zipped = _zip_hourly(policy)
    exploded = raw.select(
        F.col(city_col).alias("city"),
        F.explode(zipped).alias("h"),
    )
    return exploded.select(
        "city",
        parse_time(F.col("h.time")).alias("timestamp"),
        *[F.col(f"h.{m}").cast("double").alias(m) for m in MEASURES],
    ).filter(F.col("timestamp").isNotNull()).withColumn(
        "_ingested_at", ingested_at if ingested_at is not None else F.current_timestamp()
    )


def flatten_validation_records(raw: DataFrame, city_col: str = "city") -> DataFrame:
    """Flatten raw payloads to the GE validation-record shape (SURVEY §1.3,
    FIXTURES.md A4): city, s3_uri, latitude, longitude, timezone, time,
    temperature_2m, precipitation, wind_speed_10m — one row per hourly point,
    null-pad policy (ge/validate_raw_weather.py:73-93 pads with None).
    """
    zipped = _zip_hourly("nullpad")
    return raw.select(
        F.col(city_col).alias("city"),
        F.input_file_name().alias("s3_uri"),
        "latitude",
        "longitude",
        "timezone",
        F.explode(zipped).alias("h"),
    ).select(
        "city",
        "s3_uri",
        "latitude",
        "longitude",
        "timezone",
        F.col("h.time").alias("time"),
        *[F.col(f"h.{m}").cast("double").alias(m) for m in MEASURES],
    )


def renest_hourly(rows: DataFrame) -> DataFrame:
    """Inverse of unzip: wrap flat rows back into the payload shape with
    singleton arrays (SURVEY §2.2 P4 — etl_openmeteo.py:76-86 writes one
    payload per (city, hour)). Used by the bronze writer."""
    return rows.select(
        "city",
        F.col("latitude"),
        F.col("longitude"),
        F.col("timezone"),
        F.struct(
            F.array(F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm")).alias("time"),
            *[F.array(F.col(m)).alias(m) for m in MEASURES],
        ).alias("hourly"),
        F.date_format("timestamp", "yyyy-MM-dd").alias("ds"),
        F.date_format("timestamp", "HH").alias("hour"),
    )
