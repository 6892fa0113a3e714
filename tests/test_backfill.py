"""End-to-end backfill flow (SURVEY §3.3): gaps found, fetched in chunks,
validated, merged; idempotent once complete."""

import datetime as dt
import shutil
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.pipeline import MONTH, backfill_missing, month_of
from endtoend_etl_openmeteo_spark.schemas import WEATHER_HOURLY_SCHEMA

TMP = Path(__file__).resolve().parent.parent / ".tmp"


@pytest.fixture()
def workdir():
    d = TMP / f"bf_{uuid.uuid4().hex[:8]}"
    d.mkdir(parents=True, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_backfill_fills_gaps_then_idempotent(spark, workdir):
    base = dt.datetime(2025, 10, 1)
    ing = dt.datetime(2025, 10, 2)
    rows = [
        ("Warsaw", base + dt.timedelta(hours=h), 10.0, 0.0, 5.0, ing)
        for h in range(24)
        if h not in (3, 4, 20)  # three gaps
    ]
    silver = str(workdir / "silver")
    spark.createDataFrame(rows, WEATHER_HOURLY_SCHEMA).withColumn(
        MONTH, month_of(F.col("timestamp"))
    ).write.partitionBy(MONTH).parquet(silver)

    calls = []

    def fake_fetch(city, hours):
        calls.append((city, tuple(hours)))
        return {
            "latitude": 52.23,
            "longitude": 21.01,
            "timezone": "Europe/Berlin",
            "hourly": {
                "time": [h.strftime("%Y-%m-%dT%H:%M") for h in hours],
                "temperature_2m": [42.0] * len(hours),
                "precipitation": [0.0] * len(hours),
                "wind_speed_10m": [1.0] * len(hours),
            },
        }

    gold = backfill_missing(
        spark,
        silver,
        str(workdir / "bronze"),
        base,
        base + dt.timedelta(hours=23),
        fake_fetch,
        chunk_size=2,
    )
    # 3 missing hours in chunks of <=2 -> 2 fetch calls
    assert [len(h) for _, h in calls] == [2, 1]
    assert spark.read.parquet(silver).count() == 24
    filled = (
        spark.read.parquet(silver)
        .filter(F.hour("timestamp").isin(3, 4, 20))
        .collect()
    )
    assert all(r.temperature_2m == 42.0 for r in filled)
    # mart reflects backfilled hours
    assert gold.count() == 1

    # idempotent: second run finds nothing, fetches nothing
    calls.clear()
    backfill_missing(
        spark,
        silver,
        str(workdir / "bronze2"),
        base,
        base + dt.timedelta(hours=23),
        fake_fetch,
    )
    assert calls == []
    assert spark.read.parquet(silver).count() == 24
