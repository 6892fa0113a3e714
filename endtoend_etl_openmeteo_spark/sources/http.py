"""Open-Meteo HTTP source shape (SURVEY.md §2.1 S1/S2).

The reference fetches hourly observations driver-side
(`ingestion/extractor/openmeteo_client.py:12-61` in `/root/reference/`:
forecast endpoint with a half-open window, archive endpoint with inclusive
end + `timezone=auto`). The engine keeps HTTP OUT of executors by design —
ingestion parallelism at scale comes from many bronze files, not from
executor-side fetching — so this module is:

1. request construction + driver-side fetch (stdlib urllib, gated so the
   engine works fully offline), and
2. `payloads_to_df` — the seam where fetched payloads enter Spark with the
   explicit raw schema, as a JVM local relation (`session.local_rows`):
   `write_bronze`, the DQ gate and the merge then scan the batch without
   a Python worker.
"""

from __future__ import annotations

import datetime as dt
import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from endtoend_etl_openmeteo_spark.session import local_rows
from endtoend_etl_openmeteo_spark.sources.bronze import BRONZE_READ_SCHEMA

FORECAST_URL = "https://api.open-meteo.com/v1/forecast"
ARCHIVE_URL = "https://archive-api.open-meteo.com/v1/archive"
#: Fixed hourly variable set (openmeteo_client.py:6-9).
HOURLY_VARS = "temperature_2m,precipitation,wind_speed_10m"


def build_request_url(
    lat: float,
    lon: float,
    start: dt.datetime,
    end: dt.datetime,
    archive: bool = False,
) -> str:
    """Request URL for a city/window — forecast uses date params with a
    half-open window handled by the caller's filter (F1); archive is
    end-inclusive with timezone=auto (S2)."""
    from urllib.parse import urlencode

    params = {
        "latitude": lat,
        "longitude": lon,
        "hourly": HOURLY_VARS,
        "start_date": start.strftime("%Y-%m-%d"),
        "end_date": end.strftime("%Y-%m-%d"),
    }
    if archive:
        return f"{ARCHIVE_URL}?{urlencode({**params, 'timezone': 'auto'})}"
    return f"{FORECAST_URL}?{urlencode(params)}"


def fetch_payload(url: str, timeout_s: float = 30.0) -> dict[str, Any]:
    """Driver-side GET → parsed JSON payload. Offline environments get a
    clear error instead of an import/runtime surprise."""
    from urllib.request import urlopen

    try:
        with urlopen(url, timeout=timeout_s) as resp:  # noqa: S310 (https only)
            return json.loads(resp.read())
    except Exception as e:  # pragma: no cover - no network in CI
        raise ConnectionError(
            f"open-meteo fetch failed (offline environment?): {url}"
        ) from e


def payloads_to_df(
    spark: SparkSession, payloads: list[tuple[str, dict[str, Any]]]
) -> DataFrame:
    """(city, payload-dict) pairs → bronze-shaped local relation (explicit
    raw schema §1.2 + city/ds/hour partition columns derived from the first
    hourly timestamp, mirroring s3_writer.py:59-61). Integer JSON numbers
    become doubles, as ``read_bronze`` reads them."""
    rows = []
    for city, p in payloads:
        hourly = p.get("hourly") or {}
        times = hourly.get("time") or []
        first = times[0] if times else None
        ds = first[:10] if first else None
        hour = first[11:13] if first and len(first) >= 13 else None
        rows.append(
            (
                p.get("latitude"),
                p.get("longitude"),
                p.get("timezone"),
                {
                    "time": times,
                    "temperature_2m": hourly.get("temperature_2m") or [],
                    "precipitation": hourly.get("precipitation") or [],
                    "wind_speed_10m": hourly.get("wind_speed_10m") or [],
                },
                city,
                ds,
                hour,
            )
        )
    return local_rows(spark, rows, BRONZE_READ_SCHEMA)
