"""Bronze layer: partitioned JSON payloads (SURVEY.md §2.1 S3/S6, §1.1).

The reference writes one JSON object per (city, hour) under Hive-style keys
``weather/{city}/ds=YYYY-MM-DD/hour=HH/...`` (``ingestion/extractor/
s3_writer.py:59-61``). In Spark that layout IS the table: partition
discovery turns the key scheme into prunable columns, so a per-city or
per-day read never lists the rest of the corpus.

The HTTP fetch itself (S1/S2) is a driver-side concern: a batch of API
payloads enters the engine as a local relation
(``sources.http.payloads_to_df``) or a JSON fixture directory — the
engine is deliberately source-agnostic past that point (no HTTP inside
executors; at scale ingestion parallelism comes from many small files,
which the file index handles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from endtoend_etl_openmeteo_spark.schemas import RAW_OPENMETEO_SCHEMA

#: Bronze partition columns, mirroring the reference's key scheme.
BRONZE_PARTITIONS = ("city", "ds", "hour")

#: Read schema = payload schema + partition columns appended by discovery.
BRONZE_READ_SCHEMA = T.StructType(
    RAW_OPENMETEO_SCHEMA.fields
    + [
        T.StructField("city", T.StringType()),
        T.StructField("ds", T.StringType()),
        T.StructField("hour", T.StringType()),
    ]
)


def write_bronze(payloads: DataFrame, path: str, mode: str = "append") -> None:
    """Write payload rows (schema §1.2 + city/ds/hour columns) as
    Hive-partitioned JSON — the S3 sink S3 re-expressed."""
    payloads.write.mode(mode).partitionBy(*BRONZE_PARTITIONS).json(path)


def read_bronze(spark: SparkSession, path: str) -> DataFrame:
    """Read the bronze table with the explicit payload schema (never
    inferred, SURVEY §1.4) + automatic partition discovery."""
    return spark.read.schema(BRONZE_READ_SCHEMA).json(path)


def read_bronze_tolerant(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Corrupt-tolerant bronze read: (good_rows, bad_rows).

    A 100 TB raw-JSON landing zone always contains some malformed lines
    (truncated uploads, encoding damage); FAILFAST would kill the job on
    the first one and silent DROPMALFORMED hides data loss. PERMISSIVE
    mode captures each unparseable line verbatim in ``_corrupt_record``;
    the caller quarantines ``bad`` (same pattern as the streaming DQ
    quarantine) while ``good`` flows on with the declared schema.

    CALLER OWNS THE CACHE RELEASE: both returned frames share one
    ``cache()`` of the raw parse (required for corrupt-record capture,
    and it keeps the good/bad double consumption to one parse). After
    both sides are consumed, run
    ``session.release_persistent_rdds(spark)`` (the suite drivers'
    pattern; the cached frame itself is internal, so a plain
    ``unpersist()`` on the returned children cannot reach it) — a
    long-lived driver calling this per batch otherwise pins one parsed
    copy of the landing zone per call for the session's life.
    """
    schema = T.StructType(
        BRONZE_READ_SCHEMA.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        # PERMISSIVE corrupt-capture requires materializing the raw column
        # before it can be filtered (SPARK-38431: referencing only the
        # corrupt column in a filter over an unmaterialized scan throws) —
        # cache() keeps the double consumption to one parse.
        .cache()
    )
    good = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = raw.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, bad
