"""Weather-domain parity tests (FIXTURES.md A1-A6, SURVEY.md §7 steps 1-5).

Covers: bronze partitioned JSON round-trip, both ragged-array policies,
merge_upsert last-write-wins + idempotency, gap detection, and the full
bronze→silver→gold ELT including the blocking DQ gate.
"""

import datetime as dt
import shutil
import uuid
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.operators.dq import DQValidationError
from endtoend_etl_openmeteo_spark.operators.explode import unzip_hourly
from endtoend_etl_openmeteo_spark.operators.gaps import (
    chunk_hours,
    filter_new_files,
    find_missing_hours,
)
from endtoend_etl_openmeteo_spark.operators.merge import merge_upsert
from endtoend_etl_openmeteo_spark.pipeline import fct_city_day, run_elt
from endtoend_etl_openmeteo_spark.schemas import (
    RAW_OPENMETEO_SCHEMA,
    WEATHER_HOURLY_SCHEMA,
)
from endtoend_etl_openmeteo_spark.sources.bronze import (
    BRONZE_READ_SCHEMA,
    read_bronze,
    write_bronze,
)

TMP = Path(__file__).resolve().parent.parent / ".tmp"


@pytest.fixture()
def workdir():
    d = TMP / uuid.uuid4().hex[:8]
    d.mkdir(parents=True, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _payload(city, ds, hour, times, temps, precips, winds, lat=52.23, lon=21.01):
    return Row(
        latitude=lat,
        longitude=lon,
        timezone="Europe/Berlin",
        hourly=Row(
            time=times, temperature_2m=temps, precipitation=precips, wind_speed_10m=winds
        ),
        city=city,
        ds=ds,
        hour=hour,
    )


def _bronze_df(spark, rows):
    return spark.createDataFrame(rows, BRONZE_READ_SCHEMA)


GOOD_ROWS = [
    _payload("Warsaw", "2025-10-31", "12", ["2025-10-31T12:00"], [15.5], [0.0], [5.2]),
    _payload("Berlin", "2025-10-31", "12", ["2025-10-31T12:00Z"], [16.8], [2.5], [8.1],
             lat=52.52, lon=13.41),
    # multi-hour as-fetched form
    _payload(
        "Paris", "2025-10-31", "00",
        [f"2025-10-31T{h:02d}:00" for h in range(4)],
        [10.0, 11.0, 12.0, 13.0], [0.0, 0.1, 0.0, 0.2], [3.0, 3.5, 4.0, 4.5],
        lat=48.86, lon=2.35,
    ),
]


def test_bronze_roundtrip_partition_discovery(spark, workdir):
    path = str(workdir / "bronze")
    write_bronze(_bronze_df(spark, GOOD_ROWS), path)
    back = read_bronze(spark, path)
    assert back.count() == 3
    assert set(r.city for r in back.select("city").distinct().collect()) == {
        "Warsaw", "Berlin", "Paris",
    }
    # partition pruning: a city filter must not scan other partitions
    plan = back.filter(F.col("city") == "Warsaw")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_unzip_nullpad_vs_truncate_ragged(spark):
    # measure arrays shorter than time: 3 hours, 2 temps, 1 precip, 3 winds
    ragged = _bronze_df(
        spark,
        [
            _payload(
                "Warsaw", "2025-10-01", "00",
                ["2025-10-01T00:00", "2025-10-01T01:00", "2025-10-01T02:00"],
                [1.0, 2.0], [0.5], [7.0, 8.0, 9.0],
            )
        ],
    )
    at = F.lit("2025-10-01 03:00:00").cast("timestamp")

    padded = unzip_hourly(ragged, policy="nullpad", ingested_at=at).orderBy("timestamp")
    rows = padded.collect()
    assert len(rows) == 3  # padded to len(time)
    assert rows[2].temperature_2m is None and rows[2].precipitation is None
    assert rows[2].wind_speed_10m == 9.0

    truncated = unzip_hourly(ragged, policy="truncate", ingested_at=at)
    assert truncated.count() == 1  # min(3, 2, 1, 3)


def test_unzip_z_suffix_and_empty_guard(spark):
    df = _bronze_df(
        spark,
        [
            _payload("Berlin", "2025-10-01", "00", ["2025-10-01T05:00Z"], [1.0], [0.0], [2.0]),
            _payload("Paris", "2025-10-01", "00", [], [], [], []),  # F4 guard
        ],
    )
    out = unzip_hourly(df, ingested_at=F.lit("2025-10-01").cast("timestamp")).collect()
    assert len(out) == 1
    assert out[0].timestamp == dt.datetime(2025, 10, 1, 5, 0)


def _silver_rows():
    base = dt.datetime(2025, 10, 1, 0, 0)
    ing = dt.datetime(2025, 10, 2, 0, 0)
    rows = []
    for city in ("Warsaw", "Berlin"):
        for h in range(48):
            if city == "Warsaw" and h in (5, 6, 30):  # deliberate gaps
                continue
            rows.append(
                (city, base + dt.timedelta(hours=h), 10.0 + h % 10, 0.1, 5.0, ing)
            )
    return rows


def test_merge_upsert_last_write_wins_and_idempotent(spark, workdir):
    path = str(workdir / "silver")
    t0 = dt.datetime(2025, 10, 1, 12, 0)
    first = spark.createDataFrame(
        [("Warsaw", t0, 10.0, 0.0, 1.0, dt.datetime(2025, 10, 1, 13, 0))],
        WEATHER_HOURLY_SCHEMA,
    )
    merge_upsert(spark, first, path, ["city", "timestamp"], "_ingested_at", ["city"])
    assert spark.read.parquet(path).count() == 1

    # newer ingest for the same key overwrites (T4 last-write-wins)
    newer = spark.createDataFrame(
        [("Warsaw", t0, 99.0, 0.0, 1.0, dt.datetime(2025, 10, 1, 14, 0))],
        WEATHER_HOURLY_SCHEMA,
    )
    merge_upsert(spark, newer, path, ["city", "timestamp"], "_ingested_at", ["city"])
    got = spark.read.parquet(path).collect()
    assert len(got) == 1 and got[0].temperature_2m == 99.0

    # OLDER ingest must NOT overwrite
    older = spark.createDataFrame(
        [("Warsaw", t0, -5.0, 0.0, 1.0, dt.datetime(2025, 10, 1, 10, 0))],
        WEATHER_HOURLY_SCHEMA,
    )
    merge_upsert(spark, older, path, ["city", "timestamp"], "_ingested_at", ["city"])
    got = spark.read.parquet(path).collect()
    assert len(got) == 1 and got[0].temperature_2m == 99.0

    # idempotency: same batch twice ⇒ identical table
    merge_upsert(spark, newer, path, ["city", "timestamp"], "_ingested_at", ["city"])
    assert spark.read.parquet(path).count() == 1

    # merge of an unrelated partition doesn't disturb existing ones
    other = spark.createDataFrame(
        [("Berlin", t0, 7.0, 0.0, 1.0, dt.datetime(2025, 10, 1, 14, 0))],
        WEATHER_HOURLY_SCHEMA,
    )
    merge_upsert(spark, other, path, ["city", "timestamp"], "_ingested_at", ["city"])
    final = {(r.city, r.temperature_2m) for r in spark.read.parquet(path).collect()}
    assert final == {("Warsaw", 99.0), ("Berlin", 7.0)}


def _partition_files(path):
    """{partition dir name: {file name: (size, mtime_ns)}} for a partitioned
    parquet table — the filesystem evidence of what a write touched."""
    import os

    out = {}
    for part in os.listdir(path):
        pdir = os.path.join(path, part)
        if not os.path.isdir(pdir):
            continue
        out[part] = {
            f: (os.path.getsize(os.path.join(pdir, f)),
                os.stat(os.path.join(pdir, f)).st_mtime_ns)
            for f in os.listdir(pdir)
            if not f.startswith(("_", "."))
        }
    return out


def test_merge_rewrites_only_touched_partitions(spark, workdir):
    """The 100 TB survival property of merge_upsert: an upsert touching 1 of
    N partitions must leave the other N-1 partitions' files byte-for-byte
    untouched (same names, sizes, mtimes) — a merge that rewrites the whole
    table works at sf0.001 and dies at scale."""
    path = str(workdir / "silver_scoped")
    t0 = dt.datetime(2025, 10, 1, 12, 0)
    ing = dt.datetime(2025, 10, 1, 13, 0)
    cities = ["Warsaw", "Berlin", "Paris", "Madrid", "Rome"]
    initial = spark.createDataFrame(
        [(c, t0, float(i), 0.0, 1.0, ing) for i, c in enumerate(cities)],
        WEATHER_HOURLY_SCHEMA,
    )
    merge_upsert(spark, initial, path, ["city", "timestamp"], "_ingested_at", ["city"])
    before = _partition_files(path)
    assert len(before) == 5

    batch = spark.createDataFrame(
        [("Warsaw", t0, 99.0, 0.0, 1.0, dt.datetime(2025, 10, 1, 14, 0))],
        WEATHER_HOURLY_SCHEMA,
    )
    merge_upsert(spark, batch, path, ["city", "timestamp"], "_ingested_at", ["city"])
    after = _partition_files(path)

    touched = {p for p in before if before[p] != after.get(p)}
    assert touched == {"city=Warsaw"}, (
        f"merge touching 1 partition rewrote {touched or 'none'}"
    )
    # and the rewrite actually applied the upsert
    got = {
        (r.city, r.temperature_2m) for r in spark.read.parquet(path).collect()
    }
    assert ("Warsaw", 99.0) in got and len(got) == 5


def _stage_dirs(path):
    """Staging directories left beside the table at ``path``."""
    base = Path(path)
    return [p.name for p in base.parent.iterdir() if p.name.startswith(base.name + "__stage_")]


def _leaf_files(path):
    """:func:`_partition_files` one level down — {"a=../b=..": files} for
    a table partitioned on two columns."""
    return {
        f"{top.name}/{leaf}": files
        for top in Path(path).iterdir()
        if top.is_dir() and not top.name.startswith(("_", "."))
        for leaf, files in _partition_files(str(top)).items()
    }


def test_merge_commits_leaf_partitions_two_levels_deep(spark, workdir):
    """Two partition columns: the commit renames leaf directories at depth
    2 (a NULL and an escaped second-level value included), replaces only
    the touched leaves, and keeps the untouched sibling leaf under the
    same parent."""
    path = str(workdir / "t2")
    t0, t1 = dt.datetime(2026, 1, 1), dt.datetime(2026, 1, 2)
    schema = "k long, a string, b string, v string, ord timestamp"
    merge_upsert(
        spark,
        spark.createDataFrame(
            [(1, "x", "p", "v1", t0), (2, "x", None, "v2", t0),
             (3, "x", "q", "v3", t0), (4, "y", "p", "v4", t0),
             (7, "y", "c:d/e", "v7", t0)],
            schema,
        ),
        path, ["k"], "ord", partition_cols=["a", "b"],
    )
    before = _leaf_files(path)
    assert set(before) == {
        "a=x/b=p", "a=x/b=__HIVE_DEFAULT_PARTITION__", "a=x/b=q", "a=y/b=p",
        "a=y/b=c%3Ad%2Fe",
    }

    merge_upsert(
        spark,
        spark.createDataFrame(
            [(2, "x", None, "v2new", t1), (5, "x", None, "v5", t1),
             (6, "x", "p", "v6", t1), (7, "y", "c:d/e", "v7new", t1)],
            schema,
        ),
        path, ["k"], "ord", partition_cols=["a", "b"],
    )
    after = _leaf_files(path)
    touched = {p for p in before if before[p] != after.get(p)}
    assert touched == {
        "a=x/b=p", "a=x/b=__HIVE_DEFAULT_PARTITION__", "a=y/b=c%3Ad%2Fe"
    }
    assert set(after) == set(before)  # replaced, not nested inside the old leaf
    rows = {r.k: (r.a, r.b, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {
        1: ("x", "p", "v1"), 2: ("x", None, "v2new"), 3: ("x", "q", "v3"),
        4: ("y", "p", "v4"), 5: ("x", None, "v5"), 6: ("x", "p", "v6"),
        7: ("y", "c:d/e", "v7new"),
    }
    assert _stage_dirs(path) == []


def test_merge_failed_staged_write_leaves_target_untouched(spark, workdir):
    """A batch whose staged write fails at execution (an ANSI cast error
    inside the merged plan) must leave every target file byte-identical
    and delete its staging directory."""
    path = str(workdir / "silver_fail")
    t0 = dt.datetime(2025, 10, 1, 12, 0)
    ing = dt.datetime(2025, 10, 1, 13, 0)
    initial = spark.createDataFrame(
        [(c, t0, 1.0, 0.0, 1.0, ing) for c in ("Warsaw", "Berlin")],
        WEATHER_HOURLY_SCHEMA,
    )
    merge_upsert(spark, initial, path, ["city", "timestamp"], "_ingested_at", ["city"])
    before = _partition_files(path)

    bad = spark.createDataFrame(
        [("Warsaw", t0, "not-a-number", 0.0, 1.0, dt.datetime(2025, 10, 1, 14, 0))],
        "city string, timestamp timestamp, temperature_2m string, "
        "precipitation double, wind_speed_10m double, _ingested_at timestamp",
    ).withColumn("temperature_2m", F.col("temperature_2m").cast("double"))
    with pytest.raises(Exception, match="(?i)cast|not-a-number"):
        merge_upsert(spark, bad, path, ["city", "timestamp"], "_ingested_at", ["city"])

    assert _partition_files(path) == before
    assert _stage_dirs(path) == []


def test_merge_readback_prunes_to_batch_partitions(spark, workdir):
    """The read-back side of the scope claim: the merge's union plan filters
    the target on the batch's partition values, so partition pruning limits
    the scan to touched partitions (IN-filter pushed to the parquet source)."""
    path = str(workdir / "silver_pruned")
    t0 = dt.datetime(2025, 10, 1, 12, 0)
    ing = dt.datetime(2025, 10, 1, 13, 0)
    cities = ["Warsaw", "Berlin", "Paris", "Madrid", "Rome"]
    initial = spark.createDataFrame(
        [(c, t0, float(i), 0.0, 1.0, ing) for i, c in enumerate(cities)],
        WEATHER_HOURLY_SCHEMA,
    )
    merge_upsert(spark, initial, path, ["city", "timestamp"], "_ingested_at", ["city"])

    # replicate the operator's read-back predicate shape and check pruning
    target = spark.read.parquet(path)
    affected = target.filter(F.col("city") == F.lit("Warsaw"))
    plan = affected._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "city" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0], plan


def test_gap_detection_and_chunking(spark):
    silver = spark.createDataFrame(_silver_rows(), WEATHER_HOURLY_SCHEMA)
    start = dt.datetime(2025, 10, 1, 0, 0)
    end = dt.datetime(2025, 10, 2, 23, 0)
    missing = find_missing_hours(silver, start, end, ["city"])
    got = {(r.city, r.expected_hour) for r in missing.collect()}
    assert got == {
        ("Warsaw", start + dt.timedelta(hours=5)),
        ("Warsaw", start + dt.timedelta(hours=6)),
        ("Warsaw", start + dt.timedelta(hours=30)),
    }
    # wholly-missing key detected when the city dim is supplied
    dim = spark.createDataFrame([("Warsaw",), ("Berlin",), ("Paris",)], ["city"])
    missing_with_dim = find_missing_hours(silver, start, end, ["city"], keys=dim)
    paris = missing_with_dim.filter(F.col("city") == "Paris").count()
    assert paris == 48  # all hours missing

    chunked = chunk_hours(missing, ["city"], chunk_size=2)
    batches = sorted(r.batch_id for r in chunked.collect())
    assert batches == [0, 0, 1]


def test_ingest_log_skip(spark):
    cand = spark.createDataFrame([("k1",), ("k2",), ("k3",)], ["key"])
    log = spark.createDataFrame([("k2",)], ["key"])
    left = {r.key for r in filter_new_files(cand, log).collect()}
    assert left == {"k1", "k3"}
    assert filter_new_files(cand, None).count() == 3


def test_elt_end_to_end_idempotent_and_gated(spark, workdir):
    bronze = str(workdir / "bronze")
    silver = str(workdir / "silver")
    gold = str(workdir / "gold")
    write_bronze(_bronze_df(spark, GOOD_ROWS), bronze)

    at = F.lit("2025-10-31 13:00:00").cast("timestamp")
    out1 = run_elt(spark, bronze, silver, gold, ingested_at=at)
    mart = {(r.city, r.day, round(r.temperature_2m, 6)) for r in out1.collect()}
    assert ("Paris", dt.datetime(2025, 10, 31), 11.5) in mart
    assert ("Warsaw", dt.datetime(2025, 10, 31), 15.5) in mart

    # re-run over the same bronze (overlapping window, T2) ⇒ identical gold
    out2 = run_elt(spark, bronze, silver, gold, ingested_at=at)
    mart2 = {(r.city, r.day, round(r.temperature_2m, 6)) for r in out2.collect()}
    assert mart2 == mart

    # a bad payload (temp 150 > 60) blocks the load: silver must not change
    bad = _payload("Warsaw", "2025-11-01", "00", ["2025-11-01T00:00"], [150.0], [0.0], [1.0])
    write_bronze(_bronze_df(spark, [bad]), bronze)
    before = spark.read.parquet(silver).count()
    with pytest.raises(DQValidationError):
        run_elt(spark, bronze, silver, gold, ingested_at=at)
    assert spark.read.parquet(silver).count() == before


def test_warm_elt_cycle_job_count_stays_pinned(spark, workdir):
    """One warm run_elt cycle into an existing silver and gold: the touched
    cities are collected once, the merge writes once, and silver and gold
    are re-read with known schemas. Any of those regressing adds whole
    scheduled jobs that no result check would notice, so the count itself
    is pinned via the status tracker (observed 9; a staged re-read, a
    second merge write, a second cities collect or an inferring re-read
    each adds at least one)."""
    bronze = str(workdir / "bronze")
    silver = str(workdir / "silver")
    gold = str(workdir / "gold")
    write_bronze(_bronze_df(spark, GOOD_ROWS), bronze)
    at = F.lit("2025-10-31 13:00:00").cast("timestamp")
    run_elt(spark, bronze, silver, gold, ingested_at=at)  # cold: creates both

    sc = spark.sparkContext
    label = "jc_warm_elt"
    sc.setJobGroup(label, label)
    try:
        out = run_elt(spark, bronze, silver, gold, ingested_at=at)
    finally:
        sc.setJobGroup(None, None)
    n = len(sc.statusTracker().getJobIdsForGroup(label))
    assert n <= 9, f"warm run_elt cycle ran {n} jobs"
    assert _stage_dirs(silver) == []
    assert out.columns == [
        "day", "temperature_2m", "precipitation", "wind_speed_10m", "city"
    ]


def test_gold_refresh_and_merge_keep_other_cities_under_static_overwrite(
    spark, workdir
):
    """Neither the merge nor the gold refresh may trust the session's
    partitionOverwriteMode: under Spark's static default an overwrite with
    partitionBy deletes every partition the write does not carry, so a
    one-city batch would wipe every other city."""
    from endtoend_etl_openmeteo_spark.pipeline import refresh_gold_incremental

    silver_path = str(workdir / "silver")
    gold_path = str(workdir / "gold")
    ing = dt.datetime(2025, 10, 2)
    rows = [
        (c, dt.datetime(2025, 10, 1, h), t, 0.0, 1.0, ing)
        for c, t in (("Warsaw", 10.0), ("Berlin", 20.0), ("Paris", 30.0))
        for h in range(4)
    ]
    keys = ["city", "timestamp"]
    merge_upsert(
        spark, spark.createDataFrame(rows, WEATHER_HOURLY_SCHEMA), silver_path,
        keys, "_ingested_at", ["city"],
    )
    silver = spark.read.parquet(silver_path)
    refresh_gold_incremental(spark, silver, silver, gold_path)

    conf = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "static")
    try:
        batch = spark.createDataFrame(
            [("Warsaw", dt.datetime(2025, 10, 1, 5), 50.0, 0.0, 1.0, ing)],
            WEATHER_HOURLY_SCHEMA,
        )
        merge_upsert(spark, batch, silver_path, keys, "_ingested_at", ["city"])
        refresh_gold_incremental(
            spark, batch, spark.read.parquet(silver_path), gold_path
        )
    finally:
        spark.conf.set(conf, prev)

    assert spark.read.parquet(silver_path).count() == 13
    gold = {
        r.city: round(r.temperature_2m, 6)
        for r in spark.read.parquet(gold_path).collect()
    }
    assert gold == {"Warsaw": 18.0, "Berlin": 20.0, "Paris": 30.0}


def test_fct_city_day_matches_reference_shape(spark):
    silver = spark.createDataFrame(_silver_rows(), WEATHER_HOURLY_SCHEMA)
    mart = fct_city_day(silver)
    assert mart.columns == ["city", "day", "temperature_2m", "precipitation", "wind_speed_10m"]
    # 2 cities × 2 days
    assert mart.count() == 4


def test_gap_detection_with_unaligned_bounds(spark):
    """A 06:30 start must align to hour boundaries, not declare every
    hour missing (reference X11 truncate-to-hour)."""
    silver = spark.createDataFrame(_silver_rows(), WEATHER_HOURLY_SCHEMA)
    start = dt.datetime(2025, 10, 1, 0, 30, 15)
    end = dt.datetime(2025, 10, 2, 22, 59)
    missing = find_missing_hours(silver, start, end, ["city"])
    got = {(r.city, r.expected_hour) for r in missing.collect()}
    base = dt.datetime(2025, 10, 1)
    assert got == {
        ("Warsaw", base + dt.timedelta(hours=5)),
        ("Warsaw", base + dt.timedelta(hours=6)),
        ("Warsaw", base + dt.timedelta(hours=30)),
    }


def test_read_bronze_tolerant_quarantines_corrupt_lines(spark, tmp_path):
    """PERMISSIVE bronze read: malformed JSON lines land in the bad side
    verbatim; good rows keep the declared schema and full fidelity."""
    import json

    from endtoend_etl_openmeteo_spark.sources.bronze import read_bronze_tolerant

    p = tmp_path / "bronze" / "city=warsaw" / "ds=2024-01-01" / "hour=00"
    p.mkdir(parents=True)
    good_obj = {"latitude": 52.2, "longitude": 21.0}
    broken = '{"latitude": 52.2, "longitu'  # truncated upload
    (p / "part-0.json").write_text(json.dumps(good_obj) + "\n" + broken + "\n")

    good, bad = read_bronze_tolerant(spark, str(tmp_path / "bronze"))
    good_rows = good.collect()
    assert len(good_rows) == 1
    assert good_rows[0]["latitude"] == 52.2
    assert good_rows[0]["city"] == "warsaw"  # partition discovery intact
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert bad_rows[0]["_corrupt_record"] == broken


def test_merge_tie_on_order_col_keeps_batch_row(spark, tmp_path):
    """ON CONFLICT DO UPDATE parity: a correction re-ingested with the
    SAME order_col value as the stored row must still win the merge."""
    import datetime as dt

    from endtoend_etl_openmeteo_spark.operators.merge import merge_upsert

    path = str(tmp_path / "t")
    ts = dt.datetime(2026, 1, 1, 12)
    schema = "k long, v string, ord timestamp"
    merge_upsert(
        spark, spark.createDataFrame([(1, "stale", ts)], schema), path,
        ["k"], "ord",
    )
    merge_upsert(
        spark, spark.createDataFrame([(1, "corrected", ts)], schema), path,
        ["k"], "ord",
    )
    assert [r.v for r in spark.read.parquet(path).collect()] == ["corrected"]


def test_merge_preserves_null_partition_rows(spark, tmp_path):
    """eqNullSafe read-back: merging a batch that touches the NULL
    partition must keep that partition's other existing keys (plain ==
    never matches null, and the partition commit would wipe them)."""
    import datetime as dt

    from endtoend_etl_openmeteo_spark.operators.merge import merge_upsert

    path = str(tmp_path / "t")
    t0 = dt.datetime(2026, 1, 1)
    schema = "k long, p string, v string, ord timestamp"
    merge_upsert(
        spark,
        spark.createDataFrame([(1, None, "keepme", t0), (2, "x", "other", t0)], schema),
        path, ["k"], "ord", partition_cols=["p"],
    )
    merge_upsert(
        spark,
        spark.createDataFrame([(3, None, "new", t0)], schema),
        path, ["k"], "ord", partition_cols=["p"],
    )
    rows = {r.k: (r.p, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {1: (None, "keepme"), 2: ("x", "other"), 3: (None, "new")}


def test_unzip_null_measure_array_is_padded_not_dropped(spark):
    """A payload MISSING a measure key entirely (hourly.precipitation is
    NULL, not short) must not vanish: arrays_zip returns NULL when any
    input array is NULL, which silently dropped every hour of the
    payload under both policies. nullpad emits every hour with null
    measures (the reference pads missing values with None); truncate
    truncates to the shortest array, which an absent one makes 0; a
    NULL TIME array still drops the payload (no spine — the F4 guard).
    The GE flattener inherits the nullpad behavior so the DQ gate SEES
    the malformed payload instead of never receiving its rows."""
    from endtoend_etl_openmeteo_spark.operators.explode import (
        flatten_validation_records,
    )

    raw = _bronze_df(
        spark,
        [
            _payload(
                "Warsaw", "2025-10-01", "00",
                ["2025-10-01T00:00", "2025-10-01T01:00"],
                [1.0, 2.0], None, [7.0, 8.0],
            ),
            _payload("Paris", "2025-10-01", "00", None, [1.0], [0.1], [2.0]),
        ],
    )
    at = F.lit("2025-10-01 03:00:00").cast("timestamp")
    padded = unzip_hourly(raw, policy="nullpad", ingested_at=at).orderBy("timestamp")
    rows = padded.collect()
    assert len(rows) == 2  # Warsaw's two hours survive; Paris (null time) drops
    assert all(r.city == "Warsaw" for r in rows)
    assert [r.precipitation for r in rows] == [None, None]
    assert [r.temperature_2m for r in rows] == [1.0, 2.0]
    # truncate: shortest array is the absent one -> 0 rows, not a crash
    assert unzip_hourly(raw, policy="truncate", ingested_at=at).count() == 0
    # the validation flattener sees the malformed payload's hours too
    val = flatten_validation_records(raw).collect()
    assert len(val) == 2 and all(v.precipitation is None for v in val)
