"""Streaming ELT tests (SURVEY.md §2.9 T1-T4, §7 step 6)."""

import shutil
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.sources.bronze import write_bronze
from endtoend_etl_openmeteo_spark.streaming import run_streaming_elt
from tests.test_weather_pipeline import GOOD_ROWS, _bronze_df, _payload

TMP = Path(__file__).resolve().parent.parent / ".tmp"


@pytest.fixture()
def workdir():
    d = TMP / f"stream_{uuid.uuid4().hex[:8]}"
    d.mkdir(parents=True, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_elt_exactly_once_and_merge(spark, workdir):
    bronze = str(workdir / "bronze")
    silver = str(workdir / "silver")
    ckpt = str(workdir / "ckpt")

    write_bronze(_bronze_df(spark, GOOD_ROWS), bronze)
    q = run_streaming_elt(spark, bronze, silver, ckpt)
    q.awaitTermination(120)
    first = spark.read.parquet(silver)
    assert first.count() == 6  # 1 + 2 + 4 hourly rows (Berlin file has 2)
    ing1 = {r.city: r for r in first.collect()}

    # T3 exactly-once: add ONE new file; a resumed stream with the same
    # checkpoint must process only it (existing rows keep _ingested_at).
    late = _payload(
        "Warsaw", "2025-10-31", "13", ["2025-10-31T13:00"], [14.0], [0.0], [4.0]
    )
    write_bronze(_bronze_df(spark, [late]), bronze)
    q2 = run_streaming_elt(spark, bronze, silver, ckpt)
    q2.awaitTermination(120)
    second = spark.read.parquet(silver)
    assert second.count() == 7
    # unchanged keys kept their original ingest timestamps -> not reprocessed
    again = {r.city: r for r in second.filter(F.col("city") == "Berlin").collect()}
    assert all(
        r._ingested_at == ing1["Berlin"]._ingested_at for r in again.values()
    )


def test_streaming_daily_agg_window(spark, workdir):
    """Tumbling 1-day window agg over a drained stream equals the batch mart."""
    from endtoend_etl_openmeteo_spark.streaming import (
        stream_bronze,
        streaming_daily_agg,
        streaming_hourly,
    )

    bronze = str(workdir / "bronze")
    write_bronze(_bronze_df(spark, GOOD_ROWS), bronze)

    agg = streaming_daily_agg(streaming_hourly(stream_bronze(spark, bronze)))
    name = f"mart_{uuid.uuid4().hex[:6]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.city: r for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert rows["Paris"].temperature_2m == pytest.approx(11.5)
    assert rows["Berlin"].temperature_2m == pytest.approx(16.8)
    assert rows["Warsaw"].day.day == 31


def test_streaming_checkpoint_recovery_after_midstream_failure(spark, workdir):
    """T3 rerun-safety, the kill-and-resume case: a stream that DIES mid-run
    (one committed micro-batch, one failed) must, on restart from the same
    checkpoint, process only the unfinished files — committed batches are
    never reprocessed and the final silver equals a clean one-shot run."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from endtoend_etl_openmeteo_spark.operators.merge import merge_upsert
    from endtoend_etl_openmeteo_spark.pipeline import MONTH, month_of
    from endtoend_etl_openmeteo_spark.streaming import (
        stream_bronze,
        streaming_hourly,
    )

    bronze = str(workdir / "bronze")
    silver = str(workdir / "silver")
    ckpt = str(workdir / "ckpt")
    write_bronze(_bronze_df(spark, GOOD_ROWS), bronze)  # 3 files (city/ds/hour)

    calls = {"n": 0}

    def flaky_merge(batch, epoch_id):
        calls["n"] += 1
        if calls["n"] == 2:  # first batch commits, second dies mid-stream
            raise RuntimeError("injected executor-side failure")
        merge_upsert(
            batch.sparkSession, batch.withColumn(MONTH, month_of(F.col("timestamp"))),
            silver, keys=["city", "timestamp"], order_col="_ingested_at",
            partition_cols=[MONTH],
        )

    hourly = streaming_hourly(stream_bronze(spark, bronze, max_files_per_trigger=1))
    q = (
        hourly.writeStream.foreachBatch(flaky_merge)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert calls["n"] == 2

    partial = {
        (r.city, r.timestamp): r._ingested_at
        for r in spark.read.parquet(silver).collect()
    }
    assert partial  # exactly the committed first file's rows

    # Recovery: the REAL pipeline on the same checkpoint drains the rest.
    q2 = run_streaming_elt(spark, bronze, silver, ckpt)
    q2.awaitTermination(120)

    final = spark.read.parquet(silver).collect()
    assert len(final) == 6  # 1 Warsaw + 1 Berlin + 4 Paris hourly rows
    assert len({(r.city, r.timestamp) for r in final}) == 6  # each key once
    # committed-before-crash rows kept their ingest stamp -> not reprocessed
    for r in final:
        if (r.city, r.timestamp) in partial:
            assert r._ingested_at == partial[(r.city, r.timestamp)]


def test_streaming_dedup_within_watermark(spark, workdir):
    """Duplicate deliveries of the same (city, timestamp) rows collapse to
    one arrival; state is watermark-bounded (dropDuplicatesWithinWatermark)."""
    from endtoend_etl_openmeteo_spark.streaming import (
        stream_bronze,
        streaming_dedup,
        streaming_hourly,
    )

    bronze = str(workdir / "bronze")
    # same payloads delivered twice -> two files, identical logical rows
    write_bronze(_bronze_df(spark, GOOD_ROWS), bronze)
    write_bronze(_bronze_df(spark, GOOD_ROWS), bronze)

    deduped = streaming_dedup(
        streaming_hourly(stream_bronze(spark, bronze)), ["city", "timestamp"]
    )
    name = f"dedup_{uuid.uuid4().hex[:6]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"SELECT city, timestamp FROM {name}").collect()
    assert len(rows) == 6  # 12 delivered, 6 unique survive
    assert len({(r.city, r.timestamp) for r in rows}) == 6


def test_stream_stream_interval_join(spark, workdir):
    """Observations x late corrections pair up iff the correction lands
    within [obs_ts, obs_ts + 1 hour] for the same city; state is bounded
    by the two watermarks plus the range condition."""
    import datetime as dt

    from endtoend_etl_openmeteo_spark.streaming import stream_stream_join

    t = lambda h, m=0: dt.datetime(2025, 10, 31, h, m)  # noqa: E731
    obs_dir, corr_dir = str(workdir / "obs"), str(workdir / "corr")
    spark.createDataFrame(
        [("Paris", t(10), 10.0), ("Paris", t(15), 11.0), ("Berlin", t(10, 30), 9.0)],
        "city string, obs_ts timestamp, temp double",
    ).write.json(obs_dir)
    spark.createDataFrame(
        # 10:30 -> joins Paris@10:00; 12:00 -> outside Berlin@10:30 + 1h;
        # 15:30 -> joins Paris@15:00
        [("Paris", t(10, 30), 0.5), ("Berlin", t(12), 1.0), ("Paris", t(15, 30), -0.2)],
        "city string, corr_ts timestamp, delta double",
    ).write.json(corr_dir)

    obs = spark.readStream.schema("city string, obs_ts timestamp, temp double").json(
        obs_dir
    )
    corr = spark.readStream.schema(
        "city string, corr_ts timestamp, delta double"
    ).json(corr_dir)
    joined = stream_stream_join(
        obs, corr, keys=["city"], left_ts="obs_ts", right_ts="corr_ts"
    ).selectExpr("l.city AS city", "obs_ts", "temp + delta AS corrected")

    name = f"ssj_{uuid.uuid4().hex[:6]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.city, r.obs_ts.hour): r.corrected
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert got == {("Paris", 10): 10.5, ("Paris", 15): 10.8}


def test_streaming_dq_quarantine_diverts_bad_rows(spark, workdir):
    """T6 in streaming form: rows violating the suite divert to quarantine,
    clean rows merge; with no quarantine path a bad batch fails the stream."""
    from endtoend_etl_openmeteo_spark.operators.dq import Expectation

    bronze = str(workdir / "bronze")
    silver = str(workdir / "silver")
    quarantine = str(workdir / "quarantine")
    suite = [
        Expectation("not_null", "timestamp"),
        Expectation("between", "temperature_2m", lo=-90.0, hi=60.0),
    ]
    rows = GOOD_ROWS + [
        _payload("Oslo", "2025-10-31", "14", ["2025-10-31T14:00"], [999.0], [0.0], [1.0])
    ]
    write_bronze(_bronze_df(spark, rows), bronze)
    q = run_streaming_elt(
        spark, bronze, silver, str(workdir / "ckpt1"),
        expectations=suite, quarantine_path=quarantine,
    )
    q.awaitTermination(120)
    silver_rows = spark.read.parquet(silver)
    assert silver_rows.count() == 6  # the 6 good hourly rows, no Oslo
    assert silver_rows.filter(F.col("city") == "Oslo").count() == 0
    quarantined = spark.read.parquet(quarantine).collect()
    assert [(r.city, r.temperature_2m) for r in quarantined] == [("Oslo", 999.0)]
    assert all(r._quarantined_at is not None for r in quarantined)

    # Replay safety: a retry within the SAME checkpoint lineage replaces
    # its own (run, epoch) quarantine partition instead of appending — the
    # same bad rows land in the same partition and dynamic overwrite makes
    # the write idempotent. Simulate the epoch-0 retry by re-running the
    # foreachBatch body directly against the quarantine sink.
    from endtoend_etl_openmeteo_spark.operators.dq import split_valid
    from endtoend_etl_openmeteo_spark.streaming.pipeline import (
        streaming_hourly,
    )
    from endtoend_etl_openmeteo_spark.streaming.pipeline import _lineage_run_id

    run_id = _lineage_run_id(spark, str(workdir / "ckpt1"))
    hourly = streaming_hourly(_bronze_df(spark, rows))
    _, bad = split_valid(hourly, suite)
    (
        bad.withColumn("_quarantined_at", F.current_timestamp())
        .withColumn("_run_id", F.lit(run_id))
        .withColumn("_epoch_id", F.lit(0))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_run_id", "_epoch_id")
        .parquet(quarantine)
    )
    replayed = spark.read.parquet(quarantine).collect()
    assert [(r.city, r.temperature_2m) for r in replayed] == [("Oslo", 999.0)]

    # A DIFFERENT run (fresh checkpoint -> epochs restart at 0) appends its
    # own run partition: prior history is preserved, never clobbered.
    q_rerun = run_streaming_elt(
        spark, bronze, silver, str(workdir / "ckpt1_rerun"),
        expectations=suite, quarantine_path=quarantine,
    )
    q_rerun.awaitTermination(120)
    rerun_rows = spark.read.parquet(quarantine).collect()
    assert sorted((r.city, r.temperature_2m) for r in rerun_rows) == [
        ("Oslo", 999.0), ("Oslo", 999.0),
    ]
    assert len({r._run_id for r in rerun_rows}) == 2

    # hard-block mode: same bad data, no quarantine path -> stream fails
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    q2 = run_streaming_elt(
        spark, bronze, str(workdir / "silver2"), str(workdir / "ckpt2"),
        expectations=suite,
    )
    with _pytest.raises(StreamingQueryException, match="data-quality gate"):
        q2.awaitTermination(120)
        raise AssertionError("stream should have failed")  # pragma: no cover


def test_streaming_elt_refreshes_gold_incrementally(spark, workdir):
    """bronze -> silver -> gold inside one micro-batch: the gold mart must
    equal the batch fct_city_day over the final silver, and a later batch
    touching one city must not disturb other cities' gold rows."""
    from endtoend_etl_openmeteo_spark.pipeline import fct_city_day

    bronze = str(workdir / "bronze")
    silver = str(workdir / "silver")
    gold = str(workdir / "gold")
    ckpt = str(workdir / "ckpt")

    write_bronze(_bronze_df(spark, GOOD_ROWS), bronze)
    q = run_streaming_elt(spark, bronze, silver, ckpt, gold_path=gold)
    q.awaitTermination(120)

    cols = ["city", "cast(day as date) day", "temperature_2m",
            "precipitation", "wind_speed_10m"]

    def as_map(df):
        return {
            (r.city, r.day.isoformat()): (
                r.temperature_2m, r.precipitation, r.wind_speed_10m
            )
            for r in df.selectExpr(*cols).collect()
        }

    def mart(path):
        return as_map(spark.read.parquet(path))

    assert mart(gold) == as_map(fct_city_day(spark.read.parquet(silver)))

    # second batch: one Warsaw hour -> Warsaw's gold day updates, others keep
    before = mart(gold)
    late = _payload(
        "Warsaw", "2025-10-31", "13", ["2025-10-31T13:00"], [20.0], [0.0], [4.0]
    )
    write_bronze(_bronze_df(spark, [late]), bronze)
    q2 = run_streaming_elt(spark, bronze, silver, ckpt, gold_path=gold)
    q2.awaitTermination(120)
    after = mart(gold)
    changed = {k for k in after if after[k] != before.get(k)}
    assert all(k[0] == "Warsaw" for k in changed) and changed
    assert after == as_map(fct_city_day(spark.read.parquet(silver)))


def test_streaming_session_window_merges_and_closes(spark, workdir):
    """Built-in session_window: events within the gap merge into one
    session per key; a gap larger than 30 min starts a new session; append
    mode emits a session only after the watermark passes its close."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from endtoend_etl_openmeteo_spark.streaming import streaming_sessionize

    src = workdir / "events_src"
    src.mkdir()

    def us(minute):
        import datetime as dt

        base = dt.datetime(2024, 1, 1, 10, 0, tzinfo=dt.timezone.utc)
        return base + dt.timedelta(minutes=minute)

    # user 1: events at 10:00, 10:10, 10:20 (one session), then 11:30
    # (new session). user 2: one event. The 12:00 row advances the
    # watermark far enough to close and emit everything earlier.
    t = pa.table(
        {
            "user_id": pa.array([1, 1, 1, 2, 1, 9], pa.int64()),
            "ts": pa.array(
                [us(0), us(10), us(20), us(5), us(90), us(170)],
                pa.timestamp("us", tz="UTC"),
            ),
            "value": pa.array([1.0, 2.0, 3.0, 10.0, 5.0, 0.0], pa.float64()),
        }
    )
    pq.write_table(t, src / "a.parquet")

    stream = spark.readStream.schema("user_id long, ts timestamp, value double").parquet(
        str(src)
    )
    name = f"sess_{uuid.uuid4().hex[:6]}"
    q = (
        streaming_sessionize(stream, gap="30 minutes", watermark="30 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    sessions = {
        (r.user_id, r.session_start.minute): (r.n_events, r.sum_value) for r in rows
    }
    assert sessions[(1, 0)] == (3, 6.0)  # 10:00-10:20 merged (gap 10 min)
    assert sessions[(1, 30)] == (1, 5.0)  # 11:30 is its own session
    assert sessions[(2, 5)] == (1, 10.0)


def test_stream_window_drops_late_row_and_fences_watermark(spark, workdir):
    """q_stream_window's contract, pinned at the metrics level: the late
    probe is DROPPED by the watermark (numRowsDroppedByWatermark=1 in the
    batch AFTER the fence — SPARK-40925 filters batch N with batch N-1's
    watermark), every real window emits in append mode, and the fence's
    own window never does."""
    from datetime import datetime

    landing, out, ckpt = (str(workdir / d) for d in ("landing", "out", "ckpt"))
    sch = "event_id bigint, ts timestamp, event_type string, value double"
    real = [
        (1, datetime(2024, 1, 1, 0, 0, 7), "a", 1.0),
        (2, datetime(2024, 1, 30, 23, 0, 0), "a", 3.0),
        (3, datetime(2024, 1, 1, 12, 0, 0), "b", 5.0),
    ]
    spark.createDataFrame(real, sch).coalesce(1).write.mode("append").parquet(landing)
    spark.createDataFrame(
        [(-1, datetime(2024, 3, 1), "__fence__", 0.0)], sch
    ).coalesce(1).write.mode("append").parquet(landing)
    spark.createDataFrame(
        [(-2, datetime(2024, 1, 1, 6, 0, 0), "__late__", 1.0e6)], sch
    ).coalesce(1).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema(sch).option("maxFilesPerTrigger", 1).parquet(landing)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select("event_type", F.col("w.start").alias("day"), "n")
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    dropped = {
        p["batchId"]: p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p["stateOperators"]
    }
    assert dropped.get(2) == 1, f"late probe not dropped: {dropped}"

    rows = {(r.event_type, r.day, r.n) for r in spark.read.parquet(out).collect()}
    assert rows == {
        ("a", datetime(2024, 1, 1), 1),
        ("a", datetime(2024, 1, 30), 1),
        ("b", datetime(2024, 1, 1), 1),
    }  # no __late__ leak, no __fence__ emission, all real windows closed


def test_stream_join_plan_carries_both_watermarks(spark, workdir):
    """q_stream_join's state-boundedness claim, pinned structurally: the
    interval join must carry an EventTimeWatermark on EACH input AND the
    two-sided event-time range condition — drop any of the three and
    stream-stream join state grows forever (Spark can't evict buffered
    rows it can't prove unmatchable)."""
    from endtoend_etl_openmeteo_spark.streaming import stream_stream_join

    d = str(workdir / "wmplan")
    spark.createDataFrame(
        [(1, "a")], "event_id bigint, event_type string"
    ).write.json(d)  # schema-only seed; the stream never starts
    sch = "event_id bigint, ts timestamp, event_type string, value double"
    left = spark.readStream.schema(sch).json(d)
    right = spark.readStream.schema(sch).json(d)
    joined = stream_stream_join(
        left, right, keys=["event_type"], left_ts="ts", right_ts="ts",
        tolerance="1 hour",
    )
    analyzed = joined._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("EventTimeWatermark") == 2, analyzed
    cond = analyzed.lower()
    assert "cast(1 hours as interval)" in cond or "interval" in cond
    # both range bounds present: r.ts >= l.ts AND r.ts <= l.ts + tol
    assert ">=" in analyzed and "<=" in analyzed
