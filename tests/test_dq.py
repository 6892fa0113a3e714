"""DQ gate tests — GE-parity semantics (SURVEY.md §2.11, FIXTURES.md A4).

Seed rows replicate the reference's good/bad fixtures
(ge/test_validation.py:18-41 and :60-83 in /root/reference/).
"""

import pytest

from endtoend_etl_openmeteo_spark.operators.dq import (
    DQValidationError,
    Expectation,
    REFERENCE_WEATHER_SUITE,
    compile_expectations,
    dq_gate,
)
from endtoend_etl_openmeteo_spark.schemas import VALIDATION_RECORD_SCHEMA

GOOD = [
    ("Warsaw", "s3://raw/weather/test/file1.json", 52.23, 21.01,
     "Europe/Berlin", "2025-10-31T12:00:00", 15.5, 0.0, 5.2),
    ("Berlin", "s3://raw/weather/test/file2.json", 52.52, 13.41,
     "Europe/Berlin", "2025-10-31T12:00:00", 16.8, 2.5, 8.1),
]
BAD = [
    ("Warsaw", "s3://raw/weather/test/file1.json", 52.23, 21.01,
     "Europe/Berlin", None, 15.5, 0.0, 5.2),          # null time
    ("Berlin", "s3://raw/weather/test/file2.json", 52.52, 13.41,
     "Europe/Berlin", "2025-10-31T12:00:00", 150.0, -5.0, 8.1),  # temp/precip out of range
]
# null temperature with non-null time: must PASS (between ignores nulls)
EDGE = [
    ("Paris", "s3://raw/weather/test/file3.json", 48.86, 2.35,
     "Europe/Paris", "2025-10-31T12:00:00", None, 0.0, 1.0),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, VALIDATION_RECORD_SCHEMA)


def test_good_records_pass(spark):
    result = dq_gate(_df(spark, GOOD), REFERENCE_WEATHER_SUITE)
    rows = result.collect()
    assert len(rows) == 8
    assert all(r.passed for r in rows)


def test_bad_records_fail_with_expected_violations(spark):
    with pytest.raises(DQValidationError) as exc:
        dq_gate(_df(spark, BAD), REFERENCE_WEATHER_SUITE)
    failed = {f["expectation"] for f in exc.value.failures}
    assert failed == {
        "not_null_time",
        "between_temperature_2m_-90.0_60.0",
        "between_precipitation_0.0_1000.0",
    }


def test_null_measure_passes_bounds_check(spark):
    """GE parity: a null temperature passes `between` (only time/city/lat/
    lon/tz are not_null) — ge/validate_raw_weather.py:143-168."""
    result = dq_gate(_df(spark, GOOD + EDGE), REFERENCE_WEATHER_SUITE)
    assert all(r.passed for r in result.collect())


def test_mostly_threshold(spark):
    """mostly=0.5 tolerates up to half the rows violating."""
    suite = [Expectation("between", "temperature_2m", lo=-90.0, hi=60.0, mostly=0.5)]
    rows = GOOD + [("X", "s3://x", 0.0, 0.0, "UTC", "t", 999.0, 0.0, 0.0)]
    result = compile_expectations(_df(spark, rows), suite).collect()
    assert result[0].violations == 1
    assert result[0].passed  # 1/3 <= 0.5

    strict = [Expectation("between", "temperature_2m", lo=-90.0, hi=60.0, mostly=1.0)]
    with pytest.raises(DQValidationError):
        dq_gate(_df(spark, rows), strict)


def test_single_pass_compilation(spark):
    """The whole suite compiles to ONE aggregate over the data."""
    df = _df(spark, GOOD)
    result = compile_expectations(df, REFERENCE_WEATHER_SUITE)
    plan = result._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("aggregate") <= 2  # partial+final, not 8 passes


def test_unique_expectation(spark):
    rows = GOOD + [GOOD[0]]  # duplicate Warsaw row -> city duplicated
    suite = [Expectation("unique", "city")]
    result = compile_expectations(_df(spark, rows), suite).collect()[0]
    assert result.violations == 1 and not result.passed
    assert compile_expectations(_df(spark, GOOD), suite).collect()[0].passed


def test_observe_expectations_metrics_ride_the_action(spark):
    """observe() metrics equal the dedicated aggregate pass, row-split
    agrees, and unique is rejected (no distinct aggregates in observe)."""
    import pytest as _pytest

    from endtoend_etl_openmeteo_spark.operators.dq import (
        Expectation,
        compile_expectations,
        observation_results,
        observe_expectations,
        split_valid,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 999.0), (4, -5.0)],
        "id long, temp double",
    )
    suite = [
        Expectation("not_null", "temp", mostly=0.5),
        Expectation("between", "temp", lo=-90.0, hi=60.0),
    ]
    observed, obs = observe_expectations(df, suite)
    observed.write.format("noop").mode("overwrite").save()  # any action
    got = observation_results(obs, suite)
    want = [r.asDict() for r in compile_expectations(df, suite).collect()]
    for g, w in zip(got, want):
        assert g["violations"] == w["violations"]
        assert g["n_rows"] == w["n_rows"]
        assert g["passed"] == w["passed"]
    assert got[0]["passed"] is True      # 1/4 nulls <= 1 - 0.5
    assert got[1]["passed"] is False     # 999 out of bounds, strict

    valid, bad = split_valid(df, suite)
    # null temp violates not_null (row-wise) but passes bounds; -5 is in range
    assert {r.id for r in valid.collect()} == {1, 4}
    assert {r.id for r in bad.collect()} == {2, 3}

    with _pytest.raises(ValueError, match="unique"):
        observe_expectations(df, [Expectation("unique", "id")])


def test_mostly_denominator_is_nonnull_elements_like_ge(spark):
    """GE parity: unexpected_percent for value checks is over NON-NULL
    elements. 50% nulls + 20%-of-non-null violations at mostly=0.85 must
    FAIL (20% > 15%); the old total-rows denominator saw 10% and passed."""
    rows = [(None,)] * 10 + [(5.0,)] * 8 + [(99.0,)] * 2
    df = spark.createDataFrame(rows, "x double")
    res = {
        r["expectation"]: r
        for r in compile_expectations(
            df, [Expectation("between", "x", lo=0.0, hi=10.0, mostly=0.85)]
        ).collect()
    }
    r = res["between_x_0.0_10.0"]
    assert r["violations"] == 2 and r["n_rows"] == 20
    assert r["passed"] is False  # 2/10 non-null = 20% > 15%
    # and at mostly=0.8 (20% allowed) the same data passes
    res2 = compile_expectations(
        df, [Expectation("between", "x", lo=0.0, hi=10.0, mostly=0.8)]
    ).collect()[0]
    assert res2["passed"] is True


def _gate_outcome(df, suite):
    """dq_gate's verdict as comparable rows: every result row on success,
    the failing rows on failure."""
    try:
        return True, [r.asDict() for r in dq_gate(df, suite).collect()]
    except DQValidationError as e:
        return False, e.failures


def _compiled_outcome(df, suite):
    rows = [r.asDict() for r in compile_expectations(df, suite).collect()]
    failures = [r for r in rows if not r["passed"]]
    return (False, failures) if failures else (True, rows)


def test_gate_matches_compiled_aggregate_row_for_row(spark):
    """The one-job observed gate and the compiled aggregate agree on every
    row, with nulls, out-of-range values and a ``mostly`` threshold met
    exactly (2 of 10 non-null winds above 10 at mostly=0.8) or missed by
    one row."""
    boundary = Expectation("between", "wind_speed_10m", lo=0.0, hi=10.0, mostly=0.8)
    suite = REFERENCE_WEATHER_SUITE + [boundary]

    def rows(n_windy, extra=()):
        base = [
            ("Warsaw", "s3://x", 52.0, 21.0, "UTC", f"2025-10-31T{h:02d}:00",
             None if h == 0 else 10.0 + h, 0.0, 20.0 if h < n_windy else 5.0)
            for h in range(10)
        ]
        # null wind: not an element of the bounds domain
        base.append(("Warsaw", "s3://x", 52.0, 21.0, "UTC", "2025-10-31T11:00",
                     12.0, 0.0, None))
        return base + list(extra)

    out_of_range = [
        ("Berlin", "s3://y", 52.5, 13.4, "UTC", None, 150.0, -5.0, 1.0),
        (None, "s3://y", 52.5, None, "UTC", "2025-10-31T12:00", 1.0, 0.0, 1.0),
    ]
    cases = {
        "boundary met": rows(2),
        "boundary missed": rows(3),
        "nulls and out of range": rows(2, out_of_range),
    }
    for label, data in cases.items():
        df = _df(spark, data)
        got, want = _gate_outcome(df, suite), _compiled_outcome(df, suite)
        assert got == want, label
    assert _gate_outcome(_df(spark, rows(2)), suite)[0] is True
    passed, failures = _gate_outcome(_df(spark, rows(3)), suite)
    assert not passed and [f["expectation"] for f in failures] == [boundary.name]


def test_gate_failures_carry_n_rows(spark):
    """Consumers (the ELT benchmark among them) read the failure dicts'
    keys, n_rows included."""
    with pytest.raises(DQValidationError) as exc:
        dq_gate(_df(spark, BAD + GOOD), REFERENCE_WEATHER_SUITE)
    for f in exc.value.failures:
        assert set(f) == {"expectation", "col_name", "violations", "n_rows", "passed"}
        assert f["n_rows"] == 4 and f["passed"] is False


def test_unique_suite_gates_through_the_aggregate(spark):
    suite = [Expectation("not_null", "time"), Expectation("unique", "city")]
    with pytest.raises(DQValidationError) as exc:
        dq_gate(_df(spark, GOOD + [GOOD[0]]), suite)
    assert [(f["expectation"], f["violations"]) for f in exc.value.failures] == [
        ("unique_city", 1)
    ]
    assert all(r.passed for r in dq_gate(_df(spark, GOOD), suite).collect())


def test_empty_input_passes_without_hanging(spark):
    """Zero rows (and zero partitions) still complete the observation; a
    gate that waited on a metric no action fills would never return."""
    import threading

    inputs = [
        _df(spark, []),
        spark.createDataFrame(spark.sparkContext.emptyRDD(), VALIDATION_RECORD_SCHEMA),
    ]
    results = []

    def run():
        results.extend(dq_gate(df, REFERENCE_WEATHER_SUITE).collect() for df in inputs)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "dq_gate did not return on an empty input"
    for rows in results:
        assert len(rows) == 8
        assert all(r.passed and r.violations == 0 and r.n_rows == 0 for r in rows)


def test_gate_runs_one_job(spark, count_jobs):
    """The whole suite, and any observation already attached to the input,
    rides one scan: one Spark job by the status tracker."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = _df(spark, GOOD + EDGE)
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    _, n = count_jobs(lambda: dq_gate(observed, REFERENCE_WEATHER_SUITE))
    assert n == 1
    assert obs.get == {"rows": 3}


def test_gate_result_is_a_local_relation(spark):
    """The gate's result frame, on the observed path, the aggregate path
    and an empty suite, is a JVM local relation: a consumer's collect()
    scans it without a Python worker and never re-scans the input."""
    suites = [
        REFERENCE_WEATHER_SUITE,
        [Expectation("not_null", "time"), Expectation("unique", "city")],
        [],
    ]
    for suite in suites:
        res = dq_gate(_df(spark, GOOD), suite)
        qe = res._jdf.queryExecution()
        assert qe.optimizedPlan().toString().startswith("LocalRelation"), suite
        assert qe.executedPlan().toString().startswith("LocalTableScan"), suite
        assert len(res.collect()) == len(suite)
