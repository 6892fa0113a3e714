"""The benchmark's own tests: generator determinism, the output checks, a
tiny-size run of every workload, and the command-line contract.

    python -m pytest perfbench/tests -q
"""

import datetime as dt
import hashlib
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, elt, gen, run, suite
from perfbench.trace import spark_totals

REPO = run.REPO


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize(
    "make",
    [
        lambda root, seed: gen.hourly_inputs(root, seed, 3, 8, 4, 5),
        lambda root, seed: gen.analyst_tables(root, seed),
    ],
    ids=["hourly", "tables"],
)
def test_generator_is_deterministic(tmp_path, make):
    make(str(tmp_path / "a"), 7)
    make(str(tmp_path / "b"), 7)
    make(str(tmp_path / "c"), 8)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_generator_plants_what_the_manifest_says(tmp_path):
    m = gen.hourly_inputs(str(tmp_path), 3, 3, 8, 12, 5)
    assert len(m["gaps"]) == 5
    assert m["rejected_cycles"] == [i for i in range(12) if i % gen.REJECT_EVERY == gen.REJECT_OFFSET]
    preload = checks.read_bronze_dir(str(tmp_path / "preload"))
    assert not {(c, dt.datetime.fromisoformat(t)) for c, t in m["gaps"]} & preload.keys()
    assert len(preload) == 3 * 8 * 24 - 5


def _write_gold(root, mart: dict) -> None:
    by_city: dict[str, list] = {}
    for (city, day), vals in mart.items():
        by_city.setdefault(city, []).append((day, *vals))
    for city, rows in by_city.items():
        os.makedirs(root / f"city={city}")
        cols = list(zip(*rows))
        pq.write_table(
            pa.table({"day": pa.array(cols[0], pa.timestamp("us")),
                      **{m: pa.array(c, pa.float64()) for m, c in zip(checks.MEASURES, cols[1:])}}),
            root / f"city={city}" / "part-0.parquet",
        )


def test_gold_check_flags_a_wrong_mart_row(tmp_path):
    m = gen.hourly_inputs(str(tmp_path / "in"), 5, 2, 3, 2, 3)
    ref = checks.hourly_reference(str(tmp_path / "in"), m, 2)
    con = duckdb.connect()
    want = checks.mart_reference(con, ref)
    _write_gold(tmp_path / "good", want)
    assert checks.gold_problems(con, str(tmp_path / "good"), want) == []
    wrong = dict(want)
    key = sorted(wrong)[1]
    wrong[key] = (wrong[key][0] + 0.5, *wrong[key][1:])
    _write_gold(tmp_path / "bad", wrong)
    problems = checks.gold_problems(con, str(tmp_path / "bad"), want)
    assert len(problems) == 1 and "1 rows differ" in problems[0]


def test_count_check_flags_a_missed_rejection():
    assert checks.count_problems("dq rejections", [2, 10], [2, 10]) == []
    assert checks.count_problems("dq rejections", [2, 10], [2])


def _tiny_elt(monkeypatch):
    monkeypatch.setattr(elt, "HOURLY_CITIES", 3)
    monkeypatch.setattr(elt, "HOURLY_PRELOAD_DAYS", 8)
    monkeypatch.setattr(elt, "HOURLY_GAPS", 4)


def test_hourly_smoke_and_counts_repeat(spark, tmp_path, monkeypatch):
    _tiny_elt(monkeypatch)
    seconds = elt.HOURLY_BACKFILL_NOMINAL_S + 3 * elt.HOURLY_CYCLE_NOMINAL_S
    plain = elt.elt_hourly(spark, False, str(tmp_path / "a"), 11, seconds)
    assert plain["problems"] == [] and plain["failed"] == 0
    assert plain["attempted"] == 5  # three accepted cycles, one rejected, the backfill
    counts = ("gaps.hours_missing", "dq.batches_rejected", "explode.rows_out",
              "merge.upsert.rows_rewritten", "merge.upsert.jobs", "dq.gate.jobs",
              "pipeline.refresh_gold.jobs", "pipeline.refresh_gold.rows_written",
              "spark.jobs", "spark.jobs_unattributed")
    traced = []
    for i in (0, 1):
        res = elt.elt_hourly(spark, True, str(tmp_path / f"t{i}"), 11, seconds)
        assert res["problems"] == []
        assert res["layers"]["gaps.hours_missing"] == 4
        assert res["layers"]["dq.batches_rejected"] == 1
        assert res["layers"]["pipeline.refresh_gold.rows_written"] > 0
        assert not any("unfinished_jobs" in s for s in res["tracer"].spans)
        traced.append({**res["layers"], **spark_totals(res["tracer"], *res["window"])})
    assert [traced[0][c] for c in counts] == [traced[1][c] for c in counts]


def test_hourly_flags_a_missed_dq_rejection(spark, tmp_path, monkeypatch):
    from endtoend_etl_openmeteo_spark import pipeline

    _tiny_elt(monkeypatch)
    monkeypatch.setattr(pipeline, "dq_gate", lambda df, expectations: None)
    seconds = elt.HOURLY_BACKFILL_NOMINAL_S + 3 * elt.HOURLY_CYCLE_NOMINAL_S
    res = elt.elt_hourly(spark, False, str(tmp_path), 11, seconds)
    assert res["failed"] >= 1
    assert any(p.startswith("dq rejections") for p in res["problems"])


def test_query_suite_smoke(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(suite, "SUITE", ("q_scan", "q_daily_agg", "q_tfidf"))
    res = suite.query_suite(spark, True, str(tmp_path), 3, REPO)
    assert res["problems"] == [] and res["failed"] == 0
    assert res["attempted"] == 3 * suite.PASSES
    assert res["layers"]["plans.text.s"] > 0 and res["layers"]["plans.jobs"] > 0


def test_benchmark_json_matches_the_printed_metrics():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == ["elt_hourly", "query_suite"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "elt_hourly", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout == ""
