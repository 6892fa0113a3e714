"""The hourly ELT workload.

It calls only the package's public functions (``pipeline.run_elt``,
``pipeline.backfill_missing``); in traced mode the calls they make into
``sources``, ``operators.dq``, ``operators.explode``, ``operators.merge``
and ``operators.gaps`` are wrapped from here (see :func:`install_elt_spans`).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import time

import duckdb

from perfbench import checks, gen
from perfbench.usage import CpuClock, cpu_by_thread, full_gc, retained_mb, thread_cpu
from perfbench.trace import Tracer, self_seconds, span_totals

#: Hourly workload shape. The silver preload is CITIES x PRELOAD_DAYS days;
#: GAPS city-hours are planted in its final week for the backfill to find.
HOURLY_CITIES = 12
HOURLY_PRELOAD_DAYS = 60
HOURLY_GAPS = 40
#: Cycles run before the timer starts, so the JVM has compiled the cycle's
#: code paths; they count toward setup_s.
HOURLY_WARMUP_CYCLES = 3
#: Planned length of one warm cycle on 4 cores. The number of timed cycles
#: is derived from --seconds with it, so a given seed and --seconds always
#: run the same cycles and the data counts repeat exactly.
HOURLY_CYCLE_NOMINAL_S = 2.5
HOURLY_BACKFILL_NOMINAL_S = 6.0


def planned_ops(seconds: float, nominal_s: float, reserve_s: float = 0.0) -> int:
    """Operations that fill ``seconds`` at ``nominal_s`` each (at least 2)."""
    return max(2, round((seconds - reserve_s) / nominal_s))


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def table_bytes(root: str) -> int:
    return sum(size for size, _ in _files(root).values())


def install_elt_spans(tracer: Tracer) -> list:
    """Wrap the public functions the ELT calls. Data counts gathered at the
    boundaries go to ``tracer.counts``; the explode's row counts arrive in
    the returned observations once their actions have run."""
    import pyarrow.parquet as pq
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark import pipeline
    from endtoend_etl_openmeteo_spark.operators import dq as dq_mod
    from endtoend_etl_openmeteo_spark.operators import gaps
    from endtoend_etl_openmeteo_spark.sources import bronze, http

    counts = tracer.counts
    observations: list = []

    def read_bronze(fn):
        def wrapped(spark, path):
            with tracer.span("sources.read_bronze"):
                df = fn(spark, path)
            with tracer.overhead():
                counts["sources.read_bronze.files"] += len(df.inputFiles())
            return df

        return wrapped

    def dq_gate(fn):
        def wrapped(df, expectations):
            try:
                with tracer.span("dq.gate"):
                    result = fn(df, expectations)
            except dq_mod.DQValidationError as e:
                counts["dq.batches_rejected"] += 1
                counts["dq.gate.rows_checked"] += e.failures[0]["n_rows"]
                raise
            with tracer.overhead():
                counts["dq.gate.rows_checked"] += result.first()["n_rows"]
            return result

        return wrapped

    def unzip_hourly(fn):
        # The explode is lazy: its cost lands in the span of the action that
        # consumes it. Only its row count is taken, by an observation that
        # rides along the first action.
        def wrapped(*args, **kwargs):
            obs = Observation(f"perfbench_explode_{len(observations)}")
            observations.append(obs)
            return fn(*args, **kwargs).observe(obs, F.count(F.lit(1)).alias("rows"))

        return wrapped

    def merge_upsert(fn):
        # The file scans and footer reads are the benchmark's own work; the
        # overhead spans keep them out of the enclosing span's self time.
        def wrapped(spark, new, target_path, *args, **kwargs):
            with tracer.overhead():
                before = _files(target_path)
            with tracer.span("merge.upsert"):
                fn(spark, new, target_path, *args, **kwargs)
            with tracer.overhead():
                after = _files(target_path)
                written = [p for p, meta in after.items() if before.get(p) != meta]
                counts["merge.partitions_rewritten"] += len({os.path.dirname(p) for p in written})
                counts["merge.bytes_written"] += sum(after[p][0] for p in written)
                counts["merge.rows_rewritten"] += sum(
                    pq.read_metadata(p).num_rows for p in written
                )

        return wrapped

    def find_missing_hours(fn):
        # Lazy as well: the gap search runs in backfill_missing's collect.
        # The span stays open until the first fetch (or the backfill's end).
        def wrapped(*args, **kwargs):
            tracer.begin("gaps.find_missing")
            return fn(*args, **kwargs)

        return wrapped

    tracer.patch(pipeline, "run_elt", tracer.spanned("pipeline.run_elt"))
    tracer.patch(pipeline, "backfill_missing", tracer.spanned("pipeline.backfill"))
    tracer.patch(pipeline, "refresh_gold_incremental", tracer.spanned("pipeline.refresh_gold"))
    tracer.patch(pipeline, "read_bronze", read_bronze)
    tracer.patch(pipeline, "dq_gate", dq_gate)
    tracer.patch(pipeline, "unzip_hourly", unzip_hourly)
    tracer.patch(pipeline, "merge_upsert", merge_upsert)
    tracer.patch(gaps, "find_missing_hours", find_missing_hours)
    tracer.patch(bronze, "write_bronze", tracer.spanned("sources.write_bronze"))
    tracer.patch(http, "payloads_to_df", tracer.spanned("sources.payloads_to_df"))
    return observations


def close_gap_span(tracer: Tracer | None) -> None:
    if tracer is not None and (s := tracer.open_span("gaps.find_missing")):
        tracer.end(s)


def elt_layers(tracer: Tracer, observations: list) -> dict[str, float]:
    """Per-layer figures of the ELT spans and counts."""
    c = tracer.counts
    rows_out = 0
    for obs in observations:
        row = obs._jo.getRowOrEmpty()
        if row.isDefined():
            rows_out += row.get().getLong(0)
    gold = span_totals(tracer, "pipeline.refresh_gold")
    gate = span_totals(tracer, "dq.gate")
    merge = span_totals(tracer, "merge.upsert")
    return {
        "pipeline.run_elt.self_s": self_seconds(tracer, "pipeline.run_elt"),
        "pipeline.refresh_gold.s": gold.get("s", 0.0),
        "pipeline.refresh_gold.jobs": gold.get("jobs", 0.0),
        "pipeline.refresh_gold.rows_written": gold.get("outputRecords", 0.0),
        "pipeline.backfill.self_s": self_seconds(tracer, "pipeline.backfill"),
        "sources.read_bronze.s": span_totals(tracer, "sources.read_bronze").get("s", 0.0),
        "sources.read_bronze.files": c["sources.read_bronze.files"],
        "sources.write_bronze.s": span_totals(tracer, "sources.write_bronze").get("s", 0.0),
        "sources.payloads_to_df.s": span_totals(tracer, "sources.payloads_to_df").get("s", 0.0),
        "dq.gate.s": gate.get("s", 0.0),
        "dq.gate.jobs": gate.get("jobs", 0.0),
        "dq.gate.rows_checked": c["dq.gate.rows_checked"],
        "dq.batches_rejected": c["dq.batches_rejected"],
        "explode.rows_out": float(rows_out),
        "merge.upsert.s": merge.get("s", 0.0),
        "merge.upsert.jobs": merge.get("jobs", 0.0),
        "merge.upsert.tasks": merge.get("numCompleteTasks", 0.0) + merge.get("numFailedTasks", 0.0),
        "merge.upsert.partitions_rewritten": c["merge.partitions_rewritten"],
        "merge.upsert.rows_rewritten": c["merge.rows_rewritten"],
        "merge.upsert.bytes_written": c["merge.bytes_written"],
        "merge.rows_rewritten_per_row_upserted": (
            c["merge.rows_rewritten"] / rows_out if rows_out else 0.0
        ),
        "gaps.find_missing.s": span_totals(tracer, "gaps.find_missing").get("s", 0.0),
        "gaps.hours_missing": c["gaps.hours_missing"],
    }


class FetchStub:
    """The backfill's ``fetch_hours``: serves the generated gap values and
    records every (city, hour) it is asked for."""

    def __init__(self, path: str, tracer: Tracer | None):
        with open(path) as f:
            served = json.load(f)
        self.coords = served["coords"]
        self.hours = served["hours"]
        self.requested: list[tuple[str, dt.datetime]] = []
        self.tracer = tracer

    def __call__(self, city: str, hours: list[dt.datetime]) -> dict:
        close_gap_span(self.tracer)
        self.requested += [(city, h) for h in hours]
        if self.tracer is not None:
            self.tracer.counts["gaps.hours_missing"] += len(hours)
        keys = [h.strftime("%Y-%m-%dT%H:%M") for h in hours]
        vals = [self.hours.get(city, {}).get(k, [None, None, None]) for k in keys]
        lat, lon = self.coords[city]
        return {
            "latitude": lat,
            "longitude": lon,
            "timezone": "UTC",
            "hourly": {
                "time": keys,
                "temperature_2m": [v[0] for v in vals],
                "precipitation": [v[1] for v in vals],
                "wind_speed_10m": [v[2] for v in vals],
            },
        }


def _pinned(spark) -> int:
    from endtoend_etl_openmeteo_spark.session import (
        persistent_rdd_ids,
        release_persistent_rdds,
    )

    n = len(persistent_rdd_ids(spark))
    release_persistent_rdds(spark)
    return n


def tail(latencies: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten samples
    beyond it, or None when there are too few samples."""
    n = len(latencies)
    if n < 11:
        return None
    k = n - 10  # samples at or below the percentile
    return 100.0 * k / n, sorted(latencies)[k - 1]


def elt_hourly(spark, trace: bool, work: str, seed: int, seconds: float) -> dict:
    from endtoend_etl_openmeteo_spark import pipeline
    from endtoend_etl_openmeteo_spark.operators.dq import DQValidationError

    # Timed cycles: enough accepted ones to fill --seconds, plus the planted
    # rejections that fall among them (a rejected cycle is cheap).
    accepted = planned_ops(seconds, HOURLY_CYCLE_NOMINAL_S, HOURLY_BACKFILL_NOMINAL_S)
    n_cycles = HOURLY_WARMUP_CYCLES
    while accepted:
        accepted -= n_cycles % gen.REJECT_EVERY != gen.REJECT_OFFSET
        n_cycles += 1
    n_timed = n_cycles - HOURLY_WARMUP_CYCLES
    inputs = os.path.join(work, "inputs")
    manifest = gen.hourly_inputs(
        inputs, seed, HOURLY_CITIES, HOURLY_PRELOAD_DAYS, n_cycles, HOURLY_GAPS
    )
    silver, gold = os.path.join(work, "silver"), os.path.join(work, "gold")
    archive = os.path.join(work, "bronze_archive")
    planted = set(manifest["rejected_cycles"])

    pipeline.run_elt(spark, os.path.join(inputs, "preload"), silver, gold)
    _pinned(spark)

    rejected: set[int] = set()
    outcomes: list[bool] = []
    latencies: list[float] = []
    problems: list[str] = []

    clock = CpuClock()
    cpu: list[float] = []  # work CPU seconds of each accepted cycle

    def cycle(i: int) -> tuple[float, bool]:
        c0 = clock.read()[0]
        t0 = time.perf_counter()
        ok = True
        try:
            pipeline.run_elt(spark, os.path.join(inputs, "landing", f"cycle_{i:04d}"), silver, gold)
        except DQValidationError:
            rejected.add(i)
        except Exception as e:  # a failed cycle is counted, the run goes on
            ok = False
            problems.append(f"cycle {i}: {type(e).__name__}: {str(e)[:300]}")
        elapsed = time.perf_counter() - t0
        if i not in planted:
            cpu.append(clock.read()[0] - c0)
        return elapsed, ok and ((i in planted) == (i in rejected))

    for i in range(HOURLY_WARMUP_CYCLES):
        cycle(i)
        _pinned(spark)
    # The backfill is the run's first user of Spark's Python workers; start
    # their daemon here, as any earlier backfill in a long-lived driver would.
    spark.sparkContext.parallelize(range(4), 4).map(abs).count()
    full_gc(spark)
    setup_done = time.perf_counter()

    tracer = Tracer(spark) if trace else None
    observations = install_elt_spans(tracer) if tracer is not None else []
    stub = FetchStub(os.path.join(inputs, "backfill.json"), tracer)
    pinned = 0
    cpu.clear()
    t_lo = time.time()
    threads0 = thread_cpu()
    cw0, jit0, gc0 = clock.read()
    t0 = time.perf_counter()
    for i in range(HOURLY_WARMUP_CYCLES, n_cycles):
        elapsed, ok = cycle(i)
        outcomes.append(ok)
        if i not in planted:
            latencies.append(elapsed)
        pinned += _pinned(spark)
    tb = time.perf_counter()
    cb = clock.read()[0]
    start, end = (dt.datetime.fromisoformat(t) for t in manifest["gap_window"])
    backfill_ok = True
    try:
        pipeline.backfill_missing(spark, silver, archive, start, end, stub, gold_path=gold)
    except Exception as e:
        backfill_ok = False
        problems.append(f"backfill: {type(e).__name__}: {str(e)[:300]}")
    close_gap_span(tracer)
    t1 = time.perf_counter()
    cw1, jit1, gc1 = clock.read()
    threads = cpu_by_thread(threads0, thread_cpu())
    t_hi = time.time()
    pinned += _pinned(spark)
    retained = retained_mb(spark)
    outcomes.append(backfill_ok)
    if tracer is not None:
        tracer.close()

    con = duckdb.connect()
    ref = checks.hourly_reference(inputs, manifest, n_cycles)
    gap_problems = checks.count_problems(
        "missing hours",
        [(c, dt.datetime.fromisoformat(t)) for c, t in manifest["gaps"]],
        stub.requested,
    )
    outcomes[-1] = outcomes[-1] and not gap_problems
    found = [
        checks.silver_problems(con, silver, ref),
        checks.gold_problems(con, gold, checks.mart_reference(con, ref)),
    ]
    # Timed cycles already count a wrong rejection as a failed operation;
    # this also covers the warm-up cycles.
    problems += checks.count_problems("dq rejections", planted, rejected)
    problems += gap_problems + found[0] + found[1]
    n_rows = len(ref)
    out = {
        "setup_end": setup_done,
        "work_s": t1 - t0,
        "op_p50_s": statistics.median(latencies),
        "work_cpu_s": cw1 - cw0,
        "op_cpu_p50_s": statistics.median(cpu),
        "jit_cpu_s": jit1 - jit0,
        "gc_cpu_s": gc1 - gc0,
        "retained_mb": retained,
        "attempted": len(outcomes),
        # a failed output check counts as one more failed operation
        "failed": min(len(outcomes), outcomes.count(False) + sum(map(bool, found))),
        "problems": problems,
        "window": (t_lo, t_hi),
        "pinned": pinned,
        "details": {
            "cycles_timed": n_timed,
            "cycles_rejected": len(rejected & set(range(HOURLY_WARMUP_CYCLES, n_cycles))),
            "cycle_p50_s": statistics.median(latencies),
            "cycle_tail": tail(latencies),
            "cycle_latencies_s": latencies,
            "cycle_cpu_s": cpu,
            "backfill_s": t1 - tb,
            "backfill_cpu_s": cw1 - cb,
            "work_cpu_by_thread_s": threads,
            "silver_rows": n_rows,
            "storage_bytes_per_row": table_bytes(silver) / n_rows,
        },
    }
    if tracer is not None:
        out["layers"] = elt_layers(tracer, observations)
        out["tracer"] = tracer
    return out
