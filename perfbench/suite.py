"""The declared-query workload: a fixed list of registered queries, timed
until each result is delivered to the client, then checked against its
DuckDB oracle with ``tools/check_oracle.py``'s ``duck_con`` and ``compare``.

The whole registry (177 queries) takes about 200 s at sf0.01 on 4 cores,
longer than one benchmark run may last, so a run executes SUITE: a fixed
list with at least one query of every plan module, including TF-IDF, BM25
search, exact cosine top-k and versioned time travel. The order and the
list do not depend on the seed; the seed only changes the generated tables.

The list runs PASSES times in the same order: a cold pass, then warm
ones. Every pass's result is checked.
"""

from __future__ import annotations

import importlib.util
import inspect
import os
import statistics
import time
from collections import defaultdict
from contextlib import nullcontext

from perfbench import gen
from perfbench.usage import CpuClock, cpu_by_thread, full_gc, retained_mb, thread_cpu
from perfbench.trace import Tracer

#: Plan modules, in the order their per-module time is reported.
MODULES = (
    "text", "similarity", "relational", "advanced", "llm", "timeseries",
    "windows", "sketches", "multimodal", "joins", "dq",
)

#: The queries one pass runs, in order. Chosen from a full-registry timing
#: at sf0.001 on 4 cores (see README.md): at least one query of every plan
#: module, including TF-IDF, BM25 search, exact cosine top-k and versioned
#: time travel. Cheap modules come first, so the heavier text and
#: similarity queries run on a warmer JVM. The costliest queries (stored
#: ANN indexes, MinHash, BPE training: 3-6 s each) and a second query of
#: most modules are left out to keep a run within its time budget.
SUITE = (
    # relational: scan, versioned time travel
    "q_scan", "q_time_travel",
    # timeseries: sessions, gaps, upsert
    "q_sessionize", "q_gap_detect", "q_upsert",
    # windows, sketches
    "q_window_rank", "q_sketch_rollup",
    # joins, dq, multimodal
    "q_broadcast_join", "q_dq_gate", "q_multimodal_audio",
    # advanced: TPC-H Q1
    "q_tpch_q1",
    # llm: PII scrub
    "q_pii_scrub",
    # similarity: exact cosine top-k
    "q_ann_cosine",
    # text: SimHash, TF-IDF, BM25 search
    "q_simhash", "q_tfidf", "q_bm25_search",
)

#: Passes over SUITE in one run. The first plans and compiles every query
#: on a cold JVM, as an analyst's first queries in a fresh session do; the
#: two warm passes take about a third as long each. The timed work covers
#: all three, and each query's own figures come from its cheapest pass, so
#: a few seconds' slowdown of the host during one warm pass does not move
#: them.
PASSES = 3


def load_check_oracle(repo: str):
    """``tools/check_oracle.py`` as a module (it is a script, not a package)."""
    path = os.path.join(repo, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def plan_module(spec) -> str:
    """The plans module that declared a registered query."""
    fn = inspect.getclosurevars(spec.fn).nonlocals.get("fn", spec.fn)
    return fn.__module__.rsplit(".", 1)[-1]


def query_suite(spark, trace: bool, work: str, seed: int, repo: str) -> dict:
    from endtoend_etl_openmeteo_spark import plans
    from endtoend_etl_openmeteo_spark.session import (
        persistent_rdd_ids,
        release_persistent_rdds,
    )

    oracle = load_check_oracle(repo)
    sf_dir = os.path.join(work, "tables")
    gen.analyst_tables(sf_dir, seed)
    registry = plans.load_all()
    full_gc(spark)
    setup_done = time.perf_counter()

    tracer = Tracer(spark) if trace else None
    phase = tracer.span if tracer else (lambda name: nullcontext())
    results, problems = {}, []
    runs: dict[str, list[float]] = defaultdict(list)
    cpu: dict[str, list[float]] = defaultdict(list)
    pass_s, pass_cpu = [], []
    pinned = 0
    t_lo = time.time()
    threads0 = thread_cpu()
    clock = CpuClock()
    _, jit0, gc0 = clock.read()
    for p in range(PASSES):
        tp = time.perf_counter()
        cp = clock.read()[0]
        for name in SUITE:
            spec = registry[name]
            span = (tracer.begin("plans.query", query=name, module=plan_module(spec))
                    if tracer else None)
            cq = clock.read()[0]
            tq = time.perf_counter()
            try:
                with phase("plans.build"):
                    df = spec.fn(spark, sf_dir)
                with phase("plans.deliver"):
                    rows = [tuple(r) for r in df.collect()]
                results[name, p] = (df.columns, rows)
            except Exception as e:  # a failed query is counted, the pass goes on
                problems.append(f"{name} (pass {p}): {type(e).__name__}: {str(e)[:300]}")
            runs[name].append(time.perf_counter() - tq)
            cpu[name].append(clock.read()[0] - cq)
            if span is not None:
                tracer.end(span)
            pinned += len(persistent_rdd_ids(spark))
            release_persistent_rdds(spark)
        pass_s.append(time.perf_counter() - tp)
        pass_cpu.append(clock.read()[0] - cp)
    _, jit1, gc1 = clock.read()
    threads = cpu_by_thread(threads0, thread_cpu())
    t_hi = time.time()
    retained = retained_mb(spark)
    if tracer is not None:
        tracer.close()

    con = oracle.duck_con(sf_dir)
    failed = len(problems)
    expected = {}
    for (name, p), (cols, rows) in results.items():
        sql = registry[name].oracle
        if sql is None:
            continue  # rows-only: it ran and delivered
        if name not in expected:
            rel = con.sql(sql)
            expected[name] = (list(rel.columns), rel.fetchall())
        found = oracle.compare(name, cols, rows, *expected[name])
        if found:
            failed += 1
            problems.append(f"{name} (pass {p}): {'; '.join(found)}")
    best = {name: min(runs[name]) for name in SUITE}
    module_s = defaultdict(float)
    for name in SUITE:
        module_s[plan_module(registry[name])] += best[name]
    latencies = sorted(best.values())
    out = {
        "setup_end": setup_done,
        "work_s": sum(pass_s),
        "op_p50_s": statistics.median(latencies),
        "work_cpu_s": sum(pass_cpu),
        "op_cpu_p50_s": statistics.median(min(v) for v in cpu.values()),
        "jit_cpu_s": jit1 - jit0,
        "gc_cpu_s": gc1 - gc0,
        "retained_mb": retained,
        "attempted": len(SUITE) * PASSES,
        "failed": failed,
        "problems": problems,
        "window": (t_lo, t_hi),
        "pinned": pinned,
        "details": {
            "queries": len(SUITE),
            "passes": PASSES,
            "with_oracle": sum(registry[n].oracle is not None for n in SUITE),
            "suite_s": sum(pass_s),
            "pass_wall_s": pass_s,
            "pass_cpu_s": pass_cpu,
            "work_cpu_by_thread_s": threads,
            "query_p50_s": statistics.median(latencies),
            "query_p90_s": latencies[int(0.9 * (len(latencies) - 1))],
            "query_latencies_s": dict(runs),
            "query_cpu_s": dict(cpu),
            "module_s": dict(module_s),
        },
    }
    if tracer is not None:
        out["layers"] = suite_layers(tracer)
        out["tracer"] = tracer
    return out


def suite_layers(tracer: Tracer) -> dict[str, float]:
    layers = {"plans.build_s": 0.0, "plans.deliver_s": 0.0, "plans.jobs": 0.0}
    layers.update({f"plans.{m}.s": 0.0 for m in MODULES})
    for s in tracer.spans:
        d = s["end"] - s["start"]
        if s["name"] == "plans.build":
            layers["plans.build_s"] += d
        elif s["name"] == "plans.deliver":
            layers["plans.deliver_s"] += d
        elif s["name"] == "plans.query":
            layers[f"plans.{s['module']}.s"] += d
        if s["name"].startswith("plans."):
            layers["plans.jobs"] += s["spark"].get("jobs", 0.0)
    return layers
