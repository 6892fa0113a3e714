"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload elt_hourly --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The workload's inputs are generated from
``--seed`` under ``.perfbench/`` in the checkout; everything the run
writes, including Spark's and Python's temporary files, stays there.
``--seconds`` sets how many ELT cycles a run plans (see ``elt.py``); the
query suite's list and passes are fixed.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``. A per-run report with
every latency and the details goes to
``.perfbench/report-<workload>-<seed>-t<trace>.json``, and a traced run's
spans to ``.perfbench/spans-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("elt_hourly", "query_suite")

#: End-to-end metrics (untraced runs), the same four on every workload.
#: The timed work is gated on CPU seconds, not wall time; usage.py says why.
END_TO_END = {"setup_s": "s", "work_cpu_s": "s", "op_cpu_p50_s": "s", "retained_mb": "MB"}

#: Per-layer metrics (traced runs). A layer a workload does not reach reads 0.
PER_LAYER = {
    "pipeline.run_elt.self_s": "s",
    "pipeline.refresh_gold.s": "s",
    "pipeline.refresh_gold.jobs": "count",
    "pipeline.refresh_gold.rows_written": "rows",
    "pipeline.backfill.self_s": "s",
    "sources.read_bronze.s": "s",
    "sources.read_bronze.files": "count",
    "sources.write_bronze.s": "s",
    "sources.payloads_to_df.s": "s",
    "dq.gate.s": "s",
    "dq.gate.jobs": "count",
    "dq.gate.rows_checked": "rows",
    "dq.batches_rejected": "count",
    "explode.rows_out": "rows",
    "merge.upsert.s": "s",
    "merge.upsert.jobs": "count",
    "merge.upsert.tasks": "count",
    "merge.upsert.partitions_rewritten": "count",
    "merge.upsert.rows_rewritten": "rows",
    "merge.upsert.bytes_written": "bytes",
    "merge.rows_rewritten_per_row_upserted": "ratio",
    "gaps.find_missing.s": "s",
    "gaps.hours_missing": "count",
    "plans.build_s": "s",
    "plans.deliver_s": "s",
    "plans.jobs": "count",
    **{f"plans.{m}.s": "s" for m in (
        "text", "similarity", "relational", "advanced", "llm", "timeseries",
        "windows", "sketches", "multimodal", "joins", "dq")},
    "session.pinned_after": "count",
    "process.peak_rss_mb": "MB",
    "process.jit_cpu_s": "s",
    "process.gc_cpu_s": "s",
    "spark.jobs": "count",
    "spark.jobs_unattributed": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_s": "s",
    "trace.top_span_coverage": "ratio",
    "trace.work_s": "s",
    "trace.op_p50_s": "s",
    "trace.work_cpu_s": "s",
    "trace.op_cpu_p50_s": "s",
    "silver.bytes_per_row": "bytes",
}


def _environment(work: str) -> None:
    """Keep every file the run writes under ``work`` and make the package
    importable by Spark's Python workers. Must run before pyspark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_SCRATCH"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Applies to every JVM spark-submit starts: no hsperfdata file in /tmp,
    # and JIT compiler threads that live as long as the JVM, so that
    # usage.CpuClock reads each one's seconds in full.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and its workers have exited."""
    from perfbench.usage import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    package = os.path.join(REPO, "endtoend_etl_openmeteo_spark", "__init__.py")
    oracle_tool = os.path.join(REPO, "tools", "check_oracle.py")
    if not (os.path.isfile(package) and os.path.isfile(oracle_tool)):
        print("perfbench: run from a checkout of the repository (package or "
              "tools/check_oracle.py missing)", file=sys.stderr)
        return 2

    base = os.path.join(REPO, ".perfbench")
    work = os.path.join(base, "run")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    sys.path.insert(0, REPO)

    from endtoend_etl_openmeteo_spark.session import get_spark
    from perfbench import elt, suite
    from perfbench.trace import spark_totals
    from perfbench.usage import peak_rss_mb

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "tmp"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    try:
        trace = bool(args.trace)
        if args.workload == "query_suite":
            res = suite.query_suite(spark, trace, work, args.seed, REPO)
        else:
            res = elt.elt_hourly(spark, trace, work, args.seed, args.seconds)
        rss = peak_rss_mb()
        layers = None
        if trace:
            tracer = res["tracer"]
            layers = {**res["layers"], **spark_totals(tracer, *res["window"])}
            layers["session.pinned_after"] = res["pinned"]
            layers["process.peak_rss_mb"] = rss
            layers["process.jit_cpu_s"] = res["jit_cpu_s"]
            layers["process.gc_cpu_s"] = res["gc_cpu_s"]
            for k in ("work_s", "op_p50_s", "work_cpu_s", "op_cpu_p50_s"):
                layers[f"trace.{k}"] = res[k]
            layers["silver.bytes_per_row"] = res["details"].get("storage_bytes_per_row", 0.0)
            tracer.write(os.path.join(base, f"spans-{args.workload}.json"))
    finally:
        _stop(spark)

    values = {"setup_s": res["setup_end"] - T_START, **res}
    metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "metrics": metrics, "work_s": res["work_s"],
              "op_p50_s": res["op_p50_s"], "jit_cpu_s": res["jit_cpu_s"], "gc_cpu_s": res["gc_cpu_s"],
              "peak_rss_mb": rss, "details": res["details"],
              "problems": res["problems"], "layers": layers}
    with open(os.path.join(base, f"report-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    for p in res["problems"]:
        print(f"perfbench: {p}", file=sys.stderr)
    if layers is not None:
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    print(json.dumps({"correct": not res["problems"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
