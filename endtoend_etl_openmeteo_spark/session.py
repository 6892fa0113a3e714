"""SparkSession factory with engine defaults (SURVEY.md §7 step 0).

Design decisions:

- ``spark.sql.session.timeZone=UTC`` — the timestamp-parity linchpin. The
  reference mixes naive ISO strings, ``Z``-suffix normalization, and Postgres
  ``timestamptz`` session-tz casting (SURVEY.md §7 hard parts;
  ``ingestion/loader/load_to_postgres.py:125`` in the reference). We store
  UTC, pin the session timezone, and make every local-time operation an
  explicit ``from_utc_timestamp``.
- AQE on — runtime partition coalescing and skew-join splitting are the
  scale-out levers that matter at 100 TB (skewed city/user keys).
- ``partitionOverwriteMode=dynamic`` — an overwrite with ``partitionBy``
  replaces only the partitions it writes, never the whole table (a
  full-table rewrite is the thing that does NOT survive a 100x scale-up).
  Writers whose correctness depends on it also pin it per write
  (``.option("partitionOverwriteMode", "dynamic")``); ``merge_upsert``
  does not use it at all — it commits staged partitions by rename.
- shuffle partitions default to the local core count; on a real cluster this
  is overridden (or left to AQE's coalescing with a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Session-creation-time configuration (static confs).
ENGINE_CONF: dict[str, str] = {
    # Size the single local-mode JVM above Spark's 1g default: local[32]
    # runs every executor thread inside the driver heap, and 32
    # concurrent tasks' shuffle/broadcast/parquet buffers in 1 GB keep
    # the MemoryManager clamping writers and the GC busy. 4g is the
    # validated sweet spot on this box (larger heaps showed no gain).
    # Creation-time only (ignored for an externally-created JVM, e.g.
    # the verification driver's).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
    # The SQL/UI status stores retain per-execution plan graphs (default
    # 1000 executions) — pure driver-heap ballast for a 160-query bench.
    "spark.sql.ui.retainedExecutions": "50",
    "spark.ui.retainedJobs": "100",
    "spark.ui.retainedStages": "100",
    "spark.sql.session.timeZone": "UTC",
    # Whole-stage-codegen compile cache (static conf, default 100
    # entries). An engine session serving the full declared surface
    # compiles ~177 distinct plans x several codegen units each, so the
    # default cache evicts constantly and identical plans re-pay ~0.1-2 s
    # of Janino per re-run — the round-11-adjudicated q_sentence_stats /
    # q_bloom_decontaminate timing jitter. 2000 entries covers the whole
    # suite's units for bounded metaspace (generated classes are
    # KB-sized); scale-neutral — a compile cache, independent of data
    # volume and core count. Measured back-to-back at sf0.1: 85 of 177
    # queries faster by >50 ms, suite total -19 s, no regression outside
    # noise (OPTIMIZATION_r12.md).
    "spark.sql.codegen.cache.maxEntries": "2000",
    # Pinned, not inherited: malformed input raises (matching the
    # reference's fromisoformat/raise behavior) on EVERY session,
    # including externally-created ones with different defaults.
    "spark.sql.ansi.enabled": "true",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
}

#: Subset of ENGINE_CONF that is runtime-settable — applied defensively to
#: externally-created sessions (e.g. the verification driver's) so query
#: semantics (session timezone!) do not depend on who built the session.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # A vanilla external session (the verification driver's) keeps Spark's
    # default 200 shuffle partitions — 6x task overhead at local scale.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # NOTE deliberately NOT pinned: spark.sql.legacy.parquet.nanosAsLong.
    # A session-wide pin would make EVERY parquet read decode legitimate
    # TIMESTAMP(NANOS) columns as raw longs — the failure
    # sources.tables._read_parquet_nanos_safe exists to scope: the latch
    # is set on demand, only in sessions that actually touch a
    # NANOS-encoded table through the tbl()/events_between wrappers.
}


def get_spark(
    app_name: str = "endtoend-etl-openmeteo-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (``local[*]`` when the
    env var is unset) — single-JVM for tests/bench; a real deployment passes
    its cluster master/config through ``extra_conf``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    for key, value in {**ENGINE_CONF, **(extra_conf or {})}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # getOrCreate returns a PRE-EXISTING session with the builder confs
    # silently ignored — apply the runtime-settable semantics confs
    # (UTC timezone, ANSI, dynamic overwrite) so they hold on that path
    # too, plus any runtime-settable extra_conf the caller asked for.
    ensure_engine_conf(spark)
    for key, value in (extra_conf or {}).items():
        try:
            spark.conf.set(key, value)
        except Exception:  # static conf on an existing session — creation-only
            pass
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, rows: list, schema: str) -> "DataFrame":
    """A SINGLE-PARTITION DataFrame from driver-local rows — the frame to
    use when bounded metadata (tombstone batches, manifest rows, contract
    sets) must be written as one file.

    ``createDataFrame(rows).coalesce(1)`` is a measured ~5 s trap in
    local[32]: the local rows land in defaultParallelism (=32) Python
    partitions, and the coalesced single task then pays one Python-worker
    round trip PER PARENT PARTITION, serially. Parallelizing to one slice
    up front makes the same write one round trip (~0.3 s).
    """
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def scratch_dir(prefix: str = "scratch_") -> str:
    """A fresh scratch directory for plan-internal side outputs (e.g. the
    incremental near-dup signature index built inside q_neardup_incremental).

    Honors ``SPARK_GRAFT_SCRATCH`` so a multi-node deployment can point
    scratch at a SHARED filesystem (HDFS/S3/NFS) that executors can read —
    a driver-local tempdir is only valid in local[*] mode, where driver and
    executors share one machine. Falls back to ``tempfile.mkdtemp`` (the
    local-mode default). Callers own cleanup (``shutil.rmtree``).
    """
    import tempfile

    root = os.environ.get("SPARK_GRAFT_SCRATCH")
    if root:
        os.makedirs(root, exist_ok=True)
        return tempfile.mkdtemp(prefix=prefix, dir=root)
    return tempfile.mkdtemp(prefix=prefix)


from contextlib import contextmanager


@contextmanager
def bounded_shuffle(spark: SparkSession, n: int):
    """Temporarily pin ``spark.sql.shuffle.partitions`` to ``n``.

    For HARNESS-SHAPED query bodies only: lifecycle proofs that operate
    on bounded slices (q_index_compact's 2000-doc corpus, the contract
    rows' fixed embeddings table, streaming epochs over metadata-sized
    batches), where every exchange at the session's 32 partitions is
    pure per-task fixed cost. A production-scale operator must NOT use
    this — it sizes shuffles to data via AQE instead. Restores the
    previous value on exit."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an existing session."""
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - static confs on some builds
            pass
    return spark


# --- localCheckpoint lifecycle -------------------------------------------
#
# ``df.localCheckpoint(eager=True)`` pins its blocks in the block manager
# until the RDD is garbage-collected JVM-side — which for a long-lived
# driver (bench loops, serving sessions, maintenance ticks) is effectively
# never. Iterative operators therefore release superseded per-iteration
# checkpoints as soon as the next round is materialized, and release their
# internal scaffolding (edge tables, tokenized corpora) before returning —
# the ONLY blocks a plan may leave behind are the ones backing the
# DataFrame it returns. Suite drivers (bench.py, tools/check_oracle.py,
# tests) then call :func:`release_persistent_rdds` after consuming each
# result, so session storage memory returns to ~0 between queries.


def release_checkpoint(df) -> None:
    """Unpersist the block-manager blocks behind a ``localCheckpoint``'ed
    DataFrame. The DataFrame must not be used afterwards — its lineage was
    truncated at the checkpoint, so the blocks are the only copy. Safe
    no-op on non-checkpointed frames and on any JVM accessor drift."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently pinned in the block manager (cached or
    locally checkpointed) — the leak gauge the soak test asserts on."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def release_persistent_rdds(spark: SparkSession, keep: set[int] | None = None) -> int:
    """Unpersist every pinned RDD (except ``keep``). Call ONLY between
    units of work, after the previous result has been fully consumed:
    a released local checkpoint cannot be recomputed. Returns the number
    of RDDs released."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    released = 0
    for jrdd in list(jmap.values()):
        if keep and int(jrdd.id()) in keep:
            continue
        try:
            jrdd.unpersist(False)
            released += 1
        except Exception:  # pragma: no cover - races with concurrent GC
            pass
    return released
