"""Keyed upsert/merge on plain Parquet (SURVEY.md §4 custom-work item 1).

The reference's ``INSERT ... ON CONFLICT (city,"timestamp") DO UPDATE``
(``ingestion/loader/load_to_postgres.py:89-102``) gives last-write-wins per
key. OSS Spark without a table format has no MERGE INTO, so the engine
provides it as a library operator:

    union(the batch's existing target partitions, new batch)
      → row_number() over key ordered by order_col desc → keep first
      → ONE dynamic-overwrite write, partitioned, into the target

Scale design:
- **Partition-scoped, never full-table.** Only the leaf partition
  directories the batch's partition values name are listed, read back and
  rewritten; every other partition is neither listed nor opened. The cost
  therefore follows the partition key: the pipeline partitions silver by
  month, so an hourly batch rewrites one month (two at a month boundary),
  whatever the history's length. The batch's partition values are
  collected (small by construction) unless the caller passes them as
  ``batch_parts``.
- The dedup window shuffles on the merge keys only — no global sort.
- **Committed by Spark's dynamic-overwrite writer**, pinned on the writer
  as the gold refresh pins it, not trusted from the session. Its tasks
  write into ``<target>/.spark-staging-<job>/``, which readers skip; a
  task failure aborts the job, and its staging directory is deleted
  before any commit. ``commitJob`` then replaces each written leaf
  partition directory by a delete and a rename; no other partition is
  touched.
- **A commit that fails part-way loses data (open risk, ROADMAP
  direction 1).** Between a leaf's delete and its rename, its merged rows
  (every surviving old row included) exist only in the staging
  directory. A crash there strands them where no reader sees them and
  nothing recovers them. A ``commitJob`` that fails with an error (a
  rename returning false, an ``IOException``) is aborted, and the abort
  deletes the staging directory: each partition deleted but not yet
  renamed loses both its old and its merged rows.
- **A batch row outside ``batch_parts`` fails the write.** Its partition
  was not read back, so committing it would replace that partition with
  the batch's rows only. Each batch row's partition values pass through
  a ``raise_error`` guard inside the one write job, which then fails
  before its commit and leaves the target untouched.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark import fsio


def dedup_last_write_wins(
    df: DataFrame, keys: list[str], order_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Keep the newest row per key. ``tiebreak_cols`` (descending, after
    ``order_col``) make equal-``order_col`` conflicts deterministic —
    merge_upsert passes a source tag so a re-ingested correction carrying
    the SAME order value as the stored row still wins (ON CONFLICT DO
    UPDATE semantics); without one, equal-order ties fall to Spark's
    unstable sort."""
    order = [F.col(order_col).desc()] + [
        F.col(c).desc() for c in (tiebreak_cols or [])
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def leaf_path(spark: SparkSession, partition_cols: list[str], row) -> str:
    """The relative leaf directory (``a=1/b=2``) that Spark's partitioned
    writer gives ``row``'s values of ``partition_cols``: names and values
    escaped by Spark's own ``escapePathName``, a NULL or empty value as
    ``__HIVE_DEFAULT_PARTITION__``. Values are rendered as strings the way
    the writer casts them for strings, integers and dates; a value the
    writer renders differently names no existing directory, and the
    merge's partition guard then fails the write rather than lose rows."""
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    parts = []
    for c in partition_cols:
        v = row[c]
        if v is None or v == "":
            value = utils.DEFAULT_PARTITION_NAME()
        else:
            value = utils.escapePathName(str(v))
        parts.append(f"{utils.escapePathName(c)}={value}")
    return "/".join(parts)


def read_partitions(
    spark: SparkSession, path: str, schema, leaves
) -> DataFrame | None:
    """The table at ``path`` restricted to its existing leaf directories
    among ``leaves`` (relative paths, as :func:`leaf_path` gives them), read
    with ``schema``; None when none exists. Only those directories are
    listed: ``basePath`` keeps their partition columns, so the read never
    lists the table's other partitions (above Spark's
    ``parallelPartitionDiscovery.threshold`` of 32 directories, a listing
    of the whole table runs a Spark job of its own)."""
    root = path.rstrip("/")
    paths = [f"{root}/{rel}" for rel in sorted(leaves)]
    existing = [p for p in paths if fsio.exists(spark, p)]
    if not existing:
        return None
    return spark.read.schema(schema).option("basePath", root).parquet(*existing)


def _in_partitions(partition_cols: list[str], parts: list) -> Column:
    """Whether a row's values of ``partition_cols`` name the leaf directory
    of one of ``parts``: compared as the strings the writer names
    directories by, with NULL and ``""`` both the default partition, as
    :func:`leaf_path` renders them."""
    row = F.array(
        *(F.coalesce(F.col(c).cast("string"), F.lit("")) for c in partition_cols)
    )
    return row.isin([
        F.array(*(F.lit("" if p[c] is None else str(p[c])) for c in partition_cols))
        for p in parts
    ])


def merge_upsert(
    spark: SparkSession,
    new: DataFrame,
    target_path: str,
    keys: list[str],
    order_col: str,
    partition_cols: list[str],
    batch_parts: list | None = None,
) -> None:
    """Last-write-wins merge of ``new`` into the Parquet table at
    ``target_path``, partitioned by ``partition_cols``, keyed by ``keys``,
    newest-by-``order_col`` winning — the reference's upsert semantics
    (S8/J4/T4).

    ``partition_cols`` must name at least one column: the merge replaces
    whole partitions, and a table without one is a single partition, so
    its overwrite would delete the table it reads. An empty list raises
    :class:`ValueError` before anything is read or written.

    ``batch_parts`` is the batch's distinct partition values as rows
    (what ``new.select(*partition_cols).distinct().collect()`` returns);
    a caller that already has them (``run_elt`` observes them during the
    DQ gate's scan) passes them in. Without it the merge collects them
    itself. A value with no rows in ``new`` is allowed: that partition is
    rewritten with its own rows. A batch row in a partition that
    ``batch_parts`` misses fails the write with an error that says it
    "did not read back" that partition, and the target is left as it was.

    Only the named partitions' leaf directories are read back, with
    ``new``'s schema, so no footer-inference job runs and no other
    partition is listed; partition discovery places the partition columns
    last. The batch's schema is the table's: rewritten partitions carry
    exactly ``new``'s columns.

    Idempotent: re-merging the same batch leaves the table unchanged. An
    EMPTY batch into an existing table is a no-op (a quarantine gate that
    rejects a whole micro-batch hits exactly this). A missing target is
    created by the same write, with nothing to read back.
    """
    if not partition_cols:
        raise ValueError(
            f"merge into {target_path} needs partition columns: an overwrite "
            "without them would replace the whole table"
        )

    # source tag: on an exact order_col tie the BATCH row must win
    # (the reference's ON CONFLICT DO UPDATE always takes the new row)
    rows = new.withColumn("__src", F.lit(1))
    if fsio.exists(spark, target_path):
        if batch_parts is None:
            batch_parts = new.select(*partition_cols).distinct().collect()
        if not batch_parts:
            return  # empty batch: nothing to merge, nothing to touch
        read_back = _in_partitions(partition_cols, batch_parts)
        stray = F.raise_error(F.lit(
            f"merge into {target_path} has a batch row in a partition it did not "
            "read back; batch_parts must name every partition of the batch"
        ))
        rows = rows.withColumns({
            c: F.when(read_back, F.col(c)).otherwise(stray) for c in partition_cols
        })
        leaves = {leaf_path(spark, partition_cols, row) for row in batch_parts}
        affected = read_partitions(spark, target_path, new.schema, leaves)
        if affected is not None:
            rows = affected.withColumn("__src", F.lit(0)).unionByName(
                rows.select(*affected.columns, "__src")
            )
    merged = dedup_last_write_wins(
        rows, keys, order_col, tiebreak_cols=["__src"]
    ).drop("__src")
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(target_path)
    )


def agg_state(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Partial-aggregate state for incremental materialized-view
    maintenance: (keys..., __n, __sum, __min, __max) per group.

    The algebraic-aggregate half of the mergeable-rollup family
    (plans/sketches.py holds the sketch half): count/sum/min/max
    decompose over any partition of the input, so a stored mart can be
    maintained by aggregating ONLY each arriving batch and merging the
    batch state in — never rescanning history. avg/stddev derive from
    the state at finalize time; non-decomposable stats (distinct,
    quantiles) are the sketches' job.
    """
    return df.groupBy(*keys).agg(
        F.count("*").alias("__n"),
        F.sum(value_col).alias("__sum"),
        F.min(value_col).alias("__min"),
        F.max(value_col).alias("__max"),
    )


def merge_agg_states(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Merge any number of agg_state frames: union + one re-aggregate
    with each component's merge function (count→sum, sum→sum, min→min,
    max→max). Associative and commutative — batches can arrive in any
    order, states of states merge identically."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy(*keys).agg(
        F.sum("__n").alias("__n"),
        F.sum("__sum").alias("__sum"),
        F.min("__min").alias("__min"),
        F.max("__max").alias("__max"),
    )


def finalize_agg_state(state: DataFrame, keys: list[str]) -> DataFrame:
    """The user-facing mart from a state frame. Rounding per repo oracle
    convention (sum 4dp — cross-engine/merge-order summation differs at
    ~1e-10 — avg/min/max 6dp); avg derives as sum/count so the formula
    matches what any SQL engine recomputing from raw rows produces."""
    return state.select(
        *keys,
        F.col("__n").alias("n_events"),
        F.round(F.col("__sum"), 4).alias("sum_value"),
        F.round(F.col("__sum") / F.col("__n"), 6).alias("avg_value"),
        F.round(F.col("__min"), 6).alias("min_value"),
        F.round(F.col("__max"), 6).alias("max_value"),
    )
