"""Keyed upsert/merge on plain Parquet (SURVEY.md §4 custom-work item 1).

The reference's ``INSERT ... ON CONFLICT (city,"timestamp") DO UPDATE``
(``ingestion/loader/load_to_postgres.py:89-102``) gives last-write-wins per
key. OSS Spark without a table format has no MERGE INTO, so the engine
provides it as a library operator:

    union(the batch's existing target partitions, new batch)
      → row_number() over key ordered by order_col desc → keep first
      → ONE partitioned write into a staging dir beside the target
      → per-partition directory renames into the target

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
- **Written once, committed by rename.** The merged rows are written once,
  ``partitionBy(partition_cols)``, into a fresh staging directory on the
  target's own filesystem, so the plan never reads the files it replaces
  and the staged copy survives executor loss. Each staged leaf partition
  directory then replaces its target counterpart with Hadoop
  ``FileSystem`` renames — the rename Spark's own dynamic-overwrite
  committer does, without its session-global ``partitionOverwriteMode``.
  The old directory moves into staging BEFORE the new one moves into
  place, so every partition's data exists somewhere at every instant;
  staging is deleted only after the last partition commits. A staged leaf
  that was not read back would replace a partition with only the batch's
  rows, so it fails the merge before the first rename.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
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
    """The relative leaf directory (``a=1/b=2``; ``""`` with no partition
    columns) that Spark's partitioned writer gives ``row``'s values of
    ``partition_cols``: names and values escaped by Spark's own
    ``escapePathName``, a NULL or empty value as
    ``__HIVE_DEFAULT_PARTITION__``. Values are rendered as strings the way
    the writer casts them for strings, integers and dates; a value the
    writer renders differently names no existing directory, and the
    merge's staged-leaf check then raises rather than lose rows."""
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
    paths = [f"{root}/{rel}" if rel else root for rel in sorted(leaves)]
    existing = [p for p in paths if fsio.exists(spark, p)]
    if not existing:
        return None
    return spark.read.schema(schema).option("basePath", root).parquet(*existing)


def _leaf_partitions(spark, root: str, depth: int) -> list[tuple[str, object]]:
    """(relative path like ``a=1/b=2``, path) of each partition directory
    ``depth`` levels under ``root``; ``[("", root)]`` at depth 0.
    Hidden names (``_SUCCESS``, ``.crc`` files) are skipped, as readers
    skip them."""
    level = [("", root)]
    for _ in range(depth):
        children = []
        for rel, path in level:
            for st in fsio.list_status(spark, path):
                name = st.getPath().getName()
                if st.isDirectory() and not name.startswith(("_", ".")):
                    children.append((f"{rel}/{name}" if rel else name, st.getPath()))
        level = children
    return level


def _commit_staged(spark: SparkSession, staged: str, old: str, target: str,
                   depth: int, read_back: set[str]) -> None:
    """Move each leaf partition under ``staged`` into ``target``, first
    moving the partition it replaces to the same place under ``old``.

    ``read_back`` is the set of leaves whose existing rows the staged write
    merged. A staged leaf outside it holds only the batch's rows, and its
    rename would drop the target partition's other rows, so a
    :class:`ValueError` is raised before the first rename. Hadoop's rename
    into an EXISTING directory nests the source inside it instead of
    replacing it, so the target leaf is always moved away before the new
    one is renamed in. A ``False`` rename raises :class:`OSError`."""
    leaves = _leaf_partitions(spark, staged, depth)
    stray = sorted(rel for rel, _ in leaves if rel not in read_back)
    if stray:
        raise ValueError(
            f"merge into {target} staged partitions it did not read back: "
            f"{stray[:5]}; batch_parts must name every partition of the batch"
        )

    def sub(root: str, rel: str) -> str:
        root = root.rstrip("/")
        return f"{root}/{rel}" if rel else root

    def rename(src, dst: str) -> None:
        fsio.mkdirs(spark, dst.rsplit("/", 1)[0])
        if not fsio.rename(spark, src, dst):
            raise OSError(f"rename {src} -> {dst} failed")

    for rel, src in leaves:
        dst = sub(target, rel)
        if fsio.exists(spark, dst):
            rename(dst, sub(old, rel))
        rename(src, dst)


def merge_upsert(
    spark: SparkSession,
    new: DataFrame,
    target_path: str,
    keys: list[str],
    order_col: str,
    partition_cols: list[str] | None = None,
    batch_parts: list | None = None,
) -> None:
    """Last-write-wins merge of ``new`` into the Parquet table at
    ``target_path`` keyed by ``keys``, newest-by-``order_col`` winning —
    the reference's upsert semantics (S8/J4/T4).

    ``batch_parts`` is the batch's distinct partition values as rows
    (what ``new.select(*partition_cols).distinct().collect()`` returns);
    a caller that already has them (``run_elt`` observes them during the
    DQ gate's scan) passes them in. Without it the merge collects them
    itself. A value with no rows in ``new`` is allowed: that partition is
    rewritten with its own rows. A batch row in a partition that
    ``batch_parts`` misses raises ValueError, and the target is left as
    it was.

    Only the named partitions' leaf directories are read back, with
    ``new``'s schema, so no footer-inference job runs and no other
    partition is listed; partition discovery places the partition columns
    last. The batch's schema is the table's: rewritten partitions carry
    exactly ``new``'s columns.

    Idempotent: re-merging the same batch leaves the table unchanged.
    An EMPTY batch is a no-op — without the early return an unpartitioned
    table would be rewritten whole to change nothing (a quarantine gate
    that rejects a whole micro-batch hits exactly this).

    The first write into a missing target is one direct write. Otherwise
    the merged partitions are staged and committed by rename (module
    docstring). A failed staged write deletes staging and leaves the
    target untouched; a commit that fails part-way keeps staging — it
    holds the not-yet-committed and the replaced partitions — and names
    it in the raised error.
    """
    partition_cols = partition_cols or []

    if not fsio.exists(spark, target_path):
        writer = dedup_last_write_wins(new, keys, order_col).write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(target_path)
        return

    if partition_cols:
        if batch_parts is None:
            batch_parts = new.select(*partition_cols).distinct().collect()
        if not batch_parts:
            return  # empty batch: nothing to merge, nothing to touch
        read_back = {leaf_path(spark, partition_cols, row) for row in batch_parts}
    elif new.isEmpty():
        return  # empty batch: a full-table rewrite would be a no-op
    else:
        read_back = {""}

    # source tag: on an exact order_col tie the BATCH row must win
    # (the reference's ON CONFLICT DO UPDATE always takes the new row)
    rows = new.withColumn("__src", F.lit(1))
    affected = read_partitions(spark, target_path, new.schema, read_back)
    if affected is not None:
        rows = affected.withColumn("__src", F.lit(0)).unionByName(
            rows.select(*affected.columns, "__src")
        )
    merged = dedup_last_write_wins(
        rows, keys, order_col, tiebreak_cols=["__src"]
    ).drop("__src")

    staging = target_path.rstrip("/") + f"__stage_{uuid.uuid4().hex[:8]}"
    staged = f"{staging}/new"
    try:
        writer = merged.write
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(staged)
    except BaseException:
        fsio.delete(spark, staging)
        raise
    try:
        _commit_staged(
            spark, staged, f"{staging}/old", target_path, len(partition_cols),
            read_back,
        )
    except ValueError:
        fsio.delete(spark, staging)  # raised before the first rename
        raise
    except Exception as e:
        raise RuntimeError(
            f"merge into {target_path} failed part-way through its commit; "
            f"uncommitted and replaced partitions are kept in {staging}"
        ) from e
    fsio.delete(spark, staging)


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
