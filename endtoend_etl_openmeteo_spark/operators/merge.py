"""Keyed upsert/merge on plain Parquet (SURVEY.md §4 custom-work item 1).

The reference's ``INSERT ... ON CONFLICT (city,"timestamp") DO UPDATE``
(``ingestion/loader/load_to_postgres.py:89-102``) gives last-write-wins per
key. OSS Spark without a table format has no MERGE INTO, so the engine
provides it as a library operator:

    union(affected target partitions, new batch)
      → row_number() over key ordered by order_col desc → keep first
      → ONE partitioned write into a staging dir beside the target
      → per-partition directory renames into the target

Scale design (the part that must survive 100 TB):
- **Partition-scoped, never full-table.** Only partitions present in the
  new batch are read back and rewritten; a 24-row hourly batch against a
  100 TB table touches a handful of partitions. The partition values of the
  batch are collected (small by construction — a batch's distinct partition
  keys) and pushed as an IN filter so partition pruning limits the
  read-back. A caller that already collected them passes ``batch_parts``.
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
  staging is deleted only after the last partition commits.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


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


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path``."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Quiet existence check through Hadoop's FileSystem (a speculative
    spark.read would log a full FileNotFoundException stack on first run)."""
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath))


def _delete_path(spark: SparkSession, path: str) -> None:
    fs, hpath = _fs(spark, path)
    fs.delete(hpath, True)


def _leaf_partitions(fs, root, depth: int) -> list[tuple[str, object]]:
    """(relative path like ``a=1/b=2``, Hadoop Path) of each partition
    directory ``depth`` levels under ``root``; ``[("", root)]`` at depth 0.
    Hidden names (``_SUCCESS``, ``.crc`` files) are skipped, as readers
    skip them."""
    level = [("", root)]
    for _ in range(depth):
        children = []
        for rel, path in level:
            for st in fs.listStatus(path):
                name = st.getPath().getName()
                if st.isDirectory() and not name.startswith(("_", ".")):
                    children.append((f"{rel}/{name}" if rel else name, st.getPath()))
        level = children
    return level


def _commit_staged(spark: SparkSession, staged: str, old: str, target: str,
                   depth: int) -> None:
    """Move each leaf partition under ``staged`` into ``target``, first
    moving the partition it replaces to the same place under ``old``.

    Hadoop's rename into an EXISTING directory nests the source inside it
    instead of replacing it, so the target leaf is always moved away
    before the new one is renamed in. A ``False`` rename raises."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs, staged_root = _fs(spark, staged)

    def sub(root: str, rel: str):
        return Path(f"{root}/{rel}" if rel else root)

    def rename(src, dst) -> None:
        fs.mkdirs(dst.getParent())
        if not fs.rename(src, dst):
            raise OSError(f"rename {src} -> {dst} failed")

    for rel, src in _leaf_partitions(fs, staged_root, depth):
        dst = sub(target, rel)
        if fs.exists(dst):
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
    a caller that needs them too (the gold refresh) collects them once and
    passes them in. Without it the merge collects them itself.

    Idempotent: re-merging the same batch leaves the table unchanged.
    An EMPTY batch is a no-op — without the early return it would fall
    through to ``affected = target`` (no partition predicate) and
    rewrite the ENTIRE table to change nothing (a quarantine gate that
    rejects a whole micro-batch hits exactly this).

    The first write into a missing target is one direct write. Otherwise
    the merged partitions are staged and committed by rename (module
    docstring). A failed staged write deletes staging and leaves the
    target untouched; a commit that fails part-way keeps staging — it
    holds the not-yet-committed and the replaced partitions — and names
    it in the raised error.
    """
    partition_cols = partition_cols or []

    if not _path_exists(spark, target_path):
        writer = dedup_last_write_wins(new, keys, order_col).write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(target_path)
        return

    target = spark.read.parquet(target_path)
    if partition_cols:
        # Partition-scoped read-back: only partitions the batch touches.
        # eqNullSafe, not ==: a plain equality against a NULL partition
        # value never matches, the null partition's existing rows would be
        # excluded from `affected`, and the commit would replace the whole
        # __HIVE_DEFAULT_PARTITION__ with batch rows only — silent deletion
        # of every pre-existing key there.
        if batch_parts is None:
            batch_parts = new.select(*partition_cols).distinct().collect()
        if not batch_parts:
            return  # empty batch: nothing to merge, nothing to touch
        pred = None
        for row in batch_parts:
            clause = None
            for c in partition_cols:
                eq = F.col(c).eqNullSafe(F.lit(row[c]))
                clause = eq if clause is None else (clause & eq)
            pred = clause if pred is None else (pred | clause)
        affected = target.filter(pred)
    else:
        if new.isEmpty():
            return  # empty batch: a full-table rewrite would be a no-op
        affected = target
    # source tag: on an exact order_col tie the BATCH row must win
    # (the reference's ON CONFLICT DO UPDATE always takes the new row)
    merged = dedup_last_write_wins(
        affected.withColumn("__src", F.lit(0)).unionByName(
            new.select(*affected.columns).withColumn("__src", F.lit(1))
        ),
        keys,
        order_col,
        tiebreak_cols=["__src"],
    ).drop("__src")

    staging = target_path.rstrip("/") + f"__stage_{uuid.uuid4().hex[:8]}"
    staged = f"{staging}/new"
    try:
        writer = merged.write
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(staged)
    except BaseException:
        _delete_path(spark, staging)
        raise
    try:
        _commit_staged(spark, staged, f"{staging}/old", target_path, len(partition_cols))
    except Exception as e:
        raise RuntimeError(
            f"merge into {target_path} failed part-way through its commit; "
            f"uncommitted and replaced partitions are kept in {staging}"
        ) from e
    _delete_path(spark, staging)


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
