"""Structured Streaming variant of the ELT (SURVEY.md §2.9, §7 step 6).

The reference is micro-batch-by-scheduler; its semantics map 1:1 onto
Structured Streaming:

- T1 hourly trigger        → ``trigger(processingTime="1 hour")``
  (tests use ``availableNow`` for a synchronous drain);
- T3 exactly-once files    → the file source's checkpointed file index
  replaces ``staging._ingest_log`` (load_to_postgres.py:150-185) outright;
- T2 6-hour lookback       → ``withWatermark("timestamp", "6 hours")``;
- T4 last-write-wins       → ``foreachBatch`` → the same partition-scoped
  ``merge_upsert`` the batch path uses — one merge implementation, two
  execution modes;
- A1 daily mart            → tumbling 1-day event-time window aggregate.

Scale: the file source lists incrementally (maxFilesPerTrigger bounds a
micro-batch); state for the windowed aggregate is bounded by the watermark.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from endtoend_etl_openmeteo_spark import fsio
from endtoend_etl_openmeteo_spark.operators.explode import unzip_hourly
from endtoend_etl_openmeteo_spark.session import pinned, release_checkpoint
from endtoend_etl_openmeteo_spark.sources.bronze import BRONZE_READ_SCHEMA


def _lineage_run_id(spark: SparkSession, checkpoint_path: str) -> str:
    """Run id scoped to the checkpoint LINEAGE, not the checkpoint path: a
    uuid marker persisted inside the checkpoint directory. Wiping the
    checkpoint to reprocess from scratch (the standard operator move)
    destroys the marker, so the restarted stream gets a FRESH run id —
    its epoch 0..N tags and (run, epoch) output partitions can never
    collide with the old lineage's. A path-derived id (md5 of the
    string) reused across lineages would make the new run's epochs hit
    the old run's vt epoch tags (batches silently skipped) or
    dynamically overwrite the old run's same-numbered partitions
    (old/new mixed output). Read and written through ``fsio``, the
    package's Hadoop filesystem layer, so remote checkpoints work."""
    marker = f"{checkpoint_path}/_engine_run_id"
    if fsio.exists(spark, marker):
        return fsio.read_bytes(spark, marker).decode("ascii").strip()
    import uuid as _uuid

    run_id = _uuid.uuid4().hex[:12]
    fsio.write_bytes(spark, marker, run_id.encode("ascii"))
    return run_id


def _start_foreach_batch(
    stream: DataFrame,
    fn,
    checkpoint_path: str,
    available_now: bool,
    interval: str = "1 hour",
) -> StreamingQuery:
    """Shared writeStream tail for the three foreachBatch pipelines: one
    place for the checkpoint/trigger policy instead of three drifting
    copies. ``available_now`` drains pending input then stops (tests /
    backfills); production passes False for a processingTime trigger."""
    writer = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=interval)
    return writer.start()


def stream_bronze(
    spark: SparkSession, bronze_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming scan of the bronze JSON table. The checkpoint (given at
    writeStream time) makes file processing exactly-once — the built-in
    replacement for the reference's ingest log (T3)."""
    reader = spark.readStream.schema(BRONZE_READ_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(bronze_path)


def streaming_hourly(raw_stream: DataFrame, policy: str = "nullpad") -> DataFrame:
    """Flatten the payload stream to hourly rows.

    NOTE on late data: a watermark only gates STATEFUL operators; on the
    stateless foreachBatch merge path (run_streaming_elt) arbitrarily late
    rows flow through and the MERGE reconciles them — which is the
    reference's actual semantics (late/duplicate data is upserted, T4, not
    dropped). The watermark lives in streaming_daily_agg, the stateful
    consumer whose window state it bounds (T2's 6-hour lookback)."""
    return unzip_hourly(raw_stream, policy=policy)


def streaming_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "timestamp",
    delay: str = "6 hours",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, drop
    re-deliveries that land within the watermark delay (the streaming form
    of operators.dedup.exact_dedup, and the row-granular generalization of
    T3's file-level exactly-once). State is keyed by ``key_cols`` only and
    purged as the event-time watermark advances past ``delay`` — bounded
    memory at any throughput, unlike an unwatermarked dropDuplicates whose
    state grows forever."""
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(key_cols)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    left_delay: str = "6 hours",
    right_delay: str = "6 hours",
    tolerance: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each left row with
    right rows sharing ``keys`` whose event time lands in
    ``[left_ts, left_ts + tolerance]`` — the streaming enrichment shape
    (observations ⋈ late corrections, requests ⋈ responses).

    Both sides carry watermarks AND the join carries an event-time range
    constraint, which is exactly what lets Spark bound the join state: a
    buffered left row is droppable once the right watermark passes
    ``left_ts + tolerance``, and vice versa — without the range condition
    stream-stream join state grows forever. Outer modes emit the
    unmatched row only after the opposing watermark proves no match can
    still arrive (correct, watermark-delayed nulls).

    Column contract: the result keeps BOTH sides' columns under the
    ``l.`` / ``r.`` alias qualifiers (select ``F.col("l.<key>")`` etc.);
    bare key names are ambiguous by design — an expr join does not
    coalesce key columns, and which side's key a consumer wants depends
    on the join mode (outer rows carry NULL on the unmatched side).
    """
    l_wm = left.withWatermark(left_ts, left_delay).alias("l")
    r_wm = right.withWatermark(right_ts, right_delay).alias("r")
    key_cond = " AND ".join(f"l.{k} = r.{k}" for k in keys)
    time_cond = (
        f"r.{right_ts} >= l.{left_ts} "
        f"AND r.{right_ts} <= l.{left_ts} + INTERVAL {tolerance}"
    )
    return l_wm.join(r_wm, F.expr(f"{key_cond} AND {time_cond}"), how)


def streaming_daily_agg(hourly: DataFrame) -> DataFrame:
    """Streaming fct_city_day: tumbling 1-day event-time window (the
    streaming form of A1) behind a 6-hour watermark (T2). State is purged
    once the watermark passes the window end."""
    return (
        hourly.withWatermark("timestamp", "6 hours")
        .groupBy(F.window("timestamp", "1 day").alias("w"), "city")
        .agg(
            F.avg("temperature_2m").alias("temperature_2m"),
            F.avg("precipitation").alias("precipitation"),
            F.avg("wind_speed_10m").alias("wind_speed_10m"),
        )
        .select("city", F.col("w.start").alias("day"), "temperature_2m",
                "precipitation", "wind_speed_10m")
    )


def streaming_sessionize(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key session aggregation with the BUILT-IN session_window — the
    streaming form of q_sessionize. Sessions extend while events arrive
    within ``gap`` of the current session end; the watermark closes a
    session (emits in append mode) once event time passes session end +
    ``watermark``, which also bounds state: one open session row per
    active key, never the event history.

    Late data inside the watermark merges into (or extends) its session;
    later than that it is dropped — the streaming-exactness trade the
    batch sessionizer doesn't have to make.
    """
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def run_streaming_corpus_ingest(
    spark: SparkSession,
    landing_path: str,
    corpus_path: str,
    index_path: str,
    checkpoint_path: str,
    schema: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    quarantine_path: str | None = None,
    est_threshold: float = 0.5,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    screen: str = "minhash",
) -> StreamingQuery:
    """Continuous corpus ingest: landing docs stream → dup screen against
    the persistent index → clean docs to the corpus, duplicates
    quarantined — the 100-TB training-data pipeline shape that composes
    the streaming ELT's exactly-once machinery with
    ``operators.dedup.incremental_neardup`` (``screen="minhash"``, the
    near-dup default) or ``operators.dedup.incremental_exact_dedup``
    (``screen="exact"`` — digest-equality verdicts, deterministic and
    SQL-replicable, with a 16-byte/doc index).

    Per micro-batch (epoch):

    - the batch is screened with ``batch_id = f"{run_id}-{epoch}"``, so the
      index write is the operator's whole-subdir overwrite — a RETRIED
      epoch (crash after the index write, before the sink commit) replaces
      its own partial subdir and recomputes pairs with that subdir excluded
      from the "already indexed" view: screen-then-index is idempotent
      under Structured Streaming's replay contract, no batch is ever
      double-screened against itself;
    - a new doc is a duplicate iff it matches the index (est_jaccard >=
      ``est_threshold`` vs any PRIOR batch) or a smaller-id doc in its OWN
      batch (intra-batch cluster keeps its smallest id — the
      ``exact_dedup`` keep-rule lifted to near-dups);
    - clean and quarantined rows land under ``(_run_id, _epoch_id)``
      partitions with dynamic overwrite, the same replay-safe sink layout
      as ``run_streaming_elt``'s quarantine: an epoch retry REPLACES its
      own output instead of appending duplicates.

    Exactly-once file consumption comes from the streaming checkpoint
    (T3); the analog in the reference is the ``_ingest_log`` skip of
    ``ingestion/loader/load_to_postgres.py:150-185``, here lifted from
    file-level to content-level dedup. Work per epoch is
    O(batch + touched buckets) — never O(corpus) — so ingest cost tracks
    arrival rate even as the corpus grows unboundedly.
    """
    run_id = _lineage_run_id(spark, checkpoint_path)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(landing_path)

    if screen not in ("minhash", "exact"):
        raise ValueError(f"unknown screen {screen!r} (minhash|exact)")

    def screen_batch(batch: DataFrame, epoch_id: int) -> None:
        from endtoend_etl_openmeteo_spark.operators.dedup import (
            incremental_exact_dedup,
            incremental_neardup,
        )

        sess = batch.sparkSession
        if screen == "exact":
            pairs = incremental_exact_dedup(
                sess,
                batch,
                index_path,
                id_col,
                text_col,
                batch_id=f"{run_id}-{int(epoch_id)}",
            )
        else:
            pairs = incremental_neardup(
                sess,
                batch,
                index_path,
                id_col,
                text_col,
                n_hashes=n_hashes,
                bands=bands,
                shingle_n=shingle_n,
                est_threshold=est_threshold,
                batch_id=f"{run_id}-{int(epoch_id)}",
            )
        def sink(df: DataFrame, path: str) -> None:
            (
                df.drop("__dup_id")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_run_id", "_epoch_id")
                .parquet(path)
            )

        # pairs is eagerly checkpointed inside the operator (it must
        # materialize BEFORE the index append), so reusing it twice below
        # re-reads checkpoint blocks, not the landing files. The CALLER
        # owns the release — done after the sinks, or a long-lived ingest
        # pins one pairs copy per epoch forever.
        with ExitStack() as scoped:
            scoped.callback(release_checkpoint, pairs)
            dup_ids = (
                pairs.filter(~F.col("match_is_new"))
                .select(F.col("new_id").alias("__dup_id"))
                .unionByName(
                    pairs.filter(F.col("match_is_new")).select(
                        F.col("match_id").alias("__dup_id")
                    )
                )
                .distinct()
            )
            annotated = batch.join(
                F.broadcast(dup_ids), batch[id_col] == dup_ids["__dup_id"], "left"
            )
            stamped = (
                annotated.withColumn("_run_id", F.lit(run_id))
                .withColumn("_epoch_id", F.lit(int(epoch_id)))
            )
            if quarantine_path is not None:
                # TWO sinks consume `stamped` — checkpoint it so the
                # landing files and the dedup join evaluate once per
                # epoch, not once per sink; LAZY: the first sink write is
                # the action that materializes it (the bpe_train
                # fused-pass pattern), the second reads its blocks
                stamped = scoped.enter_context(pinned(stamped, eager=False))
            sink(stamped.filter(F.col("__dup_id").isNull()), corpus_path)
            if quarantine_path is not None:
                sink(
                    stamped.filter(F.col("__dup_id").isNotNull()).withColumn(
                        "_quarantined_at", F.current_timestamp()
                    ),
                    quarantine_path,
                )

    return _start_foreach_batch(docs, screen_batch, checkpoint_path, available_now)


def run_streaming_ann_ingest(
    spark: SparkSession,
    landing_path: str,
    index_path: str,
    checkpoint_path: str,
    schema: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous embedding ingestion into a servable ANN index: landing
    vectors stream → sidecar-quantizer IVF-PQ encode → the stream-managed
    index (operators/similarity.init_streamed_ivfpq_index) — the
    retrieval-pipeline production shape: train the quantizer offline
    once, then `add` forever while the index stays queryable
    (stored_ivfpq_topk) and bounded (compact_streamed_ivfpq_index folds
    epochs older than the retry horizon into segments).

    Exactly-once composition, reusing the corpus-ingest machinery:

    - file consumption is exactly-once via the streaming checkpoint (T3);
    - each epoch appends under its own ``_epoch={run_id}-{epoch}``
      partitions with dynamic overwrite — encode is deterministic given
      the sidecar quantizers, so a REPLAYED epoch rewrites byte-identical
      partitions instead of appending duplicates (no commit sidecar, no
      dedup pass);
    - run ids are checkpoint-LINEAGE-scoped (_lineage_run_id), so wiping
      the checkpoint to reprocess can never overwrite the old lineage's
      epoch partitions;
    - the per-epoch write takes the index maintenance lease, serializing
      appends against consolidation ticks (index_maintain.index_lease).

    The index must exist (init_streamed_ivfpq_index — empty is fine);
    work per epoch is O(batch): one Arrow encode pass + one cell-keyed
    exchange, never O(index).
    """
    run_id = _lineage_run_id(spark, checkpoint_path)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    vectors = reader.parquet(landing_path)

    def append_epoch(batch: DataFrame, epoch_id: int) -> None:
        from endtoend_etl_openmeteo_spark.operators.similarity import (
            append_streamed_ivfpq,
        )

        append_streamed_ivfpq(
            batch.sparkSession,
            batch,
            index_path,
            epoch_tag=f"{run_id}-{int(epoch_id)}",
            id_col=id_col,
            vec_col=vec_col,
        )

    return _start_foreach_batch(vectors, append_epoch, checkpoint_path, available_now)


def run_streaming_elt(
    spark: SparkSession,
    bronze_path: str,
    silver_path: str,
    checkpoint_path: str,
    policy: str = "nullpad",
    available_now: bool = True,
    expectations: list | None = None,
    quarantine_path: str | None = None,
    gold_path: str | None = None,
) -> StreamingQuery:
    """bronze stream → flatten → [DQ split/gate] → foreachBatch merge into
    silver.

    Each micro-batch goes through the SAME merge_upsert as the batch path,
    so reruns/overlaps stay last-write-wins (T4) and the checkpoint gives
    exactly-once file consumption (T3). With ``expectations`` set, each
    micro-batch is quality-checked first (T6 in streaming form): rows
    violating a row-wise expectation divert to ``quarantine_path`` (append,
    stamped ``_quarantined_at``) and the clean remainder merges — or, with
    no quarantine path, the whole batch gates through ``dq_gate`` and a
    violation fails the stream (the reference's hard-block behavior).
    ``available_now`` drains all pending files then stops — the
    test/backfill mode; production passes False and a processingTime
    trigger. With ``gold_path`` set, each micro-batch also refreshes the
    gold daily mart incrementally for the months it touched (streaming
    bronze → silver → gold end-to-end).
    """
    hourly = streaming_hourly(stream_bronze(spark, bronze_path), policy=policy)
    # Epoch ids are only unique WITHIN one checkpoint lineage; scope the
    # quarantine partitions by the LINEAGE run id (marker inside the
    # checkpoint dir) so a fresh-checkpoint rerun — same path or not —
    # appends a new run's history instead of clobbering the old run's
    # epoch-0 partition.
    run_id = _lineage_run_id(spark, checkpoint_path)

    def merge_batch(raw_batch: DataFrame, epoch_id: int) -> None:
        from endtoend_etl_openmeteo_spark.operators.dq import dq_gate, split_valid
        from endtoend_etl_openmeteo_spark.pipeline import _load_and_refresh

        # Evaluate the bronze JSON flatten ONCE per epoch, not once per
        # sink: without the checkpoint the quarantine write, the
        # touched-months collect, the merge's write, and the gold
        # refresh each re-read and re-flatten the landing files — the
        # run_streaming_corpus_ingest discipline. Executor loss mid-epoch
        # fails the task and Structured Streaming replays the epoch from
        # source, so the unreplicated blocks are recoverable here.
        with pinned(raw_batch) as batch:
            if expectations is not None:
                if quarantine_path is not None:
                    batch, bad = split_valid(batch, expectations)
                    # Replay-safe: partition by (run, epoch) and
                    # dynamically overwrite, so a retried micro-batch
                    # REPLACES its own quarantine rows instead of
                    # appending duplicates (plain append would break the
                    # T3 exactly-once story on retry), while other runs'
                    # partitions are untouched.
                    (
                        bad.withColumn("_quarantined_at", F.current_timestamp())
                        .withColumn("_run_id", F.lit(run_id))
                        .withColumn("_epoch_id", F.lit(int(epoch_id)))
                        .write.mode("overwrite")
                        .option("partitionOverwriteMode", "dynamic")
                        .partitionBy("_run_id", "_epoch_id")
                        .parquet(quarantine_path)
                    )
                else:
                    dq_gate(batch, expectations)
            # the batch path's merge → gold refresh, with the touched
            # months collected once; both are scoped to this epoch's
            # months, so per-epoch cost tracks batch size, not history
            _load_and_refresh(
                batch.sparkSession, batch, silver_path, gold_path, None
            )

    return _start_foreach_batch(hourly, merge_batch, checkpoint_path, available_now)


def run_streaming_mart_maintenance(
    spark: SparkSession,
    landing_path: str,
    mart_table: str,
    checkpoint_path: str,
    schema: str,
    keys: list[str],
    value_col: str,
    ts_col: str = "ts",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous incremental mart maintenance: event stream → per-batch
    agg_state → merge into the versioned mart — the streaming form of
    q_incremental_agg, composing three proven pieces (agg-state algebra,
    the manifest table format, Structured Streaming's replay contract).

    Per micro-batch (epoch):

    - ONLY the batch is aggregated (``operators.merge.agg_state``) — work
      per epoch is O(batch + mart), never O(event history); the mart is
      keys-sized (dimension × days), orders of magnitude smaller than the
      raw stream. A day-partitioned variant would vt_merge per-day state
      files instead of overwriting the whole mart — same algebra, file
      scope ∝ touched days;
    - the batch state merges with the CURRENT mart snapshot
      (``merge_agg_states`` — count→sum, sum→sum, min→min, max→max) and
      commits via ``vt_overwrite_epoch`` tagged (run, epoch): a crash
      between commit and checkpoint replays the epoch, the tag makes the
      re-apply a NO-OP, so a batch can never double-count — the
      ``_ingest_log`` exactly-once trick
      (/root/reference/ingestion/loader/load_to_postgres.py:150-185)
      lifted to read-merge-overwrite state maintenance;
    - readers of the mart see atomic snapshots (manifest isolation): a
      dashboard never observes a half-merged epoch, and
      ``finalize_agg_state`` over ``vt_read(mart)`` is always a complete,
      consistent mart.
    """
    from endtoend_etl_openmeteo_spark.operators.merge import (
        agg_state,
        merge_agg_states,
    )
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        latest_version,
        read_manifest,
        vt_init,
        vt_overwrite_epoch,
        vt_read,
    )

    # LINEAGE-scoped, not path-scoped: wiping the checkpoint to reprocess
    # restarts epochs at 0, and a path-derived run id would make those
    # epochs hit the OLD lineage's (run, epoch) tags in the mart — every
    # replayed-looking batch silently skipped (data loss), despite
    # bundling different files than the old epochs did.
    run_id = _lineage_run_id(spark, checkpoint_path)
    vt_init_needed = True
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = reader.parquet(landing_path)

    def maintain(batch: DataFrame, epoch_id: int) -> None:
        nonlocal vt_init_needed
        sess = batch.sparkSession
        if vt_init_needed:
            try:
                latest_version(sess, mart_table)
            except FileNotFoundError:
                vt_init(sess, mart_table)
            vt_init_needed = False
        day = F.date_trunc("day", F.col(ts_col)).alias("day")
        state_keys = [*keys, "day"]
        batch_state = agg_state(
            batch.select(*keys, day, F.col(value_col)), state_keys, value_col
        )
        current_v = latest_version(sess, mart_table)
        raw = read_manifest(sess, mart_table, current_v, resolve=False)
        has_rows = bool(raw.get("n_files", len(raw.get("files", []))))
        merged = (
            merge_agg_states(
                [vt_read(sess, mart_table, version=current_v), batch_state],
                state_keys,
            )
            if has_rows
            else batch_state
        )
        # localCheckpoint before the overwrite commit: `merged` reads the
        # very files the new version supersedes — materialize first so the
        # plan cannot observe its own write (merge_upsert's dynamic
        # overwrite writes its merged rows into a staging directory first
        # for the same reason).
        # Released after the commit: a maintenance tick must leave ZERO
        # pinned blocks behind or a long-lived mart driver leaks one
        # state copy per epoch.
        with pinned(merged) as merged_ck:
            vt_overwrite_epoch(sess, merged_ck, mart_table, run_id, int(epoch_id))

    return _start_foreach_batch(events, maintain, checkpoint_path, available_now)
