"""Compaction tick for the stored ANN indexes — the maintenance half of
build-once / append-many.

The incremental append path (operators/similarity.append_ivf_index)
deliberately never rewrites existing files: each batch lands one file
set under its ``cell=`` partitions. Under continuous ingestion that
accretes one file per batch per touched partition forever — the
small-file disease vt_maintain (operators/versioned.py) cures for the
versioned table format, cured here for the plain partitioned serving
layouts. (The stored BM25 index is a versioned table; its maintenance
is ``vt_maintain``.)
Reference analog: the reference's materialized-mart refresh keeps its
serving artifact compact on every rebuild (dbt/models/marts/
fct_city_day.sql:1); these indexes are append-only, so compaction is a
separate tick.

Scale shape:
- Fragmentation detection is pure filesystem METADATA: one directory
  listing per partition, no data read. Partition counts are bounded
  (IVF nlist), so the listing is O(partitions).
- Only fragmented partitions are rewritten. The read is partition-pruned
  (``part IN (...)`` on the partition column → PartitionFilters), the
  write uses dynamic partition overwrite, so a 10k-cell index with 40
  fragmented cells touches exactly 40 directories.
- Output files are right-sized: ceil(rows / target_rows_per_file) files
  per partition, assigned by a deterministic hash slot — a hot cell with
  50M vectors still splits into parallel, splittable files instead of
  one giant writer task.

Concurrency contract: compaction must be SERIALIZED with appends to the
same index. Dynamic partition overwrite replaces whole partition
directories; an append racing the overwrite window could land a file
that the commit then clobbers. The serialization is ENFORCED, not
documented: every writer (append tick or compaction tick) takes the
index's ``_maintenance.lock`` via :func:`index_lease` — one lease, an
atomic create-fails-if-exists marker (``fsio.create_new``) — so the
losing writer raises :class:`LeaseConflictError` immediately and
retries, instead of being silently clobbered. All file access goes
through ``fsio``, the package's one Hadoop filesystem layer. Readers
never take the lease: a reader racing a tick may briefly see a
fragmented partition mid-replace — the versioned table format
(operators/versioned.py) is the transactional story; these layouts trade
reader snapshots (not writer safety) for zero-manifest serving
simplicity.
"""

from __future__ import annotations

import logging
import math
import time
import uuid
from contextlib import contextmanager
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from endtoend_etl_openmeteo_spark import fsio
from endtoend_etl_openmeteo_spark.session import local_df, local_rows, pinned

logger = logging.getLogger(__name__)

#: Hive's directory-name sentinel for a NULL partition value.
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


class LeaseConflictError(RuntimeError):
    """Another writer holds the index's maintenance lease. Retry after it
    releases (appends and compaction ticks are short; the holder id and
    acquisition time are in the message)."""


def _lease_path(path: str) -> str:
    return f"{path.rstrip('/')}/_maintenance.lock"


#: Release-time ownership reads retried before the lock is deleted
#: unverified; attempt k sleeps k * LEASE_RELEASE_READ_BACKOFF_S (~0.3 s
#: in all, sized for local and HDFS filesystems).
LEASE_RELEASE_READ_RETRIES = 3
LEASE_RELEASE_READ_BACKOFF_S = 0.05


def _lock_payload(spark: SparkSession, lock: str) -> str | None:
    """The lock's payload, or None when the READ ITSELF failed (missing
    file, transient error) — never conflated with a mismatch."""
    try:
        return fsio.read_bytes(spark, lock).decode("utf-8", "replace")
    except Exception:
        return None


@contextmanager
def index_lease(spark: SparkSession, path: str, owner: str | None = None):
    """Exclusive writer lease on a stored-index root: atomically create
    ``_maintenance.lock`` (``fsio.create_new``, a ``create(overwrite=
    False)`` — one writer wins, the loser gets :class:`LeaseConflictError`),
    yield, delete on exit. Underscore-prefixed, so Spark's data-file
    discovery never sees it. The lease guards WRITERS against each other
    (append vs append on the shared stats sidecar, append vs compaction's
    partition overwrite); readers don't take it.

    The create is atomic on the local filesystem and HDFS. On an object
    store without atomic create-if-absent the lease does not exclude; the
    versioned format's manifest commit is the route for those stores.

    No auto-expiry: a crashed holder leaves the marker, and the operator
    decision to break it is :func:`break_lease` — silent TTL expiry could
    revoke a live-but-slow writer mid-commit, the one failure mode the
    lease exists to prevent. Release is OWNERSHIP-CHECKED: if the lock's
    payload is no longer ours (an operator broke the lease and a new
    writer acquired), exit leaves the new holder's lock alone instead of
    deleting it out from under them. A read that keeps FAILING at exit is
    not a mismatch: after LEASE_RELEASE_READ_RETRIES the release deletes
    anyway (we believe we still hold the lock — stranding our own marker
    would block every future writer until a manual break_lease). The
    read-then-delete pair is not atomic, so a break_lease + re-acquire
    landing exactly between our ownership read and the delete can still
    lose its lock — break_lease is an operator action against a
    CONFIRMED-dead holder, so a live holder racing it is outside the
    contract.
    """
    lock = _lease_path(path)
    payload = f"{owner or 'writer'}:{uuid.uuid4().hex}:{int(time.time())}"
    if not fsio.create_new(spark, lock, payload.encode("utf-8")):
        held = _lock_payload(spark, lock) or ""
        raise LeaseConflictError(
            f"index {path} is being maintained by another writer"
            f"{f' ({held})' if held else ''} — retry after it releases, or "
            f"break_lease() if the holder is known dead"
        )
    try:
        yield
    finally:
        held = None
        for attempt in range(LEASE_RELEASE_READ_RETRIES):
            held = _lock_payload(spark, lock)
            if held is not None:
                break
            time.sleep(LEASE_RELEASE_READ_BACKOFF_S * (attempt + 1))
        if held is None:
            # deleting on FAILED reads, not confirmed ownership: if the
            # store was flaky AND an operator break_lease + re-acquire
            # landed meanwhile, this removes the successor's lock
            logger.warning(
                "index lease release at %s: ownership read failed %d times; "
                "deleting the lock unverified (we believe we still hold it)",
                lock,
                LEASE_RELEASE_READ_RETRIES,
            )
            fsio.delete(spark, lock, False)
        elif held == payload:
            fsio.delete(spark, lock, False)


def break_lease(spark: SparkSession, path: str) -> bool:
    """Forcibly remove a dead holder's lease marker (operator action after
    confirming the holder crashed). Returns True if a marker was removed."""
    return fsio.delete(spark, _lease_path(path), False)


def _is_data_file(name: str) -> bool:
    return not name.startswith(("_", ".")) and name.endswith(".parquet")


def partition_file_counts(
    spark: SparkSession, path: str, part_col: str
) -> dict[str, int]:
    """Data-file count per ``part_col=<value>`` directory — the
    fragmentation signal, read from directory listings only (no data
    scan; measured 0.04 s for a 16-partition index — listing is never the
    tick's cost). Keys are the DECODED partition values: Spark
    URI-escapes special characters in directory names (space → %20,
    colon → %3A, ...), but the scan's DataFrame carries the unescaped
    values, so matching/``isin`` must happen on the decoded form. The
    Hive NULL sentinel ``__HIVE_DEFAULT_PARTITION__`` is kept verbatim
    (it is not an escape)."""
    prefix = f"{part_col}="
    counts: dict[str, int] = {}
    for status in fsio.list_status(spark, path):
        name = status.getPath().getName()
        if not (status.isDirectory() and name.startswith(prefix)):
            continue
        n = sum(
            1
            for f in fsio.list_status(spark, status.getPath())
            if _is_data_file(f.getPath().getName())
        )
        raw = name[len(prefix):]
        counts[raw if raw == _NULL_PARTITION else unquote(raw)] = n
    return counts


def _typed_values(df, part_col: str, values: list[str]):
    """Partition-value literals in the SCAN's own type (Spark infers int
    partition columns), so the ``isin`` prunes partitions statically
    instead of casting the partition column and pruning never. A value
    that doesn't parse in the scan's type means the directory layout and
    the inferred schema disagree — raise with the offender named instead
    of letting ``int()`` produce a bare ValueError mid-plan."""
    dtype = dict(df.dtypes)[part_col]
    if dtype in ("int", "bigint", "smallint", "tinyint"):
        try:
            return [int(v) for v in values]
        except ValueError as e:
            raise ValueError(
                f"partition value {e.args[0].split(':')[-1].strip()} under "
                f"{part_col}= is not parseable as the scan's inferred "
                f"{dtype} partition type"
            ) from e
    return values


def compact_partitions(
    spark: SparkSession,
    path: str,
    part_col: str,
    max_files: int = 4,
    target_rows_per_file: int = 4_000_000,
    lease: bool = True,
) -> dict:
    """Rewrite every partition holding more than ``max_files`` data files
    into ceil(rows / target_rows_per_file) files; leave every other
    partition's files byte-for-byte untouched (their directories are
    never written, listed rows never read). Root-level sidecars
    (``_quantizer.json``) are invisible to the
    partition overwrite and survive as-is.

    Takes the index's maintenance lease for the whole tick (see
    :func:`index_lease`) so an append can't land a file inside the
    overwrite window; pass ``lease=False`` only when the caller already
    holds it. A ``__HIVE_DEFAULT_PARTITION__`` directory (null partition
    key — no current producer emits one: IVF cells are non-null by
    construction) is left untouched and counted in
    ``partitions_skipped_null`` rather than crashing the int cast or
    silently matching nothing.

    Returns {"partitions_compacted", "files_before", "files_after",
    "partitions_skipped_null"} (file counts over the compacted
    partitions only; a no-op tick returns zeros).
    """
    if lease:
        with index_lease(spark, path, owner=f"compact:{part_col}"):
            return compact_partitions(
                spark, path, part_col, max_files, target_rows_per_file,
                lease=False,
            )
    counts = partition_file_counts(spark, path, part_col)
    fragmented = sorted(
        v for v, n in counts.items() if n > max_files and v != _NULL_PARTITION
    )
    skipped_null = sum(
        1 for v, n in counts.items() if n > max_files and v == _NULL_PARTITION
    )
    if not fragmented:
        return {
            "partitions_compacted": 0,
            "files_before": 0,
            "files_after": 0,
            "partitions_skipped_null": skipped_null,
        }

    df = spark.read.parquet(path)
    vals = _typed_values(df, part_col, fragmented)
    frag = df.filter(F.col(part_col).isin(vals))

    # Per-partition row counts → file slots. The collect is bounded by
    # the fragmented-partition count (metadata-sized), never by rows.
    rows_per = {
        r[0]: r[1]
        for r in frag.groupBy(part_col).agg(F.count("*").alias("n")).collect()
    }
    slots = {
        v: max(1, math.ceil(n / target_rows_per_file))
        for v, n in rows_per.items()
    }
    data_cols = [c for c in df.columns if c != part_col]
    if any(s > 1 for s in slots.values()):
        slot_map = F.create_map(
            *[x for v, s in slots.items() for x in (F.lit(v), F.lit(s))]
        )
        shaped = (
            frag.withColumn(
                "__slot",
                F.pmod(
                    F.xxhash64(*data_cols), F.element_at(slot_map, F.col(part_col))
                ),
            )
            .repartition(F.col(part_col), F.col("__slot"))
            .drop("__slot")
        )
    else:
        shaped = frag.repartition(F.col(part_col))

    # dynamic mode replaces ONLY the partitions present in `shaped` —
    # exactly the fragmented ones; untouched directories keep their
    # original files. Pinned on the writer, whatever the session's mode.
    (
        shaped.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(path)
    )

    after = partition_file_counts(spark, path, part_col)
    return {
        "partitions_compacted": len(fragmented),
        "files_before": sum(counts[v] for v in fragmented),
        "files_after": sum(after.get(v, 0) for v in fragmented),
        "partitions_skipped_null": skipped_null,
    }


# ---------------------------------------------------------------------------
# Stored-index deletion: tombstones + vacuum (FAISS remove_ids, made durable)
# ---------------------------------------------------------------------------


def _tombstone_path(path: str) -> str:
    return f"{path.rstrip('/')}/_tombstones"


def _read_tombstones(spark, path: str, id_col: str = "id") -> "DataFrame | None":
    """The deleted-id set as a bounded frame, or None when no tombstones
    exist. Underscore-prefixed directory, so the code/vector scan's
    data-file discovery never sees it; rows are (id, part) pairs only, so
    the serving filter is a broadcast anti-join over bounded metadata —
    O(deletes), never O(index).

    ``part`` is the OPTIONAL partition hint the deleter recorded
    (``"cell=5"``) so the vacuum tick can prune its
    discovery scan to candidate partitions; NULL means "unknown — scan".
    Sidecar files written before the hint existed carry only ``id`` and
    read as NULL ``part`` (explicit read schema = parquet column
    back-fill). An id may repeat across parts (a caller may hint several
    partitions for one id); consumers joining on ``id_col`` alone must
    de-dup first (anti/semi joins don't care)."""
    tomb = _tombstone_path(path)
    if not fsio.exists(spark, tomb) or not any(
        s.isFile() and s.getPath().getName().endswith(".parquet")
        for s in fsio.list_status(spark, tomb)
    ):
        return None
    return (
        spark.read.schema("id long, part string")
        .parquet(_tombstone_path(path))
        .distinct()
        .withColumnRenamed("id", id_col)
    )


def delete_from_stored_index(
    spark, vec_ids, path: str, lease: bool = True
) -> int:
    """FAISS ``remove_ids`` for the stored ANN layouts, as METADATA: the
    ids land in an append-only ``_tombstones/`` sidecar and every serve
    call filters them with a broadcast anti-join — the delete itself
    rewrites nothing (O(deletes) cost at any index size). Physical
    removal is :func:`vacuum_index_tombstones` (rewrites only the
    touched partitions) or a full rebuild. Works for the flat IVF
    (``cell=``), flat IVF-PQ, and stream-managed (``_epoch=/cell=``)
    layouts alike — the sidecar is layout-agnostic.

    ``vec_ids``: an iterable of ids, a one-column DataFrame, or a
    DataFrame carrying a ``part`` string column alongside the ids — the
    partition hint (``"cell=5"``) that lets
    :func:`vacuum_index_tombstones` prune its discovery scan to the
    named partitions instead of full-scanning the index. Deleters that
    know the partition (callers with the vector in hand assign its cell
    through the stored quantizer — see similarity.ivf_cells_for_vectors)
    should record it; bare ids stay correct and fall back to the scan.
    The hint MUST name a partition column whose value is stable for the
    row (``cell`` — never ``_epoch``, which consolidation rewrites); vacuum
    validates the column name and ignores unstable/unknown hints loudly.
    Takes the maintenance lease (a delete racing a vacuum's sidecar
    clear would vanish). Returns the number of distinct ids tombstoned.

    Deleting an id that was never ingested is a no-op at serve time and
    is vacuumed away like any other tombstone. Re-ingesting a DELETED id
    without vacuuming first is REFUSED by the append paths (see
    :func:`require_no_tombstoned_ids`) — the tombstone would hide the
    new row too (ids are unique forever; see append_streamed_ivfpq's
    uniqueness contract).
    """
    if lease:
        with index_lease(spark, path, owner="delete_ids"):
            return delete_from_stored_index(spark, vec_ids, path, lease=False)
    if isinstance(vec_ids, DataFrame):
        id_name = vec_ids.columns[0]
        dt = vec_ids.schema[id_name].dataType
        if not isinstance(
            dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            # a silent cast would turn non-numeric ids into NULL
            # tombstones: the serve-time anti-join on NULL matches
            # nothing and the delete no-ops with no error surfaced
            raise TypeError(
                f"delete_from_stored_index: id column {id_name!r} has "
                f"non-integral type {dt.simpleString()} — stored indexes "
                "key rows by long ids; map your ids to longs explicitly"
            )
        cols = [F.col(id_name).cast("long").alias("id")]
        if "part" in vec_ids.columns[1:]:
            cols.append(F.col("part").cast("string").alias("part"))
        else:
            cols.append(F.lit(None).cast("string").alias("part"))
        ids = vec_ids.select(*cols)
    else:
        ids = local_rows(
            spark, [(int(i), None) for i in vec_ids], "id long, part string"
        )
    # The tombstone batch is bounded metadata (O(deletes)); collect it
    # ONCE and write the local rows back as a single file — evaluating
    # the caller's id lineage a second time for the count was the delete
    # path's dominant cost. A
    # batch beyond LOCAL_TOMBSTONE_ROWS_MAX (a caller outside the design
    # envelope — e.g. a 10M-id purge) is detected by the limit probe and
    # falls back to a fully distributed distinct+write instead of
    # silently OOMing the driver. The probe reads a lazy checkpoint, so
    # the fallback writes the blocks the probe pinned instead of
    # evaluating the id lineage a second time.
    # It reads through one task: a multi-task limit scans partitions in
    # rounds, and the checkpoint would pay a job of its own to fill the
    # partitions the first round skipped.
    with pinned(ids.distinct(), eager=False) as dids:
        rows = [
            tuple(r)
            for r in dids.coalesce(1).limit(LOCAL_TOMBSTONE_ROWS_MAX + 1).collect()
        ]
        if len(rows) > LOCAL_TOMBSTONE_ROWS_MAX:
            n = dids.select("id").distinct().count()
            dids.write.mode("append").parquet(_tombstone_path(path))
    if len(rows) > LOCAL_TOMBSTONE_ROWS_MAX:
        _consolidate_tombstones(spark, path)
        return n
    n = len({r[0] for r in rows})
    if n:
        local_df(spark, rows, "id long, part string").write.mode(
            "append"
        ).parquet(_tombstone_path(path))
        _consolidate_tombstones(spark, path)
    return n


#: Fold the tombstone sidecar once it accretes this many files. Every
#: delete appends one file; a high-frequency delete workload between
#: vacuums would otherwise make each serve's sidecar read list/open an
#: unbounded file count.
TOMBSTONE_CONSOLIDATE_FILES = 8

#: Driver-side bound for tombstone collects (delete batch / sidecar
#: fold): 2M (id, part) rows ≈ tens of MB — the same memory class as the
#: graph solves' LOCAL_EDGE_THRESHOLD. Beyond it the paths stay fully
#: distributed (count-probe → distributed distinct + write), so an
#: over-envelope caller degrades to extra Spark jobs, never a driver OOM.
LOCAL_TOMBSTONE_ROWS_MAX = 2_000_000


def _consolidate_tombstones(
    spark, path: str, max_files: int = TOMBSTONE_CONSOLIDATE_FILES
) -> bool:
    """Fold the ``_tombstones/`` sidecar into one file when it exceeds
    ``max_files`` parquet files. Called from the delete path UNDER the
    maintenance lease, so no writer races; lease-free serve-time readers
    stay correct at every instant because tombstones are idempotent
    metadata — the union file lands BEFORE the old files are removed, so
    a concurrent listing sees a superset (duplicates are erased by
    ``_read_tombstones``'s distinct), never a gap."""
    tomb = _tombstone_path(path)
    if not fsio.exists(spark, tomb):
        return False
    olds = [
        s.getPath()
        for s in fsio.list_status(spark, tomb)
        if s.isFile() and s.getPath().getName().endswith(".parquet")
    ]
    if len(olds) <= max_files:
        return False
    distinct = (
        spark.read.schema("id long, part string")
        .parquet(_tombstone_path(path))
        .distinct()
    )
    rows = [
        tuple(r) for r in distinct.limit(LOCAL_TOMBSTONE_ROWS_MAX + 1).collect()
    ]  # bounded probe: O(deletes) by the sidecar's construction
    if len(rows) > LOCAL_TOMBSTONE_ROWS_MAX:
        # over-envelope sidecar (deletes since last vacuum beyond the
        # driver bound): fold DISTRIBUTEDLY — checkpoint first so the
        # write never reads the directory it is appending to, size the
        # output to the bound so the fold still shrinks the file count
        with pinned(distinct) as ck:
            n = ck.count()
            ck.coalesce(
                max(1, math.ceil(n / LOCAL_TOMBSTONE_ROWS_MAX))
            ).write.mode("append").parquet(_tombstone_path(path))
    else:
        local_df(spark, rows, "id long, part string").write.mode("append").parquet(
            _tombstone_path(path)
        )
    for old in olds:
        fsio.delete(spark, old, False)
    return True


def vacuum_index_tombstones(
    spark, path: str, id_col: str = "id", lease: bool = True
) -> dict:
    """Physically remove tombstoned rows from a stored index: rewrite
    ONLY the partitions holding a deleted id (dynamic partition
    overwrite — untouched partitions keep their files byte-for-byte),
    delete any partition left with zero survivors, then clear the
    sidecar. Layout-aware: the partition columns come from the directory
    names themselves — flat IVF/IVF-PQ indexes rewrite ``cell=``
    directories, the stream-managed layout rewrites ``(_epoch, cell)``
    pairs. One
    bounded maintenance tick under the lease; serving is identical
    before and after (the serve-time anti-join already hid the rows).
    Returns {"tombstones", "rows_removed", "partitions_rewritten"}.

    Discovery is METADATA-PRUNED when the deleter recorded partition
    hints (see :func:`delete_from_stored_index`): the scan that locates
    a tombstoned id's partitions reads ONLY the hinted partitions —
    O(touched partitions), not O(index). Any bare-id tombstone, or a
    hint naming a column that isn't the layout's stable partition
    column (``cell``; ``_epoch`` moves under consolidation so
    an epoch hint could silently miss the row and resurrect it when the
    sidecar clears), falls the whole tick back to the full discovery
    scan — correct first, pruned when provably safe.
    """
    if lease:
        with index_lease(spark, path, owner="vacuum_tombstones"):
            return vacuum_index_tombstones(spark, path, id_col, lease=False)
    tomb = _read_tombstones(spark, path, id_col)
    if tomb is None:
        return {"tombstones": 0, "rows_removed": 0, "partitions_rewritten": 0}
    # The sidecar is bounded metadata — O(deletes) by construction — so
    # ONE collect hands the tick everything sidecar-derived (distinct
    # ids, hint set) instead of a count job plus a hints job.
    tomb_pairs = tomb.collect()
    tomb_id_set = {r[0] for r in tomb_pairs}
    n_tomb = len(tomb_id_set)
    tomb_ids = local_df(spark, [(i,) for i in sorted(tomb_id_set)], f"{id_col} long")
    top_parts = {
        s.getPath().getName().split("=", 1)[0]
        for s in fsio.list_status(spark, path)
        if s.isDirectory() and "=" in s.getPath().getName()
    }
    if "_epoch" in top_parts:
        part_cols = ["_epoch", "cell"]
    elif len(top_parts) == 1:
        part_cols = [top_parts.pop()]
    else:
        raise ValueError(
            f"cannot infer the partition layout of {path}: first-level "
            f"directories declare columns {sorted(top_parts)}"
        )
    scan = spark.read.parquet(path)
    key = F.concat_ws("\x00", *[F.col(c).cast("string") for c in part_cols])
    # --- discovery scan, pruned to hinted partitions when every
    # tombstone carries a valid hint (bounded collect: one row per
    # distinct hint, i.e. per touched partition) ---
    hint_col = part_cols[-1]  # "cell" (flat + streamed) or the one col
    hints = list({r[1] for r in tomb_pairs})
    prune_vals: list[str] = []
    prunable = all(h is not None for h in hints)
    if prunable:
        for h in hints:
            c, eq, v = h.partition("=")
            if not eq or c != hint_col:
                logger.warning(
                    "vacuum at %s: partition hint %r does not name the "
                    "stable partition column %r — falling back to the "
                    "full discovery scan",
                    path,
                    h,
                    hint_col,
                )
                prunable = False
                break
            prune_vals.append(v)
    disc = scan
    pruned = False
    if prunable and prune_vals:
        try:
            disc = scan.filter(
                F.col(hint_col).isin(
                    _typed_values(scan, hint_col, sorted(set(prune_vals)))
                )
            )
            pruned = True
        except ValueError:
            logger.warning(
                "vacuum at %s: a partition hint value does not parse in "
                "the scan's %s partition type — falling back to the full "
                "discovery scan",
                path,
                hint_col,
            )
            disc = scan
    # --- ONE discovery aggregation: per-partition totals, dead-row
    # counts, and the distinct dead ids, collected together (bounded:
    # one row per partition in the pruned scan; dead-id sets are
    # O(deletes)). This replaces four separate scans of the same
    # partitions (missing-check, affected-collect, dead-count,
    # alive-collect) with a single job — the discovery data volume was
    # never the cost at high delete frequency, the job count was. ---
    def _discover(frame):
        rows = (
            frame.join(
                F.broadcast(tomb_ids.withColumn("__dead", F.lit(True))),
                id_col,
                "left",
            )
            .groupBy(*part_cols)
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.count(F.when(F.col("__dead"), 1)).alias("__nd"),
                F.collect_set(
                    F.when(F.col("__dead"), F.col(id_col))
                ).alias("__ids"),
            )
            .collect()
        )
        return [r for r in rows if r["__nd"] > 0], rows

    hit_rows, _ = _discover(disc)
    if pruned:
        # Safety net: a tombstoned id NOT found inside its hinted
        # partitions is either never-ingested (legitimate no-op) or
        # MIS-HINTED (wrong cell value) — indistinguishable without
        # looking. Check is free now (the dead-id sets are in hand);
        # when such ids DO exist anywhere in the index, redo discovery
        # unpruned — correct first, pruned when provably safe (the rare
        # mis-hint path pays what every delete paid before hints).
        found = set().union(*[set(r["__ids"]) for r in hit_rows]) if hit_rows else set()
        missing_ids = tomb_id_set - found
        if missing_ids:
            missing = local_df(
                spark, [(i,) for i in sorted(missing_ids)], f"{id_col} long"
            )
            if scan.join(F.broadcast(missing), id_col, "left_semi").limit(1).count():
                logger.warning(
                    "vacuum at %s: tombstoned id(s) found OUTSIDE their "
                    "hinted partitions (mis-recorded hints) — extending "
                    "discovery to the full scan",
                    path,
                )
                hit_rows, _ = _discover(scan)
    affected = {
        tuple(r[c] for c in part_cols) for r in hit_rows
    }  # bounded by partition count, metadata-sized
    rows_removed = sum(r["__nd"] for r in hit_rows)
    if not affected:
        fsio.delete(spark, _tombstone_path(path))
        return {
            "tombstones": int(n_tomb),
            "rows_removed": 0,
            "partitions_rewritten": 0,
        }
    keys = ["\x00".join(str(v) for v in t) for t in affected]
    survivors = scan.filter(key.isin(keys)).join(
        F.broadcast(tomb_ids), id_col, "left_anti"
    )
    # survivor presence per affected partition falls out of the same
    # discovery rows — no extra scan
    alive = {
        tuple(r[c] for c in part_cols) for r in hit_rows if r["__n"] > r["__nd"]
    }
    (
        survivors.repartition(*[F.col(c) for c in part_cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*part_cols)
        .parquet(path)
    )
    # a partition whose EVERY row was tombstoned emits no survivor rows,
    # so the dynamic overwrite never touches its directory — delete it
    # explicitly or the old files resurface once the sidecar clears
    for t in affected - alive:
        sub = "/".join(f"{c}={v}" for c, v in zip(part_cols, t))
        fsio.delete(spark, f"{path}/{sub}")
    if len(part_cols) == 2:
        # two-level layout: a first-level dir (epoch) left childless by
        # the leaf deletions is clutter the consolidator would otherwise
        # carry as a file-less oldest-ranked dir — remove it now
        for top in {t[0] for t in affected - alive}:
            d = f"{path}/{part_cols[0]}={top}"
            if fsio.exists(spark, d) and len(fsio.list_status(spark, d)) == 0:
                fsio.delete(spark, d, False)
    fsio.delete(spark, _tombstone_path(path))
    return {
        "tombstones": int(n_tomb),
        "rows_removed": int(rows_removed),
        "partitions_rewritten": len(affected),
    }


class TombstonedIdError(ValueError):
    """An append batch contains ids currently tombstoned in the target
    index. Appending them would be a SILENT serving gap: the serve-time
    anti-join hides every tombstoned id, so the legitimately re-ingested
    row would vanish from results until the next vacuum — with no error
    anywhere. Vacuum first (physically removing the old rows and
    clearing the sidecar), then re-append."""


def require_no_tombstoned_ids(
    batch_ids: DataFrame, path: str, id_col: str = "id"
) -> None:
    """Screen an append batch against the index's ``_tombstones/``
    sidecar; raise :class:`TombstonedIdError` naming sample offenders if
    any batch id is currently deleted. One broadcast semi-join over the
    batch (the tombstone set is bounded metadata — O(deletes)); a
    tombstone-free index costs one filesystem existence check. Called by
    every append path under the writer lease, so the check can't race a
    concurrent delete."""
    spark = batch_ids.sparkSession
    tomb = _read_tombstones(spark, path, id_col="__tomb_id")
    if tomb is None:
        return
    hits = [
        r[0]
        for r in batch_ids.select(F.col(id_col).cast("long").alias("__id"))
        .join(
            F.broadcast(tomb.select(F.col("__tomb_id").alias("__id"))),
            "__id",
            "left_semi",
        )
        .limit(5)
        .collect()
    ]
    if hits:
        raise TombstonedIdError(
            f"append to {path}: batch contains tombstoned id(s) "
            f"{sorted(hits)}{' …' if len(hits) == 5 else ''} — the serve-"
            "time anti-join would hide the re-ingested rows until the "
            "next vacuum. Run vacuum_index_tombstones first, then append."
        )
