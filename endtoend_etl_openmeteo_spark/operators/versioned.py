"""Minimal table format: manifest-committed snapshots over plain Parquet
(SURVEY.md §4 scale extension — the reader-isolation gap
``operators/layout.compact`` documents).

Without a table format, every in-place rewrite (compaction, overwrite,
merge) has a window where concurrent readers see half a table — at 100 TB,
where compaction runs continuously, that is a standing correctness hazard.
The industry fix (Iceberg/Delta, re-derived here from the published
designs, not their code) is a tiny commit protocol:

- data files are IMMUTABLE, written once under ``data/``;
- a snapshot is a MANIFEST: one small JSON listing exactly the files that
  make up a version;
- commit = write manifest to a temp name, then RENAME to
  ``_manifests/v%08d.json``. Hadoop's rename refuses to replace an
  existing destination, so the version namespace is a compare-and-swap:
  two racing writers produce two consecutive versions, never a torn one;
- readers resolve a manifest ONCE and scan only its files — a concurrent
  compaction commits a new version without touching the files an open
  reader holds (snapshot isolation), and any historical version stays
  queryable until vacuumed (time travel);
- ``vacuum`` deletes files referenced by NO retained manifest — the only
  destructive step, explicitly separated from commit.

Scale notes: the manifest lists file paths (KBs per thousand files — at
true 100 TB scale Iceberg splits manifests hierarchically; one level is
enough here and the protocol is identical). Commit cost is O(1) renames;
concurrent-writer conflict cost is one manifest re-read + retry.
"""

from __future__ import annotations

import json
import uuid
from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark import fsio

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"


def _manifest_path(table: str, version: int) -> str:
    return f"{table.rstrip('/')}/{_MANIFEST_DIR}/v{version:08d}.json"


def _list_versions(spark: SparkSession, table: str) -> list[int]:
    mdir = f"{table.rstrip('/')}/{_MANIFEST_DIR}"
    if not fsio.exists(spark, mdir):
        return []
    versions = []
    for status in fsio.list_status(spark, mdir):
        name = status.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            try:
                versions.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(versions)


#: Inline-vs-spilled threshold: snapshots with at most this many entries
#: keep the round-5 single-JSON layout (small tables stay human-readable
#: and zero-extra-I/O); beyond it entries live in parquet manifest files
#: and the JSON holds only the manifest LIST (refs + summaries) — see
#: operators/manifest_list.py. Tests shrink this to exercise both tiers.
_INLINE_MAX = 256


def read_manifest(
    spark: SparkSession, table: str, version: int, resolve: bool = True
) -> dict:
    """Load a snapshot manifest. ``resolve=True`` (default) materializes
    ``manifest["files"]`` from spilled manifest refs so every consumer
    sees the full entry list; scan planning passes ``resolve=False`` and
    prunes the refs distributedly instead (:func:`vt_read`/:func:`vt_files`)."""
    m = json.loads(fsio.read_bytes(spark, _manifest_path(table, version)))
    if resolve and m.get("files_ref") and not m.get("files"):
        from endtoend_etl_openmeteo_spark.operators.manifest_list import (
            load_ref_entries,
        )

        m["files"] = load_ref_entries(spark, table, m["files_ref"])
    return m


def latest_version(spark: SparkSession, table: str) -> int:
    versions = _list_versions(spark, table)
    if not versions:
        raise FileNotFoundError(f"not a versioned table (no manifests): {table}")
    return versions[-1]


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this operation's snapshot read and
    its commit attempt, and the operation's output depends on that
    snapshot (merge/delete/compact). The caller must re-run the operation
    against the new current version — retrying the stale commit would
    silently erase the other writer's changes."""


def _build_file_tier(
    spark: SparkSession,
    table: str,
    files: list[dict],
    carry_from: dict | None,
    dirty_paths,
) -> tuple[list[dict], list[dict] | None, int]:
    """Resolve a commit's (inline entries, manifest refs, total count).

    ``carry_from=None``: ``files`` is the COMPLETE entry list — inline it
    when small, spill it when large. With a parent manifest, ``files``
    holds only the ADDED/MODIFIED entries and ``dirty_paths`` the parent
    paths being removed or superseded by a modified re-add; parent refs
    whose path range misses every dirty path carry VERBATIM (zero
    rewrite — the flat-append property), only intersecting refs reload
    and respill minus the dirty entries."""
    from endtoend_etl_openmeteo_spark.operators.manifest_list import (
        load_ref_entries,
        spill_entries,
    )

    dirty = set(dirty_paths or ())
    if carry_from is not None and carry_from.get("files_ref"):
        parent_refs = carry_from["files_ref"]
        clean, to_rewrite = [], []
        for r in parent_refs:
            lo, hi = r["paths"]
            if any(lo <= p <= hi for p in dirty):
                to_rewrite.append(r)
            else:
                clean.append(r)
        leftover = [
            e
            for e in load_ref_entries(spark, table, to_rewrite)
            if e["path"] not in dirty
        ]
        refs = clean + (
            spill_entries(spark, table, leftover + files)
            if leftover or files
            else []
        )
        return [], refs, sum(r["n"] for r in refs)
    if carry_from is not None:
        base = [
            e for e in carry_from.get("files", []) if e["path"] not in dirty
        ]
        files = base + files
    files = sorted(files, key=lambda e: e["path"])
    if len(files) > _INLINE_MAX:
        refs = spill_entries(spark, table, files)
        return [], refs, len(files)
    return files, None, len(files)


def _commit(
    spark: SparkSession,
    table: str,
    files: list[dict],
    op: str,
    parent_hint: int,
    extra: dict | None = None,
    on_conflict="fail",
    carry_from: dict | None = None,
    dirty_paths=(),
) -> int:
    """CAS-commit a manifest: try version = latest+1; rename refusal means
    another writer won that slot. What happens next is the op's choice via
    ``on_conflict``:

    - ``"fail"`` (default): raise :class:`ConcurrentWriteError` — correct
      for read-modify-write commits (merge/delete/compact) whose file list
      was derived from the now-stale parent snapshot;
    - ``"retry"``: re-attempt the SAME files at the new version — correct
      only for overwrite, whose output is independent of the parent;
    - a callable ``(latest_raw_manifest) -> (added, extra, carry_from,
      dirty_paths)``: recompute against the winner's manifest and retry —
      the append rebase (my new files + THEIR file tier, schemas
      re-merged), which is what makes two racing appends both land
      instead of the loser silently dropping the winner's rows.

    ``carry_from``/``dirty_paths`` select the incremental manifest-list
    path (see :func:`_build_file_tier`): an append commits O(batch)
    manifest bytes against a spilled table, never O(table). ``extra``
    merges additional metadata into the manifest (the streaming epoch
    tag, the snapshot schema)."""
    table = table.rstrip("/")
    attempt = parent_hint + 1
    for _ in range(100):
        inline, refs, n_files = _build_file_tier(
            spark, table, files, carry_from, dirty_paths
        )
        manifest = {
            "version": attempt,
            "parent": attempt - 1,
            "op": op,
            "files": inline,
            "n_files": n_files,
            **({"files_ref": refs} if refs else {}),
            **(extra or {}),
        }
        tmp = f"{table}/{_MANIFEST_DIR}/_tmp_{uuid.uuid4().hex}.json"
        fsio.write_bytes(spark, tmp, json.dumps(manifest).encode())
        if fsio.rename(spark, tmp, _manifest_path(table, attempt)):
            return attempt
        # lost the race: drop the temp, then fail / retry / rebase
        fsio.delete(spark, tmp, False)
        latest = latest_version(spark, table)
        if on_conflict == "fail":
            raise ConcurrentWriteError(
                f"{table} advanced to v{latest} while committing {op!r} "
                f"based on v{parent_hint} — re-run the operation against "
                "the current version"
            )
        if callable(on_conflict):
            files, extra, carry_from, dirty_paths = on_conflict(
                read_manifest(spark, table, latest, resolve=False)
            )
        attempt = latest + 1
    raise RuntimeError(f"commit contention: 100 failed CAS attempts on {table}")


def _write_data(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> list[dict]:
    """Materialize ``df`` as immutable files under data/<uuid>/ and return
    manifest entries [{"path": ..., "stats": {col: [min, max]}, "rows": n}].
    Per-file row counts always come from the parquet footers (local) or
    ride the stats aggregate (remote+stats) — they cost nothing at commit
    and make :func:`vt_count` a metadata-only operation.

    ``bloom_cols`` additionally records a per-file bloom sidecar
    (:func:`_bloom_sidecars`) under ``entry["bloom"]`` — point-lookup
    file skipping for high-cardinality keys whose [min, max] ranges
    overlap across files (where min/max pruning keeps everything).

    ``stats_cols`` opts columns into manifest-level min/max — the
    Iceberg-style scan-planning statistics that let a reader skip whole
    files before Spark ever lists them. On a local filesystem the stats
    come from the freshly-written parquet FOOTERS (driver-side, one
    footer read per new file — the Iceberg commit-time pattern; no
    second scan of the batch); elsewhere a per-file aggregate scan is
    the fallback. Values must be JSON-stable (numbers / strings)."""
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    table = table.rstrip("/")
    subdir = f"{_DATA_DIR}/{uuid.uuid4().hex[:12]}"
    df.write.mode("overwrite").parquet(f"{table}/{subdir}")
    listed = fsio.list_status(spark, f"{table}/{subdir}")
    names = [
        s.getPath().getName()
        for s in listed
        if s.getPath().getName().endswith(".parquet")
    ]
    # sizes are free here (the listStatus already holds them); recording
    # them per entry makes vt_compact/vt_optimize/vt_maintain's byte
    # totals pure manifest reads instead of one getFileStatus RPC per
    # file per tick — at 100k files that's 100k serial namenode round
    # trips saved per maintenance pass
    bytes_by_file = {
        s.getPath().getName(): int(s.getLen())
        for s in listed
        if s.getPath().getName().endswith(".parquet")
    }
    stats_by_file: dict[str, dict] = {}
    rows_by_file: dict[str, int] = {}
    scheme = urlparse(table).scheme
    # A scheme-less path is local only when the resolved Hadoop filesystem
    # is — with fs.defaultFS=hdfs://... the data was just written REMOTELY
    # and a pyarrow open of the same string would read the driver's local
    # disk (FileNotFoundError after the write already landed).
    is_local = scheme == "file" or (
        scheme == "" and fsio.scheme(spark, table) == "file"
    )
    if is_local:
        import pyarrow.parquet as pq

        local_root = table[len("file:"):] if scheme == "file" else table
        for n in names:
            md = pq.ParquetFile(f"{local_root}/{subdir}/{n}").metadata
            rows_by_file[n] = md.num_rows
            if stats_cols:
                stats_by_file[n] = _footer_stats(
                    f"{local_root}/{subdir}/{n}", stats_cols
                )
    elif stats_cols:
        aggs = [F.count("*").alias("__rows")]
        for c in stats_cols:
            aggs += [
                F.min(c).alias(f"__min_{c}"),
                F.max(c).alias(f"__max_{c}"),
            ]
        rows = (
            spark.read.parquet(f"{table}/{subdir}")
            .groupBy(F.input_file_name().alias("__f"))
            .agg(*aggs)
            .collect()
        )  # bounded: one row per written file
        for r in rows:
            fname = r["__f"].rsplit("/", 1)[-1]
            rows_by_file[fname] = r["__rows"]
            # _json_stat on the aggregate values too: Spark returns
            # datetime/date/Decimal for those column types, which would
            # crash json.dumps at COMMIT time — after the rewrite landed
            stats_by_file[fname] = {
                c: [_json_stat(r[f"__min_{c}"]), _json_stat(r[f"__max_{c}"])]
                for c in stats_cols
            }
    bloom_by_file: dict[str, dict] = {}
    if bloom_cols:
        import base64

        bloom_by_file = _bloom_sidecars(spark, f"{table}/{subdir}", bloom_cols)
        # files with no rows (or only NULLs in the column) get an all-zero
        # bitmap: every probe skips them, which is exactly right — a NULL
        # never equals the probed value
        for c in bloom_cols:
            empty = {
                "m": _BLOOM_M,
                "k": _BLOOM_K,
                "kind": _bloom_kind(df.schema[c].dataType),
                "b64": base64.b64encode(bytes(_BLOOM_M // 8)).decode("ascii"),
            }
            for n in names:
                bloom_by_file.setdefault(n, {}).setdefault(c, empty)
    entries = []
    cols = list(df.columns)  # physical column names as written — the
    # positional identity :func:`vt_rename_column` maps through
    for n in names:
        e: dict = {
            "path": f"{subdir}/{n}",
            "stats": stats_by_file.get(n, {}),
            "cols": cols,
            "bytes": bytes_by_file[n],
        }
        if n in rows_by_file:
            e["rows"] = int(rows_by_file[n])
        if bloom_by_file.get(n):
            e["bloom"] = bloom_by_file[n]
        entries.append(e)
    return entries


def _total_bytes(spark: SparkSession, table: str, entries: list[dict]) -> int:
    """Σ data-file sizes for a snapshot — from the per-entry ``bytes``
    recorded at commit time (manifest-only); entries written before size
    tracking fall back to one getFileStatus RPC each, once ever (the
    next rewrite stamps them)."""
    total = sum(e["bytes"] for e in entries if "bytes" in e)
    legacy = [e["path"] for e in entries if "bytes" not in e]
    if legacy:
        total += sum(
            fsio.status(spark, f"{table}/{p}").getLen() for p in legacy
        )
    return int(total)


def _footer_stats(path: str, stats_cols: list[str]) -> dict:
    """Per-column [min, max] from one parquet file's footer metadata.
    A column missing statistics in ANY row group (or of a non-JSON-stable
    type) records [None, None] — readers keep such files conservatively."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    broken: set[str] = set()
    wanted = set(stats_cols)
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if name not in wanted:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                broken.add(name)
                continue
            lo, hi = _json_stat(st.min), _json_stat(st.max)
            if lo is None or hi is None:
                broken.add(name)
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    return {
        c: [None, None] if (c in broken or c not in mins) else [mins[c], maxs[c]]
        for c in stats_cols
    }


def _json_stat(v):
    """Footer stat → JSON-stable value, or None if not representable."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


#: Bloom sidecar geometry bounds. m is sized PER FILE from the observed
#: distinct-key estimate (~10 bits/key, rounded up to a power of two) so
#: production-sized files don't saturate: the old fixed m=2048 hit ~0.70
#: fill (fp≈17%/file) at ~500 keys/file and degraded toward keep-all.
#: Geometry is per-entry metadata, so mixed-geometry manifests are fine.
#: _BLOOM_M_MAX is also the working modulus of the single distributed
#: pass: positions are computed mod 2^16 and folded down to the chosen
#: power-of-two m driver-side ((h mod 2^16) mod m == h mod m when m
#: divides 2^16) — sizing never needs a second scan.
_BLOOM_M_MIN, _BLOOM_M_MAX = 2048, 65536
_BLOOM_M, _BLOOM_K = _BLOOM_M_MIN, 5
_BLOOM_BITS_PER_KEY = 10


def _bloom_kind(dtype) -> str:
    """Canonical hash-input kind recorded in each sidecar entry: probes of
    a different kind hash incompatibly and must never skip files."""
    name = dtype.typeName()
    if name in ("byte", "short", "integer", "long"):
        return "long"
    if name == "string":
        return "string"
    raise ValueError(f"bloom index unsupported for column type {name}")


def _bloom_canon_col(dtype, col):
    """Canonical hash input for a bloom column: integral types widen to
    long, strings pass through — so a probe literal hashes identically to
    the stored column regardless of the frame's physical integer width
    (Spark's xxhash64 is type-sensitive: int 5 and long 5 hash apart)."""
    return col.cast("long") if _bloom_kind(dtype) == "long" else col


def _bloom_probe_kind(value) -> str:
    if isinstance(value, bool):
        raise ValueError("bloom index unsupported for boolean probes")
    if isinstance(value, int):
        return "long"
    if isinstance(value, str):
        return "string"
    raise ValueError(f"bloom probe unsupported for {type(value).__name__}")


def _bloom_canon_lit(value):
    return (
        F.lit(value).cast("long")
        if _bloom_probe_kind(value) == "long"
        else F.lit(value)
    )


def _bloom_size_for(n_positions: int, k: int) -> int:
    """Power-of-two m targeting ~_BLOOM_BITS_PER_KEY bits per key, clamped
    to [_BLOOM_M_MIN, _BLOOM_M_MAX]. ``n_positions`` is the file's distinct
    probe-position count at the working modulus — ~k per distinct key, so
    n_keys ≈ n_positions / k (collisions only under-count, and the 2x
    power-of-two round-up absorbs that slack)."""
    n_keys = max(1, n_positions // max(k, 1))
    m = _BLOOM_M_MIN
    while m < n_keys * _BLOOM_BITS_PER_KEY and m < _BLOOM_M_MAX:
        m *= 2
    return m


def _bloom_sidecars(
    spark: SparkSession,
    subdir_path: str,
    bloom_cols: list[str],
    k: int = _BLOOM_K,
) -> dict[str, dict]:
    """Per-file bloom bitsets for ``bloom_cols`` over a freshly-written
    subdir: {file_name: {col: {"m", "k", "kind", "b64"}}}.

    One distributed pass per column: k seeded xxhash64 positions per
    value (mod _BLOOM_M_MAX), DISTINCT per file via collect_set — the
    shuffle carries at most _BLOOM_M_MAX ints per (file, column), never
    values, so sidecar construction is bounded by scan throughput at any
    corpus size. The driver sizes each file's m from its observed
    position count (:func:`_bloom_size_for`), folds the 2^16-modulus
    positions down to m, and packs the m-bit bitmap (m/8 bytes, base64
    in the manifest entry)."""
    import base64
    from collections import defaultdict

    reader = spark.read.parquet(subdir_path)
    out: dict[str, dict] = defaultdict(dict)
    for c in bloom_cols:
        kind = _bloom_kind(reader.schema[c].dataType)
        canon = _bloom_canon_col(reader.schema[c].dataType, F.col(c))
        positions = F.array(
            *[
                F.pmod(F.xxhash64(canon, F.lit(i)), F.lit(_BLOOM_M_MAX))
                for i in range(k)
            ]
        )
        rows = (
            reader.filter(F.col(c).isNotNull())
            .select(F.input_file_name().alias("__f"), F.explode(positions).alias("p"))
            .groupBy("__f")
            .agg(F.collect_set("p").alias("ps"))
            .collect()
        )  # bounded: one row per file, <= _BLOOM_M_MAX positions each
        for r in rows:
            m = _bloom_size_for(len(r["ps"]), k)
            bits = bytearray(m // 8)
            for p_max in r["ps"]:
                p = p_max & (m - 1)  # fold 2^16 modulus down to m
                bits[p >> 3] |= 1 << (p & 7)
            out[r["__f"].rsplit("/", 1)[-1]][c] = {
                "m": m,
                "k": k,
                "kind": kind,
                "b64": base64.b64encode(bytes(bits)).decode("ascii"),
            }
    return dict(out)


def _prune_entries_eq(
    spark: SparkSession,
    entries: list[dict],
    prune_eq: tuple[str, object] | None,
) -> list[dict]:
    """Bloom-sidecar point-lookup skipping: drop an entry iff its bloom
    for ``col`` proves ``value`` absent (some probe bit unset). Entries
    without a bloom for the column are conservatively kept — as are
    entries whose recorded hash-input ``kind`` differs from the probe
    literal's (an int probe against a string-indexed column hashes
    incompatibly; skipping on it would silently drop matching rows and
    break the pruning superset guarantee). Probe positions come from a
    one-row local Spark projection so the probe uses the exact xxhash64
    the writer used; cached per (m, k) geometry."""
    import base64

    if prune_eq is None:
        return entries
    col, value = prune_eq
    probe_kind = _bloom_probe_kind(value)
    pos_cache: dict[tuple[int, int], list[int]] = {}

    def probe(m: int, k: int) -> list[int]:
        if (m, k) not in pos_cache:
            lit = _bloom_canon_lit(value)
            row = (
                spark.range(1)
                .select(
                    *[
                        F.pmod(F.xxhash64(lit, F.lit(i)), F.lit(m)).alias(f"p{i}")
                        for i in range(k)
                    ]
                )
                .collect()[0]
            )
            pos_cache[(m, k)] = [row[f"p{i}"] for i in range(k)]
        return pos_cache[(m, k)]

    kept = []
    for e in entries:
        side = e.get("bloom", {}).get(col)
        if side is None or side.get("kind") != probe_kind:
            kept.append(e)  # no bloom / kind mismatch -> cannot skip
            continue
        bits = base64.b64decode(side["b64"])
        if all(bits[p >> 3] & (1 << (p & 7)) for p in probe(side["m"], side["k"])):
            kept.append(e)
    return kept


def _merge_schema(parent_json: str | None, new_schema) -> str:
    """Additive schema evolution: fields new to this snapshot are APPENDED
    to the parent schema; existing fields must keep their exact type
    (type widening/renames are rejected — at 100 TB an implicit type
    change is a silent full-table rewrite obligation, so it must be an
    explicit migration, not an append side effect). A batch may OMIT
    parent columns: its files simply null-fill on read. Returns the merged
    schema as JSON for the manifest."""
    from pyspark.sql.types import StructType

    if parent_json is None:
        return new_schema.json()
    parent = StructType.fromJson(json.loads(parent_json))
    by_name = {f.name: f for f in parent.fields}
    merged = list(parent.fields)
    for f in new_schema.fields:
        old = by_name.get(f.name)
        if old is None:
            merged.append(f)
        elif old.dataType != f.dataType and not _upcastable(
            f.dataType, old.dataType
        ):
            raise ValueError(
                f"schema evolution is additive-only: column {f.name!r} is "
                f"{old.dataType.simpleString()} in the table but "
                f"{f.dataType.simpleString()} in the batch — widen via an "
                "explicit rewrite, not an append"
            )
    return StructType(merged).json()


#: Lossless numeric widenings a batch column may take implicitly to match
#: the table's type (the batch is CAST at write time — stored files always
#: carry the table type, so readers never see mixed physical types).
_WIDENING_CHAINS = (
    ("byte", "short", "integer", "long"),
    ("float", "double"),
)


def _upcastable(narrow, wide) -> bool:
    n, w = narrow.typeName(), wide.typeName()
    return any(
        n in chain and w in chain and chain.index(n) < chain.index(w)
        for chain in _WIDENING_CHAINS
    )


def _snapshot_schema(manifest: dict):
    """The StructType a snapshot's manifest recorded, or None for
    manifests written before schema tracking."""
    from pyspark.sql.types import StructType

    sj = manifest.get("schema")
    return StructType.fromJson(json.loads(sj)) if sj else None


def _align(df: DataFrame, schema) -> DataFrame:
    """Project ``df`` to ``schema``'s column set/order, adding typed NULLs
    for columns the frame lacks (the write-side half of additive
    evolution)."""
    from pyspark.sql import functions as F

    have = set(df.columns)
    return df.select(
        *[
            F.col(f.name).cast(f.dataType) if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def _prune_entries(
    entries: list[dict], prune: tuple[str, object, object] | None
) -> list[dict]:
    """Manifest-stats file skipping: keep an entry iff its recorded
    [min, max] for ``col`` intersects [lo, hi]; entries with no recorded
    stats are conservatively kept."""
    if prune is None:
        return entries
    col, lo, hi = prune
    kept = []
    for e in entries:
        mm = e.get("stats", {}).get(col)
        if mm is None or mm[0] is None or mm[1] is None:
            kept.append(e)  # unknown -> cannot skip
        elif mm[0] <= hi and mm[1] >= lo:
            kept.append(e)
    return kept


def _entries_df(
    spark: SparkSession,
    table: str,
    entries: list[dict],
    schema,
    keep_meta: bool = False,
):
    """Scan manifest entries with their position deletes applied — the
    read half of merge-on-read (:func:`vt_delete_mor`). Row identity is
    Spark's parquet ``_metadata`` column: (manifest-relative file path,
    ``row_index`` in-file ordinal) — the same identity Iceberg v2
    position deletes and Delta deletion vectors key on, stable across
    reads and file splits because the ordinal is computed from row-group
    offsets, not task order.

    Entries WITHOUT deletes take the plain columnar fast path (no
    metadata projection, no join); entries with deletes anti-join the
    broadcast delete set — delete files are KBs, so a 100-TB scan pays
    one broadcast hash anti-join only on its delete-bearing files.

    ``keep_meta=True`` returns every row with ``__file``/``__pos``
    appended (the delete writers need row identity). Returns None for an
    empty entry list.

    Renamed-over files (:func:`vt_rename_column`) read through a
    POSITIONAL physical→logical projection: each entry records the
    column names it was physically written with (``entry["cols"]``), and
    because evolution is additive-append-only and rename preserves
    positions, a file's columns always correspond to the first
    ``len(cols)`` fields of the snapshot schema. Entries needing the
    same projection scan together; entries whose physical names already
    match the schema prefix take the plain by-name fast path.
    """
    if not entries:
        return None
    groups: dict[tuple | None, list[dict]] = {}
    for e in entries:
        groups.setdefault(_mapping_sig(e, schema), []).append(e)
    keys = sorted(groups, key=lambda s: (s is not None, s or ()))
    parts = [
        _scan_group(spark, table, s, groups[s], schema, keep_meta) for s in keys
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def _mapping_sig(e: dict, schema) -> tuple | None:
    """The physical→logical projection signature an entry needs, or None
    for the by-name fast path (physical names equal the snapshot schema's
    prefix — true for every file not written over by a rename)."""
    cols = e.get("cols")
    if cols is None or schema is None:
        return None
    names = [f.name for f in schema.fields]
    if list(cols) == names[: len(cols)]:
        return None
    return tuple(cols)


def _scan_group(
    spark: SparkSession,
    table: str,
    sig: tuple | None,
    entries: list[dict],
    schema,
    keep_meta: bool,
):
    """One projection group of :func:`_entries_df`: scan the entries'
    files (physical schema when ``sig`` says they predate a rename),
    apply their position deletes, and project to the snapshot schema."""
    from pyspark.sql.types import StructField, StructType

    if sig is None:
        reader = spark.read.schema(schema) if schema is not None else spark.read
        project = None
    else:
        head = schema.fields[: len(sig)]
        reader = spark.read.schema(
            StructType(
                [
                    StructField(sig[i], f.dataType, f.nullable)
                    for i, f in enumerate(head)
                ]
            )
        )
        project = [F.col(sig[i]).alias(f.name) for i, f in enumerate(head)] + [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields[len(sig):]
        ]

    def finish(df, with_meta):
        if project is None:
            return df
        extra = [F.col("__file"), F.col("__pos")] if with_meta else []
        return df.select(*project, *extra)

    rel = F.concat_ws(
        "/", F.slice(F.split(F.col("_metadata.file_path"), "/"), -3, 3)
    )
    if keep_meta:
        df = (
            reader.parquet(*[f"{table}/{e['path']}" for e in entries])
            .withColumn("__file", rel)
            .withColumn("__pos", F.col("_metadata.row_index"))
        )
        del_paths = sorted({p for e in entries for p in e.get("deletes", [])})
        if del_paths:
            dels = spark.read.parquet(
                *[f"{table}/{p}" for p in del_paths]
            ).select("__file", "__pos")
            df = df.join(F.broadcast(dels), ["__file", "__pos"], "left_anti")
        return finish(df, True)
    clean = [e for e in entries if not e.get("deletes")]
    dirty = [e for e in entries if e.get("deletes")]
    parts = []
    if clean:
        parts.append(
            finish(reader.parquet(*[f"{table}/{e['path']}" for e in clean]), False)
        )
    if dirty:
        del_paths = sorted({p for e in dirty for p in e["deletes"]})
        dels = spark.read.parquet(
            *[f"{table}/{p}" for p in del_paths]
        ).select("__file", "__pos")
        ddf = (
            reader.parquet(*[f"{table}/{e['path']}" for e in dirty])
            .withColumn("__file", rel)
            .withColumn("__pos", F.col("_metadata.row_index"))
            .join(F.broadcast(dels), ["__file", "__pos"], "left_anti")
            .drop("__file", "__pos")
        )
        parts.append(finish(ddf, False))
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])


def vt_init(spark: SparkSession, table: str) -> int:
    """Create an empty versioned table (version 0, no files)."""
    fsio.mkdirs(spark, f"{table.rstrip('/')}/{_MANIFEST_DIR}")
    return _commit(spark, table, [], "init", parent_hint=-1)


def vt_append(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Append ``df`` as a new snapshot: parent's files + the new files.
    ``stats_cols`` records per-file min/max in the manifest for
    :func:`vt_files` range pruning; ``bloom_cols`` records per-file
    bloom sidecars for ``prune_eq`` point-lookup skipping."""
    from pyspark.sql.types import StructType

    parent = latest_version(spark, table)
    # raw read: an append never needs the parent's materialized entry
    # list — the commit carries the parent's file tier (inline or refs)
    # untouched, which is what keeps append cost O(batch) on a
    # million-file table
    manifest = read_manifest(spark, table, parent, resolve=False)
    schema_json = _merge_schema(manifest.get("schema"), df.schema)
    # align BEFORE writing: stored files always carry the table's types
    # and column order, so no reader ever sees mixed physical types
    aligned = _align(df, StructType.fromJson(json.loads(schema_json)))
    files = _write_data(
        spark, aligned, table, stats_cols=stats_cols, bloom_cols=bloom_cols
    )

    def rebase(winner: dict):
        # a rival append/commit won our version slot: our files are already
        # durable, so just re-point the manifest at THEIR file tier + ours
        # and re-merge schemas — both appends land, in either commit order
        return (
            files,
            {"schema": _merge_schema(winner.get("schema"), df.schema)},
            winner,
            (),
        )

    return _commit(
        spark,
        table,
        files,
        "append",
        parent,
        extra={"schema": schema_json},
        on_conflict=rebase,
        carry_from=manifest,
    )


def vt_overwrite(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Replace the table contents in one snapshot (the atomic form of
    ``mode('overwrite')`` — readers of older versions are untouched)."""
    files = _write_data(
        spark, df, table, stats_cols=stats_cols, bloom_cols=bloom_cols
    )
    parent = latest_version(spark, table)
    return _commit(
        spark,
        table,
        files,
        "overwrite",
        parent,
        extra={"schema": df.schema.json()},
        on_conflict="retry",  # output is independent of the parent snapshot
    )


def _plan_entries(
    spark: SparkSession,
    table: str,
    raw_manifest: dict,
    prune: tuple[str, object, object] | None,
    prune_eq: tuple[str, object] | None,
) -> list[dict]:
    """Scan planning for one snapshot: entries surviving stats-range and
    bloom point-lookup pruning. Spilled snapshots prune DISTRIBUTEDLY —
    ref summaries skip whole manifest files on the driver, then a Spark
    filter over the surviving manifest files evaluates both predicates in
    Catalyst, so only surviving entries are ever deserialized driver-side
    (operators/manifest_list.prune_entries_spark). Inline snapshots keep
    the direct driver loops — at <= _INLINE_MAX entries a Spark job costs
    more than it saves."""
    if raw_manifest.get("files_ref"):
        from endtoend_etl_openmeteo_spark.operators.manifest_list import (
            prune_entries_spark,
        )

        return prune_entries_spark(
            spark, table, raw_manifest["files_ref"], prune, prune_eq
        )
    return _prune_entries_eq(
        spark, _prune_entries(raw_manifest.get("files", []), prune), prune_eq
    )


def vt_files(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    prune: tuple[str, object, object] | None = None,
    prune_eq: tuple[str, object] | None = None,
) -> list[str]:
    """The scan plan: absolute file paths for a version, optionally pruned
    by manifest stats. ``prune=(col, lo, hi)`` keeps a file iff its
    recorded [min, max] for ``col`` intersects [lo, hi]; files with no
    recorded stats for the column are conservatively kept. This skipping
    happens BEFORE Spark lists or opens anything — at 100k-file scale the
    footer-stats pass row-group pruning replaces is itself the bottleneck.

    Raises on snapshots holding position deletes: a raw path list cannot
    express merge-on-read, and silently returning the undeleted files
    would resurrect deleted rows — use :func:`vt_read` (applies deletes)
    or :func:`vt_compact` (materializes them) instead."""
    table = table.rstrip("/")
    v = latest_version(spark, table) if version is None else version
    entries = _plan_entries(
        spark, table, read_manifest(spark, table, v, resolve=False), prune, prune_eq
    )
    if any(e.get("deletes") for e in entries):
        raise ValueError(
            f"version {v} of {table} carries merge-on-read position "
            "deletes; a raw file list would resurrect deleted rows — "
            "read via vt_read or materialize via vt_compact"
        )
    return [f"{table}/{e['path']}" for e in entries]


def vt_read(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    prune: tuple[str, object, object] | None = None,
    prune_eq: tuple[str, object] | None = None,
) -> DataFrame:
    """Snapshot read: resolve ONE manifest, scan exactly its files.
    ``version=None`` -> latest. The returned plan never re-lists the
    directory, so concurrent commits/compactions cannot tear it. ``prune``
    applies manifest-stats range skipping and ``prune_eq=(col, value)``
    bloom-sidecar point-lookup skipping (see :func:`vt_files`); callers
    still apply the row-level filter — pruning is a superset guarantee."""
    table = table.rstrip("/")
    v = latest_version(spark, table) if version is None else version
    manifest = read_manifest(spark, table, v, resolve=False)
    entries = _plan_entries(spark, table, manifest, prune, prune_eq)
    # the manifest's recorded schema (additive evolution): files written
    # before a column existed null-fill it; time travel to an older
    # version reads with THAT version's schema — the new column is absent,
    # not null, exactly as the snapshot was committed
    schema = _snapshot_schema(manifest)
    df = _entries_df(spark, table, entries, schema)
    if df is not None:
        return df
    if schema is not None:
        return spark.createDataFrame([], schema)
    n_files = manifest.get("n_files", len(manifest.get("files", [])))
    if n_files:
        # pruned to nothing on a schema-less legacy table: resolve the
        # full entry list once just to recover the file schema
        full_entries = read_manifest(spark, table, v)["files"]
        full = _entries_df(spark, table, full_entries, None)
        return full.limit(0)
    raise ValueError(f"version {v} of {table} is empty — nothing to scan")


def vt_compact(
    spark: SparkSession, table: str, target_mb: int = 128
) -> tuple[int, int, int]:
    """Small-file compaction as a SNAPSHOT: read the current version,
    rewrite into ceil(bytes/target) files, commit a new manifest. Old
    files stay on disk for older versions — open readers are isolated;
    space is reclaimed by :func:`vt_vacuum`, not by compaction.

    Position deletes are MATERIALIZED: the scan applies them, so the
    compacted files contain only live rows and the new manifest carries
    no ``deletes`` — compaction is the merge-on-read → clean-files
    transition, exactly Iceberg's rewrite-data-files maintenance action.

    Returns (new_version, files_before, files_after).
    """
    import math

    table = table.rstrip("/")
    parent = latest_version(spark, table)
    manifest = read_manifest(spark, table, parent)
    if not manifest["files"]:
        return parent, 0, 0
    total = _total_bytes(spark, table, manifest["files"])
    n = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    schema = _snapshot_schema(manifest)
    df = _entries_df(spark, table, manifest["files"], schema)
    # carry forward whichever stats/bloom columns the parent recorded —
    # compaction rewrites files, so sidecars must be rebuilt for the new
    # file boundaries or point-lookup pruning silently degrades to keep-all
    stats_cols = sorted({c for e in manifest["files"] for c in e.get("stats", {})})
    bloom_cols = sorted({c for e in manifest["files"] for c in e.get("bloom", {})})
    files = _write_data(
        spark,
        df.repartition(n),
        table,
        stats_cols=stats_cols or None,
        bloom_cols=bloom_cols or None,
    )
    extra = {"schema": manifest["schema"]} if "schema" in manifest else None
    new_v = _commit(spark, table, files, "compact", parent, extra=extra)
    return new_v, len(manifest["files"]), len(files)


def vt_merge(
    spark: SparkSession,
    new: DataFrame,
    table: str,
    keys: list[str],
    order_col: str,
    stats_cols: list[str] | None = None,
) -> int:
    """Copy-on-write last-write-wins MERGE as a snapshot commit: only the
    files whose recorded [min, max] of ``keys[0]`` overlaps the batch's
    key range are read back and rewritten; every other file is carried
    forward into the new manifest untouched. Iceberg-style COW at file
    granularity — the file-level analog of ``merge.merge_upsert``'s
    partition scope, plus atomic visibility and history.

    Files without recorded stats are conservatively treated as touched
    (correctness first). ``stats_cols`` defaults to ``[keys[0]]`` so every
    merge leaves the stats the NEXT merge needs to prune.
    """
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.merge import (
        dedup_last_write_wins,
    )

    from pyspark.sql.types import StructType

    table = table.rstrip("/")
    k0 = keys[0]
    parent = latest_version(spark, table)
    manifest = read_manifest(spark, table, parent)
    entries = manifest["files"]
    # carry forward whichever stats/bloom columns the parent recorded
    # (vt_compact's rule): the rewrite is happening anyway, and dropping
    # them would silently degrade later pruning to keep-all on every
    # file this merge touches
    stats_cols = stats_cols or sorted(
        {c for e in entries for c in e.get("stats", {})} | {k0}
    )
    rewrite_bloom = sorted({c for e in entries for c in e.get("bloom", {})})
    # additive evolution during merge: the batch may carry NEW columns
    parent_schema_json = manifest.get("schema")
    if parent_schema_json is None and entries:
        parent_schema_json = (
            spark.read.parquet(f"{table}/{entries[0]['path']}").schema.json()
        )
    schema_json = _merge_schema(parent_schema_json, new.schema)
    merged_schema = StructType.fromJson(json.loads(schema_json))

    # The batch lineage is evaluated twice (bounds aggregate, then the
    # merged rewrite). Lazy checkpoint: the bounds agg is the first
    # action and materializes the blocks in the same job; the rewrite
    # reads them instead of re-running the caller's lineage. Released
    # before returning (the fused-pass shape).
    from endtoend_etl_openmeteo_spark.session import pinned

    with pinned(new, eager=False) as new:
        bounds = new.agg(
            F.min(k0).alias("lo"),
            F.max(k0).alias("hi"),
            F.count("*").alias("n"),
            F.count(k0).alias("nk"),
        ).collect()[0]
        lo, hi = bounds["lo"], bounds["hi"]
        if bounds["n"] != bounds["nk"]:
            # NULL never equals NULL, so a keyed last-write-wins upsert is
            # undefined for NULL-key rows — and `lo is None` would silently
            # classify an all-NULL batch as empty and DROP it. Fail loudly.
            raise ValueError(
                f"vt_merge: {bounds['n'] - bounds['nk']} batch rows have NULL "
                f"merge key {k0!r} — filter them or assign surrogate keys "
                "upstream (NULL keys can never match and would be silently "
                "collapsed by last-write-wins)"
            )
        # carry-forward of untouched entries is _commit's job (carry_from +
        # dirty_paths); only the touched list matters here
        touched = []
        for e in entries:
            mm = e.get("stats", {}).get(k0)
            if not (
                lo is None  # empty batch: nothing can touch
                or (
                    mm is not None
                    and mm[0] is not None
                    and mm[1] is not None
                    and (mm[0] > hi or mm[1] < lo)
                )
            ):
                touched.append(e)

        if touched:
            affected = _entries_df(spark, table, touched, merged_schema)
            merged = dedup_last_write_wins(
                affected.unionByName(_align(new, merged_schema)), keys, order_col
            )
        else:
            merged = dedup_last_write_wins(
                _align(new, merged_schema), keys, order_col
            )
        new_files = (
            _write_data(
                spark,
                merged,
                table,
                stats_cols=stats_cols,
                bloom_cols=rewrite_bloom or None,
            )
            if lo is not None or touched
            else []
        )
        return _commit(
            spark,
            table,
            new_files,
            "merge",
            parent,
            extra={"schema": schema_json},
            carry_from=manifest,
            dirty_paths={e["path"] for e in touched},
        )


class _EpochReplayedMidCommit(Exception):
    """Raised inside vt_append_epoch's rebase when the CAS winner turns
    out to carry this very (run, epoch) tag — a concurrent replay beat
    us; committing our copy would double-apply the batch."""


def _epoch_already_committed(
    spark: SparkSession, table: str, run_id: str, epoch_id: int
) -> bool:
    """Replay detection shared by the three epoch sinks. Normalizes the
    epoch to int on BOTH sides (a string epoch_id from parsed checkpoint
    metadata would otherwise never match the stored int tag and quietly
    defeat exactly-once). Scans manifests NEWEST-first and stops at the
    first SAME-RUN tag with a lower epoch: epochs commit in order within
    a run (foreachBatch replays only the latest uncommitted batch), so
    the common non-replay probe reads O(tail-of-run) manifests, not all
    of them — the per-micro-batch cost stays bounded as history grows."""
    epoch = int(epoch_id)
    for v in reversed(_list_versions(spark, table)):
        tag = read_manifest(spark, table, v, resolve=False).get("epoch")
        if tag and tag["run"] == run_id:
            if int(tag["epoch"]) == epoch:
                return True
            if int(tag["epoch"]) < epoch:
                return False
    return False


def vt_append_epoch(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    run_id: str,
    epoch_id: int,
    stats_cols: list[str] | None = None,
) -> int | None:
    """Exactly-once streaming append: the foreachBatch sink for a
    versioned table. Each micro-batch commits a manifest tagged with
    (run_id, epoch_id); a REPLAYED epoch (crash after commit, before the
    checkpoint advanced) finds its tag in a retained manifest and becomes
    a no-op — the snapshot-summary idempotence trick table formats use,
    and the manifest analog of the reference's ``_ingest_log`` skip
    (`/root/reference/ingestion/loader/load_to_postgres.py:150-185`).

    Returns the committed version, or None if the epoch was already
    committed — including when a CONCURRENT replay of the same epoch
    wins the commit race mid-flight (driver failover can leave a zombie
    driver replaying epoch E while the new driver replays it too; both
    pass the upfront tag check, so the CAS loser re-checks the tag in
    its rebase and backs out instead of landing the batch twice).
    Retention caveat: :func:`vt_vacuum` must keep at least the manifests
    of the restart window, or a very late replay loses its dedup marker.
    """
    table_s = table.rstrip("/")
    if _epoch_already_committed(spark, table_s, run_id, epoch_id):
        return None  # replayed epoch — already durable
    from pyspark.sql.types import StructType

    parent = latest_version(spark, table_s)
    manifest = read_manifest(spark, table_s, parent, resolve=False)
    schema_json = _merge_schema(manifest.get("schema"), df.schema)
    aligned = _align(df, StructType.fromJson(json.loads(schema_json)))
    files = _write_data(spark, aligned, table_s, stats_cols=stats_cols)

    def rebase(winner: dict):
        # the winner may BE this very epoch, committed by a concurrent
        # replay — re-landing our copy would double-apply the batch
        if _epoch_already_committed(spark, table_s, run_id, epoch_id):
            raise _EpochReplayedMidCommit()
        return (
            files,
            {
                "epoch": {"run": run_id, "epoch": int(epoch_id)},
                "schema": _merge_schema(winner.get("schema"), df.schema),
            },
            winner,
            (),
        )

    try:
        return _commit(
            spark,
            table_s,
            files,
            "stream-append",
            parent,
            extra={
                "epoch": {"run": run_id, "epoch": int(epoch_id)},
                "schema": schema_json,
            },
            on_conflict=rebase,
            carry_from=manifest,
        )
    except _EpochReplayedMidCommit:
        # our data files were never referenced by any manifest — orphans;
        # remove them now instead of waiting for a vacuum sweep
        for e in files:
            fsio.delete(spark, f"{table_s}/{e['path']}", False)
        return None


def vt_history(spark: SparkSession, table: str) -> list[dict]:
    """[{version, op, n_files}] for every retained manifest, oldest first.
    Raw reads: the file COUNT rides in the manifest list, so history never
    materializes a spilled snapshot's entries."""
    out = []
    for v in _list_versions(spark, table):
        m = read_manifest(spark, table, v, resolve=False)
        out.append(
            {
                "version": v,
                "op": m["op"],
                "n_files": m.get("n_files", len(m.get("files", []))),
            }
        )
    return out


def vt_count(spark: SparkSession, table: str, version: int | None = None) -> int:
    """COUNT(*) of a snapshot from manifest metadata — no data scan.

    Row counts are recorded per entry at commit time (parquet footer
    ``num_rows``); merge-on-read position deletes subtract exactly via
    the PER-ENTRY ``delete_rows`` counter each MOR writer records at
    attach time (every delete writer derives its (file, pos) set from
    the LIVE rows of its parent snapshot — ``_entries_df`` applies
    existing deletes before new ones are chosen — so the counters never
    overlap): live rows = Σ entry rows − Σ entry delete_rows. The
    counter, not the delete FILE's footer total, is what stays exact
    after a partial rewrite: one shared delete file can span several
    data files, and when a later merge rewrites one of them
    deletes-applied, the file's footer still counts the vanished rows.

    This is the Iceberg snapshot-summary trick: counting a 100-TB table
    costs one manifest read, no data or delete-file read at all.
    Entries written before row tracking (no ``"rows"``) fall back to ONE
    bounded Spark metadata count over just those files; delete-bearing
    entries from before ``delete_rows`` fall back to footer totals of
    their delete files (exact unless a partial rewrite split a shared
    delete file's scope — rebuild via vt_compact to refresh)."""
    table = table.rstrip("/")
    v = latest_version(spark, table) if version is None else version
    entries = read_manifest(spark, table, v)["files"]
    total = sum(e["rows"] for e in entries if "rows" in e)
    legacy = [e["path"] for e in entries if "rows" not in e]
    if legacy:
        # parquet metadata count — Spark answers from footers, no row scan
        total += spark.read.parquet(*[f"{table}/{p}" for p in legacy]).count()
    total -= sum(e["delete_rows"] for e in entries if "delete_rows" in e)
    del_paths = sorted(
        {
            p
            for e in entries
            if "delete_rows" not in e
            for p in e.get("deletes", [])
        }
    )
    if del_paths:
        from urllib.parse import urlparse

        scheme = urlparse(table).scheme
        # scheme-less paths are local only if the resolved Hadoop fs is
        # (same rule as _write_data — pyarrow would read the driver disk)
        if scheme == "file" or (
            scheme == "" and fsio.scheme(spark, table) == "file"
        ):
            import pyarrow.parquet as pq

            local_root = table[len("file:"):] if scheme == "file" else table
            total -= sum(
                pq.ParquetFile(f"{local_root}/{p}").metadata.num_rows
                for p in del_paths
            )
        else:
            total -= spark.read.parquet(
                *[f"{table}/{p}" for p in del_paths]
            ).count()
    return int(total)


def vt_rename_column(spark: SparkSession, table: str, old: str, new: str) -> int:
    """Rename a column WITHOUT rewriting any data — a metadata-only
    commit, the capability :func:`_merge_schema` deliberately refuses to
    smuggle in through appends.

    At 100 TB a rename-by-rewrite is a full-table copy; table formats
    make it O(1) instead (Iceberg via field IDs). Here the equivalent
    identity is POSITIONAL: every entry records the column names its
    file was physically written with (``entry["cols"]``), evolution is
    additive-append-only, and rename preserves positions — so a file's
    columns always map onto the snapshot schema's prefix, and
    :func:`_entries_df` projects physical→logical per entry group at
    scan time. The commit updates the manifest schema, re-keys each
    entry's recorded stats/bloom to the new name (pruning follows the
    logical name), and touches no data file.

    After the rename the OLD name no longer exists: a later append
    carrying it creates a fresh column of that name (exactly Iceberg's
    semantics). Old snapshots time-travel with their own schema — the
    rename is part of history, not a retroactive edit. Entries from
    manifests that predate column tracking are stamped with their
    physical names here (one driver-side footer read per legacy file,
    once ever).

    Manifest cost is INCREMENTAL on a spilled table: only entries whose
    recorded metadata actually changes (stats/bloom re-keyed under the
    renamed column, or a legacy ``cols`` stamp) mark their refs dirty;
    refs untouched by the re-keying carry verbatim through the same
    carry_from machinery every other commit uses — renaming a column no
    entry recorded stats for is an O(1) manifest-list edit, not a
    full respill."""
    from pyspark.sql.types import StructField, StructType

    table = table.rstrip("/")
    parent = latest_version(spark, table)
    manifest = read_manifest(spark, table, parent, resolve=False)
    entries = read_manifest(spark, table, parent)["files"]
    schema_json = manifest.get("schema")
    if schema_json is None and entries:
        schema_json = (
            spark.read.parquet(f"{table}/{entries[0]['path']}").schema.json()
        )
    if schema_json is None:
        raise ValueError(
            f"{table} is empty with no tracked schema — nothing to rename"
        )
    schema = StructType.fromJson(json.loads(schema_json))
    names = [f.name for f in schema.fields]
    if old not in names:
        raise ValueError(f"no column {old!r} in {table} (columns: {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists in {table}")
    renamed = StructType(
        [
            StructField(
                new if f.name == old else f.name, f.dataType, f.nullable, f.metadata
            )
            for f in schema.fields
        ]
    )
    changed = []
    for e in entries:
        e2 = dict(e)
        touched = False
        if "cols" not in e2:
            e2["cols"] = list(
                spark.read.parquet(f"{table}/{e['path']}").schema.names
            )
            touched = True
        for k in ("stats", "bloom"):
            side = e2.get(k)
            if side and old in side:
                side = dict(side)
                side[new] = side.pop(old)
                e2[k] = side
                touched = True
        if touched:
            changed.append(e2)
    return _commit(
        spark,
        table,
        changed,
        "rename",
        parent,
        extra={"schema": renamed.json()},
        carry_from=manifest,
        dirty_paths={e["path"] for e in changed},
    )


def vt_vacuum(spark: SparkSession, table: str, keep_last: int = 2) -> int:
    """Drop all but the newest ``keep_last`` manifests and delete every
    data file no retained manifest references. The ONLY destructive
    operation in the protocol; run it with a retention window longer than
    the longest-running reader. Returns the number of files deleted."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the latest version must survive)")
    table = table.rstrip("/")
    versions = _list_versions(spark, table)
    keep, drop = versions[-keep_last:], versions[:-keep_last]
    referenced = set()
    kept_manifest_files = set()
    for v in keep:
        m = read_manifest(spark, table, v)
        for e in m["files"]:
            referenced.add(e["path"])
            referenced.update(e.get("deletes", []))
        kept_manifest_files.update(r["ref"] for r in m.get("files_ref", []))
    doomed = set()
    for v in drop:
        for e in read_manifest(spark, table, v)["files"]:
            doomed.add(e["path"])
            doomed.update(e.get("deletes", []))
    doomed -= referenced
    for f in sorted(doomed):
        fsio.delete(spark, f"{table}/{f}", False)
    for v in drop:
        fsio.delete(spark, _manifest_path(table, v), False)
    # GC spilled manifest files no retained version references (dropped
    # versions' spills, plus orphans from lost CAS attempts). A concurrent
    # writer spills its m_*.parquet BEFORE the CAS rename of vN.json, so an
    # unreferenced spill is not necessarily an orphan — it may belong to an
    # in-flight commit. Grace window: only GC spills strictly older than the
    # oldest retained version manifest; any in-flight commit started after
    # that version landed, so its spills are always newer and survive.
    # A table with spilled m_*.parquet but zero committed versions (crashed
    # first commit) has an empty `keep`: no grace anchor exists, so spill GC
    # is skipped entirely — the in-flight/orphan spills survive until a
    # version lands and a later vacuum can reason about their age.
    mdir = f"{table}/{_MANIFEST_DIR}"
    if fsio.exists(spark, mdir) and keep:
        grace_mtime = min(
            fsio.status(spark, _manifest_path(table, v)).getModificationTime()
            for v in keep
        )
        for status in fsio.list_status(spark, mdir):
            name = status.getPath().getName()
            rel = f"{_MANIFEST_DIR}/{name}"
            if (
                name.startswith("m_")
                and name.endswith(".parquet")
                and rel not in kept_manifest_files
                and status.getModificationTime() < grace_mtime
            ):
                fsio.delete(spark, status.getPath(), False)
        # GC orphan data/delete SUBDIRS from aborted commits: every writer
        # lands its full data/<uuid>/ (or deletes/<uuid>/) set BEFORE the
        # CAS, so a lost ConcurrentWriteError race leaves a whole subdir
        # referenced by no manifest ever — on a contended table each lost
        # race would otherwise leak a COW rewrite's worth of storage
        # permanently (dropped-version files are handled above; this is
        # the never-committed tier). Same grace rule as spills: only
        # subdirs strictly older than the oldest retained manifest — an
        # in-flight commit's writes are always newer and survive. The
        # subdir's age comes from the newest FILE inside it, never the
        # directory status: object-store filesystems (S3A-style) return
        # synthetic directory statuses with epoch/meaningless mtimes, and
        # trusting one would delete an in-flight commit's data before its
        # CAS lands (committed manifest referencing deleted files). A
        # file-less subdir (a writer that created the dir but hasn't
        # landed a file yet) is skipped — it holds zero bytes.
        live_subdirs = {
            p.split("/", 2)[1]
            for p in referenced
            if p.startswith((f"{_DATA_DIR}/", "deletes/"))
        }
        for top in (_DATA_DIR, "deletes"):
            tdir = f"{table}/{top}"
            if not fsio.exists(spark, tdir):
                continue
            for status in fsio.list_status(spark, tdir):
                if (
                    not status.isDirectory()
                    or status.getPath().getName() in live_subdirs
                ):
                    continue
                newest = fsio.newest_file_mtime(spark, status.getPath())
                if newest != -1 and newest < grace_mtime:
                    fsio.delete(spark, status.getPath())
    return len(doomed)


def _write_delete_files(
    spark: SparkSession, table: str, matches: DataFrame
) -> tuple[list[str], set, int]:
    """Write a (__file, __pos) match set as a position-delete file under
    ``deletes/<uuid>/`` and census it from its OWN kb-sized output (one
    scan of the data, never a second pass over the table). Returns
    (delete_paths, {hit data-file path: its delete-row count},
    rows_matched) — all empty/zero when nothing matched, with the empty
    output directory cleaned up. The PER-FILE counts ride into each
    touched entry as ``delete_rows`` so :func:`vt_count` stays exact
    after a partial rewrite: one shared delete file can span several
    data files, and subtracting its footer total would double-subtract
    rows whose data file a later merge already rewrote deletes-applied.
    Shared by the MOR merge and MOR delete writers."""
    from pyspark.sql import functions as F

    subdir = f"deletes/{uuid.uuid4().hex[:12]}"
    matches.repartition(1).write.parquet(f"{table}/{subdir}")
    listed = fsio.list_status(spark, f"{table}/{subdir}")
    del_paths = [
        f"{subdir}/{s.getPath().getName()}"
        for s in listed
        if s.getPath().getName().endswith(".parquet")
    ]
    per_file = {
        r["__file"]: int(r["__n"])
        for r in spark.read.parquet(*[f"{table}/{p}" for p in del_paths])
        .groupBy("__file")
        .agg(F.count("*").alias("__n"))
        .collect()
    }
    if not per_file:
        fsio.delete(spark, f"{table}/{subdir}")
        return [], {}, 0
    return del_paths, per_file, sum(per_file.values())


def _entry_delete_rows(spark, table: str, e: dict) -> int:
    """The entry's current delete-row count. Normally the recorded
    ``delete_rows`` counter; an entry carrying deletes from BEFORE the
    counter existed backfills it exactly with one bounded read of its
    KB-sized delete files filtered to this entry's path — so an upgraded
    entry never records a partial counter (which vt_count would subtract
    INSTEAD of the footer fallback, losing the legacy share)."""
    if "delete_rows" in e:
        return int(e["delete_rows"])
    if not e.get("deletes"):
        return 0
    return (
        spark.read.parquet(*[f"{table}/{p}" for p in e["deletes"]])
        .filter(F.col("__file") == e["path"])
        .count()
    )


def _live_rows_or_none(entries: list[dict]) -> int | None:
    """Σ live rows (rows − delete_rows) over ``entries`` from manifest
    metadata alone, or None when any entry predates row tracking (the
    caller must then probe with a scan)."""
    if any(
        "rows" not in e or (e.get("deletes") and "delete_rows" not in e)
        for e in entries
    ):
        return None  # legacy entry (no row tracking / uncounted deletes)
    return sum(
        int(e["rows"]) - int(e.get("delete_rows", 0)) for e in entries
    )


def vt_delete(
    spark: SparkSession,
    table: str,
    predicate,
    stats_cols: list[str] | None = None,
) -> tuple[int, int, int]:
    """Copy-on-write DELETE as a snapshot commit: rewrite ONLY the files
    that actually contain matching rows; carry every other file forward
    untouched. Returns (version, files_rewritten, rows_deleted) — when no
    file matches, no commit happens and the current version is returned.

    One counting scan finds the touched files (per-file match counts via
    ``input_file_name`` — bounded: one row per file WITH matches), then
    only those files are re-read and rewritten predicate-negated. NULL
    predicate results keep the row (SQL DELETE semantics: only rows where
    the predicate is TRUE are deleted) — the negation is
    ``NOT coalesce(pred, false)``, not ``NOT pred``, which would silently
    drop NULL-predicate rows.

    Reference analog: hard deletes the reference delegates to Postgres
    ``DELETE`` (dbt full-refresh path); here it is the file-scoped COW
    form a 100-TB table needs — delete cost ∝ files containing matches,
    plus snapshot isolation for free.
    """
    from pyspark.sql import functions as F

    table = table.rstrip("/")
    parent = latest_version(spark, table)
    manifest = read_manifest(spark, table, parent)
    entries = manifest["files"]
    if not entries:
        return parent, 0, 0
    schema = _snapshot_schema(manifest)
    pred = F.coalesce(predicate, F.lit(False))
    # live rows only (existing position deletes applied), with row
    # identity — grouping on the manifest-relative path exactly matches
    # entry["path"], no URI-suffix guessing
    per_file = (
        _entries_df(spark, table, entries, schema, keep_meta=True)
        .filter(pred)
        .groupBy("__file")
        .agg(F.count("*").alias("__n"))
        .collect()
    )
    if not per_file:
        return parent, 0, 0
    hit = {r["__file"] for r in per_file}
    rows_deleted = sum(r["__n"] for r in per_file)
    touched = [e for e in entries if e["path"] in hit]
    kept = _entries_df(spark, table, touched, schema).filter(~pred)
    stats_cols = stats_cols or sorted(
        {c for e in touched for c in e.get("stats", {})}
    )
    # rewritten files must keep their bloom sidecars too (vt_compact's
    # rule) or point lookups on them degrade to keep-all until a compact
    rewrite_bloom = sorted({c for e in touched for c in e.get("bloom", {})})
    # "did the delete empty every touched file?" is manifest arithmetic,
    # not a scan: the counting pass above ran against LIVE rows (existing
    # position deletes applied), so kept is empty iff the matches equal
    # the touched entries' live row counts. Entries predating row
    # tracking fall back to the isEmpty probe job.
    live = _live_rows_or_none(touched)
    kept_empty = (
        rows_deleted == live if live is not None else kept.isEmpty()
    )
    new_files = (
        _write_data(
            spark,
            kept,
            table,
            stats_cols=stats_cols or None,
            bloom_cols=rewrite_bloom or None,
        )
        if not kept_empty
        else []
    )
    version = _commit(
        spark,
        table,
        new_files,
        "delete",
        parent,
        extra={"schema": manifest["schema"]} if "schema" in manifest else None,
        carry_from=manifest,
        dirty_paths=hit,
    )
    return version, len(touched), rows_deleted


def vt_delete_mor(
    spark: SparkSession,
    table: str,
    predicate,
) -> tuple[int, int, int]:
    """Merge-on-read DELETE: commit POSITION DELETES instead of rewriting
    data. One scan finds the matching live rows' identities
    (manifest-relative file path, in-file row ordinal via
    ``_metadata.row_index``); those (file, pos) pairs are written as a
    tiny parquet delete file and ATTACHED to the touched entries in the
    new manifest — no data file is read back or rewritten. Readers
    (:func:`vt_read` and every operator that scans through
    ``_entries_df``) anti-join the broadcast delete set;
    :func:`vt_compact` materializes the deletes into clean files;
    :func:`vt_vacuum` reclaims delete files with the manifests that
    reference them.

    This is the Iceberg-v2 position-delete / Delta deletion-vector
    pattern re-derived on Spark's ``_metadata`` column: at 100 TB a
    point delete (GDPR erasure, bad-record retraction) costs KBs of
    delete-file write instead of rewriting every GB-sized file that
    holds one matching row — the write-amplification fix
    copy-on-write :func:`vt_delete` cannot provide. The read-side tax is
    one broadcast hash anti-join on delete-bearing files only, paid
    until the next compaction. NULL-predicate rows survive (SQL DELETE
    semantics), matching :func:`vt_delete`.

    Returns (version, files_touched, rows_deleted); no commit when
    nothing matches.
    """
    from pyspark.sql import functions as F

    table = table.rstrip("/")
    parent = latest_version(spark, table)
    manifest = read_manifest(spark, table, parent)
    entries = manifest["files"]
    if not entries:
        return parent, 0, 0
    schema = _snapshot_schema(manifest)
    pred = F.coalesce(predicate, F.lit(False))
    matches = (
        _entries_df(spark, table, entries, schema, keep_meta=True)
        .filter(pred)
        .select("__file", "__pos")
    )
    del_paths, per_file, rows_deleted = _write_delete_files(spark, table, matches)
    if not del_paths:
        return parent, 0, 0  # nothing matched: no commit
    hit = set(per_file)
    modified = []
    for e in entries:
        if e["path"] in hit:
            e2 = dict(e)
            e2["deletes"] = list(e.get("deletes", [])) + del_paths
            # per-entry exact count: lets vt_count subtract only THIS
            # file's delete rows even when the delete file is shared
            e2["delete_rows"] = (
                _entry_delete_rows(spark, table, e) + per_file[e["path"]]
            )
            modified.append(e2)
    version = _commit(
        spark,
        table,
        modified,
        "delete-mor",
        parent,
        extra={"schema": manifest["schema"]} if "schema" in manifest else None,
        carry_from=manifest,
        dirty_paths=hit,
    )
    return version, len(hit), rows_deleted


def vt_diff(
    spark: SparkSession,
    table: str,
    v_from: int,
    v_to: int,
    keys: list[str],
) -> DataFrame:
    """Change-data-feed between two snapshots — (keys..., change_type,
    post-image columns), ``change_type`` ∈ insert/update/delete (update
    carries the post-image; delete's non-key columns are NULL).

    Manifest-scoped: only files REMOVED since ``v_from`` and files ADDED
    by ``v_to`` are read — every carried (unchanged) file participates in
    neither side, so diff cost ∝ churned files, not table size. Rows a
    rewrite carried verbatim (compaction, merge rewriting a file where
    only neighbors changed) land on both sides with equal values and are
    filtered by the null-safe column comparison — compaction produces an
    EMPTY diff, as CDC semantics require.

    The key set must be unique per side (the table format's merge keeps
    keys unique; appends of duplicate keys would fan out the full outer
    join).
    """
    from pyspark.sql import functions as F

    table = table.rstrip("/")
    m_from = read_manifest(spark, table, v_from)
    m_to = read_manifest(spark, table, v_to)
    # entry identity = (path, delete set): a merge-on-read delete keeps
    # the data file but changes its delete list, so the entry lands on
    # BOTH sides — old side still has the row, new side doesn't, and the
    # full outer join classifies it as `delete`
    def sig(e):
        return (e["path"], tuple(sorted(e.get("deletes", []))))

    from_by_sig = {sig(e): e for e in m_from["files"]}
    to_by_sig = {sig(e): e for e in m_to["files"]}
    removed = [e for s, e in sorted(from_by_sig.items()) if s not in to_by_sig]
    added = [e for s, e in sorted(to_by_sig.items()) if s not in from_by_sig]
    if not m_from["files"] and not m_to["files"]:
        raise ValueError(f"both versions of {table} are empty — no schema to diff")
    # both sides read with the TARGET version's schema: a column added
    # between the versions null-fills on the old side, so its population
    # shows up as `update` rows — column addition alone (all-null) diffs
    # empty, matching additive-evolution CDC semantics
    schema = _snapshot_schema(m_to) or _snapshot_schema(m_from)
    if schema is not None:
        empty = spark.createDataFrame([], schema)
    else:
        schema_entries = m_to["files"] or m_from["files"]
        empty = _entries_df(spark, table, schema_entries, None).limit(0)
    old = _entries_df(spark, table, removed, schema)
    old = empty if old is None else old
    new = _entries_df(spark, table, added, schema)
    new = empty if new is None else new
    non_keys = [c for c in old.columns if c not in keys]
    # presence markers, not key-null checks — a NULL key value must not
    # read as "row absent" in the full outer join
    o = old.withColumn("__in_old", F.lit(True)).alias("o")
    n = new.withColumn("__in_new", F.lit(True)).alias("n")
    cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
    joined = o.join(n, cond, "full_outer")
    in_old = F.col("o.__in_old").isNotNull()
    in_new = F.col("n.__in_new").isNotNull()
    changed = F.lit(False)
    for c in non_keys:
        changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    change_type = (
        F.when(~in_old, F.lit("insert"))
        .when(~in_new, F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    return (
        joined.select(
            *[F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in keys],
            change_type.alias("change_type"),
            *[F.col(f"n.{c}").alias(c) for c in non_keys],
        )
        .filter(F.col("change_type").isNotNull())
    )


def vt_overwrite_epoch(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    run_id: str,
    epoch_id: int,
    stats_cols: list[str] | None = None,
) -> int | None:
    """Exactly-once streaming OVERWRITE: the sink for state that each
    micro-batch REPLACES rather than appends (incremental mart
    maintenance, model snapshots). Same replay contract as
    :func:`vt_append_epoch`: a retried epoch finds its (run, epoch) tag
    in a retained manifest and becomes a no-op, so the
    read-merge-overwrite cycle cannot double-apply a batch. Returns the
    committed version, or None for a replayed epoch. Same vacuum
    retention caveat as vt_append_epoch.
    """
    table_s = table.rstrip("/")
    if _epoch_already_committed(spark, table_s, run_id, epoch_id):
        return None  # replayed epoch — already durable
    files = _write_data(spark, df, table_s, stats_cols=stats_cols)
    parent = latest_version(spark, table_s)
    return _commit(
        spark,
        table_s,
        files,
        "stream-overwrite",
        parent,
        extra={
            "epoch": {"run": run_id, "epoch": int(epoch_id)},
            "schema": df.schema.json(),
        },
        on_conflict="retry",  # output is independent of the parent snapshot
    )


def vt_apply_cdc(
    spark: SparkSession,
    changes: DataFrame,
    table: str,
    keys: list[str],
    stats_cols: list[str] | None = None,
) -> int:
    """Apply a change feed (the :func:`vt_diff` shape — keys...,
    ``change_type`` ∈ insert/update/delete, post-image non-keys) to a
    versioned table in ONE copy-on-write commit: the replication /
    downstream-sync half of CDC. Inserts and updates upsert their
    post-image (feed wins over the existing row); deletes remove the key.

    File scope is the same stats pruning as :func:`vt_merge`: only files
    whose recorded ``keys[0]`` range overlaps the feed are rewritten, so
    applying a small change feed to a 100-TB replica costs the churned
    files, not the table. A single commit keeps the apply atomic —
    readers never see the deletes landed but the upserts missing. Empty
    feed returns the current version without committing. Read-modify-
    write conflict semantics: raises :class:`ConcurrentWriteError` if the
    replica advances mid-apply.

    Applying ``vt_diff(src, v_from, v_to)`` onto a replica at ``v_from``
    state makes it row-identical to ``v_to`` — the round-trip
    q_cdc_apply hash-checks.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from endtoend_etl_openmeteo_spark.operators.merge import (
        dedup_last_write_wins,
    )

    table = table.rstrip("/")
    k0 = keys[0]
    stats_cols = stats_cols or [k0]
    parent = latest_version(spark, table)
    manifest = read_manifest(spark, table, parent)
    entries = manifest["files"]
    schema = _snapshot_schema(manifest)
    if schema is None and entries:
        schema = spark.read.parquet(f"{table}/{entries[0]['path']}").schema
    # The feed is typically an EXPENSIVE lineage (vt_diff's full outer
    # join); it is consumed three times below (bounds agg, delete
    # broadcast, upsert write). Lazy checkpoint: the bounds aggregate is
    # the first action and materializes the blocks in the same job (the
    # fused-pass shape), the later consumers read pinned blocks instead
    # of re-running the join. Released before returning.
    from endtoend_etl_openmeteo_spark.session import pinned

    with pinned(changes, eager=False) as changes:
        # the feed may carry columns the replica predates (the source
        # evolved additively between the diffed versions): merge them in,
        # vt_merge's rule, so applying a diff reproduces v_to's schema
        # too — projecting them away would silently break the documented
        # round-trip identity
        feed_schema = StructType(
            [f for f in changes.schema.fields if f.name != "change_type"]
        )
        schema = StructType.fromJson(
            json.loads(
                _merge_schema(
                    schema.json() if schema is not None else None, feed_schema
                )
            )
        )

        bounds = changes.agg(
            F.min(k0).alias("lo"),
            F.max(k0).alias("hi"),
            F.count("*").alias("n"),
            F.count(k0).alias("nk"),
        ).collect()[0]
        lo, hi = bounds["lo"], bounds["hi"]
        if bounds["n"] == 0:
            return parent  # empty feed: nothing to apply
        if bounds["n"] != bounds["nk"]:
            # vt_merge's contract, enforced here too: a NULL-key delete can
            # never match its target (plain-equality anti join), so the row
            # silently survives and the documented apply(diff) round-trip
            # identity breaks; an all-NULL-key feed would also classify
            # every file as touched — a full-table rewrite. Fail loudly.
            raise ValueError(
                f"vt_apply_cdc: {bounds['n'] - bounds['nk']} feed rows have "
                f"NULL key {k0!r} — filter them or assign surrogate keys "
                "upstream (NULL keys can never match an existing row)"
            )
        touched = []
        for e in entries:
            mm = e.get("stats", {}).get(k0)
            if not (
                mm is not None
                and mm[0] is not None
                and mm[1] is not None
                and (mm[0] > hi or mm[1] < lo)
            ):
                touched.append(e)

        upserts = _align(
            changes.filter(F.col("change_type").isin("insert", "update")), schema
        ).withColumn("__prio", F.lit(1))
        deletes = changes.filter(F.col("change_type") == "delete").select(*keys)
        if touched:
            affected = _entries_df(spark, table, touched, schema)
            # deletes are feed-sized: the anti join broadcasts them, the
            # affected files never shuffle for the delete
            base = affected.join(F.broadcast(deletes), keys, "left_anti")
            merged = dedup_last_write_wins(
                base.withColumn("__prio", F.lit(0)).unionByName(upserts),
                keys,
                "__prio",
            ).drop("__prio")
        else:
            merged = dedup_last_write_wins(upserts, keys, "__prio").drop("__prio")
        # carry the parent's recorded stats/bloom columns through the rewrite
        stats_cols = sorted(
            set(stats_cols) | {c for e in touched for c in e.get("stats", {})}
        )
        rewrite_bloom = sorted({c for e in touched for c in e.get("bloom", {})})
        new_files = _write_data(
            spark,
            merged,
            table,
            stats_cols=stats_cols,
            bloom_cols=rewrite_bloom or None,
        )
        return _commit(
            spark,
            table,
            new_files,
            "cdc-apply",
            parent,
            extra={"schema": schema.json()},
            carry_from=manifest,
            dirty_paths={e["path"] for e in touched},
        )


def vt_merge_mor(
    spark: SparkSession,
    new: DataFrame,
    table: str,
    keys: list[str],
    order_col: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    extra_meta: dict | None = None,
) -> tuple[int, int, int]:
    """Merge-on-read UPSERT: append the batch and POSITION-DELETE the
    superseded rows in one commit — no data file is rewritten.

    :func:`vt_merge` is copy-on-write: every file whose key range
    overlaps the batch is read back and rewritten, so a 1000-row upsert
    scattered across a 100-TB table rewrites every touched GB-file. This
    is the Iceberg-v2 MOR alternative: superseded row identities
    ((file, pos) via ``_metadata.row_index``) go into a KB-sized delete
    file attached to the touched entries; the batch lands as new data
    files; readers anti-join the broadcast delete set until
    :func:`vt_compact` materializes. Write amplification drops from
    O(touched file bytes) to O(batch + delete KBs); the discovery scan
    still reads only stats-overlapping files.

    Last-write-wins on ``order_col`` against BOTH the batch and the
    table (vt_merge parity): within-batch duplicates keep the newest;
    a batch row supersedes an existing row only when its order is >= the
    existing one (batch wins ties), and a batch row older than the
    table's copy is dropped without trace. ``order_col=None`` skips
    ordering — the batch unconditionally replaces matching keys. Returns
    (version, files_touched, rows_superseded).
    """
    from pyspark.sql.types import StructType

    from endtoend_etl_openmeteo_spark.operators.merge import (
        dedup_last_write_wins,
    )

    table = table.rstrip("/")
    k0 = keys[0]
    parent = latest_version(spark, table)
    manifest = read_manifest(spark, table, parent)
    entries = manifest["files"]
    parent_schema_json = manifest.get("schema")
    if parent_schema_json is None and entries:
        parent_schema_json = (
            spark.read.parquet(f"{table}/{entries[0]['path']}").schema.json()
        )
    schema_json = _merge_schema(parent_schema_json, new.schema)
    merged_schema = StructType.fromJson(json.loads(schema_json))
    if order_col is not None:
        new = dedup_last_write_wins(new, keys, order_col)

    # The (deduped) batch is consumed up to four times (bounds agg,
    # probe/semi broadcast, loser anti join, insert write) and the
    # candidate join twice (superseded positions, loser keys) — without
    # checkpoints each consumer re-scans the candidate files and re-runs
    # the batch lineage. Lazy checkpoints: the bounds agg materializes
    # the batch, the delete-file write materializes the join; later
    # consumers read pinned blocks (the fused-pass shape). Both released
    # before returning.
    from endtoend_etl_openmeteo_spark.session import pinned

    with pinned(new, eager=False) as new, ExitStack() as scoped:
        bounds = new.agg(
            F.min(k0).alias("lo"),
            F.max(k0).alias("hi"),
            F.count("*").alias("n"),
            F.count(k0).alias("nk"),
        ).collect()[0]
        lo, hi = bounds["lo"], bounds["hi"]
        if bounds["n"] != bounds["nk"]:
            # same contract as vt_merge: an all-NULL-key batch would
            # otherwise be classified as empty and silently dropped
            raise ValueError(
                f"vt_merge_mor: {bounds['n'] - bounds['nk']} batch rows have "
                f"NULL merge key {k0!r} — filter them or assign surrogate "
                "keys upstream (NULL keys can never match)"
            )
        if lo is None:
            return parent, 0, 0  # empty batch: nothing to commit

        # discovery scope: stats-pruned candidates only (conservative on
        # missing stats, same rule as vt_merge)
        candidates = [
            e
            for e in entries
            if not (
                (mm := e.get("stats", {}).get(k0)) is not None
                and mm[0] is not None
                and mm[1] is not None
                and (mm[0] > hi or mm[1] < lo)
            )
        ]
        superseded = None
        to_insert = new
        if candidates:
            scan = _entries_df(
                spark, table, candidates, merged_schema, keep_meta=True
            )
            if order_col is not None:
                probe = new.select(*keys, F.col(order_col).alias("__new_ord"))
                # batch-key-sized (inner join against the broadcast
                # probe); materialized by the delete-file write below,
                # then the loser branch reads the same blocks
                joined = scoped.enter_context(
                    pinned(scan.join(F.broadcast(probe), keys), eager=False)
                )
                # NULL order sorts as -infinity — the COW path's semantics
                # (dedup_last_write_wins orders DESC NULLS LAST, so a NULL-
                # order row loses to any non-NULL one and batch wins
                # NULL-vs-NULL ties). A bare <= / > pair would let NULLs
                # satisfy NEITHER filter: the batch row inserts AND the
                # existing row survives — duplicate keys after merge.
                ex_null = F.col(order_col).isNull()
                new_null = F.col("__new_ord").isNull()
                superseded = joined.filter(
                    ex_null | (~new_null & (F.col(order_col) <= F.col("__new_ord")))
                ).select("__file", "__pos")
                # batch rows older than the table's copy lose outright
                losers = (
                    joined.filter(
                        ~ex_null
                        & (new_null | (F.col(order_col) > F.col("__new_ord")))
                    )
                    .select(*keys)
                    .distinct()
                )
                to_insert = new.join(losers, keys, "left_anti")
            else:
                superseded = scan.join(
                    F.broadcast(new.select(keys).distinct()), keys, "semi"
                ).select("__file", "__pos")

        per_file: dict = {}
        rows_superseded = 0
        del_paths: list[str] = []
        if superseded is not None:
            del_paths, per_file, rows_superseded = _write_delete_files(
                spark, table, superseded
            )
        hit = set(per_file)

        new_files = (
            []
            if to_insert.isEmpty()
            else _write_data(
                spark,
                _align(to_insert, merged_schema),
                table,
                stats_cols=stats_cols or [k0],
                bloom_cols=bloom_cols,
            )
        )
        if not new_files and not hit:
            return parent, 0, 0  # fully-stale batch: nothing to commit
        modified = []
        for e in entries:
            if e["path"] in hit:
                e2 = dict(e)
                e2["deletes"] = list(e.get("deletes", [])) + del_paths
                # vt_count's exact per-entry subtraction (see vt_delete_mor)
                e2["delete_rows"] = (
                    _entry_delete_rows(spark, table, e) + per_file[e["path"]]
                )
                modified.append(e2)
        version = _commit(
            spark,
            table,
            modified + new_files,
            "merge-mor",
            parent,
            extra={"schema": schema_json, **(extra_meta or {})},
            carry_from=manifest,
            dirty_paths=hit,
        )
        return version, len(hit), rows_superseded


def vt_optimize(
    spark: SparkSession,
    table: str,
    sort_cols: list[str],
    target_mb: int = 128,
    n_files: int | None = None,
    strategy: str = "range",
) -> tuple[int, int, int]:
    """Range-clustering rewrite (OPTIMIZE ... ZORDER's 1-D sibling):
    repartitionByRange + in-file sort on ``sort_cols``, committed as a
    snapshot. After it, each file owns a DISJOINT sort-key range, so
    manifest min/max pruning (and parquet row-group pruning inside a
    file) answers range scans with O(result) files — the clustered
    complement of bloom sidecars (which serve point lookups on layouts
    range clustering can't fix, e.g. a second independent key).

    Like :func:`vt_compact` it materializes position deletes, carries
    recorded stats/bloom columns forward (adding ``sort_cols`` to stats —
    clustering exists to make those stats selective), and isolates open
    readers via the manifest. ``n_files`` overrides the byte-targeted
    file count. ``strategy="zorder"`` clusters on the Morton key of
    ``sort_cols`` instead (operators/layout.zorder_layout): lexicographic
    range clustering makes only the LEADING key selective; the Z-curve
    keeps every dimension's per-file min/max tight, so predicates on any
    of the columns prune — OPTIMIZE ZORDER BY for the manifest format.
    Returns (version, files_before, files_after)."""
    import math

    table = table.rstrip("/")
    parent = latest_version(spark, table)
    manifest = read_manifest(spark, table, parent)
    if not manifest["files"]:
        return parent, 0, 0
    total = _total_bytes(spark, table, manifest["files"])
    n = n_files or max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    schema = _snapshot_schema(manifest)
    df = _entries_df(spark, table, manifest["files"], schema)
    stats_cols = sorted(
        {c for e in manifest["files"] for c in e.get("stats", {})} | set(sort_cols)
    )
    bloom_cols = sorted({c for e in manifest["files"] for c in e.get("bloom", {})})
    if strategy == "zorder":
        from endtoend_etl_openmeteo_spark.operators.layout import zorder_layout

        clustered = zorder_layout(df, sort_cols, n)
    elif strategy == "range":
        clustered = df.repartitionByRange(n, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        raise ValueError(f"unknown optimize strategy {strategy!r}")
    files = _write_data(
        spark, clustered, table, stats_cols=stats_cols, bloom_cols=bloom_cols or None
    )
    extra = {"schema": manifest["schema"]} if "schema" in manifest else None
    new_v = _commit(spark, table, files, "optimize", parent, extra=extra)
    return new_v, len(manifest["files"]), len(files)


def vt_merge_mor_epoch(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    run_id: str,
    epoch_id: int,
    keys: list[str],
    order_col: str | None = None,
    stats_cols: list[str] | None = None,
) -> int | None:
    """Exactly-once streaming UPSERT: :func:`vt_merge_mor` as a
    foreachBatch sink. The epoch tag gives micro-batch idempotence the
    same way :func:`vt_append_epoch` does — a replayed epoch finds its
    (run, epoch) marker in a retained manifest and no-ops, so a crash
    between commit and checkpoint cannot double-apply an upsert (which,
    unlike a dedup-keyed append, would position-delete rows the replay
    itself just wrote). MOR semantics make this the streaming CDC-apply
    shape: each micro-batch of keyed changes costs batch + KB-sized
    delete files, never a rewrite of the accumulating table.

    Returns the committed version (a no-change batch commits an empty
    ``stream-merge-noop`` manifest so its replay still short-circuits),
    or None for a replayed epoch. Unlike the append sink this is
    read-modify-write: a concurrent writer raises
    :class:`ConcurrentWriteError` (re-run the batch) rather than
    rebasing, because the delete positions were derived from the parent
    snapshot.
    """
    table_s = table.rstrip("/")
    if _epoch_already_committed(spark, table_s, run_id, epoch_id):
        return None  # replayed epoch — already durable
    # the tag rides the merge's OWN manifest — one atomic commit, so
    # there is no window where the upsert is durable but unmarked
    tag_meta = {"epoch": {"run": run_id, "epoch": int(epoch_id)}}
    before = latest_version(spark, table_s)
    version, touched, superseded = vt_merge_mor(
        spark,
        df,
        table_s,
        keys=keys,
        order_col=order_col,
        stats_cols=stats_cols,
        extra_meta=tag_meta,
    )
    if version == before and touched == 0 and superseded == 0:
        # empty/stale batch committed nothing; still record the epoch so a
        # replay of THIS epoch short-circuits instead of re-deriving
        m = read_manifest(spark, table_s, version, resolve=False)
        extra = dict(tag_meta)
        if "schema" in m:
            extra["schema"] = m["schema"]
        return _commit(
            spark,
            table_s,
            [],
            "stream-merge-noop",
            version,
            extra=extra,
            carry_from=m,
        )
    return version


def vt_maintain(
    spark: SparkSession,
    table: str,
    small_file_mb: int = 8,
    max_files: int = 16,
    sort_cols: list[str] | None = None,
    strategy: str = "range",
    keep_last: int = 3,
    target_mb: int = 128,
) -> dict:
    """One tick of the autonomous maintenance loop — the policy layer a
    100-TB deployment runs on a schedule so humans never hand-pick
    compactions:

    1. pending position deletes → materialize them (compact, or optimize
       when ``sort_cols`` is given — the rewrite is happening anyway, so
       cluster while at it);
    2. else fragmentation (more than ``max_files`` files AND mean file
       size under ``small_file_mb``) → same rewrite choice;
    3. finally vacuum to ``keep_last`` retained versions.

    Each step is the existing snapshot-committed operation, so readers
    stay isolated throughout and a crash between steps leaves a valid
    table. Returns {"action", "version", "files_before", "files_after",
    "vacuumed"} (action None when the table is already tidy).
    """
    table = table.rstrip("/")
    parent = latest_version(spark, table)
    manifest = read_manifest(spark, table, parent)
    entries = manifest["files"]
    action, version, before, after = None, parent, len(entries), len(entries)
    needs_rewrite = False
    if entries:
        has_deletes = any(e.get("deletes") for e in entries)
        total = _total_bytes(spark, table, entries)
        fragmented = (
            len(entries) > max_files
            and total / len(entries) < small_file_mb * 1024 * 1024
        )
        needs_rewrite = has_deletes or fragmented
    if needs_rewrite:
        if sort_cols:
            action = "optimize"
            version, before, after = vt_optimize(
                spark, table, sort_cols, target_mb=target_mb, strategy=strategy
            )
        else:
            action = "compact"
            version, before, after = vt_compact(spark, table, target_mb=target_mb)
    vacuumed = vt_vacuum(spark, table, keep_last=keep_last)
    return {
        "action": action,
        "version": version,
        "files_before": before,
        "files_after": after,
        "vacuumed": vacuumed,
    }
