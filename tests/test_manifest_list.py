"""Two-tier manifests (operators/manifest_list.py + versioned._commit):
spill past the inline threshold, flat-append ref reuse, dirty-ref-only
rewrites, distributed scan pruning, and manifest-file GC.

Thresholds are shrunk via monkeypatch so a handful of files exercises the
spilled tier; the inline tier keeps its full coverage in
tests/test_versioned.py.
"""

import shutil
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.operators import manifest_list as ml
from endtoend_etl_openmeteo_spark.operators import versioned as vt
from endtoend_etl_openmeteo_spark.operators.versioned import (
    latest_version,
    vt_append,
    vt_compact,
    vt_count,
    vt_files,
    vt_history,
    vt_init,
    vt_read,
    vt_vacuum,
)

TMP = Path(__file__).resolve().parent.parent / ".tmp"


@pytest.fixture()
def table(spark, monkeypatch):
    monkeypatch.setattr(vt, "_INLINE_MAX", 4)
    monkeypatch.setattr(ml, "_CHUNK", 4)
    d = TMP / f"ml_{uuid.uuid4().hex[:8]}"
    d.mkdir(parents=True, exist_ok=True)
    path = str(d)
    vt_init(spark, path)
    yield path
    shutil.rmtree(d, ignore_errors=True)


def _wave(spark, lo, hi, parts):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v").repartition(parts)


def read_manifest(spark, table, version=None, resolve=True):
    v = latest_version(spark, table) if version is None else version
    return vt.read_manifest(spark, table, v, resolve=resolve)


def _refs(spark, table, v=None):
    v = latest_version(spark, table) if v is None else v
    return read_manifest(spark, table, v, resolve=False).get("files_ref") or []


def test_spill_round_trip_read_count_history_time_travel(spark, table):
    v1 = vt_append(spark, _wave(spark, 0, 40, 3), table, stats_cols=["id"])
    v2 = vt_append(spark, _wave(spark, 40, 100, 5), table, stats_cols=["id"])
    raw = read_manifest(spark, table, v2, resolve=False)
    assert raw.get("files_ref"), "8 files > threshold 4 must spill"
    assert raw["files"] == [] and raw["n_files"] == 8
    # resolved view and reads agree with the inline semantics
    assert len(read_manifest(spark, table, v2)["files"]) == 8
    assert vt_read(spark, table).count() == 100
    assert vt_count(spark, table) == 100  # metadata-only count over refs
    assert vt_read(spark, table, version=v1).count() == 40  # time travel
    hist = vt_history(spark, table)
    assert [h["n_files"] for h in hist] == [0, 3, 8]
    got = sorted(r.id for r in vt_read(spark, table).collect())
    assert got == list(range(100))


def test_append_to_spilled_table_carries_refs_verbatim(spark, table):
    vt_append(spark, _wave(spark, 0, 40, 6), table, stats_cols=["id"])
    before = {r["ref"] for r in _refs(spark, table)}
    assert before  # spilled
    vt_append(spark, _wave(spark, 40, 50, 2), table, stats_cols=["id"])
    after = {r["ref"] for r in _refs(spark, table)}
    # flat append: every parent manifest file reused untouched, exactly
    # the new batch's spill added
    assert before <= after
    new_refs = [r for r in _refs(spark, table) if r["ref"] not in before]
    assert sum(r["n"] for r in new_refs) == 2
    assert vt_count(spark, table) == 50


def test_mor_merge_rewrites_only_intersecting_refs(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_merge_mor

    for lo in (0, 20, 40, 60, 80):
        vt_append(
            spark,
            spark.range(lo, lo + 20)
            .selectExpr("id", "CAST(0 AS INT) AS ord", "'base' AS src")
            .coalesce(1),
            table,
            stats_cols=["id"],
        )
    before = {r["ref"] for r in _refs(spark, table)}
    assert len(before) >= 2
    batch = spark.createDataFrame(
        [(3, 1, "new"), (7, 1, "new")], "id long, ord int, src string"
    )
    v, touched, superseded = vt_merge_mor(
        spark, batch, table, keys=["id"], order_col="ord"
    )
    assert touched == 1 and superseded == 2
    after = {r["ref"] for r in _refs(spark, table)}
    # clean refs carried; only the manifest files covering the touched
    # entry (plus the new data file's spill) were rewritten
    assert before & after, "untouched manifest files must be reused"
    rows = {r.id: r.src for r in vt_read(spark, table).collect()}
    assert len(rows) == 100
    assert rows[3] == "new" and rows[7] == "new" and rows[4] == "base"


def test_spilled_pruning_matches_driver_loops(spark, table):
    # interleaved ids -> range pruning can't skip, blooms can
    for wave in range(3):
        vt_append(
            spark,
            spark.range(0, 300)
            .filter(f"id % 3 = {wave}")
            .selectExpr("id", "id * 2 AS v")
            .repartition(2),
            table,
            stats_cols=["id"],
            bloom_cols=["id"],
        )
    raw = read_manifest(spark, table, resolve=True)
    assert read_manifest(
        spark, table, latest_version(spark, table), resolve=False
    ).get("files_ref")

    # range pruning: Spark path == driver loop on resolved entries
    for prune in (("id", 0, 50), ("id", 250, 299), ("id", 1000, 2000)):
        spark_side = set(vt_files(spark, table, prune=prune))
        driver_side = {
            f"{table}/{e['path']}"
            for e in vt._prune_entries(raw["files"], prune)
        }
        assert spark_side == driver_side

    # bloom point lookup: superset guarantee + correct read
    probed = vt_files(spark, table, prune_eq=("id", 150))
    all_files = vt_files(spark, table)
    assert len(probed) < len(all_files)
    got = vt_read(spark, table, prune_eq=("id", 150)).filter("id = 150")
    assert [(r.id, r.v) for r in got.collect()] == [(150, 300)]
    # kind mismatch never skips
    assert set(vt_files(spark, table, prune_eq=("id", "150"))) == set(all_files)
    # absent key: typically everything skipped, read stays correct
    assert (
        vt_read(spark, table, prune_eq=("id", 10**6)).filter("id = 1000000").count()
        == 0
    )


def test_schema_evolution_and_delete_on_spilled_table(spark, table):
    vt_append(spark, _wave(spark, 0, 60, 6), table, stats_cols=["id"])
    vt_append(
        spark,
        spark.range(60, 70).selectExpr("id", "id * 2 AS v", "'x' AS tag"),
        table,
        stats_cols=["id"],
    )
    df = vt_read(spark, table)
    assert df.columns == ["id", "v", "tag"]
    assert df.filter("tag IS NULL").count() == 60  # old files null-fill
    version, rewritten, deleted = vt.vt_delete(
        spark, table, F.col("id") < 5
    )
    assert deleted == 5
    assert vt_count(spark, table) == 65
    assert vt_read(spark, table).filter("id < 5").count() == 0


def test_vacuum_gcs_unreferenced_manifest_files(spark, table):
    vt_append(spark, _wave(spark, 0, 40, 6), table, stats_cols=["id"])
    old_refs = {r["ref"].rsplit("/", 1)[-1] for r in _refs(spark, table)}
    vt_compact(spark, table)  # fresh spill, old refs obsolete
    vt_vacuum(spark, table, keep_last=1)
    mdir = Path(table) / "_manifests"
    on_disk = {p.name for p in mdir.iterdir() if p.name.startswith("m_")}
    kept = {r["ref"].rsplit("/", 1)[-1] for r in _refs(spark, table)}
    assert kept <= on_disk
    assert not (old_refs & on_disk), "dropped versions' manifest files must be GCed"
    assert vt_read(spark, table).count() == 40


def test_inline_to_spill_crossing_and_back_compat(spark, table):
    # first append stays inline (2 files <= 4)
    vt_append(spark, _wave(spark, 0, 10, 2), table, stats_cols=["id"])
    raw = read_manifest(spark, table, resolve=False)
    assert raw["files"] and not raw.get("files_ref")
    # second append crosses the threshold -> whole list spills
    vt_append(spark, _wave(spark, 10, 40, 4), table, stats_cols=["id"])
    raw = read_manifest(spark, table, resolve=False)
    assert raw.get("files_ref") and raw["n_files"] == 6
    assert sorted(r.id for r in vt_read(spark, table).collect()) == list(range(40))




def test_vt_maintain_long_session_stays_bounded(spark, table):
    """Round-5 verdict task 8 — the autonomous-maintenance longevity
    claim: N append+maintain ticks with interleaved reads in ONE session
    must keep every resource bounded — retained manifests (vacuum
    window), data files (compaction), spilled manifest files (GC), disk
    entries, and pinned RDDs (the checkpoint-lifecycle contract). Run on
    the SPILLED tier so the tick exercises the two-level manifests."""
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_maintain
    from endtoend_etl_openmeteo_spark.session import (
        persistent_rdd_ids,
        release_persistent_rdds,
    )

    release_persistent_rdds(spark)
    base_rdds = persistent_rdd_ids(spark)
    n_ticks = 8
    rows_per_tick = 60
    for tick in range(n_ticks):
        # fragmented arrivals: 6 small files per tick
        vt_append(
            spark,
            _wave(spark, tick * rows_per_tick, (tick + 1) * rows_per_tick, 6),
            table,
            stats_cols=["id"],
        )
        report = vt_maintain(
            spark, table, small_file_mb=64, max_files=8, keep_last=2
        )
        # a concurrent-style read inside the same session, every tick
        expect = (tick + 1) * rows_per_tick
        assert vt_read(spark, table).count() == expect
        assert vt_count(spark, table) == expect
        release_persistent_rdds(spark)

    mdir = Path(table) / "_manifests"
    json_manifests = [p for p in mdir.iterdir() if p.suffix == ".json"]
    spilled = [p for p in mdir.iterdir() if p.name.startswith("m_")]
    kept_refs = {r["ref"].rsplit("/", 1)[-1] for r in _refs(spark, table)}
    # bounded manifests: at most keep_last JSONs survive each tick's vacuum
    assert len(json_manifests) <= 3
    # every spilled manifest file on disk is referenced by a retained
    # version (no unbounded m_* growth across ticks)
    live = set()
    for p in json_manifests:
        v = int(p.name[1:-5])
        live |= {
            r["ref"].rsplit("/", 1)[-1]
            for r in (read_manifest(spark, table, v, resolve=False).get("files_ref") or [])
        }
    assert {p.name for p in spilled} <= live | kept_refs
    # compaction kept the data-file count bounded (not n_ticks * 6)
    assert vt_history(spark, table)[-1]["n_files"] <= 8
    # data dir holds only files the retained versions reference (+ nothing
    # monotonically growing): count parquet files under data/
    data_files = list((Path(table) / "data").rglob("*.parquet"))
    assert len(data_files) <= 8 + 6  # live snapshot + <=1 retained older
    # zero pinned RDDs leak across the whole session
    assert persistent_rdd_ids(spark) - base_rdds == set()
    # final content correct
    got = sorted(r.id for r in vt_read(spark, table).collect())
    assert got == list(range(n_ticks * rows_per_tick))


def test_spark_manifest_write_keeps_its_file_when_the_rename_fails(
    spark, table, monkeypatch
):
    """Off the local filesystem a manifest file is written by Spark into
    a ``__dir`` and renamed out of it. A rename that returns False must
    raise and keep the ``__dir``, which then holds the only copy of the
    file, instead of deleting it."""
    from endtoend_etl_openmeteo_spark import fsio

    vt_append(spark, _wave(spark, 0, 8, 2), table, stats_cols=["id"])
    entries = read_manifest(spark, table)["files"]
    monkeypatch.setattr(ml, "_is_local", lambda spark, table: False)
    monkeypatch.setattr(fsio, "rename", lambda spark, src, dst: False)
    with pytest.raises(OSError, match="is kept"):
        ml.spill_entries(spark, table, entries)
    kept = list(Path(table, ml._MANIFEST_DIR).glob("*__dir"))
    assert len(kept) == 1 and list(kept[0].glob("*.parquet"))


def test_ref_summary_unpublishable_columns_stay_conservative():
    """The ref-level summary must stay a SUPERSET of entry-level pruning:
    a column any entry carries without summarizable bounds — [x, None] /
    [None, x] halves, bool/mixed-typed values, or simply absent — must
    not publish bounds, or prune_refs could drop a manifest file whose
    uncovered entry the entry-level Catalyst path would have kept."""
    chunk = [
        {"path": "a", "stats": {"full": [1, 9], "half": [1, None],
                                "mixed": [1, 2], "gone": [1, 2],
                                "boolish": [True, True]}},
        {"path": "b", "stats": {"full": [3, 20], "half": [2, 5],
                                "mixed": ["x", "y"], "boolish": [1, 2]}},
    ]
    s = ml._ref_summary(chunk, "m_test.parquet")
    assert s["nstats"].get("full") == [1.0, 20.0]  # complete: published
    for col in ("half", "mixed", "gone", "boolish"):
        assert col not in s["nstats"] and col not in s["sstats"], col
    # and the symmetric [None, x] half is equally unpublishable
    s2 = ml._ref_summary(
        [{"path": "a", "stats": {"c": [None, 5]}},
         {"path": "b", "stats": {"c": [1, 5]}}],
        "m_t.parquet",
    )
    assert "c" not in s2["nstats"]
