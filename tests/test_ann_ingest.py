"""Streaming embedding ingestion into the stream-managed IVF-PQ index:
train-offline / add-forever with exactly-once epochs, replay-idempotent
appends, bounded epoch dirs via consolidation, and serving always equal
to a from-scratch encode of everything ingested."""

import shutil
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.operators.similarity import (
    append_streamed_ivfpq,
    compact_streamed_ivfpq_index,
    init_streamed_ivfpq_index,
    ivfpq_encode,
    ivfpq_topk_rerank,
    ivfpq_train,
    stored_ivfpq_topk,
)
from endtoend_etl_openmeteo_spark.streaming import run_streaming_ann_ingest

SF = "/root/testdata/sf0.001"
TMP = Path(__file__).resolve().parent.parent / ".tmp"
VEC_SCHEMA = "vec_id long, embedding array<double>"


@pytest.fixture()
def workdir():
    d = TMP / f"ann_ingest_{uuid.uuid4().hex[:8]}"
    d.mkdir(parents=True, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _land(emb, landing: str, lo: int, hi: int) -> None:
    emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).coalesce(
        1
    ).write.mode("append").parquet(landing)


def _served(spark, path, emb, queries):
    return {
        tuple(r)
        for r in stored_ivfpq_topk(
            spark, path, emb, queries, k=10, nprobe=3
        ).collect()
    }


def test_streaming_ann_ingest_serves_and_resumes(spark, emb, workdir):
    landing = str(workdir / "landing")
    index = str(workdir / "index")
    ckpt = str(workdir / "ckpt")
    coarse, books = ivfpq_train(emb, n_cells=10, m=8, k=16, iterations=2)
    init_streamed_ivfpq_index(None, coarse, books, index)  # empty start

    _land(emb, landing, 0, 300)
    run_streaming_ann_ingest(
        spark, landing, index, ckpt, VEC_SCHEMA
    ).awaitTermination()
    ids = sorted(r.id for r in spark.read.parquet(index).select("id").collect())
    assert ids == list(range(300))

    # resume from the same checkpoint: only the new file is processed
    _land(emb, landing, 300, 500)
    run_streaming_ann_ingest(
        spark, landing, index, ckpt, VEC_SCHEMA
    ).awaitTermination()
    ids = sorted(r.id for r in spark.read.parquet(index).select("id").collect())
    assert ids == list(range(500))

    queries = emb.filter(F.col("vec_id") < 5)
    want = {
        tuple(r)
        for r in ivfpq_topk_rerank(
            ivfpq_encode(emb, coarse, books), coarse, books, emb, queries,
            k=10, nprobe=3, n_candidates=50,
        ).collect()
    }
    assert _served(spark, index, emb, queries) == want and want


def test_streamed_epoch_replay_is_idempotent(spark, emb, workdir):
    index = str(workdir / "index")
    coarse, books = ivfpq_train(emb, n_cells=10, m=8, k=16, iterations=2)
    init_streamed_ivfpq_index(
        ivfpq_encode(emb.filter(F.col("vec_id") < 300), coarse, books),
        coarse, books, index,
    )
    batch = emb.filter(F.col("vec_id") >= 300)
    append_streamed_ivfpq(spark, batch, index, epoch_tag="run1-0")
    queries = emb.filter(F.col("vec_id") < 5)
    before = _served(spark, index, emb, queries)
    # replay: Structured Streaming re-delivers the SAME epoch after a
    # crash — the dynamic overwrite must rewrite, not duplicate
    append_streamed_ivfpq(spark, batch, index, epoch_tag="run1-0")
    ids = [r.id for r in spark.read.parquet(index).select("id").collect()]
    assert len(ids) == len(set(ids)) == 500
    assert _served(spark, index, emb, queries) == before


def test_streamed_consolidation_bounds_epoch_dirs(spark, emb, workdir):
    index = str(workdir / "index")
    coarse, books = ivfpq_train(emb, n_cells=10, m=8, k=16, iterations=2)
    init_streamed_ivfpq_index(None, coarse, books, index)
    for i in range(6):
        append_streamed_ivfpq(
            spark,
            emb.filter(
                (F.col("vec_id") >= 80 * i) & (F.col("vec_id") < 80 * (i + 1))
            ),
            index,
            epoch_tag=f"run1-{i}",
        )
    queries = emb.filter(F.col("vec_id") < 5)
    before = _served(spark, index, emb, queries)

    def epoch_dirs():
        return sorted(
            p.name for p in Path(index).iterdir() if p.name.startswith("_epoch=")
        )

    assert len(epoch_dirs()) == 6
    stats = compact_streamed_ivfpq_index(spark, index, keep_last=2)
    assert stats["epochs_merged"] == 4
    dirs = epoch_dirs()
    assert len(dirs) == 3 and dirs[0] == "_epoch=__seg_000000"
    ids = [r.id for r in spark.read.parquet(index).select("id").collect()]
    assert len(ids) == len(set(ids)) == 480  # 6 epochs x 80, no copies
    assert _served(spark, index, emb, queries) == before
    # a later tick folds the previous segment + aged epochs again
    append_streamed_ivfpq(
        spark, emb.filter(F.col("vec_id") >= 480), index, epoch_tag="run1-6"
    )
    stats = compact_streamed_ivfpq_index(spark, index, keep_last=1)
    assert stats["epochs_merged"] == 3  # seg + 2 aged epochs
    ids = [r.id for r in spark.read.parquet(index).select("id").collect()]
    assert len(ids) == len(set(ids)) == 500


def test_streamed_layout_still_prunes_on_cell(spark, emb, workdir):
    """Serving must prune unprobed cells through the two-level
    _epoch/cell layout exactly like the single-level stored index —
    PartitionFilters on `cell` name strictly fewer cells than exist."""
    import re

    index = str(workdir / "index")
    coarse, books = ivfpq_train(emb, n_cells=10, m=8, k=16, iterations=2)
    init_streamed_ivfpq_index(None, coarse, books, index)
    for i in range(2):
        append_streamed_ivfpq(
            spark,
            emb.filter(
                (F.col("vec_id") >= 250 * i) & (F.col("vec_id") < 250 * (i + 1))
            ),
            index,
            epoch_tag=f"run1-{i}",
        )
    queries = emb.filter(F.col("vec_id") < 5)
    stored = stored_ivfpq_topk(spark, index, emb, queries, k=10, nprobe=1)
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    in_list = re.search(r"IN \(([^)]*)\)", pf)
    assert in_list, f"no IN partition filter: {pf}"
    assert len({c.strip() for c in in_list.group(1).split(",")}) <= 5 < 10
    assert len(stored.collect()) == 50


def test_consolidation_keeps_newest_epochs_by_mtime_not_name(spark, emb, workdir):
    """Epoch tags are '{run}-{epoch}' — random run ids, unpadded numbers —
    so NAME order is unrelated to recency. keep_last must protect the
    newest epochs by data mtime: folding a still-in-the-replay-window
    epoch would let its replay re-append rows the segment already holds."""
    index = str(workdir / "index")
    coarse, books = ivfpq_train(emb, n_cells=10, m=8, k=16, iterations=2)
    init_streamed_ivfpq_index(None, coarse, books, index)
    # write order = recency order; names sort the OTHER way round
    for i, tag in enumerate(("z-0", "y-1", "a-2")):
        append_streamed_ivfpq(
            spark,
            emb.filter(
                (F.col("vec_id") >= 150 * i) & (F.col("vec_id") < 150 * (i + 1))
            ),
            index,
            epoch_tag=tag,
        )
    stats = compact_streamed_ivfpq_index(spark, index, keep_last=1)
    assert stats["epochs_merged"] == 2  # z-0 and y-1, never a-2
    dirs = {p.name for p in Path(index).iterdir() if p.name.startswith("_epoch=")}
    assert "_epoch=a-2" in dirs and "_epoch=z-0" not in dirs
    # the protected epoch replays (the exact case keep_last exists for)
    append_streamed_ivfpq(
        spark,
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 450)),
        index,
        epoch_tag="a-2",
    )
    ids = [r.id for r in spark.read.parquet(index).select("id").collect()]
    assert len(ids) == len(set(ids)) == 450


def test_empty_initialized_index_serves_empty(spark, emb, workdir):
    """The add-forever deploy window: an initialized index with no epoch
    committed yet must serve an empty result, not fail schema inference."""
    index = str(workdir / "index")
    coarse, books = ivfpq_train(emb, n_cells=10, m=8, k=16, iterations=2)
    init_streamed_ivfpq_index(None, coarse, books, index)
    out = stored_ivfpq_topk(
        spark, index, emb, emb.filter(F.col("vec_id") < 5), k=10, nprobe=2
    )
    assert out.collect() == []


def test_duplicate_id_rows_do_not_crowd_topk(spark, emb, workdir):
    """A crashed consolidation tick (write-then-delete window) or a
    re-landed batch can leave the same vec_id in two _epoch dirs; serving
    must not return the same neighbor twice or crowd legitimate neighbors
    out of the top-k — result stays identical to the duplicate-free
    index's."""
    index = str(workdir / "idx")
    sample = emb.filter(F.col("vec_id") < 400)
    coarse, books = ivfpq_train(sample, n_cells=4, m=8, k=8, iterations=2)
    init_streamed_ivfpq_index(
        ivfpq_encode(sample, coarse, books), coarse, books, index
    )
    queries = emb.filter(F.col("vec_id") < 5)
    clean = _served(spark, index, sample, queries)
    # the same rows land again under a second epoch -> duplicate ids
    append_streamed_ivfpq(spark, sample, index, epoch_tag="dup-1")
    rows = stored_ivfpq_topk(
        spark, index, sample, queries, k=10, nprobe=3
    ).collect()
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append((r["n_id"], r["rank"]))
    for q, pairs in per_q.items():
        n_ids = [n for n, _ in pairs]
        assert len(set(n_ids)) == len(n_ids), f"duplicate neighbor for q={q}"
        assert sorted(rk for _, rk in pairs) == list(range(1, len(pairs) + 1))
    assert {tuple(r) for r in rows} == clean


def test_consolidation_with_only_fileless_dirs_deletes_them(spark, emb, workdir):
    """Crashed epochs that created their directory but committed no file
    must be garbage-collected by the tick, not crash schema inference."""
    index = str(workdir / "idx")
    coarse, books = ivfpq_train(
        emb.filter(F.col("vec_id") < 200), n_cells=4, m=8, k=8, iterations=2
    )
    init_streamed_ivfpq_index(None, coarse, books, index)
    (Path(index) / "_epoch=dead-1" / "cell=0").mkdir(parents=True)
    (Path(index) / "_epoch=dead-2").mkdir(parents=True)
    stats = compact_streamed_ivfpq_index(spark, index, keep_last=0)
    assert stats == {"epochs_merged": 2, "rows_merged": 0}
    assert not [
        p for p in Path(index).iterdir() if p.name.startswith("_epoch=")
    ]
    out = stored_ivfpq_topk(
        spark, index, emb, emb.filter(F.col("vec_id") < 3), k=5, nprobe=2
    )
    assert out.collect() == []


def test_consolidation_skips_fileless_dirs_in_merge_read(spark, emb, workdir):
    """A file-less epoch dir among real ones is deleted but never fed to
    the merge read (it holds no rows); serving is unchanged by the tick."""
    index = str(workdir / "idx")
    sample = emb.filter(F.col("vec_id") < 200)
    coarse, books = ivfpq_train(sample, n_cells=4, m=8, k=8, iterations=2)
    init_streamed_ivfpq_index(None, coarse, books, index)
    append_streamed_ivfpq(spark, sample, index, epoch_tag="e1")
    (Path(index) / "_epoch=dead-1").mkdir(parents=True)
    queries = emb.filter(F.col("vec_id") < 5)
    before = _served(spark, index, sample, queries)
    stats = compact_streamed_ivfpq_index(spark, index, keep_last=0)
    assert stats["epochs_merged"] == 2
    assert stats["rows_merged"] == sample.count()
    assert _served(spark, index, sample, queries) == before


def test_delete_and_vacuum_streamed_layout(spark, emb, workdir):
    """Tombstones + vacuum on the stream-managed two-level layout:
    affected (_epoch, cell) pairs are rewritten in place, a pair whose
    every row was deleted has its directory removed (survivor-less
    partitions never ride the dynamic overwrite), and serving equals a
    from-scratch index over the surviving vectors."""
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        delete_from_stored_index,
        vacuum_index_tombstones,
    )

    index = str(workdir / "idx")
    sample = emb.filter(F.col("vec_id") < 400)
    coarse, books = ivfpq_train(sample, n_cells=4, m=8, k=8, iterations=2)
    init_streamed_ivfpq_index(None, coarse, books, index)
    append_streamed_ivfpq(
        spark, sample.filter(F.col("vec_id") < 200), index, epoch_tag="e1"
    )
    append_streamed_ivfpq(
        spark, sample.filter(F.col("vec_id") >= 200), index, epoch_tag="e2"
    )
    queries = sample.filter(F.col("vec_id") < 5)
    served = _served(spark, index, sample, queries)
    victims = sorted({r[1] for r in served} - {0, 1, 2, 3, 4})[:2]
    # plus: wipe epoch e2 entirely -> every (e2, cell) pair loses all rows
    wipe = [r["vec_id"] for r in sample.filter(F.col("vec_id") >= 200).collect()]
    delete_from_stored_index(spark, victims + wipe, index)
    survivors = sample.filter(
        (F.col("vec_id") < 200) & ~F.col("vec_id").isin(victims)
    )
    after = _served(spark, index, survivors, queries)
    assert not {r[1] for r in after} & set(victims + wipe)
    stats = vacuum_index_tombstones(spark, index)
    assert stats["rows_removed"] == len(victims) + len(wipe)
    # e2's directories are gone wholesale (no survivors to overwrite them)
    dirs = {p.name for p in Path(index).iterdir() if p.name.startswith("_epoch=")}
    assert "_epoch=e2" not in dirs and "_epoch=e1" in dirs
    # physical rows match the surviving set exactly, serving unchanged
    left = {r["id"] for r in spark.read.parquet(index).select("id").collect()}
    assert left == {r["vec_id"] for r in survivors.collect()}
    assert _served(spark, index, survivors, queries) == after


def test_streamed_epoch_drops_tombstoned_ids(spark, emb, workdir):
    """A replayed epoch containing ids deleted AFTER ingestion must not
    wedge the stream: the streamed append AUTO-DROPS tombstoned ids
    (observation-identical — serving already hides them) instead of
    refusing like the batch append paths, and the dropped rows never
    land physically in the rewritten epoch."""
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        delete_from_stored_index,
    )

    index = str(workdir / "idx")
    sample = emb.filter(F.col("vec_id") < 200)
    coarse, books = ivfpq_train(sample, n_cells=4, m=8, k=8, iterations=2)
    init_streamed_ivfpq_index(None, coarse, books, index)
    append_streamed_ivfpq(spark, sample, index, epoch_tag="e1")
    queries = sample.filter(F.col("vec_id") < 5)
    served = _served(spark, index, sample, queries)
    victims = sorted({r[1] for r in served} - {0, 1, 2, 3, 4})[:2]
    delete_from_stored_index(spark, victims, index)
    # crash-recovery replay of e1: succeeds, and the tombstoned ids are
    # screened out of the rewritten partitions
    append_streamed_ivfpq(spark, sample, index, epoch_tag="e1")
    survivors = sample.filter(~F.col("vec_id").isin(victims))
    after = _served(spark, index, survivors, queries)
    assert not {r[1] for r in after} & set(victims)
    # dropped physically too: every victim's cell holds ~50 other rows,
    # so the dynamic overwrite rewrote it without the victim (a cell
    # whose ONLY rows were victims would keep its old file until vacuum
    # — the tombstone anti-join covers that window; not this corpus)
    replayed = {
        r["id"] for r in spark.read.parquet(index).select("id").collect()
    }
    assert not replayed & set(victims)


def test_full_streamed_lifecycle_under_the_writer_lease(
    spark, emb, workdir, monkeypatch
):
    """Drive the WHOLE streamed path — ingest wave, kill-and-resume wave,
    consolidation, hinted delete, vacuum — counting every lease the
    writers acquire through the lease's one acquire point
    (``fsio.create_new`` on ``_maintenance.lock``): acquisition must work
    end-to-end, releases must leave no lock behind, and the final content
    must equal the surviving vectors."""
    from endtoend_etl_openmeteo_spark import fsio
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        delete_from_stored_index,
        vacuum_index_tombstones,
    )
    from endtoend_etl_openmeteo_spark.operators.similarity import (
        ivf_cells_for_vectors,
    )

    acquisitions = []
    real_create_new = fsio.create_new

    def counting_create_new(spark_, path, payload):
        won = real_create_new(spark_, path, payload)
        if won and str(path).endswith("/_maintenance.lock"):
            acquisitions.append(payload.decode().split(":", 1)[0])
        return won

    landing = str(workdir / "landing")
    index = str(workdir / "index")
    ckpt = str(workdir / "ckpt")
    coarse, books = ivfpq_train(emb, n_cells=6, m=8, k=16, iterations=2)
    init_streamed_ivfpq_index(None, coarse, books, index)

    monkeypatch.setattr(fsio, "create_new", counting_create_new)
    _land(emb, landing, 0, 300)
    run_streaming_ann_ingest(
        spark, landing, index, ckpt, VEC_SCHEMA
    ).awaitTermination()
    # kill-and-resume: same checkpoint, only the new file processed
    _land(emb, landing, 300, 500)
    run_streaming_ann_ingest(
        spark, landing, index, ckpt, VEC_SCHEMA
    ).awaitTermination()
    ids = sorted(r.id for r in spark.read.parquet(index).select("id").collect())
    assert ids == list(range(500))
    compact_streamed_ivfpq_index(spark, index, keep_last=1)
    # hinted delete + vacuum under the lease
    vic = emb.filter(F.col("vec_id") < 7)
    hints = ivf_cells_for_vectors(spark, index, vic)
    delete_from_stored_index(spark, hints, index)
    stats = vacuum_index_tombstones(spark, index)
    assert stats["rows_removed"] == 7
    left = sorted(r.id for r in spark.read.parquet(index).select("id").collect())
    assert left == list(range(7, 500))
    # every maintenance stage acquired the lease, and no lock file is
    # left behind
    assert len(acquisitions) >= 4, acquisitions
    assert not (Path(index) / "_maintenance.lock").exists()
