"""Checkpoint/cache lifecycle (round-5 verdict item #1).

``localCheckpoint`` pins blocks in the block manager until JVM GC — which
for a long-lived driver is never. These tests pin the round-6 contract:

- iterative operators release every INTERNAL checkpoint before returning
  (at most the blocks backing the returned DataFrame survive a call);
- ``release_persistent_rdds`` drains a session back to zero pinned RDDs
  between units of work (the bench.py / check_oracle.py pattern);
- a soak over a slice of checkpoint-heavy declared queries leaves
  storage empty — the long-running-serving-session scenario.
"""

from __future__ import annotations

import pytest

from endtoend_etl_openmeteo_spark.session import (
    persistent_rdd_ids,
    release_checkpoint,
    release_persistent_rdds,
)

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _clean_slate(spark):
    release_persistent_rdds(spark)
    yield
    release_persistent_rdds(spark)


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_release_checkpoint_targets_one_rdd(spark):
    base = persistent_rdd_ids(spark)
    ck1 = spark.range(100).localCheckpoint(eager=True)
    ck2 = spark.range(200).localCheckpoint(eager=True)
    assert len(persistent_rdd_ids(spark) - base) == 2
    release_checkpoint(ck1)
    assert len(persistent_rdd_ids(spark) - base) == 1
    assert ck2.count() == 200  # the survivor is untouched
    release_checkpoint(ck2)
    assert persistent_rdd_ids(spark) - base == set()


def test_release_checkpoint_is_noop_on_plain_frames(spark):
    df = spark.range(10).selectExpr("id", "id * 2 AS x")
    release_checkpoint(df)  # must not raise
    assert df.count() == 10


def test_dedup_clusters_releases_internals(spark):
    from endtoend_etl_openmeteo_spark.operators.clusters import dedup_clusters

    base = persistent_rdd_ids(spark)
    out = dedup_clusters(_pairs(spark, [(1, 2), (2, 3), (10, 11)]))
    rows = {(r["id"], r["cluster_id"]) for r in out.collect()}
    assert rows == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    # only the returned labels checkpoint may remain pinned
    assert len(persistent_rdd_ids(spark) - base) <= 1
    release_checkpoint(out)
    assert persistent_rdd_ids(spark) - base == set()


def test_pagerank_releases_internals(spark):
    from endtoend_etl_openmeteo_spark.operators.clusters import pagerank

    base = persistent_rdd_ids(spark)
    out = pagerank(_pairs(spark, [(1, 2), (2, 3), (3, 1), (3, 4)]), iterations=7)
    assert out.count() == 4
    assert len(persistent_rdd_ids(spark) - base) <= 1
    release_checkpoint(out)
    assert persistent_rdd_ids(spark) - base == set()


def test_kmeans_releases_input_checkpoint(spark):
    from endtoend_etl_openmeteo_spark.operators.clusters import kmeans

    base = persistent_rdd_ids(spark)
    vecs = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 3) + 1.0]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    assignments, centroids = kmeans(vecs, k=3, iterations=2)
    assert assignments.count() == 30
    assert centroids.count() == 3
    assert len(persistent_rdd_ids(spark) - base) <= 1
    release_checkpoint(assignments)
    assert persistent_rdd_ids(spark) - base == set()


def test_bpe_train_keeps_one_corpus_copy(spark):
    from endtoend_etl_openmeteo_spark.operators.bpe import bpe_train

    base = persistent_rdd_ids(spark)
    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat the cat") for i in range(20)],
        "doc_id long, text string",
    )
    merges, toked = bpe_train(docs, n_merges=4)
    assert merges  # learned at least one rule
    assert toked.count() == 20
    # one live corpus checkpoint (the returned toked), not one per merge
    assert len(persistent_rdd_ids(spark) - base) <= 1
    release_checkpoint(toked)
    assert persistent_rdd_ids(spark) - base == set()


def test_incremental_neardup_releases_signatures(spark, tmp_path):
    from endtoend_etl_openmeteo_spark.operators.dedup import incremental_neardup

    base = persistent_rdd_ids(spark)
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zz yy xx ww")],
        "doc_id long, text string",
    )
    pairs = incremental_neardup(
        spark, batch, str(tmp_path / "idx"), "doc_id", "text", batch_id="b0"
    )
    assert pairs.count() >= 1  # 1-2 are near-identical
    assert len(persistent_rdd_ids(spark) - base) <= 1  # pairs only
    release_checkpoint(pairs)
    assert persistent_rdd_ids(spark) - base == set()


def test_incremental_neardup_releases_everything_when_the_index_append_fails(
    spark, tmp_path, monkeypatch
):
    """The signature checkpoint is pinned for the call and the pairs
    checkpoint is the caller's only on return: a failing index append
    must leave no block of either behind."""
    from pyspark.sql.readwriter import DataFrameWriter

    from endtoend_etl_openmeteo_spark.operators.dedup import incremental_neardup

    idx = str(tmp_path / "idx")
    write_parquet = DataFrameWriter.parquet

    def failing_index_write(self, path, *args, **kwargs):
        if str(path).startswith(idx):
            raise RuntimeError("index volume full")
        return write_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_index_write)
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    base = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="index volume full"):
        incremental_neardup(spark, batch, idx, "doc_id", "text", batch_id="b0")
    assert persistent_rdd_ids(spark) - base == set()


def test_pinned_releases_when_the_body_raises(spark):
    from endtoend_etl_openmeteo_spark.session import pinned

    base = persistent_rdd_ids(spark)
    with pytest.raises(ZeroDivisionError):
        with pinned(spark.range(10)) as ck:
            assert ck.count() == 10
            assert len(persistent_rdd_ids(spark) - base) == 1
            1 / 0
    assert persistent_rdd_ids(spark) - base == set()


def test_overlap_runs_concurrently_and_returns_in_argument_order(spark):
    import threading

    from endtoend_etl_openmeteo_spark.session import overlap

    second_ran = threading.Event()

    def first():
        # finishes LAST: only returns once the second thunk has run, which
        # a serial runner would never reach (the wait times out instead)
        assert second_ran.wait(timeout=30)
        return "first"

    def second():
        second_ran.set()
        return "second"

    assert overlap(first, second) == ["first", "second"]
    assert overlap() == []


def test_overlap_waits_for_every_thunk_then_reraises_the_first_error(spark):
    import threading
    import time

    from endtoend_etl_openmeteo_spark.session import overlap

    second_failed = threading.Event()
    finished = []

    def fails_after_second():
        assert second_failed.wait(timeout=30)
        raise ValueError("first thunk")

    def fails_at_once():
        second_failed.set()
        raise KeyError("second thunk")

    def slow_success():
        assert second_failed.wait(timeout=30)
        time.sleep(0.5)  # still running when both errors are raised
        finished.append("slow")
        return "ok"

    with pytest.raises(ValueError, match="first thunk"):
        overlap(fails_after_second, fails_at_once, slow_success)
    assert finished == ["slow"]


def test_overlap_runs_without_pinned_threads():
    """With PYSPARK_PIN_THREAD=false pyspark has no per-thread properties
    to carry into the threads; overlap still runs its thunks."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "from endtoend_etl_openmeteo_spark.session import get_spark, overlap\n"
        "s = get_spark('unpinned', master='local[1]')\n"
        "print(overlap(lambda: s.range(3).count(), lambda: 2))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        env={**os.environ, "PYSPARK_PIN_THREAD": "false"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[3, 2]"


#: Checkpoint-heavy declared queries — the ones the round-5 verdict saw
#: degrade 14x in-suite. Consume each, release, and the session must come
#: back to zero pinned RDDs: the serving/maintenance-tick longevity claim.
SOAK_QUERIES = [
    "q_kmeans",
    "q_pagerank",
    "q_cc_exact",
    "q_bpe_train",
    "q_time_travel",
    "q_merge_mor",
    "q_scan",
    "q_daily_agg",
    "q_tpch_q15",
    "q_dedup_exact",
]


def test_soak_session_storage_returns_to_zero(spark):
    from endtoend_etl_openmeteo_spark import plans

    registry = plans.load_all()
    base = persistent_rdd_ids(spark)
    for _round in range(3):
        for name in SOAK_QUERIES:
            df = registry[name].fn(spark, SF_SMOKE)
            df.write.format("noop").mode("overwrite").save()
            release_persistent_rdds(spark)
    assert persistent_rdd_ids(spark) - base == set()
