"""Inverted-index build + BM25 retrieval (operators/search.py).

Semantics pinned on a hand-built corpus where the right ranking is
obvious by inspection; the cross-engine hash check lives in
q_inverted_index / q_bm25_search oracles.
"""

import math

from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.operators.search import (
    bm25_topk,
    corpus_stats,
    inverted_index,
)

DOCS = [
    (1, "spark spark spark join"),  # heavy on 'spark'
    (2, "join window batch spark"),  # all four query terms once
    (3, "window window window window window window window window"),  # long, off-topic-ish
    (4, "nothing relevant here at all"),  # no query terms
]
TERMS = ("spark", "join", "window", "batch")


def _corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_inverted_index_postings(spark):
    idx = inverted_index(_corpus(spark))
    rows = {(r["term"], r["doc_id"]): (r["tf"], r["dl"]) for r in idx.collect()}
    assert rows[("spark", 1)] == (3, 4)
    assert rows[("join", 1)] == (1, 4)
    assert rows[("window", 3)] == (8, 8)
    # one row per DISTINCT (term, doc): doc 1 contributes exactly 2 postings
    assert sum(1 for (_, d) in rows if d == 1) == 2
    # dl counts occurrences, not distinct terms
    assert rows[("nothing", 4)][1] == 5


def test_corpus_stats(spark):
    n, avgdl = corpus_stats(_corpus(spark))
    assert n == 4
    assert avgdl == round((4 + 4 + 8 + 5) / 4, 6)


def test_bm25_ranking_and_coverage(spark):
    docs = _corpus(spark)
    n, avgdl = corpus_stats(docs)
    out = bm25_topk(inverted_index(docs), TERMS, n, avgdl, k=10).collect()
    ranked = [r["doc_id"] for r in out]
    # doc 4 has no query term -> absent entirely
    assert 4 not in ranked
    # doc 2 covers all four terms (three of them rare, df=2) and beats the
    # single-term docs; ordering is deterministic
    assert ranked[0] == 2
    assert set(ranked) == {1, 2, 3}
    # scores strictly ordered desc (no unstable ties in this corpus)
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_bm25_matches_reference_formula(spark):
    docs = _corpus(spark)
    n, avgdl = corpus_stats(docs)
    out = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(inverted_index(docs), TERMS, n, avgdl, k=10).collect()
    }
    # pure-Python replication for doc 1: spark tf=3 df=2, join tf=1 df=2
    def idf(df):
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def contrib(tf, df, dl):
        return idf(df) * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))

    expect = round(contrib(3, 2, 4) + contrib(1, 2, 4), 6)
    assert abs(out[1] - expect) <= 1e-6


def test_bm25_absent_terms_are_inert(spark):
    docs = _corpus(spark)
    n, avgdl = corpus_stats(docs)
    idx = inverted_index(docs)
    with_ghost = bm25_topk(idx, TERMS + ("zzzznope",), n, avgdl, k=10).collect()
    plain = bm25_topk(idx, TERMS, n, avgdl, k=10).collect()
    assert [tuple(r) for r in with_ghost] == [tuple(r) for r in plain]


def test_index_filter_prunes_before_scan(spark):
    # the serving path's `term IN (...)` must reach the posting scan as a
    # filter (on a stored term-partitioned index this is partition pruning)
    idx = inverted_index(_corpus(spark)).filter(F.col("term").isin(["spark"]))
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "spark" in plan and "Filter" in plan


def test_stored_index_round_trip_matches_inplan_build(spark, tmp_path):
    from endtoend_etl_openmeteo_spark.operators.search import (
        read_index_stats,
        stored_bm25_topk,
        write_inverted_index,
    )

    docs = _corpus(spark)
    path = str(tmp_path / "postings")
    n, avgdl = write_inverted_index(docs, path, n_buckets=8)
    assert read_index_stats(spark, path) == {
        "n_docs": n,
        "avgdl": avgdl,
        "n_buckets": 8,
        "total_tokens": 21,  # exact integer total for the append path
        "n_text_docs": n,  # avgdl denominator; == n_docs when no NULL text
    }
    stored = stored_bm25_topk(spark, path, TERMS, k=10).collect()
    inplan = bm25_topk(inverted_index(docs), TERMS, n, avgdl, k=10).collect()
    assert [tuple(r) for r in stored] == [tuple(r) for r in inplan]


def test_stored_index_scan_prunes_term_buckets(spark, tmp_path):
    """The stored-index serving claim (round-5 verdict gap): the scan must
    carry a PARTITION filter on bkt — only the query terms' bucket
    directories are listed/read — plus the pushed term IN residual. Pinned
    the way test_layout_sql_http.py pins footer-stats skipping."""
    from endtoend_etl_openmeteo_spark.operators.search import (
        _query_term_buckets,
        stored_postings,
        write_inverted_index,
    )

    # a corpus wide enough that the 4 query terms cannot touch all buckets
    rows = [(i, f"term{i} filler{i} spark join") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "postings")
    write_inverted_index(docs, path, n_buckets=32)

    post = stored_postings(spark, path, ["spark", "join"])
    plan = post._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bkt" in plan.split("PartitionFilters")[1][:200]
    assert "PushedFilters" in plan and "term" in plan.split("PushedFilters")[1][:200]

    # the scan reads ONLY the matching bucket directories
    bkts = _query_term_buckets(spark, ["spark", "join"], 32)
    assert len(bkts) <= 2
    files = {r[0] for r in post.select(F.input_file_name()).distinct().collect()}
    assert files, "postings for the query terms must exist"
    assert all(any(f"bkt={b}/" in f for b in bkts) for f in files)
    # and the postings content is exactly the two terms'
    assert set(r["term"] for r in post.collect()) == {"spark", "join"}


def test_append_inverted_index_equals_full_rebuild(spark, tmp_path):
    """Incremental maintenance contract: N appends serve bit-for-bit what
    one full build over the union serves — postings identical, sidecar
    stats re-derived from exact integer totals (not compounded rounded
    doubles)."""
    from endtoend_etl_openmeteo_spark.operators.search import (
        append_inverted_index,
        read_index_stats,
        stored_bm25_topk,
        write_inverted_index,
    )

    extra = [
        (5, "spark window shuffle exchange partition"),
        (6, "batch join join spark window"),
    ]
    full = spark.createDataFrame(DOCS + extra, "doc_id long, text string")
    base = _corpus(spark)
    batch = spark.createDataFrame(extra, "doc_id long, text string")

    inc_path, full_path = str(tmp_path / "inc"), str(tmp_path / "full")
    write_inverted_index(base, inc_path)
    n_docs, avgdl = append_inverted_index(batch, inc_path)
    write_inverted_index(full, full_path)

    s_inc, s_full = read_index_stats(spark, inc_path), read_index_stats(spark, full_path)
    assert (n_docs, avgdl) == (s_full["n_docs"], s_full["avgdl"])
    assert s_inc == s_full  # including the exact integer token total

    got = sorted(
        tuple(r) for r in stored_bm25_topk(spark, inc_path, TERMS, k=10).collect()
    )
    want = sorted(
        tuple(r) for r in stored_bm25_topk(spark, full_path, TERMS, k=10).collect()
    )
    assert got == want and len(got) >= 5


def test_append_refuses_legacy_sidecar(spark, tmp_path):
    import json

    from endtoend_etl_openmeteo_spark import fsio
    from endtoend_etl_openmeteo_spark.operators.search import (
        _stats_path,
        append_inverted_index,
        write_inverted_index,
    )

    path = str(tmp_path / "legacy")
    write_inverted_index(_corpus(spark), path)
    # simulate a pre-total_tokens index
    fsio.write_bytes(
        spark,
        _stats_path(path),
        json.dumps({"n_docs": 4, "avgdl": 5.25, "n_buckets": 64}).encode(),
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="total_tokens"):
        append_inverted_index(_corpus(spark), path)


def test_null_text_docs_share_oracle_avgdl_convention(spark, tmp_path):
    """NULL-text docs count in n_docs (BM25's N) but are EXCLUDED from
    avgdl — the convention corpus_stats and the DuckDB oracles use
    (avg skips NULLs). Pinned end-to-end: build + append with NULL text
    stays bit-for-bit equal to a full rebuild."""
    from endtoend_etl_openmeteo_spark.operators.search import (
        append_inverted_index,
        read_index_stats,
        write_inverted_index,
    )

    with_null = DOCS + [(7, None)]
    base = spark.createDataFrame(with_null, "doc_id long, text string")
    path = str(tmp_path / "nulls")
    n, avgdl = write_inverted_index(base, path, n_buckets=8)
    assert n == 5  # NULL doc is a corpus member
    assert avgdl == round((4 + 4 + 8 + 5) / 4, 6)  # but not in avgdl
    stats = read_index_stats(spark, path)
    assert stats["n_text_docs"] == 4 and stats["total_tokens"] == 21

    # append a batch that itself carries a NULL-text doc
    extra = [(8, "spark join"), (9, None)]
    batch = spark.createDataFrame(extra, "doc_id long, text string")
    n2, avgdl2 = append_inverted_index(batch, path)
    full_path = str(tmp_path / "full")
    full = spark.createDataFrame(with_null + extra, "doc_id long, text string")
    n3, avgdl3 = write_inverted_index(full, full_path, n_buckets=8)
    assert (n2, avgdl2) == (n3, avgdl3)
    assert read_index_stats(spark, path) == read_index_stats(spark, full_path)


def test_compact_inverted_index_bounds_files_and_preserves_serving(spark, tmp_path):
    """Append-accreted posting files inside term buckets get compacted
    without changing a single served score; the stats sidecar and the
    tidy buckets' files are untouched."""
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        partition_file_counts,
    )
    from endtoend_etl_openmeteo_spark.operators.search import (
        append_inverted_index,
        compact_inverted_index,
        read_index_stats,
        stored_bm25_topk,
        write_inverted_index,
    )

    path = str(tmp_path / "postings")
    write_inverted_index(_corpus(spark), path, n_buckets=4)
    for m in range(5):  # 5 append batches over the same term space
        batch = spark.createDataFrame(
            [(100 + m, f"spark join window batch extra{m}")],
            "doc_id long, text string",
        )
        append_inverted_index(batch, path)

    before = partition_file_counts(spark, path, "bkt")
    assert max(before.values()) > 3
    served_before = sorted(
        tuple(r) for r in stored_bm25_topk(spark, path, TERMS, k=20).collect()
    )
    stats_before = read_index_stats(spark, path)

    res = compact_inverted_index(spark, path, max_files_per_bucket=3)
    assert res["partitions_compacted"] >= 1 and res["files_after"] < res["files_before"]
    after = partition_file_counts(spark, path, "bkt")
    assert max(after.values()) <= 3
    assert read_index_stats(spark, path) == stats_before
    served_after = sorted(
        tuple(r) for r in stored_bm25_topk(spark, path, TERMS, k=20).collect()
    )
    assert served_after == served_before and len(served_after) >= 5


def test_corpus_stats_empty_and_null_text_corpora(spark):
    """An empty corpus or one where every text is NULL must read as
    avgdl 0.0 (the _full_stats convention), never a TypeError off the
    NULL average."""
    empty = _corpus(spark).filter("doc_id < 0")
    assert corpus_stats(empty) == (0, 0.0)
    nulls = spark.createDataFrame([(1, None), (2, None)], "doc_id long, text string")
    assert corpus_stats(nulls) == (2, 0.0)


def test_append_refuses_leftover_pending_marker_and_rebuild_clears_it(
    spark, tmp_path
):
    """Crash detection (not silence): a leftover _append_pending marker
    means a prior append died between its postings write and its stats
    commit — the next append must refuse (re-appending would
    double-count), and the prescribed write_inverted_index rebuild must
    clear the marker and restore exact serving."""
    import json
    from pathlib import Path

    import pytest

    from endtoend_etl_openmeteo_spark.operators.search import (
        append_inverted_index,
        read_index_stats,
        stored_bm25_topk,
        write_inverted_index,
    )

    path = str(tmp_path / "bm25")
    write_inverted_index(_corpus(spark), path, n_buckets=4)
    # simulate the crash window
    (Path(path) / "_append_pending.json").write_text(json.dumps({"b_docs": 1}))
    batch = spark.createDataFrame([(9, "spark stream")], "doc_id long, text string")
    with pytest.raises(RuntimeError, match="_append_pending"):
        append_inverted_index(batch, path)
    # rebuild = recovery: marker gone, appends work again, marker cleaned
    write_inverted_index(_corpus(spark), path, n_buckets=4)
    assert not (Path(path) / "_append_pending.json").exists()
    append_inverted_index(batch, path)
    assert not (Path(path) / "_append_pending.json").exists()
    assert read_index_stats(spark, path)["n_docs"] == 5
    got = {r["doc_id"] for r in stored_bm25_topk(spark, path, ("spark",), k=5).collect()}
    assert got == {1, 2, 9}


def test_rebuild_takes_lease_and_replaces_layout_exactly(spark, tmp_path):
    """write_inverted_index serializes with other writers (a rebuild
    racing an append would delete its fresh postings) and must fully
    replace the prior layout — including stale postings written under a
    different bucket count — while the lock itself survives the clear."""
    import pytest

    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        LeaseConflictError,
        index_lease,
    )
    from endtoend_etl_openmeteo_spark.operators.search import (
        read_index_stats,
        stored_bm25_topk,
        write_inverted_index,
    )

    path = str(tmp_path / "bm25")
    write_inverted_index(_corpus(spark), path, n_buckets=8)
    with index_lease(spark, path, owner="other"):
        with pytest.raises(LeaseConflictError):
            write_inverted_index(_corpus(spark), path, n_buckets=4)
    # rebuild with a DIFFERENT bucket count: stale bkt= dirs must not survive
    smaller = _corpus(spark).filter("doc_id <= 2")
    write_inverted_index(smaller, path, n_buckets=4)
    stats = read_index_stats(spark, path)
    assert stats["n_docs"] == 2 and stats["n_buckets"] == 4
    got = {r["doc_id"] for r in stored_bm25_topk(spark, path, ("spark",), k=5).collect()}
    assert got == {1, 2}


def test_delete_reverses_stats_and_matches_survivor_rebuild(spark, tmp_path):
    """BM25 deletion via tombstones: served scores after a delete are
    bit-for-bit the fresh survivor-index result (postings hidden by the
    anti-join shrink per-term df exactly; the stats sidecar reverses the
    batch's exact integer totals with rebuild-identical rounding), and
    the layout-generic vacuum physically removes the postings without
    changing serving."""
    from pathlib import Path

    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        vacuum_index_tombstones,
    )
    from endtoend_etl_openmeteo_spark.operators.search import (
        delete_from_inverted_index,
        read_index_stats,
        stored_bm25_topk,
        write_inverted_index,
    )

    path = str(tmp_path / "bm25")
    write_inverted_index(_corpus(spark), path, n_buckets=4)
    victim = _corpus(spark).filter("doc_id = 3")  # the 'window' doc
    n_docs, avgdl = delete_from_inverted_index(victim, path)
    assert n_docs == 3
    served = [
        tuple(r) for r in stored_bm25_topk(spark, path, TERMS, k=5).collect()
    ]
    assert 3 not in {r[0] for r in served}
    # bit-for-bit equality with a fresh index over the survivors
    ref = str(tmp_path / "bm25_ref")
    write_inverted_index(
        _corpus(spark).filter("doc_id != 3"), ref, n_buckets=4
    )
    assert served == [
        tuple(r) for r in stored_bm25_topk(spark, ref, TERMS, k=5).collect()
    ]
    want = read_index_stats(spark, ref)
    got = read_index_stats(spark, path)
    assert got == want
    # layout-generic vacuum: postings physically gone, serving unchanged
    stats = vacuum_index_tombstones(spark, path, id_col="doc_id")
    assert stats["rows_removed"] > 0
    assert not (Path(path) / "_tombstones").exists()
    assert (
        spark.read.parquet(path).filter("doc_id = 3").count() == 0
    )
    assert served == [
        tuple(r) for r in stored_bm25_topk(spark, path, TERMS, k=5).collect()
    ]


def test_append_refuses_tombstoned_doc_until_vacuum(spark, tmp_path):
    """Re-ingesting a deleted doc id is REFUSED while its tombstone is
    live (the serve-time anti-join would silently hide the new postings),
    and serves correctly once a vacuum clears the sidecar — the silent
    serving gap turned into an explicit error."""
    import pytest

    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        TombstonedIdError,
        vacuum_index_tombstones,
    )
    from endtoend_etl_openmeteo_spark.operators.search import (
        append_inverted_index,
        delete_from_inverted_index,
        read_index_stats,
        stored_bm25_topk,
        write_inverted_index,
    )

    path = str(tmp_path / "bm25")
    write_inverted_index(_corpus(spark), path, n_buckets=4)
    victim = _corpus(spark).filter("doc_id = 3")
    delete_from_inverted_index(victim, path)
    with pytest.raises(TombstonedIdError):
        append_inverted_index(victim, path)
    # the refused append must leave no half-applied state behind: stats
    # unchanged, no crash marker, serving still hides the doc
    assert read_index_stats(spark, path)["n_docs"] == 3
    assert 3 not in {
        r["doc_id"] for r in stored_bm25_topk(spark, path, TERMS, k=5).collect()
    }
    vacuum_index_tombstones(spark, path, id_col="doc_id")
    append_inverted_index(victim, path)
    served = [
        tuple(r) for r in stored_bm25_topk(spark, path, TERMS, k=5).collect()
    ]
    assert 3 in {r[0] for r in served}
    # bit-for-bit the fresh full-corpus index after the round trip
    ref = str(tmp_path / "bm25_ref")
    write_inverted_index(_corpus(spark), ref, n_buckets=4)
    assert served == [
        tuple(r) for r in stored_bm25_topk(spark, ref, TERMS, k=5).collect()
    ]
    assert read_index_stats(spark, path) == read_index_stats(spark, ref)


def test_bm25_delete_records_bucket_hints(spark, tmp_path):
    """The BM25 delete computes its doc's term buckets (the text is in
    hand) and records them as partition hints, so the vacuum tick prunes
    its discovery scan to exactly the touched ``bkt=`` directories. A
    posting-less (NULL-text) doc writes a BARE tombstone — harmless for
    a genuinely posting-less doc, but it makes vacuum's full-scan
    fallback catch a text-mismatched (out-of-contract) delete instead
    of leaving the doc's real postings serving forever."""
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        _read_tombstones,
        vacuum_index_tombstones,
    )
    from endtoend_etl_openmeteo_spark.operators.search import (
        _term_bucket,
        delete_from_inverted_index,
        inverted_index,
        read_index_stats,
        write_inverted_index,
    )

    docs = spark.createDataFrame(
        DOCS + [(9, None)], "doc_id long, text string"
    )
    path = str(tmp_path / "bm25")
    write_inverted_index(docs, path, n_buckets=4)
    victim = docs.filter("doc_id = 1")
    delete_from_inverted_index(victim, path)
    tomb = _read_tombstones(spark, path, id_col="doc_id").collect()
    want = {
        f"bkt={r[0]}"
        for r in inverted_index(victim)
        .select(_term_bucket(F.col("term"), 4))
        .distinct()
        .collect()
    }
    assert {r["part"] for r in tomb} == want
    assert {r["doc_id"] for r in tomb} == {1}
    stats = vacuum_index_tombstones(spark, path, id_col="doc_id")
    assert stats["rows_removed"] == 2  # doc 1 posts 'spark' and 'join'
    assert spark.read.parquet(path).filter("doc_id = 1").count() == 0
    # NULL-text doc: a bare (hint-less) tombstone, stats reverse exactly
    before = read_index_stats(spark, path)
    delete_from_inverted_index(docs.filter("doc_id = 9"), path)
    tomb = _read_tombstones(spark, path, id_col="doc_id").collect()
    assert [(r["doc_id"], r["part"]) for r in tomb] == [(9, None)]
    got = read_index_stats(spark, path)
    assert got["n_docs"] == before["n_docs"] - 1
    assert got["total_tokens"] == before["total_tokens"]
    stats = vacuum_index_tombstones(spark, path, id_col="doc_id")
    assert stats == {
        "tombstones": 1, "rows_removed": 0, "partitions_rewritten": 0,
    }


def test_serving_surfaces_crashed_append_marker(spark, tmp_path):
    """A leftover ``_append_pending`` marker (append/delete crashed
    between data write and stats commit) surfaces AT QUERY TIME: the
    stats dict carries ``append_pending`` and serving still answers —
    drifted scores are flagged, not hidden until the next write."""
    from endtoend_etl_openmeteo_spark import fsio
    from endtoend_etl_openmeteo_spark.operators.search import (
        _pending_path,
        read_index_stats,
        stored_bm25_topk,
        write_inverted_index,
    )

    path = str(tmp_path / "bm25")
    write_inverted_index(_corpus(spark), path, n_buckets=4)
    assert "append_pending" not in read_index_stats(spark, path)
    fsio.write_bytes(spark, _pending_path(path), b"{}")
    # marker + HELD lease = a healthy in-flight append: must NOT flag
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        index_lease,
    )

    with index_lease(spark, path, owner="in_flight_append"):
        assert "append_pending" not in read_index_stats(spark, path)
    # marker + free lease = a crashed write: flag it
    stats = read_index_stats(spark, path)
    assert stats["append_pending"] is True
    assert {
        r["doc_id"] for r in stored_bm25_topk(spark, path, TERMS, k=5).collect()
    } == {1, 2, 3}


def test_index_build_jobs_stay_in_the_callers_job_group(spark, tmp_path):
    """write_inverted_index overlaps its corpus-stats job with the
    postings write; both must carry the caller's job group, so a traced
    query can attribute every job it schedules."""
    from endtoend_etl_openmeteo_spark.operators.search import write_inverted_index

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("bm25-build", "index build")
    try:
        write_inverted_index(_corpus(spark), str(tmp_path / "idx"), n_buckets=4)
    finally:
        sc.setJobGroup(None, None)
    assert tracker.getJobIdsForGroup("bm25-build")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
