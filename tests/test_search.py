"""Inverted-index build + BM25 retrieval (operators/search.py).

Semantics pinned on a hand-built corpus where the right ranking is
obvious by inspection; the cross-engine hash check lives in
q_inverted_index / q_bm25_search oracles.
"""

import math
from contextlib import contextmanager

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
    # filter (on the stored index it is pushed into the parquet scan)
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
    n, avgdl = write_inverted_index(docs, path)
    assert read_index_stats(spark, path) == {
        "n_docs": n,
        "avgdl": avgdl,
        "total_tokens": 21,  # exact integer total for the append path
        "n_text_docs": n,  # avgdl denominator; == n_docs when no NULL text
    }
    stored = stored_bm25_topk(spark, path, TERMS, k=10).collect()
    inplan = bm25_topk(inverted_index(docs), TERMS, n, avgdl, k=10).collect()
    assert [tuple(r) for r in stored] == [tuple(r) for r in inplan]


@contextmanager
def _uncoalesced(spark):
    """AQE's coalescing off for the duration: a tiny corpus then writes one
    range-clustered file per shuffle partition instead of one file."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def test_stored_index_scan_prunes_term_files(spark, tmp_path):
    """The stored-index serving claim: the scan opens only the files
    whose manifest ``term`` range holds a query term — fewer than all of
    them, and every file that holds one — plus the pushed term IN
    residual. Checked against the files' own parquet footers."""
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    from endtoend_etl_openmeteo_spark.operators.search import (
        stored_postings,
        write_inverted_index,
    )
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_files

    rows = [(i, f"term{i} filler{i} spark join") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "postings")
    with _uncoalesced(spark):
        write_inverted_index(docs, path)

    query = ["spark", "join"]
    post = stored_postings(spark, path, query)
    plan = post._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "term" in plan.split("PushedFilters")[1][:200]

    every = vt_files(spark, path)
    read = {urlparse(f).path for f in post.inputFiles()}

    def holds_query_term(f):
        col = pq.ParquetFile(f).metadata.row_group(0).column(0)
        assert col.path_in_schema == "term"
        return any(col.statistics.min <= t <= col.statistics.max for t in query)

    holding = {f for f in every if holds_query_term(f)}
    assert len(every) > 2 and read == holding and len(read) < len(every)
    # and the postings content is exactly the two terms'
    assert set(r["term"] for r in post.collect()) == {"spark", "join"}


def test_append_inverted_index_equals_full_rebuild(spark, tmp_path):
    """Incremental maintenance contract: N appends serve bit-for-bit what
    one full build over the union serves — postings identical, manifest
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
    n, avgdl = write_inverted_index(base, path)
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
    n3, avgdl3 = write_inverted_index(full, full_path)
    assert (n2, avgdl2) == (n3, avgdl3)
    assert read_index_stats(spark, path) == read_index_stats(spark, full_path)


def test_compact_inverted_index_bounds_files_and_preserves_serving(spark, tmp_path):
    """Appends accrete posting files whose term ranges overlap, so every
    query term reads all of them; a delete leaves position deletes. The
    compaction tick re-clusters the live postings on term — each term
    back in one file, the deletes materialized — without changing a
    single served score or the manifest stats."""
    from endtoend_etl_openmeteo_spark.operators.search import (
        append_inverted_index,
        compact_inverted_index,
        delete_from_inverted_index,
        read_index_stats,
        stored_bm25_topk,
        write_inverted_index,
    )
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_files

    path = str(tmp_path / "postings")
    write_inverted_index(_corpus(spark), path)
    for m in range(5):  # 5 append batches over the same term space
        batch = spark.createDataFrame(
            [(100 + m, f"spark join window batch extra{m}")],
            "doc_id long, text string",
        )
        append_inverted_index(batch, path)
    delete_from_inverted_index(_corpus(spark).filter("doc_id = 1"), path)

    served_before = sorted(
        tuple(r) for r in stored_bm25_topk(spark, path, TERMS, k=20).collect()
    )
    stats_before = read_index_stats(spark, path)

    res = compact_inverted_index(spark, path)
    assert res["action"] == "optimize"
    assert res["files_before"] == 6 and res["files_after"] < res["files_before"]
    for t in TERMS:  # vt_files refuses a snapshot that still has deletes
        assert len(vt_files(spark, path, prune=("term", [t]))) == 1
    assert read_index_stats(spark, path) == stats_before
    served_after = sorted(
        tuple(r) for r in stored_bm25_topk(spark, path, TERMS, k=20).collect()
    )
    assert served_after == served_before and len(served_after) >= 5
    assert compact_inverted_index(spark, path)["action"] is None  # tidy now


def test_corpus_stats_empty_and_null_text_corpora(spark):
    """An empty corpus or one where every text is NULL must read as
    avgdl 0.0 (the _full_stats convention), never a TypeError off the
    NULL average."""
    empty = _corpus(spark).filter("doc_id < 0")
    assert corpus_stats(empty) == (0, 0.0)
    nulls = spark.createDataFrame([(1, None), (2, None)], "doc_id long, text string")
    assert corpus_stats(nulls) == (2, 0.0)


def test_rebuild_replaces_index_exactly(spark, tmp_path):
    """A rebuild replaces the postings and stats in one snapshot, and the
    snapshot it replaced stays readable whole to a reader pinned on it."""
    from endtoend_etl_openmeteo_spark.operators.search import (
        read_index_stats,
        stored_bm25_topk,
        stored_postings,
        write_inverted_index,
    )
    from endtoend_etl_openmeteo_spark.operators.versioned import latest_version

    path = str(tmp_path / "bm25")
    write_inverted_index(_corpus(spark), path)
    old = latest_version(spark, path)
    write_inverted_index(_corpus(spark).filter("doc_id <= 2"), path)
    assert read_index_stats(spark, path)["n_docs"] == 2
    got = {r["doc_id"] for r in stored_bm25_topk(spark, path, ("spark",), k=5).collect()}
    assert got == {1, 2}
    assert read_index_stats(spark, path, old)["n_docs"] == 4
    pinned = stored_postings(spark, path, ("window",), old).collect()
    assert {r["doc_id"] for r in pinned} == {2, 3}


def test_delete_reverses_stats_and_matches_survivor_rebuild(spark, tmp_path):
    """BM25 deletion via position deletes: served scores after a delete
    are bit-for-bit the fresh survivor-index result (per-term df shrinks
    exactly; the manifest stats subtract the batch's exact integer
    totals with rebuild-identical rounding), and compaction physically
    drops the postings without changing serving. A posting-less
    (NULL-text) doc's delete matches no posting yet still commits its
    stats."""
    from endtoend_etl_openmeteo_spark.operators.search import (
        compact_inverted_index,
        delete_from_inverted_index,
        read_index_stats,
        stored_bm25_topk,
        write_inverted_index,
    )
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_files

    corpus = spark.createDataFrame(DOCS + [(9, None)], "doc_id long, text string")
    path = str(tmp_path / "bm25")
    write_inverted_index(corpus, path)
    victim = corpus.filter("doc_id = 3")  # the 'window' doc
    n_docs, avgdl = delete_from_inverted_index(victim, path)
    assert n_docs == 4
    served = [
        tuple(r) for r in stored_bm25_topk(spark, path, TERMS, k=5).collect()
    ]
    assert 3 not in {r[0] for r in served}
    # bit-for-bit equality with a fresh index over the survivors
    ref = str(tmp_path / "bm25_ref")
    write_inverted_index(corpus.filter("doc_id != 3"), ref)
    assert served == [
        tuple(r) for r in stored_bm25_topk(spark, ref, TERMS, k=5).collect()
    ]
    assert read_index_stats(spark, path) == read_index_stats(spark, ref)
    # compaction: postings physically gone from the snapshot's files
    assert compact_inverted_index(spark, path)["action"] == "optimize"
    assert spark.read.parquet(*vt_files(spark, path)).filter("doc_id = 3").count() == 0
    assert served == [
        tuple(r) for r in stored_bm25_topk(spark, path, TERMS, k=5).collect()
    ]
    # the NULL-text doc: n_docs drops, the token totals do not
    before = read_index_stats(spark, path)
    delete_from_inverted_index(corpus.filter("doc_id = 9"), path)
    got = read_index_stats(spark, path)
    assert got["n_docs"] == before["n_docs"] - 1
    assert got["total_tokens"] == before["total_tokens"]
    assert got["n_text_docs"] == before["n_text_docs"]


def test_deleted_then_reappended_doc_is_served(spark, tmp_path):
    """A deleted document appended again is served again: the delete's
    position deletes hide only its old postings. After the round trip
    the index serves bit-for-bit the fresh full-corpus build."""
    from endtoend_etl_openmeteo_spark.operators.search import (
        append_inverted_index,
        delete_from_inverted_index,
        read_index_stats,
        stored_bm25_topk,
        write_inverted_index,
    )

    path = str(tmp_path / "bm25")
    write_inverted_index(_corpus(spark), path)
    victim = _corpus(spark).filter("doc_id = 3")
    delete_from_inverted_index(victim, path)
    assert 3 not in {
        r["doc_id"] for r in stored_bm25_topk(spark, path, TERMS, k=5).collect()
    }
    append_inverted_index(victim, path)
    served = [
        tuple(r) for r in stored_bm25_topk(spark, path, TERMS, k=5).collect()
    ]
    assert 3 in {r[0] for r in served}
    ref = str(tmp_path / "bm25_ref")
    write_inverted_index(_corpus(spark), ref)
    assert served == [
        tuple(r) for r in stored_bm25_topk(spark, ref, TERMS, k=5).collect()
    ]
    assert read_index_stats(spark, path) == read_index_stats(spark, ref)


def test_append_crash_before_commit_leaves_serving_unchanged(
    spark, tmp_path, monkeypatch
):
    """The postings and the stats are one manifest commit: an append that
    dies after writing its postings but before the commit leaves the
    served results and stats exactly as they were, and a retry lands the
    batch exactly once."""
    import pytest

    from endtoend_etl_openmeteo_spark import fsio
    from endtoend_etl_openmeteo_spark.operators.search import (
        append_inverted_index,
        read_index_stats,
        stored_bm25_topk,
        write_inverted_index,
    )

    path = str(tmp_path / "bm25")
    write_inverted_index(_corpus(spark), path)
    before = read_index_stats(spark, path)
    served = [tuple(r) for r in stored_bm25_topk(spark, path, TERMS, k=5).collect()]
    batch = spark.createDataFrame(
        [(9, "spark spark batch")], "doc_id long, text string"
    )

    real_rename = fsio.rename

    def crash(spark_, src, dst):
        if "/_manifests/v" in str(dst):
            raise RuntimeError("crash before the manifest commit")
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(fsio, "rename", crash)
    with pytest.raises(RuntimeError, match="crash before"):
        append_inverted_index(batch, path)
    monkeypatch.setattr(fsio, "rename", real_rename)
    assert read_index_stats(spark, path) == before
    assert served == [
        tuple(r) for r in stored_bm25_topk(spark, path, TERMS, k=5).collect()
    ]

    append_inverted_index(batch, path)
    ref = str(tmp_path / "bm25_ref")
    write_inverted_index(_corpus(spark).unionByName(batch), ref)
    assert read_index_stats(spark, path) == read_index_stats(spark, ref)
    assert [
        tuple(r) for r in stored_bm25_topk(spark, path, TERMS, k=5).collect()
    ] == [tuple(r) for r in stored_bm25_topk(spark, ref, TERMS, k=5).collect()]


def test_index_build_jobs_stay_in_the_callers_job_group(spark, tmp_path):
    """Every job write_inverted_index schedules carries the caller's job
    group, so a traced query can attribute every job it schedules."""
    from endtoend_etl_openmeteo_spark.operators.search import write_inverted_index

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("bm25-build", "index build")
    try:
        write_inverted_index(_corpus(spark), str(tmp_path / "idx"))
    finally:
        sc.setJobGroup(None, None)
    assert tracker.getJobIdsForGroup("bm25-build")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
