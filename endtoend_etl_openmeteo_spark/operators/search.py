"""Inverted index + BM25 ranked retrieval over a document corpus.

The search-serving face of the corpus pipeline: build term-keyed posting
lists ONCE (a map-only pass over documents), then answer keyword queries
by touching only the postings of the query's terms. Reference analog:
none — this is SURVEY §7 training-data extension surface (corpus triage:
"which documents mention X", contamination probes by keyword, boolean
audits over 100 TB without a full scan per question).

Scale shape:
- The index build is shuffle-FREE: term frequencies come out of the
  map-side ``token_counts`` run-length fold, one row per DISTINCT
  (term, doc) — the exchange-free shape TF-IDF uses.
- The STORED index (:func:`write_inverted_index`) partitions postings by
  a term-hash bucket (``bkt = pmod(xxhash64(term), n_buckets)``), not by
  raw term: real vocabularies are 100k+ terms, and one directory per
  term is a small-files catastrophe, while a bounded bucket count keeps
  directory listing O(n_buckets) and still prunes — a query derives its
  terms' buckets with the SAME hash and reads only those partitions
  (``PartitionFilters`` on bkt), with the residual ``term IN (...)``
  dictionary/stats-filtered inside the surviving row groups.
- Serving (:func:`stored_bm25_topk`) touches |query terms| posting
  lists, not the corpus: document frequency is a term-count over the
  filtered postings (|terms| rows, broadcast back), scoring is
  arithmetic inside codegen, and the final per-document sum aggregates
  at most |terms| rows per candidate doc. Top-k goes through
  TakeOrdered (sort+limit), never a global window. The corpus constants
  (N, avgdl) ride in a ``_stats.json`` sidecar (underscore-prefixed:
  invisible to Spark's data-file discovery), so serving never rescans
  the corpus for them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.operators.dedup import (
    cpu_parallelize,
    normalized_text,
    token_counts,
)
from endtoend_etl_openmeteo_spark.session import overlap


def _tokens(text_col: str):
    return F.filter(F.split(normalized_text(text_col), " "), lambda w: w != "")


def inverted_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Posting lists: (term, doc_id, tf, dl), one row per distinct term
    per document.

    ``tf`` is the within-document term frequency, ``dl`` the document
    length in tokens (the BM25 length-normalization input, denormalized
    onto every posting so serving never re-joins the corpus).
    """
    return (
        cpu_parallelize(docs.select(id_col, text_col))
        .select(
            F.col(id_col).alias("doc_id"), F.array_sort(_tokens(text_col)).alias("s")
        )
        .select(
            "doc_id",
            F.size("s").cast("long").alias("dl"),
            F.explode(token_counts(F.col("s"))).alias("wt"),
        )
        .select(
            F.col("wt.w").alias("term"),
            "doc_id",
            F.col("wt.tf").alias("tf"),
            "dl",
        )
    )


def corpus_stats(docs: DataFrame, text_col: str = "text") -> tuple[int, float]:
    """(n_docs, avgdl) — the two corpus-level BM25 constants.

    One scalar aggregate; ``avgdl`` is rounded to 6 decimals AT THE SOURCE
    (the q_mad_outliers determinism pattern) so downstream score arithmetic
    is identical across engines — unrounded averages can differ by 1 ulp
    between float-sum orders and flip a rounded score at the boundary.
    An empty (or all-NULL-text) corpus reads as avgdl 0.0, the _full_stats
    convention — never a TypeError off the NULL average.
    """
    row = docs.agg(
        F.count("*").alias("n"),
        F.round(F.avg(F.size(_tokens(text_col))), 6).alias("avgdl"),
    ).first()
    return int(row["n"]), 0.0 if row["avgdl"] is None else float(row["avgdl"])


def bm25_topk(
    postings: DataFrame,
    terms: Sequence[str],
    n_docs: int,
    avgdl: float,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query by BM25 (Lucene idf form).

    score(d) = sum over query terms t of
      ln(1 + (N - df + 0.5)/(df + 0.5)) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Only the query terms' postings are touched (``term IN`` prunes a
    term-partitioned stored index); df is computed from those postings and
    broadcast back; scores round to 6 decimals before the deterministic
    (score desc, doc_id) top-k so 1-ulp ln() differences can't flip ranks.
    """
    post = postings.filter(F.col("term").isin(list(terms)))
    dfr = post.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(float(avgdl)))
    )
    return (
        post.join(F.broadcast(dfr), "term")
        .select("doc_id", (idf * norm).alias("contrib"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )


#: Partition-bucket count for the stored index. Bounded (so directory
#: listing stays cheap) yet wide enough that a few-term query skips the
#: overwhelming majority of postings bytes.
N_TERM_BUCKETS = 64


def _term_bucket(term_col, n_buckets: int):
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets))


def _query_term_buckets(spark, terms: Sequence[str], n_buckets: int) -> list[int]:
    """Bucket ids for the query's terms, computed with the EXACT xxhash64
    the writer used (a one-row local projection — the bloom-probe
    pattern), never a Python reimplementation that could drift."""
    row = (
        spark.range(1)
        .select(
            *[
                _term_bucket(F.lit(t), n_buckets).alias(f"b{i}")
                for i, t in enumerate(terms)
            ]
        )
        .collect()[0]
    )
    return sorted({int(row[f"b{i}"]) for i in range(len(terms))})


def _stats_path(spark, index_path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{index_path}/_stats.json")
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _pending_path(spark, index_path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{index_path}/_append_pending.json")
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _require_no_pending(spark, index_path: str) -> None:
    pend, pfs = _pending_path(spark, index_path)
    if pfs.exists(pend):
        raise RuntimeError(
            f"index {index_path} has a leftover _append_pending marker — a "
            "previous append or delete crashed between its data write and "
            "its stats commit, so the stored stats disagree with the "
            "postings. Rebuild once with write_inverted_index (replaying "
            "the crashed batch would double-apply it)."
        )


def _write_stats(spark, index_path: str, payload: dict) -> None:
    """Commit the ``_stats.json`` sidecar via write-temp-then-replace:
    the payload lands COMPLETE under a temp name before it becomes
    ``_stats.json``, so a lease-free reader racing the update can never
    observe a truncated or half-written sidecar (which the previous
    in-place ``fs.create(overwrite=True)`` truncate-then-write exposed —
    on local FS the file is 0 bytes between create and close). Readers
    CAN race the delete+rename metadata pair and see a missing file for
    an instant; :func:`read_index_stats` retries over that window."""
    import json as _json
    import uuid as _uuid

    p, fs = _stats_path(spark, index_path)
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{index_path}/._stats_tmp_{_uuid.uuid4().hex}"
    )
    out = fs.create(tmp, True)
    try:
        try:
            out.write(_json.dumps(payload).encode("utf-8"))
        finally:
            out.close()
    except Exception:
        fs.delete(tmp, False)
        raise
    fs.delete(p, False)
    if not fs.rename(tmp, p):
        fs.delete(tmp, False)
        raise IOError(f"could not commit stats sidecar for {index_path}")


def write_inverted_index(
    docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_TERM_BUCKETS,
    lease: bool = True,
) -> tuple[int, float]:
    """Materialize the postings as a term-bucket-partitioned parquet table
    plus a ``_stats.json`` sidecar holding (n_docs, avgdl, n_buckets).

    ``repartition(bkt)`` before ``partitionBy(bkt)`` so each task writes
    whole buckets — without it every task appends a file into every
    bucket directory (tasks x buckets small files). Returns the corpus
    constants for convenience.

    Rebuilds SERIALIZE with appends and compaction ticks: the build runs
    under the index's maintenance lease like every other writer (a
    rebuild racing an append would delete the append's fresh posting
    files, and the append's stats merge would clobber the rebuilt
    sidecar with stale totals). Because a whole-directory ``overwrite``
    would delete the very lock that serializes us, prior layout is
    cleared explicitly — data partitions and sidecars, never the lock —
    and the postings land with mode append into the emptied directory.
    A rebuild also clears a crashed append's ``_append_pending`` marker:
    rebuilding is exactly the prescribed recovery.
    """
    from endtoend_etl_openmeteo_spark.operators.index_maintain import index_lease

    spark = docs.sparkSession
    if lease:
        with index_lease(spark, index_path, owner="build_bm25"):
            return write_inverted_index(
                docs, index_path, id_col, text_col, n_buckets, lease=False
            )
    def write_postings() -> None:
        idx = inverted_index(docs, id_col, text_col).withColumn(
            "bkt", _term_bucket(F.col("term"), n_buckets)
        )
        # clear prior layout under the lease (keep the lock marker itself)
        jvm = spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(index_path)
        fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(root):
            for status in fs.listStatus(root):
                if status.getPath().getName() != "_maintenance.lock":
                    fs.delete(status.getPath(), True)
        idx.repartition(F.col("bkt")).write.partitionBy("bkt").mode(
            "append"
        ).parquet(index_path)

    # The corpus-stats aggregate and the postings write are independent
    # scans of ``docs`` — overlap them (guide-§2.6 back-fill: the agg's
    # tasks fill cores the write's tail frees) instead of paying the two
    # jobs end to end.
    (n_docs, avgdl, total_tokens, n_text_docs), _ = overlap(
        lambda: _full_stats(docs, text_col), write_postings
    )
    _write_stats(
        spark,
        index_path,
        {
            "n_docs": n_docs,
            "avgdl": avgdl,
            "n_buckets": n_buckets,
            # exact integer totals so appends can re-derive avgdl with
            # zero drift vs a full rebuild (ints merge exactly; the
            # rounded double never compounds). n_text_docs is avgdl's
            # denominator — NULL-text docs count in n_docs but not here.
            "total_tokens": total_tokens,
            "n_text_docs": n_text_docs,
        },
    )
    return n_docs, avgdl


def _full_stats(docs: DataFrame, text_col: str) -> tuple[int, float, int, int]:
    """(n_docs, avgdl, total_tokens, n_text_docs) in one aggregate —
    corpus_stats plus the exact integer totals the append path merges on.
    NULL-text docs count in ``n_docs`` (corpus members for BM25's N) but
    are EXCLUDED from avgdl — size(NULL) is NULL, so avg/sum/count skip
    them, the SAME convention corpus_stats and the DuckDB oracles use
    (``avg(len(ws))`` skips NULLs). The append-path identity is
    avgdl == total_tokens / n_text_docs, exact in integers."""
    dl = F.size(_tokens(text_col))
    row = docs.agg(
        F.count("*").alias("n"),
        F.round(F.avg(dl), 6).alias("avgdl"),
        F.coalesce(F.sum(dl), F.lit(0)).alias("tt"),
        F.count(dl).alias("nt"),
    ).first()
    avgdl = 0.0 if row["nt"] == 0 else float(row["avgdl"])
    return int(row["n"]), avgdl, int(row["tt"]), int(row["nt"])


def _rounded_avgdl(spark, total_tokens: int, n_docs: int) -> float:
    """round(total/n, 6) with Spark's JVM HALF_UP-on-double semantics —
    NOT Python's round (banker's), so an appended index's avgdl equals a
    full rebuild's bit-for-bit."""
    return float(
        spark.range(1)
        .select(
            F.round(
                F.lit(total_tokens).cast("double") / F.lit(n_docs), 6
            ).alias("a")
        )
        .first()["a"]
    )


def append_inverted_index(
    docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    lease: bool = True,
) -> tuple[int, float]:
    """Add a batch of new documents to a stored index — incremental
    index maintenance: the batch's postings land under their term-bucket
    partitions (mode append; existing posting files are never rewritten)
    and the stats sidecar merges EXACT integer totals (doc count, token
    count), re-deriving avgdl with the same JVM rounding a full rebuild
    uses — serving after N appends is bit-for-bit the single-build
    result. Cost is O(batch): one map-side postings fold + one
    bucket-keyed exchange. Returns the updated (n_docs, avgdl).

    Caller owns dedup (append the same batch twice and its postings count
    twice — pair with the ingest-log / epoch-tag patterns used elsewhere).

    The whole read-stats → write-postings → merge-stats sequence runs
    under the index's maintenance lease (index_maintain.index_lease):
    the sidecar merge is a read-modify-write, so an unserialized
    concurrent append would lose one batch's counts, and an append
    racing a compaction tick's partition overwrite would lose its
    posting files. A losing writer gets LeaseConflictError and retries;
    ``lease=False`` only when the caller already holds it.

    Crash contract: the postings append and the stats commit are two
    steps — a crash between them leaves postings the stats don't count
    (scores drift low) and a blind re-append would double-count the
    batch. The window is DETECTED, not silent: an ``_append_pending``
    marker brackets the sequence, the next writer refuses to proceed
    over a leftover marker, and the prescribed recovery — a
    :func:`write_inverted_index` rebuild — clears it. Exactly-once
    ingestion belongs to the epoch-tag / ingest-log patterns; the
    versioned table format is the transactional story.
    """
    import json as _json

    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        index_lease,
        require_no_tombstoned_ids,
    )

    spark = docs.sparkSession
    if lease:
        with index_lease(spark, index_path, owner="append_bm25"):
            return append_inverted_index(
                docs, index_path, id_col, text_col, lease=False
            )
    _require_no_pending(spark, index_path)
    # a currently-tombstoned doc id must not re-enter: the serve-time
    # anti-join would hide its new postings until the next vacuum —
    # a silent serving gap (TombstonedIdError names the offenders)
    require_no_tombstoned_ids(docs.select(id_col), index_path, id_col=id_col)
    pend, pfs = _pending_path(spark, index_path)
    stats = read_index_stats(spark, index_path)
    if "total_tokens" not in stats:
        raise ValueError(
            "index predates the total_tokens sidecar field — rebuild once "
            "with write_inverted_index before appending"
        )
    n_buckets = stats["n_buckets"]
    idx = inverted_index(docs, id_col, text_col).withColumn(
        "bkt", _term_bucket(F.col("term"), n_buckets)
    )
    marker = pfs.create(pend, True)
    try:
        # existence is the contract (writers refuse / readers warn over a
        # leftover marker); the payload is diagnostic only
        marker.write(_json.dumps({"op": "append"}).encode("utf-8"))
    finally:
        marker.close()
    # batch-stats aggregate ∥ postings write: two independent scans of
    # the same batch (the write_inverted_index overlap), both inside the
    # marker bracket so the crash window is unchanged
    (b_docs, _, b_tokens, b_text_docs), _ = overlap(
        lambda: _full_stats(docs, text_col),
        lambda: idx.repartition(F.col("bkt"))
        .write.partitionBy("bkt")
        .mode("append")
        .parquet(index_path),
    )
    n_docs = stats["n_docs"] + b_docs
    total_tokens = stats["total_tokens"] + b_tokens
    # Back-compat CONTRACT for pre-n_text_docs sidecars: assume the
    # legacy corpus had zero NULL-text docs (n_text_docs := n_docs).
    # This cannot be recomputed from the stored postings — a NULL-text
    # doc and an empty-string doc (dl=0, counted in avgdl's denominator)
    # are both posting-less, so they are indistinguishable after the
    # fact. If a legacy index did hold NULL-text docs its avgdl drifts
    # low after the first append (denominator too large); the remedy is
    # a one-time write_inverted_index rebuild, which stamps the exact
    # n_text_docs going forward.
    n_text_docs = stats.get("n_text_docs", stats["n_docs"]) + b_text_docs
    avgdl = (
        _rounded_avgdl(spark, total_tokens, n_text_docs) if n_text_docs else 0.0
    )
    _write_stats(
        spark,
        index_path,
        {
            "n_docs": n_docs,
            "avgdl": avgdl,
            "n_buckets": n_buckets,
            "total_tokens": total_tokens,
            "n_text_docs": n_text_docs,
        },
    )
    pfs.delete(pend, False)  # stats committed — the append is whole
    return n_docs, avgdl


def delete_from_inverted_index(
    docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    lease: bool = True,
) -> tuple[int, float]:
    """Remove documents from a stored index WITHOUT rewriting postings —
    the stored-ANN tombstone discipline (operators/index_maintain.
    delete_from_stored_index) applied to BM25: the doc ids land in the
    ``_tombstones/`` sidecar (serving hides their postings with a
    broadcast anti-join, so per-term df shrinks exactly), and the stats
    sidecar REVERSES the batch's exact integer totals — n_docs,
    total_tokens, n_text_docs — re-deriving avgdl with the same JVM
    rounding a rebuild uses. Serving after a delete is therefore
    bit-for-bit the fresh survivor-index result. Cost is O(batch).

    ``docs`` must carry the SAME (id, text) rows that were ingested (the
    ingest-log pairing): the text is what lets the stats reverse exactly
    without scanning the index. Deleting rows never ingested corrupts
    the constants — caller owns that contract, like append's dedup.
    Physical removal is ``vacuum_index_tombstones(spark, path,
    id_col='doc_id')`` (partition-pruned bucket rewrite) or a rebuild.
    Runs under the maintenance lease with the append path's
    ``_append_pending`` crash bracket. Returns updated (n_docs, avgdl).
    """
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        delete_from_stored_index,
        index_lease,
    )

    spark = docs.sparkSession
    if lease:
        with index_lease(spark, index_path, owner="delete_bm25"):
            return delete_from_inverted_index(
                docs, index_path, id_col, text_col, lease=False
            )
    _require_no_pending(spark, index_path)
    pend, pfs = _pending_path(spark, index_path)
    stats = read_index_stats(spark, index_path)
    if "n_text_docs" not in stats:
        raise ValueError(
            "index predates the n_text_docs sidecar field — rebuild once "
            "with write_inverted_index before deleting"
        )
    import json as _json

    marker = pfs.create(pend, True)
    try:
        marker.write(_json.dumps({"op": "delete"}).encode())
    finally:
        marker.close()
    # batch-stats aggregate ∥ the hinted-tombstone delete: independent
    # scans of the same batch (the write_inverted_index overlap), both
    # inside the marker bracket
    (b_docs, _, b_tokens, b_text_docs), _ = overlap(
        lambda: _full_stats(docs, text_col),
        lambda: delete_from_stored_index(
            spark,
            _delete_tombstones(docs, id_col, text_col, stats["n_buckets"]),
            index_path,
            lease=False,
        ),
    )
    n_docs = max(0, stats["n_docs"] - b_docs)
    total_tokens = max(0, stats["total_tokens"] - b_tokens)
    n_text_docs = max(0, stats["n_text_docs"] - b_text_docs)
    avgdl = (
        _rounded_avgdl(spark, total_tokens, n_text_docs) if n_text_docs else 0.0
    )
    _write_stats(
        spark,
        index_path,
        {
            "n_docs": n_docs,
            "avgdl": avgdl,
            "n_buckets": stats["n_buckets"],
            "total_tokens": total_tokens,
            "n_text_docs": n_text_docs,
        },
    )
    pfs.delete(pend, False)  # stats committed — the delete is whole
    return n_docs, avgdl


def _delete_tombstones(
    docs: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """The (doc_id, part) tombstones of :func:`delete_from_inverted_index`.

    Tombstones carry the term-bucket PARTITION HINT ("bkt=<b>", one row
    per distinct bucket the doc's terms hash into — computable here
    because the doc text is in hand), so the vacuum tick prunes its
    discovery scan to exactly the touched buckets instead of reading
    the whole index. A posting-less doc (NULL/empty PASSED text) still
    writes a BARE tombstone: if it was genuinely ingested posting-less
    the tombstone is a harmless no-op, but if the caller's text
    diverged from the ingested row (out of contract — the stats
    reversal is already wrong) the bare id makes vacuum's full-scan
    fallback find and remove the REAL postings instead of silently
    leaving the doc serving forever."""
    hinted = (
        inverted_index(docs, id_col, text_col)
        .select(
            "doc_id",
            _term_bucket(F.col("term"), n_buckets).alias("__b"),
        )
        .distinct()
        .select(
            "doc_id",
            F.concat(F.lit("bkt="), F.col("__b").cast("string")).alias("part"),
        )
    )
    bare = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hinted.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.lit(None).cast("string").alias("part"))
    )
    return hinted.unionByName(bare)


def read_index_stats(spark, index_path: str) -> dict:
    """The ``_stats.json`` sidecar. Lease-free readers can race a
    writer's delete+rename commit (:func:`_write_stats`) and find the
    file momentarily absent — bounded retries cover that instant; a
    payload, once visible, is always complete.

    A leftover ``_append_pending`` crash marker means the stored stats
    disagree with the postings (an append/delete died between its data
    write and its stats commit) — scores served off these constants
    DRIFT. Writers refuse to proceed (:func:`_require_no_pending`);
    readers get the stats anyway but with ``"append_pending": True``
    stamped into the dict and a logged warning, so the crashed-append
    window surfaces at query time, not just at the next write. The flag
    fires only when the maintenance lease is FREE alongside the marker:
    marker + no lease is definitely a crashed write (a clean failure
    releases the lease in its finally but leaves the marker), whereas
    marker + held lease is a healthy IN-FLIGHT append — flagging that
    would cry wolf on every concurrent serve during a long batch. A
    hard-killed holder leaves both files; that state surfaces at the
    next write (_require_no_pending) or after the operator's
    break_lease, when the marker alone remains."""
    import json as _json
    import logging as _logging
    import time as _time

    p, fs = _stats_path(spark, index_path)
    last: Exception | None = None
    for attempt in range(3):
        try:
            stream = fs.open(p)
            try:
                data = bytes(
                    spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
                )
            finally:
                stream.close()
            stats = _json.loads(data.decode("utf-8"))
            pend, pfs = _pending_path(spark, index_path)
            if pfs.exists(pend):
                from endtoend_etl_openmeteo_spark.operators.index_maintain import (
                    _lease_path,
                )

                lock = spark._jvm.org.apache.hadoop.fs.Path(
                    _lease_path(index_path)
                )
                if not pfs.exists(lock):
                    stats["append_pending"] = True
                    _logging.getLogger(__name__).warning(
                        "index %s has a leftover _append_pending marker "
                        "with no writer lease — a previous append/delete "
                        "crashed before its stats commit; served scores "
                        "may drift until a write_inverted_index rebuild "
                        "clears it",
                        index_path,
                    )
            return stats
        except Exception as e:
            last = e
            _time.sleep(0.05 * (attempt + 1))
    raise last


def stored_postings(
    spark,
    index_path: str,
    terms: Sequence[str],
    n_buckets: int | None = None,
) -> DataFrame:
    """Bucket-pruned scan of a stored index for one query's terms: the
    partition filter on ``bkt`` skips every non-matching bucket directory
    before any data file is opened; the ``term IN`` residual is pushed to
    parquet and dictionary-filters the surviving row groups. Callers that
    already read the sidecar pass ``n_buckets`` so the serving hot path
    opens it once, not twice."""
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        _read_tombstones,
    )

    if n_buckets is None:
        n_buckets = read_index_stats(spark, index_path)["n_buckets"]
    bkts = _query_term_buckets(spark, terms, n_buckets)
    post = spark.read.parquet(index_path).filter(
        F.col("bkt").isin(bkts) & F.col("term").isin(list(terms))
    )
    # deleted docs' postings are hidden at serve time (broadcast
    # anti-join over the bounded tombstone set) so per-term df shrinks
    # exactly; the vacuum tick rewrites them away physically
    tomb = _read_tombstones(spark, index_path, id_col="doc_id")
    if tomb is not None:
        post = post.join(F.broadcast(tomb), "doc_id", "left_anti")
    return post


def stored_bm25_topk(
    spark,
    index_path: str,
    terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k served from a stored index — the production shape:
    build once (:func:`write_inverted_index`), answer many queries, each
    touching only its terms' bucket partitions. The sidecar is read ONCE
    per query and feeds both the bucket prune and the score constants."""
    stats = read_index_stats(spark, index_path)
    return bm25_topk(
        stored_postings(spark, index_path, terms, n_buckets=stats["n_buckets"]),
        terms,
        stats["n_docs"],
        stats["avgdl"],
        k=k,
        k1=k1,
        b=b,
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    k: int = 10,
    rrf_k: int = 60,
    id_col: str = "id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of ranked lists: score(id) = sum over lists
    of 1/(rrf_k + rank), the standard score-free hybrid-retrieval
    combiner (Cormack et al.) — BM25 and embedding rankings live on
    incomparable scales, ranks don't. Rows: (id, rrf_score, rank), top-k
    by (rrf_score desc, id).

    Each input carries (id_col, rank_col) and is top-k-bounded by its
    producer, so everything here is metadata-sized: the union is
    |lists|·k rows and the final window sorts at most that. 9dp rounding
    before the rank pins the order cross-engine (with two lists the sum
    is order-exact — IEEE addition is commutative; beyond two the
    rounding absorbs association differences).
    """
    from functools import reduce

    from pyspark.sql import Window

    parts = [
        r.select(
            F.col(id_col).alias("id"),
            F.col(rank_col).cast("long").alias("rank"),
        )
        for r in rankings
    ]
    u = reduce(lambda a, b: a.unionByName(b), parts)
    scored = u.groupBy("id").agg(
        F.round(F.sum(F.lit(1.0) / (F.lit(rrf_k) + F.col("rank"))), 9).alias(
            "rrf_score"
        )
    )
    w = Window.orderBy(F.col("rrf_score").desc(), F.col("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def compact_inverted_index(
    spark,
    index_path: str,
    max_files_per_bucket: int = 4,
    target_rows_per_file: int = 4_000_000,
    lease: bool = True,
) -> dict:
    """Maintenance tick for a stored BM25 layout: rewrite term buckets
    where :func:`append_inverted_index` batches have accreted more than
    ``max_files_per_bucket`` posting files, right-sized to
    ``target_rows_per_file`` postings per file. Non-fragmented buckets
    and the ``_stats.json`` sidecar are untouched; serving
    (:func:`stored_bm25_topk`) is bit-for-bit unchanged — postings move
    between files, never between buckets (bucket identity is the term
    hash, not file placement). Serialize with appends to the same index
    (one maintenance owner; see operators/index_maintain.py)."""
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        compact_partitions,
    )

    return compact_partitions(
        spark,
        index_path,
        "bkt",
        max_files=max_files_per_bucket,
        target_rows_per_file=target_rows_per_file,
        lease=lease,
    )
