"""Inverted index + BM25 ranked retrieval over a document corpus.

The search-serving face of the corpus pipeline: build term-keyed posting
lists ONCE (a map-only pass over documents), then answer keyword queries
by touching only the postings of the query's terms. Reference analog:
none — this is SURVEY §7 training-data extension surface (corpus triage:
"which documents mention X", contamination probes by keyword, boolean
audits over 100 TB without a full scan per question).

Scale shape:
- The index build is shuffle-FREE up to its layout: term frequencies
  come out of the map-side ``token_counts`` run-length fold, one row per
  DISTINCT (term, doc) — the exchange-free shape TF-IDF uses.
- The STORED index (:func:`write_inverted_index`) is one versioned table
  (operators/versioned.py) of postings (term, doc_id, tf, dl). Its files
  are range-clustered on ``term`` (AQE sizes them) and the manifest
  records each file's ``term`` [min, max]; the manifest's ``meta`` holds
  the corpus stats (n_docs, avgdl, total_tokens, n_text_docs), committed
  in the same manifest as the postings they count.
- Serving (:func:`stored_bm25_topk`) reads one snapshot: N and avgdl
  from its meta, postings from only the files whose ``term`` range holds
  a query term (manifest pruning, before Spark lists or opens a file),
  with the ``term IN`` residual row-group-filtering inside them. Document
  frequency is a term-count over those postings (|terms| rows, broadcast
  back), scoring is arithmetic inside codegen, and top-k goes through
  TakeOrdered (sort+limit), never a global window.

Writers are versioned-table commits: build → ``vt_overwrite``, append →
``vt_append``, delete → ``vt_delete_mor`` (position deletes), compaction
→ ``vt_maintain`` clustered on ``term``. The manifest compare-and-swap
orders them without a lease: two racing appends both land (the loser
re-adds its batch's totals to the winner's stats), and a delete or
compaction whose parent moved raises ``ConcurrentWriteError``. An index
written in the earlier term-bucket directory layout is not readable
here; rebuild it with :func:`write_inverted_index`.
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
from endtoend_etl_openmeteo_spark.operators.versioned import (
    latest_version,
    read_manifest,
    vt_append,
    vt_delete_mor,
    vt_init,
    vt_maintain,
    vt_overwrite,
    vt_read,
)


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

    Only the query terms' postings are touched (``term IN`` filters row
    groups of the stored index); df is computed from those postings and
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


#: The corpus stats a stored index's manifest ``meta`` carries as exact
#: integers; ``avgdl`` is re-derived from them on every append and delete.
_TOTALS = ("n_docs", "total_tokens", "n_text_docs")


def _clustered(postings: DataFrame) -> DataFrame:
    """Postings range-partitioned and sorted on ``term``, so each written
    file owns a narrow term range for the manifest stats to prune on.
    The partition count is AQE's (sized to the data), not a constant."""
    return postings.repartitionByRange("term").sortWithinPartitions("term")


def write_inverted_index(
    docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[int, float]:
    """Build (or rebuild) a stored index: the term-clustered postings
    replace the table's contents in one ``vt_overwrite`` commit whose
    manifest ``meta`` holds the corpus stats. Returns (n_docs, avgdl).

    A rebuild is one more snapshot: readers holding the old one finish
    on it, and :func:`compact_inverted_index`'s vacuum reclaims its
    files. A path holding the earlier term-bucket layout is rebuilt by
    this call, not migrated."""
    spark = docs.sparkSession
    try:
        latest_version(spark, index_path)
    except FileNotFoundError:
        vt_init(spark, index_path)
    stats, _ = _full_stats(docs, text_col)
    vt_overwrite(
        spark,
        _clustered(inverted_index(docs, id_col, text_col)),
        index_path,
        stats_cols=["term"],
        meta=lambda _: stats,
    )
    return stats["n_docs"], stats["avgdl"]


def _full_stats(docs: DataFrame, text_col: str, *extra) -> tuple[dict, object]:
    """The corpus stats of ``docs`` in one aggregate: n_docs, avgdl and
    the exact integer totals the append and delete paths merge on, plus
    the aggregate row (``extra`` aggregates ride along in it).

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
        *extra,
    ).first()
    stats = {
        "n_docs": int(row["n"]),
        "avgdl": 0.0 if row["nt"] == 0 else float(row["avgdl"]),
        "total_tokens": int(row["tt"]),
        "n_text_docs": int(row["nt"]),
    }
    return stats, row


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


def _shifted(spark, parent: dict, batch: dict, sign: int) -> dict:
    """Corpus stats after adding (``sign=1``) or removing (``sign=-1``) a
    batch: the exact integer totals merge, and avgdl is re-derived with
    the rounding a full build uses, so serving after any sequence of
    appends and deletes is bit-for-bit a fresh build's."""
    out = {k: max(0, parent[k] + sign * batch[k]) for k in _TOTALS}
    n_text = out["n_text_docs"]
    out["avgdl"] = (
        _rounded_avgdl(spark, out["total_tokens"], n_text) if n_text else 0.0
    )
    return out


def append_inverted_index(
    docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[int, float]:
    """Add a batch of new documents to a stored index: the batch's
    term-clustered postings land as new files (existing files are never
    rewritten) in one ``vt_append`` commit whose meta adds the batch's
    exact integer totals to the parent's. Cost is O(batch). Returns the
    updated (n_docs, avgdl).

    The postings and the stats are one commit, so a crash before it
    leaves the index exactly as it was (the orphaned files are vacuumed)
    and a retry lands the batch once. Two racing appends both land: the
    loser of the manifest compare-and-swap re-derives its stats from the
    winner's. Caller owns dedup (append the same batch twice and its
    postings count twice — pair with the ingest-log / epoch-tag patterns
    used elsewhere). A document deleted earlier may be appended again;
    the delete's position deletes hide only its old postings."""
    spark = docs.sparkSession
    batch, _ = _full_stats(docs, text_col)
    version = vt_append(
        spark,
        _clustered(inverted_index(docs, id_col, text_col)),
        index_path,
        stats_cols=["term"],
        meta=lambda parent: _shifted(spark, parent, batch, 1),
    )
    stats = read_index_stats(spark, index_path, version)
    return stats["n_docs"], stats["avgdl"]


def delete_from_inverted_index(
    docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[int, float]:
    """Remove documents from a stored index without rewriting postings:
    one scan of the live postings finds the batch's rows and commits them
    as position deletes (``vt_delete_mor``), in the same commit as stats
    that subtract the batch's exact integer totals. Serving after a
    delete is bit-for-bit a fresh build over the survivors. Returns the
    updated (n_docs, avgdl).

    ``docs`` must carry the SAME (id, text) rows that were ingested: the
    text is what reverses the stats exactly (a NULL-text doc and an
    empty one are both posting-less, so the postings cannot tell them
    apart). The batch's ids are collected to the driver for the delete
    predicate, so a delete batch is bounded like an append batch.
    :func:`compact_inverted_index` materializes the deletes. A delete
    whose parent snapshot moved raises ``ConcurrentWriteError``; re-run
    it."""
    spark = docs.sparkSession
    batch, row = _full_stats(docs, text_col, F.collect_set(id_col).alias("ids"))
    version, _, _ = vt_delete_mor(
        spark,
        index_path,
        F.col("doc_id").isin(list(row["ids"])),
        meta=lambda parent: _shifted(spark, parent, batch, -1),
    )
    stats = read_index_stats(spark, index_path, version)
    return stats["n_docs"], stats["avgdl"]


def read_index_stats(spark, index_path: str, version: int | None = None) -> dict:
    """The corpus stats of one snapshot of a stored index (latest by
    default): its manifest's ``meta``, committed with its postings."""
    v = latest_version(spark, index_path) if version is None else version
    return read_manifest(spark, index_path, v, resolve=False)["meta"]


def stored_postings(
    spark,
    index_path: str,
    terms: Sequence[str],
    version: int | None = None,
) -> DataFrame:
    """One snapshot's postings for a query's terms: the manifest prune
    keeps only the files whose ``term`` [min, max] holds a query term,
    before any file is listed or opened, and the ``term IN`` residual is
    pushed to parquet to filter row groups inside them."""
    terms = list(terms)
    return vt_read(spark, index_path, version, prune=("term", terms)).filter(
        F.col("term").isin(terms)
    )


def stored_bm25_topk(
    spark,
    index_path: str,
    terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k served from a stored index — the production shape:
    build once (:func:`write_inverted_index`), answer many queries. The
    snapshot is resolved ONCE, so the stats and the postings a query
    scores with come from the same commit."""
    v = latest_version(spark, index_path)
    stats = read_index_stats(spark, index_path, v)
    return bm25_topk(
        stored_postings(spark, index_path, terms, v),
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


def compact_inverted_index(spark, index_path: str) -> dict:
    """Maintenance tick for a stored index: ``vt_maintain`` clustered on
    ``term``. Pending position deletes are materialized, and appends'
    fragmented files are rewritten into disjoint term ranges, so a query
    term again reads one or two files; then old snapshots are vacuumed.
    Serving is bit-for-bit unchanged — postings move between files and
    the stats carry over in the manifest. Returns vt_maintain's dict."""
    return vt_maintain(spark, index_path, sort_cols=["term"])
