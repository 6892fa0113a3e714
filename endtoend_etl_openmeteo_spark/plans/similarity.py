"""Embedding-similarity and array-explode queries over `embeddings`
(SURVEY.md §2.2 P1-P3 explode semantics; §7 step 7 ANN search).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from endtoend_etl_openmeteo_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    ivf_topk,
    lsh_bucketed_topk,
)
from endtoend_etl_openmeteo_spark.plans.registry import register
from endtoend_etl_openmeteo_spark.sources.tables import tbl


@register(
    "q_explode",
    oracle="""
    SELECT vec_id, CAST(u.i - 1 AS BIGINT) AS pos,
           embedding[u.i] AS a_val, embedding[u.i] AS b_val
    FROM embeddings, unnest(generate_series(1, least(len(embedding), 8))) AS u(i)
    """,
    doc="Struct-of-arrays → rows with TRUNCATE ragged policy (SURVEY §2.2 "
    "P1/P2): zip two parallel arrays of different length keeping only "
    "fully-paired indices — load_to_postgres.py:83-86 min-of-lengths. "
    "Here b is a prefix slice of a, so min length = 8.",
    tags=("explode",),
)
def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = F.col("embedding")
    b = F.slice(F.col("embedding"), 1, 8)
    n = F.least(F.size(a), F.size(b))
    zipped = F.arrays_zip(F.slice(a, 1, n).alias("a"), F.slice(b, 1, n).alias("b"))
    return (
        tbl(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode(zipped).alias("pos", "z"))
        .select(
            "vec_id",
            F.col("pos").cast("long").alias("pos"),
            F.col("z.a").alias("a_val"),
            F.col("z.b").alias("b_val"),
        )
    )


@register(
    "q_explode_nullpad",
    oracle="""
    SELECT vec_id, CAST(u.i - 1 AS BIGINT) AS pos,
           embedding[u.i] AS a_val,
           CASE WHEN u.i <= 8 THEN embedding[u.i] END AS b_val
    FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
    """,
    doc="Struct-of-arrays → rows with NULL-PAD ragged policy (SURVEY §2.2 "
    "P3): arrays_zip pads the shorter array with null — the "
    "etl_openmeteo.py:82-85 policy, which is exactly arrays_zip's "
    "built-in semantics.",
    tags=("explode",),
)
def q_explode_nullpad(spark: SparkSession, sf_dir: str) -> DataFrame:
    zipped = F.arrays_zip(
        F.col("embedding").alias("a"), F.slice(F.col("embedding"), 1, 8).alias("b")
    )
    return (
        tbl(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode(zipped).alias("pos", "z"))
        .select(
            "vec_id",
            F.col("pos").cast("long").alias("pos"),
            F.col("z.a").alias("a_val"),
            F.col("z.b").alias("b_val"),
        )
    )


@register(
    "q_ann_cosine",
    oracle="""
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS q_norm
      FROM embeddings WHERE vec_id < 5
    ),
    c AS (
      SELECT vec_id AS n_id, embedding::DOUBLE[] AS n_vec,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS n_norm
      FROM embeddings
    ),
    s AS (
      SELECT q.q_id, c.n_id,
             round(list_dot_product(q.q_vec, c.n_vec)
                   / (q.q_norm * c.n_norm), 6) AS cos_sim
      FROM c, q WHERE q.q_id != c.n_id
    )
    SELECT q_id, n_id, cos_sim,
           CAST(row_number() OVER (
             PARTITION BY q_id ORDER BY cos_sim DESC, n_id
           ) AS BIGINT) AS rank
    FROM s QUALIFY rank <= 10
    """,
    doc="Brute-force cosine top-10 for 5 query vectors (SURVEY §7 step 7): "
    "broadcast queries, JVM array ops (zip_with/aggregate), per-query "
    "ranking window. The exact baseline for ANN; similarity rounded "
    "before ranking for cross-engine rank stability.",
    tags=("similarity",),
)
def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


@register(
    "q_embed_neardup",
    oracle="""
    WITH d AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS nrm
      FROM embeddings WHERE vec_id < 300
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
    FROM d a JOIN d b ON a.id < b.id
    WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.3
    """,
    doc="Embedding-cosine near-duplicate pairs (SURVEY §7 step 7 dedup "
    "mode): exact verify stage over a bounded id slice; LSH hyperplane "
    "buckets (q_ann_lsh) are the candidate path at scale.",
    tags=("dedup", "similarity"),
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_pairs(
        tbl(spark, sf_dir, "embeddings"), threshold=0.3, max_id=300
    )


#: Process-level cache of trained quantizer models, keyed by
#: (kind, sf_dir, params) PLUS a content fingerprint of the training
#: table (file mtimes/sizes): testdata dirs are regenerated in place, so
#: a long-lived process (bench loops, test sessions) must not serve
#: centroids/codebooks trained on stale data — undetectable otherwise,
#: because the consumers are approximate (oracle=None). Training is
#: deterministic (smallest-id samples, fixed seeds/iterations), so reuse
#: under an unchanged fingerprint is semantics-free — the real serving
#: pattern: train the quantizer ONCE offline, answer many queries
#: against it. Values are driver-side row lists (k·dim doubles — tiny);
#: each call rebuilds a LocalRelation for the live session so cached
#: models work across SparkSessions within the process.
_TRAINED: dict[tuple, tuple[list, object]] = {}


def _table_fingerprint(sf_dir: str, table: str = "embeddings") -> tuple:
    """Cheap content fingerprint of a testdata table: sorted (name,
    mtime_ns, size) of the parquet path's file(s). Local-FS only — for a
    real object-store deployment key the cache on the snapshot/commit id
    instead."""
    import os

    path = f"{sf_dir.rstrip('/')}/{table}.parquet"
    try:
        if os.path.isdir(path):
            out = []
            for name in sorted(os.listdir(path)):
                st = os.stat(os.path.join(path, name))
                out.append((name, st.st_mtime_ns, st.st_size))
            return tuple(out)
        st = os.stat(path)
        return ((table, st.st_mtime_ns, st.st_size),)
    except OSError:
        return ()  # unknown -> still cached per (key, empty-fp)


def _cached_model_rows(spark: SparkSession, key: tuple, build) -> tuple[list, object]:
    """(rows, schema) of the cached trained model, DRIVER-SIDE — for
    consumers that feed the quantizer straight into the Arrow encode op /
    one-row broadcast frames (_encode_with_payload,
    _coarse_row_from_local) without a createDataFrame→collect round
    trip per plan build."""
    key = key + (_table_fingerprint(key[1]),)
    if key not in _TRAINED:
        built = build()
        if not isinstance(built, tuple):
            # a *_rows trainer returns (rows, schema) directly, so the
            # model never round-trips through a frame at all (the
            # createDataFrame→collect of model-sized rows measured ~2 s
            # on a cold session, pure Janino/py4j fixed cost)
            built = ([tuple(r) for r in built.collect()], built.schema)
        _TRAINED[key] = built
    return _TRAINED[key]


def _cached_model(spark: SparkSession, key: tuple, build) -> DataFrame:
    rows, schema = _cached_model_rows(spark, key, build)
    return spark.createDataFrame(rows, schema)


@register(
    "q_ann_ivf",
    oracle=None,  # approximate recall by design — rows-only check
    doc="IVF ANN with a k-means-trained coarse quantizer (operators/"
    "clusters.kmeans_train_sampled -> kmeans_assign -> operators/"
    "similarity.ivf_topk), nprobe=2 of 10 cells per query — 20% of "
    "brute-force work (tools/check_oracle.py enforces a 0.5 recall "
    "floor). The quantizer trains driver-side on a bounded sample (the "
    "FAISS pattern — the cap covers the whole corpus at test SFs, so no "
    "recall loss vs distributed training, measured 0.88); assignment and "
    "probing stay distributed and shuffle-free, the exact 100 TB split.",
    tags=("similarity", "approx"),
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.clusters import (
        kmeans_assign,
        kmeans_train_sampled_rows,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    centroids = _cached_model(
        spark,
        ("ivf_kmeans", sf_dir, 10, 2),
        lambda: (kmeans_train_sampled_rows(emb, k=10, iterations=2), _CENTROID_SCHEMA),
    )
    # keep_vec: the corpus arrives cell-tagged straight out of the map-side
    # argmin — no assignments-back-to-corpus re-join shuffle.
    cells = (
        kmeans_assign(emb, centroids, keep_vec=True)
        .withColumnRenamed("id", "vec_id")
        .withColumnRenamed("vec", "embedding")
    )
    return ivf_topk(
        cells,
        emb.filter(F.col("vec_id") < 5),
        cell_col="cluster",
        k=10,
        nprobe=2,
        centroids=centroids.withColumnRenamed("cluster", "cell"),
    )


@register(
    "q_ann_lsh",
    oracle=None,  # approximate-recall bucketing — rows-only check
    doc="Multi-table random-hyperplane LSH approximate cosine top-k (scale "
    "path): 8 tables x 4 planes, OR-amplified candidates scored once — "
    "~n_tables/2^n_planes of brute-force work; recall ~0.6 at default "
    "settings (measured in tests/test_similarity.py).",
    tags=("similarity", "approx"),
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    return lsh_bucketed_topk(
        emb, emb.filter(F.col("vec_id") < 5), n_planes=4, n_tables=8, k=10
    )


@register(
    "q_ann_pq",
    oracle=None,  # approximate-recall compression — rows-only + recall floor
    doc="Product-quantization ANN with exact re-rank (operators/similarity."
    "pq_train/pq_encode/pq_topk_rerank): m=8 sub-codebooks of 32 centroids "
    "(driver-trained on a bounded sample), corpus encoded to 8 codes/vector "
    "(32x compression — the memory-bound 100 TB path), ADC lookup-table "
    "scan nominates 50 candidates/query, exact cosine re-ranks candidates "
    "only. tools/check_oracle.py enforces the 0.5 recall floor vs "
    "q_ann_cosine (measured ~0.78).",
    tags=("similarity", "approx"),
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.similarity import (
        _codebook_row_from_local,
        _encode_with_payload,
        pq_topk_rerank,
        pq_train_rows,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    # the trained codebooks stay DRIVER-SIDE end to end: straight into the
    # Arrow encode op and the one-row LUT broadcast — no
    # createDataFrame→collect round trips per plan build
    rows, _ = _cached_model_rows(
        spark,
        ("pq_codebooks", sf_dir, 8, 32, 4),
        lambda: (pq_train_rows(emb, m=8, k=32, iterations=4), _PQ_BOOKS_SCHEMA),
    )
    blocks: dict[int, dict[int, list]] = {}
    for b, c, cent in rows:
        blocks.setdefault(int(b), {})[int(c)] = list(cent)
    books = [[blocks[b][c] for c in sorted(blocks[b])] for b in sorted(blocks)]
    codes = _encode_with_payload(emb, None, books, "vec_id", "embedding")
    return pq_topk_rerank(
        codes,
        None,  # unused — codebook_row carries the quantizer
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        n_candidates=50,
        codebook_row=_codebook_row_from_local(spark, books),
    )


def _pack_ivfpq(trained) -> "DataFrame":
    """Flatten (coarse, codebooks) into ONE cacheable DataFrame —
    (part, a, b, centroid) — so the two-level quantizer shares a single
    _cached_model entry (one training, one disk sidecar)."""
    coarse, codebooks = trained
    c = coarse.select(
        F.lit("coarse").alias("part"),
        F.col("cell").alias("a"),
        F.lit(0).alias("b"),
        "centroid",
    )
    p = codebooks.select(
        F.lit("pq").alias("part"),
        F.col("block").alias("a"),
        F.col("cluster").alias("b"),
        "centroid",
    )
    return c.unionByName(p)


#: Schema of the packed two-level quantizer rows (_pack_ivfpq's frame
#: and _pack_ivfpq_rows' local rows share it — one cache format).
_PACKED_IVFPQ_SCHEMA = T.StructType(
    [
        T.StructField("part", T.StringType(), False),
        T.StructField("a", T.IntegerType(), True),
        T.StructField("b", T.IntegerType(), True),
        T.StructField("centroid", T.ArrayType(T.DoubleType(), True), True),
    ]
)

#: Schema of a sampled-kmeans / PQ-codebook trainer's local rows.
_CENTROID_SCHEMA = T.StructType(
    [
        T.StructField("cluster", T.IntegerType(), True),
        T.StructField("centroid", T.ArrayType(T.DoubleType(), True), True),
    ]
)

_PQ_BOOKS_SCHEMA = T.StructType(
    [
        T.StructField("block", T.IntegerType(), True),
        T.StructField("cluster", T.IntegerType(), True),
        T.StructField("centroid", T.ArrayType(T.DoubleType(), True), True),
    ]
)


def _pack_ivfpq_rows(trained_rows) -> tuple[list, object]:
    """:func:`_pack_ivfpq` for DRIVER-SIDE trainer output
    (ivfpq_train_rows): the packed (part, a, b, centroid) rows never
    touch a frame — _cached_model_rows stores them as-is."""
    cents, books = trained_rows
    rows = [("coarse", int(cell), 0, list(c)) for cell, c in cents] + [
        ("pq", int(blk), int(cl), list(c)) for blk, cl, c in books
    ]
    return rows, _PACKED_IVFPQ_SCHEMA


def _ivfpq_locals(rows: list) -> tuple[list, list]:
    """Driver-side unpack of the cached packed-quantizer rows
    (part, a, b, centroid) into (cents, books) — the shapes
    _encode_with_payload / _coarse_row_from_local / _codebook_row_from_local
    take, skipping every frame round trip."""
    cents = sorted(
        (int(a), list(c)) for part, a, _b, c in rows if part == "coarse"
    )
    blocks: dict[int, dict[int, list]] = {}
    for part, a, b, c in rows:
        if part == "pq":
            blocks.setdefault(int(a), {})[int(b)] = list(c)
    books = [[blocks[b][c] for c in sorted(blocks[b])] for b in sorted(blocks)]
    return cents, books


@register(
    "q_ann_ivfpq",
    oracle=None,  # approximate recall by design — rows-only + recall floor
    doc="IVF-PQ ANN with exact refine (operators/similarity.ivfpq_train/"
    "ivfpq_encode/ivfpq_topk_rerank) — the FAISS IndexIVFPQ combo and the "
    "actual memory-bound 100 TB serving layout: a 10-cell coarse "
    "quantizer prunes the scan to nprobe=2 cells, m=8 sub-codebooks of "
    "32 centroids encode each vector's RESIDUAL (vs its cell centroid — "
    "the coarse level absorbs between-cell variance so the codes model "
    "only within-cell spread), ADC over the probed cells' codes "
    "nominates 50 candidates, exact cosine re-ranks candidates only. "
    "Work per query = nprobe/n_cells of the code scan at m lookups/row; "
    "raw vectors touched for candidates alone. tools/check_oracle.py "
    "enforces the 0.5 recall floor vs q_ann_cosine.",
    tags=("similarity", "approx"),
)
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.similarity import (
        _coarse_row_from_local,
        _codebook_row_from_local,
        _encode_with_payload,
        ivfpq_topk_rerank,
        ivfpq_train_rows,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    # both quantizer levels stay DRIVER-SIDE end to end (the
    # stored_ivfpq_topk sidecar discipline applied to the in-plan query):
    # straight into the Arrow encode op and the one-row probe/LUT
    # broadcast frames — no createDataFrame→collect round trips
    rows, _ = _cached_model_rows(
        spark,
        ("ivfpq", sf_dir, 10, 8, 32, 4),
        lambda: _pack_ivfpq_rows(
            ivfpq_train_rows(emb, n_cells=10, m=8, k=32, iterations=4)
        ),
    )
    cents, books = _ivfpq_locals(rows)
    enc = _encode_with_payload(emb, cents, books, "vec_id", "embedding")
    return ivfpq_topk_rerank(
        enc,
        None,  # unused — coarse_row / codebook_row carry the quantizer
        None,
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        nprobe=2,
        n_candidates=50,
        coarse_row=_coarse_row_from_local(spark, cents),
        codebook_row=_codebook_row_from_local(spark, books),
    )


@register(
    "q_ann_recall_contract",
    # The ANN outputs themselves are hash-specific (rows-only queries);
    # what IS cross-engine checkable is the RECALL CONTRACT: every method
    # is deterministic (hash-derived hyperplanes, smallest-id k-means
    # seeds, fixed fold orders), so recall@10 against the exact top-10 is
    # a reproducible number — the query computes it in-plan and emits the
    # floor verdicts as hash-checked booleans (the q_approx_stats
    # error-bound pattern applied to the ANN family).
    oracle="""
    SELECT 'ivf' AS method, TRUE AS recall_ok
    UNION ALL SELECT 'ivfpq', TRUE
    UNION ALL SELECT 'lsh', TRUE
    UNION ALL SELECT 'pq', TRUE
    """,
    doc="ANN recall contract: IVF / IVF-PQ / LSH / PQ top-10 vs the exact "
    "cosine top-10 for the same 5 queries, recall@10 >= 0.5 per method "
    "emitted as a hash-checked boolean — driver-recorded evidence for the "
    "four rows-only ANN paths (floors also enforced per-query by "
    "tools/check_oracle.py).",
    tags=("similarity", "approx"),
)
def q_ann_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Each leg runs as its OWN plan — identical to the standalone query,
    # so a session that already ran q_ann_ivf/.../q_ann_pq re-executes
    # from the codegen cache instead of compiling a four-leg composed
    # mega-plan (which was the row's entire cost: the embeddings table is
    # model-sized at every SF, so the old 23-exchange composition was
    # ~100% plan-compile). The collected sets are k·|queries| = 50 rows
    # per leg — metadata-sized by contract, never corpus rows; the floor
    # arithmetic on 250 ids is driver math, same discipline as the
    # centroid/bounds collects. The five legs are independent read-only
    # plans over the same tables, so they build and run CONCURRENTLY —
    # plan construction is driver-side Py4J chatter that leaves the
    # cluster idle, and the legs' jobs interleave into those gaps
    # (wall-clock ≈ the slowest leg, not the sum). Harness shuffle pin:
    # the embeddings table is fixed-size across SFs, so every leg
    # exchange at the session's 32 partitions is per-task fixed cost
    # (the bounded_shuffle contract-row rationale, session.py).
    from endtoend_etl_openmeteo_spark.session import bounded_shuffle, overlap

    def topk_set(fn) -> set:
        return {
            (r["q_id"], r["n_id"])
            for r in fn(spark, sf_dir).select("q_id", "n_id").collect()
        }

    methods = [
        ("ivf", q_ann_ivf),
        ("ivfpq", q_ann_ivfpq),
        ("lsh", q_ann_lsh),
        ("pq", q_ann_pq),
    ]
    with bounded_shuffle(spark, 8):
        exact, *found = overlap(
            partial(topk_set, q_ann_cosine),
            *(partial(topk_set, fn) for _, fn in methods),
        )
    # max(.., 1): an empty exact set (degenerate corpus) reads as recall
    # 0 -> False verdicts, never a ZeroDivisionError
    rows = [
        (name, len(exact & got) / max(len(exact), 1) >= 0.5)
        for (name, _), got in zip(methods, found)
    ]
    return spark.createDataFrame(rows, "method string, recall_ok boolean")


@register(
    "q_ann_ivf_stored",
    # Stored-vs-in-plan equivalence is exactly checkable (same centroids,
    # same rounding, same tie-break), so the contract row hash-checks it.
    oracle="SELECT 'stored_equals_inplan' AS contract, TRUE AS ok",
    doc="IVF serving from a STORED index (operators/similarity."
    "write_ivf_index / stored_ivf_topk): cell-assigned vectors persisted "
    "partitionBy(cell) + a _quantizer.json centroid sidecar; a query "
    "batch collects its nprobe probe cells as literals so the scan's "
    "PartitionFilters prune every unprobed cell statically (pinned in "
    "tests/test_similarity.py). The contract asserts the stored path "
    "returns row-for-row the in-plan ivf_topk result for the same "
    "quantizer — build-once/serve-many with zero recall drift. The "
    "offline analog of q_ann_ivf, completing the FAISS split: train "
    "(sampled) -> assign+store (one distributed pass) -> serve (probed "
    "partitions only).",
    tags=("similarity", "approx"),
)
def q_ann_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from endtoend_etl_openmeteo_spark.operators.clusters import (
        kmeans_assign,
        kmeans_train_sampled_rows,
    )
    from endtoend_etl_openmeteo_spark.operators.similarity import (
        stored_ivf_topk,
        write_ivf_index,
    )
    from endtoend_etl_openmeteo_spark.session import (
        bounded_shuffle,
        overlap,
        pinned,
        scratch_dir,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    centroids = _cached_model(
        spark,
        ("ivf_kmeans", sf_dir, 10, 2),
        lambda: (kmeans_train_sampled_rows(emb, k=10, iterations=2), _CENTROID_SCHEMA),
    )
    # one assignment pass feeds BOTH the index write and the in-plan
    # comparator — lazily it re-runs the broadcast argmin per consumer
    assigned = (
        kmeans_assign(emb, centroids, keep_vec=True)
        .withColumnRenamed("id", "vec_id")
        .withColumnRenamed("vec", "embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5)

    def rows_of(df) -> list:
        return sorted(tuple(r) for r in df.collect())

    idx_dir = scratch_dir(prefix="ivf_idx_")
    # Harness shuffle pin: the whole lifecycle materializes inside, and
    # the embeddings table is fixed-size across SFs, so every exchange at
    # the session's 32 partitions is per-task fixed cost. Both serving
    # branches are k·|queries| rows by contract — collected CONCURRENTLY
    # and multiset-compared driver-side (the q_ann_recall_contract
    # treatment: wall-clock ≈ the slower branch, no two-way exceptAll
    # plan on top).
    try:
        with pinned(assigned) as cells, bounded_shuffle(spark, 8):
            write_ivf_index(cells, centroids, idx_dir, cell_col="cluster")
            stored, inplan = overlap(
                partial(
                    rows_of, stored_ivf_topk(spark, idx_dir, queries, k=10, nprobe=2)
                ),
                partial(
                    rows_of,
                    ivf_topk(
                        cells,
                        queries,
                        cell_col="cluster",
                        k=10,
                        nprobe=2,
                        centroids=centroids.withColumnRenamed("cluster", "cell"),
                    ),
                ),
            )
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    ok = bool(stored) and stored == inplan
    return spark.createDataFrame(
        [("stored_equals_inplan", ok)], "contract string, ok boolean"
    )


@register(
    "q_ann_ivfpq_stored",
    # Same exact-equivalence discipline as q_ann_ivf_stored: given one
    # quantizer and one set of codes, the stored serving path must return
    # row-for-row the in-plan ivfpq_topk_rerank result (same rounding,
    # same tie-breaks), so the contract is hash-checkable.
    oracle="SELECT 'stored_equals_inplan' AS contract, TRUE AS ok",
    doc="IVF-PQ serving from a STORED index (operators/similarity."
    "write_ivfpq_index / stored_ivfpq_topk): the ivfpq_encode codes "
    "persisted partitionBy(cell) with BOTH quantizer levels in the "
    "_quantizer.json sidecar — the on-disk FAISS IndexIVFPQ and the "
    "memory-bound 100 TB serving combo: probed cells' code partitions "
    "are the only data read (PartitionFilters prune the rest), raw "
    "vectors stay in the corpus table and are fetched for nominated "
    "candidates alone. The contract asserts stored serving equals the "
    "in-plan result row-for-row; append (sidecar re-encode, O(batch)) "
    "and compaction (file moves, never cell moves) are proven "
    "serving-equal in tests/test_similarity.py.",
    tags=("similarity", "approx"),
)
def q_ann_ivfpq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from endtoend_etl_openmeteo_spark.operators.similarity import (
        _coarse_row_from_local,
        _codebook_row_from_local,
        _encode_with_payload,
        ivfpq_topk_rerank,
        ivfpq_train_rows,
        stored_ivfpq_topk,
        write_ivfpq_index,
    )
    from endtoend_etl_openmeteo_spark.session import (
        bounded_shuffle,
        overlap,
        pinned,
        scratch_dir,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    # quantizer stays driver-side end to end (encode op, sidecar write,
    # probe/LUT broadcast rows) — the q_ann_ivfpq fast path
    rows, _ = _cached_model_rows(
        spark,
        ("ivfpq", sf_dir, 10, 8, 32, 4),
        lambda: _pack_ivfpq_rows(
            ivfpq_train_rows(emb, n_cells=10, m=8, k=32, iterations=4)
        ),
    )
    cents, books = _ivfpq_locals(rows)
    queries = emb.filter(F.col("vec_id") < 5)

    def rows_of(df) -> list:
        return sorted(tuple(r) for r in df.collect())

    idx_dir = scratch_dir(prefix="ivfpq_idx_")
    # one Arrow encode pass feeds BOTH the index write and the in-plan
    # comparator (lazily each consumer would re-encode). Harness shuffle
    # pin: embeddings is fixed-size across SFs and every branch
    # materializes inside the pin (the q_ann_ivf_stored rationale). Both
    # serving branches are k·|queries| rows by contract — collected
    # concurrently, multiset-compared driver-side.
    try:
        with pinned(
            _encode_with_payload(emb, cents, books, "vec_id", "embedding")
        ) as enc, bounded_shuffle(spark, 8):
            write_ivfpq_index(
                enc, None, None, idx_dir, quantizer_locals=(cents, books)
            )
            stored, inplan = overlap(
                partial(
                    rows_of,
                    stored_ivfpq_topk(
                        spark, idx_dir, emb, queries, k=10, nprobe=2,
                        n_candidates=50,
                    ),
                ),
                partial(
                    rows_of,
                    ivfpq_topk_rerank(
                        enc, None, None, emb, queries,
                        k=10, nprobe=2, n_candidates=50,
                        coarse_row=_coarse_row_from_local(spark, cents),
                        codebook_row=_codebook_row_from_local(spark, books),
                    ),
                ),
            )
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    ok = bool(stored) and stored == inplan
    return spark.createDataFrame(
        [("stored_equals_inplan", ok)], "contract string, ok boolean"
    )


@register(
    "q_ann_index_delete",
    # The deletion lifecycle is exactly checkable: tombstoned ids must
    # vanish from serving immediately, post-delete serving must equal
    # the in-plan rerank over the corpus MINUS the deleted rows (same
    # quantizer, deterministic codes, pinned tie-breaks), and the vacuum
    # tick must change nothing served while physically removing the rows.
    oracle="""
    SELECT 'deleted_hidden_from_visible_content' AS contract, TRUE AS ok
    UNION ALL SELECT 'vacuum_physical_and_content_stable', TRUE
    """,
    doc="Deletion lifecycle for the stored ANN index (operators/"
    "similarity.delete_from_stored_index / vacuum_index_tombstones) — "
    "FAISS remove_ids made durable: deletes land as PARTITION-HINTED "
    "tombstones ((id, cell=<c>) — the deleter has the encoded cells in "
    "hand) in an _tombstones/ sidecar (O(deletes), no rewrite), serving "
    "hides them with a broadcast anti-join, and the vacuum tick prunes "
    "its discovery scan to the hinted cells and rewrites ONLY the "
    "partitions holding a deleted row (dynamic overwrite; survivor-less "
    "partitions deleted explicitly) before clearing the sidecar — "
    "O(touched partitions) end to end, never O(index). Contracts "
    "hash-checked on the VISIBLE (id, cell, codes) "
    "content — post-delete it equals one batch encode of the surviving "
    "corpus, and post-vacuum the physical content equals the same set "
    "with the sidecar gone. Serving equality follows via "
    "q_ann_ivfpq_stored's stored-equals-inplan row (the "
    "q_ann_stream_ingest reasoning — codes are deterministic and the "
    "serve path is content-functional); the full delete→serve→vacuum→"
    "serve equality is additionally pinned end-to-end in "
    "tests/test_similarity.py and tests/test_ann_ingest.py for both "
    "layouts.",
    tags=("similarity", "approx"),
)
def q_ann_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        _read_tombstones,
        delete_from_stored_index,
        vacuum_index_tombstones,
    )
    from endtoend_etl_openmeteo_spark.operators.similarity import (
        _encode_with_payload,
        ivfpq_train_rows,
        write_ivfpq_index,
    )
    from endtoend_etl_openmeteo_spark.session import (
        bounded_shuffle,
        overlap,
        pinned,
        scratch_dir,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    rows, _ = _cached_model_rows(
        spark,
        ("ivfpq", sf_dir, 10, 8, 32, 4),
        lambda: _pack_ivfpq_rows(
            ivfpq_train_rows(emb, n_cells=10, m=8, k=32, iterations=4)
        ),
    )
    cents, books = _ivfpq_locals(rows)
    idx_dir = scratch_dir(prefix="ivfpq_del_")
    # deterministic victims present in every SF's corpus
    victims = [5, 6, 7]

    def content(apply_tombstones: bool) -> set:
        scan = spark.read.parquet(idx_dir).select(
            "id", F.col("cell").cast("int").alias("cell"), "codes"
        )
        if apply_tombstones:
            tomb = _read_tombstones(spark, idx_dir)
            if tomb is not None:
                scan = scan.join(F.broadcast(tomb), "id", "left_anti")
        return {(r["id"], r["cell"], tuple(r["codes"])) for r in scan.collect()}

    try:
        # Harness shuffle pin: fixed-size embeddings, lifecycle proof —
        # the q_ann_ivfpq_stored rationale. The survivor set is a pure
        # read of the checkpointed encode frame — it never touches the
        # index dir, so it runs CONCURRENTLY with build→delete→visible-
        # content.
        with pinned(
            _encode_with_payload(emb, cents, books, "vec_id", "embedding")
        ) as enc, bounded_shuffle(spark, 8):

            def build_delete_visible() -> set:
                write_ivfpq_index(
                    enc, None, None, idx_dir, quantizer_locals=(cents, books)
                )
                # hinted delete: the encoded cells are in hand, so the
                # tombstones name their partitions and the vacuum below
                # discovers against ONLY those cells (the 100-TB shape)
                hints = enc.filter(F.col("id").isin(victims)).select(
                    "id",
                    F.concat(
                        F.lit("cell="), F.col("cell").cast("string")
                    ).alias("part"),
                )
                delete_from_stored_index(spark, hints, idx_dir)
                return content(apply_tombstones=True)

            def survivor_set() -> set:
                return {
                    (r["id"], r["cell"], tuple(r["codes"]))
                    for r in enc.filter(~F.col("id").isin(victims)).collect()
                }

            visible, survivors = overlap(build_delete_visible, survivor_set)
            hidden = bool(survivors) and visible == survivors
            stats = vacuum_index_tombstones(spark, idx_dir)
            vacuum_ok = (
                stats["rows_removed"] == len(victims)
                and _read_tombstones(spark, idx_dir) is None
                and content(apply_tombstones=False) == survivors
            )
        return spark.createDataFrame(
            [
                ("deleted_hidden_from_visible_content", hidden),
                ("vacuum_physical_and_content_stable", vacuum_ok),
            ],
            "contract string, ok boolean",
        )
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)


@register(
    "q_ann_stream_ingest",
    # Streaming-equals-batch is exactly checkable: the sidecar quantizers
    # are fixed, encode is deterministic, and serving tie-breaks are
    # pinned — so the streamed index must serve row-for-row what one
    # batch encode of the same vectors serves.
    oracle="""
    SELECT 'ingested_complete' AS contract, TRUE AS ok
    UNION ALL SELECT 'stream_equals_batch', TRUE
    """,
    doc="Continuous embedding ingestion into a servable ANN index "
    "(streaming/pipeline.run_streaming_ann_ingest + operators/similarity."
    "init_streamed_ivfpq_index/append_streamed_ivfpq): two landing waves "
    "stream through one exactly-once lifecycle (maxFilesPerTrigger=1) "
    "into the stream-managed IVF-PQ layout — each epoch dynamically "
    "overwrites its own _epoch partitions, so replays rewrite instead of "
    "duplicating. Contracts: every landed vector is ingested exactly "
    "once, and the streamed index's (id, cell, codes) content equals one "
    "batch encode of the same vectors (serving equality then follows via "
    "q_ann_ivfpq_stored's stored-equals-inplan row) — the train-offline/"
    "add-forever retrieval-pipeline shape, kill-and-resume, replay "
    "idempotence, and consolidation pinned in tests/test_ann_ingest.py.",
    tags=("similarity", "streaming"),
)
def q_ann_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from endtoend_etl_openmeteo_spark.operators.similarity import (
        _encode_with_payload,
        init_streamed_ivfpq_index,
        ivfpq_train_rows,
    )
    from endtoend_etl_openmeteo_spark.session import (
        bounded_shuffle,
        pinned,
        scratch_dir,
    )
    from endtoend_etl_openmeteo_spark.streaming import run_streaming_ann_ingest

    emb = tbl(spark, sf_dir, "embeddings")
    # quantizer stays driver-side (sidecar write + batch comparator) —
    # the q_ann_ivfpq fast path
    rows, _ = _cached_model_rows(
        spark,
        ("ivfpq", sf_dir, 10, 8, 32, 4),
        lambda: _pack_ivfpq_rows(
            ivfpq_train_rows(emb, n_cells=10, m=8, k=32, iterations=4)
        ),
    )
    cents, books = _ivfpq_locals(rows)
    half = emb.agg((F.max("vec_id") / 2).cast("long")).collect()[0][0]
    work = scratch_dir(prefix="ann_ingest_")
    landing, index = f"{work}/landing", f"{work}/index"
    try:
        init_streamed_ivfpq_index(
            None, None, None, index, quantizer_locals=(cents, books)
        )
        vecs = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        # two single-file waves -> two micro-batches of one lifecycle;
        # wave order pinned with explicit mtimes (the q_corpus_ingest
        # harness shape)
        vecs.filter(F.col("vec_id") <= half).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        wave1 = {(landing, f) for f in os.listdir(landing)}
        vecs.filter(F.col("vec_id") > half).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        from endtoend_etl_openmeteo_spark.plans.stream_harness import (
            await_or_raise,
            stamp_wave_mtimes,
        )

        stamp_wave_mtimes([landing], [wave1])
        # epochs are metadata-sized here — pin the streaming lifecycle's
        # shuffle width (the q_corpus_ingest treatment); production sizes
        # this to the arrival rate
        with bounded_shuffle(spark, 4):
            await_or_raise(
                run_streaming_ann_ingest(
                    spark, landing, index, f"{work}/ckpt",
                    "vec_id bigint, embedding array<double>",
                    max_files_per_trigger=1,
                )
            )

        # INDEX-CONTENT equality, the sharp form of stream-equals-batch:
        # encode is deterministic given the sidecar quantizers, so the
        # streamed index's (id, cell, codes) set must equal one batch
        # encode of the same vectors — and serving equality follows via
        # q_ann_ivfpq_stored's stored-equals-inplan contract (no need to
        # run two full rerank pipelines here).
        with bounded_shuffle(spark, 8), pinned(
            spark.read.parquet(index).select(
                "id", F.col("cell").cast("int").alias("cell"), "codes"
            )
        ) as streamed, pinned(
            _encode_with_payload(emb, cents, books, "vec_id", "embedding")
        ) as batch:
            n_total = emb.count()
            complete = (
                streamed.groupBy()
                .agg(
                    (
                        (F.count("*") == F.lit(n_total))
                        & (F.count_distinct("id") == F.lit(n_total))
                    ).alias("ok")
                )
                .select(F.lit("ingested_complete").alias("contract"), "ok")
            )
            diff = streamed.exceptAll(batch).unionByName(batch.exceptAll(streamed))
            equal = (
                diff.groupBy()
                .agg((F.count("*") == 0).alias("ok"))
                .select(F.lit("stream_equals_batch").alias("contract"), "ok")
            )
            return complete.unionByName(equal).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
