"""Similarity search over embedding columns (SURVEY.md §7 step 7).

Brute-force cosine top-k as the exact baseline, and an LSH-bucketed variant
(random-hyperplane signs) as the scale path. Everything is built-in array
ops (`zip_with`/`aggregate`) — JVM-side, no Python in the hot loop.

Scale design: queries are broadcast (a query batch is small by definition);
the corpus never shuffles for brute force — each partition scores its rows
against the broadcast queries and TakeOrderedAndProject / per-query window
keeps k. The LSH variant buckets the corpus by hyperplane sign bits so only
matching buckets are scored (recall < 1, tunable via bands).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark import fsio


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns, left-to-right sum."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; null (ranked last) for zero-norm vectors instead
    of an ANSI divide-by-zero abort — one padding/failed-encoder row must
    not kill a corpus-wide top-k job."""
    return dot(a, b) / F.nullif(F.sqrt(dot(a, a) * dot(b, b)), F.lit(0.0))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact brute-force cosine top-k: (q_id, n_id, cos_sim, rank).

    Similarity is rounded to 6dp BEFORE ranking so rank order is stable
    across engines/partitionings; ties break on neighbor id.
    """
    from pyspark.sql import Window

    from endtoend_etl_openmeteo_spark.operators.dedup import cpu_parallelize

    # Norms are per-ROW quantities — compute each once, not once per pair
    # (the naive cosine() call would fold 3 arrays per candidate pair; with
    # precomputed norms the pair loop folds exactly one). The oracle SQL
    # uses the same sqrt(qq)*sqrt(nn) association so 6dp rounding matches
    # bit-for-bit across engines.
    vec = F.col(vec_col).cast("array<double>")
    q = queries.select(
        F.col(id_col).alias("q_id"),
        vec.alias("q_vec"),
    ).withColumn("q_norm", F.sqrt(dot(F.col("q_vec"), F.col("q_vec"))))
    c = cpu_parallelize(corpus).select(
        F.col(id_col).alias("n_id"),
        vec.alias("n_vec"),
    ).withColumn("n_norm", F.sqrt(dot(F.col("n_vec"), F.col("n_vec"))))
    cos = dot(F.col("q_vec"), F.col("n_vec")) / F.nullif(
        F.col("q_norm") * F.col("n_norm"), F.lit(0.0)
    )
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", F.round(cos, 6).alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_id: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= threshold).

    The exact all-pairs form — O(n²) by construction, so callers bound it
    (``max_id``) and use it as the VERIFY stage; candidate generation at
    scale is lsh_bucketed_topk's hyperplane buckets, mirroring the
    MinHash-LSH / exact-Jaccard split in operators/dedup.py.
    """
    from endtoend_etl_openmeteo_spark.operators.dedup import cpu_parallelize

    base = corpus
    if max_id is not None:
        base = base.filter(F.col(id_col) < max_id)
    d = cpu_parallelize(base).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    a, b = d.alias("a"), d.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / F.nullif(
        F.col("a.nrm") * F.col("b.nrm"), F.lit(0.0)
    )
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    k: int = 10,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse cells + probe the nearest nprobe
    cells per query.

    The coarse quantizer is either ``centroids`` (cluster/cell, centroid
    array — e.g. k-means-trained, the offline-refresh pattern at scale) or,
    when omitted, the per-``cell_col`` mean computed from the corpus itself.
    Plan shape: the centroid set rides as ONE packed broadcast row, so probe
    selection (top-nprobe cells per query) is a map-side array_sort+slice
    inside codegen — no exchange, no per-query window sort; the corpus is
    scored only against queries probing its cell — the fraction of work vs
    brute force is nprobe/n_cells.
    """
    from pyspark.sql import Window

    vec = F.col(vec_col).cast("array<double>")
    corpus_v = corpus.select(
        F.col(id_col).alias("n_id"), vec.alias("n_vec"), F.col(cell_col).alias("cell")
    )
    if centroids is not None:
        cent = centroids.select(
            F.col(centroids.columns[0]).alias("cell"),
            F.col(centroids.columns[1]).cast("array<double>").alias("centroid"),
        )
    else:
        # centroid per cell: posexplode + avg, reassembled with array_agg by pos
        cent = (
            corpus_v.select("cell", F.posexplode("n_vec"))
            .groupBy("cell", "pos")
            .agg(F.avg("col").alias("c"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
            .select("cell", F.transform("pc", lambda s: s["c"]).alias("centroid"))
        )
    # Pack all (cell, centroid) pairs into one row. Driver-resident
    # quantizers (the sampled-training path) skip the aggregate job.
    if cent.isLocal():
        local = sorted(((r["cell"], list(r["centroid"])) for r in cent.collect()))
        cell_t = dict(cent.dtypes)["cell"]
        cents_row = cent.sparkSession.createDataFrame(
            [(local,)],
            f"cents array<struct<cell:{cell_t},centroid:array<double>>>",
        )
    else:
        cents_row = cent.groupBy().agg(
            F.array_sort(F.collect_list(F.struct("cell", "centroid"))).alias("cents")
        )
    q = queries.select(F.col(id_col).alias("q_id"), vec.alias("q_vec"))
    # probe assignment: top-nprobe cells by query→centroid cosine, computed
    # per query row against the packed centroid array. struct(neg_cos, cell)
    # ascending == (cosine desc, cell asc) — same order the window gave.
    ranked = F.transform(
        F.col("cents"),
        lambda s: F.struct(
            (-F.round(cosine(F.col("q_vec"), s["centroid"]), 9)).alias("neg"),
            s["cell"].alias("cell"),
        ),
    )
    probes = (
        q.crossJoin(F.broadcast(cents_row))
        .select(
            "q_id",
            "q_vec",
            F.explode(F.slice(F.array_sort(ranked), 1, nprobe)).alias("probe"),
        )
        .select("q_id", "q_vec", F.col("probe.cell").alias("cell"))
    )
    scored = corpus_v.join(F.broadcast(probes), "cell").filter(
        F.col("q_id") != F.col("n_id")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("n_id")
    )
    return (
        scored.select(
            "q_id",
            "n_id",
            F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from a counter hash.

    Pure-python xorshift on (plane, dim-index) — reproducible without numpy
    state, so the plan is the same on every executor.
    """
    vals = []
    for d in range(dim):
        x = (plane * 0x9E3779B97F4A7C15 + d * 0xBF58476D1CE4E5B9 + 0x94D049BB133111EB) & (
            2**64 - 1
        )
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) & (2**64 - 1)
        x ^= x >> 27
        vals.append(((x & 0xFFFF) / 32768.0) - 1.0)  # [-1, 1)
    return vals


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    k: int = 10,
) -> DataFrame:
    """Approximate cosine top-k via MULTI-TABLE random-hyperplane LSH.

    Each of ``n_tables`` hash tables buckets vectors by the sign pattern of
    ``n_planes`` hyperplanes; a candidate is any corpus vector sharing a
    bucket with the query in ANY table (the OR-amplification that single-
    table sign-LSH lacks — one table of p planes scans ~2^-p of the corpus
    and recall collapses on diffuse data). Tuning: recall rises with
    n_tables, falls with n_planes; cost ≈ n_tables/2^n_planes of brute force.
    """
    from pyspark.sql import Window

    from endtoend_etl_openmeteo_spark.operators.dedup import cpu_parallelize

    # All n_tables*n_planes projections in ONE Arrow-batched matmul — the
    # canonical "Pandas UDF beats built-ins" case: per-element JVM folds
    # would traverse each vector 32x; numpy does (batch x dim) @ (dim x 32)
    # in one BLAS call. The plane matrix is deterministic (seeded counter
    # hash), so every executor derives identical planes.
    import numpy as np

    planes = np.array(
        [_hyperplane(dim, i) for i in range(n_tables * n_planes)]
    ).T  # (dim, n_tables*n_planes)
    weights = (2 ** np.arange(n_planes)).reshape(1, n_planes)

    def bucketize(id_name: str, vec_name: str):
        out_schema = f"{id_name} long, {vec_name} array<double>, t int, b long"

        def op(batches):
            for pdf in batches:
                vecs = np.stack(pdf[vec_name].to_numpy())  # (n, dim)
                signs = (vecs @ planes) > 0  # (n, tables*planes)
                bits = signs.reshape(len(pdf), n_tables, n_planes)
                buckets = (bits * weights).sum(axis=2)  # (n, tables)
                import pandas as pd

                yield pd.DataFrame(
                    {
                        id_name: pdf[id_name].to_numpy().repeat(n_tables),
                        vec_name: pdf[vec_name].to_numpy().repeat(n_tables),
                        "t": np.tile(np.arange(n_tables), len(pdf)),
                        "b": buckets.reshape(-1),
                    }
                )

        return op, out_schema

    q_op, q_schema = bucketize("q_id", "q_vec")
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).cast("array<double>").alias("q_vec")
    ).mapInPandas(q_op, schema=q_schema)
    c_op, c_schema = bucketize("n_id", "n_vec")
    c = cpu_parallelize(corpus).select(
        F.col(id_col).alias("n_id"), F.col(vec_col).cast("array<double>").alias("n_vec")
    ).mapInPandas(c_op, schema=c_schema)

    candidates = (
        c.join(F.broadcast(q), ["t", "b"])
        .filter(F.col("q_id") != F.col("n_id"))
        .dropDuplicates(["q_id", "n_id"])  # OR across tables, score once
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    return (
        candidates.select(
            "q_id",
            "n_id",
            F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iterations: int = 4,
    max_sample: int = 100_000,
) -> DataFrame:
    """Train product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search") — m sub-codebooks of k
    centroids over dim/m-wide vector slices.

    Vectors are unit-normalized first so squared-L2 ADC ranking matches
    cosine ranking (for unit vectors ||a-b||^2 = 2 - 2*cos). Training runs
    driver-side on a bounded smallest-id sample (the FAISS pattern — see
    kmeans_train_sampled) with per-block Lloyd's in numpy; deterministic
    (smallest-id seeds, fixed iterations).

    Returns codebooks(block int, cluster int, centroid array<double>) —
    m*k rows, broadcastable anywhere.
    """
    spark = corpus.sparkSession
    return spark.createDataFrame(
        pq_train_rows(corpus, id_col, vec_col, m, k, iterations, max_sample),
        "block int, cluster int, centroid array<double>",
    )


def pq_train_rows(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iterations: int = 4,
    max_sample: int = 100_000,
) -> list[tuple[int, int, list[float]]]:
    """:func:`pq_train` without the trailing createDataFrame — the
    (block, cluster, centroid) rows stay DRIVER-SIDE for consumers that
    cache/broadcast them directly (the one Spark job in the path is the
    bounded sample collect; packing model-sized rows through a frame and
    collecting them back was measured ~2 s of pure round-trip on a cold
    session)."""
    x = _sampled_unit_matrix(corpus, id_col, vec_col, max_sample)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    out: list[tuple[int, int, list[float]]] = []
    for b in range(m):
        cent = _lloyd(x[:, b * d : (b + 1) * d], k, iterations, f"pq block {b}")
        out.extend(
            (b, c, [float(v) for v in cent[c]]) for c in range(k)
        )
    return out


def _nulls_first_id(r) -> tuple:
    """Sort key replicating Spark's ascending nulls-first ordering for a
    driver-side row sort on ``id`` (shared by the small-corpus sample
    probes here and in operators/clusters.py)."""
    return (r["id"] is not None, r["id"] if r["id"] is not None else 0)


def _sampled_unit_matrix(
    corpus: DataFrame, id_col: str, vec_col: str, max_sample: int
):
    """The quantizer trainers' shared driver-side sample: smallest-id rows
    (deterministic, no RNG), unit-normalized so squared-L2 ranking matches
    cosine. Named error on an empty corpus instead of a numpy shape
    crash."""
    import numpy as np

    ids = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    # Cheap path first (the kmeans_train_sampled probe): an unordered
    # limit(max_sample + 1) collect needs no sort shuffle; getting fewer
    # rows back proves the table fits the sample, so the deterministic
    # smallest-ids order is a driver-side sort. Only a genuinely
    # oversized corpus pays the distributed TakeOrdered.
    rows = ids.limit(max_sample + 1).collect()
    if len(rows) > max_sample:
        rows = ids.orderBy("id").limit(max_sample).collect()
    else:
        # NULL-tolerant key matching orderBy('id')'s nulls-first ascending
        # order — a bare r['id'] key raises TypeError on a NULL id where
        # the distributed path sorted it first
        rows.sort(key=_nulls_first_id)
    if not rows:
        raise ValueError("cannot train a quantizer on an empty corpus")
    x = np.asarray([r["vec"] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(x, axis=1, keepdims=True)
    nrm[nrm == 0.0] = 1.0
    return x / nrm


def _lloyd(x, k: int, iterations: int, what: str):
    """Deterministic Lloyd's over a driver-side matrix: smallest-id seeds,
    fixed iteration count, empty clusters keep their seed — the ONE
    k-means loop every quantizer trainer shares. Named error when the
    sample can't seed k centroids (instead of a bare numpy IndexError)."""
    if len(x) < k:
        raise ValueError(
            f"{what}: sample has {len(x)} rows — cannot seed k={k} centroids"
        )
    cent = x[:k].copy()
    for _ in range(iterations):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def _pq_norm_vec(vec_col: str) -> Column:
    v = F.col(vec_col).cast("array<double>")
    nrm = F.nullif(F.sqrt(dot(v, v)), F.lit(0.0))
    return F.transform(v, lambda x: F.coalesce(x / nrm, F.lit(0.0)))


def _pq_codebook_row(codebooks: DataFrame) -> DataFrame:
    """ONE row: blocks array<array<array<double>>> — blocks[b][c] = centroid,
    cluster order pinned by array_sort on (block, cluster)."""
    return (
        codebooks.groupBy("block")
        .agg(F.array_sort(F.collect_list(F.struct("cluster", "centroid"))).alias("cs"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("block", "cs"))).alias("bs"))
        .select(
            F.transform(
                "bs", lambda b: F.transform(b["cs"], lambda s: s["centroid"])
            ).alias("blocks")
        )
    )


def _codebooks_local(codebooks: DataFrame) -> list[list[list[float]]]:
    """Collect the m*k-row codebook frame into blocks[b][c] = centroid —
    the driver-side shape the Arrow encode op broadcasts (quantizers are
    model-sized by contract: m*k rows regardless of corpus size)."""
    blocks: dict[int, dict[int, list[float]]] = {}
    for r in codebooks.collect():
        blocks.setdefault(int(r["block"]), {})[int(r["cluster"])] = list(r["centroid"])
    return [[blocks[b][c] for c in sorted(blocks[b])] for b in sorted(blocks)]


def _pq_assign_op(books: list, cents: list | None):
    """Arrow-batched PQ code assignment (optionally preceded by the IVF
    coarse assign) — the same "Pandas UDF beats built-ins" case as the LSH
    hyperplane matmul: per-element JVM folds traverse each vector m*k
    times (12M+ interpreted lambda evaluations per 2k rows at m=8/k*=32),
    numpy does the whole batch as dense (n x k x d) broadcasts. Distance
    formulation, normalization, and argmin-ties-to-lowest-code all match
    the trainers (ivfpq_train/pq_train) bit-for-bit, so codes are
    deterministic and identical across runs.

    Returns (op, schema) for mapInPandas over (id, vec) batches; output is
    (id, codes) or (id, cell, codes) when ``cents`` is given. Null or
    wrong-dimension vectors yield a null codes/cell row (the dirty-corpus
    contract the per-element JVM folds had: one bad embedding must not
    fail the whole encode job with an opaque ``np.stack`` ValueError).
    """
    import numpy as np

    books_a = np.asarray(books, dtype=np.float64)  # (m, k, d)
    # cents: [(cell_id, centroid), ...] — ids need not be contiguous;
    # sorted order makes argmin ties resolve to the lowest cell id
    cents_a = cell_ids = None
    if cents is not None:
        pairs = sorted((int(i), list(c)) for i, c in cents)
        cell_ids = np.asarray([i for i, _ in pairs], dtype=np.int32)
        cents_a = np.asarray([c for _, c in pairs], dtype=np.float64)
    m, _, d = books_a.shape
    schema = (
        "id long, codes array<int>"
        if cents_a is None
        else "id long, cell int, codes array<int>"
    )

    dim = m * d

    def op(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            vecs = pdf["vec"].to_numpy()
            valid = np.array(
                [v is not None and len(v) == dim for v in vecs], dtype=bool
            )
            n = len(pdf)
            codes_out = np.full(n, None, dtype=object)
            out = {"id": pdf["id"].to_numpy()}
            if cents_a is not None:
                out["cell"] = pd.array([None] * n, dtype="Int32")
            if valid.any():
                x = np.stack(vecs[valid]).astype(np.float64)  # (n_valid, dim)
                nrm = np.linalg.norm(x, axis=1, keepdims=True)
                nrm[nrm == 0.0] = 1.0
                x = x / nrm
                if cents_a is not None:
                    d2 = ((x[:, None, :] - cents_a[None, :, :]) ** 2).sum(axis=2)
                    nearest = d2.argmin(axis=1)  # ties -> lowest cell id
                    x = x - cents_a[nearest]
                    out["cell"][valid] = cell_ids[nearest]
                codes = np.empty((len(x), m), dtype=np.int32)
                for b in range(m):
                    xb = x[:, b * d : (b + 1) * d]
                    d2 = ((xb[:, None, :] - books_a[b][None, :, :]) ** 2).sum(axis=2)
                    codes[:, b] = d2.argmin(axis=1)  # ties -> lowest code
                # per-slot assignment: a masked object-array assign would
                # try to broadcast the (n_valid, m) code matrix into the
                # 1-D slot selection
                for j, row in zip(np.flatnonzero(valid), codes):
                    codes_out[j] = row
            out["codes"] = codes_out
            yield pd.DataFrame(out)

    return op, schema


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to m small codes (nearest sub-centroid per block)
    — 32x compression at m=8/k=16 vs float64, which is what makes a 100 TB
    embedding corpus scannable: the ADC search path reads codes, never raw
    vectors. Map-only: the codebooks ride driver-side into one Arrow-batched
    numpy pass (_pq_assign_op — the allowlisted dense-linear-algebra seam,
    same rationale as the LSH matmul), the corpus never shuffles.

    Returns (id, codes array<int>) with codes[b] in [0, k).
    """
    from endtoend_etl_openmeteo_spark.operators.dedup import cpu_parallelize

    op, schema = _pq_assign_op(_codebooks_local(codebooks), None)
    v = cpu_parallelize(corpus).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    return v.mapInPandas(op, schema=schema)


def pq_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    codebook_row: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC): each
    query precomputes an m*k lookup table of partial squared distances to
    every sub-centroid; a corpus row's distance is the sum of m table hits
    indexed by its codes — no raw corpus vectors touched at query time.

    Plan shape: the per-query LUTs (m*k doubles each) cross-join-broadcast
    onto the codes scan; scoring is a zip_with/aggregate fold in codegen;
    per-query top-k is one row_number window over (q_id). Work per corpus
    row is m lookups + adds, independent of dim.

    Returns (q_id, n_id, rank) — approximate neighbors ranked by ADC
    distance (ties -> lower id), self-matches excluded.
    """
    from pyspark.sql import Window

    dist2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), _pq_norm_vec(vec_col).alias("q_vec")
    )
    d = F.size(F.col("q_vec")) / F.size(F.col("blocks"))
    lut = F.transform(
        F.col("blocks"),
        lambda cents, bi: F.transform(
            cents,
            lambda c: dist2(
                F.slice(F.col("q_vec"), (bi * d + 1).cast("int"), d.cast("int")), c
            ),
        ),
    )
    # codebook_row: prebuilt one-row broadcast frame (driver-resident
    # quantizers — the _codebook_row_from_local path) skips the m*k-row
    # aggregation job
    cbr = codebook_row if codebook_row is not None else _pq_codebook_row(codebooks)
    qlut = q.crossJoin(F.broadcast(cbr)).select("q_id", lut.alias("lut"))
    adc = F.aggregate(
        F.zip_with(
            F.col("lut"), F.col("codes"), lambda t, c: F.element_at(t, c + 1)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc"), F.col("n_id"))
    return (
        codes.withColumnRenamed("id", "n_id")
        .crossJoin(F.broadcast(qlut))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", F.round(adc, 9).alias("adc"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank")
    )


def pq_topk_rerank(
    codes: DataFrame,
    codebooks: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_candidates: int = 50,
    codebook_row: DataFrame | None = None,
) -> DataFrame:
    """Two-stage PQ retrieval (the FAISS IVFADC+refine shape): ADC over the
    compressed codes nominates ``n_candidates`` per query, then ONLY those
    rows are re-scored with exact cosine against their raw vectors.

    This is the production 100 TB layout: the full corpus is scanned as
    codes (m bytes/vector), raw vectors are fetched for candidates alone —
    a per-query k-row-bounded semi-join, never a corpus scan. Measured here:
    candidate-pool recall ~0.8 vs the exact baseline at m=8/k*=32/C=50
    (ADC-only top-10 is ~0.3 — the quantization error the refine stage
    exists to absorb).

    Returns (q_id, n_id, cos_sim, rank) — same shape as cosine_topk.
    """
    cand = pq_topk(
        codes,
        codebooks,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        k=n_candidates,
        codebook_row=codebook_row,
    ).select("q_id", "n_id")
    return _exact_refine(cand, corpus, queries, id_col, vec_col, k)


def _exact_refine(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """The shared refine stage of every two-stage retrieval path
    (PQ, IVF-PQ, stored variants): nominated (q_id, n_id) candidates are
    re-scored with exact cosine against their raw vectors alone — a
    per-query candidate-bounded fetch, never a corpus scan. Rounding and
    (cos_sim desc, n_id) tie-breaks are THE serving contract every
    stored-vs-inplan equality row depends on — one copy, by design.

    Candidates are deduped on (q_id, n_id) first: a stored index can
    legitimately nominate the same neighbor twice (IVF-PQ multi-probe
    overlap after a crashed consolidation tick left duplicate id rows, or
    a vec_id re-ingested across epochs), and without the dedup each copy
    would take a distinct rank and crowd a legitimate neighbor out of the
    top-k. The dedup is k-bounded metadata (n_candidates rows per query),
    never corpus-sized."""
    from pyspark.sql import Window

    cand = cand.dropDuplicates(["q_id", "n_id"])
    raw = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).cast("array<double>").alias("n_vec")
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).cast("array<double>").alias("q_vec")
    )
    rescored = (
        cand.join(raw, "n_id")  # candidates are tiny — AQE broadcasts them
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "n_id",
            F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    return rescored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def ivfpq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 10,
    m: int = 8,
    k: int = 16,
    iterations: int = 4,
    coarse_iterations: int = 4,
    max_sample: int = 100_000,
) -> tuple[DataFrame, DataFrame]:
    """Train the two-level IVF-PQ quantizer (Jégou et al. 2011 §V, the
    FAISS ``IndexIVFPQ`` layout): a coarse k-means over the UNIT-normalized
    vector space, then m product-quantization sub-codebooks over the
    RESIDUALS (vec - its cell centroid). Residual encoding is what makes
    PQ codes sharp inside a cell — the coarse quantizer absorbs the
    between-cell variance, so the k* sub-centroids only have to model the
    within-cell spread (measured here: residual ADC candidates beat
    plain-PQ candidates at equal code size).

    Driver-side on a bounded smallest-id sample with fixed iterations
    (the kmeans_train_sampled / pq_train discipline — deterministic, no
    RNG). Returns (coarse, codebooks): coarse(cell int, centroid
    array<double>), codebooks(block int, cluster int, centroid
    array<double>) — n_cells + m*k rows, broadcastable anywhere.
    """
    cents, books = ivfpq_train_rows(
        corpus, id_col, vec_col, n_cells, m, k, iterations,
        coarse_iterations, max_sample,
    )
    spark = corpus.sparkSession
    coarse = spark.createDataFrame(cents, "cell int, centroid array<double>")
    codebooks = spark.createDataFrame(
        books, "block int, cluster int, centroid array<double>"
    )
    return coarse, codebooks


def ivfpq_train_rows(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 10,
    m: int = 8,
    k: int = 16,
    iterations: int = 4,
    coarse_iterations: int = 4,
    max_sample: int = 100_000,
) -> tuple[list[tuple[int, list[float]]], list[tuple[int, int, list[float]]]]:
    """:func:`ivfpq_train` without the trailing createDataFrames — the
    (cell, centroid) and (block, cluster, centroid) rows stay
    DRIVER-SIDE (the pq_train_rows rationale: both quantizer levels are
    model-sized and every consumer re-collects them anyway)."""
    x = _sampled_unit_matrix(corpus, id_col, vec_col, max_sample)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    cent = _lloyd(x, n_cells, coarse_iterations, "ivfpq coarse")
    assign = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    res = x - cent[assign]
    d = dim // m
    books: list[tuple[int, int, list[float]]] = []
    for b in range(m):
        cb = _lloyd(res[:, b * d : (b + 1) * d], k, iterations, f"ivfpq block {b}")
        books.extend((b, c, [float(v) for v in cb[c]]) for c in range(k))
    cents = [(int(c), [float(v) for v in cent[c]]) for c in range(n_cells)]
    return cents, books


def _coarse_row(coarse: DataFrame) -> DataFrame:
    """ONE packed row: cents array<struct<cell:int,centroid:array<double>>>
    sorted by cell — the ivf_topk broadcast shape for a driver-resident
    coarse quantizer."""
    local = sorted((int(r["cell"]), list(r["centroid"])) for r in coarse.collect())
    return coarse.sparkSession.createDataFrame(
        [(local,)], "cents array<struct<cell:int,centroid:array<double>>>"
    )


def _dist2(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivfpq_encode(
    corpus: DataFrame,
    coarse: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as (cell, m residual codes) — the IVF-PQ corpus
    layout: cell for the probe-time partition prune, m small codes for the
    ADC scan, raw vectors touched only by the refine stage. Map-only: both
    quantizer levels ride driver-side into ONE Arrow-batched numpy pass
    (_pq_assign_op: coarse argmin, residual subtraction, and per-block code
    argmin as dense batch matmuls — the allowlisted linear-algebra seam),
    the corpus never shuffles. At rest this is the layout
    ``write_ivf_index`` would persist partitionBy(cell) with the codebooks
    in the ``_quantizer.json`` sidecar.

    Returns (id, cell, codes array<int>).
    """
    from endtoend_etl_openmeteo_spark.operators.dedup import cpu_parallelize

    cents = [(int(r["cell"]), list(r["centroid"])) for r in coarse.collect()]
    op, schema = _pq_assign_op(_codebooks_local(codebooks), cents)
    v = cpu_parallelize(corpus).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    return v.mapInPandas(op, schema=schema)


def _coarse_row_from_local(spark, cents: list) -> DataFrame:
    """The _coarse_row one-row broadcast frame built from driver-side
    (cell, centroid) pairs — no collect job."""
    local = sorted((int(c), list(v)) for c, v in cents)
    return spark.createDataFrame(
        [(local,)], "cents array<struct<cell:int,centroid:array<double>>>"
    )


def _codebook_row_from_local(spark, books: list) -> DataFrame:
    """The _pq_codebook_row one-row broadcast frame built from driver-side
    blocks[b][c] centroids — no aggregation job."""
    return spark.createDataFrame(
        [(books,)], "blocks array<array<array<double>>>"
    )


def _ivfpq_probes(q: DataFrame, coarse_row: DataFrame, nprobe: int) -> DataFrame:
    """THE probe-selection expression — (q_id, q_vec, p struct<d2, cell,
    centroid>) with one row per (query, probed cell). Shared by
    ivfpq_topk_rerank and stored_ivfpq_topk so the stored scan's partition
    prune can never diverge from the rerank's probe set (a one-sided edit
    would silently drop probed cells from serving)."""
    ranked = F.transform(
        F.col("cents"),
        lambda s: F.struct(
            F.round(_dist2(F.col("q_vec"), s["centroid"]), 9).alias("d2"),
            s["cell"].alias("cell"),
            s["centroid"].alias("centroid"),
        ),
    )
    return q.crossJoin(F.broadcast(coarse_row)).select(
        "q_id",
        "q_vec",
        F.explode(F.slice(F.array_sort(ranked), 1, nprobe)).alias("p"),
    )


def ivfpq_topk_rerank(
    encoded: DataFrame,
    coarse: DataFrame,
    codebooks: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
    n_candidates: int = 50,
    coarse_row: DataFrame | None = None,
    codebook_row: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ retrieval with exact refine — the FAISS ``IndexIVFPQ`` +
    refine search path, the memory-bound 100 TB serving combo: probe
    ``nprobe`` cells per query (IVF prune: only those cells' code lists
    are scanned), score candidates by asymmetric distance against the
    query's RESIDUAL in each probed cell (per-(query, cell) m x k* LUT —
    the residual trick means one LUT per probe, not per corpus row),
    nominate ``n_candidates``, then re-rank those rows alone with exact
    cosine. Work per query: nprobe/n_cells of the code scan at m
    lookups+adds per row, plus a candidate-bounded raw fetch.

    Returns (q_id, n_id, cos_sim, rank) — the cosine_topk shape.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("q_id"), _pq_norm_vec(vec_col).alias("q_vec")
    )
    cr = coarse_row if coarse_row is not None else _coarse_row(coarse)
    cbr = codebook_row if codebook_row is not None else _pq_codebook_row(codebooks)
    probes = _ivfpq_probes(q, cr, nprobe).select(
        "q_id",
        F.col("p.cell").alias("cell"),
        F.zip_with("q_vec", F.col("p.centroid"), lambda x, c: x - c).alias("qr"),
    )
    d = F.size(F.col("qr")) / F.size(F.col("blocks"))
    lut = F.transform(
        F.col("blocks"),
        lambda cents, bi: F.transform(
            cents,
            lambda c: _dist2(
                F.slice(F.col("qr"), (bi * d + 1).cast("int"), d.cast("int")), c
            ),
        ),
    )
    qlut = probes.crossJoin(F.broadcast(cbr)).select(
        "q_id", "cell", lut.alias("lut")
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("lut"), F.col("codes"), lambda t, c: F.element_at(t, c + 1)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wc = Window.partitionBy("q_id").orderBy(F.col("adc"), F.col("n_id"))
    cand = (
        encoded.withColumnRenamed("id", "n_id")
        # per-(query, probed-cell) LUTs are nprobe rows/query — broadcast;
        # the join on cell IS the IVF prune: unprobed cells never score
        .join(F.broadcast(qlut), "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", F.round(adc, 9).alias("adc"))
        .withColumn("rank", F.row_number().over(wc))
        .filter(F.col("rank") <= n_candidates)
        .select("q_id", "n_id")
    )
    return _exact_refine(cand, corpus, queries, id_col, vec_col, k)


def _quantizer_path(index_path: str) -> str:
    return f"{index_path.rstrip('/')}/_quantizer.json"


def _write_quantizer(spark, index_path: str, payload: dict) -> None:
    """Write the stored-IVF quantizer sidecar through the Hadoop FS (not
    open()), so it lives wherever the vector data does (file:/hdfs:/s3:),
    same as the BM25 index's _stats.json."""
    payload_bytes = json.dumps(payload).encode("utf-8")
    fsio.write_bytes(spark, _quantizer_path(index_path), payload_bytes)


def _read_quantizer(spark, index_path: str) -> dict:
    return json.loads(fsio.read_bytes(spark, _quantizer_path(index_path)))


def write_ivf_index(
    cells: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> None:
    """Materialize an IVF index: cell-assigned vectors stored
    ``partitionBy("cell")`` plus a ``_quantizer.json`` sidecar holding the
    trained centroids (underscore-prefixed: invisible to Spark's data-file
    discovery — the ``_stats.json`` pattern of the stored BM25 index,
    operators/search.py).

    The stored layout IS the serving optimization: a query batch probes
    nprobe cells, and because ``cell`` is the partition column the scan
    plans ``PartitionFilters`` on it — Spark never lists, opens, or reads
    the other cells' files. Cell count is the knob: bounded directories
    (one per cell, FAISS nlist), each internally splittable, so the
    small-files failure mode of per-term/per-key layouts doesn't apply.
    """
    spark = cells.sparkSession
    (
        cells.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
            F.col(cell_col).alias("cell"),
        )
        # repartition(cell) before partitionBy(cell) — search.py's lesson:
        # without it every upstream task appends a file into every cell
        # directory (tasks x cells small files and one open writer per
        # cell per task); with it each task owns whole cells, one file
        # per cell.
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    cents = sorted(
        (int(r[0]), [float(x) for x in r[1]]) for r in centroids.collect()
    )
    _write_quantizer(spark, path, {"centroids": cents})


def stored_ivf_topk(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Serve IVF top-k from a :func:`write_ivf_index` layout, touching only
    the probed cells' partitions.

    Probe selection runs exactly like :func:`ivf_topk` (packed one-row
    centroid broadcast, map-side array_sort+slice). The DISTINCT probed
    cells — bounded by min(|queries|·nprobe, n_cells), a metadata-sized
    list — come back to the driver as literals for the scan's
    ``cell IN (...)`` predicate, which is what lets Catalyst prune
    partitions statically instead of joining first and pruning never.
    Scoring then matches ivf_topk row for row: same candidate set, same
    rounding, same (cos_sim desc, n_id) tie-break.
    """
    from pyspark.sql import Window

    cents = _read_quantizer(spark, path)["centroids"]
    cell_t = "bigint"
    cents_row = spark.createDataFrame(
        [([(int(c), list(v)) for c, v in cents],)],
        f"cents array<struct<cell:{cell_t},centroid:array<double>>>",
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).cast("array<double>").alias("q_vec")
    )
    ranked = F.transform(
        F.col("cents"),
        lambda s: F.struct(
            (-F.round(cosine(F.col("q_vec"), s["centroid"]), 9)).alias("neg"),
            s["cell"].alias("cell"),
        ),
    )
    probes = (
        q.crossJoin(F.broadcast(cents_row))
        .select(
            "q_id",
            "q_vec",
            F.explode(F.slice(F.array_sort(ranked), 1, nprobe)).alias("probe"),
        )
        .select("q_id", "q_vec", F.col("probe.cell").alias("cell"))
        # evaluated twice (cell-list collect + the scoring join) — a
        # |queries| x n_cells map stage, cheap enough to recompute rather
        # than pin a checkpoint block past the call
    )
    probe_cells = [r["cell"] for r in probes.select("cell").distinct().collect()]
    idx = spark.read.parquet(path).filter(F.col("cell").isin(probe_cells))
    # deleted ids hidden at serve time (the stored_ivfpq_topk discipline)
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        _read_tombstones,
    )

    tomb = _read_tombstones(spark, path, id_col="vec_id")
    if tomb is not None:
        idx = idx.join(F.broadcast(tomb), "vec_id", "left_anti")
    scored = idx.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec"), "cell"
    ).join(F.broadcast(probes), "cell").filter(F.col("q_id") != F.col("n_id"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    return (
        scored.select(
            "q_id",
            "n_id",
            F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def semdedup_pairs(
    corpus: DataFrame,
    k: int | str = 8,
    iterations: int = 3,
    iter_dp: int | None = 6,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    train: str = "full",
    target_cell_size: int = 1024,
) -> DataFrame:
    """Semantic near-duplicate pairs via cluster-bucketed cosine — SemDeDup
    (Abbas et al. 2023): k-means the embedding space, compare only within
    cells. Rows: (id_a, id_b, cluster, cos_sim) with id_a < id_b and
    cos_sim >= threshold, cosine rounded to 6dp BEFORE the threshold so a
    cross-engine float fold can't flip a borderline pair.

    The bucketing is the scale claim: exact all-pairs cosine
    (embedding_neardup_pairs) is O(n^2); within-cell pairs cost
    sum(|cell|^2) ~= n^2/k for balanced cells, and k grows with the
    corpus (SemDeDup uses 10k-100k cells at web scale), holding the cell
    quadratic bounded. Assignment itself is the shuffle-free broadcast
    argmin (operators/clusters.kmeans); the only exchanges are the
    id-keyed label join and the cluster-keyed self-join.

    Determinism: kmeans is deterministic (smallest-id seeds, per-round
    dp-rounded centroids), so the whole output is replicable in SQL —
    q_semdedup extends the q_kmeans unrolled-CTE oracle with one
    within-cluster pair join.

    ``centroids`` short-circuits training with an already-trained fixed
    point ((cluster, centroid) rows): assignment collapses to ONE
    shuffle-free broadcast-argmin pass over the corpus, and no id-keyed
    label join is needed — the train-once/assign-many production split.
    kmeans' final assignment is defined to equal kmeans_assign against
    its returned centroids, so both paths give identical pairs.

    The SCALE path is ``train="sampled"`` + ``k="auto"``: the quantizer
    trains on a bounded driver-side sample (kmeans_train_sampled — the
    FAISS coarse-quantizer discipline) and k grows with the corpus,
    k = clamp(n / target_cell_size, 8, 100_000) — SemDeDup's web-scale
    regime (10k-100k cells) — so the within-cell pair cost n^2/k scales
    LINEARLY in n at fixed cell size instead of quadratically
    (tools/scale_smoke.semdedup_smoke pins this). The declared q_semdedup
    keeps the deterministic corpus-resident fixed point for its exact
    cross-engine oracle.
    """
    from endtoend_etl_openmeteo_spark.operators.clusters import (
        kmeans,
        kmeans_assign,
        kmeans_train_sampled,
    )
    from endtoend_etl_openmeteo_spark.operators.dedup import cpu_parallelize

    if train not in ("full", "sampled"):
        raise ValueError(f"train must be 'full' or 'sampled', got {train!r}")
    if k == "auto":
        n = corpus.count()
        k = max(8, min(100_000, n // target_cell_size + 1))
    if centroids is None and train == "sampled":
        centroids = kmeans_train_sampled(
            corpus, k=k, iterations=iterations, id_col=id_col, vec_col=vec_col
        )
    if centroids is not None:
        d = kmeans_assign(
            corpus, centroids, id_col=id_col, vec_col=vec_col, keep_vec=True
        ).select("id", F.col("vec").alias("v"), "cluster").withColumn(
            "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
        )
    else:
        assignments, _ = kmeans(
            corpus, k=k, iterations=iterations,
            id_col=id_col, vec_col=vec_col, iter_dp=iter_dp,
        )
        d = (
            cpu_parallelize(corpus)
            .select(
                F.col(id_col).alias("id"),
                F.col(vec_col).cast("array<double>").alias("v"),
            )
            .join(assignments, "id")
            .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        )
    a, b = d.alias("a"), d.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / F.nullif(
        F.col("a.nrm") * F.col("b.nrm"), F.lit(0.0)
    )
    return (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.cluster").cast("long").alias("cluster"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def read_ivf_quantizer(spark, path: str) -> DataFrame:
    """The stored index's trained quantizer as a (cluster, centroid)
    DataFrame — read back through the same Hadoop-FS sidecar the writer
    used, so append/serve agree on the centroids byte-for-byte."""
    cents = _read_quantizer(spark, path)["centroids"]
    return spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cents],
        "cluster int, centroid array<double>",
    )


def append_ivf_index(
    spark,
    vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lease: bool = True,
) -> None:
    """Add a batch of new vectors to a stored :func:`write_ivf_index`
    layout — the FAISS ``add`` half of build-once/serve-many: the
    quantizer is NOT retrained; the batch is assigned to the existing
    cells (same squared-euclidean argmin the original build used, via
    the sidecar centroids) and appended under its ``cell=`` partitions.

    Serving (:func:`stored_ivf_topk`) needs no change: partition
    discovery picks up the new files, probe pruning still holds because
    cell membership is quantizer-consistent. Cost is O(batch): one
    map-side argmin + one cell-keyed exchange; existing cell files are
    never rewritten. (Quantizer drift under a shifting distribution is
    the signal to rebuild — the offline retrain path.)

    Takes the index's maintenance lease for the write (raises
    LeaseConflictError if a compaction tick or another append holds it —
    retry after it releases); ``lease=False`` only when the caller
    already holds it. A batch containing a currently-TOMBSTONED id is
    refused (TombstonedIdError): the serve-time anti-join would silently
    hide the re-ingested row until the next vacuum.
    """
    from endtoend_etl_openmeteo_spark.operators.clusters import kmeans_assign
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        index_lease,
        require_no_tombstoned_ids,
    )

    cents = read_ivf_quantizer(spark, path)
    assigned = kmeans_assign(vectors, cents, id_col=id_col, vec_col=vec_col,
                             keep_vec=True)
    out = assigned.select(
        F.col("id").alias("vec_id"),
        F.col("vec").alias("embedding"),
        F.col("cluster").alias("cell"),
    ).repartition(F.col("cell"))

    def write():
        require_no_tombstoned_ids(vectors.select(id_col), path, id_col=id_col)
        out.write.mode("append").partitionBy("cell").parquet(path)

    if lease:
        with index_lease(spark, path, owner="append_ivf"):
            write()
    else:
        write()


def compact_ivf_index(
    spark,
    path: str,
    max_files_per_cell: int = 4,
    target_rows_per_file: int = 500_000,
    lease: bool = True,
) -> dict:
    """Maintenance tick for a stored IVF layout: rewrite cells where
    :func:`append_ivf_index` batches have accreted more than
    ``max_files_per_cell`` files, right-sized to
    ``target_rows_per_file`` vectors per file. Non-fragmented cells and
    the ``_quantizer.json`` sidecar are untouched; serving
    (:func:`stored_ivf_topk`) is bit-for-bit unchanged — compaction
    moves rows between files, never between cells. Serialize with
    appends to the same index (one maintenance owner — the vt_maintain
    discipline; see operators/index_maintain.py)."""
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        compact_partitions,
    )

    return compact_partitions(
        spark,
        path,
        "cell",
        max_files=max_files_per_cell,
        target_rows_per_file=target_rows_per_file,
        lease=lease,
    )


def write_ivfpq_index(
    encoded: DataFrame,
    coarse: DataFrame,
    codebooks: DataFrame,
    path: str,
    quantizer_locals: tuple[list, list] | None = None,
) -> None:
    """Materialize an IVF-PQ index: the :func:`ivfpq_encode` codes stored
    ``partitionBy("cell")`` plus a ``_quantizer.json`` sidecar holding BOTH
    quantizer levels (coarse centroids + PQ codebooks) — the on-disk FAISS
    ``IndexIVFPQ``, and the layout that makes a 100 TB embedding corpus
    servable from RAM-sized scans: each partition holds m small codes per
    vector (32x compression), probe pruning skips unprobed cells entirely,
    and raw vectors stay in the corpus table, fetched only for the
    candidate refine. Same layout discipline as :func:`write_ivf_index`
    (repartition-before-partitionBy so each task owns whole cells; the
    underscore sidecar is invisible to data-file discovery)."""
    spark = encoded.sparkSession
    (
        encoded.select("id", "codes", "cell")
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    _write_ivfpq_sidecar(spark, path, coarse, codebooks, quantizer_locals)


def _write_ivfpq_sidecar(
    spark, path: str, coarse, codebooks, quantizer_locals=None
) -> None:
    """ONE sidecar serializer for every IVF-PQ layout (batch + streamed),
    so the format can never fork between writers. ``quantizer_locals`` =
    driver-resident (cents, books) — the _cached_model_rows path — skips
    the two frame collects."""
    if quantizer_locals is not None:
        raw_cents, raw_books = quantizer_locals
        cents = sorted(
            (int(c), [float(x) for x in v]) for c, v in raw_cents
        )
        books = [
            [[float(x) for x in cent] for cent in block] for block in raw_books
        ]
    else:
        cents = sorted(
            (int(r["cell"]), [float(x) for x in r["centroid"]])
            for r in coarse.collect()
        )
        books = _codebooks_local(codebooks)
    _write_quantizer(spark, path, {"centroids": cents, "codebooks": books})


def _ivfpq_quantizer_payload(spark, path: str) -> tuple[list, list]:
    """(centroid pairs, codebook blocks) straight from the sidecar JSON —
    the driver-side shape _pq_assign_op consumes, no Spark frames."""
    payload = _read_quantizer(spark, path)
    cents = [(int(c), [float(x) for x in v]) for c, v in payload["centroids"]]
    books = [
        [[float(x) for x in cent] for cent in block]
        for block in payload["codebooks"]
    ]
    return cents, books


def _encode_with_payload(
    corpus: DataFrame, cents: list, books: list, id_col: str, vec_col: str
) -> DataFrame:
    """ivfpq_encode against driver-side quantizer values (the sidecar
    payload) — skips the Spark-frame round-trip the DataFrame API pays."""
    from endtoend_etl_openmeteo_spark.operators.dedup import cpu_parallelize

    op, schema = _pq_assign_op(books, cents)
    v = cpu_parallelize(corpus).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    return v.mapInPandas(op, schema=schema)


def ivf_cells_for_vectors(
    spark,
    path: str,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, part) partition-hint frame for ``delete_from_stored_index``:
    assign each vector to its cell through the stored index's OWN sidecar
    coarse quantizer — the SAME assignment op the layout's build/append
    used (kmeans_assign for flat IVF, the Arrow PQ op for IVF-PQ /
    streamed), so the hint names exactly the partition holding the row.
    O(deletes × nlist) at delete time; the vacuum tick then prunes its
    discovery scan to the hinted ``cell=`` partitions instead of
    full-scanning the index (index_maintain.vacuum_index_tombstones).
    ``cell`` is the stable column for every layout — stream consolidation
    rewrites epochs, never cells."""
    from endtoend_etl_openmeteo_spark.operators.clusters import kmeans_assign

    # one sidecar read, then branch on its contents (the PQ branch needs
    # the raw payload shape _encode_with_payload consumes; the flat
    # branch builds its centroid frame from the same parse — never a
    # second filesystem read of _quantizer.json)
    payload = _read_quantizer(spark, path)
    cents = [(int(c), [float(x) for x in v]) for c, v in payload["centroids"]]
    if "codebooks" in payload:
        books = [
            [[float(x) for x in cent] for cent in block]
            for block in payload["codebooks"]
        ]
        assigned = _encode_with_payload(vectors, cents, books, id_col, vec_col)
    else:
        cent_df = spark.createDataFrame(
            cents, "cluster int, centroid array<double>"
        )
        assigned = kmeans_assign(
            vectors, cent_df, id_col=id_col, vec_col=vec_col
        ).select(F.col("id"), F.col("cluster").alias("cell"))
    return assigned.select(
        F.col("id"),
        F.concat(F.lit("cell="), F.col("cell").cast("string")).alias("part"),
    )


def append_ivfpq_index(
    spark,
    vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lease: bool = True,
) -> None:
    """FAISS ``add`` for the stored IVF-PQ layout: encode the batch with
    the index's OWN sidecar quantizers (never retrained — drift is the
    offline-rebuild signal) and append under its ``cell=`` partitions.
    Cost is O(batch): one Arrow encode pass + one cell-keyed exchange;
    existing files are never rewritten, serving needs no change. Takes
    the maintenance lease (the append_ivf_index discipline); a batch
    containing a currently-tombstoned id is refused
    (TombstonedIdError) — vacuum first."""
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        index_lease,
        require_no_tombstoned_ids,
    )

    cents, books = _ivfpq_quantizer_payload(spark, path)
    out = _encode_with_payload(vectors, cents, books, id_col, vec_col).repartition(
        F.col("cell")
    )

    def write():
        require_no_tombstoned_ids(vectors.select(id_col), path, id_col=id_col)
        out.write.mode("append").partitionBy("cell").parquet(path)

    if lease:
        with index_lease(spark, path, owner="append_ivfpq"):
            write()
    else:
        write()


def stored_ivfpq_topk(
    spark,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
    n_candidates: int = 50,
) -> DataFrame:
    """Serve IVF-PQ top-k from a :func:`write_ivfpq_index` layout,
    scanning only the probed cells' code partitions.

    Probe selection, the per-(query, cell) residual ADC LUT, candidate
    nomination, and the exact cosine refine all match
    :func:`ivfpq_topk_rerank` operation for operation (same rounding,
    same tie-breaks), so serving from the stored index returns
    row-for-row the in-plan result for the same quantizer and codes. The
    distinct probed cells come back as literals for the scan's
    ``cell IN (...)`` predicate — Catalyst prunes the unprobed
    partitions statically (the stored_ivf_topk discipline); raw vectors
    are fetched from ``corpus`` for the nominated candidates alone.

    The sidecar payload is parsed ONCE driver-side and fed to both the
    probe prune and the rerank as prebuilt one-row broadcast frames — no
    createDataFrame→collect round trips per serve call. An initialized
    index with no committed epoch yet (the add-forever deploy window)
    serves an empty result instead of failing schema inference."""
    from pyspark.errors import AnalysisException

    cents, books = _ivfpq_quantizer_payload(spark, path)
    cr = _coarse_row_from_local(spark, cents)
    cbr = _codebook_row_from_local(spark, books)
    q = queries.select(
        F.col(id_col).alias("q_id"), _pq_norm_vec(vec_col).alias("q_vec")
    )
    probe_cells = sorted(
        {
            int(r["cell"])
            for r in _ivfpq_probes(q, cr, nprobe)
            .select(F.col("p.cell").alias("cell"))
            .distinct()
            .collect()
        }
    )
    try:
        scan = spark.read.parquet(path)
    except AnalysisException:
        # quantizer sidecar present, zero data files committed yet
        scan = spark.createDataFrame([], "id long, cell int, codes array<int>")
    # dropDuplicates(id): a stream-managed layout can briefly hold the same
    # id twice (a consolidation tick that crashed between writing its
    # __seg_ segment and deleting the doomed epoch dirs, or a reader racing
    # that write-then-delete window — serving takes no lease). Encode is
    # deterministic, so any copy carries identical codes and the pick is
    # value-neutral; the dedup is bounded to the PROBED cells' codes, never
    # the whole index. vec_ids must be unique across epochs by contract —
    # re-ingesting an id with a CHANGED vector makes the surviving copy
    # arbitrary (consolidation's dropDuplicates keeps one, not the newest).
    encoded = (
        scan.filter(F.col("cell").isin(probe_cells))
        .select("id", F.col("cell").cast("int").alias("cell"), "codes")
        .dropDuplicates(["id"])
    )
    # deleted ids are hidden at serve time (broadcast anti-join over the
    # bounded tombstone set) until a vacuum tick rewrites them away
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        _read_tombstones,
    )

    tomb = _read_tombstones(spark, path)
    if tomb is not None:
        encoded = encoded.join(F.broadcast(tomb), "id", "left_anti")
    return ivfpq_topk_rerank(
        encoded,
        None,  # unused — coarse_row / codebook_row carry the quantizer
        None,
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        nprobe=nprobe,
        n_candidates=n_candidates,
        coarse_row=cr,
        codebook_row=cbr,
    )


def compact_ivfpq_index(
    spark,
    path: str,
    max_files_per_cell: int = 4,
    target_rows_per_file: int = 2_000_000,
    lease: bool = True,
) -> dict:
    """Maintenance tick for a stored IVF-PQ layout — identical contract to
    :func:`compact_ivf_index` (codes move between files, never between
    cells; sidecar untouched; serving bit-for-bit unchanged), with a
    higher rows-per-file target because code rows are m bytes, not
    dim*8."""
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        compact_partitions,
    )

    return compact_partitions(
        spark,
        path,
        "cell",
        max_files=max_files_per_cell,
        target_rows_per_file=target_rows_per_file,
        lease=lease,
    )


def init_streamed_ivfpq_index(
    encoded: DataFrame | None,
    coarse: DataFrame,
    codebooks: DataFrame,
    path: str,
    quantizer_locals: tuple[list, list] | None = None,
) -> None:
    """Create a STREAM-MANAGED IVF-PQ index: same quantizer sidecar as
    :func:`write_ivfpq_index`, but codes live under a two-level
    ``_epoch=<tag>/cell=<n>`` Hive layout — the incremental-dedup-index
    ``batch=`` discipline applied to ANN serving. Each streaming epoch
    owns its ``_epoch`` partitions, so a replayed epoch's dynamic
    overwrite REPLACES its own output instead of appending duplicates
    (exactly-once without a commit sidecar); serving still prunes on
    ``cell`` (Spark plans PartitionFilters on any partition column,
    nested or not). ``encoded=None`` starts empty — the train-offline /
    add-forever split. With ``quantizer_locals`` the frames may be None
    (driver-resident quantizer path)."""
    from pyspark.sql import SparkSession

    src = encoded if encoded is not None else coarse
    spark = src.sparkSession if src is not None else SparkSession.active()
    if encoded is not None:
        (
            encoded.select("id", "codes", F.lit("__base__").alias("_epoch"), "cell")
            .repartition(F.col("cell"))
            .write.mode("overwrite")
            .partitionBy("_epoch", "cell")
            .parquet(path)
        )
    _write_ivfpq_sidecar(spark, path, coarse, codebooks, quantizer_locals)


def append_streamed_ivfpq(
    spark,
    vectors: DataFrame,
    path: str,
    epoch_tag: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lease: bool = True,
) -> None:
    """One epoch's append to a stream-managed IVF-PQ index: encode through
    the sidecar quantizers (never retrained) and dynamically overwrite the
    epoch's OWN ``_epoch=<tag>`` partitions — idempotent under Structured
    Streaming's replay contract (encode is deterministic, so a retry
    rewrites byte-identical partitions). Takes the maintenance lease so an
    epoch write and a consolidation tick serialize.

    vec_ids must be unique ACROSS epochs (replays of the same epoch are
    fine — they rewrite, not append): consolidation folds duplicate ids
    with ``dropDuplicates(id)``, which keeps an arbitrary copy, not the
    newest. An id whose vector changes must go through a rebuild, not a
    re-ingest.

    Tombstoned ids are AUTO-DROPPED from the epoch (with a warning
    naming the count) rather than refused like the batch append paths:
    a crash-recovery replay legitimately re-writes an epoch whose ids
    were deleted AFTER ingestion, and failing the replay would wedge the
    stream. Dropping is observation-identical — serving already hides
    those ids via the tombstone anti-join, and the vacuum tick has one
    fewer row to rewrite."""
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        _read_tombstones,
        index_lease,
    )

    cents, books = _ivfpq_quantizer_payload(spark, path)
    out = (
        _encode_with_payload(vectors, cents, books, id_col, vec_col)
        .select("id", "codes", F.lit(epoch_tag).alias("_epoch"), "cell")
        .repartition(F.col("cell"))
    )

    def write():
        batch = out
        tomb = _read_tombstones(spark, path, id_col="id")
        if tomb is not None:
            # count hits on the INPUT ids (no encode re-execution) so the
            # anti-join and its warning only happen when the batch really
            # carries deleted ids — the window between a delete and the
            # next vacuum; 100 clean epochs log nothing
            tomb_ids = tomb.select("id")
            dropped = (
                vectors.select(F.col(id_col).cast("long").alias("id"))
                .join(F.broadcast(tomb_ids), "id", "left_semi")
                .count()
            )
            if dropped:
                batch = batch.join(F.broadcast(tomb_ids), "id", "left_anti")
                import logging

                logging.getLogger(__name__).warning(
                    "append_streamed_ivfpq at %s: epoch %s carries %d "
                    "tombstoned id(s) — dropped (replay-safe; serving "
                    "already hides them)",
                    path,
                    epoch_tag,
                    dropped,
                )
        (
            batch.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch", "cell")
            .parquet(path)
        )

    if lease:
        with index_lease(spark, path, owner=f"stream_epoch_{epoch_tag}"):
            write()
    else:
        write()


def compact_streamed_ivfpq_index(
    spark,
    path: str,
    keep_last: int = 2,
    rows_per_file: int = 2_000_000,
) -> dict:
    """Consolidate old ``_epoch=`` directories of a stream-managed IVF-PQ
    index into one segment — the compact_dedup_index discipline: the
    ``keep_last`` newest REAL epoch dirs survive (the replay-idempotency
    window — size it to the stream's maximum retry horizon), everything
    older (plus prior segments, which rank oldest) folds into
    ``_epoch=__seg_<n>`` re-partitioned by cell. Codes are deterministic
    per id, so dropDuplicates(id) at merge folds any copies a crashed
    earlier tick left — ticks are self-healing. ``__base__`` consolidates
    like any old epoch. Serving is set-identical before and after. Takes
    the maintenance lease. Returns {"epochs_merged", "rows_merged"}.

    Recency is the newest FILE mtime inside each epoch dir — epoch tags
    are '{run_id}-{epoch}' with random run ids and unpadded epoch
    numbers, so NAME order is unrelated to recency ('-10' sorts before
    '-2', and a dead lineage's tags can sort anywhere); folding a
    still-in-the-replay-window epoch by name would let its replay
    re-append rows the segment already holds. File mtimes, never
    directory statuses (synthetic on object stores — the vt_vacuum
    lesson); a file-less epoch dir ranks oldest (it holds no data, so
    folding it is a no-op on the index SET)."""
    from endtoend_etl_openmeteo_spark.operators.index_maintain import index_lease
    from endtoend_etl_openmeteo_spark.session import pinned

    if not fsio.exists(spark, path):
        return {"epochs_merged": 0, "rows_merged": 0}

    with index_lease(spark, path, owner="compact_streamed_ivfpq"):
        epoch_dirs = sorted(
            s.getPath().getName()
            for s in fsio.list_status(spark, path)
            if s.isDirectory() and s.getPath().getName().startswith("_epoch=")
        )
        segs = [d for d in epoch_dirs if d.startswith("_epoch=__seg_")]
        base = [d for d in epoch_dirs if d == "_epoch=__base__"]
        mtimes = {  # one walk each
            d: fsio.newest_file_mtime(spark, f"{path}/{d}") for d in epoch_dirs
        }
        real = sorted(
            (d for d in epoch_dirs if d not in segs and d not in base),
            key=lambda d: (mtimes[d], d),
        )
        doomed = segs + base + (real[:-keep_last] if keep_last > 0 else real)
        if len(doomed) < 2:
            return {"epochs_merged": 0, "rows_merged": 0}
        # File-less dirs (a crashed epoch that created its directory but
        # committed nothing, or an empty __base__) hold no rows: feeding
        # them to the read would fail schema inference, so they are
        # deleted but never scanned.
        readable = [d for d in doomed if mtimes[d] != -1]
        if not readable:
            for d in doomed:
                fsio.delete(spark, f"{path}/{d}")
            return {"epochs_merged": len(doomed), "rows_merged": 0}
        seg_n = 1 + max(
            (int(d.rsplit("_", 1)[-1]) for d in segs), default=-1
        )
        seg = f"{path}/_epoch=__seg_{seg_n:06d}"
        import math

        # basePath keeps `cell` a partition column when reading subdirs
        merged = (
            spark.read.option("basePath", path)
            .parquet(*[f"{path}/{d}" for d in readable])
            .select("id", "codes", "cell")
            .dropDuplicates(["id"])
        )
        with pinned(merged) as merged:  # outlive the source dirs
            rows = merged.count()
            files = max(1, math.ceil(rows / rows_per_file))
            (
                merged.repartition(files, F.col("cell"))
                .write.mode("overwrite")
                .partitionBy("cell")
                .parquet(seg)
            )
        for d in doomed:
            fsio.delete(spark, f"{path}/{d}")
        return {"epochs_merged": len(doomed), "rows_merged": int(rows)}
