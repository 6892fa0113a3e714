"""Near-duplicate clustering + iterative k-means (SURVEY.md §7 step 7 —
the "iterative algorithms" class the driver's oracle can't express in SQL;
correctness is pytest-verified against hand-built graphs instead).

Both are bounded-iteration DataFrame loops: each iteration is a declarative
join/aggregate Catalyst optimizes independently, with localCheckpoint()
between rounds to truncate the growing lineage (the classic iterative-
algorithm failure mode on Spark: an unbounded plan tree).
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.session import pinned, release_checkpoint


#: Symmetric-edge cap for the driver-local graph solves (union-find /
#: power iteration). Near-dup graphs hold only the docs that HAVE a
#: duplicate, so they are metadata-sized relative to the corpus by
#: construction; 1M symmetric edges is ~25 MB of id tuples on the driver
#: — the same memory class as the quantizer trainers' bounded sample
#: (100k × 64-dim doubles = 51 MB, operators/similarity.py). Below the
#: cap a local solve replaces 3-6 scheduled rounds × several jobs each
#: (measured ~0.3 s vs ~2.5-4 s on a 243k-edge graph); above it the
#: distributed paths below remain the scale story.
LOCAL_EDGE_THRESHOLD = 1_000_000


def _local_result_df(spark, rows: list, schema) -> DataFrame:
    """Materialize driver-computed result rows as an eagerly-checkpointed
    frame with SIZE-ADAPTIVE slicing (~50k rows per slice, min 1): a bare
    ``createDataFrame(rows)`` lands the local rows in defaultParallelism
    Python slices and the checkpoint then pays one Python-runner round
    trip PER SLICE (measured ~1.3 s cold for a 1000-row label frame split
    32 ways)."""
    rdd = spark.sparkContext.parallelize(rows, max(1, len(rows) // 50_000))
    return spark.createDataFrame(rdd, schema).localCheckpoint(eager=True)


def _arrow_edge_lists(edges_ck: DataFrame) -> tuple[list, list]:
    """(src_list, dst_list) of a bounded checkpointed edge frame via ONE
    Arrow transfer — columnar, so a million-edge graph lands in ~0.1 s
    where a row collect pays per-Row object overhead. ``to_pylist``
    preserves exact Python values (ints stay int, None stays None), the
    same values a Row collect yields."""
    tbl = edges_ck.toArrow()
    return tbl.column(0).to_pylist(), tbl.column(1).to_pylist()


def dedup_clusters(
    pairs: DataFrame,
    max_iterations: int = 20,
    local_edge_threshold: int = LOCAL_EDGE_THRESHOLD,
) -> DataFrame:
    """Connected components over near-duplicate pairs (id_a, id_b) →
    (id, cluster_id) with cluster_id = min id reachable. Works for any
    id type (long doc ids, string URIs/digests).

    Min-label propagation with POINTER JUMPING: each round every node
    adopts the smallest label among itself and its neighbors, then labels
    chase their own label's label (label[x] = min(label[x],
    label[label[x]]) — the path-halving step of classic parallel
    connectivity). Neighbor-min alone converges in O(diameter) rounds,
    which a chain-shaped component turns into O(n); the jump step
    collapses chains geometrically, so rounds are O(log diameter).
    Raises RuntimeError if the cap is hit before the fixed point: a
    silently-split component would make downstream keep-one-per-cluster
    dedup keep extra duplicate copies with no signal.

    The downstream dedup policy is then "keep cluster_id" (the smallest id
    representative per cluster) — the standard corpus-dedup reducer.

    Graphs at or under ``local_edge_threshold`` symmetric edges solve with
    driver-side union-find instead (identical labels, milliseconds vs
    several scheduled rounds); pass 0 to force the distributed path.
    """
    if max_iterations < 1:
        # with 0 the loop never runs, the non-convergence guard cannot
        # trip (no signature was ever computed), and the INITIAL labels —
        # every node its own cluster — would return as if converged:
        # downstream keep-one-per-cluster would keep every duplicate
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    edges = (
        pairs.selectExpr("id_a AS src", "id_b AS dst")
        .unionByName(pairs.selectExpr("id_b AS src", "id_a AS dst"))
        .distinct()
    )
    # pair generation may be expensive (e.g. an LSH pipeline) — never
    # re-execute it per iteration; the edge table is scaffolding, only
    # the final labels survive the call (callers own their blocks)
    with pinned(edges) as edges_ck:
        n_edges = edges_ck.count()
        # Adaptive local solve — the AQE broadcast philosophy applied to
        # connectivity: a metadata-sized edge set (<= ~25 MB at the
        # default threshold) is solved with driver-side union-find in
        # milliseconds instead of 3-5 distributed rounds x several jobs
        # each (measured ~2 s of pure scheduling on graphs of a few
        # thousand edges). Near-dup graphs are tiny relative to the corpus
        # by construction — a 100-TB corpus with 10M near-dup PAIRS still
        # fits (the nodes are only the docs that HAVE a duplicate);
        # anything larger takes the distributed pointer-jumping path,
        # which is the scale story. Both paths produce identical labels
        # (min reachable id) — pinned by tests/test_clusters.py on the
        # same graphs.
        if n_edges > local_edge_threshold:
            return _pointer_jumping_labels(edges_ck, n_edges, max_iterations)
        srcs, dsts = _arrow_edge_lists(edges_ck)
        out_schema = edges_ck.select(
            F.col("src").alias("id"), F.col("src").alias("cluster_id")
        ).schema
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(srcs, dsts):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    # match the distributed path's contract: the returned frame is
    # materialized and owned by the caller
    return _local_result_df(
        pairs.sparkSession,
        [(n, comp_min[find(n)]) for n in sorted(parent)],
        out_schema,
    )


def _pointer_jumping_labels(
    edges_ck: DataFrame, n_edges: int, max_iterations: int
) -> DataFrame:
    """:func:`dedup_clusters`' distributed path over the pinned symmetric
    edge table."""
    spark = edges_ck.sparkSession
    # Size the iteration parallelism to the graph, not the session default:
    # near-dup graphs are usually tiny relative to the corpus, and paying
    # 32-partition shuffle overhead per round dominates small inputs.
    target = max(1, min(spark.sparkContext.defaultParallelism, n_edges // 20_000 + 1))
    edges = edges_ck.repartition(target, "dst")
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    prev_sig = None
    prev_labels: DataFrame | None = None
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        stepped = labels.join(
            neighbor_min, labels.id == neighbor_min.src, "left"
        ).select(
            "id",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        # Pointer jump: label[x] <- min(label[x], label[label[x]]). Labels
        # are always reachable node ids, so the self-join resolves; a
        # chain's label chain halves every round.
        parent = stepped.select(
            F.col("id").alias("p_id"), F.col("cluster_id").alias("p_cluster")
        )
        labels = (
            stepped.join(parent, stepped.cluster_id == parent.p_id, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("p_cluster"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            # Lazy: the signature agg below is the first action, so ONE job
            # both materializes the checkpoint and computes the signature
            # (eager=True would pay a separate materialization job per round).
            .localCheckpoint(eager=False)
        )
        # Labels only change between rounds at a non-fixed-point, so an
        # order-insensitive multiset signature (sum of per-row hashes —
        # type-agnostic, works for string ids) detects convergence with
        # one cheap agg instead of a change-detect join.
        cur_sig = labels.agg(
            # decimal(38,0) accumulator: a long sum of 64-bit hashes
            # overflows (and ANSI mode rightly raises on it)
            F.sum(F.xxhash64("id", "cluster_id").cast("decimal(38,0)")).alias("sig")
        ).collect()[0][0]
        # The sig agg just materialized THIS round's checkpoint, so the
        # previous round's blocks (this round's only lineage input) are
        # now dead — release them instead of pinning one labels copy per
        # iteration for the life of the session.
        if prev_labels is not None:
            release_checkpoint(prev_labels)
        prev_labels = labels
        if cur_sig == prev_sig:
            converged = True
            break
        prev_sig = cur_sig
    if not converged and prev_sig is not None:
        if prev_labels is not None:
            release_checkpoint(prev_labels)  # don't leak the last round
        raise RuntimeError(
            f"dedup_clusters did not converge within {max_iterations} rounds "
            "(a component's diameter exceeds the cap); raise max_iterations — "
            "returning split clusters would keep duplicate documents silently"
        )
    return labels


def _assign_literal(
    v: DataFrame, cent_lits: list[tuple[int, list[float]]]
) -> DataFrame:
    """Shuffle-free assignment of v(id, vec) against driver-held centroids:
    argmin over (d2, cluster) structs — struct ordering gives the
    lower-cluster tie-break.

    The centroids ride as DATA (a one-row broadcast of the k·dim array),
    NOT as literal expressions: embedding k·dim doubles in the plan makes
    Janino recompile ~2 s of generated code for every distinct centroid
    set (each k-means iteration, each query), whereas a constant-shape
    expression over a broadcast column compiles once per session and is
    reused by all iterations and all callers. ``v`` itself never shuffles
    — the broadcast side is one row."""
    spark = v.sparkSession
    cent_df = spark.createDataFrame(
        [(int(cl), [float(x) for x in c]) for cl, c in cent_lits],
        "cluster int, centroid array<double>",
    )
    return _assign_centroids(v, cent_df)


def _assign_centroids(v: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assignment core: cross-join ``v`` with a ONE-ROW broadcast holding
    all (cluster, centroid) structs, argmin squared distance in codegen."""
    dist2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if centroids.isLocal():
        # Driver-resident centroids (sampled training, literal seeds): pack
        # the one-row broadcast frame directly instead of running a
        # collect_list aggregate job just to reshape 10 local rows.
        local = sorted(
            ((r["cluster"], list(r["centroid"])) for r in centroids.collect())
        )
        cents_row = centroids.sparkSession.createDataFrame(
            [(local,)], "cents array<struct<cluster:int,centroid:array<double>>>"
        )
    else:
        cents_row = centroids.groupBy().agg(
            F.array_sort(F.collect_list(F.struct("cluster", "centroid"))).alias("cents")
        )
    choices = F.transform(
        F.col("cents"),
        lambda s: F.struct(
            dist2(F.col("vec"), s["centroid"]).alias("d2"),
            s["cluster"].alias("cluster"),
        ),
    )
    return (
        v.crossJoin(F.broadcast(cents_row))
        .select("id", "vec", F.array_min(choices)["cluster"].alias("cluster"))
    )


def kmeans_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Assign every vector to its nearest trained centroid — the search-time
    half of the sample-trained quantizer pattern (train ``kmeans`` /
    ``kmeans_train_sampled`` on a sample, assign the full corpus). The k
    centroids ride as a one-row broadcast into a codegen argmin, so
    assignment never key-shuffles ``vectors`` regardless of corpus size
    (small single-file inputs get a round-robin ``cpu_parallelize`` so the
    argmin uses every core). Returns assignments(id, cluster); with
    ``keep_vec`` the vector rides along as ``vec`` so downstream consumers
    (e.g. IVF cell building) never re-join assignments back to the corpus
    — the re-join is a full extra shuffle the map-side argmin makes
    unnecessary.
    """
    from endtoend_etl_openmeteo_spark.operators.dedup import cpu_parallelize

    v = cpu_parallelize(vectors).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    cent = centroids.select(
        F.col("cluster").cast("int").alias("cluster"),
        F.col("centroid").cast("array<double>").alias("centroid"),
    )
    assigned = _assign_centroids(v, cent)
    cols = ["id", "vec", "cluster"] if keep_vec else ["id", "cluster"]
    return assigned.select(*cols)


def kmeans_train_sampled(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample: int = 100_000,
) -> DataFrame:
    """:func:`kmeans_train_sampled_rows` as a DataFrame of
    centroids(cluster int, centroid array<double>)."""
    return vectors.sparkSession.createDataFrame(
        kmeans_train_sampled_rows(
            vectors, k, iterations, id_col, vec_col, max_sample
        ),
        "cluster int, centroid array<double>",
    )


def kmeans_train_sampled_rows(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample: int = 100_000,
) -> list[tuple[int, list[float]]]:
    """Train k-means centroids on a bounded driver-side sample (numpy
    Lloyd's) — the standard IVF-quantizer pattern (FAISS trains its coarse
    quantizer on an in-memory sample; MLlib collects centroids per round).

    Collects at most ``max_sample`` vectors (smallest ids — deterministic,
    and the full corpus whenever it fits, so small scale factors lose no
    recall vs distributed training), then iterates in-process: each Lloyd's
    round on the sample costs microseconds instead of a Spark job, which is
    what makes inline quantizer training affordable. At 100 TB the sample
    cap is the point: training state stays k·dim + sample·dim doubles on
    the driver while assignment (``kmeans_assign``) remains a distributed
    shuffle-free pass over the full corpus.

    Same algorithm as :func:`kmeans` (k smallest-id seeds, squared-euclidean
    assignment, tie → lower cluster id, mean update) with ONE documented
    policy difference: a cluster that goes empty mid-iteration RETAINS its
    seed centroid here (always exactly k rows — the shape IVF cell layouts
    size to), while the distributed :func:`kmeans` drops it (its groupBy
    emits no row). Both are deterministic; duplicate seed vectors are the
    only way to hit the divergence. Returns
    centroids(cluster int, centroid array<double>).
    """
    import numpy as np

    ids = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    # Cheap path first: an unordered limit(max_sample + 1) collect needs no
    # sort shuffle. Getting fewer rows back proves the table fits the
    # sample, so the deterministic "smallest ids" order is a driver-side
    # sort. Only a genuinely oversized corpus pays the distributed
    # TakeOrdered.
    rows = ids.limit(max_sample + 1).collect()
    if len(rows) > max_sample:
        rows = ids.orderBy("id").limit(max_sample).collect()
    else:
        # NULL-tolerant key matching orderBy('id')'s nulls-first order
        from endtoend_etl_openmeteo_spark.operators.similarity import (
            _nulls_first_id,
        )

        rows.sort(key=_nulls_first_id)
    if not rows:
        raise ValueError("kmeans_train_sampled: empty corpus")
    dims = {len(r["vec"]) if r["vec"] is not None else -1 for r in rows}
    if len(dims) != 1 or -1 in dims:
        raise ValueError(
            "kmeans_train_sampled requires uniform vector dimensionality "
            f"(saw {sorted(dims)})"
        )
    x = np.asarray([r["vec"] for r in rows], dtype=np.float64)  # (n, dim)
    if len(x) < k:
        raise ValueError(
            f"kmeans_train_sampled: sample has {len(x)} rows — cannot seed "
            f"k={k} centroids"
        )
    cent = x[:k].copy()  # smallest-id seeds, same as kmeans()
    for _ in range(iterations):
        # (n, k) squared distances; argmin ties break to the lower cluster
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return [(c, [float(v) for v in cent[c]]) for c in range(k)]


def kmeans(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iter_dp: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic Lloyd's k-means over an array<double> column.

    ``iter_dp`` rounds every centroid coordinate to that many decimals at
    each update (the per-iteration rounding pattern :func:`pagerank`
    uses): float-sum order inside ``avg`` is the ONLY cross-engine
    nondeterminism in the algorithm — distances are computed in a fixed
    fold order — so quantized centroids make the whole fixed point
    reproducible against a SQL replication. At 6 decimals the quantization
    is far below any real cluster separation; leave None for unquantized
    centroids.

    Init: the k smallest-id vectors (deterministic, no RNG — reruns give
    identical clusters). Each iteration: ship the k centroids to every
    executor as LITERALS (k·dim doubles — the MLlib pattern: centroids are
    driver-side state, data never shuffles for assignment), assign by
    squared euclidean distance (tie → lower centroid id) with a narrow
    codegen argmin, recompute centroids via one per-dimension avg
    aggregate keyed on cluster. Returns
    (assignments(id, cluster), centroids(cluster, centroid array)).

    Scale shape: assignment is shuffle-FREE (argmin over literal centroids
    inside whole-stage codegen); the only exchange per iteration is the
    (cluster, pos)-keyed update aggregate, map-side-combined. Iterations
    multiply jobs, not state, and the per-iteration driver collect is k
    rows — bounded by construction.
    """
    from endtoend_etl_openmeteo_spark.operators.dedup import cpu_parallelize

    vecs = cpu_parallelize(vectors).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    # LAZY checkpoint: the dimensionality/count aggregate right below is
    # the action that materializes it, so projection and validation run
    # as ONE corpus pass instead of a checkpoint job plus an aggregate
    # job (the bpe_train fused-pass pattern).
    with pinned(vecs, eager=False) as v_ck:
        # Uniform dimensionality is a hard precondition: the per-dimension avg
        # below subscripts every vector up to the seed dimension, which under
        # ANSI mode raises INVALID_ARRAY_INDEX mid-job on a ragged vector.
        # Fail fast with a clear message instead (one 1-row aggregate, which
        # doubles as the row count used to size the iteration parallelism).
        sizes = v_ck.agg(
            F.min(F.size("vec")).alias("lo"),
            F.max(F.size("vec")).alias("hi"),
            F.count("*").alias("n"),
        ).collect()[0]
        if sizes["lo"] != sizes["hi"]:
            raise ValueError(
                "kmeans requires uniform vector dimensionality; got sizes "
                f"{sizes['lo']}..{sizes['hi']} in column {vec_col!r}"
            )
        # Size the per-iteration job to the data: every iteration is a full
        # job over v, and on a small corpus 32 near-empty tasks' scheduling
        # overhead dominates the arithmetic (measured ~1 s/iteration for
        # 2,000 vectors). Narrow coalesce over the checkpoint blocks — at
        # real corpus sizes this is a no-op.
        spark_ctx = vectors.sparkSession.sparkContext
        target = max(1, min(spark_ctx.defaultParallelism, int(sizes["n"]) // 256 + 1))
        v = v_ck.coalesce(target) if target < v_ck.rdd.getNumPartitions() else v_ck

        # k seed rows → driver: [(cluster, [dim doubles]), ...]
        seed = v.orderBy("id").limit(k).select("vec").collect()
        if len(seed) < k:
            # kmeans_train_sampled's contract, enforced here too: silently
            # training fewer than k centroids (or IndexError on an empty
            # corpus) leaves downstream cell layouts mis-sized with no signal
            raise ValueError(
                f"cannot seed k={k} centroids from {len(seed)} vectors — "
                "shrink k or grow the corpus"
            )
        cent: list[tuple[int, list[float]]] = [
            (i, list(r["vec"])) for i, r in enumerate(seed)
        ]

        # Centroid update: ONE map-side-combined exchange of (cluster, dim
        # avgs) — k·partitions rows of dim+1 columns — instead of the
        # posexplode shape's n·dim-row shuffle plus a second collect_list
        # exchange. The dim-wide aggregate expression is identical every
        # iteration, so its generated code compiles once per session.
        dim = len(cent[0][1])

        def _avg(i):
            a = F.avg(F.element_at("vec", i + 1))
            return a if iter_dp is None else F.round(a, iter_dp)

        avgs = [_avg(i).alias(f"c{i}") for i in range(dim)]
        for _ in range(iterations):
            assignments = _assign_literal(v, cent)
            updated = assignments.groupBy("cluster").agg(*avgs).collect()
            cent = sorted(
                (r["cluster"], [r[f"c{i}"] for i in range(dim)]) for r in updated
            )
        # Final assignment AGAINST the returned centroids, so the two halves of
        # the result are consistent (the in-loop assignment predates the last
        # centroid update) — and so kmeans_assign(v, centroids) reproduces it.
        # Checkpointing it lets the (much larger) input checkpoint ``v`` be
        # released on exit instead of leaking one corpus copy per kmeans call.
        assignments = (
            _assign_literal(v, cent).select("id", "cluster").localCheckpoint(eager=True)
        )
    spark = vectors.sparkSession
    centroids = spark.createDataFrame(
        [(cl, c) for cl, c in cent], "cluster int, centroid array<double>"
    )
    return assignments, centroids


def _round_half_up(x: float, dp: int) -> float:
    """Spark's ``F.round`` double semantics replicated exactly:
    BigDecimal.valueOf(double) parses the SHORTEST round-trip decimal
    (``Double.toString`` ≡ Python ``repr(float)``), then setScale(dp,
    HALF_UP) — NOT Python's banker's ``round``. Bit-for-bit parity is
    what lets the local power iteration reproduce the distributed loop's
    per-round quantized fixed point. NaN and ±inf come back unchanged,
    as Spark's round returns them (Decimal cannot quantize them)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if not math.isfinite(x):
        return float(x)
    return float(
        Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-dp), ROUND_HALF_UP)
    )


def _round_half_up_vec(x, dp: int):
    """Vectorized :func:`_round_half_up` over a numpy double array.

    Fast path: scaled ``floor(y + 0.5) / scale`` — identical to the
    Decimal path whenever the scaled value's fractional part is decidedly
    away from the .5 tie boundary (the shortest-repr decimal deviates
    from the double by <= half an ulp, and the scaling multiply adds at
    most a few ulps — under 1e-4 of the scaled value's fractional part
    while |y| < 2^36 — so a guard band of 1e-3 covers the combined error
    with margin). Values inside the guard band, at |y| >= 2^36, or
    non-finite (NaN compares False, so only an explicit mask catches it)
    fall back per-element to the exact scalar path, so the result is
    bit-for-bit `[_round_half_up(v, dp) for v in x]` at C speed for the
    overwhelming majority of elements (the ADVICE-flagged O(N·iters)
    Python-Decimal wall on near-threshold graphs)."""
    import numpy as np

    scale = 10.0 ** dp
    y = x * scale
    with np.errstate(invalid="ignore"):
        out = np.floor(y + 0.5) / scale
        frac = y - np.floor(y)
    unsafe = (
        (np.abs(frac - 0.5) <= 1e-3) | (np.abs(y) >= 2.0 ** 36) | ~np.isfinite(y)
    )
    if unsafe.any():
        for i in np.nonzero(unsafe)[0]:
            out[i] = _round_half_up(float(x[i]), dp)
    return out


def _pagerank_local(
    spark,
    srcs: list,
    dsts: list,
    out_schema,
    damping: float,
    iterations: int,
    iter_dp: int,
) -> DataFrame:
    """Driver-side power iteration over a bounded symmetric edge list —
    the dedup_clusters adaptive-local-solve discipline applied to
    PageRank. Arithmetic parity with the distributed loop: same teleport
    and damping literals (IEEE doubles, identical expression order), the
    per-dst contribution sum differs only in float addition ORDER, which
    the per-round ``iter_dp`` rounding absorbs in practice (a sum landing
    exactly on a rounding boundary could in principle resolve differently
    across engines — the parity tests in tests/test_pagerank.py are the
    gate, the same cross-engine argument the DuckDB oracle rests on) —
    and the rounding itself is Spark's HALF_UP
    (:func:`_round_half_up_vec`), not numpy's banker's."""
    import numpy as np

    nodes = sorted(set(srcs))  # symmetric edges: every node appears as src
    n = len(nodes)
    if n == 0:
        return _local_result_df(spark, [], out_schema)
    idx = {v: i for i, v in enumerate(nodes)}
    si = np.fromiter((idx[s] for s in srcs), dtype=np.int64, count=len(srcs))
    di = np.fromiter((idx[d] for d in dsts), dtype=np.int64, count=len(dsts))
    deg = np.bincount(si, minlength=n).astype(np.float64)
    teleport = (1.0 - damping) / float(n)
    ranks = np.full(n, _round_half_up(1.0 / float(n), iter_dp), dtype=np.float64)
    for _ in range(iterations):
        sums = np.bincount(di, weights=ranks[si] / deg[si], minlength=n)
        ranks = _round_half_up_vec(teleport + damping * sums, iter_dp)
    # match the distributed path's contract: materialized, caller-owned
    return _local_result_df(
        spark, [(nodes[i], float(ranks[i])) for i in range(n)], out_schema
    )


def pagerank(
    pairs: DataFrame,
    damping: float = 0.85,
    iterations: int = 6,
    iter_dp: int = 10,
    local_edge_threshold: int = LOCAL_EDGE_THRESHOLD,
) -> DataFrame:
    """PageRank over an undirected pair graph (id_a, id_b) → (id, rank).

    The canonical-document selector for dedup clusters: on a similarity
    graph, rank concentrates on the most-connected member, so "keep the
    highest-rank doc per cluster" picks the best-attested copy instead of
    dedup_clusters' arbitrary min-id. Same shape ranks hosts on a
    hyperlink/citation graph for crawl-quality weighting.

    Power iteration as a DataFrame loop: edges (with source degree
    attached) are checkpointed ONCE and re-joined with the current ranks
    each round — one shuffle per iteration, the join reuses the edge
    partitioning. Per-iteration ranks round to ``iter_dp`` decimals so
    the float-sum order (Spark partial aggregation vs any reference
    recomputation) cannot drift across rounds — the round-before-rank
    pattern applied to an iterative fixpoint. Nodes are the graph's
    nodes: every one has degree ≥ 1 (no dangling-mass term; isolated
    docs simply aren't in the graph). The only driver scalar is the node
    count. At 100-TB scale, bucket edges by src so the per-iteration
    join co-locates without reshuffling the edge table.

    Graphs at or under ``local_edge_threshold`` symmetric NULL-free
    edges solve driver-side instead (numpy power iteration with Spark's
    exact HALF_UP per-round rounding — identical ranks, milliseconds vs
    ~20 scheduled jobs; the dedup_clusters adaptive-local-solve
    pattern). Pass 0 to force the distributed path.
    """
    edges = (
        pairs.selectExpr("id_a AS src", "id_b AS dst")
        .unionByName(pairs.selectExpr("id_b AS src", "id_a AS dst"))
        .distinct()
    )
    spark = pairs.sparkSession
    local = None
    with ExitStack() as scoped:
        # materialized ONCE: both the degree aggregate and the per-round
        # join (or the local solve's one Arrow transfer) read these
        # blocks instead of re-running the pair generator
        with pinned(edges) as edges_ck:
            # Adaptive local solve (the dedup_clusters discipline): a
            # metadata-sized graph runs the power iteration driver-side in
            # milliseconds instead of 6 rounds x 3 exchanges of scheduled
            # jobs. Identical ranks by construction (see _pagerank_local);
            # pinned by tests/test_pagerank.py on the same graphs against
            # the distributed path. NULL-keyed edges stay on the
            # distributed path, whose SQL join semantics (a NULL edge
            # carries no flow, its node still ranks on teleport) are
            # authoritative.
            if edges_ck.count() <= local_edge_threshold:
                arrow_edges = edges_ck.toArrow()
                if (
                    arrow_edges.column(0).null_count == 0
                    and arrow_edges.column(1).null_count == 0
                ):
                    # derive the id type from the SYMMETRIZED edge frame
                    # (the dedup_clusters rule): nodes come from id_a AND
                    # id_b, and the union coercion is what the distributed
                    # path returns — an id_a-only schema could mistype
                    # when the columns differ (e.g. int vs long)
                    local = (
                        arrow_edges.column(0).to_pylist(),
                        arrow_edges.column(1).to_pylist(),
                        edges_ck.select(
                            F.col("src").alias("id"), F.lit(0.0).alias("rank")
                        ).schema,
                    )
            if local is None:
                deg = edges_ck.groupBy("src").agg(F.count("*").alias("deg"))
                edges_deg = scoped.enter_context(pinned(edges_ck.join(deg, "src")))
                nodes = scoped.enter_context(
                    pinned(deg.select(F.col("src").alias("id")))
                )
        # edges_ck is released: edges_deg/nodes own the data now
        if local is not None:
            return _pagerank_local(spark, *local, damping, iterations, iter_dp)
        return _power_iteration(edges_deg, nodes, damping, iterations, iter_dp)


def _power_iteration(
    edges_deg: DataFrame,
    nodes: DataFrame,
    damping: float,
    iterations: int,
    iter_dp: int,
) -> DataFrame:
    """:func:`pagerank`'s distributed loop over the pinned degree-annotated
    edges and node list. Returns the final ranks, checkpointed and owned
    by the caller: a pagerank call leaves behind exactly one n-row
    checkpoint."""
    n = nodes.count()  # bounded: one scalar
    if n == 0:  # an empty frame that outlives the pinned node list
        return nodes.sparkSession.createDataFrame(
            [], nodes.withColumn("rank", F.lit(0.0)).schema
        )
    teleport = (F.lit(1.0) - F.lit(damping)) / F.lit(float(n))
    ranks = nodes.select(
        "id", F.round(F.lit(1.0) / F.lit(float(n)), iter_dp).alias("rank")
    )
    prev_ck: DataFrame | None = None
    for i in range(iterations):
        sums = (
            edges_deg.join(ranks.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(sums, "id", "left").select(
            "id",
            F.round(
                teleport + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)),
                iter_dp,
            ).alias("rank"),
        )
        if (i + 1) % 3 == 0 and i + 1 < iterations:
            # cut lineage so the plan doesn't deepen linearly in rounds;
            # the new checkpoint supersedes the previous lineage cut
            ranks = ranks.localCheckpoint(eager=True)
            if prev_ck is not None:
                release_checkpoint(prev_ck)
            prev_ck = ranks
    # Materialize the final ranks so the in-loop lineage cut can be
    # released before returning (the caller releases the edge scaffolding).
    ranks = ranks.localCheckpoint(eager=True)
    if prev_ck is not None:
        release_checkpoint(prev_ck)
    return ranks
