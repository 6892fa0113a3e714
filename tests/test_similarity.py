"""Similarity-search quality tests: approximate methods measured against
the exact baseline (recall), not just executed."""

import pytest
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    ivf_topk,
    lsh_bucketed_topk,
    pq_encode,
    pq_topk,
    pq_topk_rerank,
    pq_train,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.q_id, set()).add(r.n_id)
    return out


def test_ivf_recall_vs_brute_force(spark, emb):
    """The synthetic labels cluster only weakly (same-label mean cos ~0.05),
    so IVF recall tracks the scanned fraction; the correctness properties
    are monotonicity in nprobe and exactness when every cell is probed."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = _topk_sets(cosine_topk(emb, queries, k=10))

    def recall(nprobe):
        approx = _topk_sets(ivf_topk(emb, queries, k=10, nprobe=nprobe))
        return sum(len(exact[q] & approx.get(q, set())) / 10 for q in exact) / len(exact)

    n_cells = emb.select("label").distinct().count()
    r2, r4, rall = recall(2), recall(4), recall(n_cells)
    assert r2 >= 2 / n_cells * 0.9, f"worse than the scanned-fraction baseline: {r2}"
    assert r4 > r2, f"recall not monotone in nprobe: {r2} -> {r4}"
    assert rall == 1.0, f"probing all {n_cells} cells must equal brute force, got {rall}"


def test_lsh_recall_vs_brute_force(spark, emb):
    """Multi-table OR-amplification: 8 tables x 4 planes scans ~50% of the
    corpus but recovers ~60% of true neighbors; more tables -> more recall."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = _topk_sets(cosine_topk(emb, queries, k=10))

    def recall(n_tables):
        approx = _topk_sets(
            lsh_bucketed_topk(emb, queries, n_planes=4, n_tables=n_tables, k=10)
        )
        return sum(len(exact[q] & approx.get(q, set())) / 10 for q in exact) / len(exact)

    r8, r16 = recall(8), recall(16)
    assert r8 >= 0.4, f"LSH mean recall@10 too low at 8 tables: {r8}"
    assert r16 > r8, f"recall not improved by more tables: {r8} -> {r16}"


def test_pq_codes_shape_and_determinism(spark, emb):
    cb = pq_train(emb, m=8, k=16, iterations=2)
    assert cb.count() == 8 * 16
    assert cb.select(F.size("centroid")).distinct().collect()[0][0] == 8  # dim/m
    codes = pq_encode(emb, cb)
    rows = {r["id"]: r["codes"] for r in codes.collect()}
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in rows.values())
    # deterministic: retrain + re-encode gives identical codes
    rows2 = {
        r["id"]: r["codes"]
        for r in pq_encode(emb, pq_train(emb, m=8, k=16, iterations=2)).collect()
    }
    assert rows == rows2


def test_pq_rerank_recall_vs_brute_force(spark, emb):
    """ADC alone eats quantization error on this diffuse data; the exact
    re-rank stage must lift top-10 recall to the candidate-pool level."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = _topk_sets(cosine_topk(emb, queries, k=10))
    cb = pq_train(emb, m=8, k=32, iterations=4)
    codes = pq_encode(emb, cb)

    def mean_recall(df):
        approx = _topk_sets(df)
        return sum(len(exact[q] & approx.get(q, set())) / 10 for q in exact) / len(exact)

    r_adc = mean_recall(pq_topk(codes, cb, queries, k=10))
    r_rerank = mean_recall(pq_topk_rerank(codes, cb, emb, queries, k=10, n_candidates=50))
    assert r_rerank >= 0.5, f"PQ+rerank recall too low: {r_rerank}"
    assert r_rerank >= r_adc, f"re-rank must not lose recall: {r_adc} -> {r_rerank}"


def test_ivfpq_recall_shape_and_determinism(spark, emb):
    """IVF-PQ (residual encoding): codes are (cell, m codes); recall@10
    with exact refine clears the family floor; probing every cell with a
    full candidate pool recovers the exact result (quantization error is
    fully absorbed by the refine stage); retraining is deterministic."""
    from endtoend_etl_openmeteo_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_topk_rerank,
        ivfpq_train,
    )

    queries = emb.filter(F.col("vec_id") < 20)
    exact = _topk_sets(cosine_topk(emb, queries, k=10))
    coarse, cb = ivfpq_train(emb, n_cells=10, m=8, k=32, iterations=4)
    assert coarse.count() == 10 and cb.count() == 8 * 32
    enc = ivfpq_encode(emb, coarse, cb)
    rows = {r["id"]: (r["cell"], r["codes"]) for r in enc.collect()}
    assert all(
        0 <= cell < 10 and len(c) == 8 and all(0 <= x < 32 for x in c)
        for cell, c in rows.values()
    )

    def mean_recall(df):
        approx = _topk_sets(df)
        return sum(
            len(exact[q] & approx.get(q, set())) / 10 for q in exact
        ) / len(exact)

    r = mean_recall(
        ivfpq_topk_rerank(enc, coarse, cb, emb, queries, k=10, nprobe=2,
                          n_candidates=50)
    )
    assert r >= 0.5, f"IVF-PQ recall too low: {r}"
    n = emb.count()
    r_all = mean_recall(
        ivfpq_topk_rerank(enc, coarse, cb, emb, queries, k=10, nprobe=10,
                          n_candidates=n)
    )
    assert r_all == 1.0, f"all cells + full pool must equal brute force: {r_all}"

    coarse2, cb2 = ivfpq_train(emb, n_cells=10, m=8, k=32, iterations=4)
    rows2 = {
        r["id"]: (r["cell"], r["codes"])
        for r in ivfpq_encode(emb, coarse2, cb2).collect()
    }
    assert rows == rows2


def test_ivfpq_encode_is_map_only(spark, emb):
    """Both quantizer levels ride driver-side into the Arrow seam: encoding
    must not key-shuffle or join the corpus at all (cpu_parallelize's
    round-robin is the only allowed exchange — the 100 TB claim that codes
    come from a single narrow pass)."""
    from endtoend_etl_openmeteo_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_train,
    )

    coarse, cb = ivfpq_train(emb, n_cells=10, m=8, k=16, iterations=1)
    plan = (
        ivfpq_encode(emb, coarse, cb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # no key shuffle, no join of any kind — one scan, one Arrow pass
    assert "hashpartitioning" not in plan
    assert "Join" not in plan
    assert "MapInPandas" in plan


def test_neardup_pairs_symmetric_and_thresholded(spark, emb):
    pairs = embedding_neardup_pairs(emb, threshold=0.5, max_id=100).collect()
    assert all(r.id_a < r.id_b for r in pairs)
    assert all(r.cos_sim >= 0.5 for r in pairs)


def test_zero_norm_vector_does_not_abort_topk(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0])]  # zero vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_topk(df, df.filter("vec_id = 0"), k=5).collect()
    by_n = {r.n_id: r for r in out}
    assert by_n[2].cos_sim is None  # null, not an ANSI divide-by-zero abort
    # the null similarity ranks LAST, after all real neighbors
    assert max(r.rank for r in out) == by_n[2].rank


def test_trained_model_cache_invalidates_on_data_change(spark, tmp_path):
    """Round-5 ADVICE: _TRAINED keyed only by (kind, sf_dir, params) served
    stale models after in-place testdata regeneration. The content
    fingerprint (file mtimes/sizes) must force a rebuild."""
    import os

    from endtoend_etl_openmeteo_spark.plans.similarity import _cached_model

    sf = str(tmp_path)
    p = tmp_path / "embeddings.parquet"
    spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(str(p))

    builds = []

    def build():
        builds.append(1)
        return spark.createDataFrame([(0, [0.0])], "cluster int, centroid array<double>")

    key = ("test_kind", sf, 1)
    _cached_model(spark, key, build)
    _cached_model(spark, key, build)
    assert len(builds) == 1  # cached while data unchanged

    # regenerate in place: new mtime/size -> new fingerprint -> rebuild
    newest = max(os.stat(os.path.join(p, f)).st_mtime_ns for f in os.listdir(p))
    for f in os.listdir(p):
        os.utime(os.path.join(p, f), ns=(newest + 10**9, newest + 10**9))
    _cached_model(spark, key, build)
    assert len(builds) == 2


def test_stored_ivf_prunes_unprobed_cells_and_matches_inplan(spark, emb, tmp_path):
    """The stored-index serving contract at the plan level: the scan
    carries PartitionFilters on `cell`, reads ONLY the probed cells'
    directories, and returns row-for-row the in-plan ivf_topk result."""
    from endtoend_etl_openmeteo_spark.operators.clusters import (
        kmeans_assign,
        kmeans_train_sampled,
    )
    from endtoend_etl_openmeteo_spark.operators.similarity import (
        stored_ivf_topk,
        write_ivf_index,
    )

    centroids = kmeans_train_sampled(emb, k=10, iterations=2)
    cells = (
        kmeans_assign(emb, centroids, keep_vec=True)
        .withColumnRenamed("id", "vec_id")
        .withColumnRenamed("vec", "embedding")
    )
    path = str(tmp_path / "ivf")
    write_ivf_index(cells, centroids, path, cell_col="cluster")

    queries = emb.filter(F.col("vec_id") < 5)
    stored = stored_ivf_topk(spark, path, queries, k=10, nprobe=1)

    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:200]

    # the partition filter names STRICTLY fewer cells than the index
    # holds (5 queries x 1 probe of 10 cells; inputFiles() can't show
    # this — it lists the relation pre-pruning)
    import re

    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    in_list = re.search(r"IN \(([^)]*)\)", pf)
    assert in_list, f"no IN partition filter: {pf}"
    probed = {c.strip() for c in in_list.group(1).split(",")}
    assert len(probed) <= 5 < 10  # 10 = cells in the index

    # and serving from the store is row-for-row the in-plan result
    inplan = ivf_topk(
        cells, queries, cell_col="cluster", k=10, nprobe=1,
        centroids=centroids.withColumnRenamed("cluster", "cell"),
    )
    s_rows = {tuple(r) for r in stored.collect()}
    i_rows = {tuple(r) for r in inplan.collect()}
    assert s_rows == i_rows and s_rows


def test_append_ivf_index_serves_like_single_build(spark, tmp_path):
    """FAISS `add`: appending a vector batch to a stored IVF index (no
    quantizer retrain) must serve exactly what a single build over the
    union serves — same cells (sidecar quantizer, same argmin), so same
    probes, candidates, scores, tie-breaks."""
    from endtoend_etl_openmeteo_spark.operators.clusters import (
        kmeans_assign,
        kmeans_train_sampled,
    )
    from endtoend_etl_openmeteo_spark.operators.similarity import (
        append_ivf_index,
        read_ivf_quantizer,
        stored_ivf_topk,
        write_ivf_index,
    )
    from endtoend_etl_openmeteo_spark.sources.tables import tbl

    emb = tbl(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    cents = kmeans_train_sampled(base, k=6, iterations=2)

    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    write_ivf_index(
        kmeans_assign(base, cents, keep_vec=True)
        .withColumnRenamed("id", "vec_id").withColumnRenamed("vec", "embedding"),
        cents, inc, cell_col="cluster",
    )
    append_ivf_index(spark, batch, inc)
    write_ivf_index(
        kmeans_assign(emb, cents, keep_vec=True)
        .withColumnRenamed("id", "vec_id").withColumnRenamed("vec", "embedding"),
        cents, full, cell_col="cluster",
    )
    # sidecar survives the append byte-for-byte
    assert (
        read_ivf_quantizer(spark, inc).collect()
        == read_ivf_quantizer(spark, full).collect()
    )
    queries = emb.filter(F.col("vec_id") < 5)
    got = sorted(
        tuple(r) for r in stored_ivf_topk(spark, inc, queries, k=10, nprobe=2).collect()
    )
    want = sorted(
        tuple(r) for r in stored_ivf_topk(spark, full, queries, k=10, nprobe=2).collect()
    )
    assert got == want and len(got) == 50


def test_compact_ivf_index_bounds_files_and_preserves_serving(spark, tmp_path):
    """The maintenance half of build/append/serve: N appends accrete one
    file set per batch inside each touched cell; compact_ivf_index
    rewrites only the fragmented cells and serving stays bit-for-bit."""
    from pathlib import Path

    from endtoend_etl_openmeteo_spark.operators.clusters import (
        kmeans_assign,
        kmeans_train_sampled,
    )
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        partition_file_counts,
    )
    from endtoend_etl_openmeteo_spark.operators.similarity import (
        append_ivf_index,
        compact_ivf_index,
        read_ivf_quantizer,
        stored_ivf_topk,
        write_ivf_index,
    )
    from endtoend_etl_openmeteo_spark.sources.tables import tbl

    emb = tbl(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 == 0)
    cents = kmeans_train_sampled(base, k=4, iterations=2)
    path = str(tmp_path / "ivf")
    write_ivf_index(
        kmeans_assign(base, cents, keep_vec=True)
        .withColumnRenamed("id", "vec_id").withColumnRenamed("vec", "embedding"),
        cents, path, cell_col="cluster",
    )
    for m in range(1, 5):  # 4 append batches
        append_ivf_index(spark, emb.filter(F.col("vec_id") % 5 == m), path)

    before = partition_file_counts(spark, path, "cell")
    assert max(before.values()) > 4  # fragmentation actually happened
    queries = emb.filter(F.col("vec_id") < 5)
    served_before = sorted(
        tuple(r)
        for r in stored_ivf_topk(spark, path, queries, k=10, nprobe=2).collect()
    )
    quant_before = read_ivf_quantizer(spark, path).collect()

    stats = compact_ivf_index(spark, path, max_files_per_cell=4)
    assert stats["partitions_compacted"] >= 1
    after = partition_file_counts(spark, path, "cell")
    assert max(after.values()) <= 4
    assert sum(after.values()) < sum(before.values())
    # quantizer sidecar untouched, serving bit-for-bit unchanged
    assert read_ivf_quantizer(spark, path).collect() == quant_before
    served_after = sorted(
        tuple(r)
        for r in stored_ivf_topk(spark, path, queries, k=10, nprobe=2).collect()
    )
    assert served_after == served_before and len(served_after) == 50


def test_semdedup_sampled_train_auto_k(spark):
    """The SemDeDup scale path: train='sampled' + k='auto' — quantizer
    trained on a bounded sample, k derived from corpus size at fixed
    target cell size; pairs match the explicit-centroids path exactly
    (delegation contract) and k actually grows with n."""
    from endtoend_etl_openmeteo_spark.operators.clusters import (
        kmeans_train_sampled,
    )
    from endtoend_etl_openmeteo_spark.operators.similarity import semdedup_pairs
    from endtoend_etl_openmeteo_spark.sources.tables import tbl

    emb = tbl(spark, SF, "embeddings")
    n = emb.count()
    target = max(1, n // 16)  # force k > the 8 floor on this corpus
    got = sorted(
        tuple(r)
        for r in semdedup_pairs(
            emb, k="auto", train="sampled", target_cell_size=target,
            iterations=2, threshold=0.3,
        ).collect()
    )
    k_expect = max(8, min(100_000, n // target + 1))
    cents = kmeans_train_sampled(emb, k=k_expect, iterations=2)
    want = sorted(
        tuple(r)
        for r in semdedup_pairs(emb, centroids=cents, threshold=0.3).collect()
    )
    assert got == want and len(got) > 0
    # auto-k grew past the floor and the pair clusters respect it
    assert k_expect > 8
    clusters = {r[2] for r in got}
    assert max(clusters) < k_expect

    import pytest as _pytest

    with _pytest.raises(ValueError, match="train"):
        semdedup_pairs(emb, train="bogus")


def test_stored_ivfpq_prunes_unprobed_cells_and_matches_inplan(spark, emb, tmp_path):
    """Stored IVF-PQ serving: the code scan carries PartitionFilters on
    `cell` naming strictly fewer cells than the index holds, and serving
    returns row-for-row the in-plan ivfpq_topk_rerank result."""
    import re

    from endtoend_etl_openmeteo_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_topk_rerank,
        ivfpq_train,
        stored_ivfpq_topk,
        write_ivfpq_index,
    )

    coarse, cb = ivfpq_train(emb, n_cells=10, m=8, k=16, iterations=2)
    enc = ivfpq_encode(emb, coarse, cb)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(enc, coarse, cb, path)

    queries = emb.filter(F.col("vec_id") < 5)
    stored = stored_ivfpq_topk(spark, path, emb, queries, k=10, nprobe=1)

    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    in_list = re.search(r"IN \(([^)]*)\)", pf)
    assert in_list, f"no IN partition filter: {pf}"
    assert len({c.strip() for c in in_list.group(1).split(",")}) <= 5 < 10

    inplan = ivfpq_topk_rerank(
        enc, coarse, cb, emb, queries, k=10, nprobe=1, n_candidates=50
    )
    s_rows = {tuple(r) for r in stored.collect()}
    i_rows = {tuple(r) for r in inplan.collect()}
    assert s_rows == i_rows and s_rows


def test_stored_ivfpq_append_and_compact_serving_equal(spark, emb, tmp_path):
    """FAISS `add` + maintenance for the code layout: appends re-encode
    through the sidecar quantizers (index equals a from-scratch build of
    the full corpus), and a compaction tick moves rows between files
    without changing a single served row."""
    from endtoend_etl_openmeteo_spark.operators.similarity import (
        append_ivfpq_index,
        compact_ivfpq_index,
        ivfpq_encode,
        ivfpq_topk_rerank,
        ivfpq_train,
        stored_ivfpq_topk,
        write_ivfpq_index,
    )

    coarse, cb = ivfpq_train(emb, n_cells=10, m=8, k=16, iterations=2)
    path = str(tmp_path / "ivfpq_inc")
    first = emb.filter(F.col("vec_id") < 300)
    write_ivfpq_index(ivfpq_encode(first, coarse, cb), coarse, cb, path)
    append_ivfpq_index(
        spark, emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)), path
    )
    append_ivfpq_index(spark, emb.filter(F.col("vec_id") >= 400), path)

    queries = emb.filter(F.col("vec_id") < 5)
    served = {
        tuple(r)
        for r in stored_ivfpq_topk(
            spark, path, emb, queries, k=10, nprobe=3
        ).collect()
    }
    full_inplan = {
        tuple(r)
        for r in ivfpq_topk_rerank(
            ivfpq_encode(emb, coarse, cb), coarse, cb, emb, queries,
            k=10, nprobe=3, n_candidates=50,
        ).collect()
    }
    assert served == full_inplan and served

    stats = compact_ivfpq_index(spark, path, max_files_per_cell=1)
    assert stats["partitions_compacted"] > 0
    after = {
        tuple(r)
        for r in stored_ivfpq_topk(
            spark, path, emb, queries, k=10, nprobe=3
        ).collect()
    }
    assert after == served


def test_quantizer_trainers_raise_named_errors_on_tiny_corpus(spark):
    """A sample smaller than k (or empty) must raise a named ValueError,
    not a bare numpy IndexError mid-plan."""
    from endtoend_etl_openmeteo_spark.operators.similarity import ivfpq_train

    tiny = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="cannot seed k=10"):
        ivfpq_train(tiny, n_cells=10, m=8, k=4, iterations=1)
    with pytest.raises(ValueError, match="empty corpus"):
        pq_train(tiny.filter("vec_id < 0"), m=8, k=4)


def test_pq_assign_null_and_ragged_vectors_yield_null_code_rows(spark, emb):
    """The dirty-corpus contract of the Arrow encode seam: a null or
    wrong-dimension embedding yields a null codes (and null cell) row —
    one bad record must not fail the whole encode job with an opaque
    ``np.stack`` ValueError — while every clean row encodes exactly as it
    would without the dirt."""
    from endtoend_etl_openmeteo_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_train,
    )

    clean = emb.filter(F.col("vec_id") < 200).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(9001, None), (9002, [1.0, 2.0, 3.0])],
            "vec_id long, embedding array<double>",
        )
    )
    cb = pq_train(clean, m=8, k=16, iterations=2)
    enc = {r["id"]: r["codes"] for r in pq_encode(dirty, cb).collect()}
    assert enc[9001] is None and enc[9002] is None
    want = {r["id"]: r["codes"] for r in pq_encode(clean, cb).collect()}
    assert {i: c for i, c in enc.items() if i < 9000} == want

    coarse, books = ivfpq_train(clean, n_cells=4, m=8, k=8, iterations=2)
    rows = {
        r["id"]: (r["cell"], r["codes"])
        for r in ivfpq_encode(dirty, coarse, books).collect()
    }
    assert rows[9001] == (None, None) and rows[9002] == (None, None)
    clean_rows = {
        r["id"]: (r["cell"], r["codes"])
        for r in ivfpq_encode(clean, coarse, books).collect()
    }
    assert {i: v for i, v in rows.items() if i < 9000} == clean_rows


def test_delete_and_vacuum_stored_ivfpq(spark, emb, tmp_path):
    """FAISS remove_ids, made durable: tombstoned ids vanish from serving
    immediately (no rewrite), serving equals the in-plan rerank over the
    corpus minus the deleted rows, and the vacuum tick physically removes
    the rows + clears the sidecar without changing served results."""
    from pathlib import Path

    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        delete_from_stored_index,
        vacuum_index_tombstones,
    )
    from endtoend_etl_openmeteo_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_topk_rerank,
        ivfpq_train,
        stored_ivfpq_topk,
        write_ivfpq_index,
    )

    path = str(tmp_path / "ivfpq")
    sample = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    coarse, cb = ivfpq_train(sample, n_cells=6, m=8, k=8, iterations=2)
    enc = ivfpq_encode(sample, coarse, cb)
    write_ivfpq_index(enc, coarse, cb, path)
    queries = sample.filter(F.col("vec_id") < 5)
    before = {
        tuple(r) for r in stored_ivfpq_topk(spark, path, sample, queries, k=10, nprobe=6).collect()
    }
    # delete three ids that actually appear as neighbors
    victims = sorted({r[1] for r in before} - {0, 1, 2, 3, 4})[:3]
    assert delete_from_stored_index(spark, victims, path) == 3
    after = {
        tuple(r) for r in stored_ivfpq_topk(spark, path, sample, queries, k=10, nprobe=6).collect()
    }
    assert not {r[1] for r in after} & set(victims)
    # strong contract: serving == in-plan rerank over corpus-minus-deleted
    kept = sample.filter(~F.col("vec_id").isin(victims))
    inplan = {
        tuple(r)
        for r in ivfpq_topk_rerank(
            ivfpq_encode(kept, coarse, cb), coarse, cb, kept,
            queries, k=10, nprobe=6, n_candidates=50,
        ).collect()
    }
    assert after == inplan and after
    # vacuum: physical removal, sidecar cleared, serving unchanged
    stats = vacuum_index_tombstones(spark, path)
    assert stats["tombstones"] == 3 and stats["rows_removed"] == 3
    assert stats["partitions_rewritten"] >= 1
    assert not (Path(path) / "_tombstones").exists()
    ids = {r["id"] for r in spark.read.parquet(path).select("id").collect()}
    assert not ids & set(victims)
    assert {
        tuple(r) for r in stored_ivfpq_topk(spark, path, sample, queries, k=10, nprobe=6).collect()
    } == after
    # deleting a never-ingested id is a serve-time no-op, vacuumed away
    assert delete_from_stored_index(spark, [10_000_000], path) == 1
    stats = vacuum_index_tombstones(spark, path)
    assert stats == {
        "tombstones": 1, "rows_removed": 0, "partitions_rewritten": 0,
    }
    assert not (Path(path) / "_tombstones").exists()


def test_delete_respects_lease_and_applies_to_stored_ivf(spark, emb, tmp_path):
    """The delete path serializes with other writers, and the flat IVF
    (raw-vector) layout serves tombstone-filtered results too."""
    import pytest

    from endtoend_etl_openmeteo_spark.operators.clusters import (
        kmeans_assign,
        kmeans_train_sampled,
    )
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        LeaseConflictError,
        index_lease,
    )
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        delete_from_stored_index,
    )
    from endtoend_etl_openmeteo_spark.operators.similarity import (
        stored_ivf_topk,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    cents = kmeans_train_sampled(emb, k=6, iterations=2)
    cells = (
        kmeans_assign(emb, cents, keep_vec=True)
        .withColumnRenamed("id", "vec_id")
        .withColumnRenamed("vec", "embedding")
    )
    write_ivf_index(cells, cents, path, cell_col="cluster")
    queries = emb.filter(F.col("vec_id") < 3)
    before = stored_ivf_topk(spark, path, queries, k=10, nprobe=6).collect()
    victim = before[0]["n_id"]
    with index_lease(spark, path, owner="other"):
        with pytest.raises(LeaseConflictError):
            delete_from_stored_index(spark, [victim], path)
    delete_from_stored_index(spark, [victim], path)
    after = stored_ivf_topk(spark, path, queries, k=10, nprobe=6).collect()
    assert victim not in {r["n_id"] for r in after}


def test_append_refuses_tombstoned_vec_until_vacuum(spark, emb, tmp_path):
    """Re-ingesting a deleted vec id into a stored ANN layout is REFUSED
    while its tombstone is live (the serve-time anti-join would silently
    hide the new row), and serves again once a vacuum clears the sidecar.
    Covers both batch append paths (flat IVF raises; IVF-PQ raises)."""
    import pytest

    from endtoend_etl_openmeteo_spark.operators.clusters import (
        kmeans_assign,
        kmeans_train_sampled,
    )
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        TombstonedIdError,
        delete_from_stored_index,
        vacuum_index_tombstones,
    )
    from endtoend_etl_openmeteo_spark.operators.similarity import (
        append_ivf_index,
        append_ivfpq_index,
        ivfpq_encode,
        ivfpq_train,
        stored_ivf_topk,
        write_ivf_index,
        write_ivfpq_index,
    )

    sample = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # --- flat IVF: full refuse -> vacuum -> re-append -> serves again ---
    path = str(tmp_path / "ivf")
    cents = kmeans_train_sampled(sample, k=6, iterations=2)
    cells = (
        kmeans_assign(sample, cents, keep_vec=True)
        .withColumnRenamed("id", "vec_id")
        .withColumnRenamed("vec", "embedding")
    )
    write_ivf_index(cells, cents, path, cell_col="cluster")
    queries = sample.filter(F.col("vec_id") < 3)
    before = stored_ivf_topk(spark, path, queries, k=10, nprobe=6).collect()
    victim = before[0]["n_id"]
    batch = sample.filter(F.col("vec_id") == victim)
    delete_from_stored_index(spark, [victim], path)
    with pytest.raises(TombstonedIdError):
        append_ivf_index(spark, batch, path)
    # the refusal happens under the lease, before any file lands
    assert (
        spark.read.parquet(path).filter(F.col("vec_id") == victim).count() == 1
    )  # only the original (tombstone-hidden) row
    vacuum_index_tombstones(spark, path, id_col="vec_id")
    assert spark.read.parquet(path).filter(F.col("vec_id") == victim).count() == 0
    append_ivf_index(spark, batch, path)
    after = stored_ivf_topk(spark, path, queries, k=10, nprobe=6).collect()
    assert victim in {r["n_id"] for r in after}
    assert {tuple(r) for r in after} == {tuple(r) for r in before}
    # --- IVF-PQ append refuses too ---
    pq_path = str(tmp_path / "ivfpq")
    coarse, cb = ivfpq_train(sample, n_cells=4, m=8, k=8, iterations=2)
    write_ivfpq_index(ivfpq_encode(sample, coarse, cb), coarse, cb, pq_path)
    delete_from_stored_index(spark, [int(victim)], pq_path)
    with pytest.raises(TombstonedIdError):
        append_ivfpq_index(spark, batch, pq_path)


def test_delete_validates_id_type(spark, tmp_path):
    """A non-integral id column must raise, not silently cast to NULL
    tombstones that the serve-time anti-join can never match."""
    import pytest

    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        delete_from_stored_index,
    )

    bad = spark.createDataFrame([("a",), ("b",)], "doc_id string")
    with pytest.raises(TypeError, match="non-integral"):
        delete_from_stored_index(spark, bad, str(tmp_path / "idx"))


def test_hinted_delete_prunes_vacuum_discovery(spark, emb, tmp_path):
    """Partition-hinted tombstones: the deleter assigns its vectors'
    cells through the stored quantizer (ivf_cells_for_vectors), vacuum
    removes exactly those rows, and an INVALID hint (unknown column)
    falls back to the full discovery scan instead of missing rows —
    pruned when provably safe, correct always."""
    from endtoend_etl_openmeteo_spark.operators.clusters import (
        kmeans_assign,
        kmeans_train_sampled,
    )
    from endtoend_etl_openmeteo_spark.operators.index_maintain import (
        _read_tombstones,
        delete_from_stored_index,
        vacuum_index_tombstones,
    )
    from endtoend_etl_openmeteo_spark.operators.similarity import (
        ivf_cells_for_vectors,
        write_ivf_index,
    )

    sample = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    path = str(tmp_path / "ivf")
    cents = kmeans_train_sampled(sample, k=6, iterations=2)
    assigned = kmeans_assign(sample, cents, keep_vec=True)
    cells = assigned.withColumnRenamed("id", "vec_id").withColumnRenamed(
        "vec", "embedding"
    )
    write_ivf_index(cells, cents, path, cell_col="cluster")
    victims = [10, 11, 12]
    vic = sample.filter(F.col("vec_id").isin(victims))
    hints = ivf_cells_for_vectors(spark, path, vic)
    # the hint names the row's REAL partition (same assignment op)
    truth = {
        r["id"]: f"cell={r['cluster']}"
        for r in assigned.filter(F.col("id").isin(victims)).collect()
    }
    assert {r["id"]: r["part"] for r in hints.collect()} == truth
    assert delete_from_stored_index(spark, hints, path) == 3
    tomb = _read_tombstones(spark, path, id_col="vec_id").collect()
    assert all(r["part"].startswith("cell=") for r in tomb)
    stats = vacuum_index_tombstones(spark, path, id_col="vec_id")
    assert stats["rows_removed"] == 3
    assert stats["partitions_rewritten"] == len(set(truth.values()))
    left = {r["vec_id"] for r in spark.read.parquet(path).select("vec_id").collect()}
    assert not left & set(victims)
    # --- invalid hint column: fallback still removes the row ---
    bogus = spark.createDataFrame([(20, "epoch=9")], "vec_id long, part string")
    delete_from_stored_index(spark, bogus, path)
    stats = vacuum_index_tombstones(spark, path, id_col="vec_id")
    assert stats["rows_removed"] == 1
    assert 20 not in {
        r["vec_id"] for r in spark.read.parquet(path).select("vec_id").collect()
    }
    # --- wrong-VALUED hint (valid column, wrong cell): the safety net
    # must rescan for ids missing from their hinted partitions instead
    # of clearing the sidecar over an unfound row (silent resurrection)
    real = assigned.filter(F.col("id") == 30).collect()[0]["cluster"]
    mis = spark.createDataFrame(
        [(30, f"cell={(real + 1) % 64}")], "vec_id long, part string"
    )
    delete_from_stored_index(spark, mis, path)
    stats = vacuum_index_tombstones(spark, path, id_col="vec_id")
    assert stats["rows_removed"] == 1
    assert 30 not in {
        r["vec_id"] for r in spark.read.parquet(path).select("vec_id").collect()
    }
