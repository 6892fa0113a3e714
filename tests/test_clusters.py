"""Connected-components clustering and k-means correctness tests."""

import pytest
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.operators.clusters import (
    dedup_clusters,
    kmeans,
    kmeans_assign,
)


def test_dedup_clusters_known_graph(spark):
    # components: {1,2,3,9} (chain 1-2, 2-3, 3-9), {5,6}, isolated pairs absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 6)], "id_a long, id_b long"
    )
    got = {r.id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_dedup_clusters_long_chain_converges(spark):
    # Worst case for plain label propagation: a path graph. 60 nodes would
    # need ~60 neighbor-min rounds; pointer jumping must finish within 10
    # (O(log diameter) + 1 fixed-point-detection round).
    n = 60
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {
        r.id: r.cluster_id
        for r in dedup_clusters(
            pairs, max_iterations=10, local_edge_threshold=0
        ).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_kmeans_separates_obvious_clusters(spark):
    # two tight blobs far apart; k=2 must split them exactly
    a = [[0.0, 0.0], [0.1, 0.0], [0.0, 0.1], [0.1, 0.1]]
    b = [[10.0, 10.0], [10.1, 10.0], [10.0, 10.1], [10.1, 10.1]]
    rows = [(i, v) for i, v in enumerate(a + b)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assignments, centroids = kmeans(df, k=2, iterations=4)
    got = {r.id: r.cluster for r in assignments.collect()}
    assert len({got[i] for i in range(4)}) == 1
    assert len({got[i] for i in range(4, 8)}) == 1
    assert got[0] != got[4]
    cents = sorted((r.centroid for r in centroids.collect()), key=lambda c: c[0])
    assert cents[0][0] == pytest.approx(0.05) and cents[1][0] == pytest.approx(10.05)


def test_kmeans_deterministic(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a1, _ = kmeans(emb, k=4, iterations=2)
    a2, _ = kmeans(emb, k=4, iterations=2)
    assert {(r.id, r.cluster) for r in a1.collect()} == {
        (r.id, r.cluster) for r in a2.collect()
    }


def test_kmeans_assign_matches_training_assignment(spark):
    # Assigning the training table against its own trained centroids must
    # reproduce kmeans's final assignment (same literal-argmin plan), and
    # unseen vectors must land on their nearest centroid.
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    trained, centroids = kmeans(emb, k=4, iterations=2)
    applied = kmeans_assign(emb, centroids)
    assert {(r.id, r.cluster) for r in trained.collect()} == {
        (r.id, r.cluster) for r in applied.collect()
    }
    # unseen vectors land on the nearest centroid
    cents = {r.cluster: list(r.centroid) for r in centroids.collect()}
    probe_cluster, probe_vec = max(cents.items())
    new = spark.createDataFrame(
        [(999_999, [x + 0.001 for x in probe_vec])],
        "vec_id long, embedding array<double>",
    )
    got = kmeans_assign(new, centroids).collect()
    assert [(r.id, r.cluster) for r in got] == [(999_999, probe_cluster)]


def test_incremental_gold_only_touches_batch_months(spark, tmp_path_factory):
    import datetime as dt

    from endtoend_etl_openmeteo_spark.operators.merge import merge_upsert
    from endtoend_etl_openmeteo_spark.pipeline import (
        MONTH,
        month_of,
        refresh_gold_incremental,
    )
    from endtoend_etl_openmeteo_spark.schemas import WEATHER_HOURLY_SCHEMA
    from pathlib import Path
    import shutil, uuid

    d = Path(__file__).resolve().parent.parent / ".tmp" / f"gold_{uuid.uuid4().hex[:6]}"
    d.mkdir(parents=True)
    try:
        ing = dt.datetime(2025, 10, 2)

        def merge(rows):
            hourly = spark.createDataFrame(rows, WEATHER_HOURLY_SCHEMA)
            merge_upsert(
                spark, hourly.withColumn(MONTH, month_of(F.col("timestamp"))),
                silver, ["city", "timestamp"], "_ingested_at", [MONTH],
            )
            return hourly

        def gold_files(month):
            return sorted(
                (str(f), f.stat().st_mtime_ns)
                for f in (Path(gold) / f"{MONTH}={month}").rglob("*") if f.is_file()
            )

        silver, gold = str(d / "silver"), str(d / "gold")
        first_rows = merge(
            [("Warsaw", dt.datetime(2025, 10, 1, h), 10.0, 0.0, 1.0, ing) for h in range(4)]
            + [("Warsaw", dt.datetime(2025, 9, 1, h), 20.0, 0.0, 1.0, ing) for h in range(4)]
        )
        # initial full build
        refresh_gold_incremental(spark, first_rows, silver, gold)
        first = {r.day.month: r.temperature_2m for r in spark.read.parquet(gold).collect()}
        assert first == {10: 10.0, 9: 20.0}
        september = gold_files("2025-09")
        assert september

        # batch touches ONLY October; silver now has an extra October hour
        batch = merge([("Warsaw", dt.datetime(2025, 10, 1, 5), 50.0, 0.0, 1.0, ing)])
        refresh_gold_incremental(spark, batch, silver, gold)
        after = {
            r.day.month: round(r.temperature_2m, 2)
            for r in spark.read.parquet(gold).collect()
        }
        assert after[10] == 18.0  # (4*10 + 50)/5
        assert after[9] == 20.0  # untouched partition preserved
        assert gold_files("2025-09") == september  # and not rewritten
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_dedup_clusters_raises_when_cap_too_low(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iterations=3, local_edge_threshold=0)


def test_dedup_clusters_string_ids(spark):
    pairs = spark.createDataFrame(
        [("doc-b", "doc-c"), ("doc-a", "doc-b"), ("doc-x", "doc-y")],
        "id_a string, id_b string",
    )
    got = {r.id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {
        "doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a",
        "doc-x": "doc-x", "doc-y": "doc-x",
    }


def test_simhash_matches_reference_fold_and_is_map_only(spark):
    """The HOF-folded SimHash equals a driver-side Python fold over the
    same xxhash64 token hashes, is token-order-invariant, and plans with
    no data shuffle (per-document reduction = map-only)."""
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.dedup import simhash64

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "delta gamma beta alpha"),  # permutation of 1
            (3, "epsilon zeta"),
            (4, "alpha beta gamma delta epsilon"),
        ],
        "id long, text string",
    )
    got = {r.id: r.simhash for r in simhash64(df, "id", "text").collect()}
    assert got[1] == got[2]  # bag-of-words: order must not matter
    assert got[1] != got[3]

    # independent reference: Python fold over Spark's own token hashes
    toks = {
        r.id: r.hs
        for r in df.select(
            "id",
            F.expr(
                "transform(array_distinct(split(text, ' ')), t -> xxhash64(t))"
            ).alias("hs"),
        ).collect()
    }
    for doc_id, hashes in toks.items():
        counts = [0] * 64
        for h in hashes:
            for i in range(64):
                counts[i] += 1 if (h >> i) & 1 else -1
        expected = 0
        for i in range(64):
            if counts[i] > 0:
                expected |= 1 << i
        # Spark longs are signed 64-bit
        if expected >= 1 << 63:
            expected -= 1 << 64
        assert got[doc_id] == expected, doc_id

    plan = simhash64(df, "id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan


def test_dedup_clusters_local_and_distributed_paths_agree(spark):
    """The adaptive local union-find (metadata-sized graphs) must label
    identically to the distributed pointer-jumping path — same min-id
    components, same schema — on chains, stars, singleton pairs, and
    string ids."""
    graphs = [
        ([(1, 2), (2, 3), (3, 9), (5, 6)], "id_a long, id_b long"),
        ([(i, i + 1) for i in range(40)], "id_a long, id_b long"),
        ([(0, i) for i in range(1, 12)] + [(100, 101)], "id_a long, id_b long"),
        ([("b", "c"), ("a", "b"), ("x", "y")], "id_a string, id_b string"),
    ]
    for rows, schema in graphs:
        pairs = spark.createDataFrame(rows, schema)
        local = dedup_clusters(pairs)  # under the threshold -> union-find
        dist = dedup_clusters(pairs, local_edge_threshold=0)
        assert local.schema == dist.schema
        assert sorted(map(tuple, local.collect())) == sorted(
            map(tuple, dist.collect())
        ), rows


def test_kmeans_rejects_undersized_corpus_and_releases_checkpoint(spark):
    """kmeans on fewer than k vectors must raise the named seeding error
    (kmeans_train_sampled's contract) — not IndexError on empty input or
    a silently under-sized centroid set — and must not leak its input
    checkpoint on the failure path."""
    from endtoend_etl_openmeteo_spark.operators.clusters import kmeans
    from endtoend_etl_openmeteo_spark.session import persistent_rdd_ids

    base = persistent_rdd_ids(spark)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="cannot seed k="):
        kmeans(empty, k=4, iterations=1)
    small = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="cannot seed k=4"):
        kmeans(small, k=4, iterations=1)
    assert persistent_rdd_ids(spark) - base == set()


def test_dedup_clusters_rejects_nonpositive_iteration_cap(spark):
    """max_iterations=0 previously skipped the non-convergence guard and
    returned the INITIAL identity labels as if converged."""
    from endtoend_etl_openmeteo_spark.operators.clusters import dedup_clusters

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="max_iterations"):
        dedup_clusters(pairs, max_iterations=0, local_edge_threshold=0)
