"""PageRank operator (operators/clusters.pagerank).

Hand-graph checks: the distributed loop must reproduce a plain Python
power iteration running the identical formula (same damping, same
per-round rounding), mass must be conserved, and the best-connected node
must outrank the periphery — the property canonical-doc selection uses.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.operators.clusters import pagerank

D, ITERS, DP = 0.85, 6, 10


def _reference_pagerank(edges: list[tuple[int, int]]):
    sym = set(edges) | {(b, a) for a, b in edges}
    nodes = sorted({x for e in sym for x in e})
    deg = {x: sum(1 for s, _ in sym if s == x) for x in nodes}
    n = len(nodes)
    rank = {x: round(1.0 / n, DP) for x in nodes}
    for _ in range(ITERS):
        sums = {x: 0.0 for x in nodes}
        for s, d in sym:
            sums[d] += rank[s] / deg[s]
        rank = {
            x: round((1.0 - D) / n + D * sums[x], DP) for x in nodes
        }
    return rank


@pytest.fixture()
def star_plus_chain(spark):
    # hub 0 connected to 1..4; chain 5-6-7 as a second component
    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (5, 6), (6, 7)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return edges, df


def test_matches_reference_iteration(spark, star_plus_chain):
    edges, df = star_plus_chain
    got = {
        r["id"]: r["rank"]
        for r in pagerank(df, damping=D, iterations=ITERS, iter_dp=DP).collect()
    }
    want = _reference_pagerank(edges)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)


def test_mass_conserved_and_hub_wins(spark, star_plus_chain):
    _, df = star_plus_chain
    rows = pagerank(df, damping=D, iterations=ITERS, iter_dp=DP).collect()
    total = sum(r["rank"] for r in rows)
    # no dangling nodes -> total mass stays 1 (up to per-round rounding)
    assert total == pytest.approx(1.0, abs=1e-6)
    ranks = {r["id"]: r["rank"] for r in rows}
    assert ranks[0] > max(ranks[i] for i in (1, 2, 3, 4))  # hub outranks leaves
    assert ranks[6] > ranks[5]  # chain middle outranks endpoints


def test_empty_graph(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert pagerank(df).count() == 0


def test_local_and_distributed_paths_agree(spark, star_plus_chain):
    """The adaptive local power iteration (metadata-sized graphs) must
    reproduce the distributed loop's per-round quantized fixed point
    BIT-FOR-BIT — same HALF_UP rounding, same teleport/damping doubles —
    on hub, chain, string-id, and duplicate-pair graphs."""
    _, df = star_plus_chain
    graphs = [
        df,
        spark.createDataFrame([(i, i + 1) for i in range(30)], "id_a long, id_b long"),
        spark.createDataFrame(
            [("b", "c"), ("a", "b"), ("x", "y"), ("b", "c")],
            "id_a string, id_b string",
        ),
    ]
    for pairs in graphs:
        local = pagerank(pairs, damping=D, iterations=ITERS, iter_dp=DP)
        dist = pagerank(
            pairs, damping=D, iterations=ITERS, iter_dp=DP, local_edge_threshold=0
        )
        assert sorted(map(tuple, local.collect())) == sorted(
            map(tuple, dist.collect())
        )


def test_null_keyed_edges_take_the_distributed_path(spark):
    """NULL ids carry SQL join semantics (no flow over the NULL edge, the
    node still ranks on teleport) — the local solve must defer to the
    distributed path rather than guess, so both calls agree."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (3, 4)], "id_a long, id_b long"
    )
    default = pagerank(pairs, damping=D, iterations=2, iter_dp=DP)
    dist = pagerank(
        pairs, damping=D, iterations=2, iter_dp=DP, local_edge_threshold=0
    )
    assert sorted(
        map(tuple, default.collect()), key=str
    ) == sorted(map(tuple, dist.collect()), key=str)


def test_plan_is_jvm_side(spark, star_plus_chain):
    _, df = star_plus_chain
    plan = (
        pagerank(df, iterations=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_vectorized_half_up_matches_decimal_path():
    """_round_half_up_vec must be bit-for-bit the per-element Decimal
    HALF_UP (the vectorization exists so near-threshold graphs don't pay
    millions of Python Decimal calls — ADVICE r12). Adversarial values:
    exact .5 ties at the target scale, values one ulp either side of a
    tie, negatives, zeros, and a dense random sweep."""
    import numpy as np

    from endtoend_etl_openmeteo_spark.operators.clusters import (
        _round_half_up,
        _round_half_up_vec,
    )

    dp = 10
    ties = [i * 5e-11 for i in range(-21, 22)]  # k/2 * 10^-dp grid
    near = [np.nextafter(t, s) for t in ties for s in (-1.0, 1.0)]
    rng = np.random.default_rng(7)
    dense = rng.uniform(-1.0, 1.0, 20000).tolist()
    big = [123.456789, -98765.4321001, 1e5 + 2.5e-11]
    for batch in (ties, near, dense, big, [0.0, 1.0, -1.0]):
        x = np.asarray(batch, dtype=np.float64)
        got = _round_half_up_vec(x, dp)
        want = [_round_half_up(float(v), dp) for v in batch]
        assert got.tolist() == want


def test_vectorized_half_up_non_finite_matches_scalar_and_spark(spark):
    """NaN and ±inf compare False against every guard-band bound, so only
    an explicit mask routes them to the scalar path; both paths must
    return them unchanged, as Spark's round does."""
    import math

    import numpy as np

    from endtoend_etl_openmeteo_spark.operators.clusters import (
        _round_half_up,
        _round_half_up_vec,
    )

    vals = [math.nan, math.inf, -math.inf, 0.123456789049, -2.5e-11]
    got = _round_half_up_vec(np.asarray(vals, dtype=np.float64), 10).tolist()
    want = [_round_half_up(v, 10) for v in vals]
    spark_row = spark.createDataFrame([(v,) for v in vals], "x double").select(
        F.round("x", 10).alias("r")
    ).collect()
    for g, w, s in zip(got, want, (r.r for r in spark_row)):
        if math.isnan(w):
            assert math.isnan(g) and math.isnan(s)
        else:
            assert g == w == s
