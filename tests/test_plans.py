"""Physical-plan quality gates (the 100 TB design checks, SURVEY.md §4).

These assert the plans Catalyst actually produces — pushdown reaching the
parquet scan, dimension joins going broadcast, top-k avoiding global sorts —
so a regression in plan shape fails CI even while results stay correct.
"""

import pytest

from endtoend_etl_openmeteo_spark import plans

SF = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def registry():
    return plans.load_all()


def test_scan_pushes_filter_and_prunes_columns(spark, registry):
    plan = _physical(registry["q_scan"].fn(spark, SF))
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,25.0)" in plan
    # only the 4 projected columns reach the reader
    assert "l_extendedprice" in plan and "l_returnflag" not in plan


def test_range_filter_pushes_timestamp_bounds(spark, registry):
    """The ns-long filter (not the derived timestamp) reaches the reader."""
    plan = _physical(registry["q_range_filter"].fn(spark, SF))
    assert "GreaterThanOrEqual(ts" in plan.split("PushedFilters")[1].split("]")[0]


def test_dim_joins_are_broadcast(spark, registry):
    for q in ("q_broadcast_join", "q_semi_join", "q_anti_join"):
        plan = _physical(registry[q].fn(spark, SF))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, q
        assert "SortMergeJoin" not in plan, q


def test_top1_uses_take_ordered_not_global_sort(spark, registry):
    plan = _physical(registry["q_top1"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_aggregates_have_partial_stage(spark, registry):
    """Map-side partial aggregation before the shuffle (HashAggregate x2)."""
    plan = _physical(registry["q_daily_agg"].fn(spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "partial_avg" in plan or "partial_" in plan


def test_whole_stage_codegen_covers_hot_path(spark, registry):
    df = registry["q_daily_agg_full"].fn(spark, SF)
    df.collect()  # AQE finalizes the plan (codegen spans appear post-exec)
    plan = _physical(df)
    # '*(n)' prefixes mark WholeStageCodegen spans in the plan string;
    # both the partial and final aggregate stages must be inside one.
    assert "isFinalPlan=true" in plan
    assert "*(1) HashAggregate" in plan and "*(2) HashAggregate" in plan


#: The complete Python-on-executor allowlist. Policy: NO row-at-a-time
#: Python UDFs anywhere (BatchEvalPython/ArrowEvalPython); vectorized
#: Arrow-batch operators (MapInPandas/FlatMapGroupsInPandas) ONLY in the
#: queries below, where JVM built-ins genuinely can't express the op
#: efficiently: the multimodal codec seam and the dense-linear-algebra
#: seams (LSH hyperplane matmul, PQ/IVF-PQ code assignment — per-element
#: JVM folds traverse each vector m*k times; numpy does the batch as one
#: BLAS-shaped broadcast).
VECTORIZED_PYTHON_ALLOWED = frozenset(
    {
        "q_multimodal_features",  # codec seam (operators/multimodal.py)
        "q_multimodal_embedding",
        "q_multimodal_video",  # same seam, video modality
        "q_ann_lsh",  # hyperplane-projection matmul (operators/similarity.py)
        "q_ann_pq",  # PQ code-assignment matmul (_pq_assign_op)
        "q_ann_ivfpq",  # coarse + residual-code assignment (_pq_assign_op)
        "q_ann_recall_contract",  # composes the ANN family, inherits seams
    }
)


#: The only (module, function) pairs under the package allowed a bare
#: ``.localCheckpoint(``. A function's returned frame is owned by its
#: caller, which frees it with ``session.release_persistent_rdds``; a
#: loop-carried iterate is released by the next round. Every other
#: checkpoint is taken with ``session.pinned``, which releases it even
#: when the body raises.
UNSCOPED_CHECKPOINTS_ALLOWED = frozenset(
    {
        ("session", "pinned"),  # the primitive itself
        # loop-carried iterates (plus the final round, which is returned)
        ("operators.bpe", "bpe_train"),
        ("operators.clusters", "_pointer_jumping_labels"),
        ("operators.clusters", "_power_iteration"),
        # frames returned to the caller, or the blocks they read
        ("operators.clusters", "_local_result_df"),
        ("operators.clusters", "kmeans"),
        ("operators.dedup", "minhash_lsh_pairs"),
        ("operators.dedup", "incremental_neardup"),
        ("operators.dedup", "incremental_exact_dedup"),
        ("operators.layout", "sequence_pack"),
        ("plans.advanced", "q_tpch_q11"),
        ("plans.advanced", "q_tpch_q15"),
        ("plans.advanced", "q_tpch_q17"),
        ("plans.llm", "q_bloom_decontaminate"),
        ("plans.relational", "q_bloom_lookup"),
        ("plans.relational", "q_cdc_apply"),
        ("plans.relational", "q_merge_mor"),
        ("plans.relational", "q_mor_delete"),
        ("plans.relational", "q_optimize_cluster"),
        ("plans.relational", "q_rename_count"),
        ("plans.relational", "q_snapshot_diff"),
        ("plans.relational", "q_snapshot_merge"),
        ("plans.relational", "q_time_travel"),
        ("plans.similarity", "q_ann_stream_ingest"),
        ("plans.text", "q_corpus_ingest"),
        ("plans.text", "q_index_compact"),
        ("plans.timeseries", "q_stream_join"),
        ("plans.timeseries", "q_stream_window"),
    }
)


def test_checkpoints_are_scoped_and_threads_carry_the_job_group():
    """Static guard over the package source: a bare ``.localCheckpoint(``
    only in UNSCOPED_CHECKPOINTS_ALLOWED (everything else goes through
    ``session.pinned``), and no ``ThreadPoolExecutor`` or
    ``threading.Thread`` outside ``session.py`` (concurrent jobs go
    through ``session.overlap``, whose threads inherit the caller's job
    group)."""
    import ast
    from pathlib import Path

    pkg = Path(plans.__file__).resolve().parents[1]
    unscoped, threads, seen = [], [], set()

    def walk(node, mod: str, fn):
        for child in ast.iter_child_nodes(node):
            name = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else fn
            )
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "localCheckpoint"
            ):
                seen.add((mod, name))
                if (mod, name) not in UNSCOPED_CHECKPOINTS_ALLOWED:
                    unscoped.append(f"{mod}.{name}:{child.lineno}")
            ident = (
                getattr(child, "id", None)
                or getattr(child, "attr", None)
                or (child.name if isinstance(child, ast.alias) else None)
            )
            if mod != "session" and ident in ("ThreadPoolExecutor", "Thread"):
                threads.append(f"{mod}:{child.lineno}")
            walk(child, mod, name)

    for path in sorted(pkg.rglob("*.py")):
        mod = ".".join(path.relative_to(pkg).with_suffix("").parts)
        walk(ast.parse(path.read_text()), mod, None)
    assert not unscoped, f"take these checkpoints with session.pinned: {unscoped}"
    assert not threads, f"overlap jobs with session.overlap: {threads}"
    stale = UNSCOPED_CHECKPOINTS_ALLOWED - seen
    assert not stale, f"allowlisted functions without a checkpoint: {stale}"


def test_hadoop_file_access_goes_through_fsio():
    """Static guard over the package source: only ``fsio.py`` builds a
    Hadoop ``Path`` or ``FileSystem`` or reads through commons-io, so the
    JVM file plumbing exists once; and ``index_maintain.py`` keeps one
    writer lease, with no pluggable ``LeaseBackend`` or ``backend=``
    argument."""
    from pathlib import Path

    pkg = Path(plans.__file__).resolve().parents[1]
    offenders = [
        f"{p.relative_to(pkg)}:{n}"
        for p in sorted(pkg.rglob("*.py"))
        if p != pkg / "fsio.py"
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if any(t in line for t in ("hadoop.fs.Path(", "getFileSystem(", "IOUtils."))
    ]
    assert not offenders, f"go through endtoend_etl_openmeteo_spark.fsio: {offenders}"
    lease = (pkg / "operators" / "index_maintain.py").read_text()
    assert "LeaseBackend" not in lease and "backend=" not in lease


#: The ELT path's modules: bronze landing → DQ gate → merge → gold, and
#: the stored-index maintenance that shares its one-file metadata writes.
ELT_PATH_MODULES = (
    "pipeline.py",
    "fsio.py",
    "streaming/pipeline.py",
    "sources",
    "operators/dq.py",
    "operators/explode.py",
    "operators/gaps.py",
    "operators/merge.py",
    "operators/index_maintain.py",
)


def _elt_path_calls():
    """(``module:line``, called name, the called object's name or None)
    of every call in :data:`ELT_PATH_MODULES`."""
    import ast
    from pathlib import Path

    pkg = Path(plans.__file__).resolve().parents[1]
    paths = []
    for entry in ELT_PATH_MODULES:
        p = pkg / entry
        paths += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    assert all(p.is_file() for p in paths), paths
    return [
        (
            f"{p.relative_to(pkg)}:{node.lineno}",
            getattr(node.func, "attr", getattr(node.func, "id", None)),
            getattr(getattr(node.func, "value", None), "id", None),
        )
        for p in paths
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Call)
    ]


def test_elt_path_builds_local_frames_through_local_rows():
    """Static guard: on the ELT path, driver-local rows enter Spark only
    through ``session.local_rows`` (a JVM local relation). A
    ``createDataFrame(`` or ``parallelize(`` there would build a
    pickled-row frame whose every scan starts a Python worker."""
    offenders = [
        where for where, name, _ in _elt_path_calls()
        if name in ("createDataFrame", "parallelize")
    ]
    assert not offenders, f"build these frames with session.local_rows: {offenders}"


def test_elt_path_commits_through_spark_writers():
    """Static guard: the ELT path commits its partitioned writes with
    Spark's own writers (the merge and the gold refresh overwrite
    dynamically). An ``fsio.rename(`` or ``fsio.mkdirs(`` call there would
    be a hand-rolled commit protocol beside Spark's ``commitJob``."""
    offenders = [
        where for where, name, obj in _elt_path_calls()
        if obj == "fsio" and name in ("rename", "mkdirs")
    ]
    assert not offenders, f"commit through a Spark writer: {offenders}"


@pytest.fixture(scope="module")
def all_plans(spark, registry):
    """One physical plan per registered query, computed once per module —
    the shared input for every whole-registry plan gate below."""
    return {name: _physical(spec.fn(spark, SF)) for name, spec in registry.items()}


def test_no_python_udfs_in_reference_parity_queries(all_plans):
    """SURVEY §2.10: reference parity needs zero Python UDFs — everything
    stays in Tungsten. Row-at-a-time Python is banned everywhere; Arrow
    vectorized operators are allowed only in VECTORIZED_PYTHON_ALLOWED."""
    for name, plan in all_plans.items():
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        if name not in VECTORIZED_PYTHON_ALLOWED:
            assert "MapInPandas" not in plan, name
            assert "FlatMapGroupsInPandas" not in plan, name


def test_shuffle_exchange_budgets(all_plans):
    """Every query's shuffle-exchange count is pinned to the recorded
    budget (tests/plan_budgets.json, regenerated by
    tools/plan_budget.py): a change that adds an exchange to ANY of the
    registered plans fails here even while results stay correct — the
    global version of the one-shuffle-per-logical-need rule. Fewer
    exchanges than budgeted passes (improvements don't need a regen,
    but SHOULD be recorded)."""
    import json
    from pathlib import Path

    from tools.plan_budget import count_shuffles

    budgets = json.loads(
        (Path(__file__).resolve().parent / "plan_budgets.json").read_text()
    )
    for name, plan in all_plans.items():
        assert name in budgets, (
            f"{name} has no recorded shuffle budget — run "
            "`python tools/plan_budget.py` to record it"
        )
        actual = count_shuffles(plan)
        assert actual <= budgets[name], (
            f"{name}: {actual} shuffle exchanges vs budget {budgets[name]} "
            "— a new exchange crept into the plan (regen via "
            "tools/plan_budget.py only if the regression is intended)"
        )


def test_pq_encode_is_map_only_with_broadcast_codebook(spark):
    """PQ encoding must scan the corpus exactly once with no key-based
    shuffle and no join: codebooks ride driver-side into the Arrow
    code-assignment seam (the 100 TB claim — codes are produced by a
    single narrow pass, raw vectors never shuffle)."""
    from endtoend_etl_openmeteo_spark.operators.similarity import pq_encode, pq_train
    from endtoend_etl_openmeteo_spark.sources.tables import tbl

    emb = tbl(spark, SF, "embeddings")
    cb = pq_train(emb, m=8, k=16, iterations=1)
    plan = _physical(pq_encode(emb, cb))
    assert "hashpartitioning" not in plan
    assert "Join" not in plan
    assert "MapInPandas" in plan
    assert "RoundRobinPartitioning" in plan


def test_minhash_lsh_lazy_plan_shape(spark):
    """q_minhash_neardup's declared plan collapses to a LogicalRDD scan
    (the operator returns a localCheckpoint'ed frame), so the registry
    budget gate can't see the LSH pipeline's shuffles. Pin them here on
    the lazy (materialize=False) form: round-robin spread + band
    self-join + candidate distinct + two id-keyed verify joins = 5
    exchanges. A regression in the band/verify joins fails THIS test."""
    from endtoend_etl_openmeteo_spark.operators.dedup import minhash_lsh_pairs
    from endtoend_etl_openmeteo_spark.sources.tables import tbl
    from tools.plan_budget import count_shuffles

    docs = tbl(spark, SF, "documents")
    plan = _physical(minhash_lsh_pairs(docs, "doc_id", "text", materialize=False))
    assert count_shuffles(plan) <= 5, count_shuffles(plan)
    assert "LogicalRDD" not in plan  # genuinely lazy — gate sees the pipeline


def test_dedup_contract_lazy_plan_shape(spark):
    """q_dedup_contract collects five independent verdict plans (the
    registry budget gate sees only the resulting LocalRelation), so the
    exchange budget is pinned on the verdict frames themselves — a
    shuffle creeping into a contract branch fails here. 21 was the old
    composed-union budget; the shared inputs are checkpointed now, so
    the four in-plan verdicts together sit well under it."""
    from endtoend_etl_openmeteo_spark.plans.text import _dedup_contract_parts
    from tools.plan_budget import count_shuffles

    with _dedup_contract_parts(spark, SF) as frames:
        n = sum(count_shuffles(_physical(df)) for df in frames.values())
        assert n <= 21, n
        assert set(frames) == {
            "minhash_precision",
            "minhash_recall_07",
            "simhash_exactdup",
            "clusters_consistent",
        }


def test_single_exchange_aggregate_shapes(spark, registry):
    """q_ohlc (min_by/max_by keyed candlesticks), q_twap (lead window +
    aggregate sharing one (event_type, day) partitioning), and
    q_json_extract (map-side JSON parse) must each move the fact stream
    through exactly ONE exchange, with map-side partial aggregation."""
    for q in ("q_ohlc", "q_twap", "q_json_extract"):
        plan = _physical(registry[q].fn(spark, SF))
        assert plan.count("Exchange") == 1, (q, plan.count("Exchange"))
        assert "partial_" in plan, q


def test_dpp_join_prunes_fact_partitions_at_runtime(spark, registry):
    """q_dpp_join's fact scan must carry a dynamicpruningexpression fed by
    the dim broadcast: the partition list is cut to the join-key values
    surviving the dim filter AT EXECUTION TIME — the star-schema scan
    reduction static pushdown cannot express (the pruning values live in
    another table)."""
    plan = _physical(registry["q_dpp_join"].fn(spark, SF))
    scan = plan.split("PartitionFilters")[1]
    assert "dynamicpruningexpression" in scan.split("]")[0]
    # pruning reuses the dim broadcast, not a second dim scan
    assert "SubqueryAdaptiveBroadcast" in plan or "SubqueryBroadcast" in plan


def test_gap_detect_broadcasts_expected_side(spark, registry):
    """The tiny (keys x hours) expected series must broadcast — the fact
    scan never shuffles for the anti-join."""
    plan = _physical(registry["q_gap_detect"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_parity_queries_fit_in_driver_checked_prefix():
    """The driver verifies only a prefix of queries() (50 entries in round
    1); every SURVEY §2 parity query must sit inside it, orderly, so the
    hard correctness signal always covers the reference core first."""
    ordered = list(plans.ordered_registry())
    parity = [
        "q_range_filter", "q_tz_filter", "q_daily_agg", "q_daily_agg_full",
        "q_sequence", "q_gap_detect", "q_upsert",
        "q_scan", "q_cast_projection", "q_round", "q_sort", "q_top1",
        "q_limit", "q_distinct", "q_union", "q_coalesce", "q_string_ops",
        "q_date_format", "q_json_roundtrip",
        "q_broadcast_join", "q_semi_join", "q_anti_join",
        "q_dq_nulls", "q_dq_bounds", "q_dq_gate",
        "q_explode", "q_explode_nullpad",
        # q_multimodal_frames rotated past the prefix in round 8 (round-7
        # verdict task 2): multimodal is extension surface, not SURVEY §2,
        # and frames earned driver rows in rounds 2-7; features stays as
        # the family's witnessed representative.
        "q_multimodal_features",
    ]
    prefix = set(ordered[:50])
    missing = [q for q in parity if q not in prefix]
    assert not missing, f"parity queries outside driver-checked prefix: {missing}"
    # every PRIORITY name must actually exist (catches typos/renames)
    reg = plans.load_all()
    unknown = [q for q in plans.PRIORITY if q not in reg]
    assert not unknown, f"PRIORITY names not in registry: {unknown}"


def test_contamination_broadcasts_benchmark_set(spark, registry):
    """The benchmark shingle set is corpus-size-independent (an eval suite)
    — it must broadcast so candidate shingles never shuffle for the probe."""
    plan = _physical(registry["q_contamination"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_winsorize_broadcasts_group_stats(spark, registry):
    """Per-lang p05/p95 is |langs| rows at any scale; the clip join must
    broadcast, never sort-merge the corpus."""
    plan = _physical(registry["q_winsorize"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_map_only_llm_stages_have_no_shuffle(spark, registry):
    """PII scrub and context chunking are per-row stages — any Exchange in
    their plan is a regression (at 100 TB it would shuffle the corpus)."""
    for q in ("q_pii_scrub", "q_chunk_windows"):
        plan = _physical(registry[q].fn(spark, SF))
        assert "Exchange" not in plan, q


def test_pack_sequences_single_shuffle(spark, registry):
    """Packing is one window cumsum per bin: exactly one hash-partitioning
    exchange on the bin key."""
    plan = _physical(registry["q_pack_sequences"].fn(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1


def test_funnel_windows_share_one_exchange(spark, registry):
    """Three stacked per-user window minima must reuse a single user_id
    hash exchange — a per-step self-join would shuffle three times."""
    plan = _physical(registry["q_funnel"].fn(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 3


def test_range_window_single_exchange(spark, registry):
    """The time-RANGE frame evaluates inside the one per-user window sort —
    the value-based bound must not add exchanges over a ROWS frame."""
    plan = _physical(registry["q_range_window"].fn(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_lm_score_broadcasts_language_model(spark, registry):
    """The unigram LM table is vocabulary-sized, not corpus-sized — the
    scoring join must broadcast it so document tokens never shuffle."""
    df = registry["q_lm_score"].fn(spark, SF)
    df.collect()  # AQE finalizes join strategies
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_domain_cap_single_window_exchange(spark, registry):
    """Canonicalization is narrow; the cap is one row_number window on
    domain — exactly one hash exchange, no join, no global sort."""
    plan = _physical(registry["q_domain_cap"].fn(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_shard_pack_avoids_single_partition_window(spark, registry):
    """The distributed zipWithIndex must never funnel data through one
    task: every Exchange is hash/agg-keyed, no SinglePartition exchange,
    no global Sort — the per-bucket windows carry the ordering."""
    import re

    plan = _physical(registry["q_shard_pack"].fn(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert not re.search(r"Sort \[[^\]]*\], true", plan)  # no global sort
    assert "Window" in plan  # per-bucket row_number is the mechanism


def test_dpp_join_reuses_partitioned_scratch_copy(spark, registry):
    """The partitioned events copy is the layout under test, not the
    work: a second invocation in the same process must do ZERO setup
    write (every scratch file's mtime unchanged) so repeat runs measure
    the DPP join itself."""
    import glob
    import hashlib
    import os
    import tempfile

    fn = registry["q_dpp_join"].fn
    r1 = sorted(tuple(r) for r in fn(spark, SF).collect())
    root = os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir())
    key = hashlib.md5(os.path.abspath(SF).encode()).hexdigest()[:12]
    part_dir = os.path.join(root, f"dpp_events_{os.getpid()}_{key}")
    files = glob.glob(part_dir + "/**/*", recursive=True)
    assert files, "scratch copy missing after first invocation"
    before = {p: os.stat(p).st_mtime_ns for p in files}
    r2 = sorted(tuple(r) for r in fn(spark, SF).collect())
    after = {p: os.stat(p).st_mtime_ns for p in glob.glob(part_dir + "/**/*", recursive=True)}
    assert after == before, "second invocation rewrote the scratch copy"
    assert r2 == r1


def test_sequence_pack_lazy_plan_shape(spark):
    """q_sequence_pack's declared plan collapses to a LogicalRDD scan
    (the operator localCheckpoints the token-count base so the pack's
    three consumers don't re-run the tokenizer-regex lineage), so the
    registry budget gate can't see the packer's shuffles. Pin the lazy
    (materialize=False) form: round-robin spread + bucket window
    exchange = 2, and the global offset must never be a SinglePartition
    sum-over-order window."""
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.dedup import cpu_parallelize
    from endtoend_etl_openmeteo_spark.operators.layout import sequence_pack
    from endtoend_etl_openmeteo_spark.plans.text import TOKEN_PATTERN
    from endtoend_etl_openmeteo_spark.sources.tables import tbl
    from tools.plan_budget import count_shuffles

    docs = cpu_parallelize(tbl(spark, SF, "documents")).select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_PATTERN), 0)
        ).cast("long").alias("n_tokens"),
    )
    plan = _physical(
        sequence_pack(docs, seq_len=512, id_col="doc_id", materialize=False)
    )
    assert count_shuffles(plan) <= 2, count_shuffles(plan)
    assert "SinglePartition" not in plan
    assert "LogicalRDD" not in plan  # genuinely lazy — gate sees the pipeline


def test_fused_pass_job_counts_stay_pinned(spark, count_jobs):
    """The r12 lazy-checkpoint fusions (bpe_train's rewrite+count, the
    minhash signature checkpoint, sequence_pack's shared token-count
    base) delete whole scheduled jobs; nothing else in CI would notice a
    silent lazy->eager regression, so the job counts themselves are
    pinned via the status tracker (r12 verdict item 8). Bounds are the
    observed counts (stable across repeated runs): an eager rewrite
    checkpoint in bpe_train adds ~n_merges jobs, an eager minhash base
    checkpoint adds one."""
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.bpe import bpe_train
    from endtoend_etl_openmeteo_spark.operators.dedup import minhash_lsh_pairs
    from endtoend_etl_openmeteo_spark.operators.layout import sequence_pack
    from endtoend_etl_openmeteo_spark.session import (
        release_checkpoint,
        release_persistent_rdds,
    )

    docs = spark.createDataFrame(
        [
            (i, f"the quick brown fox {i % 3} jumps over the lazy dog {i}")
            for i in range(40)
        ],
        "doc_id long, text string",
    )

    def jobs_for(fn):
        _, n = count_jobs(fn)
        release_persistent_rdds(spark)
        return n

    def run_bpe():
        merges, toked = bpe_train(docs, n_merges=4)
        release_checkpoint(toked)

    assert jobs_for(run_bpe) <= 11  # observed 10; eager adds ~4

    def run_minhash():
        release_checkpoint(minhash_lsh_pairs(docs, "doc_id", "text"))

    assert jobs_for(run_minhash) <= 6  # observed 6; eager adds 1

    toks = docs.select("doc_id", F.lit(7).alias("n_tokens"))
    assert (
        jobs_for(lambda: sequence_pack(toks, 16).collect()) <= 8
    )  # observed 8
