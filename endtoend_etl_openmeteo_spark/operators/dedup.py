"""Deduplication operators for large-scale training-data pipelines.

Extension surface (SURVEY.md §7 step 7): exact dedup, MinHash+LSH near-dup,
SimHash fingerprints, exact n-gram Jaccard. All built from JVM-side
primitives — no Python UDFs anywhere, so the whole path stays in whole-stage
codegen and scales with executors.

Scale design:
- exact dedup: hash-groupBy on a digest of the normalized text → one shuffle
  keyed by digest (never by the full document bytes).
- MinHash+LSH: per-doc signature is a narrow transform (no shuffle);
  candidate generation shuffles (band, band_hash) pairs only — the classic
  O(n·bands) join that avoids the O(n²) cross product entirely. Verification
  re-joins shingle sets for candidates only.
- SimHash: 64 conditional sums over exploded tokens → one groupBy(doc);
  near-dup candidates via 16-bit band buckets (hamming ≤ 3 within bands).
"""

from __future__ import annotations

from contextlib import ExitStack, nullcontext

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark import fsio
from endtoend_etl_openmeteo_spark.session import pinned, release_checkpoint


#: Whitespace class shared by the Spark normalizers and their DuckDB
#: oracles: the EXPLICIT Java/RE2 common subset, never ``\s`` — Java's
#: ``\s`` includes \x0B (vertical tab) while RE2's does not, so a corpus
#: containing \x0B would silently tokenize differently per engine
#: (verified live: 'a\x0Bb' is 2 tokens under Java \s, 3 under RE2).
WHITESPACE_CLASS = r"[ \t\n\f\r]"


def normalized_text(col: Column | str) -> Column:
    """lower + whitespace collapse + trim — the canonical form for digests.
    Collapses the EXPLICIT whitespace class (see WHITESPACE_CLASS), so
    the md5 fingerprints agree with the DuckDB oracles' ``\\s+`` (RE2)
    for every input, \\x0B included."""
    return F.trim(
        F.regexp_replace(
            F.lower(F.col(col) if isinstance(col, str) else col),
            WHITESPACE_CLASS + "+",
            " ",
        )
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content digest: keep the smallest id per digest.

    Returns (fp, keep_id, n_dups). Group on the 32-byte md5, not the
    document body — the shuffle carries digests, not documents.
    """
    return (
        df.select(F.md5(normalized_text(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def token_counts(s: Column) -> Column:
    """Map-side term frequencies: array<struct<w string, tf long>> — the
    run-length counts of an ALREADY-SORTED token array, built with linear
    higher-order passes (run starts → next-start deltas), no shuffle.

    ``s`` MUST be a materialized column holding `array_sort`ed tokens (a
    prior .select projection), NOT an inline array_sort expression: the
    sort is referenced once per element inside the lambdas below, and
    Catalyst does not common-subexpression-eliminate inside higher-order
    functions — an inline sort re-executes O(n log n) per element.

    This is the load-bearing trick for corpus stats at scale: downstream
    aggregates (document frequency, LM counts, TF-IDF) can explode ONE row
    per distinct word per document instead of one per occurrence, so the
    exchange carries |vocab ∩ doc| rows, not |doc| tokens.
    """
    n = F.size(s)
    starts = F.filter(
        F.sequence(F.lit(1), n),
        # i-1 is clamped to 1 so the subscript is well-defined for i == 1
        # even under ANSI mode — the `i == 1` disjunct wins there anyway,
        # without relying on OR short-circuit evaluation order.
        lambda i: (i == 1)
        | (F.element_at(s, i) != F.element_at(s, F.greatest(i - 1, F.lit(1)))),
    )
    nexts = F.concat(
        F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
        F.array(n + 1),
    )
    counts = F.zip_with(
        starts,
        nexts,
        lambda a, b: F.struct(
            F.element_at(s, a).alias("w"), (b - a).cast("long").alias("tf")
        ),
    )
    # sequence(1, 0) would count DOWN — empty inputs short-circuit instead
    return F.when(n == 0, F.expr("CAST(array() AS array<struct<w:string,tf:bigint>>)")).otherwise(
        counts
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (array<string>)."""
    toks = F.split(normalized_text(col), " ")
    k = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    idx = F.sequence(F.lit(0), k - 1)
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    )


def cpu_parallelize(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism.

    CPU-bound per-row operators (hashing, array math, pandas batches) must
    not inherit byte-based file splits: a 5 MB single-file table arrives as
    ONE partition and serializes the whole computation onto one core.
    At warehouse scale inputs span many files and this is a near-no-op
    (AQE coalesces right back); on small inputs it is the difference
    between 1 and N cores.

    The partition-count probe (``df.rdd.getNumPartitions``) runs ONLY for
    narrow scan-shaped frames: on a frame with exchanges upstream (join /
    aggregate / window / distinct), AQE materializes every upstream
    query stage just to answer the probe, and the later ``repartition``
    re-executes the same work — the whole pipeline would run twice. Wide
    frames are post-shuffle anyway (AQE sizes them), so they pass
    through untouched.
    """
    import re

    target = df.sparkSession.sparkContext.defaultParallelism
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # Node names sit at the START of each rendered plan line (after the
    # tree-drawing prefix "): :- +- "). Matching anywhere in the line
    # false-positives on columns/aliases literally named "Sort"/"Window"
    # etc. (they appear mid-line inside the node's expression list) and
    # silently skips parallelization of a CPU-heavy single-partition scan.
    if re.search(
        r"^[\s:+-]*(Join|Aggregate|Window|Sort|Distinct|Repartition\w*|Deduplicate)\b",
        analyzed,
        re.MULTILINE,
    ):
        return df  # post-shuffle width — probing would execute the plan
    if df.rdd.getNumPartitions() >= target:
        return df  # already parallel enough — never force a down-shuffle
    return df.repartition(target)


def _md5_60(col: Column) -> Column:
    """60-bit integer from an md5 prefix — the cross-engine-replicable
    hash (DuckDB: ``('0x' || substr(md5(x), 1, 15))::BIGINT``), the
    q_simhash md5_60 scheme."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def minhash_signature(
    shingle_col: Column, n_hashes: int = 32, hash_family: str = "murmur3"
) -> Column:
    """MinHash signature: array of n_hashes mins of seeded 32-bit hashes.

    Seeding trick: F.hash(shingle, lit(i)) — Murmur3 folds the seed literal
    into the hash, giving n_hashes independent families without UDFs.
    (Measured: n_hashes codegen'd transform+array_min passes beat a
    single-pass aggregate() with an array accumulator — the accumulator
    allocates a fresh 32-wide array per shingle.)

    ``hash_family="md5_60"`` swaps the seeded hash for
    ``md5_60(i || ':' || shingle)`` so an external engine can replicate
    every signature value exactly (the q_simhash discipline: DuckDB has
    no seeded Murmur3). Murmur3 stays the scale default — one JVM
    intrinsic per (shingle, seed) vs a full digest of a concatenated
    string.

    The seed must be closed over via a def, NOT a `lambda s, i=i:` default
    argument: F.transform dispatches on the lambda's PARAMETER COUNT, so a
    two-parameter lambda receives (element, array_index) and the seed
    default is silently overridden by the element position — collapsing
    all n_hashes families into one.
    """
    if hash_family == "md5_60":

        def family(i: int) -> Column:
            return F.array_min(
                F.transform(
                    shingle_col,
                    lambda s: _md5_60(F.concat(F.lit(f"{i}:"), s)),
                )
            )

    else:

        def family(i: int) -> Column:
            return F.array_min(
                F.transform(shingle_col, lambda s: F.hash(s, F.lit(i)))
            )

    return F.array(*[family(i) for i in range(n_hashes)])


def minhash_bands(
    sig_col: Column, n_hashes: int, bands: int, hash_family: str = "murmur3"
) -> Column:
    """(band, bucket) structs for a signature: hash each of ``bands``
    contiguous signature slices. Shared by the batch pair-finder and the
    incremental index so buckets stay compatible across both paths.
    ``hash_family="md5_60"`` derives the bucket from md5 of the
    comma-joined slice values (decimal strings) so an external engine
    replicates every bucket key exactly.

    ``bands`` must divide ``n_hashes``: a non-divisor would silently
    ignore the trailing signature values (weakening recall below the
    configured n_hashes with no warning), and bands > n_hashes would
    build a zero-argument F.hash that fails analysis with an opaque
    error — both are caller bugs named at the API boundary instead."""
    if not 1 <= bands <= n_hashes or n_hashes % bands:
        raise ValueError(
            f"bands={bands} must be in [1, n_hashes] and divide "
            f"n_hashes={n_hashes} (a non-divisor silently drops the "
            f"trailing {n_hashes % bands if bands else n_hashes} signature "
            "values from every bucket)"
        )
    rows_per_band = n_hashes // bands

    def bucket(b: int) -> Column:
        vals = [sig_col[b * rows_per_band + r] for r in range(rows_per_band)]
        if hash_family == "md5_60":
            return _md5_60(F.concat_ws(",", *[v.cast("string") for v in vals]))
        return F.hash(*vals)

    return F.array(
        *[
            F.struct(F.lit(b).alias("band"), bucket(b).alias("bucket"))
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    materialize: bool = True,
    hash_family: str = "murmur3",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified by exact Jaccard.

    Rows: (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold
    over distinct shingle sets. Candidates come only from shared LSH band
    buckets; the verification join touches candidates, not all pairs.

    Execution shape: the (id, shingles, signature) frame is materialized
    ONCE (``localCheckpoint``, spill-able executor-local blocks) and
    consumed by all three readers — band explode, verify side A, verify
    side B. The lazy alternative recomputes the corpus-wide shingle
    transform per reader (3 scans + 3 shingle passes; measured 2x slower
    at sf0.1), and is no lighter at 100 TB either: the verify joins ship
    the shingle arrays through two id-keyed exchanges regardless, so the
    one-time materialization is the same I/O class as the shuffles it
    feeds. Internal blocks are released before returning; the returned
    pair frame is itself checkpointed (pairs are candidate-bounded, tiny
    relative to the corpus) and owned by the caller.

    ``materialize=False`` skips both checkpoints and returns the fully
    lazy composed plan. The checkpoints collapse the declared plan to a
    LogicalRDD scan, which blinds the registry-level shuffle-budget gate
    to this pipeline — the lazy form exists so a dedicated plan test
    (tests/test_plans.py::test_minhash_lsh_lazy_plan_shape) can keep the
    band/verify-join exchange count pinned.
    """
    base = cpu_parallelize(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("id"), shingles(text_col, shingle_n).alias("sh")
    ).withColumn("sig", minhash_signature(F.col("sh"), n_hashes, hash_family))
    # LAZY checkpoint: the verified-pairs materialization below is the
    # first action, so the shingle/signature pass and the pair pass run as
    # one job — the blocks still compute exactly once (persist semantics
    # make the three readers share them within that job), where an eager
    # checkpoint paid a separate materialization job (the bpe_train
    # fused-pass pattern)
    with (pinned(base, eager=False) if materialize else nullcontext(base)) as base:
        banded = base.select(
            "id",
            F.explode(
                minhash_bands(F.col("sig"), n_hashes, bands, hash_family)
            ).alias("bb"),
        ).select(
            "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )

        a, b = banded.alias("a"), banded.alias("b")
        candidates = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )

        sh = base.select("id", "sh")
        verified = (
            candidates.join(
                sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"),
                "id_a",
            )
            .join(
                sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"),
                "id_b",
            )
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
            )
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )
        if not materialize:
            return verified
        return verified.localCheckpoint(eager=True)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact token-set Jaccard over blocked pairs (id_a < id_b).

    Blocking keeps the join from going O(n²) globally; within a block the
    comparison is exact. This is the oracle-checkable counterpart of
    minhash_lsh_pairs.
    """
    d = cpu_parallelize(df.select(id_col, block_col, text_col)).select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.array_distinct(F.split(normalized_text(text_col), " ")).alias("toks"),
    )
    a, b = d.alias("a"), d.alias("b")
    jac = F.size(F.array_intersect("a.toks", "b.toks")) / F.size(
        F.array_union("a.toks", "b.toks")
    )
    # threshold on the UNROUNDED value, round only the emitted column —
    # the DuckDB oracle (plans/text.py q_ngram_jaccard) and sibling
    # minhash_lsh_pairs both order it this way; filtering the rounded
    # value would admit pairs in [threshold - 5e-7, threshold) that the
    # oracle rejects
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            jac.alias("__jac"),
        )
        .filter(F.col("__jac") >= threshold)
        .select("id_a", "id_b", F.round("__jac", 6).alias("jaccard"))
    )


#: Token-hash expressions simhash64 can fold over. ``xxhash64`` is the
#: scale default (one JVM intrinsic per token). ``md5_60`` derives a
#: 60-bit integer from the md5 hex prefix — ~2x the hashing cost, but
#: every engine with md5 computes the IDENTICAL value, which is what
#: makes q_simhash bit-for-bit oracle-checkable against DuckDB
#: (`('0x' || substr(md5(t),1,15))::BIGINT` on that side).
_TOKEN_HASHES = {
    "xxhash64": ("xxhash64(t)", 64),
    "md5_60": ("cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)", 60),
}


def simhash64(
    df: DataFrame, id_col: str, text_col: str, token_hash: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash fingerprint per document — a MAP-ONLY stage.

    The fingerprint is a per-document reduction, so it never needs a
    shuffle: fold the distinct-token hashes into a 64-slot signed-count
    array with nested higher-order functions, then recombine the sign
    bits — all inside whole-stage codegen. (The alternative explode +
    groupBy(doc) shape pays a corpus-wide exchange for a computation
    that was per-row all along.)

    ``token_hash`` selects the per-token hash from _TOKEN_HASHES; the
    fold only visits bits the hash can set, so md5_60 costs 60 slots.
    """
    hash_expr, bits = _TOKEN_HASHES[token_hash]
    toks_arr = F.array_distinct(F.split(normalized_text(text_col), " "))
    fp = F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              transform(__toks, t -> {hash_expr}),
              array_repeat(0L, {bits}),
              (acc, h) -> zip_with(
                acc, sequence(0, {bits - 1}),
                (a, i) -> a + IF((shiftright(h, i) & 1L) = 1L, 1L, -1L))
            ),
            sequence(0, {bits - 1}),
            (c, i) -> IF(c > 0, shiftleft(1L, i), 0L)
          ),
          0L, (a, x) -> a | x
        )
        """
    )
    return (
        cpu_parallelize(df.select(id_col, text_col))
        .select(F.col(id_col).alias("id"), toks_arr.alias("__toks"))
        # NULL-text rows vanish (split(NULL) is NULL, size(NULL) fails
        # the guard). An EMPTY/whitespace-only document does NOT vanish:
        # split('') is [''], so it fingerprints hash('') — exactly what
        # the DuckDB oracle computes (string_split('',' ') is also ['']),
        # and the cross-engine parity of q_simhash depends on both sides
        # agreeing on that convention.
        .filter(F.size("__toks") > 0)
        .select("id", fp.alias("simhash"))
    )


def incremental_neardup(
    spark: SparkSession,
    new_df: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    est_threshold: float = 0.5,
    batch_id: str | None = None,
) -> DataFrame:
    """Near-dup screen a NEW batch against a persistent MinHash signature
    index — continuous-ingestion dedup without recomputing the corpus.

    The index stores (id, sig) only: n_hashes ints per document (~128
    bytes), ~0.1% of corpus size, so it stays cheap to scan forever.
    Per batch: signatures for the NEW docs only, band buckets re-derived
    map-only on both sides (minhash_bands — identical buckets to
    minhash_lsh_pairs), the stored side pruned to buckets the batch
    touches (broadcast semi-join on the batch's distinct buckets) before
    the candidate join. Verification is the unbiased MinHash estimate
    (matching-position fraction) — exact Jaccard would require storing
    shingle sets, i.e. a corpus-scale index. Work per batch is
    O(batch + touched buckets), never O(corpus).

    Returns pairs (new_id, match_id, est_jaccard, match_is_new) covering
    batch-vs-index AND intra-batch duplicates, then persists the batch's
    signatures.

    Index layout and write safety: with ``batch_id`` set (recommended),
    each batch OVERWRITES its own ``batch=<id>`` subdirectory — reruns
    after a mid-write crash are idempotent (the partial subdir is replaced
    whole, and its contents are excluded from the "already indexed" view
    while recomputing), and concurrent batches with distinct ids never
    touch each other's files. Without ``batch_id`` the legacy flat append
    is used, which assumes a SINGLE WRITER: a crash mid-append can leave a
    partially-visible batch whose ids are then skipped (not re-verified)
    by the rerun's left-anti novelty check.

    An index that mixes both layouts (flat-era files + batch dirs) stays
    fully visible to THIS operator (explicit path listing), but a bare
    ``spark.read.parquet(index_path)`` on it drops the root-level files —
    Spark's partition discovery can't mix leaf files with partition dirs.
    """
    sigs = (
        cpu_parallelize(new_df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col).alias("id"), shingles(text_col, shingle_n).alias("sh"))
        .withColumn("sig", minhash_signature(F.col("sh"), n_hashes))
        .select("id", "sig")
    )
    def banded(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            "id",
            "sig",
            F.explode(minhash_bands(F.col("sig"), n_hashes, bands)).alias("bb"),
        ).select(
            "id",
            "sig",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )

    # lazy: the pairs checkpoint below is the first action — one job
    # computes signatures AND pairs; the three readers (band, verify,
    # append) share the blocks it pins (the bpe_train fused-pass pattern).
    # The index append is their last consumer, so they are released on
    # exit and repeated ingest batches don't pin one copy per batch.
    with pinned(sigs, eager=False) as new_sigs:
        new_banded = banded(new_sigs)
        old_sigs = None
        if batch_id is not None:
            # Batch-stamped layout: the stored view is every sibling batch's
            # subdir — NEVER this batch's own (a partial subdir from a crashed
            # earlier attempt must not count as "already indexed").
            sibling_paths = _sibling_batch_paths(spark, index_path, batch_id)
            if sibling_paths:
                old_sigs = spark.read.parquet(*sibling_paths).select("id", "sig")
        elif fsio.exists(spark, index_path):
            old_sigs = spark.read.parquet(index_path).select("id", "sig")
        if old_sigs is not None:
            touched = new_banded.select("band", "bucket").distinct()
            old_side = banded(old_sigs).join(F.broadcast(touched), ["band", "bucket"])
        else:
            old_side = banded(new_sigs).limit(0)

        right = old_side.withColumn("is_new", F.lit(False)).unionByName(
            new_banded.withColumn("is_new", F.lit(True))
        )
        a, b = new_banded.alias("a"), right.alias("b")
        est = F.aggregate(
            F.zip_with(
                F.col("a.sig"), F.col("b.sig"),
                lambda x, y: F.when(x == y, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ) / F.lit(float(n_hashes))
        pairs = (
            a.join(b, ["band", "bucket"])
            # new-new pairs once (id_a < id_b); new-old pairs always (new, old)
            .filter(
                (~F.col("b.is_new") & (F.col("a.id") != F.col("b.id")))
                | (F.col("b.is_new") & (F.col("a.id") < F.col("b.id")))
            )
            .select(
                F.col("a.id").alias("new_id"),
                F.col("b.id").alias("match_id"),
                F.round(est, 6).alias("est_jaccard"),
                F.col("b.is_new").alias("match_is_new"),
            )
            .filter(F.col("est_jaccard") >= est_threshold)
            .distinct()
            .localCheckpoint(eager=True)  # materialize BEFORE the index append
        )
        try:
            # ~50k signatures (~6 MB) per index file
            _append_novel(new_sigs, old_sigs, index_path, batch_id, 50_000)
        except BaseException:
            release_checkpoint(pairs)  # the caller owns it only on return
            raise
    return pairs


def incremental_exact_dedup(
    spark: SparkSession,
    new_df: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    batch_id: str | None = None,
) -> DataFrame:
    """Exact-dup screen a NEW batch against a persistent content-digest
    index — ``incremental_neardup``'s machinery at the exact tier.

    The production split this serves: exact dedup runs AT INGEST (this
    operator — the index is one 16-byte md5 per document, an order of
    magnitude leaner than even the MinHash signature index), near-dup runs
    offline over the committed corpus. Because the verdict is digest
    equality, the whole screen is deterministic and ANSI-SQL-replicable —
    which is what lets the streaming corpus ingest carry a DuckDB oracle.

    Semantics mirror ``incremental_neardup`` exactly: a new doc is a dup
    iff its digest matches ANY prior-batch doc (kept or quarantined — the
    whole batch is indexed), or a smaller-id doc in its own batch (keep
    the smallest id, ``exact_dedup``'s rule). Returns pairs
    (new_id, match_id, match_is_new); index layout and the batch-stamped
    crash-idempotent overwrite are shared with the MinHash path.
    """
    fp = cpu_parallelize(new_df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("id"), F.md5(normalized_text(text_col)).alias("fp")
    )
    # lazy: materialized by the pairs checkpoint below — one job for
    # digests AND pairs; the three readers (pairs, novelty, append) share
    # the pinned blocks (the bpe_train fused-pass pattern)
    with pinned(fp, eager=False) as new_fp:
        old_fp = None
        if batch_id is not None:
            sibling_paths = _sibling_batch_paths(spark, index_path, batch_id)
            if sibling_paths:
                old_fp = spark.read.parquet(*sibling_paths).select("id", "fp")
        elif fsio.exists(spark, index_path):
            old_fp = spark.read.parquet(index_path).select("id", "fp")
        if old_fp is not None:
            touched = new_fp.select("fp").distinct()
            old_side = old_fp.join(F.broadcast(touched), ["fp"])
        else:
            old_side = new_fp.limit(0)
        right = old_side.withColumn("is_new", F.lit(False)).unionByName(
            new_fp.withColumn("is_new", F.lit(True))
        )
        a, b = new_fp.alias("a"), right.alias("b")
        pairs = (
            a.join(b, ["fp"])
            # new-new pairs once (id_a < id_b); new-old pairs always (new, old)
            .filter(
                (~F.col("b.is_new") & (F.col("a.id") != F.col("b.id")))
                | (F.col("b.is_new") & (F.col("a.id") < F.col("b.id")))
            )
            .select(
                F.col("a.id").alias("new_id"),
                F.col("b.id").alias("match_id"),
                F.col("b.is_new").alias("match_is_new"),
            )
            .distinct()
            .localCheckpoint(eager=True)  # materialize BEFORE the index append
        )
        try:
            # ~200k 24-byte digests (~5 MB) per index file
            _append_novel(new_fp, old_fp, index_path, batch_id, 200_000)
        except BaseException:
            release_checkpoint(pairs)  # the caller owns it only on return
            raise
    return pairs


def _append_novel(
    batch: DataFrame,
    old: DataFrame | None,
    index_path: str,
    batch_id: str | None,
    rows_per_file: int,
) -> None:
    """Index the batch rows whose id the index does not hold yet — the
    last step of the incremental screens, after their pairs are
    materialized.

    Right-sizes the index files to the NOVEL rows actually written (a
    mostly-duplicate batch writes 1 file, not files sized to the raw
    batch), never to cpu_parallelize's session-wide partition count
    riding in from the batch checkpoint: a 30-doc contract batch would
    otherwise land as 32 near-empty parquet files, and the index
    directory would accrete tasks-per-batch files forever. Sizing needs
    the novel COUNT only when the raw batch could overflow one file —
    the common small batch coalesces to 1 with zero extra jobs (novel <=
    batch, and coalesce only ever reduces partitions); a large batch
    checkpoints the anti-join once so the count and the write share one
    evaluation."""
    novel = batch if old is None else batch.join(old.select("id"), "id", "left_anti")
    with ExitStack() as scoped:
        if batch.count() <= rows_per_file:
            out = novel.coalesce(1)
        else:
            if novel is not batch:
                novel = scoped.enter_context(pinned(novel))
            out = novel.coalesce(max(1, novel.count() // rows_per_file))
        if batch_id is not None:
            # Whole-subdir overwrite: replaces any partial earlier attempt.
            out.write.mode("overwrite").parquet(f"{index_path}/batch={batch_id}")
        else:
            out.write.mode("append").parquet(index_path)


def _sibling_batch_paths(spark: SparkSession, index_path: str, batch_id: str) -> list[str]:
    """Index contents EXCEPT this batch's own ``batch=<id>`` subdirectory:
    every sibling batch dir PLUS any root-level parquet files from the
    legacy flat-append layout — an index that started life un-stamped and
    later switched to batch ids must not silently forget its early
    signatures."""
    if not fsio.exists(spark, index_path):
        return []
    out = []
    for status in fsio.list_status(spark, index_path):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("batch=") and name != f"batch={batch_id}":
            out.append(str(status.getPath().toString()))
        elif status.isFile() and name.endswith(".parquet"):
            out.append(str(status.getPath().toString()))
    return sorted(out)


def compact_dedup_index(
    spark: SparkSession,
    index_path: str,
    keep_last: int = 4,
    rows_per_file: int = 200_000,
) -> dict:
    """Consolidate old ``batch=<id>`` subdirectories of an incremental
    dedup index into one right-sized segment — the maintenance tick for
    the THIRD serving store (operators/index_maintain.py covers IVF
    cells and BM25 buckets): continuous ingestion otherwise accretes one
    directory per batch forever, and ``_sibling_batch_paths``' listing
    plus every cross-batch anti-join degrade linearly in batch count.

    The ``keep_last`` most recent REAL batch dirs survive untouched, so
    the rerun-idempotency of the batch-stamped overwrite holds for
    exactly that in-flight window. Recency is the newest FILE mtime
    inside each dir, NEVER the name: the streaming ingest stamps batch
    ids ``{run_id}-{epoch}`` with unpadded epoch numbers, so name order
    is unrelated to recency ('-10' sorts before '-2') — ranking by name
    would consolidate the NEWEST epochs while protecting stale ones,
    and a replay of a just-consolidated epoch would then quarantine its
    own canonical keeper (its rows read as prior-index matches). File
    mtimes, never directory statuses (synthetic on object stores — the
    vt_vacuum lesson); a file-less dir ranks oldest. Rerunning a batch
    that was ALREADY consolidated is out of contract: the segment still
    holds the batch's rows, so the rerun sees them as prior-batch
    matches and emits extra (.., match_is_new=False) pair orientations —
    size keep_last to cover the orchestrator's maximum retry horizon.
    Everything older lands in a single ``batch=__seg_<n>`` segment,
    itself eligible for the next tick (id-level dedup at merge folds any
    copies a crashed tick or out-of-contract rerun left, so the index
    SET — which is all the screen's verdicts depend on — never drifts).
    Returns {"batches_merged", "rows_merged"}.
    """
    if not fsio.exists(spark, index_path):
        return {"batches_merged": 0, "rows_merged": 0}
    batch_dirs = sorted(
        status.getPath().getName()
        for status in fsio.list_status(spark, index_path)
        if status.isDirectory() and status.getPath().getName().startswith("batch=")
    )

    def newest_file_mtime(dirname: str) -> int:
        return fsio.newest_file_mtime(spark, f"{index_path}/{dirname}")

    # segments rank OLDEST no matter how their mtime sorts (a fresh
    # segment is newly-written but holds the OLDEST rows); real dirs
    # rank by newest FILE mtime — see the docstring's recency contract
    segs = [d for d in batch_dirs if d.startswith("batch=__seg_")]
    real = sorted(
        (d for d in batch_dirs if not d.startswith("batch=__seg_")),
        key=lambda d: (newest_file_mtime(d), d),
    )
    doomed = segs + (real[:-keep_last] if keep_last > 0 else real)
    if len(doomed) < 2:  # nothing to consolidate into fewer dirs
        return {"batches_merged": 0, "rows_merged": 0}
    # file-less dirs (a crashed batch that created its directory but
    # committed nothing) hold no rows: they are deleted but never fed to
    # the read, which would fail schema inference on an all-empty list
    readable = [d for d in doomed if newest_file_mtime(d) != -1]
    if not readable:
        for d in doomed:
            fsio.delete(spark, f"{index_path}/{d}")
        return {"batches_merged": len(doomed), "rows_merged": 0}
    seg_n = 1 + max(
        (int(d.rsplit("_", 1)[-1]) for d in segs),
        default=-1,
    )
    seg = f"{index_path}/batch=__seg_{seg_n:06d}"
    merged = spark.read.parquet(*[f"{index_path}/{d}" for d in readable])
    # signatures are deterministic per doc id, so id-dedup at merge time
    # folds any duplicates a crashed earlier tick (segment written, source
    # dirs not yet deleted) or a rerun-after-consolidation left behind —
    # ticks are self-healing instead of accreting copies forever
    with pinned(merged.dropDuplicates(["id"])) as merged:  # outlive the sources
        rows = merged.count()
        files = max(1, rows // rows_per_file)
        merged.coalesce(files).write.mode("overwrite").parquet(seg)
    for d in doomed:
        fsio.delete(spark, f"{index_path}/{d}")
    return {"batches_merged": len(doomed), "rows_merged": int(rows)}


def substring_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 20,
    min_shared: int = 1,
    boilerplate_cap: int = 50,
    collect_positions: bool = False,
) -> DataFrame:
    """Pairwise exact-substring duplication screen: document pairs sharing
    at least ``min_shared`` distinct ``window``-token contiguous spans,
    with the token extent of the shared material on each side — the
    candidate stage of exact-substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"), which MinHash misses
    when a long copied passage sits inside two otherwise-unrelated
    documents (document-level Jaccard stays tiny).

    Rows: (id_a, id_b, n_shared, a_lo, a_end, b_lo, b_end) with
    id_a < id_b; positions are 1-based token indices, [lo, end] covering
    first-to-last shared window. Matching is by xxhash64 of the
    space-joined token window — equality of 64-bit hashes stands in for
    string equality (a cross-doc collision needs ~2^32 distinct spans by
    birthday bound; the declared query's oracle joins on the span STRINGS
    and must agree exactly).

    ``collect_positions=True`` adds ``b_spans``: the exact per-OCCURRENCE
    span list on the higher-id side, array<struct<lo,end>> with one
    element per shared-window occurrence ([p, p+window-1], distinct) —
    the input :func:`strip_duplicate_spans` needs for per-span surgery
    (Lee et al. remove each duplicated passage, not the covering extent,
    so original text BETWEEN two copied passages survives). Off by
    default: the screen-only path doesn't pay for position lists.

    Scale shape: windows are built map-side (one transform over a
    token-count-long sequence — corpus-token-scale, the inherent cost of
    substring-granular dedup; Lee et al. pay a suffix array for the same
    reason) and the shuffle carries (hash, id, pos) — 20 bytes per
    window, never span text. ``boilerplate_cap`` is the skew guard:
    window hashes present in more docs are boilerplate (licenses,
    headers — q_boilerplate_ngrams' domain, not pairwise duplication)
    and are dropped BEFORE the self-join, bounding any bucket's pair
    fan-out at cap^2. One exchange keyed on the window hash feeds the
    per-doc collapse, the doc-frequency window AND the self-join; the
    pair aggregate is the only further shuffle.
    """
    from pyspark.sql import Window

    toks = F.split(normalized_text(text_col), " ")
    d = cpu_parallelize(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("id"), toks.alias("toks")
    )
    nwin = F.size("toks") - F.lit(window - 1)
    # guard: sequence(1, n) with n < 1 generates DESCENDING [1..n]
    idx = F.when(nwin >= 1, F.sequence(F.lit(1), nwin)).otherwise(
        F.array().cast("array<int>")
    )
    wins = d.select(
        "id",
        F.explode(idx).alias("pos"),
        F.col("toks"),
    ).select(
        "id",
        "pos",
        F.xxhash64(F.concat_ws(" ", F.slice("toks", F.col("pos"), window))).alias("h"),
    )
    # ONE exchange keyed on the window hash serves every h-keyed step:
    # HashPartitioning(h) satisfies the (h, id) grouping (partition keys
    # are a subset of the grouping keys), the doc-frequency window, and
    # both sides of the self-join — without the explicit repartition each
    # step plans its own exchange (measured 7 vs 4 total shuffles).
    # One row per (window hash, doc): within-doc repeats collapse to an
    # extent, so the pair join is doc-pair-per-hash, not occurrence^2.
    per_doc_aggs = [F.min("pos").alias("lo"), F.max("pos").alias("hi")]
    if collect_positions:
        # every occurrence start of this window hash in this doc — the
        # per-span surgery needs occurrences, not the [min, max] extent
        # (a window repeated at positions 5 and 50 must not cost 6..49)
        per_doc_aggs.append(F.collect_list("pos").alias("positions"))
    per_doc = (
        wins.repartition(F.col("h")).groupBy("h", "id").agg(*per_doc_aggs)
    )
    w_h = Window.partitionBy("h")
    kept = (
        per_doc.withColumn("n_docs", F.count("*").over(w_h))
        .filter((F.col("n_docs") >= 2) & (F.col("n_docs") <= boilerplate_cap))
        .drop("n_docs")
    )
    pair_aggs = [
        F.count("*").alias("n_shared"),
        F.min("a.lo").alias("a_lo"),
        (F.max("a.hi") + F.lit(window - 1)).alias("a_end"),
        F.min("b.lo").alias("b_lo"),
        (F.max("b.hi") + F.lit(window - 1)).alias("b_end"),
    ]
    if collect_positions:
        pair_aggs.append(
            F.transform(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("b.positions")))
                ),
                lambda p: F.struct(
                    p.alias("lo"), (p + F.lit(window - 1)).alias("end")
                ),
            ).alias("b_spans")
        )
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(b, ["h"])
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(*pair_aggs)
        .filter(F.col("n_shared") >= min_shared)
    )


def strip_duplicate_spans(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Remove duplicated passages in place — the transform stage of
    exact-substring dedup (Lee et al.): for every pair found by
    :func:`substring_dup_spans`, the HIGHER-id document loses its shared
    spans; the lower-id copy keeps the canonical occurrence. Rows:
    (id, n_tokens_kept, n_tokens_removed, text_clean) over ALL input
    docs (untouched docs pass through with their normalized text).

    Surgery granularity follows the pairs frame: when it carries
    ``b_spans`` (``substring_dup_spans(collect_positions=True)``) each
    shared-window OCCURRENCE is removed individually — Lee et al.'s
    per-span policy, so original text between two copied passages
    survives. Without it, the legacy covering extent [b_lo, b_end] is
    removed (coarser: one span per pair).

    Token surgery is a per-row higher-order expression: keep position i
    iff no span covers it — O(tokens x spans-per-doc) inside codegen,
    no shuffle beyond the one id-keyed join of the (tiny) span lists
    onto the corpus. Documents never shuffle for the surgery itself.
    """
    if "b_spans" in pairs.columns:
        spans = pairs.groupBy(F.col("id_b").alias("id")).agg(
            F.array_distinct(F.flatten(F.collect_list("b_spans"))).alias("spans")
        )
    else:
        spans = pairs.groupBy(F.col("id_b").alias("id")).agg(
            F.collect_list(
                F.struct(F.col("b_lo").alias("lo"), F.col("b_end").alias("end"))
            ).alias("spans")
        )
    toks = F.split(normalized_text(text_col), " ")
    d = (
        cpu_parallelize(docs.select(F.col(id_col).alias("id"), F.col(text_col)))
        .withColumn("toks", toks)
        .join(spans, "id", "left")
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.col("spans"), lambda s: (s["lo"] <= i) & (i <= s["end"])
    )
    kept = F.when(
        F.col("spans").isNull(), F.col("toks")
    ).otherwise(
        F.transform(
            F.filter(
                F.sequence(F.lit(1), F.size("toks")),
                lambda i: ~covered(i),
            ),
            lambda i: F.element_at("toks", i),
        )
    )
    return d.select(
        "id",
        F.size("toks").alias("__n"),
        kept.alias("__kept"),
    ).select(
        "id",
        F.size("__kept").cast("long").alias("n_tokens_kept"),
        (F.col("__n") - F.size("__kept")).cast("long").alias("n_tokens_removed"),
        F.array_join("__kept", " ").alias("text_clean"),
    )
