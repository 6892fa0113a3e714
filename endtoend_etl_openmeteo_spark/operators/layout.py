"""Physical-layout operators: bucketing and skew salting (SURVEY.md §4 —
the Spark equivalents of the reference's suggested `(city, timestamp)`
index, README.md:434-440 in /root/reference/).

- **Bucketing** pre-shuffles a table once at write time; every later join
  or aggregate on the bucket key is exchange-free. At 100 TB this converts
  the recurring fact⋈fact shuffle into a one-time write cost.
- **Salting** splits a hot key across `salt_factor` sub-keys so one
  pathological city/user doesn't serialize a whole stage. AQE's skew-join
  handles moderate skew automatically (engine conf); salting is the
  explicit tool for extreme single-key skew or for aggregations (which AQE
  skew handling does not cover).
"""

from __future__ import annotations

from contextlib import nullcontext

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark import fsio


def _bucket_prefix_offsets(keyed: "DataFrame", agg) -> "Column | None":
    """Driver-side prefix offsets over per-``__b``-bucket totals, returned
    as a broadcast ``create_map`` column — the shared mechanism behind
    every global-order operator here (global_shuffle_index counts rows,
    sequence_pack sums tokens, weighted_mixture_index counts rows): the
    only driver state is n_buckets (bucket, total) pairs. Returns None on
    empty input (a map literal cannot resolve a type from zero entries —
    callers emit their typed-null shape instead)."""
    totals = sorted(
        (r["__b"], r["__t"])
        for r in keyed.groupBy("__b").agg(agg.alias("__t")).collect()
    )
    if not totals:
        return None
    offsets: dict[int, int] = {}
    acc = 0
    for bucket, t in totals:
        offsets[bucket] = acc
        acc += int(t)
    return F.create_map(*[F.lit(x) for bc in offsets.items() for x in bc])


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (+ optionally sorted) managed table. Joins and
    aggregations on ``bucket_cols`` between tables bucketed the same way
    run without an Exchange."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def salted(
    df: DataFrame, distribute_by: str | None, salt_factor: int
) -> DataFrame:
    """Add ``__salt`` in [0, salt_factor).

    With ``distribute_by`` (a column varying WITHIN each hot key): salt is
    a deterministic hash — stable across reruns. Without one: salt derives
    from ``monotonically_increasing_id()`` — evenly spread but not stable
    across reruns (harmless for joins/aggregations, whose OUTPUT is
    independent of which sub-key a row landed in).

    Never salt on the join/group key itself: that yields ONE salt value
    per key and zero skew mitigation.
    """
    if distribute_by is not None:
        return df.withColumn(
            "__salt", F.pmod(F.hash(F.col(distribute_by)), F.lit(salt_factor))
        )
    return df.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_factor))
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str,
    salt_factor: int = 8,
    distribute_by: str | None = None,
) -> DataFrame:
    """Equi-join resilient to a hot key on the skewed side.

    The skewed side gets a salt (see :func:`salted`; ``distribute_by`` must
    vary within a key — passing the join key is rejected as it would leave
    the hot key unsplit); the other side is replicated ``salt_factor``×
    with an exploded salt, then the join key becomes (key, salt).
    Row-for-row identical to the plain join.
    """
    if distribute_by == on:
        raise ValueError(
            "distribute_by must differ from the join key: salting by the key "
            "gives every hot-key row the same salt (no skew mitigation)"
        )
    left = salted(skewed, distribute_by, salt_factor)
    right = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1)))
    )
    out = left.join(right, [on, "__salt"])
    return out.drop("__salt")


def salted_aggregate(
    df: DataFrame,
    group_cols: list[str],
    agg_cols,
    salt_factor: int = 8,
    distribute_by: str | None = None,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys: partial aggregate on
    (keys, salt) spreads the hot key over ``salt_factor`` reducers, final
    aggregate merges the partials. Supports the decomposable aggregates
    (sum/count/min/max).

    ``agg_cols`` is a {col: fn} dict or, when one column needs SEVERAL
    aggregates (the avg composition: sum(v)/count(v) — a dict key can
    hold only one fn, and counting a DIFFERENT column silently diverges
    from avg under NULLs), an iterable of (col, fn) pairs:
    ``[("v", "sum"), ("v", "count")]`` → columns ``sum_v``, ``count_v``.

    (AQE rebalances skewed JOINs but not skewed AGGREGATES — this is the
    tool for a groupBy where one key holds half the table.)
    """
    if distribute_by in group_cols:
        raise ValueError(
            "distribute_by must not be a group key: salting by the group key "
            "leaves the hot key on one reducer"
        )
    dist = distribute_by
    items = (
        list(agg_cols.items())
        if isinstance(agg_cols, dict)
        else [tuple(x) for x in agg_cols]
    )
    partial_aggs: list[Column] = []
    final_aggs: list[Column] = []
    for col, fn in items:
        p = f"__p_{fn}_{col}"
        if fn == "count":
            partial_aggs.append(F.count(col).alias(p))
            final_aggs.append(F.sum(p).alias(f"count_{col}"))
        elif fn == "sum":
            partial_aggs.append(F.sum(col).alias(p))
            final_aggs.append(F.sum(p).alias(f"sum_{col}"))
        elif fn == "min":
            partial_aggs.append(F.min(col).alias(p))
            final_aggs.append(F.min(p).alias(f"min_{col}"))
        elif fn == "max":
            partial_aggs.append(F.max(col).alias(p))
            final_aggs.append(F.max(p).alias(f"max_{col}"))
        else:
            raise ValueError(f"non-decomposable aggregate {fn!r}")
    partial = salted(df, dist, salt_factor).groupBy(*group_cols, "__salt").agg(
        *partial_aggs
    )
    return partial.groupBy(*group_cols).agg(*final_aggs)


def zorder_key(*cols: Column | str, bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of each input.

    Inputs must be non-negative integers already scaled into [0, 2^bits)
    — use ntile/rank or fixed-width binning upstream for arbitrary
    domains. Rows close in z-key are close in EVERY input dimension, so
    range-partitioning + sorting by the key clusters parquet row groups
    for min/max skipping on any single dimension of a multi-dimensional
    predicate — the layout trick single-column sorting can't do (sorting
    by x leaves y's per-file ranges spanning the full domain).

    Pure bit arithmetic (shiftright/and/shiftleft sums) — whole-stage
    codegen, no UDF.
    """
    n = len(cols)
    if n < 2:
        raise ValueError("zorder_key needs at least 2 columns")
    if bits * n > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed long")
    exprs = [F.col(c).cast("long") if isinstance(c, str) else c.cast("long")
             for c in cols]
    key = F.lit(0).cast("long")
    for b in range(bits):
        for j, e in enumerate(exprs):
            bit = F.shiftright(e, b).bitwiseAND(F.lit(1))
            key = key + F.shiftleft(bit, b * n + j)
    return key


def zorder_layout(
    df: DataFrame, cols: list[str], n_partitions: int, bits: int = 16
) -> DataFrame:
    """Re-layout for multi-dimensional data skipping: range-partition and
    sort by the Morton key of ``cols``, then drop the key. Writing the
    result yields files whose per-file min/max stats are tight on every
    ``cols`` dimension — predicates on any of them prune files/row-groups
    at scan time. The one-time cost is one min/max aggregate plus a
    single range exchange + local sort; at 100 TB this is the compaction
    job, not the query path.

    Inputs are MIN-MAX SCALED into [0, 2^bits) here — :func:`zorder_key`
    interleaves only the low ``bits`` bits, so feeding it raw values
    above the range silently wraps (65537 z-sorts as 1) and the layout
    scatters instead of clustering, with per-file stats quietly spanning
    the full domain. NULL values scale to the low end of their dimension
    (``greatest`` absorbs the NULL) and cluster together there — the
    same neighborhood a NULLS FIRST sort would give them."""
    dtypes = dict(df.dtypes)
    numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
    bad = [c for c in cols if dtypes.get(c, "").split("(")[0] not in numeric]
    if bad:
        raise ValueError(
            f"zorder_layout needs numeric sort columns; {bad} are "
            f"{[dtypes.get(c) for c in bad]} — bin or rank them upstream"
        )
    row = df.agg(
        *[F.min(c).alias(f"__lo_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"__hi_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    top = (1 << bits) - 1
    scaled = []
    for i, c in enumerate(cols):
        lo, hi = row[f"__lo_{i}"], row[f"__hi_{i}"]
        if lo is None or float(hi) <= float(lo):
            scaled.append(F.lit(0).cast("long"))  # constant/all-NULL dim
            continue
        span = float(hi) - float(lo)
        scaled.append(
            F.least(
                F.lit(top).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    (
                        (F.col(c).cast("double") - F.lit(float(lo)))
                        / F.lit(span)
                        * F.lit(float(top))
                    ).cast("long"),
                ),
            )
        )
    keyed = df.withColumn("__zkey", zorder_key(*scaled, bits=bits))
    return (
        keyed.repartitionByRange(n_partitions, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )


def compact(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(bytes / target_mb) files, optionally re-sorting for stats locality.

    The small-files problem is the dominant operational failure of
    streaming/incremental writers at scale — a 100 TB table ingested in
    24-row micro-batches becomes millions of kB-files whose listing +
    footer reads swamp the actual scan. Compaction is the recurring
    maintenance job: read once, range-repartition to the byte target,
    rewrite. Returns the new file count.

    Local/posix semantics: write to a sibling tmp dir then swap — the
    job-commit analog of a table format's atomic manifest flip (without a
    format there is no reader isolation during the swap; run it in the
    maintenance window, exactly as the reference's Postgres VACUUM/reindex
    would be).
    """
    import math

    total_bytes = fsio.size(spark, path)
    n = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))

    df = spark.read.parquet(path)
    out = (
        df.repartitionByRange(n, *sort_cols).sortWithinPartitions(*sort_cols)
        if sort_cols
        else df.repartition(n)
    )
    tmp = path.rstrip("/") + "__compacting"
    out.write.mode("overwrite").parquet(tmp)
    # the swap's two filesystem calls return False on failure instead of
    # raising — unchecked, a failed delete would leave the OLD files live
    # (and a rename onto the surviving directory either fails or, on the
    # local FS, NESTS tmp under it, doubling the data) while compact()
    # reports success
    if not fsio.delete(spark, path):
        raise IOError(
            f"compact: could not remove {path} for the swap — the directory "
            f"keeps its old files; the compacted copy is intact at {tmp}"
        )
    if not fsio.rename(spark, tmp, path):
        raise IOError(
            f"compact: rename {tmp} -> {path} failed after the old directory "
            f"was removed — move the compacted copy in manually ({path} is "
            "empty until then)"
        )
    return n


def global_shuffle_index(
    df: DataFrame, id_col: str, n_buckets: int = 256, idx_col: str = "gidx"
) -> DataFrame:
    """Dense 0..n-1 index over a deterministic pseudorandom permutation of
    ``df`` — the distributed zipWithIndex every shard writer needs.

    A naive ``row_number() OVER (ORDER BY shuffle_key)`` funnels the whole
    table through ONE partition. Instead: bucket rows by an md5-prefix of
    the id (``n_buckets`` <= 256; larger values leave buckets empty, which
    the offsets absorb), count each bucket (tiny aggregate), turn the
    counts into cumulative offsets on the driver (n_buckets rows —
    bounded), and add a per-bucket row_number. Every window is per-bucket
    (n_buckets-way parallel) and the only data-scale exchange is the
    bucket hash partition. Because the bucket is a PREFIX of the md5 sort
    key, the global order is (almost) pure md5 order: a deterministic,
    content-independent permutation, id-type-agnostic (ids go through a
    string cast, so string/UUID keys work) and uncorrelated with id
    arithmetic — id-mod bucketing would make every shard a single
    id-residue class, re-correlating shards with whatever the id's low
    bits encode (writer ids, shard allocators).
    """
    s = F.md5(F.col(id_col).cast("string"))
    b = F.pmod(
        F.conv(F.substring(s, 1, 2), 16, 10).cast("int"), F.lit(n_buckets)
    ).cast("int")
    keyed = df.withColumn("__s", s).withColumn("__b", b)
    off_map = _bucket_prefix_offsets(keyed, F.count("*"))
    if off_map is None:  # empty input
        return df.withColumn(idx_col, F.lit(None).cast("long"))
    from pyspark.sql import Window

    w = Window.partitionBy("__b").orderBy("__s", id_col)
    return (
        keyed.withColumn(
            idx_col,
            (
                F.element_at(off_map, F.col("__b"))
                + F.row_number().over(w)
                - F.lit(1)
            ).cast("long"),
        )
        .drop("__s", "__b")
    )


def shard_assign(
    df: DataFrame, id_col: str, shard_size: int, n_buckets: int = 256
) -> DataFrame:
    """Fixed-size shard assignment over the global shuffle order: shard k
    holds index range [k*shard_size, (k+1)*shard_size) — every shard but
    the last exactly ``shard_size`` rows, deterministic membership AND
    in-shard order. Downstream, ``.repartition(n, 'shard')`` +
    ``partitionBy('shard')`` writes one reproducible file per shard."""
    idx = global_shuffle_index(df, id_col, n_buckets=n_buckets)
    return idx.withColumn(
        "shard", F.floor(F.col("gidx") / F.lit(shard_size)).cast("long")
    )


def sequence_pack(
    docs: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    n_buckets: int = 64,
    eos: int = 1,
    materialize: bool = True,
) -> DataFrame:
    """Concat-then-chunk sequence packing — the GPT-style step that turns
    a token-counted corpus into fixed-length training sequences: documents
    concatenate in deterministic ``id_col`` order (each followed by
    ``eos`` separator tokens) and the resulting global token stream is cut
    every ``seq_len`` tokens. Documents straddling a cut are SPLIT across
    sequences, so every training sequence is exactly full (the final one
    may be short) — no padding waste, the standard pretraining packer.

    Input: (id, n_tokens); output one row per (document, sequence) span:
    (id, seq_id, seq_off, doc_off, span_len) — enough for a writer to
    materialize token ids later without re-deriving placement.

    Scale shape: the global running token offset is the classic
    single-partition ``sum() OVER (ORDER BY id)`` trap; instead documents
    bucket by deterministic quantile cuts of ``id`` (order-contiguous
    ranges), per-bucket token sums collect to the driver (n_buckets rows),
    prefix offsets ride back in a broadcast map, and the within-bucket
    cumulative sum is an n_buckets-way-parallel window — the
    global_shuffle_index technique applied to a SUM. Span explosion is a
    narrow generator: ceil(n_eff / seq_len) + 1 rows per doc, no shuffle
    after the bucket exchange.

    ``materialize`` (default True) localCheckpoints the (id, n_eff)
    frame before anything reads it. The pack has THREE consumers of that
    frame (the quantile-cuts collect, the per-bucket totals collect, the
    final span plan); lazily each re-runs the caller's token-count
    lineage — for the declared query that is three full tokenizer-regex
    passes over the corpus text. The materialized frame is two longs per
    document, orders of magnitude smaller than the text it summarizes,
    so the checkpoint is the right trade at any scale. False keeps the
    fully-lazy plan for the plan-shape gate (the minhash_lsh_pairs
    pattern).
    """
    n_eff = (F.col(n_tokens_col).cast("long") + F.lit(int(eos))).alias("__n")
    # zero-effective-token docs (n_tokens=0 with eos=0) contribute no
    # spans — without this, sequence(first_seq, last_seq) at a boundary
    # would step DOWN (Spark defaults to -1 when start > stop) and emit
    # spurious zero/negative-length spans
    base = docs.select(F.col(id_col), n_eff).filter(F.col("__n") > 0)
    from endtoend_etl_openmeteo_spark.session import pinned

    with (pinned(base) if materialize else nullcontext(base)) as base:
        qs = [i / n_buckets for i in range(1, n_buckets)]
        cuts_row = base.select(
            F.percentile_approx(id_col, qs, 10_000).alias("c")
        ).collect()[0]["c"]
        if cuts_row is None:  # empty corpus
            return docs.select(
                F.col(id_col),
                F.lit(None).cast("long").alias("seq_id"),
                F.lit(None).cast("long").alias("seq_off"),
                F.lit(None).cast("long").alias("doc_off"),
                F.lit(None).cast("long").alias("span_len"),
            ).limit(0)
        cuts = F.array(*[F.lit(c) for c in cuts_row])
        keyed = base.withColumn(
            "__b", F.size(F.filter(cuts, lambda c: c < F.col(id_col)))
        )
        off_map = _bucket_prefix_offsets(keyed, F.sum("__n"))
        if off_map is None:  # all-empty docs filtered away
            off_map = F.create_map(F.lit(0), F.lit(0))
        from pyspark.sql import Window

        w = (
            Window.partitionBy("__b")
            .orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        L = F.lit(int(seq_len))
        off = (
            F.element_at(off_map, F.col("__b"))
            + F.coalesce(F.sum("__n").over(w), F.lit(0))
        )
        first_seq = F.floor(F.col("__off") / L)
        last_seq = F.floor((F.col("__off") + F.col("__n") - 1) / L)
        span_start = F.greatest(F.col("__off"), F.col("seq_id") * L)
        span_end = F.least(F.col("__off") + F.col("__n"), (F.col("seq_id") + 1) * L)
        spans = (
            keyed.withColumn("__off", off.cast("long"))
            .select(
                F.col(id_col),
                "__off",
                "__n",
                F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
            )
            .select(
                F.col(id_col),
                F.col("seq_id").cast("long").alias("seq_id"),
                (span_start - F.col("seq_id") * L).cast("long").alias("seq_off"),
                (span_start - F.col("__off")).cast("long").alias("doc_off"),
                (span_end - span_start).cast("long").alias("span_len"),
            )
        )
        if not materialize:
            return spans
        # the minhash_lsh_pairs discipline: pin the span frame (one bounded
        # row per (doc, seq) overlap), then release the internal base blocks
        return spans.localCheckpoint(eager=True)


def weighted_mixture_index(
    df: DataFrame,
    source_col: str,
    id_col: str,
    weights: dict[str, float],
    n_buckets: int = 64,
    pos_col: str = "mix_pos",
) -> DataFrame:
    """Deterministic weighted interleave — the mixture schedule that turns
    per-source sampling weights into ONE global training order.

    Ranking key per row: ``-ln(u) / w`` (the Efraimidis-Spirakis
    exponential race): ``u`` is a Knuth-multiplicative-hash uniform of the
    id (reproducible on any engine — the q_resample pattern), ``w`` the
    source's weight. Sorting ascending yields a weighted shuffle whose
    long-run source proportions match the weights — heavier sources
    surface earlier and more densely — with no RNG state, so reruns and
    engines agree bit-for-bit (keys round to 9dp before ranking, the
    round-before-rank rule). Rows whose source has no weight are
    EXCLUDED (mixture = selection + weighting).

    The global rank avoids the single-partition ``row_number() OVER
    (ORDER BY key)`` funnel: bucket by deterministic approx-quantile cut
    points of the key (strictly-less comparison keeps equal keys in one
    bucket), count buckets (bounded collect), cumulative offsets on the
    driver, then a per-bucket window — the global_shuffle_index technique
    applied to a computed sort key. Ties break on (source, id).

    ``df`` MUST be deterministic under re-evaluation (a table scan or a
    pure transformation of one — not ``sample``/``limit``/``rand``): the
    input is evaluated three times (quantile cuts, bucket counts, the
    final window), and a nondeterministic source can land rows in buckets
    absent from the collected offsets map, yielding NULL or colliding
    positions. Materialize such inputs first (write them, or
    ``localCheckpoint``) before scheduling a mixture over them.
    """
    wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    w = wmap[F.col(source_col)]
    # Knuth hash -> uniform in (0, 1]: +1 keeps ln() off -inf at hash 0;
    # pre-PMOD to 2^31 so the product never overflows a signed long AND
    # negative ids stay non-negative (% follows the dividend's sign in
    # Spark; a negative residue would push u <= 0 and ln(u) to NaN).
    unif = F.pmod(
        F.pmod(F.col(id_col), F.lit(2147483648)) * F.lit(2654435761),
        F.lit(4294967296),
    )
    u = (unif + 1) / F.lit(4294967296.0)
    # unweighted AND zero-weighted sources are excluded — mixture is
    # selection + weighting, and -ln(u)/0 would smuggle weight-0 rows in
    # at the tail with +Inf/NaN keys
    base = df.filter(w.isNotNull() & (w > 0)).withColumn(
        "__mkey", F.round(-F.log(u) / w, 9)
    )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts_row = base.select(
        F.percentile_approx("__mkey", qs, 10_000).alias("c")
    ).collect()[0]["c"]
    if cuts_row is None:
        return base.withColumn(pos_col, F.lit(None).cast("long")).drop("__mkey")
    cuts = F.array(*[F.lit(float(c)) for c in cuts_row])
    keyed = base.withColumn(
        "__b", F.size(F.filter(cuts, lambda c: c < F.col("__mkey")))
    )
    off_map = _bucket_prefix_offsets(keyed, F.count("*"))
    if off_map is None:  # no weighted rows survive the gate
        return base.withColumn(pos_col, F.lit(None).cast("long")).drop(
            "__mkey", "__b"
        )
    from pyspark.sql import Window

    wloc = Window.partitionBy("__b").orderBy("__mkey", source_col, id_col)
    return (
        keyed.withColumn(
            pos_col,
            (F.row_number().over(wloc) - 1 + off_map[F.col("__b")]).cast("long"),
        )
        .drop("__mkey", "__b")
    )
