"""Core relational queries: scans, typed projections, sorts, limits, scalar
functions (SURVEY.md §2.1/2.2/2.5/2.7).

Scale notes: every query here is a single scan → narrow transform (no
shuffle) or one hash aggregate. Filters/projections are plain Catalyst
expressions so they reach the parquet reader as PushedFilters/ReadSchema —
at 100 TB these scans read only the referenced columns and prune row groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.plans.registry import register
from endtoend_etl_openmeteo_spark.sources.tables import tbl


@register(
    "q_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_quantity > 25
    """,
    doc="Projected + filtered table scan (SURVEY §2.1 S7). Predicate and "
    "column list push into the parquet scan. Reference: dbt source scan "
    "dbt/models/staging/stg_weather_hourly.sql:7.",
    tags=("scan",),
)
def q_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tbl(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .filter(F.col("l_quantity") > 25)
    )


@register(
    "q_cast_projection",
    oracle="""
    SELECT l_orderkey,
           CAST(l_linenumber AS DOUBLE) AS linenumber_d,
           CAST(l_shipdate AS DATE) AS ship_date,
           strptime(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S'),
                    '%Y-%m-%d %H:%M:%S') AS ship_ts
    FROM lineitem
    """,
    doc="Typed projection (SURVEY §2.2 P5, §2.7 X3/X4/X8): numeric cast, "
    "date truncation cast, and string→timestamp round-trip. Reference: "
    "dbt/models/staging/stg_weather_hourly.sql:1-7, "
    "ingestion/loader/load_to_postgres.py:125.",
    tags=("projection",),
)
def q_cast_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("double").alias("linenumber_d"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.to_timestamp(F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss")).alias("ship_ts"),
    )


@register(
    "q_round",
    oracle="""
    SELECT l_returnflag,
           round(avg(l_extendedprice), 2) AS avg_price,
           round(sum(l_quantity), 1) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Display rounding over aggregates (SURVEY §2.7 X5). Reference: "
    "README.md:296-300 ROUND(x::numeric, 2).",
    tags=("scalar",),
)
def q_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tbl(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.sum("l_quantity"), 1).alias("sum_qty"),
        )
    )


@register(
    "q_sort",
    oracle="""
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           round(avg(value), 6) AS avg_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Multi-key sort over the daily mart (SURVEY §2.5 O1). Reference: "
    "README.md:294-303 ORDER BY city, day.",
    tags=("sort",),
)
def q_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tbl(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.round(F.avg("value"), 6).alias("avg_value"))
        .orderBy("event_type", "day")
    )


@register(
    "q_top1",
    oracle="""
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           round(avg(value), 6) AS avg_value
    FROM events GROUP BY 1, 2
    ORDER BY avg_value ASC, event_type ASC, day ASC LIMIT 1
    """,
    doc="Top-1 by measure — the reference's 'coldest day' query "
    "(README.md:308-314, SURVEY §2.5 O2). Spark plans this as "
    "TakeOrderedAndProject: no global sort materialization.",
    tags=("sort", "limit"),
)
def q_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tbl(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.round(F.avg("value"), 6).alias("avg_value"))
        .orderBy(F.asc("avg_value"), F.asc("event_type"), F.asc("day"))
        .limit(1)
    )


@register(
    "q_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_orderkey LIMIT 100
    """,
    doc="Deterministic row-limit cap (SURVEY §2.5 O5). Reference: "
    "load_to_postgres.py:187-188 limit_files. Ordered so the limit is "
    "well-defined across engines.",
    tags=("limit",),
)
def q_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tbl(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(100)
    )


@register(
    "q_distinct",
    oracle="""
    SELECT DISTINCT event_type, date_trunc('hour', ts) AS hour FROM events
    """,
    doc="DISTINCT over truncated timestamp (SURVEY §2.4 A2, §2.1 S5). "
    "Reference: backfill_openmeteo.py:53-63 SELECT DISTINCT "
    "DATE_TRUNC('hour', ...). Partial aggregation runs map-side before "
    "the shuffle.",
    tags=("aggregate",),
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tbl(spark, sf_dir, "events")
        .select("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .distinct()
    )


@register(
    "q_union",
    oracle="""
    SELECT event_id, ts, event_type, value FROM events
    WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-10'
    UNION
    SELECT event_id, ts, event_type, value FROM events
    WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-15'
    """,
    doc="Union of overlapping partition reads + dedup (SURVEY §2.6) — the "
    "accumulate-files-into-one-table pattern of load_all_weather "
    "(load_to_postgres.py:164-188) with the overlap reconciled like the "
    "6-hour sliding window (T2).",
    tags=("set",),
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.sources.tables import events_between

    cols = ["event_id", "ts", "event_type", "value"]
    a = events_between(spark, sf_dir, "2024-01-01", "2024-01-10").select(*cols)
    b = events_between(spark, sf_dir, "2024-01-05", "2024-01-15").select(*cols)
    return a.unionByName(b).distinct()


@register(
    "q_coalesce",
    oracle="""
    SELECT event_id,
           coalesce(json_extract_string(props, '$.missing'), 'none') AS k_missing,
           coalesce(value, 0.0) AS value_f
    FROM events
    """,
    doc="coalesce-style defaulting (SURVEY §2.7 X17). Reference: "
    "load_to_postgres.py:77-81 payload.get(...) or {} chains.",
    tags=("scalar",),
)
def q_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tbl(spark, sf_dir, "events").select(
        "event_id",
        F.coalesce(F.get_json_object("props", "$.missing"), F.lit("none")).alias("k_missing"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value_f"),
    )


@register(
    "q_string_ops",
    oracle="""
    SELECT doc_id,
           source || '/' || lang AS src_lang,
           upper(lang) AS lang_u,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           substr(text, 1, 20) AS prefix,
           string_split(text, ' ')[1] AS first_tok
    FROM documents
    """,
    doc="String split/concat/case/substring (SURVEY §2.7 X14/X15). "
    "Reference: s3_writer.py:59-61 key construction, "
    "validate_raw_weather.py:64-66 URI parsing.",
    tags=("scalar",),
)
def q_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    return tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws("/", "source", "lang").alias("src_lang"),
        F.upper("lang").alias("lang_u"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.substring("text", 1, 20).alias("prefix"),
        toks.getItem(0).alias("first_tok"),
    )


@register(
    "q_date_format",
    oracle="""
    SELECT event_id, strftime(ts, '%Y-%m-%d') AS ds, strftime(ts, '%H') AS hh
    FROM events
    """,
    doc="Timestamp formatting (SURVEY §2.7 X10) — the partition-key "
    "strftime of s3_writer.py:59-61.",
    tags=("scalar",),
)
def q_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tbl(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd").alias("ds"),
        F.date_format("ts", "HH").alias("hh"),
    )


@register(
    "q_json_roundtrip",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           '{"k":' || json_extract_string(props, '$.k') || '}' AS j
    FROM events
    """,
    doc="JSON parse + re-serialize (SURVEY §2.7 X13). Reference: "
    "s3_writer.py:63 json.dumps, load_to_postgres.py:75 json.loads.",
    tags=("scalar", "json"),
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    k_str = F.get_json_object("props", "$.k")
    return tbl(spark, sf_dir, "events").select(
        "event_id",
        k_str.cast("long").alias("k"),
        F.concat(F.lit('{"k":'), k_str, F.lit("}")).alias("j"),
    )


@register(
    "q_count_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="Exact distinct aggregate (extension surface, SURVEY §7 step 7). "
    "Expands to a two-stage aggregate in Spark (partial distinct map-side).",
    tags=("aggregate",),
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tbl(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"), F.count("*").alias("n"))
    )


@register(
    "q_percentile",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.50), 6) AS p50,
           round(quantile_cont(value, 0.90), 6) AS p90
    FROM events GROUP BY event_type
    """,
    doc="Exact interpolated percentiles (extension surface). Spark "
    "percentile == DuckDB quantile_cont (linear interpolation). The "
    "approximate variant for the 100 TB path is q_approx_stats (rows-only).",
    tags=("aggregate",),
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tbl(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.percentile("value", 0.25), 6).alias("p25"),
            F.round(F.percentile("value", 0.50), 6).alias("p50"),
            F.round(F.percentile("value", 0.90), 6).alias("p90"),
        )
    )


@register(
    "q_approx_stats",
    # The sketch values themselves are Spark-implementation-specific, so the
    # hash-checked contract is the ERROR BOUND: each group's HLL++ estimate
    # must sit within 15% of the exact distinct (3x the default 5% rsd) and
    # the GK median inside the exact interquartile range. Both engines agree
    # the bounds hold -> hash match; a broken sketch flips a boolean and
    # fails the gate. Exact n rides along as the anchor column.
    oracle="""
    SELECT event_type,
           count(*) AS n,
           TRUE AS hll_within_15pct,
           TRUE AS p50_within_iqr
    FROM events GROUP BY event_type
    """,
    doc="Approximate distinct + quantile (SURVEY §7 step 7) — the 100 TB "
    "path where exact distinct would shuffle every key: HLL++ sketch and "
    "GK quantile sketch, both mergeable map-side. The query verifies its "
    "own sketches against exact aggregates computed alongside and emits "
    "the accuracy verdict as hash-checked booleans (an always-TRUE oracle "
    "with the tolerance computed Spark-side).",
    tags=("aggregate", "approx"),
)
def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sketches + the exact-percentile anchors in ONE single-pass aggregate
    # (both quantiles share one percentile buffer via the array form), with
    # the exact-distinct anchor as a SEPARATE two-column distinct — mixing
    # countDistinct into the main agg would plan an Expand that doubles
    # every scanned row (measured 5x slower at sf0.1).
    ev = tbl(spark, sf_dir, "events")
    agg = (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.percentile_approx("value", 0.5).alias("approx_p50"),
            F.percentile("value", F.array(F.lit(0.25), F.lit(0.75))).alias("pq"),
        )
        .withColumn("p25", F.col("pq")[0])
        .withColumn("p75", F.col("pq")[1])
    )
    exact = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("exact_users"))
    )
    agg = agg.join(F.broadcast(exact), "event_type")
    return agg.select(
        "event_type",
        "n",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.15 * F.col("exact_users")
        ).alias("hll_within_15pct"),
        (
            (F.col("approx_p50") >= F.col("p25"))
            & (F.col("approx_p50") <= F.col("p75"))
        ).alias("p50_within_iqr"),
    )


@register(
    "q_jdbc_roundtrip",
    # oracle = the source parquet itself: a lossless sink+source round-trip
    # must hand back exactly what went in.
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc="S11 JDBC sink + source round-trip against embedded Derby (the "
    "reference's Postgres staging analog, "
    "ingestion/loader/load_to_postgres.py:34-42): batched append via "
    "DataFrameWriter.jdbc, partitioned read-back (4 bound-split executor "
    "connections — the anti-single-connection default sources/jdbc.py "
    "enforces). Each invocation writes to a fresh in-memory Derby DB "
    "(25 dimension rows — bounded leak for the JVM's lifetime).",
    tags=("jdbc", "source", "sink"),
)
def q_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from endtoend_etl_openmeteo_spark.sources.jdbc import (
        read_jdbc,
        write_jdbc_append,
    )

    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    url = f"jdbc:derby:memory:rt{uuid.uuid4().hex[:8]};create=true"
    nation = tbl(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_jdbc_append(nation, url, "nation_rt", driver=driver)
    return read_jdbc(
        spark,
        url,
        "nation_rt",
        partition_col="n_nationkey",
        lower_bound=0,
        upper_bound=25,
        num_partitions=4,
        driver=driver,
    ).select("n_nationkey", "n_name", "n_regionkey")


def _seed_two_appends(
    spark, table: str, parts: list, stats_cols=None, bloom_cols=None
) -> int:
    """Seed a fresh versioned table with two INDEPENDENT appends run
    concurrently (guide-§2.6 back-fill; the q_cdc_apply seeding pattern).
    vt_append's CAS rebase makes racing appends both land whatever the
    commit order, and every seeded query reads whole snapshots, so the
    final table content is order-independent. Returns the version with
    BOTH appends visible (max of the two commits)."""
    from functools import partial

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_append,
        vt_init,
    )
    from endtoend_etl_openmeteo_spark.session import overlap

    vt_init(spark, table)
    appends = [
        partial(
            vt_append, spark, part, table,
            stats_cols=stats_cols, bloom_cols=bloom_cols,
        )
        for part in parts
    ]
    return max(overlap(*appends))


@register(
    "q_time_travel",
    # Three snapshots over arithmetically-disjoint event slices; the oracle
    # recomputes each version's expected contents straight from the source
    # table. count/sum casts + 4dp rounding per repo convention.
    oracle="""
    SELECT 1::BIGINT AS version, count(*)::BIGINT AS n_rows,
           round(sum(value), 4) AS sum_value
    FROM events WHERE event_id % 3 = 0
    UNION ALL
    SELECT 2::BIGINT, count(*)::BIGINT, round(sum(value), 4)
    FROM events WHERE event_id % 3 IN (0, 1)
    UNION ALL
    SELECT 3::BIGINT, count(*)::BIGINT, round(sum(value), 4)
    FROM events WHERE event_id % 3 = 2
    """,
    doc="Snapshot isolation + time travel over the manifest-committed "
    "table format (operators/versioned.py): append, append, overwrite — "
    "then read ALL THREE versions back concurrently and aggregate each. "
    "The hash-checked invariant is the format's core promise: every "
    "historical version remains exactly the data it committed, "
    "independent of later writes. CAS manifests, immutable data files, "
    "vacuum-based reclamation are pinned by tests/test_versioned.py.",
    tags=("versioned", "snapshot"),
)
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_append,
        vt_init,
        vt_overwrite,
        vt_read,
    )
    from endtoend_etl_openmeteo_spark.session import scratch_dir

    ev = tbl(spark, sf_dir, "events").select("event_id", "value")
    table = scratch_dir(prefix="vt_tt_")
    try:
        vt_init(spark, table)
        vt_append(spark, ev.filter(F.col("event_id") % 3 == 0), table)
        vt_append(spark, ev.filter(F.col("event_id") % 3 == 1), table)
        vt_overwrite(spark, ev.filter(F.col("event_id") % 3 == 2), table)
        per_version = [
            vt_read(spark, table, version=v)
            .agg(
                F.lit(v).cast("long").alias("version"),
                F.count("*").alias("n_rows"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .select("version", "n_rows", "sum_value")
            for v in (1, 2, 3)
        ]
        out = per_version[0].unionByName(per_version[1]).unionByName(
            per_version[2]
        )
        # 3 rows — checkpoint eagerly so the scratch table can be reclaimed
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(table, ignore_errors=True)


@register(
    "q_snapshot_merge",
    # LWW merge semantics recomputed directly from the source: every 10th
    # event gets a newer (ord=2) row with value+1000; the rest keep their
    # seeded values. One stale (ord=0) batch must leave no trace.
    oracle="""
    SELECT event_id,
           CASE WHEN event_id % 10 = 0 THEN value + 1000 ELSE value END AS value,
           CASE WHEN event_id % 10 = 0 THEN 2 ELSE 1 END::BIGINT AS ord
    FROM events
    """,
    doc="Copy-on-write MERGE on the manifest table format "
    "(operators/versioned.vt_merge): last-write-wins keyed upsert where "
    "only files whose recorded key range overlaps the batch are "
    "rewritten — carried files appear verbatim in the new manifest "
    "(file-granular analog of merge_upsert's partition scope, plus "
    "atomic visibility and history). The query seeds two range-sliced "
    "appends, applies a newer batch and then a STALE batch, and returns "
    "the final snapshot; rewrite scope and idempotency are pinned by "
    "tests/test_versioned.py.",
    tags=("versioned", "merge"),
)
def q_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_merge,
        vt_read,
    )
    from endtoend_etl_openmeteo_spark.session import scratch_dir

    ev = tbl(spark, sf_dir, "events").select(
        "event_id", "value", F.lit(1).cast("long").alias("ord")
    )
    mid = ev.agg((F.max("event_id") / 2).cast("long")).collect()[0][0]
    table = scratch_dir(prefix="vt_merge_")
    try:
        _seed_two_appends(
            spark,
            table,
            [
                ev.filter(F.col("event_id") <= mid),
                ev.filter(F.col("event_id") > mid),
            ],
            stats_cols=["event_id"],
        )
        newer = ev.filter(F.col("event_id") % 10 == 0).select(
            "event_id",
            (F.col("value") + 1000).alias("value"),
            F.lit(2).cast("long").alias("ord"),
        )
        vt_merge(spark, newer, table, keys=["event_id"], order_col="ord")
        stale = ev.filter(F.col("event_id") % 10 == 0).select(
            "event_id",
            F.lit(-1.0).alias("value"),
            F.lit(0).cast("long").alias("ord"),
        )
        vt_merge(spark, stale, table, keys=["event_id"], order_col="ord")
        return vt_read(spark, table).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(table, ignore_errors=True)


@register(
    "q_mor_delete",
    # two stacked deletes recomputed as one SQL filter; the second
    # predicate only counts rows the first left live
    oracle="""
    SELECT event_id, value
    FROM events
    WHERE NOT (event_id % 7 = 0) AND NOT (value > 95.0)
    """,
    doc="Merge-on-read DELETE on the manifest table format "
    "(operators/versioned.vt_delete_mor): position deletes via Spark's "
    "parquet _metadata row ordinal, committed as KB-sized delete files "
    "attached to manifest entries — data files are never rewritten "
    "(Iceberg-v2 position-delete / Delta deletion-vector pattern; the "
    "GDPR-erasure cost model at 100 TB). The query seeds two appends, "
    "stacks TWO MOR deletes, and returns the final snapshot read "
    "merge-on-read — the hash-check proves the broadcast anti-join "
    "read path equals the plain SQL filter. No-rewrite, compaction "
    "materialization, vacuum retention and CDC classification are "
    "pinned by tests/test_versioned.py.",
    tags=("versioned", "delete"),
)
def q_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_delete_mor,
        vt_read,
    )
    from endtoend_etl_openmeteo_spark.session import scratch_dir

    ev = tbl(spark, sf_dir, "events").select("event_id", "value")
    mid = ev.agg((F.max("event_id") / 2).cast("long")).collect()[0][0]
    table = scratch_dir(prefix="vt_mor_")
    try:
        _seed_two_appends(
            spark,
            table,
            [
                ev.filter(F.col("event_id") <= mid),
                ev.filter(F.col("event_id") > mid),
            ],
            stats_cols=["event_id"],
        )
        vt_delete_mor(spark, table, F.col("event_id") % 7 == 0)
        vt_delete_mor(spark, table, F.col("value") > 95.0)
        return vt_read(spark, table).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(table, ignore_errors=True)


@register(
    "q_except_intersect",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE year(o_orderdate) = 1994),
         b AS (SELECT DISTINCT o_custkey FROM orders
               WHERE year(o_orderdate) = 1995)
    SELECT o_custkey, 'only_1994' AS tag
    FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
    UNION ALL
    SELECT o_custkey, 'only_1995' AS tag
    FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)
    UNION ALL
    SELECT o_custkey, 'both' AS tag
    FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
    """,
    doc="EXCEPT / INTERSECT set operations (the SET family beyond "
    "q_union's UNION+dedup): customer-cohort churn between two order "
    "years, tagged per membership class. Spark lowers subtract/intersect "
    "to left-anti / left-semi hash joins on already-distinct inputs — "
    "same shuffle shape as the J-family joins, no extra pass.",
    tags=("set", "relational"),
)
def q_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    a = (
        orders.filter(F.year("o_orderdate") == 1994)
        .select("o_custkey")
        .distinct()
    )
    b = (
        orders.filter(F.year("o_orderdate") == 1995)
        .select("o_custkey")
        .distinct()
    )
    return (
        a.subtract(b).select("o_custkey", F.lit("only_1994").alias("tag"))
        .unionAll(b.subtract(a).select("o_custkey", F.lit("only_1995").alias("tag")))
        .unionAll(a.intersect(b).select("o_custkey", F.lit("both").alias("tag")))
    )


@register(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           count(*)::BIGINT AS n,
           sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
           round(avg(json_extract(props, '$.k')::BIGINT), 6) AS avg_k,
           max(json_extract(props, '$.k')::BIGINT)::BIGINT AS max_k
    FROM events
    GROUP BY event_type
    """,
    doc="Semi-structured path extraction: pull a typed field out of the "
    "events.props JSON string (get_json_object — Jackson-backed, "
    "JVM-side, no Python) and aggregate per event type. The parse is "
    "map-side, so only (event_type, partial aggregates) ever shuffle — "
    "the schema-on-read pattern for raw JSON payloads at scale.",
    tags=("relational", "json"),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        tbl(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(k).alias("sum_k"),
            F.round(F.avg(k), 6).alias("avg_k"),
            F.max(k).alias("max_k"),
        )
    )


@register(
    "q_mad_outliers",
    oracle="""
    WITH med AS (
      -- med/mad are rounded AT THE SOURCE (not just on output) so the
      -- outlier threshold compares identical values in both engines:
      -- unrounded linear-interpolated percentiles can differ by 1 ulp
      -- between DuckDB and Spark, flipping boundary rows.
      SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type,
             any_value(med) AS med,
             round(quantile_cont(adev, 0.5), 6) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           m.med AS med,
           m.mad AS mad,
           sum(CASE WHEN abs(d.value - m.med) > 3 * 1.4826 * m.mad
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type, m.med, m.mad
    """,
    doc="Robust outlier counting via median absolute deviation: per-type "
    "median, MAD (median of |x - med|), and the count beyond 3 robust "
    "sigmas (1.4826*MAD ≈ sigma under normality) — the outlier gate that, "
    "unlike z-scores (q_anomaly_zscore), isn't dragged by the outliers "
    "themselves. Two exact-percentile aggregates; the per-type stats are "
    "|types| rows, broadcast back onto the scan for the count pass.",
    tags=("aggregate", "quality"),
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = tbl(spark, sf_dir, "events").select("event_type", "value")
    # med/mad rounded at the source (matching the oracle) so the threshold
    # comparison below is deterministic across engines — see oracle comment.
    med = events.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 6).alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.round(
            F.percentile(F.abs(F.col("value") - F.col("med")), 0.5), 6
        ).alias("mad"),
    )
    return (
        events.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


@register(
    "q_correlation",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
           round(corr(l_discount, l_extendedprice), 6) AS corr_disc_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Per-group Pearson correlation + sample covariance between fact "
    "measures — the feature-relationship scan of an EDA/feature-selection "
    "pass. Single map-side-combined aggregate: corr/covar partials "
    "(n, means, co-moments) merge associatively, so the shuffle carries "
    "|groups| rows of constant-size state.",
    tags=("aggregate",),
)
def q_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tbl(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "corr_qty_price"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "cov_qty_price"
            ),
            F.round(F.corr("l_discount", "l_extendedprice"), 6).alias(
                "corr_disc_price"
            ),
        )
    )


@register(
    "q_string_agg",
    oracle="""
    SELECT event_type,
           string_agg(DISTINCT strftime(ts, '%Y-%m-%d'), ','
                      ORDER BY strftime(ts, '%Y-%m-%d')) AS active_days,
           count(DISTINCT strftime(ts, '%Y-%m-%d'))::BIGINT AS n_days
    FROM events
    WHERE value > 90
    GROUP BY event_type
    """,
    doc="LISTAGG / string_agg parity: per-type sorted distinct active-day "
    "roster as one delimited string — collect_set + array_sort + "
    "array_join on the Spark side (collect_set's arrival order is "
    "nondeterministic, so the sort IS the semantics; warehouses make the "
    "same ORDER BY mandatory for determinism).",
    tags=("aggregate",),
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = F.date_format("ts", "yyyy-MM-dd")
    return (
        tbl(spark, sf_dir, "events")
        .filter(F.col("value") > 90)
        .groupBy("event_type")
        .agg(
            F.array_join(F.array_sort(F.collect_set(day)), ",").alias("active_days"),
            F.count_distinct(day).alias("n_days"),
        )
    )


@register(
    "q_snapshot_diff",
    # The full CDC lifecycle recomputed arithmetically from the source:
    # updates (%10: value+1000, ord 2), inserts (new ids mx+1+e for e%13),
    # COW deletes (%7 but not %10 — applied AFTER the insert, so it also
    # screens inserted ids), then the v_base->latest diff.
    oracle="""
    WITH mx AS (SELECT max(event_id) AS m FROM events),
    v_base AS (SELECT event_id, value, 1::BIGINT AS ord FROM events),
    updated AS (
      SELECT event_id,
             CASE WHEN event_id % 10 = 0 THEN value + 1000 ELSE value END AS value,
             CASE WHEN event_id % 10 = 0 THEN 2 ELSE 1 END::BIGINT AS ord
      FROM events),
    inserted AS (
      SELECT m + 1 + event_id AS event_id, value * 2 AS value, 1::BIGINT AS ord
      FROM events, mx WHERE event_id % 13 = 0),
    vfinal AS (
      SELECT * FROM updated WHERE NOT (event_id % 7 = 0 AND event_id % 10 <> 0)
      UNION ALL
      SELECT * FROM inserted WHERE NOT (event_id % 7 = 0 AND event_id % 10 <> 0))
    SELECT coalesce(n.event_id, o.event_id) AS event_id,
           CASE WHEN o.event_id IS NULL THEN 'insert'
                WHEN n.event_id IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           n.value AS value, n.ord AS ord
    FROM v_base o FULL OUTER JOIN vfinal n ON o.event_id = n.event_id
    WHERE o.event_id IS NULL OR n.event_id IS NULL
       OR o.value <> n.value OR o.ord <> n.ord
    """,
    doc="Change data feed on the manifest table format "
    "(operators/versioned.vt_diff): seed two range-sliced appends, apply "
    "a MERGE of updates, a MERGE of brand-new keys, and a copy-on-write "
    "DELETE (operators/versioned.vt_delete — predicate-negated rewrite "
    "of ONLY the files containing matches), then emit the row-level "
    "insert/update/delete feed between the seed snapshot and the latest. "
    "Manifest-scoped: only files removed or added between the two "
    "manifests are read (carried files participate in neither side), so "
    "diff cost ∝ churned files, not table size; rows a rewrite carried "
    "verbatim self-cancel via null-safe column comparison — a pure "
    "compaction diffs EMPTY. The Delta/Iceberg CDF analog over the "
    "reference ON CONFLICT upsert lifecycle "
    "(/root/reference/ingestion/loader/load_to_postgres.py:89-102).",
    tags=("versioned", "cdc"),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_delete,
        vt_diff,
        vt_merge,
    )
    from endtoend_etl_openmeteo_spark.session import scratch_dir

    ev = tbl(spark, sf_dir, "events").select(
        "event_id", "value", F.lit(1).cast("long").alias("ord")
    )
    bounds = ev.agg(
        (F.max("event_id") / 2).cast("long").alias("mid"),
        F.max("event_id").alias("mx"),
    ).collect()[0]
    mid, mx = bounds["mid"], bounds["mx"]
    table = scratch_dir(prefix="vt_cdc_")
    try:
        # the base snapshot is the one with BOTH seed appends visible
        v_base = _seed_two_appends(
            spark,
            table,
            [
                ev.filter(F.col("event_id") <= mid),
                ev.filter(F.col("event_id") > mid),
            ],
            stats_cols=["event_id"],
        )
        updates = ev.filter(F.col("event_id") % 10 == 0).select(
            "event_id",
            (F.col("value") + 1000).alias("value"),
            F.lit(2).cast("long").alias("ord"),
        )
        vt_merge(spark, updates, table, keys=["event_id"], order_col="ord")
        inserts = ev.filter(F.col("event_id") % 13 == 0).select(
            (F.col("event_id") + F.lit(mx) + 1).alias("event_id"),
            (F.col("value") * 2).alias("value"),
            F.lit(1).cast("long").alias("ord"),
        )
        vt_merge(spark, inserts, table, keys=["event_id"], order_col="ord")
        v_final, _, _ = vt_delete(
            spark,
            table,
            (F.col("event_id") % 7 == 0) & (F.col("event_id") % 10 != 0),
        )
        out = vt_diff(spark, table, v_base, v_final, keys=["event_id"])
        return out.localCheckpoint(eager=True)  # scratch table is reclaimed
    finally:
        shutil.rmtree(table, ignore_errors=True)


@register(
    "q_cdc_apply",
    # The replica's final state recomputed straight from raw events: the
    # merge updates every 7th event (ord=2, value+500), the delete then
    # removes every 11th — if diff extraction + apply are both sound, the
    # replica is row-identical to this direct computation.
    oracle="""
    SELECT event_id,
           CASE WHEN event_id % 7 = 0 THEN value + 500 ELSE value END AS value,
           CASE WHEN event_id % 7 = 0 THEN 2 ELSE 1 END::BIGINT AS ord
    FROM events WHERE event_id % 11 <> 0
    """,
    doc="CDC replication round-trip on the table format "
    "(operators/versioned.vt_diff + vt_apply_cdc): a source table takes "
    "a COW merge and a COW delete; the manifest-scoped change feed "
    "between base and head is applied to an independent replica seeded "
    "at the base snapshot in ONE copy-on-write commit (upserts win over "
    "existing rows, deletes anti-join broadcast, only key-range-"
    "overlapping files rewritten). Hash-checked: the replica equals the "
    "source head recomputed directly from raw events — the downstream-"
    "sync contract a 100-TB lakehouse pair needs, at churned-file cost "
    "on both the extract and apply sides.",
    tags=("versioned", "cdc"),
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_append,
        vt_apply_cdc,
        vt_delete,
        vt_diff,
        vt_init,
        vt_merge,
        vt_read,
    )
    from endtoend_etl_openmeteo_spark.session import overlap, scratch_dir

    base = tbl(spark, sf_dir, "events").select(
        "event_id", "value", F.lit(1).cast("long").alias("ord")
    )
    work = scratch_dir(prefix="vt_cdc_")
    source, replica = f"{work}/source", f"{work}/replica"
    try:
        # the two tables' seeding commits are independent (distinct
        # dirs, same immutable input) — overlap them (guide-§2.6)
        def seed(t: str) -> None:
            vt_init(spark, t)
            vt_append(spark, base, t, stats_cols=["event_id"])

        overlap(lambda: seed(source), lambda: seed(replica))
        newer = base.filter(F.col("event_id") % 7 == 0).select(
            "event_id",
            (F.col("value") + 500).alias("value"),
            F.lit(2).cast("long").alias("ord"),
        )
        vt_merge(spark, newer, source, keys=["event_id"], order_col="ord")
        _, _, n_del = vt_delete(spark, source, F.col("event_id") % 11 == 0)
        assert n_del > 0
        changes = vt_diff(spark, source, 1, 3, keys=["event_id"])
        vt_apply_cdc(spark, changes, replica, keys=["event_id"])
        return vt_read(spark, replica).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_bloom_lookup",
    # Point lookups through bloom-sidecar file skipping. The oracle is the
    # plain filter over the source slice: if a bloom ever wrongly skipped
    # the owning file, rows would vanish and the hash would catch it —
    # the superset guarantee is exactly what this row checks.
    oracle="""
    SELECT event_id::BIGINT AS event_id, event_type,
           round(value, 6) AS value
    FROM events
    WHERE event_id < 3000 AND event_id IN (7, 1234, 2500)
    """,
    doc="Bloom-sidecar point lookups over the versioned table format "
    "(operators/versioned.py): interleaved appends (event_id % 2, 2 "
    "files each) give every file a near-full [min, max] range — range "
    "stats keep "
    "everything, the per-file bloom (prune_eq) skips to the owning "
    "file(s) before Spark lists anything. The at-scale needle-in-100-TB "
    "id lookup; skip counts are pinned by tests/test_versioned.py.",
    tags=("table-format", "lookup"),
)
def q_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from endtoend_etl_openmeteo_spark.operators.versioned import vt_read
    from endtoend_etl_openmeteo_spark.session import scratch_dir

    ev = tbl(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).filter(F.col("event_id") < 3000)
    table = scratch_dir(prefix="vt_bloom_")
    try:
        _seed_two_appends(
            spark,
            table,
            [
                ev.filter(F.col("event_id") % 2 == wave).repartition(2)
                for wave in range(2)
            ],
            stats_cols=["event_id"],
            bloom_cols=["event_id"],
        )
        parts = [
            vt_read(spark, table, prune_eq=("event_id", p)).filter(
                F.col("event_id") == p
            )
            for p in (7, 1234, 2500)
        ]
        out = parts[0].unionByName(parts[1]).unionByName(parts[2]).select(
            F.col("event_id").cast("long").alias("event_id"),
            "event_type",
            F.round("value", 6).alias("value"),
        )
        # tiny result — checkpoint eagerly so scratch can be reclaimed
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(table, ignore_errors=True)


@register(
    "q_merge_mor",
    # Same LWW truth as q_snapshot_merge, including the stale batch that
    # must leave no trace — but executed merge-on-read: the oracle proves
    # position-delete + append composes to the same table as the COW
    # rewrite path.
    oracle="""
    SELECT event_id,
           CASE WHEN event_id % 10 = 0 THEN value + 1000 ELSE value END AS value,
           CASE WHEN event_id % 10 = 0 THEN 2 ELSE 1 END::BIGINT AS ord
    FROM events
    """,
    doc="Merge-on-read UPSERT on the manifest table format "
    "(operators/versioned.vt_merge_mor): superseded rows become KB-sized "
    "position-delete attachments, the batch appends as new files — no "
    "data file is rewritten (the write-amplification fix for scattered "
    "upserts vt_merge's COW can't give at 100 TB). LWW parity with "
    "vt_merge: a newer batch replaces, a stale batch commits nothing. "
    "Rewrite-free scope and LWW edges pinned by tests/test_versioned.py.",
    tags=("versioned", "merge"),
)
def q_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_merge_mor,
        vt_read,
    )
    from endtoend_etl_openmeteo_spark.session import scratch_dir

    ev = tbl(spark, sf_dir, "events").select(
        "event_id", "value", F.lit(1).cast("long").alias("ord")
    )
    mid = ev.agg((F.max("event_id") / 2).cast("long")).collect()[0][0]
    table = scratch_dir(prefix="vt_mor_merge_")
    try:
        _seed_two_appends(
            spark,
            table,
            [
                ev.filter(F.col("event_id") <= mid),
                ev.filter(F.col("event_id") > mid),
            ],
            stats_cols=["event_id"],
        )
        newer = ev.filter(F.col("event_id") % 10 == 0).select(
            "event_id",
            (F.col("value") + 1000).alias("value"),
            F.lit(2).cast("long").alias("ord"),
        )
        vt_merge_mor(spark, newer, table, keys=["event_id"], order_col="ord")
        stale = ev.filter(F.col("event_id") % 10 == 0).select(
            "event_id",
            F.lit(-1.0).alias("value"),
            F.lit(0).cast("long").alias("ord"),
        )
        vt_merge_mor(spark, stale, table, keys=["event_id"], order_col="ord")
        return vt_read(spark, table).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(table, ignore_errors=True)


@register(
    "q_optimize_cluster",
    # Range scan after a clustering rewrite: plain-filter oracle — if the
    # optimize rewrite lost or duplicated rows, or pruning skipped a file
    # it needed, the hash catches it.
    oracle="""
    SELECT event_id::BIGINT AS event_id, round(value, 6) AS value
    FROM events
    WHERE event_id < 3000 AND event_id BETWEEN 600 AND 660
    """,
    doc="OPTIMIZE (range clustering) on the manifest table format "
    "(operators/versioned.vt_optimize): interleaved appends leave every "
    "file spanning the key domain; repartitionByRange + in-file sort "
    "rewrites to disjoint-range files so manifest min/max pruning "
    "answers range scans with O(result) files — the clustered "
    "complement of q_bloom_lookup's point path. Selectivity is pinned "
    "by tests/test_versioned.py.",
    tags=("table-format", "layout"),
)
def q_optimize_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_optimize,
        vt_read,
    )
    from endtoend_etl_openmeteo_spark.session import scratch_dir

    ev = tbl(spark, sf_dir, "events").select("event_id", "value").filter(
        F.col("event_id") < 3000
    )
    table = scratch_dir(prefix="vt_opt_")
    try:
        _seed_two_appends(
            spark,
            table,
            [ev.filter(F.col("event_id") % 2 == wave) for wave in range(2)],
            stats_cols=["event_id"],
        )
        vt_optimize(spark, table, ["event_id"], n_files=4)
        out = vt_read(
            spark, table, prune=("event_id", 600, 660)
        ).filter(F.col("event_id").between(600, 660)).select(
            F.col("event_id").cast("long").alias("event_id"),
            F.round("value", 6).alias("value"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(table, ignore_errors=True)


@register(
    "q_safe_parse",
    # Malformed inputs derived deterministically (the q_pii_scrub trick):
    # the same rows are garbage in both engines, so what the hash checks
    # is the NULL-not-crash semantics of the try_* family itself.
    oracle="""
    WITH raws AS (
      SELECT event_id, value,
             CASE WHEN event_id % 5 = 0 THEN event_type
                  ELSE CAST(value AS VARCHAR) END AS raw_num,
             CASE WHEN event_id % 3 = 0 THEN '2024-13-99'
                  ELSE '2024-01-15' END AS raw_date
      FROM events
    )
    SELECT event_id,
           round(TRY_CAST(raw_num AS DOUBLE), 6) AS parsed_value,
           CASE WHEN event_id % 7 = 0 THEN NULL
                ELSE round(value / (event_id % 7), 6) END AS safe_ratio,
           TRY_CAST(raw_date AS TIMESTAMP) AS parsed_ts
    FROM raws
    """,
    doc="Malformed-input-tolerant parsing (the data-cleaning face of "
    "SURVEY §2.7): try_cast / try_divide / try_to_timestamp turn garbage "
    "rows into NULLs instead of job-killing ANSI errors — at 100 TB a "
    "single bad record must never fail a scan. Map-only, codegen; the "
    "engine runs ANSI mode, so the try_* family is the sanctioned "
    "escape hatch (not disabling ANSI).",
    tags=("scalar", "quality"),
)
def q_safe_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tbl(spark, sf_dir, "events")
    raw_num = F.when(
        F.col("event_id") % 5 == 0, F.col("event_type")
    ).otherwise(F.col("value").cast("string"))
    raw_date = F.when(
        F.col("event_id") % 3 == 0, F.lit("2024-13-99")
    ).otherwise(F.lit("2024-01-15"))
    return ev.select(
        "event_id",
        F.round(raw_num.try_cast("double"), 6).alias("parsed_value"),
        F.round(
            F.try_divide(F.col("value"), F.col("event_id") % 7), 6
        ).alias("safe_ratio"),
        raw_date.try_cast("timestamp").alias("parsed_ts"),
    )


@register(
    "q_rename_count",
    oracle="""
    WITH base AS (SELECT event_id, value FROM events)
    SELECT 'v_even' AS step, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(NULL AS DOUBLE) AS sum_val
    FROM base WHERE event_id % 2 = 0
    UNION ALL
    SELECT 'v_renamed', CAST(count(*) AS BIGINT), CAST(NULL AS DOUBLE)
    FROM base WHERE event_id % 2 = 0
    UNION ALL
    SELECT 'v_all', CAST(count(*) AS BIGINT), CAST(NULL AS DOUBLE) FROM base
    UNION ALL
    SELECT 'v_live', CAST(count(*) AS BIGINT), CAST(NULL AS DOUBLE)
    FROM base WHERE event_id % 5 <> 0
    UNION ALL
    SELECT 'final', CAST(count(*) AS BIGINT), round(sum(value), 4)
    FROM base WHERE event_id % 5 <> 0
    """,
    doc="Metadata-only operations on the versioned table: COUNT(*) from "
    "manifest row counts (vt_count — no data scan, exact through "
    "merge-on-read position deletes) and column rename WITHOUT rewrite "
    "(vt_rename_column — metadata commit; old files map positionally at "
    "scan). The step counts come from vt_count at each snapshot; the "
    "final row re-reads through the renamed column, proving the mapping "
    "preserves values. Oracle recomputes every step from the source "
    "table.",
    tags=("versioned", "snapshot"),
)
def q_rename_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_append,
        vt_count,
        vt_delete_mor,
        vt_init,
        vt_read,
        vt_rename_column,
    )
    from endtoend_etl_openmeteo_spark.session import scratch_dir

    ev = tbl(spark, sf_dir, "events").select("event_id", "value")
    table = scratch_dir(prefix="vt_rn_")
    try:
        vt_init(spark, table)
        v1 = vt_append(spark, ev.filter(F.col("event_id") % 2 == 0), table)
        v2 = vt_rename_column(spark, table, "value", "val")
        v3 = vt_append(
            spark,
            ev.filter(F.col("event_id") % 2 == 1).select(
                "event_id", F.col("value").alias("val")
            ),
            table,
        )
        v4, _, _ = vt_delete_mor(spark, table, F.col("event_id") % 5 == 0)
        counts = spark.createDataFrame(
            [
                ("v_even", vt_count(spark, table, v1)),
                ("v_renamed", vt_count(spark, table, v2)),
                ("v_all", vt_count(spark, table, v3)),
                ("v_live", vt_count(spark, table, v4)),
            ],
            "step string, n_rows long",
        ).select("step", "n_rows", F.lit(None).cast("double").alias("sum_val"))
        final = vt_read(spark, table).agg(
            F.lit("final").alias("step"),
            F.count("*").alias("n_rows"),
            F.round(F.sum("val"), 4).alias("sum_val"),
        )
        # 5 rows — checkpoint eagerly so the scratch table can be reclaimed
        return counts.unionByName(final).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(table, ignore_errors=True)
