"""SQL facade, HTTP source shape, bucketing and salting tests."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.operators.layout import (
    salted_aggregate,
    salted_join,
    write_bucketed,
)
from endtoend_etl_openmeteo_spark.sources.http import (
    build_request_url,
    payloads_to_df,
)
from endtoend_etl_openmeteo_spark.sql import register_views, sql

SF = "/root/testdata/sf0.001"


def test_sql_facade_runs_reference_style_queries(spark):
    out = sql(
        spark,
        SF,
        """
        SELECT event_type, date_trunc('day', ts) AS day,
               round(avg(value), 2) AS avg_value
        FROM events GROUP BY 1, 2 ORDER BY 3 ASC LIMIT 1
        """,
    ).collect()
    assert len(out) == 1

    names = register_views(spark, SF)
    assert "lineitem" in names
    assert spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0].n > 0


def test_http_request_shapes():
    start = dt.datetime(2025, 10, 1)
    end = dt.datetime(2025, 10, 2)
    fc = build_request_url(52.23, 21.01, start, end)
    ar = build_request_url(52.23, 21.01, start, end, archive=True)
    assert fc.startswith("https://api.open-meteo.com/v1/forecast?")
    assert "hourly=temperature_2m%2Cprecipitation%2Cwind_speed_10m" in fc
    assert "start_date=2025-10-01" in fc and "end_date=2025-10-02" in fc
    assert ar.startswith("https://archive-api.open-meteo.com/v1/archive?")
    assert "timezone=auto" in ar


def test_payloads_to_df_bronze_shape(spark):
    payload = {
        "latitude": 52.23,
        "longitude": 21.01,
        "timezone": "Europe/Berlin",
        "hourly": {
            "time": ["2025-10-31T12:00"],
            "temperature_2m": [15.5],
            "precipitation": [0.0],
            "wind_speed_10m": [5.2],
        },
    }
    empty = {"latitude": 1.0, "longitude": 2.0, "timezone": "UTC", "hourly": {}}
    df = payloads_to_df(spark, [("Warsaw", payload), ("Paris", empty)])
    rows = {r.city: r for r in df.collect()}
    assert rows["Warsaw"].ds == "2025-10-31" and rows["Warsaw"].hour == "12"
    assert rows["Warsaw"].hourly.temperature_2m == [15.5]
    assert rows["Paris"].ds is None and rows["Paris"].hourly.time == []


def test_payloads_to_df_matches_read_bronze(spark, tmp_path):
    """The batch payloads_to_df builds is what read_bronze reads back:
    from the bronze files write_bronze makes of it, and from the raw
    payload JSON landed in the bronze layout. Integer JSON numbers read
    as doubles, as the JSON reader reads them. The batch is a JVM local
    relation, so no consumer starts a Python worker."""
    import json

    from endtoend_etl_openmeteo_spark.sources.bronze import read_bronze, write_bronze

    def hourly(times, temps, precips, winds):
        return {
            "time": times,
            "temperature_2m": temps,
            "precipitation": precips,
            "wind_speed_10m": winds,
        }

    landed = [
        ("Warsaw", {"latitude": 52, "longitude": 21, "timezone": "Europe/Warsaw",
                    "hourly": hourly(["2025-10-31T12:00", "2025-10-31T13:00"],
                                     [1, None], [0, 0.5], [5, 7.25])}),
        (None, {"latitude": 48.5, "longitude": 2, "timezone": "UTC",
                "hourly": hourly(["2025-10-31T14:00"], [None], [None], [3])}),
        ("Kraków", {"latitude": 50.06, "longitude": 19.94, "timezone": None,
                    "hourly": hourly(["2025-11-01T00:00"], [-2.5], [0], [1])}),
    ]
    unlanded = [
        ("Paris", {"latitude": 48.86, "longitude": 2.35, "timezone": "UTC", "hourly": {}}),
        ("Oslo", {"latitude": 59.91, "longitude": 10.75, "timezone": "Europe/Oslo"}),
    ]
    df = payloads_to_df(spark, landed + unlanded)
    assert df._jdf.queryExecution().optimizedPlan().toString().startswith("LocalRelation")

    def rows(frame):
        return sorted(frame.collect(), key=lambda r: (r.city or "", r.ds or ""))

    want = rows(df)
    assert [r.city for r in want] == [None, "Kraków", "Oslo", "Paris", "Warsaw"]
    warsaw = want[-1]
    assert (warsaw.latitude, warsaw.longitude) == (52.0, 21.0)
    assert warsaw.hourly.temperature_2m == [1.0, None]
    assert want[2].hourly.time == [] and want[2].ds is None

    written = str(tmp_path / "written")
    write_bronze(df, written)
    assert rows(read_bronze(spark, written)) == want

    raw = tmp_path / "raw"
    for city, p in landed:
        t = p["hourly"]["time"][0]
        part = raw / f"city={city or '__HIVE_DEFAULT_PARTITION__'}" / f"ds={t[:10]}"
        (part / f"hour={t[11:13]}").mkdir(parents=True)
        (part / f"hour={t[11:13]}" / "part-00000.json").write_text(json.dumps(p) + "\n")
    landed_cities = {c for c, _ in landed}
    assert rows(read_bronze(spark, str(raw))) == [r for r in want if r.city in landed_cities]


def test_bucketed_join_has_no_exchange(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    write_bucketed(orders, "orders_b", ["o_custkey"], num_buckets=4)
    write_bucketed(
        customer.withColumnRenamed("c_custkey", "o_custkey"), "customer_b",
        ["o_custkey"], num_buckets=4,
    )
    # disable broadcast so the join would normally need a shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_b").join(spark.table("customer_b"), "o_custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_salted_join_matches_plain_join(spark):
    # hot-key data: 90% of left rows share key 1
    left = spark.createDataFrame(
        [(1 if i % 10 else 2, i) for i in range(1000)], "k long, row_id long"
    )
    right = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "unused")], "k long, v string")
    plain = left.join(right, "k")
    salted = salted_join(left, right, "k", salt_factor=4, distribute_by="row_id")
    assert salted.count() == plain.count()
    assert {tuple(r) for r in salted.collect()} == {tuple(r) for r in plain.collect()}


def test_salted_aggregate_matches_plain(spark):
    df = spark.createDataFrame(
        [(1 if i % 10 else 2, float(i)) for i in range(1000)], "k long, v double"
    )
    plain = {
        (r.k): (r.s, r.c, r.mn, r.mx)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("v").alias("c"),
             F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    }
    got = {
        (r.k): (r.sum_v, r.count_v, r.min_v, r.max_v)
        for r in salted_aggregate(
            df, ["k"], {"v": "sum"}, salt_factor=4, distribute_by="v"
        )
        .join(
            salted_aggregate(df, ["k"], {"v": "count"}, 4, "v"), "k"
        )
        .join(salted_aggregate(df, ["k"], {"v": "min"}, 4, "v"), "k")
        .join(salted_aggregate(df, ["k"], {"v": "max"}, 4, "v"), "k")
        .collect()
    }
    assert got == plain


def test_salted_aggregate_rejects_non_decomposable(spark):
    df = spark.createDataFrame([(1, 1.0)], "k long, v double")
    with pytest.raises(ValueError):
        salted_aggregate(df, ["k"], {"v": "median"})


def test_salted_join_rejects_key_as_distribute_by(spark):
    left = spark.createDataFrame([(1, 1)], "k long, row_id long")
    right = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(ValueError, match="distribute_by"):
        salted_join(left, right, "k", distribute_by="k")


def test_salted_join_default_salt_actually_splits_hot_key(spark):
    left = spark.createDataFrame([(1, i) for i in range(400)], "k long, row_id long")
    right = spark.createDataFrame([(1, "hot")], "k long, v string")
    from endtoend_etl_openmeteo_spark.operators.layout import salted

    salts = salted(left, None, 8).select("__salt").distinct().count()
    assert salts > 1  # the hot key is actually spread
    assert salted_join(left, right, "k", salt_factor=8).count() == 400


def test_jdbc_reader_guards(spark):
    from endtoend_etl_openmeteo_spark.sources.jdbc import read_jdbc

    with pytest.raises(ValueError, match="unpartitioned"):
        read_jdbc(spark, "jdbc:postgresql://db/x", "t")
    with pytest.raises(ValueError, match="lower_bound"):
        read_jdbc(spark, "jdbc:postgresql://db/x", "t", partition_col="id")
    # with no driver in this env the acknowledged-small-dim path fails
    # with a clear ConnectionError, not a raw Py4J stack
    with pytest.raises(ConnectionError, match="JDBC read failed"):
        read_jdbc(spark, "jdbc:postgresql://db/x", "t", allow_single_partition="true")


def test_zorder_layout_tightens_both_dimensions(spark):
    from endtoend_etl_openmeteo_spark.operators.layout import zorder_layout
    from endtoend_etl_openmeteo_spark.sources.tables import tbl

    # two independent, uniformly hashed 10-bit dimensions
    df = (
        tbl(spark, SF, "events")
        .select(
            (F.abs(F.xxhash64("user_id")) % 1024).alias("x"),
            (F.abs(F.xxhash64("event_id")) % 1024).alias("y"),
        )
    )

    def worst_dim_coverage(laid_out):
        """For a point predicate on dimension d, mean(range_d)/domain is the
        fraction of partitions min/max stats CANNOT skip. The layout's
        pruning quality is its WORST dimension — single-column sorting
        leaves the other dimension's ranges spanning ~the full domain."""
        parts = (
            laid_out.withColumn("p", F.spark_partition_id())
            .groupBy("p")
            .agg(
                (F.max("x") - F.min("x")).alias("rx"),
                (F.max("y") - F.min("y")).alias("ry"),
            )
            .collect()
        )
        mean_rx = sum(r.rx for r in parts) / len(parts) / 1024
        mean_ry = sum(r.ry for r in parts) / len(parts) / 1024
        return max(mean_rx, mean_ry)

    single_sorted = df.repartitionByRange(16, "x").sortWithinPartitions("x")
    zordered = zorder_layout(df, ["x", "y"], 16, bits=10)
    cov_single = worst_dim_coverage(single_sorted)  # y spans ~1.0 everywhere
    cov_z = worst_dim_coverage(zordered)  # ~0.25 on both dims (4x4 grid)
    assert cov_single > 0.9, cov_single
    assert cov_z < 0.5 * cov_single, (cov_z, cov_single)


def test_zorder_key_guards(spark):
    from endtoend_etl_openmeteo_spark.operators.layout import zorder_key

    with pytest.raises(ValueError):
        zorder_key("x")
    with pytest.raises(ValueError):
        zorder_key("x", "y", bits=32)


def test_compact_shrinks_file_count_preserving_rows(spark, tmp_path):
    from endtoend_etl_openmeteo_spark.operators.layout import compact
    from endtoend_etl_openmeteo_spark.sources.tables import tbl

    path = str(tmp_path / "frag")
    ev = tbl(spark, SF, "events").select("event_id", "user_id", "value")
    ev.repartition(64).write.parquet(path)  # fragment: 64 tiny files
    n_before = len([p for p in (tmp_path / "frag").glob("*.parquet")])
    assert n_before >= 32
    before = ev.count()

    n_target = compact(spark, path, target_mb=128, sort_cols=["event_id"])
    files = list((tmp_path / "frag").glob("*.parquet"))
    assert len(files) == n_target == 1  # tiny table fits one 128 MB target
    after = spark.read.parquet(path)
    assert after.count() == before
    # re-sorted: the single file is globally ordered by event_id
    ids = [r.event_id for r in after.select("event_id").collect()]
    assert ids == sorted(ids)


def _row_groups_matching(path, col, lo, hi):
    """(matching, total) row groups whose parquet min/max stats intersect
    [lo, hi] — exactly the footer check Spark's reader prunes on."""
    from pathlib import Path

    import pyarrow.parquet as pq

    match = total = 0
    for f in Path(path).glob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            total += 1
            if st is None or (st.min <= hi and st.max >= lo):
                match += 1
    return match, total


def test_compact_zorder_end_to_end_prunes_row_groups(spark, tmp_path):
    """The maintenance-path proof (bronze→silver at 100 TB): incremental
    ingest leaves many files whose per-file stats span the full domain —
    every range scan reads everything. Compaction+Z-order must (a) shrink
    the file count and (b) leave row-group stats tight on BOTH dimensions,
    so a range predicate on either column prunes most row groups at the
    footer. Measured from the actual parquet metadata, not the plan."""
    from endtoend_etl_openmeteo_spark.operators.layout import zorder_layout
    from endtoend_etl_openmeteo_spark.sources.tables import tbl

    # two independent 10-bit dimensions an analyst would range-filter on
    df = tbl(spark, SF, "events").select(
        "event_id",
        (F.abs(F.xxhash64("user_id")) % 1024).cast("long").alias("x"),
        (F.abs(F.xxhash64("value")) % 1024).cast("long").alias("y"),
    )

    # simulate micro-batch ingest: 24 random-ordered appends
    frag = str(tmp_path / "silver_frag")
    df.orderBy(F.xxhash64("event_id")).repartition(24).write.parquet(frag)
    m_x0, t0 = _row_groups_matching(frag, "x", 100, 163)  # 1/16 of domain
    m_y0, _ = _row_groups_matching(frag, "y", 500, 563)
    assert t0 >= 24
    # fragmented layout: stats are useless — (almost) every group matches
    assert m_x0 >= 0.9 * t0 and m_y0 >= 0.9 * t0

    # the compaction job: one read, z-order re-layout, rewrite
    laid = str(tmp_path / "silver_zorder")
    zorder_layout(spark.read.parquet(frag), ["x", "y"], 16, bits=10).write.parquet(
        laid
    )
    files_after = len(list((tmp_path / "silver_zorder").glob("*.parquet")))
    assert files_after <= 16 < 24  # compacted
    m_x1, t1 = _row_groups_matching(laid, "x", 100, 163)
    m_y1, _ = _row_groups_matching(laid, "y", 500, 563)
    # a 1/16-domain predicate on EITHER dimension now prunes most groups
    assert m_x1 / t1 <= 0.5, (m_x1, t1)
    assert m_y1 / t1 <= 0.5, (m_y1, t1)

    # and Spark's scan actually exploits it: pushed filter + fewer rows out
    scan = spark.read.parquet(laid).filter(
        (F.col("x") >= 100) & (F.col("x") <= 163)
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(x,100)" in plan, plan
    assert scan.count() == df.filter((F.col("x") >= 100) & (F.col("x") <= 163)).count()


def test_global_shuffle_index_dense_and_deterministic(spark):
    from endtoend_etl_openmeteo_spark.operators.layout import (
        global_shuffle_index,
        shard_assign,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id"
    )
    n = docs.count()
    idx = global_shuffle_index(docs, "doc_id", n_buckets=16)
    got = sorted(r.gidx for r in idx.collect())
    assert got == list(range(n))  # dense 0..n-1, no gaps or dupes
    # deterministic across invocations
    again = {(r.doc_id, r.gidx) for r in
             global_shuffle_index(docs, "doc_id", n_buckets=16).collect()}
    assert {(r.doc_id, r.gidx) for r in idx.collect()} == again
    # the permutation actually shuffles: not just doc_id order
    by_idx = [r.doc_id for r in sorted(idx.collect(), key=lambda r: r.gidx)]
    assert by_idx != sorted(by_idx)

    # fixed-size shards: every shard but the last exactly shard_size rows
    shards = shard_assign(docs, "doc_id", shard_size=64, n_buckets=16)
    sizes = {r.shard: r.cnt for r in shards.groupBy("shard").count()
             .withColumnRenamed("count", "cnt").collect()}
    last = max(sizes)
    for s, c in sizes.items():
        assert c == 64 or (s == last and c == n - 64 * last)


def test_global_shuffle_index_empty_input(spark):
    from endtoend_etl_openmeteo_spark.operators.layout import global_shuffle_index

    empty = spark.createDataFrame([], "doc_id long")
    out = global_shuffle_index(empty, "doc_id")
    assert out.collect() == []
    assert dict(out.dtypes)["gidx"] == "bigint"


def test_global_shuffle_index_string_ids(spark):
    """The bucket derives from an md5 prefix, so non-numeric ids (UUID-ish
    strings) must work — an id-mod bucket would cast them all to NULL."""
    from endtoend_etl_openmeteo_spark.operators.layout import global_shuffle_index

    ids = [(f"doc-{i:04d}-{'abcdef'[i % 6]}",) for i in range(97)]
    df = spark.createDataFrame(ids, "doc_id string")
    idx = global_shuffle_index(df, "doc_id", n_buckets=16)
    got = sorted(r.gidx for r in idx.collect())
    assert got == list(range(97))


def test_register_weather_views_exposes_dbt_model_names(spark, tmp_path):
    """The dbt-facing SQL facade: weather_hourly (silver), typed
    stg_weather_hourly staging view, and fct_city_day when gold exists."""
    from endtoend_etl_openmeteo_spark.sql import register_weather_views

    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    spark.createDataFrame(
        [("warsaw", "2024-01-01 00:00:00", "3.5", "0.0", "12.0")],
        "city string, timestamp string, temperature_2m string, "
        "precipitation string, wind_speed_10m string",
    ).write.parquet(silver)
    spark.createDataFrame(
        [("warsaw", "2024-01-01", 3.5)], "city string, day string, temperature_2m double"
    ).write.parquet(gold)

    register_weather_views(spark, silver, gold)
    staged = spark.sql(
        "SELECT city, temperature_2m FROM stg_weather_hourly"
    ).collect()
    assert staged == [("warsaw", 3.5)]  # string -> typed DOUBLE in staging
    assert spark.sql("SELECT count(*) n FROM fct_city_day").collect()[0].n == 1


def test_renest_hourly_roundtrips_through_unzip(spark):
    """P4 re-nesting: flat rows -> singleton-array payloads that unzip back
    to the identical flat rows (the bronze writer's inverse proof)."""
    from endtoend_etl_openmeteo_spark.operators.explode import (
        renest_hourly,
        unzip_hourly,
    )
    from tests.test_weather_pipeline import GOOD_ROWS, _bronze_df

    flat = (
        unzip_hourly(_bronze_df(spark, GOOD_ROWS))
        .withColumn("latitude", F.lit(52.23))
        .withColumn("longitude", F.lit(21.01))
        .withColumn("timezone", F.lit("UTC"))
    )
    nested = renest_hourly(flat)
    # payload shape: one (city, ds, hour) per row with singleton arrays
    r0 = nested.first()
    assert len(r0["hourly"]["time"]) == 1
    back = unzip_hourly(nested.drop("ds", "hour"))
    cols = ["city", "timestamp", "temperature_2m", "precipitation", "wind_speed_10m"]
    assert sorted(map(tuple, flat.select(*cols).collect())) == sorted(
        map(tuple, back.select(*cols).collect())
    )


def test_ingest_log_append_and_skip(spark, tmp_path):
    """S10/T3 batch form: log_ingested appends processed-file records;
    filter_new_files skips exactly the logged keys on the next run."""
    from endtoend_etl_openmeteo_spark.operators.gaps import (
        filter_new_files,
        log_ingested,
    )

    log_path = str(tmp_path / "ingest_log")
    batch1 = spark.createDataFrame(
        [("b", "k1", "e1", 10), ("b", "k2", "e2", 20)],
        "bucket string, key string, etag string, rows_inserted long",
    )
    log_ingested(batch1, log_path)
    log_ingested(  # second batch appends, never overwrites
        spark.createDataFrame(
            [("b", "k3", "e3", 5)],
            "bucket string, key string, etag string, rows_inserted long",
        ),
        log_path,
    )
    log = spark.read.parquet(log_path)
    assert log.count() == 3
    candidates = spark.createDataFrame(
        [("k2",), ("k3",), ("k4",)], "key string"
    )
    fresh = sorted(r.key for r in filter_new_files(candidates, log).collect())
    assert fresh == ["k4"]
    assert sorted(
        r.key for r in filter_new_files(candidates, None).collect()
    ) == ["k2", "k3", "k4"]


def test_fetch_payload_offline_raises_connection_error():
    """S1/S2 driver-side fetch: offline environments get a typed error at
    the call site, not an import-time or executor surprise."""
    import pytest as _pytest

    from endtoend_etl_openmeteo_spark.sources.http import fetch_payload

    with _pytest.raises(ConnectionError, match="fetch failed"):
        fetch_payload("http://127.0.0.1:9/nope", timeout_s=0.5)


def test_weighted_mixture_is_dense_and_tracks_weights(spark):
    from endtoend_etl_openmeteo_spark.operators.layout import (
        weighted_mixture_index,
    )
    from pyspark.sql import functions as F

    n = 2000
    docs = spark.range(n).selectExpr(
        "id AS doc_id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS source"
    )
    out = weighted_mixture_index(
        docs, "source", "doc_id", {"a": 4.0, "b": 1.0}
    ).collect()
    # dense 0..n-1 permutation, no gaps or dupes
    assert sorted(r["mix_pos"] for r in out) == list(range(n))
    # the head of the schedule over-represents the heavy source ~4:1
    head = [r["source"] for r in sorted(out, key=lambda r: r["mix_pos"])[:400]]
    share_a = head.count("a") / len(head)
    assert 0.65 <= share_a <= 0.95, share_a
    # deterministic: a second run gives the identical order
    again = weighted_mixture_index(
        docs, "source", "doc_id", {"a": 4.0, "b": 1.0}
    ).collect()
    assert {r["doc_id"]: r["mix_pos"] for r in out} == {
        r["doc_id"]: r["mix_pos"] for r in again
    }
    # unweighted sources are excluded
    some = weighted_mixture_index(docs, "source", "doc_id", {"a": 1.0})
    assert some.count() == n // 2


def test_weighted_mixture_handles_negative_ids(spark):
    """Round-5 ADVICE: % follows the dividend's sign, so negative ids
    produced u <= 0 and ln(u) = NaN ranking keys. pmod keeps the uniform
    in (0, 1] for any id sign; positions stay a dense permutation."""
    from endtoend_etl_openmeteo_spark.operators.layout import (
        weighted_mixture_index,
    )

    docs = spark.range(-500, 500).selectExpr(
        "id AS doc_id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS source"
    )
    out = weighted_mixture_index(
        docs, "source", "doc_id", {"a": 2.0, "b": 1.0}
    ).collect()
    assert sorted(r["mix_pos"] for r in out) == list(range(1000))


def test_sequence_pack_tiles_exactly(spark):
    """Packing invariants: spans tile each document completely and in
    order; every sequence except the last is exactly full; global
    placement is gapless."""
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.layout import sequence_pack

    docs = spark.createDataFrame(
        [(i, 7 + (i * 13) % 50) for i in range(200)], "doc_id long, n_tokens long"
    )
    L = 32
    out = sequence_pack(docs, seq_len=L, id_col="doc_id").collect()
    n_eff = {i: 7 + (i * 13) % 50 + 1 for i in range(200)}  # +1 EOS
    total = sum(n_eff.values())

    # per-doc: spans cover [0, n_eff) contiguously
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(range(200))
    for doc, rows in by_doc.items():
        rows.sort(key=lambda r: r["doc_off"])
        assert rows[0]["doc_off"] == 0
        pos = 0
        for r in rows:
            assert r["doc_off"] == pos and r["span_len"] >= 1
            pos += r["span_len"]
        assert pos == n_eff[doc]

    # per-sequence: all but the last are exactly full, none overflows
    by_seq = {}
    for r in out:
        by_seq.setdefault(r["seq_id"], 0)
        by_seq[r["seq_id"]] += r["span_len"]
    last = max(by_seq)
    assert set(by_seq) == set(range(last + 1))  # gapless sequence ids
    for k, filled in by_seq.items():
        assert filled == (L if k < last else total - last * L)

    # within a sequence, spans tile [0, filled) without overlap
    for k in by_seq:
        spans = sorted(
            ((r["seq_off"], r["span_len"]) for r in out if r["seq_id"] == k)
        )
        pos = 0
        for off, ln in spans:
            assert off == pos
            pos += ln


def test_sequence_pack_empty_and_single(spark):
    from endtoend_etl_openmeteo_spark.operators.layout import sequence_pack

    empty = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert sequence_pack(empty, seq_len=16).count() == 0
    one = spark.createDataFrame([(5, 100)], "doc_id long, n_tokens long")
    rows = sequence_pack(one, seq_len=16).collect()
    # 101 effective tokens -> 7 sequences: 6 full + 5-token tail
    assert len(rows) == 7
    assert sum(r["span_len"] for r in rows) == 101


def test_salted_aggregate_pair_form_composes_avg(spark):
    """The (col, fn) pair form lets ONE column carry several aggregates —
    the avg composition sum(v)/count(v); counting a different column
    diverges under NULLs (count skips nothing, sum skips NULLs)."""
    rows = [(1, float(i)) for i in range(100)] + [(1, None)] * 7 + [(2, 5.0)]
    df = spark.createDataFrame(rows, "k long, v double")
    got = {
        r.k: (r.sum_v, r.count_v)
        for r in salted_aggregate(
            df, ["k"], [("v", "sum"), ("v", "count")], 4, "v"
        ).collect()
    }
    want = {
        r.k: (r.s, r.c)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("v").alias("c"))
        .collect()
    }
    assert got == want
    # avg via the composition equals the plain avg despite the NULLs
    assert got[1][0] / got[1][1] == sum(range(100)) / 100


def test_zorder_layout_scales_wide_domains(spark, tmp_path):
    """Raw values above 2^bits previously interleaved only their low bits
    (65537 z-sorted as 1) and silently scattered the layout; min-max
    scaling keeps per-file stats tight on wide domains."""
    from endtoend_etl_openmeteo_spark.operators.layout import zorder_layout

    n = 4096
    df = spark.range(n).selectExpr(
        "id * 100000 AS x", f"({n} - 1 - id) * 100000 AS y"
    )
    out = str(tmp_path / "z")
    zorder_layout(df, ["x", "y"], 8).write.parquet(out)
    import pyarrow.parquet as pq
    from pathlib import Path

    spans_x, spans_y = [], []
    for f in Path(out).glob("*.parquet"):
        md = pq.ParquetFile(str(f)).metadata
        los_x, his_x, los_y, his_y = [], [], [], []
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                st = col.statistics
                if col.path_in_schema == "x":
                    los_x.append(st.min); his_x.append(st.max)
                elif col.path_in_schema == "y":
                    los_y.append(st.min); his_y.append(st.max)
        if los_x:
            spans_x.append((max(his_x) - min(los_x)))
            spans_y.append((max(his_y) - min(los_y)))
    domain = (n - 1) * 100000
    # every file's span on BOTH dimensions is a fraction of the domain —
    # with the low-bits wrap each file spanned essentially all of it
    assert spans_x and all(s <= domain / 2 for s in spans_x)
    assert all(s <= domain / 2 for s in spans_y)
    # non-numeric sort columns are rejected, not silently NULL-keyed
    sdf = spark.createDataFrame([("a", 1)], "s string, i long")
    with pytest.raises(ValueError, match="numeric"):
        zorder_layout(sdf, ["s", "i"], 2)


def test_leakproof_split_true_prefixes_and_validation(spark):
    """Multi-character val prefixes route 16^-len of groups to val (a
    1-char substring comparison silently matched nothing), and non-hex
    prefixes raise instead of sending 100% of docs to train."""
    from endtoend_etl_openmeteo_spark.operators.curate import leakproof_split

    docs = spark.range(500).selectExpr("id AS doc_id")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = leakproof_split(docs, pairs, val_hex_prefixes=("0a", "0b"))
    frac = out.filter("split = 'val'").count() / 500
    assert 0 < frac < 0.05  # ~2/256, and crucially NOT zero
    with pytest.raises(ValueError, match="hex"):
        leakproof_split(docs, pairs, val_hex_prefixes=("xyz",))
    with pytest.raises(ValueError, match="hex"):
        leakproof_split(docs, pairs, val_hex_prefixes=())
