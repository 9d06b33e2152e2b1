"""Physical-layout tests: bucketed join with NO exchange on the bucketed
key, salted aggregation correctness, z-order file spans."""

from __future__ import annotations

import io
import contextlib

from pyspark.sql import functions as F

from mbta_etl_spark.sources.layout import salted_count, write_bucketed


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_no_exchange(spark, tmp_path):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    write_bucketed(orders, "orders_b", "o_custkey", 8, sort_col="o_custkey")
    write_bucketed(
        customer.withColumnRenamed("c_custkey", "o_custkey"),
        "customer_b",
        "o_custkey",
        8,
    )
    ob = spark.table("orders_b")
    cb = spark.table("customer_b")
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.join(cb, "o_custkey")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        # and the result matches the plain join
        plain = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        )
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_salted_count_matches_plain(spark):
    from mbta_etl_spark.sources.tables import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    plain = {
        r["event_type"]: r["cnt"]
        for r in events.groupBy(F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    salted = {
        r["key"]: r["cnt"]
        for r in salted_count(events, F.col("event_type"), 8, "key").collect()
    }
    assert salted == plain


def test_zorder_beats_linear_sort_on_second_dimension(spark):
    """The point of z-order: under a partkey-ONLY sort each file tile
    spans ~the full suppkey range, so a suppkey predicate can skip
    NOTHING; the Morton interleave shrinks the per-file span of BOTH
    dimensions below full range. The graded metric is the worst
    dimension's mean span (the fraction of files a single-column
    predicate on the layout's weakest column must open) — a single-key
    sort is always ~1.0 there, z-order stays well below."""
    from pyspark.sql import Window, functions as F

    from mbta_etl_spark.plans.registry import (
        ZORDER_FILES,
        src04_zorder_layout,
    )
    from mbta_etl_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    zrows = src04_zorder_layout(spark, sf).collect()
    assert len(zrows) == ZORDER_FILES
    sizes = [r["n_rows"] for r in zrows]
    assert max(sizes) - min(sizes) <= 1  # NTILE balance
    z_worst = max(
        sum(r["span_pk_frac"] for r in zrows) / len(zrows),
        sum(r["span_sk_frac"] for r in zrows) / len(zrows),
    )

    # linear layout: same tiling, ordered by partkey alone
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    mx = li.agg(
        F.max("l_partkey").alias("mp"), F.max("l_suppkey").alias("ms")
    ).collect()[0]
    w = Window.orderBy("l_partkey", "l_orderkey", "l_linenumber")
    lin = (
        li.withColumn("file_id", F.ntile(ZORDER_FILES).over(w))
        .groupBy("file_id")
        .agg(
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
            F.min("l_suppkey").alias("min_sk"),
            F.max("l_suppkey").alias("max_sk"),
        )
        .collect()
    )
    lin_worst = max(
        sum((r["max_pk"] - r["min_pk"]) / mx["mp"] for r in lin) / len(lin),
        sum((r["max_sk"] - r["min_sk"]) / mx["ms"] for r in lin) / len(lin),
    )
    # the single-key sort's weakest dimension spans ~everything; z-order
    # must at least halve it
    assert lin_worst > 0.9, lin_worst
    assert z_worst < 0.5 * lin_worst, (z_worst, lin_worst)
