"""Public column-function surface: vector math and text/hash functions."""

from __future__ import annotations

from pyspark.sql import functions as F

from mbta_etl_spark.functions import (
    cosine,
    dot,
    md5_32,
    norm,
    norm_pandas_udf,
    token_count_bpe,
)


def _vec_df(spark):
    return spark.createDataFrame(
        [(1, [3.0, 4.0], [4.0, 3.0]), (2, [1.0, 0.0], [0.0, 2.0])],
        ["id", "a", "b"],
    )


def test_dot_norm_cosine(spark):
    r = (
        _vec_df(spark)
        .select(
            "id",
            dot(F.col("a"), F.col("b")).alias("d"),
            norm(F.col("a")).alias("n"),
            cosine(F.col("a"), F.col("b")).alias("c"),
        )
        .collect()
    )
    rows = {x["id"]: x for x in r}
    assert rows[1]["d"] == 24.0 and rows[1]["n"] == 5.0
    assert abs(rows[1]["c"] - 24.0 / 25.0) < 1e-12
    assert rows[2]["d"] == 0.0 and rows[2]["c"] == 0.0


def test_norm_pandas_udf_matches_jvm(spark):
    l2 = norm_pandas_udf()
    r = (
        _vec_df(spark)
        .select(norm(F.col("a")).alias("jvm"), l2(F.col("a")).alias("py"))
        .collect()
    )
    for row in r:
        assert abs(row["jvm"] - row["py"]) < 1e-12


def test_md5_32_range_and_determinism(spark):
    df = spark.createDataFrame([("abc",), ("abc",), ("xyz",)], ["s"])
    vals = [r["h"] for r in df.select(md5_32(F.col("s")).alias("h")).collect()]
    assert vals[0] == vals[1] != vals[2]
    assert all(0 <= v < 1 << 32 for v in vals)


def test_token_count_bpe(spark):
    df = spark.createDataFrame([("Hello, world42 x!",)], ["text"])
    n = df.select(token_count_bpe(F.col("text")).alias("n")).first()["n"]
    # Hello | , | world | 42 | x | !  -> 6 pre-tokens
    assert n == 6
