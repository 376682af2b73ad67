"""Salted aggregation / join equivalence tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_process_for_fraud_transactions_spark.operators.skew import (
    salted_join,
    salted_sum_count,
)


def _skewed(spark):
    # key 1 holds 90% of rows (hot key), keys 2..10 share the rest
    rows = [(1, float(i % 7)) for i in range(900)] + [
        (2 + i % 9, float(i)) for i in range(100)
    ]
    return spark.createDataFrame(rows, "k long, v double")


def test_salted_sum_count_equivalence(spark):
    df = _skewed(spark)
    plain = {
        r.k: (r.s, r.n)
        for r in df.groupBy("k")
        .agg(
            F.sum(F.col("v").cast("decimal(28,6)")).cast("double").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    salted = {
        r.k: (r.sum_v, r.n_rows) for r in salted_sum_count(df, ["k"], "v").collect()
    }
    assert salted == plain


def test_salted_join_equivalence(spark):
    big = _skewed(spark)
    small = spark.createDataFrame(
        [(k, f"name{k}") for k in range(1, 12)], "k long, name string"
    )
    plain = sorted((r.k, r.v, r.name) for r in big.join(small, "k").collect())
    salted = sorted((r.k, r.v, r.name) for r in salted_join(big, small, ["k"]).collect())
    assert salted == plain


def test_salted_join_left_outer(spark):
    big = spark.createDataFrame([(1, 1.0), (99, 2.0)], "k long, v double")
    small = spark.createDataFrame([(1, "one")], "k long, name string")
    out = sorted(
        (r.k, r.name) for r in salted_join(big, small, ["k"], how="left").collect()
    )
    assert out == [(1, "one"), (99, None)]

