"""Salted aggregation/join equivalence and the SQL frontend."""

from __future__ import annotations

from pyspark.sql import functions as F

from flytemosaic_spark.operators.skew import salted_agg, salted_join
from flytemosaic_spark.sql import sql


def test_salted_agg_equals_plain_agg(spark):
    # one pathologically hot key + a uniform tail
    df = spark.range(100_000).select(
        F.when(F.col("id") < 90_000, F.lit("HOT")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 97).cast("string"))
        ).alias("k"),
        (F.col("id") % 1000).alias("value"),
    )
    want = {
        (r.k): (r.n, r.tot, r.mx)
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tot"), F.max("value").alias("mx"))
        .collect()
    }
    got = {
        (r.k): (r.n, r.tot, r.mx)
        for r in salted_agg(
            df,
            ["k"],
            {
                "n": (F.count("*"), F.sum("n")),
                "tot": (F.sum("value"), F.sum("tot")),
                "mx": (F.max("value"), F.max("mx")),
            },
        ).collect()
    }
    assert got == want


def test_salted_join_equals_plain_join(spark):
    big = spark.range(50_000).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("v")
    )
    small = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("w")
    )
    want = big.join(small, ["k"]).agg(
        F.count("*").alias("n"), F.sum(F.col("v") + F.col("w")).alias("s")
    ).collect()[0]
    got = salted_join(big, small, ["k"]).agg(
        F.count("*").alias("n"), F.sum(F.col("v") + F.col("w")).alias("s")
    ).collect()[0]
    assert (got.n, got.s) == (want.n, want.s)


def test_sql_frontend(spark, sf_dir):
    df = sql(
        spark,
        sf_dir,
        "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1",
    )
    rows = df.collect()
    assert len(rows) == 5 and all(r.n > 0 for r in rows)
