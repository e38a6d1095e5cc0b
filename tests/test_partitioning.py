"""Tests for skew salting and the key-skew profile."""

from __future__ import annotations

from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.operators.partitioning import (
    salted_count,
)


def test_salted_count_matches_plain_count(spark):
    df = spark.range(0, 10_000).select(
        (F.col("id") % 3).alias("k")  # 3 hot keys
    )
    got = {r["k"]: r["n"] for r in salted_count(df, ["k"]).collect()}
    want = {r["k"]: r["n"] for r in
            df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_key_skew_profile_ranks_and_shares(spark):
    from kamu_engine_datafusion_spark.operators.partitioning import (
        key_skew_profile,
    )

    rows = [("hot",)] * 70 + [("warm",)] * 20 + [("c1",), ("c2",), ("c3",)] + [
        ("c4",),
    ] * 7
    df = spark.createDataFrame(rows, "k string")
    out = key_skew_profile(df, ["k"], top_n=3).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert out[0]["key"] == "hot" and out[0]["n"] == 70
    assert abs(out[0]["share"] - 0.70) < 1e-12  # share of ALL rows (100)
    assert out[1]["key"] == "warm" and out[2]["key"] == "c4"


def test_key_skew_profile_releases_previous_cache(spark):
    from kamu_engine_datafusion_spark.operators.partitioning import (
        SKEW_LEDGER,
        key_skew_profile,
    )

    df = spark.createDataFrame([("a",), ("b",)], "k string")
    key_skew_profile(df, ["k"]).collect()
    assert len(SKEW_LEDGER) == 1
    key_skew_profile(df, ["k"]).collect()
    assert len(SKEW_LEDGER) == 1  # previous one released, not accumulated
    SKEW_LEDGER.release()
    assert not SKEW_LEDGER
