"""Salting utilities are algebraically exact: salted forms must equal their
unsalted equivalents on skewed data (one hot key dominating)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from binance_data_framework_spark.operators.skew import salted_join, salted_topk


def _skewed(spark):
    # 900 rows of the hot key, 100 spread over 20 cold keys
    rows = [("hot", i, float(i % 37)) for i in range(900)] + [
        (f"cold{i % 20}", 1000 + i, float(i)) for i in range(100)
    ]
    return spark.createDataFrame(rows, "k string, id long, v double")


@pytest.mark.slow
def test_salted_join_matches_plain_inner(spark):
    left = _skewed(spark)
    right = spark.createDataFrame(
        [("hot", 1.5), ("cold3", 2.0), ("cold7", 3.0)], "k string, w double"
    )
    plain = left.join(right, on="k").select("k", "id", "v", "w")
    salted = salted_join(left, right, on="k", n_salts=8).select("k", "id", "v", "w")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_outer(spark):
    left = _skewed(spark)
    right = spark.createDataFrame([("cold3", 2.0)], "k string, w double")
    plain = left.join(right, on="k", how="left").select("k", "id", "w")
    salted = salted_join(left, right, on="k", n_salts=4, how="left").select(
        "k", "id", "w"
    )
    assert sorted(
        map(tuple, plain.fillna({"w": -1}).collect())
    ) == sorted(map(tuple, salted.fillna({"w": -1}).collect()))


def test_salted_topk_matches_window_topk(spark):
    df = _skewed(spark)
    w = Window.partitionBy("k").orderBy(F.desc("v"), "id")
    plain = (
        df.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select("k", "id", "v", "rank")
    )
    salted = salted_topk(df, "k", "v", k=5, n_salts=8, tiebreak_cols=["id"]).select(
        "k", "id", "v", "rank"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_rejects_right_and_full(spark):
    """The replicated right side would surface every unmatched right row
    n_salts times under right/full joins — unsupported modes must raise,
    not silently duplicate (code-review r4 finding)."""
    l = spark.createDataFrame([(1, "a")], "k long, v string")
    r = spark.createDataFrame([(1, "b")], "k long, w string")
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(l, r, on="k", how=how)


def test_salted_topk_spreads_exact_duplicate_hot_rows(spark):
    """Salting must distribute IDENTICAL rows of a hot key across salts —
    the motivating case (a boilerplate document duplicated en masse); a
    row-content hash sent every copy to one reducer (code-review r4
    finding). Also covers frames with Map columns, which the content hash
    crashed on (xxhash64 rejects MapType)."""
    rows = [("HOT", 1.0) for _ in range(400)] + [("COLD", 2.0)]
    df = spark.createDataFrame(rows, "k string, score double").withColumn(
        "meta", F.create_map(F.lit("a"), F.lit("b"))
    )
    from binance_data_framework_spark.operators.skew import _salt

    n_distinct = (
        df.where(F.col("k") == "HOT")
        .withColumn("_s", _salt(8))
        .select("_s")
        .distinct()
        .count()
    )
    assert n_distinct > 1  # duplicates spread, not funneled to one salt
    out = salted_topk(df, "k", "score", k=1)
    assert out.where(F.col("k") == "COLD").count() == 1
