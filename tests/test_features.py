"""target_encode_oof contract: out-of-fold exclusion, prior
fallback, smoothing arithmetic, and the float-target refusal — on
hand-computable frames (the oracle-gated priority_target_encoding
query proves engine parity at data scale)."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.features import target_encode_oof


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "cat string, k bigint, y decimal(10,2)"
    )


def test_oof_exclusion_and_smoothing(spark):
    # cat 'a': fold0 rows y=10,20; fold1 rows y=40.  global:
    # fold0 also has cat 'b' y=100.
    rows = [
        ("a", 0, Decimal("10.00")),
        ("a", 2, Decimal("20.00")),   # k%2=0
        ("a", 1, Decimal("40.00")),
        ("b", 4, Decimal("100.00")),
    ]
    out = {
        (r["cat"], r["fold"]): (r["te"], r["n_oof"])
        for r in target_encode_oof(
            _df(spark, rows), "cat", "y", F.col("k") % 2
        ).collect()
    }
    # cat a fold0: excl stats from fold1 only: sum=40, n=1;
    # prior_excl = fold1 global mean = 40/1 = 40
    # te = (40 + 20*40)/(1+20) = 40 (smoothing m = 20)
    assert out[("a", 0)] == (40.0, 1)
    # cat a fold1: excl sum=30, n=2; prior_excl = (10+20+100)/3
    prior = (10 + 20 + 100) / 3
    te = round((30 + 20 * prior) / (2 + 20), 6)
    assert out[("a", 1)] == (te, 2)
    # cat b seen ONLY in fold0: n_excl=0 -> fallback to prior_excl
    # (fold1 global mean = 40)
    assert out[("b", 0)] == (40.0, 0)


def test_double_target_refused(spark):
    df = spark.createDataFrame(
        [("a", 0, 1.0)], "cat string, k bigint, y double"
    )
    with pytest.raises(ValueError, match="partition-order"):
        target_encode_oof(df, "cat", "y", F.col("k") % 2)
