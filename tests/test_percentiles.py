"""Bit-equality pin for operators/percentiles.exact_percentiles vs the
built-in percentile() aggregate — the r12 replacement of the
single-reducer exact-percentile wall (see the module docstring).

Any divergence here means the driver-side interpolation no longer
replays Spark's Percentile.getPercentile double math and every adopter
(winsorized_price_stats) silently drifts off its oracle — fail loudly.
"""

import random

import pytest
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.percentiles import (
    exact_percentiles,
)
from end_to_end_etl_pipeline_spark.queries.catalog import load


def _builtin(df, col, ps):
    arr = ",".join(repr(p) + "D" for p in ps)
    return list(
        df.agg(F.expr(f"percentile({col}, array({arr}))")).first()[0]
    )


def test_matches_builtin_on_real_tables(spark):
    for sfd in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        li = load(spark, sfd, "lineitem").select("l_extendedprice")
        ps = [0.05, 0.5, 0.95]
        mine = exact_percentiles(li, "l_extendedprice", ps)
        ref = _builtin(li, "l_extendedprice", ps)
        assert mine == ref, (sfd, mine, ref)


@pytest.mark.full_suite  # fuzz/sweep tier (r13, VERDICT r12 #1)
def test_matches_builtin_fuzz(spark):
    """Tiny frames, duplicate-heavy frames, single rows — every shape
    that can force the bracket out of range must land in the built-in
    fallback and still return the exact value."""
    random.seed(7)
    for _ in range(8):
        nrows = random.choice([1, 2, 3, 10, 101, 1000])
        dup = random.choice([1, 1, 5, 50])
        data = [
            (float(random.randint(0, max(1, nrows // dup))) / 4.0,)
            for _ in range(nrows)
        ]
        df = spark.createDataFrame(data, "v double")
        ps = [0.05, 0.5, 0.95]
        assert exact_percentiles(df, "v", ps) == _builtin(df, "v", ps), (
            nrows,
            dup,
        )


def test_null_handling(spark):
    df = spark.createDataFrame(
        [(None,), (1.0,), (2.0,), (None,), (3.0,)], "v double"
    )
    assert exact_percentiles(df, "v", [0.5]) == _builtin(df, "v", [0.5])
    empty = spark.createDataFrame([(None,)], "v double")
    assert exact_percentiles(empty, "v", [0.5]) == [None]


def test_accuracy_rescale_survives_tiny_cap(spark, monkeypatch):
    """r13 (VERDICT r12 #2): with a FIXED accuracy the union-bracket
    histogram holds ≈4·n/accuracy rows per percentile, so a large-n /
    coarse-accuracy combination used to trip _COLLECT_CAP and fall
    back to exactly the single-reducer built-in merge the operator
    exists to remove. The rescale pass must keep the bounded path
    alive: shrink the cap so the requested accuracy would overfill
    it, and assert (a) the result is still bit-identical to the
    built-in, and (b) the built-in fallback was NOT taken."""
    import end_to_end_etl_pipeline_spark.operators.percentiles as P

    df = spark.range(0, 800_000).select(F.col("id").cast("double").alias("v"))
    ps = [0.25, 0.75]
    ref = _builtin(df, "v", ps)

    # accuracy=100000 on n=800k all-distinct: each bracket spans
    # ~32-48 ranks (= distinct values), ×2 percentiles ≈ 64-96
    # histogram rows — fine against the real 500k cap, but overfills a
    # 64-row cap, forcing the rescale branch (acc' = ceil(4·n·2/32) =
    # 200000, shrinking each bracket to ≤24 rows; 48 total ≤ 64).
    monkeypatch.setattr(P, "_COLLECT_CAP", 64)
    calls = []
    orig = P._builtin

    def spying_builtin(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(P, "_builtin", spying_builtin)
    got = P.exact_percentiles(df, "v", ps)
    assert got == ref, (got, ref)
    assert not calls, (
        "rescale must keep the bounded-histogram path alive — the "
        "built-in fallback fired despite the accuracy rescale"
    )


def test_nondeterministic_input_degrades_to_builtin(spark):
    """ADVICE r12: a non-deterministic input (rand()-derived filter)
    yields inconsistent n across the operator's independent jobs; the
    counts-pass tripwire must route it to the built-in single-job
    aggregate instead of mixing statistics. The built-in answer over
    a non-deterministic frame is whatever that one evaluation says —
    we only assert the call returns plausible values without raising
    and that a DETERMINISTIC frame still never trips the check."""
    det = spark.range(0, 250_000).select(
        (F.col("id") % 1000).cast("double").alias("v")
    )
    ps = [0.5]
    assert exact_percentiles(det, "v", ps) == _builtin(
        det, "v", ps
    )
    nondet = spark.range(0, 300_000).filter(F.rand(seed=None) < 0.8).select(
        F.col("id").cast("double").alias("v")
    )
    out = exact_percentiles(nondet, "v", ps)
    assert len(out) == 1 and out[0] is not None


def test_winsorized_price_stats_still_oracle_green(spark):
    """The adopter query must keep its DuckDB parity after the swap."""
    from end_to_end_etl_pipeline_spark.queries.catalog import REGISTRY
    from tests.oracle import compare

    q = REGISTRY["winsorized_price_stats"]
    probs = compare(
        q.spark(spark, "/root/testdata/sf0.01"), q.oracle,
        "/root/testdata/sf0.01",
    )
    assert not probs, probs
