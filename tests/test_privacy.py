"""kanonymity_generalize contracts on
hand-computable frames: residual-class counting (the guarantee the
naive full-table count silently breaks), suppression, NULL-QI
null-safe classing, ladder validation, and the published-output
k-guarantee itself.  Engine parity at data scale is gated by the
oracle-matched customer_kanonymity query."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.privacy import (
    MASK,
    kanonymity_generalize,
)


def _ladder():
    return [
        {"city": F.col("city"), "age": F.col("age_band")},
        {"city": F.col("city"), "age": F.lit(MASK)},
    ]


def _rows(spark, rows):
    return spark.createDataFrame(rows, "id bigint, city string, age_band string")


def test_residual_counting_not_full_table(spark):
    # city X: 3 rows in band '30' (publish at rung 0 with k=3),
    # 2 rows in band '40' (escalate). At rung 1 the RESIDUAL city-X
    # class is only those 2 rows — below k — so they suppress, even
    # though the full-table city-X class has 5 rows. A full-table
    # count would publish them with a true anonymity set of 2.
    rows = [
        (1, "X", "30"), (2, "X", "30"), (3, "X", "30"),
        (4, "X", "40"), (5, "X", "40"),
    ]
    out = {
        r["id"]: (r["anon_level"], r["city"], r["age"])
        for r in kanonymity_generalize(
            _rows(spark, rows), ["id"], _ladder(), k=3
        ).collect()
    }
    assert out[1] == (0, "X", "30")
    assert out[2] == (0, "X", "30")
    assert out[3] == (0, "X", "30")
    assert out[4] == (2, MASK, MASK)
    assert out[5] == (2, MASK, MASK)


def test_generalization_rescues_residual_class(spark):
    # city Y: bands 10/20/30 with one row each — every rung-0 class
    # is a singleton, but the three residual rows fuse at rung 1.
    rows = [(1, "Y", "10"), (2, "Y", "20"), (3, "Y", "30")]
    out = kanonymity_generalize(
        _rows(spark, rows), ["id"], _ladder(), k=3
    ).collect()
    assert {(r["anon_level"], r["city"], r["age"]) for r in out} == {
        (1, "Y", MASK)
    }


def test_published_rows_always_k_anonymous(spark):
    # Property: at every level, each published (level, QI-tuple)
    # class holds >= k rows — the actual guarantee.
    rows = [
        (i, city, band)
        for i, (city, band) in enumerate(
            [("A", "1")] * 4 + [("A", "2")] * 2 + [("B", "1")] * 3
            + [("B", "7")] * 1 + [("C", "9")] * 2
        )
    ]
    k = 3
    out = kanonymity_generalize(_rows(spark, rows), ["id"], _ladder(), k=k)
    sizes = (
        out.filter(F.col("anon_level") < 2)
        .groupBy("anon_level", "city", "age")
        .count()
        .collect()
    )
    assert sizes, "nothing published"
    assert all(r["count"] >= k for r in sizes)
    assert out.count() == len(rows)  # every row accounted for


def test_null_qi_forms_its_own_class(spark):
    rows = [(1, None, "10"), (2, None, "10"), (3, "Z", "10")]
    out = {
        r["id"]: r["anon_level"]
        for r in kanonymity_generalize(
            _rows(spark, rows), ["id"], _ladder(), k=2
        ).collect()
    }
    # NULL city pairs with NULL city (null-safe count), Z is alone
    # at rung 0 AND rung 1 -> suppressed.
    assert out[1] == 0 and out[2] == 0
    assert out[3] == 2


def test_ladder_validation():
    with pytest.raises(ValueError, match="at least one rung"):
        kanonymity_generalize(None, ["id"], [], k=2)
    bad = [{"a": F.lit("x")}, {"b": F.lit("y")}]
    with pytest.raises(ValueError, match="columns"):
        kanonymity_generalize(None, ["id"], bad, k=2)


def test_reserved_temp_name_collision_rejected(spark):
    """Input columns in the operator's temp namespace (__qi_*/__sz_*/
    __class_n) must fail fast, not silently corrupt the class-size
    join."""
    df = _rows(spark, [(1, "X", "30")]).withColumn("__class_n", F.lit(1))
    with pytest.raises(ValueError, match="reserved"):
        kanonymity_generalize(df, ["id"], _ladder(), k=2)
    df2 = _rows(spark, [(1, "X", "30")]).withColumn("__qi_city", F.lit("x"))
    with pytest.raises(ValueError, match="reserved"):
        kanonymity_generalize(df2, ["id"], _ladder(), k=2)
