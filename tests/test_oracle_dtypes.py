"""Dtype-parity gate: for every registered oracle query, the pandas
dtype KIND of each result column must agree between the Spark result
(``toPandas()``) and the DuckDB oracle (``.df()``) at sf0.001.

This is the driver's actual comparison domain — its value hash runs
over pandas frames — so a DuckDB HUGEINT (``sum(<int>)`` uncast ->
float64) or an out-of-pandas-range timestamp fails HERE, not at the
round gate.  Round 3 lost 4 driver rows to exactly this class while
the value-level harness stayed green.

Kinds, not exact dtypes: DuckDB yields datetime64[us], Spark
datetime64[ns] — same kind 'M', equal after normalization.  Object
columns are compared by the type of their first non-null value.
"""

from __future__ import annotations

import datetime
import decimal

import numpy as np
import pandas as pd
import pytest

from end_to_end_etl_pipeline_spark.queries.catalog import REGISTRY
from tests.oracle import run_oracle

ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)

# every oracle query runs by default (as in tests/test_oracle_parity.py),
# so a window rotation moves no dtype row out of the default run


def _col_kind(series: pd.Series) -> str:
    k = series.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    if k == "O":
        nn = series.dropna()
        if nn.empty:
            return "empty-object"
        v = nn.iloc[0]
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, (int, np.integer)):
            return "int"
        if isinstance(v, (float, np.floating)):
            return "float"
        if isinstance(v, decimal.Decimal):
            return "decimal"
        # date == midnight datetime to the driver (DuckDB .df() has
        # no date dtype; r01-r03 green rows pair DATE vs date_trunc).
        if isinstance(v, (datetime.datetime, datetime.date)):
            return "datetime"
        if isinstance(v, (list, tuple, np.ndarray)):
            return "array"
        if isinstance(v, bytes):
            return "bytes"
        return "str"
    return k


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_pandas_dtypes_match(spark, sf_smoke_dir, name):
    q = REGISTRY[name]
    s_df = q.spark(spark, sf_smoke_dir).toPandas()
    o_df = run_oracle(q.oracle, sf_smoke_dir)
    assert sorted(s_df.columns) == sorted(o_df.columns), (
        f"{name}: columns differ"
    )
    mismatches = []
    for c in sorted(s_df.columns):
        sk, ok = _col_kind(s_df[c]), _col_kind(o_df[c])
        # A column that is entirely NULL on one side at sf0.001 can't
        # reveal its kind; skip rather than false-alarm.
        if "empty-object" in (sk, ok):
            continue
        # int-vs-float from nullability: if either side holds nulls in
        # a numeric column, pandas may widen int->float on BOTH engines
        # in the driver too (NaN) — only flag when the widening is
        # one-sided with no nulls to explain it.
        if {sk, ok} == {"int", "float"}:
            s_has_null = bool(s_df[c].isna().any())
            o_has_null = bool(o_df[c].isna().any())
            if s_has_null or o_has_null:
                continue
        if sk != ok:
            mismatches.append(f"{c}: spark={sk} oracle={ok}")
    assert not mismatches, f"{name} dtype-kind mismatch: " + "; ".join(mismatches)
