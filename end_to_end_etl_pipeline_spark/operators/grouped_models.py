"""Per-group model fitting via Arrow grouped-map (``applyInPandas``)
— the §2.10 escape hatch for group-local logic that genuinely needs a
Python library (scipy/sklearn fits, statsmodels seasonal decompose):
each group's rows arrive as ONE pandas frame, the model fits locally,
and only the fitted parameters leave the worker.

Scale shape: one shuffle on the group key; per-group memory is the
group's rows (bound your groups, or pre-aggregate — a group that
doesn't fit an executor doesn't fit this pattern); the output is
parameters-per-group, i.e. tiny. This differs from the engine's other
Pandas surfaces: ``mapInPandas`` (multimodal decode — per-batch, no
grouping), ``applyInPandasWithState`` / ``transformWithStateInPandas``
(streaming, cross-batch state). Everything that CAN be a built-in
aggregate should be (see ``price_quantity_regression``'s ``regr_*``
family); this path is for when it can't — the conformance query
deliberately fits a closed-form OLS so a SQL oracle can replay the
Python path bit-for-bit and prove the plumbing exact.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def grouped_linefit(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group ordinary-least-squares line fit: returns one row per
    group with ``(group_cols..., n, slope, intercept)``.

    Deterministic across engines and runs: sums run over float64 in
    a sorted-by-x order (pandas group input order is not stable
    across shuffles — sorting first makes the accumulation
    reproducible), the slope/intercept come from centered two-pass
    sums (numerically stable at any x magnitude), and results round
    to 6dp before leaving the worker.
    """
    import pandas as pd

    group_cols = list(group_cols)
    out_schema = ", ".join(
        [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in group_cols]
        + ["n bigint", "slope double", "intercept double"]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([x_col, y_col], kind="mergesort")
        x = pdf[x_col].astype("float64").to_numpy()
        y = pdf[y_col].astype("float64").to_numpy()
        n = len(x)
        xb, yb = x.mean(), y.mean()
        sxx = float(((x - xb) * (x - xb)).sum())
        sxy = float(((x - xb) * (y - yb)).sum())
        slope = sxy / sxx if sxx != 0.0 else None
        intercept = yb - slope * xb if slope is not None else None
        row = {c: [pdf[c].iloc[0]] for c in group_cols}
        row["n"] = [n]
        row["slope"] = [round(slope, 6) if slope is not None else None]
        row["intercept"] = [
            round(intercept, 6) if intercept is not None else None
        ]
        return pd.DataFrame(row)

    return (
        df.select(*group_cols, x_col, y_col)
        .groupBy(*group_cols)
        .applyInPandas(fit, schema=out_schema)
    )
