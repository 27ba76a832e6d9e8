"""Z-order (Morton) multi-dimensional clustering — the real
interleaved-bit version of the reference's ``OPTIMIZE ... ZORDER BY``
(K8, ``medallion/gold/s2g.py:98-101,151-154``), run by
``ManifestCatalog.optimize_zorder``. A linear sort only approximates
it.

Why interleave: a linear sort on (x, y) gives min/max data skipping
on x but leaves y scattered across every file. Mapping each row to
the Morton code of its quantized coordinates and range-splitting on
that code gives every dimension locality — a narrow predicate on ANY
of the clustered columns overlaps only a fraction of the files, which
is exactly what Delta/Databricks ZORDER buys and what drives
manifest/parquet stats pruning at 100 TB.

Scale shape: one tiny min/max aggregate (model parameters collected
to the driver, same pattern as PQ codebooks), then a single per-row
projection computes the key — no shuffle beyond the rewrite's own
range partitioning, no UDF, all whole-stage-codegen arithmetic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: quantization bits per clustered column
BITS = 8


def zorder_key(df: DataFrame, cols: Sequence[str]) -> Column:
    """Morton key over min-max-quantized columns as a LongType
    expression: each column scales to ``[0, 2^BITS)`` and bit ``i`` of
    column ``c`` lands at position ``i * ncols + c`` of the key.
    Quantization bounds come from one driver-collected aggregate
    (constant fold into the plan, like a broadcast scalar);
    ``BITS * len(cols)`` must stay under 63.
    """
    bits = BITS
    if bits * len(cols) > 62:
        raise ValueError(f"zorder key overflows long: {bits} bits x {len(cols)} cols")
    row = df.agg(
        *[F.min(c).alias(f"__mn_{c}") for c in cols],
        *[F.max(c).alias(f"__mx_{c}") for c in cols],
    ).first()
    if row is None or any(row[f"__mn_{c}"] is None for c in cols):
        raise ValueError(
            f"zorder_key: no non-null values to cluster on {list(cols)} "
            "(empty table or all-NULL column)"
        )
    levels = 1 << bits
    quantized: list[Column] = []
    for c in cols:
        mn = float(row[f"__mn_{c}"])
        mx = float(row[f"__mx_{c}"])
        span = (mx - mn) or 1.0
        q = F.floor(
            (F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * levels
        ).cast("long")
        quantized.append(F.greatest(F.lit(0), F.least(F.lit(levels - 1), q)))
    z = F.lit(0).cast("long")
    n = len(cols)
    for i in range(bits):
        for ci, q in enumerate(quantized):
            z = z + F.shiftleft(F.shiftright(q, i).bitwiseAND(F.lit(1)), i * n + ci)
    return z
