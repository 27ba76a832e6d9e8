"""Driver-coordinated EXACT percentiles without the single-reducer wall.

Spark's built-in ``percentile()`` is a TypedImperativeAggregate: every
partition builds an OpenHashMap of boxed ``Double -> count`` on the
generic (non-codegen) update path, and the final merge inserts every
distinct value into ONE task's map, then sorts it. On a mostly-unique
column that serializes the whole column through a single reducer —
measured 1.9 s for 600k lineitem prices at sf0.1 (r12 profile), and at
100 TB the merge task simply cannot hold the map.

``exact_percentiles`` computes the SAME interpolated percentiles
(bit-identical — see the parity note below) with the classic
approximate-pre-selection algorithm, THREE distributed jobs total for
any number of percentiles:

1. ``approx_percentile`` brackets around every target rank (rank error
   <= n/accuracy) plus the non-null count — one mergeable-sketch pass,
   no value map.
2. The exact rank below each bracket start — one conditional-count
   pass.
3. The per-value counts inside the UNION of brackets — one
   rank-bounded groupBy (~5·n/accuracy rows per percentile), collected
   bounded to the driver.

The driver walks each bracket's slice of that histogram to the exact
floor/ceil rank values and interpolates with EXACTLY the expression
Spark's ``Percentile.getPercentile`` uses::

    pos = p * (n - 1)
    (higher - pos) * lowerValue + (pos - lower) * higherValue

(same IEEE doubles, same operation order — equality with the built-in
is pinned by ``tests/test_percentiles.py`` on real tables and
duplicate-heavy fuzz frames).

Small inputs (n < accuracy, where the bracket's rank margin thins
out) and any bracket-resolution miss fall back to the built-in
aggregate, which is exact by definition and cheap at the sizes that
get there — so the result is exact by construction in every path.

Accuracy scales with the observed n (r13, VERDICT r12 #2): the union
bracket holds ≈4·n/accuracy rows per percentile, so a FIXED accuracy
re-imports the single-reducer wall around n ≈ 10¹⁰ — the cap trips
and the code falls back to exactly the built-in merge the operator
exists to remove. After the first pass reports n, the sketch re-runs
once at ``accuracy' = max(accuracy, ceil(4·n·|ps| / (cap/2)))``
whenever the requested accuracy would overfill half the collect cap
— one extra mergeable-sketch pass, and the bounded-histogram path
survives arbitrarily large inputs (the cap stays as the safety net
for pathological duplicate layouts). Pinned by
``tests/test_percentiles.py::test_accuracy_rescale_survives_tiny_cap``.

Determinism precondition: ``df`` is evaluated by THREE independent
Spark jobs (count+sketch, rank counts, bracket histogram) plus the
caller's own later scan — the input must be deterministic across
re-executions (plain table scans are; a ``sample()``/``rand()``
-derived frame is NOT). The rank-count pass re-checks the non-null
count and falls back to the built-in single-job aggregate on a
mismatch. That tripwire is best-effort: the histogram pass re-runs
``df`` unchecked, so a non-deterministic input whose non-null counts
happen to agree across the first two evaluations can still mix
statistics from different evaluations and return a wrong value.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: total distinct-value collect cap across all brackets
_COLLECT_CAP = 500_000


def _builtin(df: DataFrame, col: str, ps: list[float]) -> list[float | None]:
    arr = ",".join(repr(p) + "D" for p in ps)
    row = df.agg(F.expr(f"percentile({col}, array({arr}))").alias("p")).first()
    return list(row["p"]) if row["p"] is not None else [None] * len(ps)


def exact_percentiles(
    df: DataFrame,
    col: str,
    ps: list[float],
) -> list[float | None]:
    """Exact interpolated percentiles of ``df[col]`` (Spark
    ``percentile()`` semantics, nulls ignored), returned as driver
    floats — intended to be re-injected as literals, which also
    removes the bounds broadcast-join the aggregate form needed."""
    ps = list(ps)
    accuracy = 100_000

    def _sketch(acc: int):
        # bracket half-width in quantile space: the sketch's own rank
        # error is <= n/acc, so p±(2/acc) clears it by a full error
        # margin whenever n >= 2·acc (below that the built-in merge
        # is cheap anyway)
        eps = 2.0 / acc
        bounds: list[float] = []
        for p in ps:
            bounds += [max(0.0, p - eps), min(1.0, p + eps)]
        arr = ",".join(repr(b) + "D" for b in bounds)
        return df.agg(
            F.count(F.col(col)).alias("n"),
            F.expr(f"approx_percentile({col}, array({arr}), {acc})").alias("b"),
        ).first()

    first = _sketch(accuracy)
    n = first["n"]
    if n == 0:
        return [None] * len(ps)
    if n < accuracy or first["b"] is None:
        # below ~accuracy rows the bracket's rank margin (n/accuracy)
        # thins to <1 rank and the built-in merge is cheap anyway
        return _builtin(df, col, ps)
    # scale the sketch with the observed n (module docstring): keep
    # the union-bracket histogram's worst case — ≈4·n/accuracy rows
    # per percentile — inside half the collect cap, so the bounded
    # path never silently degrades to the built-in merge at scale.
    # One extra sketch pass, only when the fixed accuracy is too
    # coarse for this n (never on small inputs).
    needed = math.ceil(4 * n * len(ps) / max(1, _COLLECT_CAP // 2))
    if needed > accuracy:
        accuracy = needed
        first = _sketch(accuracy)
        n = first["n"]
        if n == 0:
            return [None] * len(ps)
        if n < accuracy or first["b"] is None:
            return _builtin(df, col, ps)
    br = first["b"]

    targets = []  # (i, pos, lower, higher, lo_v, hi_v)
    for i, p in enumerate(ps):
        pos = p * (n - 1)
        targets.append(
            (i, pos, math.floor(pos), math.ceil(pos), br[2 * i], br[2 * i + 1])
        )

    # one pass: exact rank below each bracket start. The non-null
    # count rides along as the best-effort determinism tripwire
    # (module docstring): if this evaluation of df disagrees with the
    # sketch pass's n, the input is non-deterministic across jobs and
    # the bracket arithmetic is meaningless — degrade to the built-in
    # single-job aggregate. The histogram pass below is not checked.
    counts = df.agg(
        F.count(F.col(col)).alias("__n2"),
        *[
            F.sum(F.when(F.col(col) < lo_v, 1).otherwise(0)).alias(f"c{i}")
            for i, _pos, _lo, _hi, lo_v, _hi_v in targets
        ],
    ).first()
    if counts["__n2"] != n:
        return _builtin(df, col, ps)
    # one pass: distinct-value counts inside the UNION of brackets
    in_any = None
    for _i, _pos, _lo, _hi, lo_v, hi_v in targets:
        cond = (F.col(col) >= lo_v) & (F.col(col) <= hi_v)
        in_any = cond if in_any is None else (in_any | cond)
    hist = (
        df.filter(in_any)
        .groupBy(col)
        .count()
        .orderBy(col)
        .limit(_COLLECT_CAP + 1)
        .collect()
    )
    if len(hist) > _COLLECT_CAP:
        return _builtin(df, col, ps)

    out: list[float | None] = [None] * len(ps)
    for i, pos, lower, higher, lo_v, hi_v in targets:
        c = counts[f"c{i}"] or 0
        if c > lower:
            return _builtin(df, col, ps)
        v_lo = v_hi = None
        r = c
        for h in hist:
            v = h[col]
            if v < lo_v or v > hi_v:
                continue  # a different percentile's bracket slice
            top = r + h["count"] - 1
            if r <= lower <= top:
                v_lo = v
            if r <= higher <= top:
                v_hi = v
            r += h["count"]
        if v_lo is None or v_hi is None:
            # bracket missed (sketch error landed inside the
            # interpolation pair) — exact by the built-in instead
            return _builtin(df, col, ps)
        if lower == higher:
            out[i] = v_lo
        else:
            # EXACTLY Spark Percentile.getPercentile's expression
            out[i] = (higher - pos) * v_lo + (pos - lower) * v_hi
    return out
