"""k-anonymity enforcement over quasi-identifier (QI)
columns — the re-identification-risk half of privacy prep for
training data (the direct-identifier half is
``text_analysis.redact_pii``).  No reference counterpart; part of the
LLM-training-data extension mandated alongside SURVEY.md §2.

A row is k-anonymous iff at least ``k - 1`` OTHER published rows
share its full quasi-identifier tuple (Sweeney 2002).  PII redaction
strips direct identifiers; k-anonymity bounds what an adversary can
do by JOINING the remaining demographic-ish columns against an
external dataset — the attack that famously re-identified "anonymous"
medical records from (zip, birthdate, sex) alone.

``kanonymity_generalize`` implements local-recoding
generalize-then-suppress (the Mondrian family, Sweeney's
suppression fallback): rows are published at the most specific rung
of a generalization ladder whose equivalence class — **measured among
the rows still unpublished at that rung, not the full table** — has
size ≥ k, and rows exhausting the ladder are suppressed.  Measuring
class sizes on the residual is what makes the guarantee real: a
level-1 class of 20 rows where 17 were already published at level 0
leaves only 3 rows actually published at level 1, and naive
full-table counting would publish them as a "class of 20" when their
true anonymity set is 3.

Scale shape: per rung, class sizes come from ONE ``groupBy`` over the
residual (map-side partial agg; result bounded by QI-tuple
cardinality, which is tiny relative to row count — that is what makes
the columns quasi-identifiers) joined back null-safely; the small agg
side normally broadcasts under the session threshold / AQE, so fact
rows avoid shuffling (no forced hint — a mis-chosen near-unique QI
degrades to a correct shuffle join, not an OOM).  The residual shrinks
every rung — the expensive pass is rung 0 over the full table; later
rungs see only the long tail.  No windows, no row-keyed shuffles.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: published value for a QI column masked by generalization/suppression
MASK = "*"


def _reject_reserved(
    cols: Sequence[str], prefixes: Sequence[str], extra: Sequence[str] = ()
) -> None:
    """Fail fast if the input frame already uses this module's
    temp-column namespace — a silent collision would corrupt the
    class-size join (same validation rigor as the ladder-shape
    checks)."""
    bad = [
        c
        for c in cols
        if c in extra or any(c.startswith(p) for p in prefixes)
    ]
    if bad:
        raise ValueError(
            f"input columns {bad} collide with reserved temp names "
            f"(prefixes {list(prefixes)}, {list(extra)})"
        )


def kanonymity_generalize(
    df: DataFrame,
    id_cols: Sequence[str],
    ladder: Sequence[Mapping[str, Column]],
    k: int,
) -> DataFrame:
    """Publish each row at the first ladder rung where its residual
    equivalence class reaches ``k``; suppress rows that exhaust the
    ladder.

    ``ladder`` is ordered most-specific-first; every rung maps the
    SAME output column names to that rung's (progressively coarser)
    QI expressions — a fully generalized column is ``F.lit(MASK)``.
    Returns ``id_cols`` + ``anon_level`` (0-based rung index;
    ``len(ladder)`` = suppressed, all QI columns masked) + the QI
    columns as strings.  NULL QI values form classes of their own
    (null-safe counting), matching SQL window-count semantics.

    Each rung's residual is expressed as a filter over the previous
    rung's join, so the final union re-derives earlier rungs' lineage
    once per branch — negligible for the typical 2-3 rung ladder
    (column-pruned scans), but persist/checkpoint the input between
    rungs if you run a deep ladder over a large table.
    """
    if not ladder:
        raise ValueError("ladder must have at least one rung")
    qi_names = list(ladder[0].keys())
    for i, rung in enumerate(ladder):
        if list(rung.keys()) != qi_names:
            raise ValueError(
                f"ladder rung {i} columns {list(rung.keys())} != {qi_names}"
            )
    _reject_reserved(df.columns, ("__qi_", "__sz_"), extra=("__class_n",))

    remaining = df
    published: list[DataFrame] = []
    for lvl, rung in enumerate(ladder):
        tagged = remaining.select(
            *[F.col(c) for c in remaining.columns],
            *[col.cast("string").alias(f"__qi_{n}") for n, col in rung.items()],
        )
        sizes = (
            tagged.groupBy(*[f"__qi_{n}" for n in qi_names])
            .agg(F.count("*").alias("__class_n"))
        )
        # no forced broadcast: class sizes are QI-cardinality-bounded
        # and normally broadcast under the session threshold / AQE,
        # but a mis-chosen near-unique QI would make a forced hint an
        # executor OOM instead of a (slow, correct) shuffle join
        joined = tagged.join(
            sizes.withColumnsRenamed(
                {f"__qi_{n}": f"__sz_{n}" for n in qi_names}
            ),
            reduce(
                lambda a, b: a & b,
                [
                    F.col(f"__qi_{n}").eqNullSafe(F.col(f"__sz_{n}"))
                    for n in qi_names
                ],
            ),
        )
        published.append(
            joined.filter(F.col("__class_n") >= k).select(
                *id_cols,
                F.lit(lvl).cast("int").alias("anon_level"),
                *[F.col(f"__qi_{n}").alias(n) for n in qi_names],
            )
        )
        remaining = joined.filter(F.col("__class_n") < k).select(df.columns)

    suppressed = remaining.select(
        *id_cols,
        F.lit(len(ladder)).cast("int").alias("anon_level"),
        *[F.lit(MASK).alias(n) for n in qi_names],
    )
    return reduce(DataFrame.unionByName, published + [suppressed])
