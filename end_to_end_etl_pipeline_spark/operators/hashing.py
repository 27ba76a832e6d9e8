"""Null-safe row hashing for change detection (SURVEY.md §2.8 F11-F13).

The reference hashes ``sha2(concat_ws("||", cols…), 256)``
(``medallion/silver/b2s_yfinance.py:103-112``). ``concat_ws`` *skips*
NULLs, so ``("a", NULL)`` and ``(NULL, "a")`` collide and a value
moving between columns is an undetected change (SURVEY.md §2.11-2).
Fix: per-column NULL sentinel via ``coalesce(cast(c as string), '␀')``.

Hashing is a pure projection — no shuffle, fully codegen'd — so it
costs one pass regardless of scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NULL_SENTINEL = "␀"  # ␀ SYMBOL FOR NULL — can't appear in real data
SEPARATOR = "␟"  # ␟ SYMBOL FOR UNIT SEPARATOR


def row_hash_col(cols: Sequence[str]) -> Column:
    """Null-safe, order-sensitive SHA-256 row hash over ``cols``."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(NULL_SENTINEL)) for c in cols
    ]
    return F.sha2(F.concat_ws(SEPARATOR, *parts), 256)


def with_row_hash(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    return df.withColumn("row_hash", row_hash_col(cols))
