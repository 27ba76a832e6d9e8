"""Mergeable frequency sketches: count-min (heavy-hitter estimation)
— the streaming/distributed counterpart to exact group-by counts
(BASELINE.json north star; reference has no sketches; the HLL
distinct-count family lives in ``queries/core.py`` on Spark's
``hll_sketch_agg``).

A count-min sketch is a depth × width counter grid: each of ``depth``
deterministic hash rows maps a key to one of ``width`` buckets; an
occurrence increments one bucket per row. The estimate for a key is
the MIN of its ``depth`` bucket counts — always ≥ the true count
(collisions only inflate), with error ≤ 2N/width at probability
1-(1/2)^depth.

Why this matters at 100 TB: the sketch is ``depth × width`` integers
REGARDLESS of corpus size or key cardinality, and it merges by
bucket-wise addition — per-partition/per-day sketches roll up without
re-touching data (the same mergeability contract as HLL). The build
is one map-side-partial aggregation; no shuffle grows with the number
of distinct keys.

Determinism: bucket hashing is ``md5(row || ':' || key)`` (first 8
hex chars as an integer, mod width) — no RNG, identical across
engines, so a DuckDB oracle replays the exact grid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: NULL keys hash through this sentinel so they land in a real bucket.
#: Without it, md5(concat(.., NULL)) is NULL -> bucket NULL, the
#: estimate/probe join on bucket never matches, and a NULL key
#: estimates 0 — violating the never-underestimate guarantee.
_NULL_KEY = "\x00__null__"

#: the count-min grid: hash rows × buckets per row
CMS_DEPTH, CMS_WIDTH = 4, 256


def _keystr(key: Column) -> Column:
    return F.coalesce(key.cast("string"), F.lit(_NULL_KEY))


def _bucket(row: Column, key: Column, width: int) -> Column:
    """Deterministic bucket for (hash-row, key): md5-derived 32-bit
    int mod width. JVM-side (md5/conv built-ins), engine-replicable.
    NULL keys are coalesced to a sentinel so they bucket like any
    other key (counted in the build, matchable in the probe)."""
    h = F.md5(F.concat(row.cast("string"), F.lit(":"), _keystr(key)))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % width).cast("int")


def cms_build(df: DataFrame, key_col: str) -> DataFrame:
    """Build the sketch: (row, bucket, cnt), CMS_DEPTH × CMS_WIDTH
    rows max, one count per occurrence.

    One projection (explode over the depth — bounded constant fanout)
    + one aggregation; map-side partials cap the exchange at
    depth × width rows per task no matter how many occurrences or
    distinct keys flow in."""
    rows = df.select(
        F.col(key_col).alias("__key"),
        F.lit(1).cast("long").alias("__w"),
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("row"),
    )
    return (
        rows.withColumn("bucket", _bucket(F.col("row"), F.col("__key"), CMS_WIDTH))
        .groupBy("row", "bucket")
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_estimate(sketch: DataFrame, keys: DataFrame, key_col: str) -> DataFrame:
    """Point-estimate each key in ``keys`` as ``cms_est``: min over the
    key's CMS_DEPTH bucket counts. The sketch side is ≤ depth × width rows —
    broadcast; the probe is a projection + one small-key aggregation.
    A key the sketch never saw estimates 0 (all its buckets may still
    collide upward — CMS never underestimates)."""
    probes = keys.select(
        F.col(key_col),
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("row"),
    ).withColumn("bucket", _bucket(F.col("row"), F.col(key_col), CMS_WIDTH))
    joined = probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est")
    )


def _bloom_pos(h: Column, key: Column, num_bits: int) -> Column:
    """Bit position for (hash-row, key): md5-derived, mod num_bits.
    NULL keys coalesce to the same sentinel as the CMS bucketing so
    an inserted NULL is later found (no false negative on NULL)."""
    hx = F.md5(F.concat(h.cast("string"), F.lit(":"), _keystr(key)))
    return (F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % num_bits).cast(
        "int"
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    num_bits: int = 2048,
    num_hashes: int = 3,
) -> DataFrame:
    """Build a Bloom filter over the key column: (word int, bits
    long) — the bitmap packed 32 bits per word (32, not 64, so the
    shift never touches the sign bit and any engine's signed-integer
    semantics replay it). Merge two filters with bit_or on word.

    Membership sketches are the cheap side of dedup/anti-join at
    100 TB: the filter is num_bits/32 longs REGARDLESS of corpus
    size, builds in one map-side-partial aggregation, and a probe
    needs no shuffle of the probing side at all (the filter
    broadcasts). No false negatives ever; false positives at the
    standard (1-e^(-kn/m))^k rate."""
    rows = df.select(
        F.col(key_col).alias("__key"),
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("__h"),
    ).withColumn("__pos", _bloom_pos(F.col("__h"), F.col("__key"), num_bits))
    return (
        rows.select(
            (F.col("__pos") / 32).cast("int").alias("word"),
            # F.shiftleft takes only literal shift amounts; the SQL
            # form accepts a column
            F.expr("shiftleft(CAST(1 AS BIGINT), __pos % 32)").alias("__bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("__bit").alias("bits"))
    )


def bloom_probe(
    bloom: DataFrame,
    df: DataFrame,
    key_col: str,
    num_bits: int,
    num_hashes: int,
    out_col: str = "might_contain",
) -> DataFrame:
    """Return one row per DISTINCT key in ``df``: (``key_col``,
    ``out_col``) where ``out_col`` (boolean) is True iff every one of
    the key's ``num_hashes`` bits is set (probe with the
    ``num_bits``/``num_hashes`` the filter was built with) — i.e. the key MIGHT be in
    the built set (false positives possible, false negatives never).

    Note this is a per-key verdict table, NOT a pass-through column
    append: other columns of ``df`` are dropped and duplicate keys
    collapse. To annotate the original frame, join the result back on
    ``key_col`` (the verdict table is small per distinct key — usually
    broadcastable). The filter side broadcasts; the probe is a
    projection + one key-local aggregation — the big probing side is
    never shuffled on a join key, which is the point of pre-filtering
    an anti-join."""
    probes = df.select(
        F.col(key_col),
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("__h"),
    ).withColumn("__pos", _bloom_pos(F.col("__h"), F.col(key_col), num_bits))
    probes = probes.withColumn("word", (F.col("__pos") / 32).cast("int"))
    joined = probes.join(F.broadcast(bloom), "word", "left")
    hit = (
        F.expr(
            "shiftright(coalesce(bits, CAST(0 AS BIGINT)), __pos % 32)"
        )
        % 2
        == 1
    )
    return joined.groupBy(key_col).agg(F.bool_and(hit).alias(out_col))
