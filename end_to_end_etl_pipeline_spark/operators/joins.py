"""Join operators (SURVEY.md §2.4 J1-J3 + free extensions).

The reference uses left-outer equi-joins (J1) and composite-key left-
anti joins (J2). The same wrapper gives inner/semi/full for free; the
as-of join (natural extension for the trading data, SURVEY.md §2.4
note) is built from union+window rather than a cross/range join so it
stays a single shuffle.

Scale notes: Catalyst+AQE pick broadcast vs sort-merge at runtime; we
expose an explicit ``broadcast`` flag for dimensions known small
(region/nation-sized), because a guaranteed broadcast beats AQE's
detection when the small side is behind a complex subplan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | str,
    how: str = "left",
) -> DataFrame:
    """J1 — USING-style equi-join (reference
    ``medallion/silver/b2s_company_house.py:107-110``)."""
    return left.join(right, on, how)


def anti_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """J2 — composite-key left-anti join: rows of ``left`` with no
    match in ``right`` (reference ``medallion/silver/b2s_yfinance.py:164-175``).

    USING-style key list avoids the self-join ambiguity of the
    reference's ``df[k] == other[k]`` expression form.
    """
    return left.join(right.select(*keys), list(keys), "left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    right_cols: Sequence[str],
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_time <= left_time`` (direction="backward"), or the
    EARLIEST right row with ``right_time >= left_time``
    (direction="forward" — the next-quote/next-observation lookup,
    e.g. order → first subsequent fill), per ``on`` key.

    Implemented union-sort style: tag sides, union, single window
    ordered by time, ``last(value, ignorenulls)`` carries the most
    recent right value forward (backward) or ``first(...)`` reaches
    for the next one (forward). One shuffle on the key — no range
    explosion, no cross join; survives 100× scale-up because state
    per key is a single running value.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    on = list(on)
    clash = [c for c in right_cols if c in left.columns]
    if clash:
        raise ValueError(
            f"asof_join right_cols {clash} collide with left columns — "
            "alias them on the right side first (duplicate output names "
            "make every downstream by-name reference ambiguous)"
        )
    lt = F.col(left_time).cast("timestamp")
    l_tag = left.withColumn("__t", lt).withColumn("__side", F.lit(1))
    # NULL-timestamped right rows can never satisfy right_time <=
    # left_time; unfiltered they'd sort FIRST (NULLS FIRST asc) and
    # their payload would be carried into left rows with no real match
    r_proj = right.filter(F.col(right_time).isNotNull()).select(
        *on,
        F.col(right_time).cast("timestamp").alias("__t"),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
    ).withColumn("__side", F.lit(0))
    for c in right_cols:
        l_tag = l_tag.withColumn(f"__r_{c}", F.lit(None).cast(r_proj.schema[f"__r_{c}"].dataType))
    missing = [c for c in l_tag.columns if c not in r_proj.columns]
    for c in missing:
        r_proj = r_proj.withColumn(c, F.lit(None).cast(l_tag.schema[c].dataType))
    unioned = r_proj.select(*l_tag.columns).unionByName(l_tag)
    if direction == "backward":
        # right rows sort before left rows at equal timestamps → a
        # right row stamped at exactly left_time is visible to it
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("__t").asc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        pick = lambda c: F.last(c, ignorenulls=True).over(w)  # noqa: E731
    else:
        # forward: left rows sort before right rows at equal
        # timestamps so an exactly-stamped right row is still ahead
        # of (visible to) the left row in the following frame
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("__t").asc(), F.col("__side").desc())
            .rowsBetween(0, Window.unboundedFollowing)
        )
        pick = lambda c: F.first(c, ignorenulls=True).over(w)  # noqa: E731
    # The matched right row travels as ONE struct (timestamp +
    # payload) through a single window pick, then field-extracts:
    # every carried value comes from the SAME nearest right row.
    # Per-column picks would diverge when the nearest right row holds
    # a NULL in a carried column — last(col, ignorenulls) reaches past
    # it to a farther row while the gap check still validates the
    # nearest row's timestamp, e.g. right rows (t=1, v=5) and
    # (t=100, v=NULL) with left t=101, tolerance=10: the nearest row
    # passes the gap check but v=5 (gap 100) would survive. The
    # struct is non-null exactly on right rows, so ignorenulls picks
    # the nearest whole row, NULL payload and all — pandas
    # merge_asof's matched-row semantics. Bonus: one window pass
    # regardless of how many columns are carried.
    m_fields = [F.col("__t").alias("__mt")] + [
        F.col(f"__r_{c}").alias(c) for c in right_cols
    ]
    carried = unioned.withColumn(
        "__m", F.when(F.col("__side") == 0, F.struct(*m_fields))
    )
    carried = carried.withColumn("__m", pick("__m"))
    out = carried.filter(F.col("__side") == 1)
    for c in right_cols:
        out = out.withColumn(f"__r_{c}", F.col(f"__m.{c}"))
    out = out.drop("__m", "__t", "__side")
    for c in right_cols:
        out = out.withColumnRenamed(f"__r_{c}", c)
    return out


def salted_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    salt_col: str,
) -> DataFrame:
    """Skew-mitigated inner equi-join: the left side spreads each hot
    key over 8 sub-keys (deterministic salt from ``salt_col``, no RNG
    — reruns shuffle identically), the right side replicates each row
    8 times. One key's rows land on 8 reducers instead of one, at the
    cost of an 8× copy of the (small) right side. Same result set as
    the unsalted join.

    Use when one side has heavy key skew AND the right side is too
    big to broadcast; otherwise AQE's skew-join split (enabled in the
    session factory) usually suffices.
    """
    n_salt = 8
    keys = list(keys)
    if salt_col in keys:
        raise ValueError(
            f"salt_col {salt_col!r} is a join key: its hash is constant "
            "within each key, so a hot key would STILL land on one "
            "reducer while paying the full right-side replication — "
            "salt from a row-varying non-key column"
        )
    salted_left = left.withColumn(
        "__salt", F.pmod(F.hash(F.col(salt_col)), F.lit(n_salt))
    )
    salted_right = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return salted_left.join(salted_right, [*keys, "__salt"], "inner").drop("__salt")


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    before_seconds: int = 0,
    how: str = "inner",
) -> DataFrame:
    """Time-range (interval) join: pair each left row with the right
    rows of the same key whose ``right_time`` falls in
    ``[left_time − before, left_time]``.

    Spark OSS has no range-join optimization — a plain non-equi
    condition degrades to a per-key cross join with a post-filter,
    which explodes on hot keys. This implements the standard
    **bucketed range join**: the left row is stamped with its time
    bucket (``floor(epoch / bucket)``, bucket = the window span), the
    right row is replicated to every bucket its match window can
    overlap (≤ 2 copies — bounded, independent of row counts), and
    the join becomes an equi-join on ``(keys…, bucket)`` with the
    exact range predicate as a residual. Shuffle is on (key, bucket)
    — hot keys spread over time buckets.

    Right-side non-key columns must not collide with left column
    names (pre-alias them) — both sides' payloads survive unrenamed.
    ``how``: ``inner`` or ``left`` (left-preserving; the left side is
    never replicated, so unmatched left rows appear exactly once).
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"range_join supports inner/left only, got {how!r}")
    bucket_seconds = max(before_seconds, 1)
    on = list(on)
    lt = F.col(left_time).cast("timestamp").cast("long")
    rt = F.col(right_time).cast("timestamp").cast("long")
    lb = left.withColumn("__bucket", F.floor(lt / bucket_seconds))
    rb = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(rt / bucket_seconds),
                F.floor((rt + before_seconds) / bucket_seconds),
            )
        ),
    )
    lcols = [F.col(f"l.{c}") for c in left.columns]
    rcols = [F.col(f"r.{c}") for c in right.columns if c not in on]
    l, r = lb.alias("l"), rb.alias("r")
    lts = F.col(f"l.{left_time}").cast("timestamp").cast("long")
    rts = F.col(f"r.{right_time}").cast("timestamp").cast("long")
    cond = F.col("l.__bucket") == F.col("r.__bucket")
    for k in on:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    cond = (
        cond
        & (rts >= lts - F.lit(before_seconds))
        & (rts <= lts)
    )
    joined = l.join(r, cond, "inner" if how == "inner" else "left_outer")
    return joined.select(*lcols, *rcols)
