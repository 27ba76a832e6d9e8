"""Property tests (SURVEY.md §5-3) for the tricky SCD2 semantics:
one-current-per-key, latest-batch-wins, validity continuity, re-run
idempotence, and null-sentinel hashing — over randomized small batch
chains."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.scd import MAX_TS, scd2_next_state

VALUES = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))
BATCH = st.dictionaries(st.integers(1, 6), st.tuples(VALUES, VALUES), max_size=6)

T = ["2026-01-01 00:00:00", "2026-02-01 00:00:00", "2026-03-01 00:00:00"]


def _df(spark, batch):
    rows = [(k, v1, v2) for k, (v1, v2) in sorted(batch.items())]
    return spark.createDataFrame(rows, "k int, x string, y string")


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@pytest.mark.full_suite  # fuzz/sweep tier (r13, VERDICT r12 #1)
@given(batches=st.tuples(BATCH, BATCH, BATCH))
def test_scd2_invariants_over_batch_chains(spark, batches):
    state = None
    for batch, t in zip(batches, T):
        if not batch:
            continue
        state = scd2_next_state(state, _df(spark, batch), ["k"], ["x", "y"], t)
    if state is None:
        return
    # current value = the LAST batch that contained the key
    expect = {}
    for batch in batches:
        for k, v in batch.items():
            expect[k] = v
    _check_chain(state.collect(), expect, lambda r: (r.x, r.y))


def _check_chain(rows, expect, value):
    # exactly one current row per key
    cur = [r for r in rows if r.is_current]
    assert len({r.k for r in cur}) == len(cur)
    assert all(str(r.effective_to) == MAX_TS for r in cur)
    assert {r.k: value(r) for r in cur} == expect

    # validity windows per key: contiguous, non-overlapping, ordered
    by_key = {}
    for r in rows:
        by_key.setdefault(r.k, []).append(r)
    for k, versions in by_key.items():
        versions.sort(key=lambda r: str(r.effective_from))
        for a, b in zip(versions, versions[1:]):
            assert str(a.effective_to) <= str(b.effective_from)
            assert not a.is_current  # only the newest version is current
        assert versions[-1].is_current


#: several rows a key; a row's position is its ``o``, so the last wins
MULTI_BATCH = st.dictionaries(
    st.integers(1, 6), st.lists(st.tuples(VALUES, VALUES), min_size=1, max_size=3),
    max_size=6,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@pytest.mark.full_suite  # fuzz/sweep tier (r13, VERDICT r12 #1)
@given(batches=st.tuples(MULTI_BATCH, MULTI_BATCH, MULTI_BATCH))
def test_scd2_keep_policy_invariants_over_multi_row_batch_chains(spark, batches):
    """The same invariants with the batch's dedup inside the merge:
    the keep-policy keeps each key's last row, and the tracked ``n``
    (a per-key aggregate) counts the batch's rows of the key."""
    state = None
    for batch, t in zip(batches, T):
        if not batch:
            continue
        rows = [(k, x, y, o) for k, vs in sorted(batch.items()) for o, (x, y) in enumerate(vs)]
        df = spark.createDataFrame(rows, "k int, x string, y string, o int")
        state = scd2_next_state(
            state, df, ["k"], ["x", "y", "n"], t,
            order_by=[F.col("o").desc()], aggs={"n": "count(1)"}, drop=["o"],
        )
    if state is None:
        return
    expect = {}
    for batch in batches:
        for k, vs in batch.items():
            expect[k] = (*vs[-1], len(vs))
    assert "o" not in state.columns
    _check_chain(state.collect(), expect, lambda r: (r.x, r.y, r.n))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@pytest.mark.full_suite  # fuzz/sweep tier (r13, VERDICT r12 #1)
@given(b1=BATCH, b2=BATCH)
def test_scd2_reapply_is_idempotent(spark, b1, b2):
    """Re-delivering an identical batch (same as_of) must be a no-op:
    hashes match, so no expiry and no inserts — the §2.11-5 zero-width
    -version hazard cannot occur."""
    if not b1 or not b2:
        return
    s1 = scd2_next_state(None, _df(spark, b1), ["k"], ["x", "y"], T[0])
    s2 = scd2_next_state(s1, _df(spark, b2), ["k"], ["x", "y"], T[1])
    s3 = scd2_next_state(s2, _df(spark, b2), ["k"], ["x", "y"], T[1])
    key = lambda r: (r.k, str(r.effective_from), str(r.effective_to), r.is_current, r.x, r.y)
    assert sorted(map(key, s3.collect())) == sorted(map(key, s2.collect()))


def test_null_sentinel_hash_distinguishes_column_swap(spark):
    """§2.11-2: the reference's concat_ws hash treats (a, NULL) and
    (NULL, a) as identical — the engine's sentinel hash must not."""
    s1 = scd2_next_state(
        None, spark.createDataFrame([(1, "a", None)], "k int, x string, y string"),
        ["k"], ["x", "y"], T[0],
    )
    s2 = scd2_next_state(
        s1, spark.createDataFrame([(1, None, "a")], "k int, x string, y string"),
        ["k"], ["x", "y"], T[1],
    )
    rows = s2.collect()
    assert len(rows) == 2  # the swap was detected as a change
    cur = [r for r in rows if r.is_current]
    assert len(cur) == 1 and (cur[0].x, cur[0].y) == (None, "a")
