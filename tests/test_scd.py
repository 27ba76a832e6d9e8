"""SCD engine tests — the §2.11 semantics SURVEY.md says must each be
an explicit, documented choice:

* exactly one current row per key; no overlapping validity (golden
  invariant)
* idempotent re-run (re-delivered unchanged rows → no new versions)
* change → expire + insert in ONE atomic publish
* null-sentinel hash distinguishes ("a", NULL) from (NULL, "a")
* SCD1 full-row merge keeps untracked columns
* SCD3 previous-value carry
* a concurrent commit between an apply's read and its publish is
  recomputed over, never lost (compare-and-swap publish)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.hashing import row_hash_col
from end_to_end_etl_pipeline_spark.operators.scd import MAX_TS, SCDEngine, current_snapshot
from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

SCHEMA = "company_number string, name string, status string, market_cap long"


@pytest.fixture()
def catalog(spark, tmp_path):
    return ManifestCatalog(spark, f"file://{tmp_path}/lake")


def _batch(spark, rows):
    return spark.createDataFrame(rows, schema=SCHEMA)


KEYS = ["company_number"]
TRACKED = ["name", "status", "market_cap"]


def test_scd2_first_load_all_current(spark, catalog):
    eng = SCDEngine(catalog)
    b1 = _batch(spark, [("C1", "Acme", "active", 100), ("C2", "Beta", "active", 200)])
    eng.apply_scd2(b1, "silver.dim", KEYS, TRACKED, as_of="2024-01-01 00:00:00")
    out = catalog.read("silver.dim")
    assert out.count() == 2
    assert out.filter(F.col("is_current")).count() == 2


def test_scd2_change_expires_and_inserts(spark, catalog):
    eng = SCDEngine(catalog)
    eng.apply_scd2(
        _batch(spark, [("C1", "Acme", "active", 100)]),
        "silver.dim", KEYS, TRACKED, as_of="2024-01-01 00:00:00",
    )
    eng.apply_scd2(
        _batch(spark, [("C1", "Acme", "active", 150)]),
        "silver.dim", KEYS, TRACKED, as_of="2024-02-01 00:00:00",
    )
    out = catalog.read("silver.dim").orderBy("effective_from").collect()
    assert len(out) == 2
    old, new = out
    assert old["is_current"] is False and new["is_current"] is True
    assert old["effective_to"] == new["effective_from"]
    assert new["market_cap"] == 150


def test_scd2_idempotent_rerun(spark, catalog):
    eng = SCDEngine(catalog)
    b = _batch(spark, [("C1", "Acme", "active", 100), ("C2", "Beta", "live", 5)])
    eng.apply_scd2(b, "silver.dim", KEYS, TRACKED, as_of="2024-01-01 00:00:00")
    eng.apply_scd2(b, "silver.dim", KEYS, TRACKED, as_of="2024-01-02 00:00:00")
    out = catalog.read("silver.dim")
    assert out.count() == 2  # no new versions
    assert out.filter(F.col("is_current")).count() == 2


def test_scd2_one_current_per_key_invariant(spark, catalog):
    eng = SCDEngine(catalog)
    for day, cap in [("01", 1), ("02", 2), ("03", 3), ("04", 3)]:
        eng.apply_scd2(
            _batch(spark, [("C1", "Acme", "active", cap)]),
            "silver.dim", KEYS, TRACKED, as_of=f"2024-01-{day} 00:00:00",
        )
    out = catalog.read("silver.dim")
    per_key_current = (
        out.filter(F.col("is_current")).groupBy("company_number").count().collect()
    )
    assert all(r["count"] == 1 for r in per_key_current)
    assert out.count() == 3  # three distinct versions, day-4 was a no-op
    # no overlapping validity: each version's effective_to == next's effective_from
    versions = out.filter(~F.col("is_current")).orderBy("effective_from").collect()
    nexts = out.orderBy("effective_from").collect()[1:]
    for v, nxt in zip(versions, nexts):
        assert v["effective_to"] == nxt["effective_from"]


def test_scd2_key_absent_from_batch_stays_current(spark, catalog):
    eng = SCDEngine(catalog)
    eng.apply_scd2(
        _batch(spark, [("C1", "Acme", "active", 100), ("C2", "Beta", "live", 5)]),
        "silver.dim", KEYS, TRACKED, as_of="2024-01-01 00:00:00",
    )
    eng.apply_scd2(
        _batch(spark, [("C1", "Acme", "active", 101)]),
        "silver.dim", KEYS, TRACKED, as_of="2024-02-01 00:00:00",
    )
    out = catalog.read("silver.dim")
    c2 = out.filter(F.col("company_number") == "C2").collect()
    assert len(c2) == 1 and c2[0]["is_current"] is True


def test_null_sentinel_hash_distinguishes_column_swap(spark):
    # reference defect §2.11-2: concat_ws skips NULLs so ("a",NULL)
    # and (NULL,"a") collide — ours must not
    df = spark.createDataFrame(
        [("a", None), (None, "a")], schema="x string, y string"
    ).withColumn("h", row_hash_col(["x", "y"]))
    hashes = [r["h"] for r in df.collect()]
    assert hashes[0] != hashes[1]


def test_scd1_full_row_merge_keeps_untracked(spark, catalog):
    # reference defect §2.11-8: SCD1 insert loses untracked columns
    eng = SCDEngine(catalog)
    eng.apply_scd1(
        _batch(spark, [("C1", "Acme", "active", 100)]), "silver.s1", KEYS
    )
    eng.apply_scd1(
        _batch(spark, [("C1", "Acme2", "active", 100), ("C3", "New", "live", 7)]),
        "silver.s1", KEYS,
    )
    out = {r["company_number"]: r for r in catalog.read("silver.s1").collect()}
    assert out["C1"]["name"] == "Acme2"
    assert out["C3"]["market_cap"] == 7  # untracked col present on insert


def test_scd3_previous_value_carry(spark, catalog):
    eng = SCDEngine(catalog)
    eng.apply_scd3(
        _batch(spark, [("C1", "Acme", "active", 100)]), "silver.s3", KEYS, ["status"]
    )
    eng.apply_scd3(
        _batch(spark, [("C1", "Acme", "dormant", 100)]), "silver.s3", KEYS, ["status"]
    )
    row = catalog.read("silver.s3").collect()[0]
    assert row["status"] == "dormant"
    assert row["previous_status"] == "active"


def _apply(eng, scd_type, src, table, as_of):
    if scd_type == 1:
        eng.apply_scd1(src, table, KEYS)
    elif scd_type == 2:
        eng.apply_scd2(src, table, KEYS, TRACKED, as_of=as_of)
    else:
        eng.apply_scd3(src, table, KEYS, TRACKED)


def _state(catalog, table):
    return sorted(map(tuple, catalog.read(table).collect()))


@pytest.mark.parametrize("scd_type", [1, 2, 3])
def test_scd_apply_rebases_on_concurrent_commit(spark, catalog, tmp_path, scd_type):
    """A second apply committing between an apply's read and its
    publish must survive: the publish's compare-and-swap fails, and the
    apply recomputes over the new latest version. (A last-writer-wins
    publish put the first apply's state, computed from v1, on top of
    v2, and the second writer's key vanished without an error.)"""
    first = [("C1", "Acme", "active", 100), ("C2", "Beta", "live", 5)]
    ours = [("C1", "Acme", "active", 150)]
    theirs = [("C3", "Gamma", "live", 7)]
    t1, t2, t3 = "2024-01-01 00:00:00", "2024-02-01 00:00:00", "2024-03-01 00:00:00"
    _apply(SCDEngine(catalog), scd_type, _batch(spark, first), "silver.dim", t1)

    other = SCDEngine(ManifestCatalog(spark, catalog.root))
    fired = []

    def racy(publish):
        def wrapped(*args):
            if not fired:
                fired.append(True)
                _apply(other, scd_type, _batch(spark, theirs), "silver.dim", t2)
            return publish(*args)

        return wrapped

    # wrap both publish primitives on the instance: whichever one
    # replace_atomic calls, the other writer lands first
    catalog._commit = racy(catalog._commit)
    catalog._commit_if = racy(catalog._commit_if)
    try:
        _apply(SCDEngine(catalog), scd_type, _batch(spark, ours), "silver.dim", t3)
    finally:
        del catalog._commit, catalog._commit_if
    assert fired

    serial = ManifestCatalog(spark, f"file://{tmp_path}/serial")
    for rows, as_of in ((first, t1), (theirs, t2), (ours, t3)):
        _apply(SCDEngine(serial), scd_type, _batch(spark, rows), "silver.dim", as_of)
    got = _state(catalog, "silver.dim")
    assert {r[0] for r in got} == {"C1", "C2", "C3"}
    assert got == _state(serial, "silver.dim")
    assert catalog.latest_manifest("silver.dim")["version"] == 3
    # the publish that lost the race deleted its data dir
    listed = {
        d.rsplit("/", 1)[-1]
        for v in (1, 2, 3)
        for d in catalog.manifest_at("silver.dim", v)["dirs"]
    }
    on_disk = {p.name for p in (tmp_path / "lake/silver/dim/data").iterdir()}
    assert on_disk == listed


@pytest.mark.parametrize("scd_type", [1, 2, 3])
def test_scd_first_load_keeps_concurrent_first_load(spark, catalog, scd_type):
    """Two first loads race on a table with no manifest yet: the one
    that loses the v1 slot must apply on top of the winner, not
    replace it wholesale."""
    as_of = "2024-01-01 00:00:00"
    other = SCDEngine(ManifestCatalog(spark, catalog.root))
    orig = catalog._new_data_dir
    fired = []

    def racy(name):
        if not fired:
            fired.append(True)
            # the concurrent first load lands v1 after this apply saw
            # no table and before it publishes
            _apply(other, scd_type, _batch(spark, [("C10", "X", "live", 1),
                                                   ("C11", "Y", "live", 2)]),
                   "silver.dim", as_of)
        return orig(name)

    catalog._new_data_dir = racy
    try:
        _apply(SCDEngine(catalog), scd_type,
               _batch(spark, [("C1", "Acme", "active", 100),
                              ("C2", "Beta", "live", 5)]),
               "silver.dim", as_of)
    finally:
        del catalog._new_data_dir
    assert catalog.latest_manifest("silver.dim")["version"] == 2
    cur = current_snapshot(catalog.read("silver.dim"))
    assert sorted(r["company_number"] for r in cur.collect()) == [
        "C1", "C10", "C11", "C2"
    ]


def test_current_snapshot_guarded(spark):
    df = spark.createDataFrame([(1,)], schema="x int")
    assert current_snapshot(df).count() == 1  # no is_current col → pass-through


def test_scd2_close_keys_contract(spark):
    """Member deletion: current row closes at as_of with no
    replacement; history untouched; absent/closed keys are no-ops
    (idempotent replay)."""
    from end_to_end_etl_pipeline_spark.operators.scd import (
        scd2_close_keys,
        scd2_next_state,
    )

    src1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, attr string")
    src2 = spark.createDataFrame([(1, "a2"), (3, "c")], "k int, attr string")
    s1 = scd2_next_state(None, src1, ["k"], ["attr"], "2026-01-01 00:00:00")
    s2 = scd2_next_state(s1, src2, ["k"], ["attr"], "2026-02-01 00:00:00")
    del_keys = spark.createDataFrame([(2,), (99,)], "k int")
    s3 = scd2_close_keys(s2, del_keys, ["k"], "2026-03-01 00:00:00")
    rows = {(r["k"], r["attr"]): (str(r["effective_to"]), r["is_current"])
            for r in s3.collect()}
    # key 2's current row closed, no replacement
    assert rows[(2, "b")] == ("2026-03-01 00:00:00", False)
    assert not any(k == 2 and cur for (k, _), (_, cur) in rows.items())
    # untouched members keep current rows; history intact
    assert rows[(1, "a2")][1] is True and rows[(3, "c")][1] is True
    assert rows[(1, "a")][1] is False  # expired by the merge, not the delete
    # replay converges: closing again changes nothing
    s4 = scd2_close_keys(s3, del_keys, ["k"], "2026-04-01 00:00:00")
    assert sorted(map(tuple, s4.collect())) == sorted(map(tuple, s3.collect()))


# -- the batch's dedup inside the SCD2 merge ---------------------------

_ROW = "k int, v string, o int, w int"
_AGGS = {"n": "count(1)", "tot": "sum(w)"}
_T = ["2026-01-01 00:00:00", "2026-02-01 00:00:00", "2026-03-01 00:00:00"]


def _order(desc=True):
    """The keep-policy: the latest ``o`` wins (or the earliest, whose
    ascending order sorts the current rows' NULL ``o`` first)."""
    return [F.col("o").desc() if desc else F.col("o").asc()]


# hand-written cases (key: rows), per batch, named for the latest-``o``
# keep-policy; ties on ``o`` are identical rows, so every run of a
# keep-policy keeps the same values
_CASES = [
    {1: [("a", 1, 1), ("b", 2, 2)],               # several rows
     2: [(None, 1, 5)],                           # NULL tracked value
     3: [("c", 3, 1), ("c", 3, 1), ("z", 1, 9)],  # tie at the top
     4: [("d", 1, 1)]},
    {1: [("b", 5, 0), ("q", 1, 0)],               # unchanged (b, 2 rows)
     2: [("x", 1, 1)],                            # NULL → x
     4: [("d", 1, 1), ("d", 0, 1)],               # n 1 → 2; 3 absent
     5: [(None, 2, 3)],                           # new key
     None: [("n", 1, 1)]},                        # NULL key: dropped
    {1: [("b", 1, 0), ("b", 1, 0)],               # unchanged again
     2: [(None, 7, 1), ("y", 6, 1)],              # x → NULL
     5: [(None, 1, 3)],                           # unchanged NULL
     6: [("e", 9, 1), ("f", 2, 2), ("g", 2, 3)]}, # tie below the winner
]


def _seeded_batches(seed=7, keys=range(100, 115)):
    """Three random batches over ``keys``: 1-4 rows a key, ``o`` in
    0..3; ``v`` and ``w`` are drawn per (batch, key, o), so a tie on
    ``o`` is a tie of identical rows."""
    import random

    rng = random.Random(seed)
    out = []
    for b in range(3):
        batch = {}
        for k in keys:
            if rng.random() < 0.3:
                continue  # absent from this batch
            rows = []
            for _ in range(rng.randint(1, 4)):
                o = rng.randint(0, 3)
                r = random.Random(f"{seed}/{b}/{k}/{o}")
                rows.append((r.choice(["p", "q", None]), o, r.randint(0, 2)))
            batch[k] = rows
        out.append(batch)
    return out


def _model_next(state, batch, t, desc):
    """The SCD2 next state of a plain-Python model: ``state`` rows are
    dicts; each key keeps its max-``o`` row (min-``o`` unless
    ``desc``), with ``n``/``tot`` over all its rows, and a version
    changes when ``(v, n)`` does."""
    reduced = {}
    for k, rows in batch.items():
        if k is None:
            continue
        v, o, w = (max if desc else min)(rows, key=lambda r: r[1])
        reduced[k] = dict(k=k, v=v, o=o, w=w, n=len(rows), tot=sum(r[2] for r in rows))
    out, seen = [], set()
    for row in state:
        new = reduced.get(row["k"]) if row["is_current"] else None
        if row["is_current"]:
            seen.add(row["k"])
        if new is not None and (new["v"], new["n"]) != (row["v"], row["n"]):
            out.append({**row, "effective_to": t, "is_current": False})
            out.append({**new, "effective_from": t, "effective_to": MAX_TS, "is_current": True})
        else:
            out.append(row)
    for k, new in reduced.items():
        if k not in seen:
            out.append({**new, "effective_from": t, "effective_to": MAX_TS, "is_current": True})
    return out


def _rows(state):
    cols = ["k", "v", "o", "w", "n", "tot", "effective_from", "effective_to", "is_current"]
    if isinstance(state, list):
        got = [tuple(str(r[c]) for c in cols) for r in state]
    else:
        got = [tuple(str(r[c]) for c in cols) for r in state.collect()]
    return sorted(got)


@pytest.mark.parametrize("desc", [True, False])
def test_scd2_reduce_in_merge_matches_dedup_then_merge_and_model(spark, desc):
    """Fixed-seed differential over three batches: the SCD2 merge that
    runs the batch's dedup keep-policy in its own shuffle equals
    ``dedup_by_key`` followed by the merge, and both equal a
    plain-Python model of the SCD2 state. Covered: several rows a key
    (ties on ``o`` included), changed, unchanged, new and absent keys,
    a NULL tracked value and a NULL key."""
    from end_to_end_etl_pipeline_spark.operators.dedup import dedup_by_key
    from end_to_end_etl_pipeline_spark.operators.scd import scd2_next_state

    seeded = _seeded_batches()
    batches = [{**case, **rand} for case, rand in zip(_CASES, seeded)]
    keys, tracked = ["k"], ["v", "n"]
    in_merge = two_step = None
    model = []
    for batch, t in zip(batches, _T):
        df = spark.createDataFrame(
            [(k, *r) for k, rows in batch.items() for r in rows], _ROW
        )
        in_merge = scd2_next_state(
            in_merge, df, keys, tracked, t, order_by=_order(desc), aggs=_AGGS
        ).localCheckpoint()
        deduped = dedup_by_key(df, keys, order_by=_order(desc), aggs=_AGGS)
        two_step = scd2_next_state(two_step, deduped, keys, tracked, t).localCheckpoint()
        model = _model_next(model, batch, t, desc)
        assert _rows(in_merge) == _rows(two_step), t
        assert _rows(in_merge) == _rows(model), t
    hashes = {(r.k, str(r.effective_from)): r.row_hash for r in two_step.collect()}
    assert {(r.k, str(r.effective_from)): r.row_hash for r in in_merge.collect()} == hashes
    # the chain reached every case at least once
    assert {r["is_current"] for r in model} == {True, False}


def test_scd2_keep_policy_commits_a_duplicate_key_batch(spark, catalog):
    """The same duplicate-key batch raises ``ValueError`` and commits
    nothing without a keep-policy, and commits its kept rows with
    one."""
    eng = SCDEngine(catalog)
    dup = spark.createDataFrame([(1, "a", 1, 0), (1, "b", 2, 0), (2, "c", 1, 0)], _ROW)
    with pytest.raises(ValueError, match="duplicate business keys"):
        eng.apply_scd2(dup, "silver.d", ["k"], ["v"], _T[0])
    assert catalog.latest_manifest("silver.d") is None
    eng.apply_scd2(dup, "silver.d", ["k"], ["v"], _T[0], order_by=_order(), drop=["o"])
    out = catalog.read("silver.d")
    assert "o" not in out.columns
    assert sorted((r.k, r.v) for r in out.collect()) == [(1, "b"), (2, "c")]
