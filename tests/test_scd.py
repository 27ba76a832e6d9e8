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
from end_to_end_etl_pipeline_spark.operators.scd import SCDEngine, current_snapshot
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
