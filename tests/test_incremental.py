"""Incremental aggregate maintenance: applying a CDC batch to the
grouped state must equal a full recompute over the new base (sum/count
delta math).
"""

import pytest

from end_to_end_etl_pipeline_spark.operators.incremental import (
    apply_agg_delta,
    grouped_agg_state,
)
from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog


@pytest.fixture
def cat(spark, tmp_path):
    return ManifestCatalog(spark, f"file://{tmp_path}/lake")


V1 = [
    (1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0), (4, "c", 7.0), (5, None, 3.0),
]
# delete 3 (group b disappears), update 2 (a: 20->25), keep 4,
# insert 6 (new group d), insert 7 (NULL-keyed group grows)
V2 = [
    (1, "a", 10.0), (2, "a", 25.0), (4, "c", 7.0), (5, None, 3.0),
    (6, "d", 1.0), (7, None, 2.0),
]
SCHEMA = "id int, g string, x double"


def _rows(df):
    return sorted(
        ((r.g, r.n, r["sum_x"]) for r in df.collect()),
        key=lambda t: (t[0] is None, t[0]),
    )


def test_delta_update_equals_full_recompute(spark, cat):
    cat.replace_atomic(spark.createDataFrame(V1, SCHEMA), "ivm.t")
    cat.replace_atomic(spark.createDataFrame(V2, SCHEMA), "ivm.t")
    changes = cat.diff_versions("ivm.t", 1, 2, keys=["id"])

    state_v1 = grouped_agg_state(cat.read("ivm.t", version=1), ["g"], ["x"])
    incremental = apply_agg_delta(state_v1, changes, ["g"], ["x"])
    full = grouped_agg_state(cat.read("ivm.t", version=2), ["g"], ["x"])
    assert _rows(incremental) == _rows(full)
    # group b (fully deleted) must be gone, d (brand new) present
    groups = {t[0] for t in _rows(incremental)}
    assert "b" not in groups and "d" in groups and None in groups


def test_delta_update_is_change_proportional(spark, cat):
    """The delta aggregation sees only CDC rows (4 images here), not
    the base — assert the change frame is what the math runs on."""
    cat.replace_atomic(spark.createDataFrame(V1, SCHEMA), "ivm.p")
    cat.replace_atomic(spark.createDataFrame(V2, SCHEMA), "ivm.p")
    changes = cat.diff_versions("ivm.p", 1, 2, keys=["id"])
    # 1 delete + 2 inserts + update pre/post pair = 5 change images
    assert changes.count() == 5


def test_noop_change_batch_leaves_state_intact(spark, cat):
    cat.replace_atomic(spark.createDataFrame(V1, SCHEMA), "ivm.n")
    state = grouped_agg_state(cat.read("ivm.n"), ["g"], ["x"])
    empty = spark.createDataFrame([], SCHEMA + ", _change_type string")
    assert _rows(apply_agg_delta(state, empty, ["g"], ["x"])) == _rows(state)


def test_deleting_last_nonnull_measure_yields_null_sum(spark, cat):
    """SQL sum over an all-NULL group is NULL, not 0.0 - the nn_
    counts exist precisely so the delta path reproduces that."""
    v1 = [(1, "a", 5.0), (2, "a", None), (3, "b", 1.0)]
    v2 = [(2, "a", None), (3, "b", 1.0)]
    cat.replace_atomic(spark.createDataFrame(v1, SCHEMA), "ivm.nul")
    cat.replace_atomic(spark.createDataFrame(v2, SCHEMA), "ivm.nul")
    changes = cat.diff_versions("ivm.nul", 1, 2, keys=["id"])
    state = grouped_agg_state(cat.read("ivm.nul", version=1), ["g"], ["x"])
    inc = apply_agg_delta(state, changes, ["g"], ["x"])
    full = grouped_agg_state(cat.read("ivm.nul", version=2), ["g"], ["x"])
    assert _rows(inc) == _rows(full)
    a = {r.g: r["sum_x"] for r in inc.collect()}
    assert a["a"] is None and a["b"] == 1.0
