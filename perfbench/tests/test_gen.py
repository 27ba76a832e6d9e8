"""The seeded generator at sf0.001: same seed, same bytes; another seed,
other bytes; restatement batches keep their bookkeeping."""

import string

import pandas as pd
import pytest

import gen

SF = 0.001


def _write_all(seed, out):
    paths = []
    for name, table in gen.lake_tables(seed, SF).items():
        paths.append(str(out / f"{name}.parquet"))
        gen.write_parquet(table, paths[-1])
    orders = gen.first_load_orders(seed, SF)
    paths.append(str(out / "first" / "orders.parquet"))
    gen.write_parquet(orders, paths[-1])
    stream = gen.RestatementStream(orders, seed)
    for b in range(2):
        paths.append(str(out / f"batch{b}" / "orders.parquet"))
        gen.write_parquet(stream.next_batch(), paths[-1])
    return gen.content_hash(paths)


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a = _write_all(7, tmp_path / "a")
    b = _write_all(7, tmp_path / "b")
    c = _write_all(8, tmp_path / "c")
    assert a == b
    assert a != c


def test_lake_has_the_engine_table_schemas():
    t = gen.lake_tables(1, SF)
    assert sorted(t) == sorted(
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    )
    assert t["orders"].schema == gen.ORDERS_SCHEMA
    assert t["region"].column("r_name").to_pylist()[2] == "ASIA"
    assert t["embeddings"].num_rows > 104  # retrieval queries use vec_id 100..104
    li = t["lineitem"].to_pandas()
    assert li.groupby("l_orderkey").l_linenumber.min().eq(1).all()


def test_cipher_has_no_fixed_points_and_splits_shingles():
    alphabet = string.ascii_lowercase + string.ascii_uppercase + string.digits
    perm = gen.derangement(alphabet, 3)
    assert sorted(perm) == sorted(alphabet)
    assert all(p != a for p, a in zip(perm, alphabet))
    docs = gen.lake_tables(3, SF)["documents"].to_pandas()
    half = len(docs) // 2

    def shingles(texts):
        return {t[i:i + 6] for t in texts for i in range(len(t) - 5)} - {" " * 6}

    plain, ciphered = shingles(docs.text[:half]), shingles(docs.text[half:])
    assert not {s for s in plain & ciphered if s.strip()}


def test_first_load_copies_are_key_shifted_and_carry_dq_rejects():
    base = gen.lake_tables(5, SF)["orders"].to_pandas()
    orders = gen.first_load_orders(5, SF)
    assert len(orders) == gen.COPIES * len(base)
    assert orders.o_orderkey.is_unique
    copy = orders.o_orderkey // gen.KEY_STRIDE
    assert sorted(copy.unique()) == list(range(gen.COPIES))
    valid = gen.dq_valid(orders)
    assert 0 < len(orders) - len(valid) < 0.01 * len(orders)


def test_restatement_batches_restate_whole_groups():
    orders = gen.first_load_orders(9, SF)
    stream = gen.RestatementStream(orders, 9)
    before = stream.effective.copy()
    batch = stream.next_batch()
    assert batch.o_custkey.isna().sum() == 2
    assert (batch.o_totalprice < 0).sum() == 3
    valid = gen.dq_valid(batch)
    q = valid.o_orderdate.dt.to_period("Q")
    groups = set(zip(valid.o_custkey, q))
    old = before[[(k, p) in groups for k, p in zip(before.o_custkey, before.o_orderdate.dt.to_period("Q"))]]
    # every order of a restated group is in the batch
    assert set(old.o_orderkey) <= set(valid.o_orderkey)
    # edited groups are exactly those whose revenue moved
    agg = lambda df: df.groupby([df.o_custkey, df.o_orderdate.dt.to_period("Q")]).o_totalprice.sum()
    moved = (agg(valid).reindex(agg(old).index) - agg(old)).abs() > 0.005
    assert moved.sum() == stream.history_rows > 0
    assert len(stream.effective) == len(before) - len(old) + len(valid)
    pd.testing.assert_frame_equal(gen.dq_valid(stream.effective), stream.effective)


@pytest.mark.parametrize("seed", [1, 2])
def test_batches_differ_by_batch_and_seed(seed):
    stream = gen.RestatementStream(gen.first_load_orders(seed, SF), seed)
    a, b = stream.next_batch(), stream.next_batch()
    assert set(a.o_orderkey) != set(b.o_orderkey)
    other = gen.RestatementStream(gen.first_load_orders(seed + 10, SF), seed + 10)
    assert not other.next_batch().equals(a)
