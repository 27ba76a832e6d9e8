"""Seeded input generator for the benchmark.

Every input the engine sees is made here from ``--seed`` alone, as
single-file parquet tables with the same schemas as the engine's
TPC-H-ish test tables (``region nation customer supplier part orders
lineitem events documents embeddings``):

* ``lake_tables`` — one base lake at a given scale factor (sf0.01 =
  15k orders, 60k lineitems, 500 documents, 500 embeddings);
* ``first_load_orders`` — ``COPIES`` key-shifted copies of the base
  ``orders``, each with its own seeded price perturbation and a few
  rows the silver DQ gate rejects;
* ``RestatementStream`` — change batches on top of a first load: each
  restates ~1% of (customer, quarter) groups in full, half with edited
  prices and half unchanged, plus new groups and DQ-rejected rows. It
  tracks the effective orders (the first load with each restated group
  replaced by its latest batch) for the correctness oracle.

The documents table is two halves: the second is the first with its
ids shifted and its text run through a seeded substitution cipher with
no fixed points, so the halves share token statistics but no char
shingles. ``content_hash`` fingerprints what was written: the same
seed gives the same hash, another seed another one.
"""

from __future__ import annotations

import hashlib
import os
import random
import string

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

KEY_STRIDE = 1_000_000_000
COPIES = 4  # key-shifted copies of the base orders in a first load
RESTATE_RATE = 0.01  # share of (customer, quarter) groups a batch restates
NEW_GROUP_RATE = 0.002  # brand-new groups per batch, as a share of groups
QUERY_BOUND = 10_000_000  # the silver DQ bound on o_totalprice

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
NOUNS = ["ring", "widget", "bolt", "plate", "gear", "valve", "spring", "panel"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window data column join small customer query order "
    "filter group big vector index shard cache plan stage task file "
    "commit read write stream event"
).split()

ORDER_DAY0 = np.datetime64("1995-01-01")
ORDER_DAYS = int((np.datetime64("2001-08-01") - ORDER_DAY0).astype(int))
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")

ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose...)."""
    return np.random.default_rng([seed, *stream])


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def derangement(alphabet: str, seed: int) -> str:
    """Seeded permutation of ``alphabet`` with no fixed points, so every
    ciphered character really changes."""
    rng = random.Random(seed)
    while True:
        perm = list(alphabet)
        rng.shuffle(perm)
        if all(p != a for p, a in zip(perm, alphabet)):
            return "".join(perm)


def _cipher(texts: list[str], seed: int) -> list[str]:
    alphabet = string.ascii_lowercase + string.ascii_uppercase + string.digits
    table = str.maketrans(alphabet, derangement(alphabet, seed))
    return [t.translate(table) for t in texts]


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(int(150_000 * sf), 10),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 20),
        "orders": max(int(1_500_000 * sf), 100),
        "events": max(int(1_000_000 * sf), 100),
        # retrieval queries draw query vectors from vec_id 100..104
        "documents": max(int(50_000 * sf), 250),
        "embeddings": max(int(20_000 * sf), 250),
    }


def _orders_and_lineitem(seed: int, n: dict[str, int]) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Orders and their lineitems; ``o_totalprice`` is the sum of the
    order's discounted, taxed line prices."""
    rng = _rng(seed, 1)
    n_orders, n_cust, n_part, n_supp = n["orders"], n["customer"], n["part"], n["supplier"]
    okey = np.arange(n_orders, dtype=np.int64)
    days = rng.integers(0, ORDER_DAYS, n_orders)
    odate = (ORDER_DAY0 + days).astype("datetime64[us]")
    nlines = rng.integers(1, 8, n_orders)
    l_okey = np.repeat(okey, nlines)
    n_li = len(l_okey)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    linenumber = (np.arange(n_li) - starts + 1).astype(np.int32)
    partkey = rng.integers(0, n_part, n_li).astype(np.int64)
    retail = 900.0 + (partkey % 1000) / 10.0
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ext = _cents(qty * retail)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = np.repeat(days, nlines) + rng.integers(1, 122, n_li)
    shipdate = (ORDER_DAY0 + ship).astype("datetime64[us]")
    cutoff = ORDER_DAYS * 0.55
    shipped = ship <= cutoff
    returnflag = np.where(
        shipped, np.where(rng.random(n_li) < 0.5, "R", "A"), "N"
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": l_okey,
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": qty,
            "l_extendedprice": ext,
            "l_discount": disc,
            "l_tax": tax,
            "l_returnflag": returnflag,
            "l_linestatus": np.where(shipped, "F", "O"),
            "l_shipdate": shipdate,
        }
    )
    charge = np.bincount(
        np.repeat(np.arange(n_orders), nlines),
        weights=ext * (1 + tax) * (1 - disc),
        minlength=n_orders,
    )
    n_shipped = np.bincount(
        np.repeat(np.arange(n_orders), nlines), weights=shipped, minlength=n_orders
    )
    status = np.where(
        n_shipped == nlines, "F", np.where(n_shipped == 0, "O", "P")
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": okey,
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": status,
            "o_totalprice": _cents(charge),
            "o_orderdate": odate,
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    return orders, lineitem


def _documents(rng: np.random.Generator, n: int, seed: int) -> pd.DataFrame:
    half = n // 2
    texts = []
    for _ in range(half):
        k = int(rng.integers(8, 90))
        texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    texts = texts + _cipher(texts[: n - half], seed)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centroids = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n)
    vec = centroids[label] + rng.normal(0.0, 0.8, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def lake_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten base tables of one seeded lake."""
    n = sizes(sf)
    rng = _rng(seed, 0)
    cust = pd.DataFrame(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n["customer"])),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n["customer"])],
        }
    )
    supp = pd.DataFrame(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n["supplier"])),
        }
    )
    pkey = np.arange(n["part"], dtype=np.int64)
    part = pd.DataFrame(
        {
            "p_partkey": pkey,
            "p_name": [
                f"{COLORS[a]} {NOUNS[b]}"
                for a, b in rng.integers(0, 8, (n["part"], 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n["part"])],
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": 900.0 + (pkey % 1000) / 10.0,
        }
    )
    orders, lineitem = _orders_and_lineitem(seed, n)
    ne = n["events"]
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    events = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": EVENT_T0 + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(ne // 66, 10), ne).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": _cents(rng.exponential(60.0, ne) + 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    tables = {
        "region": pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": REGIONS,
            }
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": cust,
        "supplier": supp,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng, n["documents"], seed),
    }
    out = {
        name: pa.Table.from_pandas(df, preserve_index=False)
        for name, df in tables.items()
    }
    out["orders"] = out["orders"].cast(ORDERS_SCHEMA)
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def first_load_orders(seed: int, sf: float) -> pd.DataFrame:
    """``COPIES`` key-shifted copies of the base orders. Copy ``i`` shifts
    order and customer keys by ``i * KEY_STRIDE``, scales each price by
    a seeded factor in [0.95, 1.05], and turns ~0.1% of its rows into
    DQ rejects (negative price or null customer)."""
    base, _lineitem = _orders_and_lineitem(seed, sizes(sf))
    out = []
    for i in range(COPIES):
        rng = _rng(seed, 2, i)
        c = base.copy()
        c["o_orderkey"] += i * KEY_STRIDE
        c["o_custkey"] += i * KEY_STRIDE
        c["o_totalprice"] = _cents(
            c["o_totalprice"].to_numpy() * rng.uniform(0.95, 1.05, len(c))
        )
        bad = rng.random(len(c)) < 0.001
        neg = bad & (rng.random(len(c)) < 0.5)
        c.loc[neg, "o_totalprice"] = -c.loc[neg, "o_totalprice"]
        c["o_custkey"] = c["o_custkey"].astype("Int64")
        c.loc[bad & ~neg, "o_custkey"] = pd.NA
        out.append(c)
    return pd.concat(out, ignore_index=True)


def dq_valid(orders: pd.DataFrame) -> pd.DataFrame:
    """The rows the silver DQ gate keeps (not-null keys, price bounds)."""
    p = orders["o_totalprice"]
    keep = (
        orders["o_orderkey"].notna()
        & orders["o_custkey"].notna()
        & (p.isna() | ((p >= 0) & (p <= QUERY_BOUND)))
    )
    return orders[keep]


def _group_keys(orders: pd.DataFrame) -> pd.Series:
    q = orders["o_orderdate"].dt.to_period("Q").dt.start_time
    return orders["o_custkey"].astype("int64").astype(str) + "|" + q.astype(str)


class RestatementStream:
    """Change batches over an evolving order history.

    Batch ``b`` restates ``RESTATE_RATE`` of the current (customer, quarter)
    groups in full: half with every price raised by a seeded 1-10%
    (their SCD2 rows change), half unchanged (their row hash matches,
    so SCD2 keeps them). It adds ``NEW_GROUP_RATE`` as many brand-new groups
    and a few rows the silver DQ gate rejects. ``effective`` is the
    valid order set a full reload would see after the batches so far;
    ``history_rows`` counts the SCD2 versions the batches expired."""

    def __init__(self, first_load: pd.DataFrame, seed: int):
        self.seed = seed
        self.effective = dq_valid(first_load).copy()
        self.effective["o_custkey"] = self.effective["o_custkey"].astype("int64")
        self.batches = 0
        self.history_rows = 0
        self._next_key = int(first_load["o_orderkey"].max()) + 1

    def next_batch(self) -> pd.DataFrame:
        self.batches += 1
        rng = _rng(self.seed, 3, self.batches)
        eff = self.effective
        gkey = _group_keys(eff)
        groups = np.sort(gkey.unique())
        n_pick = max(int(len(groups) * RESTATE_RATE), 2)
        picked = rng.choice(groups, n_pick, replace=False)
        edited = set(picked[: n_pick // 2])
        restated = eff[gkey.isin(picked)].copy()
        is_edit = _group_keys(restated).isin(edited).to_numpy()
        factor = np.where(is_edit, rng.uniform(1.01, 1.10, len(restated)), 1.0)
        restated["o_totalprice"] = _cents(restated["o_totalprice"].to_numpy() * factor)

        n_new = max(int(len(groups) * NEW_GROUP_RATE), 1)
        new_cust = (
            (COPIES + self.batches) * KEY_STRIDE + np.arange(n_new, dtype=np.int64)
        )
        per = rng.integers(1, 4, n_new)
        m = int(per.sum())
        days = rng.integers(0, ORDER_DAYS, m)
        new = pd.DataFrame(
            {
                "o_orderkey": self._keys(m),
                "o_custkey": np.repeat(new_cust, per),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, m)],
                "o_totalprice": _cents(rng.uniform(1_000, 400_000, m)),
                "o_orderdate": (ORDER_DAY0 + days).astype("datetime64[us]"),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, m)],
            }
        )
        # DQ rejects: negative prices inside restated groups, null keys
        rej = restated.head(3).copy()
        rej["o_orderkey"] = self._keys(len(rej))
        rej["o_totalprice"] = -rej["o_totalprice"]
        nul = new.head(2).copy()
        nul["o_orderkey"] = self._keys(len(nul))
        batch = pd.concat([restated, new, rej, nul], ignore_index=True)
        batch["o_custkey"] = batch["o_custkey"].astype("Int64")
        batch.loc[len(restated) + len(new) + len(rej):, "o_custkey"] = pd.NA

        self.effective = pd.concat(
            [eff[~gkey.isin(picked)], restated, new], ignore_index=True
        )
        self.history_rows += len(edited)
        return batch

    def _keys(self, n: int) -> np.ndarray:
        k = np.arange(self._next_key, self._next_key + n, dtype=np.int64)
        self._next_key += n
        return k


def write_parquet(table: pa.Table | pd.DataFrame, path: str) -> int:
    """Write one single-file parquet table; returns its size in bytes."""
    if isinstance(table, pd.DataFrame):
        table = pa.Table.from_pandas(table, preserve_index=False)
        if "o_orderkey" in table.column_names:
            table = table.cast(ORDERS_SCHEMA)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def content_hash(paths: list[str]) -> str:
    """sha256 over the bytes of ``paths`` in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()
