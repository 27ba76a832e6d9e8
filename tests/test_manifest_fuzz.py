"""Model-based randomized fuzz of the ManifestCatalog CRUD surface.

The deletion paths survived one serious in-round r05 bug (a NULL in a
delete_where IN-list three-valued-logic'd the keep filter into a mass
delete). This test makes that whole class structurally hard to
reintroduce: 200 random interleavings of append / delete_where /
delete_range / update_where / optimize / vacuum / latest reads /
time-travel reads run against a plain-Python reference model, with
per-sequence seeds logged in every assertion so any failure replays
deterministically.

Fuzzed semantics the model pins:
* delete_where removes exactly the rows whose key is IN the non-null
  values — NULL keys never match, NULLs INSIDE the value list are
  inert (the r05 bug class), absent keys delete nothing;
* delete_range removes rows with lo <= ts <= hi; NULL ts survives
  (three-valued BETWEEN) — including in dirs the min/max stats
  classify as "wholly inside" the range;
* update_where applies set expressions to matching rows only, and
  may touch a stats/bloom column without breaking later pruning;
* optimize/vacuum never change visible content, and optimize keeps
  the replaced dirs' stats/bloom columns for its compacted dir;
  vacuum keeps the
  latest version time-travelable and byte-identical to the model
  snapshot taken when that version committed;
* stats/bloom attachment is randomized per append, so every mutation
  runs both its pruned path and its conservative rewrite-everything
  fallback.

The BUCKETED surface — what the IVF / dedup-store / text-index stores
sit on — gets its own sequence generator (identity-bucketed on
cell = id%5): append_bucketed / optimize / vacuum / bucket-pruned
reads / time travel against the same model, including the invariant
that a single-bucket read equals the model filtered to that cell.

Sequences are Arrow-native (pandas-sourced local frames): a
Python-list createDataFrame executes through pickled-RDD Python
workers, which at local[32] costs seconds per tiny job and would blow
the CI budget (measured ~20x slower than the Arrow path).
"""

from __future__ import annotations

import os
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

# r13 (VERDICT r12 #1): fuzz-shard sweep — SPARK_GRAFT_FULL_SUITE only
pytestmark = pytest.mark.full_suite

#: total random sequences (split into shards for progress/isolation)
N_SEQUENCES = int(os.environ.get("SPARK_GRAFT_FUZZ_SEQS", "200"))
N_SHARDS = 4
MASTER_SEED = int(os.environ.get("SPARK_GRAFT_FUZZ_SEED", "20260815"))


def _mk_batch(spark, rng: random.Random, next_id: int):
    """A small append batch: mostly unique ids (some duplicated from
    low ids to exercise multi-row deletes), occasional NULL id/ts."""
    n = rng.randint(4, 10)
    rows = []
    for _ in range(n):
        rid = (
            None
            if rng.random() < 0.08
            else (rng.randrange(next_id + n) if rng.random() < 0.3 else next_id)
        )
        next_id += 1
        ts = None if rng.random() < 0.12 else rng.randrange(20)
        rows.append((rid, rng.randrange(100), ts))
    pdf = pd.DataFrame(
        {
            "id": pd.array([r[0] for r in rows], dtype="Int64"),
            "val": pd.array([r[1] for r in rows], dtype="Int64"),
            "ts": pd.array([r[2] for r in rows], dtype="Int64"),
        }
    )
    return spark.createDataFrame(pdf).coalesce(1), rows, next_id


def _sorted(rows):
    return sorted(rows, key=lambda t: tuple((v is None, v) for v in t))


def _collect(df, cols=("id", "val", "ts")):
    return _sorted([tuple(r[c] for c in cols) for r in df.collect()])


def _check(cat, tbl, model, seed, oplog, version=None,
           cols=("id", "val", "ts")):
    got = _collect(cat.read(tbl, version=version), cols)
    want = _sorted(model)
    assert got == want, (
        f"seed={seed} version={version} ops={oplog}\n"
        f"catalog={got}\nmodel={want}"
    )


def _run_sequence(spark, cat: ManifestCatalog, tbl: str, seed: int) -> None:
    rng = random.Random(seed)
    model: list[tuple] = []  # (id, val, ts)
    snapshots: dict[int, list[tuple]] = {}  # committed version -> content
    oplog: list[str] = []
    next_id = 0

    def snap():
        vs = cat._versions(tbl)
        if vs:
            snapshots[vs[-1]] = list(model)

    # always start with one append so every op has a table
    df, rows, next_id = _mk_batch(spark, rng, next_id)
    cat.append(df, tbl, stats_cols=["ts"], bloom_cols=["id"])
    model.extend(rows)
    oplog.append(f"append({len(rows)})")
    snap()

    known_ids = lambda: [r[0] for r in model if r[0] is not None]

    for _ in range(rng.randint(2, 6)):
        op = rng.choices(
            ["append", "delete_where", "delete_range", "update_where",
             "optimize", "vacuum", "timetravel", "check"],
            weights=[26, 16, 14, 14, 8, 8, 7, 7],
        )[0]
        if op == "append":
            with_meta = rng.random() < 0.6  # also fuzz stat/bloom-less dirs
            df, rows, next_id = _mk_batch(spark, rng, next_id)
            cat.append(
                df,
                tbl,
                stats_cols=["ts"] if with_meta else None,
                bloom_cols=["id"] if with_meta else None,
            )
            model.extend(rows)
            oplog.append(f"append({len(rows)},meta={with_meta})")
        elif op == "delete_where":
            pool = known_ids()
            vals = rng.sample(pool, min(len(pool), rng.randint(1, 3)))
            vals += [next_id + 500]  # an absent key: must delete nothing
            if rng.random() < 0.4:
                vals.append(None)  # the r05 mass-delete bug class
            rng.shuffle(vals)
            n = cat.delete_where(tbl, "id", vals)
            vs = {v for v in vals if v is not None}
            before = len(model)
            model = [r for r in model if r[0] is None or r[0] not in vs]
            oplog.append(f"delete_where({sorted(vs)},null={None in vals})")
            assert n == before - len(model), f"seed={seed} ops={oplog}"
        elif op == "delete_range":
            lo = rng.randrange(20)
            hi = lo + rng.randrange(8)
            n = cat.delete_range(tbl, "ts", lo, hi)
            before = len(model)
            model = [
                r for r in model if r[2] is None or not (lo <= r[2] <= hi)
            ]
            oplog.append(f"delete_range({lo},{hi})")
            assert n == before - len(model), f"seed={seed} ops={oplog}"
        elif op == "update_where":
            pool = known_ids()
            vals = rng.sample(pool, min(len(pool), rng.randint(1, 3)))
            if rng.random() < 0.3:
                vals.append(None)  # inert in the match list
            d = rng.randint(1, 9)
            n = cat.update_where(tbl, "id", vals, {"val": F.col("val") + d})
            vs = {v for v in vals if v is not None}
            hit = sum(1 for r in model if r[0] in vs)
            model = [
                (r[0], r[1] + d if r[0] in vs else r[1], r[2]) for r in model
            ]
            oplog.append(f"update_where({sorted(vs)},+{d})")
            assert n == hit, f"seed={seed} ops={oplog}"
        elif op == "optimize":
            cat.optimize(tbl)
            oplog.append("optimize")
        elif op == "vacuum":
            cat.vacuum(tbl, min_age_seconds=0)
            retained = set(cat._versions(tbl)[-1:])
            for v in [v for v in snapshots if v not in retained]:
                del snapshots[v]
            oplog.append("vacuum")
        elif op == "timetravel" and snapshots:
            v = rng.choice(sorted(snapshots))
            oplog.append(f"timetravel({v})")
            _check(cat, tbl, snapshots[v], seed, oplog, version=v)
        elif op == "check":
            oplog.append("check")
            _check(cat, tbl, model, seed, oplog)
        snap()

    oplog.append("final-check")
    _check(cat, tbl, model, seed, oplog)
    # and every still-retained historical version must replay its
    # snapshot exactly (time travel is the audit trail)
    for v in sorted(snapshots)[:-1][-2:]:
        _check(cat, tbl, snapshots[v], seed, oplog + [f"tt({v})"], version=v)


@pytest.mark.parametrize("shard", range(N_SHARDS))
def test_manifest_crud_fuzz(spark, tmp_path_factory, shard):
    per_shard = (N_SEQUENCES + N_SHARDS - 1) // N_SHARDS
    root = tmp_path_factory.mktemp(f"manifest_fuzz_{shard}")
    cat = ManifestCatalog(spark, f"file://{root}")
    if shard % 2:
        # fuzz batches are 4-10 rows — far under the sidecar
        # threshold — so odd shards force EVERY bloom into the r07
        # per-dir sidecar path (write, probe, rewrite-recompute,
        # vacuum) while even shards keep the inline path covered
        cat.BLOOM_SIDECAR_MIN_WORDS = 0
    for i in range(per_shard):
        seq = shard * per_shard + i
        _run_sequence(spark, cat, f"fz.t{seq:03d}", MASTER_SEED + seq)


# ---------------------------------------------------------------------------
# Bucketed surface (what the IVF / dedup / text-index stores sit on):
# append_bucketed / optimize / vacuum / bucket-pruned reads / time
# travel, identity-bucketed on cell = id%5.
# ---------------------------------------------------------------------------

N_BUCKETED_SEQUENCES = int(os.environ.get("SPARK_GRAFT_FUZZ_BSEQS", "40"))
N_CELLS = 5


def _mk_bucketed_batch(spark, rng: random.Random, next_id: int):
    n = rng.randint(4, 10)
    rows = [
        (next_id + j, rng.randrange(100), (next_id + j) % N_CELLS)
        for j in range(n)
    ]
    pdf = pd.DataFrame(
        {
            "id": [r[0] for r in rows],
            "val": [r[1] for r in rows],
            "cell": [r[2] for r in rows],
        }
    )
    return spark.createDataFrame(pdf).coalesce(1), rows, next_id + n


def _run_bucketed_sequence(spark, cat: ManifestCatalog, tbl: str, seed: int):
    rng = random.Random(seed)
    model: list[tuple] = []  # (id, val, cell)
    snapshots: dict[int, list[tuple]] = {}
    oplog: list[str] = []
    next_id = 0

    def snap():
        vs = cat._versions(tbl)
        if vs:
            snapshots[vs[-1]] = list(model)

    def bappend():
        nonlocal next_id, model
        df, rows, next_id = _mk_bucketed_batch(spark, rng, next_id)
        cat.append_bucketed(df, tbl, N_CELLS, ["cell"], bucket_fn="identity")
        model.extend(rows)
        oplog.append(f"bappend({len(rows)})")

    bappend()
    snap()
    for _ in range(rng.randint(2, 5)):
        op = rng.choices(
            ["append", "optimize", "vacuum", "timetravel", "bucket_read",
             "check"],
            weights=[28, 10, 10, 8, 14, 10],
        )[0]
        if op == "append":
            bappend()
        elif op == "optimize":
            cat.optimize(tbl)
            oplog.append("optimize")
        elif op == "vacuum":
            cat.vacuum(tbl, min_age_seconds=0)
            retained = set(cat._versions(tbl)[-1:])
            for v in [v for v in snapshots if v not in retained]:
                del snapshots[v]
            oplog.append("vacuum")
        elif op == "timetravel" and snapshots:
            v = rng.choice(sorted(snapshots))
            oplog.append(f"timetravel({v})")
            _check(cat, tbl, snapshots[v], seed, oplog, version=v,
                   cols=("id", "val", "cell"))
        elif op == "bucket_read":
            b = rng.randrange(N_CELLS)
            got = _collect(cat.read(tbl, buckets=[b]),
                           cols=("id", "val", "cell"))
            want = _sorted([r for r in model if r[2] == b])
            oplog.append(f"bucket_read({b})")
            assert got == want, f"seed={seed} ops={oplog}"
        elif op == "check":
            oplog.append("check")
            _check(cat, tbl, model, seed, oplog, cols=("id", "val", "cell"))
        snap()
    oplog.append("final-check")
    _check(cat, tbl, model, seed, oplog, cols=("id", "val", "cell"))


@pytest.mark.parametrize("shard", range(N_SHARDS))
def test_manifest_bucketed_fuzz(spark, tmp_path_factory, shard):
    per_shard = (N_BUCKETED_SEQUENCES + N_SHARDS - 1) // N_SHARDS
    root = tmp_path_factory.mktemp(f"bucketed_fuzz_{shard}")
    cat = ManifestCatalog(spark, f"file://{root}")
    for i in range(per_shard):
        seq = shard * per_shard + i
        _run_bucketed_sequence(spark, cat, f"bz.t{seq:03d}", MASTER_SEED + seq)


# ---------------------------------------------------------------------------
# Two-writer concurrency (VERDICT r07 #6): both writers run CAS
# append/delete loops against ONE table from separate catalog
# instances (separate caches — as two processes would). The model
# accepts any serialization consistent with commit order, which is
# deterministic here by construction: writers own DISJOINT key
# ranges and only delete keys they appended earlier in their own
# program order, so the final content is interleaving-independent —
# what the fuzz actually checks is that no CAS rebase ever LOSES the
# other writer's dirs (lost update) and that the version chain stays
# dense.
# ---------------------------------------------------------------------------

N_TWO_WRITER_SEQUENCES = int(os.environ.get("SPARK_GRAFT_FUZZ_2W", "24"))


def _writer_program(rng: random.Random, base: int):
    """(op, payload) list for one writer: appends of disjoint-range
    batches, plus deletes of its OWN earlier keys."""
    ops, appended, nxt = [], [], base
    for _ in range(rng.randint(3, 5)):
        if appended and rng.random() < 0.35:
            vals = rng.sample(appended, min(len(appended), rng.randint(1, 3)))
            ops.append(("delete", vals))
            appended = [k for k in appended if k not in vals]
        else:
            n = rng.randint(3, 8)
            batch = list(range(nxt, nxt + n))
            nxt += n
            ops.append(("append", batch))
            appended += batch
    return ops, set(appended)


@pytest.mark.parametrize("shard", range(2))
def test_two_writer_cas_fuzz(spark, tmp_path_factory, shard):
    import threading

    per_shard = (N_TWO_WRITER_SEQUENCES + 1) // 2
    root = tmp_path_factory.mktemp(f"two_writer_{shard}")
    for i in range(per_shard):
        seed = MASTER_SEED + 7000 + shard * per_shard + i
        rng = random.Random(seed)
        tbl = f"tw.t{shard}_{i:03d}"
        cats = [ManifestCatalog(spark, f"file://{root}") for _ in range(2)]
        progs = [_writer_program(rng, 0), _writer_program(rng, 10_000)]
        errors: list = []

        def run(w: int) -> None:
            cat, (ops, _) = cats[w], progs[w]
            try:
                for op, payload in ops:
                    if op == "append":
                        pdf = pd.DataFrame(
                            {"id": payload,
                             "val": [k % 97 for k in payload]}
                        )
                        cat.append(
                            spark.createDataFrame(pdf).coalesce(1), tbl,
                            stats_cols=["id"], bloom_cols=["id"],
                        )
                    else:
                        cat.delete_where(tbl, "id", payload)
            except Exception as e:  # surfaced below with the seed
                errors.append((w, e))

        threads = [threading.Thread(target=run, args=(w,)) for w in (0, 1)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, f"seed={seed} errors={errors}"

        reader = ManifestCatalog(spark, f"file://{root}")
        want = sorted(progs[0][1] | progs[1][1])
        got = sorted(r["id"] for r in reader.read(tbl).select("id").collect())
        assert got == want, f"seed={seed}\ngot={got}\nwant={want}"
        # version chain dense: every CAS claimed exactly latest+1
        vs = reader._versions(tbl)
        assert vs == list(range(1, len(vs) + 1)), f"seed={seed} versions={vs}"
        n_commits = sum(len(p[0]) for p in progs)
        # every op that changed state committed exactly one version;
        # deletes that matched nothing may skip a commit
        assert len(vs) <= n_commits, f"seed={seed}"
        # point reads still exact through blooms after racing
        probe = next(iter(progs[0][1] | progs[1][1]), None)
        if probe is not None:
            got_p = [r["id"] for r in
                     reader.read_point(tbl, "id", probe).collect()]
            assert got_p == [probe], f"seed={seed} probe={probe} got={got_p}"


@pytest.mark.parametrize("shard", range(2))
def test_two_writer_bucketed_cas_fuzz(spark, tmp_path_factory, shard):
    """Two-writer concurrency on the BUCKETED surface — what the
    IVF / dedup / text-index stores sit on: racing append_bucketed
    calls CAS-merge per-bucket dir lists AND read-modify-write an
    extras_fn counter (the ivf_store cell_counts contract). Writers
    own disjoint id ranges, so the final content and per-cell counts
    are interleaving-independent; what can break is a lost bucket-dir
    merge or a clobbered counter increment on CAS retry."""
    import threading

    per_shard = 6
    root = tmp_path_factory.mktemp(f"two_writer_bk_{shard}")
    for i in range(per_shard):
        seed = MASTER_SEED + 9000 + shard * per_shard + i
        rng = random.Random(seed)
        tbl = f"twb.t{shard}_{i:03d}"
        cats = [ManifestCatalog(spark, f"file://{root}") for _ in range(2)]
        progs = []
        for w in range(2):
            base, batches = w * 10_000, []
            for _ in range(rng.randint(2, 4)):
                n = rng.randint(4, 9)
                batches.append(list(range(base, base + n)))
                base += n
            progs.append(batches)
        errors: list = []

        def run(w: int) -> None:
            try:
                for batch in progs[w]:
                    pdf = pd.DataFrame(
                        {"id": batch, "cell": [k % N_CELLS for k in batch]}
                    )
                    counts: dict[str, int] = {}
                    for k in batch:
                        counts[str(k % N_CELLS)] = counts.get(str(k % N_CELLS), 0) + 1

                    def merge(cur, _counts=counts):
                        base = dict((cur or {}).get("cell_counts") or {})
                        for c, n in _counts.items():
                            base[c] = base.get(c, 0) + n
                        return {"cell_counts": base}

                    cats[w].append_bucketed(
                        spark.createDataFrame(pdf).coalesce(1), tbl,
                        N_CELLS, ["cell"], bucket_fn="identity", extras_fn=merge,
                    )
            except Exception as e:
                errors.append((w, e))

        threads = [threading.Thread(target=run, args=(w,)) for w in (0, 1)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, f"seed={seed} errors={errors}"

        reader = ManifestCatalog(spark, f"file://{root}")
        want = sorted(k for p in progs for b in p for k in b)
        got = sorted(r["id"] for r in reader.read(tbl).select("id").collect())
        assert got == want, f"seed={seed}\ngot={got}\nwant={want}"
        m = reader.latest_manifest(tbl)
        model_counts: dict[str, int] = {}
        for k in want:
            model_counts[str(k % N_CELLS)] = model_counts.get(str(k % N_CELLS), 0) + 1
        assert {c: int(n) for c, n in (m.get("cell_counts") or {}).items()
                if int(n)} == model_counts, f"seed={seed}"
        # bucket-pruned read equals the model filtered to that cell
        cell = rng.randrange(N_CELLS)
        got_c = sorted(
            r["id"] for r in reader.read(tbl, buckets=[cell]).select("id").collect()
        )
        assert got_c == [k for k in want if k % N_CELLS == cell], f"seed={seed}"
        vs = reader._versions(tbl)
        assert vs == list(range(1, len(vs) + 1)), f"seed={seed} versions={vs}"


# ---------------------------------------------------------------------------
# Maintenance races (VERDICT r08 #6): the riskiest interleavings are
# compaction/GC replacing dirs a concurrent commit references. Writer
# A runs a content-changing program (appends + deletes of its own
# keys); writer B concurrently hammers optimize / maybe_optimize /
# vacuum from a SEPARATE catalog instance. Maintenance is
# content-neutral, so the final content is interleaving-independent
# (= A's program result) under ANY serialization consistent with
# commit order; what can break is optimize basing its rewrite on a
# version a concurrent delete replaced (resurrecting deleted rows),
# a compaction dropping a racing append's dirs on CAS rebase, or
# vacuum collecting a dir the winning manifest references. Vacuum
# runs with the writer-safe age floor DURING the race
# (min_age_seconds=0 is single-writer-only by documented contract —
# it would collect in-flight writers' dirs), then once more with age
# 0 after quiescence to prove the surviving state is GC-clean.
# ---------------------------------------------------------------------------

N_MAINT_SEQUENCES = int(os.environ.get("SPARK_GRAFT_FUZZ_MAINT", "12"))


@pytest.mark.parametrize("shard", range(2))
def test_maintenance_race_fuzz(spark, tmp_path_factory, shard):
    import threading

    per_shard = (N_MAINT_SEQUENCES + 1) // 2
    root = tmp_path_factory.mktemp(f"maint_race_{shard}")
    for i in range(per_shard):
        seed = MASTER_SEED + 11_000 + shard * per_shard + i
        rng = random.Random(seed)
        tbl = f"mr.t{shard}_{i:03d}"
        cats = [ManifestCatalog(spark, f"file://{root}") for _ in range(2)]
        prog, live = _writer_program(rng, 0)
        # seed one committed version so B's first maintenance call
        # has a table to operate on
        first_op, first_payload = prog[0]
        assert first_op == "append"
        pdf = pd.DataFrame(
            {"id": first_payload, "val": [k % 97 for k in first_payload]}
        )
        cats[0].append(
            spark.createDataFrame(pdf).coalesce(1), tbl,
            stats_cols=["id"], bloom_cols=["id"],
        )
        maint_ops = [
            rng.choice(["optimize", "maybe_optimize", "vacuum"])
            for _ in range(rng.randint(3, 5))
        ]
        errors: list = []

        def run_writer() -> None:
            try:
                for op, payload in prog[1:]:
                    if op == "append":
                        p = pd.DataFrame(
                            {"id": payload, "val": [k % 97 for k in payload]}
                        )
                        cats[0].append(
                            spark.createDataFrame(p).coalesce(1), tbl,
                            stats_cols=["id"], bloom_cols=["id"],
                        )
                    else:
                        cats[0].delete_where(tbl, "id", payload)
            except Exception as e:
                errors.append(("writer", e))

        def run_maint() -> None:
            try:
                for op in maint_ops:
                    if op == "optimize":
                        # the compacted dir re-derives stats+blooms over
                        # content that may include a racing commit
                        cats[1].optimize(tbl)
                    elif op == "maybe_optimize":
                        cats[1].maybe_optimize(tbl, max_dirs=1)
                    else:
                        cats[1].vacuum(tbl)
            except Exception as e:
                errors.append(("maint", e))

        threads = [
            threading.Thread(target=run_writer),
            threading.Thread(target=run_maint),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, f"seed={seed} ops={maint_ops} errors={errors}"

        reader = ManifestCatalog(spark, f"file://{root}")
        want = sorted(live)
        got = sorted(
            r["id"] for r in reader.read(tbl).select("id").collect()
        )
        assert got == want, (
            f"seed={seed} maint={maint_ops}\ngot={got}\nwant={want}"
        )
        vs = reader._versions(tbl)
        assert vs == sorted(vs) and len(vs) == len(set(vs)), (
            f"seed={seed} versions={vs}"
        )
        # point reads still exact through stats/blooms after
        # compaction raced the commits
        probe = want[0] if want else None
        if probe is not None:
            got_p = [
                r["id"]
                for r in reader.read_point(tbl, "id", probe).collect()
            ]
            assert got_p == [probe], f"seed={seed} probe={probe} got={got_p}"
        # quiesced full GC: everything the latest manifest references
        # must survive an aggressive vacuum, and content be unchanged
        reader.vacuum(tbl, min_age_seconds=0)
        got2 = sorted(
            r["id"] for r in reader.read(tbl).select("id").collect()
        )
        assert got2 == want, f"seed={seed} post-vacuum\ngot={got2}"


@pytest.mark.parametrize("shard", range(2))
def test_maintenance_race_bucketed_fuzz(spark, tmp_path_factory, shard):
    """Maintenance racing the BUCKETED surface: writer A streams
    append_bucketed batches (the IVF/dedup/text-index ingest shape)
    while B compacts and GCs. Optimize on a bucketed table must
    rebase per-bucket dir lists without losing a racing append's
    subdirs or dropping the identity-bucket contract / extras."""
    import threading

    per_shard = 3
    root = tmp_path_factory.mktemp(f"maint_race_bk_{shard}")
    for i in range(per_shard):
        seed = MASTER_SEED + 13_000 + shard * per_shard + i
        rng = random.Random(seed)
        tbl = f"mrb.t{shard}_{i:03d}"
        cats = [ManifestCatalog(spark, f"file://{root}") for _ in range(2)]
        batches, base = [], 0
        for _ in range(rng.randint(3, 5)):
            n = rng.randint(4, 9)
            batches.append(list(range(base, base + n)))
            base += n
        # seed one committed version
        def bappend(batch):
            pdf = pd.DataFrame(
                {"id": batch, "cell": [k % N_CELLS for k in batch]}
            )
            cats[0].append_bucketed(
                spark.createDataFrame(pdf).coalesce(1), tbl,
                N_CELLS, ["cell"], bucket_fn="identity",
            )

        bappend(batches[0])
        maint_ops = [
            rng.choice(["optimize", "maybe_optimize", "vacuum"])
            for _ in range(rng.randint(2, 4))
        ]
        errors: list = []

        def run_writer() -> None:
            try:
                for batch in batches[1:]:
                    bappend(batch)
            except Exception as e:
                errors.append(("writer", e))

        def run_maint() -> None:
            try:
                for op in maint_ops:
                    if op == "optimize":
                        cats[1].optimize(tbl)
                    elif op == "maybe_optimize":
                        cats[1].maybe_optimize(tbl, max_dirs=1)
                    else:
                        cats[1].vacuum(tbl)
            except Exception as e:
                errors.append(("maint", e))

        threads = [
            threading.Thread(target=run_writer),
            threading.Thread(target=run_maint),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, f"seed={seed} ops={maint_ops} errors={errors}"

        reader = ManifestCatalog(spark, f"file://{root}")
        want = sorted(k for b in batches for k in b)
        got = sorted(
            r["id"] for r in reader.read(tbl).select("id").collect()
        )
        assert got == want, f"seed={seed}\ngot={got}\nwant={want}"
        # bucket-pruned read equals the model filtered to that cell —
        # compaction must not have broken the identity-bucket layout
        cell = rng.randrange(N_CELLS)
        got_c = sorted(
            r["id"]
            for r in reader.read(tbl, buckets=[cell]).select("id").collect()
        )
        assert got_c == [k for k in want if k % N_CELLS == cell], f"seed={seed}"
        reader.vacuum(tbl, min_age_seconds=0)
        got2 = sorted(
            r["id"] for r in reader.read(tbl).select("id").collect()
        )
        assert got2 == want, f"seed={seed} post-vacuum\ngot={got2}"
