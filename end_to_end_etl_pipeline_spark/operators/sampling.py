"""Deterministic sampling, sharding, and sequence-packing operators
for training-data pipelines (BASELINE.json north star; the reference
has no sampling surface).

Everything here is **content-addressed, RNG-free**: the unit of
randomness is ``md5(id)`` truncated to 32 bits, so every engine,
every rerun, and every scale factor assigns the same row to the same
shard/split/bin. That property is what makes train/val/test splits
reproducible across backfills and lets a DuckDB oracle replay the
assignment exactly (`rand()`-based sampling can never be verified
cross-engine).

Scale notes: shard/split assignment is a pure projection (zero
shuffles, whole-stage codegen). Packing is one window per shard —
shards are the parallelism unit, so the caller shards first and the
1000-executor cluster packs 1000+ shards independently; no global
sort ever happens.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(col: Column, modulus: int) -> Column:
    """``md5(id)``'s first 8 hex digits as a 32-bit int, mod
    ``modulus``. The stable scalar behind every operator in this
    module; portable to any engine with md5 (DuckDB replays it with
    a per-nibble ``instr`` sum — see the query oracles)."""
    h = F.md5(F.encode(col.cast("string"), "utf-8"))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % modulus).cast(
        "bigint"
    )


def hash_shard(df: DataFrame, id_col: str, n_shards: int) -> DataFrame:
    """Stamp each row with its deterministic ``shard`` in
    ``[0, n_shards)``.

    Shards are the unit of downstream parallelism (packing, per-shard
    file writes, distributed tokenizer jobs): hash-based so adding
    data never reassigns existing rows, unlike round-robin."""
    return df.withColumn("shard", hash_bucket(F.col(id_col), n_shards))


def split_assign(
    df: DataFrame,
    id_col: str,
    splits: Sequence[tuple[str, int]],
) -> DataFrame:
    """Deterministic train/val/test assignment into ``split``:
    ``splits`` is ``[(name, weight), ...]`` with weights summing to
    10,000; a row lands in the split whose cumulative weight range
    contains ``hash_bucket(id, 10000)``.

    Content-addressed, so the split is stable under re-runs,
    appends, and repartitioning — the property that prevents
    train/test leakage when the corpus is rebuilt."""
    total = sum(w for _, w in splits)
    if total != 10_000:
        raise ValueError(f"split weights sum to {total}, expected 10000")
    b = hash_bucket(F.col(id_col), 10_000)
    expr = None
    upper = 0
    for name, w in splits[:-1]:
        upper += w
        expr = F.when(b < upper, F.lit(name)) if expr is None else expr.when(
            b < upper, F.lit(name)
        )
    last = F.lit(splits[-1][0])
    return df.withColumn("split", last if expr is None else expr.otherwise(last))


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    shard_col: str | None = None,
) -> DataFrame:
    """Greedy contiguous sequence packing into ``bin``: within each shard, rows
    ordered by id are laid end-to-end and cut into bins of
    ``budget`` tokens — ``bin = floor(exclusive_prefix_sum /
    budget)``. A document straddling a boundary stays in the bin its
    first token falls in (streaming-concat packing, the standard
    pretraining batcher shape).

    One window per shard, no global sort: with ``shard_col`` set
    (always, at scale — use :func:`hash_shard`) every shard packs
    independently on its own executor. ``shard_col=None`` collapses
    to a single partition and exists for small corpora/tests only.
    """
    part = [F.col(shard_col)] if shard_col else [F.lit(0)]
    w = (
        Window.partitionBy(*part)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prefix = F.sum(F.col(token_col)).over(w) - F.col(token_col)
    return df.withColumn("bin", F.floor(prefix / budget).cast("bigint"))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
) -> DataFrame:
    """Deterministic per-stratum downsampling: a row survives iff
    ``hash_bucket(id, 10000) < rate[stratum] · 10000`` — the language/
    source rebalancing pass (downsample the dominant stratum, keep
    every row of a stratum without a rate), with all of
    :func:`hash_bucket`'s reproducibility guarantees. Unlike
    ``DataFrame.sampleBy`` the kept SET is stable across reruns,
    partitionings, and engines — so the sampled corpus is itself
    content-addressed.

    Pure filter projection: zero shuffles, combines with its
    neighbors into one codegen stage."""
    denom = 10_000
    b = hash_bucket(F.col(id_col), denom)
    thr = None
    for name, r in rates.items():
        t = F.lit(int(round(r * denom)))
        thr = (
            F.when(F.col(strata_col) == name, t)
            if thr is None
            else thr.when(F.col(strata_col) == name, t)
        )
    default = F.lit(denom)
    thr = default if thr is None else thr.otherwise(default)
    return df.filter(b < thr)


def group_capped_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    cap: int,
    out_rank: str | None = None,
) -> DataFrame:
    """Bounded-contributor sampling: keep at most ``cap`` rows per
    group, chosen by md5-hash order of the id (content-addressed like
    everything in this module — the kept set never changes across
    reruns or engines, and adding NEW rows to a group only ever
    evicts from the hash-order tail). The crawl-balancing primitive:
    cap documents per domain/source so no single origin dominates the
    training mix.

    One shuffle on the group key; WindowGroupLimit pushes the rank
    filter into per-partition partial top-k, so the exchange carries
    at most ``cap`` rows per map partition per group. A pathological
    mega-group therefore costs (map_partitions x cap), not its full
    row count — the same bound a salted two-phase top-k would give,
    without the second shuffle."""
    h = F.md5(F.encode(F.col(id_col).cast("string"), "utf-8"))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    rk = F.row_number().over(w)
    out = df.withColumn(out_rank or "__rk", rk).filter(F.col(out_rank or "__rk") <= cap)
    return out if out_rank else out.drop("__rk")


def dsir_logratio_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
) -> DataFrame:
    """DSIR-style importance scoring for data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): fit two hashed bag-of-ngram unigram models — one on
    the rows where ``target`` is true (the domain you want more of),
    one on the WHOLE raw corpus — and score every document by its
    mean per-feature log-likelihood ratio ``ln p_target(f) −
    ln p_raw(f)``. Documents that look like the target domain score
    positive; resampling by these weights (e.g. feeding them to the
    Efraimidis–Spirakis draw in :func:`weighted_doc_sample`'s shape)
    tilts a raw crawl toward the target distribution.

    Features are unigrams + word bigrams hashed into 1,024 buckets
    (md5, deterministic — any engine replays the bucketing), each
    model is add-one smoothed over the bucket space, and the
    two models collapse into ONE 1,024-row table holding
    (bucket, raw_count, target_count): a single map-side-partial
    aggregation over the feature stream, then the log-ratio table —
    model-parameter scale, like the PQ codebooks — broadcasts back
    into a second feature pass for scoring. Two scans of the corpus
    total (train + score, exactly DSIR's own shape), no shuffle that
    grows with vocabulary, no Python rows.

    Returns (id, n_feats, dsir_avg_logratio, keep) — the per-feature
    MEAN ratio (decimal-routed, 4dp) so long documents don't
    dominate by length alone; ``keep`` is the sign. Documents with no
    tokens have no features and are absent."""
    dim = 1024
    words = F.filter(F.split(F.col(text_col), " "), lambda w: F.length(w) > 0)
    n = F.size(words)
    bigrams = F.when(
        n < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(words, i), F.element_at(words, i + 1)
            ),
        )
    )
    feats = df.select(
        F.col(id_col),
        target.alias("__t"),
        F.explode(F.concat(words, bigrams)).alias("__gram"),
    ).select(
        id_col,
        "__t",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("d:"), F.col("__gram"))), 1, 8),
                16, 10,
            ).cast("long") % dim
        ).cast("int").alias("__bucket"),
    )
    model = feats.groupBy("__bucket").agg(
        F.count(F.lit(1)).alias("__cr"),
        F.count(F.when(F.col("__t"), F.lit(1))).alias("__ct"),
    )
    totals = model.agg(
        F.sum("__cr").alias("__nr"), F.sum("__ct").alias("__nt")
    )
    lr = (
        model.crossJoin(F.broadcast(totals))
        .select(
            "__bucket",
            (
                F.log((F.col("__ct") + F.lit(1.0)) / (F.col("__nt") + dim))
                - F.log((F.col("__cr") + F.lit(1.0)) / (F.col("__nr") + dim))
            ).alias("__lr"),
        )
    )
    return (
        feats.join(F.broadcast(lr), "__bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.avg("__lr").cast("decimal(20,10)"), 4)
            .cast("double")
            .alias("dsir_avg_logratio"),
        )
        # keep derives from the ROUNDED score, so any engine that
        # reproduces the score reproduces the decision bit-for-bit
        .withColumn("keep", F.col("dsir_avg_logratio") > 0)
    )
