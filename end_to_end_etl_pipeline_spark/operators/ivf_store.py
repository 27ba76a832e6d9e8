"""IVF-partitioned ANN storage: the physical-layout half of the IVF
search tier (`operators/similarity.cosine_topk_ivf` is the in-plan
half). The corpus is persisted with one manifest bucket dir per
coarse cell, and a top-k query READS only the probed cells' dirs —
the scan reduction stops being a plan-level filter and becomes
storage-level partition pruning, which is what makes IVF pay off at
100 TB (nprobe/cells of the bytes, not just of the rows).

Index build = one identity-bucketed write (rows with their PQ codes;
the codebook rides the manifest) + one tiny centroids table (cells ×
dim rows, `replace_atomic`). Query = rank cells against the stored
centroids, collect the probed cell ids (queries × nprobe ints —
model-parameter scale, like the PQ codebooks), manifest-read exactly
those bucket dirs, ADC on the stored codes, exact re-rank. Append,
compaction and rebalance keep the layout through the catalog's
bucket helpers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.similarity import label_centroids_array
from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog


def _centroid_literals(rows):
    """Literal-matrix re-entry of a collected coarse quantizer: rows
    are (label, pos, cv) centroid components — cells × dim doubles,
    model-parameter scale (kilobytes), the documented bounded-collect
    class. Returns (CL, LBL) Column exprs: CL a cells × dim nested
    double array in label-ascending order, LBL the matching label
    array."""
    vecs: dict[int, dict[int, float]] = {}
    for r in rows:
        vecs.setdefault(int(r["label"]), {})[int(r["pos"])] = float(r["cv"])
    labels = sorted(vecs)
    dim = max((max(v) for v in vecs.values()), default=0)
    cl_sql = "array(%s)" % ",".join(
        "array(%s)"
        % ",".join(f"{vecs[lab].get(p, 0.0)!r}d" for p in range(1, dim + 1))
        for lab in labels
    )
    lbl_sql = "array(%s)" % ",".join(str(lab) for lab in labels)
    return F.expr(cl_sql), F.expr(lbl_sql)


def _fold_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _probe_cells_expr(CL, LBL, vec_col: str, nprobe: int):
    """Array-of-cells Column: this row's top-``nprobe`` coarse cells
    by cosine against the literal centroid matrix — one shuffle-free
    projection (dot/norms as sequential JVM folds, top-nprobe via
    array_sort on (-score, label) structs; 6dp rounding and label-asc
    tie-break, the shared routing contract)."""
    qv = F.col(vec_col).cast("array<double>")
    qn = F.sqrt(_fold_dot(qv, qv))
    scores = F.transform(
        CL,
        lambda c: F.round(_fold_dot(qv, c) / (qn * F.sqrt(_fold_dot(c, c))), 6),
    )
    packed = F.zip_with(
        scores, LBL, lambda s, lab: F.struct((-s).alias("ns"), lab.alias("lab"))
    )
    return F.transform(
        F.slice(F.array_sort(packed), 1, nprobe), lambda x: x["lab"]
    )


def _collect_probe(
    cent: DataFrame,
    queries: DataFrame,
    query_id: str,
    vec_col: str,
    nprobe: int,
    max_literal_rows: int = 1 << 16,
) -> list[tuple]:
    """Rank stored centroids per query (cosine 6dp, tie → label asc)
    and collect the (query_id, cell) probe assignment — queries ×
    nprobe pairs, model-parameter scale. Collected ONCE and re-entered
    as a literal frame so the ranking subplan never re-executes inside
    the scored join.

    Fast path: a coarse quantizer is usually tiny (cells × dim
    floats — kilobytes), so when the centroid table fits under
    ``max_literal_rows`` it is collected once and re-entered as a
    literal matrix; each query then ranks cells in ONE shuffle-free
    projection (dot/norms as sequential JVM folds, top-nprobe via
    array_sort on (-score, label) structs — same 6dp rounding and
    label-asc tie-break as the distributed path). The distributed
    join+window path below remains for quantizers too big to inline
    (e.g. 100k cells × 1k dims)."""
    rows = cent.limit(max_literal_rows + 1).collect()
    if len(rows) <= max_literal_rows:
        CL, LBL = _centroid_literals(rows)
        probe = _probe_cells_expr(CL, LBL, vec_col, nprobe)
        return [
            (r["query_id"], int(c))
            for r in queries.select(
                F.col(query_id).alias("query_id"), probe.alias("cells")
            ).collect()
            for c in r["cells"]
        ]
    qq = queries.select(
        F.col(query_id).alias("query_id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos0", "v"),
    ).select("query_id", (F.col("pos0") + 1).alias("pos"), "v")
    qcent = (
        qq.join(F.broadcast(cent), "pos")
        .groupBy("query_id", "label")
        .agg(
            F.sum(F.col("v") * F.col("cv")).alias("d"),
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("qn"),
            F.sqrt(F.sum(F.col("cv") * F.col("cv"))).alias("cn"),
        )
        .withColumn("score", F.round(F.col("d") / (F.col("qn") * F.col("cn")), 6))
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("label").asc()
    )
    return [
        (r["query_id"], int(r["label"]))
        for r in qcent.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "label")
        .collect()
    ]


def _written(catalog: ManifestCatalog, bucket_dirs: dict) -> DataFrame:
    """The rows one bucketed write just landed, read back from the
    data dir its subdirs share: a columnar scan of committed bytes is
    far cheaper than re-running the projection that produced them."""
    some = next(iter(bucket_dirs.values()))[0]
    return catalog.spark.read.parquet(some.rsplit("/", 1)[0])


def write_ivfpq_store(
    catalog: ManifestCatalog,
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    cell_col: str,
    cb,
    table: str,
    dim: int | None = None,
) -> None:
    """Persist the full IVFADC index: rows cell-partitioned (identity
    bucket = cell id; the cell column stays in the data, since bucket
    subdir reads drop the partition column) with their PQ
    codes PRE-COMPUTED alongside the raw vectors, the coarse centroids
    as a side table, and the codebook in the manifest (model
    parameters — a few KB of floats, exactly what a production index
    ships next to its data). A top-k query then needs NO training, NO
    encoding pass: route → read probed cells' dirs → ADC on stored
    codes → re-rank on the same rows' raw vectors."""
    from end_to_end_etl_pipeline_spark.operators.pq import pq_encode

    df = pq_encode(
        corpus.select(
            F.col(corpus_id),
            F.col(vec_col),
            F.col(cell_col).cast("int").alias("cell"),
        ),
        vec_col,
        cb,
    )
    bucket_dirs = catalog._write_buckets(df, table, ["cell"], fn="identity")
    # per-cell row counts ride the manifest (cells-scale metadata):
    # the adaptive probe's candidate-count floor is then a pure
    # driver-side arithmetic over the manifest — no corpus touch at
    # query time. Counted from the written store, not the input plan:
    # the numbers are exactly what a reader will see, AND a columnar
    # cell-only scan of the just-written files is far cheaper than
    # re-running the PQ-encode projection over the corpus.
    cell_counts = {
        str(int(r["cell"])): int(r["n"])
        for r in _written(catalog, bucket_dirs)
        .groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    catalog._commit(
        table,
        {
            "dirs": None,
            "bucket_dirs": bucket_dirs,
            "n_buckets": len(bucket_dirs),
            "bucket_keys": ["cell"],
            "bucket_fn": "identity",
            "ivf_id_col": corpus_id,
            "ivf_vec_col": vec_col,
            "cell_counts": cell_counts,
            # JSON round-trips tuples as lists; read back via
            # _codebook_from_manifest which restores the (code,
            # centroid) pairing
            "pq_codebook": [
                [[int(code), [float(x) for x in cvec]] for code, cvec in cb_m]
                for cb_m in cb
            ],
        },
    )
    cent = label_centroids_array(
        corpus.select(F.col(cell_col).alias("label"), F.col(vec_col)),
        "label",
        vec_col,
        dim=dim,
    )
    catalog.replace_atomic(cent, f"{table}__centroids")


def ivf_assign_cells(
    cent: DataFrame,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    max_literal_rows: int = 1 << 16,
) -> DataFrame:
    """Nearest-stored-centroid cell assignment, fully IN-PLAN: append
    ``cell`` (int) to every row of ``df`` without collecting any
    assignment to the driver — the ingest-side counterpart of the
    query router (same cosine/6dp/label-asc contract, so a vector
    routes to the cell it was stored in).

    Fast path: the coarse quantizer is collected once (cells × dim
    floats — kilobytes, model-parameter scale) and re-entered as a
    literal matrix; assignment is then one shuffle-free projection
    over the batch, which is what lets a 100-TB ingest assign cells
    at scan speed. Quantizers too big to inline fall back to a
    distributed explode-join-window plan keyed on ``id_col``."""
    rows = cent.limit(max_literal_rows + 1).collect()
    if len(rows) <= max_literal_rows:
        CL, LBL = _centroid_literals(rows)
        top1 = _probe_cells_expr(CL, LBL, vec_col, nprobe=1)
        return df.withColumn("cell", F.element_at(top1, 1).cast("int"))
    ex = df.select(
        F.col(id_col).alias("__aid"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos0", "v"),
    ).select("__aid", (F.col("pos0") + 1).alias("pos"), "v")
    # no broadcast hint: this branch only runs when the quantizer is
    # TOO BIG to collect as literals (> max_literal_rows), so at the
    # quoted scale (100k cells × 1k dims = 100M (label,pos,cv) rows)
    # a forced broadcast would OOM the executors — let AQE pick, or
    # shuffle-join on pos
    scored = (
        ex.join(cent, "pos")
        .groupBy("__aid", "label")
        .agg(
            F.sum(F.col("v") * F.col("cv")).alias("d"),
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("qn"),
            F.sqrt(F.sum(F.col("cv") * F.col("cv"))).alias("cn"),
        )
        .withColumn("score", F.round(F.col("d") / (F.col("qn") * F.col("cn")), 6))
    )
    w = Window.partitionBy("__aid").orderBy(
        F.col("score").desc(), F.col("label").asc()
    )
    assign = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__aid").alias(id_col), F.col("label").cast("int").alias("cell")
        )
    )
    return df.join(assign, id_col)


def append_ivfpq_store(
    catalog: ManifestCatalog,
    batch: DataFrame,
    table: str,
    cell_col: str | None = None,
    batch_id: int | None = None,
) -> bool:
    """Incremental IVFADC index maintenance: fold a batch of new
    vectors into the persisted store WITHOUT retraining — encode with
    the manifest's frozen codebook, assign coarse cells (nearest
    stored centroid via :func:`ivf_assign_cells`, or ``cell_col`` when
    the caller already owns an assignment), and CAS-append the rows
    into the cell bucket dirs (``append_bucketed``: untouched cells
    keep their dir lists verbatim, so probed-cell pruning never pays
    for appends elsewhere, and concurrent appends merge).

    Centroids and codebook stay FROZEN — the standard production
    trade (a moving quantizer would silently re-route existing rows);
    quantizer drift is handled by periodic re-train + full rewrite,
    not per batch. Consequence the tests pin: appending in any batch
    split yields byte-identical query results to a write-once store
    over the union.

    ``batch_id`` (streaming bridge): appends are additive, so an
    at-least-once replay would double rows — pass the micro-batch id
    and the append is skipped (returns False) when the manifest's
    ``ann_last_batch_id`` marker says it was already applied; the
    marker rides the SAME manifest commit as the dir merge, so there
    is no window where data landed but the marker didn't. Returns
    True when the batch was applied."""
    from end_to_end_etl_pipeline_spark.operators.pq import pq_encode

    manifest = catalog.latest_manifest(table)
    if manifest is None or manifest.get("bucket_fn") != "identity":
        raise ValueError(
            f"table {table} is not an IVF store (write_ivfpq_store first)"
        )
    if batch_id is not None:
        last = manifest.get("ann_last_batch_id")
        if last is not None and last >= batch_id:
            return False
    cb = _codebook_from_manifest(manifest)
    id_col = manifest["ivf_id_col"]
    vec_col = manifest["ivf_vec_col"]
    # the stored schema is the contract: a feed delivering a different
    # vector precision (float vs double is the classic) must cast to
    # it, or the parquet dirs stop schema-merging — and the batch's
    # codes are then computed from exactly what the store will hold
    stored_vec_type = catalog.read(table).schema[vec_col].dataType
    batch = batch.withColumn(vec_col, F.col(vec_col).cast(stored_vec_type))
    if cell_col is None:
        cent = _routing_centroids(catalog, table, manifest)
        batch = ivf_assign_cells(cent, batch, id_col, vec_col)
        cell_col = "cell"
    df = pq_encode(
        batch.select(
            F.col(id_col),
            F.col(vec_col),
            F.col(cell_col).cast("int").alias("cell"),
        ),
        vec_col,
        cb,
    )
    # batch's per-cell counts, merged into the manifest's running
    # cell_counts INSIDE the CAS loop (extras_fn) so concurrent
    # appends can't clobber each other's increments — keeps the
    # adaptive probe's metadata exact across any append interleaving
    # persist the encoded batch: it is consumed twice (the count
    # collect below, then the parquet write inside append_bucketed) —
    # without the cache the PQ-encode projection would run twice per
    # micro-batch
    df = df.persist()
    batch_counts = {
        str(int(r["cell"])): int(r["n"])
        for r in df.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    def _merge_counts(cur: dict | None) -> dict:
        base = dict((cur or {}).get("cell_counts") or {})
        for cell, n in batch_counts.items():
            base[cell] = base.get(cell, 0) + n
        return {"cell_counts": base}

    try:
        catalog.append_bucketed(
            df,
            table,
            manifest["n_buckets"],
            ["cell"],
            bucket_fn="identity",
            extras_update=(
                {"ann_last_batch_id": int(batch_id)} if batch_id is not None else None
            ),
            extras_fn=_merge_counts,
        )
    finally:
        df.unpersist()
    return True


def _patch_rows(patch: dict) -> list[tuple[int, int, float]]:
    """(label, pos, cv) triples from a ``centroid_patch`` manifest
    entry ({str(label): [component,...]}, JSON round-tripped)."""
    return [
        (int(lab), p + 1, float(v))
        for lab, vec in patch.items()
        for p, v in enumerate(vec)
    ]


def _patch_frame(catalog: "ManifestCatalog", table: str, patch: dict) -> DataFrame:
    """Centroid-component frame for a patch, cast to the live
    ``__centroids`` schema (labels JSON-stringify; the table's label
    dtype is the contract). Arrow-sourced — a pickled Python-list
    frame costs seconds per job in local mode."""
    import pandas as pd

    cent_schema = catalog.read(f"{table}__centroids").schema
    pdf = pd.DataFrame(
        _patch_rows(patch), columns=["label", "pos", "cv"]
    )
    return catalog.spark.createDataFrame(pdf).select(
        F.col("label").cast(cent_schema["label"].dataType),
        F.col("pos").cast(cent_schema["pos"].dataType),
        F.col("cv").cast(cent_schema["cv"].dataType),
    )


def _routing_centroids(
    catalog: "ManifestCatalog", table: str, manifest: dict | None = None
) -> DataFrame:
    """The coarse router every read/append path must use: the
    ``__centroids`` side table OVERLAID with any pending
    ``centroid_patch`` from the data manifest. The patch commits
    ATOMICALLY with a rebalance's data manifest (same CAS), so even
    if the process died before the side-table refresh, every cell id
    the manifest references is routable — without the overlay a
    crash between the two commits would leave the new sub-cell
    invisible to every query and every centroid-routed append,
    permanently. Steady state (no pending patch — it is cleared once
    the refresh lands) returns the raw table: zero overhead."""
    cent = catalog.read(f"{table}__centroids")
    if manifest is None:
        manifest = catalog.latest_manifest(table)
    patch = (manifest or {}).get("centroid_patch") or {}
    if not patch:
        return cent
    return cent.filter(
        ~F.col("label").isin([int(lab) for lab in patch])
    ).unionByName(_patch_frame(catalog, table, patch))


def _apply_centroid_patch(catalog: "ManifestCatalog", table: str) -> None:
    """Fold a pending ``centroid_patch`` into the ``__centroids``
    side table, then clear the marker from the data manifest (CAS;
    a lost race to a concurrent append re-reads — appends carry the
    patch forward — and a crash anywhere re-runs idempotently: the
    refresh rewrites the same values, the overlay keeps queries
    correct until the clear lands)."""
    manifest = catalog.latest_manifest(table)
    patch = (manifest or {}).get("centroid_patch") or {}
    if not patch:
        return
    old = catalog.read(f"{table}__centroids").filter(
        ~F.col("label").isin([int(lab) for lab in patch])
    )
    catalog.replace_atomic(
        old.unionByName(_patch_frame(catalog, table, patch)),
        f"{table}__centroids",
    )
    for _ in range(4):
        m = catalog.latest_manifest(table)
        cur = (m or {}).get("centroid_patch") or {}
        if not cur:
            return
        # Clear ONLY the entries this process actually folded into
        # __centroids (same key AND same value). A concurrent
        # rebalance may have committed new patch entries between our
        # refresh and this clear; wiping the marker wholesale would
        # leave those sub-cells permanently unroutable once the other
        # process's own apply sees an empty patch and returns.
        remaining = {
            k: v for k, v in cur.items() if k not in patch or v != patch[k]
        }
        payload = {
            k: v for k, v in m.items() if k not in ("version", "centroid_patch")
        }
        if remaining:
            payload["centroid_patch"] = remaining
        if catalog._commit_if(table, payload, m["version"]) is not None:
            return
    # couldn't win the clear race: harmless — the patch values equal
    # the refreshed table, and every reader overlays it anyway


def rebalance_ivfpq_store(
    catalog: ManifestCatalog,
    table: str,
    max_cell_rows: int,
) -> dict[int, list[int]]:
    """Split hot cells — the maintenance leg that keeps probed-cell
    pruning effective as appends concentrate (write → append → compact
    → REBALANCE): every cell whose manifest ``cell_counts``
    exceeds ``max_cell_rows`` is 2-means-split
    (``pq_train(num_subspaces=1, num_centroids=2)`` over JUST that
    cell's rows — deterministic id%2 init + one Lloyd step,
    the engine's standard fixed-iteration playbook) and rewritten as
    two cells; the lower sub-cell keeps the old cell id so routing
    against a stale centroid snapshot still finds it.

    Change-proportional by construction: only the hot cells' bucket
    dirs are read or rewritten — every other cell's dir list, the
    codebook, and the PQ codes carry forward verbatim (codes are
    quantized from the RAW vectors, not centroid residuals, so a
    routing split can never invalidate them). Cost is
    O(hot-cell rows), not O(table).

    The data manifest commits first (CAS against concurrent appends;
    a lost race re-prunes and re-splits against the new manifest, the
    orphaned rewrite dir is vacuum-collected) and CARRIES the
    sub-cells' exact means as a ``centroid_patch`` entry in the SAME
    commit; the ``__centroids`` side table is then refreshed from the
    patch and the marker cleared. The pair is crash-recoverable by
    construction: every router (query, adaptive probe, streaming
    append) reads centroids through :func:`_routing_centroids`, which
    overlays any pending patch — so a crash (or a failed refresh job)
    between the two commits leaves the new sub-cell fully routable,
    and the next call folds the patch in on entry, before its hot-cell
    check (one manifest read when nothing is pending). The only
    window is mid-commit concurrency: a query BETWEEN the CAS and its
    own manifest read routes by the old snapshot and simply never
    probes the NEW sub-cell id (an approximate-recall blip, the same
    trade production ANN systems make during re-sharding; the kept-id
    sub-cell stays routable throughout).

    One pass: each hot cell splits once (a still-hot half needs
    another call — split cost doubles per pass, so callers control
    the rewrite budget). A cell whose rows all quantize to one
    sub-cell (e.g. duplicate vectors) is unsplittable and is left
    alone. Returns {old_cell: [kept_id, new_id]} for the cells that
    split (empty dict = nothing to do)."""
    from end_to_end_etl_pipeline_spark.operators.pq import pq_train

    # the repair point for a predecessor that died between its data
    # commit and its __centroids refresh
    _apply_centroid_patch(catalog, table)
    while True:
        manifest = catalog.latest_manifest(table)
        if manifest is None or manifest.get("bucket_fn") != "identity":
            raise ValueError(
                f"table {table} is not an IVF store (write_ivfpq_store first)"
            )
        counts = {
            int(c): int(n) for c, n in (manifest.get("cell_counts") or {}).items()
        }
        if not counts:
            raise ValueError(
                f"table {table} has no cell_counts — rebuild via "
                "write_ivfpq_store to enable rebalancing"
            )
        hot = sorted(c for c, n in counts.items() if n > max_cell_rows)
        if not hot:
            return {}
        id_col = manifest["ivf_id_col"]
        vec_col = manifest["ivf_vec_col"]
        bucket_dirs = dict(manifest["bucket_dirs"])
        next_id = max(counts) + 1
        new_counts = dict(counts)
        split_map: dict[int, list[int]] = {}
        patch_new: dict[str, list[float]] = {}  # sub-cell exact means
        for cell in hot:
            rows = catalog._read_dirs(manifest["bucket_dirs"][str(cell)])
            # 2-means over this cell only; assignment via the same
            # pq_encode machinery (M=1 → code IS the sub-cell), with
            # the store's real codes stashed aside
            from end_to_end_etl_pipeline_spark.operators.pq import pq_encode

            # train on a HASH-derived surrogate id: pq_train seeds its
            # Lloyd iteration by id%2, and a cell whose ids share
            # parity (exactly what a previous split leaves behind when
            # blobs correlate with id structure) would seed ONE group
            # and become unsplittable forever — hashing makes the init
            # parity structure-free while staying deterministic
            rows = rows.withColumn(
                "__split_sid", F.pmod(F.xxhash64(F.col(id_col)), F.lit(1 << 31))
            )
            cb2 = pq_train(
                rows, "__split_sid", vec_col,
                num_subspaces=1, num_centroids=2,
            )
            rows = rows.drop("__split_sid")
            new_id = next_id
            assigned = (
                pq_encode(
                    rows.withColumnRenamed("pq_codes", "__store_codes"),
                    vec_col,
                    cb2,
                )
                .withColumn(
                    "cell",
                    F.when(
                        F.element_at(F.col("pq_codes"), 1) == 0, F.lit(cell)
                    ).otherwise(F.lit(new_id)).cast("int"),
                )
                .drop("pq_codes")
                .withColumnRenamed("__store_codes", "pq_codes")
            )
            sub_dirs = catalog._write_buckets(
                assigned, table, ["cell"], fn="identity"
            )
            if len(sub_dirs) < 2:
                # unsplittable (all rows on one centroid): leave the
                # cell as it was; the orphan dir is vacuum's problem
                continue
            # counts AND exact sub-cell means in ONE agg over the
            # just-written rewrite dir (committed bytes on disk — a
            # concurrent vacuum can't touch a dir no manifest
            # references yet, and re-reading the parquet beats
            # re-running pq_encode over the OLD dirs); same
            # posexplode + avg + 6dp rounding as
            # ``label_centroids_array`` so the router stays
            # bit-identical with the write path's quantizer
            stat_rows = (
                _written(catalog, sub_dirs)
                .select(
                    "cell",
                    F.posexplode(
                        F.col(vec_col).cast("array<double>")
                    ).alias("pos0", "v"),
                )
                .groupBy("cell", (F.col("pos0") + 1).alias("pos"))
                .agg(
                    F.round(F.avg("v"), 6).alias("cv"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()  # 2 sub-cells × dim rows: model scale
            )
            sub_counts: dict[int, int] = {}
            sub_means: dict[int, dict[int, float]] = {}
            for r in stat_rows:
                c = int(r["cell"])
                sub_means.setdefault(c, {})[int(r["pos"])] = float(r["cv"])
                if int(r["pos"]) == 1:
                    sub_counts[c] = int(r["n"])
            bucket_dirs.update(sub_dirs)
            new_counts[cell] = sub_counts[cell]
            new_counts[new_id] = sub_counts[new_id]
            split_map[cell] = [cell, new_id]
            for c, comp in sub_means.items():
                patch_new[str(c)] = [comp[p] for p in sorted(comp)]
            next_id += 1
        if not split_map:
            return {}
        committed = catalog._commit_if(
            table,
            catalog._carried(manifest)
            | {
                "dirs": None,
                "bucket_dirs": bucket_dirs,
                "n_buckets": len(bucket_dirs),
                "cell_counts": {str(k): n for k, n in new_counts.items()},
                # the sub-cell means ride the SAME commit as the data:
                # routers overlay this patch until the __centroids
                # refresh lands, so no crash can orphan a cell id
                "centroid_patch": {
                    **(manifest.get("centroid_patch") or {}),
                    **patch_new,
                },
            },
            manifest["version"],
        )
        if committed is None:
            continue  # lost the race: re-prune against the new manifest
        # refresh the router side table from the committed patch and
        # clear the marker (idempotent; overlay covers any crash here)
        _apply_centroid_patch(catalog, table)
        return split_map


def _codebook_from_manifest(manifest: dict):
    return [
        [(int(code), [float(x) for x in cvec]) for code, cvec in cb_m]
        for cb_m in manifest["pq_codebook"]
    ]


def ivfpq_store_topk(
    catalog: ManifestCatalog,
    table: str,
    queries: DataFrame,
    query_id: str,
    vec_col: str,
    nprobe: int = 2,
) -> tuple[DataFrame, list[int]]:
    """IVFADC top-5 over the persisted index (each query's own id
    excluded): coarse-route against the
    stored centroids, read ONLY the probed cells' bucket dirs, ADC on
    the STORED codes (no training or encoding at query time), exact
    squared-L2 re-rank on the same probed rows' raw vectors. Returns
    ``(result, probed_cells)`` — result is (query_id, match_id, l2sq)
    like `operators/pq.ivfpq_topk`, and matches it exactly whenever
    the probe sets agree (same codebook, same rounding).

    The 100 TB shape this proves: the candidate scan is a
    storage-level dir prune (nprobe/cells of the BYTES), the scanned
    bytes are mostly code columns (the raw-vector column rides the
    same single scan but is exchanged only for shortlist rows — see
    the fused re-rank below), and query-time model state (codebook +
    centroids + probe pairs) is kilobytes."""
    from end_to_end_etl_pipeline_spark.operators.pq import (
        _adc_dist,
        _fold_l2sq,
        _query_dtable,
    )

    manifest = catalog.latest_manifest(table)
    cb = _codebook_from_manifest(manifest)
    id_col = manifest["ivf_id_col"]
    cent = _routing_centroids(catalog, table, manifest)
    probed_rows = _collect_probe(cent, queries, query_id, vec_col, nprobe)
    spark = queries.sparkSession
    from pyspark.sql.types import IntegerType, StructField, StructType

    qid_type = queries.schema[query_id].dataType
    probed = spark.createDataFrame(
        probed_rows,
        StructType(
            [
                StructField("query_id", qid_type, True),
                StructField("cell", IntegerType(), True),
            ]
        ),
    )
    cells = sorted({c for _, c in probed_rows})
    stored = catalog.read(table, buckets=cells)

    # Single-scan ADC + fused exact re-rank: candidates carry their
    # raw vector through the shortlist window, so the exact squared-L2
    # runs on the surviving rows in place — no second read of the
    # probed dirs, no shortlist join. WindowGroupLimit turns the
    # rank<=25 shortlist filter into partial per-partition top-k, so
    # the exchange carries at most 25 rows per query per map
    # partition (each +dim doubles wide — far cheaper than a second
    # scan + broadcast join at any probe fraction). Both windows
    # partition on query_id, so the re-rank reuses the same exchange.
    dtable = _query_dtable(vec_col, cb)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        dtable.alias("__dt"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    c = stored.select(
        F.col(id_col).alias("match_id"),
        "pq_codes",
        "cell",
        F.col(vec_col).cast("array<double>").alias("__cv"),
    )
    scored = (
        c.join(F.broadcast(probed.join(q, "query_id")), "cell")
        .filter(F.col("match_id") != F.col("query_id"))
        .withColumn("adc_dist", F.round(_adc_dist(), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("match_id").asc()
    )
    short = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 25)
        .withColumn("l2sq", _fold_l2sq(F.col("__qv"), F.col("__cv")))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("l2sq").asc(), F.col("match_id").asc()
    )
    result = (
        short.withColumn("__rn2", F.row_number().over(w2))
        .filter(F.col("__rn2") <= 5)
        .select("query_id", "match_id", "l2sq")
    )
    return result, cells
