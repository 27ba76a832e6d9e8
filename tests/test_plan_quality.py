"""Physical-plan regression guards: the scale properties the engine
promises (filter pushdown to the parquet scan, broadcast of
dimension tables, bounded shuffle counts, no Python row UDFs in
codegen paths) asserted against `.explain`, so a future edit that
silently degrades a plan fails here long before it shows up at
100 TB.

These assert plan *structure*, not timings — stable across machines.
"""

import re

import pytest
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.queries.catalog import (
    REGISTRY,
    TABLE_SCHEMAS,
    load,
)
from tests.conftest import TESTDATA

SF = f"{TESTDATA}/sf0.01"


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].spark(spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_pricing_summary_pushes_date_filter(spark):
    plan = _plan(spark, "pricing_summary")
    assert re.search(r"PushedFilters: \[.*l_shipdate", plan), (
        "shipdate band must reach the lineitem scan"
    )


def test_two_level_money_aggs_shuffle_partials_only(spark):
    """The r11 two-level exact-money form (pricing_summary /
    promo_revenue_ratio) must keep its level-1 aggregate map-side:
    the only exchanges in the plan carry (group x partition) partial
    rows or the final tiny group set — never the fact rows. Guarded
    structurally: hashpartitioning on a key set that includes __pid
    means the level-1 shuffle moves partials (each input partition
    emits <= n_groups rows for its own pid), and row-level work stays
    inside the scan-side WholeStageCodegen."""
    for name in ("pricing_summary", "promo_revenue_ratio"):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "SPARK_PARTITION_ID()" in plan, (
            f"{name}: the two-level partial key is gone — the exact "
            "sums fell back to row-level decimal aggregation"
        )
        # the level-1 aggregate must still run map-side on the fact
        # rows; since r12 the money partials are try_sum (overflow ->
        # NULL -> loud merge-side raise_error instead of a silent
        # wrap, r11 ADVICE), so the partial shows as partial_try_sum
        assert "partial_try_sum" in plan, (
            f"{name}: level-1 money partials lost their overflow "
            "check (try_sum)"
        )
        assert "raise_error" in plan, (
            f"{name}: merge-side overflow guard gone"
        )


def test_revenue_by_nation_broadcasts_dims(spark):
    plan = _plan(spark, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    # nation+region must be broadcast, never shuffled as join sides
    assert plan.count("BroadcastExchange") >= 2


def test_q5_shape_pushdown_and_broadcast(spark):
    plan = _plan(spark, "local_supplier_volume")
    assert re.search(r"PushedFilters: \[.*o_orderdate", plan)
    assert re.search(r"PushedFilters: \[.*EqualTo\(r_name,ASIA", plan)
    assert "BroadcastHashJoin" in plan


def test_q10_shape_pushes_returnflag(spark):
    plan = _plan(spark, "returned_item_revenue")
    assert re.search(r"PushedFilters: \[.*EqualTo\(l_returnflag,R", plan)
    # global top-20 must be TakeOrderedAndProject, not a full sort
    assert "TakeOrderedAndProject" in plan


def test_dedup_exact_text_single_shuffle(spark):
    plan = _plan(spark, "dedup_exact_text")
    # one agg shuffle; the min_by rewrite must not reintroduce a join
    assert plan.count("Exchange") <= 2, plan  # hash agg exchange (+AQE read)
    assert "Join" not in plan
    assert "partial_min_by" in plan or "HashAggregate" in plan


def test_c4_line_filter_zero_shuffle(spark):
    """C4-style line filtering must stay a map-only pass: scan ->
    one projection+filter, NO Exchange, no Join — at 100 TB its cost
    is the scan itself, which is why C4 runs it before anything that
    shuffles."""
    plan = _plan(spark, "c4_line_filtered_corpus")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_no_python_row_udfs_in_batch_queries(spark):
    # BatchEvalPython = row-at-a-time Python UDF — banned in the hot
    # path engine-wide. (ArrowEvalPython / mapInPandas are the
    # sanctioned Python escapes and appear only in multimodal ops.)
    for name in [
        "pricing_summary",
        "customer_master",
        "near_dup_pairs",
        "cosine_topk",
        "doc_normalized",
        "doc_split_assign",
        "split_contamination",
        "vocab_oov_rates",
        "doc_chunks",
        "nation_market_share",
        # round-4 additions (event_type_value_trend is EXCLUDED by
        # design: it is the sanctioned Arrow grouped-map escape,
        # FlatMapGroupsInPandas — still never BatchEvalPython)
        "bm25_doc_search",
        "within_doc_line_dedup",
        "doc_script_profile",
        "daily_uniques_bitmap",
        "purchase_touch_attribution",
        "frequent_part_pairs",
        "doc_shared_span_extent",
        "winsorized_price_stats_sketch",
        "purchase_next_view_asof",
        "event_type_value_trend",
        # round-5 additions (crossencoder_rerank_topk uses the
        # sanctioned MapInPandas escape — still never BatchEvalPython)
        "hybrid_doc_retrieval",
        "mmr_diverse_rerank",
        # grouped-map twin: cogrouped Arrow (FlatMapCoGroupsInPandas)
        "mmr_diverse_rerank_grouped",
        "crossencoder_rerank_topk",
        "hard_negative_mining",
        "preference_pair_mining",
        "priority_target_encoding",
        "cosine_topk_ivf_adaptive",
        "orders_targeted_delete",
        "dsir_importance_scores",
        # late-round-5 additions
        "customer_kanonymity",
        "bm25_ndcg_eval",
        "semantic_split_contamination",
        "rag_context_pack",
    ]:
        assert "BatchEvalPython" not in _plan(spark, name), name


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_mmr_diverse_rerank_plan_is_jvm_only_no_checkpoint(spark):
    """The greedy re-rank runs in higher-order functions over one
    grouped row per query: no Python evaluator, no cogrouped-Arrow
    map and no checkpointed step frame (Scan ExistingRDD)."""
    plan = _plan(spark, "mmr_diverse_rerank")
    for op in ("BatchEvalPython", "ArrowEvalPython",
               "FlatMapCoGroupsInPandas", "Scan ExistingRDD"):
        assert op not in plan, op


def test_mmr_diverse_rerank_runs_no_stage_past_its_candidates(
    spark, run_counted
):
    """Stage pin: the whole re-rank adds no stage to the candidate
    build it consumes (3 and 3; the k checkpointed greedy steps it
    replaced ran 44)."""
    from end_to_end_etl_pipeline_spark.queries.vectors import _mmr_candidates

    _, _, cand = run_counted(lambda: _noop_write(_mmr_candidates(spark, SF)))
    _, _, full = run_counted(
        lambda: _noop_write(REGISTRY["mmr_diverse_rerank"].spark(spark, SF))
    )
    assert full <= cand, (full, cand)


def test_mmr_diverse_rerank_runs_three_stages_and_no_vector_rejoin(
    spark, run_counted
):
    """Stage pin: the sf0.01 noop write runs exactly 3 stages, and the
    optimized plan joins nothing on ``match_id``: each candidate keeps
    the corpus vector it was scored with through the top-k, so the
    pairwise-sim step re-reads no embedding (the broadcast re-join of
    ``embeddings`` plus the footer read it replaced ran 5)."""
    df = REGISTRY["mmr_diverse_rerank"].spark(spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    assert joins and not any("match_id" in ln for ln in joins), joins
    _, _, stages = run_counted(lambda: _noop_write(df))
    assert stages == 3, stages


def test_mmr_diverse_rerank_leaves_no_persisted_rdds(spark):
    """No state left in the session: an action on the query persists
    no RDD (a checkpointed greedy step would stay persisted)."""
    jsc = spark.sparkContext._jsc

    def persisted() -> set:
        return set(jsc.getPersistentRDDs().keySet().toArray())

    before = persisted()
    _noop_write(REGISTRY["mmr_diverse_rerank"].spark(spark, SF))
    assert persisted() - before == set()


def test_kanonymity_grouped_counts_no_windows(spark):
    """Class sizes must come from grouped (map-side-partial) counts,
    never a window over the QI partition — a window ships every fact
    row of a hot class to one task; the grouped form ships bounded
    partials. Also fully JVM-side."""
    plan = _plan(spark, "customer_kanonymity")
    assert "Window" not in plan
    assert "partial_count" in plan or "partial count" in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _probe_store(spark, tmp_path):
    """A two-doc signature store and a repartitioned two-doc batch
    (one near-dup of a stored doc) probing it."""
    from end_to_end_etl_pipeline_spark.operators.dedup_store import (
        MinHashDedupStore,
    )
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    store = MinHashDedupStore(cat, "p.sigs", threshold=0.6)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "other words here")],
        "doc_id int, text string",
    )
    store.ingest(docs, "text")
    # a VALUES relation, not createDataFrame's RDD scan, so any Scan
    # ExistingRDD in the probe plan can only be a checkpoint
    batch = spark.sql(
        "SELECT * FROM VALUES (10, 'alpha beta gamma delta epsilon zeta'),"
        " (11, 'fresh text') AS t(doc_id, text)"
    ).repartition(2)
    return store, batch


def test_dedup_store_probe_is_one_lazy_plan(spark, tmp_path, run_counted):
    """The read-only probe (bench's amortized dedup twin) is one lazy
    JVM-side plan: ``probe()`` launches no job, nothing in its
    ``rejected`` plan reads a checkpoint (Scan ExistingRDD), no Python
    row UDF runs, and no hint forces the store side to broadcast
    (store size is unbounded; AQE decides). A noop write of
    ``rejected`` runs at most 6 stages (the eager-checkpoint plan ran
    12 on the perfbench batch)."""
    store, batch = _probe_store(spark, tmp_path)
    (accepted, rejected), jobs, _ = run_counted(lambda: store.probe(batch, "text"))
    assert jobs == 0
    for df in (accepted, rejected):
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "BatchEvalPython" not in plan
        assert "Scan ExistingRDD" not in plan
    analyzed = rejected._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed  # no forced store broadcast
    _, _, stages = run_counted(lambda: _noop_write(rejected))
    assert stages <= 6, stages


def test_dedup_store_probe_leaves_no_persisted_rdds(spark, tmp_path):
    """No state left in the session: an action on the probe's
    ``rejected`` persists no RDD."""
    jsc = spark.sparkContext._jsc

    def persisted() -> set:
        return set(jsc.getPersistentRDDs().keySet().toArray())

    store, batch = _probe_store(spark, tmp_path)
    before = persisted()
    _noop_write(store.probe(batch, "text")[1])
    assert persisted() - before == set()


def test_dedup_store_ingest_runs_its_decision_plan_once(
    spark, tmp_path, run_counted
):
    """Stage pin: ``ingest`` checkpoints ``rejected`` first and derives
    the append and ``accepted`` from it, so the band join, window and
    aggregate run once, not once per action: at most 11 stages into an
    empty store and into a non-empty one (18 each when the append and
    both returned frames re-ran the plan)."""
    from end_to_end_etl_pipeline_spark.operators.dedup_store import (
        MinHashDedupStore,
    )
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    store = MinHashDedupStore(cat, "i.sigs", threshold=0.6)
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    for rows, want_acc, want_rej in (
        # empty store: 2 duplicates 1
        (f"(1, '{dup}'), (2, '{dup}'), (3, 'other words here')", [1, 3], [2]),
        # non-empty store: 10 duplicates the stored 1
        (f"(10, '{dup}'), (11, 'fresh text, unseen')", [11], [10]),
    ):
        batch = spark.sql(
            f"SELECT * FROM VALUES {rows} AS t(doc_id, text)"
        ).repartition(2)
        (acc, rej), _, stages = run_counted(lambda: store.ingest(batch, "text"))
        assert sorted(r.doc_id for r in acc.collect()) == want_acc
        assert sorted(r.doc_id for r in rej.collect()) == want_rej
        assert stages <= 11, (rows, stages)


def test_grouped_map_uses_arrow_not_row_udf(spark):
    """The applyInPandas escape hatch must plan as Arrow grouped-map
    (FlatMapGroupsInPandas), never the row-at-a-time Python UDF."""
    plan = _plan(spark, "event_type_value_trend")
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


@pytest.fixture(scope="module")
def generated_lake(tmp_path_factory):
    """The lake the benchmark generator writes, at a small scale."""
    from perfbench import gen

    lake = tmp_path_factory.mktemp("generated_lake")
    for name, table in gen.lake_tables(11, 0.005).items():
        gen.write_parquet(table, f"{lake}/{name}.parquet")
    return str(lake)


@pytest.mark.parametrize("table", sorted(TABLE_SCHEMAS))
def test_load_reads_the_declared_footer_schema_without_a_job(
    spark, run_counted, generated_lake, table
):
    """``load`` reads a declared table with its declared schema: the
    schema a footer read infers, in every testdata lake and in the
    generated one, and no job (a schema-less read runs a footer
    job per call)."""
    for lake in (
        f"{TESTDATA}/sf0.001", f"{TESTDATA}/sf0.01", f"{TESTDATA}/sf0.1",
        generated_lake,
    ):
        df, jobs, _ = run_counted(lambda: load(spark, lake, table))
        assert jobs == 0, (lake, jobs)
        footer = spark.read.parquet(f"{lake}/{table}.parquet").schema
        assert df.schema == footer, (lake, df.schema, footer)


def test_load_refuses_an_undeclared_table(spark, tmp_path):
    """An undeclared table never falls back to footer inference."""
    spark.range(3).write.parquet(f"{tmp_path}/extra.parquet")
    with pytest.raises(KeyError):
        load(spark, str(tmp_path), "extra")


def test_scan_prunes_columns(spark):
    # a 2-column projection must not read the whole documents schema
    plan = _plan(spark, "dedup_exact_text")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text"}, cols


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    # a filter on the partition column must become PartitionFilters
    # (directory pruning — zero IO for excluded partitions), not a
    # post-scan Filter over all data
    orders = load(spark, SF, "orders").withColumn("o_year", F.year("o_orderdate"))
    dest = str(tmp_path / "orders_by_year")
    orders.write.partitionBy("o_year").parquet(dest)
    got = spark.read.parquet(dest).filter("o_year = 1995")
    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_year" in m.group(1), plan
    assert got.count() == load(spark, SF, "orders").filter("year(o_orderdate) = 1995").count()


def test_q19_shape_factors_single_side_conjuncts(spark):
    plan = _plan(spark, "discounted_brand_revenue")
    # Catalyst must factor the OR-of-ANDs: the brand IN-set and the
    # quantity-range hull push below the join to each side's scan
    assert re.search(r"PushedFilters: \[.*p_brand", plan), plan
    assert re.search(r"PushedFilters: \[.*l_quantity", plan), plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q21_shape_semi_anti_hash_on_orderkey(spark):
    plan = _plan(spark, "lone_returned_supplier")
    # the suppkey inequality must ride as a residual on a HASHED
    # orderkey join, never degrade to a nested-loop pair scan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"Join type: LeftSemi", plan)
    assert re.search(r"Join type: LeftAnti", plan)
    assert re.search(r"PushedFilters: \[.*EqualTo\(l_returnflag,R", plan)


def test_q13_left_join_keeps_priority_filter_in_join(spark):
    df = REGISTRY["customer_order_distribution"].spark(spark, SF)
    # customers with ONLY urgent orders must still appear with count 0
    zero = df.filter(F.col("order_cnt") == 0).count()
    assert zero > 0


def test_dynamic_partition_pruning_on_fact_dim_join(spark, tmp_path):
    # DPP: a selective dim-side filter must prune FACT partitions at
    # runtime (the filter's values aren't known at plan time). At
    # 100 TB this is the difference between scanning one nation's
    # partitions and scanning the whole fact table. The plan shows a
    # dynamicpruning subquery inside the scan's PartitionFilters.
    cust = load(spark, SF, "customer")
    dest = str(tmp_path / "cust_by_nation")
    cust.write.partitionBy("c_nationkey").parquet(dest)
    fact = spark.read.parquet(dest)
    dim = (
        load(spark, SF, "nation")
        .filter(F.col("n_name") == "NATION_3")
        .select("n_nationkey")
    )
    joined = fact.join(dim, fact.c_nationkey == dim.n_nationkey)
    plan = joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "dynamicpruning" in plan.lower(), plan
    n3 = load(spark, SF, "customer").filter("c_nationkey = 3").count()
    assert joined.count() == n3


def test_q2_shape_broadcasts_dims_no_extra_lineitem_scan(spark):
    plan = _plan(spark, "min_cost_supplier")
    # supplier/nation/region/part all broadcast; lineitem scans once
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("file:") < 12  # scans stay bounded
    assert "CartesianProduct" not in plan


def test_q20_shape_single_lineitem_pass_semi_joins(spark):
    plan = _plan(spark, "excess_stock_suppliers")
    # the correlated availqty threshold must NOT become a second
    # lineitem aggregation - one groupBy with conditional sums:
    # exactly 4 scans (lineitem, part, supplier, nation)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 4
    assert "LeftSemi" in plan


def test_tfidf_single_corpus_explode(spark):
    plan = _plan(spark, "doc_tfidf_terms")
    # df-by-window formulation: exactly one Generate (explode) -
    # the duplicated-subtree regression this guards against had two
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1
    assert "CartesianProduct" not in plan  # N joins via broadcast NLJ


def test_span_overlap_caps_before_pair_join(spark):
    plan = _plan(spark, "doc_span_overlap")
    # the df-cap semi join must run BEFORE the pair self-join
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_skew_profile_partial_aggregation(spark):
    plan = _plan(spark, "join_key_skew_profile")
    # group-size counting must map-side combine (partial_count)
    assert "partial_count" in plan


def _explain_str(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_scd2_write_is_the_only_job_and_broadcasts_nothing(
    spark, tmp_path, sf_smoke_dir, run_counted, monkeypatch
):
    """The flagship's ``silver.cust_quarter`` SCD2 build runs no job
    before its write: the duplicate-key check is a ``raise_error``
    inside the write plan, not an aggregate job over the source. The
    spine dedup, its per-key aggregates and the SCD2 merge share one
    shuffle, so the write plan hash-partitions exactly once (the union
    of the batch and the current target, on the keys) and joins
    nothing: no full outer join, no feature self-join, and no
    BroadcastExchange (a broadcast runs its side as a job of its
    own)."""
    from end_to_end_etl_pipeline_spark.plans.medallion import MedallionPipeline
    from end_to_end_etl_pipeline_spark.queries.medallion_queries import (
        _pipeline_config,
    )

    pipe = MedallionPipeline(spark, str(tmp_path / "lake"))
    cfg = _pipeline_config(sf_smoke_dir)
    pipe.run(cfg)  # first load; the build below is a later batch
    commit = pipe.catalog.replace_atomic
    write = {}

    def counted_commit(df, name, **kwargs):
        write["plan"] = _explain_str(spark, df)
        # a job group of its own, so the outer count keeps only the
        # jobs that ran before the write
        out, write["jobs"], _ = run_counted(lambda: commit(df, name, **kwargs))
        return out

    monkeypatch.setattr(pipe.catalog, "replace_atomic", counted_commit)
    _, jobs_before_write, _ = run_counted(lambda: pipe.build_silver(cfg["silver"][1]))
    assert write["jobs"] > 0
    assert jobs_before_write == 0
    assert "raise_error" in write["plan"]
    assert "BroadcastExchange" not in write["plan"]
    shuffles = re.findall(r"^Arguments: hashpartitioning\(", write["plan"], re.M)
    joins = re.findall(r"^\(\d+\) \w*Join\b", write["plan"], re.M)
    assert (len(shuffles), len(joins)) == (1, 0), write["plan"]


def test_gopher_filter_single_pass_no_shuffle(spark):
    """Every Gopher signal is a higher-order-function projection —
    the plan must contain no Exchange, no Join, no Generate
    (explode), and no Python eval."""
    plan = _plan(spark, "gopher_quality_filter")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan
    assert "Generate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_prune_single_cluster_shuffle_no_cartesian(spark):
    """SemDeDup pairing must go through a cluster-key equi-join —
    never a cartesian/broadcast-nested-loop over the corpus."""
    plan = _plan(spark, "semantic_pruned_corpus")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_probe_broadcasts_filter_never_shuffles_probe_keys(spark):
    """The Bloom filter side must enter the probe as a broadcast —
    the probing side joins it without a key shuffle (one exchange for
    the final per-key verdict agg is the only shuffle allowed)."""
    plan = _plan(spark, "bloom_seen_docs")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cms_build_is_partial_aggregated(spark):
    """The sketch build must partial-aggregate map-side (the exchange
    carries depth x width rows per task, not one row per occurrence),
    and the whole query must stay JVM-side."""
    from end_to_end_etl_pipeline_spark.operators.sketches import cms_build

    docs = REGISTRY["doc_word_counts"]  # any token source; use documents
    df = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.explode(F.split("text", " ")).alias("word")
    )
    plan = cms_build(df, "word")._jdf.queryExecution().executedPlan().toString()
    # partial_sum below the exchange == map-side combine is in place
    assert "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan


def test_weighted_sample_plans_partial_topk(spark):
    """The Efraimidis-Spirakis draw must plan as TakeOrderedAndProject
    (per-partition partial top-k) — never a global Sort
    materialization."""
    plan = _plan(spark, "weighted_doc_sample")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_tier_queries_broadcast_scalar_bounds_only(spark):
    """curriculum_sample / corpus_funnel_audit join their percentile
    bounds as a broadcast of ONE row — the plan may contain that
    broadcast nested loop, but never a CartesianProduct, and the
    probing side must not shuffle into it."""
    for name in ("curriculum_sample", "corpus_funnel_audit"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_decontamination_uses_semi_joins_no_pair_blowup(spark):
    """The removal query must stay on semi/anti joins (drop-list
    shape) — no test x train pair materialization, no cartesian."""
    plan = _plan(spark, "decontaminated_train_split")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("LeftSemi") >= 2  # df-cap semi + dirty-gram semi
    assert "LeftAnti" in plan  # clean = train anti drop-list


def test_vocab_drift_psi_broadcasts_vocab_no_row_udfs(spark):
    """The drift profile's only corpus-scale work is the two token
    aggregations; the 200-word vocab must BROADCAST into the count
    join (a shuffled vocab join would re-shuffle the token stream),
    everything after is vocab-sized, and the whole plan stays
    JVM-side."""
    plan = _plan(spark, "vocab_drift_psi")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # map-side partial aggregation on the token stream
    assert "partial_count" in plan or "partial_sum" in plan


def test_wav_encode_is_projection_decode_arrow_only(spark):
    """The WAV path's scale claims: encoding a payload per order is a
    pure projection (no Exchange before the mapInPandas decode — at
    100 TB the cost is the scan), and Python touches bytes only
    through Arrow (ArrowEvalPython/mapInPandas), never a row UDF."""
    plan = _plan(spark, "wav_pcm_decode_stats")
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan
    # scan -> encode -> decode is map-only; the only shuffle-free
    # contract is everything BEFORE the decode: no join anywhere
    assert "Join" not in plan
    assert "Exchange" not in plan, plan


def test_trained_classifier_inference_broadcasts_weights(spark):
    """quality_classifier_trained's INFERENCE plan: the 64-float
    weight table must broadcast into the token stream (never a
    shuffle side), and no Python row UDFs anywhere — training and
    scoring are pure JVM aggregation."""
    plan = _plan(spark, "quality_classifier_trained")
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_bmp_encode_is_projection_decode_arrow_only(spark):
    """Same contract as the WAV leg: JVM-side encode is a pure
    projection, Python touches bytes only through Arrow, no shuffle
    anywhere in encode->decode."""
    plan = _plan(spark, "bmp_image_decode_stats")
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan, plan


def test_png_encode_is_projection_decode_arrow_only(spark):
    """Same contract as the WAV/BMP legs, now for the COMPRESSED
    codec: the zlib framing + adler32 + chunk CRCs all fold into the
    JVM projection (no Exchange, no join), and Python touches bytes
    only through Arrow-batched mapInPandas."""
    plan = _plan(spark, "png_image_decode_stats")
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan, plan


def test_pairwise_ce_gradient_step_is_one_codegen_aggregate(spark):
    """The trained cross-encoder's claim: each gradient step is ONE
    whole-stage-codegen aggregate over the feature frame — no weight
    join (weights enter as literals), no Python in the scan (the
    features are array_intersect projections), exactly one shuffle
    (partial -> final agg)."""
    from end_to_end_etl_pipeline_spark.operators.retrieval import (
        CE_FEATURES,
        _ce_z,
        pairwise_ce_features,
    )

    pairs = spark.createDataFrame(
        [(1, "a b c", "a b"), (2, "x y", "x z")],
        "id long, q string, d string",
    )
    feats = pairwise_ce_features(pairs, "q", "d").withColumn(
        "y", F.lit(1.0)
    )
    w = [0.1, 0.2, 0.3, 0.4]
    err = F.lit(1.0) / (F.lit(1.0) + F.exp(-_ce_z(w))) - F.col("y")
    step = feats.agg(
        F.sum(err).alias("g0"),
        *[F.sum(err * F.col(c)).alias(f"g{j+1}")
          for j, c in enumerate(CE_FEATURES)],
    )
    plan = step._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan, "weights must enter as literals, not a join"
    # formatted mode names each node twice (tree + detail): one
    # physical Exchange == 2 mentions; partial->final agg only
    assert plan.count("Exchange") <= 2, plan
    assert "HashAggregate" in plan
