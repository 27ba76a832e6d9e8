"""Persisted inverted text index with BM25 search — the lexical
member of the engine's index-maintenance trio (MinHash dedup store,
IVFADC ANN store, this), all on the same ``ManifestCatalog`` CAS
substrate: pay indexing once, answer queries from bucket-pruned
storage, fold new documents in incrementally.

Layout:

* ``<table>`` — postings ``(word, doc_id, tf, dl)`` bucketed by
  ``pmod(hash(word), n_buckets)``: every posting list lives in
  exactly ONE bucket dir, so a query reads only its terms' buckets —
  ``len(query_terms)/n_buckets`` of the BYTES at any corpus size
  (the same storage-level pruning argument as the IVF cell dirs).
  Document frequency is NOT stored: a term's df is derivable at
  query time by counting its postings, which are already in the
  buckets being read — no vocabulary-sized side table to maintain.
* ``<table>__stats`` — ONE row ``(n_docs, sum_dl)``: the corpus
  size and total token count BM25 needs (avgdl = sum_dl/n_docs).
  Sum, not average, so incremental appends combine exactly.

Search replays the ``bm25_doc_search`` conformance query's math
(Lucene idf, k1=1.2, b=0.75, 6dp rounding, ties to lowest doc id) —
the in-plan query and the store-backed one agree wherever the corpus
and the df > N/2 stopword cap agree.

Scale notes: indexing is one explode + one (doc, word) aggregation —
the same two steps every query over raw text pays, paid once here;
appends touch only the new batch's words' buckets (CAS-merged, so
untouched buckets keep their dir lists verbatim); the stats update
rides the SAME manifest commit as the posting dirs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog, bucket_id

K1 = 1.2
B = 0.75


def _postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(word, doc_id, tf, dl) — whitespace tokens, per-doc term
    frequency, document length riding the aggregation."""
    words = F.filter(F.split(F.col(text_col), " "), lambda w: F.length(w) > 0)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(words).alias("dl"),
        F.explode(words).alias("word"),
    )
    return toks.groupBy("word", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )


def write_text_index(
    catalog: ManifestCatalog,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
    n_buckets: int = 64,
) -> None:
    """Build the index: postings bucketed by term hash, with the
    corpus stats (n_docs, sum_dl) riding the SAME manifest commit as
    extras — two longs, model-parameter scale. One explode + one
    (doc, word) agg + one partitioned write; nothing vocabulary-sized
    crosses the driver. Keeping stats in the manifest (not a side
    table) means there is no crash window where postings landed but
    stats didn't."""
    post = _postings(docs, id_col, text_col)
    words = F.filter(F.split(F.col(text_col), " "), lambda w: F.length(w) > 0)
    st = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(words)).cast("long").alias("sum_dl"),
    ).first()
    catalog.append_bucketed(
        post,
        table,
        n_buckets,
        ["word"],
        extras_update={
            "ti_n_docs": int(st["n_docs"]),
            "ti_sum_dl": int(st["sum_dl"] or 0),
        },
    )


def append_text_index(
    catalog: ManifestCatalog,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
) -> None:
    """Fold new documents in: the batch's postings CAS-append into
    their words' buckets (untouched buckets keep their dir lists
    verbatim — a query for other terms never pays for this append),
    and the corpus stats combine exactly in the SAME manifest commit
    (counts and token sums add as extras). Because data and stats
    ride one atomic commit, there is no crash window where one landed
    without the other.

    Stats accumulation assumes one writer per index (the streaming
    bridge's model); concurrent appends still CAS-merge their
    posting dirs safely, but racing counter updates could lose an
    increment — serialize appends per index."""
    manifest = catalog.latest_manifest(table)
    if manifest is None:
        raise ValueError(f"table {table} is not a text index (write first)")
    n_buckets = manifest["n_buckets"]
    post = _postings(batch, id_col, text_col)
    words = F.filter(F.split(F.col(text_col), " "), lambda w: F.length(w) > 0)
    st = batch.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(words)).cast("long").alias("sum_dl"),
    ).first()
    extras = {
        "ti_n_docs": int(manifest.get("ti_n_docs", 0)) + int(st["n_docs"]),
        "ti_sum_dl": int(manifest.get("ti_sum_dl", 0)) + int(st["sum_dl"] or 0),
    }
    catalog.append_bucketed(
        post,
        table,
        n_buckets,
        ["word"],
        extras_update=extras,
    )


def text_index_search(
    catalog: ManifestCatalog,
    table: str,
    queries: DataFrame,
) -> tuple[DataFrame, list[int]]:
    """BM25 top-10 per query against the stored index, reading
    ONLY the query terms' bucket dirs. ``queries`` is a
    (query_id, word) term table — small, model-input scale; it
    broadcasts everywhere it appears. Returns ``(result,
    read_buckets)`` so tests can assert the physical scan set;
    result is (query_id, doc_id, bm25), 6dp, ties to lowest doc id.

    df is computed from the read buckets' postings (a term's whole
    posting list lives in its bucket), the stopword cap drops terms
    with df > 0.5·N before the scoring join, and the
    per-query top-k goes through WindowGroupLimit partial top-k."""
    manifest = catalog.latest_manifest(table)
    if manifest is None:
        raise ValueError(f"table {table} is not a text index (write first)")
    n_buckets = manifest["n_buckets"]
    qterms = queries.select("query_id", "word").distinct()
    uniq = qterms.select("word").distinct()
    buckets = sorted(
        r["b"]
        for r in uniq.select(bucket_id(["word"], n_buckets).alias("b"))
        .distinct()
        .collect()
    )
    post = catalog.read(table, buckets=buckets).join(
        F.broadcast(uniq), "word", "left_semi"
    )
    # corpus stats live in the manifest (committed atomically with
    # the posting dirs) — two literals, no side-table read
    n_docs = int(manifest["ti_n_docs"])
    sum_dl = int(manifest["ti_sum_dl"])
    df_t = post.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        post.join(F.broadcast(df_t), "word")
        .withColumn("n_docs", F.lit(n_docs).cast("long"))
        .withColumn("avgdl", F.lit(sum_dl / n_docs if n_docs else 0.0))
        .filter(F.col("df") <= 0.5 * F.col("n_docs"))
        .join(F.broadcast(qterms), "word")
        .withColumn(
            "w",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            )
            * F.col("tf") * (K1 + 1.0)
            / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))),
        )
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("w"), 6).alias("bm25")
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    result = (
        agg.withColumn("__rk", F.row_number().over(wk))
        .filter(F.col("__rk") <= 10)
        .select("query_id", "doc_id", "bm25")
    )
    return result, buckets
