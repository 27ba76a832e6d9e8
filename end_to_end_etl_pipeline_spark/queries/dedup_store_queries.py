"""Driver-visible conformance query for the incremental MinHash dedup
store (:mod:`operators.dedup_store`): two deterministic ingest batches
over the ``documents`` table, with a DuckDB oracle that replays the
complete decision pipeline — shingle → Carter-Wegman minhash → LSH
band collision → component-match Jaccard estimate → greedy one-hop
dedup — in pure SQL. A wrong signature, band, estimator, store append,
or survivor rule anywhere breaks the hash.

Batch construction (content-deterministic, mirrors
``textdata._variant_corpus``):

* batch 1 — the whole ``documents`` table;
* batch 2 — a near-dup of every 5th doc (id shifted by
  s = max(doc_id)+1M, first 7 chars dropped) plus a fresh doc per
  every 9th (id+2s, text reversed). The shift derives from the
  corpus so the batch id spaces stay disjoint at any scale factor
  (the r09 sf1 parity study caught a hardcoded 1M boundary
  misclassifying key-shifted copies).

The query returns batch 2's rejections ``(doc_id, dup_of,
est_jaccard)`` — the store's observable contract: which incoming docs
were refused and whom they duplicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.queries.catalog import load, register, scratch_root
from end_to_end_etl_pipeline_spark.queries.textdata import _nibble_int

_SK, _SB, _SR = 16, 4, 4  # store defaults: 16 hashes, 4 bands x 4 rows
_THRESH = 0.6


def _dedup_store_oracle() -> str:
    mins = ",\n           ".join(
        f"min((h1 + {k} * h2) % 4294967296) AS m{k}" for k in range(_SK)
    )
    bands = "\n    UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws('_', {cols})) AS band_hash FROM sig".format(
            b=b, cols=", ".join(f"m{b * _SR + r}" for r in range(_SR))
        )
        for b in range(_SB)
    )
    est_terms = " + ".join(
        f"(CASE WHEN sa.m{k} = sb.m{k} THEN 1 ELSE 0 END)" for k in range(_SK)
    )
    return f"""
    WITH mx AS (
      -- batch-2 id shift derived from the CORPUS, not hardcoded:
      -- the r09 sf1 parity study caught the old literal 1000000
      -- boundary misclassifying key-shifted copy docs (ids >= 1e9)
      -- as batch-2 rows; deriving s > max(doc_id) keeps the batch
      -- spaces disjoint at any scale factor or id layout
      SELECT max(doc_id) + 1000000 AS s FROM documents
    ),
    b2 AS (
      SELECT doc_id + (SELECT s FROM mx) AS doc_id,
             substr(text, 8) AS text
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2 * (SELECT s FROM mx) AS doc_id,
             reverse(text) AS text
      FROM documents WHERE doc_id % 9 = 0
    ),
    allc AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM b2),
    sh AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 6) AS shingle
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text) - 5, 0))) AS i
            FROM allc)
    ),
    hashed AS (
      SELECT doc_id,
             {_nibble_int('h', 1)} AS h1,
             {_nibble_int('h', 9)} AS h2
      FROM (SELECT doc_id, md5(shingle) AS h FROM sh)
    ),
    sig AS (
      SELECT doc_id,
           {mins}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
    {bands}
    ),
    pair AS (
      SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    qual AS (
      SELECT p.ida, p.idb, ({est_terms}) / {float(_SK)} AS est
      FROM pair p
      JOIN sig sa ON sa.doc_id = p.ida
      JOIN sig sb ON sb.doc_id = p.idb
      WHERE ({est_terms}) / {float(_SK)} >= {_THRESH}
    ),
    -- ingest 1 (empty store): X rejected iff any qualifying Y < X
    rej1 AS (
      SELECT DISTINCT idb AS doc_id FROM qual
      WHERE ida < (SELECT s FROM mx) AND idb < (SELECT s FROM mx)
    ),
    store AS (
      SELECT doc_id FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM rej1)
    ),
    -- ingest 2 vs store (batch-2 ids all exceed batch-1 ids, so the
    -- store side of a qualifying pair is always ida)
    rvs AS (
      SELECT idb AS doc_id, min(ida) AS dup_of, max(est) AS est_jaccard
      FROM qual
      WHERE idb >= (SELECT s FROM mx)
        AND ida IN (SELECT doc_id FROM store)
      GROUP BY idb
    ),
    -- ingest 2 within-batch (one-hop greedy: the lower side must not
    -- itself be store-rejected)
    rnn AS (
      SELECT idb AS doc_id, min(ida) AS dup_of, max(est) AS est_jaccard
      FROM qual
      WHERE ida >= (SELECT s FROM mx) AND idb >= (SELECT s FROM mx)
        AND ida NOT IN (SELECT doc_id FROM rvs)
      GROUP BY idb
    ),
    comb AS (SELECT * FROM rvs UNION ALL SELECT * FROM rnn)
    SELECT doc_id, dup_of, est_jaccard FROM comb
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY dup_of) = 1
    """


@register(
    "incremental_dedup_ingest",
    oracle=_dedup_store_oracle(),
    doc="Incremental MinHash dedup store (operators/dedup_store.py): "
    "batch 1 = documents, batch 2 = planted near-dups (every 5th doc, "
    "7 chars dropped) + fresh docs (every 9th reversed); returns batch "
    "2's rejections (doc_id, dup_of, est_jaccard). The store persists "
    "only K-long signatures (bounded width at any corpus size) and "
    "dedups each ingest in O(batch + collisions) - never re-pairing "
    "the corpus - via LSH band collisions against the stored "
    "signatures and the component-match Jaccard estimator. Oracle "
    "replays signatures, banding, estimates, the greedy survivor "
    "rule, and the store state between ingests.",
    tags=("north-star", "dedup", "incremental"),
)
def incremental_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.dedup_store import MinHashDedupStore
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    root = scratch_root("dedup_store")

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # id shift derived from the corpus (one max agg, metadata-scale),
    # mirroring the oracle's mx CTE — see _dedup_store_oracle
    # `or 0` keeps an empty corpus from raising int(None) — the
    # query then degrades to empty batches instead of a TypeError
    shift = int(docs.agg(F.max("doc_id")).first()[0] or 0) + 1000000
    b2 = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + shift).alias("doc_id"),
            F.expr("substring(text, 8)").alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 9 == 0).select(
                (F.col("doc_id") + 2 * shift).alias("doc_id"),
                F.reverse("text").alias("text"),
            )
        )
    )
    cat = ManifestCatalog(spark, f"file://{root}")
    store = MinHashDedupStore(
        cat,
        "dedup.sigs",
        num_hashes=_SK,
        bands=_SB,
        threshold=_THRESH,
    )
    store.ingest(docs, "text")
    _accepted, rejected = store.ingest(b2, "text")
    # rejected is already eagerly checkpointed — scratch-reap safe
    return rejected.select("doc_id", "dup_of", "est_jaccard")

