"""Training-data text operators over ``documents`` (BASELINE.json
north star): exact + near-dup dedup (MinHash-LSH, SimHash, n-gram
Jaccard), quality scoring, token counting — each with a DuckDB oracle.

The near-dup oracles replicate the engine's *exact* deterministic
hashing (md5-simulated MinHash permutations, md5 band hashes) in SQL,
so the candidate sets — not just the verified pairs — are compared.
The synthetic corpus has no organic near-dups, so the near-dup
queries union in perturbed variants (doc_id+1_000_000, first 7 chars
dropped) of every 7th document; detection must find exactly the pairs
both engines derive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.dedup import dedup_exact_hash
from end_to_end_etl_pipeline_spark.operators.text_dedup import (
    HEX,
    minhash_near_dup_pairs,
    simhash_near_dup_pairs,
    word_shingles,
)
from end_to_end_etl_pipeline_spark.queries.catalog import (
    REGISTRY,
    load,
    register,
    scratch_root,
)


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to full parallelism. The documents
    table is a single small parquet file, so Spark would otherwise
    run every downstream per-row hash computation in ONE task; a few
    MB of shuffle buys every core. (On a real corpus the scan has
    many splits and this is a no-op cost-wise.)"""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _variant_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ perturbed copies of every 7th doc (drop first 7
    chars, id offset 1M) — deterministic near-dup planting."""
    base = docs.select("doc_id", "text")
    variants = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substring(text, 8)").alias("text"),
    )
    return _spread(base.unionByName(variants))


_SQL_CORPUS = """
  corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, substr(text, 8) AS text
    FROM documents WHERE doc_id % 7 = 0
  )"""

_SQL_SHINGLES = """
  sh AS (
    SELECT doc_id, substr(text, CAST(i AS INT), 6) AS shingle
    FROM (SELECT doc_id, text,
                 unnest(generate_series(1, greatest(length(text) - 5, 0))) AS i
          FROM corpus)
  )"""


@register(
    "dedup_exact_text",
    oracle="""
    SELECT min(doc_id) AS doc_id, md5(coalesce(text, '␀')) AS content_hash
    FROM documents GROUP BY 2
    """,
    doc="Exact content dedup via dedup_exact_hash: one shuffle, "
    "groupBy(hash).agg(min_by(row, id)) with map-side partial agg.",
    tags=("north-star", "dedup"),
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup_exact_hash(docs, ["text"], "doc_id", keep_cols=["doc_id"]).select(
        "doc_id", "content_hash"
    )


@register(
    "text_quality",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_actual,
           CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS BIGINT)
             AS n_tokens,
           round(CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
                 / length(text), 6) AS space_ratio,
           round(CAST(len(list_filter(string_split(text, ' '),
                                      w -> w IN ('the', 'a', 'of', 'and', 'to')))
                      AS DOUBLE)
                 / len(list_filter(string_split(text, ' '), w -> length(w) > 0)), 6)
             AS stopword_ratio
    FROM documents
    """,
    doc="Text quality scoring: token count, space ratio, stopword ratio.",
    tags=("north-star", "text"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    stop = F.filter(
        F.split("text", " "),
        lambda w: w.isin("the", "a", "of", "and", "to"),
    )
    n_tokens = F.size(words).cast("long")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        n_tokens.alias("n_tokens"),
        F.round(
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))))
            .cast("double")
            / F.length("text"),
            6,
        ).alias("space_ratio"),
        F.round(F.size(stop).cast("double") / n_tokens, 6).alias("stopword_ratio"),
    )


def _nibble_int(col: str, start: int) -> str:
    """SQL for interpreting md5-hex chars [start, start+8) as an
    integer (DuckDB has no conv(); Spark-side uses conv — both yield
    the same value)."""
    terms = [
        f"(strpos('{HEX}', substring({col}, {start + j}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


_K, _B, _R = 15, 3, 5  # 3 bands x 5 rows: P(cand)≈0.99 at J=0.95, ≈0.09 at J=0.5


def _minhash_pair_ctes() -> str:
    """CTE chain ending in ``pairs`` (the verified near-dup pairs) —
    shared by the pairs oracle and the clusters oracle."""
    mins = ",\n           ".join(
        f"min((h1 + {k} * h2) % 4294967296) AS m{k}" for k in range(_K)
    )
    bands = "\n    UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws('_', {cols})) AS band_hash FROM sig".format(
            b=b, cols=", ".join(f"m{b * _R + r}" for r in range(_R))
        )
        for b in range(_B)
    )
    return f"""{_SQL_CORPUS}, {_SQL_SHINGLES},
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
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS ci
      FROM cand c
      JOIN shd sa ON sa.doc_id = c.doc_a
      JOIN shd sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    pairs AS (
      SELECT i.doc_a, i.doc_b,
             round(CAST(ci AS DOUBLE) / (na.n + nb.n - ci), 6) AS jaccard
      FROM inter i
      JOIN sizes na ON na.doc_id = i.doc_a
      JOIN sizes nb ON nb.doc_id = i.doc_b
      WHERE CAST(ci AS DOUBLE) / (na.n + nb.n - ci) >= 0.6
    )"""


def _minhash_oracle() -> str:
    return f"WITH {_minhash_pair_ctes()}\n    SELECT doc_a, doc_b, jaccard FROM pairs"


def _clusters_oracle() -> str:
    return f"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION SELECT a, a FROM sym
      UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
    """


@register(
    "near_dup_pairs",
    oracle=_minhash_oracle(),
    doc="MinHash-LSH near-dup: char-6 shingles, 15 Carter-Wegman "
    "minhashes from one md5 per shingle, 3x5 banding, exact-Jaccard "
    "verify >= 0.6 on LSH candidates only.",
    tags=("north-star", "dedup", "bench"),
)
def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    corpus = _variant_corpus(docs)
    out = minhash_near_dup_pairs(
        corpus, "doc_id", "text", num_hashes=_K, bands=_B
    )
    return out.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def _simhash_oracle() -> str:
    """Replicates operators/text_dedup.simhash64 + 16-bit banding: 64
    bit-votes from md5 hex digits, majority per bit, two unsigned
    32-bit halves (no signed-overflow divergence), 4×16-bit bands."""
    sums = ",\n           ".join(
        f"sum(((strpos('{HEX}', substring(h, {j + 1}, 1)) - 1) // {1 << b}) % 2) AS s_{j}_{b}"
        for j in range(16)
        for b in range(4)
    )

    def half(j_range) -> str:
        return " + ".join(
            f"(CASE WHEN 2 * s_{j}_{b} >= n THEN CAST({1 << ((4 * j + b) % 32)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for j in j_range
            for b in range(4)
        )

    bands_sel = "\n    UNION ALL ".join(
        [
            "SELECT doc_id, sim_lo, sim_hi, 0 AS band, sim_lo % 65536 AS bv FROM sim",
            "SELECT doc_id, sim_lo, sim_hi, 1 AS band, sim_lo // 65536 AS bv FROM sim",
            "SELECT doc_id, sim_lo, sim_hi, 2 AS band, sim_hi % 65536 AS bv FROM sim",
            "SELECT doc_id, sim_lo, sim_hi, 3 AS band, sim_hi // 65536 AS bv FROM sim",
        ]
    )
    return f"""
    WITH {_SQL_CORPUS}, {_SQL_SHINGLES},
    d AS (SELECT doc_id, md5(shingle) AS h FROM sh),
    sums AS (
      SELECT doc_id, count(*) AS n,
           {sums}
      FROM d GROUP BY doc_id
    ),
    sim AS (SELECT doc_id, {half(range(8))} AS sim_lo,
                   {half(range(8, 16))} AS sim_hi FROM sums),
    bands AS (
    {bands_sel}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sim_lo AS lo_a, a.sim_hi AS hi_a,
             b.sim_lo AS lo_b, b.sim_hi AS hi_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS INT)
             AS hamming
    FROM pairs
    WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 6
    """


@register(
    "simhash_near_dup",
    oracle=_simhash_oracle(),
    doc="SimHash near-dup: 64-bit simhash from shingle md5 bit votes "
    "(two unsigned 32-bit halves - no cross-engine signed-overflow), "
    "4x16-bit-band blocking (65536 buckets/band keeps within-bucket "
    "self-joins sub-quadratic at billion-doc scale), hamming <= 6 "
    "verify; recall guaranteed for hamming <= 3 by pigeonhole.",
    tags=("north-star", "dedup"),
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    corpus = _variant_corpus(docs)
    out = simhash_near_dup_pairs(corpus, "doc_id", "text")
    return out.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming"
    )


@register(
    "ngram_jaccard_topk",
    oracle="""
    WITH words AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
      FROM documents
    ),
    shd AS (
      SELECT DISTINCT doc_id, lang, array_to_string(ws[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS shingle
      FROM (SELECT doc_id, lang, ws,
                   unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
            FROM words)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
    inter AS (
      SELECT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ci
      FROM shd a JOIN shd b
        ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3
    )
    SELECT lang, doc_a, doc_b,
           round(CAST(ci AS DOUBLE) / (na.n + nb.n - ci), 6) AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    QUALIFY row_number() OVER (
      PARTITION BY lang
      ORDER BY CAST(ci AS DOUBLE) / (na.n + nb.n - ci) DESC, doc_a, doc_b) <= 5
    """,
    doc="Word-3-gram Jaccard via inverted shingle index (pairs meet only "
    "on shared shingles — never all-pairs), top-5 per language.",
    tags=("north-star", "dedup"),
)
def ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    shd = word_shingles(docs, "doc_id", "text", distinct=True).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    sizes = shd.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = shd.select(F.col("lang"), F.col("shingle"), F.col("doc_id").alias("doc_a"))
    b = shd.select(F.col("lang"), F.col("shingle"), F.col("doc_id").alias("doc_b"))
    inter = (
        a.join(b, ["lang", "shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("lang", "doc_a", "doc_b")
        .agg(F.count("*").alias("ci"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "j",
            F.col("ci").cast("double") / (F.col("na") + F.col("nb") - F.col("ci")),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("j").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    )
    return (
        jac.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_a", "doc_b", F.round("j", 6).alias("jaccard"))
    )


def _lang_lexicon_values() -> str:
    from end_to_end_etl_pipeline_spark.operators.text_analysis import STOPWORD_LEXICON

    return ", ".join(
        f"('{lang}', '{w}')" for lang, ws in STOPWORD_LEXICON.items() for w in ws
    )


@register(
    "lang_id",
    oracle=f"""
    WITH lex(cand_lang, word) AS (VALUES {_lang_lexicon_values()}),
    tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS word
      FROM documents
    ),
    ntok AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    best AS (
      SELECT m.doc_id, m.cand_lang AS pred_lang,
             round(CAST(m.c AS DOUBLE) / n.n, 6) AS score
      FROM (SELECT t.doc_id, l.cand_lang, count(*) AS c
            FROM tok t JOIN lex l ON t.word = l.word GROUP BY 1, 2) m
      JOIN ntok n ON n.doc_id = m.doc_id
      QUALIFY row_number() OVER (PARTITION BY m.doc_id ORDER BY m.c DESC, m.cand_lang) = 1
    )
    SELECT d.doc_id, d.lang, b.pred_lang, b.score
    FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
    """,
    doc="Stopword-lexicon language ID: broadcast lexicon join, hit-count "
    "argmax with deterministic ties (integer compare, no float ordering).",
    tags=("north-star", "text"),
)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.text_analysis import lang_id

    docs = load(spark, sf_dir, "documents")
    pred = lang_id(docs, "doc_id", "text")
    return docs.select("doc_id", "lang").join(pred, "doc_id", "left").select(
        "doc_id", "lang", "pred_lang", "score"
    )


@register(
    "doc_token_stats",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars,
           CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS BIGINT)
             AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT)
             AS n_bpe_tokens,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / NULLIF(len(list_filter(string_split(text, ' '), w -> length(w) > 0)), 0), 6)
             AS avg_token_len
    FROM documents
    """,
    doc="Token statistics incl. BPE-ish pre-tokenizer counts via "
    "regexp_extract_all — pure projection, no shuffle.",
    tags=("north-star", "text"),
)
def doc_token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.text_analysis import token_stats

    docs = load(spark, sf_dir, "documents")
    return token_stats(docs, "doc_id", "text")


@register(
    "doc_fingerprints",
    oracle="""
    WITH kg AS (
      SELECT doc_id, i AS pos, md5(substr(text, CAST(i AS INT), 8)) AS h,
             greatest(length(text) - 7, 0) AS nk
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text) - 7, 0))) AS i
            FROM documents)
    ),
    wins AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             pos, nk
      FROM kg
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= nk - 3)
    SELECT doc_id, count(*) AS n_fingerprints, min(fp) AS min_fp, max(fp) AS max_fp
    FROM fps GROUP BY doc_id
    """,
    doc="Winnowing fingerprints (k=8, w=4): window-min over k-gram md5s; "
    "shared substrings >= 11 chars guarantee a shared fingerprint.",
    tags=("north-star", "text"),
)
def doc_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.text_analysis import (
        winnow_fingerprint_stats,
    )

    docs = _spread(load(spark, sf_dir, "documents"))
    return winnow_fingerprint_stats(docs, "doc_id", "text")


@register(
    "binary_doc_stats",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           substr(hex(encode(text)), 1, 8) AS magic_hex
    FROM documents
    """,
    doc="Multimodal metadata plumbing: binary payload (UTF-8 fixture) -> "
    "byte length / content md5 / magic-prefix hex, all JVM built-ins.",
    tags=("north-star", "multimodal"),
)
def binary_doc_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.multimodal import (
        binary_stats,
        with_binary_payload,
    )

    docs = load(spark, sf_dir, "documents")
    return binary_stats(with_binary_payload(docs, "text"), "doc_id", "payload")


@register(
    "wav_pcm_decode_stats",
    oracle="""
    WITH s AS (
      SELECT o_orderkey,
             ((o_orderkey * 7919 + i * 104729) % 65521) - 32760 AS amp
      FROM (SELECT o_orderkey,
                   unnest(generate_series(0, CAST(o_orderkey % 50 AS BIGINT))) AS i
            FROM orders)
    )
    SELECT o_orderkey AS payload_id,
           count(*) AS n_samples,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(max(abs(amp)) AS BIGINT) AS peak_abs,
           round(CAST(round(CAST(CAST(sum(amp) AS DOUBLE) / count(*)
                 AS DECIMAL(20,8)), 6) AS DOUBLE), 6) AS mean_amp
    FROM s GROUP BY o_orderkey
    """,
    doc="REAL multimodal decode gate (VERDICT r07 #4): per order, a "
    "mono PCM16 WAV payload is assembled ENTIRELY JVM-side "
    "(operators/multimodal.pcm16_wav_blob — hex assembly + unhex, a "
    "projection) from deterministic int16 samples, then decoded BACK "
    "from raw bytes by the dependency-free numpy codec "
    "(decode_wav_stats): RIFF/WAVE/fmt/data magic checks, "
    "little-endian header fields, frombuffer('<i2') samples. The "
    "DuckDB oracle recomputes sample count / peak |amplitude| / mean "
    "amplitude from the sample-generator arithmetic WITHOUT ever "
    "seeing the blob — an offset, endianness, or header-size bug in "
    "EITHER the encoder or the decoder hash-mismatches. The "
    "remaining NotImplementedError seam covers only genuinely "
    "external codecs (JPEG/MP4). 100-TB shape: encode is a "
    "projection; decode is Arrow-batched mapInPandas at memcpy "
    "speed, 1:1, no shuffle.",
    tags=("parity", "multimodal", "north-star"),
)
def wav_pcm_decode_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.multimodal import (
        decode_wav_stats,
        pcm16_wav_blob,
    )

    orders = load(spark, sf_dir, "orders")
    samples = F.transform(
        F.sequence(F.lit(0), (F.col("o_orderkey") % 50).cast("long")),
        lambda i: (
            F.pmod(F.col("o_orderkey") * 7919 + i * 104729, F.lit(65521))
            - 32760
        ).cast("int"),
    )
    payloads = orders.select(
        F.col("o_orderkey").alias("payload_id"),
        pcm16_wav_blob(samples).alias("wav"),
    )
    decoded = decode_wav_stats(payloads, "payload_id", "wav")
    return decoded.select(
        "payload_id", "n_samples", "sample_rate", "peak_abs",
        F.round(F.col("sum_amp") / F.col("n_samples"), 6).alias("mean_amp"),
    )


@register(
    "bmp_image_decode_stats",
    oracle="""
    WITH g AS (
      SELECT p_partkey,
             1 + p_partkey % 7 AS width,
             1 + p_partkey % 5 AS height,
             unnest(generate_series(
               0, (1 + p_partkey % 7) * (1 + p_partkey % 5) * 3 - 1)) AS i
      FROM part
    ),
    v AS (
      SELECT p_partkey, width, height,
             i // (3 * width) AS y,
             i % 3 AS c,
             (p_partkey * 31 + (i // (3 * width)) * 17
              + ((i // 3) % width) * 7 + (i % 3) * 3) % 256 AS v
      FROM g
    )
    SELECT p_partkey AS payload_id,
           CAST(any_value(width) AS BIGINT) AS width,
           CAST(any_value(height) AS BIGINT) AS height,
           round(CAST(round(CAST(
             CAST(sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS DOUBLE)
               / (any_value(width) * any_value(height))
             AS DECIMAL(20,8)), 6) AS DOUBLE), 6) AS mean_b,
           round(CAST(round(CAST(
             CAST(sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS DOUBLE)
               / (any_value(width) * any_value(height))
             AS DECIMAL(20,8)), 6) AS DOUBLE), 6) AS mean_g,
           round(CAST(round(CAST(
             CAST(sum(CASE WHEN c = 2 THEN v ELSE 0 END) AS DOUBLE)
               / (any_value(width) * any_value(height))
             AS DECIMAL(20,8)), 6) AS DOUBLE), 6) AS mean_r,
           CAST(sum(CASE WHEN y = 0 THEN v ELSE 0 END) AS BIGINT)
             AS top_row_sum
    FROM v GROUP BY p_partkey
    """,
    doc="REAL image decode gate (the BMP leg of the codec seam, "
    "pairing wav_pcm_decode_stats): per part, an uncompressed 24bpp "
    "BMP is assembled ENTIRELY JVM-side (operators/multimodal."
    "bmp24_blob — header + bottom-up padded rows as one hex "
    "projection) from deterministic per-pixel bytes, then decoded "
    "BACK from raw bytes by the dependency-free numpy codec "
    "(decode_bmp_stats): magic/planes/bpp/compression checks, "
    "pixel-offset header field, row STRIDE padding, BOTTOM-UP row "
    "order. The oracle replays the pixel-generator arithmetic "
    "without seeing the blob; top_row_sum (the TOP image row = LAST "
    "memory row) makes bottom-up/padding handling hash-visible even "
    "when whole-image channel sums agree. 100-TB shape: encode is a "
    "projection, decode is Arrow-batched mapInPandas, 1:1, no "
    "shuffle.",
    tags=("parity", "multimodal", "north-star"),
)
def bmp_image_decode_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.multimodal import (
        bmp24_blob,
        decode_bmp_stats,
    )

    parts = load(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    width = (pk % 7 + 1).cast("int")
    height = (pk % 5 + 1).cast("int")

    def pixel(x, y, c):
        return F.pmod(pk * 31 + y * 17 + x * 7 + c * 3, F.lit(256)).cast("int")

    payloads = parts.select(
        pk.alias("payload_id"),
        bmp24_blob(width, height, pixel).alias("img"),
    )
    dec = decode_bmp_stats(payloads, "payload_id", "img")
    area = F.col("width") * F.col("height")
    return dec.select(
        "payload_id", "width", "height",
        F.round(F.col("sum_b") / area, 6).alias("mean_b"),
        F.round(F.col("sum_g") / area, 6).alias("mean_g"),
        F.round(F.col("sum_r") / area, 6).alias("mean_r"),
        "top_row_sum",
    )


@register(
    "png_image_decode_stats",
    oracle="""
    WITH g AS (
      SELECT c_custkey,
             2 + c_custkey % 6 AS width,
             1 + c_custkey % 7 AS height,
             unnest(generate_series(
               0, (2 + c_custkey % 6) * (1 + c_custkey % 7) * 3 - 1)) AS i
      FROM customer
    ),
    v AS (
      SELECT c_custkey, width, height,
             i // (3 * width) AS y,
             i % 3 AS c,
             (c_custkey * 13 + (i // (3 * width)) * 19
              + ((i // 3) % width) * 5 + (i % 3) * 7) % 256 AS v
      FROM g
    )
    SELECT c_custkey AS payload_id,
           CAST(any_value(width) AS BIGINT) AS width,
           CAST(any_value(height) AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           round(CAST(round(CAST(
             CAST(sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS DOUBLE)
               / (any_value(width) * any_value(height))
             AS DECIMAL(20,8)), 6) AS DOUBLE), 6) AS mean_r,
           round(CAST(round(CAST(
             CAST(sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS DOUBLE)
               / (any_value(width) * any_value(height))
             AS DECIMAL(20,8)), 6) AS DOUBLE), 6) AS mean_g,
           round(CAST(round(CAST(
             CAST(sum(CASE WHEN c = 2 THEN v ELSE 0 END) AS DOUBLE)
               / (any_value(width) * any_value(height))
             AS DECIMAL(20,8)), 6) AS DOUBLE), 6) AS mean_b,
           CAST(sum(CASE WHEN y = 0 THEN v ELSE 0 END) AS BIGINT)
             AS top_row_sum
    FROM v GROUP BY c_custkey
    """,
    doc="REAL COMPRESSED-image decode gate (VERDICT r08 #4 — the PNG "
    "leg closing the 'compressed bytes -> pixels' story with zero "
    "new dependencies): per customer, a non-interlaced 8-bit RGB PNG "
    "is assembled ENTIRELY JVM-side (operators/multimodal."
    "png_rgb8_blob — per-row scanline FILTERS y%5 so all five "
    "public-spec filters incl. Paeth are exercised, a valid zlib "
    "stream framed as stored deflate blocks with an exact "
    "F.aggregate adler32, and real chunk CRCs via F.crc32), then "
    "decoded BACK by the stdlib-only codec (decode_png_stats): "
    "signature, mandatory per-chunk crc32 verification, IHDR "
    "validation, zlib.decompress, and the five scanline unfilters. "
    "The oracle replays the pixel-generator arithmetic without "
    "seeing the blob; top_row_sum (PNG row 0 = the FIRST scanline — "
    "top-down, the opposite of BMP) makes row-order and unfilter "
    "bugs hash-visible even when whole-image channel sums agree. "
    "100-TB shape: encode is a projection, decode is Arrow-batched "
    "mapInPandas, 1:1, no shuffle. The NotImplementedError seam now "
    "covers only genuinely DCT/entropy-coded formats (JPEG/MP4).",
    tags=("parity", "multimodal", "north-star"),
)
def png_image_decode_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.multimodal import (
        decode_png_stats,
        encode_png_rgb8,
    )

    cust = load(spark, sf_dir, "customer")
    ck = F.col("payload_id")  # the generators key off the output id
    width = (ck % 6 + 2).cast("int")
    height = (ck % 7 + 1).cast("int")

    def pixel(x, y, c):
        return F.pmod(ck * 13 + y * 19 + x * 5 + c * 7, F.lit(256)).cast("int")

    # staged bulk encoder: each intermediate (scanline array, hex,
    # adler, zlib framing) evaluates ONCE per row — the one-Column
    # png_rgb8_blob form re-evaluates the scanline build ~6x because
    # higher-order functions run outside codegen subexpr elimination
    payloads = encode_png_rgb8(
        cust.select(F.col("c_custkey").alias("payload_id")),
        width, height, pixel,
    )
    dec = decode_png_stats(payloads, "payload_id", "png")
    area = F.col("width") * F.col("height")
    return dec.select(
        "payload_id", "width", "height", "channels",
        F.round(F.col("sum_r") / area, 6).alias("mean_r"),
        F.round(F.col("sum_g") / area, 6).alias("mean_g"),
        F.round(F.col("sum_b") / area, 6).alias("mean_b"),
        "top_row_sum",
    )


@register(
    "near_dup_clusters",
    oracle=_clusters_oracle(),
    doc="Transitive near-dup clustering: connected components over the "
    "MinHash-LSH pair graph via iterative min-label propagation "
    "(A~B, B~C collapse to one cluster); oracle = recursive-CTE "
    "transitive closure.",
    tags=("north-star", "dedup"),
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.graph import connected_components

    docs = load(spark, sf_dir, "documents")
    corpus = _variant_corpus(docs)
    pairs = minhash_near_dup_pairs(
        corpus, "doc_id", "text", num_hashes=_K, bands=_B
    )
    cc = connected_components(pairs)
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


@register(
    "boilerplate_ratio",
    oracle="""
    WITH kg AS (
      SELECT doc_id, i AS pos, md5(substr(text, CAST(i AS INT), 8)) AS h,
             greatest(length(text) - 7, 0) AS nk
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text) - 7, 0))) AS i
            FROM documents)
    ),
    wins AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             pos, nk
      FROM kg
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= nk - 3),
    common AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) >= 3)
    SELECT f.doc_id,
           count(*) AS n_fps,
           count(c.fp) AS n_boilerplate,
           round(CAST(count(c.fp) AS DOUBLE) / count(*), 6) AS boilerplate_ratio
    FROM fps f LEFT JOIN common c ON f.fp = c.fp
    GROUP BY f.doc_id
    """,
    doc="Boilerplate detection: winnowing fingerprints shared by >= 3 "
    "docs are 'boilerplate'; per-doc contamination ratio — the "
    "standard cross-document repeated-substring filter for training "
    "corpora.",
    tags=("north-star", "text"),
)
def boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.text_analysis import (
        winnow_fingerprints,
    )

    docs = _spread(load(spark, sf_dir, "documents"))
    fps = winnow_fingerprints(docs, "doc_id", "text").persist()
    common = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= 3)
        .select("fp", F.lit(1).alias("__common"))
    )
    return (
        fps.join(common, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fps"),
            F.count("__common").alias("n_boilerplate"),
            F.round(F.count("__common").cast("double") / F.count("*"), 6).alias(
                "boilerplate_ratio"
            ),
        )
    )


@register(
    "doc_normalized",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
      FROM documents
    )
    SELECT doc_id, norm_text,
           CASE WHEN norm_text = '' THEN 0
                ELSE len(string_split(norm_text, ' ')) END AS n_tokens,
           md5(norm_text) AS norm_hash
    FROM norm
    """,
    doc="Canonical text normalization (lowercase, punctuation->space, "
    "whitespace collapse) with post-normalization token count and "
    "content hash - the canonicalization step ahead of shingling so "
    "case/punctuation variants dedup together. Pure projection, no "
    "shuffle.",
    tags=("north-star", "text"),
)
def doc_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.text_analysis import normalize_text

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    norm = normalize_text(docs, "text").drop("text")
    return norm.select(
        "doc_id",
        "norm_text",
        F.when(F.col("norm_text") == "", F.lit(0))
        .otherwise(F.size(F.split(F.col("norm_text"), " ")))
        .cast("bigint")
        .alias("n_tokens"),
        F.md5(F.encode(F.col("norm_text"), "utf-8")).alias("norm_hash"),
    )


# md5(id)'s first 8 hex digits as a 32-bit int — the DuckDB replay of
# operators/sampling.hash_bucket (DuckDB has no conv(); per-nibble
# instr sum instead).
_SQL_H32 = (
    "("
    + " + ".join(
        f"(instr('{HEX}', substring(md5(CAST({{c}} AS VARCHAR)), {j + 1}, 1)) - 1)"
        f" * {16 ** (7 - j)}"
        for j in range(8)
    )
    + ")"
)


@register(
    "doc_split_assign",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {_SQL_H32.format(c="doc_id")} AS h32 FROM documents
    )
    SELECT doc_id,
           h32 % 32 AS shard,
           CASE WHEN h32 % 10000 < 9000 THEN 'train'
                WHEN h32 % 10000 < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """,
    doc="Deterministic content-addressed sharding + train/val/test "
    "split (90/5/5): md5(doc_id) -> 32-bit int -> modular buckets. "
    "RNG-free, so assignment is stable under re-runs, appends, and "
    "repartitioning - the anti-leakage property. Pure projection, "
    "zero shuffles.",
    tags=("north-star", "sampling"),
)
def doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.sampling import (
        hash_shard,
        split_assign,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")
    sharded = hash_shard(docs, "doc_id", 32)
    return split_assign(
        sharded, "doc_id", [("train", 9000), ("val", 500), ("test", 500)]
    ).select("doc_id", "shard", "split")


@register(
    "doc_packed_bins",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             {_SQL_H32.format(c="doc_id")} % 8 AS shard,
             len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT *,
             CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0) AS BIGINT) AS bin
      FROM toks
    )
    SELECT shard, bin,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS token_sum,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM packed
    GROUP BY 1, 2
    """,
    doc="Greedy contiguous sequence packing: docs hash-sharded 8 "
    "ways, laid end-to-end per shard in doc_id order, cut into "
    "2048-token bins (bin = floor(exclusive_prefix / budget)) - the "
    "pretraining batcher shape. One window per shard: shards pack "
    "independently, no global sort at any scale.",
    tags=("north-star", "sampling"),
)
def doc_packed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.sampling import (
        hash_shard,
        pack_sequences,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda w: F.length(w) > 0)
        ).cast("bigint").alias("n_tokens"),
    )
    packed = pack_sequences(
        hash_shard(docs, "doc_id", 8), "doc_id", "n_tokens", 2048, shard_col="shard"
    )
    return packed.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("token_sum"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "doc_pii_redacted",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN
               concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                      '@example.com or https://ex.com/d/', CAST(doc_id AS VARCHAR),
                      ' tel +1415', lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0'))
             ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_url,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(text, '\+[0-9]{7,15}')) AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               'https?://[^\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+[0-9]{7,15}', '<PHONE>', 'g')) AS red_hash
    FROM corpus
    """,
    doc="PII redaction pass: URLs/emails/intl phone numbers replaced "
    "by typed placeholders, per-category match counts kept for "
    "auditing. The synthetic corpus has no PII, so every 5th doc "
    "gets a deterministic planted email+URL+phone both engines "
    "construct identically; the full redacted text is compared by "
    "hash. Three codegen regex passes, zero shuffles.",
    tags=("north-star", "text"),
)
def doc_pii_redacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.text_analysis import redact_pii

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or https://ex.com/d/"),
                F.col("doc_id").cast("string"),
                F.lit(" tel +1415"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 7, "0"),
            ),
        ).otherwise(F.col("text")),
    )
    red = redact_pii(planted, "text")
    return red.select(
        "doc_id",
        F.col("n_url").cast("bigint").alias("n_url"),
        F.col("n_email").cast("bigint").alias("n_email"),
        F.col("n_phone").cast("bigint").alias("n_phone"),
        F.md5(F.encode(F.col("redacted"), "utf-8")).alias("red_hash"),
    )


@register(
    "doc_frame_samples",
    oracle="""
    SELECT doc_id,
           CAST(i AS BIGINT) AS frame_idx,
           md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS frame_md5
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(0, CAST(floor((length(text) - 1) / 64.0) AS BIGINT)))
               AS i
      FROM documents
    )
    WHERE i % 4 = 0
    """,
    doc="Container frame sampling: the utf-8 payload is chunked into "
    "64-byte frames and every 4th frame is emitted (id, frame_idx, "
    "frame-hash) via row-multiplying Arrow-batched mapInPandas - the "
    "video keyframe-sampling shape with the codec seam stubbed "
    "deterministically. The corpus is ASCII, so DuckDB replays the "
    "chunking with character substr and compares frames by md5.",
    tags=("north-star", "multimodal"),
)
def doc_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.multimodal import (
        sample_frames,
        with_binary_payload,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = with_binary_payload(docs, "text").select("doc_id", "payload")
    frames = sample_frames(payloads, "doc_id", "payload")
    return frames.select(
        "doc_id", "frame_idx", F.md5(F.col("frame")).alias("frame_md5")
    )


@register(
    "clean_corpus",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm_text
      FROM documents
    ),
    scored AS (
      SELECT doc_id, norm_text,
             CASE WHEN norm_text = '' THEN 0
                  ELSE len(string_split(norm_text, ' ')) END AS n_tokens
      FROM norm
    ),
    kept AS (SELECT * FROM scored WHERE n_tokens >= 30),
    dedup AS (
      SELECT min(doc_id) AS doc_id, md5(norm_text) AS content_hash,
             min(n_tokens) AS n_tokens
      FROM kept GROUP BY 2
    )
    SELECT d.doc_id, d.content_hash, d.n_tokens,
           CASE WHEN {_SQL_H32.format(c="d.doc_id")} % 10000 < 9000 THEN 'train'
                WHEN {_SQL_H32.format(c="d.doc_id")} % 10000 < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM dedup d
    """,
    doc="Flagship training-corpus pipeline as ONE declarative DAG: "
    "normalize -> token-count quality gate (>=30 tokens) -> exact "
    "dedup on the CANONICAL text (case/punctuation variants collapse) "
    "-> content-addressed train/val/test assignment. One shuffle "
    "total (the dedup groupBy); everything before and after is "
    "codegen projection, so the pipeline cost at 100 TB is the dedup "
    "exchange plus a linear scan.",
    tags=("north-star", "text", "dedup", "sampling"),
)
def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.dedup import dedup_exact_hash
    from end_to_end_etl_pipeline_spark.operators.sampling import split_assign
    from end_to_end_etl_pipeline_spark.operators.text_analysis import normalize_text

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    norm = normalize_text(docs, "text").drop("text")
    scored = norm.withColumn(
        "n_tokens",
        F.when(F.col("norm_text") == "", F.lit(0))
        .otherwise(F.size(F.split(F.col("norm_text"), " ")))
        .cast("bigint"),
    )
    kept = scored.filter(F.col("n_tokens") >= 30)
    deduped = dedup_exact_hash(
        kept, ["norm_text"], "doc_id", keep_cols=["doc_id", "n_tokens"]
    ).select("doc_id", "content_hash", "n_tokens")
    return split_assign(
        deduped, "doc_id", [("train", 9000), ("val", 500), ("test", 500)]
    ).select("doc_id", "content_hash", "n_tokens", "split")


@register(
    "doc_stratified_sample",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, {_SQL_H32.format(c="doc_id")} % 10000 AS b
      FROM documents
    )
    SELECT doc_id, lang FROM h
    WHERE b < CASE WHEN lang = 'en' THEN 2500 ELSE 10000 END
    """,
    doc="Deterministic stratified rebalancing: English (the dominant "
    "stratum) downsampled to 25%, every other language kept whole - "
    "the md5-bucket keep-set is stable across reruns, partitionings, "
    "and engines, so the rebalanced corpus is content-addressed. "
    "Pure filter, zero shuffles.",
    tags=("north-star", "sampling"),
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, "doc_id", "lang", {"en": 0.25})


@register(
    "doc_chunks",
    oracle=r"""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ), starts AS (
      SELECT doc_id, w,
             unnest(generate_series(1, greatest(len(w) - 5, 1), 25)) AS i
      FROM words
    ), chunks AS (
      SELECT doc_id,
             CAST((i - 1) // 25 AS INT) AS chunk_idx,
             list_slice(w, CAST(i AS INT), CAST(i + 29 AS INT)) AS toks
      FROM starts
    )
    SELECT doc_id, chunk_idx,
           array_to_string(toks, ' ') AS chunk_text,
           CAST(len(toks) AS INT) AS n_tokens
    FROM chunks
    """,
    doc="RAG/embedding prep: overlapping sliding-window chunking of "
    "every document (30-word chunks, 5-word overlap, tail-covering "
    "start rule) via sliding_chunks + posexplode. Map-side only - "
    "the chunker adds zero shuffles to whatever stage consumes it; "
    "both engines derive identical (start, slice) windows so the "
    "chunk text value-hashes match exactly.",
    tags=("north-star", "text", "sampling"),
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.text_analysis import sliding_chunks

    docs = _spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    exploded = docs.select(
        "doc_id",
        F.posexplode(sliding_chunks("text")).alias(
            "chunk_idx", "ch"
        ),
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.array_join("ch.toks", " ").alias("chunk_text"),
        F.size("ch.toks").alias("n_tokens"),
    )


@register(
    "vocab_oov_rates",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, word
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\s+')) AS word
            FROM documents)
      WHERE length(word) > 0
    ),
    vocab AS (
      SELECT word FROM (
        SELECT word,
               row_number() OVER (ORDER BY count(*) DESC, word) AS rn
        FROM w GROUP BY word
      ) WHERE rn <= 25
    )
    SELECT w.doc_id,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS in_vocab,
           round(1.0 - sum(CASE WHEN v.word IS NOT NULL THEN 1.0 ELSE 0.0 END)
                 / count(*), 6) AS oov_rate
    FROM w LEFT JOIN vocab v ON w.word = v.word
    GROUP BY 1
    """,
    doc="Vocabulary-coverage profiling: build the corpus top-25 "
    "vocabulary (count desc, word asc tie-break - deterministic at "
    "the cutoff) in one agg + TakeOrdered, then score every "
    "document's out-of-vocabulary token rate via a BROADCAST left "
    "join against the tiny vocab. Two shuffles total (word agg, "
    "doc agg) regardless of corpus size - the vocab never leaves "
    "the driver-broadcast path.",
    tags=("north-star", "text"),
)
def vocab_oov_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    w = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    ).filter(F.length("word") > 0)
    vocab = (
        w.groupBy("word")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("word").asc())
        .limit(25)
        .select(F.col("word").alias("v_word"))
    )
    joined = w.join(F.broadcast(vocab), w.word == F.col("v_word"), "left")
    hit = F.when(F.col("v_word").isNotNull(), 1).otherwise(0)
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(hit).alias("in_vocab"),
        F.round(1.0 - F.sum(hit.cast("double")) / F.count("*"), 6).alias("oov_rate"),
    )


@register(
    "corpus_datacard",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, source, lang, text,
             len(list_filter(string_split(text, ' '), w -> length(w) > 0))
               AS n_tokens,
             length(text) AS n_chars
      FROM documents
    )
    SELECT 'volume' AS section, 'n_docs' AS metric, source AS dim,
           CAST(count(*) AS DOUBLE) AS value
    FROM d GROUP BY source
    UNION ALL
    SELECT 'volume', 'total_tokens', source, CAST(sum(n_tokens) AS DOUBLE)
    FROM d GROUP BY source
    UNION ALL
    SELECT 'volume', 'total_chars', source, CAST(sum(n_chars) AS DOUBLE)
    FROM d GROUP BY source
    UNION ALL
    SELECT 'lang_mix', 'n_docs', lang, CAST(count(*) AS DOUBLE)
    FROM d GROUP BY lang
    UNION ALL
    SELECT 'length', 'tokens_p10', 'ALL',
           CAST(round(CAST(quantile_cont(n_tokens, 0.1) AS DECIMAL(20,8)), 2)
                AS DOUBLE) FROM d
    UNION ALL
    SELECT 'length', 'tokens_p50', 'ALL',
           CAST(round(CAST(quantile_cont(n_tokens, 0.5) AS DECIMAL(20,8)), 2)
                AS DOUBLE) FROM d
    UNION ALL
    SELECT 'length', 'tokens_p90', 'ALL',
           CAST(round(CAST(quantile_cont(n_tokens, 0.9) AS DECIMAL(20,8)), 2)
                AS DOUBLE) FROM d
    UNION ALL
    SELECT 'length', 'mean_chars', 'ALL',
           CAST(round(CAST(avg(n_chars) AS DECIMAL(20,8)), 2) AS DOUBLE)
    FROM d
    UNION ALL
    SELECT 'dedup', 'exact_dup_docs', 'ALL',
           CAST(count(*) - count(DISTINCT text) AS DOUBLE)
    FROM d
    UNION ALL
    SELECT 'dedup', 'distinct_texts', 'ALL',
           CAST(count(DISTINCT text) AS DOUBLE)
    FROM d
    """,
    doc="Corpus datacard ('datasheets for datasets'): the one-stop "
    "report a training-data release ships - per-source volume (docs/"
    "tokens/chars), language mix, token-length percentiles (exact "
    "sort percentile, decimal-routed; swap approx_percentile at "
    "100 TB - same shape), mean length, and the exact-duplicate "
    "rate - as ONE long-format frame (section, metric, dim, value). "
    "Scale shape: one tokenizing projection feeds grouped partial "
    "aggs; the percentile is the only sort, over one bigint per doc. "
    "Everything else is dimension-bounded output.",
    tags=("north-star", "text", "profiling"),
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    d = docs.select(
        "source", "lang", "text",
        F.size(words).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )

    def row(section, metric, dim, value):
        return [F.lit(section).alias("section"), F.lit(metric).alias("metric"),
                dim.alias("dim"), value.cast("double").alias("value")]

    vol = d.groupBy("source").agg(
        F.count("*").alias("nd"),
        F.sum("n_tokens").alias("tt"),
        F.sum("n_chars").alias("tc"),
    )
    out = (
        vol.select(*row("volume", "n_docs", F.col("source"), F.col("nd")))
        .unionByName(vol.select(*row("volume", "total_tokens", F.col("source"), F.col("tt"))))
        .unionByName(vol.select(*row("volume", "total_chars", F.col("source"), F.col("tc"))))
        .unionByName(
            d.groupBy("lang").agg(F.count("*").alias("n"))
            .select(*row("lang_mix", "n_docs", F.col("lang"), F.col("n")))
        )
    )
    pct = d.agg(
        F.expr("percentile(n_tokens, array(0.1D, 0.5D, 0.9D))").alias("__p"),
        F.avg("n_chars").alias("__mean"),
        F.count("*").alias("__n"),
        F.countDistinct("text").alias("__dt"),
    )

    def r2(c):
        return F.round(c.cast("decimal(20,8)"), 2).cast("double")

    for i, p in enumerate((10, 50, 90)):
        out = out.unionByName(
            pct.select(*row("length", f"tokens_p{p}", F.lit("ALL"),
                            r2(F.col("__p")[i])))
        )
    out = out.unionByName(
        pct.select(*row("length", "mean_chars", F.lit("ALL"), r2(F.col("__mean"))))
    ).unionByName(
        pct.select(*row("dedup", "exact_dup_docs", F.lit("ALL"),
                        F.col("__n") - F.col("__dt")))
    ).unionByName(
        pct.select(*row("dedup", "distinct_texts", F.lit("ALL"), F.col("__dt")))
    )
    return out


@register(
    "vocab_drift_psi",
    oracle=r"""
    WITH w AS (
      SELECT doc_id % 2 AS side, word
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\s+')) AS word
            FROM documents)
      WHERE length(word) > 0
    ),
    tot AS (
      SELECT CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS rt,
             CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ct
      FROM w
    ),
    vocab AS (
      SELECT word FROM (
        SELECT word,
               row_number() OVER (ORDER BY count(*) DESC, word) AS rn
        FROM w WHERE side = 0 GROUP BY word
      ) WHERE rn <= 200
    ),
    cnts AS (
      SELECT v.word,
             CAST(coalesce(sum(CASE WHEN w.side = 0 THEN 1 END), 0) AS BIGINT) AS rc,
             CAST(coalesce(sum(CASE WHEN w.side = 1 THEN 1 END), 0) AS BIGINT) AS cc
      FROM vocab v LEFT JOIN w ON w.word = v.word
      GROUP BY v.word
    ),
    rows_ AS (
      SELECT word, rc, cc FROM cnts
      UNION ALL
      SELECT '__OOV__',
             (SELECT rt FROM tot) - (SELECT sum(rc) FROM cnts),
             (SELECT ct FROM tot) - (SELECT sum(cc) FROM cnts)
    ),
    probs AS (
      SELECT word,
             (rc + 1) / CAST(tot.rt + 201 AS DOUBLE) AS p,
             (cc + 1) / CAST(tot.ct + 201 AS DOUBLE) AS q
      FROM rows_, tot
    )
    SELECT word,
           CAST(round(CAST(p AS DECIMAL(20,12)), 8) AS DOUBLE) AS p_ref,
           CAST(round(CAST(q AS DECIMAL(20,12)), 8) AS DOUBLE) AS p_cur,
           CAST(round(CAST((q - p) * ln(q / p) AS DECIMAL(20,12)), 8)
                AS DOUBLE) AS psi_term
    FROM probs
    """,
    doc="Training-data drift monitoring: per-word Population "
    "Stability Index between two corpus snapshots (here the even/odd "
    "doc_id halves standing in for version N / version N+1 of a "
    "feed). The vocabulary is the REFERENCE side's top-200 words "
    "(count desc, word asc - deterministic at the cutoff) plus one "
    "__OOV__ bucket, so both snapshots are scored against the same "
    "discrete outcome set - no histogram binning, hence no "
    "engine-dependent bin-edge ambiguity; Laplace (+1) smoothing "
    "keeps every log ratio finite. psi_term = (q-p)*ln(q/p) >= 0 per "
    "word; the sum is the standard drift score (>0.25 = retrain "
    "trigger in credit-risk practice). Scale shape: two token aggs "
    "(map-side partial) and everything after is vocab-sized (201 "
    "rows); the vocab broadcast-joins both sides. The 8dp rounding "
    "routes through an exact decimal cast per the repo's "
    "double-rounding discipline.",
    tags=("north-star", "text", "profiling"),
)
def vocab_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = docs.select(
        (F.col("doc_id") % 2).alias("side"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    ).filter(F.length("word") > 0)
    tot = toks.agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("rt"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("ct"),
    )
    vocab = (
        toks.filter(F.col("side") == 0)
        .groupBy("word")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("word").asc())
        .limit(200)
        .select("word")
    )
    cnts = (
        toks.join(F.broadcast(vocab), "word")
        .groupBy("word")
        .agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("rc"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("cc"),
        )
    )
    # the vocab outcome set must be complete even when a vocab word
    # never appears on the current side (rc>0 by construction, cc can
    # be 0): cnts only has joined rows, so re-anchor on vocab
    cnts = (
        F.broadcast(vocab)
        .join(cnts, "word", "left")
        .select(
            "word",
            F.coalesce("rc", F.lit(0)).alias("rc"),
            F.coalesce("cc", F.lit(0)).alias("cc"),
        )
    )
    in_vocab = cnts.agg(
        F.sum("rc").alias("vr"), F.sum("cc").alias("vc")
    )
    oov = (
        tot.crossJoin(in_vocab)
        .select(
            F.lit("__OOV__").alias("word"),
            (F.col("rt") - F.col("vr")).alias("rc"),
            (F.col("ct") - F.col("vc")).alias("cc"),
        )
    )
    rows = cnts.unionByName(oov).crossJoin(F.broadcast(tot))
    p = (F.col("rc") + 1) / (F.col("rt") + 201).cast("double")
    q = (F.col("cc") + 1) / (F.col("ct") + 201).cast("double")

    def r8(c):
        return F.round(c.cast("decimal(20,12)"), 8).cast("double")

    return rows.select(
        "word",
        r8(p).alias("p_ref"),
        r8(q).alias("p_cur"),
        r8((q - p) * F.log(q / p)).alias("psi_term"),
    )


_SQL_GRAMS = r"""
  grams AS (
    SELECT DISTINCT doc_id, split,
           md5(array_to_string(list_slice(w, CAST(i AS INT), CAST(i + 7 AS INT)), ' ')) AS gram
    FROM (SELECT doc_id, split, w,
                 unnest(generate_series(1, len(w) - 7)) AS i
          FROM (SELECT doc_id, split,
                       string_split_regex(trim(text), '\s+') AS w
                FROM assigned)
          WHERE len(w) >= 8)
  )"""


def _capped_rare_grams(assigned):
    """(doc_id, split, gram) word-8-gram md5 shingles, distinct per
    doc, restricted to grams with document frequency <= 10 — the
    df-cap skew guard shared by the contamination audit and the
    removal query (groupBy+semi-join, never a count-over-gram window:
    the window would ship every occurrence of a hot gram to one
    task).

    Cache lifecycle (owned here, not by callers): the full gram table
    is cached only long enough to serve its two uses (df agg + the
    semi-join), the CAPPED result — the rare tail, the small frame —
    is materialized into its own cache, then the big pre-cap cache is
    released. The returned frame is persisted (callers branch it by
    split, so it is read at least twice); it stays in the session's
    CacheManager, which dedupes by plan, so repeat runs reuse rather
    than accumulate."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(words)
    gram_arr = F.when(
        n >= 8,
        F.transform(
            F.sequence(F.lit(1), n - 7),
            lambda s: F.md5(
                F.encode(F.concat_ws(" ", F.slice(words, s, 8)), "utf-8")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # r12: per-doc distinct via array_distinct BEFORE the explode —
    # (doc_id, split) is functionally determined by doc_id, so
    # within-array dedup is exactly the old global .distinct() on
    # (doc_id, split, gram) minus its full shuffle of every gram
    # occurrence (the largest relation in the query). The gram table
    # is now a pure map from the corpus scan; it stays persisted only
    # because two consumers (the df aggregate and the semi-join) read
    # it back to back.
    grams = (
        assigned.select(
            "doc_id", "split",
            F.explode(F.array_distinct(gram_arr)).alias("gram"),
        )
        .persist()
    )
    rare = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= 10)
        .select("gram")
    )
    capped = grams.join(rare, "gram", "left_semi").persist()
    capped.count()  # materialize capped before dropping the gram cache
    grams.unpersist()
    return capped


@register(
    "split_contamination",
    oracle=f"""
    WITH {_SQL_CORPUS},
    assigned AS (
      SELECT doc_id, text,
             CASE WHEN {_SQL_H32.format(c="doc_id")} % 10000 < 8000
                  THEN 'train' ELSE 'test' END AS split
      FROM corpus
    ),
    {_SQL_GRAMS},
    rare AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) <= 10),
    g AS (SELECT grams.doc_id, grams.split, grams.gram
          FROM grams JOIN rare ON grams.gram = rare.gram)
    SELECT t.doc_id AS test_doc_id, r.doc_id AS train_doc_id,
           count(*) AS n_shared_grams
    FROM g t JOIN g r ON t.gram = r.gram
    WHERE t.split = 'test' AND r.split = 'train'
    GROUP BY 1, 2
    """,
    doc="Train/test contamination audit - the check every LLM corpus "
    "needs before eval: deterministic content-addressed 80/20 split "
    "(split_assign), word-8-gram md5 shingles per doc (distinct), a "
    "document-frequency cap (df<=10) that drops boilerplate/hot "
    "shingles BEFORE the join (the skew guard - without it one "
    "ubiquitous shingle joins every test doc to every train doc), "
    "then test x train matched on gram hash. One bounded shuffle "
    "join; pairs emerge with their shared-gram counts. The planted "
    "perturbed variants (same corpus as the near-dup oracles) land "
    "in different splits and MUST be caught.",
    tags=("north-star", "dedup", "sampling"),
)
def split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.sampling import split_assign

    corpus = _variant_corpus(load(spark, sf_dir, "documents"))
    assigned = split_assign(corpus, "doc_id", [("train", 8000), ("test", 2000)])
    capped = _capped_rare_grams(assigned)  # persisted by the helper
    t = capped.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc_id"), "gram"
    )
    r = capped.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc_id"), "gram"
    )
    return (
        t.join(r, "gram")
        .groupBy("test_doc_id", "train_doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )


@register(
    "doc_tfidf_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2
    ), dfreq AS (
      SELECT word, count(*) AS df FROM tf GROUP BY 1
    ), tot AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT t.doc_id, t.word, t.tf,
             round(t.tf * ln(CAST(tot.n AS DOUBLE) / d.df), 6) AS tfidf
      FROM tf t JOIN dfreq d USING (word) CROSS JOIN tot
    )
    SELECT doc_id, word, tf, tfidf, rk FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, word) AS INT) AS rk
      FROM scored)
    WHERE rk <= 3
    """,
    doc="TF-IDF keyword extraction: top-3 salient terms per document "
    "by term-frequency x inverse-document-frequency (natural log, "
    "rounded BEFORE ranking so cross-engine ordering is identical; "
    "ties break on the word). Document frequency is a window count "
    "over the term-frequency relation (tf rows are distinct "
    "(doc,word) pairs, so COUNT(*) OVER word = docs containing the "
    "word) - ONE corpus scan+explode, no self-join, no duplicated "
    "aggregation subtree. Shuffles: explode->tf (doc,word), word "
    "window, doc_id window - all keyed on bounded cardinalities; the "
    "only driver-side value is the 1-row N broadcast.",
    tags=("north-star", "text", "windows"),
)
def doc_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    toks = docs.select("doc_id", F.explode(words).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    n = docs.agg(F.count("*").alias("n"))
    # df stays a count-over window (r12 measured A/B: a word-keyed
    # aggregate joined back read 1.27x SLOWER interleaved in one
    # session — column pruning drops the tf column from the df-side
    # subtree, so the two (doc_id, word) exchanges are not identical,
    # ReuseExchange cannot fire, and the broadcast side re-runs the
    # whole scan+explode+tf aggregation as its own job; the window
    # computes df from the already-aggregated tf rows in place).
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("word")))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("word").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "word", "tf", "tfidf", "rk")
    )


@register(
    "doc_repetition_ratio",
    oracle="""
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> length(w) > 0) AS w
      FROM documents
    ), tri AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                            i -> array_to_string(list_slice(w, i, i + 2), ' ')) AS t
      FROM ws
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_trigrams,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
           CASE WHEN len(t) = 0 THEN 0.0
                ELSE round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
           END AS rep_ratio
    FROM tri
    """,
    doc="Repetition-ratio quality signal (Gopher-style duplicate "
    "n-gram fraction): per document, the share of word trigrams that "
    "are repeats of an earlier trigram in the same document - a "
    "strong low-quality/boilerplate indicator for training-data "
    "filtering. Entirely per-row array expressions (split -> trigram "
    "build -> array_distinct): a pure projection over the corpus "
    "scan, zero shuffles, embarrassingly parallel at any scale.",
    tags=("north-star", "text"),
)
def doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    # Spark's sequence(1, 0) yields [1, 0] (descending), not empty -
    # guard short docs explicitly.
    tri = F.when(F.size(ws) >= 3, F.transform(
        F.sequence(F.lit(1), F.size(ws) - 2),
        lambda i: F.concat_ws(" ", F.slice(ws, i, 3)),
    )).otherwise(F.array().cast("array<string>"))
    out = docs.select(
        "doc_id",
        F.size(tri).cast("bigint").alias("n_trigrams"),
        F.size(F.array_distinct(tri)).cast("bigint").alias("n_distinct"),
    )
    return out.select(
        "doc_id",
        "n_trigrams",
        "n_distinct",
        F.when(F.col("n_trigrams") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_trigrams"), 6
            )
        )
        .alias("rep_ratio"),
    )


@register(
    "source_capped_docs",
    oracle="""
    SELECT doc_id, source, kept_rank FROM (
      SELECT doc_id, source,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS kept_rank
      FROM documents)
    WHERE kept_rank <= 10
    """,
    doc="Bounded-contributor corpus balancing: at most 10 documents "
    "per source, chosen by md5-hash order of doc_id (group_capped_"
    "sample) - deterministic across engines/reruns, and appending "
    "new docs to a source only evicts from the hash-order tail. One "
    "group-key shuffle; WindowGroupLimit caps what each map "
    "partition emits at 10 rows per source, so a mega-source costs "
    "partitions x cap, not its row count.",
    tags=("north-star", "sampling"),
)
def source_capped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.sampling import group_capped_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return group_capped_sample(docs, "doc_id", "source", cap=10, out_rank="kept_rank")


@register(
    "doc_span_overlap",
    oracle=f"""
    WITH {_SQL_CORPUS},
    kg AS (
      SELECT doc_id, i AS pos, md5(substr(text, CAST(i AS INT), 8)) AS h,
             greatest(length(text) - 7, 0) AS nk
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text) - 7, 0))) AS i
            FROM corpus)
    ),
    wins AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             pos, nk
      FROM kg
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= nk - 3),
    kept AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 16),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM fps a
      JOIN kept k ON k.fp = a.fp
      JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared FROM pairs WHERE n_shared >= 5
    """,
    doc="Plagiarism-style span-overlap detection: document pairs "
    "sharing >= 5 winnowing fingerprints (k=8, w=4 - any shared "
    "substring >= 11 chars leaves a shared fingerprint) found by an "
    "inverted-index self-join on the fingerprint. Fingerprints in "
    "more than 16 documents are dropped first - the df-cap that "
    "bounds the join fanout to cap^2 per posting list (same skew "
    "discipline as the contamination audit); boilerplate spans are "
    "exactly the ones a span-overlap detector should ignore anyway. "
    "Complements MinHash (whole-doc similarity) with localized "
    "copied-span evidence.",
    tags=("north-star", "dedup", "text", "joins"),
)
def doc_span_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.text_analysis import (
        winnow_fingerprints,
    )

    corpus = _variant_corpus(load(spark, sf_dir, "documents"))
    fps = winnow_fingerprints(corpus, "doc_id", "text")
    kept = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= 16)
        .select("fp")
    )
    capped = fps.join(kept, "fp", "left_semi")
    a = capped.select(F.col("doc_id").alias("doc_a"), "fp")
    b = capped.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
    )


def _bpe_oracle(num_merges: int) -> str:
    """Unrolled-CTE replay of BPE training (same discipline as the
    PageRank oracle): each level recomputes pair counts from the
    current encoding, picks the argmax with the lexicographic
    tie-break, and re-encodes via the identical replace."""
    lvls = []
    for i in range(num_merges):
        lvls.append(f"""
    toks{i} AS (
      SELECT freq, list_filter(string_split(e, '~~'), t -> t <> '') AS t FROM enc{i}
    ),
    pairs{i} AS (
      SELECT l AS lhs, r AS rhs, sum(freq) AS cnt FROM (
        SELECT freq, t[CAST(j AS INT)] AS l, t[CAST(j + 1 AS INT)] AS r
        FROM toks{i}, unnest(generate_series(1, len(t) - 1)) AS u(j)
        WHERE len(t) >= 2
      ) GROUP BY 1, 2
    ),
    best{i} AS (
      SELECT lhs, rhs, cnt FROM pairs{i} ORDER BY cnt DESC, lhs, rhs LIMIT 1
    ),
    enc{i + 1} AS (
      SELECT word, freq,
             replace(e, '~' || b.lhs || '~~' || b.rhs || '~',
                        '~' || b.lhs || b.rhs || '~') AS e
      FROM enc{i}, best{i} b
    )""")
    selects = " UNION ALL ".join(
        f"SELECT {i + 1} AS merge_rank, lhs, rhs, CAST(cnt AS BIGINT) AS cnt FROM best{i}"
        for i in range(num_merges)
    )
    return f"""
    WITH words AS (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS word
        FROM documents) GROUP BY 1
    ),
    enc0 AS (
      SELECT word, freq,
             '~~' || array_to_string(string_split(word, ''), '~~') || '~~' AS e
      FROM words
    ),{','.join(lvls)}
    {selects}
    """


@register(
    "bpe_merge_rules",
    oracle=_bpe_oracle(3),
    doc="BPE tokenizer-vocabulary induction (operators/bpe.py): the "
    "first 3 learned merge rules over the corpus vocabulary. One "
    "corpus pass reduces to a (word, freq) table; each iteration "
    "counts adjacent token pairs over the VOCAB (not the corpus), "
    "collects the single argmax pair to the driver as a model "
    "parameter, and re-encodes by literal replace - left-to-right "
    "non-overlapping in both engines, which is BPE's merge rule. "
    "The oracle replays training as an unrolled CTE chain with the "
    "same lexicographic tie-break, so ranks, pairs, and counts must "
    "match exactly.",
    tags=("north-star", "text"),
)
def bpe_merge_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.bpe import bpe_train

    docs = _spread(load(spark, sf_dir, "documents"))
    words = (
        docs.select(
            F.explode(
                F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    rules = bpe_train(words, "word", "freq", num_merges=3)
    return spark.createDataFrame(
        rules, "merge_rank int, lhs string, rhs string, cnt bigint"
    )


@register(
    "bpe_token_freqs",
    oracle=_bpe_oracle(3).rsplit("SELECT 1 AS merge_rank", 1)[0].rstrip().rstrip(",")
    + """,
    final_toks AS (
      SELECT freq, unnest(list_filter(string_split(e, '~~'), t -> t <> '')) AS token
      FROM enc3
    )
    SELECT token, CAST(sum(freq) AS BIGINT) AS n_occurrences
    FROM final_toks GROUP BY 1
    """,
    doc="Tokenizer APPLY: segment the corpus vocabulary with the 3 "
    "learned BPE merges (applied in rank order via the same literal "
    "replaces training used) and aggregate per-token corpus "
    "frequencies - the token histogram a data pipeline feeds into "
    "vocab pruning and length estimation. The oracle replays "
    "training through enc3 and tokenizes identically, so every "
    "token string and count must match.",
    tags=("north-star", "text"),
)
def bpe_token_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.bpe import bpe_apply, bpe_train

    docs = _spread(load(spark, sf_dir, "documents"))
    words = (
        docs.select(
            F.explode(
                F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    rules = bpe_train(words, "word", "freq", num_merges=3)
    return (
        bpe_apply(words, "word", "freq", rules)
        .groupBy("token")
        .agg(F.sum("freq").cast("bigint").alias("n_occurrences"))
    )


@register(
    "bpe_merge_rules_batched",
    oracle=_bpe_oracle(8),
    doc="Batched BPE training conformance gate: the SCALE path "
    "(operators/bpe.py bpe_train_batched — one pair-count job per "
    "batch, conflict-pruned argmax prefix, 2*cnt_c trim, plain-argmax "
    "fallback) must reproduce sequential Sennrich BPE bit-for-bit. "
    "8 merges with max_batch=4 forces multiple batch rounds, "
    "exercising acceptance, trimming, and the cross-round re-count; "
    "the oracle replays training sequentially as an 8-level unrolled "
    "CTE chain with the same lexicographic tie-break, so every rank, "
    "pair, and count must match exactly. This is the driver-gated "
    "proof that the 30k-merge production path equals the textbook "
    "algorithm, not just the pytest toy.",
    tags=("north-star", "text"),
)
def bpe_merge_rules_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.bpe import bpe_train_batched

    docs = _spread(load(spark, sf_dir, "documents"))
    words = (
        docs.select(
            F.explode(
                F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    rules = bpe_train_batched(
        words, "word", "freq", num_merges=8, max_batch=4
    )
    return spark.createDataFrame(
        rules, "merge_rank int, lhs string, rhs string, cnt bigint"
    )


@register(
    "near_dup_pruned_corpus",
    oracle=_clusters_oracle().replace(
        "SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a",
        """, survivors AS (
      SELECT min(a) AS doc_id FROM (
        SELECT a, min(b) AS cluster_id FROM reach GROUP BY a
      ) GROUP BY cluster_id
    ),
    dupes AS (
      SELECT a AS doc_id FROM (
        SELECT a, min(b) AS cluster_id FROM reach GROUP BY a)
      WHERE a NOT IN (SELECT doc_id FROM survivors)
    )
    SELECT c.doc_id, length(c.text) AS n_chars
    FROM corpus c
    WHERE c.doc_id NOT IN (SELECT doc_id FROM dupes)""",
    ),
    doc="Dedup RETENTION: the corpus after near-dup removal - each "
    "MinHash-LSH connected component keeps only its lowest doc_id "
    "(the canonical), every other member is dropped, and documents "
    "in no cluster pass through untouched. Spark side: cluster ids "
    "from iterative min-label propagation, survivors = min per "
    "cluster, then a broadcast left-anti join of the corpus against "
    "the (tiny, dup-count-sized) drop list - the corpus itself never "
    "shuffles. This is the step that turns pair/cluster DETECTION "
    "into the smaller training corpus.",
    tags=("north-star", "dedup"),
)
def near_dup_pruned_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.graph import connected_components

    corpus = _variant_corpus(load(spark, sf_dir, "documents"))
    pairs = minhash_near_dup_pairs(
        corpus, "doc_id", "text", num_hashes=_K, bands=_B
    )
    cc = connected_components(pairs)
    survivors = cc.groupBy("cluster_id").agg(F.min("node").alias("keep_id"))
    dupes = (
        cc.join(survivors, cc.node == survivors.keep_id, "left_anti")
        .select(F.col("node").alias("doc_id"))
    )
    # no broadcast hint: the drop list is dup-count-sized (unbounded
    # on a dup-heavy corpus) — AQE promotes the anti-join to broadcast
    # at runtime when it actually is small
    return corpus.join(dupes, "doc_id", "left_anti").select(
        "doc_id", F.length("text").alias("n_chars")
    )


@register(
    "doc_unigram_logppl",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS word
      FROM documents
    ), freq AS (
      SELECT word, count(*) AS f FROM toks GROUP BY 1
    ), tot AS (SELECT sum(f) AS t FROM freq)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(-ln(CAST(freq.f AS DOUBLE) / tot.t)), 4) AS avg_neg_logp
    FROM toks JOIN freq USING (word) CROSS JOIN tot
    GROUP BY doc_id
    """,
    doc="Unigram log-perplexity quality scoring (the KenLM-filter "
    "shape with a self-trained unigram LM): per document, the mean "
    "negative log-probability of its tokens under the corpus word "
    "distribution - anomalously high = gibberish/OOV-heavy, "
    "anomalously low = boilerplate. The frequency table is "
    "vocab-sized and joins token rows on the word key; the 1-row "
    "total broadcasts. At scale the LM table is exactly what a "
    "KenLM/ngram model shard would be - same join shape.",
    tags=("north-star", "text"),
)
def doc_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    toks = docs.select("doc_id", F.explode(words).alias("word"))
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("f"))
    tot = freq.agg(F.sum("f").alias("t"))
    return (
        toks.join(freq, "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("f").cast("double") / F.col("t"))), 4
            ).alias("avg_neg_logp"),
        )
    )


_GOPHER_STOPS = ("the", "a", "and", "to", "of", "that", "have", "with")


@register(
    "gopher_quality_filter",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CASE WHEN len(ws) > 0 THEN CAST(round(
               CAST(list_sum(list_transform(ws, x -> length(x)))
                    AS DECIMAL(20,8)) / len(ws), 4) AS DOUBLE) END AS mean_word_len,
             CASE WHEN len(ws) > 0 THEN CAST(round(
               CAST(len(list_filter(ws, x -> lower(x) <> upper(x)))
                    AS DECIMAL(20,8)) / len(ws), 6) AS DOUBLE) END AS alpha_ratio,
             CAST({" + ".join(f"(CASE WHEN list_contains(list_transform(ws, x -> lower(x)), '{s}') THEN 1 ELSE 0 END)" for s in _GOPHER_STOPS)}
                  AS INT) AS stop_hits
      FROM w
    )
    SELECT doc_id, n_words, mean_word_len, alpha_ratio, stop_hits,
           coalesce(n_words BETWEEN 20 AND 100000
                    AND mean_word_len BETWEEN 3 AND 10
                    AND alpha_ratio >= 0.8
                    AND stop_hits >= 1, FALSE) AS keep
    FROM m
    """,
    doc="Gopher-style rule filter (Rae et al. 2021 quality heuristics "
    "over whitespace tokens): word-count bounds [20, 1e5], mean word "
    "length [3, 10], >=80% words containing a cased character (the "
    "regex-free lower(w)<>upper(w) test - identical Unicode semantics "
    "in both engines), and >=1 of 8 stopwords (list adapted to the "
    "synthetic corpus vocabulary so both outcomes occur; production "
    "uses Gopher's >=2-of-8). All "
    "signals are one codegen'd higher-order-function pass per row - "
    "no explode, no shuffle, no Python; decimal-routed rounding on "
    "the two ratios.",
    tags=("north-star", "text"),
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    ws = "filter(split(text, ' '), x -> length(x) > 0)"
    stop_terms = " + ".join(
        f"(CASE WHEN array_contains(transform({ws}, x -> lower(x)), '{s}') "
        "THEN 1 ELSE 0 END)"
        for s in _GOPHER_STOPS
    )
    m = docs.select(
        "doc_id",
        F.expr(f"CAST(size({ws}) AS BIGINT)").alias("n_words"),
        F.expr(
            f"CASE WHEN size({ws}) > 0 THEN CAST(round("
            f"CAST(aggregate({ws}, 0L, (a, x) -> a + length(x)) AS DECIMAL(20,8))"
            f" / size({ws}), 4) AS DOUBLE) END"
        ).alias("mean_word_len"),
        F.expr(
            f"CASE WHEN size({ws}) > 0 THEN CAST(round("
            f"CAST(size(filter({ws}, x -> lower(x) != upper(x))) AS DECIMAL(20,8))"
            f" / size({ws}), 6) AS DOUBLE) END"
        ).alias("alpha_ratio"),
        F.expr(f"CAST({stop_terms} AS INT)").alias("stop_hits"),
    )
    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_ratio",
        "stop_hits",
        F.coalesce(
            F.col("n_words").between(20, 100000)
            & F.col("mean_word_len").between(3, 10)
            & (F.col("alpha_ratio") >= 0.8)
            & (F.col("stop_hits") >= 1),
            F.lit(False),
        ).alias("keep"),
    )


@register(
    "source_mix_plan",
    oracle="""
    WITH avail AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(len(list_filter(string_split(text, ' '),
                                      w -> length(w) > 0))) AS BIGINT)
               AS avail_tokens
      FROM documents GROUP BY 1
    ),
    w AS (
      SELECT source, n_docs, avail_tokens,
             -- deterministic target weight: even mix with a 3x boost
             -- for sources whose numeric suffix is divisible by 4
             CASE WHEN CAST(substr(source, 4) AS INT) % 4 = 0
                  THEN 3.0 ELSE 1.0 END AS w_raw
      FROM avail
    ),
    tot AS (SELECT sum(w_raw) AS wsum, sum(avail_tokens) AS atot FROM w)
    SELECT source, n_docs, avail_tokens,
           CAST(round(CAST(w_raw / wsum AS DECIMAL(20,10)), 6) AS DOUBLE)
             AS target_share,
           CAST(floor(w_raw / wsum * 50000) AS BIGINT) AS target_tokens,
           CAST(round(CAST(least(1.0, (w_raw / wsum * 50000) / avail_tokens)
                           AS DECIMAL(20,10)), 6) AS DOUBLE) AS sample_rate,
           CAST(ceil((w_raw / wsum * 50000) / avail_tokens) AS BIGINT)
             AS epochs
    FROM w, tot
    """,
    doc="Source-mixing plan (the LLaMA/DoReMi-style pre-training mix "
    "step): per-source available tokens vs deterministic target "
    "weights and a fixed 50k-token budget -> target share, sampling "
    "rate (capped at 1.0), and epochs-to-repeat for oversampled "
    "sources. One groupBy over the corpus + a broadcast scalar - the "
    "plan that drives doc_stratified_sample/source_capped_docs "
    "downstream. Decimal-routed rounding on the two ratios.",
    tags=("north-star", "text", "sampling"),
)
def source_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    budget = 50000
    avail = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.expr(
            "CAST(sum(size(filter(split(text, ' '), w -> length(w) > 0))) AS BIGINT)"
        ).alias("avail_tokens"),
    )
    w = avail.withColumn(
        "w_raw",
        F.when(
            F.expr("CAST(substring(source, 4) AS INT) % 4 = 0"), F.lit(3.0)
        ).otherwise(F.lit(1.0)),
    )
    tot = w.agg(F.sum("w_raw").alias("wsum"))
    need = F.col("w_raw") / F.col("wsum") * budget
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "avail_tokens",
            F.round((F.col("w_raw") / F.col("wsum")).cast("decimal(20,10)"), 6)
            .cast("double")
            .alias("target_share"),
            F.floor(need).cast("bigint").alias("target_tokens"),
            F.round(
                F.least(F.lit(1.0), need / F.col("avail_tokens")).cast(
                    "decimal(20,10)"
                ),
                6,
            )
            .cast("double")
            .alias("sample_rate"),
            F.ceil(need / F.col("avail_tokens")).cast("bigint").alias("epochs"),
        )
    )


@register(
    "c4_line_filtered_corpus",
    oracle="""
    WITH wl AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> length(w) > 0) AS words
      FROM documents
    ),
    d2 AS (
      SELECT doc_id,
             CASE WHEN len(words) = 0 THEN CAST([] AS VARCHAR[]) ELSE
               [array_to_string(words[(i*5+1):(i*5+5)], ' ')
                FOR i IN generate_series(0, CAST(ceil(len(words)/5.0) AS INT) - 1)]
             END AS lines
      FROM wl
    ),
    k AS (
      SELECT doc_id, len(lines) AS n_lines,
             list_filter(
               lines,
               l -> len(string_split(l, ' ')) = 5
                    AND NOT list_contains(string_split(l, ' '), 'slow')
             ) AS kept
      FROM d2
    )
    SELECT doc_id,
           array_to_string(kept, chr(10)) AS text,
           CAST(n_lines AS INT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept
    FROM k
    WHERE len(kept) >= 3
    """,
    doc="C4-style line-level quality filtering (Raffel et al. C4 / "
    "RefinedWeb line rules) with document reconstruction: split each "
    "document into lines, KEEP a line only if it passes the per-line "
    "rules, rebuild the document from surviving lines in order, and "
    "keep only documents with >= 3 surviving lines (C4's >=3-"
    "sentence page gate). The synthetic corpus has no punctuation or "
    "newlines, so the CONFIG is corpus-adapted with identical plan "
    "shape: re-line into 5-word lines (the shared line-query "
    "derivation), 'full sentence' = exactly 5 words (C4's min-words "
    "rule; short tail lines drop), and the blocklist term is 'slow' "
    "(standing in for C4's javascript/lorem-ipsum phrase lists — a "
    "one-literal config swap on real data). Plan: scan -> ONE "
    "projection + filter, ZERO shuffles (plan-guarded) — line "
    "filtering is embarrassingly parallel, which is exactly why C4 "
    "runs it before anything that shuffles; at 100 TB this is a "
    "map-only pass whose cost is the scan itself.",
    tags=("parity", "text", "cleaning", "north-star"),
)
def c4_line_filtered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    n_lines = F.ceil(F.size(words) / F.lit(5.0)).cast("int")
    lines = F.when(
        F.size(words) == 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(F.slice(words, i * 5 + 1, 5), " "),
        )
    )
    kept = F.filter(
        lines,
        lambda line: (F.size(F.split(line, " ")) == 5)
        & ~F.array_contains(F.split(line, " "), "slow"),
    )
    # ONE struct, then field-extract: sibling select columns sharing
    # the nested-lambda `kept` subtree trip Spark 4.1's codegen
    # subexpression elimination (mis-bound lambda variables — here
    # size(kept) came back wrong while array_join(kept) was right);
    # identical WHOLES dedup safely. Same fix as
    # operators/text_dedup.dedup_lines_within_doc.
    packed = F.struct(
        F.array_join(kept, "\n").alias("text"),
        F.size(lines).alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
    )
    return (
        docs.select("doc_id", packed.alias("__p"))
        .select("doc_id", "__p.text", "__p.n_lines", "__p.n_kept")
        .filter(F.col("n_kept") >= 3)
    )


@register(
    "line_dedup_corpus",
    oracle="""
    WITH wl AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> length(w) > 0) AS words
      FROM documents
    ),
    d2 AS (
      -- a zero-word doc is ONE empty line, not zero lines: the engine
      -- serializes lines via array_join then re-splits, and split('')
      -- is [''] in every engine — the oracle must agree or an empty
      -- document breaks parity (n_lines 1 vs 0)
      SELECT doc_id,
             CASE WHEN len(words) = 0 THEN [''] ELSE
               [array_to_string(words[(i*5+1):(i*5+5)], ' ')
                FOR i IN generate_series(0, CAST(ceil(len(words)/5.0) AS INT) - 1)]
             END AS lines
      FROM wl
    ),
    ln AS (
      SELECT doc_id, n_lines, CAST(i AS INT) AS pos,
             lines[CAST(i AS INT) + 1] AS line
      FROM (SELECT doc_id, lines, len(lines) AS n_lines,
                   unnest(generate_series(0, len(lines) - 1)) AS i
            FROM d2)
    ),
    ranked AS (
      SELECT doc_id, pos, line, n_lines,
             row_number() OVER (PARTITION BY lower(trim(line))
                                ORDER BY doc_id, pos) AS rn,
             length(trim(line)) >= 1 AS eligible
      FROM ln
    ),
    kept AS (
      SELECT doc_id, pos, line, n_lines FROM ranked
      WHERE rn = 1 OR NOT eligible
    ),
    agg AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
             any_value(n_lines) AS n_lines, count(*) AS n_lines_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d2.doc_id,
           coalesce(agg.text, '') AS text,
           CAST(coalesce(agg.n_lines, len(d2.lines)) AS INT) AS n_lines,
           CAST(coalesce(agg.n_lines_kept, 0) AS BIGINT) AS n_lines_kept
    FROM d2 LEFT JOIN agg USING (doc_id)
    """,
    doc="Corpus-wide line-level exact dedup with document "
    "reconstruction (C4 remove-duplicate-lines / RefinedWeb line "
    "dedup): a line survives only at its first corpus occurrence "
    "(lowest (doc_id, pos), lower+trim normalized), and documents "
    "are rebuilt from surviving lines in order. The synthetic corpus "
    "has no newlines, so docs are first re-lined into 5-word lines "
    "(same derivation in the oracle). Plan: posexplode -> ONE "
    "min_by agg shuffle on the line hash (map-side partials make "
    "boilerplate hot lines skew-proof; a window would funnel every "
    "occurrence of the hottest line into one task) -> one doc-id "
    "re-agg. Two shuffles, the floor for global-first-wins + "
    "reassembly.",
    tags=("north-star", "dedup", "text"),
)
def line_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.text_dedup import (
        dedup_lines_global,
    )

    docs = load(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    n_lines = F.ceil(F.size(words) / F.lit(5.0)).cast("int")
    lines = F.when(F.size(words) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(F.slice(words, i * 5 + 1, 5), " "),
        )
    )
    relined = _spread(
        docs.select("doc_id", F.array_join(lines, "\n").alias("text"))
    )
    return dedup_lines_global(relined, "doc_id", "text")


@register(
    "within_doc_line_dedup",
    oracle="""
    WITH wl AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> length(w) > 0) AS words
      FROM documents
    ),
    d2 AS (
      SELECT doc_id,
             CASE WHEN len(words) = 0 THEN [''] ELSE
               [array_to_string(words[(i*5+1):(i*5+5)], ' ')
                FOR i IN generate_series(0, CAST(ceil(len(words)/5.0) AS INT) - 1)]
             END AS lines
      FROM wl
    ),
    planted AS (
      SELECT doc_id, list_append(lines, lines[1]) AS lines FROM d2
    ),
    ln AS (
      SELECT doc_id, n_lines, CAST(i AS INT) AS pos,
             lines[CAST(i AS INT) + 1] AS line
      FROM (SELECT doc_id, lines, len(lines) AS n_lines,
                   unnest(generate_series(0, len(lines) - 1)) AS i
            FROM planted)
    ),
    ranked AS (
      SELECT doc_id, pos, line, n_lines,
             row_number() OVER (PARTITION BY doc_id, lower(trim(line))
                                ORDER BY pos) AS rn,
             length(lower(trim(line))) >= 1 AS eligible
      FROM ln
    ),
    kept AS (
      SELECT doc_id, pos, line, n_lines FROM ranked
      WHERE rn = 1 OR NOT eligible
    )
    SELECT doc_id,
           string_agg(line, chr(10) ORDER BY pos) AS text,
           CAST(any_value(n_lines) AS INT) AS n_lines,
           count(*) AS n_lines_kept
    FROM kept GROUP BY doc_id
    """,
    doc="WITHIN-document line dedup (the Gopher/RefinedWeb "
    "remove-duplicated-lines-within-document repetition rule — the "
    "local complement of line_dedup_corpus): every doc is re-lined "
    "into 5-word lines with its first line re-planted at the end "
    "(guaranteed in-document repeat), then each line survives only "
    "at its first occurrence INSIDE its own document. The decision "
    "needs no cross-row information, so the whole operator is ONE "
    "projection — zero shuffles, zero aggregations, scan speed at "
    "any corpus size (the global variant pays two shuffles because "
    "its duplicates must meet; the within-doc rule's never leave "
    "their row).",
    tags=("north-star", "dedup", "text"),
)
def within_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.text_dedup import (
        dedup_lines_within_doc,
    )

    docs = load(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    n_lines = F.ceil(F.size(words) / F.lit(5.0)).cast("int")
    lines = F.when(
        F.size(words) == 0, F.array(F.lit(""))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(F.slice(words, i * 5 + 1, 5), " "),
        )
    )
    planted = F.concat(lines, F.slice(lines, 1, 1))
    relined = docs.select(
        "doc_id", F.array_join(planted, "\n").alias("text")
    )
    return dedup_lines_within_doc(relined, "doc_id", "text")


def _cms_bucket_sql(row_expr: str, key_expr: str, width: int) -> str:
    """DuckDB bucket expression matching operators/sketches._bucket:
    md5(row:key) first-8-hex-chars as int, mod width."""
    h = f"md5(CAST({row_expr} AS VARCHAR) || ':' || CAST({key_expr} AS VARCHAR))"
    return f"({_nibble_int(h, 1)} % {width})"


@register(
    "word_heavy_hitters_cms",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '),
                                w -> length(w) > 0)) AS word
      FROM documents
    ),
    exact AS (SELECT word, count(*) AS exact_cnt FROM tok GROUP BY word),
    top AS (
      SELECT word, exact_cnt FROM exact
      QUALIFY row_number() OVER (ORDER BY exact_cnt DESC, word) <= 20
    ),
    r AS (SELECT unnest(generate_series(0, 3)) AS row),
    grid AS (
      SELECT row, {_cms_bucket_sql('row', 'word', 256)} AS bucket,
             count(*) AS cnt
      FROM tok CROSS JOIN r
      GROUP BY 1, 2
    ),
    probe AS (
      SELECT t.word, t.exact_cnt, r.row,
             {_cms_bucket_sql('r.row', 't.word', 256)} AS bucket
      FROM top t CROSS JOIN r
    ),
    est AS (
      SELECT p.word, p.exact_cnt, min(coalesce(g.cnt, 0)) AS cms_est
      FROM probe p LEFT JOIN grid g ON g.row = p.row AND g.bucket = p.bucket
      GROUP BY 1, 2
    )
    SELECT word, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
    FROM est
    """,
    doc="Heavy-hitter word frequencies via a count-min sketch (depth "
    "4 x width 256, md5-derived buckets) probed for the exact top-20 "
    "words, with the exact counts and the CMS overcount alongside. "
    "The estimate is min over 4 bucket rows, so it never "
    "underestimates; the sketch is depth x width integers regardless "
    "of corpus size and merges bucket-wise (per-partition/per-day "
    "rollup without re-reading data - same mergeability contract as "
    "the HLL family). Build is one map-side-partial agg; nothing in "
    "the exchange grows with vocabulary.",
    tags=("north-star", "text", "sketches"),
)
def word_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    docs = _spread(load(spark, sf_dir, "documents"))
    tok = docs.select(
        F.explode(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        ).alias("word")
    )
    exact = tok.groupBy("word").agg(F.count("*").alias("exact_cnt"))
    top = (
        exact.withColumn(
            "__rn",
            F.row_number().over(
                Window.orderBy(F.col("exact_cnt").desc(), F.col("word").asc())
            ),
        )
        .filter(F.col("__rn") <= 20)
        .drop("__rn")
    )
    sketch = cms_build(tok, "word")
    est = cms_estimate(sketch, top.select("word"), "word")
    return top.join(est, "word").select(
        "word",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
    )


@register(
    "doc_bigram_logppl",
    oracle="""
    WITH toks AS (
      SELECT doc_id, ws, len(ws) AS n
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
            FROM documents)
    ),
    bg AS (
      SELECT doc_id, ws[CAST(i AS INT)] AS w1, ws[CAST(i AS INT) + 1] AS w2
      FROM (SELECT doc_id, ws, unnest(generate_series(1, n - 1)) AS i FROM toks)
    ),
    bfreq AS (SELECT w1, w2, count(*) AS f FROM bg GROUP BY 1, 2),
    cfreq AS (SELECT w1, count(*) AS cw FROM bg GROUP BY 1),
    vocab AS (SELECT count(DISTINCT word) AS v
              FROM (SELECT unnest(ws) AS word FROM toks))
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(-ln((bfreq.f + 1.0) / (cfreq.cw + vocab.v))), 4)
             AS avg_neg_logp2
    FROM bg JOIN bfreq USING (w1, w2) JOIN cfreq USING (w1) CROSS JOIN vocab
    GROUP BY doc_id
    """,
    doc="Bigram log-perplexity quality scoring - the order-2 upgrade "
    "of doc_unigram_logppl: per document, the mean negative log of "
    "the add-one-smoothed conditional P(w2|w1) = (c(w1,w2)+1) / "
    "(c(w1 .)+V) under the self-trained corpus bigram LM. Catches "
    "what unigram scoring cannot: shuffled/unnatural word ORDER "
    "scores high even when the word mix is normal. Bigrams come from "
    "one per-row array transform (no join to build pairs, no "
    "shuffle); the LM tables are the bigram/context frequency "
    "relations joined on their keys - exactly the ngram-shard join "
    "shape of a KenLM filter at scale; V broadcasts as one row. "
    "Docs with fewer than 2 tokens have no bigrams and are absent.",
    tags=("north-star", "text"),
)
def doc_bigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    pairs = F.when(F.size(words) < 2, F.array().cast("array<struct<w1:string,w2:string>>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: F.struct(
                F.element_at(words, i).alias("w1"),
                F.element_at(words, i + 1).alias("w2"),
            ),
        )
    )
    bg = docs.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    bfreq = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("f"))
    cfreq = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cw"))
    vocab = (
        docs.select(F.explode(words).alias("word"))
        .agg(F.countDistinct("word").alias("v"))
    )
    return (
        bg.join(bfreq, ["w1", "w2"])
        .join(cfreq, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(
                    -F.log(
                        (F.col("f") + F.lit(1.0))
                        / (F.col("cw") + F.col("v"))
                    )
                ),
                4,
            ).alias("avg_neg_logp2"),
        )
    )


@register(
    "quality_classifier_scores",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '),
                                w -> length(w) > 0)) AS word
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             ({_nibble_int("md5('f:' || word)", 1)} % 512) AS bucket
      FROM tok
    ),
    wtd AS (
      SELECT doc_id,
             {_nibble_int("md5('w:' || CAST(bucket AS VARCHAR))", 1)}
               / 4294967296.0 - 0.5 AS weight
      FROM feat
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(round(CAST(sum(weight) / count(*) AS DECIMAL(20,10)), 6)
                AS DOUBLE) AS margin,
           sum(weight) >= 0 AS keep
    FROM wtd GROUP BY doc_id
    """,
    doc="fastText-shape quality-classifier inference "
    "(operators/text_analysis.hashed_linear_score): tokens hash into "
    "512 feature buckets (md5, no RNG), the md5-derived weight table "
    "- standing in for a trained classifier's weight vector, same "
    "shape - broadcasts into the token stream, and each document "
    "classifies by the sign of its mean-pooled margin. The CCNet/"
    "LLaMA-pipeline quality-filter step as one projection + one "
    "map-side-partial doc aggregation; nothing in the plan grows "
    "with vocabulary.",
    tags=("north-star", "text"),
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.text_analysis import (
        hashed_feature_weights,
        hashed_linear_score,
    )

    docs = _spread(load(spark, sf_dir, "documents"))
    weights = hashed_feature_weights(spark, dim=512)
    return hashed_linear_score(docs, "doc_id", "text", weights, dim=512)


def _logreg_oracle(dim: int, iters: int, lr: float, thresh: int) -> str:
    """Unrolled-CTE replay of train_logreg_hashed's fixed gradient
    iterations (the Lloyd's/BPE oracle pattern): w0 = zeros; per
    step, per-doc margins then the per-bucket mean-error gradient;
    final margins from w{iters}."""
    steps = []
    for t in range(1, iters + 1):
        steps.append(f"""
    z{t} AS (SELECT doc_id, sum(x * weight) AS z
             FROM fl JOIN w{t - 1} USING (bucket) GROUP BY doc_id),
    g{t} AS (SELECT f.bucket,
                    sum((1.0 / (1.0 + exp(-z.z)) - f.y) * f.x)
                      / (SELECT n FROM nn) AS g
             FROM fl f JOIN z{t} z USING (doc_id) GROUP BY f.bucket),
    w{t} AS (SELECT w.bucket, w.weight - {lr} * coalesce(g.g, 0.0) AS weight
             FROM w{t - 1} w LEFT JOIN g{t} g USING (bucket)),""")
    return f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '),
                                w -> length(w) > 0)) AS word
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             ({_nibble_int("md5('f:' || word)", 1)} % {dim}) AS bucket,
             count(*) AS cnt
      FROM tok GROUP BY 1, 2
    ),
    featx AS (
      SELECT doc_id, bucket,
             CAST(cnt AS DOUBLE) / sum(cnt) OVER (PARTITION BY doc_id) AS x,
             CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tokens
      FROM feat
    ),
    lab AS (
      SELECT doc_id,
             CASE WHEN length(text) >= {thresh} THEN 1.0 ELSE 0.0 END AS y
      FROM documents
    ),
    fl AS (SELECT f.*, l.y FROM featx f JOIN lab l USING (doc_id)),
    nn AS (SELECT count(DISTINCT doc_id) AS n FROM fl),
    w0 AS (SELECT unnest(generate_series(0, {dim - 1})) AS bucket,
                  0.0 AS weight),{"".join(steps)}
    zf AS (
      SELECT f.doc_id,
             any_value(f.n_tokens) AS n_tokens,
             any_value(f.y) AS y,
             sum(f.x * w.weight) AS z
      FROM fl f JOIN w{iters} w USING (bucket) GROUP BY f.doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(round(CAST(z AS DECIMAL(20,10)), 6) AS DOUBLE) AS margin,
           z >= 0 AS keep,
           y AS label
    FROM zf
    """


@register(
    "quality_classifier_trained",
    oracle=_logreg_oracle(dim=64, iters=3, lr=0.5, thresh=250),
    doc="TRAINED quality classifier (VERDICT r07 #5 — upgrades the "
    "family from inference plumbing to training + inference): "
    "logistic regression over the 64-bucket hashed feature space, "
    "trained IN-ENGINE by 3 full-batch gradient steps on a planted-"
    "label corpus (y = length >= 250), then scored through the same "
    "broadcast-join inference shape as quality_classifier_scores. "
    "Each step is ONE doc-key agg (margins) + ONE bucket-key agg "
    "(gradient) with the 64-float weight vector as the only driver "
    "state (operators/text_analysis.train_logreg_hashed — the "
    "Lloyd's/BPE fixed-iteration playbook); the oracle replays the "
    "identical iterations as unrolled CTEs. 100-TB shape: per step, "
    "two map-side-partial aggs over the cached feature frame; "
    "nothing scales with vocabulary or iterations but the broadcast "
    "of 64 floats.",
    tags=("parity", "text", "north-star"),
)
def quality_classifier_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.text_analysis import (
        hashed_doc_features,
        train_logreg_hashed,
    )

    dim, iters, lr, thresh = 64, 3, 0.5, 250
    docs = _spread(load(spark, sf_dir, "documents"))
    feats = hashed_doc_features(docs, "doc_id", "text", dim)
    labels = docs.select(
        "doc_id",
        F.when(F.length("text") >= thresh, 1.0).otherwise(0.0).alias("y"),
    )
    w = train_logreg_hashed(feats, labels, "doc_id", dim, iters=iters, lr=lr)
    wdf = spark.createDataFrame(list(enumerate(w)), "bucket int, weight double")
    z = (
        feats.join(labels, "doc_id")
        .join(F.broadcast(wdf), "bucket")
        .groupBy("doc_id")
        .agg(
            F.any_value(F.col("n_tokens")).alias("n_tokens"),
            F.any_value(F.col("y")).alias("y"),
            F.sum(F.col("x") * F.col("weight")).alias("z"),
        )
    )
    return z.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("z").cast("decimal(20,10)"), 6)
        .cast("double")
        .alias("margin"),
        (F.col("z") >= 0).alias("keep"),
        F.col("y").alias("label"),
    )


def _bloom_pos_sql(h_expr: str, key_expr: str, num_bits: int) -> str:
    """DuckDB bit position matching operators/sketches._bloom_pos."""
    hx = f"md5(CAST({h_expr} AS VARCHAR) || ':' || {key_expr})"
    return f"({_nibble_int(hx, 1)} % {num_bits})"


@register(
    "bloom_seen_docs",
    oracle=f"""
    WITH seen AS (SELECT md5(text) AS ch FROM documents),
    probe AS (
      SELECT doc_id, md5(text) AS ch FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, md5('unseen:' || text) AS ch
      FROM documents WHERE doc_id % 5 = 0
    ),
    hh AS (SELECT unnest(generate_series(0, 2)) AS h),
    bloom AS (
      SELECT CAST(pos // 32 AS INT) AS word,
             bit_or(CAST(1 AS BIGINT) << (pos % 32)) AS bits
      FROM (SELECT {_bloom_pos_sql('h', 'ch', 2048)} AS pos
            FROM seen CROSS JOIN hh)
      GROUP BY 1
    ),
    probed AS (
      SELECT p.doc_id, p.ch,
             {_bloom_pos_sql('hh.h', 'p.ch', 2048)} AS pos
      FROM probe p CROSS JOIN hh
    ),
    might AS (
      SELECT doc_id, ch,
             bool_and(((coalesce(b.bits, 0) >> (pos % 32)) % 2) = 1)
               AS might_seen
      FROM probed LEFT JOIN bloom b ON b.word = CAST(pos // 32 AS INT)
      GROUP BY 1, 2
    )
    SELECT m.doc_id, m.might_seen,
           m.ch IN (SELECT ch FROM seen) AS actually_seen
    FROM might m
    """,
    doc="Have-we-seen-this-document membership pre-filter: a Bloom "
    "filter (2048 bits, 3 md5 hashes, 32-bit packed words) built "
    "over the corpus content hashes, probed by the corpus plus "
    "planted UNSEEN variants. Output carries both the bloom verdict "
    "and exact membership, so the oracle verifies the no-false-"
    "negative guarantee bit-for-bit. This is the cheap front of "
    "incremental dedup / anti-join at 100 TB: the filter is "
    "num_bits/32 longs regardless of corpus size, broadcasts to the "
    "probe side, and definitely-new rows skip the store entirely - "
    "only maybe-seen rows pay the exact check.",
    tags=("north-star", "dedup", "sketches"),
)
def bloom_seen_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    docs = _spread(load(spark, sf_dir, "documents"))
    seen = docs.select(F.md5("text").alias("ch"))
    probe = docs.select("doc_id", F.md5("text").alias("ch")).unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.md5(F.concat(F.lit("unseen:"), F.col("text"))).alias("ch"),
        )
    )
    bloom = bloom_build(seen, "ch", num_bits=2048, num_hashes=3)
    verdicts = bloom_probe(
        bloom, probe.select("ch").distinct(), "ch",
        num_bits=2048, num_hashes=3, out_col="might_seen",
    )
    exact = seen.distinct().withColumn("actually_seen", F.lit(True))
    return (
        probe.join(verdicts, "ch")
        .join(exact, "ch", "left")
        .select(
            "doc_id",
            "might_seen",
            F.coalesce(F.col("actually_seen"), F.lit(False)).alias("actually_seen"),
        )
    )


_CURR_FEAT = "md5('f:' || word)"
_CURR_BUCKET = f"({_nibble_int(_CURR_FEAT, 1)} % 512)"
_CURR_WEIGHT = _nibble_int(
    f"md5('w:' || CAST({_CURR_BUCKET} AS VARCHAR))", 1
)


@register(
    "curriculum_sample",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '),
                                w -> length(w) > 0)) AS word
      FROM documents
    ),
    wtd AS (
      SELECT doc_id,
             {_CURR_WEIGHT}
               / 4294967296.0 - 0.5 AS weight
      FROM tok
    ),
    m AS (
      SELECT doc_id,
             CAST(round(CAST(sum(weight) / count(*) AS DECIMAL(20,10)), 6)
                  AS DOUBLE) AS margin
      FROM wtd GROUP BY doc_id
    ),
    q AS (
      SELECT CAST(round(CAST(quantile_cont(margin, 0.25) AS DECIMAL(20,8)), 6) AS DOUBLE) AS b1,
             CAST(round(CAST(quantile_cont(margin, 0.50) AS DECIMAL(20,8)), 6) AS DOUBLE) AS b2,
             CAST(round(CAST(quantile_cont(margin, 0.75) AS DECIMAL(20,8)), 6) AS DOUBLE) AS b3
      FROM m
    ),
    t AS (
      SELECT doc_id, margin,
             CASE WHEN margin >= q.b3 THEN 'q1'
                  WHEN margin >= q.b2 THEN 'q2'
                  WHEN margin >= q.b1 THEN 'q3'
                  ELSE 'q4' END AS tier
      FROM m, q
    )
    SELECT doc_id, tier, margin FROM t
    WHERE ({_nibble_int("md5(CAST(doc_id AS VARCHAR))", 1)} % 10000) <
          CASE tier WHEN 'q1' THEN 10000 WHEN 'q2' THEN 7500
                    WHEN 'q3' THEN 5000 ELSE 2500 END
    """,
    doc="Curriculum / quality-weighted corpus sampling: classifier "
    "margins (the fastText-shape scorer) bucket documents into "
    "quality quartiles via exact global quantile bounds - a 1-row "
    "broadcast, not a global sort - and each tier keeps a "
    "content-addressed hash sample at its own rate (q1 100% down to "
    "q4 25%). This is the quality-pyramid resampling step between "
    "filtering and training: keep everything good, downsample the "
    "tail instead of dropping it. Composes hashed_linear_score + "
    "percentile bounds + stratified_sample; the kept SET is stable "
    "across reruns, partitionings, and engines. At 100 TB swap the "
    "exact percentile for approx_percentile - identical shape.",
    tags=("north-star", "sampling", "text"),
)
def curriculum_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.sampling import stratified_sample
    from end_to_end_etl_pipeline_spark.operators.text_analysis import (
        hashed_feature_weights,
        hashed_linear_score,
    )

    docs = _spread(load(spark, sf_dir, "documents"))
    weights = hashed_feature_weights(spark, dim=512)
    scored = hashed_linear_score(docs, "doc_id", "text", weights, dim=512).select(
        "doc_id", "margin"
    )
    b = scored.agg(
        F.expr("percentile(margin, array(0.25D, 0.50D, 0.75D))").alias("__q")
    ).select(
        *[
            F.round(F.col("__q")[i].cast("decimal(20,8)"), 6)
            .cast("double")
            .alias(f"b{i + 1}")
            for i in range(3)
        ]
    )
    tiered = (
        scored.crossJoin(F.broadcast(b))
        .withColumn(
            "tier",
            F.when(F.col("margin") >= F.col("b3"), "q1")
            .when(F.col("margin") >= F.col("b2"), "q2")
            .when(F.col("margin") >= F.col("b1"), "q3")
            .otherwise("q4"),
        )
        .select("doc_id", "tier", "margin")
    )
    return stratified_sample(
        tiered,
        "doc_id",
        "tier",
        rates={"q1": 1.0, "q2": 0.75, "q3": 0.5, "q4": 0.25},
    )


@register(
    "corpus_funnel_audit",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 7 = 0
    ),
    norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm_text
      FROM corpus
    ),
    lens AS (
      SELECT doc_id, norm_text,
             CASE WHEN norm_text = '' THEN 0
                  ELSE len(string_split(norm_text, ' ')) END AS n_tokens
      FROM norm
    ),
    tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '),
                                w -> length(w) > 0)) AS word
      FROM corpus
    ),
    clf AS (
      SELECT doc_id,
             CAST(round(CAST(sum({_CURR_WEIGHT} / 4294967296.0 - 0.5)
                             / count(*) AS DECIMAL(20,10)), 6) AS DOUBLE)
               AS margin
      FROM tok GROUP BY doc_id
    ),
    med AS (
      SELECT CAST(round(CAST(quantile_cont(margin, 0.5) AS DECIMAL(20,8)), 6)
                  AS DOUBLE) AS m
      FROM clf
    ),
    gated AS (
      SELECT l.doc_id, l.norm_text, l.n_tokens,
             l.n_tokens >= 30 AS passed_len,
             coalesce(c.margin >= med.m, FALSE) AS passed_clf
      FROM lens l LEFT JOIN clf c USING (doc_id) CROSS JOIN med
    ),
    canon AS (
      SELECT min(doc_id) AS doc_id FROM gated
      WHERE passed_len AND passed_clf
      GROUP BY md5(norm_text)
    ),
    final AS (
      SELECT g.doc_id, g.n_tokens, g.passed_len, g.passed_clf,
             (c.doc_id IS NOT NULL) AS is_canonical
      FROM gated g LEFT JOIN canon c USING (doc_id)
    )
    SELECT doc_id, n_tokens, passed_len, passed_clf, is_canonical,
           CASE WHEN NOT passed_len THEN 'dropped_short'
                WHEN NOT passed_clf THEN 'dropped_classifier'
                WHEN NOT is_canonical THEN 'dropped_duplicate'
                WHEN {_SQL_H32.format(c="doc_id")} % 10000 < 9000 THEN 'kept_train'
                WHEN {_SQL_H32.format(c="doc_id")} % 10000 < 9500 THEN 'kept_val'
                ELSE 'kept_test' END AS disposition
    FROM final
    """,
    doc="Per-document curation funnel with first-failure attribution "
    "- the lineage record a production corpus build emits alongside "
    "the kept set: every input document appears exactly once with "
    "its gate verdicts (length on canonical text, classifier margin, "
    "canonical-after-dedup) and a single disposition (dropped_short /"
    " dropped_classifier / dropped_duplicate / kept_<split>). "
    "Attribution order mirrors gate cost: cheap length gate first, "
    "classifier second, dedup (the only shuffle) last over survivors "
    "only. The classifier gate is corpus-relative (margin >= the "
    "corpus median, a 1-row broadcast) so the keep/drop split is "
    "non-degenerate whatever the weight distribution; exact copies "
    "of every 7th document are planted so dropped_duplicate has "
    "guaranteed targets. The audit is the same DAG as clean_corpus "
    "run WITHOUT discarding the losers - one extra left join against "
    "the canonical winners, no extra corpus scan.",
    tags=("north-star", "text", "dedup", "sampling"),
)
def corpus_funnel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.dedup import dedup_exact_hash
    from end_to_end_etl_pipeline_spark.operators.text_analysis import (
        hashed_feature_weights,
        hashed_linear_score,
        normalize_text,
    )

    base = load(spark, sf_dir, "documents").select("doc_id", "text")
    copies = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    docs = _spread(base.unionByName(copies))
    norm = normalize_text(docs, "text")
    lens = norm.withColumn(
        "n_tokens",
        F.when(F.col("norm_text") == "", F.lit(0))
        .otherwise(F.size(F.split(F.col("norm_text"), " ")))
        .cast("bigint"),
    )
    weights = hashed_feature_weights(spark, dim=512)
    clf = hashed_linear_score(docs, "doc_id", "text", weights, dim=512).select(
        "doc_id", "margin"
    )
    med = clf.agg(
        F.round(
            F.expr("percentile(margin, 0.5D)").cast("decimal(20,8)"), 6
        )
        .cast("double")
        .alias("m")
    )
    gated = (
        lens.join(clf, "doc_id", "left")
        .crossJoin(F.broadcast(med))
        .select(
            "doc_id",
            "norm_text",
            "n_tokens",
            (F.col("n_tokens") >= 30).alias("passed_len"),
            F.coalesce(F.col("margin") >= F.col("m"), F.lit(False)).alias(
                "passed_clf"
            ),
        )
    )
    canon = dedup_exact_hash(
        gated.filter(F.col("passed_len") & F.col("passed_clf")),
        ["norm_text"],
        "doc_id",
        keep_cols=["doc_id"],
    ).select("doc_id", F.lit(True).alias("is_canonical"))
    final = gated.join(canon, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "passed_len",
        "passed_clf",
        F.coalesce(F.col("is_canonical"), F.lit(False)).alias("is_canonical"),
    )
    from end_to_end_etl_pipeline_spark.operators.sampling import hash_bucket

    b = hash_bucket(F.col("doc_id"), 10000)
    return final.withColumn(
        "disposition",
        F.when(~F.col("passed_len"), "dropped_short")
        .when(~F.col("passed_clf"), "dropped_classifier")
        .when(~F.col("is_canonical"), "dropped_duplicate")
        .when(b < 9000, "kept_train")
        .when(b < 9500, "kept_val")
        .otherwise("kept_test"),
    )


@register(
    "weighted_doc_sample",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> length(x) > 0)) AS BIGINT) AS n_tokens,
             ({_SQL_H32.format(c="doc_id")} + 1) / 4294967296.0 AS u
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(round(CAST(ln(u) / n_tokens AS DECIMAL(20,10)), 6) AS DOUBLE)
             AS sample_key
    FROM w WHERE n_tokens > 0
    ORDER BY sample_key DESC, doc_id ASC
    LIMIT 50
    """,
    doc="Weighted sampling WITHOUT replacement, probability "
    "proportional to token count (the Efraimidis-Spirakis exponential"
    "-key scheme, rank-equivalent form ln(u)/w): each doc draws a "
    "deterministic md5-uniform u and the top 50 keys win - exactly "
    "the importance-sampling step for token-budgeted corpus draws, "
    "where a long document should win a slot proportionally more "
    "often. RNG-free, so the drawn set is stable across reruns, "
    "partitionings, and engines, and adding documents never "
    "reshuffles previously-drawn keys (only the cutoff moves). The "
    "top-k is orderBy+limit - Spark plans TakeOrderedAndProject "
    "(per-partition partial top-k, no global sort materialization).",
    tags=("north-star", "sampling"),
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.sampling import hash_bucket

    docs = _spread(load(spark, sf_dir, "documents"))
    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    # hash_bucket with modulus 2^32 == the raw 32-bit value
    u = (hash_bucket(F.col("doc_id"), 4294967296) + 1) / F.lit(4294967296.0)
    keyed = docs.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_tokens"),
        u.alias("__u"),
    ).filter(F.col("n_tokens") > 0)
    return (
        keyed.withColumn(
            "sample_key",
            F.round(
                (F.log(F.col("__u")) / F.col("n_tokens")).cast("decimal(20,10)"), 6
            ).cast("double"),
        )
        .orderBy(F.col("sample_key").desc(), F.col("doc_id").asc())
        .limit(50)
        .select("doc_id", "n_tokens", "sample_key")
    )


@register(
    "decontaminated_train_split",
    oracle=f"""
    WITH {_SQL_CORPUS},
    assigned AS (
      SELECT doc_id, text,
             CASE WHEN {_SQL_H32.format(c="doc_id")} % 10000 < 8000
                  THEN 'train' ELSE 'test' END AS split
      FROM corpus
    ),
    {_SQL_GRAMS},
    rare AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) <= 10),
    g AS (SELECT grams.doc_id, grams.split, grams.gram
          FROM grams JOIN rare ON grams.gram = rare.gram),
    dirty AS (
      SELECT DISTINCT r.doc_id
      FROM g t JOIN g r ON t.gram = r.gram
      WHERE t.split = 'test' AND r.split = 'train'
    )
    SELECT a.doc_id,
           CAST(len(list_filter(string_split(a.text, ' '),
                                w -> length(w) > 0)) AS BIGINT) AS n_tokens
    FROM assigned a
    WHERE a.split = 'train'
      AND a.doc_id NOT IN (SELECT doc_id FROM dirty)
    """,
    doc="Decontamination REMOVAL - the step after the audit: the "
    "train split with every document that shares a rare word-8-gram "
    "with any test document anti-joined away (same df<=10 skew-guard "
    "join as split_contamination; the planted cross-split variants "
    "are exactly what gets removed). The drop list is "
    "contaminated-doc-sized, so the anti join broadcasts at any "
    "corpus scale where contamination is the exception - the same "
    "tiny-drop-list shape as near-dup retention.",
    tags=("north-star", "dedup", "sampling"),
)
def decontaminated_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.sampling import split_assign

    corpus = _variant_corpus(load(spark, sf_dir, "documents"))
    assigned = split_assign(corpus, "doc_id", [("train", 8000), ("test", 2000)])
    capped = _capped_rare_grams(assigned)
    t = capped.filter(F.col("split") == "test").select("gram")
    dirty = (
        capped.filter(F.col("split") == "train")
        .join(t, "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    train = assigned.filter(F.col("split") == "train")
    clean = train.join(dirty, "doc_id", "left_anti")
    toks = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    return clean.select("doc_id", F.size(toks).cast("bigint").alias("n_tokens"))


@register(
    "packed_bin_manifests",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             {_SQL_H32.format(c="doc_id")} % 8 AS shard,
             len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT *,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS prefix_excl
      FROM toks
    ),
    binned AS (
      SELECT doc_id, shard, n_tokens,
             CAST(floor(prefix_excl / 2048.0) AS BIGINT) AS bin,
             CAST(prefix_excl - CAST(floor(prefix_excl / 2048.0) AS BIGINT) * 2048
                  AS BIGINT) AS start_off
      FROM packed
    )
    SELECT shard, bin,
           CAST(row_number() OVER (PARTITION BY shard, bin ORDER BY doc_id)
                AS BIGINT) AS seq,
           doc_id, start_off, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM binned
    """,
    doc="Packed-bin manifests - the per-document boundary records a "
    "training loader consumes alongside the packed token stream: for "
    "every (shard, bin), each document's sequence number, its start "
    "offset inside the 2048-token bin, and its length (what the "
    "attention mask / sequence-boundary metadata derives from; a doc "
    "whose tokens straddle the bin cut starts in the bin its first "
    "token lands in). Same per-shard prefix-sum window as "
    "doc_packed_bins - shards pack independently, no global sort at "
    "any scale - projected to per-doc rows instead of per-bin "
    "aggregates.",
    tags=("north-star", "sampling"),
)
def packed_bin_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.sampling import hash_bucket

    docs = _spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        hash_bucket(F.col("doc_id"), 8).alias("shard"),
        F.size(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        ).alias("n_tokens"),
    )
    wsum = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "prefix_excl", F.sum("n_tokens").over(wsum) - F.col("n_tokens")
    )
    binned = packed.withColumn(
        "bin", F.floor(F.col("prefix_excl") / 2048.0).cast("bigint")
    ).withColumn(
        "start_off",
        (F.col("prefix_excl") - F.col("bin") * 2048).cast("bigint"),
    )
    wseq = Window.partitionBy("shard", "bin").orderBy("doc_id")
    return binned.select(
        "shard",
        "bin",
        F.row_number().over(wseq).cast("bigint").alias("seq"),
        "doc_id",
        "start_off",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    )


@register(
    "keyword_doc_similarity",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2
    ), dfreq AS (
      SELECT word, count(*) AS df FROM tf GROUP BY 1
    ), tot AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT t.doc_id, t.word,
             round(t.tf * ln(CAST(tot.n AS DOUBLE) / d.df), 6) AS w
      FROM tf t JOIN dfreq d USING (word) CROSS JOIN tot
    ),
    kw AS (
      SELECT doc_id, word, w FROM (
        SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY w DESC, word) AS rk
        FROM scored)
      WHERE rk <= 5
    ),
    capped AS (
      SELECT word FROM kw GROUP BY word HAVING count(*) <= 64
    ),
    post AS (SELECT kw.* FROM kw JOIN capped USING (word)),
    norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM kw GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
      FROM post a JOIN post b ON a.word = b.word AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    ),
    sims AS (
      SELECT d.doc_a, d.doc_b,
             CAST(round(CAST(d.dot / (na.nrm * nb.nrm) AS DECIMAL(20,10)), 6)
                  AS DOUBLE) AS cosine
      FROM dots d
      JOIN norms na ON na.doc_id = d.doc_a
      JOIN norms nb ON nb.doc_id = d.doc_b
    )
    SELECT doc_a, doc_b, cosine FROM sims
    QUALIFY row_number() OVER (PARTITION BY doc_a ORDER BY cosine DESC, doc_b) <= 3
    """,
    doc="Sparse keyword-vector document similarity - the third "
    "similarity modality next to MinHash (set overlap) and dense "
    "embedding cosine: each document is reduced to its top-5 tf-idf "
    "keywords (6dp-rounded before ranking, ties on the word), and "
    "per-document top-3 neighbors are found via an INVERTED-INDEX "
    "self-join on shared keywords - a doc contributes exactly 5 "
    "posting entries, so join fanout is bounded by construction, "
    "plus a df<=64 posting-list cap as the boilerplate-keyword skew "
    "guard (same discipline as the span-overlap and contamination "
    "joins). Never all-pairs: only docs sharing a distinctive "
    "keyword ever meet. Cosine over the truncated keyword vectors, "
    "decimal-routed before rounding.",
    tags=("north-star", "text", "joins"),
)
def keyword_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    toks = docs.select("doc_id", F.explode(words).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    n = docs.agg(F.count("*").alias("n"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("word")))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "w",
            F.round(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6),
        )
    )
    wk = Window.partitionBy("doc_id").orderBy(F.col("w").desc(), F.col("word").asc())
    kw = (
        scored.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "word", "w")
        .persist()
    )
    capped = (
        kw.groupBy("word")
        .agg(F.count(F.lit(1)).alias("pl"))
        .filter(F.col("pl") <= 64)
        .select("word")
    )
    post = kw.join(capped, "word", "left_semi")
    norms = kw.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a = post.select(F.col("doc_id").alias("doc_a"), "word", F.col("w").alias("wa"))
    b = post.select(F.col("doc_id").alias("doc_b"), "word", F.col("w").alias("wb"))
    dots = (
        a.join(b, "word")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    sims = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "cosine",
            F.round(
                (F.col("dot") / (F.col("na") * F.col("nb"))).cast("decimal(20,10)"),
                6,
            ).cast("double"),
        )
    )
    wr = Window.partitionBy("doc_a").orderBy(F.col("cosine").desc(), F.col("doc_b").asc())
    return (
        sims.withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") <= 3)
        .select("doc_a", "doc_b", "cosine")
    )


def _script_profile_oracle() -> str:
    from end_to_end_etl_pipeline_spark.operators.text_analysis import (
        SCRIPT_CLASSES,
    )

    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(text, '{re2}')) AS INT) AS n_{name}"
        for name, _java, re2 in SCRIPT_CLASSES
    )
    names = [name for name, _j, _r in SCRIPT_CLASSES]
    max_c = "greatest(" + ", ".join(f"n_{n}" for n in names) + ")"
    # first CASE branch in SCRIPT_CLASSES order == the engine fold's
    # earlier-entry-wins tie-break
    dom = "CASE WHEN " + max_c + " = 0 THEN 'none' " + " ".join(
        f"WHEN n_{n} = {max_c} THEN '{n}'" for n in names
    ) + " END"
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000,
             'Привет мир это тест ' || text
      FROM documents WHERE doc_id % 11 = 0
      UNION ALL
      SELECT doc_id + 4000000, '你好世界 这是 测试 文本 一二三'
      FROM documents WHERE doc_id % 13 = 0
      UNION ALL
      SELECT doc_id + 5000000,
             'مرحبا بالعالم ' || substr(text, 1, 20)
      FROM documents WHERE doc_id % 17 = 0
    ),
    counted AS (
      SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
           {counts}
      FROM corpus
    )
    SELECT *, {dom} AS dominant_script FROM counted
    """


@register(
    "doc_script_profile",
    oracle=_script_profile_oracle(),
    doc="Unicode-script composition per document (operators/"
    "text_analysis.script_profile) - the writing-system half of "
    "language ID and the first routing decision of a multilingual "
    "corpus pipeline (which tokenizer, which lang-id model, which "
    "quality rules). Per-script codepoint counts via one "
    "regexp_count pass per class (JVM-side, zero shuffles, nothing "
    "grows with corpus size) plus a deterministic dominant-script "
    "argmax (earlier class wins ties). The ASCII synthetic corpus is "
    "planted with Cyrillic-prefixed, pure-Han, and Arabic-mixed "
    "variants so every class provably fires; the class table carries "
    "both the Java and RE2 spellings of the same Unicode script "
    "property, so the DuckDB oracle replays identical counts.",
    tags=("north-star", "text"),
)
def doc_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.text_analysis import (
        script_profile,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (
        docs.unionByName(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 3000000).alias("doc_id"),
                F.concat(F.lit("Привет мир это тест "), F.col("text")).alias("text"),
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 4000000).alias("doc_id"),
                F.lit("你好世界 这是 测试 文本 一二三").alias("text"),
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 17 == 0).select(
                (F.col("doc_id") + 5000000).alias("doc_id"),
                F.concat(
                    F.lit("مرحبا بالعالم "), F.expr("substring(text, 1, 20)")
                ).alias("text"),
            )
        )
    )
    out = script_profile(_spread(planted), "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("n_chars").cast("int").alias("n_chars"),
        *[F.col(c).cast("int").alias(c) for c in out.columns
          if c.startswith("n_") and c != "n_chars"],
        "dominant_script",
    )


@register(
    "bm25_doc_search",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 6000000,
             'zqtopic' || CAST(doc_id % 5 AS VARCHAR) || ' zqterm'
               || CAST(doc_id % 5 AS VARCHAR) || ' ' || text
      FROM documents WHERE doc_id % 37 < 5
    ),
    d AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> length(w) > 0) AS words
      FROM corpus
    ),
    dl AS (SELECT doc_id, len(words) AS dl FROM d),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    qterms AS (
      SELECT i AS query_id, 'zqtopic' || CAST(i AS VARCHAR) AS word
      FROM generate_series(0, 4) t(i)
      UNION ALL
      SELECT i, 'zqterm' || CAST(i AS VARCHAR) FROM generate_series(0, 4) t(i)
      UNION ALL
      SELECT i, 'batch' FROM generate_series(0, 4) t(i)
      UNION ALL
      SELECT i, 'scan' FROM generate_series(0, 4) t(i)
    ),
    uniq AS (SELECT DISTINCT word FROM qterms),
    tf AS (
      SELECT t.doc_id, t.word, count(*) AS tf
      FROM (SELECT doc_id, unnest(words) AS word FROM d) t
      JOIN uniq USING (word)
      GROUP BY 1, 2
    ),
    df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
    eligible AS (
      SELECT word, df FROM df, stats WHERE df <= 0.5 * n
    ),
    part AS (
      SELECT qt.query_id, tf.doc_id,
             ln((s.n - e.df + 0.5) / (e.df + 0.5) + 1.0)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS w
      FROM qterms qt
      JOIN eligible e USING (word)
      JOIN tf ON tf.word = qt.word
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    )
    SELECT query_id, doc_id, round(sum(w), 6) AS bm25
    FROM part GROUP BY 1, 2
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY round(sum(w), 6) DESC, doc_id) <= 10
    """,
    doc="BM25 full-text retrieval over an inverted index - the "
    "lexical half of every retrieval stack (RAG, eval-set mining, "
    "contamination checks). The synthetic corpus's 31-word "
    "vocabulary is near-uniform (every word in ~80% of docs), so "
    "5 topic groups are planted (rare zqtopic/zqterm tags on every "
    "37th doc) and each query mixes two rare tags with two "
    "stopword-like terms - the df > N/2 cap provably drops the "
    "common terms while the rare ones rank the planted docs. "
    "Lucene-form BM25 (k1=1.2, b=0.75, idf=ln((N-df+.5)/(df+.5)+1)). "
    "The scale shape: postings are built ONLY for query terms "
    "(semi-join before the tf aggregation - the index never "
    "materializes for the full vocabulary), document length rides "
    "the tokenization (no second doc-keyed join), and per-query "
    "top-10 goes through WindowGroupLimit partial top-k. Scores "
    "round to 6dp before ranking, ties to lowest doc_id.",
    tags=("north-star", "text", "search"),
)
def bm25_doc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.unionByName(
        docs.filter(F.col("doc_id") % 37 < 5).select(
            (F.col("doc_id") + 6000000).alias("doc_id"),
            F.concat(
                F.lit("zqtopic"), (F.col("doc_id") % 5).cast("string"),
                F.lit(" zqterm"), (F.col("doc_id") % 5).cast("string"),
                F.lit(" "), F.col("text"),
            ).alias("text"),
        )
    )
    from end_to_end_etl_pipeline_spark.operators.retrieval import bm25_scores

    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    d = _spread(planted).select("doc_id", words.alias("words"))
    qterms = spark.createDataFrame(
        [
            (i, w)
            for i in range(5)
            for w in (f"zqtopic{i}", f"zqterm{i}", "batch", "scan")
        ],
        "query_id bigint, word string",
    )
    agg = bm25_scores(d, qterms)
    wk = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        agg.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 10)
        .select("query_id", "doc_id", "bm25")
    )


def _bm25_oracle_sql() -> str:
    """The bm25_doc_search oracle, shared verbatim by the store-backed
    variant (same corpus, same queries, same math — the store must be
    invisible in the results)."""
    return REGISTRY["bm25_doc_search"].oracle


@register(
    "bm25_store_search",
    oracle=None,  # set right after registration from the in-plan twin
    doc="Incremental inverted-index maintenance (operators/"
    "text_index.py): the BM25 index is BUILT over half the planted "
    "corpus and the other half is folded in with append_text_index — "
    "new postings CAS-append into their terms' hash buckets "
    "(untouched buckets keep their dir lists verbatim) and the "
    "one-row (n_docs, sum_dl) stats combine exactly. Search reads "
    "ONLY the query terms' bucket dirs (len(terms)/n_buckets of the "
    "bytes at any corpus size), derives df from the postings it "
    "already read (no vocabulary-sized side table), and replays the "
    "bm25_doc_search math bit-for-bit — the same oracle gates both, "
    "proving the incremental store is invisible in the results.",
    tags=("north-star", "text", "search", "incremental"),
)
def bm25_store_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.text_index import (
        append_text_index,
        text_index_search,
        write_text_index,
    )
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    root = scratch_root("text_index")

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.unionByName(
        docs.filter(F.col("doc_id") % 37 < 5).select(
            (F.col("doc_id") + 6000000).alias("doc_id"),
            F.concat(
                F.lit("zqtopic"), (F.col("doc_id") % 5).cast("string"),
                F.lit(" zqterm"), (F.col("doc_id") % 5).cast("string"),
                F.lit(" "), F.col("text"),
            ).alias("text"),
        )
    )
    cat = ManifestCatalog(spark, f"file://{root}")
    write_text_index(
        cat, planted.filter(F.col("doc_id") % 2 == 0),
        "doc_id", "text", "idx.bm25", n_buckets=32,
    )
    append_text_index(
        cat, planted.filter(F.col("doc_id") % 2 == 1),
        "doc_id", "text", "idx.bm25",
    )
    qterms = spark.createDataFrame(
        [
            (i, w)
            for i in range(5)
            for w in (f"zqtopic{i}", f"zqterm{i}", "batch", "scan")
        ],
        "query_id bigint, word string",
    )
    res, _buckets = text_index_search(cat, "idx.bm25", qterms)
    return res.localCheckpoint(eager=True)


# the store-backed search must be indistinguishable from the in-plan
# twin: gate both with the identical oracle
REGISTRY["bm25_store_search"].oracle = _bm25_oracle_sql()


@register(
    "doc_shared_span_extent",
    oracle=f"""
    WITH {_SQL_CORPUS},
    kg AS (
      SELECT doc_id, i AS pos, md5(substr(text, CAST(i AS INT), 8)) AS h,
             greatest(length(text) - 7, 0) AS nk
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text) - 7, 0))) AS i
            FROM corpus)
    ),
    wins AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             pos, nk
      FROM kg
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= nk - 3),
    keptf AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 16),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM fps a
      JOIN keptf k ON k.fp = a.fp
      JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 5
    ),
    rare AS (SELECT h FROM kg GROUP BY h HAVING count(*) <= 16),
    hits AS (
      SELECT c.doc_a, c.doc_b, ka.pos AS pos_a, kb.pos AS pos_b
      FROM cand c
      JOIN kg ka ON ka.doc_id = c.doc_a
      JOIN rare r ON r.h = ka.h
      JOIN kg kb ON kb.doc_id = c.doc_b AND kb.h = ka.h
    ),
    runs AS (
      SELECT doc_a, doc_b,
             pos_a - pos_b AS diag,
             pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, pos_a - pos_b
                                        ORDER BY pos_a) AS island
      FROM hits
    ),
    islands AS (
      SELECT doc_a, doc_b, count(*) AS run_len
      FROM runs GROUP BY doc_a, doc_b, diag, island
    )
    SELECT c.doc_a, c.doc_b, CAST(c.n_shared AS BIGINT) AS n_shared,
           CAST(coalesce(max(i.run_len), 0) AS BIGINT) AS max_run_kgrams,
           CAST(coalesce(max(i.run_len), 0) + 7 AS BIGINT) AS span_chars
    FROM cand c LEFT JOIN islands i USING (doc_a, doc_b)
    GROUP BY 1, 2, 3
    """,
    doc="Shared-span EXTENT per near-dup pair - the contamination-"
    "severity measure span DETECTION (doc_span_overlap) cannot give: "
    "for each winnowing-candidate pair, the longest CONTIGUOUS run "
    "of matching char-8-grams, via the islands-and-gaps trick on "
    "k-gram position diagonals (pos_a - pos_b constant along a "
    "shared substring; consecutive pos_a within a diagonal group by "
    "pos_a - row_number). The quadratic is bounded three ways: "
    "positions join only for CANDIDATE pairs' docs (driven by the "
    "df-capped fingerprint pairs), gram df <= 16 caps hot grams, and "
    "runs aggregate per (pair, diagonal) - never all-pairs, never "
    "all-positions. The planted perturbed variants share their "
    "entire suffix, so max runs are provably long; all-integer "
    "output, exact value-hash oracle.",
    tags=("north-star", "dedup", "text"),
)
def doc_shared_span_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.text_analysis import (
        winnow_fingerprints,
    )

    corpus = _variant_corpus(load(spark, sf_dir, "documents")).persist()
    fps = winnow_fingerprints(corpus, "doc_id", "text")
    keptf = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= 16)
        .select("fp")
    )
    capped = fps.join(keptf, "fp", "left_semi")
    a = capped.select(F.col("doc_id").alias("doc_a"), "fp")
    b = capped.select(F.col("doc_id").alias("doc_b"), "fp")
    cand = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
        .persist()
    )
    cand.count()  # materialize before corpus unpersist at return

    n = F.col("__n")
    kg = corpus.select(
        "doc_id",
        F.greatest(F.length("text") - 7, F.lit(0)).alias("__n"),
        F.posexplode(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 7, 1)), "
                "i -> md5(substring(text, i, 8)))"
            )
        ).alias("__p0", "h"),
    ).filter(F.col("__p0") < n).select(
        "doc_id", (F.col("__p0") + 1).alias("pos"), "h"
    )
    rare = (
        kg.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= 16)
        .select("h")
    )
    kgf = kg.join(rare, "h", "left_semi")
    ka = kgf.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "h")
    kb = kgf.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"), "h")
    hits = (
        ka.join(F.broadcast(cand.select("doc_a", "doc_b")), "doc_a")
        .join(kb, ["h", "doc_b"])
    )
    wrun = Window.partitionBy(
        "doc_a", "doc_b", F.col("pos_a") - F.col("pos_b")
    ).orderBy("pos_a")
    islands = (
        hits.withColumn("diag", F.col("pos_a") - F.col("pos_b"))
        .withColumn("island", F.col("pos_a") - F.row_number().over(wrun))
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("doc_a", "doc_b")
        .agg(F.max("run_len").alias("mr"))
    )
    out = cand.join(islands, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        F.col("n_shared").cast("bigint").alias("n_shared"),
        F.coalesce(F.col("mr"), F.lit(0)).cast("bigint").alias("max_run_kgrams"),
        (F.coalesce(F.col("mr"), F.lit(0)) + 7).cast("bigint").alias("span_chars"),
    )
    out = out.localCheckpoint(eager=True)
    corpus.unpersist()
    cand.unpersist()
    return out


@register(
    "crossencoder_rerank_topk",
    oracle="""
    WITH q AS (
      SELECT doc_id - 100 AS query_id, text AS qtext FROM documents
      WHERE doc_id BETWEEN 100 AND 104
    ),
    cand AS (
      SELECT doc_id % 100 AS query_id, doc_id, text FROM documents
      WHERE doc_id % 100 <= 4
    ),
    pairs AS (
      SELECT c.query_id, c.doc_id,
             list_distinct(list_filter(string_split(q.qtext, ' '),
                                       w -> length(w) > 0)) AS qw,
             list_distinct(list_filter(string_split(c.text, ' '),
                                       w -> length(w) > 0)) AS dw
      FROM cand c JOIN q USING (query_id)
    ),
    scored AS (
      SELECT query_id, doc_id,
             round(2.0 * len(list_intersect(qw, dw)) / (len(qw) + len(dw)),
                   6) AS ce_score
      FROM pairs
    )
    SELECT query_id, doc_id, ce_score,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY ce_score DESC, doc_id) AS INT)
             AS rank
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY ce_score DESC, doc_id) <= 10
    """,
    doc="Cross-encoder rerank seam (operators/retrieval."
    "cross_encoder_rerank) - the final stage of the retrieval stack "
    "(retrieve -> fuse -> diversify -> rerank): a bounded candidate "
    "set (doc_id %% 100 routes ~1/100th of the corpus to each of 5 "
    "queries; each query's text is its own doc's text so the top hit "
    "is provably itself at F1=1.0) is scored query-text x doc-text "
    "inside mapInPandas - Arrow batch in, Arrow batch out, model "
    "loads once per executor via closure capture, the EXACT plumbing "
    "a sentence-transformers cross-encoder drops into. The heavy "
    "model is not in this container (same seam treatment as the "
    "multimodal codecs), so the conformance scorer is deterministic "
    "token-overlap F1 (2|Q n D|/(|Q|+|D|), distinct space-delimited "
    "tokens) - fully replayed by the DuckDB oracle via "
    "list_intersect, making the Arrow plumbing value-gated, not just "
    "smoke-tested. 6dp, per-query top-10, ties to lowest doc_id.",
    tags=("north-star", "text", "search"),
)
def crossencoder_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.retrieval import (
        cross_encoder_rerank,
        overlap_f1_scorer,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    q = docs.filter(F.col("doc_id").between(100, 104)).select(
        (F.col("doc_id") - 100).alias("query_id"), F.col("text").alias("qtext")
    )
    cand = docs.withColumn("query_id", F.col("doc_id") % 100).filter(
        F.col("query_id") <= 4
    )
    pairs = cand.join(F.broadcast(q), "query_id")
    return cross_encoder_rerank(
        pairs, "query_id", "doc_id", "qtext", "text",
        scorer=overlap_f1_scorer,
    )


def _pairwise_ce_oracle(iters: int, lr: float) -> str:
    """Unrolled-CTE replay of train_pairwise_logreg over the
    crossencoder pair set (the _logreg_oracle pattern, dense
    variant): w0 = zeros; per step the per-pair BALANCED-weighted
    sigmoid errors (wt = 1/(2·n_pos) or 1/(2·n_neg) — the weights
    sum to 1, so there is no extra 1/N), the 4-component gradient,
    and the literal-arithmetic weight update — then the final
    margins from w{iters} through the SAME pinned left-associative
    b + wf*f1 + wj*jac + wl*ld the Spark trainer and the pandas
    inference scorer use."""
    z = "w.b + w.wf*f1 + w.wj*jac + w.wl*ld"
    steps = []
    for t in range(1, iters + 1):
        steps.append(f"""
    g{t} AS (
      SELECT sum(e) AS g0, sum(e * f1) AS g1,
             sum(e * jac) AS g2, sum(e * ld) AS g3
      FROM (SELECT (1.0 / (1.0 + exp(-({z}))) - y) * wt AS e, f1, jac, ld
            FROM xw CROSS JOIN w{t - 1} w)
    ),
    w{t} AS (SELECT w.b - {lr} * g.g0 AS b, w.wf - {lr} * g.g1 AS wf,
                    w.wj - {lr} * g.g2 AS wj, w.wl - {lr} * g.g3 AS wl
             FROM w{t - 1} w CROSS JOIN g{t} g),""")
    return f"""
    WITH q AS (
      SELECT doc_id - 100 AS query_id, text AS qtext FROM documents
      WHERE doc_id BETWEEN 100 AND 104
    ),
    cand AS (
      SELECT doc_id % 100 AS query_id, doc_id, text FROM documents
      WHERE doc_id % 100 <= 4
    ),
    p AS (
      SELECT c.query_id, c.doc_id,
             list_distinct(list_filter(string_split(q.qtext, ' '),
                                       w -> length(w) > 0)) AS qw,
             list_distinct(list_filter(string_split(c.text, ' '),
                                       w -> length(w) > 0)) AS dw,
             CASE WHEN c.doc_id = c.query_id + 100
                  THEN 1.0 ELSE 0.0 END AS y
      FROM cand c JOIN q USING (query_id)
    ),
    cnt AS (
      SELECT query_id, doc_id, y, len(qw) AS qn, len(dw) AS dn,
             len(list_intersect(qw, dw)) AS i
      FROM p
    ),
    x AS (
      SELECT query_id, doc_id, y,
             CASE WHEN qn + dn = 0 THEN 0.0
                  ELSE 2.0 * i / (qn + dn) END AS f1,
             CASE WHEN qn + dn - i = 0 THEN 0.0
                  ELSE CAST(i AS DOUBLE) / (qn + dn - i) END AS jac,
             CASE WHEN qn + dn = 0 THEN 0.0
                  ELSE CAST(abs(qn - dn) AS DOUBLE) / (qn + dn) END AS ld
      FROM cnt
    ),
    npos AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM x WHERE y = 1.0),
    nneg AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM x WHERE y <> 1.0),
    xw AS (
      SELECT *, CASE WHEN y = 1.0
                     THEN 1.0 / (2.0 * (SELECT n FROM npos))
                     ELSE 1.0 / (2.0 * (SELECT n FROM nneg)) END AS wt
      FROM x
    ),
    w0 AS (SELECT 0.0 AS b, 0.0 AS wf, 0.0 AS wj, 0.0 AS wl),{"".join(steps)}
    zf AS (
      SELECT query_id, doc_id, round({z}, 6) AS ce_score
      FROM x CROSS JOIN w{iters} w
    )
    SELECT query_id, doc_id, ce_score,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY ce_score DESC, doc_id) AS INT)
             AS rank
    FROM zf
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY ce_score DESC, doc_id) <= 10
    """


@register(
    "crossencoder_trained_rerank",
    oracle=_pairwise_ce_oracle(iters=3, lr=2.0),
    doc="TRAINED cross-encoder rerank (closes the r07 'stand-in "
    "scorer by design' soft spot the way quality_classifier_trained "
    "closed the quality seam): a pairwise logistic scorer over the "
    "fixed 3-feature text-pair space (token-overlap F1, Jaccard, "
    "length-ratio distance — operators/retrieval.CE_FEATURES) is "
    "trained IN-ENGINE by 3 balanced-class-weighted full-batch "
    "gradient steps on the crossencoder candidate pairs (planted "
    "labels: the query's own source doc is the positive; balancing "
    "is what keeps the rare-positive gradient from driving every "
    "weight negative), then the TRAINED weights score "
    "the same pairs through the REAL cross_encoder_rerank Arrow "
    "seam (mapInPandas closure capture — the exact drop-in shape a "
    "sentence-transformers model uses), so the full train->deploy "
    "loop is value-gated, not just the inference plumbing. Each "
    "gradient step is ONE codegen aggregate (dense features enter "
    "as literals — no weight join at all); driver state is 4 "
    "floats. The oracle replays the identical iterations as "
    "unrolled CTEs and the identical pinned-order margin. 100-TB "
    "shape: training cost is iters scans of the (bounded) candidate "
    "pair frame, inference is one Arrow pass over it.",
    tags=("parity", "text", "search", "north-star"),
)
def crossencoder_trained_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.retrieval import (
        cross_encoder_rerank,
        pairwise_ce_features,
        train_pairwise_logreg,
        trained_linear_scorer,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    q = docs.filter(F.col("doc_id").between(100, 104)).select(
        (F.col("doc_id") - 100).alias("query_id"), F.col("text").alias("qtext")
    )
    cand = docs.withColumn("query_id", F.col("doc_id") % 100).filter(
        F.col("query_id") <= 4
    )
    pairs = cand.join(F.broadcast(q), "query_id")
    feats = (
        pairwise_ce_features(pairs, "qtext", "text")
        .withColumn(
            "y",
            F.when(
                F.col("doc_id") == F.col("query_id") + 100, 1.0
            ).otherwise(0.0),
        )
        .select("query_id", "doc_id", "f1", "jac", "ld", "y")
        .localCheckpoint(eager=True)
    )
    # balanced class weights (positives are 1-in-candidates rare;
    # unweighted training drives every weight negative and inverts
    # the learned ranking) — wt sums to 1 so the trainer skips 1/N
    counts = feats.agg(
        F.sum("y").alias("np"), F.count(F.lit(1)).alias("n")
    ).first()
    n_pos = float(counts["np"] or 0.0)
    n_neg = float(counts["n"]) - n_pos
    if n_pos == 0.0 or n_neg == 0.0:
        raise ValueError(
            "crossencoder_trained_rerank: balanced pairwise training "
            f"needs both classes, got n_pos={n_pos:g} n_neg={n_neg:g} "
            "(the planted relevance labels require documents.doc_id "
            "100-104 plus non-relevant candidates at this scale factor)"
        )
    feats = feats.withColumn(
        "wt",
        F.when(F.col("y") == 1.0, F.lit(1.0 / (2.0 * n_pos))).otherwise(
            F.lit(1.0 / (2.0 * n_neg))
        ),
    )
    w = train_pairwise_logreg(feats, "y", weight_col="wt")
    return cross_encoder_rerank(
        pairs, "query_id", "doc_id", "qtext", "text",
        scorer=trained_linear_scorer(w),
    )


@register(
    "preference_pair_mining",
    oracle="""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS words
      FROM documents
    ),
    s AS (
      SELECT doc_id, source,
             round(CAST(len(list_distinct(words)) AS DOUBLE) / len(words),
                   6) AS q
      FROM w WHERE len(words) > 0
    ),
    ch AS (
      SELECT source, doc_id AS chosen_id, q AS chosen_q,
             row_number() OVER (PARTITION BY source
                                ORDER BY q DESC, doc_id) AS pair_rank
      FROM s
      QUALIFY row_number() OVER (PARTITION BY source
                                 ORDER BY q DESC, doc_id) <= 5
    ),
    rj AS (
      SELECT source, doc_id AS rejected_id, q AS rejected_q,
             row_number() OVER (PARTITION BY source
                                ORDER BY q ASC, doc_id) AS pair_rank
      FROM s
      QUALIFY row_number() OVER (PARTITION BY source
                                 ORDER BY q ASC, doc_id) <= 5
    )
    SELECT source, CAST(ch.pair_rank AS INT) AS pair_rank,
           chosen_id, rejected_id,
           round(chosen_q - rejected_q, 6) AS margin
    FROM ch JOIN rj USING (source, pair_rank)
    WHERE chosen_id <> rejected_id AND chosen_q - rejected_q > 0
    """,
    doc="Preference-pair construction for DPO/RLHF-style training - "
    "per source, pair the 5 highest-quality documents (chosen) with "
    "the 5 lowest (rejected), rank i to rank i, keeping only pairs "
    "with positive quality margin and distinct docs. Quality here is "
    "the deterministic distinct-word ratio (lexical diversity - a "
    "stand-in with the same shape as any scored column; swap in "
    "quality_classifier_scores' hashed-linear score for the "
    "model-scored variant). Scale shape: two WindowGroupLimit "
    "partial top-5s per source partition + one (source, rank) join "
    "whose size is bounded by 5*n_sources - never corpus-quadratic; "
    "the quality projection is one pass, no shuffle beyond the "
    "per-source rank. 6dp scores, ties to lowest doc_id, margin "
    "recomputed 6dp.",
    tags=("north-star", "text"),
)
def preference_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    words = F.filter(F.split("text", " "), lambda x: F.length(x) > 0)
    s = (
        docs.select("doc_id", "source", words.alias("words"))
        .filter(F.size("words") > 0)
        .select(
            "doc_id", "source",
            F.round(
                F.size(F.array_distinct("words")) / F.size("words"), 6
            ).alias("q"),
        )
    )
    wd = Window.partitionBy("source").orderBy(
        F.col("q").desc(), F.col("doc_id").asc()
    )
    wa = Window.partitionBy("source").orderBy(
        F.col("q").asc(), F.col("doc_id").asc()
    )
    ch = (
        s.withColumn("pair_rank", F.row_number().over(wd))
        .filter(F.col("pair_rank") <= 5)
        .select(
            "source", "pair_rank", F.col("doc_id").alias("chosen_id"),
            F.col("q").alias("chosen_q"),
        )
    )
    rj = (
        s.withColumn("pair_rank", F.row_number().over(wa))
        .filter(F.col("pair_rank") <= 5)
        .select(
            "source", "pair_rank", F.col("doc_id").alias("rejected_id"),
            F.col("q").alias("rejected_q"),
        )
    )
    return (
        ch.join(rj, ["source", "pair_rank"])
        .filter(
            (F.col("chosen_id") != F.col("rejected_id"))
            & (F.col("chosen_q") - F.col("rejected_q") > 0)
        )
        .select(
            "source", "pair_rank", "chosen_id", "rejected_id",
            F.round(F.col("chosen_q") - F.col("rejected_q"), 6).alias("margin"),
        )
    )


@register(
    "dsir_importance_scores",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang = 'en' AS is_t,
             list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
      FROM documents
    ),
    grams AS (
      SELECT doc_id, is_t, unnest(ws) AS gram FROM toks
      UNION ALL
      SELECT doc_id, is_t,
             ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] AS gram
      FROM (SELECT doc_id, is_t, ws,
                   unnest(generate_series(1, len(ws) - 1)) AS i
            FROM toks)
    ),
    feats AS (
      SELECT doc_id, is_t,
             ({_nibble_int("md5('d:' || gram)", 1)} % 1024) AS bucket
      FROM grams
    ),
    model AS (
      SELECT bucket, count(*) AS cr,
             count(*) FILTER (WHERE is_t) AS ct
      FROM feats GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(cr) AS DOUBLE) AS nr,
                   CAST(sum(ct) AS DOUBLE) AS nt
            FROM model),
    lr AS (
      SELECT bucket,
             ln((ct + 1.0) / (nt + 1024)) - ln((cr + 1.0) / (nr + 1024))
               AS lr
      FROM model CROSS JOIN tot
    )
    SELECT doc_id, count(*) AS n_feats,
           CAST(round(CAST(avg(lr) AS DECIMAL(20,10)), 4) AS DOUBLE)
             AS dsir_avg_logratio,
           CAST(round(CAST(avg(lr) AS DECIMAL(20,10)), 4) AS DOUBLE) > 0
             AS keep
    FROM feats JOIN lr USING (bucket)
    GROUP BY doc_id
    """,
    doc="DSIR-style importance scoring for data selection (operators/"
    "sampling.dsir_logratio_scores; Xie et al. 2023): hashed "
    "bag-of-ngram models (unigrams + word bigrams, md5 into 1024 "
    "buckets) fit on the TARGET slice (here lang='en' stands in for "
    "the quality domain) and on the raw corpus, then every document "
    "scores by its mean per-feature log-likelihood ratio "
    "ln p_target - ln p_raw. Positive = target-like; feeding the "
    "weights to the content-addressed weighted draw tilts a raw "
    "crawl toward the target distribution. Two corpus scans (train + "
    "score - DSIR's own shape), the 1024-row ratio table broadcasts, "
    "no shuffle grows with vocabulary.",
    tags=("north-star", "sampling", "text"),
)
def dsir_importance_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.sampling import (
        dsir_logratio_scores,
    )

    docs = _spread(load(spark, sf_dir, "documents"))
    return dsir_logratio_scores(
        docs, "doc_id", "text", target=F.col("lang") == "en"
    )


@register(
    "bm25_ndcg_eval",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 6000000,
             'zqtopic' || CAST(doc_id % 5 AS VARCHAR) || ' zqterm'
               || CAST(doc_id % 5 AS VARCHAR) || ' ' || text
      FROM documents WHERE doc_id % 37 < 5
    ),
    d AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> length(w) > 0) AS words
      FROM corpus
    ),
    dl AS (SELECT doc_id, len(words) AS dl FROM d),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    qterms AS (
      SELECT i AS query_id, 'zqtopic' || CAST(i AS VARCHAR) AS word
      FROM generate_series(0, 4) t(i)
      UNION ALL
      SELECT i, 'zqterm' || CAST((i + 1) % 5 AS VARCHAR)
      FROM generate_series(0, 4) t(i)
      UNION ALL
      SELECT i, 'batch' FROM generate_series(0, 4) t(i)
      UNION ALL
      SELECT i, 'scan' FROM generate_series(0, 4) t(i)
    ),
    uniq AS (SELECT DISTINCT word FROM qterms),
    tf AS (
      SELECT t.doc_id, t.word, count(*) AS tf
      FROM (SELECT doc_id, unnest(words) AS word FROM d) t
      JOIN uniq USING (word)
      GROUP BY 1, 2
    ),
    df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
    eligible AS (
      SELECT word, df FROM df, stats WHERE df <= 0.5 * n
    ),
    part AS (
      SELECT qt.query_id, tf.doc_id,
             ln((s.n - e.df + 0.5) / (e.df + 0.5) + 1.0)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS w
      FROM qterms qt
      JOIN eligible e USING (word)
      JOIN tf ON tf.word = qt.word
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    ),
    scores AS (
      SELECT query_id, doc_id, round(sum(w), 6) AS bm25
      FROM part GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY bm25 DESC, doc_id) AS rk
      FROM scores
      QUALIFY rk <= 10
    ),
    rel AS (
      SELECT doc_id % 5 AS query_id, doc_id FROM corpus
      WHERE doc_id >= 6000000
    ),
    nrel AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
    hits AS (
      SELECT r.query_id, r.rk,
             CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM ranked r
      LEFT JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
    ),
    dcg AS (
      SELECT query_id, CAST(sum(hit) AS BIGINT) AS n_rel_retrieved,
             sum(hit / log2(rk + 1.0)) AS dcg
      FROM hits GROUP BY 1
    ),
    idcg AS (
      SELECT query_id, sum(1.0 / log2(i + 1.0)) AS idcg
      FROM (SELECT query_id, unnest(generate_series(1, LEAST(n_rel, 10))) AS i
            FROM nrel)
      GROUP BY 1
    )
    SELECT q.query_id, COALESCE(n.n_rel, 0) AS n_rel,
           COALESCE(d.n_rel_retrieved, 0) AS n_rel_retrieved,
           round(CASE WHEN i.idcg > 0
                 THEN COALESCE(d.dcg, 0) / i.idcg ELSE 0 END, 6) AS ndcg
    FROM (SELECT query_id FROM dcg UNION SELECT query_id FROM nrel) q
    LEFT JOIN dcg d USING (query_id)
    LEFT JOIN nrel n USING (query_id)
    LEFT JOIN idcg i USING (query_id)
    """,
    doc="Retrieval-quality evaluation: per-query nDCG@10 of the BM25 "
    "arm (operators/retrieval.ndcg_at_k) - the metric step closing "
    "the retrieval stack (retrieve -> fuse -> diversify -> rerank -> "
    "EVALUATE). Same planted corpus as bm25_doc_search, but each "
    "query mixes its OWN topic tag (zqtopic_i - the relevant docs) "
    "with the NEXT topic's zqterm - a deliberate distractor arm, so "
    "the retrieved top-10 interleaves relevant and irrelevant docs "
    "and nDCG lands strictly between 0 and 1 (a discriminative "
    "metric, not a vacuous 1.0). Ground truth = the planted docs of "
    "the query's topic; IDCG normalizes by min(|rel|, 10). Scale "
    "shape: ranked is 10 rows/query, ground truth is label-sized, "
    "the ideal discount is an in-row sequence fold - nothing in the "
    "eval grows with corpus size; the BM25 arm itself keeps "
    "bm25_doc_search's semi-join postings plan.",
    tags=("north-star", "text", "search", "eval"),
)
def bm25_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.retrieval import (
        bm25_scores,
        ndcg_at_k,
        topk_ranks,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.unionByName(
        docs.filter(F.col("doc_id") % 37 < 5).select(
            (F.col("doc_id") + 6000000).alias("doc_id"),
            F.concat(
                F.lit("zqtopic"), (F.col("doc_id") % 5).cast("string"),
                F.lit(" zqterm"), (F.col("doc_id") % 5).cast("string"),
                F.lit(" "), F.col("text"),
            ).alias("text"),
        )
    )
    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    d = _spread(planted).select("doc_id", words.alias("words"))
    qterms = spark.createDataFrame(
        [
            (i, w)
            for i in range(5)
            for w in (f"zqtopic{i}", f"zqterm{(i + 1) % 5}", "batch", "scan")
        ],
        "query_id bigint, word string",
    )
    ranked = topk_ranks(
        bm25_scores(d, qterms), "query_id", "doc_id", "bm25", 10
    )
    relevant = planted.filter(F.col("doc_id") >= 6000000).select(
        (F.col("doc_id") % 5).alias("query_id"), "doc_id"
    )
    return ndcg_at_k(ranked, relevant, 10, rank_col="__rnk")


@register(
    "lang_temperature_mix",
    oracle="""
    WITH avail AS (
      SELECT lang,
             CAST(sum(len(list_filter(string_split(text, ' '),
                                      w -> length(w) > 0))) AS BIGINT)
               AS avail_tokens
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT sum(avail_tokens) AS ttot FROM avail),
    p AS (
      SELECT lang, avail_tokens,
             avail_tokens / ttot AS p_raw,
             pow(avail_tokens / ttot, 0.3) AS q_raw
      FROM avail, tot
    ),
    qs AS (SELECT sum(q_raw) AS qsum FROM p)
    SELECT lang, avail_tokens,
           CAST(round(CAST(p_raw AS DECIMAL(20,10)), 6) AS DOUBLE) AS p_lang,
           CAST(round(CAST(q_raw / qsum AS DECIMAL(20,10)), 6) AS DOUBLE)
             AS q_lang,
           CAST(round(CAST((q_raw / qsum) / p_raw AS DECIMAL(20,10)), 6)
                AS DOUBLE) AS boost,
           CAST(floor(q_raw / qsum * 50000) AS BIGINT) AS target_tokens
    FROM p, qs
    """,
    doc="Temperature-based multilingual resampling (the XLM-R/mT5 "
    "alpha-sampling step, alpha=0.3): per-language token shares p_l "
    "are flattened to q_l proportional to p_l^alpha, so low-resource "
    "languages are upsampled (boost > 1) and the head language "
    "downsampled without ever inverting the order - the lang-axis "
    "complement of source_mix_plan's per-source budget mix. Output "
    "per language: available tokens, natural share p, temperature "
    "share q, the resampling boost q/p that drives a downstream "
    "weighted sampler, and the token budget allocation. One groupBy "
    "over the corpus + two broadcast scalars; nothing grows with "
    "corpus size past the per-language rollup. Ratios are "
    "decimal-routed before rounding so the pow-derived doubles "
    "compare exactly across engines.",
    tags=("north-star", "text", "sampling"),
)
def lang_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    budget = 50000
    alpha = 0.3
    avail = docs.groupBy("lang").agg(
        F.expr(
            "CAST(sum(size(filter(split(text, ' '), w -> length(w) > 0))) AS BIGINT)"
        ).alias("avail_tokens"),
    )
    tot = avail.agg(F.sum("avail_tokens").alias("ttot"))
    p = (
        avail.crossJoin(F.broadcast(tot))
        .withColumn("p_raw", F.col("avail_tokens") / F.col("ttot"))
        .withColumn("q_raw", F.pow(F.col("p_raw"), F.lit(alpha)))
    )
    qs = p.agg(F.sum("q_raw").alias("qsum"))
    dec6 = lambda c: F.round(c.cast("decimal(20,10)"), 6).cast("double")  # noqa: E731
    return (
        p.crossJoin(F.broadcast(qs))
        .select(
            "lang",
            "avail_tokens",
            dec6(F.col("p_raw")).alias("p_lang"),
            dec6(F.col("q_raw") / F.col("qsum")).alias("q_lang"),
            dec6((F.col("q_raw") / F.col("qsum")) / F.col("p_raw")).alias("boost"),
            F.floor(F.col("q_raw") / F.col("qsum") * budget)
            .cast("bigint")
            .alias("target_tokens"),
        )
    )
