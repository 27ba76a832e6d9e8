"""Text-analysis operators for training-data pipelines: language
identification, token statistics, and winnowing document
fingerprints (BASELINE.json north star; reference has no text ops
beyond trim/initcap, SURVEY.md §2.8).

All operators are built-in-function compositions (split / explode /
regexp / window min) — whole-stage codegen end to end, no UDFs. Each
is one bounded shuffle: lang-ID shuffles (doc, candidate) match
counts, fingerprinting shuffles k-gram hashes on doc_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Tiny embedded stopword lexicons — the classic cheap lang-ID signal.
# Deliberately includes cross-language collisions (en 'a' / es 'la' /
# fr 'la'): scoring must handle shared function words.
STOPWORD_LEXICON: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "was", "for", "on"),
    "de": ("der", "die", "das", "und", "zu", "den", "ist", "von", "mit", "nicht"),
    "es": ("el", "la", "los", "de", "y", "un", "una", "es", "para", "en"),
    "fr": ("le", "la", "les", "de", "et", "une", "est", "pour", "dans", "que"),
}


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda w: F.length(w) > 0)
        ).alias("word"),
    )


def lang_id(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Predict language by :data:`STOPWORD_LEXICON` stopword-hit count
    (tie → lexicographic language). Returns (id, pred_lang, score) where
    score = hits / tokens, 6dp; docs with no lexicon hit are absent
    (caller left-joins). The lexicon join is a broadcast of a few dozen
    rows against the exploded token stream — no shuffle grows with
    vocabulary."""
    spark = SparkSession.getActiveSession()
    lex = spark.createDataFrame(
        [(lang, w) for lang, words in STOPWORD_LEXICON.items() for w in words],
        ["cand_lang", "word"],
    )
    tok = _tokens(df, id_col, text_col)
    ntok = tok.groupBy(id_col).agg(F.count("*").alias("__n"))
    hits = (
        tok.join(F.broadcast(lex), "word")
        .groupBy(id_col, "cand_lang")
        .agg(F.count("*").alias("__c"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__c").desc(), F.col("cand_lang").asc()
    )
    return (
        hits.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .join(ntok, id_col)
        .select(
            F.col(id_col),
            F.col("cand_lang").alias("pred_lang"),
            F.round(F.col("__c").cast("double") / F.col("__n"), 6).alias("score"),
        )
    )


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document token statistics: char count, whitespace tokens,
    BPE-ish regex tokens (letter runs | digit runs | single
    punctuation — the pre-tokenizer split most BPE vocabularies
    assume), and mean token length. Pure projection — no shuffle."""
    words = F.filter(F.split(F.col(text_col), " "), lambda w: F.length(w) > 0)
    n_ws = F.size(words).cast("long")
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        n_ws.alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.col(text_col), F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), F.lit(0)
            )
        )
        .cast("long")
        .alias("n_bpe_tokens"),
        F.round(
            F.length(F.replace(F.col(text_col), F.lit(" "))).cast("double")
            / F.nullif(n_ws, F.lit(0)),
            6,
        ).alias("avg_token_len"),
    )


#: winnowing k-gram length and window size
KGRAM, WINDOW = 8, 4


def winnow_fingerprint_array(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken) fingerprint sets in
    ``fps``: hash every ``KGRAM``-char shingle, slide a ``WINDOW`` over
    consecutive hashes, keep each window's min, dedup. Guarantees any
    shared substring ≥ KGRAM+WINDOW−1 chars yields a shared
    fingerprint.

    Entirely per-row array algebra — the k-gram hashes are bound to a
    column once (no per-window recompute) and the window minima are
    ``array_min`` over slices, so fingerprinting is a shuffle-free
    projection that scales with executors linearly. Documents too
    short for one full window get an empty array."""
    return df.withColumn("fps", F.expr(_fps_expr(text_col)))


def _fps_expr(text_col: str) -> str:
    """SQL for the distinct winnowing-fingerprint array of one row.

    The k-gram hash array is let-bound via a 1-element transform: the
    lambda variable `kh` is evaluated ONCE per row. A plain
    withColumn alias would be inlined by CollapseProject into every
    window position, turning O(L) digests into O(L·W) — measured 30×
    slower. Window minima are ``least`` over ``element_at`` probes
    (O(1) each, no per-window slice allocation — ~2× faster than
    slice+array_min)."""
    kgram, window = KGRAM, WINDOW
    kh = (
        f"CASE WHEN length({text_col}) >= {kgram} THEN "
        f"transform(sequence(1, length({text_col}) - {kgram} + 1), "
        f"i -> md5(substring({text_col}, i, {kgram}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    probes = ", ".join(f"element_at(kh, p + {d})" for d in range(window))
    win_min = probes if window == 1 else f"least({probes})"
    return (
        f"transform(array({kh}), kh -> "
        f"CASE WHEN size(kh) >= {window} THEN "
        f"array_distinct(transform(sequence(1, size(kh) - {window} + 1), "
        f"p -> {win_min})) "
        f"ELSE CAST(array() AS array<string>) END)[0]"
    )


def winnow_fingerprint_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document fingerprint summary (n_fingerprints, min_fp,
    max_fp) computed entirely per-row — docs with no fingerprints are
    dropped.

    Two plans this deliberately avoids: (a) explode + groupBy forces
    a SortAggregate (min/max over md5 STRINGS has no mutable hash
    buffer), sorting every fingerprint row — measured ~9× slower;
    (b) selecting three scalars from a struct column would let
    CollapseProject inline (= recompute) the whole winnowing
    expression into each output. The struct is instead pushed through
    an ``explode(array(struct))`` Generate, which is a per-row
    single-evaluation barrier the optimizer cannot collapse — no
    shuffle, no cache."""
    stats = (
        f"transform(array(({_fps_expr(text_col)})), a -> named_struct("
        "'n_fingerprints', CAST(size(a) AS BIGINT), "
        "'min_fp', array_min(a), 'max_fp', array_max(a)))[0]"
    )
    return (
        df.select(F.col(id_col), F.explode(F.array(F.expr(stats))).alias("__s"))
        .select(id_col, "__s.*")
        .filter(F.col("n_fingerprints") > 0)
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Row form of :func:`winnow_fingerprint_array` — one row per
    (id, fingerprint), for inverted-index joins (plagiarism/overlap
    pair detection)."""
    arr = winnow_fingerprint_array(df, id_col, text_col)
    return arr.select(F.col(id_col), F.explode("fps").alias("fp"))


def normalize_text(df: DataFrame, text_col: str) -> DataFrame:
    """Canonical text normalization for dedup/tokenization pipelines,
    into ``norm_text``: lowercase, non-alphanumerics → space, whitespace
    collapsed, ends trimmed. The output is the canonical form fed to
    shingling / MinHash so that case and punctuation variants dedup
    together.

    Pure codegen projection — zero shuffles, scales linearly. The
    regexes are restricted to constructs with identical semantics in
    Java regex (Spark) and RE2 (DuckDB): literal classes and ``\\s``.
    Unicode NFC folding is intentionally out of scope (no Spark
    builtin; a pandas_udf would put Python in the hot path for an
    ASCII-dominant corpus).
    """
    x = F.lower(F.col(text_col))
    x = F.regexp_replace(x, r"[^a-z0-9\s]", " ")
    x = F.trim(F.regexp_replace(x, r"\s+", " "))
    return df.withColumn("norm_text", x)


# PII patterns restricted to constructs with identical semantics in
# Java regex (Spark) and RE2 (DuckDB): character classes, bounded
# repetition, \s. No backrefs, no lookaround (RE2 has neither).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+[0-9]{7,15}", "<PHONE>"),
)


def redact_pii(df: DataFrame, text_col: str) -> DataFrame:
    """Scrub URLs, emails, and international-format phone numbers
    from a text column into ``redacted``, replacing each with a typed
    placeholder — the standard pre-training privacy pass. Match counts
    (``n_url``/``n_email``/``n_phone``, against the ORIGINAL text) are
    emitted per category so downstream can filter/audit PII-dense
    documents.

    URL runs first so an address inside a URL is consumed as one
    token. Pure codegen projection: N regex passes, zero shuffles,
    linear scan — the shape that survives 100 TB.
    """
    out = df
    for name, pat, _ in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)))
    red = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return out.withColumn("redacted", red)


def sliding_chunks(text_col: str) -> Column:
    """Overlapping sliding-window chunking — the standard prep step
    for embedding/RAG indexing and LLM context packing. Splits on
    whitespace and emits 30-word windows advancing by 25, so
    consecutive chunks share 5 words. Start positions stop at
    ``max(n_words - 5, 1)``: the tail is always covered
    and no final chunk is fully contained in its predecessor.

    Returns ``array<struct<start int, toks array<string>>>`` rather
    than pre-joined strings: the caller explodes first and derives
    ``chunk_text``/``n_tokens`` from the materialized ``toks`` column,
    so the slice is computed once per chunk (CollapseProject would
    otherwise inline the split+slice into every consuming expression).
    Pure codegen'd per-row work — no shuffle, no UDF; at 100 TB this
    runs map-side inside whatever stage consumes it.
    """
    chunk_words, overlap_words = 30, 5
    stride = chunk_words - overlap_words
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(words) - overlap_words, F.lit(1)), F.lit(stride)
    )
    return F.transform(
        starts,
        lambda s: F.struct(
            s.cast("int").alias("start"),
            F.slice(words, s, chunk_words).alias("toks"),
        ),
    )


def hashed_feature_weights(spark: SparkSession, dim: int) -> DataFrame:
    """The model-parameter table for :func:`hashed_linear_score`:
    (bucket int, weight double) for buckets 0..dim-1, with weights
    derived deterministically from md5 (no RNG — any engine replays
    them): w(b) = first-8-hex-chars(md5("w:" || b)) / 2^32 - 0.5, i.e.
    uniform in [-0.5, 0.5). In production this frame is the trained
    classifier's weight vector loaded from storage; its shape (dim
    rows, broadcast into the scoring join) is identical."""
    b = F.col("id").cast("int")
    h = F.md5(F.concat(F.lit("w:"), b.cast("string")))
    w = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(4294967296.0)
        - 0.5
    )
    return spark.range(dim).select(b.alias("bucket"), w.alias("weight"))


def hashed_linear_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    dim: int,
) -> DataFrame:
    """fastText-shape linear quality-classifier inference: hash each
    token into one of ``dim`` feature buckets (md5, deterministic),
    average the buckets' weights over the document (mean-pooled
    bag-of-words — exactly a one-layer fastText scorer), and classify
    by the margin's sign. Returns (id, n_tokens, margin, keep).

    The scale shape is what matters: the model is a ``dim``-row
    weights frame BROADCAST into the token stream (model-parameter
    scale, like the PQ codebooks), scoring is one projection + one
    per-doc aggregation — no shuffle grows with vocabulary, and the
    doc-key agg is map-side-partial. The margin is decimal-routed
    before rounding so cross-engine double summation agrees."""
    tok = _tokens(df, id_col, text_col)
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("f:"), F.col("word"))), 1, 8), 16, 10)
        .cast("long") % dim
    ).cast("int")
    scored = tok.withColumn("bucket", bucket).join(F.broadcast(weights), "bucket")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            (F.sum("weight") / F.count(F.lit(1))).cast("decimal(20,10)"), 6
        )
        .cast("double")
        .alias("margin"),
        (F.sum("weight") >= 0).alias("keep"),
    )


def hashed_doc_features(
    df: DataFrame, id_col: str, text_col: str, dim: int
) -> DataFrame:
    """Mean-pooled hashed bag-of-words features, the input both to
    :func:`hashed_linear_score` inference and to
    :func:`train_logreg_hashed`: (id, bucket, x, n_tokens) with
    x = token-count-in-bucket / doc-token-count. One token explode +
    one (id, bucket) agg; the per-doc normalizer is a window over the
    SAME id partitioning, so no second shuffle."""
    from pyspark.sql import Window

    tok = _tokens(df, id_col, text_col)
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("f:"), F.col("word"))), 1, 8), 16, 10)
        .cast("long") % dim
    ).cast("int")
    per = tok.withColumn("bucket", bucket).groupBy(id_col, "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy(id_col)
    return per.select(
        F.col(id_col),
        "bucket",
        (F.col("cnt").cast("double") / F.sum("cnt").over(w)).alias("x"),
        F.sum("cnt").over(w).alias("n_tokens"),
    )


def train_logreg_hashed(
    features: DataFrame,
    labels: DataFrame,
    id_col: str,
    dim: int,
    iters: int = 3,
    lr: float = 0.5,
) -> list[float]:
    """IN-ENGINE logistic-regression training over the hashed feature
    space — full-batch gradient descent as ``iters`` fixed
    aggregation rounds (the Lloyd's/BPE playbook: per step ONE
    doc-key agg for margins + ONE dim-key agg for the gradient; the
    ``dim``-float weight vector is the only driver state, collected
    and re-broadcast each step — model-parameter scale, never data
    scale).

        w <- w - lr/N * sum_d (sigmoid(w.x_d) - y_d) * x_d

    ``features`` = :func:`hashed_doc_features` output; ``labels`` =
    (id, y double 0/1). Docs with zero tokens carry no feature rows
    and are excluded from N — exactly the set the oracle replays.
    The feature frame is localCheckpoint'd once so the per-iteration
    plans stay flat instead of stacking ``iters`` joins deep.

    Upgrades the classifier family from inference-only plumbing
    (md5 stand-in weights) to trained weights; inference still runs
    through :func:`hashed_linear_score`'s broadcast-join shape."""
    fl = features.join(labels, id_col).localCheckpoint(eager=True)
    n_docs = fl.select(id_col).distinct().count()
    spark = features.sparkSession
    w = [0.0] * dim
    for _ in range(iters):
        wdf = spark.createDataFrame(
            list(enumerate(w)), "bucket int, weight double"
        )
        z = (
            fl.join(F.broadcast(wdf), "bucket")
            .groupBy(id_col)
            .agg(F.sum(F.col("x") * F.col("weight")).alias("z"))
        )
        err = (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))) - F.col("y"))
        grad = (
            fl.join(z, id_col)
            .groupBy("bucket")
            .agg((F.sum(err * F.col("x")) / F.lit(float(n_docs))).alias("g"))
            .collect()
        )
        for r in grad:
            w[r["bucket"]] -= lr * float(r["g"])
    return w


#: script name -> (Java regex char class, RE2/DuckDB char class).
#: Same Unicode script property, two spellings: Java wants
#: \p{IsLatin}, RE2 wants \p{Latin}. Order is the deterministic
#: dominant-script tie-break (first wins on equal counts).
SCRIPT_CLASSES: tuple[tuple[str, str, str], ...] = (
    ("latin", r"\p{IsLatin}", r"\p{Latin}"),
    ("cyrillic", r"\p{IsCyrillic}", r"\p{Cyrillic}"),
    ("han", r"\p{IsHan}", r"\p{Han}"),
    ("arabic", r"\p{IsArabic}", r"\p{Arabic}"),
    ("greek", r"\p{IsGreek}", r"\p{Greek}"),
    ("hangul", r"\p{IsHangul}", r"\p{Hangul}"),
    ("devanagari", r"\p{IsDevanagari}", r"\p{Devanagari}"),
)


def script_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Unicode-script composition per document — the writing-system
    half of language identification (the n-gram ``lang_id`` separates
    languages WITHIN a script; this separates scripts, which is the
    first routing decision a multilingual corpus pipeline makes:
    which tokenizer, which lang-id model, which quality rules).

    Appends one count column per script in :data:`SCRIPT_CLASSES`
    (codepoints of that script), ``n_chars`` (total codepoints),
    plus ``dominant_script`` — the script with the most codepoints
    ('none' when no scripted character occurs), ties to the
    SCRIPT_CLASSES order. Pure projection: ``regexp_count`` per class
    runs JVM-side in one pass over the row — zero shuffles, and
    nothing grows with corpus size. The class table carries both the
    Java spelling (used here) and the RE2 spelling so DuckDB oracles
    replay the same property."""
    out = df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars"),
        *[
            F.regexp_count(F.col(text_col), F.lit(java_re)).alias(f"n_{name}")
            for name, java_re, _ in SCRIPT_CLASSES
        ],
    )
    # argmax fold; strict '>' means the earlier SCRIPT_CLASSES entry
    # keeps the title on equal counts (deterministic tie-break)
    dom_expr = F.lit("none")
    best_expr = F.lit(0)
    for name, _, _ in SCRIPT_CLASSES:
        cnt = F.col(f"n_{name}")
        dom_expr = F.when(cnt > best_expr, F.lit(name)).otherwise(dom_expr)
        best_expr = F.when(cnt > best_expr, cnt).otherwise(best_expr)
    return out.withColumn("dominant_script", dom_expr)
