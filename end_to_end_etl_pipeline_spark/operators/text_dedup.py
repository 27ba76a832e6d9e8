"""Near-duplicate text detection: shingling, MinHash, LSH banding,
SimHash, and inverted-index n-gram Jaccard (BASELINE.json north star;
no reference counterpart — the reference dedups only by business key,
``medallion/silver/b2s_company_house.py:70``).

Design for 100 TB:

* **Never all-pairs.** Candidate generation is LSH band-bucketing
  (pairs meet only inside a band bucket) or an inverted shingle index
  (pairs meet only on a shared shingle). Both are bounded shuffles on
  short fixed-width keys; the exact-Jaccard verify runs on the small
  candidate set only.
* **Deterministic hashing.** MinHash permutations are simulated with
  one ``md5(shingle)`` split into two 32-bit ints and the K hashes
  derived as ``(h1 + k·h2) mod 2^32`` — fully deterministic,
  identical across engines (this is what lets a DuckDB
  oracle replicate the *exact* candidate set, and what makes re-runs
  reproducible on a cluster: no RNG, no partition-order dependence).
* **JVM-side only.** Every expression is a built-in Spark function
  (md5 / substring / transform / min / bit ops) — whole-stage codegen
  applies; no Python touches the data path.

Tuning: with R rows per band and B bands, P(candidate) = 1-(1-J^R)^B.
The defaults (R=4, B=4, K=16 hashes) give ~0.999 at J=0.9, ~0.50 at
J=0.55 — right for a ≥0.6 near-dup threshold with a cheap signature.
Raise K/B for recall at lower thresholds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HEX = "0123456789abcdef"


def char_shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, shingle) — all overlapping 6-character n-grams, repeats
    kept (SimHash and MinHash minima need no DISTINCT). Documents
    shorter than 6 characters produce no rows (and so never pair)."""
    n = 6
    arr = (
        f"CASE WHEN length({text_col}) >= {n} THEN "
        f"transform(sequence(1, length({text_col}) - {n} + 1), "
        f"i -> substring({text_col}, i, {n})) ELSE array() END"
    )
    return df.select(F.col(id_col), F.expr(f"explode({arr}) AS shingle"))


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, distinct: bool = False
) -> DataFrame:
    """(id, shingle) — 3-word shingles over whitespace tokens.

    ``distinct=True`` dedups each row's shingles (``array_distinct``
    before the explode, not a post-explode global shuffle), so
    ``id_col`` must identify ONE input row: duplicate (id, text) rows
    would each re-emit their shingle set. Every in-repo caller feeds
    one row per document id; dedup upstream
    (``dropDuplicates(id_col)``) before handing this operator a
    multiply-keyed frame."""
    words = f"filter(split({text_col}, ' '), w -> length(w) > 0)"
    arr = (
        f"CASE WHEN size({words}) >= 3 THEN "
        f"transform(sequence(1, size({words}) - 3 + 1), "
        f"i -> array_join(slice({words}, i, 3), ' ')) ELSE array() END"
    )
    if distinct:
        arr = f"array_distinct({arr})"
    return df.select(F.col(id_col), F.expr(f"explode({arr}) AS shingle"))


def shingle_array(
    df: DataFrame, id_col: str, text_col: str, n: int = 6
) -> DataFrame:
    """(id, shingles array<string>) — DISTINCT overlapping char
    n-grams kept in array form so downstream hashing runs as a
    per-row projection (no explode, no shuffle). Documents shorter
    than ``n`` get an empty array.

    Distinct at the source because every consumer is set-semantics:
    MinHash minima are multiset-invariant (min over duplicates ==
    min over the set — results bit-identical, oracles unchanged) and
    the exact-Jaccard verify works on distinct sets anyway. Hashing
    each distinct shingle once cuts the md5 count by the repetition
    factor (~18% on prose, unboundedly more on degenerate repetitive
    documents — the pathological doc of one repeated character costs
    O(1) hashes instead of O(len))."""
    return df.select(
        F.col(id_col),
        F.expr(
            f"CASE WHEN length({text_col}) >= {n} THEN "
            f"array_distinct(transform(sequence(1, length({text_col}) - {n} + 1), "
            f"i -> substring({text_col}, i, {n}))) ELSE "
            f"CAST(array() AS array<string>) END"
        ).alias("shingles"),
    )


_MOD = 1 << 32


def minhash_signatures_cw(
    shingles: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """MinHash with ONE md5 per shingle: split the digest into two
    32-bit ints (h1 = hex[1:8], h2 = hex[9:16]) and derive the k-th
    hash as ``(h1 + k·h2) mod 2^32`` (Kirsch–Mitzenmacher double
    hashing — a pairwise family from two base hashes, the standard
    Bloom/MinHash trick): one digest per shingle for any K.

    The base hashes are materialized as narrow columns in one
    projection *before* the aggregate (keeping the md5 evaluated once
    per shingle regardless of K — inlining K derived hashes into one
    expression tree would re-evaluate the digest per hash), then a
    single groupBy computes all K mins with map-side partial
    aggregation: the shuffle carries K longs per id."""
    hashed = shingles.select(
        F.col(id_col),
        F.expr("CAST(conv(substring(md5(shingle), 1, 8), 16, 10) AS BIGINT)").alias("__h1"),
        F.expr("CAST(conv(substring(md5(shingle), 9, 8), 16, 10) AS BIGINT)").alias("__h2"),
    )
    aggs = [
        F.min((F.col("__h1") + F.lit(k) * F.col("__h2")) % F.lit(_MOD)).alias(f"m{k}")
        for k in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_signatures_arr(
    df_with_shingles: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """(id, m0..m{K-1}) computed entirely per-row from a ``shingles``
    array — the fused fast path for signature materialization (the
    dedup STORE needs the signatures themselves, not just band
    hashes, so :func:`band_hashes_arr` doesn't cover it).

    Same Carter-Wegman arithmetic as :func:`minhash_signatures_cw`
    (values bit-identical, oracles unchanged) but with no
    shingle-level explode and no shuffle: the md5 digest is evaluated
    ONCE per shingle via the nested 1-element-transform let-binding,
    and the K minima run as array passes inside one projection. Docs
    with no shingles are dropped (same as the groupBy route, which
    gives them no signature row)."""
    hp = (
        "transform(shingles, s -> transform(array(md5(s)), d -> named_struct("
        "'h1', CAST(conv(substring(d, 1, 8), 16, 10) AS BIGINT), "
        "'h2', CAST(conv(substring(d, 9, 8), 16, 10) AS BIGINT)))[0])"
    )
    mins = ", ".join(
        f"'m{k}', array_min(transform(hp, p -> (p.h1 + {k} * p.h2) % {_MOD}))"
        for k in range(num_hashes)
    )
    sig = f"transform(array({hp}), hp -> named_struct({mins}))[0]"
    out = df_with_shingles.filter(F.expr("size(shingles) > 0")).select(
        F.col(id_col), F.expr(sig).alias("__sig")
    )
    return out.select(id_col, "__sig.*")


def band_hashes_arr(
    df_with_shingles: DataFrame, id_col: str, bands: int = 4, rows: int = 4
) -> DataFrame:
    """(id, band, band_hash) computed entirely per-row from a
    ``shingles`` array — the fused fast path for the
    shingle→MinHash→LSH chain.

    Versus the explode/groupBy route (:func:`minhash_signatures_cw` +
    :func:`lsh_bands`), this never materializes one row per shingle
    and never shuffles at shingle granularity: the md5 digest per
    shingle is evaluated ONCE (nested 1-element-transform let-binding
    — CollapseProject would otherwise inline it per derived hash),
    the B×R Carter-Wegman minima run as array passes inside one
    expression, and only the B ``(id, band, band_hash)`` rows ever
    leave the projection. Values are bit-identical to the explode
    route, so the DuckDB oracles are unchanged.

    Docs with no shingles emit no band rows (same as the groupBy
    route, where they have no signature row)."""
    hp = (
        "transform(shingles, s -> transform(array(md5(s)), d -> named_struct("
        "'h1', CAST(conv(substring(d, 1, 8), 16, 10) AS BIGINT), "
        "'h2', CAST(conv(substring(d, 9, 8), 16, 10) AS BIGINT)))[0])"
    )
    band_strs = ", ".join(
        "md5(concat_ws('_', "
        + ", ".join(
            f"CAST(array_min(transform(hp, p -> (p.h1 + {b * rows + r} * p.h2) % {_MOD})) AS STRING)"
            for r in range(rows)
        )
        + "))"
        for b in range(bands)
    )
    bands_expr = (
        f"transform(array({hp}), hp -> CASE WHEN size(hp) = 0 "
        f"THEN CAST(array() AS array<string>) "
        f"ELSE array({band_strs}) END)[0]"
    )
    return df_with_shingles.select(
        F.col(id_col),
        F.posexplode(F.expr(bands_expr)).alias("band", "band_hash"),
    )


def band_stack_expr(bands: int, rows: int) -> str:
    """THE band-hash expression — md5 of the band's ``_``-joined
    minhash components, unpivoted via stack. Single source of truth:
    stored band rows, bucketed-mode pmod routing, and probe-side band
    derivation must all stay byte-identical or collision detection
    silently desynchronizes (missed duplicates, no error)."""
    parts = []
    for b in range(bands):
        cols = ", ".join(f"m{b * rows + r}" for r in range(rows))
        parts.append(f"{b}, md5(concat_ws('_', {cols}))")
    return f"stack({bands}, {', '.join(parts)}) AS (band, band_hash)"


def lsh_bands(
    signatures: DataFrame, id_col: str, bands: int = 4, rows: int = 4,
    carry=(),
) -> DataFrame:
    """Unpivot a signature into (id, band, band_hash): band_hash is
    md5 of that band's ``_``-joined minhashes (separator keeps numeric
    minhashes unambiguous). Docs agreeing on ALL rows of any band
    share a (band, band_hash) bucket. ``carry``: extra Columns
    projected alongside (e.g. the signature array itself), so callers
    never re-state the band expression to add a column."""
    return signatures.select(
        F.col(id_col), F.expr(band_stack_expr(bands, rows)), *carry
    )


def lsh_candidate_pairs(bands_df: DataFrame, id_col: str) -> DataFrame:
    """Self-join band buckets → distinct (id_a < id_b) candidate
    pairs. The shuffle key is (band, band_hash) — bucket sizes are the
    skew lever: a degenerate bucket (e.g. empty-text docs) should be
    filtered upstream."""
    a = bands_df.select(
        F.col("band"), F.col("band_hash"), F.col(id_col).alias("id_a")
    )
    b = bands_df.select(
        F.col("band"), F.col("band_hash"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_broadcast_pairs: int = 1_000_000,
) -> DataFrame:
    """6-char shingle → MinHash → LSH band-bucket → exact-Jaccard
    verify. Returns (id_a, id_b, jaccard) with jaccard ≥ 0.6, id_a <
    id_b. Never materializes the all-pairs space: candidate bands are
    computed per-row (:func:`band_hashes_arr` — no shingle-level
    explode or shuffle), and the exact-Jaccard pass is
    ``array_intersect`` over the candidate docs' distinct-shingle
    arrays — broadcast hash joins when the candidate set is small.

    The broadcast is size-guarded: the candidate count is known for
    free (the persisted frame must materialize anyway), and above
    ``max_broadcast_pairs`` the verify legs switch to shuffle hash
    joins keyed on id. A dup-heavy corpus — the exact input a dedup
    pass exists for — can make the candidate set arbitrarily large,
    and an unconditional broadcast would OOM the driver there."""
    rows = num_hashes // bands
    sarr = shingle_array(df, id_col, text_col)
    # candidates are consumed by three joins below — persist them
    # (candidate-scale, small by the LSH promise) so the fused
    # shingle+band pipeline runs once, not once per consuming branch.
    cand = lsh_candidate_pairs(band_hashes_arr(sarr, id_col, bands, rows), id_col).persist()
    # the count is the broadcast size-guard AND the cache materializer
    n_cand = cand.count()
    small = n_cand <= max_broadcast_pairs
    maybe_bc = F.broadcast if small else (lambda d: d)
    docs_in_pairs = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # exact-verify pass re-shingles only candidate docs; the shingle
    # re-projection is cheap (no hashing) so no persist is needed
    # shingle_array already emits distinct shingles, so the array IS
    # the shingle set — no consumer-side array_distinct pass needed
    sets_ = sarr.join(maybe_bc(docs_in_pairs), id_col, "left_semi").select(
        F.col(id_col), F.col("shingles").alias("sset")
    )
    jac = (
        maybe_bc(cand)
        .join(sets_.select(F.col(id_col).alias("id_a"), F.col("sset").alias("set_a")), "id_a")
        .join(sets_.select(F.col(id_col).alias("id_b"), F.col("sset").alias("set_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("set_a", "set_b")).alias("__ci"),
            F.size("set_a").alias("__na"),
            F.size("set_b").alias("__nb"),
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("__ci").cast("double")
                / (F.col("__na") + F.col("__nb") - F.col("__ci"))
            ).alias("jaccard"),
        )
    )
    out = jac.filter(F.col("jaccard") >= 0.6)
    # materialize the (tiny, verified-pairs) result so the persisted
    # candidate frame can be released NOW — returning the lazy plan
    # would leak the cached candidates for the application lifetime,
    # since the caller holds no handle to unpersist them
    out = out.localCheckpoint(eager=True)
    cand.unpersist()
    return out


# -- SimHash ------------------------------------------------------------


def simhash64(shingles: DataFrame, id_col: str) -> DataFrame:
    """64-bit SimHash per id from shingle md5s, as two unsigned 32-bit
    halves ``sim_lo`` (bits 0–31) / ``sim_hi`` (bits 32–63) stored in
    BIGINTs.

    Bit i (= 4·j + b, hex digit j, bit b) is set iff at least half the
    shingles have that bit set in ``md5(shingle)``. All 64 bit-sums
    are partial-aggregated map-side in one pass — the shuffle carries
    64 longs + a count per id.

    The two-halves representation is deliberate: a single 64-bit value
    would need weight 2^63, whose signed-overflow behavior differs
    across engines (Spark wraps, DuckDB raises) — halves keep every
    intermediate inside non-negative BIGINT range on both, so the
    DuckDB oracle replicates values exactly."""
    digit = [
        f"(instr('{HEX}', substring(md5(shingle), {j + 1}, 1)) - 1)" for j in range(16)
    ]
    aggs = [
        F.sum(F.expr(f"({digit[j]} div {1 << b}) % 2")).alias(f"s_{j}_{b}")
        for j in range(16)
        for b in range(4)
    ]
    sums = shingles.groupBy(id_col).agg(*aggs, F.count("*").alias("n"))

    def _half(j_range) -> str:
        return " + ".join(
            f"(CASE WHEN 2 * s_{j}_{b} >= n THEN CAST({1 << ((4 * j + b) % 32)} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for j in j_range
            for b in range(4)
        )

    return sums.select(
        F.col(id_col),
        F.expr(f"{_half(range(8))} AS sim_lo"),
        F.expr(f"{_half(range(8, 16))} AS sim_hi"),
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """SimHash near-dup over 6-char shingles: candidates share at least one of the 4
    16-bit bands of their 64-bit simhash, verified by exact hamming
    distance. 4-band blocking guarantees recall for hamming ≤ 3
    (pigeonhole: 3 flipped bits can't touch all 4 bands); beyond that
    it's the standard heuristic blocking — add rotated tables for
    guarantees at higher radii. Returns (id_a, id_b, hamming) with
    hamming ≤ 6 among band-sharing pairs.

    Scale note: 16-bit bands give 4×65536 buckets (vs 4×256 for the
    old 32-bit/byte-band scheme) — expected bucket occupancy drops
    256×, which is what keeps the within-bucket self-join from going
    quadratic on a billion-doc corpus."""
    sh = char_shingles(df, id_col, text_col)
    sims = simhash64(sh, id_col)
    bands_df = sims.select(
        F.col(id_col),
        "sim_lo",
        "sim_hi",
        F.expr(
            "explode(array("
            "struct(0 AS band, sim_lo % 65536 AS bv), "
            "struct(1 AS band, sim_lo div 65536 AS bv), "
            "struct(2 AS band, sim_hi % 65536 AS bv), "
            "struct(3 AS band, sim_hi div 65536 AS bv)))"
        ).alias("bb"),
    ).select(id_col, "sim_lo", "sim_hi", "bb.band", "bb.bv")
    a = bands_df.select(
        "band",
        "bv",
        F.col(id_col).alias("id_a"),
        F.col("sim_lo").alias("lo_a"),
        F.col("sim_hi").alias("hi_a"),
    )
    b = bands_df.select(
        "band",
        "bv",
        F.col(id_col).alias("id_b"),
        F.col("sim_lo").alias("lo_b"),
        F.col("sim_hi").alias("hi_b"),
    )
    pairs = (
        a.join(b, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "lo_a", "hi_a", "lo_b", "hi_b")
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming",
            F.expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)").cast("int"),
        )
        .filter(F.col("hamming") <= 6)
        .select("id_a", "id_b", "hamming")
    )


def dedup_lines_global(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Corpus-wide line-level exact dedup with document reconstruction
    (the C4 `remove duplicate lines` / RefinedWeb line-dedup step —
    boilerplate nav bars, cookie banners, and licence footers repeat
    across millions of pages; dropping repeats beats dropping docs).

    A line occurrence survives only at its FIRST occurrence in corpus
    order (lowest ``(id, line_pos)``) — every later occurrence of the
    same normalized line (lower + trim) anywhere in the corpus is
    removed. Documents are reassembled from their surviving lines in
    original order. Blank lines (empty once normalized) are exempt:
    they never match anything and are always kept.

    Returns (id, text, n_lines, n_lines_kept) — ``text`` rebuilt with
    newlines; a doc that loses every line is kept as ''.

    Plan shape (the 100 TB design):

    * one ``posexplode`` projection (no shuffle);
    * ONE agg shuffle on the normalized line hash with
      ``min_by(row, (id, pos))`` — map-side partial agg means a
      boilerplate line occurring 10^9 times still contributes one
      candidate row per map task, so hot lines cannot skew a
      partition (a window over the hash would funnel every
      occurrence of the hottest line into one task);
    * exempt lines bypass the agg entirely (union);
    * one re-agg shuffle on ``id`` to rebuild documents.

    Two shuffles total — the floor for "global first-wins + per-doc
    reassembly" (duplicates must meet once; a doc's lines must meet
    once)."""
    # F.split takes a REGEX pattern: the newline, escaped
    sep, pat = "\n", "\\\n"
    row_w = F.struct(F.col("__id").alias("id"), F.col("__pos").alias("pos"))
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.size(F.split(F.col(text_col), pat, -1)).alias("__n_lines"),
        F.posexplode(F.split(F.col(text_col), pat, -1)).alias(
            "__pos", "__line"
        ),
    ).withColumn("__norm", F.lower(F.trim(F.col("__line"))))
    eligible = F.length("__norm") >= 1
    payload = F.struct(
        F.col("__id").alias("id"),
        F.col("__pos").alias("pos"),
        F.col("__line").alias("line"),
        F.col("__n_lines").alias("n_lines"),
    )
    winners = (
        lines.filter(eligible)
        .groupBy(F.md5(F.col("__norm")).alias("__k"))
        .agg(F.min_by(payload, row_w).alias("__r"))
        .select("__r.id", "__r.pos", "__r.line", "__r.n_lines")
    )
    kept = winners.unionByName(
        lines.filter(~eligible).select(
            F.col("__id").alias("id"),
            F.col("__pos").alias("pos"),
            F.col("__line").alias("line"),
            F.col("__n_lines").alias("n_lines"),
        )
    )
    docs = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda s: s["line"],
            ),
            sep,
        ).alias("text"),
        F.first("n_lines").alias("n_lines"),
        F.count("*").alias("n_lines_kept"),
    )
    # a doc whose every line lost re-enters with text='' via the
    # original frame (its id has no surviving row at all); the rejoin
    # scans only (id, text-length) — column-pruned, no payload
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), pat, -1)).alias("__nl"),
    )
    out = (
        base.join(docs, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            F.coalesce(F.col("n_lines"), F.col("__nl")).alias("n_lines"),
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).alias("n_lines_kept"),
        )
    )
    return out


def dedup_lines_within_doc(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """WITHIN-document line-level exact dedup (the Gopher/RefinedWeb
    `remove duplicated lines within document` repetition rule — the
    local complement of :func:`dedup_lines_global`): a line survives
    only at its FIRST occurrence inside its own document; later
    repeats of the same normalized line (lower + trim) in that
    document are removed. Blank lines are exempt (they never match).

    Returns (id, text, n_lines, n_lines_kept), same contract as the
    global variant.

    Plan shape — the reason this is a separate operator rather than a
    keyed call of the global one: the decision needs NO cross-row
    information, so the whole thing is ONE projection — zero
    shuffles, zero aggregations, scan speed at any corpus size. The
    first-occurrence scan is ``array_position`` over the line's
    prefix (O(n_lines²) comparisons per document — documents have
    hundreds of lines, so the quadratic is row-local and bounded;
    corpora have billions of documents, which is the axis that must
    not shuffle).

    Implementation note: everything is computed inside ONE struct
    expression and field-extracted, not as sibling select columns.
    Sibling columns sharing nested-lambda subtrees (the filtered
    array in both ``array_join`` and ``size``) trip a codegen
    subexpression-elimination fault in Spark 4.1 — a lambda subtree
    gets deduped across contexts and ``element_at`` indexes the
    wrong (already-filtered) array. Three references to the SAME
    whole struct dedup as identical wholes, which is safe."""
    sep, pat = "\n", "\\\n"
    lines = F.split(F.col(text_col), pat, -1)

    def _inner(ls):
        nm = F.transform(ls, lambda l: F.lower(F.trim(l)))

        # keep(i): exempt (too short) OR no earlier occurrence
        def cond(i):
            return (F.length(F.element_at(nm, i)) < 1) | (
                F.array_position(F.slice(nm, 1, i - 1), F.element_at(nm, i)) == 0
            )

        marked = F.transform(
            F.sequence(F.lit(1), F.size(ls)),
            lambda i: F.when(cond(i), F.element_at(ls, i)),
        )
        kept = F.filter(marked, lambda x: x.isNotNull())
        return F.struct(
            F.array_join(kept, sep).alias("text"),
            F.size(ls).alias("n_lines"),
            F.size(kept).cast("bigint").alias("n_lines_kept"),
        )

    p = F.element_at(F.transform(F.array(lines), _inner), 1)
    return df.select(
        F.col(id_col),
        p["text"].alias("text"),
        p["n_lines"].alias("n_lines"),
        p["n_lines_kept"].alias("n_lines_kept"),
    )
