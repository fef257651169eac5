"""Train/test decontamination: n-gram collision between corpus and benchmark.

The standard LLM-pipeline hygiene step (GPT-2/GPT-3-style 13-gram
decontamination): a training document is contaminated if it shares at least
one (configurable) normalized n-gram with any document in a held-out
benchmark/eval set; contaminated docs are dropped or flagged before
training.

Scale shape (the part that matters at 100 TB): the benchmark side is tiny —
thousands of eval documents against billions of training docs — so its
distinct-gram set is BROADCAST and the corpus-side explode never shuffles;
per-doc gram sets are `array_distinct` before explode so a gram repeated
inside one document contributes one row; the only shuffle is the final
(doc_id, bench_id) overlap count, bounded by actual collisions.  Grams join
on md5(gram) (deterministic in both engines) so shuffle/broadcast rows
carry 32-byte keys instead of raw 13-word strings.

Parity model: no decontamination exists in the reference (SURVEY §2 EXT) —
this is the training-data extension surface, oracle-mirrored in DuckDB.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import portable as P

# Registry/oracle dial: the synthetic corpus has a 31-word vocabulary, so
# 13-grams (the production default) almost never collide across the
# benchmark carve-out — 3-grams give a few thousand deterministic hits,
# exercising the join/count path with real volume.  Production calls pass
# n=13 explicitly (decontaminate's own default).
DECONTAM_NGRAM = 3
DECONTAM_BENCH_MOD = 7


def _gram_hashes(df: DataFrame, id_col: str, out_id: str, n: int) -> DataFrame:
    words = P.spark_words(P.spark_norm_text(F.col("text")))
    return df.select(
        F.col(id_col).cast("long").alias(out_id),
        F.explode(F.array_distinct(P.spark_word_shingles(words, n))).alias("g"),
    ).select(out_id, F.md5(F.col("g")).alias("gh"))


def decontaminate(
    corpus: DataFrame,
    benchmarks: DataFrame,
    n: int = 13,
    min_overlap: int = 1,
) -> DataFrame:
    """(doc_id, bench_id, n_overlap, bench_grams, contamination) for every
    corpus document sharing >= ``min_overlap`` distinct normalized n-grams
    with a benchmark document.  ``contamination`` is the fraction of the
    benchmark's distinct grams found in the doc (1.0 = the doc contains the
    whole benchmark item, the canonical drop signal).

    Inputs: corpus (doc_id, text), benchmarks (bench_id OR doc_id, text).
    """
    bid = "bench_id" if "bench_id" in benchmarks.columns else "doc_id"
    doc_g = _gram_hashes(corpus, "doc_id", "doc_id", n)
    # benchmark-sized checkpoint: bench_g feeds the collision join AND the
    # per-benchmark gram sizes — unchecked, the second reference re-scans
    # and re-shingles the benchmark side (scan audit: 3 text scans; floor
    # is 2, one per side)
    bench_g = _gram_hashes(benchmarks, bid, "bench_id", n).localCheckpoint()
    bench_sizes = bench_g.groupBy("bench_id").agg(
        F.count(F.lit(1)).alias("bench_grams")
    )
    hits = (
        doc_g.join(F.broadcast(bench_g), "gh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )
    return hits.join(F.broadcast(bench_sizes), "bench_id").select(
        "doc_id",
        "bench_id",
        "n_overlap",
        "bench_grams",
        (
            F.col("n_overlap").cast("double") / F.col("bench_grams")
        ).alias("contamination"),
    )


def decontaminate_sql(
    table: str = "documents",
    n: int = DECONTAM_NGRAM,
    min_overlap: int = 1,
    bench_mod: int = DECONTAM_BENCH_MOD,
) -> str:
    """DuckDB mirror of the registry query: benchmark = docs with
    doc_id %% bench_mod == 0, corpus = the rest."""
    norm = P.duck_norm_text("text")
    shingles = P.duck_word_shingles("ws", n)
    return f"""
    WITH corpus AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id, {norm} AS nt
        FROM {table} WHERE doc_id % {bench_mod} <> 0
    ),
    bench AS (
        SELECT CAST(doc_id AS BIGINT) AS bench_id, {norm} AS nt
        FROM {table} WHERE doc_id % {bench_mod} = 0
    ),
    corpus_w AS (SELECT doc_id, {P.duck_words('nt')} AS ws FROM corpus),
    bench_w AS (SELECT bench_id, {P.duck_words('nt')} AS ws FROM bench),
    doc_g AS (
        SELECT doc_id, md5(g) AS gh
        FROM (SELECT doc_id, unnest(list_distinct({shingles})) AS g FROM corpus_w)
    ),
    bench_g AS (
        SELECT bench_id, md5(g) AS gh
        FROM (SELECT bench_id, unnest(list_distinct({shingles})) AS g FROM bench_w)
    ),
    bench_sizes AS (
        SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS bench_grams
        FROM bench_g GROUP BY bench_id
    ),
    hits AS (
        SELECT doc_id, bench_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM doc_g JOIN bench_g USING (gh)
        GROUP BY doc_id, bench_id
        HAVING COUNT(*) >= {min_overlap}
    )
    SELECT h.doc_id, h.bench_id, h.n_overlap, s.bench_grams,
           CAST(h.n_overlap AS DOUBLE) / s.bench_grams AS contamination
    FROM hits h JOIN bench_sizes s USING (bench_id)
    """


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (constant-size membership state).
#
# The exact path above broadcasts the benchmark's distinct-gram set; when
# the eval suite grows to billions of grams (multi-benchmark union, 13-gram
# windows over whole eval corpora) that broadcast is the bottleneck.  The
# standard production fix is a Bloom filter: an m-bit bitmap with
# k = BLOOM_K positions per gram (Kirsch-Mitzenmacher double hashing —
# pos_i = (h1 + i*h2) mod m needs only two base hashes per key), built once
# over the benchmark side and broadcast everywhere; a corpus gram is
# "possibly contaminated" iff ALL k of its positions are set.  False
# positives at rate ~(1 - e^{-kB/m})^k are the accepted price (they only
# over-flag, never under-flag — safe for decontamination); false negatives
# are impossible.  Bitmaps from per-benchmark shards merge by OR, so the
# filter builds map-side and unions like any sketch.
#
# h1 and h2 are INDEPENDENT hashes of the gram, per the K-M paper's
# standing assumption.  Two earlier shortcuts failed it: h2 = f(h1)
# (trivially dependent), and h2 = hash(salt || g) with the SAME polynomial
# fold — which looks independent but is affine in (h1, len(g)):
# h(salt||g) = s0·31^len + (h(g) − seed·31^len) mod P, so equal-length
# grams colliding on h1 always collided on h2 and shared their entire
# k-position set (round-5 review).  h2 is now a genuinely different fold
# (multiplier 131, functions/portable.spark_str_hash2); the fast_hash dial
# keeps salted xxhash64, which is not a polynomial and has no such affine
# structure.  (Historical measurement of the dependent variants showed no
# FP inflation at this m — 0.0146 vs 0.0162 per doc — but the formula's
# derivation requires the assumption, so the code now satisfies it.)
#
# Harness representation: the filter IS the relation of set bit positions
# (exact same membership semantics as the packed bitmap, including real
# false positives), so both engines compute it in pure SQL and the oracle
# hash-checks actual Bloom behavior.  At 100 TB you'd pack these positions
# into a byte-array bitmap (m bits = m/8 bytes; 1.2 GB for 1e10 bits) and
# broadcast that instead of a join relation; the positions, and therefore
# every flag decision, are identical.
#
# All arithmetic is BIGINT-safe: h < 2^31, h2 <= m, i < k, so
# h + i*h2 < 2^31 + k*m << 2^63 in both engines.
# ---------------------------------------------------------------------------

BLOOM_M_BITS = 1 << 15
BLOOM_K = 4
_BLOOM_STRIDE_SALT = "bl2|"

#: auto-sizing target for m_bits=None (round-8): the sf1 hash-truth probe
#: showed the FIXED m saturating at 30k inserted grams (theoretical FP
#: 0.90) — correct oracle behavior, wrong production shape.  A real
#: benchmark set's size isn't known at code-authoring time, so production
#: sizes the filter from the measured insert count.
BLOOM_TARGET_FP = 0.01


def bloom_m_for(n_items: int, target_fp: float = BLOOM_TARGET_FP, k_hashes: int = BLOOM_K) -> int:
    """Smallest power-of-two m with (1 - e^{-k n / m})^k <= target_fp.

    Inverts the standard Bloom FP formula (validated against a measured
    false-positive rate to 4 decimals at sf1): m >= -k n /
    ln(1 - p^(1/k)).  Power-of-two so the modulus stays cheap and sizes
    are stable across small n drifts."""
    import math

    if n_items <= 0:
        return BLOOM_M_BITS
    m = -k_hashes * n_items / math.log(1.0 - target_fp ** (1.0 / k_hashes))
    return 1 << max(15, math.ceil(math.log2(m)))


def _bloom_positions(h, hs, m: int, k: int):
    """Spark: array of the k bit positions from the two independent base
    hashes ``h`` (offset) and ``hs`` (stride)."""
    h2 = (hs % F.lit(m - 1)) + 1
    return F.array(*[(h + F.lit(i) * h2) % F.lit(m) for i in range(k)])


def _duck_bloom_positions(h: str, hs: str, m: int, k: int) -> str:
    return (
        f"list_transform(range(0, {k}), i -> "
        f"(({h}) + i * ((({hs}) % {m - 1}) + 1)) % {m})"
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmarks: DataFrame,
    n: int = 13,
    m_bits: int | None = BLOOM_M_BITS,
    k_hashes: int = BLOOM_K,
    fast_hash: bool = False,
    target_fp: float = BLOOM_TARGET_FP,
) -> DataFrame:
    """(doc_id, n_grams, n_flagged, flagged) for EVERY corpus document:
    ``n_flagged`` counts the doc's distinct normalized n-grams whose k Bloom
    positions are all set in the filter built from the benchmark side;
    ``flagged`` (>= 1 hit) marks the doc for drop/review.  Superset-of-exact
    guarantee: every doc the exact :func:`decontaminate` reports is flagged
    here (no false negatives); the excess is the measured FP rate.

    ``fast_hash=True`` swaps the portable polynomial hashes for xxhash64
    (JVM-native, no per-character fold) — the production dial, same as
    minhash's; the oracle-mirrored registry query keeps the portable pair.

    ``m_bits=None`` (round-8 production dial) sizes the filter from the
    MEASURED distinct benchmark gram count via :func:`bloom_m_for` —
    the sf1 hash-truth probe showed the fixed default saturating at 30k
    inserted grams (theoretical FP 0.90).  Costs one count() over the
    bench gram set (the small side by construction); the oracle-mirrored
    registry query keeps the fixed deterministic m.

    Scale shape: ONE aggregation builds the filter (distinct positions of
    the benchmark grams — in production a packed m-bit bitmap, see module
    note), broadcast to the corpus scan; corpus grams explode to k position
    rows, match map-side, and the only shuffles are the per-doc counts,
    keyed on doc_id like every other per-doc scorer.
    """
    if m_bits is None:
        bench_words = P.spark_words(P.spark_norm_text(F.col("text")))
        n_ins = (
            benchmarks.select(
                F.explode(
                    F.array_distinct(P.spark_word_shingles(bench_words, n))
                ).alias("g")
            )
            .distinct()
            .count()
        )
        m_bits = bloom_m_for(n_ins, target_fp, k_hashes)
    if fast_hash:
        h_expr = F.pmod(F.xxhash64(F.col("g")), F.lit(P.HASH_P))
        hs_expr = F.pmod(
            F.xxhash64(F.lit(_BLOOM_STRIDE_SALT), F.col("g")), F.lit(P.HASH_P)
        )
    else:
        # the stride hash is a DIFFERENT polynomial fold (multiplier 131),
        # not a salted prefix of the 31-fold: the salted form is affine in
        # (h, len) so equal-length h-collisions always collided on it too,
        # voiding the K-M independence assumption (round-5 review)
        h_expr = P.spark_str_hash(F.col("g"))
        hs_expr = P.spark_str_hash2(F.col("g"))
    words = P.spark_words(P.spark_norm_text(F.col("text")))
    # gram-hash-width checkpoint: doc_g feeds the position probe AND the
    # per-doc gram counts — unchecked, the second reference re-scans and
    # re-shingles the whole corpus (scan audit: 3 text scans); the
    # materialized rows are 3 BIGINTs per distinct gram, the same bytes its
    # own distinct() shuffle already wrote
    doc_g = (
        corpus.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(F.array_distinct(P.spark_word_shingles(words, n))).alias("g"),
        )
        .select("doc_id", h_expr.alias("h"), hs_expr.alias("hs"))
        .distinct()
        .localCheckpoint()
    )
    bench_words = P.spark_words(P.spark_norm_text(F.col("text")))
    bits = (
        benchmarks.select(
            F.explode(F.array_distinct(P.spark_word_shingles(bench_words, n))).alias("g")
        )
        # bind h/hs to COLUMNS before the position array references them k
        # times each: F.aggregate is CodegenFallback with no CSE, so the
        # inlined form re-folded every bench gram 2k times (round-5 review)
        .select(h_expr.alias("h"), hs_expr.alias("hs"))
        .select(
            F.explode(
                _bloom_positions(F.col("h"), F.col("hs"), m_bits, k_hashes)
            ).alias("bit")
        )
        .distinct()
    )
    probe = doc_g.select(
        "doc_id",
        "h",
        "hs",
        F.explode(
            _bloom_positions(F.col("h"), F.col("hs"), m_bits, k_hashes)
        ).alias("bit"),
    )
    # group by the FULL gram identity (h, hs): grouping on h alone merged
    # distinct grams whose base hashes collide within one doc, so their
    # combined matched-row count could never equal k_hashes and truly
    # contaminated docs escaped flagging — a false NEGATIVE, violating the
    # Bloom superset guarantee (round-5 review, verified by simulation)
    gram_hits = (
        probe.join(F.broadcast(bits), "bit")
        .groupBy("doc_id", "h", "hs")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == k_hashes)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )
    per_doc = corpus.select(
        F.col("doc_id").cast("long").alias("doc_id")
    ).join(
        doc_g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams")),
        "doc_id",
        "left",
    )
    return per_doc.join(gram_hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0).cast("long")).alias("n_grams"),
        F.coalesce(F.col("n_flagged"), F.lit(0).cast("long")).alias("n_flagged"),
        (F.coalesce(F.col("n_flagged"), F.lit(0).cast("long")) >= 1).alias("flagged"),
    )


def bloom_decontaminate_sql(
    table: str = "documents",
    n: int = DECONTAM_NGRAM,
    m_bits: int = BLOOM_M_BITS,
    k_hashes: int = BLOOM_K,
    bench_mod: int = DECONTAM_BENCH_MOD,
) -> str:
    """DuckDB mirror of the registry query: benchmark = docs with
    doc_id %% bench_mod == 0, corpus = the rest (same carve-out as the
    exact ``decontamination`` query, so Bloom-vs-exact is comparable)."""
    norm = P.duck_norm_text("text")
    shingles = P.duck_word_shingles("ws", n)
    h = P.duck_str_hash("g")
    hs = P.duck_str_hash2("g")
    return f"""
    WITH corpus AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id, {norm} AS nt
        FROM {table} WHERE doc_id % {bench_mod} <> 0
    ),
    bench AS (
        SELECT {norm} AS nt FROM {table} WHERE doc_id % {bench_mod} = 0
    ),
    doc_g AS (
        SELECT DISTINCT doc_id, {h} AS h, {hs} AS hs
        FROM (SELECT doc_id, unnest(list_distinct({shingles})) AS g
              FROM (SELECT doc_id, {P.duck_words('nt')} AS ws FROM corpus))
    ),
    bits AS (
        SELECT DISTINCT unnest({_duck_bloom_positions(h, hs, m_bits, k_hashes)}) AS bit
        FROM (SELECT DISTINCT g FROM
              (SELECT unnest(list_distinct({shingles})) AS g
               FROM (SELECT {P.duck_words('nt')} AS ws FROM bench)))
    ),
    probe AS (
        SELECT doc_id, h, hs, unnest({_duck_bloom_positions('h', 'hs', m_bits, k_hashes)}) AS bit
        FROM doc_g
    ),
    gram_hits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged FROM (
            SELECT doc_id, h, hs
            FROM probe JOIN bits USING (bit)
            GROUP BY doc_id, h, hs
            HAVING COUNT(*) = {k_hashes}
        ) GROUP BY doc_id
    ),
    n_grams AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM doc_g GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(COALESCE(g.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(f.n_flagged, 0) AS BIGINT) AS n_flagged,
           COALESCE(f.n_flagged, 0) >= 1 AS flagged
    FROM corpus c
    LEFT JOIN n_grams g USING (doc_id)
    LEFT JOIN gram_hits f USING (doc_id)
    """


def source_contamination_report(
    corpus: DataFrame,
    benchmarks: DataFrame,
    n: int = 13,
    min_overlap: int = 1,
) -> DataFrame:
    """(source, n_docs, n_contaminated, contamination_rate): the
    per-source roll-up of the exact n-gram decontaminator — the governance
    table a pipeline publishes per release ("which upstream feeds leak eval
    data, and how badly").  One extra source-keyed aggregation over the
    doc-level flags; the rate is an exact BIGINT ratio (one
    correctly-rounded division, bit-identical cross-engine)."""
    flagged = (
        decontaminate(corpus, benchmarks, n=n, min_overlap=min_overlap)
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1).cast("long"))
    )
    per_source = (
        corpus.select(F.col("doc_id").cast("long").alias("doc_id"), "source")
        .join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("hit"), F.lit(0).cast("long")).alias(
                "n_contaminated"
            ),
        )
    )
    return per_source.select(
        "source",
        "n_docs",
        "n_contaminated",
        (
            F.col("n_contaminated").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("contamination_rate"),
    )


def source_contamination_report_sql(
    table: str = "documents",
    n: int = DECONTAM_NGRAM,
    min_overlap: int = 1,
    bench_mod: int = DECONTAM_BENCH_MOD,
) -> str:
    return f"""
    WITH contaminated AS (
        SELECT DISTINCT doc_id FROM ({decontaminate_sql(table, n, min_overlap, bench_mod)})
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS contamination_rate
    FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, source FROM {table}
          WHERE doc_id % {bench_mod} <> 0) d
    LEFT JOIN contaminated c USING (doc_id)
    GROUP BY d.source
    """
