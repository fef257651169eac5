"""Round-10 OPTIMIZATION tests: the restructured operators must stay
bit-identical to their pre-optimization semantics.

Each optimization in OPTIMIZATION_r10.md that changes an operator's
internals gets a pinned equivalence test here (the oracle gate also
re-proves every registry query end-to-end)."""

from __future__ import annotations

from conftest import SF_DIR

from pyspark.sql import functions as F

from procurement_system_bigdata_spark.catalog import load_table
from procurement_system_bigdata_spark.operators import dedup
from procurement_system_bigdata_spark.plans.explain import plan_stats


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_minhash_signatures_identical_without_token_dedup(spark):
    """min() signature aggregates are duplicate-insensitive: signatures
    from the raw (duplicated) token table equal signatures from the
    distinct token table — the removed Exchange did no semantic work."""
    docs = load_table(spark, SF_DIR, "documents").limit(200)
    k = 8
    tok_dup = dedup._doc_token_hashes(docs, 1, distinct=False)
    tok_dist = dedup._doc_token_hashes(docs, 1, distinct=True)
    sig_dup = tok_dup.groupBy("doc_id").agg(*dedup._signature_aggs(k))
    sig_dist = tok_dist.groupBy("doc_id").agg(*dedup._signature_aggs(k))
    assert _rows(sig_dup, "doc_id") == _rows(sig_dist, "doc_id")


def test_minhash_signatures_plan_has_single_exchange(spark):
    """The signature path is tokenize -> ONE doc_id-keyed Exchange ->
    K-agg: the round-10 removal of the token-dedup Exchange is pinned
    (regression = a second Exchange reappearing).  Pinned as an UPPER
    bound (ADVICE r10): an engine upgrade that plans FEWER exchanges is
    not a regression; the value-equivalence test above stays the primary
    guard."""
    docs = load_table(spark, SF_DIR, "documents")
    stats = plan_stats(dedup.minhash_signatures(docs, fast_hash=True))
    assert stats["shuffles"] <= 1, (
        f"expected at most 1 Exchange (doc_id agg), got {stats['shuffles']}:\n"
        + stats["plan"][:2000]
    )


def test_minhash_pairs_unchanged_by_dedup_and_sort_removal(spark):
    """Full pair output (ids + jaccard) must match a reference pipeline
    that still dedups tokens and sorts the confirm sets — proving the
    distinct()/sort_array() removals change nothing observable."""
    docs = load_table(spark, SF_DIR, "documents").limit(300)
    from procurement_system_bigdata_spark.functions import portable as P

    got = dedup.minhash_lsh_pairs(
        docs, k=P.MINHASH_K_ORACLE, n_bands=P.MINHASH_BANDS_ORACLE
    )

    # reference: the pre-round-10 shape (distinct tokens, sorted sets)
    tok2 = (
        dedup._doc_token_hashes_both(docs, 1).distinct().localCheckpoint()
    )
    sigs = tok2.groupBy("doc_id").agg(
        *dedup._signature_aggs(P.MINHASH_K_ORACLE)
    )
    r = P.MINHASH_K_ORACLE // P.MINHASH_BANDS_ORACLE
    bands = sigs.select(
        "doc_id",
        *[
            F.concat_ws("-", *[F.col(f"m{b * r + j}") for j in range(r)]).alias(f"band{b}")
            for b in range(P.MINHASH_BANDS_ORACLE)
        ],
    )
    stacked = bands.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"band{b}").alias("key")
                    )
                    for b in range(P.MINHASH_BANDS_ORACLE)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    a, b_ = stacked.alias("a"), stacked.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    doc_sets = tok2.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("hw")).alias("hs")
    )
    sa = doc_sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sb = doc_sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    n_common = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    jac = n_common.cast("double") / (
        F.size(F.col("hs_a")) + F.size(F.col("hs_b")) - n_common
    )
    want = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.9)
    )
    assert _rows(got, "doc_a", "doc_b") == _rows(want, "doc_a", "doc_b")
