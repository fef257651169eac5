"""Round-7 advisor fixes (VERDICT r06 ADVICE.md):

1. ``components_certificate`` drives the report from ``nodes`` — a labeling
   that silently drops a node now yields an all-FALSE row for it WITHIN
   Spark, instead of an absent row only the DuckDB mirror would notice.
2. ``cluster_safe_split_audit`` symmetrizes the edge list before the
   leakage recheck, so BOTH endpoints of a straddling pair are flagged.
3. The BPE bounded oracles are TOTAL on degenerate corpora where no pair
   reaches min_freq: ``bpe_fertility_audit_sql`` emits ('','') first-merge
   columns (matching Spark's empty-merges convention) and
   ``Q_BPE_MERGES_SQL`` emits the same one-row all-NULL summary Spark's
   global aggregate produces — previously both oracles returned zero rows.
"""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from procurement_system_bigdata_spark.operators import bpe, clustering
from procurement_system_bigdata_spark.queries import llmdata
from tests.conftest import assert_matches_oracle


# --- certificate coverage (ADVICE #1) --------------------------------------


@pytest.fixture(scope="module")
def tiny_graph(spark):
    nodes = spark.createDataFrame([(1,), (2,), (3,), (4,)], "node long")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    labels = clustering.connected_components(
        nodes, edges, with_hops=True
    ).localCheckpoint()
    return nodes, edges, labels


def test_certificate_all_true_on_complete_labels(spark, tiny_graph):
    nodes, edges, labels = tiny_graph
    cert = clustering.components_certificate(nodes, edges, labels)
    rows = {r.node: r for r in cert.collect()}
    assert set(rows) == {1, 2, 3, 4}
    for r in rows.values():
        assert r.label_le_ok and r.root_ok and r.witness_ok
        assert r.edges_within_ok


def test_certificate_flags_dropped_isolate(spark, tiny_graph):
    nodes, edges, labels = tiny_graph
    dropped = labels.filter(F.col("node") != 4)
    cert = clustering.components_certificate(nodes, edges, dropped)
    rows = {r.node: r for r in cert.collect()}
    assert set(rows) == {1, 2, 3, 4}, "dropped node must still get a row"
    r4 = rows[4]
    assert not (r4.label_le_ok or r4.root_ok or r4.witness_ok)
    assert not r4.edges_within_ok
    for n in (1, 2, 3):  # untouched nodes keep their proof
        assert rows[n].label_le_ok and rows[n].root_ok and rows[n].witness_ok


def test_certificate_flags_dropped_connected_node(spark, tiny_graph):
    nodes, edges, labels = tiny_graph
    cert = clustering.components_certificate(
        nodes, edges, labels.filter(F.col("node") != 2)
    )
    r2 = {r.node: r for r in cert.collect()}[2]
    assert not (r2.label_le_ok or r2.root_ok or r2.witness_ok)
    assert not r2.edges_within_ok
    assert r2.degree == 2  # degree still comes from the real edge set


# --- split-leakage symmetry (ADVICE #3) -------------------------------------


def test_leaky_endpoints_flags_both_sides(spark):
    edges = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    splits = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "val"), (4, "val")],
        "doc_id long, split string",
    )
    flagged = {
        r.doc_id for r in clustering.leaky_endpoints(edges, splits).collect()
    }
    assert flagged == {1, 2}, "both endpoints of the straddling edge flag"


def test_split_audit_still_green_on_real_pairs(spark, duck):
    # the symmetrization must not change the green path: re-run the
    # registered query against its oracle
    from procurement_system_bigdata_spark.queries.registry import REGISTRY
    from tests.conftest import SF_DIR

    spec = REGISTRY["cluster_safe_split"]
    assert_matches_oracle(spec.fn(spark, SF_DIR), duck, spec.oracle)


# --- BPE oracle totality on empty-merge corpora (ADVICE #2) -----------------


DEGENERATE_ROWS = [(1, "a b", "web"), (2, "c d a", "web"), (3, "", "web")]


@pytest.fixture(scope="module")
def degenerate(spark):
    """Corpus of single-character words only: zero adjacent symbol pairs,
    so learn_bpe returns no merges at any min_freq."""
    docs = spark.createDataFrame(
        DEGENERATE_ROWS, "doc_id long, text string, source string"
    )
    con = duckdb.connect()
    values = ", ".join(
        f"(CAST({i} AS BIGINT), '{t}', '{s}')" for i, t, s in DEGENERATE_ROWS
    )
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM (VALUES {values}) AS t(doc_id, text, source)"
    )
    yield docs, con
    con.close()


def test_bpe_learns_nothing_on_degenerate_corpus(spark, degenerate):
    docs, _ = degenerate
    assert bpe.learn_bpe(docs).count() == 0


def test_bpe_fertility_oracle_total_on_empty_merges(spark, degenerate):
    docs, con = degenerate
    merges = [
        (r.left_sym, r.right_sym)
        for r in bpe.learn_bpe(docs).orderBy("rank").collect()
    ]
    first_left, first_right = merges[0] if merges else ("", "")
    audited = (
        bpe.bpe_segment_audit(docs, merges)
        .select(
            "doc_id",
            "n_words",
            F.lit(first_left).alias("first_left"),
            F.lit(first_right).alias("first_right"),
            "tokens_ok",
        )
        .orderBy("doc_id")
    )
    assert_matches_oracle(audited, con, bpe.bpe_fertility_audit_sql())


def test_bpe_merges_oracle_total_on_empty_merges(spark, degenerate):
    docs, con = degenerate
    assert_matches_oracle(
        llmdata.bpe_merges_summary(docs), con, llmdata.Q_BPE_MERGES_SQL
    )


def test_bpe_oracles_still_green_on_real_corpus(spark, duck):
    from procurement_system_bigdata_spark.queries.registry import REGISTRY
    from tests.conftest import SF_DIR

    for name in ("bpe_fertility", "bpe_merges"):
        spec = REGISTRY[name]
        assert_matches_oracle(spec.fn(spark, SF_DIR), duck, spec.oracle)


# --- keyed two-phase prefix sum (judge ask #3) ------------------------------


from procurement_system_bigdata_spark.operators import ranking  # noqa: E402


@pytest.fixture(scope="module")
def keyed_rows(spark):
    # 2 low-cardinality keys, 400 rows, deterministic pseudo-random values
    rows = [
        ("web" if i % 5 < 3 else "books", i, (i * 2654435761) % 97)
        for i in range(400)
    ]
    return spark.createDataFrame(
        rows, "source string, doc_id long, v long"
    ).localCheckpoint()


def _keyed(df, threshold, parts=8):
    return {
        (r.source, r.doc_id): (r.running_total, r.rn)
        for r in ranking.with_keyed_running_total(
            df,
            ["source"],
            [F.col("doc_id").asc()],
            "v",
            seq_col="rn",
            num_partitions=parts,
            single_partition_max_rows=threshold,
        ).collect()
    }


def test_keyed_running_total_paths_identical(keyed_rows):
    small = _keyed(keyed_rows, threshold=10**6)  # plain per-key window
    big = _keyed(keyed_rows, threshold=0)  # forced two-phase
    assert small == big
    # spot-check against a hand prefix sum
    seq = sorted(
        [(r.doc_id, r.v) for r in keyed_rows.collect() if r.source == "books"]
    )
    run, expect = 0, {}
    for rn, (d, v) in enumerate(seq, start=1):
        run += v
        expect[d] = (run, rn)
    assert {d: small[("books", d)] for d, _ in seq} == expect


def test_keyed_running_total_null_values_count_zero(spark):
    df = spark.createDataFrame(
        [("a", 1, None), ("a", 2, 5), ("a", 3, None)],
        "source string, doc_id long, v long",
    )
    out = {
        r.doc_id: r.running_total
        for r in ranking.with_keyed_running_total(
            df,
            ["source"],
            [F.col("doc_id").asc()],
            "v",
            single_partition_max_rows=0,
            num_partitions=4,
        ).collect()
    }
    assert out == {1: 0, 2: 5, 3: 5}


def test_keyed_two_phase_spreads_one_key_over_many_tasks(keyed_rows):
    # the 100 TB property the plain per-source window lacks: with 2 sources
    # the cumsum work must run on MORE than 2 tasks.  The two-phase plan's
    # parallel stage is the range partitioning — count its non-empty tasks.
    parted = keyed_rows.repartitionByRange(
        8, F.col("source"), F.col("doc_id")
    )
    n_tasks = (
        parted.select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert n_tasks > 2, f"2 sources must spread past 2 tasks, got {n_tasks}"


def test_budget_cap_sample_oracle_green_both_paths(spark, duck):
    from procurement_system_bigdata_spark.operators import sampling
    from procurement_system_bigdata_spark.queries.registry import REGISTRY
    from tests.conftest import SF_DIR

    spec = REGISTRY["budget_cap_sample"]
    assert_matches_oracle(spec.fn(spark, SF_DIR), duck, spec.oracle)
    # force the two-phase path and re-check the SAME full oracle
    forced = sampling.budget_cap_sample(
        llmdata._docs(spark, SF_DIR), single_partition_max_rows=0
    )
    assert_matches_oracle(forced, duck, spec.oracle)


# --- lm_perplexity_buckets production dial (VERDICT r06 ask #4) -------------


@pytest.fixture(scope="module")
def sf_docs(spark):
    from tests.conftest import SF_DIR

    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_perplexity_approx_dial_agrees_with_exact(spark, sf_docs):
    """The approx_percentile production dial reproduces the exact ntile
    terciles up to score ties at the cutpoints: per-source totals are
    identical and per-bucket doc counts agree within a small tie budget."""
    from procurement_system_bigdata_spark.operators import text as t

    exact = {
        (r.source, r.bucket): r
        for r in t.lm_perplexity_buckets(sf_docs).collect()
    }
    approx = {
        (r.source, r.bucket): r
        for r in t.lm_perplexity_buckets(sf_docs, approx=True).collect()
    }
    sources = {s for s, _ in exact}
    assert sources == {s for s, _ in approx}
    for src in sources:
        ex_counts = {b: exact[(src, b)].n_docs for b in (1, 2, 3) if (src, b) in exact}
        ap_counts = {b: approx[(src, b)].n_docs for b in (1, 2, 3) if (src, b) in approx}
        total = sum(ex_counts.values())
        assert sum(ap_counts.values()) == total, "dials must bucket every doc"
        # tie budget: documents sharing the cutpoint score may land one
        # bucket over; bound by 10% of the source (sf0.001 sources are tiny)
        tol = max(2, total // 10)
        for b in (1, 2, 3):
            assert abs(ex_counts.get(b, 0) - ap_counts.get(b, 0)) <= tol, (
                src, b, ex_counts, ap_counts,
            )


def test_perplexity_approx_dial_has_no_per_source_sort(spark, sf_docs):
    """The 100 TB guarantee: the production dial's physical plan contains
    NO window/ntile (i.e. no per-source sort of doc-level rows) and
    broadcasts the O(#sources) cutpoint frame."""
    from procurement_system_bigdata_spark.operators import text as t

    plan = t.lm_perplexity_buckets(sf_docs, approx=True)._jdf.queryExecution().executedPlan().toString()
    # note: "percentile_approx" contains the substring "ntile" — match the
    # window function call shape, not the bare word
    assert "Window" not in plan and "ntile(" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    exact_plan = t.lm_perplexity_buckets(sf_docs)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in exact_plan  # the dial actually changes the plan


# --- multimodal bounded oracles (VERDICT r06 ask #5) ------------------------


def test_audio_audit_green_on_contract_corpus(spark):
    """Every boolean TRUE + exact header columns on the real synthetic
    corpus — the Spark side of the new driver oracle."""
    from procurement_system_bigdata_spark.operators import multimodal

    docs = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    media = multimodal.attach_synthetic_media(docs)
    rows = multimodal.audio_features_audit(media).collect()
    assert len(rows) == 20  # every_n_audio=2
    for r in rows:
        assert r.sample_rate == 8000 and r.n_samples == 1600
        assert r.duration_ms == 200
        assert r.rms_ok and r.peak_ok and r.zc_ok


def test_audio_audit_flips_on_defective_payload(spark):
    """The audit is not vacuous: a payload violating the tone contract
    (wrong amplitude / wrong frequency) flips the matching boolean."""
    import numpy as np

    from procurement_system_bigdata_spark.operators import codecs, multimodal

    t = np.arange(1600) / 8000.0
    quiet = codecs.encode_wav(0.1 * np.sin(2 * np.pi * 100.0 * t), 8000)  # amp off
    fast = codecs.encode_wav(
        0.5 * np.sin(2 * np.pi * 2000.0 * t), 8000
    )  # freq off the media_id contract
    good = codecs.synthesize_wav(0)
    media = spark.createDataFrame(
        [(0, bytearray(good)), (2, bytearray(quiet)), (4, bytearray(fast))],
        "media_id long, content binary",
    )
    rows = {r.media_id: r for r in multimodal.audio_features_audit(media).collect()}
    assert rows[0].rms_ok and rows[0].peak_ok and rows[0].zc_ok
    assert not rows[2].rms_ok and not rows[2].peak_ok
    assert not rows[4].zc_ok


# --- samplable ANN audit (VERDICT r06 ask #7) --------------------------------


def test_lsh_ann_report_sampled_dial_oracle_green(spark, duck):
    """The anchor-sampled audit hash-matches its own sampled oracle, and
    with the anchor prefix covering every vector it reproduces the full
    audit row exactly."""
    from procurement_system_bigdata_spark.operators import similarity
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assert_matches_oracle(
        similarity.lsh_ann_report(emb, sample_queries=10),
        duck,
        similarity.lsh_ann_report_sql(sample_queries=10),
    )
    n = emb.count()
    [full] = similarity.lsh_ann_report(emb).collect()
    [sampled_all] = similarity.lsh_ann_report(emb, sample_queries=n).collect()
    # round-8: the report self-describes its audit semantics — n_anchors is
    # 0 for the full all-pairs audit, k for the sampled dial; every OTHER
    # column must agree when the anchor prefix covers the whole corpus
    assert full.n_anchors == 0 and sampled_all.n_anchors == n
    full_d, samp_d = full.asDict(), sampled_all.asDict()
    del full_d["n_anchors"], samp_d["n_anchors"]
    assert full_d == samp_d


# --- supplier_orders production sink dial (VERDICT r06 ask #8) ---------------


def test_supplier_orders_unordered_dial_same_rows(spark):
    """ordered=False skips only the sink-edge global sort: identical row
    SET (incl. the minted order_ids), order unconstrained."""
    from tests.conftest import SF_DIR
    from procurement_system_bigdata_spark.queries import procurement

    ordered = procurement.q_supplier_orders(spark, SF_DIR).collect()
    unordered = procurement.q_supplier_orders(spark, SF_DIR, ordered=False).collect()
    assert sorted(map(tuple, ordered)) == sorted(map(tuple, unordered))
    # and the ordered dial actually is sorted by (total_cost DESC, ...)
    keys = [(-r.total_cost, r.sku_id, r.warehouse_id) for r in ordered]
    assert keys == sorted(keys)
