"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship grouped PSI drift check on sf0.001.
``queries()`` exposes one callable per implemented operator family
(SURVEY.md §2); ``oracle_sql()`` gives the DuckDB-equivalent SQL for each.
Three rows-only checks omit the oracle (CBPE's seeded bootstrap, DLE's GBT
fit, iterative-SVD multivariate drift — all beyond DuckDB SQL); everything
else is oracle-checked, including the sequential state machines: CUSUM and
ADWIN replay via recursive CTEs (r4/r5), MinHash re-derives the full
shingle->md5_60->permutation pipeline, SimHash recomputes hamming via
xor+bit_count, embedding near-dup verifies against the brute-force
exact-cosine pair set, and DLE's deterministic per-sample loss columns
check as ``dle_loss_columns`` (r5).

Float columns are rounded identically on both sides so the driver's
order-insensitive value-hash compares stably across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _verdict_row_df(spark: SparkSession, verdict, round_score: int = 6) -> DataFrame:
    schema = T.StructType(
        [
            T.StructField("feature", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("is_drifted", T.BooleanType()),
            T.StructField("n_ref", T.LongType()),
            T.StructField("n_prod", T.LongType()),
        ]
    )
    return spark.createDataFrame(
        [
            (
                verdict.feature_name,
                round(float(verdict.score), round_score),
                bool(verdict.is_drifted),
                int(verdict.reference_size),
                int(verdict.production_size),
            )
        ],
        schema,
    )


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-partition PSI drift verdicts on sf0.001 lineitem.

    Groups by l_returnflag (the "partition"), reference side = linestatus 'F',
    production side = 'O' — exercises scan, finite-filter, two-pass quantile
    binning, broadcast edge join, grouped aggregation, and the PSI kernel.
    """
    from aumos_drift_detector_spark.operators.drift import psi_test_grouped

    li = _t(spark, "/root/testdata/sf0.001", "lineitem")
    ref = li.where(F.col("l_linestatus") == "F")
    prod = li.where(F.col("l_linestatus") == "O")
    frame = psi_test_grouped(ref, prod, "l_extendedprice", ("l_returnflag",))
    schema = T.StructType(
        [
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("is_drifted", T.BooleanType()),
            T.StructField("error", T.StringType()),
        ]
    )
    rows = [
        (
            str(r["l_returnflag"]),
            None if r["score"] is None else round(float(r["score"]), 6),
            None if r["is_drifted"] is None else bool(r["is_drifted"]),
            r["error"],
        )
        for _, r in frame.iterrows()
    ]
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aumos_drift_detector_spark.operators.profile import profile_columns

    cust = _t(spark, sf_dir, "customer")
    prof = profile_columns(cust, ["c_acctbal"])
    r4 = lambda c: F.round(F.col(c), 4).alias(c)
    return prof.select(
        "feature",
        F.col("count").alias("cnt"),
        r4("mean"), r4("std"), r4("min_value"), r4("max_value"),
        r4("percentile_25"), r4("median"), r4("percentile_75"),
        r4("percentile_95"), r4("percentile_99"),
        F.round("null_fraction", 6).alias("null_fraction"),
        "unique_count", "total_rows",
    )


def _q_agg_orders_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_totalprice"),
    )


def _q_uniqueness_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .where(F.col("occurrences") > 1)
    )


def _q_referential_lineitem_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    keys = part.select(F.col("p_partkey").alias("l_partkey")).distinct()
    return (
        li.join(F.broadcast(keys), ["l_partkey"], "left_anti")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("orphan_cnt"))
    )


def _split_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_linestatus") == "F"),
        li.where(F.col("l_linestatus") == "O"),
    )


def _q_psi_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aumos_drift_detector_spark.operators.drift import psi_test

    ref, prod = _split_lineitem(spark, sf_dir)
    return _verdict_row_df(spark, psi_test(ref, prod, "l_extendedprice"))


def _q_ks_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aumos_drift_detector_spark.operators.drift import ks_test_grouped

    ref, prod = _split_lineitem(spark, sf_dir)
    # prod shifted by 5% so the KS stat sits in a numerically robust regime
    prod = prod.withColumn(
        "l_extendedprice", F.col("l_extendedprice") * F.lit(1.05)
    )
    frame = ks_test_grouped(ref, prod, "l_extendedprice")
    r = frame.iloc[0]
    schema = T.StructType(
        [
            T.StructField("p_value", T.DoubleType()),
            T.StructField("is_drifted", T.BooleanType()),
            T.StructField("n_ref", T.LongType()),
            T.StructField("n_prod", T.LongType()),
        ]
    )
    return spark.createDataFrame(
        [(round(float(r["p_value"]), 6), bool(r["is_drifted"]),
          int(r["reference_size"]), int(r["production_size"]))],
        schema,
    )


def _q_js_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aumos_drift_detector_spark.operators.drift import js_test

    docs = _t(spark, sf_dir, "documents")
    ref = docs.where(F.col("source") == "src0")
    prod = docs.where(F.col("source") == "src1")
    return _verdict_row_df(spark, js_test(ref, prod, "n_chars"))


def _q_hellinger_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aumos_drift_detector_spark.operators.drift import hellinger_test

    docs = _t(spark, sf_dir, "documents")
    ref = docs.where(F.col("source") == "src0")
    prod = docs.where(F.col("source") == "src1")
    return _verdict_row_df(spark, hellinger_test(ref, prod, "n_chars"))


def _q_wasserstein_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aumos_drift_detector_spark.operators.drift import wasserstein_test

    ref, prod = _split_lineitem(spark, sf_dir)
    return _verdict_row_df(spark, wasserstein_test(ref, prod, "l_extendedprice"))


def _q_histogram_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aumos_drift_detector_spark.operators.profile import histogram

    cust = _t(spark, sf_dir, "customer")
    return histogram(cust, "c_acctbal", n_bins=20).select(
        "bin", "bin_count",
        F.round("bin_lo", 4).alias("bin_lo"),
        F.round("bin_hi", 4).alias("bin_hi"),
    )


def _q_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.round(F.sum("value"), 4).alias("total_value"),
             F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(10)
    )


def _q_window_latest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "rn")
    )


def _q_ols_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    x = F.col("event_id").cast("double")
    y = F.col("value")
    return ev.agg(
        F.round(F.covar_pop(x, y) / F.var_pop(x), 8).alias("slope"),
        F.round(
            F.avg(y) - (F.covar_pop(x, y) / F.var_pop(x)) * F.avg(x), 6
        ).alias("intercept"),
        F.round(F.corr(x, y), 6).alias("r"),
    )


def _q_lag_corr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.orderBy("event_id")
    lagged = ev.select(
        F.col("value"), F.lag("value", 1).over(w).alias("prev_value")
    )
    return lagged.agg(
        F.round(F.corr("value", "prev_value"), 6).alias("lag1_corr"),
        F.count("prev_value").alias("n_pairs"),
    )


def _q_dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("n_copies"),
             F.min("doc_id").alias("first_doc_id"))
        .where(F.col("n_copies") > 1)
    )


def _q_token_count_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # whitespace token count by pure length arithmetic — identical semantics
    # in every engine (no regex dialect drift)
    n_tokens = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    )
    return (
        docs.select("lang", n_tokens.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    text_len = F.length("text").cast("double")
    space_ratio = (
        F.length("text") - F.length(F.regexp_replace("text", " ", ""))
    ) / text_len
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(text_len), 4).alias("avg_len"),
        F.round(F.avg(space_ratio), 6).alias("avg_space_ratio"),
        F.round(
            F.avg((F.instr(F.col("text"), "data") > 0).cast("double")), 6
        ).alias("pct_mentions_data"),
    )


def _q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dot = "aggregate(zip_with(embedding, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    n1 = "sqrt(aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    n2 = "sqrt(aggregate(qv, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    return (
        emb.crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(F.expr(f"({dot}) / (({n1}) * ({n2}))"), 5).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def _q_adwin_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: sequential ADWIN replay per event_type — ORACLE-checked (r5) by a
    DuckDB recursive-CTE replay of the exponential-histogram state machine
    (see _adwin_sql); bit-exact on all 1,418 sf0.01 drift events."""
    from aumos_drift_detector_spark.operators.concept import replay_detector

    ev = _t(spark, sf_dir, "events")
    binary_err = ev.select(
        "event_type",
        F.col("event_id").alias("seq"),
        (F.col("value") >= F.lit(10.0)).cast("double").alias("err"),
    )
    return replay_detector(
        binary_err, ["event_type"], "seq", "err", "adwin", events_only=True
    )


def _q_mmd_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: MMD^2 between label groups — ORACLE-checked at sf0.01: both sides
    (~50 rows) sit under the sampling caps, so the unbiased RBF U-statistic
    and the median-heuristic bandwidth are closed-form and DuckDB re-derives
    them with list_dot_product cross joins (round-6 parity)."""
    from aumos_drift_detector_spark.operators.mmd import mmd_test

    emb = _t(spark, sf_dir, "embeddings")
    ref = emb.where(F.col("label") == 0)
    prod = emb.where(F.col("label") == 1)
    return _verdict_row_df(spark, mmd_test(ref, prod, "embedding"))




def _q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: pairwise Pearson correlations in ONE aggregation pass."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_extendedprice", "l_discount"),
    ]
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"corr_{a}_{b}") for a, b in pairs
    ]
    return li.agg(*aggs)


def _q_dashboard_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: one-pass conditional aggregates instead of N queries."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("total_events"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_errors"),
        F.sum((F.col("event_type") == "click").cast("long")).alias("n_clicks"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(
            F.avg(F.when(F.col("event_type") == "error", F.col("value"))), 4
        ).alias("avg_error_value"),
    )


def _q_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: keyset pagination (scale-safe replacement for OFFSET)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.where(F.col("o_orderkey") > 1000)
        .orderBy(F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    )


def _q_auc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/A10: rank-based ROC-AUC (is the event an 'error' predictable
    from `value`?) — tie-averaged Mann-Whitney, SQL-oracle-checkable."""
    from aumos_drift_detector_spark.operators.perfmon import auc_binary

    ev = _t(spark, sf_dir, "events").select(
        F.lit("all").alias("seg"),
        (F.col("event_type") == "error").cast("int").alias("y_true"),
        F.col("value").alias("score"),
    )
    out = auc_binary(ev, ["seg"])
    return out.select("n_pos", "n_neg", F.round("auc", 6).alias("auc"))


def _q_macro_f1_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: accuracy + macro-F1 of a threshold classifier over events."""
    from aumos_drift_detector_spark.operators.perfmon import classification_metrics

    ev = _t(spark, sf_dir, "events").select(
        F.lit("all").alias("seg"),
        F.col("event_type").alias("y_true"),
        F.when(F.col("value") > 10.0, "error").otherwise("click").alias("y_pred"),
    )
    out = classification_metrics(ev, ["seg"])
    return out.select(
        F.round("accuracy", 6).alias("accuracy"),
        F.round("macro_f1", 6).alias("macro_f1"),
        "n_obs",
    )


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, oracle-checked end to end (r5).

    ``hash_fn='md5_60'`` swaps the engine hash for a 60-bit md5-derived one
    both engines compute identically, so DuckDB replays the ENTIRE pipeline
    — shingles, base hash, the 64 seeded affine permutations mod 2^31-1,
    component-equality estimator — and brute-forces all pairs with
    est_jaccard >= 0.5 (``_MINHASH_SQL``). Equality also hard-verifies
    banded-LSH recall on this data: every such pair shares at least one
    band bucket. Production default stays xxhash64 (dedup.py parity tests
    pin estimator-vs-exact behavior there)."""
    from aumos_drift_detector_spark.operators.dedup import minhash_dedup

    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    return (
        minhash_dedup(docs, "doc_id", "text", threshold=0.5, hash_fn="md5_60")
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
        .orderBy("id_a", "id_b")
    )


def _q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs containing a bench doc by
    3-word-shingle containment >= 0.5. The deterministic doc_id % 20 split
    carves a 5% 'benchmark' out of documents; DuckDB brute-forces exact
    containment over all train x bench pairs (the planted near-dup pairs
    that straddle the split are the expected hits)."""
    from aumos_drift_detector_spark.operators.dedup import decontamination_pairs

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    train = docs.where(F.col("doc_id") % 20 != 0)
    return decontamination_pairs(
        train, bench, "doc_id", "text", shingle_size=3, threshold=0.5
    ).orderBy("train_id", "bench_id")


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixing sample: exact per-source quotas via the
    portable md5 draw. src3's quota (40) exceeds its 25 rows — the
    under-quota stratum must return whole, unlisted strata must vanish."""
    from aumos_drift_detector_spark.operators.sampling import (
        stratified_quota_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    quotas = {"src0": 10, "src1": 5, "src2": 25, "src3": 40}
    return (
        stratified_quota_sample(docs, "source", quotas, "doc_id", salt="v1")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def _q_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-range train/val/test assignment for every document — stable
    under repartitioning/subsetting because the label is a pure function
    of (doc_id, salt)."""
    from aumos_drift_detector_spark.operators.sampling import (
        deterministic_split,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        deterministic_split(
            docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="v1"
        )
        .select("doc_id", "split")
        .orderBy("doc_id")
    )


def _q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document intra-doc repetition fractions (words + 2-grams)."""
    from aumos_drift_detector_spark.operators.text import repetition_scores

    docs = _t(spark, sf_dir, "documents")
    return repetition_scores(docs, "doc_id", "text", ngram=2).orderBy("doc_id")


def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 words per document language (deterministic lexicographic
    tie-break) — the vocabulary-stats surface."""
    from aumos_drift_detector_spark.operators.text import heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    return heavy_hitters(docs, "text", 5, ("lang",)).orderBy("lang", "rank")


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII count + redaction over documents. The synthetic corpus carries no
    PII, so each row is augmented with a deterministic doc_id-derived email,
    IPv4, and phone string (identical arithmetic in the DuckDB oracle) —
    the regex parity is then exercised with >=3 real matches per row ON TOP
    of the 500 organic texts, not on an all-zeros frame."""
    from aumos_drift_detector_spark.operators.pii import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    aug = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.concat(F.lit("user"), sid, F.lit("@example.com")),
            F.concat(F.lit("10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7")),
            F.lit("call"),
            F.concat(F.lit("555-"), F.lpad(sid, 7, "0")),
        ).alias("text"),
    )
    return pii_scrub(aug, "doc_id", "text").orderBy("doc_id")


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance resampling over documents: keep probability
    is a quality-ish function of n_chars, with lang 'en' pinned to p=1.0
    (always kept) and 'zh' to p=0.0 (always dropped) so the exact edges are
    exercised alongside the fractional branch. IEEE double arithmetic is
    identical in DuckDB, so the kept id set matches exactly."""
    from aumos_drift_detector_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    p = (
        F.when(F.col("lang") == "en", F.lit(1.0))
        .when(F.col("lang") == "zh", F.lit(0.0))
        .otherwise(F.lit(1.0) / (F.lit(1.0) + F.col("n_chars") / F.lit(300.0)))
    )
    return (
        weighted_sample(docs, "doc_id", p)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


def _q_corpus_quality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second end-to-end composition, chaining the round-5 model-driven
    operators: lexicon quality scoring -> score-weighted importance
    resampling -> domain-mixture rebalance -> 80/10/10 split. One DuckDB
    replay chains each stage's verified oracle fragment."""
    from aumos_drift_detector_spark.plans.corpus_pipeline import (
        corpus_quality_mix_pipeline,
    )

    docs = _t(spark, sf_dir, "documents")
    target = {"src0": 3, "src1": 1, "src2": 1, "src3": 0, "src4": 2, "src5": 1}
    labeled = corpus_quality_mix_pipeline(
        docs,
        "doc_id",
        "text",
        "source",
        _quality_weights(),
        _QUALITY_BIAS,
        target,
        n_features=_QUALITY_N_FEATURES,
    )
    return labeled.select(
        "doc_id",
        "source",
        F.round("quality_score", 6).alias("quality_score"),
        "split",
    ).orderBy("doc_id")


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: exact n-gram-Jaccard pairs (>= 0.5) resolved to
    connected components by the alternating large-star/small-star
    algorithm; survivor = component minimum. DuckDB replays the exact
    Jaccard pair set, then converges min-label propagation with pointer
    jumping (12 unrolled rounds, covers diameter 2^12)."""
    from aumos_drift_detector_spark.operators.dedup import ngram_jaccard_pairs
    from aumos_drift_detector_spark.operators.graph import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5)
    return dedup_clusters(pairs, "id_a", "id_b").orderBy("doc_id")


# Fixed scoring lexicon for the quality-model contract query: the
# deterministic half of the classifier (training is seeded but exercises
# numpy; the DRIVER-GATED artifact is the scoring plan). Feature ids are
# md5_60 % 2^16 — computed here with hashlib, by Spark with
# conv(substr(md5,1,15),16,10), and by DuckDB with the strpos digit sum:
# three independent implementations of the same arithmetic.
_QUALITY_LEXICON = {
    "spark": 1.2,
    "fast": 0.8,
    "query": 0.5,
    "vector": 0.3,
    "slow": -1.1,
    "dup": -1.5,
}
_QUALITY_BIAS = 0.1
_QUALITY_N_FEATURES = 1 << 16


def _quality_weights() -> dict[int, float]:
    import hashlib

    out: dict[int, float] = {}
    for w, wt in _QUALITY_LEXICON.items():
        fid = int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % _QUALITY_N_FEATURES
        assert fid not in out, f"lexicon hash collision on {w}"
        out[fid] = wt
    return out


def _q_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style quality scoring with a fixed lexicon: sigmoid of the
    per-document sum of hashed-word weights, as a ZERO-SHUFFLE map-literal
    expression fused into the scan. DuckDB replays the md5 feature hashing
    and the sigmoid at round-6."""
    from aumos_drift_detector_spark.operators.quality_model import (
        score_quality_model,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = score_quality_model(
        docs,
        "text",
        _quality_weights(),
        _QUALITY_BIAS,
        n_features=_QUALITY_N_FEATURES,
    )
    return scored.select(
        "doc_id", F.round("quality_score", 6).alias("quality_score")
    ).orderBy("doc_id")


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental ingest: a synthetic new batch (every
    even-id document re-submitted verbatim, every odd one made novel) is
    deduplicated against the full documents corpus. The Bloom probe +
    verification join are exactly anti-join-on-fingerprint semantics, so
    DuckDB replays it with NOT IN over md5(text) — no Bloom replay needed."""
    from aumos_drift_detector_spark.operators.dedup import incremental_dedup

    docs = _t(spark, sf_dir, "documents")
    batch = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.when(F.col("doc_id") % 2 == 0, F.col("text"))
        .otherwise(
            F.concat_ws(
                " ", F.col("text"), F.lit("novel"), F.col("doc_id").cast("string")
            )
        )
        .alias("text"),
    )
    return (
        incremental_dedup(batch, docs, "doc_id", ["text"], n_bits=1 << 18)
        .select("doc_id", F.length("text").alias("n_chars_out"))
        .orderBy("doc_id")
    )


def _q_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing (downsample-only) toward a 3:1:1:0:2:1
    target over six sources. Weights are dyadic (x/8) so the normalized
    probabilities are EXACT doubles in both engines; DuckDB replays the
    count/min-scale/acceptance arithmetic and the md5 keep draw."""
    from aumos_drift_detector_spark.operators.sampling import mixture_rebalance

    docs = _t(spark, sf_dir, "documents")
    target = {"src0": 3, "src1": 1, "src2": 1, "src3": 0, "src4": 2, "src5": 1}
    return (
        mixture_rebalance(docs, "source", target, "doc_id")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def _q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition: exact dedup -> benchmark decontamination ->
    repetition quality gate -> importance resampling -> 80/10/10 split,
    audited per split. Every stage is an individually-oracle-verified
    operator; THIS query proves they compose (same rounding, same hash
    draws, same boundaries) via one end-to-end DuckDB replay."""
    from aumos_drift_detector_spark.plans.corpus_pipeline import (
        corpus_prep_audit,
        corpus_prep_pipeline,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    keep_p = F.lit(1.0) / (F.lit(1.0) + F.col("n_chars") / F.lit(300.0))
    labeled = corpus_prep_pipeline(
        docs, bench, "doc_id", "text", dup_word_max=0.6, keep_prob=keep_p
    )
    return corpus_prep_audit(labeled, "n_chars")


def _q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic next-fit packing of documents into 2048-char training
    contexts (16 hash buckets). DuckDB replays the whole state machine —
    bucket assignment, md5 order, the open-pack accumulator — via a
    recursive CTE in lockstep across buckets (the cusum/adwin pattern)."""
    from aumos_drift_detector_spark.operators.packing import next_fit_pack

    docs = _t(spark, sf_dir, "documents")
    return next_fit_pack(
        docs, "doc_id", "n_chars", budget=2048, n_buckets=16, salt="v1"
    ).orderBy("doc_id")


def _q_hellinger_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 GROUPED: hellinger per document language — hard-verifies the
    grouped two-sample path (one job, every group) against per-group SQL."""
    from aumos_drift_detector_spark.operators.drift import hellinger_test_grouped

    docs = _t(spark, sf_dir, "documents")
    ref = docs.where(F.col("source") == "src0")
    prod = docs.where(F.col("source") == "src1")
    frame = hellinger_test_grouped(ref, prod, "n_chars", ("lang",))
    rows = sorted(
        (
            str(r["lang"]),
            round(float(r["score"]), 6),
            bool(r["is_drifted"]),
            int(r["reference_size"]),
            int(r["production_size"]),
        )
        for _, r in frame.iterrows()
        if r["error"] is None
    )
    return spark.createDataFrame(
        rows, "lang string, score double, is_drifted boolean, n_ref long, n_prod long"
    )


def _q_profile_by_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 GROUPED: wide profile per customer segment (one aggregation)."""
    from aumos_drift_detector_spark.operators.profile import profile_columns

    cust = _t(spark, sf_dir, "customer")
    prof = profile_columns(cust, ["c_acctbal"], ("c_mktsegment",))
    return prof.select(
        "c_mktsegment",
        F.col("count").alias("cnt"),
        F.round("mean", 4).alias("mean"),
        F.round("std", 4).alias("std"),
        F.round("median", 4).alias("median"),
        F.round("percentile_95", 4).alias("p95"),
        "unique_count",
        "total_rows",
    ).orderBy("c_mktsegment")


def _q_ols_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 GROUPED: closed-form OLS per event_type in one aggregation."""
    from aumos_drift_detector_spark.operators.trend import ols_by_key

    ev = _t(spark, sf_dir, "events")
    out = ols_by_key(ev, ["event_type"], "event_id", "value")
    return out.select(
        "event_type",
        "n",
        F.round("slope", 8).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    ).orderBy("event_type")


def _q_selection_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 via the DISTRIBUTED rank-selection plan: exact quantile edges from
    parallel prefix sums over the per-value sketch (no single-reducer
    percentile buffer) — hard-verified against DuckDB quantile_cont."""
    from aumos_drift_detector_spark.operators.drift import quantile_edges_selection

    li = _t(spark, sf_dir, "lineitem")
    edges = quantile_edges_selection(li, "l_extendedprice", 10)
    return (
        edges.select(F.posexplode("edges").alias("bin_idx", "edge"))
        .select("bin_idx", F.round("edge", 6).alias("edge"))
        .orderBy("bin_idx")
    )


def _q_cusum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: CUSUM change points per event_type.

    Oracle-checked (round 4): the per-step two-sided CUSUM recurrence with
    reset-on-exceed and min-separation reporting is replayed exactly by a
    DuckDB recursive CTE (one recursion step per ordered row, all groups
    advanced in lockstep) — see ``_CUSUM_SQL``. Accumulator types must be
    DOUBLE on the SQL side (a bare ``0.0`` anchor would type them
    DECIMAL(2,1) and truncate every step)."""
    from aumos_drift_detector_spark.operators.concept import cusum_grouped

    ev = _t(spark, sf_dir, "events")
    return cusum_grouped(ev, ["event_type"], "event_id", "value").select(
        "event_type", "change_index", "seq", F.round("value", 6).alias("value")
    )


def _q_forecast_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: linear forecast + 80% PI per event_type.

    Oracle-checked: the OLS fit + prediction-interval math is closed-form
    from aggregates, so DuckDB re-derives it with covar_pop/var_pop +
    generate_series (round-6 on both sides)."""
    from aumos_drift_detector_spark.operators.trend import linear_forecast

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.avg("value").alias("v"))
    )
    fc = linear_forecast(daily, ["event_type"], "day", "v", horizon=3)
    return fc.select(
        "event_type",
        "step",
        F.round("predicted", 6).alias("predicted"),
        F.round("lower_80", 6).alias("lower_80"),
        F.round("upper_80", 6).alias("upper_80"),
        "crosses_threshold",
    ).orderBy("event_type", "step")


def _cbpe_probe(spark: SparkSession, sf_dir: str):
    """Deterministic binary classifier output derived from embeddings.

    p1 = sigmoid(embedding[0]); probs = [1-p1, p1]; label collapses to
    binary via mod 2 — reproducible on the DuckDB side with list arithmetic.
    """
    emb = _t(spark, sf_dir, "embeddings")
    p1 = 1.0 / (1.0 + F.exp(-F.element_at(F.col("embedding"), 1).cast("double")))
    return emb.select(
        F.col("vec_id"),
        F.array(F.lit(1.0) - p1, p1).alias("probabilities"),
        (F.col("label") % 2).alias("label"),
    )


def _q_cbpe_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CBPE's distributed step: the (confidence, n_correct, n) sketch that
    feeds calibration — fully SQL-oracle-checkable (the PAV/Platt fit on the
    sketch is driver-side and pytest-covered)."""
    from aumos_drift_detector_spark.operators.estimation import _confidence_correct

    probe = _cbpe_probe(spark, sf_dir)
    return (
        _confidence_correct(probe, "probabilities", "label")
        .groupBy("conf")
        .agg(F.sum("correct").alias("n_correct"), F.count(F.lit(1)).alias("n"))
        .select(F.round("conf", 6).alias("conf"), "n_correct", "n")
    )


def _q_cbpe_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CBPE (fit on even vec_ids, estimate odd) — rows-only (isotonic
    PAV + seeded bootstrap are not SQL-expressible); deterministic."""
    from aumos_drift_detector_spark.operators.estimation import CBPEEstimator

    probe = _cbpe_probe(spark, sf_dir)
    ref = probe.where(F.col("vec_id") % 2 == 0)
    prod = probe.where(F.col("vec_id") % 2 == 1)
    out = CBPEEstimator(metric="accuracy").fit(ref).estimate(prod)
    return spark.createDataFrame(
        [
            (
                out["metric"],
                round(out["estimated_value"], 6),
                round(out["confidence_interval_95"]["lower"], 6),
                round(out["confidence_interval_95"]["upper"], 6),
                out["n_samples"],
            )
        ],
        "metric string, estimated_value double, ci_lower double, ci_upper double, n_samples long",
    )


def _q_dle_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLE estimated loss (GBT error predictor) — rows-only (seeded
    distributed GBT is engine-specific)."""
    from aumos_drift_detector_spark.operators.estimation import DLEEstimator

    emb = _t(spark, sf_dir, "embeddings")
    p1 = 1.0 / (1.0 + F.exp(-F.element_at(F.col("embedding"), 1).cast("double")))
    probe = emb.select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("features"),
        F.array(F.lit(1.0) - p1, p1).alias("probabilities"),
        (F.col("label") % 2).alias("label"),
    )
    ref = probe.where(F.col("vec_id") % 2 == 0)
    prod = probe.where(F.col("vec_id") % 2 == 1)
    out = DLEEstimator(n_estimators=10).fit(ref).estimate(prod)
    return spark.createDataFrame(
        [
            (
                out["loss_function"],
                round(out["estimated_loss"], 6),
                round(out["loss_std"], 6),
                out["n_samples"],
            )
        ],
        "loss_function string, estimated_loss double, loss_std double, n_samples long",
    )


def _q_dle_loss_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLE's deterministic half, oracle-checked (r5): the per-sample loss
    columns (estimation._per_sample_loss, reference dle.py:134-159) are
    plain expressions — log_loss (clipped -log p_true), absolute/squared
    error of the argmax prediction — aggregated per loss function in ONE
    wide pass over the reference side. Only the GBT fit (the ``dle_loss``
    query) stays rows-only."""
    from aumos_drift_detector_spark.operators.estimation import _per_sample_loss

    emb = _t(spark, sf_dir, "embeddings")
    p1 = 1.0 / (1.0 + F.exp(-F.element_at(F.col("embedding"), 1).cast("double")))
    probe = emb.select(
        F.col("vec_id"),
        F.array(F.lit(1.0) - p1, p1).alias("probabilities"),
        (F.col("label") % 2).alias("label"),
    ).where(F.col("vec_id") % 2 == 0)
    fns = ("absolute_error", "log_loss", "squared_error")
    losses = probe.select(
        *[_per_sample_loss(fn, "probabilities", "label").alias(fn) for fn in fns]
    )
    agg = losses.agg(
        *[F.round(F.avg(fn), 6).alias(f"mean_{fn}") for fn in fns],
        *[F.round(F.stddev_pop(fn), 6).alias(f"std_{fn}") for fn in fns],
        F.count(F.lit(1)).alias("n"),
    )
    # long form: one row per loss function (stable row identity for the hash)
    stacked = agg.selectExpr(
        "stack(3, "
        + ", ".join(
            f"'{fn}', mean_{fn}, std_{fn}, n" for fn in fns
        )
        + ") as (loss_function, mean_loss, std_loss, n_samples)"
    )
    return stacked.orderBy("loss_function")


_DLE_LOSS_COLUMNS_SQL = """
WITH probe AS (
  SELECT 1.0 / (1.0 + exp(-(embedding[1]::DOUBLE))) AS p1,
         (label % 2)::INT AS label
  FROM embeddings WHERE vec_id % 2 = 0
),
ls AS (
  SELECT CASE WHEN p1 > 1.0 - p1 THEN 1.0 ELSE 0.0 END AS pred,
         CASE WHEN label = 0 THEN 1.0 - p1 ELSE p1 END AS p_true,
         label
  FROM probe
),
per AS (
  SELECT abs(pred - label) AS absolute_error,
         -ln(least(greatest(p_true, 1e-7), 1.0 - 1e-7)) AS log_loss,
         (pred - label) * (pred - label) AS squared_error
  FROM ls
)
SELECT * FROM (
  SELECT 'absolute_error' AS loss_function,
         round(avg(absolute_error), 6) AS mean_loss,
         round(stddev_pop(absolute_error), 6) AS std_loss,
         count(*) AS n_samples FROM per
  UNION ALL
  SELECT 'log_loss', round(avg(log_loss), 6), round(stddev_pop(log_loss), 6),
         count(*) FROM per
  UNION ALL
  SELECT 'squared_error', round(avg(squared_error), 6),
         round(stddev_pop(squared_error), 6), count(*) FROM per
) ORDER BY loss_function
"""


def _q_retrain_triggers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrain-trigger decisions over per-event_type drift scores — full
    SQL oracle (threshold direction + outcome mapping are relational)."""
    from datetime import datetime, timezone

    from aumos_drift_detector_spark.operators.triggers import (
        RetrainTriggerEngine,
        TriggerPolicy,
    )

    ev = _t(spark, sf_dir, "events")
    detections = ev.groupBy("event_type").agg(
        (F.avg("value") / 10.0).alias("drift_score")
    ).select(
        F.lit("t0").alias("tenant_id"),
        F.lit("mon0").alias("monitor_id"),
        F.col("event_type").alias("model_id"),
        F.col("event_type").alias("detection_id"),
        F.round("drift_score", 6).alias("drift_score"),
        F.when(F.col("event_type") == "error", "ks").otherwise("psi").alias(
            "test_name"
        ),
        F.lit(datetime(2026, 1, 1, tzinfo=timezone.utc)).alias("detected_at"),
    )
    eng = RetrainTriggerEngine(TriggerPolicy(drift_score_threshold=0.25))
    out = eng.evaluate_drift_triggers(
        detections, now=datetime(2026, 1, 1, tzinfo=timezone.utc)
    )
    return out.select(
        "model_id", "outcome", "triggered",
        F.round("drift_score", 6).alias("drift_score"), "test_name",
    ).orderBy("model_id")


def _q_alert_escalation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdue-warning escalation over alerts derived from events — full
    SQL oracle (filter + rewrite columns)."""
    from aumos_drift_detector_spark.operators.alerts import escalate_overdue_alerts

    ev = _t(spark, sf_dir, "events")
    alerts_df = ev.select(
        F.col("event_id").alias("alert_id"),
        F.when(F.col("event_type") == "purchase", "acknowledged")
        .otherwise("dispatched")
        .alias("status"),
        F.when(F.col("value") > 10.0, "warning").otherwise("info").alias("severity"),
        F.col("event_type").alias("message"),
        F.col("ts").alias("detected_at"),
    )
    out = escalate_overdue_alerts(
        alerts_df, escalation_timeout_minutes=120, now_ts="2030-01-01 00:00:00"
    )
    return out.select("alert_id", "status", "severity", "message").orderBy("alert_id")


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hyperplane LSH near-dup pairs + exact-cosine verification.

    Oracle-checked (round 4): DuckDB recomputes the full brute-force pair
    set at the 0.95 threshold (``_EMBEDDING_NEARDUP_SQL``) — at sf0.01 the
    only pairs above threshold are the planted exact duplicates
    (vec_id+10^7 copies of the first 20 vectors; max organic cosine 0.51),
    which identical-signature LSH candidates catch with probability 1, so
    the LSH+verify output must equal the exact set: the oracle hard-verifies
    the exact-cosine verification stage (and candidate recall on this data).
    Embeddings cast to double on BOTH sides so the dot products agree to
    ~1e-15 (float32 accumulation could flip round-6)."""
    from aumos_drift_detector_spark.operators.dedup import embedding_near_duplicates

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    both = emb.unionByName(planted)
    return (
        embedding_near_duplicates(both, "vec_id", "embedding", threshold=0.95)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


def _q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: two-sample midrank Anderson-Darling A2akN statistic — the
    distributed part is SQL-oracle-checkable (the significance interpolation,
    like chi2's p-value, is driver-side scalar math covered by pytest)."""
    from aumos_drift_detector_spark.operators.drift import anderson_darling_test

    ref, prod = _split_lineitem(spark, sf_dir)
    v = anderson_darling_test(ref, prod, "l_extendedprice")
    return spark.createDataFrame(
        [
            (
                round(float(v.details["statistic"]), 6),
                int(v.reference_size),
                int(v.production_size),
            )
        ],
        "statistic double, n_ref long, n_prod long",
    )


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs, oracle-checked end to end (r5).

    ``hash_fn='md5_60'`` + 60-bit signatures let DuckDB replay the full
    pipeline — word hash, per-bit majority vote, signature assembly,
    hamming via bit_count(xor) — brute-forcing all pairs at max_hamming=3
    (``_SIMHASH_SQL``). Equality also hard-verifies the pigeonhole banding:
    any pair within hamming 3 must agree on one of the 4 chunks, so the
    chunk join loses nothing. Production default stays xxhash64."""
    from aumos_drift_detector_spark.operators.dedup import (
        simhash_candidates,
        simhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    sigs = simhash_signatures(docs, "doc_id", "text", bits=60, hash_fn="md5_60")
    return simhash_candidates(sigs, "doc_id", max_hamming=3).orderBy(
        "id_a", "id_b"
    )


def _q_multivariate_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9+T10: PCA-reconstruction drift + C2ST over the embeddings table —
    rows-only (iterative SVD/GBT are not SQL-expressible)."""
    from aumos_drift_detector_spark.operators.multivariate import (
        classifier_two_sample_test,
        pca_reconstruction_drift,
    )

    dims = 8
    cols = [
        F.element_at(F.col("embedding"), i + 1).cast("double").alias(f"e{i}")
        for i in range(dims)
    ]
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", *cols)
    feature_cols = [f"e{i}" for i in range(dims)]
    ref = emb.where(F.col("vec_id") % 2 == 0)
    prod = emb.where(F.col("vec_id") % 2 == 1)
    pca = pca_reconstruction_drift(ref, prod, feature_cols, n_components=4)
    c2st = classifier_two_sample_test(ref, prod, feature_cols)
    return spark.createDataFrame(
        [
            (
                "pca_reconstruction",
                round(float(pca.score), 6),
                bool(pca.is_drifted),
            ),
            ("c2st", round(float(c2st.score), 6), bool(c2st.is_drifted)),
        ],
        "test string, score double, is_drifted boolean",
    )


def _q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated 8-word spans: per-doc coverage stats +
    md5 of the span-masked cleaned text (exact-substring dedup layer,
    Lee et al. 2022 restated as keyed DataFrame stages — see
    operators/spans.py). Output columns never expose the span hash, so
    the DuckDB oracle groups by raw span text and must reach identical
    counts and identical cleaned-text digests."""
    from aumos_drift_detector_spark.operators.spans import span_dedup_stats

    docs = _t(spark, sf_dir, "documents")
    return span_dedup_stats(docs, "doc_id", "text", k=8, min_dup_docs=2)


def _q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram LM self-scored over documents (the
    CCNet-style perplexity quality signal — operators/lm.py). Every
    score is a ratio of integer counts through a fixed CASE, so DuckDB
    replays the full train+score pipeline exactly (joins on the same
    n-gram keys, same backoff order, same 0.5 OOV pseudo-count)."""
    from aumos_drift_detector_spark.operators.lm import lm_perplexity

    docs = _t(spark, sf_dir, "documents")
    return lm_perplexity(docs, "doc_id", "text")


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BPE token stream under the fixed DEMO_MERGES table
    (operators/bpe.py — Zipf-deduped Arrow encode of distinct words,
    vocab-dim join back, one reassembly shuffle).  Every merge step is
    deterministic string surgery, so the DuckDB oracle replays the
    min-rank/leftmost merge loop as a recursive CTE over the same merge
    table and must reproduce the token-stream md5 per document."""
    from aumos_drift_detector_spark.operators.bpe import (
        DEMO_MERGES,
        BpeTokenizer,
        bpe_encode,
    )

    docs = _t(spark, sf_dir, "documents")
    enc = bpe_encode(docs, "doc_id", "text", BpeTokenizer(merges=tuple(DEMO_MERGES)))
    return enc.select(
        "doc_id",
        "n_words",
        "n_bpe_tokens",
        F.md5(F.concat_ws(" ", "bpe_tokens")).alias("tokens_md5"),
    )


def _q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge table learned from the documents corpus at this sf
    (num_merges=48, min_count=2 — operators/bpe.py train_bpe, adaptive
    driver/distributed plan, parity pytest-pinned).  Training's
    per-iteration argmax-over-aggregate needs either recursion with
    aggregates (SQL-prohibited) or a generated 48-stage CTE chain; the
    oracle takes the generated-chain route (see _bpe_train_sql)."""
    from aumos_drift_detector_spark.operators.bpe import train_bpe

    docs = _t(spark, sf_dir, "documents")
    tok = train_bpe(docs, "text", num_merges=48, min_count=2)
    rows = [(i, l, r, l + r) for i, (l, r) in enumerate(tok.merges)]
    return spark.createDataFrame(
        rows, "rank int, left string, right string, merged string"
    )


def _q_bpe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang tokenizer evaluation under the fixed DEMO_MERGES table:
    fertility (tokens/word), char-fallback rate (tokens that are raw
    alphabet symbols, not merge outputs) and distinct tokens — the
    acceptance gate run before a tokenizer ships against a corpus slice
    (operators/bpe.py bpe_corpus_stats).  DuckDB replays it over the
    same recursive-CTE encode."""
    from aumos_drift_detector_spark.operators.bpe import (
        DEMO_MERGES,
        BpeTokenizer,
        bpe_corpus_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return bpe_corpus_stats(
        docs, "text", BpeTokenizer(merges=tuple(DEMO_MERGES)), group_cols=("lang",)
    )


def _q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang token-budget accounting after a perplexity gate
    (plans/corpus_pipeline.py corpus_token_budget): the LM self-score
    gates documents at ppl_proxy <= 20 and the survivors' BPE token
    counts aggregate per lang.  The oracle composes the LM and encode
    replays as nested CTEs — the composition, not just the stages, is
    what the hash check proves."""
    from aumos_drift_detector_spark.operators.bpe import DEMO_MERGES, BpeTokenizer
    from aumos_drift_detector_spark.plans.corpus_pipeline import (
        corpus_token_budget,
    )

    docs = _t(spark, sf_dir, "documents")
    return corpus_token_budget(
        docs,
        "doc_id",
        "text",
        BpeTokenizer(merges=tuple(DEMO_MERGES)),
        ppl_max=20.0,
        group_cols=("lang",),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "profile_customer": _q_profile_customer,          # A1/A6
        "agg_orders_priority": _q_agg_orders_priority,    # A5/A7
        "uniqueness_lineitem": _q_uniqueness_lineitem,    # J6
        "referential_lineitem_part": _q_referential_lineitem_part,  # J5
        "psi_extendedprice": _q_psi_extendedprice,        # T2/A3/A4
        "ks_extendedprice": _q_ks_extendedprice,          # T1
        "chi2_orderpriority": _q_chi2_stat,               # T3/J1
        "js_nchars": _q_js_nchars,                        # T4
        "hellinger_nchars": _q_hellinger_nchars,          # T5
        "hellinger_by_lang": _q_hellinger_by_lang,        # T5 grouped
        "profile_by_mktsegment": _q_profile_by_mktsegment,  # A1 grouped
        "ols_by_event_type": _q_ols_by_event_type,        # A14 grouped
        "selection_quantiles": _q_selection_quantiles,    # A3 distributed plan
        "wasserstein_extendedprice": _q_wasserstein_extendedprice,  # T6
        "histogram_acctbal": _q_histogram_acctbal,        # A2
        "topk_users": _q_topk_users,                      # W4
        "window_latest_orders": _q_window_latest_orders,  # W2
        "ols_events": _q_ols_events,                      # A14
        "lag_corr_events": _q_lag_corr_events,            # A13
        "dedup_exact_documents": _q_dedup_exact_documents,  # dedup (exact)
        "token_count_documents": _q_token_count_documents,  # text analysis
        "text_quality": _q_text_quality,                  # text analysis
        "ann_cosine_topk": _q_ann_cosine_topk,            # similarity search
        "corr_matrix": _q_corr_matrix,                    # A12
        "dashboard_summary": _q_dashboard_summary,        # A7/A8
        "keyset_pagination": _q_keyset_pagination,        # P7/P8
        "auc_events": _q_auc_events,                      # W5/A10
        "macro_f1_events": _q_macro_f1_events,            # A10/A11
        "adwin_events": _q_adwin_events,                  # C1 (rows-only)
        "mmd_embeddings": _q_mmd_embeddings,              # T8 (rows-only)
        "minhash_pairs": _q_minhash_pairs,                # dedup LSH (oracle r5)
        "decontamination_pairs": _q_decontamination,      # LLM decontamination (r5)
        "stratified_sample_documents": _q_stratified_sample,  # data mixing (r5)
        "deterministic_split_documents": _q_deterministic_split,  # splits (r5)
        "repetition_scores_documents": _q_repetition_scores,  # quality (r5)
        "sequence_packing_documents": _q_sequence_packing,  # packing (r5)
        "heavy_hitters_by_lang": _q_heavy_hitters,        # vocab stats (r5)
        "pii_scrub_documents": _q_pii_scrub,              # PII redaction (r5)
        "weighted_sample_documents": _q_weighted_sample,  # importance resampling (r5)
        "mixture_rebalance_documents": _q_mixture_rebalance,  # domain mixing (r5)
        "incremental_dedup_documents": _q_incremental_dedup,  # bloom ingest (r5)
        "quality_model_documents": _q_quality_model,          # fastText-style (r5)
        "dedup_clusters_documents": _q_dedup_clusters,        # connected comps (r5)
        "corpus_quality_mix_documents": _q_corpus_quality_mix,  # model-mix chain (r5)
        "corpus_pipeline_documents": _q_corpus_pipeline,  # end-to-end prep chain (r5)
        "cusum_events": _q_cusum_events,                  # W6 (rows-only)
        "forecast_events": _q_forecast_events,            # W8 (rows-only)
        "cbpe_sketch": _q_cbpe_sketch,                    # CBPE distributed step
        "cbpe_estimate": _q_cbpe_estimate,                # CBPE (rows-only)
        "dle_loss": _q_dle_loss,                          # DLE GBT (rows-only)
        "dle_loss_columns": _q_dle_loss_columns,          # DLE loss exprs (oracle r5)
        "retrain_triggers": _q_retrain_triggers,          # trigger engine
        "alert_escalation": _q_alert_escalation,          # alert escalation
        "embedding_neardup": _q_embedding_neardup,        # LSH (rows-only)
        "anderson_darling_extendedprice": _q_anderson_darling,  # T7
        "simhash_pairs": _q_simhash_pairs,                # dedup (oracle r5)
        "multivariate_drift": _q_multivariate_drift,      # T9/T10 (rows-only)
        "span_dedup_documents": _q_span_dedup,            # exact-substring dedup (r5)
        "lm_perplexity_documents": _q_lm_perplexity,      # n-gram LM quality (r5)
        "bpe_encode_documents": _q_bpe_encode,            # BPE tokenizer encode (r5)
        "bpe_train_documents": _q_bpe_train,              # BPE tokenizer train (r5)
        "bpe_corpus_stats_documents": _q_bpe_stats,       # tokenizer eval (r5)
        "token_budget_documents": _q_token_budget,        # ppl gate + token budget (r5)
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

_PSI_SQL = """
WITH ref AS (SELECT l_extendedprice AS v FROM lineitem
             WHERE l_linestatus = 'F' AND isfinite(l_extendedprice)),
prod AS (SELECT l_extendedprice AS v FROM lineitem
         WHERE l_linestatus = 'O' AND isfinite(l_extendedprice)),
edges AS (SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS e FROM ref),
rb AS (SELECT len(list_filter((SELECT e FROM edges), x -> x <= v)) AS b, count(*) AS c
       FROM ref GROUP BY 1),
pb AS (SELECT len(list_filter((SELECT e FROM edges), x -> x <= v)) AS b, count(*) AS c
       FROM prod GROUP BY 1),
tot AS (SELECT (SELECT count(*) FROM ref) AS nr, (SELECT count(*) FROM prod) AS np),
bins AS (SELECT unnest(range(10)) AS b),
frac AS (SELECT bins.b,
           greatest(coalesce(rb.c, 0) / (SELECT nr FROM tot), 1e-4) AS rf,
           greatest(coalesce(pb.c, 0) / (SELECT np FROM tot), 1e-4) AS pf
         FROM bins LEFT JOIN rb ON bins.b = rb.b LEFT JOIN pb ON bins.b = pb.b)
SELECT 'l_extendedprice' AS feature,
       round(sum((pf - rf) * ln(pf / rf)), 6) AS score,
       sum((pf - rf) * ln(pf / rf)) >= 0.2 AS is_drifted,
       (SELECT nr FROM tot)::BIGINT AS n_ref,
       (SELECT np FROM tot)::BIGINT AS n_prod
FROM frac
"""

_KS_SQL = """
WITH sides AS (
  SELECT l_extendedprice AS v, 0 AS side FROM lineitem WHERE l_linestatus = 'F'
  UNION ALL
  SELECT l_extendedprice * 1.05 AS v, 1 AS side FROM lineitem WHERE l_linestatus = 'O'),
pv AS (SELECT v,
          sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cr,
          sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cp
       FROM sides GROUP BY v),
cum AS (SELECT sum(cr) OVER w AS ccr, sum(cp) OVER w AS ccp
        FROM pv WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
tot AS (SELECT sum(cr) AS nr, sum(cp) AS np FROM pv),
dstat AS (SELECT max(abs(ccr / (SELECT nr FROM tot) - ccp / (SELECT np FROM tot))) AS d FROM cum),
lam AS (SELECT (sqrt((SELECT nr FROM tot) * (SELECT np FROM tot)
                     / ((SELECT nr FROM tot) + (SELECT np FROM tot))) + 0.12
                + 0.11 / sqrt((SELECT nr FROM tot) * (SELECT np FROM tot)
                     / ((SELECT nr FROM tot) + (SELECT np FROM tot))))
               * (SELECT d FROM dstat) AS l),
p AS (SELECT least(1.0, greatest(0.0,
         sum(2 * pow(-1, k - 1) * exp(-2 * k * k * (SELECT l FROM lam) * (SELECT l FROM lam))))) AS pval
      FROM (SELECT unnest(range(1, 101)) AS k))
SELECT round((SELECT pval FROM p), 6) AS p_value,
       (SELECT pval FROM p) < 0.05 AS is_drifted,
       (SELECT nr FROM tot)::BIGINT AS n_ref,
       (SELECT np FROM tot)::BIGINT AS n_prod
"""

_CHI2_SQL = """
WITH rc AS (SELECT o_orderpriority AS cat, count(*) AS c FROM orders
            WHERE o_orderstatus = 'F' GROUP BY 1),
pc AS (SELECT o_orderpriority AS cat, count(*) AS c FROM orders
       WHERE o_orderstatus = 'O' GROUP BY 1),
cats AS (SELECT cat FROM rc UNION SELECT cat FROM pc),
tot AS (SELECT (SELECT sum(c) FROM rc) AS nr, (SELECT sum(c) FROM pc) AS np),
cells AS (SELECT coalesce(rc.c, 0) AS r, coalesce(pc.c, 0) AS p,
                 coalesce(rc.c, 0) / (SELECT nr FROM tot) * (SELECT np FROM tot) AS expected
          FROM cats LEFT JOIN rc ON cats.cat = rc.cat LEFT JOIN pc ON cats.cat = pc.cat),
stat AS (SELECT sum(CASE WHEN expected = 0 AND p = 0 THEN 0
                         ELSE (p - expected) * (p - expected) / expected END) AS x,
                count(*) - 1 AS dof
         FROM cells),
-- regularized upper incomplete gamma Q(dof/2, x/2) via series on P(a,x):
-- P(a,x) = x^a e^-x / Gamma(a+1) * sum_k x^k / ((a+1)...(a+k)); here the
-- chi2 statistic is huge (clear drift) so Q underflows to 0 — compute the
-- drift verdict from a conservative bound instead: for x > dof + 10*sqrt(2*dof),
-- p < 1e-6 << 0.05. The oracle asserts score (the statistic) exactly and the
-- verdict via that bound.
verdict AS (SELECT x, dof,
              CASE WHEN x > dof + 10 * sqrt(2.0 * dof) THEN true
                   WHEN x < dof - 5 * sqrt(2.0 * dof) THEN false
                   ELSE NULL END AS is_drifted_bound
            FROM stat)
SELECT round(x, 4) AS statistic, dof,
       (SELECT nr FROM tot)::BIGINT AS n_ref, (SELECT np FROM tot)::BIGINT AS n_prod
FROM verdict
"""

_JS_HELLINGER_TEMPLATE = """
WITH ref AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE source = 'src0'),
prod AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE source = 'src1'),
rng AS (SELECT least((SELECT min(v) FROM ref), (SELECT min(v) FROM prod)) AS lo,
               greatest((SELECT max(v) FROM ref), (SELECT max(v) FROM prod)) AS hi),
binned_r AS (SELECT CASE WHEN (SELECT hi FROM rng) = (SELECT lo FROM rng) THEN 0
                  WHEN v = (SELECT hi FROM rng) THEN 19
                  ELSE least(CAST(floor((v - (SELECT lo FROM rng))
                       / (((SELECT hi FROM rng) - (SELECT lo FROM rng)) / 20.0)) AS INT), 19)
             END AS b, count(*) AS c FROM ref GROUP BY 1),
binned_p AS (SELECT CASE WHEN (SELECT hi FROM rng) = (SELECT lo FROM rng) THEN 0
                  WHEN v = (SELECT hi FROM rng) THEN 19
                  ELSE least(CAST(floor((v - (SELECT lo FROM rng))
                       / (((SELECT hi FROM rng) - (SELECT lo FROM rng)) / 20.0)) AS INT), 19)
             END AS b, count(*) AS c FROM prod GROUP BY 1),
bins AS (SELECT unnest(range(20)) AS b),
sm AS (SELECT bins.b,
         coalesce(binned_r.c, 0) + 1e-10 AS rc,
         coalesce(binned_p.c, 0) + 1e-10 AS pc
       FROM bins LEFT JOIN binned_r ON bins.b = binned_r.b
                 LEFT JOIN binned_p ON bins.b = binned_p.b),
norm AS (SELECT rc / (SELECT sum(rc) FROM sm) AS p,
                pc / (SELECT sum(pc) FROM sm) AS q FROM sm)
SELECT 'n_chars' AS feature,
       round({score_expr}, 6) AS score,
       {score_expr} > 0.1 AS is_drifted,
       (SELECT count(*) FROM ref)::BIGINT AS n_ref,
       (SELECT count(*) FROM prod)::BIGINT AS n_prod
FROM norm
"""

_JS_SCORE = (
    "sqrt(greatest(0.0, sum(0.5 * p * ln(p / ((p + q) / 2)) "
    "+ 0.5 * q * ln(q / ((p + q) / 2)))))"
)
_HELLINGER_SCORE = "sqrt(greatest(0.0, sum(pow(sqrt(p) - sqrt(q), 2)) / 2.0))"

_WASSERSTEIN_SQL = """
WITH sides AS (
  SELECT l_extendedprice AS v, 0 AS side FROM lineitem WHERE l_linestatus = 'F'
  UNION ALL
  SELECT l_extendedprice AS v, 1 AS side FROM lineitem WHERE l_linestatus = 'O'),
pv AS (SELECT v, sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cr,
              sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cp
       FROM sides GROUP BY v),
tot AS (SELECT sum(cr) AS nr, sum(cp) AS np FROM pv),
cum AS (SELECT v,
          sum(cr) OVER w AS ccr, sum(cp) OVER w AS ccp,
          lead(v) OVER (ORDER BY v) AS nv
        FROM pv WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
w1 AS (SELECT sum(abs(ccr / (SELECT nr FROM tot) - ccp / (SELECT np FROM tot))
               * coalesce(nv - v, 0)) AS raw FROM cum),
iqr AS (SELECT quantile_cont(l_extendedprice, 0.75) - quantile_cont(l_extendedprice, 0.25) AS i
        FROM lineitem WHERE l_linestatus = 'F')
SELECT 'l_extendedprice' AS feature,
       round((SELECT raw FROM w1) / (SELECT i FROM iqr), 6) AS score,
       (SELECT raw FROM w1) / (SELECT i FROM iqr) > 0.1 AS is_drifted,
       (SELECT nr FROM tot)::BIGINT AS n_ref,
       (SELECT np FROM tot)::BIGINT AS n_prod
"""

_HISTOGRAM_SQL = """
WITH clean AS (SELECT CAST(c_acctbal AS DOUBLE) AS v FROM customer
               WHERE c_acctbal IS NOT NULL AND isfinite(c_acctbal)),
rng AS (SELECT min(v) AS lo, max(v) AS hi FROM clean),
binned AS (SELECT CASE WHEN (SELECT hi FROM rng) <= (SELECT lo FROM rng) THEN NULL
                WHEN v = (SELECT hi FROM rng) THEN 19
                ELSE least(CAST(floor((v - (SELECT lo FROM rng))
                     / (((SELECT hi FROM rng) - (SELECT lo FROM rng)) / 20.0)) AS INT), 19)
           END AS bin FROM clean),
counts AS (SELECT bin, count(*) AS bin_count FROM binned WHERE bin IS NOT NULL GROUP BY bin)
SELECT bins.b AS bin, coalesce(counts.bin_count, 0) AS bin_count,
       round((SELECT lo FROM rng) + bins.b * ((SELECT hi FROM rng) - (SELECT lo FROM rng)) / 20.0, 4) AS bin_lo,
       round((SELECT lo FROM rng) + (bins.b + 1) * ((SELECT hi FROM rng) - (SELECT lo FROM rng)) / 20.0, 4) AS bin_hi
FROM (SELECT unnest(range(20)) AS b) bins LEFT JOIN counts ON bins.b = counts.bin
"""

_ANN_SQL = """
WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
pairs AS (SELECT vec_id,
            CAST(unnest(embedding) AS DOUBLE) AS a,
            CAST(unnest((SELECT e FROM q)) AS DOUBLE) AS b
          FROM embeddings),
sims AS (SELECT vec_id,
           sum(a * b) / (sqrt(sum(a * a)) * sqrt(sum(b * b))) AS cos
         FROM pairs GROUP BY vec_id)
SELECT vec_id, round(cos, 5) AS cosine
FROM sims ORDER BY cos DESC, vec_id ASC LIMIT 10
"""


def oracle_sql() -> dict[str, str]:
    return {
        "profile_customer": """
SELECT 'c_acctbal' AS feature,
       count(c_acctbal) AS cnt,
       round(avg(c_acctbal), 4) AS mean,
       round(stddev_pop(c_acctbal), 4) AS std,
       round(min(c_acctbal), 4) AS min_value,
       round(max(c_acctbal), 4) AS max_value,
       round(quantile_cont(c_acctbal, 0.25), 4) AS percentile_25,
       round(quantile_cont(c_acctbal, 0.50), 4) AS median,
       round(quantile_cont(c_acctbal, 0.75), 4) AS percentile_75,
       round(quantile_cont(c_acctbal, 0.95), 4) AS percentile_95,
       round(quantile_cont(c_acctbal, 0.99), 4) AS percentile_99,
       round((count(*) - count(c_acctbal)) * 1.0 / count(*), 6) AS null_fraction,
       count(DISTINCT c_acctbal) AS unique_count,
       count(*) AS total_rows
FROM customer
""",
        "agg_orders_priority": """
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_totalprice,
       round(avg(o_totalprice), 4) AS avg_totalprice
FROM orders GROUP BY o_orderpriority
""",
        "uniqueness_lineitem": """
SELECT l_orderkey, count(*) AS occurrences
FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
""",
        "referential_lineitem_part": """
SELECT l_partkey, count(*) AS orphan_cnt FROM lineitem
WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
GROUP BY l_partkey
""",
        "psi_extendedprice": _PSI_SQL,
        "ks_extendedprice": _KS_SQL,
        "js_nchars": _JS_HELLINGER_TEMPLATE.format(score_expr=_JS_SCORE),
        "hellinger_nchars": _JS_HELLINGER_TEMPLATE.format(score_expr=_HELLINGER_SCORE),
        # grouped hellinger: the ungrouped template's math replayed per lang
        # (per-group shared-range 20-bin histogram, +1e-10 floor, normalize)
        "hellinger_by_lang": """
WITH both_sides AS (
  -- n_chars IS NOT NULL mirrors the engine's clean_values drop, so the
  -- n_ref/n_prod sizes stay parity-exact if the column ever gains NULLs
  SELECT lang, CAST(n_chars AS DOUBLE) AS v, 0 AS side
  FROM documents WHERE source = 'src0' AND n_chars IS NOT NULL
  UNION ALL
  SELECT lang, CAST(n_chars AS DOUBLE) AS v, 1 AS side
  FROM documents WHERE source = 'src1' AND n_chars IS NOT NULL),
rng AS (SELECT lang, min(v) AS lo, max(v) AS hi FROM both_sides GROUP BY lang),
binned AS (
  SELECT b.lang, b.side,
         CASE WHEN r.hi = r.lo THEN 0
              WHEN b.v = r.hi THEN 19
              ELSE least(CAST(floor((b.v - r.lo) / ((r.hi - r.lo) / 20.0)) AS INT), 19)
         END AS bin,
         count(*) AS c
  FROM both_sides b JOIN rng r USING (lang) GROUP BY 1, 2, 3),
grid AS (SELECT lang, b
         FROM (SELECT DISTINCT lang FROM both_sides), (SELECT unnest(range(20)) AS b)),
cts AS (
  SELECT g.lang, g.b,
         coalesce(br.c, 0) + 1e-10 AS rc,
         coalesce(bp.c, 0) + 1e-10 AS pc
  FROM grid g
  LEFT JOIN (SELECT lang, bin, c FROM binned WHERE side = 0) br
         ON br.lang = g.lang AND br.bin = g.b
  LEFT JOIN (SELECT lang, bin, c FROM binned WHERE side = 1) bp
         ON bp.lang = g.lang AND bp.bin = g.b),
norm AS (SELECT lang,
                rc / sum(rc) OVER (PARTITION BY lang) AS p,
                pc / sum(pc) OVER (PARTITION BY lang) AS q
         FROM cts),
scores AS (SELECT lang,
                  sqrt(greatest(0.0, sum(pow(sqrt(p) - sqrt(q), 2)) / 2.0)) AS s
           FROM norm GROUP BY lang),
sizes AS (SELECT lang,
                 sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ref,
                 sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)::BIGINT AS n_prod
          FROM both_sides GROUP BY lang)
SELECT z.lang, round(sc.s, 6) AS score, sc.s > 0.1 AS is_drifted,
       z.n_ref, z.n_prod
FROM scores sc JOIN sizes z USING (lang)
WHERE z.n_ref > 0 AND z.n_prod > 0
ORDER BY z.lang
""",
        "profile_by_mktsegment": """
SELECT c_mktsegment,
       count(c_acctbal) AS cnt,
       round(avg(c_acctbal), 4) AS mean,
       round(stddev_pop(c_acctbal), 4) AS std,
       round(quantile_cont(c_acctbal, 0.50), 4) AS median,
       round(quantile_cont(c_acctbal, 0.95), 4) AS p95,
       count(DISTINCT c_acctbal) AS unique_count,
       count(*) AS total_rows
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
        "ols_by_event_type": """
SELECT event_type,
       count(value) AS n,
       round(covar_pop(CAST(event_id AS DOUBLE), value)
             / var_pop(CAST(event_id AS DOUBLE)), 8) AS slope,
       round(avg(value) - covar_pop(CAST(event_id AS DOUBLE), value)
             / var_pop(CAST(event_id AS DOUBLE)) * avg(CAST(event_id AS DOUBLE)), 6)
         AS intercept,
       round(pow(corr(CAST(event_id AS DOUBLE), value), 2), 6) AS r2
FROM events GROUP BY event_type ORDER BY event_type
""",
        "selection_quantiles": """
WITH q AS (SELECT quantile_cont(l_extendedprice,
             [0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0]) AS edges
           FROM lineitem)
SELECT (i - 1)::INTEGER AS bin_idx, round(edges[i], 6) AS edge
FROM q, generate_series(1, 11) AS t(i)
ORDER BY bin_idx
""",
        "wasserstein_extendedprice": _WASSERSTEIN_SQL,
        "histogram_acctbal": _HISTOGRAM_SQL,
        "topk_users": """
SELECT user_id, round(sum(value), 4) AS total_value, count(*) AS n_events
FROM events GROUP BY user_id
ORDER BY sum(value) DESC, user_id ASC LIMIT 10
""",
        "window_latest_orders": """
SELECT o_custkey, o_orderkey, rn FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders) WHERE rn <= 2
""",
        "ols_events": """
SELECT round(covar_pop(CAST(event_id AS DOUBLE), value) / var_pop(CAST(event_id AS DOUBLE)), 8) AS slope,
       round(avg(value) - covar_pop(CAST(event_id AS DOUBLE), value)
             / var_pop(CAST(event_id AS DOUBLE)) * avg(CAST(event_id AS DOUBLE)), 6) AS intercept,
       round(corr(CAST(event_id AS DOUBLE), value), 6) AS r
FROM events
""",
        "lag_corr_events": """
WITH lagged AS (SELECT value, lag(value, 1) OVER (ORDER BY event_id) AS prev_value FROM events)
SELECT round(corr(value, prev_value), 6) AS lag1_corr,
       count(prev_value) AS n_pairs
FROM lagged
""",
        "dedup_exact_documents": """
SELECT md5(text) AS fingerprint, count(*) AS n_copies, min(doc_id) AS first_doc_id
FROM documents GROUP BY md5(text) HAVING count(*) > 1
""",
        "token_count_documents": """
WITH tc AS (SELECT lang, length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
            FROM documents)
SELECT lang, count(*) AS n_docs,
       round(avg(n_tokens), 4) AS avg_tokens,
       sum(n_tokens)::BIGINT AS total_tokens
FROM tc GROUP BY lang
""",
        "text_quality": """
SELECT source, count(*) AS n_docs,
       round(avg(CAST(length(text) AS DOUBLE)), 4) AS avg_len,
       round(avg((length(text) - length(replace(text, ' ', ''))) * 1.0 / length(text)), 6) AS avg_space_ratio,
       round(avg(CASE WHEN position('data' IN text) > 0 THEN 1.0 ELSE 0.0 END), 6) AS pct_mentions_data
FROM documents GROUP BY source
""",
        "ann_cosine_topk": _ANN_SQL,
        "corr_matrix": """
SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_l_quantity_l_extendedprice,
       round(corr(l_quantity, l_discount), 6) AS corr_l_quantity_l_discount,
       round(corr(l_extendedprice, l_discount), 6) AS corr_l_extendedprice_l_discount
FROM lineitem
""",
        "dashboard_summary": """
SELECT count(*) AS total_events,
       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_errors,
       sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_clicks,
       count(DISTINCT user_id) AS n_users,
       round(avg(value), 4) AS avg_value,
       round(avg(CASE WHEN event_type = 'error' THEN value END), 4) AS avg_error_value
FROM events
""",
        "keyset_pagination": """
SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
WHERE o_orderkey > 1000 ORDER BY o_orderkey ASC LIMIT 20
""",
        "auc_events": """
WITH ranked AS (
  SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y,
         rank() OVER (ORDER BY value) + (count(*) OVER (PARTITION BY value) - 1) / 2.0 AS r
  FROM events),
agg AS (SELECT sum(CASE WHEN y = 1 THEN r END) AS rps,
               sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS n_pos,
               sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS n_neg
        FROM ranked)
SELECT n_pos::BIGINT AS n_pos, n_neg::BIGINT AS n_neg,
       round((rps - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6) AS auc
FROM agg
""",
        "macro_f1_events": """
WITH preds AS (SELECT event_type AS t,
                      CASE WHEN value > 10.0 THEN 'error' ELSE 'click' END AS p
               FROM events),
classes AS (SELECT DISTINCT t AS cls FROM preds
            UNION SELECT DISTINCT p FROM preds),
percls AS (SELECT cls,
             sum(CASE WHEN t = cls AND p = cls THEN 1 ELSE 0 END) AS tp,
             sum(CASE WHEN t != cls AND p = cls THEN 1 ELSE 0 END) AS fp,
             sum(CASE WHEN t = cls AND p != cls THEN 1 ELSE 0 END) AS fn
           FROM preds, classes GROUP BY cls)
SELECT (SELECT round(avg(CASE WHEN t = p THEN 1.0 ELSE 0.0 END), 6) FROM preds) AS accuracy,
       round(avg(coalesce(2.0 * tp / nullif(2 * tp + fp + fn, 0), 0.0)), 6) AS macro_f1,
       (SELECT count(*) FROM preds)::BIGINT AS n_obs
FROM percls
""",
        "chi2_orderpriority": _CHI2_SQL,
        "cbpe_sketch": """
WITH probe AS (
  SELECT 1.0 / (1.0 + exp(-CAST(embedding[1] AS DOUBLE))) AS p1,
         label % 2 AS label
  FROM embeddings),
cc AS (
  SELECT round(greatest(p1, 1.0 - p1), 6) AS conf,
         CASE WHEN (CASE WHEN p1 > 1.0 - p1 THEN 1 ELSE 0 END) = label
              THEN 1 ELSE 0 END AS correct
  FROM probe)
SELECT conf, sum(correct)::BIGINT AS n_correct, count(*)::BIGINT AS n
FROM cc GROUP BY conf
""",
        "retrain_triggers": """
WITH det AS (
  SELECT event_type AS model_id,
         round(avg(value) / 10.0, 6) AS drift_score,
         CASE WHEN event_type = 'error' THEN 'ks' ELSE 'psi' END AS test_name
  FROM events GROUP BY event_type),
ev AS (
  SELECT *, CASE WHEN test_name = 'ks' THEN drift_score < 0.25
                 ELSE drift_score > 0.25 END AS crossed
  FROM det)
SELECT model_id,
       CASE WHEN crossed THEN 'triggered' ELSE 'suppressed_threshold' END AS outcome,
       crossed AS triggered,
       drift_score, test_name
FROM ev ORDER BY model_id
""",
        "alert_escalation": """
SELECT event_id AS alert_id,
       'escalated' AS status,
       'critical' AS severity,
       '[ESCALATED] ' || event_type AS message
FROM events
WHERE event_type != 'purchase'
  AND value > 10.0
  AND ts IS NOT NULL
  AND date_diff('second', ts, TIMESTAMP '2030-01-01 00:00:00') >= 7200
ORDER BY event_id
""",
        "anderson_darling_extendedprice": """
WITH sides AS (
  SELECT l_extendedprice AS v, 0 AS side FROM lineitem
  WHERE l_linestatus = 'F' AND isfinite(l_extendedprice)
  UNION ALL
  SELECT l_extendedprice AS v, 1 AS side FROM lineitem
  WHERE l_linestatus = 'O' AND isfinite(l_extendedprice)),
pv AS (SELECT v,
          sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cr,
          sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cp
       FROM sides GROUP BY v),
tot AS (SELECT sum(cr) AS nr, sum(cp) AS np, sum(cr) + sum(cp) AS nt FROM pv),
cum AS (SELECT cr, cp, cr + cp AS lj,
          sum(cr + cp) OVER w - (cr + cp) / 2.0 AS bj,
          sum(cr) OVER w - cr / 2.0 AS mr,
          sum(cp) OVER w - cp / 2.0 AS mp
        FROM pv
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
terms AS (SELECT
    lj, bj, mr, mp,
    bj * ((SELECT nt FROM tot) - bj) - (SELECT nt FROM tot) * lj / 4.0 AS denom
  FROM cum),
sums AS (SELECT
    sum(CASE WHEN denom > 0 THEN
        lj * pow((SELECT nt FROM tot) * mr - (SELECT nr FROM tot) * bj, 2) / denom
      END) AS s_ref,
    sum(CASE WHEN denom > 0 THEN
        lj * pow((SELECT nt FROM tot) * mp - (SELECT np FROM tot) * bj, 2) / denom
      END) AS s_prod
  FROM terms)
SELECT round(((SELECT nt FROM tot) - 1.0) / (SELECT nt FROM tot)
         * (s_ref / (SELECT nr FROM tot) + s_prod / (SELECT np FROM tot))
         / (SELECT nt FROM tot), 6) AS statistic,
       (SELECT nr FROM tot)::BIGINT AS n_ref,
       (SELECT np FROM tot)::BIGINT AS n_prod
FROM sums
""",
        # W8: OLS forecast + 80% PI, closed form from aggregates. x is the
        # 0-based day index per event_type; slope/intercept via
        # covar_pop/var_pop; margin = 1.282 * sqrt(ssr/(n-2)) *
        # sqrt(1 + 1/n + (xf - xbar)^2 / sxx) — exactly trend.linear_forecast.
        "forecast_events": """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, avg(value) AS v
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY day) - 1.0 AS x
  FROM daily
),
fit AS (
  SELECT event_type, count(*) AS n, avg(x) AS xbar,
         covar_pop(x, v) / var_pop(x) AS slope,
         avg(v) - covar_pop(x, v) / var_pop(x) * avg(x) AS intercept
  FROM idx GROUP BY 1
),
resid AS (
  SELECT f.event_type, f.n, f.xbar, f.slope, f.intercept,
         sum(pow(i.v - (f.intercept + f.slope * i.x), 2)) AS ssr,
         sum(pow(i.x - f.xbar, 2)) AS sxx
  FROM fit f JOIN idx i USING (event_type)
  GROUP BY 1, 2, 3, 4, 5
),
fc AS (
  SELECT r.event_type, s.step,
         r.intercept + r.slope * (r.n - 1 + s.step) AS predicted,
         1.282 * sqrt(r.ssr / (r.n - 2))
           * sqrt(1.0 + 1.0 / r.n + pow(r.n - 1 + s.step - r.xbar, 2) / r.sxx)
           AS margin
  FROM resid r
  CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS step) s
  WHERE r.n >= 3
)
SELECT event_type, step::INTEGER AS step,
       round(predicted, 6) AS predicted,
       round(greatest(0.0, predicted - margin), 6) AS lower_80,
       round(predicted + margin, 6) AS upper_80,
       FALSE AS crosses_threshold
FROM fc
""",
        # T8: at sf0.01 both label groups are under the 1000-row sample cap
        # and the 500-row median-heuristic cap, so NO seeded sampling fires:
        # MMD^2 is the deterministic unbiased RBF U-statistic
        # (sum K_xx/(n(n-1)) + sum K_yy/(m(m-1)) - 2 mean K_xy, diagonals
        # excluded) with sigma^2 = median positive pairwise squared distance
        # over the combined set — exactly operators/mmd.py, in SQL.
        "mmd_embeddings": """
WITH ref AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE label = 0),
prod AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE label = 1),
allp AS (SELECT vec_id, e FROM ref UNION ALL SELECT vec_id, e FROM prod),
sq_all AS (
  SELECT list_dot_product(a.e, a.e) + list_dot_product(b.e, b.e)
         - 2 * list_dot_product(a.e, b.e) AS sq
  FROM allp a, allp b),
bw AS (SELECT greatest(quantile_cont(sq, 0.5), 1e-6) AS b FROM sq_all WHERE sq > 0),
kxx AS (SELECT sum(exp(-(list_dot_product(a.e, a.e) + list_dot_product(b.e, b.e)
                         - 2 * list_dot_product(a.e, b.e)) / (2 * (SELECT b FROM bw)))) AS s
        FROM ref a, ref b WHERE a.vec_id <> b.vec_id),
kyy AS (SELECT sum(exp(-(list_dot_product(a.e, a.e) + list_dot_product(b.e, b.e)
                         - 2 * list_dot_product(a.e, b.e)) / (2 * (SELECT b FROM bw)))) AS s
        FROM prod a, prod b WHERE a.vec_id <> b.vec_id),
kxy AS (SELECT avg(exp(-(list_dot_product(a.e, a.e) + list_dot_product(b.e, b.e)
                         - 2 * list_dot_product(a.e, b.e)) / (2 * (SELECT b FROM bw)))) AS s
        FROM ref a, prod b),
nm AS (SELECT (SELECT count(*) FROM ref) AS n, (SELECT count(*) FROM prod) AS m)
SELECT 'embedding' AS feature,
       round((SELECT s FROM kxx) / ((SELECT n FROM nm) * ((SELECT n FROM nm) - 1))
           + (SELECT s FROM kyy) / ((SELECT m FROM nm) * ((SELECT m FROM nm) - 1))
           - 2 * (SELECT s FROM kxy), 6) AS score,
       ((SELECT s FROM kxx) / ((SELECT n FROM nm) * ((SELECT n FROM nm) - 1))
           + (SELECT s FROM kyy) / ((SELECT m FROM nm) * ((SELECT m FROM nm) - 1))
           - 2 * (SELECT s FROM kxy)) > 0.05 AS is_drifted,
       (SELECT n FROM nm)::BIGINT AS n_ref,
       (SELECT m FROM nm)::BIGINT AS n_prod
""",
        "cusum_events": _CUSUM_SQL,
        "embedding_neardup": _EMBEDDING_NEARDUP_SQL,
        "minhash_pairs": _minhash_sql(),
        "decontamination_pairs": _DECON_SQL,
        "stratified_sample_documents": _STRATIFIED_SAMPLE_SQL,
        "deterministic_split_documents": _deterministic_split_sql(),
        "repetition_scores_documents": _REPETITION_SQL,
        "sequence_packing_documents": _PACKING_SQL,
        "heavy_hitters_by_lang": _HEAVY_HITTERS_SQL,
        "pii_scrub_documents": _pii_scrub_sql(),
        "weighted_sample_documents": _WEIGHTED_SAMPLE_SQL,
        "mixture_rebalance_documents": _MIXTURE_REBALANCE_SQL,
        "incremental_dedup_documents": _INCREMENTAL_DEDUP_SQL,
        "quality_model_documents": _quality_model_sql(),
        "dedup_clusters_documents": _dedup_clusters_sql(),
        "corpus_quality_mix_documents": _corpus_quality_mix_sql(),
        "corpus_pipeline_documents": _corpus_pipeline_sql(),
        "simhash_pairs": _SIMHASH_SQL,
        "dle_loss_columns": _DLE_LOSS_COLUMNS_SQL,
        "adwin_events": _adwin_sql(),
        "span_dedup_documents": _span_dedup_sql(),
        "lm_perplexity_documents": _LM_PERPLEXITY_SQL,
        "bpe_encode_documents": _bpe_encode_sql(),
        "bpe_train_documents": _bpe_train_sql(),
        "bpe_corpus_stats_documents": _bpe_stats_sql(),
        "token_budget_documents": _token_budget_sql(),
        # cbpe_estimate, dle_loss, multivariate_drift:
        # rows-only (seeded bootstrap / GBT fit / SVD — beyond DuckDB SQL)
    }


# Decontamination: exact brute-force containment over all train x bench
# pairs at sf0.01 (475 x 25). Shingle construction replays
# dedup.word_shingles verbatim (regexp split on \s+, inclusive 3-word
# slices, whole-document shingle for short docs, distinct). The '' shingle
# fabricated for NULL/empty text is filtered on both sides (matching the
# operator's F.filter), so degenerate docs can never pair. Rounding to 6dp
# happens BEFORE the threshold on both sides so the boundary can't flip.
_DECON_SQL = r"""
WITH docs AS (
  SELECT doc_id, regexp_split_to_array(text, '\s+') AS w,
         doc_id % 20 = 0 AS is_bench
  FROM documents
),
sh AS (
  SELECT doc_id, is_bench,
         list_filter(
           list_distinct([array_to_string(w[i:i+2], ' ')
                          FOR i IN range(1, greatest(len(w)-2, 1)+1)]),
           s -> trim(s) <> '') AS shingles
  FROM docs
)
SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
       len(list_intersect(t.shingles, b.shingles))::BIGINT AS n_common,
       len(b.shingles)::BIGINT AS bench_total,
       round(len(list_intersect(t.shingles, b.shingles)) * 1.0
             / len(b.shingles), 6) AS containment
FROM (SELECT * FROM sh WHERE NOT is_bench) t,
     (SELECT * FROM sh WHERE is_bench AND len(shingles) > 0) b
WHERE round(len(list_intersect(t.shingles, b.shingles)) * 1.0
            / len(b.shingles), 6) >= 0.5
ORDER BY train_id, bench_id
"""


# Stratified quota sample: DuckDB replays the portable md5 draw + window
# rank exactly (identical hex md5 of 'doc_id|salt' in both engines; ties
# broken by the id string, same as sampling.stratified_quota_sample).
_STRATIFIED_SAMPLE_SQL = """
WITH q(source, quota) AS (
  VALUES ('src0', 10), ('src1', 5), ('src2', 25), ('src3', 40)
)
SELECT d.doc_id, d.source
FROM documents d JOIN q ON d.source = q.source
QUALIFY row_number() OVER (
  PARTITION BY d.source
  ORDER BY md5(concat_ws('|', d.doc_id, 'v1')), d.doc_id::VARCHAR
) <= q.quota
ORDER BY doc_id
"""


def _deterministic_split_sql() -> str:
    """Split assignment replay: thresholds come from the SAME helper the
    operator uses (hex of floor(f * 16^8)), so the oracle can never drift
    from the engine's keyspace arithmetic."""
    from aumos_drift_detector_spark.operators.sampling import _hex_threshold

    t_train, t_val = _hex_threshold(0.8), _hex_threshold(0.9)
    return f"""
SELECT doc_id,
       CASE WHEN md5(concat_ws('|', doc_id, 'v1')) < '{t_train}' THEN 'train'
            WHEN md5(concat_ws('|', doc_id, 'v1')) < '{t_val}' THEN 'val'
            ELSE 'test' END AS split
FROM documents ORDER BY doc_id
"""


# Repetition scores: same split/slice semantics as text.repetition_scores
# (whole-document gram for short docs via greatest(...,1)). NULL text gets
# NULL in BOTH fractions — without the CASE gate, greatest() skipping the
# NULL length fabricates one NULL gram that list_distinct drops, so the
# 2gram side would read 1.0 while the operator returns NULL.
_REPETITION_SQL = r"""
WITH docs AS (
  SELECT doc_id, text IS NULL AS is_null,
         regexp_split_to_array(text, '\s+') AS w
  FROM documents
),
g AS (
  SELECT doc_id, is_null, w,
         [array_to_string(w[i:i+1], ' ')
          FOR i IN range(1, greatest(len(w)-1, 1)+1)] AS grams
  FROM docs
)
SELECT doc_id,
       CASE WHEN NOT is_null THEN
         round(1.0 - len(list_distinct(w)) * 1.0 / len(w), 6)
       END AS dup_word_frac,
       CASE WHEN NOT is_null THEN
         round(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 6)
       END AS dup_2gram_frac
FROM g ORDER BY doc_id
"""


def _corpus_pipeline_sql() -> str:
    """End-to-end replay of plans.corpus_pipeline: each CTE is the verified
    oracle fragment of its stage (dedup keep-first-id window, empty-shingle-
    filtered containment, rounded dup_word_frac gate, base-16-polynomial
    weighted draw, hex-threshold split), chained in the pipeline's order.
    Split thresholds come from sampling._hex_threshold so the keyspace
    arithmetic can never drift from the engine's."""
    from aumos_drift_detector_spark.operators.sampling import _hex_threshold

    t_train, t_val = _hex_threshold(0.8), _hex_threshold(0.9)
    return rf"""
WITH dedup AS (
  SELECT * FROM documents
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
),
train AS (
  SELECT * FROM dedup WHERE doc_id % 20 <> 0
),
sh AS (
  SELECT doc_id, is_bench,
         list_filter(
           list_distinct([array_to_string(w[i:i+2], ' ')
                          FOR i IN range(1, greatest(len(w)-2, 1)+1)]),
           s -> trim(s) <> '') AS shingles
  FROM (
    -- decon runs on the RAW pre-dedup train side, mirroring the pipeline
    -- (containment is text-pure: all copies flag together, so the final
    -- survivor set is identical and the dedup shuffle isn't recomputed)
    SELECT doc_id, regexp_split_to_array(text, '\s+') AS w, FALSE AS is_bench
    FROM documents WHERE doc_id % 20 <> 0
    UNION ALL
    SELECT doc_id, regexp_split_to_array(text, '\s+') AS w, TRUE AS is_bench
    FROM documents WHERE doc_id % 20 = 0
  )
),
contaminated AS (
  SELECT DISTINCT t.doc_id
  FROM (SELECT * FROM sh WHERE NOT is_bench) t,
       (SELECT * FROM sh WHERE is_bench AND len(shingles) > 0) b
  WHERE round(len(list_intersect(t.shingles, b.shingles)) * 1.0
              / len(b.shingles), 6) >= 0.5
),
quality AS (
  SELECT tr.* FROM train tr
  WHERE tr.doc_id NOT IN (SELECT doc_id FROM contaminated)
    AND round(1.0 - len(list_distinct(regexp_split_to_array(tr.text, '\s+')))
              * 1.0 / len(regexp_split_to_array(tr.text, '\s+')), 6)
        <= 0.6
),
sampled AS (
  SELECT * FROM (
    SELECT *, md5(concat_ws('|', doc_id, 'v1')) AS h FROM quality
  )
  WHERE (list_sum([(strpos('0123456789abcdef', h[i]) - 1)::BIGINT
                     * (1::BIGINT << (4 * (8 - i)))
                     FOR i IN range(1, 9)]))::BIGINT
          < floor(least(greatest(
              1.0::DOUBLE / (1.0::DOUBLE + n_chars / 300.0::DOUBLE),
              0.0::DOUBLE), 1.0::DOUBLE) * 4294967296.0::DOUBLE)::BIGINT
),
labeled AS (
  -- split draws from md5(id|'v1:split'), NOT the sampling hash h: the
  -- pipeline decorrelates the two decisions (survivors have small h)
  SELECT *,
         CASE WHEN md5(concat_ws('|', doc_id, 'v1:split')) < '{t_train}'
                THEN 'train'
              WHEN md5(concat_ws('|', doc_id, 'v1:split')) < '{t_val}'
                THEN 'val'
              ELSE 'test' END AS split
  FROM sampled
)
SELECT split, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_size
FROM labeled GROUP BY split ORDER BY split
"""


# Weighted sample: numeric replay of sampling.weighted_sample — the first 8
# md5 hex chars as an integer (same base-16 polynomial as the packing
# oracle) compared against floor(clamp(p,0,1) * 2^32); p's double
# arithmetic (1.0 / (1.0 + n_chars/300.0)) is IEEE-identical in DuckDB.
_WEIGHTED_SAMPLE_SQL = """
WITH d AS (
  SELECT doc_id, lang, n_chars,
         md5(concat_ws('|', doc_id, 'v1')) AS h,
         CASE WHEN lang = 'en' THEN 1.0::DOUBLE
              WHEN lang = 'zh' THEN 0.0::DOUBLE
              ELSE 1.0::DOUBLE / (1.0::DOUBLE + n_chars / 300.0::DOUBLE)
         END AS p
  FROM documents
)
SELECT doc_id, lang, n_chars
FROM d
WHERE (list_sum([(strpos('0123456789abcdef', h[i]) - 1)::BIGINT
                 * (1::BIGINT << (4 * (8 - i)))
                 FOR i IN range(1, 9)]))::BIGINT
      < floor(least(greatest(p, 0.0::DOUBLE), 1.0::DOUBLE)
              * 4294967296.0::DOUBLE)::BIGINT
ORDER BY doc_id
"""


def _corpus_quality_mix_sql() -> str:
    """Replay of plans.corpus_quality_mix_pipeline: the quality-model
    fragment (md5 feature hash + sigmoid, round-6) feeds the weighted-draw
    fragment (salt 'v2'), whose survivors feed the mixture fragment
    (counts -> min n/w scale -> acceptance, salt 'v2:mix'), then the
    hex-threshold split (salt 'v2:split'). Weights/targets are the SAME
    Python objects the Spark query uses."""
    from aumos_drift_detector_spark.operators.sampling import _hex_threshold

    lex = ", ".join(
        f"({fid}, {wt!r}::DOUBLE)" for fid, wt in sorted(_quality_weights().items())
    )
    t_train, t_val = _hex_threshold(0.8), _hex_threshold(0.9)
    draw = (
        "(list_sum([(strpos('0123456789abcdef', {h}[i]) - 1)::BIGINT"
        " * (1::BIGINT << (4 * (8 - i))) FOR i IN range(1, 9)]))::BIGINT"
    )
    bound = (
        "floor(least(greatest({p}, 0.0::DOUBLE), 1.0::DOUBLE)"
        " * 4294967296.0::DOUBLE)::BIGINT"
    )
    return f"""
WITH w(feature, weight) AS (VALUES {lex}),
words AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
feats AS (
  SELECT doc_id,
         (list_sum([(strpos('0123456789abcdef', md5(word)[i]) - 1)::BIGINT
                    * (1::BIGINT << (4 * (15 - i)))
                    FOR i IN range(1, 16)]))::BIGINT
         % {_QUALITY_N_FEATURES} AS feature
  FROM words
),
ws AS (
  SELECT f.doc_id, sum(w.weight) AS s
  FROM feats f JOIN w USING (feature) GROUP BY f.doc_id
),
scored AS (
  -- NULL text scores NULL (as the engine's map path does); the NULL then
  -- fails the draw comparison below, dropping the row in BOTH engines
  SELECT d.doc_id, d.source,
         CASE WHEN d.text IS NULL THEN NULL
              ELSE round(1.0 / (1.0 + exp(-({_QUALITY_BIAS!r}::DOUBLE
                                           + coalesce(ws.s, 0.0)))), 6)
         END AS q
  FROM documents d LEFT JOIN ws USING (doc_id)
),
samp AS (
  SELECT * FROM (
    SELECT *, md5(concat_ws('|', doc_id, 'v2')) AS h FROM scored
  )
  WHERE {draw.format(h='h')} < {bound.format(p='q')}
),
tgt(source, wgt) AS (
  VALUES ('src0', 0.375::DOUBLE), ('src1', 0.125::DOUBLE),
         ('src2', 0.125::DOUBLE), ('src3', 0.0::DOUBLE),
         ('src4', 0.25::DOUBLE),  ('src5', 0.125::DOUBLE)
),
cnt AS (
  SELECT source, count(*)::BIGINT AS n FROM samp GROUP BY source
),
j AS (SELECT cnt.source, cnt.n, tgt.wgt FROM cnt JOIN tgt USING (source)),
c AS (SELECT min(n::DOUBLE / wgt) AS c FROM j WHERE wgt > 0),
p AS (
  SELECT source,
         round(least(1.0::DOUBLE, (SELECT c FROM c) * wgt / n::DOUBLE), 6) AS p
  FROM j
),
bal AS (
  SELECT * FROM (
    SELECT s.doc_id, s.source, s.q, p.p AS pp,
           md5(concat_ws('|', s.doc_id, 'v2:mix')) AS hm
    FROM samp s JOIN p USING (source)
  )
  WHERE {draw.format(h='hm')} < {bound.format(p='pp')}
)
SELECT doc_id, source, q AS quality_score,
       CASE WHEN md5(concat_ws('|', doc_id, 'v2:split')) < '{t_train}'
              THEN 'train'
            WHEN md5(concat_ws('|', doc_id, 'v2:split')) < '{t_val}'
              THEN 'val'
            ELSE 'test' END AS split
FROM bal ORDER BY doc_id
"""


def _dedup_clusters_sql(rounds: int = 12) -> str:
    """Cluster replay: exact-Jaccard pairs (same shingle construction as the
    decontamination oracle, same integer-ratio threshold as
    ngram_jaccard_pairs), then min-label propagation WITH POINTER JUMPING —
    each unrolled round takes the min over neighbors' labels and then jumps
    through its own label, so ``rounds`` rounds converge for any diameter
    up to 2^rounds. Labels converge to the component minimum — the same
    canonical root the alternating star algorithm in operators/graph.py
    provably reaches."""
    chain = """
WITH docs AS MATERIALIZED (
  -- coalesce matches Spark word_grams on NULL text: both degenerate to
  -- the single '' shingle, so NULL/empty docs pair identically
  SELECT doc_id, regexp_split_to_array(coalesce(text, ''), '\\s+') AS w
  FROM documents
),
sh AS MATERIALIZED (
  SELECT doc_id,
         list_distinct([array_to_string(w[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(w)-2, 1)+1)]) AS s
  FROM docs
),
pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s)) * 1.0
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
),
edges2 AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
r0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, src AS lab FROM edges2
)"""
    prev = "r0"
    for k in range(1, rounds + 1):
        chain += f""",
p{k} AS MATERIALIZED (
  SELECT n.node, least(n.lab, coalesce(m.minlab, n.lab)) AS lab
  FROM {prev} n
  LEFT JOIN (SELECT e.src AS node, min(r.lab) AS minlab
             FROM edges2 e JOIN {prev} r ON r.node = e.dst
             GROUP BY e.src) m USING (node)
),
r{k} AS MATERIALIZED (
  SELECT a.node, least(a.lab, b.lab) AS lab
  FROM p{k} a JOIN p{k} b ON b.node = a.lab
)"""
        prev = f"r{k}"
    chain += f"""
SELECT node AS doc_id, lab AS cluster_id, node = lab AS is_survivor
FROM {prev}
ORDER BY doc_id
"""
    return chain


def _quality_model_sql() -> str:
    """Quality-model replay: per-word md5_60 feature ids (strpos digit sum,
    same arithmetic as the weighted-sample draw but 15 chars), a join onto
    the SAME lexicon VALUES the Spark map literal is built from
    (_quality_weights, so oracle and engine can never drift), then the
    sigmoid at round-6. Summation order differs between engines only in
    >1-lexicon-hit docs — 1-ulp effects far below the 1e-6 rounding edge."""
    values = ", ".join(
        f"({fid}, {wt!r}::DOUBLE)" for fid, wt in sorted(_quality_weights().items())
    )
    return f"""
WITH w(feature, weight) AS (VALUES {values}),
words AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
feats AS (
  SELECT doc_id,
         (list_sum([(strpos('0123456789abcdef', md5(word)[i]) - 1)::BIGINT
                    * (1::BIGINT << (4 * (15 - i)))
                    FOR i IN range(1, 16)]))::BIGINT
         % {_QUALITY_N_FEATURES} AS feature
  FROM words
),
s AS (
  SELECT f.doc_id, sum(w.weight) AS s
  FROM feats f JOIN w USING (feature) GROUP BY f.doc_id
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE round(1.0 / (1.0 + exp(-({_QUALITY_BIAS!r}::DOUBLE
                                         + coalesce(s.s, 0.0)))), 6)
       END AS quality_score
FROM documents d LEFT JOIN s USING (doc_id)
ORDER BY doc_id
"""


# Incremental dedup: the Bloom prefilter is semantically invisible (false
# positives are re-admitted by the verification join, misses are provably
# new), so the oracle is the exact anti-join the operator guarantees:
# batch rows whose content fingerprint doesn't appear in the corpus.
# concat_ws('\\x1f', text) over ONE column is the column itself, so
# md5(text) IS the operator's _content_fp for this query.
_INCREMENTAL_DEDUP_SQL = """
WITH batch AS (
  SELECT doc_id + 100000 AS doc_id,
         CASE WHEN doc_id % 2 = 0 THEN text
              ELSE concat_ws(' ', text, 'novel', doc_id::VARCHAR)
         END AS text
  FROM documents
)
SELECT b.doc_id, length(b.text)::INTEGER AS n_chars_out
FROM batch b
WHERE md5(b.text) NOT IN (SELECT md5(text) FROM documents)
ORDER BY doc_id
"""


# Mixture rebalance: replay of sampling.mixture_rebalance — per-source
# counts, the min n/w scale over positive weights, acceptance
# p = round(least(1, c*w/n), 6), then the same md5 keep draw as the
# weighted-sample oracle. Target weights are dyadic (k/8), so the
# normalized Python doubles and these SQL literals are the SAME doubles
# and every division/multiplication is IEEE-identical across engines.
_MIXTURE_REBALANCE_SQL = """
WITH w(source, wgt) AS (
  VALUES ('src0', 0.375::DOUBLE), ('src1', 0.125::DOUBLE),
         ('src2', 0.125::DOUBLE), ('src3', 0.0::DOUBLE),
         ('src4', 0.25::DOUBLE),  ('src5', 0.125::DOUBLE)
),
n AS (
  SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY source
),
j AS (SELECT n.source, n.n, w.wgt FROM n JOIN w USING (source)),
c AS (SELECT min(n::DOUBLE / wgt) AS c FROM j WHERE wgt > 0),
p AS (
  SELECT source,
         round(least(1.0::DOUBLE, (SELECT c FROM c) * wgt / n::DOUBLE), 6) AS p
  FROM j
),
d AS (
  SELECT doc_id, dd.source, p.p,
         md5(concat_ws('|', doc_id, 'v1')) AS h
  FROM documents dd JOIN p USING (source)
)
SELECT doc_id, source
FROM d
WHERE (list_sum([(strpos('0123456789abcdef', h[i]) - 1)::BIGINT
                 * (1::BIGINT << (4 * (8 - i)))
                 FOR i IN range(1, 9)]))::BIGINT
      < floor(least(greatest(p, 0.0::DOUBLE), 1.0::DOUBLE)
              * 4294967296.0::DOUBLE)::BIGINT
ORDER BY doc_id
"""


def _pii_scrub_sql() -> str:
    """PII replay: the pattern strings come from the SAME PII_PATTERNS tuple
    the operator compiles (RE2/Java-portable by construction), so oracle and
    engine can never drift; counts via regexp_extract_all, redaction via
    nested regexp_replace in the contract's email -> ip -> phone order."""
    from aumos_drift_detector_spark.operators.pii import PII_PATTERNS

    count_cols = ",\n       ".join(
        f"len(regexp_extract_all(text, '{pat}'))::BIGINT AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    total = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))"
        for _, pat, _ in PII_PATTERNS
    )
    scrub = "text"
    for _, pat, placeholder in PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '{placeholder}', 'g')"
    return f"""
WITH aug AS (
  SELECT doc_id,
         concat_ws(' ', text,
                   concat('user', doc_id::VARCHAR, '@example.com'),
                   concat('10.0.', (doc_id % 256)::VARCHAR, '.7'),
                   'call',
                   concat('555-', lpad(doc_id::VARCHAR, 7, '0'))) AS text
  FROM documents
)
SELECT doc_id,
       {count_cols},
       ({total})::BIGINT AS n_pii_total,
       {scrub} AS scrubbed_text
FROM aug ORDER BY doc_id
"""


# Heavy hitters: exact top-k replay — unnest the lowercased whitespace
# split, drop empty tokens (Spark's != '' filter), QUALIFY the same
# (count DESC, word) deterministic ranking.
_HEAVY_HITTERS_SQL = r"""
WITH words AS (
  SELECT lang, unnest(regexp_split_to_array(lower(text), '\s+')) AS word
  FROM documents
),
counts AS (
  SELECT lang, word, count(*)::BIGINT AS n
  FROM words WHERE word <> '' GROUP BY lang, word
)
SELECT lang, word, n,
       row_number() OVER (PARTITION BY lang ORDER BY n DESC, word)::BIGINT
         AS rank
FROM counts
QUALIFY rank <= 5
ORDER BY lang, rank
"""


# Sequence packing: exact replay of packing.next_fit_pack. Bucket = first
# EIGHT md5 hex chars mod 16 (base-16 strpos polynomial == Spark
# conv(substring(h,1,8),16,10) — 8 chars so n_buckets >> 256 stays uniform);
# within-bucket order = (md5, id); the next-fit accumulator advances one
# document per recursion level across ALL buckets in lockstep. Oversize
# docs (> budget) occupy their own pack via the acc > 0 guard, same as the
# pandas kernel.
_PACKING_SQL = """
WITH RECURSIVE
d AS (
  SELECT doc_id, n_chars::BIGINT AS sz,
         md5(concat_ws('|', doc_id, 'v1')) AS h
  FROM documents WHERE n_chars IS NOT NULL
),
db AS (
  SELECT *,
         ((list_sum([(strpos('0123456789abcdef', h[i]) - 1)::BIGINT
                     * (1::BIGINT << (4 * (8 - i)))
                     FOR i IN range(1, 9)])) % 16)::BIGINT AS bucket
  FROM d
),
idxd AS (
  SELECT *,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY h, doc_id::VARCHAR) AS idx
  FROM db
),
st AS (
  SELECT bucket, 0::BIGINT AS idx, 0::BIGINT AS acc,
         0::BIGINT AS pack, (-1)::BIGINT AS pos
  FROM (SELECT DISTINCT bucket FROM idxd)
  UNION ALL
  SELECT s.bucket, i.idx,
         CASE WHEN s.acc > 0 AND s.acc + i.sz > 2048
              THEN i.sz ELSE s.acc + i.sz END,
         CASE WHEN s.acc > 0 AND s.acc + i.sz > 2048
              THEN s.pack + 1 ELSE s.pack END,
         CASE WHEN s.acc > 0 AND s.acc + i.sz > 2048
              THEN 0 ELSE s.pos + 1 END
  FROM st s JOIN idxd i ON i.bucket = s.bucket AND i.idx = s.idx + 1
)
SELECT i.doc_id, i.sz AS size, i.bucket::INTEGER AS bucket,
       printf('%04d-%06d', i.bucket, s.pack) AS pack_id,
       s.pos::BIGINT AS pack_pos
FROM st s JOIN idxd i ON i.bucket = s.bucket AND i.idx = s.idx
WHERE s.idx >= 1
ORDER BY doc_id
"""


# CUSUM: deterministic per-step recurrence (normalize by global mean/sample
# std, two-sided accumulators with k=0.5 drift allowance, reset on exceed,
# report when > min_separation apart — trend_analyzer.py:577-636). A DuckDB
# recursive CTE replays it exactly: one recursion level per ordered row,
# every event_type advanced in lockstep via the idx+1 join. The pos/neg
# anchors MUST be CAST(0.0 AS DOUBLE): a bare 0.0 literal types the
# accumulator column DECIMAL(2,1), silently rounding every step to one
# decimal (measured: 4 flipped change points at sf0.01).
_CUSUM_SQL = """
WITH RECURSIVE
ev AS (
  SELECT event_type,
         row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1 AS idx,
         event_id, value::DOUBLE AS v
  FROM events WHERE value IS NOT NULL
),
stats AS (
  SELECT event_type, avg(v) AS mean,
         CASE WHEN coalesce(stddev_samp(v), 0) = 0 THEN 1.0
              ELSE stddev_samp(v) END AS std,
         count(*) AS n
  FROM ev GROUP BY event_type
),
z AS (
  SELECT ev.event_type, ev.idx, ev.event_id, ev.v, (ev.v - s.mean) / s.std AS z
  FROM ev JOIN stats s USING (event_type) WHERE s.n >= 5
),
rec AS (
  SELECT event_type, CAST(-1 AS BIGINT) AS idx,
         CAST(0.0 AS DOUBLE) AS pos, CAST(0.0 AS DOUBLE) AS neg,
         CAST(-4 AS BIGINT) AS last, FALSE AS hit
  FROM stats WHERE n >= 5
  UNION ALL
  SELECT z.event_type, z.idx,
    CASE WHEN s.exceeded THEN 0.0 ELSE s.np END,
    CASE WHEN s.exceeded THEN 0.0 ELSE s.nn END,
    CASE WHEN s.exceeded AND z.idx - r.last > 3 THEN z.idx ELSE r.last END,
    s.exceeded AND z.idx - r.last > 3
  FROM rec r
  JOIN z ON z.event_type = r.event_type AND z.idx = r.idx + 1
  CROSS JOIN LATERAL (
    SELECT greatest(0.0, r.pos + z.z - 0.5) AS np,
           greatest(0.0, r.neg - z.z - 0.5) AS nn,
           greatest(0.0, r.pos + z.z - 0.5) > 4.0
             OR greatest(0.0, r.neg - z.z - 0.5) > 4.0 AS exceeded
  ) s
)
SELECT r.event_type, r.idx AS change_index, z.event_id AS seq,
       round(z.v, 6) AS value
FROM rec r JOIN z ON z.event_type = r.event_type AND z.idx = r.idx
WHERE r.hit
ORDER BY r.event_type, r.idx
"""


# Embedding near-dup: brute-force exact-cosine pair set at the threshold.
# Embeddings cast FLOAT[] -> DOUBLE[] so list_dot_product accumulates in
# double like the Spark side's cast("double") aggregates.
_EMBEDDING_NEARDUP_SQL = """
WITH both_v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id, embedding::DOUBLE[] AS e
  FROM embeddings WHERE vec_id < 20
),
norms AS (
  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM both_v
)
SELECT a.vec_id::BIGINT AS id_a, b.vec_id::BIGINT AS id_b,
       round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine
FROM norms a JOIN norms b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.95
ORDER BY id_a, id_b
"""


# SimHash: full-pipeline replay (r5). hash_fn='md5_60' makes the word hash
# engine-portable (base-16 digit sum of the first 15 md5 hex chars), so
# DuckDB recomputes the 60-bit majority-vote signatures and brute-forces
# hamming <= 3 over all pairs via bit_count(xor). Matching the Spark side
# also proves the pigeonhole chunk join (dedup.py:simhash_candidates) has
# exact recall at max_hamming < n_chunks.
_SIMHASH_SQL = r"""
WITH words AS (
  SELECT doc_id::VARCHAR AS id, unnest(regexp_split_to_array(text, '\s+')) AS w
  FROM documents
),
wh AS (
  SELECT id,
         list_sum([ (strpos('0123456789abcdef', md5(w)[i]) - 1)::BIGINT
                    * (1::BIGINT << (4*(15-i))) FOR i IN range(1,16)])::BIGINT AS h
  FROM words
),
sigs AS (
  SELECT id, list_sum([
      CASE WHEN 2*len(list_filter(hs, x -> (x >> b) & 1 = 1)) > len(hs)
           THEN (1::BIGINT << b) ELSE 0 END
      FOR b IN range(0, 60)])::BIGINT AS sig
  FROM (SELECT id, list(h) AS hs FROM wh GROUP BY id)
)
SELECT a.id AS id_a, b.id AS id_b, bit_count(xor(a.sig, b.sig))::INT AS hamming
FROM sigs a JOIN sigs b ON a.id < b.id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
ORDER BY id_a, id_b
"""


def _adwin_sql(n_stages: int = 12, delta: float = 0.002) -> str:
    """ADWIN full-replay oracle (r5): a DuckDB recursive CTE advances every
    event_type's exponential-histogram state machine in lockstep, one
    recursion level per ordered row (the cusum_events replay pattern).

    State is three parallel LIST columns in scan order (lvl asc, newest
    first): bucket sums (DOUBLE[]), sizes (BIGINT[]), levels (INT[]) —
    bucket variances are unobservable (they never affect control flow or
    output) and are dropped. Each step: prepend the new singleton, run
    ``n_stages`` unrolled compaction stages (each level overflowing
    max_buckets=5 merges its two OLDEST buckets into the next level — at
    most one merge per level per update, like a binary-counter carry), then
    scan head prefixes newest-first for the first cut with
    ``|head_mean - tail_mean| >= sqrt(ln(4W/delta)/(2W))`` and truncate.
    Eviction always consumes whole tail buckets (n_drop equals the tail's
    exact element count), so the fractional branch of concept.AdwinDetector
    ._evict_tail is unreachable from a scan-triggered cut. n_stages=12
    covers streams up to ~5*2^12 rows (sf0.01 groups are ~2k).

    The binary err stream ((value>=10)::double) keeps every bucket sum an
    exact small integer in double, so head/tail means are exact IEEE
    divisions in both engines — parity is deterministic, not
    1-ulp-lucky. No '{}' braces so a driver-side .format() is harmless.

    Performance shape: the recursion is inherently one level per stream
    position (all event_types advance in lockstep), so wall time is
    dominated by per-iteration executor overhead, not data volume. The
    whole step (insert -> carry cascade -> prefix sums -> cut scan ->
    truncate) is therefore expressed as ONE ``CROSS JOIN LATERAL`` whose
    body is a chain of nested pure-projection derived tables — measured
    ~3-5x faster than the naive one-lateral-per-stage form (353s -> ~70s
    at sf0.01), because DuckDB fuses the projection chain into a single
    pipeline instead of 15 join operators per iteration. Prefix-sum
    arrays ``ps``/``pn`` are materialized once per step so the cut scan
    and the truncation branch index them O(1) instead of re-summing
    list slices per candidate split."""
    # innermost projection: prepend the new singleton bucket
    inner = """
      SELECT list_prepend(z.v, r.sl) AS sl,
             list_prepend(CAST(1 AS BIGINT), r.nl) AS nl,
             list_prepend(0, r.ll) AS ll,
             r.t + z.v AS t1, r.w + 1 AS w1
"""
    # carry cascade: two nested projections per level (locate, then merge)
    for i in range(n_stages):
        inner = f"""
      SELECT CASE WHEN cnt > 5 THEN list_concat(list_concat(sl[1:b-2], [sl[b-1] + sl[b]]), sl[b+1:]) ELSE sl END AS sl,
             CASE WHEN cnt > 5 THEN list_concat(list_concat(nl[1:b-2], [nl[b-1] + nl[b]]), nl[b+1:]) ELSE nl END AS nl,
             CASE WHEN cnt > 5 THEN list_concat(list_concat(ll[1:b-2], [{i}+1]), ll[b+1:]) ELSE ll END AS ll,
             t1, w1
      FROM (
        SELECT sl, nl, ll, t1, w1,
               len(list_filter(ll, x -> x = {i})) AS cnt,
               len(list_filter(ll, x -> x <= {i})) AS b
        FROM ({inner})
      )
"""
    step = f"""
    SELECT CASE WHEN cutk IS NULL THEN sl ELSE sl[1:cutk] END AS sl,
           CASE WHEN cutk IS NULL THEN nl ELSE nl[1:cutk] END AS nl,
           CASE WHEN cutk IS NULL THEN ll ELSE ll[1:cutk] END AS ll,
           CASE WHEN cutk IS NULL THEN t1 ELSE ps[cutk] END AS t,
           CASE WHEN cutk IS NULL THEN w1 ELSE pn[cutk] END AS w,
           cutk IS NOT NULL AS hit
    FROM (
      SELECT sl, nl, ll, t1, w1, ps, pn,
             CASE WHEN w1 < 2 THEN NULL ELSE
               list_min(list_filter(
                 [CASE WHEN w1 - pn[k] > 0
                       AND abs(ps[k] / pn[k] - (t1 - ps[k]) / (w1 - pn[k]))
                           >= sqrt(ln(4.0 * w1 / {delta}) / (2.0 * w1))
                       THEN k END
                  FOR k IN range(1, len(ps)+1)],
                 x -> x IS NOT NULL)) END AS cutk
      FROM (
        SELECT sl, nl, ll, t1, w1,
               [list_sum(sl[1:k])::DOUBLE FOR k IN range(1, len(sl)+1)] AS ps,
               [list_sum(nl[1:k])::BIGINT FOR k IN range(1, len(nl)+1)] AS pn
        FROM ({inner})
      )
    )
"""
    return f"""
WITH RECURSIVE
ev AS (
  SELECT event_type,
         row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1 AS idx,
         event_id AS seq,
         (CASE WHEN value >= 10.0 THEN 1.0 ELSE 0.0 END)::DOUBLE AS v
  FROM events WHERE value IS NOT NULL
),
rec AS (
  SELECT event_type, CAST(-1 AS BIGINT) AS idx,
         CAST([] AS DOUBLE[]) AS sl, CAST([] AS BIGINT[]) AS nl, CAST([] AS INT[]) AS ll,
         CAST(0.0 AS DOUBLE) AS t, CAST(0 AS BIGINT) AS w, FALSE AS hit
  FROM (SELECT DISTINCT event_type FROM events)
  UNION ALL
  SELECT z.event_type, z.idx, sc.sl, sc.nl, sc.ll, sc.t, sc.w, sc.hit
  FROM rec r
  JOIN ev z ON z.event_type = r.event_type AND z.idx = r.idx + 1
  CROSS JOIN LATERAL (
{step}
  ) sc
),
hits AS (
  SELECT r.event_type, z.seq, z.v AS value, 'drift' AS level,
         r.w AS window_size, (r.idx + 1)::BIGINT AS n_updates
  FROM rec r JOIN ev z ON z.event_type = r.event_type AND z.idx = r.idx
  WHERE r.hit
),
-- replay_detector(events_only=True) parity: a stream that never drifts
-- still emits ONE terminal row (level='normal', value=NaN, seq = the
-- group's LAST event_id including NULL-valued rows, final window/update
-- counts). The recursion's max-idx row per group IS that final state;
-- rec is seeded from raw events (not ev) so all-NULL groups keep their
-- idx=-1 seed (w=0, n_updates=0) instead of vanishing.
final_state AS (
  SELECT r.event_type, r.w, (r.idx + 1)::BIGINT AS n_updates
  FROM rec r
  JOIN (SELECT event_type, max(idx) AS mi FROM rec GROUP BY event_type) q
    ON q.event_type = r.event_type AND q.mi = r.idx
),
terminal AS (
  SELECT f.event_type, l.seq, 'nan'::DOUBLE AS value, 'normal' AS level,
         f.w AS window_size, f.n_updates
  FROM final_state f
  JOIN (SELECT event_type, max(event_id) AS seq FROM events GROUP BY event_type) l
    ON l.event_type = f.event_type
  WHERE f.event_type NOT IN (SELECT event_type FROM hits)
)
SELECT * FROM hits UNION ALL SELECT * FROM terminal
ORDER BY event_type, seq
"""


def _minhash_sql() -> str:
    """MinHash full-pipeline replay (r5): DuckDB recomputes the 3-word
    shingles (same slice semantics as dedup.word_shingles, incl. the
    whole-document shingle for short docs), the portable md5_60 base hash,
    the 64 seeded affine permutations mod 2^31-1 (constants embedded as
    parallel list literals — seed 42, identical to _permutation_constants),
    and the component-equality estimator, brute-forced over all pairs at
    est_jaccard >= 0.5. No '{}' braces anywhere so a driver-side .format()
    cannot mangle it."""
    from aumos_drift_detector_spark.operators.dedup import _permutation_constants

    consts = _permutation_constants(64, 42)
    a_list = "([" + ", ".join(str(a) for a, _ in consts) + "]::BIGINT[])"
    b_list = "([" + ", ".join(str(b) for _, b in consts) + "]::BIGINT[])"
    return r"""
WITH docs AS (
  SELECT doc_id::VARCHAR AS id, regexp_split_to_array(text, '\s+') AS w
  FROM documents
),
sh AS (
  SELECT id, list_distinct([array_to_string(w[i:i+2], ' ')
                            FOR i IN range(1, greatest(len(w)-2, 1)+1)]) AS shingles
  FROM docs
),
hs AS (
  SELECT id,
         [ (list_sum([ (strpos('0123456789abcdef', md5(s)[i]) - 1)::BIGINT
                       * (1::BIGINT << (4*(15-i))) FOR i IN range(1,16)])::BIGINT)
           % 2147483647 FOR s IN shingles ] AS hl
  FROM sh
),
sigs AS (
  SELECT id, [ list_min([ (PERM_A[j] * h + PERM_B[j]) % 2147483647 FOR h IN hl ])
               FOR j IN range(1, 65) ] AS sig
  FROM hs
)
SELECT a.id AS id_a, b.id AS id_b,
       round(list_sum([CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END
                       FOR i IN range(1,65)]) / 64.0, 6) AS est_jaccard
FROM sigs a JOIN sigs b ON a.id < b.id
WHERE list_sum([CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END
                FOR i IN range(1,65)]) / 64.0 >= 0.5
ORDER BY id_a, id_b
""".replace("PERM_A", a_list).replace("PERM_B", b_list)


# chi2: DuckDB lacks the incomplete gamma for the p-value, so the oracle
# compares the SQL-computable statistic + dof + sizes; the Spark side emits
# the same columns (p-value parity is covered by tests/test_numeric.py).
def _q_chi2_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aumos_drift_detector_spark.operators.drift import chi2_test_grouped
    from aumos_drift_detector_spark.functions.kernels import chi2_from_counts

    orders = _t(spark, sf_dir, "orders")
    # ONE scan: both sides' category counts from a single conditional
    # aggregation (was two collect jobs = two scans of orders; r3 BENCH
    # showed the doubled scan as the whole wall)
    counts = (
        orders.where(F.col("o_orderstatus").isin("F", "O"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum((F.col("o_orderstatus") == "F").cast("long")).alias("c_ref"),
            F.sum((F.col("o_orderstatus") == "O").cast("long")).alias("c_prod"),
        )
        .collect()
    )
    rc = {r["o_orderpriority"]: r["c_ref"] for r in counts if r["c_ref"]}
    pc = {r["o_orderpriority"]: r["c_prod"] for r in counts if r["c_prod"]}
    cats = sorted(set(rc) | set(pc))
    v = chi2_from_counts(cats, [rc.get(c, 0) for c in cats], [pc.get(c, 0) for c in cats])
    schema = T.StructType(
        [
            T.StructField("statistic", T.DoubleType()),
            T.StructField("dof", T.LongType()),
            T.StructField("n_ref", T.LongType()),
            T.StructField("n_prod", T.LongType()),
        ]
    )
    return spark.createDataFrame(
        [(round(v.details["statistic"], 4), int(v.details["degrees_of_freedom"]),
          int(v.reference_size), int(v.production_size))],
        schema,
    )




# Exact-substring (k-word span) dedup replay: DuckDB shingles every
# document the same way (lowercased whitespace words, k=8 space-joined
# slices), finds spans in >= 2 distinct docs by RAW SPAN TEXT (the Spark
# side groups by xxhash64(span) — matching counts prove the hash layer
# lossless), unions the covered word positions, and recomputes the
# cleaned text digest word-for-word. See operators/spans.py.
def _span_dedup_sql(k: int = 8, min_dup_docs: int = 2) -> str:
    return f"""
WITH words AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             w -> w <> '') AS ws
  FROM documents
),
base AS (SELECT * FROM words WHERE len(ws) > 0),
spans AS (
  SELECT doc_id, i AS pos, array_to_string(list_slice(ws, i+1, i+{k}), ' ') AS span
  FROM (SELECT doc_id, ws, unnest(range(len(ws) - {k} + 1)) AS i
        FROM base WHERE len(ws) >= {k})
),
dup AS (
  SELECT span
  FROM (SELECT span, count(DISTINCT doc_id) AS nd FROM spans GROUP BY span)
  WHERE nd >= {min_dup_docs}
),
duppos AS (SELECT s.doc_id, s.pos FROM spans s JOIN dup USING (span)),
covered AS (
  SELECT DISTINCT doc_id, pos + j AS wpos
  FROM (SELECT doc_id, pos, unnest(range({k})) AS j FROM duppos)
),
wp AS (SELECT doc_id, generate_subscripts(ws, 1) - 1 AS wpos, unnest(ws) AS word
       FROM base),
cleaned AS (
  SELECT w.doc_id,
         array_to_string(list(w.word ORDER BY w.wpos), ' ') AS cleaned_text,
         count(*)::BIGINT AS cleaned_n_words
  FROM wp w ANTI JOIN covered c ON w.doc_id = c.doc_id AND w.wpos = c.wpos
  GROUP BY w.doc_id
),
stats AS (SELECT doc_id, len(ws)::BIGINT AS n_words,
                 greatest(len(ws) - {k} + 1, 0)::BIGINT AS n_spans
          FROM base),
dsc AS (SELECT doc_id, count(*)::BIGINT AS dup_spans FROM duppos GROUP BY doc_id),
cc AS (SELECT doc_id, count(*)::BIGINT AS covered_words FROM covered GROUP BY doc_id)
SELECT s.doc_id, s.n_words, s.n_spans,
       coalesce(d.dup_spans, 0) AS dup_spans,
       coalesce(c.covered_words, 0) AS covered_words,
       round(coalesce(c.covered_words, 0) / s.n_words, 6) AS dup_span_frac,
       coalesce(cl.cleaned_n_words, 0) AS cleaned_n_words,
       md5(coalesce(cl.cleaned_text, '')) AS cleaned_md5
FROM stats s
LEFT JOIN dsc d USING (doc_id)
LEFT JOIN cc c USING (doc_id)
LEFT JOIN cleaned cl USING (doc_id)
"""


# Stupid-backoff trigram LM replay: identical context extraction (list
# indexing, NULL under-run backs off), identical count dims, identical
# CASE order and float arithmetic ((0.4*b)/u left-assoc, 0.5 OOV
# pseudo-count over the corpus total). See operators/lm.py.
_LM_PERPLEXITY_SQL = r"""
WITH words AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
                             w -> w <> '') AS ws
  FROM documents
),
ctx AS (
  SELECT doc_id, w,
         CASE WHEN p >= 2 THEN ws[p-1] END AS w_1,
         CASE WHEN p >= 3 THEN ws[p-2] END AS w_2
  FROM (SELECT doc_id, ws, generate_subscripts(ws, 1) AS p, unnest(ws) AS w
        FROM words WHERE len(ws) > 0)
),
uni AS (SELECT w, count(*)::BIGINT AS u_c FROM ctx GROUP BY w),
bi  AS (SELECT w_1 AS w1, w AS w2, count(*)::BIGINT AS b_c FROM ctx
        WHERE w_1 IS NOT NULL GROUP BY 1, 2),
tri AS (SELECT w_2 AS w1, w_1 AS w2, w AS w3, count(*)::BIGINT AS t_c FROM ctx
        WHERE w_2 IS NOT NULL GROUP BY 1, 2, 3),
tot AS (SELECT sum(u_c)::DOUBLE AS total_tokens FROM uni),
scored AS (
  SELECT c.doc_id,
    log10(CASE
      WHEN t.t_c IS NOT NULL AND cb.b_c IS NOT NULL THEN t.t_c::DOUBLE / cb.b_c
      WHEN b.b_c IS NOT NULL AND cu.u_c IS NOT NULL THEN 0.4 * b.b_c / cu.u_c
      ELSE 0.4 * 0.4 * coalesce(u.u_c::DOUBLE, 0.5) / (SELECT total_tokens FROM tot)
    END) AS lp
  FROM ctx c
  LEFT JOIN tri t  ON c.w_2 = t.w1 AND c.w_1 = t.w2 AND c.w = t.w3
  LEFT JOIN bi cb  ON c.w_2 = cb.w1 AND c.w_1 = cb.w2
  LEFT JOIN bi b   ON c.w_1 = b.w1 AND c.w = b.w2
  LEFT JOIN uni cu ON c.w_1 = cu.w
  LEFT JOIN uni u  ON c.w = u.w
)
SELECT doc_id, count(*)::BIGINT AS n_scored,
       round(sum(lp), 6) AS sum_log10,
       round(sum(lp) / count(*), 6) AS avg_logprob10,
       round(power(10, -sum(lp) / count(*)), 4) AS ppl_proxy
FROM scored GROUP BY doc_id
"""


# BPE encode replay: DuckDB re-runs the min-rank/leftmost merge loop as
# a recursive CTE over the DISTINCT-word dim (same Zipf dedup as the
# Spark plan), using the same fixed merge table.  map lookups key on
# l || chr(1) || r; the per-row best pair is the min of rank*100000 + i
# (i < 100000 always: words are shorter), so ties break leftmost exactly
# like operators/bpe.py::_encode_kernel.  See _q_bpe_encode.
def _bpe_merge_values() -> str:
    from aumos_drift_detector_spark.operators.bpe import DEMO_MERGES

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    return ", ".join(
        f"({i}, {q(l)}, {q(r)})" for i, (l, r) in enumerate(DEMO_MERGES)
    )


def _bpe_final_cte() -> str:
    """Shared WITH-body prefix: distinct-word dim encoded by the
    recursive min-rank/leftmost merge loop -> final(w, syms)."""
    return f"""
WITH RECURSIVE
mm AS (SELECT map(list(l || chr(1) || r), list(rank)) AS mp
       FROM (VALUES {_bpe_merge_values()}) t(rank, l, r)),
docws AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
base AS (SELECT * FROM docws WHERE len(ws) > 0),
words AS (SELECT DISTINCT unnest(ws) AS w FROM base),
init AS (SELECT w, list_append(regexp_extract_all(w, '.'), '</w>') AS syms
         FROM words),
enc AS (
  SELECT w, syms FROM init
  UNION ALL
  SELECT w, syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:] AS syms
  FROM (
    SELECT w, syms, (code % 100000)::BIGINT AS bi, code
    FROM (
      SELECT e.w, e.syms,
             list_min(list_transform(range(1, len(e.syms)),
               i -> CASE WHEN map_extract(mm.mp,
                               e.syms[i] || chr(1) || e.syms[i+1])[1] IS NOT NULL
                    THEN map_extract(mm.mp,
                           e.syms[i] || chr(1) || e.syms[i+1])[1] * 100000 + i
                    END)) AS code
      FROM enc e, mm)
  ) WHERE code IS NOT NULL
),
final AS (
  SELECT e.w, e.syms
  FROM enc e, mm
  WHERE list_min(list_transform(range(1, len(e.syms)),
          i -> CASE WHEN map_extract(mm.mp,
                          e.syms[i] || chr(1) || e.syms[i+1])[1] IS NOT NULL
               THEN map_extract(mm.mp,
                      e.syms[i] || chr(1) || e.syms[i+1])[1] * 100000 + i
               END)) IS NULL
)"""


def _bpe_encode_sql() -> str:
    return f"""{_bpe_final_cte()},
wp AS (SELECT doc_id, generate_subscripts(ws, 1) AS wpos, unnest(ws) AS w
       FROM base),
assembled AS (
  SELECT wp.doc_id,
         flatten(list(f.syms ORDER BY wp.wpos)) AS toks
  FROM wp JOIN final f USING (w)
  GROUP BY wp.doc_id
)
SELECT b.doc_id,
       len(b.ws)::BIGINT AS n_words,
       len(a.toks)::BIGINT AS n_bpe_tokens,
       md5(array_to_string(a.toks, ' ')) AS tokens_md5
FROM base b JOIN assembled a USING (doc_id)
"""


# BPE TRAIN replay: SQL cannot aggregate over a recursive relation, so
# the oracle unrolls the merge loop into a generated 48-stage CTE chain
# instead — per stage: adjacent-pair counts (pc), the deterministic
# argmax with the Spark tie-break (b: cnt DESC, l, r LIMIT 1, min_count
# filter), and the replace-last merge fold via list_reduce over the
# chr(2)-joined symbol string (s).  AS MATERIALIZED is load-bearing:
# each stage is referenced twice, and DuckDB's default single-use CTE
# inlining would otherwise expand the chain exponentially.  Early stop
# matches train_bpe: an empty b{k} propagates s unchanged, so every
# later b is empty too and the UNION emits exactly the learned prefix.
def _bpe_train_sql(num_merges: int = 48, min_count: int = 2) -> str:
    parts = [
        """
WITH
wf AS MATERIALIZED (
  SELECT w, count(*)::BIGINT AS freq
  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents)
  GROUP BY w
),
s0 AS MATERIALIZED (
  SELECT array_to_string(list_append(regexp_extract_all(w, '.'), '</w>'),
                         chr(2)) AS syms, freq
  FROM wf
)"""
    ]
    for k in range(1, num_merges + 1):
        parts.append(
            f""",
pc{k} AS (
  SELECT p.l AS l, p.r AS r, sum(freq)::BIGINT AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(parts)),
                  i -> struct_pack(l := parts[i], r := parts[i+1]))) AS p, freq
    FROM (SELECT string_split(syms, chr(2)) AS parts, freq FROM s{k-1})
    WHERE len(parts) > 1
  ) GROUP BY p.l, p.r
),
b{k} AS MATERIALIZED (SELECT l, r FROM pc{k} WHERE cnt >= {min_count}
         ORDER BY cnt DESC, l, r LIMIT 1),
s{k} AS MATERIALIZED (
  SELECT CASE WHEN b.l IS NULL THEN s.syms
         ELSE list_reduce(string_split(s.syms, chr(2)),
                (acc, x) -> CASE
                  WHEN (acc = b.l OR ends_with(acc, chr(2) || b.l)) AND x = b.r
                  THEN left(acc, len(acc) - len(b.l)) || b.l || b.r
                  ELSE acc || chr(2) || x END)
         END AS syms, s.freq
  FROM s{k-1} s LEFT JOIN b{k} b ON TRUE
)"""
        )
    union = "\nUNION ALL\n".join(
        f'SELECT {k - 1} AS rank, l AS "left", r AS "right", l || r AS merged '
        f"FROM b{k}"
        for k in range(1, num_merges + 1)
    )
    return "".join(parts) + "\n" + union + "\n"


# Tokenizer-evaluation replay: per-lang fertility / char-fallback /
# distinct-token stats over the same recursive-CTE encode.  The
# fallback set is the merged-output list (l || r per merge row); a token
# not in it is a raw alphabet symbol.  See _q_bpe_stats.
def _bpe_stats_sql() -> str:
    return f"""{_bpe_final_cte()},
mset AS (SELECT list(l || r) AS ms
         FROM (VALUES {_bpe_merge_values()}) t(rank, l, r)),
fdim AS (
  SELECT f.w, f.syms, len(f.syms)::BIGINT AS n_tok,
         len(list_filter(f.syms, t -> NOT list_contains(mset.ms, t)))::BIGINT
           AS n_fallback
  FROM final f, mset
),
wp AS (SELECT lang, unnest(ws) AS w FROM base),
j AS (SELECT wp.lang, d.n_tok, d.n_fallback, d.syms
      FROM wp JOIN fdim d USING (w)),
agg AS (
  SELECT lang, count(*)::BIGINT AS n_words, sum(n_tok)::BIGINT AS n_tokens,
         sum(n_fallback)::BIGINT AS n_fallback
  FROM j GROUP BY lang
),
dt AS (
  SELECT lang, count(DISTINCT tok)::BIGINT AS distinct_tokens
  FROM (SELECT lang, unnest(syms) AS tok FROM j)
  GROUP BY lang
)
SELECT a.lang, a.n_words, a.n_tokens,
       round(a.n_tokens / a.n_words, 6) AS fertility,
       round(a.n_fallback / a.n_tokens, 6) AS char_fallback_rate,
       d.distinct_tokens
FROM agg a JOIN dt d USING (lang)
"""


# Token-budget replay: the LM replay and the BPE-encode replay compose
# as nested CTEs (each is a complete WITH...SELECT, legal as a
# parenthesized CTE body), joined on doc_id with the same rounded-ppl
# gate boundary the Spark side applies.  See _q_token_budget.
def _token_budget_sql(ppl_max: float = 20.0) -> str:
    return f"""
WITH lm AS ({_LM_PERPLEXITY_SQL}),
enc AS ({_bpe_encode_sql()}),
j AS (
  SELECT d.lang, lm.ppl_proxy, enc.n_bpe_tokens,
         (lm.ppl_proxy <= {ppl_max}) AS kept
  FROM documents d
  JOIN lm  ON d.doc_id = lm.doc_id
  JOIN enc ON d.doc_id = enc.doc_id
)
SELECT lang,
       count(*)::BIGINT AS n_docs,
       sum(kept::BIGINT)::BIGINT AS n_docs_kept,
       round(sum(kept::BIGINT) / count(*), 6) AS pct_docs_kept,
       coalesce(sum(CASE WHEN kept THEN n_bpe_tokens END), 0)::BIGINT
         AS n_tokens_kept,
       round(avg(CASE WHEN kept THEN ppl_proxy END), 6) AS avg_ppl_kept
FROM j GROUP BY lang
"""
