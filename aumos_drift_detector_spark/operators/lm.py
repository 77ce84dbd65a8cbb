"""Distributed n-gram language model: counts + stupid-backoff scoring.

The perplexity-style quality signal real pre-training pipelines use
(CCNet trains a KenLM on a clean reference corpus and buckets documents
by perplexity).  This module is the DataFrame restatement: trigram /
bigram / unigram counts built as three grouped aggregations, and
per-document scoring under stupid backoff (Brants et al., 2007 — "Large
Language Models in Machine Translation"):

    S(w | w-2 w-1) = c(w-2 w-1 w) / c(w-2 w-1)          if trigram seen
                   = alpha * c(w-1 w) / c(w-1)           elif bigram seen
                   = alpha^2 * c(w) / total              else (0.5/total OOV)

Stupid backoff deliberately uses raw relative frequencies with a fixed
backoff multiplier instead of Kneser-Ney discounting — at corpus scale
the simple score ranks documents as well as the smoothed model and every
term stays a ratio of integers, which keeps the whole operator inside
JVM column expressions and makes it exactly replayable by any SQL engine
(the DuckDB oracle recomputes it bit-for-bit up to float rounding).

Scale plan:
  - context extraction is array indexing (``F.get`` on the per-document
    word array) after one ``posexplode`` — no window, no per-document
    shuffle, out-of-range indices are NULL and back off naturally (the
    first word of a document scores as a unigram, the second as a
    bigram);
  - count dims shuffle once each on their own n-gram key with map-side
    partial aggregation;
  - scoring is five hash joins of the positions frame against the count
    dims: unigram dims are broadcast-sized in any real corpus (vocab,
    not corpus, cardinality), bigram/trigram joins are shuffle joins
    co-partitioned on their join keys and AQE broadcasts them when a
    filtered slice fits.  One measured deployment caveat: the STATIC
    planner's pre-execution estimate of the post-aggregation
    bigram/trigram dims is optimistic, and on a corpus with little n-gram
    reuse it can pick a driver-killing broadcast — pin ``spark.sql.autoBroadcastJoinThreshold`` to a bound
    the driver can hold (AQE still re-converts with real runtime sizes);
  - the corpus total is a 1-row aggregate attached by broadcast
    cross-join (the repo-wide scalar-attach convention).

Reference parity: no LM exists in the reference; this is a pipeline
extension (SURVEY.md "LLM-data-pipeline operators", quality-scoring
family) alongside text.quality_features and quality_model.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import clean_words as _words
from .text import widen_narrow_input as _widen
from .text import worth_materializing as _worth_ckpt

OOV_PSEUDO_COUNT = 0.5


@dataclass(frozen=True)
class NgramLM:
    """Count tables of a trigram stupid-backoff model.

    ``uni``: (w, u_c)   ``bi``: (w1, w2, b_c)   ``tri``: (w1, w2, w3, t_c)
    ``total``: 1-row frame (total_tokens) — kept as a DataFrame so the
    scalar is attached by broadcast join, never collected on the driver.
    """

    uni: DataFrame
    bi: DataFrame
    tri: DataFrame
    total: DataFrame


def _split_words_base(df: DataFrame, text_col: str, *cols: str) -> DataFrame:
    """(cols..., _ws words array), widened and LAZILY checkpointed.

    The split corpus feeds many branches (three count dims, the corpus
    total, the scoring positions); without truncation each branch
    re-scans the input and re-runs the regex split — and Catalyst pushes
    derived filters below the widening repartition, serializing the split
    at input-file parallelism once per branch (the span-dedup finding,
    spans.py).  One materialized copy of the split corpus is the right
    trade against 4-6 re-scan+re-split passes once the corpus is past a
    few MB; below that (``worth_materializing``) the fixed
    materialization latency outweighs recompute and the plain branching
    plan wins (measured +1.5 s at sf0.1 for unconditional checkpoints).
    """
    # LAZY on purpose: eager localCheckpoint materializes through
    # queryExecution.toRdd outside the AQE/codegen path and measured 6.3 s
    # vs 3.8 s for the self-scored query even though this chain is a plain
    # scan->repartition->project (the same lazy-vs-eager result as
    # spans.py).  The cost accepted: concurrent broadcast dim builds can
    # race to fill the cache on first materialization.
    base = _widen(df).select(*cols, _words(F.col(text_col)).alias("_ws"))
    if _worth_ckpt(df):
        base = base.localCheckpoint(eager=False)
    return base


def _ngram_dims(base: DataFrame, ckpt: bool = True) -> NgramLM:
    """Count dims from a (possibly checkpointed) (_ws) base — see
    train_ngram_lm."""

    def _maybe(d: DataFrame) -> DataFrame:
        return d.localCheckpoint(eager=False) if ckpt else d
    pos = base.select(
        "_ws", F.posexplode("_ws").alias("_p", "w")
    ).select(
        "w",
        F.get("_ws", F.col("_p") - 1).alias("w_1"),
        F.get("_ws", F.col("_p") - 2).alias("w_2"),
    )
    # Each dim is LAZILY checkpointed: the scoring joins consume bi twice
    # (context and continuation projections) and every broadcast build
    # would otherwise re-run the corpus-scale explode+aggregation that
    # produced the dim.  The dims are vocab-cardinality — bytes next to
    # the corpus — so one materialization each is strictly cheaper than
    # one recomputation each.
    uni = _maybe(pos.groupBy("w").agg(F.count(F.lit(1)).alias("u_c")))
    bi = _maybe(
        pos.where(F.col("w_1").isNotNull())
        .groupBy(F.col("w_1").alias("w1"), F.col("w").alias("w2"))
        .agg(F.count(F.lit(1)).alias("b_c"))
    )
    tri = _maybe(
        pos.where(F.col("w_2").isNotNull())
        .groupBy(
            F.col("w_2").alias("w1"),
            F.col("w_1").alias("w2"),
            F.col("w").alias("w3"),
        )
        .agg(F.count(F.lit(1)).alias("t_c"))
    )
    # total token count == sum of unigram counts == sum of word-array
    # sizes; the latter reads the checkpointed base directly instead of
    # re-running the unigram aggregation branch. A NULL-text document adds
    # nothing: size(NULL) is -1 with ANSI off, so it is masked to NULL
    total = base.agg(
        F.sum(F.when(F.col("_ws").isNotNull(), F.size("_ws")))
        .cast("long")
        .alias("total_tokens")
    )
    return NgramLM(uni=uni, bi=bi, tri=tri, total=total)


def train_ngram_lm(df: DataFrame, text_col: str) -> NgramLM:
    """Build trigram/bigram/unigram count dims from a text corpus.

    One posexplode feeds all three aggregations; each groupBy shuffles
    pre-combined partials keyed by its own n-gram tuple.
    """
    return _ngram_dims(
        _split_words_base(df, text_col), ckpt=_worth_ckpt(df)
    )


def stupid_backoff_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lm: NgramLM,
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document stupid-backoff log-score and perplexity proxy.

    Output, one row per document with >= 1 word:
      id, n_scored, sum_log10 (6dp), avg_logprob10 (6dp),
      ppl_proxy = 10^(-avg_logprob10) (4dp) — the CCNet-style bucketing
      key (lower = more like the training corpus).

    Backoff is expressed as one CASE over five left joins; a NULL
    context word (document positions 0 and 1) can never match the
    trigram/bigram dims, so short-context positions back off without
    special-casing.
    """
    return _scores_from_base(
        _split_words_base(df, text_col, id_col), id_col, lm, alpha
    )


def _scores_from_base(
    base: DataFrame, id_col: str, lm: NgramLM, alpha: float = 0.4
) -> DataFrame:
    """Scoring joins over a checkpointed (id, _ws) base — see
    ``stupid_backoff_scores`` for the contract."""
    pos = (
        base.where(F.size("_ws") > 0)
        .select(id_col, "_ws", F.posexplode("_ws").alias("_p", "w"))
        .select(
            id_col,
            "w",
            F.get("_ws", F.col("_p") - 1).alias("w_1"),
            F.get("_ws", F.col("_p") - 2).alias("w_2"),
        )
    )

    tri = lm.tri
    bi = lm.bi
    uni = lm.uni

    joined = (
        pos.join(
            tri,
            (pos["w_2"] == tri["w1"])
            & (pos["w_1"] == tri["w2"])
            & (pos["w"] == tri["w3"]),
            "left",
        )
        .drop("w1", "w2", "w3")
        .join(
            bi.select(
                F.col("w1").alias("c_w1"),
                F.col("w2").alias("c_w2"),
                F.col("b_c").alias("ctx_bc"),
            ),
            (F.col("w_2") == F.col("c_w1")) & (F.col("w_1") == F.col("c_w2")),
            "left",
        )
        .drop("c_w1", "c_w2")
        .join(
            bi.select(
                F.col("w1").alias("b_w1"),
                F.col("w2").alias("b_w2"),
                "b_c",
            ),
            (F.col("w_1") == F.col("b_w1")) & (F.col("w") == F.col("b_w2")),
            "left",
        )
        .drop("b_w1", "b_w2")
        .join(
            uni.select(F.col("w").alias("u_ctx_w"), F.col("u_c").alias("ctx_uc")),
            F.col("w_1") == F.col("u_ctx_w"),
            "left",
        )
        .drop("u_ctx_w")
        .join(
            uni.select(F.col("w").alias("u_w"), "u_c"),
            F.col("w") == F.col("u_w"),
            "left",
        )
        .drop("u_w")
        .crossJoin(F.broadcast(lm.total))
    )

    a = F.lit(float(alpha))
    score = (
        F.when(
            F.col("t_c").isNotNull() & F.col("ctx_bc").isNotNull(),
            F.col("t_c") / F.col("ctx_bc"),
        )
        .when(
            F.col("b_c").isNotNull() & F.col("ctx_uc").isNotNull(),
            a * F.col("b_c") / F.col("ctx_uc"),
        )
        .otherwise(
            a
            * a
            * F.coalesce(F.col("u_c").cast("double"), F.lit(OOV_PSEUDO_COUNT))
            / F.col("total_tokens")
        )
    )

    return (
        joined.select(id_col, F.log10(score).alias("_lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum("_lp").alias("_sum_lp"),
        )
        .select(
            id_col,
            "n_scored",
            F.round("_sum_lp", 6).alias("sum_log10"),
            F.round(F.col("_sum_lp") / F.col("n_scored"), 6).alias("avg_logprob10"),
            F.round(
                F.pow(F.lit(10.0), -F.col("_sum_lp") / F.col("n_scored")), 4
            ).alias("ppl_proxy"),
        )
    )


def lm_perplexity(
    df: DataFrame, id_col: str, text_col: str, alpha: float = 0.4
) -> DataFrame:
    """Self-scored corpus perplexity: train on ``df`` and score ``df``.

    The single-corpus form used for outlier hunting (documents unlike
    the rest of the corpus score high).  For the CCNet reference-corpus
    form, call train_ngram_lm on the clean corpus and
    stupid_backoff_scores on the candidate corpus.

    Self-scoring shares ONE checkpointed split-words base between the
    count dims and the scoring positions — the corpus is scanned and
    split exactly once instead of once per aggregation branch.
    """
    base = _split_words_base(df, text_col, id_col)
    return _scores_from_base(
        base, id_col, _ngram_dims(base, ckpt=_worth_ckpt(df)), alpha
    )
