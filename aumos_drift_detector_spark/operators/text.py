"""Text-analysis operators for training-data pipelines.

All row-path computation is column expressions (regex, length arithmetic,
higher-order array functions) — JVM-side, whole-stage-codegen friendly.

- language-ID: stopword-hit heuristic over small per-language marker lists
- quality scoring: length / punctuation / whitespace / stopword ratios
  composed into a [0,1] score
- token counting: whitespace tokens + a BPE-ish subword estimate
  (``ceil(chars/4)`` blended with word count — the standard quick estimator)
- document fingerprinting: content hash + 64-bit SimHash (see dedup module)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny high-frequency marker lists; enough signal for a heuristic router.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "des", "que"],
    "es": ["el", "la", "los", "y", "es", "una", "que", "de"],
}


def widen_narrow_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition a few-partition input up to the session's
    default parallelism.

    A small corpus arriving as one (or two) parquet splits serializes every
    CPU-heavy text stage — word split, shingle/span explode, hashing — on
    1-2 cores while the rest of the cluster idles (guide §2.5 input skew;
    measured at sf1.0: the 5.9 MB documents file scanned as 2 tasks put
    12s+ single-pair stages on the span-dedup critical path). At real
    corpus scale the scan already has far more partitions than cores and
    this branch never fires, so no shuffle is added to the 100-TB path.
    Round-robin (keyless) repartition is deterministic under retries
    because Spark sorts before repartitioning (SPARK-23207, on by default).

    Size-gated by the same Catalyst estimate as the checkpoint gate: on a
    sub-MB input the repartition's fixed exchange latency exceeds what the
    extra cores can win back (a 0.6 MB corpus splits in well under a
    second even 2-wide — measured at sf0.1), so tiny inputs keep their
    natural plan.
    """
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    if not worth_materializing(df):
        return df
    return df.repartition(sc.defaultParallelism)


#: Inputs estimated below this are "small": a checkpoint's fixed cost
#: (one materialization job + RDD storage writes, ~0.5-1.5 s of latency)
#: exceeds the cost of just re-running the split/explode per branch,
#: which for a few-MB corpus is sub-second even at low parallelism
#: (measured at sf0.1: unconditional checkpoints cost lm +1.5 s and
#: span dedup +1.4 s against recompute).
CHECKPOINT_MIN_BYTES = 4 << 20


def worth_materializing(df: DataFrame, min_bytes: int = CHECKPOINT_MIN_BYTES) -> bool:
    """Cost-based gate for corpus-scale localCheckpoints, on Catalyst's
    size estimate of ``df``'s optimized plan (free: no job).  Unknown
    stats (the read failed, or a leaf without stats such as an in-memory
    frame reported the Long.MaxValue default) resolve to True: at real
    scale re-computation is the expensive branch, so "huge until proven
    small" is the safe default.
    """
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return True
    return size >= min_bytes


def _word_array(text: Column) -> Column:
    return F.split(F.lower(text), r"\s+")


def clean_words(text: Column) -> Column:
    """Lowercased whitespace words with empty tokens dropped — THE word
    tokenizer of the tokens family (span dedup, LM scoring, BPE), shared
    so the three operators (and their DuckDB oracles) can never
    desynchronize on the split regex or the empty-token rule.  Leading /
    trailing / repeated whitespace would otherwise inject '' words."""
    return F.filter(_word_array(text), lambda w: w != "")


def lang_hits(text: Column, markers: list[str]) -> Column:
    """Number of words that are in the marker list (JVM array filter)."""
    marker_arr = F.array(*[F.lit(m) for m in markers])
    return F.size(
        F.filter(_word_array(text), lambda w: F.array_contains(marker_arr, w))
    )


def detect_language(df: DataFrame, text_col: str, out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: argmax of marker hits, 'und' when all zero."""
    hit_cols = {
        lang: lang_hits(F.col(text_col), markers).alias(f"_hits_{lang}")
        for lang, markers in LANG_MARKERS.items()
    }
    tagged = df.select("*", *hit_cols.values())
    best = F.greatest(*[F.col(f"_hits_{l}") for l in LANG_MARKERS])
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_MARKERS:
        pred = pred.when(F.col(f"_hits_{lang}") == best, F.lit(lang))
    out = tagged.withColumn(out_col, pred)
    return out.drop(*[f"_hits_{l}" for l in LANG_MARKERS])


def whitespace_token_count(text: Column) -> Column:
    """Whitespace token count by pure length arithmetic (dialect-stable)."""
    stripped = F.regexp_replace(F.regexp_replace(text, r"\s+", " "), r"^ | $", "")
    return F.when(F.length(stripped) == 0, F.lit(0)).otherwise(
        F.length(stripped) - F.length(F.regexp_replace(stripped, " ", "")) + 1
    )


def bpe_token_estimate(text: Column) -> Column:
    """BPE-ish subword count estimate: max(words, ceil(chars / 4)).

    The chars/4 rule-of-thumb tracks byte-level BPE vocab behavior closely
    enough for budgeting; exact counts need the real tokenizer (out of scope —
    this engine consumes PRE-tokenized sequences; the estimator exists for
    raw-text side tables).
    """
    return F.greatest(
        whitespace_token_count(text),
        F.ceil(F.length(text) / F.lit(4.0)).cast("int"),
    )


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Per-document quality feature columns + composite score in [0, 1].

    Features (all cheap column exprs):
      n_chars, n_tokens, mean_word_len, space_ratio, punct_ratio,
      digit_ratio, upper_ratio, stopword_ratio
    Score: product of soft gates — too-short, punctuation-heavy, digit-heavy,
    and stopword-free documents are penalized (the usual web-corpus filters).
    """
    text = F.col(text_col)
    n_chars = F.length(text).cast("double")
    n_tokens = whitespace_token_count(text).cast("double")
    safe_chars = F.greatest(n_chars, F.lit(1.0))
    punct_ratio = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\[\]{}]", "")) / safe_chars
    digit_ratio = F.length(F.regexp_replace(text, r"[^0-9]", "")) / safe_chars
    upper_ratio = F.length(F.regexp_replace(text, r"[^A-Z]", "")) / safe_chars
    space_ratio = F.length(F.regexp_replace(text, r"[^ ]", "")) / safe_chars
    mean_word_len = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))
    en_stop = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    stop_ratio = F.when(
        n_tokens > 0,
        F.size(F.filter(_word_array(text), lambda w: F.array_contains(en_stop, w)))
        / n_tokens,
    ).otherwise(F.lit(0.0))

    length_gate = F.least(n_tokens / F.lit(20.0), F.lit(1.0))
    punct_gate = F.when(punct_ratio > 0.2, F.lit(0.3)).otherwise(F.lit(1.0))
    digit_gate = F.when(digit_ratio > 0.3, F.lit(0.3)).otherwise(F.lit(1.0))
    word_len_gate = F.when(
        (mean_word_len >= 2.5) & (mean_word_len <= 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    score = length_gate * punct_gate * digit_gate * word_len_gate

    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tokens.alias("q_n_tokens"),
        F.round(mean_word_len, 4).alias("q_mean_word_len"),
        F.round(space_ratio, 6).alias("q_space_ratio"),
        F.round(punct_ratio, 6).alias("q_punct_ratio"),
        F.round(digit_ratio, 6).alias("q_digit_ratio"),
        F.round(upper_ratio, 6).alias("q_upper_ratio"),
        F.round(stop_ratio, 6).alias("q_stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def document_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content fingerprints per document: md5 (exact) + xxhash64 (join key).

    SimHash (near-dup) lives in dedup.simhash_signatures; this is the exact
    identity layer used by the dedup and lineage paths.
    """
    return df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("md5"),
        F.xxhash64(F.col(text_col)).alias("xxh64"),
        F.length(F.col(text_col)).alias("n_chars"),
    )


def heavy_hitters(
    df: DataFrame,
    text_col: str,
    k: int,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact top-k words (by count) per group — corpus vocabulary statistics.

    The standard pre-tokenizer audit: stopword discovery, boilerplate
    detection, vocabulary drift between corpus slices. Output:
    group cols + (word, n, rank), rank 1..k, ties broken lexicographically
    so the result is fully deterministic.

    Scale plan: explode -> partial-aggregating groupBy (map-side combine
    collapses each partition's words before the shuffle, so the shuffle
    carries at most partitions x distinct-words rows, not one row per
    token) -> per-group window over the AGGREGATED counts (group x
    distinct-words rows, many orders smaller than the corpus). For
    corpora where even distinct words per group overwhelm a partition,
    cap upstream with a frequency filter; no silent truncation here.
    """
    from pyspark.sql import Window

    words = df.select(
        *[F.col(c) for c in group_cols],
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word"),
    ).where(F.col("word") != "")
    counts = words.groupBy(*group_cols, "word").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.col("n").desc(), F.col("word")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*group_cols, "word", "n", F.col("rank").cast("long").alias("rank"))
    )


def dup_word_fraction(text: Column) -> Column:
    """``1 − |distinct words| / |words|`` rounded to 6dp — the word-level
    repetition signal, shared by repetition_scores and the corpus-prep
    pipeline's quality gate (rounding BEFORE any threshold comparison so an
    oracle replaying the same arithmetic can't flip the boundary)."""
    words = F.split(text, r"\s+")
    return F.round(
        F.lit(1.0) - F.size(F.array_distinct(words)) / F.size(words), 6
    )


def repetition_scores(
    df: DataFrame, id_col: str, text_col: str, ngram: int = 2
) -> DataFrame:
    """Intra-document repetition ratios — the Gopher-family quality signal.

    ``dup_word_frac``  = 1 − |distinct words| / |words|
    ``dup_{n}gram_frac`` = 1 − |distinct word n-grams| / |word n-grams|

    Repetitive machine-generated or boilerplate text scores high and is a
    standard pre-training filter dimension, orthogonal to the cross-corpus
    dedup operators (a document can be unique in the corpus yet internally
    degenerate). Pure higher-order array expressions — JVM-side,
    codegen-friendly, no shuffle. Documents shorter than ``ngram`` words
    contribute one whole-document gram (same convention as
    dedup.word_shingles); NULL text propagates NULL fractions.
    """
    from aumos_drift_detector_spark.operators.dedup import word_grams

    grams = word_grams(F.col(text_col), ngram)
    # word_grams fabricates one "" gram for NULL text (greatest() skips the
    # NULL size) which would yield a 0.0 fraction while the word side is
    # NULL — gate both on non-null text so NULL propagates symmetrically
    # (the DuckDB oracle carries the same CASE WHEN text IS NOT NULL gate)
    not_null = F.col(text_col).isNotNull()
    return df.select(
        F.col(id_col),
        F.when(not_null, dup_word_fraction(F.col(text_col))).alias(
            "dup_word_frac"
        ),
        F.when(
            not_null,
            F.round(
                F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams), 6
            ),
        ).alias(f"dup_{ngram}gram_frac"),
    )
