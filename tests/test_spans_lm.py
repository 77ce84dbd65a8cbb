"""Tests for the exact-substring span dedup (operators/spans.py) and the
stupid-backoff n-gram LM (operators/lm.py) — hand-computed expectations
on tiny corpora, edge cases, and determinism."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from aumos_drift_detector_spark.operators import spans
from aumos_drift_detector_spark.operators.lm import (
    lm_perplexity,
    stupid_backoff_scores,
    train_ngram_lm,
)
from aumos_drift_detector_spark.operators.spans import (
    duplicated_spans,
    span_dedup_stats,
    word_spans,
)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def test_word_spans_expression(spark):
    df = spark.range(1).select(
        word_spans(F.split(F.lit("a b c d"), " "), 3).alias("s"),
        word_spans(F.split(F.lit("a b"), " "), 3).alias("short"),
    )
    row = df.first()
    assert row["s"] == ["a b c", "b c d"]
    assert row["short"] == []


def test_span_dedup_flags_shared_span_and_cleans_both_sides(spark):
    # k=3: docs 1 and 2 share the span "x y z"; doc 3 is unrelated.
    df = _docs(
        spark,
        [
            (1, "p q x y z r"),
            (2, "x y z s t u"),
            (3, "a b c d e f"),
        ],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in span_dedup_stats(df, "doc_id", "text", k=3).collect()
    }
    assert out[1]["dup_spans"] == 1 and out[1]["covered_words"] == 3
    assert out[1]["dup_span_frac"] == round(3 / 6, 6)
    # both occurrences removed, remaining words keep their order
    assert out[1]["cleaned_md5"] == _md5("p q r")
    assert out[2]["cleaned_md5"] == _md5("s t u")
    assert out[3]["dup_spans"] == 0 and out[3]["covered_words"] == 0
    assert out[3]["cleaned_md5"] == _md5("a b c d e f")
    assert out[3]["cleaned_n_words"] == 6


def test_span_dedup_overlapping_spans_union_coverage(spark):
    # "x y z w" duplicated across docs => two overlapping 3-spans in doc 1,
    # coverage is the UNION of positions (4 words, not 6).
    df = _docs(spark, [(1, "a x y z w b"), (2, "x y z w")])
    out = {
        r["doc_id"]: r.asDict()
        for r in span_dedup_stats(df, "doc_id", "text", k=3).collect()
    }
    assert out[1]["dup_spans"] == 2
    assert out[1]["covered_words"] == 4
    assert out[1]["cleaned_md5"] == _md5("a b")
    # doc 2 fully covered -> empty cleaned text, md5('')
    assert out[2]["cleaned_n_words"] == 0
    assert out[2]["cleaned_md5"] == _md5("")


def test_span_dedup_intra_document_repeat_not_flagged(spark):
    # the span repeats twice INSIDE doc 1 only: distinct-doc count is 1.
    df = _docs(spark, [(1, "x y z q x y z"), (2, "a b c d e")])
    out = {
        r["doc_id"]: r.asDict()
        for r in span_dedup_stats(df, "doc_id", "text", k=3).collect()
    }
    assert out[1]["dup_spans"] == 0 and out[1]["covered_words"] == 0


def test_span_dedup_short_doc_and_whitespace_normalization(spark):
    df = _docs(spark, [(1, "  x   Y "), (2, "x y z w"), (3, "x y z w")])
    out = {
        r["doc_id"]: r.asDict()
        for r in span_dedup_stats(df, "doc_id", "text", k=3).collect()
    }
    # doc 1: 2 words < k -> zero spans, survives untouched (lowercased words)
    assert out[1]["n_words"] == 2 and out[1]["n_spans"] == 0
    assert out[1]["cleaned_md5"] == _md5("x y")
    assert out[2]["dup_span_frac"] == 1.0


def test_duplicated_spans_threshold(spark):
    df = _docs(spark, [(1, "x y z"), (2, "x y z"), (3, "x y z")])
    pos = df.select(
        "doc_id",
        F.posexplode(
            word_spans(F.split(F.lower("text"), r"\s+"), 3)
        ).alias("pos", "span"),
    ).select("doc_id", "pos", F.xxhash64("span").alias("span_h"))
    assert duplicated_spans(pos, "doc_id", min_dup_docs=3).count() == 1
    assert duplicated_spans(pos, "doc_id", min_dup_docs=4).count() == 0


def test_span_dedup_md5_60_matches_xxhash64(spark):
    # engine-portable hash mode changes join keys only, never results
    df = _docs(spark, [(1, "p q x y z r"), (2, "x y z s t u")])
    a = span_dedup_stats(df, "doc_id", "text", k=3, hash_fn="xxhash64")
    b = span_dedup_stats(df, "doc_id", "text", k=3, hash_fn="md5_60")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# k=3. Docs 1/2 share two overlapping spans (doc 2 is fully covered);
# doc 7 repeats a span that doc 9 also holds; the NULL-id doc shares
# "t u v" with doc 8; docs 3-5 have no words; doc 6 is shorter than k.
_ADVERSARIAL = [
    (1, "p q x y z w r"),
    (2, "x y z w"),
    (3, None),
    (4, ""),
    (5, "  \t  "),
    (6, "a b"),
    (7, "m n o m n o q"),
    (8, "s t u v"),
    (9, "m n o"),
    (None, "t u v e f g"),
]
# (n_words, n_spans, dup_spans, covered_words, dup_span_frac,
#  cleaned_n_words, cleaned text)
_ADVERSARIAL_EXPECTED = {
    1: (7, 5, 2, 4, round(4 / 7, 6), 3, "p q r"),
    2: (4, 2, 2, 4, 1.0, 0, ""),
    6: (2, 0, 0, 0, 0.0, 2, "a b"),
    7: (7, 5, 2, 6, round(6 / 7, 6), 1, "q"),
    8: (4, 2, 1, 3, 0.75, 1, "s"),
    9: (3, 1, 1, 3, 1.0, 0, ""),
    # a NULL id matches no mask: it comes out unmasked, even though its
    # "t u v" counts as one of the two documents that duplicate the span
    None: (6, 4, 0, 0, 0.0, 6, "t u v e f g"),
}


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5_60"])
@pytest.mark.parametrize("ansi", ["true", "false"])
@pytest.mark.parametrize("gate", [True, False], ids=["ckpt", "no_ckpt"])
def test_span_dedup_same_rows_for_every_gate_ansi_and_hash(
    spark, monkeypatch, gate, ansi, hash_fn
):
    monkeypatch.setattr(spans, "_worth_ckpt", lambda df: gate)
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        rows = span_dedup_stats(
            _docs(spark, _ADVERSARIAL), "doc_id", "text", k=3, hash_fn=hash_fn
        ).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    got = {r["doc_id"]: tuple(r)[1:] for r in rows}
    assert len(rows) == len(got)
    assert got == {
        i: (*e[:6], _md5(e[6])) for i, e in _ADVERSARIAL_EXPECTED.items()
    }
    for r in rows:
        assert r["covered_words"] + r["cleaned_n_words"] == r["n_words"]


# ---------------------------------------------------------------------------
# lm
# ---------------------------------------------------------------------------


def test_stupid_backoff_hand_computed(spark):
    # corpus: "a b c", "a b d" — every backoff branch exercised.
    df = _docs(spark, [(1, "a b c"), (2, "a b d")])
    out = {
        r["doc_id"]: r.asDict()
        for r in lm_perplexity(df, "doc_id", "text").collect()
    }
    # doc 1: pos0 'a' -> unigram: 0.4^2 * c(a)/total = 0.16 * 2/6
    #        pos1 'b'|a -> bigram: 0.4 * c(ab)/c(a) = 0.4 * 2/2
    #        pos2 'c'|ab -> trigram: c(abc)/c(ab) = 1/2
    expected = (
        math.log10(0.4 * 0.4 * 2 / 6) + math.log10(0.4 * 2 / 2) + math.log10(1 / 2)
    )
    assert out[1]["n_scored"] == 3
    assert abs(out[1]["sum_log10"] - round(expected, 6)) < 1e-9
    assert out[1]["avg_logprob10"] == round(expected / 3, 6)
    assert out[1]["ppl_proxy"] == round(10 ** (-expected / 3), 4)
    # symmetric corpus: doc 2 scores identically
    assert out[2]["sum_log10"] == out[1]["sum_log10"]


def test_stupid_backoff_oov_pseudo_count(spark):
    train = _docs(spark, [(1, "a b c"), (2, "a b d")])
    score = _docs(spark, [(9, "zz")])
    lm = train_ngram_lm(train, "text")
    row = stupid_backoff_scores(score, "doc_id", "text", lm).first()
    expected = math.log10(0.4 * 0.4 * 0.5 / 6)
    assert row["n_scored"] == 1
    assert abs(row["sum_log10"] - round(expected, 6)) < 1e-9


def test_lm_counts_and_backoff_at_document_starts(spark):
    lm = train_ngram_lm(_docs(spark, [(1, "a b c"), (2, "a b d")]), "text")
    uni = {r["w"]: r["u_c"] for r in lm.uni.collect()}
    bi = {(r["w1"], r["w2"]): r["b_c"] for r in lm.bi.collect()}
    tri = {(r["w1"], r["w2"], r["w3"]): r["t_c"] for r in lm.tri.collect()}
    assert uni == {"a": 2, "b": 2, "c": 1, "d": 1}
    # no cross-document context bleed: bigrams never span documents
    assert bi == {("a", "b"): 2, ("b", "c"): 1, ("b", "d"): 1}
    assert tri == {("a", "b", "c"): 1, ("a", "b", "d"): 1}
    assert lm.total.first()["total_tokens"] == 6


def test_lm_boilerplate_scores_lower_ppl_than_outlier(spark):
    # 5 identical documents + 1 reversed outlier: the outlier's trigrams
    # are unseen, so its perplexity must be strictly higher.
    common = "the quick brown fox jumps over the lazy dog"
    rows = [(i, common) for i in range(5)] + [(9, "dog lazy the over jumps fox brown quick the")]
    out = {r["doc_id"]: r["ppl_proxy"] for r in
           lm_perplexity(_docs(spark, rows), "doc_id", "text").collect()}
    assert out[9] > out[0]


def test_lm_empty_and_whitespace_docs_dropped(spark):
    df = _docs(spark, [(1, "a b c"), (2, "   "), (3, "")])
    out = lm_perplexity(df, "doc_id", "text")
    assert [r["doc_id"] for r in out.collect()] == [1]


def test_lm_null_text_docs_add_nothing_with_ansi_off(spark):
    # size(NULL) is NULL with ANSI on but -1 with it off: NULL-text
    # documents must not shrink the corpus total (the unigram backoff
    # denominator) in either session
    df = _docs(spark, [(1, "a b c"), (2, None), (3, "a b d"), (4, None)])
    prev = spark.conf.get("spark.sql.ansi.enabled")
    out = {}
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            total = train_ngram_lm(df, "text").total.first()["total_tokens"]
            scores = sorted(lm_perplexity(df, "doc_id", "text").collect())
            out[ansi] = (total, scores)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert out["true"][0] == 6
    assert out["false"] == out["true"]
