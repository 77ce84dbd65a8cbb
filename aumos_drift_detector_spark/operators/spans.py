"""Cross-document duplicated-span detection and span-masked cleaning.

The exact-substring layer of the dedup family (see ``dedup.py`` for the
document-level operators): find every k-word span (contiguous shingle)
that appears in >= ``min_dup_docs`` DISTINCT documents, report the
fraction of each document covered by such spans, and emit a cleaned text
with the covered words removed.  This is the DataFrame restatement of the
"deduplicating training data makes language models better" exact-substring
pass (Lee et al., 2022): boilerplate, licence blocks, and templated
sentences duplicate at the span level long before whole documents do,
so document-level MinHash/SimHash alone leaves them in the corpus.

Scale plan (every stage keyed, no all-pairs anywhere):
  1. shingling is a per-row array expression (``transform`` over
     ``sequence``) — JVM-side, zero shuffle;
  2. span frequencies: two-phase distinct-doc count grouped by span hash
     (map-side partial combine collapses each partition's repeats first);
  3. duplicated spans join back by hash — the duplicated-span dim is
     orders smaller than the corpus and AQE broadcasts it when it fits;
  4. the per-document mask: one groupBy(doc) over the duplicated span
     occurrences yields the span count and the distinct covered word
     positions (an array bounded by the document's word count);
  5. cleaning: one left join of the documents to their masks, then a
     per-row ``array_except`` of the covered positions from 0..n-1 (a
     hash set, linear in document length) picks the kept words in order.

Hashing follows the ``dedup.py`` convention: ``xxhash64`` (fast JVM path,
default) or ``md5_60`` (bit-identical in any SQL engine with md5 — the
oracle-replayable mode).  Output columns never expose the hash, so an
oracle may group by the raw span text and reach identical counts.

Reference parity: the reference has no substring-level dedup; this is a
pipeline extension (SURVEY.md "LLM-data-pipeline operators"), with the
uniqueness-check semantics of constraints.py J6 applied at span rather
than row granularity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _base_hash
from .text import clean_words as _clean_words
from .text import widen_narrow_input as _widen
from .text import worth_materializing as _worth_ckpt


def word_spans(words: Column, k: int) -> Column:
    """Array of all k-word spans (space-joined) at positions 0..n-k.

    Pure higher-order array expression — evaluated inside whole-stage
    codegen, nothing shuffles.  Documents shorter than k words yield an
    empty array (they cannot participate in span duplication).
    """
    n = F.size(words)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_span_hashes(words: Column, k: int) -> Column:
    """Array of xxhash64 span hashes at positions 0..n-k, hashing the
    k-word SLICE directly (xxhash64 over an array column chains the
    element hashes) instead of materializing the space-joined span string
    first.  Words cannot contain whitespace (clean_words splits on \\s+),
    so slice equality == joined-string equality and the hash groups the
    same spans as ``word_spans`` + hash-of-string — without allocating
    O(n_words x k) span-string bytes per document (guide §2.3: narrower
    rows into the exchange; measured ~25% of the span explode stage's CPU
    was concat_ws).  Only for the xxhash64 hash layer — the md5_60
    oracle-replayable mode must hash the exact span string a SQL engine
    can rebuild.
    """
    n = F.size(words)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.xxhash64(F.slice(words, i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def duplicated_spans(
    pos_spans: DataFrame, id_col: str, min_dup_docs: int = 2
) -> DataFrame:
    """Span-frequency dim over a positioned-spans frame: every span hash
    present in >= ``min_dup_docs`` DISTINCT documents, as (span_h, n_docs).

    Distinct-doc counting is the two-phase plan (groupBy(hash, doc) then
    groupBy(hash)) spelled out explicitly so the first phase's map-side
    combine collapses intra-document repeats before anything shuffles —
    a boilerplate span repeated thousands of times inside one document
    costs one shuffle row.
    """
    per_doc = pos_spans.select("span_h", id_col).groupBy("span_h", id_col).agg(
        F.count(F.lit(1)).alias("_occ")
    )
    return (
        per_doc.groupBy("span_h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_dup_docs)
    )


def span_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_dup_docs: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document duplicated-span report + span-masked cleaned text.

    Output, one row per document that has >= 1 word:
      id, n_words, n_spans, dup_spans (positions whose span is duplicated
      corpus-wide), covered_words (distinct word positions under any
      duplicated span), dup_span_frac (covered/n_words, 6dp),
      cleaned_n_words, cleaned_md5 (md5 of the space-rejoined cleaned
      text; '' when every word is covered).

    The cleaned text drops ALL occurrences of duplicated spans (both
    sides of every duplicate pair) — the deterministic policy: keeping
    "the first" occurrence needs a global document order, which a
    distributed corpus does not have.  Callers wanting keep-one semantics
    compose this with the connected-components cluster resolution in
    ``graph.py``.
    """
    words_col = _clean_words(F.col(text_col))
    # The split-words base feeds three branches (the span explode of the
    # dup dim, the span explode of the mask, the cleaning join).  Without
    # truncation each branch re-scans the input and re-runs the split —
    # and Catalyst pushes the size(_ws)>0 filter BELOW the widening
    # repartition, so the expensive split ran at input-file parallelism
    # once per branch (measured ~7s of the sf1.0 wall when there were
    # four).  A LAZY localCheckpoint materializes (id, words) exactly
    # once, 32-wide, and every branch reads the shared RDD.  Storage is
    # one split copy of the corpus (memory-and-disk) — the right trade
    # against full re-scan+re-split passes once the corpus is past a few
    # MB; below that (``worth_materializing``) the fixed materialization
    # latency outweighs recompute and the plain branching plan wins.
    ckpt = _worth_ckpt(df)
    base = _widen(df).select(F.col(id_col), words_col.alias("_ws"))
    if ckpt:
        base = base.localCheckpoint(eager=False)
    base = base.where(F.size("_ws") > 0)

    if hash_fn == "xxhash64":
        # hash the k-word slices directly — no span-string materialization
        pos_spans = base.select(
            id_col,
            F.posexplode(word_span_hashes(F.col("_ws"), k)).alias(
                "pos", "span_h"
            ),
        )
    else:
        pos_spans = base.select(
            id_col,
            F.posexplode(word_spans(F.col("_ws"), k)).alias("pos", "span"),
        ).select(
            id_col, "pos", _base_hash(F.col("span"), hash_fn).alias("span_h")
        )

    # The dup dim joins back to the same span explode it aggregates.
    # Without truncation its 2-shuffle distinct-doc aggregation sits
    # inside the main plan (3 hash exchanges instead of 2).  It is the
    # aggregated, >=min_dup_docs-filtered dim — orders smaller than the
    # corpus — so a LAZY localCheckpoint turns it into an RDD node
    # (Scan ExistingRDD) that the first action computes once and the
    # mask join can broadcast; unlike graph.py's iterative loop
    # (which needs eager=True to cut per-round lineage), nothing here
    # justifies running a corpus-scale job at plan-CONSTRUCTION time.
    dup = (
        duplicated_spans(pos_spans, id_col, min_dup_docs)
        .select("span_h")
        .localCheckpoint(eager=False)
    )

    # The per-document mask: one row per document with a duplicated span,
    # carrying its span count and the distinct word positions those spans
    # cover (at most n_words of them).  pos is unique per doc in pos_spans
    # by construction, so dup_spans is a plain count.  This aggregation is
    # the only consumer of the (doc, duplicated span start) join.
    mask = (
        pos_spans.join(dup, "span_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("dup_spans"),
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.sequence(F.col("pos"), F.col("pos") + (k - 1)))
                )
            ).alias("_cov"),
        )
    )
    # Unmasked documents (and a NULL id, which no join key matches) get an
    # empty mask.  size() is taken only of the coalesced array: with ANSI
    # off, size(NULL) is -1.  array_except builds a hash set of the covered
    # positions, so cleaning is linear in the document's length, and it
    # keeps the word order of the sequence.
    cov = F.coalesce("_cov", F.array().cast("array<int>"))
    kept = F.array_except(F.sequence(F.lit(0), F.size("_ws") - 1), cov)
    masked = base.join(mask, id_col, "left").select(
        id_col,
        F.size("_ws").alias("n_words"),
        F.greatest(F.size("_ws") - (k - 1), F.lit(0)).alias("n_spans"),
        F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
        F.size(cov).cast("long").alias("covered_words"),
        F.transform(kept, lambda i: F.element_at("_ws", i + 1)).alias("_cleaned"),
    )
    return masked.select(
        id_col,
        "n_words",
        "n_spans",
        "dup_spans",
        "covered_words",
        F.round(F.col("covered_words") / F.col("n_words"), 6).alias("dup_span_frac"),
        F.size("_cleaned").cast("long").alias("cleaned_n_words"),
        F.md5(F.array_join("_cleaned", " ")).alias("cleaned_md5"),
    )
