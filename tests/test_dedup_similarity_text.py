"""Tests for dedup, embedding near-dup, text-analysis and PII operators."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from aumos_drift_detector_spark.operators import dedup, text


@pytest.fixture(scope="module")
def docs_df(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        ("d1", base),
        ("d2", base),  # exact dup of d1
        ("d3", base.replace("lazy", "sleepy")),  # near dup of d1
        ("d4", "completely different text about spark query engines and shuffles here"),
        ("d5", "der hund läuft über die straße und das ist ein test der sprache"),
        ("d6", base + " extra tail words appended"),  # near dup
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


class TestExactDedup:
    def test_duplicate_groups(self, spark, docs_df):
        groups = dedup.exact_duplicates(docs_df, "doc_id", ["text"]).collect()
        assert len(groups) == 1
        g = groups[0]
        assert g["n_copies"] == 2
        assert g["doc_ids"] == ["d1", "d2"]
        assert g["keep_id"] == "d1"

    def test_dedup_keeps_one(self, spark, docs_df):
        kept = dedup.dedup_exact(docs_df, "doc_id", ["text"])
        ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
        assert ids == {"d1", "d3", "d4", "d5", "d6"}


class TestIncrementalDedup:
    @pytest.fixture(scope="class")
    def corpus_and_batch(self, spark):
        corpus = spark.createDataFrame(
            [(f"c{i}", f"corpus document number {i} with shared words") for i in range(200)],
            ["doc_id", "text"],
        ).cache()
        # batch: 50 dups of corpus docs + 50 novel docs
        batch = spark.createDataFrame(
            [(f"n{i}", f"corpus document number {i} with shared words") for i in range(50)]
            + [(f"n{i}", f"novel batch document {i} never seen before") for i in range(50, 100)],
            ["doc_id", "text"],
        ).cache()
        return corpus, batch

    def test_matches_plain_anti_join(self, spark, corpus_and_batch):
        corpus, batch = corpus_and_batch
        got = {
            r["doc_id"]
            for r in dedup.incremental_dedup(
                batch, corpus, "doc_id", ["text"], n_bits=1 << 14
            ).collect()
        }
        fp = F.md5(F.col("text"))
        want = {
            r["doc_id"]
            for r in batch.withColumn("_f", fp)
            .join(corpus.select(fp.alias("_f")).distinct(), "_f", "left_anti")
            .collect()
        }
        assert got == want == {f"n{i}" for i in range(50, 100)}

    def test_tiny_bloom_false_positives_still_exact(self, spark, corpus_and_batch):
        # 64-bit bloom over 200 keys: essentially every probe is a false
        # positive — the verification join must still re-admit all novel rows
        corpus, batch = corpus_and_batch
        got = dedup.incremental_dedup(
            batch, corpus, "doc_id", ["text"], n_bits=64, k=2
        )
        assert {r["doc_id"] for r in got.collect()} == {
            f"n{i}" for i in range(50, 100)
        }

    def test_prebuilt_bloom_reuse_and_columns(self, spark, corpus_and_batch):
        corpus, batch = corpus_and_batch
        bloom = dedup.build_fingerprint_bloom(corpus, ["text"], n_bits=1 << 14)
        assert bloom.dtype == np.uint8 and bloom.size == (1 << 14) // 8
        got = dedup.incremental_dedup(
            batch, corpus, "doc_id", ["text"], n_bits=1 << 14, bloom=bloom
        )
        assert got.columns == batch.columns  # helper cols dropped
        assert got.count() == 50
        with pytest.raises(ValueError):
            dedup.incremental_dedup(
                batch, corpus, "doc_id", ["text"], n_bits=1 << 10, bloom=bloom
            )

    def test_empty_sides(self, spark, corpus_and_batch):
        corpus, batch = corpus_and_batch
        empty = batch.where(F.lit(False))
        assert (
            dedup.incremental_dedup(batch, empty, "doc_id", ["text"], n_bits=1 << 10)
            .count()
            == 100
        )
        assert (
            dedup.incremental_dedup(empty, corpus, "doc_id", ["text"], n_bits=1 << 10)
            .count()
            == 0
        )

    def test_bloom_prefilter_skips_join_for_misses(self, spark, corpus_and_batch):
        # the plan property that matters at scale: rows failing the bloom
        # probe never reach the verification join's shuffle. Verified
        # behaviorally — a bloom with ONLY corpus bits set admits at most
        # dups + fp-rate of the novel rows into the candidate set
        corpus, batch = corpus_and_batch
        from aumos_drift_detector_spark.operators.dedup import (
            _bloom_positions,
            _content_fp,
            build_fingerprint_bloom,
        )

        n_bits = 1 << 14
        bloom = build_fingerprint_bloom(corpus, ["text"], n_bits=n_bits, k=5)
        probed = batch.withColumn(
            "_pos", _bloom_positions(_content_fp(["text"]), n_bits, 5)
        ).toPandas()
        arr = np.asarray(probed["_pos"].tolist(), dtype=np.int64)
        hits = ((bloom[arr >> 3] >> (arr & 7).astype(np.uint8)) & 1).all(axis=1)
        n_candidates = int(hits.sum())
        # all 50 true dups hit (no false negatives); false positives among
        # the 50 novel docs stay near the ~0.9%-per-key design rate
        assert n_candidates >= 50
        assert n_candidates <= 55


class TestMinhash:
    def test_near_dups_found_exact_dup_is_one(self, spark, docs_df):
        pairs = dedup.minhash_dedup(
            docs_df, "doc_id", "text", num_hashes=64, num_bands=16, threshold=0.5
        ).toPandas()
        pairmap = {(r.id_a, r.id_b): r.est_jaccard for r in pairs.itertuples()}
        assert pairmap.get(("d1", "d2")) == 1.0  # identical text
        # near dup d1/d3 should surface with high estimated jaccard
        assert ("d1", "d3") in pairmap or ("d1", "d6") in pairmap
        # unrelated docs must not pair at threshold 0.5
        assert not any("d4" in p or "d5" in p for p in pairmap)

    def test_signature_shape_and_determinism(self, spark, docs_df):
        s1 = dedup.minhash_signatures(docs_df, "doc_id", "text", 32).toPandas()
        s2 = dedup.minhash_signatures(docs_df, "doc_id", "text", 32).toPandas()
        assert all(len(m) == 32 for m in s1["minhash"])
        m1 = dict(zip(s1["doc_id"], s1["minhash"].apply(list)))
        m2 = dict(zip(s2["doc_id"], s2["minhash"].apply(list)))
        assert m1 == m2

    def test_band_rows_carry_no_signature_payload(self, spark, docs_df):
        """The band self-join operands must be (id, band, band_hash) only —
        the 64-long signature array must not ride the x16 band explode or
        the join shuffle (it rejoins onto the surviving id-pairs instead)."""
        sig = dedup.minhash_signatures(docs_df, "doc_id", "text", 64)
        bands = dedup._band_rows(sig, "doc_id", 16, 4)
        assert bands.columns == ["doc_id", "band", "band_hash"]

    def test_estimator_tracks_true_jaccard(self, spark, docs_df):
        pairs = dedup.minhash_dedup(
            docs_df, "doc_id", "text", num_hashes=64, num_bands=32, threshold=0.0
        ).toPandas()
        row = pairs[(pairs.id_a == "d1") & (pairs.id_b == "d3")]
        if len(row):  # banded LSH may or may not catch it at low similarity
            # true jaccard of 3-shingle sets of d1/d3 ~ computed in python
            def sh(t, n=3):
                w = t.split()
                return {" ".join(w[i:i+n]) for i in range(len(w)-n+1)}
            a, b = sh("the quick brown fox jumps over the lazy dog near the river bank today"), \
                   sh("the quick brown fox jumps over the sleepy dog near the river bank today")
            true_j = len(a & b) / len(a | b)
            assert abs(row.iloc[0]["est_jaccard"] - true_j) < 0.25


class TestNgramJaccard:
    def test_exact_jaccard_values(self, spark, docs_df):
        pairs = dedup.ngram_jaccard_pairs(docs_df, "doc_id", "text", 3, 0.1).toPandas()
        pairmap = {(r.id_a, r.id_b): r.jaccard for r in pairs.itertuples()}
        assert pairmap[("d1", "d2")] == pytest.approx(1.0)

        def sh(t, n=3):
            w = t.split()
            return {" ".join(w[i:i + n]) for i in range(max(len(w) - n + 1, 1))}

        base = "the quick brown fox jumps over the lazy dog near the river bank today"
        a, b = sh(base), sh(base.replace("lazy", "sleepy"))
        assert pairmap[("d1", "d3")] == pytest.approx(len(a & b) / len(a | b))


class TestDecontamination:
    def _split(self, spark):
        # bench b1 is fully contained in train t1 (GPT-3-style contamination:
        # the eval item appears verbatim inside a longer training doc);
        # b2 is unrelated; t3 is a SHORT train doc (< 3 words -> whole-doc
        # shingle) equal to bench b3 — the short-doc path must still match.
        bench = spark.createDataFrame(
            [
                ("b1", "quick brown fox jumps over the lazy dog"),
                ("b2", "unrelated benchmark question about astronomy facts"),
                ("b3", "tiny doc"),
            ],
            ["doc_id", "text"],
        )
        train = spark.createDataFrame(
            [
                ("t1", "preamble text then quick brown fox jumps over the lazy dog and a closing line"),
                ("t2", "completely different training text with no overlap at all whatsoever"),
                ("t3", "tiny doc"),
            ],
            ["doc_id", "text"],
        )
        return train, bench

    def test_containment_pairs_exact(self, spark):
        train, bench = self._split(spark)
        got = (
            dedup.decontamination_pairs(train, bench, "doc_id", "text", 3, 0.5)
            .orderBy("train_id", "bench_id")
            .collect()
        )
        assert [(r["train_id"], r["bench_id"]) for r in got] == [
            ("t1", "b1"), ("t3", "b3"),
        ]
        full = {(r["train_id"], r["bench_id"]): r for r in got}
        # b1 (8 words) has 6 distinct 3-shingles, all present in t1
        r = full[("t1", "b1")]
        assert r["n_common"] == r["bench_total"] == 6
        assert r["containment"] == 1.0
        # whole-document shingle path: 1/1
        r = full[("t3", "b3")]
        assert (r["n_common"], r["bench_total"], r["containment"]) == (1, 1, 1.0)

    def test_asymmetry_vs_jaccard(self, spark):
        # the contained pair's symmetric Jaccard is well below the 0.5
        # containment it scores — the reason decontamination needs its own
        # operator instead of reusing ngram_jaccard_pairs
        train, bench = self._split(spark)
        both = train.unionByName(bench)
        jac = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(
                both, "doc_id", "text", 3, threshold=0.0, stop_shingle_cap=None
            ).collect()
        }
        j = jac.get(("b1", "t1")) or jac.get(("t1", "b1"))
        assert j is not None and j < 0.5

    def test_bench_side_is_broadcast(self, spark):
        train, bench = self._split(spark)
        plan = (
            dedup.decontamination_pairs(train, bench, "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan

    def test_null_and_empty_text_never_pair(self, spark):
        # regression: word_shingles fabricates one '' shingle for NULL or
        # empty text, so every degenerate bench doc used to "contain" every
        # degenerate train doc at containment 1.0 — scrape failures read as
        # contamination
        schema = "doc_id string, text string"
        train, bench = self._split(spark)
        train = train.unionByName(
            spark.createDataFrame([("t_null", None), ("t_empty", "")], schema)
        )
        bench = bench.unionByName(
            spark.createDataFrame([("b_null", None), ("b_empty", "")], schema)
        )
        got = dedup.decontamination_pairs(
            train, bench, "doc_id", "text", 3, 0.5
        ).collect()
        ids = {r["train_id"] for r in got} | {r["bench_id"] for r in got}
        assert not ids & {"t_null", "t_empty", "b_null", "b_empty"}
        # the real pairs are unaffected by the degenerate rows
        assert {(r["train_id"], r["bench_id"]) for r in got} == {
            ("t1", "b1"), ("t3", "b3"),
        }


class TestSimhash:
    def test_identical_docs_zero_hamming(self, spark, docs_df):
        sigs = dedup.simhash_signatures(docs_df, "doc_id", "text")
        cands = dedup.simhash_candidates(sigs, "doc_id", max_hamming=3).toPandas()
        got = {(r.id_a, r.id_b): r.hamming for r in cands.itertuples()}
        assert got.get(("d1", "d2")) == 0

    def test_different_docs_not_candidates(self, spark, docs_df):
        sigs = dedup.simhash_signatures(docs_df, "doc_id", "text")
        cands = dedup.simhash_candidates(sigs, "doc_id", max_hamming=3).toPandas()
        assert not any("d4" in (r.id_a, r.id_b) and "d5" in (r.id_a, r.id_b)
                       for r in cands.itertuples())


class TestEmbeddingNearDup:
    def test_duplicate_vectors_found(self, spark):
        rng = np.random.default_rng(0)
        base = rng.normal(size=16)
        rows = [
            ("v1", base.tolist()),
            ("v2", (base + rng.normal(scale=1e-3, size=16)).tolist()),  # near-dup
            ("v3", rng.normal(size=16).tolist()),
        ]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        pairs = dedup.embedding_near_duplicates(
            df, "vec_id", "embedding", threshold=0.99
        ).toPandas()
        keys = {(r.id_a, r.id_b) for r in pairs.itertuples()}
        assert ("v1", "v2") in keys

    def test_banded_lsh_recall_and_candidate_volume(self, spark):
        # VERDICT round-1 done-criterion: planted pairs at cosine >= 0.95 must
        # be recovered with recall >= 0.9 at <= 2x candidate volume
        rng = np.random.default_rng(7)
        dim, n_background, n_planted = 32, 200, 30
        rows = []
        for i in range(n_background):
            v = rng.normal(size=dim)
            rows.append((f"bg{i:03d}", (v / np.linalg.norm(v)).tolist()))
        planted = []
        for i in range(n_planted):
            v = rng.normal(size=dim)
            v /= np.linalg.norm(v)
            # small angular perturbation keeps cosine >= ~0.97
            w = v + rng.normal(scale=0.05, size=dim)
            w /= np.linalg.norm(w)
            if float(v @ w) < 0.95:
                w = v + 0.1 * (w - v)
                w /= np.linalg.norm(w)
            rows.append((f"pa{i:03d}", v.tolist()))
            rows.append((f"pb{i:03d}", w.tolist()))
            planted.append((f"pa{i:03d}", f"pb{i:03d}"))
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])

        cands = dedup._embedding_lsh_candidates(df, "vec_id", "embedding").toPandas()
        cand_keys = {tuple(sorted((r.id_a, r.id_b))) for r in cands.itertuples()}
        found = sum(1 for p in planted if tuple(sorted(p)) in cand_keys)
        assert found >= 0.9 * n_planted
        # random 32-dim background vectors almost never collide on all 8
        # planes of a table -> candidate volume stays near the planted count
        assert len(cand_keys) <= 2 * n_planted

        pairs = dedup.embedding_near_duplicates(
            df, "vec_id", "embedding", threshold=0.95
        ).toPandas()
        verified = {tuple(sorted((r.id_a, r.id_b))) for r in pairs.itertuples()}
        assert sum(1 for p in planted if tuple(sorted(p)) in verified) >= 0.9 * n_planted
        assert (pairs["cosine"] >= 0.95).all()


class TestTextAnalysis:
    def test_heavy_hitters_exact_and_tiebreak(self, spark):
        df = spark.createDataFrame(
            [
                ("g1", "b a a b c b"),   # b:3 a:2 c:1
                ("g1", "a c"),           # totals: a:3 b:3 c:2 -> tie a<b
                ("g2", "z z Z y"),       # lowercased: z:3 y:1
            ],
            ["grp", "text"],
        )
        from aumos_drift_detector_spark.operators.text import heavy_hitters

        got = heavy_hitters(df, "text", 2, ("grp",)).collect()
        ranked = {(r["grp"], r["rank"]): (r["word"], r["n"]) for r in got}
        assert ranked[("g1", 1)] == ("a", 3)  # count tie with b -> lexicographic
        assert ranked[("g1", 2)] == ("b", 3)
        assert ranked[("g2", 1)] == ("z", 3)
        assert ranked[("g2", 2)] == ("y", 1)
        assert len(got) == 4

    def test_language_id(self, spark, docs_df):
        out = text.detect_language(docs_df, "text").toPandas().set_index("doc_id")
        assert out.loc["d1", "lang_pred"] == "en"
        assert out.loc["d5", "lang_pred"] == "de"

    def test_token_counts(self, spark):
        df = spark.createDataFrame(
            [("a", "one two  three"), ("b", ""), ("c", "  padded  ")],
            ["doc_id", "text"],
        )
        out = df.select(
            "doc_id", text.whitespace_token_count(F.col("text")).alias("n")
        ).toPandas().set_index("doc_id")
        assert out.loc["a", "n"] == 3
        assert out.loc["b", "n"] == 0
        assert out.loc["c", "n"] == 1

    def test_quality_scores(self, spark):
        rows = [
            ("good", " ".join(["the quick brown fox jumps over it and runs far"] * 3)),
            ("short", "hi"),
            ("punct", "!!! ??? ;;; ,,, ... !!! ??? ;;;"),
            ("digits", "12345 67890 11111 22222 33333 44444"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = text.quality_features(df, "text").toPandas().set_index("doc_id")
        assert out.loc["good", "quality_score"] > 0.9
        assert out.loc["short", "quality_score"] < 0.2
        assert out.loc["punct", "quality_score"] <= 0.5
        assert out.loc["digits", "quality_score"] <= 0.5

    def test_fingerprints_stable(self, spark, docs_df):
        fp = text.document_fingerprints(docs_df, "doc_id", "text").toPandas()
        m = fp.set_index("doc_id")
        assert m.loc["d1", "md5"] == m.loc["d2", "md5"]
        assert m.loc["d1", "md5"] != m.loc["d3", "md5"]


class TestStopShingleFilter:
    def test_benign_data_identical_pairs(self, spark, docs_df):
        # cap far above any posting length -> identical output to unfiltered
        with_cap = dedup.ngram_jaccard_pairs(
            docs_df, "doc_id", "text", 3, 0.1, stop_shingle_cap=10_000
        ).toPandas()
        no_cap = dedup.ngram_jaccard_pairs(
            docs_df, "doc_id", "text", 3, 0.1, stop_shingle_cap=None
        ).toPandas()
        key = lambda p: sorted(map(tuple, p[["id_a", "id_b", "jaccard"]].to_numpy()))
        assert key(with_cap) == key(no_cap)

    def test_hot_shingle_bounded_pairs(self, spark):
        # 100 docs all sharing one viral shingle + unique content: without the
        # filter every pair is a candidate (4950 join rows); with it, no pairs
        import pandas as pd

        viral = "breaking news today everyone"
        rows = [
            (f"d{i:03d}", f"{viral} unique filler text number{i} alpha{i} beta{i}")
            for i in range(100)
        ]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        out = dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", 3, 0.0, stop_shingle_cap=50
        ).toPandas()
        # viral shingles dropped -> docs share nothing -> no candidate pairs
        assert len(out) == 0
        # sanity: without the cap the join would produce all 4950 pairs
        unfiltered = dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", 3, 0.0, stop_shingle_cap=None
        )
        assert unfiltered.count() == 4950


class TestPiiScrub:
    def _df(self, spark):
        from aumos_drift_detector_spark.operators.pii import pii_scrub

        rows = [
            ("d1", "mail bob@x.co or alice.smith@mail.example.org here"),
            ("d2", "server 10.0.0.1 and 192.168.1.255 up"),
            ("d3", "call +1 (555) 123-4567 or 555-9876543 now"),
            ("d4", "clean text with no pii at all"),
            ("d5", None),
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        return rows, pii_scrub(df, "doc_id", "text")

    def test_counts_and_redaction(self, spark):
        rows, got = self._df(spark)
        by_id = {r["doc_id"]: r for r in got.collect()}
        assert (by_id["d1"]["n_email"], by_id["d1"]["n_pii_total"]) == (2, 2)
        assert by_id["d1"]["scrubbed_text"] == "mail <EMAIL> or <EMAIL> here"
        assert (by_id["d2"]["n_ip"], by_id["d2"]["n_pii_total"]) == (2, 2)
        assert by_id["d2"]["scrubbed_text"] == "server <IP> and <IP> up"
        assert (by_id["d3"]["n_phone"], by_id["d3"]["n_pii_total"]) == (2, 2)
        assert by_id["d3"]["scrubbed_text"] == "call <PHONE> or <PHONE> now"
        # zero-PII text passes through byte-identical
        assert by_id["d4"]["n_pii_total"] == 0
        assert by_id["d4"]["scrubbed_text"] == rows[3][1]
        # NULL text propagates NULL counts and NULL scrubbed text
        assert by_id["d5"]["n_pii_total"] is None
        assert by_id["d5"]["scrubbed_text"] is None

    def test_idempotent(self, spark):
        from aumos_drift_detector_spark.operators.pii import pii_scrub

        _, got = self._df(spark)
        again = pii_scrub(
            got.select("doc_id", F.col("scrubbed_text").alias("text")),
            "doc_id",
            "text",
        )
        assert again.where(F.col("n_pii_total") > 0).count() == 0

    def test_no_shuffle_single_projection(self, spark):
        _, got = self._df(spark)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_oracle_parity_on_fixture(self, spark):
        # same regex strings under Java regex (Spark) and RE2 (DuckDB):
        # counts AND redacted text must agree verbatim
        import duckdb

        from aumos_drift_detector_spark.operators.pii import PII_PATTERNS

        rows, got = self._df(spark)
        sdf = got.orderBy("doc_id").toPandas()
        con = duckdb.connect()
        con.register("docs", pd.DataFrame(rows, columns=["doc_id", "text"]))
        count_cols = ", ".join(
            f"len(regexp_extract_all(text, '{p}'))::BIGINT AS n_{n}"
            for n, p, _ in PII_PATTERNS
        )
        scrub = "text"
        for _, p, ph in PII_PATTERNS:
            scrub = f"regexp_replace({scrub}, '{p}', '{ph}', 'g')"
        odf = con.execute(
            f"SELECT doc_id, {count_cols}, {scrub} AS scrubbed_text "
            "FROM docs ORDER BY doc_id"
        ).df()
        for c in ["n_email", "n_ip", "n_phone", "scrubbed_text"]:
            for a, b in zip(sdf[c].tolist(), odf[c].tolist()):
                assert (pd.isna(a) and pd.isna(b)) or a == b, (c, a, b)


class TestHashLevelShingleTwins:
    """The hash-keyed shingle/span builders must group EXACTLY like their
    string-materializing twins (same distinct counts, same filter
    semantics, same cross-document equality structure) — they are physical
    rewrites, not semantic variants."""

    CASES = [
        ("d1", "one two three four five"),
        ("d2", "two three four five six"),      # overlaps d1's shingles
        ("d3", "one two three four five"),      # exact copy of d1
        ("d4", "one two"),                      # shorter than n -> whole-doc
        ("d5", ""),                             # degenerate: '' shingle
        ("d6", "   "),                          # whitespace-only
        ("d7", None),                           # NULL text
        ("d8", "  one  two three four  "),      # empty words from runs
    ]

    def test_word_shingle_hashes_match_string_shingles(self, spark):
        from pyspark.sql import functions as F
        from aumos_drift_detector_spark.operators.dedup import (
            word_shingle_hashes,
            word_shingles,
        )

        df = spark.createDataFrame(self.CASES, "doc_id string, text string")
        s = df.select(
            "doc_id",
            F.filter(
                word_shingles(F.col("text"), 3), lambda x: F.trim(x) != ""
            ).alias("strs"),
            word_shingle_hashes(F.col("text"), 3).alias("hashes"),
        ).collect()
        by_id = {r["doc_id"]: r for r in s}
        # per-doc counts identical (bench_total parity)
        for r in s:
            strs = r["strs"] if r["strs"] is not None else []
            hashes = r["hashes"] if r["hashes"] is not None else []
            assert len(strs) == len(hashes), r["doc_id"]
        # cross-doc equality structure: shared string shingles <-> shared hashes
        import itertools

        for a, b in itertools.combinations([c[0] for c in self.CASES], 2):
            ra, rb = by_id[a], by_id[b]
            n_str = len(set(ra["strs"] or []) & set(rb["strs"] or []))
            n_hash = len(set(ra["hashes"] or []) & set(rb["hashes"] or []))
            assert n_str == n_hash, (a, b, n_str, n_hash)

    def test_word_span_hashes_match_string_spans(self, spark):
        from pyspark.sql import functions as F
        from aumos_drift_detector_spark.operators.spans import (
            word_span_hashes,
            word_spans,
        )
        from aumos_drift_detector_spark.operators.text import clean_words

        df = spark.createDataFrame(self.CASES, "doc_id string, text string")
        w = clean_words(F.col("text"))
        rows = df.select(
            "doc_id",
            word_spans(w, 3).alias("strs"),
            word_span_hashes(w, 3).alias("hashes"),
        ).collect()
        # positionally aligned: span i's hash is the hash of span i's words
        all_pairs = {}
        for r in rows:
            strs = r["strs"] or []
            hashes = r["hashes"] or []
            assert len(strs) == len(hashes), r["doc_id"]
            for s_, h_ in zip(strs, hashes):
                # one hash per distinct span string, globally
                assert all_pairs.setdefault(s_, h_) == h_, (r["doc_id"], s_)
        # distinct spans got distinct hashes (no collision in fixture)
        assert len(set(all_pairs.values())) == len(all_pairs)
