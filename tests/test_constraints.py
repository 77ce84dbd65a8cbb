"""Constraint checks on the planted-violation token fixture (FIXTURES.md §1).

Asserts EXACT violation counts and exact violation row identities — the
engine's contract is per-partition pass/fail plus exact violation rows
(BASELINE.json north_rule).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aumos_drift_detector_spark.operators import constraints
from aumos_drift_detector_spark.sources.synth import (
    TOKEN_SCHEMA,
    PlantedExpectations,
    generate_token_tables,
)


@pytest.fixture(scope="module")
def token_fixture(spark):
    cur, base, dim, exp = generate_token_tables(spark, n_rows=2000, seed=42)
    cur = cur.cache()
    base = base.cache()
    return cur, base, dim, exp


class TestUniqueness:
    def test_exact_duplicate_count(self, spark, token_fixture):
        cur, _, _, exp = token_fixture
        res = constraints.uniqueness_check(cur, "doc_id")
        assert res.violation_count == exp.uniqueness
        assert not res.passed

    def test_exact_duplicate_ids(self, spark, token_fixture):
        cur, _, _, _ = token_fixture
        res = constraints.uniqueness_check(cur, "doc_id")
        ids = {r["doc_id"] for r in res.violations.collect()}
        assert ids == {f"doc{i:09d}" for i in range(50)}
        occ = {r["occurrences"] for r in res.violations.collect()}
        assert occ == {2}

    def test_clean_table_passes(self, spark, token_fixture):
        _, base, _, _ = token_fixture
        res = constraints.uniqueness_check(base, "doc_id")
        assert res.passed
        assert res.violation_count == 0

    def test_hot_key_across_every_partition_counts_exactly(self, spark):
        # one key in every input partition (the adversarial case for a
        # uniqueness check): map-side partial counts must sum to the total
        hot = spark.range(0, 4000, numPartitions=8).select(
            F.when(F.col("id") % 2 == 0, F.lit("hot"))
            .otherwise(F.concat(F.lit("k"), F.col("id").cast("string")))
            .alias("doc_id"),
            F.lit("web").alias("source"),
        )
        assert hot.rdd.getNumPartitions() == 8
        res = constraints.uniqueness_check(hot, "doc_id", partition_col="source")
        rows = res.violations.collect()
        assert res.violation_count == 1
        assert [(r["doc_id"], r["occurrences"], r["partition_value"]) for r in rows] == [
            ("hot", 2000, "web")
        ]
        assert rows[0]["detail"] == "duplicate key x2000"


class TestReferential:
    def test_orphan_sources(self, spark, token_fixture):
        cur, _, dim, exp = token_fixture
        res = constraints.referential_check(cur, "source", dim, "source", key_col="doc_id")
        assert res.violation_count == exp.referential
        ids = {r["doc_id"] for r in res.violations.collect()}
        assert ids == {f"doc{i:09d}" for i in range(50, 80)}

    def test_baseline_passes(self, spark, token_fixture):
        _, base, dim, _ = token_fixture
        res = constraints.referential_check(base, "source", dim, "source")
        assert res.passed


class TestRowInvariant:
    def test_ntok_size_invariant(self, spark, token_fixture):
        cur, _, _, exp = token_fixture
        # null-safe equality: null n_tok with null tokens passes (planted
        # null rows are stats violations, not invariant violations)
        res = constraints.row_invariant_check(
            cur, "n_tok <=> size(tokens)", name="ntok_matches_size", key_col="doc_id"
        )
        assert res.violation_count == exp.row_invariant
        ids = {r["doc_id"] for r in res.violations.collect()}
        assert ids == {f"doc{i:09d}" for i in range(80, 120)}

    def test_baseline_invariant_holds(self, spark, token_fixture):
        _, base, _, _ = token_fixture
        res = constraints.row_invariant_check(base, "n_tok <=> size(tokens)")
        assert res.passed


class TestTokenEquality:
    def test_mutated_rows_detected(self, spark, token_fixture):
        cur, base, _, exp = token_fixture
        res = constraints.token_equality_check(cur, base)
        assert res.violation_count == exp.token_equality
        ids = {r["doc_id"] for r in res.violations.collect()}
        assert ids == {f"doc{i:09d}" for i in range(120, 145)}

    def test_identical_tables_pass(self, spark, token_fixture):
        _, base, _, _ = token_fixture
        res = constraints.token_equality_check(base, base)
        assert res.passed

    def test_null_vs_nonnull_fails(self, spark):
        rows_cur = [("a", None, None, "web"), ("b", [1, 2], 2, "web")]
        rows_base = [("a", [9], 1, "web"), ("b", [1, 2], 2, "web")]
        cur = spark.createDataFrame(rows_cur, TOKEN_SCHEMA)
        base = spark.createDataFrame(rows_base, TOKEN_SCHEMA)
        res = constraints.token_equality_check(cur, base)
        assert res.violation_count == 1
        assert res.violations.collect()[0]["doc_id"] == "a"


class TestNullRate:
    def test_null_rows_counted(self, spark, token_fixture):
        cur, _, _, exp = token_fixture
        res = constraints.null_rate_check(cur, ["tokens", "n_tok"], max_null_fraction=0.0)
        # both columns exceed 0 -> 2 violating cells
        assert res.violation_count == 2
        details = sorted(r["detail"] for r in res.violations.collect())
        assert "n_tok" in details[0] and "tokens" in details[1]

    def test_fraction_value(self, spark, token_fixture):
        cur, _, _, exp = token_fixture
        total = cur.count()
        res = constraints.null_rate_check(cur, ["n_tok"], max_null_fraction=0.0)
        detail = res.violations.collect()[0]["detail"]
        assert f"{exp.null_rows / total:.6f}".rstrip("0") in detail

    def test_threshold_allows(self, spark, token_fixture):
        cur, _, _, _ = token_fixture
        res = constraints.null_rate_check(cur, ["n_tok"], max_null_fraction=0.5)
        assert res.passed


class TestSchemaCheck:
    def test_exact_match(self, spark, token_fixture):
        cur, _, _, _ = token_fixture
        res = constraints.schema_check(cur, TOKEN_SCHEMA)
        assert res.passed

    def test_detects_problems(self, spark, token_fixture):
        cur, _, _, _ = token_fixture
        wrong = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),      # wrong type
                T.StructField("tokens", T.ArrayType(T.IntegerType())),
                T.StructField("missing_col", T.StringType()),  # missing
                # n_tok / source unexpected
            ]
        )
        res = constraints.schema_check(cur, wrong)
        assert not res.passed
        details = " | ".join(r["detail"] for r in res.violations.collect())
        assert "type mismatch doc_id" in details
        assert "missing column missing_col" in details
        assert "unexpected column n_tok" in details
