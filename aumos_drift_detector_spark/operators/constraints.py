"""Constraint checks with exact violation-row extraction (SURVEY §2.5 J5-J7).

Each check returns a ``CheckResult`` whose ``violations`` DataFrame is lazy —
the caller decides whether to count it, write it, or both in one action. All
plans are declarative so Catalyst chooses physical strategies; the explicit
scale decisions (broadcast the dim side, one-shuffle uniqueness aggregation,
hash prefilter before wide-payload joins) are documented per function.

The reference has no relational joins — dict-key alignment plays that role
(reference chi_squared.py:140-149 for category alignment, baseline_manager.py:325
for unique counts); these are their set-semantic equivalents per the engine
spec (BASELINE.json north_star).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aumos_drift_detector_spark.sources.tables import driver_frame


@dataclass
class CheckResult:
    """Outcome of one constraint check.

    ``violations`` is a lazy DataFrame of exactly the offending rows (schema
    varies by check; always includes the key / row identity and a `detail`).
    ``violation_count`` is filled when the caller materializes the check.
    """

    check_name: str
    passed: bool
    violation_count: int
    violations: DataFrame
    details: dict = field(default_factory=dict)


def _finalize(check_name: str, violations: DataFrame, details: dict | None = None,
              eager: bool = True) -> CheckResult:
    count = violations.count() if eager else -1
    return CheckResult(
        check_name=check_name,
        passed=(count == 0),
        violation_count=count,
        violations=violations,
        details=details or {},
    )


def uniqueness_check(
    df: DataFrame,
    key_col: str,
    partition_col: str | None = None,
    eager: bool = True,
) -> CheckResult:
    """Duplicate-key detection: one ``groupBy(key)``, one shuffle.

    Map-side partial aggregation already collapses a hot key (bulk-duplicated
    doc_id, the adversarial case for a uniqueness check) to one row per map
    task, so the shuffle carries at most (map tasks) rows for it and the
    final count is one sum over them; salting the key first would only add
    a second shuffle. The ``uniqueness_lineitem`` contract query is the same
    plan.

    Violations: one row per duplicated key with its multiplicity
    (reference analogue: unique_count, baseline_manager.py:325; J6).
    """
    part = F.col(partition_col) if partition_col else F.lit(None).cast("string")
    dupes = (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("occurrences"), F.first(part).alias("_part"))
        .where(F.col("occurrences") > 1)
        .select(
            F.col("_part").alias("partition_value"),
            F.col(key_col).cast("string").alias("doc_id"),
            F.col("occurrences"),
            F.concat(F.lit("duplicate key x"), F.col("occurrences").cast("string")).alias("detail"),
        )
    )
    return _finalize("uniqueness", dupes, {"key": key_col}, eager)


def referential_check(
    df: DataFrame,
    fk_col: str,
    dim_df: DataFrame,
    pk_col: str,
    key_col: str | None = None,
    partition_col: str | None = None,
    eager: bool = True,
) -> CheckResult:
    """Referential integrity: fact FKs must exist in the dimension.

    Physical plan: **broadcast left-anti join** — the dim side (valid sources,
    part keys, ...) is orders of magnitude smaller than the fact table, so the
    anti-join runs map-side with zero shuffle of the fact table (J5;
    reference analogue: "unexpected category", chi_squared.py:109-112).
    """
    dim_keys = dim_df.select(F.col(pk_col).alias(fk_col)).distinct()
    orphans = df.join(F.broadcast(dim_keys), [fk_col], "left_anti")
    ident = F.col(key_col).cast("string") if key_col else F.lit(None).cast("string")
    part = F.col(partition_col) if partition_col else F.lit(None).cast("string")
    violations = orphans.select(
        part.alias("partition_value"),
        ident.alias("doc_id"),
        F.concat(F.lit(f"orphan {fk_col}="), F.col(fk_col).cast("string")).alias("detail"),
    )
    return _finalize("referential", violations, {"fk": fk_col, "pk": pk_col}, eager)


def row_invariant_check(
    df: DataFrame,
    predicate: str,
    name: str = "row_invariant",
    key_col: str | None = None,
    partition_col: str | None = None,
    eager: bool = True,
) -> CheckResult:
    """Generic per-row invariant: rows violating `predicate` (SQL expr) fail.

    NULL predicate results count as violations (an invariant must evaluate
    TRUE). Example: ``n_tok = size(tokens)``.
    """
    pred = F.expr(predicate)
    bad = df.where(~F.coalesce(pred, F.lit(False)))
    ident = F.col(key_col).cast("string") if key_col else F.lit(None).cast("string")
    part = F.col(partition_col) if partition_col else F.lit(None).cast("string")
    violations = bad.select(
        part.alias("partition_value"),
        ident.alias("doc_id"),
        F.lit(f"violates: {predicate}").alias("detail"),
    )
    return _finalize(name, violations, {"predicate": predicate}, eager)


def null_rate_check(
    df: DataFrame,
    columns: Sequence[str],
    max_null_fraction: float = 0.0,
    group_cols: Sequence[str] = (),
    eager: bool = True,
) -> CheckResult:
    """Null-fraction gate per column (and group), one aggregation pass.

    null_fraction = (nulls + NaNs for numeric) / total (reference
    baseline_manager.py:301-302). "Violations" here are (group, column) cells
    over the limit, not individual rows.
    """
    aggs = [F.count(F.lit(1)).alias("_total")]
    for c in columns:
        dtype = dict(df.dtypes).get(c)
        col = F.col(c)
        is_null = col.isNull()
        if dtype in ("double", "float"):
            is_null = is_null | F.isnan(col)
        aggs.append(F.sum(is_null.cast("long")).alias(f"{c}__nulls"))
    agg = df.groupBy(*group_cols).agg(*aggs)
    cells = agg.select(
        *group_cols,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column"),
                    (F.col(f"{c}__nulls") / F.col("_total")).alias("null_fraction"),
                )
                for c in columns
            ])
        ).alias("s"),
    ).select(*group_cols, "s.column", "s.null_fraction")
    violations = cells.where(F.col("null_fraction") > max_null_fraction).select(
        F.concat_ws("/", *[F.col(g).cast("string") for g in group_cols]).alias("partition_value")
        if group_cols
        else F.lit(None).cast("string").alias("partition_value"),
        F.lit(None).cast("string").alias("doc_id"),
        F.concat(
            F.col("column"),
            F.lit(" null_fraction="),
            F.round("null_fraction", 6).cast("string"),
            F.lit(f" > {max_null_fraction}"),
        ).alias("detail"),
    )
    return _finalize("null_rate", violations, {"columns": list(columns)}, eager)


def schema_check(df: DataFrame, expected: T.StructType) -> CheckResult:
    """Schema enforcement: names, types, and nullability-compatible match.

    The reference validates feature-set equality only (ks_test.py:165-170);
    fixed StructType enforcement is this engine's stronger contract
    (SURVEY §1.3). Driver-side — no data touched.
    """
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    exp = {f.name: f.dataType.simpleString() for f in expected.fields}
    problems = []
    for name, dtype in exp.items():
        if name not in actual:
            problems.append(f"missing column {name}:{dtype}")
        elif actual[name] != dtype:
            problems.append(f"type mismatch {name}: expected {dtype}, got {actual[name]}")
    for name in actual:
        if name not in exp:
            problems.append(f"unexpected column {name}:{actual[name]}")
    violations = driver_frame(
        df.sparkSession,
        [(None, None, p) for p in problems],
        T.StructType([
            T.StructField("partition_value", T.StringType()),
            T.StructField("doc_id", T.StringType()),
            T.StructField("detail", T.StringType()),
        ]),
    )
    return CheckResult(
        check_name="schema",
        passed=not problems,
        violation_count=len(problems),
        violations=violations,
        details={"expected": expected.simpleString()},
    )


def token_equality_check(
    current: DataFrame,
    baseline: DataFrame,
    key_col: str = "doc_id",
    array_col: str = "tokens",
    partition_col: str | None = None,
    eager: bool = True,
) -> CheckResult:
    """Per-row token-array equality vs the baseline row with the same key (J7).

    Scale design: both sides are projected to ``(key, xxhash64(array))``
    BEFORE the equi-join, so the shuffle moves 16 bytes/row instead of the
    full token payload (SURVEY §7.3). Hash equality stands in for array
    equality (64-bit collision masking a true mismatch: ~5e-20 per row —
    documented tolerance). Null arrays compare via a sentinel so
    null==null passes and null!=non-null fails.

    Keys present on only one side are NOT violations of this check (they
    belong to uniqueness/completeness checks); inner join semantics.
    """
    sentinel = F.lit(-1)

    def hashed(df: DataFrame, alias: str, carry_part: bool) -> DataFrame:
        h = F.when(F.col(array_col).isNull(), sentinel).otherwise(
            F.xxhash64(F.col(array_col))
        )
        cols = [F.col(key_col), h.alias(alias)]
        if carry_part:
            part = F.col(partition_col) if partition_col else F.lit(None).cast("string")
            cols.append(part.alias("partition_value"))
        return df.select(*cols)

    cur = hashed(current, "h_cur", True)
    base = hashed(baseline, "h_base", False)
    mismatched = (
        cur.join(base, [key_col], "inner")
        .where(F.col("h_cur") != F.col("h_base"))
        .select(
            F.col("partition_value"),
            F.col(key_col).cast("string").alias("doc_id"),
            F.lit(f"{array_col} differs from baseline").alias("detail"),
        )
    )
    return _finalize("token_equality", mismatched, {"key": key_col, "array": array_col}, eager)
