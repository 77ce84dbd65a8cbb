"""Column profiling: the engine's single wide aggregation pass (SURVEY A1/A2/A6).

Computes the reference's ``FeatureStatistics`` (baseline_manager.py:299-327) —
count, mean, population std, min/max, p25/50/75/95/99, null_fraction,
unique_count, 20-bin equal-width histogram — for any set of numeric columns,
optionally grouped by partition columns, in (at most) two distributed passes:

pass 1: one ``groupBy(partition).agg(...)`` with every scalar statistic for
        every column fused into a single wide aggregate (Catalyst executes it
        as one shuffle with partial aggregation map-side).
pass 2: histogram counts against the min/max from pass 1 (equal-width binning
        is data-dependent, so it cannot fuse into pass 1; the reference is
        two-pass for the same reason since np.histogram scans min/max first).

NaN/null semantics match the reference (SURVEY §1.4): all statistics are over
finite values only; ``null_fraction = (nulls + NaNs) / total_rows``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PROFILE_PERCENTILES = [0.25, 0.50, 0.75, 0.95, 0.99]


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint", "long", "boolean")


def _finite(c: Column) -> Column:
    """Finite-value projection: NULL out non-finite so aggregates skip them.

    Mirrors the reference's ``x[np.isfinite(x)]`` pre-filter (ks_test.py:125).
    NOTE: this CASE WHEN form is for wide aggregations where per-column
    filtering is impossible; row-path operators should use ``clean_values``
    (filter-then-project), which vectorizes ~10x better.
    """
    d = c.cast("double")
    return F.when(d.isNotNull() & ~F.isnan(d) & (F.abs(d) != float("inf")), d)


def finite_condition(df: DataFrame, column: str) -> Column:
    """Cheapest correct finiteness predicate for the column's actual type.

    Integral columns cannot hold NaN/inf — a bare isNotNull suffices, which
    keeps the filter inside whole-stage codegen (the NaN/abs checks cost ~10x
    on hot explode paths)."""
    dtype = df.schema[column].dataType.simpleString()
    c = F.col(column)
    if dtype in _INTEGRAL_TYPES:
        return c.isNotNull()
    d = c.cast("double")
    return d.isNotNull() & ~F.isnan(d) & (F.abs(d) != float("inf"))


def clean_values(
    df: DataFrame, column: str, extra_cols: Sequence[str] = (), alias: str = "v"
) -> DataFrame:
    """Finite-filtered projection (extra_cols..., alias) — the row-path form."""
    return df.where(finite_condition(df, column)).select(
        *extra_cols, F.col(column).cast("double").alias(alias)
    )


def profile_columns(
    df: DataFrame,
    columns: Sequence[str],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Wide per-(group, column) statistical profile in one aggregation pass.

    Returns one row per group per column (long form — one fixed schema
    regardless of how many features are profiled):

    ``(group_cols..., feature, count, mean, std, min_value, max_value,
    percentile_25, median, percentile_75, percentile_95, percentile_99,
    null_fraction, unique_count, total_rows)``

    std is the POPULATION std (numpy default, baseline_manager.py:314).
    Percentiles (linear interpolation) and unique_count are exact.
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("total_rows")]
    for col in columns:
        v = _finite(F.col(col))
        aggs += [
            F.count(v).alias(f"{col}__count"),
            F.avg(v).alias(f"{col}__mean"),
            F.stddev_pop(v).alias(f"{col}__std"),
            F.min(v).alias(f"{col}__min"),
            F.max(v).alias(f"{col}__max"),
            F.percentile(v, F.array(*[F.lit(p) for p in PROFILE_PERCENTILES])).alias(
                f"{col}__pct"
            ),
            F.count_distinct(v).alias(f"{col}__unique"),
        ]

    wide = df.groupBy(*[F.col(g) for g in group_cols]).agg(*aggs)

    # Unpivot wide -> long with a struct per feature, then explode. The
    # explode is over a literal-sized array (len(columns)), not data rows.
    feature_structs = F.array(
        *[
            F.struct(
                F.lit(col).alias("feature"),
                F.col(f"{col}__count").alias("count"),
                F.col(f"{col}__mean").alias("mean"),
                F.col(f"{col}__std").alias("std"),
                F.col(f"{col}__min").alias("min_value"),
                F.col(f"{col}__max").alias("max_value"),
                F.col(f"{col}__pct").alias("pct"),
                F.col(f"{col}__unique").alias("unique_count"),
            )
            for col in columns
        ]
    )
    out = (
        wide.select(*group_cols, "total_rows", F.explode(feature_structs).alias("s"))
        .select(
            *group_cols,
            F.col("s.feature").alias("feature"),
            F.col("s.count").alias("count"),
            F.col("s.mean").alias("mean"),
            F.col("s.std").alias("std"),
            F.col("s.min_value").alias("min_value"),
            F.col("s.max_value").alias("max_value"),
            F.col("s.pct")[0].alias("percentile_25"),
            F.col("s.pct")[1].alias("median"),
            F.col("s.pct")[2].alias("percentile_75"),
            F.col("s.pct")[3].alias("percentile_95"),
            F.col("s.pct")[4].alias("percentile_99"),
            ((F.col("total_rows") - F.col("s.count")) / F.col("total_rows")).alias(
                "null_fraction"
            ),
            F.col("s.unique_count").alias("unique_count"),
            F.col("total_rows").alias("total_rows"),
        )
    )
    return out


def equal_width_bin(value: Column, lo: Column, hi: Column, n_bins: int) -> Column:
    """numpy-histogram-compatible equal-width bin index over [lo, hi].

    Bins are left-closed ``[e_i, e_{i+1})`` with the LAST bin right-closed
    (np.histogram semantics, baseline_manager.py:309). Values outside
    [lo, hi] return NULL (np.histogram drops them).
    """
    w = (hi - lo) / F.lit(float(n_bins))
    raw = F.floor((value - lo) / w).cast("int")
    return (
        F.when(value.isNull() | lo.isNull() | (hi <= lo), F.lit(None))
        .when((value < lo) | (value > hi), F.lit(None))
        .when(value == hi, F.lit(n_bins - 1))  # closed last bin
        .otherwise(F.least(raw, F.lit(n_bins - 1)))
    )


def histogram(
    df: DataFrame,
    column: str,
    n_bins: int = 20,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Equal-width histogram per group (SURVEY A2): two passes.

    Returns ``(group_cols..., bin, bin_count)`` with every bin 0..n_bins-1
    present (dense), plus companion edges via a broadcast-joined min/max.
    """
    clean = clean_values(df, column, group_cols)
    ranges = clean.groupBy(*group_cols).agg(
        F.min("v").alias("_lo"), F.max("v").alias("_hi")
    )
    joined = (
        clean.join(F.broadcast(ranges), list(group_cols), "inner")
        if group_cols
        else clean.crossJoin(F.broadcast(ranges))
    )
    binned = joined.select(
        *group_cols,
        equal_width_bin(F.col("v"), F.col("_lo"), F.col("_hi"), n_bins).alias("bin"),
    ).where(F.col("bin").isNotNull())
    counts = binned.groupBy(*group_cols, "bin").agg(F.count(F.lit(1)).alias("bin_count"))

    # densify: group x [0..n_bins) left-joined with observed counts
    bins = ranges.select(
        *group_cols,
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"),
    )
    dense = (
        bins.join(counts, [*group_cols, "bin"], "left")
        .withColumn("bin_count", F.coalesce(F.col("bin_count"), F.lit(0)))
        .join(F.broadcast(ranges), list(group_cols) or None, "inner")
        if group_cols
        else bins.join(counts, ["bin"], "left")
        .withColumn("bin_count", F.coalesce(F.col("bin_count"), F.lit(0)))
        .crossJoin(F.broadcast(ranges))
    )
    return dense.select(
        *group_cols,
        "bin",
        "bin_count",
        (F.col("_lo") + F.col("bin") * (F.col("_hi") - F.col("_lo")) / n_bins).alias("bin_lo"),
        (F.col("_lo") + (F.col("bin") + 1) * (F.col("_hi") - F.col("_lo")) / n_bins).alias("bin_hi"),
    )


def bucket_by_edges(value: Column, inner_edges: Column) -> Column:
    """Bin index against arbitrary broadcast edges with ±inf end caps.

    numpy semantics for ``np.histogram(x, [-inf, e1..e_{k-1}, +inf])``:
    half-open ``[e_i, e_{i+1})`` bins, so the index is simply the number of
    inner edges <= value. Runs as a JVM higher-order function over a tiny
    (k-1)-element array — no Python UDF (psi.py:160-162 semantics).
    """
    return F.size(F.filter(inner_edges, lambda e: e <= value))
