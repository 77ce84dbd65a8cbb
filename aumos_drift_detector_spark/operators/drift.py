"""Distributed two-sample drift tests (SURVEY §2.4).

Architecture: every test is `distributed sketch aggregation -> tiny driver
kernel`. Spark does the heavy pass (one shuffle: a groupBy or one window sort
per group); the per-group finalization operates on k-element arrays
(k = bins or distinct categories), so collecting it is O(groups x k) — bytes,
not data. This is the Spark-first restatement of the reference's numpy
kernels (reference adapters/statistical_tests/*.py), NOT a row-at-a-time port.

PSI, KS, Wasserstein-1 and Anderson-Darling share one front door
(``_sketch_tests``): ``per_value_sketch`` builds the per-(group, v) side
counts once; when the sketch fits ``EngineConfig.sketch_collect_max_rows``
one collect feeds the driver kernel table, otherwise one distributed ECDF
over the persisted sketch (``_overcap_verdicts``) produces the same
statistics. Both plans cut quantiles with the same rank selection and lerp,
so their verdicts are identical.

Grouped variants compute verdicts for every group (e.g. every `source`
partition) in ONE job over the full table. Ungrouped variants mirror the
reference's single-pair API including its ValueError semantics
(empty-after-clean, constant reference).
"""

from __future__ import annotations

from dataclasses import replace
from functools import reduce
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aumos_drift_detector_spark.config import DEFAULT_CONFIG, EngineConfig
from aumos_drift_detector_spark.functions.kernels import (
    DriftVerdict,
    chi2_from_counts,
    hellinger_from_counts,
    js_from_counts,
    ks_verdict,
    psi_from_counts,
)
from aumos_drift_detector_spark.functions.numeric import (
    anderson_darling_significance,
)
from aumos_drift_detector_spark.operators.profile import (
    bucket_by_edges,
    clean_values,
)
from aumos_drift_detector_spark.sources.tables import driver_frame

_REF, _PROD = 0, 1


def _materialize_sketch(per_value: DataFrame, cap: int):
    """Choose the front door's plan: collect the sketch, or persist it.

    Returns ``(pdf, persisted)``; exactly one of the two is non-None.
    When the per-(group, v) sketch fits ``cap`` rows, the probe
    ``limit(cap + 1).toPandas()`` IS the full collect: one job, nothing
    cached, and the driver kernels take it from there. Over the cap, and
    always at cap 0, the sketch is persisted for ``_overcap_verdicts`` and
    the caller MUST unpersist it in a ``finally``. The over-cap plan reads
    the sketch several times (range bounds, chunk totals, offset join, PSI
    bins); without the cache each read would recompute the aggregation
    from the raw rows.
    """
    from pyspark import StorageLevel

    if cap:
        pdf = per_value.limit(cap + 1).toPandas()
        if len(pdf) <= cap:
            return pdf, None
    return None, per_value.persist(StorageLevel.MEMORY_AND_DISK)


def _join_on(
    left: DataFrame, right: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Inner join with ``right`` broadcast, NULL-safe on every key.

    A NULL group key is a group like any other (pandas keeps it on the
    collect path), so a plain equi-join, which drops NULL keys, would make
    the plans disagree. No keys means a cross join with the one-row side.
    """
    if not keys:
        return left.crossJoin(F.broadcast(right))
    rk = right.select(
        *[F.col(k).alias(f"_rk_{k}") for k in keys],
        *[c for c in right.columns if c not in keys],
    )
    cond = reduce(
        lambda a, b: a & b,
        [F.col(k).eqNullSafe(F.col(f"_rk_{k}")) for k in keys],
    )
    return left.join(F.broadcast(rk), cond).drop(*[f"_rk_{k}" for k in keys])


def _cumulative_per_value(
    per_value: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    with_next_value: bool = False,
    n_ranges: int | None = None,
) -> DataFrame:
    """Fully-parallel cumulative sums over per-(group, v) sketch rows.

    The naive ECDF plan — ``Window.partitionBy(*group_cols).orderBy("v")`` —
    funnels each group's ENTIRE distinct-value set through one task
    (ungrouped: the whole table through one reducer). Fine at sf0.1, a
    scale-killer on continuous columns at 100 TB where the distinct set is
    ~row count. This helper is the scale-safe replacement (the classic
    distributed prefix-sum):

      1. One ``approxQuantile`` pass over the sketch fixes explicit value
         boundaries; ``_cid`` = the bucket of v against those broadcast
         boundaries — DETERMINISTIC, so chunks are contiguous along each
         group's value axis in every consumer of the frame (see the inline
         note for why spark_partition_id over repartitionByRange is wrong).
      2. Per-chunk totals aggregate in parallel; the chunk-totals table is
         groups x n_ranges rows — bytes — so its per-group prefix sum runs in
         a tiny window and broadcast-joins back as per-chunk offsets.
      3. A window partitioned by (group, chunk) computes the LOCAL cumsum of
         each chunk in parallel; local + offset = the global cumulative sum.

    Cost: one quantile pass + hash shuffles of the per-value sketch instead
    of one serial reducer — the right trade at scale. Input must be distinct
    on (group..., v). Output adds ``cum_<c>`` and ``total_<c>`` for every sum
    column, plus ``next_v`` (the next distinct value within the group, null at
    the group's end) when ``with_next_value`` — stitched across chunk
    boundaries via each chunk's broadcast per-group min.
    """
    spark = per_value.sparkSession
    if n_ranges is None:
        n_ranges = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    gcols = [F.col(g) for g in group_cols]
    # The chunk id must be DETERMINISTIC — a pure function of v — never
    # spark_partition_id() over repartitionByRange. The ranged frame feeds
    # TWO consumers (chunk totals + the offset join); whenever Catalyst's
    # column pruning makes those branches' plans differ even slightly,
    # exchange reuse is off and each branch re-SAMPLES different range
    # boundaries, silently misaligning every offset (measured: AUC varying
    # run to run). Explicit boundaries from one approxQuantile pass over
    # the sketch give the same contiguous-chunks-per-group property with a
    # value-derived _cid that is identical in every consumer by
    # construction; the heavy shuffles below are then plain hash exchanges
    # on (group, _cid).
    probs = [i / n_ranges for i in range(1, n_ranges)]
    bounds = sorted(
        set(per_value.approxQuantile("v", probs, 0.001)) if probs else []
    )
    if bounds:
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        cid = F.size(F.filter(barr, lambda b: b < F.col("v")))
    else:
        cid = F.lit(0)
    df = per_value.withColumn("_cid", cid)
    chunk_aggs = [F.sum(c).alias(f"_t_{c}") for c in sum_cols]
    if with_next_value:
        chunk_aggs.append(F.min("v").alias("_chunk_min_v"))
    chunk = df.groupBy(*group_cols, "_cid").agg(*chunk_aggs)
    # tiny per-group windows over <= n_ranges chunk rows
    w_prev = Window.partitionBy(*gcols).orderBy("_cid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy(*gcols)
    off_cols = [
        F.coalesce(F.sum(f"_t_{c}").over(w_prev), F.lit(0)).alias(f"_off_{c}")
        for c in sum_cols
    ] + [F.sum(f"_t_{c}").over(w_all).alias(f"total_{c}") for c in sum_cols]
    if with_next_value:
        w_next = Window.partitionBy(*gcols).orderBy("_cid")
        off_cols.append(
            F.lead("_chunk_min_v").over(w_next).alias("_next_chunk_min")
        )
    offsets = chunk.select(*group_cols, "_cid", *off_cols)
    joined = _join_on(df, offsets, [*group_cols, "_cid"])
    w_local = Window.partitionBy(*gcols, F.col("_cid")).orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out_cols = [
        *per_value.columns,
        *[
            (F.sum(c).over(w_local) + F.col(f"_off_{c}")).alias(f"cum_{c}")
            for c in sum_cols
        ],
        *[F.col(f"total_{c}") for c in sum_cols],
    ]
    if with_next_value:
        w_lead = Window.partitionBy(*gcols, F.col("_cid")).orderBy("v")
        out_cols.append(
            F.coalesce(
                F.lead("v").over(w_lead), F.col("_next_chunk_min")
            ).alias("next_v")
        )
    return joined.select(*out_cols)


# ---------------------------------------------------------------------------
# Rank selection: exact quantiles of a group's reference multiset
# ---------------------------------------------------------------------------

def _lerp_quantiles(
    lo: np.ndarray, hi: np.ndarray, probs: np.ndarray, n: int
) -> np.ndarray:
    """Linear interpolation between the order statistics of rank floor(k)
    and ceil(k), k = p·(n−1) (numpy 'linear', Spark ``percentile`` and
    DuckDB ``quantile_cont``). Both plans end here, so their quantiles are
    bitwise identical."""
    k = probs * (n - 1)
    return lo + (k - np.floor(k)) * (hi - lo)


def _weighted_percentiles(
    values: np.ndarray, counts: np.ndarray, probs: np.ndarray
) -> np.ndarray:
    """Exact percentiles of the expanded multiset (Spark F.percentile /
    numpy 'linear' semantics) from (sorted value, count) pairs."""
    cum = np.cumsum(counts)
    n = int(cum[-1])
    k = probs * (n - 1)
    lo = values[np.searchsorted(cum, np.floor(k), side="right")]
    hi = values[np.searchsorted(cum, np.ceil(k), side="right")]
    return _lerp_quantiles(lo, hi, probs, n)


def _rank_picks(probs: np.ndarray) -> list[Column]:
    """Aggregates that pick the order statistics ``_lerp_quantiles`` needs.

    Run over ``_cumulative_per_value`` rows with ``c_ref`` as a sum column.
    For every p_i they pick the reference values of rank floor(k) and
    ceil(k), k = p_i·(n−1), computed with the same double arithmetic as
    ``_weighted_percentiles`` (``repr`` round-trips p_i exactly into the
    SQL double literal). Exactly one row of a group holds rank r
    (``cum_c_ref - c_ref <= r < cum_c_ref``), so ``max`` over the other
    rows' NULLs is that row's value: plain aggregates in the grouped
    aggregation, with no join and no single-reducer percentile buffer.
    """
    return [
        F.expr(
            f"max(CASE WHEN {fn}({float(p)!r}D * (total_c_ref - 1)) "
            f"BETWEEN cum_c_ref - c_ref AND cum_c_ref - 1 THEN v END)"
        ).alias(f"_q{i}_{side}")
        for i, p in enumerate(probs)
        for side, fn in (("lo", "floor"), ("hi", "ceil"))
    ]


def _picked_quantiles(row, probs: np.ndarray, n: int) -> np.ndarray:
    """Driver half of ``_rank_picks``: interpolate one group's picks."""
    lo, hi = (
        np.array([row[f"_q{i}_{side}"] for i in range(len(probs))], dtype=np.float64)
        for side in ("lo", "hi")
    )
    return _lerp_quantiles(lo, hi, probs, n)


def _edge_probs(n_bins: int) -> np.ndarray:
    """The reference's ``np.percentile(ref, linspace(0, 100, k+1))`` levels."""
    return np.linspace(0.0, 1.0, n_bins + 1)


def quantile_edges_selection(
    ref_df: DataFrame,
    column: str,
    n_bins: int,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact equal-frequency edges (SURVEY A3) by distributed rank selection.

    Per-value reference counts, parallel prefix sums
    (``_cumulative_per_value``) and ``_rank_picks`` in one aggregation, then
    the driver lerp — the plan PSI runs over the cap, so these are exactly
    PSI's ``bin_edges``. Output: (group_cols..., edges array<double>,
    ref_count, ref_distinct).
    """
    probs = _edge_probs(n_bins)
    per_value = clean_values(ref_df, column, group_cols).groupBy(
        *group_cols, "v"
    ).agg(F.count("v").alias("c_ref"))
    cum = _cumulative_per_value(per_value, group_cols, ["c_ref"])
    rows = cum.groupBy(*group_cols).agg(
        F.max("total_c_ref").alias("n"),
        F.count(F.lit(1)).alias("ref_distinct"),
        *_rank_picks(probs),
    ).collect()
    out_rows = [
        (
            *[r[g] for g in group_cols],
            _picked_quantiles(r, probs, int(r["n"])).tolist(),
            int(r["n"]),
            int(r["ref_distinct"]),
        )
        for r in rows
        if r["n"]
    ]
    schema = T.StructType(
        [ref_df.schema[g] for g in group_cols]
        + [
            T.StructField("edges", T.ArrayType(T.DoubleType())),
            T.StructField("ref_count", T.LongType()),
            T.StructField("ref_distinct", T.LongType()),
        ]
    )
    return driver_frame(ref_df.sparkSession, out_rows, schema)


def _sides(
    ref_df: DataFrame,
    prod_df: DataFrame,
    column: str,
    group_cols: Sequence[str],
    cast_double: bool = True,
    keep_nulls: bool = False,
) -> DataFrame:
    """Union (ref, prod) into (group_cols..., side, v).

    Default: finite doubles only. ``cast_double=False`` keeps the native
    type and drops NULLs (categorical values); ``keep_nulls=True`` casts to
    double without filtering.
    """
    def prep(df: DataFrame, side: int) -> DataFrame:
        if keep_nulls:
            df = df.select(*group_cols, F.col(column).cast("double").alias("v"))
        elif cast_double:
            df = clean_values(df, column, group_cols)
        else:
            df = df.select(*group_cols, F.col(column).alias("v")).where(
                F.col("v").isNotNull()
            )
        return df.select(*group_cols, F.lit(side).alias("side"), F.col("v"))

    return prep(ref_df, _REF).unionByName(prep(prod_df, _PROD))


def per_value_sketch(
    ref_df: DataFrame,
    prod_df: DataFrame,
    column: str,
    group_cols: Sequence[str] = (),
    keep_nulls: bool = False,
    cast_double: bool = True,
) -> DataFrame:
    """One aggregation producing per-(group, distinct value) side counts.

    The one sketch of this module: PSI, KS, W1, JS and Anderson-Darling are
    all functions of the (v, c_ref, c_prod) rows, and chi² counts
    categories with the same aggregation on the native type
    (``cast_double=False``). Running tests off one sketch instead of one
    scan each removes the repeated scans and driver/codegen latency — the
    Amdahl term that capped end-to-end 8->32 scaling at 0.66 in round 1.
    The validation pass collects the whole sketch into
    ``_verdicts_from_sketch``, so it suits bounded distinct-value sets
    (token counts, categorical ints); the *_test_grouped operators switch
    to the distributed plan over the cap.

    ``keep_nulls=True`` skips the finite filter so NULL values appear as one
    ``v IS NULL`` row per group — letting ``profile_from_sketch`` compute
    null fractions and total row counts from the SAME scan (intended for
    integral columns, where null is the only non-finite state; drift kernels
    drop the null rows driver-side).
    """
    sides = _sides(ref_df, prod_df, column, group_cols, cast_double, keep_nulls)
    return sides.groupBy(*group_cols, "v").agg(
        F.sum(F.when(F.col("side") == _REF, 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(F.col("side") == _PROD, 1).otherwise(0)).alias("c_prod"),
    )


def _verdict_frame(
    verdicts: list[tuple[tuple, DriftVerdict | None, str | None]],
    group_cols: Sequence[str],
) -> pd.DataFrame:
    """Flatten (group_key, verdict, error) triples into a pandas frame."""
    rows = []
    for key, v, err in verdicts:
        row = dict(zip(group_cols, key))
        if v is not None:
            row.update(
                test=v.test,
                score=v.score,
                threshold=v.threshold,
                is_drifted=v.is_drifted,
                p_value=v.p_value,
                reference_size=v.reference_size,
                production_size=v.production_size,
                feature=v.feature_name,
                details=v.details,
                error=None,
            )
        else:
            row.update(
                test=None, score=None, threshold=None, is_drifted=None,
                p_value=None, reference_size=None, production_size=None,
                feature=None, details={}, error=err,
            )
        rows.append(row)
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# Sketch kernels: one group's sorted (v, c_ref, c_prod) -> (verdict, error)
# ---------------------------------------------------------------------------

_EMPTY_REF = "Reference dataset is empty after removing NaN/inf"
_EMPTY_PROD = "Production dataset is empty after removing NaN/inf"
_EMPTY_SIDE = "empty side after removing NaN/inf"


def _side_error(
    test: str, n_ref: int, n_prod: int, ref_distinct: int = 2
) -> str | None:
    """Each test's own error string for an empty side or a constant
    reference; shared by the driver kernels and the over-cap plan."""
    if test == "ks":
        if n_ref == 0:
            return "Reference dataset contains only NaN/inf values"
        if n_prod == 0:
            return "Production dataset contains only NaN/inf values"
        return None
    if test in ("w1", "ad"):
        return _EMPTY_SIDE if n_ref == 0 or n_prod == 0 else None
    if n_ref == 0:
        return _EMPTY_REF
    if test == "psi" and ref_distinct <= 1:
        return "Reference distribution is constant — PSI requires variance"
    return _EMPTY_PROD if n_prod == 0 else None


def _psi_kernel(v, cr, cp, config: EngineConfig, column: str):
    """PSI: exact weighted-percentile edges from the reference counts,
    searchsorted binning against the ±inf-capped inner edges."""
    ref_mask = cr > 0
    err = _side_error("psi", int(cr.sum()), int(cp.sum()), int(ref_mask.sum()))
    if err:
        return None, err
    n_bins = config.psi_bins
    edges = _weighted_percentiles(v[ref_mask], cr[ref_mask], _edge_probs(n_bins))
    bins = np.searchsorted(edges[1:-1], v, side="right")
    rc = np.zeros(n_bins, dtype=np.int64)
    pc = np.zeros(n_bins, dtype=np.int64)
    np.add.at(rc, bins, cr)
    np.add.at(pc, bins, cp)
    return psi_from_counts(
        rc, pc, config.psi_threshold, bin_edges=edges, feature_name=column
    ), None


def _ks_kernel(v, cr, cp, config: EngineConfig, column: str):
    """Exact KS: D = max ECDF gap over the distinct union values."""
    n_ref, n_prod = int(cr.sum()), int(cp.sum())
    err = _side_error("ks", n_ref, n_prod)
    if err:
        return None, err
    d = float(np.max(np.abs(np.cumsum(cr) / n_ref - np.cumsum(cp) / n_prod)))
    return ks_verdict(
        d, n_ref, n_prod, config.ks_threshold, column,
        method=config.ks_pvalue_method,
    ), None


def _w1_verdict(
    w1: float, n_ref: int, n_prod: int, quartiles: np.ndarray, std: float,
    threshold: float, column: str,
) -> DriftVerdict:
    """IQR / population-std / 1.0 normalization ladder (wasserstein.py:52-56)."""
    iqr = float(quartiles[1] - quartiles[0])
    if iqr < 1e-10:
        iqr = std or 1.0
    score = w1 / iqr
    return DriftVerdict(
        test="wasserstein",
        score=score,
        threshold=threshold,
        is_drifted=bool(score > threshold),
        reference_size=n_ref,
        production_size=n_prod,
        feature_name=column,
        details={"raw_distance": w1, "iqr": iqr},
    )


_W1_QUARTILES = np.array([0.25, 0.75])


def _w1_kernel(v, cr, cp, config: EngineConfig, column: str):
    """IQR-normalized W1 = Σ |F_ref − F_prod|·Δv over the sorted distinct
    union values (scipy.stats.wasserstein_distance, wasserstein.py:20-75)."""
    n_ref, n_prod = int(cr.sum()), int(cp.sum())
    err = _side_error("w1", n_ref, n_prod)
    if err:
        return None, err
    gap = np.abs(np.cumsum(cr) / n_ref - np.cumsum(cp) / n_prod)[:-1]
    w1 = float(np.sum(gap * np.diff(v)))
    m = cr > 0
    mean = float(np.sum(v[m] * cr[m])) / n_ref
    std = float(np.sqrt(np.sum(cr[m] * (v[m] - mean) ** 2) / n_ref))
    quartiles = _weighted_percentiles(v[m], cr[m], _W1_QUARTILES)
    return _w1_verdict(
        w1, n_ref, n_prod, quartiles, std, config.wasserstein_threshold, column
    ), None


def _js_kernel(v, cr, cp, config: EngineConfig, column: str):
    """JS over equal-width bins of the shared range (js_test_grouped parity)."""
    err = _side_error("js", int(cr.sum()), int(cp.sum()))
    if err:
        return None, err
    n_bins = config.hist_bins
    lo, hi = float(v[0]), float(v[-1])
    if hi == lo:
        bins = np.zeros(len(v), dtype=np.int64)
    else:
        width = (hi - lo) / n_bins
        bins = np.minimum(np.floor((v - lo) / width).astype(np.int64), n_bins - 1)
        bins[v == hi] = n_bins - 1
    rc = np.zeros(n_bins, dtype=np.int64)
    pc = np.zeros(n_bins, dtype=np.int64)
    np.add.at(rc, bins, cr)
    np.add.at(pc, bins, cp)
    return js_from_counts(rc, pc, config.js_threshold, feature_name=column), None


_KERNELS = {"psi": _psi_kernel, "ks": _ks_kernel, "w1": _w1_kernel, "js": _js_kernel}


# ---------------------------------------------------------------------------
# The front door: one sketch, then one collect or one distributed ECDF
# ---------------------------------------------------------------------------

def _verdicts_from_sketch(
    sketch_pdf: pd.DataFrame,
    group_cols: Sequence[str],
    column: str,
    config: EngineConfig,
    tests: Sequence[str],
) -> dict[str, pd.DataFrame]:
    """Under the cap: every kernel in ``tests`` over one collected sketch,
    in one hash-groupby pass — O(sketch_rows), not O(groups x sketch_rows).
    An ungrouped run with no clean rows still yields one error row."""
    # a keep_nulls sketch carries (v IS NULL) rows for profile_from_sketch;
    # the drift kernels operate on clean values only (parity with _sides)
    sketch_pdf = sketch_pdf[sketch_pdf["v"].notna()]
    groups = _iter_group_subframes(sketch_pdf, group_cols)
    if not group_cols and sketch_pdf.empty:
        groups = [((), sketch_pdf)]
    out: dict[str, list] = {t: [] for t in tests}
    for key, sub in groups:
        sub = sub.sort_values("v")
        v = sub["v"].to_numpy(dtype=np.float64)
        cr = sub["c_ref"].to_numpy(dtype=np.int64)
        cp = sub["c_prod"].to_numpy(dtype=np.int64)
        for t in tests:
            out[t].append((key, *_KERNELS[t](v, cr, cp, config, column)))
    return {t: _verdict_frame(out[t], group_cols) for t in tests}


# Per-group statistics of the over-cap plan, as SQL over the
# ``_cumulative_per_value`` columns (one Py4J call per aggregate instead of
# one per Column operator), keyed by the test that needs them. The
# Anderson-Darling terms are the midrank sums of Scholz-Stephens A2akN.
_GAP = "abs(try_divide(cum_c_ref, total_c_ref) - try_divide(cum_c_prod, total_c_prod))"
_AD_LJ = "(c_ref + c_prod)"
_AD_BJ = f"(cum_c_ref + cum_c_prod - {_AD_LJ} / 2.0D)"
_AD_N = "(total_c_ref + total_c_prod)"
_AD_DENOM = f"({_AD_BJ} * ({_AD_N} - {_AD_BJ}) - {_AD_N} * {_AD_LJ} / 4.0D)"


def _ad_sum(side: str) -> str:
    inner = (
        f"{_AD_LJ} * power({_AD_N} * (cum_c_{side} - c_{side} / 2.0D)"
        f" - total_c_{side} * {_AD_BJ}, 2)"
    )
    return f"sum(CASE WHEN {_AD_DENOM} > 0 THEN try_divide({inner}, {_AD_DENOM}) END)"


_OVERCAP_AGGS = {
    "psi": {},
    "ks": {"d": f"max({_GAP})"},
    "w1": {
        "w1": f"sum({_GAP} * coalesce(next_v - v, 0.0D))",
        "ref_ss": "sum(c_ref * power(v - try_divide(total_ref_mass, total_c_ref), 2))",
    },
    "ad": {"s_ref": _ad_sum("ref"), "s_prod": _ad_sum("prod")},
}


def _overcap_verdicts(
    sketch: DataFrame,
    group_cols: Sequence[str],
    column: str,
    config: EngineConfig,
    tests: Sequence[str],
    ad_threshold: float = 0.05,
) -> dict[str, pd.DataFrame]:
    """Over the cap: the same statistics from ONE distributed ECDF.

    One ``_cumulative_per_value`` frame over the (persisted) sketch feeds one
    grouped aggregation: KS D, the W1 integral, the reference sums behind
    the W1 std fallback, the Anderson-Darling sums, and ``_rank_picks`` for
    the W1 quartiles and the PSI edges. PSI then bins the sketch rows (not
    the raw rows) against those edges. No stage reads raw rows again and
    none funnels a group through one reducer; the driver finalizes on
    groups x O(bins) values with the kernels' own formulas.
    """
    psi_probs = _edge_probs(config.psi_bins) if "psi" in tests else np.empty(0)
    probs = np.concatenate(
        [psi_probs, _W1_QUARTILES if "w1" in tests else np.empty(0)]
    )
    w1 = "w1" in tests  # the W1 integral needs next_v, its std the ref mass
    cum = _cumulative_per_value(
        sketch.withColumn("ref_mass", F.col("c_ref") * F.col("v")) if w1 else sketch,
        group_cols,
        ["c_ref", "c_prod", "ref_mass"] if w1 else ["c_ref", "c_prod"],
        with_next_value=w1,
    )
    aggs = {
        "n_ref": "max(total_c_ref)",
        "n_prod": "max(total_c_prod)",
        "ref_distinct": "count_if(c_ref > 0)",
    }
    for t in tests:
        aggs.update(_OVERCAP_AGGS[t])
    rows = cum.groupBy(*group_cols).agg(
        *[F.expr(sql).alias(name) for name, sql in aggs.items()],
        *_rank_picks(probs),
    ).collect()

    out: dict[str, list] = {t: [] for t in tests}
    psi_rows: list[tuple[int, tuple, np.ndarray]] = []
    for r in rows:
        key = tuple(r[g] for g in group_cols)
        n, m = int(r["n_ref"] or 0), int(r["n_prod"] or 0)
        q = _picked_quantiles(r, probs, n) if n else None
        for t in tests:
            err = _side_error(t, n, m, r["ref_distinct"])
            verdict = None
            if err:
                pass
            elif t == "ks":
                verdict = ks_verdict(
                    float(r["d"]), n, m, config.ks_threshold, column,
                    method=config.ks_pvalue_method,
                )
            elif t == "w1":
                verdict = _w1_verdict(
                    float(r["w1"]), n, m, q[psi_probs.size:],
                    float(np.sqrt(r["ref_ss"] / n)),
                    config.wasserstein_threshold, column,
                )
            elif t == "ad":
                verdict = _ad_verdict(
                    float(r["s_ref"]), float(r["s_prod"]), n, m, ad_threshold, column
                )
            else:  # psi: the verdict waits for the binning pass below
                psi_rows.append((len(out[t]), key, q[:psi_probs.size]))
            out[t].append((key, verdict, err))
    if psi_rows:
        counts = _psi_bin_counts(sketch, group_cols, psi_rows, config.psi_bins)
        for (i, key, edges), (rc, pc) in zip(psi_rows, counts):
            out["psi"][i] = (key, psi_from_counts(
                rc, pc, config.psi_threshold, bin_edges=edges, feature_name=column
            ), None)
    return {t: _verdict_frame(out[t], group_cols) for t in tests}


def _psi_bin_counts(
    sketch: DataFrame,
    group_cols: Sequence[str],
    psi_rows: list[tuple[int, tuple, np.ndarray]],
    n_bins: int,
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Per-bin (ref, prod) counts of the sketch rows against each group's
    broadcast inner edges (``bucket_by_edges`` = searchsorted 'right')."""
    schema = T.StructType(
        [T.StructField(g, sketch.schema[g].dataType) for g in group_cols]
        + [
            T.StructField("_gi", T.IntegerType()),
            T.StructField("inner_edges", T.ArrayType(T.DoubleType())),
        ]
    )
    edges_df = driver_frame(
        sketch.sparkSession,
        [(*key, gi, edges[1:-1].tolist()) for gi, (_, key, edges) in enumerate(psi_rows)],
        schema,
    )
    binned = _join_on(sketch, edges_df, group_cols).groupBy(
        "_gi", bucket_by_edges(F.col("v"), F.col("inner_edges")).alias("bin")
    ).agg(F.sum("c_ref").alias("rc"), F.sum("c_prod").alias("pc"))
    counts = [
        (np.zeros(n_bins, dtype=np.int64), np.zeros(n_bins, dtype=np.int64))
        for _ in psi_rows
    ]
    for r in binned.collect():
        rc, pc = counts[r["_gi"]]
        rc[r["bin"]] += r["rc"]
        pc[r["bin"]] += r["pc"]
    return counts


def _sketch_tests(
    ref_df: DataFrame,
    prod_df: DataFrame,
    column: str,
    group_cols: Sequence[str],
    config: EngineConfig,
    tests: Sequence[str],
    ad_threshold: float = 0.05,
) -> dict[str, pd.DataFrame]:
    """The front door of the sketch tests: build the sketch once, then run
    ``tests`` by the collect plan or the over-cap plan."""
    per_value = per_value_sketch(ref_df, prod_df, column, group_cols)
    pdf, persisted = _materialize_sketch(per_value, config.sketch_collect_max_rows)
    if pdf is not None:
        return _verdicts_from_sketch(pdf, group_cols, column, config, tests)
    try:
        return _overcap_verdicts(
            persisted, group_cols, column, config, tests, ad_threshold
        )
    finally:
        persisted.unpersist()


def _with_overrides(config: EngineConfig, **overrides) -> EngineConfig:
    """``config`` with the call's explicit (non-None) arguments applied."""
    set_ = {k: v for k, v in overrides.items() if v is not None}
    return replace(config, **set_) if set_ else config


# ---------------------------------------------------------------------------
# PSI
# ---------------------------------------------------------------------------

def psi_test_grouped(
    ref_df: DataFrame,
    prod_df: DataFrame,
    column: str,
    group_cols: Sequence[str] = (),
    threshold: float | None = None,
    n_bins: int | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> pd.DataFrame:
    """PSI per group: exact reference-quantile bins (±inf caps), both sides
    histogrammed against them (psi.py:154-162). A group with production
    rows but no reference rows — an orphan partition absent from the
    baseline — gets an error row rather than vanishing."""
    config = _with_overrides(config, psi_threshold=threshold, psi_bins=n_bins)
    return _sketch_tests(ref_df, prod_df, column, group_cols, config, ("psi",))["psi"]


def psi_test(
    ref_df: DataFrame,
    prod_df: DataFrame,
    column: str,
    threshold: float | None = None,
    n_bins: int | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> DriftVerdict:
    """Single-pair PSI with the reference's ValueError semantics (psi.py:145-152)."""
    threshold = config.psi_threshold if threshold is None else threshold
    frame = psi_test_grouped(ref_df, prod_df, column, (), threshold, n_bins, config)
    return _single(frame, "psi", threshold, column)


# ---------------------------------------------------------------------------
# KS
# ---------------------------------------------------------------------------

def ks_test_grouped(
    ref_df: DataFrame,
    prod_df: DataFrame,
    column: str,
    group_cols: Sequence[str] = (),
    threshold: float | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> pd.DataFrame:
    """Exact two-sample KS per group: D = max |F_ref − F_prod| over both
    ECDFs built from the per-value sketch (never a single-reducer sort)."""
    config = _with_overrides(config, ks_threshold=threshold)
    return _sketch_tests(ref_df, prod_df, column, group_cols, config, ("ks",))["ks"]


def ks_test(
    ref_df: DataFrame,
    prod_df: DataFrame,
    column: str,
    threshold: float | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> DriftVerdict:
    threshold = config.ks_threshold if threshold is None else threshold
    frame = ks_test_grouped(ref_df, prod_df, column, (), threshold, config)
    return _single(frame, "ks", threshold, column)


# ---------------------------------------------------------------------------
# JS / Hellinger (shared equal-width binning over the combined range)
# ---------------------------------------------------------------------------

def _binned_counts_shared_range(
    ref_df: DataFrame,
    prod_df: DataFrame,
    column: str,
    group_cols: Sequence[str],
    n_bins: int,
    domain: tuple[float, float] | None = None,
) -> pd.DataFrame:
    """Equal-width bins over combined min/max (jensen_shannon.py:53-59).

    With ``domain=(lo, hi)`` given (e.g. token ids: [0, vocab)), the min/max
    pre-pass and the broadcast range join disappear — binning becomes literal
    arithmetic fused into one single-pass aggregation. Use it whenever the
    column's bounds are known a priori; it is the scale path.
    """
    sides = _sides(ref_df, prod_df, column, group_cols)
    if domain is not None:
        lo, hi = float(domain[0]), float(domain[1])
        width = (hi - lo) / n_bins
        raw = F.floor((F.col("v") - F.lit(lo)) / F.lit(width)).cast("int")
        bin_col = (
            F.when(F.col("v") == F.lit(hi), F.lit(n_bins - 1))
            .otherwise(F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)))
        )
        return (
            sides.withColumn("bin", bin_col)
            .groupBy(*group_cols, "side", "bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .toPandas()
        )
    ranges = sides.groupBy(*group_cols).agg(
        F.min("v").alias("_lo"), F.max("v").alias("_hi")
    )
    joined = (
        sides.join(F.broadcast(ranges), list(group_cols), "inner")
        if group_cols
        else sides.crossJoin(F.broadcast(ranges))
    )
    # np.linspace edge semantics; degenerate lo==hi puts everything in bin 0
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))
    raw = F.floor((F.col("v") - F.col("_lo")) / width).cast("int")
    bin_col = (
        F.when(F.col("_hi") == F.col("_lo"), F.lit(0))
        .when(F.col("v") == F.col("_hi"), F.lit(n_bins - 1))
        .otherwise(F.least(raw, F.lit(n_bins - 1)))
    )
    return (
        joined.withColumn("bin", bin_col)
        .groupBy(*group_cols, "side", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .toPandas()
    )


def _histogram_pair_test(
    kernel,
    ref_df: DataFrame,
    prod_df: DataFrame,
    column: str,
    group_cols: Sequence[str],
    threshold: float,
    n_bins: int,
    domain: tuple[float, float] | None = None,
) -> pd.DataFrame:
    pdf = _binned_counts_shared_range(
        ref_df, prod_df, column, group_cols, n_bins, domain
    )
    return _kernel_over_binned_counts(kernel, pdf, group_cols, n_bins, threshold, column)


def _kernel_over_binned_counts(
    kernel, pdf: pd.DataFrame, group_cols: Sequence[str], n_bins: int,
    threshold: float, column: str,
) -> pd.DataFrame:
    verdicts = []
    for key, sub in _iter_group_subframes(pdf, group_cols):
        rc = np.zeros(n_bins, dtype=np.int64)
        pc = np.zeros(n_bins, dtype=np.int64)
        bins = sub["bin"].to_numpy(dtype=np.int64)
        cnts = sub["cnt"].to_numpy(dtype=np.int64)
        is_ref = (sub["side"] == _REF).to_numpy()
        np.add.at(rc, bins[is_ref], cnts[is_ref])
        np.add.at(pc, bins[~is_ref], cnts[~is_ref])
        if rc.sum() == 0:
            verdicts.append((key, None, _EMPTY_REF))
        elif pc.sum() == 0:
            verdicts.append((key, None, _EMPTY_PROD))
        else:
            verdicts.append((key, kernel(rc, pc, threshold, feature_name=column), None))
    if not verdicts and not group_cols:
        verdicts.append(((), None, _EMPTY_REF))
    return _verdict_frame(verdicts, group_cols)


def histogram_kernel_from_counts(
    counts_pdf: pd.DataFrame,
    kernel_name: str,
    group_cols: Sequence[str],
    n_bins: int,
    threshold: float,
    feature: str = "unknown",
) -> pd.DataFrame:
    """Run a drift kernel over pre-computed binned counts (one collect reused
    by several kernels — the validation plan's token-histogram path).

    ``kernel_name``: 'js' | 'hellinger' | 'chi2' (chi2 treats the bins as
    categories — a bucketed chi-squared, the standard coarsening for
    high-cardinality domains like token ids).
    """
    if kernel_name == "js":
        return _kernel_over_binned_counts(
            js_from_counts, counts_pdf, group_cols, n_bins, threshold, feature
        )
    if kernel_name == "hellinger":
        return _kernel_over_binned_counts(
            hellinger_from_counts, counts_pdf, group_cols, n_bins, threshold, feature
        )
    if kernel_name == "chi2":
        def chi2_kernel(rc, pc, thr, feature_name):
            cats = [str(i) for i in range(len(rc))]
            return chi2_from_counts(cats, rc, pc, thr, feature_name=feature_name)

        return _kernel_over_binned_counts(
            chi2_kernel, counts_pdf, group_cols, n_bins, threshold, feature
        )
    raise ValueError(f"unknown kernel {kernel_name!r}")


def js_test_grouped(
    ref_df, prod_df, column, group_cols=(), threshold=None, n_bins=None,
    config: EngineConfig = DEFAULT_CONFIG, domain=None,
) -> pd.DataFrame:
    threshold = config.js_threshold if threshold is None else threshold
    n_bins = config.hist_bins if n_bins is None else n_bins
    return _histogram_pair_test(
        js_from_counts, ref_df, prod_df, column, group_cols, threshold, n_bins,
        domain,
    )


def js_test(ref_df, prod_df, column, threshold=None, n_bins=None,
            config: EngineConfig = DEFAULT_CONFIG) -> DriftVerdict:
    threshold = config.js_threshold if threshold is None else threshold
    frame = js_test_grouped(ref_df, prod_df, column, (), threshold, n_bins, config)
    return _single(frame, "jensen_shannon", threshold, column)


def hellinger_test_grouped(
    ref_df, prod_df, column, group_cols=(), threshold=None, n_bins=None,
    config: EngineConfig = DEFAULT_CONFIG, domain=None,
) -> pd.DataFrame:
    threshold = config.hellinger_threshold if threshold is None else threshold
    n_bins = config.hist_bins if n_bins is None else n_bins
    return _histogram_pair_test(
        hellinger_from_counts, ref_df, prod_df, column, group_cols, threshold,
        n_bins, domain,
    )


def hellinger_test(ref_df, prod_df, column, threshold=None, n_bins=None,
                   config: EngineConfig = DEFAULT_CONFIG) -> DriftVerdict:
    threshold = config.hellinger_threshold if threshold is None else threshold
    frame = hellinger_test_grouped(ref_df, prod_df, column, (), threshold, n_bins, config)
    return _single(frame, "hellinger", threshold, column)


# ---------------------------------------------------------------------------
# Wasserstein-1
# ---------------------------------------------------------------------------

def wasserstein_test_grouped(
    ref_df: DataFrame,
    prod_df: DataFrame,
    column: str,
    group_cols: Sequence[str] = (),
    threshold: float | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> pd.DataFrame:
    """IQR-normalized W1 per group, computed as the exact CDF-gap integral.

    W1 = Σ_i |F_ref(v_i) − F_prod(v_i)| · (v_{i+1} − v_i) over sorted distinct
    union values — identical to scipy.stats.wasserstein_distance — divided by
    the reference IQR (fallback population std, fallback 1.0 —
    wasserstein.py:52-56), all from the same per-value sketch.
    """
    config = _with_overrides(config, wasserstein_threshold=threshold)
    return _sketch_tests(ref_df, prod_df, column, group_cols, config, ("w1",))["w1"]


def wasserstein_test(ref_df, prod_df, column, threshold=None,
                     config: EngineConfig = DEFAULT_CONFIG) -> DriftVerdict:
    threshold = config.wasserstein_threshold if threshold is None else threshold
    frame = wasserstein_test_grouped(ref_df, prod_df, column, (), threshold, config)
    return _single(frame, "wasserstein", threshold, column)


# ---------------------------------------------------------------------------
# Chi-squared (categorical)
# ---------------------------------------------------------------------------

def _guarded_category_counts(
    per_cat: DataFrame, group_cols: Sequence[str], cap: int
) -> DataFrame:
    """Two-phase distributed top-K over per-(group, v) count rows.

    Phase 1 ranks WITHIN each shuffle partition (parallel window keyed by
    spark_partition_id — a row outside its partition's top-K cannot be in
    the global top-K under the strict (count desc, value asc) total order)
    and pre-aggregates each partition's tail. Phase 2 ranks the surviving
    candidates globally; that window's exchange moves <= partitions x cap
    rows per group — BOUNDED by construction, never data-proportional —
    and its losers fold into the tail. One plan, one action: both phases
    consume the same ranked subtree, so the per-category aggregation is
    computed once (exchange reuse). Output: (group..., _is_other, v,
    c_ref, c_prod, n_cats) — exactly groups x (cap + 1) rows.
    """
    gcols = [F.col(g) for g in group_cols]
    order = [F.desc(F.col("c_ref") + F.col("c_prod")), F.col("v")]
    w_local = Window.partitionBy(*gcols, F.col("_pid")).orderBy(*order)
    ranked = per_cat.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_lr", F.row_number().over(w_local)
    )
    cand = ranked.where(F.col("_lr") <= cap)
    w_global = Window.partitionBy(*gcols).orderBy(*order)
    graded = cand.withColumn("_gr", F.row_number().over(w_global))
    kept = graded.where(F.col("_gr") <= cap).select(
        *group_cols,
        F.lit(False).alias("_is_other"),
        F.col("v"),
        F.col("c_ref"),
        F.col("c_prod"),
        F.lit(1).cast("long").alias("n_cats"),
    )
    v_type = per_cat.schema["v"].dataType
    tail = (
        ranked.where(F.col("_lr") > cap)
        .select(*group_cols, "c_ref", "c_prod")
        .unionByName(
            graded.where(F.col("_gr") > cap).select(*group_cols, "c_ref", "c_prod")
        )
        .groupBy(*group_cols)
        .agg(
            F.sum("c_ref").alias("c_ref"),
            F.sum("c_prod").alias("c_prod"),
            F.count(F.lit(1)).alias("n_cats"),
        )
        # an ungrouped global agg over EMPTY input still emits one
        # (NULL, NULL, 0) row — drop it
        .where(F.col("n_cats") > 0)
        .select(
            *group_cols,
            F.lit(True).alias("_is_other"),
            F.lit(None).cast(v_type).alias("v"),
            F.col("c_ref"),
            F.col("c_prod"),
            F.col("n_cats"),
        )
    )
    return kept.unionByName(tail)


def _phase1_folded_counts(
    per_cat: DataFrame, group_cols: Sequence[str], cap: int
) -> DataFrame:
    """Phase 1 of the top-K guard as ONE conditional aggregation.

    Ranks within each shuffle partition (parallel window — a row outside its
    partition's top-K cannot be in the global top-K under the strict
    (count desc, value asc) total order), then folds winners and losers in a
    single groupBy: winners keep their own ``v`` key, losers collapse onto a
    NULL key (``_sides`` filters NULL values, so NULL is free as a marker).
    The ranked subtree is consumed exactly ONCE — no union, no second
    window, no reliance on exchange reuse. Output is bounded by
    groups x (shuffle_partitions x cap + 1) rows; phase 2 (the global
    top-K among candidates) runs driver-side on the collected fold
    (``_phase2_topk_pdf``) in the common case, or falls back to the
    distributed ``_guarded_category_counts`` when the fold overflows the
    collect probe.
    """
    gcols = [F.col(g) for g in group_cols]
    order = [F.desc(F.col("c_ref") + F.col("c_prod")), F.col("v")]
    w_local = Window.partitionBy(*gcols, F.col("_pid")).orderBy(*order)
    ranked = per_cat.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_lr", F.row_number().over(w_local)
    )
    return ranked.groupBy(
        *group_cols, F.when(F.col("_lr") <= cap, F.col("v")).alias("v")
    ).agg(
        F.sum("c_ref").alias("c_ref"),
        F.sum("c_prod").alias("c_prod"),
        F.count(F.lit(1)).alias("n_cats"),
    )


def _phase2_topk_pdf(
    pdf: pd.DataFrame, group_cols: Sequence[str], cap: int
) -> pd.DataFrame:
    """Driver half of the top-K guard: global rank over the bounded fold.

    Per group: sort candidates by (pooled count desc, value asc) — the same
    strict total order as the partition-local rank — keep the top ``cap``,
    fold the losers into the NULL-key tail row. Returns the exact schema the
    distributed ``_guarded_category_counts`` collects: (group..., _is_other,
    v, c_ref, c_prod, n_cats), at most groups x (cap + 1) rows.
    """
    out_rows: list[dict] = []
    for key, sub in _iter_group_subframes(pdf, group_cols):
        gdict = dict(zip(group_cols, key))
        cand = sub[sub["v"].notna()].copy()
        cand["_pooled"] = cand["c_ref"] + cand["c_prod"]
        cand = cand.sort_values(
            ["_pooled", "v"], ascending=[False, True], kind="mergesort"
        )
        winners = cand.iloc[:cap]
        losers = cand.iloc[cap:]
        tail = sub[sub["v"].isna()]
        for _, r in winners.iterrows():
            out_rows.append(
                {**gdict, "_is_other": False, "v": r["v"],
                 "c_ref": int(r["c_ref"]), "c_prod": int(r["c_prod"]),
                 "n_cats": 1}
            )
        n_collapsed = int(tail["n_cats"].sum()) + len(losers)
        if n_collapsed:
            out_rows.append(
                {**gdict, "_is_other": True, "v": None,
                 "c_ref": int(tail["c_ref"].sum()) + int(losers["c_ref"].sum()),
                 "c_prod": int(tail["c_prod"].sum()) + int(losers["c_prod"].sum()),
                 "n_cats": n_collapsed}
            )
    return pd.DataFrame(
        out_rows,
        columns=[*group_cols, "_is_other", "v", "c_ref", "c_prod", "n_cats"],
    )


def _iter_group_subframes(pdf: pd.DataFrame, group_cols: Sequence[str]):
    """Yield ``(key_tuple, sub_frame)`` per distinct group via ONE pandas
    hash-groupby pass — O(sketch_rows) total, replacing the per-key
    re-masking of the full collected frame (O(groups x sketch_rows)) that
    became a driver bottleneck at 10k+ groups near the sketch cap.

    Groups appear in first-occurrence order (``sort=False``), matching the
    old ``drop_duplicates().itertuples()`` iteration. NULL keys are kept
    (``dropna=False``), NaN grouping with NaN (the old code used an
    explicit isna() mask for this). Key values are read
    back from each subframe's first row rather than from pandas' groupby
    labels, so the tuples carry the exact stored objects (None stays None
    in object columns, numpy scalars keep their dtype) — byte-identical to
    what ``itertuples`` produced.
    """
    if not group_cols:
        if len(pdf):
            yield (), pdf
        return
    gcols = list(group_cols)
    for _, sub in pdf.groupby(gcols, sort=False, dropna=False):
        yield tuple(sub[g].iloc[0] for g in gcols), sub


def chi2_test_grouped(
    ref_df: DataFrame,
    prod_df: DataFrame,
    column: str,
    group_cols: Sequence[str] = (),
    threshold: float | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> pd.DataFrame:
    """Chi-squared GoF per group over category counts.

    Category alignment = groupBy counts per side + pandas outer alignment
    (the distributed analogue of the reference's sorted key-union,
    chi_squared.py:140-149). Values are cast to string (chi_squared.py:194).

    Driver-memory guard: only the top ``config.chi2_max_categories``
    categories per group (by pooled count, ties broken by value) collect
    individually; the tail collapses into one logged ``__other__`` bucket,
    so the collect stays O(groups x K) regardless of column cardinality.
    The top-K is two-phase: a parallel per-shuffle-partition rank prunes
    the data-proportional set (phase 1, ``_phase1_folded_counts`` — one
    conditional aggregation, ranked subtree consumed once), then the global
    rank over the bounded candidate fold runs driver-side
    (``_phase2_topk_pdf``) when the fold fits the collect probe — the
    common case, one Spark job end-to-end — or distributed
    (``_guarded_category_counts``) when it doesn't. Either way the global
    rank touches <= partitions x K rows per group, never a window over all
    distinct values, and under the cap the result is identical to the
    unguarded test. For domains where even the distinct set is huge
    (e.g. token ids) use the fixed-domain binned path
    (``histogram_kernel_from_counts``) instead.
    """
    threshold = config.chi2_threshold if threshold is None else threshold
    cap = config.chi2_max_categories
    # group on the NATIVE type — string hash-aggregation is ~15x slower on
    # wide explode inputs; stringify categories in the tiny finalize instead
    # (the reference's str coercion, chi_squared.py:194, applied post-agg)
    per_cat = per_value_sketch(
        ref_df, prod_df, column, group_cols, cast_double=False
    )
    # Adaptive phase 2: collect the bounded phase-1 fold and rank in the
    # driver (one Spark job, ranked subtree consumed once) unless the fold
    # overflows the probe cap — then the fully distributed two-phase plan.
    probe_cap = config.sketch_collect_max_rows
    folded = (
        _phase1_folded_counts(per_cat, group_cols, cap)
        .limit(probe_cap + 1)
        .toPandas()
        if probe_cap
        else None
    )
    if folded is not None and len(folded) <= probe_cap:
        pdf = _phase2_topk_pdf(folded, group_cols, cap)
    else:
        pdf = _guarded_category_counts(per_cat, group_cols, cap).toPandas()
    # preserve the reference's python str() coercion for kept categories
    pdf["v"] = np.where(
        pdf["_is_other"], "__other__", pdf["v"].astype(str)
    )
    verdicts = []
    for key, sub in _iter_group_subframes(pdf, group_cols):
        ref_counts = dict(zip(sub["v"], sub["c_ref"]))
        prod_counts = dict(zip(sub["v"], sub["c_prod"]))
        cats = sorted(k for k in set(ref_counts) | set(prod_counts))
        n_collapsed = int(sub[sub["_is_other"]]["n_cats"].sum())
        if not any(ref_counts.get(c, 0) > 0 for c in cats):
            verdicts.append((key, None, "reference_counts must not be empty"))
            continue
        try:
            v = chi2_from_counts(
                cats,
                [int(ref_counts.get(c, 0)) for c in cats],
                [int(prod_counts.get(c, 0)) for c in cats],
                threshold,
                feature_name=column,
            )
            if n_collapsed:
                v.details["other_bucket_categories"] = n_collapsed
                v.details["max_categories"] = cap
            verdicts.append((key, v, None))
        except ValueError as e:
            verdicts.append((key, None, str(e)))
    if not verdicts and not group_cols:
        verdicts.append(((), None, "reference_counts must not be empty"))
    return _verdict_frame(verdicts, group_cols)


def chi2_test(ref_df, prod_df, column, threshold=None,
              config: EngineConfig = DEFAULT_CONFIG) -> DriftVerdict:
    threshold = config.chi2_threshold if threshold is None else threshold
    frame = chi2_test_grouped(ref_df, prod_df, column, (), threshold, config)
    return _single(frame, "chi_squared", threshold, column)


_PROFILE_PROBS = np.array([0.25, 0.50, 0.75, 0.95, 0.99])


def profile_from_sketch(
    sketch_pdf: pd.DataFrame,
    group_cols: Sequence[str],
    feature: str,
    side: str = "prod",
) -> pd.DataFrame:
    """``profile.profile_columns`` parity from a keep_nulls per-value sketch.

    Count/mean/std(pop)/min/max/exact linear-interpolated percentiles/
    distinct/null_fraction/total_rows are all functions of the (v, count)
    sketch, so the validation plan's profile job collapses into the SAME
    scan that feeds PSI+KS+JS. Exact for integral columns (bounded values:
    the weighted E[v²] stays inside 2^53).
    """
    c_col = "c_prod" if side == "prod" else "c_ref"
    rows = []
    for key, sub in _iter_group_subframes(sketch_pdf, group_cols):
        sub = sub[sub[c_col] > 0]
        null_cnt = int(sub[sub["v"].isna()][c_col].sum())
        fin = sub[sub["v"].notna()].sort_values("v")
        v = fin["v"].to_numpy(dtype=np.float64)
        c = fin[c_col].to_numpy(dtype=np.int64)
        n = int(c.sum())
        total = n + null_cnt
        if total == 0:
            continue  # group absent on this side (profile groups by its own df)
        row = dict(zip(group_cols, key))
        if n == 0:
            pct = [None] * len(_PROFILE_PROBS)
            row.update(
                feature=feature, count=0, mean=None, std=None,
                min_value=None, max_value=None,
            )
        else:
            mean = float(np.average(v, weights=c))
            var = float(np.average((v - mean) ** 2, weights=c))
            pct = _weighted_percentiles(v, c, _PROFILE_PROBS).tolist()
            row.update(
                feature=feature,
                count=n,
                mean=mean,
                std=float(np.sqrt(var)),
                min_value=float(v[0]),
                max_value=float(v[-1]),
            )
        row.update(
            percentile_25=pct[0], median=pct[1], percentile_75=pct[2],
            percentile_95=pct[3], percentile_99=pct[4],
            null_fraction=(total - n) / total,
            unique_count=int(len(v)),
            total_rows=total,
        )
        rows.append(row)
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------

def _single(frame: pd.DataFrame, test: str, threshold: float, column: str) -> DriftVerdict:
    """Unwrap a 1-row grouped frame, re-raising errors like the reference."""
    if frame.empty:
        raise ValueError("Reference dataset must not be empty")
    row = frame.iloc[0]
    if row["error"] is not None:
        raise ValueError(row["error"])
    return DriftVerdict(
        test=test,
        score=float(row["score"]),
        threshold=float(row["threshold"]),
        is_drifted=bool(row["is_drifted"]),
        p_value=None if pd.isna(row["p_value"]) else float(row["p_value"]),
        reference_size=int(row["reference_size"]),
        production_size=int(row["production_size"]),
        feature_name=column,
        details=row.get("details") or {},
    )


# ---------------------------------------------------------------------------
# Anderson-Darling k-sample (k=2) — SURVEY T7
# ---------------------------------------------------------------------------

def _ad_verdict(
    s_ref: float, s_prod: float, n: int, m: int, threshold: float, column: str
) -> DriftVerdict:
    """A2akN from the per-sample inner sums, significance interpolated."""
    big_n = n + m
    a2akn = (big_n - 1) / big_n * (s_ref / n + s_prod / m) / big_n
    tk, sig = anderson_darling_significance(a2akn, [n, m])
    return DriftVerdict(
        test="anderson_darling",
        score=sig,
        threshold=threshold,
        is_drifted=bool(sig < threshold),
        p_value=sig,
        reference_size=n,
        production_size=m,
        feature_name=column,
        details={"statistic": a2akn, "normalized": tk},
    )


def anderson_darling_test_grouped(
    ref_df: DataFrame,
    prod_df: DataFrame,
    column: str,
    group_cols: Sequence[str] = (),
    threshold: float = 0.05,
) -> pd.DataFrame:
    """Midrank two-sample Anderson-Darling per group (Scholz-Stephens A2akN).

    One plan: the per-value sketch through the over-cap distributed ECDF
    (``_overcap_verdicts``), whose grouped aggregation reduces the
    per-sample inner sums; normalization + significance interpolation run
    on scalars driver-side (functions.numeric.anderson_darling_significance,
    matching scipy.stats.anderson_ksamp's published algorithm — the reference
    wraps that at anderson_darling.py:50-55 and reports
    significance_level/100 as the p-value).
    """
    config = replace(DEFAULT_CONFIG, sketch_collect_max_rows=0)
    return _sketch_tests(
        ref_df, prod_df, column, group_cols, config, ("ad",), threshold
    )["ad"]


def anderson_darling_test(
    ref_df: DataFrame,
    prod_df: DataFrame,
    column: str,
    threshold: float = 0.05,
) -> DriftVerdict:
    frame = anderson_darling_test_grouped(ref_df, prod_df, column, (), threshold)
    return _single(frame, "anderson_darling", threshold, column)
