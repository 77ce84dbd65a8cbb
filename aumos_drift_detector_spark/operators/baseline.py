"""Baseline sketch snapshots: capture, fingerprint, compare, round-trip.

The reference's BaselineManager (baseline_manager.py:263-364) profiles feature
arrays in memory and keeps versioned snapshots with SHA-256 fingerprints.
Here a baseline is a ROW SET in a parquet/Iceberg "baselines" table (schema
per FIXTURES.md §2): one row per (model_id, version, partition_value,
feature) carrying the full FeatureStatistics profile + 20-bin histogram.
Capture is the single wide aggregation pass (profile_columns) plus ONE
histogram job per captured column (bounded by the feature list, not the
data; a many-hundred-feature capture would want these fused into one
multi-column binned aggregation — noted trade-off); compare is a join of
two sketch row sets — no raw data ever re-read.
"""

from __future__ import annotations

import hashlib
import json
from datetime import datetime, timezone
from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aumos_drift_detector_spark.operators.profile import histogram, profile_columns

BASELINE_SCHEMA = T.StructType(
    [
        T.StructField("model_id", T.StringType()),
        T.StructField("model_version", T.StringType()),
        T.StructField("window_days", T.IntegerType()),
        T.StructField("is_active", T.BooleanType()),
        T.StructField("partition_value", T.StringType()),
        T.StructField("feature_name", T.StringType()),
        T.StructField("count", T.LongType()),
        T.StructField("mean", T.DoubleType()),
        T.StructField("std", T.DoubleType()),
        T.StructField("min_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
        T.StructField("percentile_25", T.DoubleType()),
        T.StructField("median", T.DoubleType()),
        T.StructField("percentile_75", T.DoubleType()),
        T.StructField("percentile_95", T.DoubleType()),
        T.StructField("percentile_99", T.DoubleType()),
        T.StructField("null_fraction", T.DoubleType()),
        T.StructField("unique_count", T.LongType()),
        T.StructField("histogram_counts", T.ArrayType(T.LongType())),
        T.StructField("histogram_edges", T.ArrayType(T.DoubleType())),
        T.StructField("fingerprint", T.StringType()),
        T.StructField("captured_at", T.TimestampType()),
    ]
)


def capture_baseline(
    df: DataFrame,
    columns: Sequence[str],
    model_id: str,
    model_version: str,
    partition_col: str | None = None,
    window_days: int = 0,
    is_active: bool = True,
    n_hist_bins: int = 20,
) -> DataFrame:
    """Profile + histogram every column (per partition) into baseline rows.

    Raises ValueError if any (partition, feature) has no finite values —
    the reference's contract (baseline_manager.py:305-306).
    """
    group = [partition_col] if partition_col else []
    prof = profile_columns(df, columns, group).toPandas()

    empty = prof[prof["count"] == 0]
    if len(empty):
        feats = ", ".join(sorted(set(empty["feature"])))
        raise ValueError(f"Feature '{feats}' contains no finite values")

    hists: dict[tuple, tuple[list[int], list[float]]] = {}
    for col in columns:
        hp = histogram(df, col, n_hist_bins, group).toPandas()
        keys = (
            hp[group].drop_duplicates().itertuples(index=False, name=None)
            if group
            else [()]
        )
        for key in keys:
            sub = hp
            for g, kv in zip(group, key):
                # NULL-safe key match: pandas NaN != NaN, so a NULL
                # partition group would filter to empty and .iloc[-1]
                # would raise IndexError (round-3 review)
                if kv is None or (isinstance(kv, float) and pd.isna(kv)):
                    sub = sub[sub[g].isna()]
                else:
                    sub = sub[sub[g] == kv]
            if sub.empty:
                continue
            sub = sub.sort_values("bin")
            counts = [int(c) for c in sub["bin_count"]]
            edges = [float(e) for e in sub["bin_lo"]] + [float(sub["bin_hi"].iloc[-1])]
            hists[(key, col)] = (counts, edges)

    now = datetime.now(tz=timezone.utc)
    rows = []
    for _, r in prof.iterrows():
        key = tuple(r[g] for g in group)
        counts, edges = hists.get((key, r["feature"]), ([], []))
        stats_for_fp = {
            "feature_name": r["feature"],
            "count": int(r["count"]),
            "mean": float(r["mean"]),
            "std": float(r["std"]),
            "min_value": float(r["min_value"]),
            "max_value": float(r["max_value"]),
            "median": float(r["median"]),
        }
        rows.append(
            (
                model_id,
                model_version,
                window_days,
                is_active,
                str(key[0]) if group else "__all__",
                r["feature"],
                int(r["count"]),
                float(r["mean"]),
                float(r["std"]),
                float(r["min_value"]),
                float(r["max_value"]),
                float(r["percentile_25"]),
                float(r["median"]),
                float(r["percentile_75"]),
                float(r["percentile_95"]),
                float(r["percentile_99"]),
                float(r["null_fraction"]),
                int(r["unique_count"]),
                counts,
                edges,
                fingerprint_stats(stats_for_fp),
                now,
            )
        )
    return df.sparkSession.createDataFrame(rows, BASELINE_SCHEMA)


def fingerprint_stats(stats: dict) -> str:
    """SHA-256 over canonical sorted JSON (reference baseline_manager.py:643-658)."""
    canonical = json.dumps(stats, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(canonical.encode()).hexdigest()


def compare_baselines(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-feature shift between two baseline row sets (A16, F3).

    Joins on (partition_value, feature_name) — features present in only one
    side are dropped (reference uses common-feature intersection,
    baseline_manager.py:494). Emits:
      mean_pct_change, std_pct_change,
      change_score = min(1, (|mean_pct| + 0.5*|std_pct|) / 1.5)
        (reference combined change score, baseline_manager.py:494-520)
      cohens_d_proxy = |mean_new - mean_old| / pooled_std
                       + 0.5*|ln(std_new/std_old)|
        (the SHAP-proxy drift importance, feature_importance.py:195-209)
    """
    keys = ["partition_value", "feature_name"]
    o = old.select(
        *keys,
        F.col("mean").alias("mean_old"),
        F.col("std").alias("std_old"),
        F.col("count").alias("count_old"),
    )
    n = new.select(
        *keys,
        F.col("mean").alias("mean_new"),
        F.col("std").alias("std_new"),
        F.col("count").alias("count_new"),
    )
    j = o.join(n, keys, "inner")
    eps = F.lit(1e-10)
    mean_pct = F.abs(F.col("mean_new") - F.col("mean_old")) / (
        F.abs(F.col("mean_old")) + eps
    )
    std_pct = F.abs(F.col("std_new") - F.col("std_old")) / (
        F.abs(F.col("std_old")) + eps
    )
    change = F.least((mean_pct + 0.5 * std_pct) / 1.5, F.lit(1.0))
    pooled = F.sqrt((F.col("std_old") ** 2 + F.col("std_new") ** 2) / 2.0) + eps
    cohens = F.abs(F.col("mean_new") - F.col("mean_old")) / pooled + 0.5 * F.abs(
        F.log((F.col("std_new") + eps) / (F.col("std_old") + eps))
    )
    return j.select(
        *keys,
        "mean_old",
        "mean_new",
        "std_old",
        "std_new",
        mean_pct.alias("mean_pct_change"),
        std_pct.alias("std_pct_change"),
        change.alias("change_score"),
        cohens.alias("cohens_d_proxy"),
    )


def write_baseline(baseline: DataFrame, path: str) -> None:
    baseline.write.mode("append").parquet(path)


def read_active_baseline(
    spark: SparkSession, path: str, model_id: str
) -> DataFrame:
    """Newest active snapshot per (partition, feature) for one model.

    ``write_baseline`` appends, so several captured versions of the same
    model coexist in the table with is_active=true; without the
    latest-capture filter a downstream ``compare_baselines`` join (keyed on
    partition+feature only) would cross-product every version pair
    (round-3 review). The window runs over the model's sketch rows — tiny.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("partition_value", "feature_name").orderBy(
        F.desc("captured_at"), F.desc("model_version")
    )
    return (
        spark.read.parquet(path)
        .where((F.col("model_id") == model_id) & F.col("is_active"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def export_baseline_json(baseline: DataFrame) -> str:
    """JSON round-trip (reference baseline_manager.py:563-615). Driver-side —
    baselines are sketch rows (tiny), never raw data."""
    rows = [r.asDict() for r in baseline.collect()]
    for r in rows:
        r["captured_at"] = r["captured_at"].isoformat() if r["captured_at"] else None
    return json.dumps(rows, sort_keys=True, default=str)


def import_baseline_json(spark: SparkSession, payload: str) -> DataFrame:
    rows = json.loads(payload)
    for r in rows:
        if r.get("captured_at"):
            r["captured_at"] = datetime.fromisoformat(r["captured_at"])
    return spark.createDataFrame(
        [tuple(r[f.name] for f in BASELINE_SCHEMA.fields) for r in rows],
        BASELINE_SCHEMA,
    )
