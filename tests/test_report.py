"""Tests for rolling-window metrics (W1) and report assembly (S7/F10)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from aumos_drift_detector_spark.operators.report import (
    ReportRegistry,
    ReportSchedule,
    build_drift_report,
    build_heatmap,
    executive_summary,
    risk_level,
    rolling_metrics,
    time_to_critical_hours,
)
from aumos_drift_detector_spark.plans.validation import ValidationRun
from aumos_drift_detector_spark.sources.synth import generate_token_tables


class TestRollingMetrics:
    def test_matches_pandas_rolling(self, spark):
        rng = np.random.default_rng(0)
        vals = rng.normal(0, 1, 200)
        df = spark.createDataFrame(
            pd.DataFrame({"k": ["a"] * 200, "i": range(200), "v": vals})
        )
        out = (
            rolling_metrics(df, ["k"], "i", "v", window_size=20)
            .toPandas()
            .sort_values("i")
            .reset_index(drop=True)
        )
        expected = pd.Series(vals).rolling(20, min_periods=1).mean()
        np.testing.assert_allclose(out["rolling_mean"], expected, rtol=1e-9)
        assert out["rolling_n"].iloc[5] == 6
        assert out["rolling_n"].iloc[50] == 20

    def test_per_key_isolation(self, spark):
        df = spark.createDataFrame(
            [("a", 0, 1.0), ("a", 1, 3.0), ("b", 0, 100.0)], ["k", "i", "v"]
        )
        out = rolling_metrics(df, ["k"], "i", "v", 10).toPandas()
        b = out[out["k"] == "b"]
        assert b["rolling_mean"].iloc[0] == 100.0  # no bleed from key a


class TestRiskAndTtc:
    def test_risk_bands(self):
        assert risk_level(0.6) == "high"
        assert risk_level(0.3) == "medium"
        assert risk_level(0.1) == "low"
        assert risk_level(0.1, accuracy_delta=-0.2) == "high"
        assert risk_level(0.6, accuracy_delta=-0.01) == "low"  # delta wins

    def test_time_to_critical(self):
        # baseline 0.9, current 0.85: rate = 0.05/24; target = 0.765
        ttc = time_to_critical_hours(0.9, 0.85)
        assert ttc == pytest.approx((0.85 - 0.765) / (0.05 / 24.0))
        assert time_to_critical_hours(0.9, 0.95) is None  # improving

    def test_below_target_is_zero(self):
        assert time_to_critical_hours(0.9, 0.70) == 0.0


class TestReportAssembly:
    def test_report_from_validation_run(self, spark, tmp_path):
        cur, base, dim, _ = generate_token_tables(
            spark, 1000, 42, plant_violations=False, drifted=True
        )
        run = ValidationRun(spark, cur, base, dim, str(tmp_path / "o"), run_id="rep1")
        run.run()
        results = spark.read.parquet(f"{tmp_path}/o/results")
        report = build_drift_report(results, "rep1")
        assert report["run_id"] == "rep1"
        assert report["drifted_checks"] > 0
        assert report["drift_fraction"] > 0.5        # drifted variant
        assert report["risk_level"] == "high"
        assert report["recommended_action"] == "retrain"
        assert 1 <= len(report["top_contributors"]) <= 3
        assert report["top_contributors"][0]["score"] >= (
            report["top_contributors"][-1]["score"]
        )

    def test_accuracy_path(self, spark, tmp_path):
        cur, base, dim, _ = generate_token_tables(
            spark, 800, 7, plant_violations=False
        )
        run = ValidationRun(spark, cur, base, dim, str(tmp_path / "o2"), run_id="rep2")
        run.run()
        results = spark.read.parquet(f"{tmp_path}/o2/results")
        report = build_drift_report(
            results, "rep2", baseline_accuracy=0.9, current_accuracy=0.85
        )
        assert report["accuracy_delta"] == pytest.approx(-0.05)
        assert report["risk_level"] == "medium"
        assert report["time_to_critical_hours"] > 0


class TestHeatmap:
    def _results(self, spark):
        return spark.createDataFrame(
            [
                ("r1", "psi", "n_tok", 0.31, 0.2, True),
                ("r1", "ks", "n_tok", 0.002, 0.05, True),
                ("r1", "jensen_shannon", "n_chars", 0.05, 0.1, False),
            ],
            "run_id string, check_name string, feature string, "
            "score double, threshold double, is_drifted boolean",
        )

    def test_single_column_heatmap(self, spark):
        hm = build_heatmap(self._results(spark), "r1")
        assert hm["time_labels"] == ["now"]
        assert hm["features"] == ["n_chars", "n_tok"]
        # per-feature max score (n_tok carries psi 0.31 > ks 0.002)
        assert hm["scores_matrix"] == [[0.05], [0.31]]
        assert len(hm["scores_matrix"]) == len(hm["features"])

    def test_history_matrix_fills_missing_with_zero(self, spark):
        from datetime import datetime

        t1, t2 = datetime(2026, 1, 1), datetime(2026, 1, 2)
        hist = spark.createDataFrame(
            [("n_tok", t1, 0.1), ("n_tok", t2, 0.3), ("n_chars", t2, 0.05)],
            "feature string, ts timestamp, score double",
        )
        hm = build_heatmap(self._results(spark), "r1", history_df=hist)
        assert hm["time_labels"] == [t1.isoformat(), t2.isoformat()]
        # n_chars has no t1 observation -> 0.0 (reference fill)
        assert hm["scores_matrix"][hm["features"].index("n_chars")] == [0.0, 0.05]
        assert hm["scores_matrix"][hm["features"].index("n_tok")] == [0.1, 0.3]

    def test_empty_history_frame_falls_back_to_now_column(self, spark):
        """An EMPTY (but provided) history table must behave like no
        history — single 'now' column, not None (round-3 review)."""
        empty_hist = spark.createDataFrame(
            [], "feature string, ts timestamp, score double"
        )
        hm = build_heatmap(self._results(spark), "r1", history_df=empty_hist)
        assert hm is not None and hm["time_labels"] == ["now"]

    def test_per_feature_thresholds_exposed(self, spark):
        hm = build_heatmap(self._results(spark), "r1")
        # reference semantics: single threshold = first row's (arbitrary);
        # per-feature list carries the accurate values
        assert hm["thresholds"] == [0.1, 0.2]  # n_chars JS, n_tok PSI

    def test_empty_run_returns_none(self, spark):
        assert build_heatmap(self._results(spark), "missing") is None


class TestExecutiveSummary:
    def test_no_drift_wording(self):
        from datetime import datetime, timedelta, timezone

        now = datetime.now(tz=timezone.utc)
        text = executive_summary(
            0, 5, "ignore", [], now - timedelta(hours=2), now
        )
        assert "No data drift was detected" in text
        assert "No immediate action is required." in text

    def test_drift_with_accuracy(self):
        from datetime import datetime, timedelta, timezone

        now = datetime.now(tz=timezone.utc)
        text = executive_summary(
            3, 5, "retrain", ["a", "b"], now - timedelta(hours=48), now,
            accuracy_delta=-0.07, risk="medium",
        )
        assert "3 of 5 monitored features" in text
        assert "past 48 hours" in text
        assert "a, b" in text
        assert "decreased by 7.00%" in text and "risk level: medium" in text
        assert "Immediate model retraining is recommended" in text


class TestReportRegistry:
    def test_schedule_crud(self):
        reg = ReportRegistry()
        s = ReportSchedule("s1", "m1", "0 9 * * *", ["a@x"], [], "json")
        reg.register_schedule(s)
        reg.register_schedule(ReportSchedule("s2", "m2", "0 0 * * 0"))
        assert {x.schedule_id for x in reg.list_schedules()} == {"s1", "s2"}
        assert [x.schedule_id for x in reg.list_schedules("m1")] == ["s1"]
        assert reg.remove_schedule("s1") is True
        assert reg.remove_schedule("s1") is False  # reference: False if absent
        assert reg.list_schedules()[0].schedule_id == "s2"

    def test_history_newest_first_and_export(self):
        import json as _json

        reg = ReportRegistry()
        r1 = reg.record({"run_id": "a"}, monitor_id="m1")
        r2 = reg.record({"run_id": "b"}, monitor_id="m2")
        hist = reg.get_report_history()
        assert [h["run_id"] for h in hist] == ["b", "a"]  # newest-first
        assert [h["run_id"] for h in reg.get_report_history("m1")] == ["a"]
        assert reg.get_report_history(limit=1)[0]["run_id"] == "b"
        exported = _json.loads(reg.export_report_json(r2["report_id"]))
        assert exported["run_id"] == "b"
        with pytest.raises(ValueError, match="not found"):
            reg.export_report_json("nope")


class TestTimeSeriesAndPdf:
    def test_build_time_series_matches_reference_shape(self, spark):
        """report_generator.py:687-706: {feature: [{timestamp, score}...]}
        sorted by timestamp per feature."""
        from datetime import datetime

        from aumos_drift_detector_spark.operators.report import build_time_series

        rows = [
            ("f1", datetime(2026, 1, 2, 10), 0.3),
            ("f1", datetime(2026, 1, 1, 10), 0.1),
            ("f2", datetime(2026, 1, 1, 10), 0.9),
            ("f1", datetime(2026, 1, 3, 10), 0.5),
        ]
        df = spark.createDataFrame(rows, "feature string, ts timestamp, score double")
        ts = build_time_series(df)
        assert set(ts) == {"f1", "f2"}
        assert [p["score"] for p in ts["f1"]] == [0.1, 0.3, 0.5]  # time-sorted
        assert ts["f1"][0]["timestamp"] == "2026-01-01T10:00:00"
        assert ts["f2"] == [{"timestamp": "2026-01-01T10:00:00", "score": 0.9}]

    def test_build_time_series_dedups_on_max_and_skips_nulls(self, spark):
        from datetime import datetime

        from aumos_drift_detector_spark.operators.report import build_time_series

        rows = [
            ("f1", datetime(2026, 1, 1), 0.2),
            ("f1", datetime(2026, 1, 1), 0.7),   # same stamp: keep max
            (None, datetime(2026, 1, 1), 0.9),   # null feature: dropped
            ("f1", None, 0.9),                   # null ts: dropped
        ]
        df = spark.createDataFrame(rows, "feature string, ts timestamp, score double")
        ts = build_time_series(df)
        assert ts == {"f1": [{"timestamp": "2026-01-01T00:00:00", "score": 0.7}]}

    def test_pdf_placeholder_layout(self):
        """report_generator.py:466-516 text layout: banner, section rules,
        per-feature lines sorted by importance rank."""
        from aumos_drift_detector_spark.operators.report import pdf_placeholder

        report = {
            "report_id": "r-1",
            "monitor_id": "m-1",
            "model_id": "model-x",
            "generated_at": "2026-08-17T00:00:00",
            "period_start": "2026-08-16T00:00:00",
            "period_end": "2026-08-17T00:00:00",
            "executive_summary": "No data drift was detected.",
            "overall_recommended_action": "monitor",
            "drifted_feature_count": 1,
            "total_features_monitored": 2,
            "performance_impact": {
                "risk_level": "low",
                "baseline_accuracy": 0.9,
                "current_accuracy": 0.88,
                "accuracy_delta": -0.02,
                "estimated_drift_contribution": 0.25,
            },
            "feature_assessments": [
                {"importance_rank": 2, "feature_name": "f2", "drift_score": 0.01,
                 "threshold": 0.2, "is_drifted": False, "recommended_action": "ignore"},
                {"importance_rank": 1, "feature_name": "f1", "drift_score": 0.31,
                 "threshold": 0.2, "is_drifted": True, "recommended_action": "retrain"},
            ],
        }
        text = pdf_placeholder(report)
        lines = text.splitlines()
        assert lines[0] == "=" * 80
        assert lines[1] == "AUMOS DRIFT DETECTOR — DRIFT ASSESSMENT REPORT"
        assert "Report ID:    r-1" in text
        assert "Action:  MONITOR" in text
        assert "Drifted: 1 / 2 features" in text
        assert "Risk Level:              LOW" in text
        assert "Drift Contribution:      25.0%" in text
        f_lines = [l for l in lines if l.lstrip().startswith("[")]
        assert f_lines[0].lstrip().startswith("[ 1] f1")  # rank-sorted
        assert "DRIFTED" in f_lines[0] and "action=retrain" in f_lines[0]
        assert "score=0.3100" in f_lines[0] and "threshold=0.2000" in f_lines[0]
        assert f_lines[1].lstrip().startswith("[ 2] f2") and "OK" in f_lines[1]
        assert lines[-1] == "=" * 80
