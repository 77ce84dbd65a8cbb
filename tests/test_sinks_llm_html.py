"""Kafka event-frame builders and the HTML report."""

import json

import pandas as pd

from aumos_drift_detector_spark.operators.html_report import render_html_report
from aumos_drift_detector_spark.sources import kafka_sink as K


class TestKafkaEventFrames:
    def test_drift_detected_payloads(self, spark):
        results = spark.createDataFrame(
            pd.DataFrame(
                {
                    "run_id": ["r1", "r1"],
                    "partition_value": ["web", "code"],
                    "check_name": ["psi", "ks"],
                    "score": [0.31, 0.002],
                    "is_drifted": [True, False],
                }
            )
        )
        out = K.drift_detected_events(results, "t1", "mon1").collect()
        assert len(out) == 2  # published for EVERY check, drifted or not
        assert {r["topic"] for r in out} == {"drift.detected"}
        p = json.loads(next(r["value"] for r in out if "psi" in r["value"]))
        assert p["event_type"] == "drift.detected"
        assert p["tenant_id"] == "t1"
        assert p["test_name"] == "psi"
        assert p["is_drifted"] == "true"
        assert "occurred_at" in p

    def test_retraining_required_only_triggered(self, spark):
        ev = spark.createDataFrame(
            pd.DataFrame(
                {
                    "tenant_id": ["t", "t"],
                    "monitor_id": ["m", "m"],
                    "model_id": ["m1", "m2"],
                    "detection_id": ["d1", "d2"],
                    "triggered": [True, False],
                    "message": ["go", "no"],
                }
            )
        )
        out = K.retraining_required_events(ev).collect()
        assert len(out) == 1
        p = json.loads(out[0]["value"])
        assert p["event_type"] == "drift.retraining_required"
        assert p["model_id"] == "m1"
        assert p["reason"] == "go"

    def test_alert_raised_filters_status(self, spark):
        alerts = spark.createDataFrame(
            pd.DataFrame(
                {
                    "alert_id": ["a1", "a2", "a3"],
                    "status": ["dispatched", "suppressed", "escalated"],
                    "severity": ["warning", "info", "critical"],
                    "message": ["x", "y", "z"],
                }
            )
        )
        out = K.alert_raised_events(alerts, "t1").collect()
        assert {json.loads(r["value"])["alert_id"] for r in out} == {"a1", "a3"}


class TestHtmlReport:
    def test_renders_sections(self):
        detections = [
            {"timestamp": "t1", "test": "psi", "score": 0.1, "drift_detected": False},
            {"timestamp": "t2", "test": "psi", "score": 0.5, "drift_detected": True},
        ]
        feats = {
            "n_tok": {"score": 0.4, "drift_detected": True},
            "lang": {"score": 0.05, "drift_detected": False},
        }
        summary = {"run_id": "r1", "risk_level": "high"}
        html = render_html_report("monitor<1>", detections, feats, summary)
        assert html.startswith("<!DOCTYPE html>")
        assert "monitor&lt;1&gt;" in html          # escaped title
        assert html.count("<svg") == 2             # timeline + feature bars
        assert "Drift Score Timeline" in html
        assert "Per-Feature Drift Scores" in html
        assert "risk_level" in html and "high" in html
        assert '#dc3545' in html                   # drifted marks red
        # stat cards: 2 total, 1 drifted, 1 clean
        assert ">2</div><div>Total Runs" in html.replace('class="stat-value"', "").replace("\n", "")

    def test_empty_detections(self):
        html = render_html_report("m", [])
        assert "<svg" not in html
        assert "Total Runs" in html
