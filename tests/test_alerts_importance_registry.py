"""Tests for alert gating."""

from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F

from aumos_drift_detector_spark.operators import alerts


class TestAlertGating:
    def _candidates(self, spark, ts):
        return spark.createDataFrame(
            [("k1", "m1", "psi", ts), ("k2", "m1", "ks", ts)],
            ["rule", "monitor", "metric", "detected_at"],
        ).withColumn(
            "dedup_key",
            alerts.dedup_key(F.col("rule"), F.col("monitor"), F.col("metric")),
        )

    def test_first_run_all_dispatched(self, spark):
        now = datetime.now(tz=timezone.utc)
        out = alerts.gate_alerts(self._candidates(spark, now), None).toPandas()
        assert (out["status"] == "dispatched").all()

    def test_cooldown_suppression(self, spark):
        now = datetime.now(tz=timezone.utc)
        cands = self._candidates(spark, now)
        # history: k1 fired 10 minutes ago, k2 fired 3 hours ago
        hist = self._candidates(spark, now).withColumn(
            "status", F.lit("dispatched")
        ).withColumn(
            "detected_at",
            F.when(F.col("rule") == "k1",
                   F.lit(now - timedelta(minutes=10))).otherwise(
                F.lit(now - timedelta(hours=3))
            ),
        )
        out = alerts.gate_alerts(cands, hist, cooldown_minutes=60).toPandas()
        status = dict(zip(out["rule"], out["status"]))
        assert status["k1"] == "suppressed"
        assert status["k2"] == "dispatched"

    def test_threshold_direction(self, spark):
        df = spark.createDataFrame(
            [("ks", 0.01, 0.05), ("ks", 0.2, 0.05), ("psi", 0.3, 0.2), ("psi", 0.1, 0.2)],
            ["test", "score", "threshold"],
        )
        out = df.withColumn(
            "fired",
            alerts.threshold_crossed(F.col("test"), F.col("score"), F.col("threshold")),
        ).collect()
        fired = [(r["test"], r["score"], r["fired"]) for r in out]
        assert ("ks", 0.01, True) in fired      # p-value below threshold
        assert ("ks", 0.2, False) in fired
        assert ("psi", 0.3, True) in fired      # score above threshold
        assert ("psi", 0.1, False) in fired

    def test_threshold_strictness_matches_kernels(self, spark):
        # boundary score: psi fires on >= (psi.py:181); distance tests only on
        # strict > — a boundary JS score has is_drifted=False, so no trigger
        df = spark.createDataFrame(
            [
                ("psi", 0.2, 0.2),
                ("jensen_shannon", 0.1, 0.1),
                ("jensen_shannon", 0.1000001, 0.1),
                ("wasserstein", 0.1, 0.1),
                ("hellinger", 0.15, 0.1),
            ],
            ["test", "score", "threshold"],
        )
        out = df.withColumn(
            "fired",
            alerts.threshold_crossed(F.col("test"), F.col("score"), F.col("threshold")),
        ).collect()
        fired = {(r["test"], r["score"]): r["fired"] for r in out}
        assert fired[("psi", 0.2)] is True               # psi: >= fires
        assert fired[("jensen_shannon", 0.1)] is False   # boundary: no trigger
        assert fired[("jensen_shannon", 0.1000001)] is True
        assert fired[("wasserstein", 0.1)] is False
        assert fired[("hellinger", 0.15)] is True
