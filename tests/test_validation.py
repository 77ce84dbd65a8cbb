"""End-to-end validation-pass tests: exact verdicts, violations, and resume."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from aumos_drift_detector_spark.plans.validation import (
    ValidationRun,
    ValidationSettings,
)
from aumos_drift_detector_spark.sources.synth import generate_token_tables


@pytest.fixture(scope="module")
def fixture_small(spark):
    cur, base, dim, exp = generate_token_tables(spark, n_rows=1500, seed=42)
    return cur.cache(), base.cache(), dim, exp


@pytest.fixture(scope="module")
def completed_run(spark, fixture_small, tmp_path_factory):
    cur, base, dim, exp = fixture_small
    out = str(tmp_path_factory.mktemp("vrun"))
    run = ValidationRun(spark, cur, base, dim, out, run_id="testrun01")
    report = run.run()
    return run, report, out, exp


class TestValidationPass:
    def test_exact_violation_counts(self, completed_run):
        _, report, _, exp = completed_run
        vc = report.violation_counts
        assert vc["uniqueness"] == exp.uniqueness
        assert vc["referential"] == exp.referential
        assert vc["ntok_matches_size"] == exp.row_invariant
        assert vc["token_equality"] == exp.token_equality
        assert vc["schema"] == 0
        # null-rate: planted nulls are ~20/1500 > 5% of a few partitions? no —
        # 20 nulls over all partitions ~1.3% < 5% threshold -> passes
        assert vc["null_rate"] == 0

    def test_violation_rows_on_disk(self, spark, completed_run):
        _, report, out, exp = completed_run
        vio = spark.read.parquet(f"{out}/violations")
        dup = vio.where(F.col("check_name") == "uniqueness")
        assert dup.count() == exp.uniqueness
        ids = {r["doc_id"] for r in dup.collect()}
        assert ids == {f"doc{i:09d}" for i in range(50)}
        orphan_parts = {
            r["partition_value"]
            for r in vio.where(F.col("check_name") == "referential").collect()
        }
        assert orphan_parts == {"orphan_src"}

    def test_drift_not_flagged_same_distribution(self, completed_run):
        _, report, _, _ = completed_run
        res = report.results
        drift = res[res["check_name"].isin(["psi", "ks", "jensen_shannon"])]
        real = drift[
            drift["partition_value"].isin(["web", "books", "code", "wiki"])
            & drift["details"].apply(lambda d: "error" not in d)
        ]
        assert len(real) > 0
        # current == baseline (modulo planted rows) -> no distribution drift
        assert not real["is_drifted"].any()

    def test_orphan_partition_reports_error_not_crash(self, completed_run):
        _, report, _, _ = completed_run
        res = report.results
        orphan = res[
            (res["partition_value"] == "orphan_src") & (res["check_name"] == "psi")
        ]
        assert len(orphan) == 1
        assert "error" in orphan.iloc[0]["details"]

    def test_results_written_with_severity(self, spark, completed_run):
        _, _, out, _ = completed_run
        res = spark.read.parquet(f"{out}/results")
        uniq = res.where(F.col("check_name") == "uniqueness").collect()[0]
        assert uniq["is_drifted"] is True
        assert uniq["severity"] == "critical"
        assert uniq["action"] == "retrain"

    def test_manifest_rows(self, spark, completed_run):
        _, report, out, _ = completed_run
        man = spark.read.parquet(f"{out}/manifest")
        parts = {r["partition_value"] for r in man.collect()}
        assert set(report.partitions) == parts
        assert all(r["status"] == "done" for r in man.collect())
        assert all(r["rows_processed"] > 0 for r in man.collect())

    def test_resume_skips_completed(self, spark, fixture_small, completed_run):
        cur, base, dim, _ = fixture_small
        _, first_report, out, _ = completed_run
        rerun = ValidationRun(spark, cur, base, dim, out, run_id="testrun01")
        report2 = rerun.run()
        assert report2.partitions == []
        assert sorted(report2.skipped_partitions) == sorted(first_report.partitions)

    def test_new_run_id_reprocesses(self, spark, fixture_small, completed_run):
        cur, base, dim, _ = fixture_small
        _, _, out, _ = completed_run
        run2 = ValidationRun(spark, cur, base, dim, out, run_id="testrun02")
        report = run2.run()
        assert len(report.partitions) == 5  # 4 sources + orphan_src


class TestDriftedVariant:
    def test_drifted_data_flags_psi_ks(self, spark, tmp_path):
        cur, base, dim, _ = generate_token_tables(
            spark, n_rows=3000, seed=42, plant_violations=False, drifted=True
        )
        run = ValidationRun(
            spark, cur, base, dim, str(tmp_path / "out"),
            settings=ValidationSettings(run_token_histogram=False),
        )
        report = run.run()
        res = report.results
        drift = res[res["check_name"].isin(["psi", "ks"])]
        # mu 5.0 -> 5.5 lognormal shift: every real partition must flag
        assert drift["is_drifted"].all()
        psi = res[res["check_name"] == "psi"]
        assert (psi["score"] >= 0.2).all()

    def test_null_partition_key_survives_and_is_reported(self, spark, tmp_path):
        """Rows with a NULL partition key must not crash run() (sorted()
        can't order None vs str) nor silently vanish — they surface as a
        critical null_partition_key check row (round-3 review)."""
        cur, base, dim, _ = generate_token_tables(
            spark, n_rows=1500, seed=7, plant_violations=False
        )
        cur_null = cur.withColumn(
            "source",
            F.when(F.col("doc_id").substr(-1, 1) == "7", F.lit(None)).otherwise(
                F.col("source")
            ),
        )
        n_null = cur_null.where(F.col("source").isNull()).count()
        assert n_null > 0
        run = ValidationRun(
            spark, cur_null, base, dim, str(tmp_path / "outnull"),
            settings=ValidationSettings(run_token_histogram=False),
        )
        report = run.run()  # must not raise
        # no check fires on the clean rows: the batch wrote an empty
        # violations table, which both read-backs count as zero
        assert set(report.violation_counts.values()) == {0}
        res = report.results
        npk = res[res["check_name"] == "null_partition_key"]
        assert len(npk) == 1
        assert int(npk["score"].iloc[0]) == n_null
        assert npk["is_drifted"].iloc[0]
        assert npk["severity"].iloc[0] == "critical"
        # real partitions still validated normally
        assert (res[res["check_name"] == "profile"]["partition_value"] != "").any()


class TestNumericPartitionValues:
    def test_numeric_partition_values_keep_per_partition_verdicts(
        self, spark, tmp_path
    ):
        """Partition values that look like integers ("101") must stay
        strings on read-back: inferred as int, the batch's IN-filter failed
        to cast '__unattributed__' and every per-partition count read 0."""
        cur, base, dim, exp = generate_token_tables(spark, n_rows=1500, seed=42)
        codes = {"web": "101", "books": "102", "code": "103", "wiki": "104",
                 "orphan_src": "199"}
        code_of = F.create_map(*[F.lit(x) for kv in codes.items() for x in kv])

        def recode(df):
            return df.withColumn("source", code_of[F.col("source")])

        run = ValidationRun(
            spark, recode(cur), recode(base), recode(dim), str(tmp_path / "out"),
            settings=ValidationSettings(run_token_histogram=False),
        )
        report = run.run()
        res = report.results
        assert sorted(report.partitions) == sorted(codes.values())
        for check, n in (
            ("referential", exp.referential),
            ("ntok_matches_size", exp.row_invariant),
            ("token_equality", exp.token_equality),
        ):
            rows = res[res["check_name"] == check]
            assert rows["score"].sum() == n == report.violation_counts[check], check
        orphan = res[
            (res["check_name"] == "referential") & (res["partition_value"] == "199")
        ].iloc[0]
        assert orphan["score"] == exp.referential
        assert orphan["severity"] == "critical"
        vio = spark.read.parquet(f"{tmp_path}/out/violations")
        assert vio.where(F.col("check_name") == "referential").count() == exp.referential


class TestKillSafeResume:
    """BASELINE.md protocol step 5: kill mid-run, rerun, totals equal an
    uninterrupted run — violations/results idempotent, manifest = commit record."""

    def _mk(self, spark, tmp_path, run_id, batch_size=None, n_rows=1200):
        cur, base, dim, exp = generate_token_tables(spark, n_rows=n_rows, seed=42)
        out = str(tmp_path / "out")
        run = ValidationRun(
            spark, cur, base, dim, out, run_id=run_id,
            settings=ValidationSettings(
                run_token_histogram=False, partition_batch_size=batch_size
            ),
        )
        return run, out, exp

    def test_crash_after_violations_before_manifest(self, spark, tmp_path, monkeypatch):
        # ADVICE scenario: violations land, manifest append never happens ->
        # rerun must OVERWRITE the orphaned rows, not append duplicates
        run, out, exp = self._mk(spark, tmp_path, "killrun01")

        import aumos_drift_detector_spark.plans.validation as V

        real_create = spark.createDataFrame
        def boom(data, schema=None, *a, **k):
            if schema is V.MANIFEST_SCHEMA:
                raise RuntimeError("simulated kill before manifest commit")
            return real_create(data, schema, *a, **k)
        monkeypatch.setattr(run.spark, "createDataFrame", boom)
        with pytest.raises(RuntimeError, match="simulated kill"):
            run.run()
        monkeypatch.undo()

        # orphaned violations exist on disk now; rerun same run_id
        rerun = ValidationRun(
            spark, run.current, run.baseline, run.sources_dim, out,
            run_id="killrun01",
            settings=ValidationSettings(run_token_histogram=False),
        )
        report = rerun.run()
        assert report.skipped_partitions == []  # nothing committed
        vc = report.violation_counts
        assert vc["uniqueness"] == exp.uniqueness       # NOT doubled
        assert vc["referential"] == exp.referential
        assert vc["token_equality"] == exp.token_equality
        vio = spark.read.parquet(f"{out}/violations")
        on_disk = vio.where(
            (F.col("run_id") == "killrun01") & (F.col("check_name") == "uniqueness")
        ).count()
        assert on_disk == exp.uniqueness

    def test_batched_kill_skips_committed_partitions(self, spark, tmp_path, monkeypatch):
        run, out, exp = self._mk(spark, tmp_path, "killrun02", batch_size=2)

        # let exactly one batch commit, then die
        calls = {"n": 0}
        real_batch = run._run_batch
        def flaky(batch, include_globals, rows):
            if calls["n"] >= 1:
                raise RuntimeError("simulated kill after first batch")
            calls["n"] += 1
            return real_batch(batch, include_globals, rows)
        monkeypatch.setattr(run, "_run_batch", flaky)
        with pytest.raises(RuntimeError, match="after first batch"):
            run.run()
        monkeypatch.undo()

        man = spark.read.parquet(f"{out}/manifest")
        committed = {r["partition_value"] for r in man.collect()}
        assert len(committed) == 2  # exactly the first batch

        rerun = ValidationRun(
            spark, run.current, run.baseline, run.sources_dim, out,
            run_id="killrun02",
            settings=ValidationSettings(
                run_token_histogram=False, partition_batch_size=2
            ),
        )
        report = rerun.run()
        assert sorted(report.skipped_partitions) == sorted(committed)
        assert set(report.partitions).isdisjoint(committed)

        # totals equal an uninterrupted run
        clean_run, clean_out, _ = self._mk(spark, tmp_path / "clean", "cleanrun")
        clean = clean_run.run()
        assert report.violation_counts == clean.violation_counts
        man2 = spark.read.parquet(f"{out}/manifest")
        assert man2.select("partition_value").distinct().count() == 5
        # no partition committed twice
        assert (
            man2.groupBy("partition_value").count().where(F.col("count") > 1).count()
            == 0
        )

    def test_resume_uniqueness_spans_completed_partitions(self, spark, tmp_path):
        # duplicates across two partitions; resume after one partition is
        # committed must still find the cross-partition duplicate (the global
        # check scans the FULL table, not just pending partitions)
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "doc_id": ["dupX", "a1", "dupX", "b1"],
                "tokens": [[1, 2]] * 4,
                "n_tok": [2] * 4,
                "source": ["alpha", "alpha", "beta", "beta"],
            }
        )
        from aumos_drift_detector_spark.sources.synth import TOKEN_SCHEMA

        cur = spark.createDataFrame(pdf, TOKEN_SCHEMA)
        dim = spark.createDataFrame([("alpha",), ("beta",)], ["source"])
        out = str(tmp_path / "out")
        st = ValidationSettings(run_token_histogram=False, partition_batch_size=1)

        run = ValidationRun(spark, cur, cur, dim, out, run_id="xpart", settings=st)
        # simulate: first batch committed, then killed
        rows: list = []
        run._run_batch(["alpha"], True, rows)
        # resume processes only 'beta', but uniqueness already committed with
        # batch 1 over the full table
        rerun = ValidationRun(spark, cur, cur, dim, out, run_id="xpart", settings=st)
        report = rerun.run()
        assert report.skipped_partitions == ["alpha"]
        assert report.violation_counts["uniqueness"] == 1
        vio = spark.read.parquet(f"{out}/violations")
        dup = vio.where(F.col("check_name") == "uniqueness").collect()
        assert {r["doc_id"] for r in dup} == {"dupX"}


class TestSparkSubmitLaunch:
    def test_submit_entrypoint_with_pyfiles_zip(self, tmp_path):
        """North-rule launch shape: package once (build_pyfiles.sh), run the
        SAME driver script via spark-submit --py-files from a neutral cwd —
        the executors import the library from the zip, not the repo path."""
        import os
        import shutil
        import subprocess

        spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
        if not os.path.exists(spark_submit):
            pytest.skip("spark-submit not on this host")
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

        from aumos_drift_detector_spark.sources.synth import fast_token_parquet

        cur = str(tmp_path / "cur")
        base = str(tmp_path / "base")
        fast_token_parquet(base, 4000, seed=1)
        fast_token_parquet(cur, 4000, seed=1)  # same seed: token_equality holds

        subprocess.run(
            ["bash", os.path.join(repo, "scripts", "build_pyfiles.sh")],
            check=True, capture_output=True,
        )
        proc = subprocess.run(
            [
                spark_submit, "--master", "local[4]",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.ui.enabled=false",
                "--py-files",
                os.path.join(repo, "dist", "aumos_drift_detector_spark.zip"),
                os.path.join(repo, "scripts", "submit_validation.py"),
                "--current", cur, "--baseline", base,
                "--out", str(tmp_path / "out"),
                "--sources", "web,books,code,wiki",
            ],
            cwd=str(tmp_path),  # neutral cwd: repo NOT importable implicitly
            capture_output=True, text=True, timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        import json

        report = json.loads(line)
        assert report["checks"] > 0
        assert sorted(report["partitions"]) == ["books", "code", "web", "wiki"]
        # same-seed tables: the per-row token-equality invariant holds
        assert report["violations"]["token_equality"] == 0
        assert (tmp_path / "out").exists()


class TestTokenHistogram:
    def test_scores_match_numpy_oracle(self, spark, tmp_path):
        """token_hist_js / token_hist_chi2 equal the kernels applied to
        counts binned in numpy from the Python lists: NULL arrays and NULL
        elements contribute nothing, empty arrays count zero tokens, and
        boundary ids 0 and VOCAB_SIZE - 1 land in bins 0 and 255."""
        from aumos_drift_detector_spark.functions.kernels import (
            chi2_from_counts,
            js_from_counts,
        )
        from aumos_drift_detector_spark.sources.synth import TOKEN_SCHEMA, VOCAB_SIZE

        rng = np.random.default_rng(11)
        parts = ("web", "books", "code")
        sides = {}
        for side in ("cur", "base"):
            rows = []
            for p in parts:
                for i in range(40):
                    toks = rng.integers(0, 2_000, rng.integers(50, 150)).tolist()
                    if side == "cur" and p == "code":
                        # the one drifted partition: ids shifted up the vocab
                        toks = [t + 20_000 for t in toks]
                    rows.append([f"{side}-{p}-{i}", toks, p])
                rows += [
                    [f"{side}-{p}-null", None, p],
                    [f"{side}-{p}-empty", [], p],
                    [f"{side}-{p}-edges", [0, VOCAB_SIZE - 1, VOCAB_SIZE - 1], p],
                    [f"{side}-{p}-nulls", [None, 7, None, VOCAB_SIZE - 1], p],
                    [f"{side}-{p}-allnull", [None], p],
                ]
            sides[side] = rows

        def frame(rows):
            return spark.createDataFrame(
                [(d, t, None if t is None else len(t), p) for d, t, p in rows],
                TOKEN_SCHEMA,
            )

        dim = spark.createDataFrame([(p,) for p in parts], "source string")
        report = ValidationRun(
            spark, frame(sides["cur"]), frame(sides["base"]), dim,
            str(tmp_path / "out"),
        ).run(resume=False)

        width = VOCAB_SIZE / 256

        def oracle_counts(rows, p):
            flat = np.array(
                [
                    t
                    for _, toks, q in rows
                    if q == p and toks is not None
                    for t in toks
                    if t is not None
                ],
                dtype=np.float64,
            )
            bins = np.clip(np.floor(flat / width), 0, 255).astype(np.int64)
            return np.bincount(bins, minlength=256)

        res = report.results
        cats = [str(i) for i in range(256)]
        for p in parts:
            ref = oracle_counts(sides["base"], p)
            prod = oracle_counts(sides["cur"], p)
            assert ref[0] > 0 and ref[255] > 0
            got = res[res["partition_value"] == p].set_index("check_name")["score"]
            assert got["token_hist_js"] == js_from_counts(ref, prod).score
            assert got["token_hist_chi2"] == chi2_from_counts(cats, ref, prod).score
        js = res[res["check_name"] == "token_hist_js"].set_index("partition_value")
        assert js["is_drifted"].to_dict() == {"web": False, "books": False, "code": True}

    def test_sampled_histogram(self, spark, fixture_small, completed_run, tmp_path):
        """token_sample_fraction < 1 is logged in the results and the
        lineage, is seeded, shrinks the histogram and leaves the
        constraint checks alone."""
        cur, base, dim, _ = fixture_small
        _, full_report, _, _ = completed_run
        settings = ValidationSettings(token_sample_fraction=0.5)
        reports = []
        for i in range(2):
            out = str(tmp_path / f"sampled_{i}")
            reports.append(
                ValidationRun(spark, cur, base, dim, out, settings=settings).run(
                    resume=False
                )
            )

        def hist_rows(report):
            res = report.results
            return (
                res[res["check_name"].isin(["token_hist_js", "token_hist_chi2"])]
                .sort_values(["check_name", "partition_value"])
                .reset_index(drop=True)
            )

        first, second = (hist_rows(r) for r in reports)
        assert len(first) > 0
        assert (first["details"].apply(lambda d: d["sample_fraction"]) == "0.5").all()
        np.testing.assert_array_equal(
            first["score"].to_numpy(), second["score"].to_numpy()
        )
        full = hist_rows(full_report)
        ok = first["details"].apply(lambda d: "error" not in d)
        sampled_sizes = first[ok]["details"].apply(lambda d: float(d["production_size"]))
        full_sizes = full[ok]["details"].apply(lambda d: float(d["production_size"]))
        assert (sampled_sizes < full_sizes).all()

        lineage = spark.read.parquet(str(tmp_path / "sampled_0" / "manifest")).first()[
            "lineage"
        ]
        assert json.loads(lineage)["settings"]["token_sample_fraction"] == 0.5
        for report in reports:
            assert report.violation_counts == full_report.violation_counts


class TestSessionConfigIndependence:
    def test_violation_counts_same_with_ansi_off(self, spark, fixture_small, tmp_path):
        # size(NULL) is NULL with ANSI on but -1 with it off: the planted
        # rows whose tokens and n_tok are both NULL must pass the n_tok
        # invariant in either session
        cur, base, dim, exp = fixture_small
        prev = spark.conf.get("spark.sql.ansi.enabled")
        counts = {}
        try:
            for ansi in ("true", "false"):
                spark.conf.set("spark.sql.ansi.enabled", ansi)
                run = ValidationRun(
                    spark, cur, base, dim, str(tmp_path / f"ansi_{ansi}")
                )
                counts[ansi] = run.run(resume=False).violation_counts
        finally:
            spark.conf.set("spark.sql.ansi.enabled", prev)
        assert counts["true"]["ntok_matches_size"] == exp.row_invariant
        assert counts["false"] == counts["true"]
