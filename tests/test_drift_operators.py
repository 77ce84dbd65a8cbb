"""Distributed drift-operator tests — ports of the reference statistical suites.

Each test mirrors an assertion from /root/reference/tests/unit/statistical_tests/
(test_ks_test.py, test_psi.py, test_chi_squared.py) but runs through the Spark
operators on DataFrames, plus grouped-mode coverage the reference lacks.
"""

import numpy as np
import pandas as pd
import pytest

from aumos_drift_detector_spark.config import DEFAULT_CONFIG
from aumos_drift_detector_spark.operators import drift

# every kernel the collect plan runs over one collected sketch
ALL_TESTS = ("psi", "ks", "js", "w1")


class TestKsOperator:
    def test_identical_distributions_not_drifted(self, spark, value_df_factory):
        # reference test_ks_test.py:18-27
        rng = np.random.default_rng(42)
        ref = value_df_factory(rng.normal(0, 1, 10000))
        prod = value_df_factory(rng.normal(0, 1, 10000))
        res = drift.ks_test(ref, prod, "value")
        assert not res.is_drifted
        assert res.p_value >= 0.05

    def test_shifted_distribution_drifted(self, spark, value_df_factory):
        # reference test_ks_test.py:28-37
        rng = np.random.default_rng(0)
        ref = value_df_factory(rng.normal(0, 1, 1000))
        prod = value_df_factory(rng.normal(10, 1, 1000))
        res = drift.ks_test(ref, prod, "value")
        assert res.is_drifted
        assert res.p_value < 0.05
        # D > 0.5 for a 10-sigma shift; statistic reported via details in
        # grouped mode; here verify via score path (p ~ 0)
        assert res.p_value < 1e-10

    def test_nan_removed_sizes(self, spark, value_df_factory):
        # reference test_ks_test.py:72-79
        ref = value_df_factory([1.0, 2.0, np.nan, 3.0, np.nan])
        prod = value_df_factory([1.0, 2.0, 3.0])
        res = drift.ks_test(ref, prod, "value")
        assert res.reference_size == 3
        assert res.production_size == 3

    def test_all_nan_raises(self, spark, value_df_factory):
        ref = value_df_factory([np.nan, np.nan])
        prod = value_df_factory([1.0, 2.0])
        with pytest.raises(ValueError, match="NaN/inf"):
            drift.ks_test(ref, prod, "value")

    def test_statistic_bounded(self, spark, value_df_factory):
        # reference test_ks_test.py:102-108
        rng = np.random.default_rng(7)
        ref = value_df_factory(rng.normal(0, 1, 500))
        prod = value_df_factory(rng.uniform(-3, 3, 500))
        res = drift.ks_test(ref, prod, "value")
        assert 0.0 <= res.p_value <= 1.0

    def test_pvalue_method_knob(self, spark, value_df_factory):
        """EngineConfig.ks_pvalue_method='asymp' skips the O(n*m) exact
        lattice DP (round-2 advisory: grouped runs with many ~10k-row groups
        pay minutes of serial driver time under 'auto')."""
        from aumos_drift_detector_spark.config import EngineConfig
        from aumos_drift_detector_spark.functions.numeric import ks_2samp_pvalue

        rng = np.random.default_rng(17)
        a, b = rng.normal(0, 1, 800), rng.normal(0.15, 1, 900)
        ref, prod = value_df_factory(a), value_df_factory(b)
        exact = drift.ks_test(ref, prod, "value")  # auto -> exact at n<=10k
        asymp = drift.ks_test(
            ref, prod, "value",
            config=EngineConfig(ks_pvalue_method="asymp"),
        )
        d = exact.details["statistic"]
        assert exact.p_value == pytest.approx(
            ks_2samp_pvalue(d, 800, 900, method="exact"), abs=1e-12
        )
        assert asymp.p_value == pytest.approx(
            ks_2samp_pvalue(d, 800, 900, method="asymp"), abs=1e-12
        )
        assert exact.p_value != asymp.p_value  # the knob actually switches

    def test_threshold_sensitivity(self, spark, value_df_factory):
        # reference test_ks_test.py:109-119 — stricter threshold can flip verdict
        rng = np.random.default_rng(11)
        ref = value_df_factory(rng.normal(0, 1, 300))
        prod = value_df_factory(rng.normal(0.25, 1, 300))
        loose = drift.ks_test(ref, prod, "value", threshold=0.05)
        strict = drift.ks_test(ref, prod, "value", threshold=1e-12)
        assert not strict.is_drifted or loose.is_drifted

    def test_grouped_mode(self, spark):
        rng = np.random.default_rng(5)
        ref = spark.createDataFrame(
            pd.DataFrame({
                "grp": ["a"] * 2000 + ["b"] * 2000,
                "value": np.concatenate([rng.normal(0, 1, 2000), rng.normal(0, 1, 2000)]),
            })
        )
        prod = spark.createDataFrame(
            pd.DataFrame({
                "grp": ["a"] * 2000 + ["b"] * 2000,
                "value": np.concatenate([rng.normal(0, 1, 2000), rng.normal(4, 1, 2000)]),
            })
        )
        frame = drift.ks_test_grouped(ref, prod, "value", ("grp",)).set_index("grp")
        assert not frame.loc["a", "is_drifted"]
        assert frame.loc["b", "is_drifted"]


class TestPsiOperator:
    def test_split_halves_near_zero(self, spark, value_df_factory):
        # reference test_psi.py:15-22
        rng = np.random.default_rng(1)
        data = rng.normal(0, 1, 10000)
        res = drift.psi_test(
            value_df_factory(data[:5000]), value_df_factory(data[5000:]), "value"
        )
        assert res.score < 0.05
        assert not res.is_drifted

    def test_five_sigma_shift(self, spark, value_df_factory):
        # reference test_psi.py:23-31
        rng = np.random.default_rng(2)
        ref = value_df_factory(rng.normal(0, 1, 5000))
        prod = value_df_factory(rng.normal(5, 1, 5000))
        res = drift.psi_test(ref, prod, "value")
        assert res.score >= 0.2
        assert res.is_drifted

    def test_constant_reference_raises(self, spark, value_df_factory):
        # reference test_psi.py:74-78
        ref = value_df_factory(np.ones(100))
        prod = value_df_factory(np.random.default_rng(0).normal(0, 1, 100))
        with pytest.raises(ValueError, match="constant"):
            drift.psi_test(ref, prod, "value")

    def test_matches_numpy_reference_exactly(self, spark, value_df_factory):
        # cross-check the distributed two-pass binning against an in-memory
        # recomputation of the reference algorithm (psi.py:154-170)
        rng = np.random.default_rng(9)
        ref = rng.normal(0, 1, 4000)
        prod = rng.normal(0.5, 1.2, 3000)
        res = drift.psi_test(value_df_factory(ref), value_df_factory(prod), "value")

        edges = np.concatenate(
            [[-np.inf], np.percentile(ref, np.linspace(0, 100, 11))[1:-1], [np.inf]]
        )
        rc, _ = np.histogram(ref, bins=edges)
        pc, _ = np.histogram(prod, bins=edges)
        rf = np.maximum(rc / rc.sum(), 1e-4)
        pf = np.maximum(pc / pc.sum(), 1e-4)
        expected = float(np.sum((pf - rf) * np.log(pf / rf)))
        assert res.score == pytest.approx(expected, rel=1e-9)

    def test_grouped_mode(self, spark):
        rng = np.random.default_rng(3)
        ref = spark.createDataFrame(
            pd.DataFrame({
                "src": ["x"] * 3000 + ["y"] * 3000,
                "value": np.concatenate([rng.normal(0, 1, 3000), rng.normal(0, 1, 3000)]),
            })
        )
        prod = spark.createDataFrame(
            pd.DataFrame({
                "src": ["x"] * 3000 + ["y"] * 3000,
                "value": np.concatenate([rng.normal(0, 1, 3000), rng.normal(5, 1, 3000)]),
            })
        )
        frame = drift.psi_test_grouped(ref, prod, "value", ("src",)).set_index("src")
        assert not frame.loc["x", "is_drifted"]
        assert frame.loc["y", "is_drifted"]


class TestChi2Operator:
    def _cat_df(self, spark, counts):
        rows = [(c,) for c, n in counts.items() for _ in range(n)]
        return spark.createDataFrame(rows, ["category"])

    def test_identical(self, spark):
        # reference test_chi_squared.py:14-22
        ref = self._cat_df(spark, {"A": 500, "B": 300, "C": 200})
        res = drift.chi2_test(ref, ref, "category")
        assert not res.is_drifted
        assert res.p_value > 0.99

    def test_inverted(self, spark):
        # reference test_chi_squared.py:23-30
        ref = self._cat_df(spark, {"cat": 900, "dog": 100})
        prod = self._cat_df(spark, {"cat": 100, "dog": 900})
        res = drift.chi2_test(ref, prod, "category")
        assert res.is_drifted
        assert res.p_value < 0.05

    def test_new_category_drifts(self, spark):
        # reference test_chi_squared.py:52-60
        ref = self._cat_df(spark, {"cat": 500, "dog": 500})
        prod = self._cat_df(spark, {"cat": 400, "dog": 400, "bird": 200})
        res = drift.chi2_test(ref, prod, "category")
        assert res.is_drifted


class TestJsHellingerWassersteinOperators:
    def test_same_not_drifted(self, spark, value_df_factory):
        rng = np.random.default_rng(42)
        ref = value_df_factory(rng.normal(0, 1, 5000))
        prod = value_df_factory(rng.normal(0, 1, 5000))
        assert not drift.js_test(ref, prod, "value").is_drifted
        assert not drift.hellinger_test(ref, prod, "value").is_drifted
        assert not drift.wasserstein_test(ref, prod, "value").is_drifted

    def test_shifted_drifted(self, spark, value_df_factory):
        rng = np.random.default_rng(0)
        ref = value_df_factory(rng.normal(0, 1, 1000))
        prod = value_df_factory(rng.normal(10, 1, 1000))
        assert drift.js_test(ref, prod, "value").is_drifted
        assert drift.hellinger_test(ref, prod, "value").is_drifted
        assert drift.wasserstein_test(ref, prod, "value").is_drifted

    def test_wasserstein_matches_closed_form(self, spark, value_df_factory):
        # W1 between two point masses at 0 and 1 is exactly 1; ref IQR=0 ->
        # fallback std=0 -> fallback 1.0 (wasserstein.py:52-56)
        ref = value_df_factory([0.0] * 10)
        prod = value_df_factory([1.0] * 10)
        res = drift.wasserstein_test(ref, prod, "value")
        assert res.score == pytest.approx(1.0)
        assert res.is_drifted

    def test_wasserstein_matches_numpy(self, spark, value_df_factory):
        rng = np.random.default_rng(4)
        a = rng.normal(0, 1, 800)
        b = rng.normal(0.7, 1.3, 600)
        res = drift.wasserstein_test(value_df_factory(a), value_df_factory(b), "value")
        # numpy recomputation of W1 via the same CDF-gap integral
        allv = np.sort(np.unique(np.concatenate([a, b])))
        fa = np.searchsorted(np.sort(a), allv, side="right") / len(a)
        fb = np.searchsorted(np.sort(b), allv, side="right") / len(b)
        w1 = float(np.sum(np.abs(fa - fb)[:-1] * np.diff(allv)))
        q75, q25 = np.percentile(a, [75, 25])
        expected = w1 / float(q75 - q25)
        assert res.score == pytest.approx(expected, rel=1e-9)


class TestParallelPrefixSumPlans:
    """The ECDF paths must be fully parallel — no single-reducer window sort.

    A grouped KS/W1/AD plan with Window.partitionBy(group).orderBy(v) puts a
    group's whole distinct-value set in one task; ungrouped, the whole table
    lands on ONE reducer (`Exchange SinglePartition` feeding a Window). The
    range-partitioned two-pass prefix sum removes that: grouped plans must
    contain no SinglePartition exchange at all.
    """

    def _grouped_plan(self, spark, fn):
        import pandas as pd

        rng = np.random.default_rng(7)
        pdf = pd.DataFrame(
            {
                "g": np.repeat(["a", "b"], 500),
                "value": rng.normal(0, 1, 1000),
            }
        )
        ref = spark.createDataFrame(pdf)
        prod = spark.createDataFrame(pdf.assign(value=pdf["value"] + 0.5))
        return ref, prod

    @pytest.mark.parametrize(
        "fn_name",
        ["ks_test_grouped", "wasserstein_test_grouped", "anderson_darling_test_grouped"],
    )
    def test_no_single_partition_exchange(self, spark, fn_name):
        from pyspark.sql import functions as F

        ref, prod = self._grouped_plan(spark, fn_name)
        # rebuild the distributed portion of each test's plan (pre-collect)
        per_value = drift.per_value_sketch(ref, prod, "value", ("g",))
        cum = drift._cumulative_per_value(
            per_value, ("g",), ["c_ref", "c_prod"],
            with_next_value=(fn_name == "wasserstein_test_grouped"),
        )
        stats = cum.groupBy("g").agg(F.max("cum_c_ref"))
        plan = stats._jdf.queryExecution().executedPlan().toString()
        assert "Exchange SinglePartition" not in plan, plan

    def test_selection_quantiles_match_numpy_and_sketch(self, spark):
        """quantile_edges_selection == numpy percentile == the driver sketch
        kernel (bitwise), grouped and ungrouped, duplicates included."""
        import pandas as pd

        rng = np.random.default_rng(23)
        vals = np.round(rng.lognormal(2, 1, 20000), 1)  # heavy duplication
        g = np.repeat(["a", "b"], 10000)
        df = spark.createDataFrame(pd.DataFrame({"g": g, "value": vals}))

        sel = drift.quantile_edges_selection(
            df, "value", 10, ("g",)
        ).toPandas().set_index("g")
        for grp in ("a", "b"):
            sub = vals[g == grp]
            want = np.percentile(sub, np.linspace(0, 100, 11))
            assert np.asarray(sel.loc[grp, "edges"]) == pytest.approx(
                want.tolist(), abs=1e-12
            )
            uniq, counts = np.unique(sub, return_counts=True)
            sk = drift._weighted_percentiles(uniq, counts, np.linspace(0, 1, 11))
            assert list(sel.loc[grp, "edges"]) == sk.tolist()
            assert sel.loc[grp, "ref_count"] == 10000
            assert sel.loc[grp, "ref_distinct"] == len(np.unique(sub))
        # ungrouped
        sel1 = drift.quantile_edges_selection(df, "value", 4).collect()[0]
        assert list(sel1["edges"]) == pytest.approx(
            np.percentile(vals, [0, 25, 50, 75, 100]).tolist(), abs=1e-12
        )

    def test_selection_quantiles_tiny_group(self, spark):
        df = spark.createDataFrame([(5.0,)], ["value"])
        row = drift.quantile_edges_selection(df, "value", 10).collect()[0]
        assert list(row["edges"]) == [5.0] * 11  # n=1: every quantile = v

    def test_psi_selection_plan_identical_verdict(self, spark, ):
        import pandas as pd

        from aumos_drift_detector_spark.config import EngineConfig

        rng = np.random.default_rng(31)
        ref = spark.createDataFrame(
            pd.DataFrame({"value": rng.normal(10, 3, 8000)})
        )
        prod = spark.createDataFrame(
            pd.DataFrame({"value": rng.normal(11, 3.5, 8000)})
        )
        base = drift.psi_test(ref, prod, "value")
        sel = drift.psi_test(
            ref, prod, "value", config=EngineConfig(sketch_collect_max_rows=0)
        )
        # over the cap PSI's edges come from distributed rank selection with
        # the driver kernel's own lerp: the verdicts are bitwise identical
        assert sel.score == base.score
        assert sel.is_drifted == base.is_drifted
        assert sel.details["bin_edges"] == base.details["bin_edges"]

    def test_selection_quantile_data_path_no_single_partition(self, spark):
        """The grouped data-proportional half of the selection-quantile plan
        (per-value sketch -> parallel prefix sums) must stay free of
        single-reducer exchanges, matching the KS/W1 contract. (Ungrouped,
        the only SinglePartition sits above the <= n_ranges chunk-totals
        rows — bytes, the documented benign case.)"""
        import pandas as pd
        from pyspark.sql import functions as F

        from aumos_drift_detector_spark.operators.profile import clean_values

        rng = np.random.default_rng(5)
        df = spark.createDataFrame(
            pd.DataFrame(
                {"g": np.repeat(["a", "b"], 1000), "value": rng.normal(0, 1, 2000)}
            )
        )
        per_value = clean_values(df, "value", ("g",)).groupBy("g", "v").agg(
            F.count("v").alias("cnt")
        )
        cum = drift._cumulative_per_value(per_value, ("g",), ["cnt"])
        plan = cum._jdf.queryExecution().executedPlan().toString()
        assert "Exchange SinglePartition" not in plan, plan

    @pytest.mark.parametrize("seed,cap,n_cats", [(0, 5, 40), (1, 1, 15), (2, 12, 12)])
    def test_guarded_counts_equal_direct_topk(self, spark, seed, cap, n_cats):
        """_guarded_category_counts == direct global top-K + tail collapse,
        across cap<n_cats, cap=1, and cap>=n_cats (no tail) regimes."""
        import pandas as pd

        rng = np.random.default_rng(seed)
        cats = pd.DataFrame({
            "v": [f"c{i:03d}" for i in range(n_cats)],
            "c_ref": rng.integers(0, 500, n_cats),
            "c_prod": rng.integers(0, 500, n_cats),
        })
        per_cat = spark.createDataFrame(cats).repartition(7)  # many partitions
        got = drift._guarded_category_counts(per_cat, (), cap).toPandas()

        ordered = cats.assign(_t=cats.c_ref + cats.c_prod).sort_values(
            ["_t", "v"], ascending=[False, True], kind="mergesort")
        want_kept, want_rest = ordered.head(cap), ordered.iloc[cap:]
        got_kept = got[~got["_is_other"]]
        assert sorted(got_kept["v"]) == sorted(want_kept["v"])
        assert (
            got_kept.set_index("v")["c_ref"].astype(int).to_dict()
            == want_kept.set_index("v")["c_ref"].astype(int).to_dict()
        )
        got_tail = got[got["_is_other"]]
        if want_rest.empty:
            assert got_tail.empty
        else:
            assert len(got_tail) == 1
            assert int(got_tail["c_ref"].iloc[0]) == int(want_rest["c_ref"].sum())
            assert int(got_tail["n_cats"].iloc[0]) == len(want_rest)

    def test_guarded_counts_single_action_reuses_aggregation(self, spark):
        """Both top-K phases must consume ONE per-category aggregation —
        the plan reuses the exchange instead of re-scanning the input."""
        import pandas as pd

        per_cat = spark.createDataFrame(
            pd.DataFrame({"v": ["a", "b", "c"], "c_ref": [3, 2, 1],
                          "c_prod": [1, 1, 1]})
        ).repartition(3)
        out = drift._guarded_category_counts(per_cat, (), 2)
        out.collect()  # AQE decides reuse at runtime: inspect the FINAL plan
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "ReusedExchange" in plan, plan

    def test_chi2_null_group_key_gets_its_own_verdict(self, spark):
        """NULL group keys must not vanish from the grouped verdict frame
        (pandas NaN != NaN in the finalize)."""
        import pandas as pd

        rows = [("x", "A")] * 30 + [("x", "B")] * 20 + \
               [(None, "A")] * 25 + [(None, "C")] * 25
        df = spark.createDataFrame(rows, "g string, c string")
        out = drift.chi2_test_grouped(df, df, "c", ("g",))
        gvals = set(out["g"].where(pd.notna(out["g"]), None))
        assert gvals == {"x", None}
        for _, r in out.iterrows():
            assert r["error"] is None
            # self vs self: statistic 0, p-value (= score) 1, no drift
            assert r["score"] == pytest.approx(1.0, abs=1e-12)
            assert not r["is_drifted"]

    def test_chi2_topk_guard_has_no_single_partition_exchange(self, spark):
        """The UNGROUPED chi2 category guard must rank within shuffle
        partitions (window keyed by spark_partition_id), never via a global
        single-reducer rank window over all distinct categories."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        ref, prod = self._grouped_plan(spark, "chi2")
        sides = drift._sides(ref, prod, "value", (), cast_double=False)
        per_cat = sides.groupBy("v").agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("c_ref"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("c_prod"),
        )
        w_local = Window.partitionBy(F.col("_pid")).orderBy(
            F.desc(F.col("c_ref") + F.col("c_prod")), F.col("v")
        )
        ranked = per_cat.withColumn(
            "_pid", F.spark_partition_id()
        ).withColumn("_lr", F.row_number().over(w_local))
        cand = ranked.filter(F.col("_lr") <= 3).drop("_pid", "_lr")
        plan = cand._jdf.queryExecution().executedPlan().toString()
        # the ranking window itself must never collapse to one reducer
        # (the ungrouped tail's global agg is a benign 1-row-per-partition
        # partial-agg exchange and is not part of this assertion)
        assert "Exchange SinglePartition" not in plan, plan

    def test_cumulative_helper_matches_serial_window(self, spark):
        """Value parity: parallel prefix sum == naive single-window cumsum."""
        import pandas as pd
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        rng = np.random.default_rng(11)
        pdf = pd.DataFrame(
            {
                "g": rng.choice(["x", "y", "z"], 2000),
                "v": np.round(rng.normal(0, 10, 2000), 1),
            }
        ).drop_duplicates(["g", "v"])
        pdf["c1"] = rng.integers(1, 9, len(pdf))
        pdf["c2"] = rng.integers(0, 5, len(pdf))
        df = spark.createDataFrame(pdf)

        got = (
            drift._cumulative_per_value(df, ("g",), ["c1", "c2"], with_next_value=True)
            .toPandas()
            .sort_values(["g", "v"])
            .reset_index(drop=True)
        )
        w = Window.partitionBy("g").orderBy("v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wl = Window.partitionBy("g").orderBy("v")
        wa = Window.partitionBy("g")
        want = (
            df.select(
                "g",
                "v",
                F.sum("c1").over(w).alias("cum_c1"),
                F.sum("c2").over(w).alias("cum_c2"),
                F.sum("c1").over(wa).alias("total_c1"),
                F.sum("c2").over(wa).alias("total_c2"),
                F.lead("v").over(wl).alias("next_v"),
            )
            .toPandas()
            .sort_values(["g", "v"])
            .reset_index(drop=True)
        )
        for c in ["cum_c1", "cum_c2", "total_c1", "total_c2"]:
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
        nv_got, nv_want = got["next_v"].to_numpy(), want["next_v"].to_numpy()
        both_nan = pd.isna(nv_got) & pd.isna(nv_want)
        assert (both_nan | (nv_got == nv_want)).all()

    def test_ungrouped_parity_small_vs_many_ranges(self, spark, value_df_factory):
        # results must be invariant to the number of range chunks
        rng = np.random.default_rng(3)
        a, b = rng.normal(0, 1, 500), rng.normal(0.3, 1, 400)
        ref, prod = value_df_factory(a), value_df_factory(b)
        base = drift.ks_test(ref, prod, "value")
        ad = drift.anderson_darling_test(ref, prod, "value")
        w1 = drift.wasserstein_test(ref, prod, "value")
        # recompute KS D with numpy
        allv = np.sort(np.unique(np.concatenate([a, b])))
        fa = np.searchsorted(np.sort(a), allv, side="right") / len(a)
        fb = np.searchsorted(np.sort(b), allv, side="right") / len(b)
        assert base.details["statistic"] == pytest.approx(float(np.max(np.abs(fa - fb))), abs=1e-12)
        assert 0.0 <= ad.score <= 0.25
        assert w1.score > 0


class TestChi2HighCardinalityGuard:
    def test_under_cap_identical(self, spark):
        # guard must be a no-op below the cap
        from aumos_drift_detector_spark.config import EngineConfig

        rng = np.random.default_rng(5)
        ref = spark.createDataFrame(
            pd.DataFrame({"c": rng.choice(list("abcdef"), 2000)})
        )
        prod = spark.createDataFrame(
            pd.DataFrame({"c": rng.choice(list("abcdef"), 1500)})
        )
        base = drift.chi2_test(ref, prod, "c")
        assert "other_bucket_categories" not in base.details
        assert len(base.details["categories"]) == 6

    def test_tail_collapses_into_logged_other(self, spark):
        from aumos_drift_detector_spark.config import EngineConfig

        cfg = EngineConfig(chi2_max_categories=3)
        # 2 hot categories + 50 rare ones
        vals = ["hot1"] * 500 + ["hot2"] * 400 + [f"rare{i}" for i in range(50)]
        ref = spark.createDataFrame(pd.DataFrame({"c": vals}))
        prod = spark.createDataFrame(pd.DataFrame({"c": vals}))
        res = drift.chi2_test(ref, prod, "c", config=cfg)
        cats = res.details["categories"]
        assert "__other__" in cats
        assert len(cats) == 4  # top 3 + other
        assert res.details["other_bucket_categories"] == 49
        assert res.details["max_categories"] == 3
        # identical sides -> no drift even after collapsing
        assert not res.is_drifted
        # counts conserved
        assert sum(res.details["reference_counts"]) == len(vals)

    def test_collapsed_matches_numpy(self, spark):
        from aumos_drift_detector_spark.config import EngineConfig
        from aumos_drift_detector_spark.functions.kernels import chi2_from_counts

        cfg = EngineConfig(chi2_max_categories=2)
        ref_counts = {"a": 100, "b": 80, "c": 30, "d": 20}
        prod_counts = {"a": 50, "b": 90, "c": 40, "d": 10}
        mk = lambda d: spark.createDataFrame(
            pd.DataFrame({"c": [k for k, n in d.items() for _ in range(n)]})
        )
        res = drift.chi2_test(mk(ref_counts), mk(prod_counts), "c", config=cfg)
        # pooled top-2 = a(150), b(170) -> keep a,b; other = c+d
        want = chi2_from_counts(
            ["__other__", "a", "b"],
            [50, 100, 80],
            [50, 50, 90],
            0.05,
        )
        assert res.score == pytest.approx(want.score, rel=1e-12)
        assert res.details["statistic"] == pytest.approx(
            want.details["statistic"], rel=1e-12
        )

    def test_grouped_guard(self, spark):
        from aumos_drift_detector_spark.config import EngineConfig

        cfg = EngineConfig(chi2_max_categories=2)
        pdf = pd.DataFrame(
            {
                "g": ["x"] * 300 + ["y"] * 300,
                "c": (["a"] * 150 + ["b"] * 100 + [f"r{i}" for i in range(50)]) * 2,
            }
        )
        ref = spark.createDataFrame(pdf)
        out = drift.chi2_test_grouped(ref, ref, "c", ("g",), config=cfg)
        assert len(out) == 2
        assert (out["error"].isna() | (out["error"] == None)).all()  # noqa: E711
        assert not out["is_drifted"].any()


class TestFusedSketchParity:
    """The verdicts from one collected sketch must reproduce the three
    grouped operators."""

    def _frames(self, spark):
        rng = np.random.default_rng(13)
        pdf = pd.DataFrame(
            {
                "g": rng.choice(["a", "b", "c"], 4000),
                "value": rng.integers(5, 400, 4000).astype(float),
            }
        )
        ref = spark.createDataFrame(pdf)
        prod = spark.createDataFrame(
            pdf.assign(value=np.where(pdf["g"] == "b", pdf["value"] * 1.4, pdf["value"]))
        )
        return ref, prod

    def test_matches_individual_operators(self, spark):
        ref, prod = self._frames(spark)
        sketch = drift.per_value_sketch(ref, prod, "value", ("g",)).toPandas()
        fused = drift._verdicts_from_sketch(sketch, ("g",), "value", DEFAULT_CONFIG, ALL_TESTS)

        psi = drift.psi_test_grouped(ref, prod, "value", ("g",))
        ks = drift.ks_test_grouped(ref, prod, "value", ("g",))
        js = drift.js_test_grouped(ref, prod, "value", ("g",))

        for name, frame in [("psi", psi), ("ks", ks), ("js", js)]:
            got = fused[name].sort_values("g").reset_index(drop=True)
            want = frame.sort_values("g").reset_index(drop=True)
            assert list(got["g"]) == list(want["g"]), name
            for col in ("score", "p_value"):
                gv, wv = got[col].to_numpy(float), want[col].to_numpy(float)
                both_nan = np.isnan(gv) & np.isnan(wv)
                assert (both_nan | (np.abs(gv - wv) < 1e-12)).all(), (name, col)
            assert list(got["is_drifted"]) == list(want["is_drifted"]), name
            assert list(got["reference_size"]) == list(want["reference_size"])
            assert list(got["production_size"]) == list(want["production_size"])

    def test_error_semantics_parity(self, spark):
        # one group with empty prod, one with constant ref, one healthy
        pdf_ref = pd.DataFrame(
            {
                "g": ["const"] * 50 + ["healthy"] * 200 + ["noprod"] * 50,
                "value": [5.0] * 50 + list(np.linspace(0, 100, 200)) + list(np.linspace(0, 9, 50)),
            }
        )
        pdf_prod = pd.DataFrame(
            {
                "g": ["const"] * 50 + ["healthy"] * 200 + ["noprod"] * 50,
                "value": [5.5] * 50 + list(np.linspace(1, 99, 200)) + [float("nan")] * 50,
            }
        )
        ref, prod = spark.createDataFrame(pdf_ref), spark.createDataFrame(pdf_prod)
        sketch = drift.per_value_sketch(ref, prod, "value", ("g",)).toPandas()
        fused = drift._verdicts_from_sketch(sketch, ("g",), "value", DEFAULT_CONFIG, ALL_TESTS)
        psi = drift.psi_test_grouped(ref, prod, "value", ("g",))

        got = dict(zip(fused["psi"]["g"], fused["psi"]["error"]))
        want = dict(zip(psi["g"], psi["error"]))
        assert got == want
        assert "constant" in got["const"]
        ks = drift.ks_test_grouped(ref, prod, "value", ("g",))
        got_ks = dict(zip(fused["ks"]["g"], fused["ks"]["error"]))
        want_ks = dict(zip(ks["g"], ks["error"]))
        assert got_ks == want_ks

    def test_psi_weighted_percentile_matches_numpy(self):
        rng = np.random.default_rng(2)
        raw = rng.integers(0, 50, 500).astype(float)
        vals, counts = np.unique(raw, return_counts=True)
        probs = np.linspace(0, 1, 11)
        got = drift._weighted_percentiles(vals, counts, probs)
        want = np.percentile(raw, probs * 100)
        assert got == pytest.approx(want.tolist(), abs=1e-12)

    def test_profile_from_sketch_matches_profile_columns(self, spark):
        from aumos_drift_detector_spark.operators.profile import profile_columns

        rng = np.random.default_rng(21)
        vals = rng.integers(1, 300, 3000).astype(float)
        vals[rng.choice(3000, 120, replace=False)] = np.nan  # planted nulls
        pdf = pd.DataFrame({"g": rng.choice(["a", "b"], 3000), "value": vals})
        cur = spark.createDataFrame(pdf)
        base = spark.createDataFrame(pdf.assign(value=pdf["value"] + 1))

        sketch = drift.per_value_sketch(
            base, cur, "value", ("g",), keep_nulls=True
        ).toPandas()
        got = (
            drift.profile_from_sketch(sketch, ("g",), "value")
            .sort_values("g")
            .reset_index(drop=True)
        )
        want = (
            profile_columns(cur, ["value"], ("g",))
            .toPandas()
            .sort_values("g")
            .reset_index(drop=True)
        )
        for col in (
            "count", "mean", "std", "min_value", "max_value", "percentile_25",
            "median", "percentile_75", "percentile_95", "percentile_99",
            "null_fraction", "unique_count", "total_rows",
        ):
            gv = got[col].to_numpy(dtype=float)
            wv = want[col].to_numpy(dtype=float)
            assert np.allclose(gv, wv, rtol=0, atol=1e-9), (col, gv, wv)

    def test_high_cardinality_column_bounded_collect(self, spark):
        # 200k distinct categories, cap 1000: the collect must stay at
        # O(groups x cap) rows regardless of column cardinality (the
        # driver-memory guard the round-1 verdict required)
        from pyspark.sql import functions as F

        from aumos_drift_detector_spark.config import EngineConfig

        cfg = EngineConfig(chi2_max_categories=1000)
        n = 200_000
        ref = spark.range(n).select((F.col("id") % n).alias("c"))
        prod = spark.range(n).select(((F.col("id") * 7) % n).alias("c"))
        res = drift.chi2_test(ref, prod, "c", config=cfg)
        assert res.details["other_bucket_categories"] == n - 1000
        assert len(res.details["categories"]) == 1001  # top-1000 + __other__
        assert res.reference_size == n
        assert res.production_size == n
        # every category appears exactly once on each side -> no drift signal
        assert res.p_value > 0.9


class TestAdaptiveSketchPlans:
    """Round-4 adaptive plans: sketch-collect fast path == distributed plan.

    KS and W1 try one bounded sketch-collect job and fall back to the
    prefix-sum plan on cap overflow; chi2 ranks phase 2 driver-side when the
    phase-1 fold fits the probe. Each pair of paths must be value-identical.
    """

    def _config(self, **kw):
        from dataclasses import replace

        from aumos_drift_detector_spark.config import DEFAULT_CONFIG

        return replace(DEFAULT_CONFIG, **kw)

    def test_wasserstein_sketch_matches_distributed(self, spark, value_df_factory):
        rng = np.random.default_rng(5)
        ref = value_df_factory(np.round(rng.lognormal(3, 1, 4000), 2))
        prod = value_df_factory(np.round(rng.lognormal(3.2, 1.1, 3000), 2))
        fast = drift.wasserstein_test(ref, prod, "value")
        slow = drift.wasserstein_test(
            ref, prod, "value", config=self._config(sketch_collect_max_rows=0)
        )
        assert fast.score == pytest.approx(slow.score, rel=1e-9)
        assert fast.details["iqr"] == pytest.approx(slow.details["iqr"], rel=1e-9)
        assert fast.details["raw_distance"] == pytest.approx(
            slow.details["raw_distance"], rel=1e-9
        )
        assert (fast.reference_size, fast.production_size) == (
            slow.reference_size, slow.production_size
        )

    def test_wasserstein_cap_overflow_falls_back(self, spark, value_df_factory):
        # cap 10 << distinct values: the probe overflows and the distributed
        # prefix-sum plan must produce the same verdict anyway
        rng = np.random.default_rng(6)
        vals = np.round(rng.normal(0, 1, 500), 3)
        ref = value_df_factory(vals)
        prod = value_df_factory(vals + 0.5)
        tiny = drift.wasserstein_test(
            ref, prod, "value", config=self._config(sketch_collect_max_rows=10)
        )
        full = drift.wasserstein_test(ref, prod, "value")
        assert tiny.score == pytest.approx(full.score, rel=1e-9)

    def test_ks_sketch_matches_distributed_grouped(self, spark):
        rng = np.random.default_rng(7)
        pdf = pd.DataFrame(
            {
                "g": rng.choice(["a", "b"], 3000),
                "value": np.round(rng.normal(0, 1, 3000), 2),
            }
        )
        ref = spark.createDataFrame(pdf)
        prod = spark.createDataFrame(
            pdf.assign(value=pdf["value"] * 1.3 + 0.1)
        )
        fast = drift.ks_test_grouped(ref, prod, "value", ("g",)).sort_values(
            "g"
        ).reset_index(drop=True)
        slow = drift.ks_test_grouped(
            ref, prod, "value", ("g",),
            config=self._config(sketch_collect_max_rows=0),
        ).sort_values("g").reset_index(drop=True)
        assert list(fast["g"]) == list(slow["g"])
        for c in ("score", "p_value"):
            assert np.allclose(fast[c].astype(float), slow[c].astype(float),
                               rtol=1e-12), c

    def test_chi2_driver_phase2_matches_distributed(self, spark):
        # cap 5 with ~40 distinct categories: losers + per-partition tails
        # must fold into the same __other__ bucket on both phase-2 paths
        from pyspark.sql import functions as F

        ref = spark.range(4000).select((F.col("id") % 37).cast("string").alias("c"))
        prod = spark.range(4000).select(((F.col("id") * 3) % 41).cast("string").alias("c"))
        cfg_fast = self._config(chi2_max_categories=5)
        cfg_slow = self._config(chi2_max_categories=5, sketch_collect_max_rows=0)
        fast = drift.chi2_test(ref, prod, "c", config=cfg_fast)
        slow = drift.chi2_test(ref, prod, "c", config=cfg_slow)
        assert fast.details["categories"] == slow.details["categories"]
        assert fast.details["statistic"] == pytest.approx(
            slow.details["statistic"], rel=1e-12
        )
        assert fast.details["other_bucket_categories"] == (
            slow.details["other_bucket_categories"]
        )
        assert fast.score == pytest.approx(slow.score, rel=1e-12)

    def test_fused_sketch_includes_wasserstein(self, spark, value_df_factory):
        rng = np.random.default_rng(8)
        ref = value_df_factory(np.round(rng.normal(0, 1, 2000), 2))
        prod = value_df_factory(np.round(rng.normal(0.4, 1, 2000), 2))
        sketch = drift.per_value_sketch(ref, prod, "value").toPandas()
        fused = drift._verdicts_from_sketch(sketch, (), "value", DEFAULT_CONFIG, ALL_TESTS)
        standalone = drift.wasserstein_test(ref, prod, "value")
        row = fused["w1"].iloc[0]
        assert row["error"] is None
        assert float(row["score"]) == pytest.approx(standalone.score, rel=1e-12)

    def test_psi_sketch_matches_distributed(self, spark, value_df_factory):
        # heavy integer ties put many values EXACTLY on quantile edges — the
        # adversarial case for edge-computation parity between the driver
        # kernel (weighted percentiles) and the distributed two-pass plan
        rng = np.random.default_rng(12)
        ref = value_df_factory(rng.integers(0, 40, 5000).astype(float))
        prod = value_df_factory(rng.integers(2, 44, 4000).astype(float))
        fast = drift.psi_test(ref, prod, "value")
        slow = drift.psi_test(
            ref, prod, "value", config=self._config(sketch_collect_max_rows=0)
        )
        assert fast.score == pytest.approx(slow.score, rel=0, abs=0)  # bitwise
        assert fast.details["bin_edges"] == slow.details["bin_edges"]
        assert (fast.reference_size, fast.production_size) == (
            slow.reference_size, slow.production_size
        )

    def test_psi_sketch_continuous_matches_distributed(self, spark, value_df_factory):
        rng = np.random.default_rng(13)
        ref = value_df_factory(rng.normal(0, 1, 3000))
        prod = value_df_factory(rng.normal(0.3, 1.1, 2500))
        fast = drift.psi_test(ref, prod, "value")
        slow = drift.psi_test(
            ref, prod, "value", config=self._config(sketch_collect_max_rows=0)
        )
        assert fast.score == pytest.approx(slow.score, rel=1e-12)

    def test_psi_error_paths_on_adaptive_plan(self, spark, value_df_factory):
        prod = value_df_factory(np.random.default_rng(0).normal(0, 1, 100))
        with pytest.raises(ValueError, match="constant"):
            drift.psi_test(value_df_factory(np.ones(100)), prod, "value")
        with pytest.raises(ValueError, match="empty after removing"):
            drift.psi_test(value_df_factory([np.nan, np.nan]), prod, "value")
        with pytest.raises(ValueError, match="empty after removing"):
            drift.psi_test(prod, value_df_factory([np.nan]), "value")

    # -- plan equivalence: collect vs over-cap (cap 0) vs overflow (cap 10) --

    _PLAN_FNS = {
        "psi": "psi_test_grouped",
        "ks": "ks_test_grouped",
        "w1": "wasserstein_test_grouped",
    }
    _EMPTY_REF = {
        "psi": "Reference dataset is empty after removing NaN/inf",
        "ks": "Reference dataset contains only NaN/inf values",
        "w1": "empty side after removing NaN/inf",
    }
    _EMPTY_PROD = {
        "psi": "Production dataset is empty after removing NaN/inf",
        "ks": "Production dataset contains only NaN/inf values",
        "w1": "empty side after removing NaN/inf",
    }

    @pytest.fixture(scope="class")
    def plan_runs(self, spark):
        """Every (test, grouping, cap) run once, frames sorted by group."""
        from aumos_drift_detector_spark.config import EngineConfig

        rng = np.random.default_rng(42)
        mass = np.concatenate([np.full(60, 7.0), rng.integers(0, 20, 40)])
        groups = {
            # integer ties sitting on PSI edges
            "ties": (rng.integers(0, 12, 300), rng.integers(1, 14, 250)),
            # two-decimal prices, like lineitem's: edges cut by Spark's
            # percentile differ from the lerp in the last bits here
            "cont": (
                np.round(rng.lognormal(3, 1, 200) * 1.037, 2),
                np.round(rng.lognormal(3.1, 1, 150), 2),
            ),
            "orphan": (np.array([]), rng.normal(0, 1, 40)),
            "const": (np.full(30, 5.0), rng.normal(5, 1, 30)),
            "nanprod": (rng.normal(0, 1, 40), np.full(10, np.nan)),
            None: (rng.normal(0, 1, 60), rng.normal(0.5, 1, 50)),
            # >= 50% of the mass on one value: IQR 0, W1 std fallback
            "mass": (mass, rng.integers(0, 20, 80)),
        }

        def frame(rows):
            return spark.createDataFrame(
                [(g, float(x)) for g, xs in rows for x in xs], "g string, value double"
            )

        pairs = {
            "grouped": [(
                frame([(g, ref) for g, (ref, _) in groups.items()]),
                frame([(g, prod) for g, (_, prod) in groups.items()]),
                groups,
            )],
            "ungrouped": [
                (frame([(None, ref)]), frame([(None, prod)]), {None: (ref, prod)})
                for ref, prod in [
                    (np.concatenate([mass, groups["ties"][0]]), groups["ties"][1]),
                    (np.full(5, np.nan), groups["ties"][1]),
                ]
            ],
        }
        cache = {}

        def run(test, grouping, cap):
            if (test, grouping, cap) not in cache:
                cfg = EngineConfig() if cap is None else EngineConfig(
                    sketch_collect_max_rows=cap
                )
                fn = getattr(drift, self._PLAN_FNS[test])
                out = []
                for ref, prod, arrays in pairs[grouping]:
                    by = ("g",) if grouping == "grouped" else ()
                    f = fn(ref, prod, "value", by, config=cfg)
                    keys = list(f["g"]) if by else [None] * len(f)
                    f = f.assign(_key=[str(k) for k in keys], _arr=[arrays[k] for k in keys])
                    out.append(f.sort_values("_key").reset_index(drop=True))
                cache[test, grouping, cap] = out
            return cache[test, grouping, cap]

        return run

    def _check_oracle(self, test, frame):
        """Default cap: each row against numpy on the expanded arrays."""
        for _, r in frame.iterrows():
            ref, prod = (a[np.isfinite(a)] for a in r["_arr"])
            if ref.size == 0:
                assert r["error"] == self._EMPTY_REF[test]
            elif test == "psi" and np.unique(ref).size == 1:
                assert "constant" in r["error"]
            elif prod.size == 0:
                assert r["error"] == self._EMPTY_PROD[test]
            elif test == "psi":
                want = np.percentile(ref, np.linspace(0, 100, 11))
                assert r["details"]["bin_edges"] == pytest.approx(want.tolist(), rel=1e-12)
            else:
                allv = np.unique(np.concatenate([ref, prod]))
                gap = np.abs(
                    np.searchsorted(np.sort(ref), allv, side="right") / ref.size
                    - np.searchsorted(np.sort(prod), allv, side="right") / prod.size
                )
                if test == "ks":
                    assert r["details"]["statistic"] == pytest.approx(gap.max(), abs=1e-12)
                else:
                    w1 = float(np.sum(gap[:-1] * np.diff(allv)))
                    q25, q75 = np.percentile(ref, [25, 75])
                    iqr = q75 - q25 if q75 - q25 >= 1e-10 else (np.std(ref) or 1.0)
                    assert r["details"]["raw_distance"] == pytest.approx(w1, rel=1e-12)
                    assert r["details"]["iqr"] == pytest.approx(iqr, rel=1e-12)

    def test_overcap_psi_null_int_group_key_without_arrow(self, spark):
        """The over-cap edge table must carry a NULL integer group key
        with Arrow off too (pandas would turn the key column into float
        NaN, which IntegerType rejects)."""
        from aumos_drift_detector_spark.config import EngineConfig

        rng = np.random.default_rng(1)
        rows = [(g, float(x)) for g in (1, None) for x in rng.integers(0, 30, 100)]
        ref = spark.createDataFrame(rows, "g int, value double")
        prod = spark.createDataFrame([(g, v + 1.5) for g, v in rows], "g int, value double")
        key = "spark.sql.execution.arrow.pyspark.enabled"
        old = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            slow = drift.psi_test_grouped(
                ref, prod, "value", ("g",), config=EngineConfig(sketch_collect_max_rows=0)
            )
        finally:
            spark.conf.set(key, old)
        fast = drift.psi_test_grouped(ref, prod, "value", ("g",))
        assert sorted(zip(slow["g"].astype(str), slow["score"])) == sorted(
            zip(fast["g"].astype(str), fast["score"])
        )

    @staticmethod
    def _verdict_rows(frame):
        """(drifted, sizes, score, p-value, edges, W1 details) of ok rows."""
        return [
            (
                r["is_drifted"], r["reference_size"], r["production_size"],
                r["score"], None if pd.isna(r["p_value"]) else r["p_value"],
                r["details"].get("bin_edges"),
                r["details"].get("raw_distance"), r["details"].get("iqr"),
            )
            for _, r in frame[frame["error"].isna()].iterrows()
        ]

    @pytest.mark.parametrize("cap", [None, 0, 10], ids=["default_cap", "cap0", "cap10"])
    @pytest.mark.parametrize("grouping", ["grouped", "ungrouped"])
    @pytest.mark.parametrize("test", ["psi", "ks", "w1"])
    def test_plan_equivalence_matrix(self, plan_runs, test, grouping, cap):
        """Collect plan, over-cap plan and cap overflow give identical
        verdicts: PSI score/edges and KS score/p-value bitwise, W1 to 1e-12,
        the same groups (NULL key and orphan included) and error strings."""
        for got, want in zip(plan_runs(test, grouping, cap), plan_runs(test, grouping, None)):
            if cap is None:
                self._check_oracle(test, got)
                continue
            assert list(got["_key"]) == list(want["_key"])
            assert list(got["error"]) == list(want["error"])
            g, w = self._verdict_rows(got), self._verdict_rows(want)
            if test != "w1":
                assert g == w
                continue
            assert [r[:3] for r in g] == [r[:3] for r in w]
            assert [x for r in g for x in (r[3], r[6], r[7])] == pytest.approx(
                [x for r in w for x in (r[3], r[6], r[7])], rel=1e-12
            )


class TestThousandGroupScale:
    """Guards the r5 vectorization of the driver-side sketch kernels: one
    pandas hash-groupby pass (O(sketch_rows)) instead of per-key re-masking
    of the full collected sketch (O(groups x sketch_rows)). A 10k-partition
    run near the 2M sketch cap must stay driver-feasible at 100x partition
    counts."""

    N_GROUPS = 1000
    VALS_PER_GROUP = 60

    def _sketch(self, n_groups: int, seed: int = 7) -> pd.DataFrame:
        """Synthetic per-value sketch: n_groups, VALS_PER_GROUP distinct
        values each, production shifted on even-numbered groups."""
        rng = np.random.default_rng(seed)
        g = np.repeat(np.arange(n_groups), self.VALS_PER_GROUP)
        v = np.tile(np.arange(self.VALS_PER_GROUP, dtype=np.float64), n_groups)
        c_ref = rng.integers(1, 50, g.size).astype(np.int64)
        shift = (g % 2 == 0) & (v < 20)
        c_prod = np.where(
            shift, rng.integers(200, 400, g.size), rng.integers(1, 50, g.size)
        ).astype(np.int64)
        return pd.DataFrame(
            {"g": np.char.add("p", g.astype(str)), "v": v,
             "c_ref": c_ref, "c_prod": c_prod}
        )

    def test_fused_kernel_1000_groups_parity_and_linear_cost(self):
        import time

        sketch = self._sketch(self.N_GROUPS)
        # min-of-2: the first call pays pandas/numpy warmup and is exposed to
        # external load bursts; one clean repeat keeps the ratio assertion
        # about algorithmic cost, not scheduler noise
        wall_1000 = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            fused = drift._verdicts_from_sketch(sketch, ("g",), "x", DEFAULT_CONFIG, ALL_TESTS)
            wall_1000 = min(wall_1000, time.monotonic() - t0)
        for name in ("psi", "ks", "js", "w1"):
            frame = fused[name]
            assert len(frame) == self.N_GROUPS, name
            assert frame["error"].isna().all(), name
        # drifted groups (even ids) must be hotter than undrifted ones
        # (PSI score is a magnitude; the KS frame's score is its p-value)
        psi = fused["psi"].set_index("g")
        even = [f"p{i}" for i in range(0, 40, 2)]
        odd = [f"p{i}" for i in range(1, 40, 2)]
        assert psi.loc[even, "score"].mean() > 3 * psi.loc[odd, "score"].mean()

        # parity: every sampled group's fused verdict == standalone kernel
        # run on just that group's rows with group_cols=()
        rng = np.random.default_rng(0)
        for gi in rng.choice(self.N_GROUPS, 8, replace=False):
            gname = f"p{gi}"
            sub = sketch[sketch["g"] == gname].drop(columns=["g"])
            single = drift._verdicts_from_sketch(sub, (), "x", DEFAULT_CONFIG, ALL_TESTS)
            for name in ("psi", "ks", "js", "w1"):
                got = fused[name].set_index("g").loc[gname]
                want = single[name].iloc[0]
                assert got["score"] == pytest.approx(want["score"], rel=0, abs=0), (
                    name, gname)
                assert got["is_drifted"] == want["is_drifted"], (name, gname)

        # driver cost is ~linear in sketch rows: 4x the groups on the same
        # per-group size must cost well under the quadratic 16x (generous
        # 10x bound absorbs CI noise)
        quarter = self._sketch(self.N_GROUPS // 4)
        wall_250 = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            drift._verdicts_from_sketch(quarter, ("g",), "x", DEFAULT_CONFIG, ALL_TESTS)
            wall_250 = min(wall_250, time.monotonic() - t0)
        assert wall_1000 < 10 * max(wall_250, 1e-3), (wall_1000, wall_250)
        assert wall_1000 < 30.0  # absolute sanity bound

    def test_grouped_operators_1000_groups_match_standalone(self, spark):
        """End-to-end: psi/ks/w1_test_grouped at 1000 groups through the
        adaptive sketch-collect path agree with per-group standalone calls
        on a seeded sample of groups."""
        rng = np.random.default_rng(21)
        n = self.N_GROUPS * 40
        g = rng.integers(0, self.N_GROUPS, n)
        pdf_ref = pd.DataFrame(
            {"g": np.char.add("p", g.astype(str)),
             "value": rng.integers(0, 50, n).astype(float)}
        )
        g2 = rng.integers(0, self.N_GROUPS, n)
        drifted = (g2 % 2 == 0)
        pdf_prod = pd.DataFrame(
            {"g": np.char.add("p", g2.astype(str)),
             "value": (rng.integers(0, 50, n) + np.where(drifted, 15, 0)).astype(float)}
        )
        ref, prod = spark.createDataFrame(pdf_ref), spark.createDataFrame(pdf_prod)
        psi = drift.psi_test_grouped(ref, prod, "value", ("g",)).set_index("g")
        ks = drift.ks_test_grouped(ref, prod, "value", ("g",)).set_index("g")
        w1 = drift.wasserstein_test_grouped(ref, prod, "value", ("g",)).set_index("g")
        assert len(psi) == len(ks) == len(w1) == self.N_GROUPS

        from pyspark.sql import functions as F

        for gi in np.random.default_rng(1).choice(self.N_GROUPS, 5, replace=False):
            gname = f"p{gi}"
            r1 = ref.where(F.col("g") == gname)
            p1 = prod.where(F.col("g") == gname)
            sp = drift.psi_test(r1, p1, "value")
            sk = drift.ks_test(r1, p1, "value")
            sw = drift.wasserstein_test(r1, p1, "value")
            assert psi.loc[gname, "score"] == pytest.approx(sp.score, rel=0, abs=0)
            assert ks.loc[gname, "score"] == pytest.approx(sk.score, rel=0, abs=0)
            assert w1.loc[gname, "score"] == pytest.approx(sw.score, rel=0, abs=0)
            assert ks.loc[gname, "p_value"] == pytest.approx(sk.p_value, rel=0, abs=0)
