"""Property-based tests (hypothesis) for the pure-numpy statistical kernels.

No Spark: these pin the mathematical invariants of the driver-side kernels —
bounds, symmetry, permutation behavior, monotonicity, and exact-vs-asymptotic
consistency — over randomized inputs, complementing the fixed-value parity
tests.
"""

import math

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from aumos_drift_detector_spark.functions.kernels import (
    hellinger_from_counts,
    js_from_counts,
    psi_from_counts,
)
from aumos_drift_detector_spark.functions.numeric import (
    chi2_sf,
    kolmogorov_sf,
    ks_2samp_exact_sf,
    ks_2samp_pvalue,
)
from aumos_drift_detector_spark.operators.drift import _weighted_percentiles
from aumos_drift_detector_spark.operators.estimation import _pav_isotonic

counts = st.lists(st.integers(0, 10_000), min_size=2, max_size=40)


def _nonzero(c):
    return sum(c) > 0


@settings(max_examples=200, deadline=None)
@given(counts.filter(_nonzero), counts.filter(_nonzero))
def test_js_hellinger_bounds_and_symmetry(rc, pc):
    if len(rc) != len(pc):
        n = min(len(rc), len(pc))
        rc, pc = rc[:n], pc[:n]
    if not (sum(rc) and sum(pc)):
        return
    js_ab = js_from_counts(rc, pc).score
    js_ba = js_from_counts(pc, rc).score
    he_ab = hellinger_from_counts(rc, pc).score
    assert 0.0 <= js_ab <= math.sqrt(math.log(2)) + 1e-9
    assert 0.0 <= he_ab <= 1.0 + 1e-9
    assert js_ab == pytest.approx(js_ba, abs=1e-12)  # symmetric
    assert hellinger_from_counts(pc, rc).score == pytest.approx(he_ab, abs=1e-12)
    # identical distributions score ~0
    assert js_from_counts(rc, rc).score < 1e-6
    assert hellinger_from_counts(rc, rc).score < 1e-6


@settings(max_examples=150, deadline=None)
@given(st.lists(st.integers(1, 5_000), min_size=2, max_size=20))
def test_psi_identical_is_zero_and_nonnegative(rc):
    assert psi_from_counts(rc, rc).score == pytest.approx(0.0, abs=1e-12)
    # scaling production counts uniformly changes nothing (fractions)
    assert psi_from_counts(rc, [c * 3 for c in rc]).score == pytest.approx(
        0.0, abs=1e-12
    )


@settings(max_examples=100, deadline=None)
@given(
    st.floats(0.0, 1.0),
    st.integers(2, 80),
    st.integers(2, 80),
)
def test_exact_ks_is_a_probability_and_monotone_in_d(d, n, m):
    p = ks_2samp_exact_sf(d, n, m)
    assert 0.0 <= p <= 1.0
    p_bigger = ks_2samp_exact_sf(min(1.0, d + 0.2), n, m)
    assert p_bigger <= p + 1e-12  # larger D never more likely


@settings(max_examples=60, deadline=None)
@given(st.integers(800, 3000), st.floats(0.02, 0.2))
@example(n=800, d=0.0390625)  # measured worst case: |exact - asymp| = 0.0224
def test_exact_matches_asymptotic_at_moderate_n(n, d):
    exact = ks_2samp_pvalue(d, n, n, method="exact")
    asymp = ks_2samp_pvalue(d, n, n, method="asymp")
    # The Stephens-corrected asymptotic genuinely deviates from the exact
    # lattice DP by up to ~0.0224 in the (n≈800, d≈0.04) corner (both sides
    # independently verified in the round-2 audit); 3e-2 bounds the true gap.
    assert abs(exact - asymp) < 3e-2


@settings(max_examples=100, deadline=None)
@given(st.floats(0.0, 10.0))
def test_kolmogorov_sf_bounds(lam):
    p = kolmogorov_sf(lam)
    assert 0.0 <= p <= 1.0


@settings(max_examples=100, deadline=None)
@given(st.floats(0.0, 500.0), st.integers(1, 50))
def test_chi2_sf_bounds_and_monotone(stat, dof):
    p = chi2_sf(stat, dof)
    assert 0.0 <= p <= 1.0
    assert chi2_sf(stat + 10.0, dof) <= p + 1e-12


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(1, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_pav_monotone_and_mass_preserving(pairs):
    # pairs: (successes_scaled, weight); success_sum <= weight enforced below
    x = np.arange(len(pairs), dtype=np.float64)
    w = np.array([p[1] for p in pairs], dtype=np.float64)
    y = np.array([min(p[0], p[1]) for p in pairs], dtype=np.float64)
    fit = _pav_isotonic(x, y, w)
    assert (np.diff(fit) >= -1e-12).all()          # isotonic
    assert np.dot(fit, w) == pytest.approx(y.sum())  # weighted mass preserved
    assert (fit >= -1e-12).all() and (fit <= 1 + 1e-12).all()


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(1, 20), min_size=1, max_size=50),
    st.randoms(use_true_random=False),
)
def test_weighted_percentiles_match_numpy_expansion(cnts, rnd):
    vals = np.sort(
        np.array(sorted(rnd.sample(range(1000), len(cnts))), dtype=np.float64)
    )
    c = np.array(cnts, dtype=np.int64)
    probs = np.array([0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0])
    got = _weighted_percentiles(vals, c, probs)
    expanded = np.repeat(vals, c)
    want = np.percentile(expanded, probs * 100)
    assert got == pytest.approx(want.tolist(), abs=1e-9)


# ---------------------------------------------------------------------------
# Distributed prefix-sum AUC vs midrank oracle (round-4 directive: the r3
# chunk-id determinism bug was caught by review, not tests — this pins the
# midrank identity under adversarial tie distributions). Spark is involved,
# so each hypothesis example carries a BATCH of up to 8 independent groups
# through ONE job: 25 examples x 8 groups ≈ 200 adversarial distributions
# at ~25 Spark jobs of cost.
# ---------------------------------------------------------------------------

_auc_group = st.tuples(
    st.lists(st.integers(0, 3), min_size=1, max_size=30),  # score codes (ties!)
    st.lists(st.integers(0, 1), min_size=1, max_size=30),  # labels
)


@settings(max_examples=25, deadline=None)
@example([([0, 0, 0, 0], [1, 1, 0, 0])])          # single distinct score
@example([([1, 1, 1], [1, 1, 1])])                # all-positive group
@example([([2, 2, 2], [0, 0, 0])])                # all-negative group
@example([([0, 1, 0, 1, 0, 1], [0, 1, 1, 0, 1, 0]), ([3], [1])])
@given(st.lists(_auc_group, min_size=1, max_size=8))
def test_prefix_sum_auc_matches_midrank_oracle(spark, groups):
    import pandas as pd

    from aumos_drift_detector_spark.operators.perfmon import auc_binary

    rows = []
    for gi, (codes, labels) in enumerate(groups):
        n = min(len(codes), len(labels))
        for c, l in zip(codes[:n], labels[:n]):
            rows.append((f"g{gi}", c / 4.0, float(l)))
    df = spark.createDataFrame(rows, "g string, score double, y_true double")
    got = (
        auc_binary(df, ("g",), label_col="y_true", score_col="score")
        .toPandas()
        .set_index("g")
    )
    pdf = pd.DataFrame(rows, columns=["g", "score", "y"])
    assert set(got.index) == set(pdf["g"].unique())
    for g, sub in pdf.groupby("g"):
        n_pos = int((sub["y"] == 1).sum())
        n_neg = int((sub["y"] == 0).sum())
        row = got.loc[g]
        assert int(row["n_pos"]) == n_pos and int(row["n_neg"]) == n_neg
        if n_pos == 0 or n_neg == 0:
            assert pd.isna(row["auc"])  # try_divide null, never a crash
            continue
        ranks = sub["score"].rank(method="average")
        want = (float(ranks[sub["y"] == 1].sum()) - n_pos * (n_pos + 1) / 2) / (
            n_pos * n_neg
        )
        assert float(row["auc"]) == pytest.approx(want, abs=1e-12)


# ---------------------------------------------------------------------------
# W1 sketch kernel vs expanded-multiset oracle (round-4: the adaptive plan
# puts _w1_kernel on the standalone hot path — pin it against a direct
# scipy-formula recomputation on the expanded arrays, plus invariances).
# ---------------------------------------------------------------------------

_w1_sketch = st.lists(
    st.tuples(
        st.integers(-50, 50),    # value (scaled to add ties + gaps)
        st.integers(0, 20),      # c_ref
        st.integers(0, 20),      # c_prod
    ),
    min_size=1,
    max_size=30,
)


def _w1_expanded_oracle(v, cr, cp):
    """scipy.stats.wasserstein_distance formula on the expanded multisets."""
    u = np.repeat(v, cr)
    w = np.repeat(v, cp)
    allv = np.sort(np.concatenate([u, w]))
    deltas = np.diff(allv)
    u_cdf = np.searchsorted(np.sort(u), allv[:-1], side="right") / len(u)
    w_cdf = np.searchsorted(np.sort(w), allv[:-1], side="right") / len(w)
    return float(np.sum(np.abs(u_cdf - w_cdf) * deltas))


@settings(max_examples=200, deadline=None)
@example([(0, 5, 5)])                       # single value, both sides
@example([(0, 3, 0), (1, 0, 3)])            # disjoint supports
@given(_w1_sketch)
def test_w1_kernel_matches_expanded_oracle(sketch):
    from aumos_drift_detector_spark.config import EngineConfig
    from aumos_drift_detector_spark.operators.drift import _w1_kernel

    cfg = EngineConfig(wasserstein_threshold=0.1)

    rows = sorted({s[0]: s for s in sketch}.values())  # distinct values
    v = np.array([r[0] for r in rows], dtype=np.float64) * 0.5
    cr = np.array([r[1] for r in rows], dtype=np.int64)
    cp = np.array([r[2] for r in rows], dtype=np.int64)
    verdict, err = _w1_kernel(v, cr, cp, cfg, "x")
    if cr.sum() == 0 or cp.sum() == 0:
        assert err is not None and "empty side" in err
        return
    assert err is None
    raw = verdict.details["raw_distance"]
    assert raw == pytest.approx(_w1_expanded_oracle(v, cr, cp), abs=1e-9)
    assert raw >= 0.0
    # translation invariance; positive-scale equivariance of the raw distance
    v2 = v + 17.25
    raw_shift = _w1_kernel(v2, cr, cp, cfg, "x")[0].details["raw_distance"]
    assert raw_shift == pytest.approx(raw, abs=1e-9)
    raw_scaled = _w1_kernel(v * 3.0, cr, cp, cfg, "x")[0].details["raw_distance"]
    assert raw_scaled == pytest.approx(3.0 * raw, rel=1e-9, abs=1e-9)
