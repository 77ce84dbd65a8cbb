"""Tests for scipy-free special functions against known values.

Expected values are published tables / scipy-documented results:
- Kolmogorov SF: Q(1.36) ~ 0.049 (the classic 5% critical value)
- chi2 SF spot values from standard chi-squared tables.
"""

import itertools
import math

import pytest

from aumos_drift_detector_spark.functions.numeric import (
    chi2_sf,
    kolmogorov_sf,
    ks_2samp_exact_sf,
    ks_2samp_pvalue,
    regularized_gamma_q,
)


class TestKolmogorovSF:
    def test_classic_critical_value(self):
        # lambda=1.358 is the 5% two-sided critical value
        assert abs(kolmogorov_sf(1.358) - 0.05) < 2e-3

    def test_bounds(self):
        assert kolmogorov_sf(0.0) == 1.0
        assert kolmogorov_sf(1e-9) == 1.0 or kolmogorov_sf(1e-9) > 0.999
        assert kolmogorov_sf(10.0) == 0.0

    def test_monotone_decreasing(self):
        vals = [kolmogorov_sf(x / 10) for x in range(1, 40)]
        assert all(a >= b for a, b in zip(vals, vals[1:]))

    def test_known_points(self):
        # Q(0.5)=0.9639, Q(1.0)=0.2700, Q(1.5)=0.0222, Q(2.0)=0.00067
        assert abs(kolmogorov_sf(0.5) - 0.9639) < 1e-3
        assert abs(kolmogorov_sf(1.0) - 0.2700) < 1e-3
        assert abs(kolmogorov_sf(1.5) - 0.0222) < 1e-3
        assert abs(kolmogorov_sf(2.0) - 0.00067) < 1e-4


class TestKs2SampPvalue:
    def test_identical_high_p(self):
        assert ks_2samp_pvalue(0.01, 1000, 1000) > 0.5

    def test_large_d_small_p(self):
        assert ks_2samp_pvalue(0.99, 1000, 1000) < 1e-6

    def test_scipy_reference_point(self):
        # asymptotic: D=0.05, n=m=1000 -> lambda ~ 1.124 -> p ~ 0.16
        p = ks_2samp_pvalue(0.05, 1000, 1000)
        assert 0.10 < p < 0.25
        # D=0.1 at n=m=1000 is highly significant
        assert ks_2samp_pvalue(0.1, 1000, 1000) < 0.001

    def test_invalid_sizes(self):
        with pytest.raises(ValueError):
            ks_2samp_pvalue(0.1, 0, 10)


class TestChi2SF:
    @pytest.mark.parametrize(
        "x,dof,expected",
        [
            (3.841, 1, 0.05),   # chi2 table: 95th pct, dof=1
            (5.991, 2, 0.05),   # dof=2
            (7.815, 3, 0.05),   # dof=3
            (16.919, 9, 0.05),  # dof=9
            (2.706, 1, 0.10),
            (6.635, 1, 0.01),
            (0.0, 5, 1.0),
        ],
    )
    def test_table_values(self, x, dof, expected):
        assert abs(chi2_sf(x, dof) - expected) < 1.5e-3

    def test_monotone(self):
        vals = [chi2_sf(x, 4) for x in range(0, 40)]
        assert all(a >= b for a, b in zip(vals, vals[1:]))

    def test_invalid(self):
        with pytest.raises(ValueError):
            chi2_sf(-1.0, 3)
        with pytest.raises(ValueError):
            chi2_sf(1.0, 0)


class TestRegularizedGammaQ:
    def test_exponential_special_case(self):
        # Q(1, x) = exp(-x)
        for x in (0.1, 1.0, 3.0, 10.0):
            assert abs(regularized_gamma_q(1.0, x) - math.exp(-x)) < 1e-10

    def test_half_integer(self):
        # Q(0.5, x) = erfc(sqrt(x))
        for x in (0.25, 1.0, 4.0):
            assert abs(regularized_gamma_q(0.5, x) - math.erfc(math.sqrt(x))) < 1e-9


class TestExactKs:
    def _brute_force(self, n, m, d):
        """P(D >= d) by enumerating all C(n+m, n) orderings."""
        total = 0
        ge = 0
        for combo in itertools.combinations(range(n + m), n):
            xs = set(combo)
            i = j = 0
            dmax = 0.0
            for pos in range(n + m):
                if pos in xs:
                    i += 1
                else:
                    j += 1
                dmax = max(dmax, abs(i / n - j / m))
            total += 1
            if dmax >= d - 1e-12:
                ge += 1
        return ge / total

    @pytest.mark.parametrize(
        "n,m", [(4, 4), (5, 3), (6, 6), (7, 2)]
    )
    def test_matches_brute_force(self, n, m):
        import math as _math

        lcm = n * m // _math.gcd(n, m)
        for k in range(1, lcm + 1):
            d = k / lcm
            got = ks_2samp_exact_sf(d, n, m)
            want = self._brute_force(n, m, d)
            assert got == pytest.approx(want, abs=1e-12), (n, m, d)

    def test_degenerate(self):
        assert ks_2samp_exact_sf(0.0, 10, 10) == 1.0
        assert ks_2samp_exact_sf(1.0, 1, 1) == 1.0  # D is always 1 at n=m=1

    def test_auto_switches_at_scipy_cutoff(self):
        # exact and asymptotic agree to ~1e-3 at n=1000 but are not identical
        d, n = 0.05, 1000
        exact = ks_2samp_pvalue(d, n, n, method="exact")
        asymp = ks_2samp_pvalue(d, n, n, method="asymp")
        auto = ks_2samp_pvalue(d, n, n)
        assert auto == exact
        assert abs(exact - asymp) < 5e-3
        big = ks_2samp_pvalue(d, 20000, 20000)
        assert big == ks_2samp_pvalue(d, 20000, 20000, method="asymp")

    def test_large_n_no_overflow(self):
        # 5000x5000 lattice: counts ~ C(10000,5000) >> float range; the
        # renormalized DP must still produce a sane probability
        p_small_d = ks_2samp_pvalue(0.01, 5000, 5000, method="exact")
        p_big_d = ks_2samp_pvalue(0.1, 5000, 5000, method="exact")
        assert 0.9 < p_small_d <= 1.0
        assert 0.0 <= p_big_d < 1e-15
