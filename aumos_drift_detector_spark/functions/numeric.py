"""Scipy-free special-function math for drift-test p-values.

The sandbox has no scipy, so the p-value machinery the reference delegates to
``scipy.stats`` (see reference ks_test.py:133, chi_squared.py:160) is
implemented here from the published formulas:

- Kolmogorov distribution survival function (asymptotic two-sample KS p-value),
  using the classic alternating series with the Stephens small-sample
  correction (Numerical Recipes §14.3; Stephens 1970).
- Regularized incomplete gamma Q(a, x) for the chi-squared survival function,
  via the standard series / continued-fraction split (Numerical Recipes §6.2,
  Lentz's algorithm).

Everything here operates on driver-side scalars or k-element sketch arrays —
never on row-scale data.
"""

from __future__ import annotations

import math

_MAX_SERIES_TERMS = 101
_GAMMA_ITMAX = 200
_GAMMA_EPS = 3.0e-12
_GAMMA_FPMIN = 1.0e-300


def kolmogorov_sf(lam: float) -> float:
    """Survival function of the Kolmogorov distribution.

    Q_KS(lambda) = 2 * sum_{k>=1} (-1)^{k-1} exp(-2 k^2 lambda^2)

    Args:
        lam: The scaled KS statistic (lambda >= 0).

    Returns:
        P(K > lam), clamped to [0, 1].
    """
    # also catches subnormal lam where lam*lam underflows to exactly 0
    # (found by hypothesis: lam ~ 1e-308 -> ZeroDivisionError in the theta
    # series); SF at +0 is 1 regardless
    if lam <= 0.0 or lam * lam == 0.0:
        return 1.0
    if lam >= 8.0:  # exp(-128) underflows to ~0
        return 0.0
    if lam < 0.3:
        # Alternating series converges too slowly; use the dual Jacobi
        # theta-function form: P(K <= lam) = (sqrt(2*pi)/lam) *
        # sum_{k>=1} exp(-(2k-1)^2 pi^2 / (8 lam^2))
        cdf = 0.0
        for k in range(1, _MAX_SERIES_TERMS):
            term = math.exp(-((2 * k - 1) ** 2) * math.pi**2 / (8.0 * lam * lam))
            cdf += term
            if term < 1e-200:
                break
        cdf *= math.sqrt(2.0 * math.pi) / lam
        return min(1.0, max(0.0, 1.0 - cdf))
    total = 0.0
    for k in range(1, _MAX_SERIES_TERMS):
        term = 2.0 * (-1.0) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
        total += term
        if abs(term) < 1e-12 * abs(total) or abs(term) < 1e-200:
            break
    return min(1.0, max(0.0, total))


# scipy.stats.ks_2samp method='auto' switches to the exact distribution when
# max(n, m) <= 10000 (its MAX_AUTO_N); mirror that cutoff for parity
KS_EXACT_MAX_N = 10_000


def ks_2samp_exact_sf(d: float, n: int, m: int) -> float:
    """Exact two-sided P(D >= d) for the two-sample KS statistic.

    Lattice path counting (Hodges 1957, the 'inside method' scipy's exact
    mode implements): monotone paths (0,0)->(n,m) staying strictly inside
    |i/n - j/m| < d correspond to samples with D < d; the p-value is
    1 - inside/C(n+m, n). The band test uses integer arithmetic
    (|i*m - j*n| < round(d*n*m)) so float noise in d cannot shift the band —
    valid because D from two ECDFs is always a multiple of 1/lcm(n, m).
    Row updates are masked cumulative sums (numpy, O(n*m) total) with 2^-512
    renormalization against overflow; the final ratio runs in log space.

    Assumes continuous data (no ties) exactly as scipy's exact mode does.
    """
    import numpy as np

    if d <= 0.0:
        return 1.0
    h = int(round(d * n * m))
    if h > n * m:
        h = n * m
    # A[j] = (scaled) number of inside paths reaching (i, j)
    a = np.zeros(m + 1, dtype=np.float64)
    a[0] = 1.0
    # row i = 0: (0, j) inside iff j*n < h
    j_hi0 = min((h - 1) // n, m)
    a[1 : j_hi0 + 1] = 1.0
    scale_log = 0.0
    prev_lo = 0
    for i in range(1, n + 1):
        # inside interval for row i: |i*m - j*n| < h
        lo = (i * m - h) // n + 1  # smallest j with i*m - j*n < h
        lo = max(lo, 0)
        hi = min((i * m + h - 1) // n, m)  # largest j with j*n - i*m < h
        if lo > hi:
            return 1.0  # band empty: no sample can have D < d
        # the band only moves right: clear what left it, then accumulate in
        # place (entries above the previous hi are still zero)
        a[prev_lo:lo] = 0.0
        prev_lo = lo
        seg = a[lo : hi + 1]
        np.cumsum(seg, out=seg)
        if seg[-1] > 1e280:
            a *= 2.0**-512
            scale_log += 512.0 * math.log(2.0)
    inside = a[m]
    if inside <= 0.0:
        return 1.0
    log_total = (
        math.lgamma(n + m + 1) - math.lgamma(n + 1) - math.lgamma(m + 1)
    )
    log_inside = math.log(inside) + scale_log - log_total
    if log_inside >= 0.0:
        return 0.0
    return min(1.0, max(0.0, -math.expm1(log_inside)))


def ks_2samp_pvalue(d: float, n: int, m: int, method: str = "auto") -> float:
    """Two-sided p-value for the two-sample KS statistic.

    ``method='auto'`` follows the reference's scipy.stats.ks_2samp default:
    the EXACT two-sample distribution when max(n, m) <= 10000
    (``ks_2samp_exact_sf``), else the asymptotic Kolmogorov survival function
    with the Stephens correction lambda = (sqrt(en) + 0.12 + 0.11/sqrt(en))*D,
    en = n*m/(n+m). The asymptotic branch is formula-parity with the DuckDB
    oracle (which re-implements the same series), not scipy-parity; its error
    vs exact is O(1/sqrt(n)) — irrelevant to 0.05-threshold verdicts at the
    sizes where it is used.

    Args:
        d: KS statistic (max ECDF difference), in [0, 1].
        n: Reference sample size (post NaN-drop).
        m: Production sample size (post NaN-drop).
        method: 'auto' | 'exact' | 'asymp'.

    Returns:
        Two-sided p-value in [0, 1].
    """
    if n <= 0 or m <= 0:
        raise ValueError("sample sizes must be positive")
    if method == "auto":
        method = "exact" if max(n, m) <= KS_EXACT_MAX_N else "asymp"
    if method == "exact":
        return ks_2samp_exact_sf(d, n, m)
    en = math.sqrt(n * m / (n + m))
    lam = (en + 0.12 + 0.11 / en) * d
    return kolmogorov_sf(lam)


def _gamma_p_series(a: float, x: float) -> float:
    """Lower regularized incomplete gamma P(a, x) by series expansion (x < a+1)."""
    if x <= 0.0:
        return 0.0
    ap = a
    total = 1.0 / a
    delta = total
    for _ in range(_GAMMA_ITMAX):
        ap += 1.0
        delta *= x / ap
        total += delta
        if abs(delta) < abs(total) * _GAMMA_EPS:
            break
    return total * math.exp(-x + a * math.log(x) - math.lgamma(a))


def _gamma_q_contfrac(a: float, x: float) -> float:
    """Upper regularized incomplete gamma Q(a, x) by continued fraction (x >= a+1)."""
    b = x + 1.0 - a
    c = 1.0 / _GAMMA_FPMIN
    d = 1.0 / b
    h = d
    for i in range(1, _GAMMA_ITMAX + 1):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < _GAMMA_FPMIN:
            d = _GAMMA_FPMIN
        c = b + an / c
        if abs(c) < _GAMMA_FPMIN:
            c = _GAMMA_FPMIN
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < _GAMMA_EPS:
            break
    return math.exp(-x + a * math.log(x) - math.lgamma(a)) * h


def regularized_gamma_q(a: float, x: float) -> float:
    """Upper regularized incomplete gamma function Q(a, x) = 1 - P(a, x).

    Args:
        a: Shape parameter (> 0).
        x: Lower integration limit (>= 0).

    Returns:
        Q(a, x) in [0, 1].
    """
    if a <= 0.0:
        raise ValueError("a must be positive")
    if x < 0.0:
        raise ValueError("x must be non-negative")
    if x == 0.0:
        return 1.0
    if x < a + 1.0:
        return min(1.0, max(0.0, 1.0 - _gamma_p_series(a, x)))
    return min(1.0, max(0.0, _gamma_q_contfrac(a, x)))


def chi2_sf(statistic: float, dof: int) -> float:
    """Chi-squared survival function P(X^2 > statistic) with `dof` degrees.

    Equals Q(dof/2, statistic/2). Replaces ``scipy.stats.chisquare`` p-value
    (reference chi_squared.py:160).

    Args:
        statistic: Chi-squared statistic (>= 0).
        dof: Degrees of freedom (>= 1).

    Returns:
        p-value in [0, 1].
    """
    if dof < 1:
        raise ValueError("dof must be >= 1")
    if statistic < 0:
        raise ValueError("statistic must be non-negative")
    return regularized_gamma_q(dof / 2.0, statistic / 2.0)


# --- Anderson-Darling k-sample (k=2) normalization & significance ----------
# Scholz & Stephens (1987), "K-Sample Anderson-Darling Tests", JASA 82(399).
# Matches scipy.stats.anderson_ksamp's midrank variant: the caller supplies
# the raw A2akN statistic (computed distributed from per-value counts); this
# normalizes it and interpolates the significance level from the published
# critical-value surface tm(m) = b0 + b1/sqrt(m) + b2/m.

_AD_SIG = [0.25, 0.10, 0.05, 0.025, 0.01, 0.005, 0.001]
_AD_B0 = [0.675, 1.281, 1.645, 1.960, 2.326, 2.573, 3.085]
_AD_B1 = [-0.245, 0.250, 0.678, 1.149, 1.822, 2.364, 3.615]
_AD_B2 = [-0.105, -0.305, -0.481, -0.687, -0.775, -1.149, -1.822]


def anderson_darling_significance(a2akn: float, n_samples: list[int]) -> tuple[float, float]:
    """Normalize A2akN and return (T_k, significance_level in [0.001, 0.25]).

    Harmonic-sum identities make g O(N) instead of the textbook O(N^2).
    """
    import numpy as np

    k = len(n_samples)
    n_total = int(sum(n_samples))
    if k < 2 or n_total < 4:
        raise ValueError("need k>=2 samples and N>=4")
    big_h = sum(1.0 / n for n in n_samples)
    # h = sum_{i=1}^{N-1} 1/i
    inv = 1.0 / np.arange(1, n_total, dtype=np.float64)
    h = float(inv.sum())
    # g = sum_{i=1}^{N-2} (1/(N-i)) * (H_{N-1} - H_i)
    cumh = np.cumsum(inv)  # H_1..H_{N-1}
    i_arr = np.arange(1, n_total - 1, dtype=np.int64)  # i = 1..N-2
    g = float(np.sum((cumh[-1] - cumh[i_arr - 1]) / (n_total - i_arr)))

    a = (4.0 * g - 6.0) * (k - 1) + (10.0 - 6.0 * g) * big_h
    b = (2.0 * g - 4.0) * k**2 + 8.0 * h * k + (2.0 * g - 14.0 * h - 4.0) * big_h - 8.0 * h + 4.0 * g - 6.0
    c = (6.0 * h + 2.0 * g - 2.0) * k**2 + (4.0 * h - 4.0 * g + 6.0) * k + (2.0 * h - 6.0) * big_h + 4.0 * h
    d = (2.0 * h + 6.0) * k**2 - 4.0 * h * k
    sigma_sq = (a * n_total**3 + b * n_total**2 + c * n_total + d) / (
        (n_total - 1.0) * (n_total - 2.0) * (n_total - 3.0)
    )
    m = k - 1
    tk = (a2akn - m) / math.sqrt(max(sigma_sq, 1e-300))

    crit = [
        b0 + b1 / math.sqrt(m) + b2 / m
        for b0, b1, b2 in zip(_AD_B0, _AD_B1, _AD_B2)
    ]
    # scipy: quadratic fit of log(sig) over critical values, clipped
    coeffs = np.polyfit(crit, np.log(np.asarray(_AD_SIG)), 2)
    if tk < crit[0]:
        sig = 0.25
    elif tk > crit[-1]:
        sig = 0.001
    else:
        sig = float(math.exp(np.polyval(coeffs, tk)))
        sig = min(0.25, max(0.001, sig))
    return tk, sig
