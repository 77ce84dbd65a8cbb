"""Engine configuration: thresholds, binning, and the sketch-collect cap.

Default thresholds mirror the reference's settings (reference settings.py:24-56
and per-test defaults: PSI 0.2, p-value tests 0.05, JS/Hellinger/Wasserstein
0.1). The concept-drift detectors (ADWIN, DDM, EDDM) and MMD are not
configured here: they keep their own defaults.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # drift thresholds (reference defaults)
    psi_threshold: float = 0.2
    ks_threshold: float = 0.05
    # 'auto' mirrors scipy.stats.ks_2samp (exact lattice DP when
    # max(n, m) <= 10_000, else asymptotic); the exact DP is O(n*m) driver
    # work PER GROUP — grouped runs with many ~10k-row groups should set
    # 'asymp' to skip it (round-2 advisory)
    ks_pvalue_method: str = "auto"
    chi2_threshold: float = 0.05
    js_threshold: float = 0.1
    hellinger_threshold: float = 0.1
    wasserstein_threshold: float = 0.1

    # binning
    psi_bins: int = 10        # reference psi.py num_bins default
    hist_bins: int = 20       # reference baseline_manager/jensen_shannon/hellinger
    # chi-squared driver-memory guard: categories beyond the top-K (by pooled
    # count) collapse into one logged "__other__" bucket, keeping the collect
    # at O(groups x K) regardless of column cardinality
    chi2_max_categories: int = 10_000

    # physical policy
    # adaptive sketch-collect: PSI/KS/W1 build the per-value sketch once and
    # probe it with limit(cap + 1); when it fits, that probe is the collect
    # and a driver kernel finishes the test. A larger sketch means the
    # distinct-value set is data-proportional (continuous column at scale):
    # the sketch is persisted and one distributed prefix-sum ECDF over it
    # produces the same verdicts, never re-reading the raw rows. 0 disables
    # the probe (always distributed). The cap bounds driver memory, not
    # cluster size: a sketch row is (double, long, long) ~24 B + overhead,
    # so 8M rows is ~200 MB through Arrow — modest for any driver that can
    # also hold broadcast joins, and it keeps columns with up to 8M distinct
    # values (most physical measurements, prices, ids with reuse) on the
    # one-pass plan.
    sketch_collect_max_rows: int = 8_000_000


DEFAULT_CONFIG = EngineConfig()
