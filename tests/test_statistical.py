"""Statistical tests for scale-mode generation (SURVEY §5.2.4).

The fast path promises *distributional* fidelity, so these tests check
laws, not draws: uniform type marginals (chi-square), geometric /
poisson inter-arrival moments, and recovery of the sin-density
(period, amp) from the realized event rate. No SciPy in the container;
statistics are computed directly and compared against generous fixed
critical values.
"""

from __future__ import annotations

import dataclasses

import numpy as np

from eventstream_benchmark_spark.generator import PatternConfig, StreamConfig, core

PCFG = PatternConfig(n_patterns=8, pattern_length=10, n_types=6,
                     gap_dist="uniform", gap_low=3, gap_high=9, seed=137)


def _fast(cfg: StreamConfig, seed: int = 7):
    types, gaps = core.build_patterns(PCFG)
    return core.build_stream_fast(cfg, types, gaps, rng=core.make_rng(seed))


def test_random_type_marginals_uniform():
    """Noise-event types ~ U[0, n_types): chi-square against uniform.
    df=5; critical value at p=0.001 is 20.5 — use 30 for slack."""
    cfg = StreamConfig(n_types=6, total_events=120_000, random_ratio=1.0,
                       rand_interval_dist="fixed", rand_interval_base=3,
                       rand_jitter="none")
    ts, ty, lb = _fast(cfg)
    counts = np.bincount(ty, minlength=6)
    expected = cfg.total_events / 6
    chi2 = float(((counts - expected) ** 2 / expected).sum())
    assert chi2 < 30, f"chi2={chi2:.1f}, counts={counts}"


def test_geometric_interarrival_moments():
    """Pure-noise stream, geometric(p=1/5) intervals, no jitter/density:
    gaps are i.i.d. geometric — mean 5, var p^-2(1-p) = 20."""
    cfg = StreamConfig(n_types=4, total_events=200_000, random_ratio=1.0,
                       rand_interval_dist="geometric", rand_interval_base=5,
                       rand_jitter="none")
    ts, _, _ = _fast(cfg)
    gaps = np.diff(ts)
    assert abs(gaps.mean() - 5.0) < 0.05, gaps.mean()
    assert abs(gaps.var() - 20.0) < 0.6, gaps.var()
    assert gaps.min() >= 1


def test_poisson_interarrival_moments():
    """poisson(λ=6) clamped ≥1: mean ≈ 6 (clamp adds ~P(X=0)=e^-6,
    negligible), variance ≈ 6."""
    cfg = StreamConfig(n_types=4, total_events=200_000, random_ratio=1.0,
                       rand_interval_dist="poisson", rand_interval_base=6,
                       rand_jitter="none")
    ts, _, _ = _fast(cfg)
    gaps = np.diff(ts)
    assert abs(gaps.mean() - 6.0) < 0.05, gaps.mean()
    assert abs(gaps.var() - 6.0) < 0.3, gaps.var()


def _ks_distance(samples: np.ndarray, cdf) -> float:
    """Kolmogorov-Smirnov distance of integer samples vs a theoretical CDF."""
    values, counts = np.unique(samples, return_counts=True)
    emp = np.cumsum(counts) / samples.size
    theo = np.array([cdf(int(v)) for v in values])
    return float(np.abs(emp - theo).max())


def test_geometric_interarrival_ks():
    """Full-distribution check (beyond moments): KS distance of the
    realized gaps vs the geometric CDF 1-(1-p)^k. For n=200k draws the
    5% critical value is ~0.003; 0.01 allows seed-to-seed slack."""
    cfg = StreamConfig(n_types=4, total_events=200_000, random_ratio=1.0,
                       rand_interval_dist="geometric", rand_interval_base=5,
                       rand_jitter="none")
    ts, _, _ = _fast(cfg)
    gaps = np.diff(ts)
    p = 1.0 / 5.0
    d = _ks_distance(gaps, lambda k: 1.0 - (1.0 - p) ** k)
    assert d < 0.01, f"KS distance {d:.4f}"


def test_poisson_interarrival_ks():
    """KS distance of realized gaps vs the >=1-clamped Poisson(6) CDF."""
    from math import exp, factorial

    cfg = StreamConfig(n_types=4, total_events=200_000, random_ratio=1.0,
                       rand_interval_dist="poisson", rand_interval_base=6,
                       rand_jitter="none")
    ts, _, _ = _fast(cfg)
    gaps = np.diff(ts)
    lam = 6.0
    pmf = [exp(-lam) * lam**k / factorial(k) for k in range(80)]
    pmf[1] += pmf[0]  # the clamp folds P(X=0) into P(X=1)
    pmf[0] = 0.0
    cum = np.cumsum(pmf)
    d = _ks_distance(gaps, lambda k: float(cum[min(k, 79)]))
    assert d < 0.01, f"KS distance {d:.4f}"


def test_sin_density_recovery():
    """sin density modulates the realized rate: r(t) = 1 + amp·sin(2πt/T).
    Project the per-tick event indicator onto sin/cos at the known
    period; the recovered relative amplitude must be amp within 25%
    (rate ∝ r(t); rounding + clamping distort mildly)."""
    amp, period = 0.6, 8000
    cfg = StreamConfig(n_types=4, total_events=300_000, random_ratio=1.0,
                       rand_interval_dist="fixed", rand_interval_base=4,
                       rand_jitter="none",
                       density_mode="sin", density_period=period, density_amp=amp)
    ts, _, _ = _fast(cfg)
    span = int(ts[-1])
    # events per tick over whole periods only (partial periods bias the fit)
    n_per = span // period
    assert n_per >= 3
    cut = n_per * period
    sel = ts[ts < cut].astype(np.float64)
    phase = 2.0 * np.pi * sel / period
    n = sel.shape[0]
    mean_rate = n / cut
    # rate(t) = mean_rate * (1 + a·sin + b·cos); a ≈ 2/n · Σ sin(phase_i)
    a = 2.0 * np.sin(phase).sum() / n
    b = 2.0 * np.cos(phase).sum() / n
    rec_amp = float(np.hypot(a, b))
    assert abs(rec_amp - amp) / amp < 0.25, f"recovered amp {rec_amp:.3f} vs {amp}"
    # phase: modulation must peak where sin peaks (angle near 0)
    angle = float(np.arctan2(b, a))
    assert abs(angle) < 0.5, f"phase offset {angle:.2f} rad"


def test_exact_and_fast_agree_distributionally():
    """Exact and fast paths at the same config: same label schedule,
    same achieved ratio, spans within 1%, gap histograms close (total
    variation distance < 0.05)."""
    cfg = StreamConfig(n_types=6, total_events=60_000, random_ratio=0.7,
                       pattern_jitter="uniform", pattern_jitter_amount=2,
                       rand_interval_dist="poisson", rand_interval_base=6,
                       rand_jitter="uniform", rand_jitter_amount=1,
                       density_mode="sin", density_period=8000, density_amp=0.6)
    types, gaps = core.build_patterns(PCFG)
    ts_e, ty_e, lb_e = core.build_stream(cfg, types, gaps, rng=core.make_rng(3))
    ts_f, ty_f, lb_f = core.build_stream_fast(cfg, types, gaps, rng=core.make_rng(3))
    assert np.array_equal(lb_e, lb_f)
    assert abs(int(ts_e[-1]) - int(ts_f[-1])) / int(ts_e[-1]) < 0.01
    ge, gf = np.diff(ts_e), np.diff(ts_f)
    hi = int(max(ge.max(), gf.max()))
    he = np.bincount(ge, minlength=hi + 1) / ge.size
    hf = np.bincount(gf, minlength=hi + 1) / gf.size
    tvd = 0.5 * np.abs(he - hf).sum()
    assert tvd < 0.05, f"gap TVD {tvd:.3f}"


def test_uniform_interval_with_jitter_law():
    """Uniform[3,9] intervals + uniform ±1 jitter = the triangular-
    tailed convolution on [2,10] (clamped ≥1 — never binding here):
    exact discrete law, chi-square with df=8 (crit 26.1 at p=0.001;
    40 with slack)."""
    cfg = StreamConfig(n_types=4, total_events=200_000, random_ratio=1.0,
                       rand_interval_dist="uniform", rand_interval_low=3,
                       rand_interval_high=9, rand_jitter="uniform",
                       rand_jitter_amount=1, density_mode="none")
    ts, _, _ = _fast(cfg)
    gaps = np.diff(ts)
    # P(gap=g) = sum_{d in -1..1} P(base=g-d)/3, base ~ U{3..9}
    law = {}
    for b in range(3, 10):
        for d in (-1, 0, 1):
            law[b + d] = law.get(b + d, 0.0) + (1.0 / 7.0) * (1.0 / 3.0)
    values = sorted(law)
    counts = np.array([(gaps == v).sum() for v in values], dtype=float)
    expected = np.array([law[v] for v in values]) * gaps.size
    chi2 = float(((counts - expected) ** 2 / expected).sum())
    assert abs(counts.sum() - gaps.size) < 1, "law support mismatch"
    assert chi2 < 40, f"chi2={chi2:.1f}"


def test_gaussian_jitter_ks():
    """gap = max(1, 10 + round(z·3)), z ~ N(0,1), so CDF(g) =
    Φ((g - 10 + ½)/3) (the ≥1 clamp folds the lower tail into g=1,
    which the same formula already measures). KS < 0.01 at n=200k —
    the bound every other law test uses."""
    from math import erf, sqrt

    cfg = StreamConfig(n_types=4, total_events=200_000, random_ratio=1.0,
                       rand_interval_dist="fixed", rand_interval_base=10,
                       rand_jitter="gaussian", rand_jitter_amount=3,
                       density_mode="none")
    ts, _, _ = _fast(cfg)
    phi = lambda x: 0.5 * (1.0 + erf(x / sqrt(2.0)))  # noqa: E731
    d = _ks_distance(np.diff(ts), lambda g: phi((g - 10 + 0.5) / 3.0))
    assert d < 0.01, f"KS distance {d:.4f}"


def test_laplace_jitter_ks():
    """gap = max(1, 10 + round(L)), L ~ Laplace(0, 3): CDF(g) =
    F_L(g - 10 + ½) with F_L(x) = ½eˣ̷ᵇ below 0 and 1 - ½e⁻ˣ̷ᵇ above."""
    from math import exp

    b = 3.0
    cfg = StreamConfig(n_types=4, total_events=200_000, random_ratio=1.0,
                       rand_interval_dist="fixed", rand_interval_base=10,
                       rand_jitter="laplace", rand_jitter_amount=3,
                       density_mode="none")
    ts, _, _ = _fast(cfg)

    def lap_cdf(g: int) -> float:
        x = g - 10 + 0.5
        return 0.5 * exp(x / b) if x < 0 else 1.0 - 0.5 * exp(-x / b)

    d = _ks_distance(np.diff(ts), lap_cdf)
    assert d < 0.01, f"KS distance {d:.4f}"
