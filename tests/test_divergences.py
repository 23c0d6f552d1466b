"""Beyond-reference divergences: Wasserstein-1 (distributed, exact) and
Jensen-Shannon / Hellinger over aligned histogram proportions.

W1 oracle here is a literal numpy transcription of the empirical-CDF
quantile-integral identity (scipy.stats.wasserstein_distance semantics);
the engine's quantized-decimal sum must agree to the quantization error
bound AND be bit-identical across layouts and the window/bucketed paths.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from driftspark.numerics import (
    hellinger_from_proportions,
    js_divergence_from_proportions,
)
from driftspark.stats import wasserstein_all


# ---------------------------------------------------------------------------
# numpy reference for W1 (pooled distinct values, CDF-area formula)
# ---------------------------------------------------------------------------


def _w1_numpy(x: np.ndarray, y: np.ndarray) -> float:
    v = np.union1d(x, y)
    cx = np.searchsorted(np.sort(x), v, side="right") / len(x)
    cy = np.searchsorted(np.sort(y), v, side="right") / len(y)
    return float(np.sum(np.abs(cx[:-1] - cy[:-1]) * np.diff(v)))


def _frame(spark, feats: dict):
    """feats: {name: (ref_values, test_values)} -> (ref_df, test_df)."""
    n_ref = max(len(r) for r, _ in feats.values())
    n_test = max(len(t) for _, t in feats.values())

    def side(idx, n):
        rows = []
        for i in range(n):
            rows.append(
                tuple(
                    float(feats[c][idx][i]) if i < len(feats[c][idx]) else None
                    for c in feats
                )
            )
        schema = ", ".join(f"{c} double" for c in feats)
        return spark.createDataFrame(rows, schema)

    return side(0, n_ref), side(1, n_test)


@pytest.fixture(scope="module")
def samples():
    rng = np.random.default_rng(7)
    x = np.round(rng.normal(10, 2, 4000), 2)  # heavy ties (2dp grid)
    y = np.round(rng.normal(11.5, 2.5, 3000), 2)
    u = rng.uniform(0, 1, 2500)
    v = rng.uniform(0.2, 1.2, 3500)
    return x, y, u, v


def test_w1_matches_numpy_reference(spark, samples):
    x, y, u, v = samples
    ref, test = _frame(spark, {"a": (x, y), "b": (u, v)})
    out = wasserstein_all(ref, test, ["a", "b"])
    assert set(out) == {"a", "b"}
    wa, n, m = out["a"]
    assert (n, m) == (len(x), len(y))
    # quantization error bound: 0.5e-9 per distinct pooled value
    assert abs(wa - _w1_numpy(x, y)) < 1e-5
    wb, *_ = out["b"]
    assert abs(wb - _w1_numpy(u, v)) < 1e-5


def test_w1_identical_and_constant(spark):
    rng = np.random.default_rng(1)
    x = np.round(rng.normal(0, 1, 500), 3)
    ref, test = _frame(spark, {"a": (x, x), "c": (np.full(80, 5.0), np.full(60, 5.0))})
    out = wasserstein_all(ref, test, ["a", "c"])
    assert out["a"][0] == 0.0
    # one pooled distinct value -> no gaps -> 0 by definition (not missing)
    assert out["c"] == (0.0, 80, 60)


def test_w1_shift_scale_sanity(spark):
    # a pure location shift of delta has W1 == delta exactly
    x = np.arange(1000) / 10.0
    ref, test = _frame(spark, {"a": (x, x + 3.25)})
    w1 = wasserstein_all(ref, test, ["a"])["a"][0]
    assert abs(w1 - 3.25) < 1e-6


def test_w1_layout_and_bucketed_bit_parity(spark, samples, monkeypatch):
    x, y, u, v = samples
    ref, test = _frame(spark, {"a": (x, y), "b": (u, v)})
    base = wasserstein_all(ref, test, ["a", "b"])
    # layout invariance: quantized-decimal sum is order-independent
    relaid = wasserstein_all(ref.repartition(13), test.repartition(7), ["a", "b"])
    assert relaid == base
    # equal-mass buckets (force them) are bit-identical to the uniform ones
    import driftspark.stats as st

    monkeypatch.setattr(st, "_CDF_BUCKETED_THRESHOLD", 1)
    monkeypatch.setattr(st, "_CDF_PERCENTILE_BUCKETS", 8)
    bucketed = wasserstein_all(ref, test, ["a", "b"])
    assert bucketed == base


def test_w1_one_sided_feature_skipped(spark):
    ref, test = _frame(
        spark, {"a": (np.arange(50.0), np.arange(50.0)), "d": (np.arange(30.0), [])}
    )
    out = wasserstein_all(ref, test, ["a", "d"])
    assert "d" not in out and "a" in out


# ---------------------------------------------------------------------------
# JS / Hellinger hand math + properties
# ---------------------------------------------------------------------------


def test_js_hand_math():
    e = np.array([0.5, 0.5, 0.0])
    a = np.array([0.25, 0.25, 0.5])
    m = (e + a) / 2
    exp = 0.5 * sum(
        p * math.log(p / q) for p, q in zip(e, m) if p > 0
    ) + 0.5 * sum(p * math.log(p / q) for p, q in zip(a, m) if p > 0)
    assert abs(js_divergence_from_proportions(e, a) - exp) < 1e-12


def test_js_properties():
    rng = np.random.default_rng(3)
    e = rng.dirichlet(np.ones(10))
    a = rng.dirichlet(np.ones(10))
    js = js_divergence_from_proportions(e, a)
    assert 0 <= js <= math.log(2) + 1e-12
    # symmetry + identity
    assert abs(js - js_divergence_from_proportions(a, e)) < 1e-12
    assert js_divergence_from_proportions(e, e) == pytest.approx(0.0, abs=1e-15)
    # disjoint support saturates at ln 2
    assert js_divergence_from_proportions(
        np.array([1.0, 0.0]), np.array([0.0, 1.0])
    ) == pytest.approx(math.log(2))
    # renormalization: raw counts and proportions agree
    c1, c2 = np.array([30.0, 20, 50]), np.array([10.0, 60, 30])
    assert js_divergence_from_proportions(c1, c2) == pytest.approx(
        js_divergence_from_proportions(c1 / 100, c2 / 100)
    )
    assert math.isnan(js_divergence_from_proportions(np.zeros(3), a[:3]))


def test_hellinger_hand_math_and_bounds():
    e = np.array([0.5, 0.5])
    a = np.array([0.5, 0.5])
    assert hellinger_from_proportions(e, a) == pytest.approx(0.0, abs=1e-15)
    assert hellinger_from_proportions(
        np.array([1.0, 0.0]), np.array([0.0, 1.0])
    ) == pytest.approx(1.0)
    x = np.array([0.9, 0.1])
    y = np.array([0.4, 0.6])
    exp = math.sqrt(
        0.5
        * (
            (math.sqrt(0.9) - math.sqrt(0.4)) ** 2
            + (math.sqrt(0.1) - math.sqrt(0.6)) ** 2
        )
    )
    assert hellinger_from_proportions(x, y) == pytest.approx(exp, abs=1e-12)
    assert abs(
        hellinger_from_proportions(x, y) - hellinger_from_proportions(y, x)
    ) < 1e-15


# ---------------------------------------------------------------------------
# Detector integration
# ---------------------------------------------------------------------------


def test_wasserstein_detector(spark, samples):
    from driftspark.dataset import SparkDataset
    from driftspark.detectors import WassersteinDistance
    from driftspark.registry import DetectorRegistry

    x, y, u, _ = samples
    ref, test = _frame(spark, {"a": (x, x), "b": (u, u + 0.5)})
    det = DetectorRegistry.create("wasserstein")
    assert isinstance(det, WassersteinDistance)
    res = det.fit_detect(SparkDataset(ref), SparkDataset(test))
    fr = res.metadata["feature_results"]
    assert fr["a"]["w1_normalized"] == pytest.approx(0.0, abs=1e-9)
    # b shifted by 0.5 on std ~0.289 uniform -> normalized ~1.73
    assert fr["b"]["w1"] == pytest.approx(0.5, abs=1e-6)
    assert fr["b"]["w1_normalized"] > 1.5
    assert res.drift_detected and res.severity.value == "critical"

    # null case: no drift
    res0 = WassersteinDistance().fit_detect(SparkDataset(ref), SparkDataset(ref))
    assert not res0.drift_detected and res0.score == pytest.approx(0.0, abs=1e-9)


def test_psi_extra_divergences(spark, samples):
    from driftspark.dataset import SparkDataset
    from driftspark.detectors import PSI

    x, y, *_ = samples
    ref, test = _frame(spark, {"a": (x, y)})
    res = PSI(extra_divergences=True, exact_edges=True).fit_detect(
        SparkDataset(ref), SparkDataset(test)
    )
    fr = res.metadata["feature_results"]["a"]
    assert 0 < fr["js_divergence"] <= math.log(2)
    assert 0 < fr["hellinger"] <= 1
    # parity default: without the flag the keys are absent
    res2 = PSI(exact_edges=True).fit_detect(SparkDataset(ref), SparkDataset(test))
    assert "js_divergence" not in res2.metadata["feature_results"]["a"]


# ---------------------------------------------------------------------------
# Cramér–von Mises + Anderson–Darling: numpy reference (tie-aware
# Scholz–Stephens discrete forms, a literal transcription of the math in
# stats.cvm_ad_all's docstring)
# ---------------------------------------------------------------------------


def _cvm_ad_numpy(x: np.ndarray, y: np.ndarray):
    xs, ys = np.sort(x), np.sort(y)
    v = np.union1d(x, y)
    cr = np.searchsorted(xs, v, side="right").astype(float)
    ct = np.searchsorted(ys, v, side="right").astype(float)
    r = np.diff(np.concatenate([[0.0], cr]))
    t = np.diff(np.concatenate([[0.0], ct]))
    n, m = len(x), len(y)
    big_n = n + m
    l = r + t
    d = cr / n - ct / m
    b = cr + ct
    cvm = n * m / big_n**2 * float(np.sum(l * d * d))
    keep = b < big_n
    ad = n * m * float(
        np.sum(l[keep] * d[keep] ** 2 / (b[keep] * (big_n - b[keep])))
    )
    return cvm, ad


def test_cvm_ad_matches_numpy_reference(spark, samples):
    from driftspark.stats import cvm_ad_all

    x, y, u, v = samples
    ref, test = _frame(spark, {"a": (x, y), "b": (u, v)})
    out = cvm_ad_all(ref, test, ["a", "b"])
    for col, (xx, yy) in {"a": (x, y), "b": (u, v)}.items():
        cvm, ad, n, m = out[col]
        exp_cvm, exp_ad = _cvm_ad_numpy(xx, yy)
        assert (n, m) == (len(xx), len(yy))
        # quantization error bound: 0.5e-9 per pooled distinct value
        assert abs(cvm - exp_cvm) < 1e-5
        assert abs(ad - exp_ad) < 1e-5


def test_cvm_rank_identity_tie_free():
    # Anderson (1962): on tie-free data T = U/(n*m*N) - (4nm-1)/(6N) with
    # U = n*sum_i (r_i - i)^2 + m*sum_j (s_j - j)^2 over pooled 1-based
    # ranks r (of x) and s (of y).  The discrete-form transcription above
    # must agree to float precision — this is the check that the fused
    # engine formula IS the published statistic.
    rng = np.random.default_rng(11)
    x = rng.normal(0, 1, 400)
    y = rng.normal(0.3, 1.2, 300)
    assert len(np.union1d(x, y)) == len(x) + len(y)  # tie-free
    n, m = len(x), len(y)
    big_n = n + m
    pooled = np.concatenate([x, y])
    ranks = np.argsort(np.argsort(pooled)) + 1
    rx = np.sort(ranks[:n])
    sy = np.sort(ranks[n:])
    u_stat = n * np.sum((rx - np.arange(1, n + 1)) ** 2) + m * np.sum(
        (sy - np.arange(1, m + 1)) ** 2
    )
    t_rank = u_stat / (n * m * big_n) - (4 * n * m - 1) / (6 * big_n)
    t_disc, _ = _cvm_ad_numpy(x, y)
    assert t_disc == pytest.approx(t_rank, abs=1e-10)


def test_ad_pettitt_identity_tie_free():
    # Pettitt (1976): on tie-free data A² = (1/nm) sum_{i<N} (M_i*N -
    # n*i)^2 / (i*(N-i)) with M_i = #x among the i smallest pooled.
    rng = np.random.default_rng(12)
    x = rng.normal(0, 1, 350)
    y = rng.normal(0.4, 1, 250)
    assert len(np.union1d(x, y)) == len(x) + len(y)
    n, m = len(x), len(y)
    big_n = n + m
    order = np.argsort(np.concatenate([x, y]))
    is_x = (order < n).astype(float)
    mi = np.cumsum(is_x)[:-1]
    i = np.arange(1, big_n)
    a2_pettitt = float(
        np.sum((mi * big_n - n * i) ** 2 / (i * (big_n - i))) / (n * m)
    )
    _, a2_disc = _cvm_ad_numpy(x, y)
    assert a2_disc == pytest.approx(a2_pettitt, abs=1e-10)


def test_cvm_ad_layout_and_bucketed_bit_parity(spark, samples, monkeypatch):
    import driftspark.stats as st
    from driftspark.stats import cvm_ad_all

    x, y, u, v = samples
    ref, test = _frame(spark, {"a": (x, y), "b": (u, v)})
    base = cvm_ad_all(ref, test, ["a", "b"])
    relaid = cvm_ad_all(ref.repartition(13), test.repartition(7), ["a", "b"])
    assert relaid == base
    monkeypatch.setattr(st, "_CDF_BUCKETED_THRESHOLD", 1)
    monkeypatch.setattr(st, "_CDF_PERCENTILE_BUCKETS", 8)
    bucketed = cvm_ad_all(ref, test, ["a", "b"])
    assert bucketed == base


def test_cvm_ad_one_sided_skipped(spark):
    from driftspark.stats import cvm_ad_all

    ref, test = _frame(
        spark, {"a": (np.arange(50.0), np.arange(50.0)), "d": (np.arange(30.0), [])}
    )
    out = cvm_ad_all(ref, test, ["a", "d"])
    assert "d" not in out and "a" in out
    # identical samples: T == 0 and A² == 0 exactly
    assert out["a"][0] == 0.0 and out["a"][1] == 0.0


# ---------------------------------------------------------------------------
# AD null moments + p-value (Scholz–Stephens), Monte-Carlo-verified
# ---------------------------------------------------------------------------


def _ad_null_sims(n: int, m: int, k_sims: int, seed: int) -> np.ndarray:
    """k_sims two-sample AD statistics under H0, fully vectorized
    (continuous uniforms -> tie-free -> Pettitt form)."""
    rng = np.random.default_rng(seed)
    big_n = n + m
    pooled = rng.uniform(size=(k_sims, big_n))
    order = np.argsort(pooled, axis=1)
    is_x = (order < n).astype(float)
    mi = np.cumsum(is_x, axis=1)[:, :-1]
    i = np.arange(1, big_n)
    return np.sum((mi * big_n - n * i) ** 2 / (i * (big_n - i)), axis=1) / (n * m)


def test_ad_sigma_and_crit_table_monte_carlo():
    from driftspark.numerics import _AD_CRIT_K2, anderson_darling_2samp_sigma

    n, m, k_sims = 120, 80, 4000
    a2 = _ad_null_sims(n, m, k_sims, seed=5)
    # null mean is exactly k-1 = 1; SE of the mean ~ sigma/sqrt(k_sims)
    sigma = anderson_darling_2samp_sigma(n, m)
    assert float(np.mean(a2)) == pytest.approx(1.0, abs=4 * sigma / math.sqrt(k_sims))
    # null std matches the Scholz-Stephens variance formula
    assert float(np.std(a2)) == pytest.approx(sigma, rel=0.08)
    # the m=1 critical-value column: empirical upper quantiles of the
    # standardized statistic land on the table within simulation noise
    std = (a2 - 1.0) / sigma
    for alpha, crit in [(0.10, _AD_CRIT_K2[1]), (0.05, _AD_CRIT_K2[2]), (0.01, _AD_CRIT_K2[4])]:
        emp = float(np.quantile(std, 1 - alpha))
        assert emp == pytest.approx(crit, abs=0.30)


def test_ad_sigma_exact_vs_asymptotic(monkeypatch):
    import driftspark.numerics as num

    exact = num.anderson_darling_2samp_sigma(100_000, 100_000)
    monkeypatch.setattr(num, "_AD_EXACT_N_MAX", 10)
    asym = num.anderson_darling_2samp_sigma(100_000, 100_000)
    assert asym == pytest.approx(exact, rel=1e-3)
    # degenerate guard
    assert math.isnan(num.anderson_darling_2samp_sigma(1, 2))


def test_ad_p_value_interpolation():
    from driftspark.numerics import _AD_CRIT_K2, anderson_darling_2samp_p

    # at each tabulated critical value the fit must return ~that alpha
    assert anderson_darling_2samp_p(float(_AD_CRIT_K2[2])) == pytest.approx(
        0.05, abs=0.01
    )
    assert anderson_darling_2samp_p(float(_AD_CRIT_K2[4])) == pytest.approx(
        0.01, abs=0.005
    )
    # clipped to [0.001, 0.25], monotone decreasing in the statistic
    assert anderson_darling_2samp_p(-5.0) == 0.25
    assert anderson_darling_2samp_p(50.0) == 0.001
    grid = [anderson_darling_2samp_p(z) for z in np.linspace(-1, 5, 25)]
    assert all(a >= b for a, b in zip(grid, grid[1:]))
    # non-finite convention
    assert anderson_darling_2samp_p(float("nan")) == 0.25
    assert anderson_darling_2samp_p(float("inf")) == 0.0


# ---------------------------------------------------------------------------
# CvM/AD detector integration
# ---------------------------------------------------------------------------


def test_cvm_detector(spark, samples):
    from driftspark.dataset import SparkDataset
    from driftspark.detectors import CvMAndersonDarling
    from driftspark.registry import DetectorRegistry

    x, y, u, _ = samples
    det = DetectorRegistry.create("cvm")
    assert isinstance(det, CvMAndersonDarling)

    # null: identical data -> T == 0, no drift, AD p at the 0.25 cap
    ref, _t = _frame(spark, {"a": (x, x), "b": (u, u)})
    res0 = det.fit_detect(SparkDataset(ref), SparkDataset(ref))
    assert not res0.drift_detected and res0.score == 0.0
    fr0 = res0.metadata["feature_results"]
    assert fr0["a"]["ad_p_value"] == 0.25

    # real shift: drift on the CvM gate and the AD gate agrees
    ref2, test2 = _frame(spark, {"a": (x, y), "b": (u, u)})
    res = CvMAndersonDarling().fit_detect(SparkDataset(ref2), SparkDataset(test2))
    assert res.drift_detected and res.severity.value == "critical"
    fr = res.metadata["feature_results"]
    assert fr["a"]["cvm"] > 1.168 and fr["b"]["cvm"] < 0.461
    assert fr["a"]["ad_p_value"] == 0.001  # floor: shift is enormous

    res_ad = CvMAndersonDarling(statistic="ad").fit_detect(
        SparkDataset(ref2), SparkDataset(test2)
    )
    assert res_ad.drift_detected and res_ad.p_value == 0.001
    assert res_ad.statistic == pytest.approx(res.score)

    with pytest.raises(ValueError):
        CvMAndersonDarling(statistic="nope")


# ---------------------------------------------------------------------------
# Quantile-shift report
# ---------------------------------------------------------------------------


def test_quantile_shift_matches_numpy(spark, samples):
    from driftspark.stats import quantile_shift_report

    x, y, u, v = samples
    ref, test = _frame(spark, {"a": (x, y), "b": (u, v)})
    probs = (0.1, 0.5, 0.9)
    rep = quantile_shift_report(ref, test, ["a", "b"], probs=probs)
    for col, (xx, yy) in {"a": (x, y), "b": (u, v)}.items():
        iqr = np.quantile(xx, 0.75) - np.quantile(xx, 0.25)
        for (p, rq, tq, sh, si), pe in zip(rep[col], probs):
            assert p == pe
            assert rq == pytest.approx(np.quantile(xx, pe), abs=1e-9)
            assert tq == pytest.approx(np.quantile(yy, pe), abs=1e-9)
            assert sh == pytest.approx(tq - rq, abs=1e-12)
            assert si == pytest.approx(sh / iqr, abs=1e-9)


def test_quantile_shift_location_and_degenerate(spark):
    from driftspark.stats import quantile_shift_report

    x = np.arange(1000) / 10.0
    ref, test = _frame(
        spark, {"a": (x, x + 2.5), "c": (np.full(50, 7.0), np.full(40, 9.0))}
    )
    rep = quantile_shift_report(ref, test, ["a", "c"], probs=(0.25, 0.5, 0.75))
    # pure location shift: every quantile moves by exactly the shift
    for _, _, _, sh, _ in rep["a"]:
        assert sh == pytest.approx(2.5, abs=1e-9)
    # constant reference: IQR == 0 -> shift_iqr None, never a crash
    for _, rq, tq, sh, si in rep["c"]:
        assert (rq, tq, sh) == (7.0, 9.0, 2.0) and si is None


def test_quantile_shift_skips_and_validates(spark):
    from driftspark.stats import quantile_shift_report

    ref, test = _frame(
        spark, {"a": (np.arange(50.0), np.arange(50.0)), "d": (np.arange(30.0), [])}
    )
    rep = quantile_shift_report(ref, test, ["a", "d"])
    assert "a" in rep and "d" not in rep
    with pytest.raises(ValueError, match="probs"):
        quantile_shift_report(ref, test, ["a"], probs=(0.5, 1.5))
    # GK sketch path returns a true data point: at odd count the exact
    # interpolated median IS a data point, so the two paths coincide
    ref51, test51 = _frame(spark, {"a": (np.arange(51.0), np.arange(51.0))})
    approx = quantile_shift_report(ref51, test51, ["a"], probs=(0.5,), exact=False)
    exact = quantile_shift_report(ref51, test51, ["a"], probs=(0.5,))
    assert approx["a"][0][1] == exact["a"][0][1] == 25.0


def test_correlation_drift_matches_numpy(spark):
    from driftspark.stats import correlation_drift

    rng = np.random.default_rng(9)
    n = 3000
    x = rng.normal(0, 1, n)
    y = 0.8 * x + 0.2 * rng.normal(0, 1, n)     # strongly correlated in ref
    y2 = -0.5 * x + 0.8 * rng.normal(0, 1, n)   # flipped in test
    const = np.full(n, 3.0)
    ref, test = _frame(spark, {"x": (x, x), "y": (y, y2), "k": (const, const)})
    d = correlation_drift(ref, test, ["x", "y", "k"])
    rr, tt, delta = d[("x", "y")]
    assert rr == pytest.approx(np.corrcoef(x, y)[0, 1], abs=1e-9)
    assert tt == pytest.approx(np.corrcoef(x, y2)[0, 1], abs=1e-9)
    assert delta == pytest.approx(tt - rr, abs=1e-12)
    assert rr > 0.9 and tt < 0  # the relationship flip is the signal
    # constant column: correlation undefined on both sides, delta None
    assert d[("x", "k")] == (None, None, None)
    assert correlation_drift(ref, test, ["x"]) == {}


def test_correlation_drift_constant_pairwise_overlap(spark):
    # the ANSI trap a marginal-stddev probe cannot see: both columns vary
    # overall, but x is CONSTANT exactly where y is non-null — F.corr
    # would abort the job with DIVIDE_BY_ZERO; the manual centered-sum
    # path must return the explicit None instead
    from driftspark.stats import correlation_drift

    rows = [(1.0, None), (2.0, None), (5.0, 1.0), (5.0, 2.0), (5.0, 3.0),
            (9.0, None)]
    df = spark.createDataFrame(rows, "x double, y double")
    d = correlation_drift(df, df, ["x", "y"])
    assert d[("x", "y")] == (None, None, None)
    # zero pairwise overlap (disjoint non-null rows): also None
    rows2 = [(1.0, None), (2.0, None), (None, 1.0), (None, 2.0)]
    df2 = spark.createDataFrame(rows2, "x double, y double")
    assert correlation_drift(df2, df2, ["x", "y"])[("x", "y")] == (
        None, None, None,
    )


def test_correlation_detector(spark):
    from driftspark.dataset import SparkDataset
    from driftspark.detectors import CorrelationDrift
    from driftspark.registry import DetectorRegistry

    rng = np.random.default_rng(13)
    n = 2500
    x = rng.normal(0, 1, n)
    noise = rng.normal(0, 1, n)
    y_ref = 0.9 * x + 0.1 * noise
    y_flip = -0.9 * x + 0.1 * noise
    ref, test = _frame(spark, {"x": (x, x), "y": (y_ref, y_flip)})
    det = DetectorRegistry.create("correlation")
    assert isinstance(det, CorrelationDrift)
    res = det.fit_detect(SparkDataset(ref), SparkDataset(test))
    # marginals of y_ref and y_flip are near-identical; the RELATIONSHIP
    # flipped -> |delta r| ~ 2, critical
    assert res.drift_detected and res.severity.value == "critical"
    assert res.score > 1.5
    fr = res.metadata["feature_results"]["x|y"]
    assert fr["ref_r"] > 0.9 and fr["test_r"] < -0.9

    # null: same frame both sides -> zero drift
    res0 = CorrelationDrift().fit_detect(SparkDataset(ref), SparkDataset(ref))
    assert not res0.drift_detected and res0.score == pytest.approx(0.0, abs=1e-12)

    # single numeric feature: no pairs, explicit message
    ref1, test1 = _frame(spark, {"x": (x, x)})
    res1 = CorrelationDrift().fit_detect(SparkDataset(ref1), SparkDataset(test1))
    assert not res1.drift_detected
    assert res1.metadata["message"] == "No correlatable feature pairs"


def test_category_shift_hand_math_and_edges(spark):
    from driftspark.stats import category_shift_report

    ref = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("b",), ("b",), (None,)] * 10, "cat string"
    )
    test = spark.createDataFrame(
        [("a",), ("b",), ("b",), ("c",), (None,), (None,)] * 10, "cat string"
    )
    rows = {r["category"]: r for r in
            category_shift_report(ref, test, ["cat"]).collect()}
    # proportions over TOTAL rows incl. nulls (null surge IS drift)
    assert rows["a"]["ref_prop"] == pytest.approx(2 / 6)
    assert rows["a"]["test_prop"] == pytest.approx(1 / 6)
    assert rows["a"]["delta"] == pytest.approx(-1 / 6)
    # appearing category: ref side zero, first-class row
    assert rows["c"]["n_ref"] == 0 and rows["c"]["delta"] == pytest.approx(1 / 6)
    # NULL category is an explicit row
    assert rows[None]["delta"] == pytest.approx(1 / 6)

    # top_k keeps the largest absolute movers
    top = category_shift_report(ref, test, ["cat"], top_k=2).collect()
    assert len(top) == 2
    assert all(abs(r["delta"]) >= 1 / 6 - 1e-12 for r in top)


def test_category_shift_cardinality_guard(spark, caplog):
    import logging

    from driftspark.stats import category_shift_report

    wide = spark.range(500).select(
        F.concat(F.lit("v"), F.col("id")).alias("freeform"),
        (F.col("id") % 2).cast("string").alias("ok"),
    )
    with caplog.at_level(logging.WARNING):
        rows = category_shift_report(
            wide, wide, ["freeform", "ok"], max_categories=100
        ).collect()
    assert {r["feature"] for r in rows} == {"ok"}  # freeform dropped
    assert any("max_categories" in r.message for r in caplog.records)
