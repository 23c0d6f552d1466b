"""verdicts.fit_reference: the verdict suite's one-scan reference fit
equals the separate fits (quantile_edges or approx_quantile_edges,
_ref_bin_counts, fit_ks_reference_ecdf) on every route."""

import numpy as np
import pandas as pd
import pytest

import driftspark.stats as st
import driftspark.verdicts as vd

NUMERIC = ["nanny", "infs", "zeros", "const", "nulls", "ties", "big", "two_inf"]
KS = ["nanny", "infs", "zeros", "const", "nulls", "ties", "big"]


@pytest.fixture(scope="module")
def degenerate_ref(spark):
    """A split table whose reference columns hold NaN and NULL, ±inf, ±0.0,
    one constant, all NULL, heavy ties, int64 above 2**53 and a column of
    only -inf and +inf."""
    rng = np.random.RandomState(5)
    rows = []
    for i in range(2000):
        rows.append((
            "ref" if i % 5 else "test",
            float("nan") if i % 7 == 0 else (None if i % 11 == 0 else float(rng.normal())),
            [float("inf"), float("-inf")][i % 2] if i % 13 == 0 else float(rng.normal(0, 3)),
            [-0.0, 0.0, 1.0, -1.0, 2.0][rng.randint(5)],
            3.5,
            None,
            [0.1, 0.2, 0.45, 0.7][rng.randint(4)],  # ties where (1-f)*v + f*v can miss v
            2**53 + int(rng.randint(0, 50)) * 3,
            [float("inf"), float("-inf")][i % 2],
            i % 4,
        ))
    df = spark.createDataFrame(
        rows,
        "split string, nanny double, infs double, zeros double, const double, "
        "nulls double, ties double, big bigint, two_inf double, part int",
    ).cache()
    df.count()
    return df


def _separate_fits(ref, numeric, ks, n_bins, approx, max_points):
    """The separate fits: the PSI edges, their reference bin counts and
    the KS ECDF, one call each."""
    if approx is None:
        edges = st.quantile_edges(ref, numeric, n_bins)
    else:
        edges = st.approx_quantile_edges(ref, numeric, n_bins, approx)
    return edges, vd._ref_bin_counts(ref, edges), vd.fit_ks_reference_ecdf(ref, ks, max_points)


def _assert_same_fit(got, want):
    """Bin counts and the ECDF bit for bit; edges with == (NaN equal to
    NaN): a zero edge may differ in sign, as the GROUP BY the one scan
    counts by normalizes -0.0 while the percentile aggregate keeps it."""
    (edges, counts, ecdf), (want_edges, want_counts, want_ecdf) = got[:3], want
    assert list(edges) == list(want_edges)
    for f, e in want_edges.items():
        assert edges[f].dtype == e.dtype and np.array_equal(edges[f], e, equal_nan=True), f
    assert list(counts) == list(want_counts)
    for f, c in want_counts.items():
        assert counts[f].dtype == c.dtype and np.array_equal(counts[f], c), f
    assert list(ecdf) == list(want_ecdf)
    for f, (v, cums, n) in want_ecdf.items():
        gv, gcums, gn = ecdf[f]
        assert gv.dtype == v.dtype and np.array_equal(gv.view(np.int64), v.view(np.int64)), f
        assert gcums.dtype == cums.dtype and np.array_equal(gcums, cums), f
        assert type(gn) is type(n) and gn == n, f


@pytest.mark.parametrize("n_bins", [3, 10, 17])
@pytest.mark.parametrize("approx", [None, 1e-3], ids=["exact", "gk"])
@pytest.mark.parametrize("budget", [None, 50], ids=["one_scan", "fallback"])
def test_fit_reference_bit_identical_to_separate_fits(
    spark, degenerate_ref, monkeypatch, n_bins, approx, budget
):
    """The suite's fit equals the three separate fits, within the
    driver-row budget (one scan: no _ref_bin_counts call) and over it
    (the separate fits themselves, the ECDF thinned alike).  Either way
    the reference is distinct-counted once: over the budget the ECDF
    thins the counts the scan persisted."""
    if budget is not None:
        monkeypatch.setattr(vd, "MAX_REF_ECDF_POINTS", budget)
    calls, counted = [], []
    real, real_counts = vd._ref_bin_counts, vd._distinct_counts
    monkeypatch.setattr(vd, "_ref_bin_counts", lambda *a: calls.append(a) or real(*a))
    monkeypatch.setattr(vd, "_distinct_counts", lambda *a: counted.append(a) or real_counts(*a))
    suite = vd._VerdictSuite(
        degenerate_ref.where("split = 'ref'"), NUMERIC, ks_cols=KS, n_bins=n_bins,
        approx_quantile_error=approx,
    )
    got = suite.fit().fitted
    assert len(calls) == (0 if budget is None else 1)
    assert len(counted) == 1
    want = _separate_fits(suite.ref_df, NUMERIC, KS, n_bins, approx, vd.MAX_REF_ECDF_POINTS)
    _assert_same_fit(got, want)


def test_fit_reference_falls_back_over_a_features_share(spark, monkeypatch):
    """Within the total budget but over one KS feature's share of it, the
    separate fits run (the ECDF of that feature is thinned)."""
    rng = np.random.RandomState(31)
    ref = spark.createDataFrame(pd.DataFrame({
        "w": rng.normal(0, 1, 10_500), "h": rng.randint(0, 3, 10_500).astype(float)
    }))
    max_points = 12_000  # 10,503 distinct rows; w's share is 10,000
    calls, counted = [], []
    real, real_counts = vd.quantile_edges, vd._distinct_counts
    monkeypatch.setattr(vd, "quantile_edges", lambda *a: calls.append(a) or real(*a))
    monkeypatch.setattr(vd, "_distinct_counts", lambda *a: counted.append(a) or real_counts(*a))
    got = vd.fit_reference(ref, ["w", "h"], ["w", "h"], 10, None, max_points)
    assert len(calls) == len(counted) == 1
    want = _separate_fits(ref, ["w", "h"], ["w", "h"], 10, None, max_points)
    _assert_same_fit(got, want)
    assert len(got[2]["w"][0]) < 10_500


def test_fit_reference_without_columns_or_values(spark, degenerate_ref):
    """No fit columns: an empty state.  An all-NULL column: no edges, no
    ECDF."""
    ref = degenerate_ref.where("split = 'ref'")
    assert vd.fit_reference(ref, [], [], 10) == ({}, {}, {}, {})
    edges, counts, ecdf, cats = vd.fit_reference(ref, ["nulls", "ties"], ["nulls"], 10)
    assert list(edges) == list(counts) == ["ties"] and ecdf == {} and cats == {}


@pytest.mark.parametrize("max_points", [vd.MAX_REF_ECDF_POINTS, 2], ids=["one_scan", "fallback"])
def test_fit_reference_caps_categories_over_the_reference(spark, max_points):
    """The categorical features' reference counts come from the same
    count, capped over the reference alone (top K-1 by count then key,
    the rest in __chi2_other__; NULL excluded), on both routes, and a
    column fitted both as numeric and as categorical keeps both fits."""
    rows = [("a", 1.0)] * 5 + [("b", 1.0)] * 3 + [("c", 2.0)] * 3 + [("d", 2.0), (None, None)]
    ref = spark.createDataFrame(rows, "cat string, num double")
    fit = vd.fit_reference(ref, ["num"], ["num"], 4, None, max_points, ["cat", "num"], 3)
    assert fit.ref_cats == {
        "cat": {"a": 5, "b": 3, vd.CHI2_OTHER_BUCKET: 4}, "num": {"1.0": 8, "2.0": 4},
    }
    assert fit.ref_cats == vd.fit_ref_category_counts(ref, ["cat", "num"], 3)[0]
    want = vd.fit_reference(ref, ["num"], ["num"], 4, None, max_points)
    assert want.ref_cats == {}
    assert np.array_equal(fit.edges["num"], want.edges["num"])
    assert np.array_equal(fit.ref_counts["num"], want.ref_counts["num"])
    assert all(np.array_equal(a, b) for a, b in zip(fit.ecdf["num"], want.ecdf["num"]))


def test_all_inf_reference_column_gets_nan_free_edges(spark):
    """A reference column holding only +inf (or only -inf) is a constant
    column: every quantile route gives q + 1 copies of it, with no NaN
    edge and no numpy warning, so all its reference rows land in bin 0 and
    a test partition of the same value scores PSI 0."""
    import warnings

    rows = [("ref", 0, float("inf"), float("-inf"))] * 40
    rows += [("test", 1, float("inf"), float("-inf"))] * 25
    df = spark.createDataFrame(rows, "split string, part int, pinf double, ninf double")
    ref = df.where("split = 'ref'")
    cols = ["pinf", "ninf"]
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        fits = {
            "quantile_edges": st.quantile_edges(ref, cols, 10),
            "approx_quantile_edges": st.approx_quantile_edges(ref, cols, 10, 1e-3),
            "fit_reference": vd.fit_reference(ref, cols, cols, 10)[0],
            "fit_reference[over budget]": vd.fit_reference(ref, cols, cols, 10, None, 1)[0],
        }
    for route, edges in fits.items():
        for c, v in (("pinf", float("inf")), ("ninf", float("-inf"))):
            assert np.array_equal(edges[c], np.full(11, v)), (route, c, edges[c])
    counts = vd._ref_bin_counts(ref, fits["quantile_edges"])
    for c in cols:
        assert counts[c].tolist() == [40] + [0] * 9, (c, counts[c])
    psi = {
        r["feature"]: r
        for r in vd.partition_verdicts(df, cols, ks_cols=[]).collect()
    }
    for c in cols:
        assert (psi[c]["statistic"], psi[c]["n_ref"], psi[c]["n_test"]) == (0.0, 40, 25), psi[c]
        assert psi[c]["passed"] and psi[c]["severity"] == "none"
