"""Spark distributed statistics vs pandas/numpy oracles.

Locks the semantic traps called out in SURVEY.md §2.4/§7: pd.qcut edge
computation, pd.cut right-closed/include_lowest bucketization with silent
out-of-range exclusion, value_counts normalization, np.digitize confidence
bins, and the distributed KS D.
"""

import numpy as np
import pandas as pd
import pytest

from driftspark import numerics as nm
from driftspark import stats as st


@pytest.fixture(scope="module")
def frame(spark):
    rng = np.random.RandomState(42)
    pdf = pd.DataFrame(
        {
            "a": rng.normal(0, 1, 4000),
            "b": rng.lognormal(0, 1, 4000),
            "c": rng.randint(0, 5, 4000).astype(float),
            "cat": rng.choice(["x", "y", "z"], 4000, p=[0.5, 0.3, 0.2]),
        }
    )
    pdf.loc[rng.choice(4000, 50, replace=False), "a"] = np.nan
    return pdf, spark.createDataFrame(pdf)


def test_quantile_edges_match_pandas_qcut(frame):
    pdf, df = frame
    edges = st.quantile_edges(df, ["a", "b", "c"], 10)
    for col in ["a", "b", "c"]:
        values = pdf[col].dropna()
        _, pd_edges = pd.qcut(values, q=10, retbins=True, duplicates="drop")
        assert np.allclose(edges[col], pd_edges, rtol=1e-9), col


def test_bucket_counts_match_pandas_cut(frame):
    pdf, df = frame
    # edges fitted on half the data so the other half has out-of-range values
    fit_values = pdf["b"].iloc[:2000]
    _, edges = pd.qcut(fit_values, q=10, retbins=True, duplicates="drop")
    ref_df = df.limit(0)  # empty ref side; we only check the test side here
    hists = st.histogram_proportions(df, df, {"b": edges})
    ours_ref, ours_test = hists["b"]
    binned = pd.cut(pdf["b"].dropna(), bins=edges, include_lowest=True)
    expected = binned.value_counts(normalize=True, sort=False).values
    assert np.allclose(ours_test, expected, atol=1e-12)
    assert np.allclose(ours_ref, expected, atol=1e-12)
    # out-of-range values must be excluded from the denominator:
    # proportions sum to 1 over in-range values
    assert ours_test.sum() == pytest.approx(1.0, abs=1e-12)


def test_psi_end_to_end_matches_pandas_oracle(spark):
    rng = np.random.RandomState(42)
    ref = pd.DataFrame({"v": rng.normal(0, 1, 3000)})
    test = pd.DataFrame({"v": rng.normal(0.4, 1.3, 3000)})
    ref_df = spark.createDataFrame(ref)
    test_df = spark.createDataFrame(test)

    edges = st.quantile_edges(ref_df, ["v"], 10)["v"]
    (ref_p, test_p) = st.histogram_proportions(ref_df, test_df, {"v": edges})["v"]
    ours = nm.psi_from_proportions(ref_p, test_p)

    # pandas oracle — verbatim reference psi.py:141-160 semantics
    _, pd_edges = pd.qcut(ref["v"], q=10, retbins=True, duplicates="drop")
    rb = pd.cut(ref["v"], bins=pd_edges, include_lowest=True)
    tb = pd.cut(test["v"], bins=pd_edges, include_lowest=True)
    rc = rb.value_counts(normalize=True, sort=False)
    tc = tb.value_counts(normalize=True, sort=False)
    rc, tc = rc.align(tc, fill_value=0.001)
    e = np.maximum(rc.values, 0.001)
    a = np.maximum(tc.values, 0.001)
    e, a = e / e.sum(), a / a.sum()
    oracle = np.sum((a - e) * np.log(a / e))
    assert ours == pytest.approx(oracle, abs=1e-9)


def test_categorical_alignment(frame, spark):
    pdf, df = frame
    test_pdf = pdf.copy()
    test_pdf["cat"] = np.where(test_pdf["cat"] == "z", "w", test_pdf["cat"])
    test_df = spark.createDataFrame(test_pdf)
    cats, rc, tc = st.categorical_counts(df, test_df, "cat")
    assert cats == ["w", "x", "y", "z"]
    ref_vc = pdf["cat"].value_counts()
    test_vc = test_pdf["cat"].value_counts()
    for i, c in enumerate(cats):
        assert rc[i] == ref_vc.get(c, 0)
        assert tc[i] == test_vc.get(c, 0)


def test_ks_d_all_matches_numpy(frame, spark):
    pdf, df = frame
    rng = np.random.RandomState(7)
    test_pdf = pd.DataFrame(
        {
            "a": rng.normal(0.5, 1, 1500),
            "b": rng.lognormal(0.2, 1, 1500),
            "c": rng.randint(0, 5, 1500).astype(float),
            "cat": rng.choice(["x", "y"], 1500),
        }
    )
    test_df = spark.createDataFrame(test_pdf)
    d_all = st.ks_d_all(df, test_df, ["a", "b", "c"])
    for col in ["a", "b", "c"]:
        rv = pdf[col].dropna().values
        tv = test_pdf[col].dropna().values
        d, n, m = d_all[col]
        assert n == len(rv) and m == len(tv)
        assert d == pytest.approx(nm.ks_2samp_d(rv, tv), abs=1e-12), col


def test_digitize_expr_matches_numpy(spark):
    rng = np.random.RandomState(42)
    conf = np.concatenate([rng.uniform(0, 1, 2000), [0.0, 1.0, 0.1, 0.3, 0.5, 0.7]])
    pdf = pd.DataFrame({"__conf": conf})
    df = spark.createDataFrame(pdf)
    edges = np.linspace(0, 1, 11)
    b = st.digitize_clip_expr("__conf", edges, 10)
    from pyspark.sql import functions as F

    rows = df.select(b.alias("bin")).groupBy("bin").count().collect()
    ours = np.zeros(10, dtype=np.int64)
    for r in rows:
        ours[r["bin"]] = r["count"]
    binned = np.clip(np.digitize(conf, edges[:-1]) - 1, 0, 9)
    expected = np.bincount(binned, minlength=10)
    assert (ours == expected).all()


def test_moment_stats_population_std(frame):
    pdf, df = frame
    ms = st.moment_stats(df, ["a", "b"])
    for col in ["a", "b"]:
        v = pdf[col].dropna().values
        mean, std = ms[col]
        assert mean == pytest.approx(np.mean(v), rel=1e-12)
        assert std == pytest.approx(np.std(v), rel=1e-9)  # ddof=0 population std


def test_mode_tie_break(spark):
    pdf = pd.DataFrame({"c": ["b", "b", "a", "a", "c"]})
    df = spark.createDataFrame(pdf)
    # pandas mode()[0] returns the smallest among ties
    assert st.mode_of(df, "c") == pdf["c"].mode()[0] == "a"


def test_psi_counts_fused_matches_separate_paths(frame, spark):
    """The single-job fused detect path (numeric hists + all categoricals
    in one explode-melt aggregation) is value-identical to the original
    histogram_proportions + categorical_counts pair."""
    pdf, df = frame
    ref = df.where("c < 3")
    test = df.where("c >= 3")
    edges = st.quantile_edges(ref, ["a", "b"], 10)
    old = st.histogram_proportions(ref, test, edges)
    fused_num, fused_cat = st.psi_counts_fused(ref, test, edges, ["cat"])
    for col in ("a", "b"):
        assert np.allclose(old[col][0], fused_num[col][0], atol=0, rtol=0)
        assert np.allclose(old[col][1], fused_num[col][1], atol=0, rtol=0)
    _, rc, tc = st.categorical_counts(ref, test, "cat")
    assert np.array_equal(rc, fused_cat["cat"][0])
    assert np.array_equal(tc, fused_cat["cat"][1])


def test_approx_quantile_edges_close_to_exact(frame):
    """GK edges at relative_error=1e-4 coincide with exact pd.qcut edges
    on a 4k-row sample (every quantile's rank error < 1 row)."""
    pdf, df = frame
    exact = st.quantile_edges(df, ["a", "b"], 10)
    approx = st.approx_quantile_edges(df, ["a", "b"], 10, relative_error=1e-4)
    for col in ("a", "b"):
        assert len(exact[col]) == len(approx[col])
        # rank-space agreement: each approx edge within one data point
        vals = np.sort(pdf[col].dropna().values)
        r_exact = np.searchsorted(vals, exact[col])
        r_approx = np.searchsorted(vals, approx[col])
        assert np.max(np.abs(r_exact - r_approx)) <= 1


def test_ks_d_bucketed_exactly_matches_window(frame, spark, monkeypatch):
    """The bucketed KS-D decomposition (engaged above the distinct-count
    threshold) produces EXACTLY the window plan's statistic — exact prefix
    offsets make it a reformulation, not an approximation."""
    pdf, df = frame
    ref = df.where("c < 3")
    test = df.where("c >= 3")
    base = st.ks_d_all(ref, test, ["a", "b"])                     # uniform buckets
    monkeypatch.setattr(st, "_CDF_BUCKETED_THRESHOLD", 10)
    monkeypatch.setattr(st, "_CDF_PERCENTILE_BUCKETS", 7)
    forced = st.ks_d_all(ref, test, ["a", "b"])                   # equal-mass buckets
    for col in ("a", "b"):
        assert forced[col][1:] == base[col][1:]
        assert abs(forced[col][0] - base[col][0]) < 1e-15


def test_ks_d_all_one_sided_feature_skipped_loudly(spark, caplog):
    """A feature with zero non-null values on one side has no ECDF: under
    Spark 4's default ANSI mode the window's total division used to abort
    the whole KS job — it must skip the feature with a warning (callers
    already handle absent keys)."""
    import logging

    import numpy as np
    import pandas as pd

    from driftspark.stats import ks_d_all

    rng = np.random.RandomState(31)
    ref = spark.createDataFrame(
        pd.DataFrame({"x": rng.normal(0, 1, 400), "y": np.nan})
    )
    test = spark.createDataFrame(
        pd.DataFrame({"x": rng.normal(1, 1, 400), "y": rng.normal(0, 1, 400)})
    )
    with caplog.at_level(logging.WARNING, logger="driftspark.stats"):
        d = ks_d_all(ref, test, ["x", "y"])
    assert set(d) == {"x"}
    assert d["x"][0] > 0.2
    assert any("skipped" in r.message for r in caplog.records)
