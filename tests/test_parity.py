"""Spark distributed statistics vs pandas/numpy oracles.

Locks the semantic traps called out in SURVEY.md §2.4/§7: pd.qcut edge
computation, pd.cut right-closed/include_lowest bucketization with silent
out-of-range exclusion, value_counts normalization, np.digitize confidence
bins, and the distributed KS D.
"""

import math
from collections import Counter
from unittest import mock

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from driftspark import numerics as nm
from driftspark import stats as st
from driftspark import verdicts as vd


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


#: fitted edges of the degenerate fixture: x has values exactly on every
#: edge, y on the outer ones
DEGENERATE_EDGES = {"x": np.array([-2.0, -1.0, 0.0, 1.0, 2.0]), "y": np.array([0.0, 0.5, 3.0])}


@pytest.fixture(scope="module")
def degenerate(spark):
    """(rows, frame) with NULL, NaN, ±inf, out-of-range values and values
    exactly on an edge, NULL int and string part ids, timestamps over six
    days and a probability column for CBPE."""
    import datetime

    rng = np.random.RandomState(3)
    x_special = [None, float("nan"), float("inf"), float("-inf"), 7.5, -9.0,
                 -2.0, -1.0, 0.0, 1.0, 2.0]
    y_special = [None, 0.0, 0.5, 3.0, 3.5, -1.0]
    p_special = [None, float("nan"), 0.0, 1.0, 0.1, 0.7, -0.05, 1.05]
    rows = []
    for i in range(1200):
        part = [0, 1, 2, None][rng.randint(4)]
        rows.append({
            "x": x_special[i % 40] if i % 40 < len(x_special) else round(rng.normal(0, 1.5), 1),
            "y": y_special[i % 30] if i % 30 < len(y_special) else round(rng.uniform(0, 4), 1),
            "cat": ["a", "b", "c", "d", "e", None][rng.randint(6)],
            "part": part,
            "spart": None if part is None else f"p{part}",
            "split": "ref" if rng.rand() < 0.45 else "test",
            "ts": datetime.datetime(2024, 1, 1) + datetime.timedelta(days=i % 6),
            "p": p_special[i % 25] if i % 25 < len(p_special) else float(rng.uniform(0, 1)),
        })
    df = spark.createDataFrame(
        [tuple(r.values()) for r in rows],
        "x double, y double, cat string, part int, spart string, split string, "
        "ts timestamp, p double",
    )
    return rows, df


def _hist(rows, c):
    """In-range count per fitted bin of ``c`` by pd.cut(include_lowest=True)."""
    e = DEGENERATE_EDGES[c]
    codes = pd.cut(pd.Series([r[c] for r in rows], dtype=float), e, include_lowest=True,
                   labels=False)
    return np.bincount(codes.dropna().astype(int), minlength=len(e) - 1).astype(np.int64)


def _props(rows, c):
    h = _hist(rows, c).astype(np.float64)
    return h / h.sum() if h.sum() else h


def _cat_counts(rows, c):
    return dict(Counter(str(r[c]) for r in rows if r[c] is not None))


def _capped(counts, max_categories, pinned=()):
    """The documented over-cap rule, by hand: over the cap, the top K-1
    keys by (pinned, count desc, key) stay and the rest fold."""
    if len(counts) <= max_categories:
        return dict(counts)
    order = sorted(counts, key=lambda k: (k not in pinned, -counts[k], k))
    out = Counter()
    for rank, k in enumerate(order):
        keep = k in pinned or rank < max_categories - 1
        out[k if keep else vd.CHI2_OTHER_BUCKET] += counts[k]
    return dict(out)


def _scored(counts, members, max_categories):
    """The documented rule for one scored (part, feature) group, by hand:
    a feature the fit capped folds the categories outside its fitted
    ``members`` first, then the group is capped with the members pinned."""
    fold = vd.CHI2_OTHER_BUCKET in members
    out = Counter()
    for key, n in counts.items():
        out[vd.CHI2_OTHER_BUCKET if fold and key not in members else key] += n
    return _capped(dict(out), max_categories, pinned=set(members))


def _suite_cat_counts(suite, test_df):
    """{feature: capped category counts} of ``test_df`` scored as one
    partition by a fitted suite: the counts its chi2 rows score."""
    one = test_df.withColumn(suite.part_col, F.lit(0))
    _, _, _, cats, _ = vd._score_counts(
        None, one, {}, suite.cat_cols, suite.part_col, suite.max_categories,
        suite.fitted.ref_cats,
    )
    return {f: m for (_, f), m in cats.items()}


def _eq(got, want):
    if isinstance(want, np.ndarray):
        assert got.dtype == want.dtype and np.array_equal(got, want), (got, want)
    elif isinstance(want, (tuple, list)):
        assert len(got) == len(want), (got, want)
        for g, w in zip(got, want):
            _eq(g, w)
    elif isinstance(want, dict):
        assert set(got) == set(want), (sorted(got), sorted(want))
        for k in want:
            _eq(got[k], want[k])
    elif isinstance(want, float) and math.isnan(want):
        assert math.isnan(got), got
    else:
        assert got == want, (got, want)


def _check_histogram_proportions(ref, test, ref_rows, test_rows):
    _eq(st.histogram_proportions(ref, test, DEGENERATE_EDGES),
        {c: (_props(ref_rows, c), _props(test_rows, c)) for c in DEGENERATE_EDGES})


def _check_psi_counts_fused(ref, test, ref_rows, test_rows):
    num, cat = st.psi_counts_fused(ref, test, DEGENERATE_EDGES, ["cat", "spart"])
    _eq(num, {c: (_props(ref_rows, c), _props(test_rows, c)) for c in DEGENERATE_EDGES})
    for c in ("cat", "spart"):
        _eq(cat[c], st._aligned(_cat_counts(ref_rows, c), _cat_counts(test_rows, c))[1:])


def _check_categorical_counts(ref, test, ref_rows, test_rows):
    for c in ("cat", "part"):  # the int column keeps its type and order
        counts = [Counter(r[c] for r in side if r[c] is not None) for side in (ref_rows, test_rows)]
        cats = sorted(set(counts[0]) | set(counts[1]))
        want = (cats, *(np.array([n[k] for k in cats], dtype=np.float64) for n in counts))
        _eq(st.categorical_counts(ref, test, c), want)


def _check_category_shift_report(ref, test, ref_rows, test_rows):
    got = {
        (r["feature"], r["category"]): (r["n_ref"], r["n_test"], r["ref_prop"], r["test_prop"])
        for r in st.category_shift_report(ref, test, ["cat", "part"]).collect()
    }
    want = {}
    for c in ("cat", "part"):
        n = [Counter(None if r[c] is None else str(r[c]) for r in side)
             for side in (ref_rows, test_rows)]
        for k in set(n[0]) | set(n[1]):
            want[c, k] = (
                n[0][k], n[1][k],
                n[0][k] / len(ref_rows) if ref_rows else None,
                n[1][k] / len(test_rows) if test_rows else None,
            )
    _eq(got, want)


def _check_cdf_melt(ref, test, ref_rows, test_rows):
    got = Counter(tuple(r) for r in st._melt(test, ["x", "y"], "spart").collect())
    want = Counter(
        (r["spart"], c, r[c]) for r in test_rows for c in ("x", "y")
        if r[c] is not None and not math.isnan(r[c])
    )
    assert got == want


def _check_bin_counts(ref, test, ref_rows, test_rows):
    with mock.patch.object(vd.logger, "warning") as warn:
        ref_bins, hists, _, _, _ = vd._score_counts(ref, test, DEGENERATE_EDGES, (), "spart")
    parts = {r["spart"] for r in test_rows} - {None}
    _eq(dict(hists), {
        p: {c: _hist([r for r in test_rows if r["spart"] == p], c) for c in DEGENERATE_EDGES}
        for p in parts
    })
    null_rows = [r for r in test_rows if r["spart"] is None]
    null_part = sum(int(_hist(null_rows, c).sum()) for c in DEGENERATE_EDGES)
    assert [w.args[2] for w in warn.call_args_list] == ([null_part] if null_part else [])
    for side, side_rows in ((ref, ref_rows), (test, test_rows)):
        want = {c: _hist(side_rows, c) for c in DEGENERATE_EDGES}
        _eq(vd._ref_bin_counts(side, DEGENERATE_EDGES), want)
        if side is ref:
            _eq(ref_bins, want)


def _check_psi_by_partition(ref, test, ref_rows, test_rows):
    got = {
        (r["part"], r["feature"]): (r["psi"], r["n_ref"], r["n_test"])
        for r in vd.psi_by_partition(ref, test, DEGENERATE_EDGES, "spart").collect()
    }
    want = {}
    for p in {r["spart"] for r in test_rows} - {None}:
        prows = [r for r in test_rows if r["spart"] == p]
        for c in DEGENERATE_EDGES:
            psi = nm.psi_from_proportions(_props(ref_rows, c), _props(prows, c), 0.001)
            want[p, c] = (psi, int(_hist(ref_rows, c).sum()), int(_hist(prows, c).sum()))
    _eq(got, want)


def _check_rolling_psi(ref, test, ref_rows, test_rows):
    got = {}
    for r in vd.rolling_psi(test, "ts", DEGENERATE_EDGES, trailing=2, min_history=1).collect():
        got.setdefault(r["feature"], []).append((r["bucket_ts"], r["n_test"]))
    want = {}
    if test_rows:
        days = sorted({r["ts"] for r in test_rows})
        for c in DEGENERATE_EDGES:
            want[c] = [int(_hist([r for r in test_rows if r["ts"] == d], c).sum()) for d in days]
    _eq({c: [n for _, n in sorted(v)] for c, v in got.items()}, want)


def _check_chi2_by_partition(ref, test, ref_rows, test_rows):
    scored = [r for r in test_rows if r["spart"] is not None]
    for k in (1000, 4):
        want = {}
        for c in ("cat", "y"):
            rmap = _capped(_cat_counts(ref_rows, c), k)
            for p in {r["spart"] for r in scored}:
                tmap = _scored(_cat_counts([r for r in scored if r["spart"] == p], c), rmap, k)
                if tmap:
                    want[p, c] = vd.chi2_from_count_maps(rmap, tmap, 5)
        got = {
            (r["part"], r["feature"]): (r["stat"], r["p"], r["n_ref"], r["n_test"])
            for r in vd.chi2_by_partition(ref, test, ["cat", "y"], "spart", max_categories=k)
        }
        _eq(got, want)


def _check_fit_ref_category_counts(ref, test, ref_rows, test_rows):
    for side, side_rows in ((ref, ref_rows), (test, test_rows)):
        for k in (1000, 4):
            counts = {c: _cat_counts(side_rows, c) for c in ("cat", "y")}
            want = (
                {c: _capped(n, k) for c, n in counts.items()},
                {c for c, n in counts.items() if len(n) > k},
            )
            _eq(vd.fit_ref_category_counts(side, ["cat", "y"], k), want)


def _check_streaming_monitor(ref, test, ref_rows, test_rows):
    from driftspark.streaming import StreamingDriftMonitor

    # y: 8 fitted categories, under the cap at fit, over it in the batch
    # (pinned fold); cat: capped at fit when k = 4 (unfitted fold)
    fit_rows = [r for r in ref_rows if r["y"] is None or r["y"] < 0.8]
    fit_df = ref.where("y IS NULL OR y < 0.8")
    for k in (1000, 12, 4):
        mon = StreamingDriftMonitor(fit_df, ["x", "y"], ks_cols=[], cat_cols=["cat", "y"],
                                    max_categories=k)
        bin_counts = vd._ref_bin_counts(fit_df, DEGENERATE_EDGES)
        _eq(bin_counts, {c: _hist(fit_rows, c) for c in DEGENERATE_EDGES})
        ref_counts = {c: _capped(_cat_counts(fit_rows, c), k) for c in ("cat", "y")}
        _eq(mon.suite.fitted.ref_cats, ref_counts)
        mon.suite.use_fit(DEGENERATE_EDGES, bin_counts, None, ref_counts)
        want = {c: _scored(_cat_counts(test_rows, c), ref_counts[c], k) for c in ("cat", "y")}
        _eq(_suite_cat_counts(mon.suite, test), {c: m for c, m in want.items() if m})
        got = {(r["feature"], r["check"]): r["statistic"] for r in mon.score_batch(test)}
        # the batch rule: an empty batch is no partition, so no PSI or
        # chi2 row
        want_psi = {
            c: float(nm.psi_from_proportions(_props(fit_rows, c), _props(test_rows, c), 0.001))
            for c in DEGENERATE_EDGES
        } if test_rows else {}
        _eq({c: v for (c, check), v in got.items() if check == "psi"}, want_psi)
        _eq({c: v for (c, check), v in got.items() if check == "chi2"}, {
            c: vd.chi2_from_count_maps(ref_counts[c], m)[0] for c, m in want.items() if m
        })
        if not test_rows:
            assert mon.score_batch(test) == []


def _check_partial_count_stage(ref, test, ref_rows, test_rows):
    from driftspark.streaming import _fold_unfitted, _partial_count_stage

    def summed(keys, key_type):
        out = Counter()
        for r in _partial_count_stage(test, keys, key_type).collect():
            out[r["feature"], r["key"]] += r["c"]
        return dict(out)

    bins = summed({c: st.bucket_expr(c, e) for c, e in DEGENERATE_EDGES.items()}, "int")
    _eq(bins, {(c, i): int(n) for c in DEGENERATE_EDGES
               for i, n in enumerate(_hist(test_rows, c)) if n})
    cats = summed({"cat": _fold_unfitted(F.col("cat"), ["a", "b"])}, "string")
    want = Counter()
    for key, n in _cat_counts(test_rows, "cat").items():
        want["cat", key if key in ("a", "b") else vd.CHI2_OTHER_BUCKET] += n
    _eq(cats, dict(want))


def _check_cbpe(ref, test, ref_rows, test_rows):
    from driftspark.dataset import SparkDataset
    from driftspark.detectors.cbpe import CBPE

    def brute(side_rows):
        conf = np.array([r["p"] for r in side_rows if r["p"] is not None], dtype=float)
        conf = conf[~np.isnan(conf)]
        b = np.clip(np.digitize(conf, np.linspace(0, 1, 11)[:-1]) - 1, 0, 9)
        return np.bincount(b, minlength=10).astype(np.int64)

    d = CBPE()
    d.fit(SparkDataset(ref, proba_col="p"))
    _eq(d._reference_bins, brute(ref_rows))
    _eq(d._bin_counts(SparkDataset(test, proba_col="p")), brute(test_rows))


@pytest.mark.parametrize("counter", [
    "histogram_proportions", "psi_counts_fused", "categorical_counts",
    "category_shift_report", "cdf_melt", "bin_counts", "psi_by_partition",
    "rolling_psi", "chi2_by_partition", "fit_ref_category_counts",
    "streaming_monitor", "partial_count_stage", "cbpe",
])
def test_psi_counts_fused_matches_separate_paths(degenerate, counter):
    """Every keyed counter equals numpy/pandas counts by hand on one
    degenerate fixture, with both sides full, then each side empty in
    turn: an empty side gets all-zero proportions, never a KeyError."""
    rows, df = degenerate
    check = globals()[f"_check_{counter}"]
    for empty in (None, "test", "ref"):
        sides = [
            ([], df.where("false")) if side == empty
            else ([r for r in rows if r["split"] == side], df.where(f"split = '{side}'"))
            for side in ("ref", "test")
        ]
        (ref_rows, ref), (test_rows, test) = sides
        check(ref, test, ref_rows, test_rows)


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


def _chained_bucket_expr(col, edges):
    """bucket_expr as a chain of Column operators: the builder that the
    one-string SQL form replaced, kept as its oracle."""
    v = F.col(col).cast("double")
    v = F.when(~F.isnan(v), v)
    e = [float(x) for x in edges]
    bin_idx = F.lit(0)
    for interior in e[1:-1]:
        bin_idx = bin_idx + (v > F.lit(interior)).cast("int")
    return F.when((v >= F.lit(e[0])) & (v <= F.lit(e[-1])), bin_idx)


def _chained_digitize_clip_expr(col, edges, n_bins):
    v = F.col(col).cast("double")
    v = F.when(~F.isnan(v), v)
    cnt = F.lit(0)
    for cutoff in [float(x) for x in edges[:-1]]:
        cnt = cnt + (v >= F.lit(cutoff)).cast("int")
    clipped = F.least(F.greatest(cnt - F.lit(1), F.lit(0)), F.lit(n_bins - 1))
    return F.when(v.isNotNull(), clipped)


SQL_EDGE_SETS = [
    np.array([-2.0, -1.0, -0.0, 0.1 + 0.2, 1e-05, 5e-324, 1.7976931348623157e308]),
    np.array([0.0, 0.5, 3.0]),
    np.array([-np.inf, -1.5, 2.0 / 3.0, np.inf]),
    np.full(11, np.inf),  # an all-+inf reference column's edges
    np.full(11, -np.inf),
    np.array([np.nextafter(1.0, 0.0), 1.0, np.nextafter(1.0, 2.0)]),
]


@pytest.mark.parametrize("edges", SQL_EDGE_SETS, ids=range(len(SQL_EDGE_SETS)))
def test_sql_key_expressions_bin_like_the_chained_builders(spark, edges):
    """bucket_expr, digitize_clip_expr and nn, each one SQL string, give
    the bins and values of the Column-chain builders on NULL, NaN, ±inf,
    ±0.0, every edge and its two neighbours: every literal round-trips its
    double exactly."""
    finite = [float(e) for e in edges if np.isfinite(e)]
    values = [None, float("nan"), float("inf"), float("-inf"), 0.0, -0.0, 1e300, -1e300]
    with np.errstate(over="ignore"):  # the neighbour of the largest double is inf
        values += [float(x) for e in finite
                   for x in (np.nextafter(e, -np.inf), e, np.nextafter(e, np.inf))]
    df = spark.createDataFrame([(v,) for v in values], "x double")
    n_bins = max(len(edges) - 1, 1)
    got = df.select(
        "x",
        st.bucket_expr("x", edges).alias("b"),
        _chained_bucket_expr("x", edges).alias("b0"),
        st.digitize_clip_expr("x", edges, n_bins).alias("d"),
        _chained_digitize_clip_expr("x", edges, n_bins).alias("d0"),
        st.nn("x").alias("v"),
    ).collect()
    assert len(got) == len(values)
    for r in got:
        assert (r["b"], r["d"]) == (r["b0"], r["d0"]), r
        x, v = r["x"], r["v"]
        assert (v is None) == (x is None or math.isnan(x)), r
        if v is not None:
            assert np.float64(v).tobytes() == np.float64(x).tobytes(), r
