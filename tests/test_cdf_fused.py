"""Focused tests for the exact-CDF machinery (stats._cdf_prescan /
_cdf_cum_frame): the light prescan must count exactly the rows the melt
keeps, and the bucket-parallel cumulative frame must reproduce the exact
global cumulative counts a brute-force sort gives, for any bucket layout.
"""

import pathlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import driftspark.stats as st
import driftspark.verdicts as vd


@pytest.fixture(scope="module")
def frames(spark):
    rng = np.random.default_rng(7)
    ref = pd.DataFrame({
        "a": np.concatenate([rng.normal(0, 1, 400), [np.nan] * 30]),
        "b": np.concatenate([rng.integers(0, 5, 415).astype(float), [np.nan] * 15]),
    })
    test = pd.DataFrame({
        "a": np.concatenate([rng.normal(0.5, 1.2, 350), [np.nan] * 10]),
        "b": rng.integers(0, 7, 360).astype(float),
    })
    ref.loc[3, "a"] = None
    return (
        ref, test,
        spark.createDataFrame(ref), spark.createDataFrame(test),
    )


def test_prescan_counts_match_melt(frames):
    ref, test, ref_df, test_df = frames
    pres = st._cdf_prescan(ref_df, test_df, ["a", "b"], bucketed_threshold=4_000_000)
    for c in ("a", "b"):
        n, m, lo, hi, nd = pres[c]
        rv = ref[c].dropna().values
        tv = test[c].dropna().values
        assert n == len(rv) and m == len(tv)
        assert lo == min(rv.min(), tv.min()) and hi == max(rv.max(), tv.max())
        # pooled counts bound routing, so the HLL pass is skipped and nd
        # is exactly the n + m bound
        assert nd == n + m
    # threshold 0 forces the HLL refinement pass: nd becomes an estimate
    # of the true pooled distinct count (bounded by n + m within HLL rsd)
    pres0 = st._cdf_prescan(ref_df, test_df, ["a", "b"], bucketed_threshold=0)
    for c in ("a", "b"):
        n, m, _, _, nd = pres0[c]
        true_nd = len(np.unique(np.concatenate([
            ref[c].dropna().values, test[c].dropna().values])))
        assert abs(nd - true_nd) <= 0.1 * true_nd + 5


def test_prescan_survives_reserved_feature_name(spark):
    """A feature column literally named like the internal side tag must
    not collide with it (the prescan aliases every feature)."""
    ref = spark.createDataFrame(pd.DataFrame({"__s": [None, None, None]}, dtype=float))
    test = spark.createDataFrame(pd.DataFrame({"__s": [1.0, 2.0]}))
    pres = st._cdf_prescan(ref, test, ["__s"])
    n, m, lo, hi, nd = pres["__s"]
    assert (n, m) == (0, 2)  # all-NULL ref side must count 0, not 3
    # and the degenerate route must drop it like any one-sided feature
    assert st.ks_d_all(ref, test, ["__s"]) == {}


@pytest.mark.parametrize("rows_per_bucket", [50, 16_000])
def test_cum_frame_exact_cumulative_counts(frames, rows_per_bucket, monkeypatch):
    """rows_per_bucket=50 forces the MULTI-bucket layout (cross-bucket
    prefix offsets, offsets broadcast join, boundary-gap coalesce); the
    default exercises the single-bucket degenerate case."""
    monkeypatch.setattr(st, "_CDF_ROWS_PER_BUCKET", rows_per_bucket)
    ref, test, ref_df, test_df = frames
    cols = ["a", "b"]
    pres = st._cdf_prescan(ref_df, test_df, cols)
    u = st._melt(ref_df, cols).withColumn("r", F.lit(1)).withColumn("t", F.lit(0)) \
        .unionByName(st._melt(test_df, cols).withColumn("r", F.lit(0)).withColumn("t", F.lit(1)))
    g = u.groupBy("feature", "value").agg(F.sum("r").alias("r"), F.sum("t").alias("t"))
    cum = st._cdf_cum_frame(
        g, ["feature"], st._uniform_buckets(pres, cols), with_gap=True
    ).toPandas()
    for c in cols:
        sub = cum[cum.feature == c].sort_values("value").reset_index(drop=True)
        rv = np.sort(ref[c].dropna().values)
        tv = np.sort(test[c].dropna().values)
        vals = np.unique(np.concatenate([rv, tv]))
        assert np.array_equal(sub["value"].values, vals)
        # exact searchsorted-right cumulative counts on both sides
        assert np.array_equal(sub["cr"].values, np.searchsorted(rv, vals, side="right"))
        assert np.array_equal(sub["ct"].values, np.searchsorted(tv, vals, side="right"))
        # per-feature totals ride along on every row
        assert (sub["n"] == len(rv)).all() and (sub["m"] == len(tv)).all()
        # the boundary gap column is the global next distinct value
        assert np.array_equal(sub["nxt"].values[:-1], vals[1:])
        assert pd.isna(sub["nxt"].values[-1])


def test_statistics_invariant_to_fused_bucket_count(spark, frames, monkeypatch):
    """KS/W1/CvM and per-partition W1 results must be bit-identical
    whether the cumulative frame uses one bucket or many (exact prefix
    offsets + order-independent decimal sums)."""
    ref, test, ref_df, test_df = frames
    cols = ["a", "b"]
    parted = spark.createDataFrame(test.assign(part=np.arange(len(test)) % 3))

    def w1_parts():
        return sorted(tuple(r) for r in vd.w1_by_partition(ref_df, parted, cols).collect())

    base_ks = st.ks_d_all(ref_df, test_df, cols)
    base_w1 = st.wasserstein_all(ref_df, test_df, cols)
    base_cvm = st.cvm_ad_all(ref_df, test_df, cols)
    base_w1_parts = w1_parts()
    monkeypatch.setattr(st, "_CDF_ROWS_PER_BUCKET", 40)
    assert st.ks_d_all(ref_df, test_df, cols) == base_ks
    assert st.wasserstein_all(ref_df, test_df, cols) == base_w1
    assert st.cvm_ad_all(ref_df, test_df, cols) == base_cvm
    assert w1_parts() == base_w1_parts


def test_one_cumulative_window_and_one_percentile_edge_block():
    """Structural guard: the exact cumulative count has ONE home
    (_cdf_cum_frame), the equal-mass bucket edges ONE builder, and the
    keyed counts of stats, verdicts and streaming ONE melt
    (stats._melt_keys) — a hand copy of any in driftspark/ fails here."""
    pkg = pathlib.Path(st.__file__).parent
    src = "".join(p.read_text() for p in pkg.glob("*.py"))
    assert src.count("rowsBetween(Window.unboundedPreceding, Window.currentRow)") == 1
    assert src.count("percentile_approx(") == 1
    counters = "".join(
        (pkg / f).read_text() for f in ("stats.py", "verdicts.py", "streaming.py")
    )
    assert counters.count("F.explode(F.array(") == 1
