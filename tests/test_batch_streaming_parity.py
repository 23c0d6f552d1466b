"""Batch ≡ streaming: micro-batches scored by StreamingDriftMonitor give
the verdicts partition_verdicts gives the same rows as partitions."""

import math

import numpy as np
import pytest

from driftspark.streaming import StreamingDriftMonitor
from driftspark.verdicts import CHI2_OTHER_BUCKET, partition_verdicts

NUMERIC = ["w", "x"]
CATS = ["cat"]


def _batches(rng):
    """Four micro-batches of (w, x, cat) rows: stable, drifted, every
    numeric value out of the reference range (w = 100.0 leaves the tied
    reference), and one with NULL, NaN and unseen categories."""
    def rows(w, x, cat):
        return [(None if v is None else float(v), None if u is None else float(u), c)
                for v, u, c in zip(w, x, cat)]

    return [
        rows(rng.choice([1.0, 2.0, 3.0], 300, p=[0.8, 0.1, 0.1]),
             rng.normal(0, 1, 300), rng.choice(list("abcd"), 300)),
        rows(rng.choice([1.0, 2.0, 3.0], 250, p=[0.4, 0.3, 0.3]),
             rng.normal(0.7, 1, 250), rng.choice(list("abcd"), 250, p=[0.7, 0.1, 0.1, 0.1])),
        rows([100.0] * 50, [1e6] * 50, ["a"] * 50),
        rows([None, float("nan"), 2.0, 3.0] * 40, [float("nan"), None, 0.5, -0.5] * 40,
             ["b", None, "e", "c"] * 40),
    ]


def _close(got, want):
    if want is None or got is None:
        return got is want
    if math.isnan(want) or math.isinf(want):
        return repr(got) == repr(want)
    return got == pytest.approx(want, rel=1e-12, abs=0)


def test_monitor_batches_equal_partition_verdicts(spark):
    """PSI, KS and chi2 under the category cap, on a tied reference: each
    batch's monitor rows equal partition_verdicts' rows for part = batch
    on the union — keys, severity, passed and counts exactly, statistics
    and p-values to 1e-12 relative."""
    rng = np.random.RandomState(7)
    # w is tied: 3 distinct values
    ref_rows = [(w, float(x), c) for w, x, c in zip(
        [1.0] * 320 + [2.0] * 40 + [3.0] * 40, rng.normal(0, 1, 400),
        rng.choice(list("abcd"), 400))]
    batches = _batches(rng)
    schema = "w double, x double, cat string"
    ref = spark.createDataFrame(ref_rows, schema)
    union = [(*r, "ref", -1) for r in ref_rows] + [
        (*r, "test", i) for i, b in enumerate(batches) for r in b
    ]
    batch = {
        (r["part"], r["feature"], r["check"]): r
        for r in partition_verdicts(
            spark.createDataFrame(union, f"{schema}, split string, part int"),
            NUMERIC, CATS,
        ).collect()
    }

    monitor = StreamingDriftMonitor(ref, NUMERIC, cat_cols=CATS)
    streamed = {
        (i, r["feature"], r["check"]): r
        for i, b in enumerate(batches)
        for r in monitor.score_batch(spark.createDataFrame(b, schema))
    }
    assert sorted(streamed) == sorted(batch)
    assert {c for _, _, c in batch} == {"psi", "ks", "chi2"}
    for key, s in streamed.items():
        b = batch[key]
        assert (s["severity"], s["passed"], s["n_ref"], s["n_test"]) == (
            b["severity"], b["passed"], b["n_ref"], b["n_test"]), key
        assert _close(s["statistic"], b["statistic"]), (key, s, b)
        assert _close(s["p_value"], b["p_value"]), (key, s, b)
    # the out-of-range batch has no in-range value: the clamp-uniform PSI
    # against the tied reference's 0.8/0.1/0.1 fails, and KS sees the exodus
    out = streamed[2, "w", "psi"]
    assert (out["n_test"], out["severity"], out["passed"]) == (0, "critical", False)
    assert out["statistic"] == pytest.approx(0.970, abs=1e-3)
    assert not any(streamed[2, f, "ks"]["passed"] for f in NUMERIC)


def test_monitor_batches_equal_partition_verdicts_over_the_category_cap(spark):
    """chi2 over max_categories: "wide" is capped at the fit (30 reference
    categories, K = 8), "narrow" (4 reference categories) goes over the
    cap only in the batches that bring new ones.  Each batch's monitor
    rows equal partition_verdicts' rows for part = batch on the union,
    as under the cap."""
    rng = np.random.RandomState(11)
    wide = [f"w{i:02d}" for i in range(30)]
    k = 8

    def rows(n, wide_cats, narrow_cats, p=None):
        return [(float(x), w, c) for x, w, c in zip(
            rng.normal(0, 1, n), rng.choice(wide_cats, n), rng.choice(narrow_cats, n, p=p))]

    ref_rows = rows(600, wide, list("abcd"))
    batches = [
        rows(300, wide, list("abcd")),
        rows(300, wide[:5] + [f"new{i}" for i in range(6)],
             list("abcd") + [f"id{i}" for i in range(12)]),
        rows(200, wide[20:], list("ab") + [f"id{i}" for i in range(9)]),
        rows(120, wide + [None], ["a", None, "e", "f", "g", "h", "i", "j", "k"]),
    ]
    schema = "x double, wide string, narrow string"
    cats = ["wide", "narrow"]
    union = [(*r, "ref", -1) for r in ref_rows] + [
        (*r, "test", i) for i, b in enumerate(batches) for r in b
    ]
    batch = {
        (r["part"], r["feature"], r["check"]): r
        for r in partition_verdicts(
            spark.createDataFrame(union, f"{schema}, split string, part int"),
            ["x"], cats, max_categories=k,
        ).collect()
    }

    monitor = StreamingDriftMonitor(
        spark.createDataFrame(ref_rows, schema), ["x"], cat_cols=cats, max_categories=k
    )
    ref_cats = monitor.suite.fitted.ref_cats
    assert CHI2_OTHER_BUCKET in ref_cats["wide"] and len(ref_cats["wide"]) == k
    assert CHI2_OTHER_BUCKET not in ref_cats["narrow"]
    streamed = {
        (i, r["feature"], r["check"]): r
        for i, b in enumerate(batches)
        for r in monitor.score_batch(spark.createDataFrame(b, schema))
    }
    assert sorted(streamed) == sorted(batch)
    assert {(p, f) for p, f, c in batch if c == "chi2"} == {
        (p, f) for p in range(4) for f in cats}
    for key, s in streamed.items():
        b = batch[key]
        assert (s["severity"], s["passed"], s["n_ref"], s["n_test"]) == (
            b["severity"], b["passed"], b["n_ref"], b["n_test"]), key
        assert _close(s["statistic"], b["statistic"]), (key, s, b)
        assert _close(s["p_value"], b["p_value"]), (key, s, b)
