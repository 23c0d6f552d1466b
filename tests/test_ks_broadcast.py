"""Broadcast-ECDF per-partition KS == numpy oracle; distributed ECDF
thinning keeps exact cumulative counts."""

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from driftspark import numerics as nm
from driftspark.synth import synth_image_table
import driftspark.stats as st
from driftspark.verdicts import ks_d_by_partition_broadcast


def test_broadcast_ks_matches_oracle(spark):
    t = synth_image_table(spark, 8000, n_parts=4, drift=True, with_bytes=False).cache()
    ref = t.where("split='ref'")
    test = t.where("split='test'")
    cols = ["w", "phash"]
    bc = {
        (r["part"], r["feature"]): (r["d"], r["n"], r["m"])
        for r in ks_d_by_partition_broadcast(ref, test, cols).collect()
    }
    assert set(bc) == {(p, f) for p in range(4) for f in cols}
    ref_pdf = ref.select(*cols).toPandas()
    test_pdf = test.select("part", *cols).toPandas()
    for (part, feat), (d, n, m) in bc.items():
        tv = test_pdf[test_pdf["part"] == part][feat].values.astype(float)
        rv = ref_pdf[feat].values.astype(float)
        oracle = nm.ks_2samp_d(rv, tv)
        assert d == pytest.approx(oracle, abs=1e-12), (part, feat)
        assert (n, m) == (len(rv), len(tv))


def test_broadcast_ks_with_ties_and_duplicates(spark):
    # heavy ties: w/h take only 3 values — ECDF step logic must be exact
    t = synth_image_table(spark, 3000, n_parts=2, drift=False, with_bytes=False).cache()
    ref = t.where("split='ref'")
    test = t.where("split='test'")
    bc = {
        (r["part"], r["feature"]): r["d"]
        for r in ks_d_by_partition_broadcast(ref, test, ["w", "h"]).collect()
    }
    ref_pdf = ref.select("w", "h").toPandas()
    test_pdf = test.select("part", "w", "h").toPandas()
    for (part, feat), d in bc.items():
        oracle = nm.ks_2samp_d(
            ref_pdf[feat].values.astype(float),
            test_pdf[test_pdf["part"] == part][feat].values.astype(float),
        )
        assert d == pytest.approx(oracle, abs=1e-12)


def test_distributed_ecdf_thinning(spark, monkeypatch):
    """fit_ks_reference_ecdf thins features above their share of the cap
    WITHOUT collecting the full distinct set: retained points stay <= cap
    (+ exact last point), every retained cumulative count equals the exact
    ECDF at that value, and features under the cap come back bit-exact."""
    import pandas as pd

    from driftspark.verdicts import _ecdf_share, fit_ks_reference_ecdf

    rng = np.random.RandomState(3)
    big_vals = rng.normal(0, 1, 5000)           # ~5000 distinct > cap
    small_vals = rng.randint(0, 50, 5000)       # 50 distinct < cap
    ref = spark.createDataFrame(
        pd.DataFrame({"big": big_vals, "small": small_vals.astype(float)})
    )
    cap = 500
    assert _ecdf_share(cap, 2) == cap  # each feature's share is the whole cap
    monkeypatch.setattr(st, "_CDF_PERCENTILE_BUCKETS", 8)
    ecdf = fit_ks_reference_ecdf(ref, ["big", "small"], cap)

    # exact oracle
    def exact(vals):
        v, c = np.unique(vals, return_counts=True)
        return v, np.cumsum(c)

    ev, ec = exact(small_vals.astype(float))
    assert np.array_equal(ecdf["small"][0], ev)
    assert np.array_equal(ecdf["small"][1], ec)
    assert ecdf["small"][2] == 5000

    bv, bc = exact(big_vals)
    tv, tc, n = ecdf["big"]
    assert n == 5000
    assert len(tv) <= cap + 1
    assert tv[-1] == bv[-1] and tc[-1] == 5000
    assert np.all(np.diff(tv) > 0)
    # every retained point carries the EXACT cumulative count
    idx = np.searchsorted(bv, tv)
    assert np.array_equal(bc[idx], tc)
    # thinning is uniform in rank: gaps bounded by the stride
    stride = len(bv) // cap + 1
    assert np.max(np.diff(np.concatenate([[0], idx]))) <= stride


def test_broadcast_ks_exact_under_cap_and_close_when_thinned(spark):
    """KS D with a thinned reference ECDF stays within the documented
    resolution bound of the exact D."""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.RandomState(11)
    ref = rng.normal(0, 1, 8000)
    test = rng.normal(0.3, 1, 4000)
    rows = pd.concat([
        pd.DataFrame({"split": "ref", "part": 0, "x": ref}),
        pd.DataFrame({"split": "test", "part": 0, "x": test}),
    ])
    df = spark.createDataFrame(rows)
    rdf = df.where(F.col("split") == "ref")
    tdf = df.where(F.col("split") == "test")

    exact_d = ks_d_by_partition_broadcast(rdf, tdf, ["x"]).first()["d"]
    # numpy oracle
    allv = np.sort(np.concatenate([ref, test]))
    d_np = np.max(np.abs(
        np.searchsorted(np.sort(ref), allv, side="right") / len(ref)
        - np.searchsorted(np.sort(test), allv, side="right") / len(test)
    ))
    assert exact_d == pytest.approx(d_np, abs=1e-12)

    thin_d = ks_d_by_partition_broadcast(
        rdf, tdf, ["x"], max_ref_ecdf_points=400
    ).first()["d"]
    stride = len(np.unique(ref)) // 400 + 1
    assert abs(thin_d - exact_d) <= stride / len(ref) + 1e-12


def test_thinned_ecdf_mass_aware_zero_inflated(spark, monkeypatch):
    """Retention is uniform in MASS: a zero-inflated feature (one value
    holding 50% of rows) keeps its heavy head point, so the thinned KS-D
    error stays within 1/max_points even under frequency skew."""
    import pandas as pd

    from driftspark.verdicts import fit_ks_reference_ecdf

    rng = np.random.RandomState(7)
    vals = np.concatenate([np.zeros(5000), rng.uniform(1, 2, 5000)])
    ref = spark.createDataFrame(pd.DataFrame({"z": vals}))
    cap = 100
    monkeypatch.setattr(st, "_CDF_PERCENTILE_BUCKETS", 8)
    tv, tc, n = fit_ks_reference_ecdf(ref, ["z"], cap)["z"]
    assert n == 10000
    assert len(tv) <= cap + 1
    assert tv[0] == 0.0 and tc[0] == 5000  # the heavy head IS retained
    # exact cum at every retained point + mass gaps below one quantum
    uv, uc = np.unique(vals, return_counts=True)
    exact_cum = np.cumsum(uc)
    idx = np.searchsorted(uv, tv)
    assert np.array_equal(exact_cum[idx], tc)
    gaps = np.diff(np.concatenate([[0], tc]))
    assert gaps.max() <= -(-n // cap) + uc.max() - 1  # quantum + own mass


def test_preagg_and_raw_paths_bit_identical(spark, monkeypatch):
    """ks_d_against_ecdf returns bit-identical (d, n, m) per group on all
    three routes: preaggregated counts scored on the driver, the same
    counts in pandas groups once they are over the driver-row budget, and
    raw values in pandas groups — the weighted-unique math equals sorting
    raw."""
    import pandas as pd

    import driftspark.verdicts as vd
    from driftspark.verdicts import fit_ks_reference_ecdf, ks_d_against_ecdf

    rng = np.random.RandomState(31)
    ref = spark.createDataFrame(pd.DataFrame({
        "x": rng.normal(0, 1, 3000),
        "q": rng.randint(0, 5, 3000).astype(float),  # heavily quantized
    }))
    test = spark.createDataFrame(pd.DataFrame({
        "x": rng.normal(0.5, 1, 3000),
        "q": rng.randint(0, 5, 3000).astype(float),
        "part": rng.randint(0, 3, 3000),
    }))
    # fitted before the budget shrinks: the budget also thins the fit
    ecdf = fit_ks_reference_ecdf(ref, ["x", "q"])

    def route(preaggregate):
        out = ks_d_against_ecdf(test, ["x", "q"], ecdf, preaggregate=preaggregate)
        plan = out._jdf.queryExecution().analyzed().toString()
        rows = {(r["part"], r["feature"]): (r["d"], r["n"], r["m"]) for r in out.collect()}
        return rows, "FlatMapGroupsInPandas" in plan

    driver, driver_udf = route(True)
    raw, raw_udf = route(False)
    monkeypatch.setattr(vd, "MAX_REF_ECDF_POINTS", 100)
    over_budget, over_budget_udf = route(True)
    assert (driver_udf, over_budget_udf, raw_udf) == (False, True, True)
    assert driver == over_budget == raw and len(driver) == 6


def test_suite_scores_ks_from_its_shared_count(spark, monkeypatch):
    """With ks_preaggregate, the verdict suite's KS rows come from its one
    PSI/chi2 count, not from a KS job chain of their own: D, n and m are
    bit-identical to ks_d_against_ecdf's preaggregated and raw routes,
    within the driver-row budget and over it, where the same count's KS
    rows go to the pandas groups.  NULL parts and NaN values are not
    scored."""
    import pandas as pd

    import driftspark.verdicts as vd
    from driftspark.verdicts import _VerdictSuite, ks_d_against_ecdf

    rng = np.random.RandomState(37)
    n = 3000
    ref = spark.createDataFrame(pd.DataFrame({
        "x": rng.normal(0, 1, n),
        "q": rng.randint(0, 5, n).astype(float),
        "c": rng.choice(["a", "b", "c"], n),
    }))
    x = rng.normal(0.5, 1, n)
    x[::97] = np.nan
    part = rng.randint(0, 3, n).astype(float)
    part[::89] = np.nan
    test = spark.createDataFrame(pd.DataFrame({
        "x": x, "q": rng.randint(0, 5, n).astype(float),
        "c": rng.choice(["a", "b", "d"], n), "part": part,
    })).withColumn("part", F.col("part").cast("int"))
    suite = _VerdictSuite(ref, ["x", "q"], ["c"], ks_preaggregate=True).fit()
    ecdf = suite.fitted.ecdf

    def suite_ks():
        return {(r[0], r[1]): (r[3], r[7], r[8]) for r in suite.rows(test) if r[2] == "ks"}

    def route(preaggregate):
        out = ks_d_against_ecdf(test, ["x", "q"], ecdf, preaggregate=preaggregate)
        return {(r["part"], r["feature"]): (r["d"], r["n"], r["m"]) for r in out.collect()}

    separate = Counter()
    real_ks, real_groups = vd.ks_d_against_ecdf, vd._ks_d_in_groups
    monkeypatch.setattr(vd, "ks_d_against_ecdf", lambda *a, **k: (
        separate.update(["ks_d_against_ecdf"]), real_ks(*a, **k))[1])
    monkeypatch.setattr(vd, "_ks_d_in_groups", lambda *a, **k: (
        separate.update(["pandas_groups"]), real_groups(*a, **k))[1])
    within = suite_ks()
    assert separate == Counter()
    monkeypatch.setattr(vd, "MAX_REF_ECDF_POINTS", 100)
    over_budget = suite_ks()
    assert separate == {"pandas_groups": 1}
    monkeypatch.undo()
    want = route(True)
    assert want == route(False) and len(want) == 6
    assert within == over_budget == want
