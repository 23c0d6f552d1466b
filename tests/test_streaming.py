"""Structured Streaming drift monitor: real streaming query, batch parity."""

import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import driftspark.verdicts as vd
from driftspark.streaming import StreamingDriftMonitor


def _batch_cat_counts(monitor, batch_df):
    """{feature: capped category counts} of one micro-batch: the counts
    the monitor's chi2 rows score, from its suite's count of the batch as
    one partition."""
    suite = monitor.suite
    _, _, _, cats, _ = vd._score_counts(
        None, batch_df.withColumn(suite.part_col, F.lit(0)), {}, suite.cat_cols,
        suite.part_col, suite.max_categories, suite.fitted.ref_cats,
    )
    return {f: m for (_, f), m in cats.items()}


def test_streaming_drift_monitor_end_to_end(spark):
    tmp = tempfile.mkdtemp()
    try:
        rng = np.random.RandomState(42)
        ref_pdf = pd.DataFrame({"x": rng.normal(0, 1, 3000), "y": rng.normal(5, 2, 3000)})
        ref_df = spark.createDataFrame(ref_pdf)
        monitor = StreamingDriftMonitor(ref_df, ["x", "y"], psi_threshold=0.2)

        # land two micro-batch files: one stable, one drifted
        stable = pd.DataFrame({"x": rng.normal(0, 1, 2000), "y": rng.normal(5, 2, 2000)})
        drifted = pd.DataFrame({"x": rng.normal(2, 1, 2000), "y": rng.normal(5, 2, 2000)})
        spark.createDataFrame(stable).coalesce(1).write.parquet(f"{tmp}/in/b0")
        spark.createDataFrame(drifted).coalesce(1).write.parquet(f"{tmp}/in/b1")

        stream = (
            spark.readStream.schema("x double, y double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/*")
        )
        q = monitor.start(stream, f"{tmp}/sink", f"{tmp}/ckpt")
        assert q.awaitTermination(120), "stream timed out"

        out = spark.read.parquet(f"{tmp}/sink").toPandas()
        assert set(out["feature"]) == {"x", "y"}
        assert set(out["check"]) == {"psi", "ks"}
        assert len(out) == 8  # 2 batches x 2 features x 2 checks
        psi_out = out[out["check"] == "psi"]
        by = psi_out.set_index(["batch_id", "feature"])
        # y is stable in both batches
        assert by.loc[(0, "y"), "passed"] and by.loc[(1, "y"), "passed"]
        # exactly one batch drifts on x
        x_pass = sorted([bool(by.loc[(0, "x"), "passed"]), bool(by.loc[(1, "x"), "passed"])])
        assert x_pass == [False, True]
        failed_x = by[(~by["passed"]) & (by.index.get_level_values("feature") == "x")]
        assert (failed_x["statistic"] > 1.0).all()
        assert (failed_x["severity"] == "critical").all()
        # KS agrees: the drifted batch fails x, both batches pass y
        ks_by = out[out["check"] == "ks"].set_index(["batch_id", "feature"])
        assert ks_by.loc[(0, "y"), "passed"] and ks_by.loc[(1, "y"), "passed"]
        assert sorted(
            [bool(ks_by.loc[(0, "x"), "passed"]), bool(ks_by.loc[(1, "x"), "passed"])]
        ) == [False, True]

        # streaming == batch numerics: score the drifted frame directly
        direct = {
            (r["check"], r["feature"]): r["statistic"]
            for r in monitor.score_batch(spark.createDataFrame(drifted))
        }
        drifted_psi = psi_out[(~psi_out["passed"]) & (psi_out["feature"] == "x")]
        assert direct[("psi", "x")] == pytest.approx(
            float(drifted_psi["statistic"].iloc[0]), abs=1e-12
        )

        # stream KS D == batch KS D on identical rows: the foreachBatch
        # path (broadcast thinned ECDF) must equal the batch two-sample
        # path (stats.ks_d_all) exactly
        from driftspark.stats import ks_d_all

        batch_ks = ks_d_all(ref_df, spark.createDataFrame(drifted), ["x", "y"])
        ks_fail = out[(out["check"] == "ks") & (~out["passed"]) & (out["feature"] == "x")]
        assert float(ks_fail["statistic"].iloc[0]) == pytest.approx(
            batch_ks["x"][0], abs=1e-12
        )
        assert direct[("ks", "y")] == pytest.approx(batch_ks["y"][0], abs=1e-12)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_cumulative_psi_stateful_stream(spark):
    """applyInPandasWithState operator: state accumulates across
    micro-batches — the emitted PSI after batch 2 equals the BATCH psi of
    batch1+batch2 together, catching slow drift no single batch shows."""
    import tempfile as _tf

    from driftspark.numerics import psi_from_proportions
    from driftspark.stats import histogram_proportions, quantile_edges
    from driftspark.streaming import cumulative_psi_stream

    tmp = tempfile.mkdtemp()
    try:
        rng = np.random.RandomState(7)
        ref_pdf = pd.DataFrame({"x": rng.normal(0, 1, 4000)})
        ref_df = spark.createDataFrame(ref_pdf)
        edges = quantile_edges(ref_df, ["x"], 10)
        ref_props = {
            c: p[0] for c, p in histogram_proportions(ref_df, ref_df, edges).items()
        }

        # two mildly-drifted batches: each alone is weak, together stronger
        b0 = pd.DataFrame({"x": rng.normal(0.5, 1, 1500)})
        b1 = pd.DataFrame({"x": rng.normal(0.5, 1, 1500)})
        spark.createDataFrame(b0).coalesce(1).write.parquet(f"{tmp}/in/b0")
        spark.createDataFrame(b1).coalesce(1).write.parquet(f"{tmp}/in/b1")

        stream = (
            spark.readStream.schema("x double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/*")
        )
        out_stream = cumulative_psi_stream(stream, edges, ref_props)
        q = (
            out_stream.writeStream.format("memory")
            .queryName("cumpsi")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream timed out"

        updates = spark.sql("SELECT * FROM cumpsi").toPandas()
        # one update row per trigger; the final one has seen everything
        final = updates.sort_values("n_seen").iloc[-1]

        # oracle: batch PSI over the union of both batches; n_seen counts
        # IN-RANGE values only (pd.cut parity — out-of-edges rows are
        # excluded from counts and denominator alike)
        from driftspark.stats import bucket_expr

        both = spark.createDataFrame(pd.concat([b0, b1]))
        in_range = both.where(bucket_expr("x", edges["x"]).isNotNull()).count()
        assert final["n_seen"] == in_range
        assert in_range >= 2990  # nearly everything lands in the fitted range
        test_p = histogram_proportions(both, both, edges)["x"][0]
        expect = psi_from_proportions(ref_props["x"], test_p)
        assert final["psi"] == pytest.approx(expect, abs=1e-12)
        assert final["severity"] in {"none", "low", "medium", "high", "critical"}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_chi2_equals_batch(spark):
    """Stream chi2 on a micro-batch equals chi2_by_partition on the same
    rows (single partition), and a reweighted categorical fails."""
    from driftspark.streaming import StreamingDriftMonitor
    from driftspark.verdicts import chi2_by_partition

    rng = np.random.RandomState(11)
    ref_pdf = pd.DataFrame({
        "x": rng.normal(0, 1, 3000),
        "cat": rng.choice(["a", "b", "c"], 3000, p=[0.5, 0.3, 0.2]),
    })
    drift_pdf = pd.DataFrame({
        "x": rng.normal(0, 1, 2000),
        "cat": rng.choice(["a", "b", "c"], 2000, p=[0.1, 0.2, 0.7]),
    })
    ref_df = spark.createDataFrame(ref_pdf)
    monitor = StreamingDriftMonitor(ref_df, ["x"], cat_cols=["cat"])
    rows = {
        (r["check"], r["feature"]): r
        for r in monitor.score_batch(spark.createDataFrame(drift_pdf))
    }
    assert not rows[("chi2", "cat")]["passed"]

    batch = chi2_by_partition(
        ref_df,
        spark.createDataFrame(drift_pdf.assign(part="p0")),
        ["cat"],
    )[0]
    assert rows[("chi2", "cat")]["statistic"] == pytest.approx(batch["stat"], abs=1e-12)
    assert rows[("chi2", "cat")]["p_value"] == pytest.approx(batch["p"], abs=1e-12)


def test_streaming_psi_equals_batch(spark):
    """One partition's test rows scored as a micro-batch give the PSI
    statistic and pass/fail that partition_verdicts gives that partition:
    both fit the same edges and run numerics.psi_from_proportions."""
    from driftspark.synth import synth_image_table
    from driftspark.verdicts import partition_verdicts

    t = synth_image_table(spark, 8000, n_parts=4, drift=True, with_bytes=False).cache()
    batch = {
        (r["part"], r["feature"]): r
        for r in partition_verdicts(t, numeric_cols=["w", "h"], ks_cols=[])
        .where("check = 'psi'")
        .collect()
    }
    monitor = StreamingDriftMonitor(t.where("split = 'ref'"), ["w", "h"], ks_cols=[])
    for part in (0, 3):
        rows = monitor.score_batch(t.where(f"split = 'test' AND part = {part}"))
        assert {r["feature"] for r in rows} == {"w", "h"}
        for r in rows:
            b = batch[(part, r["feature"])]
            assert r["statistic"] == pytest.approx(b["statistic"], rel=1e-12, abs=0)
            assert r["passed"] == b["passed"]
    t.unpersist()


def test_streaming_chi2_capped_feature_bounded_collect(spark):
    """When the fitted reference capped a feature, batch-side tail/unseen
    categories remap into __chi2_other__, NULLs stay excluded, and the
    verdict is still computable."""
    from driftspark.streaming import StreamingDriftMonitor
    from driftspark.verdicts import CHI2_OTHER_BUCKET

    rng = np.random.RandomState(13)
    ref_pdf = pd.DataFrame({
        "x": rng.normal(0, 1, 2000),
        "cat": ["hot"] * 1000 + [f"tail-{i}" for i in range(1000)],
    })
    monitor = StreamingDriftMonitor(
        spark.createDataFrame(ref_pdf), ["x"], cat_cols=["cat"], max_categories=10
    )
    ref_cats = monitor.suite.fitted.ref_cats["cat"]
    assert CHI2_OTHER_BUCKET in ref_cats  # the fit capped the feature
    assert len(ref_cats) <= 10

    batch_pdf = pd.DataFrame({
        "x": rng.normal(0, 1, 1200),
        "cat": ["hot"] * 400 + [f"junk-{i}" for i in range(700)] + [None] * 100,
    })
    rows = {
        (r["check"], r["feature"]): r
        for r in monitor.score_batch(spark.createDataFrame(batch_pdf))
    }
    r = rows[("chi2", "cat")]
    assert np.isfinite(r["statistic"]) and 0.0 <= r["p_value"] <= 1.0


def test_streaming_payload_validation(spark):
    """Continuously-landing pre-joined payload pairs get per-row
    PSNR/caption verdicts per micro-batch, equal to the batch validator
    on the same rows (north-rule invariant in the streaming surface)."""
    from driftspark.imageops import validate_image_payloads_paired
    from driftspark.streaming import start_payload_validation_stream
    from driftspark.synth import synth_image_pairs_wide

    tmp = tempfile.mkdtemp()
    try:
        # violation cadence low enough that both batches contain failures
        pairs = synth_image_pairs_wide(
            spark, 60, corrupt_every=10, caption_edit_every=15, num_partitions=2
        ).cache()
        pdf = pairs.toPandas()
        half = len(pdf) // 2
        spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.parquet(f"{tmp}/in/b0")
        spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.parquet(f"{tmp}/in/b1")

        stream = (
            spark.readStream.schema(pairs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/*")
        )
        q = start_payload_validation_stream(stream, f"{tmp}/sink", f"{tmp}/ckpt")
        assert q.awaitTermination(120), "stream timed out"

        out = spark.read.parquet(f"{tmp}/sink").toPandas()
        assert len(out) == 60
        assert set(out["batch_id"]) == {0, 1}
        batch = validate_image_payloads_paired(pairs).toPandas()
        got = out.sort_values("image_id")
        want = batch.sort_values("image_id")
        assert got["pixels_ok"].tolist() == want["pixels_ok"].tolist()
        assert got["caption_ok"].tolist() == want["caption_ok"].tolist()
        assert not want["pixels_ok"].all() and not want["caption_ok"].all()
        pairs.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_cumulative_ks_stateful_stream(spark):
    """Cumulative KS operator: grid-histogram state accumulates across
    micro-batches; the final emitted D equals a numpy re-derivation on the
    union at the same grid (exact) and approximates the true two-sample D
    within grid resolution."""
    from driftspark.numerics import ks_2samp_pvalue
    from driftspark.stats import ks_d_all
    from driftspark.streaming import cumulative_ks_stream, fit_ks_grid

    tmp = tempfile.mkdtemp()
    try:
        rng = np.random.RandomState(17)
        ref_pdf = pd.DataFrame({"x": rng.normal(0, 1, 5000)})
        ref_df = spark.createDataFrame(ref_pdf)
        grid = fit_ks_grid(ref_df, ["x"], n_grid=256)

        b0 = pd.DataFrame({"x": rng.normal(0.4, 1, 1500)})
        b1 = pd.DataFrame({"x": rng.normal(0.4, 1, 1500)})
        spark.createDataFrame(b0).coalesce(1).write.parquet(f"{tmp}/in/b0")
        spark.createDataFrame(b1).coalesce(1).write.parquet(f"{tmp}/in/b1")

        stream = (
            spark.readStream.schema("x double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/*")
        )
        q = (
            cumulative_ks_stream(stream, grid)
            .writeStream.format("memory")
            .queryName("cumks")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream timed out"

        updates = spark.sql("SELECT * FROM cumks").toPandas()
        final = updates.sort_values("n_seen").iloc[-1]
        assert final["n_seen"] == 3000

        # exact oracle at the same grid
        g, ref_cdf, n_ref = grid["x"]
        both = np.concatenate([b0["x"].values, b1["x"].values])
        t_cdf = np.searchsorted(np.sort(both), g, side="right") / len(both)
        expect_d = float(np.max(np.abs(ref_cdf - t_cdf)))
        assert final["ks_d"] == pytest.approx(expect_d, abs=1e-12)
        assert final["p_value"] == pytest.approx(
            ks_2samp_pvalue(expect_d, n_ref, 3000), abs=1e-12
        )

        # within grid resolution of the true full-sample two-sample D
        true_d = ks_d_all(ref_df, spark.createDataFrame(pd.DataFrame({"x": both})), ["x"])["x"][0]
        assert abs(final["ks_d"] - true_d) <= 2.0 / 256 + 0.01
        # the 0.4-sigma cumulative shift is detected
        assert not final["passed"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_cumulative_chi2_stateful_stream(spark):
    """Cumulative chi2 operator: category-count state accumulates; the
    final emitted statistic equals chi2_from_count_maps on the union."""
    from driftspark.streaming import cumulative_chi2_stream
    from driftspark.verdicts import chi2_from_count_maps, fit_ref_category_counts

    tmp = tempfile.mkdtemp()
    try:
        rng = np.random.RandomState(23)
        ref_pdf = pd.DataFrame({
            "cat": rng.choice(["a", "b", "c"], 4000, p=[0.5, 0.3, 0.2])
        })
        ref_counts, _ = fit_ref_category_counts(
            spark.createDataFrame(ref_pdf), ["cat"]
        )
        b0 = pd.DataFrame({"cat": rng.choice(["a", "b", "c"], 1200, p=[0.3, 0.3, 0.4])})
        b1 = pd.DataFrame({"cat": rng.choice(["a", "b", "c"], 1200, p=[0.3, 0.3, 0.4])})
        spark.createDataFrame(b0).coalesce(1).write.parquet(f"{tmp}/in/b0")
        spark.createDataFrame(b1).coalesce(1).write.parquet(f"{tmp}/in/b1")

        stream = (
            spark.readStream.schema("cat string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/*")
        )
        q = (
            cumulative_chi2_stream(stream, ref_counts)
            .writeStream.format("memory")
            .queryName("cumchi")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream timed out"

        final = spark.sql("SELECT * FROM cumchi").toPandas().sort_values("n_seen").iloc[-1]
        assert final["n_seen"] == 2400
        both = pd.concat([b0, b1])["cat"].value_counts().to_dict()
        stat, p, _, _ = chi2_from_count_maps(ref_counts["cat"], both)
        assert final["chi2_stat"] == pytest.approx(stat, abs=1e-9)
        assert final["p_value"] == pytest.approx(p, abs=1e-12)
        assert not final["passed"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_chi2_uncapped_feature_guarded_collect(spark):
    """A feature UNDER the cap at fit time but high-cardinality in an
    incoming micro-batch (ids landing in a cat col) is still capped:
    batch categories past max_categories fold into __chi2_other__, ranked
    reference-members-first, and the statistic equals the same fold
    computed in pandas."""
    from driftspark.streaming import StreamingDriftMonitor
    from driftspark.verdicts import CHI2_OTHER_BUCKET, chi2_from_count_maps

    rng = np.random.RandomState(17)
    ref_pdf = pd.DataFrame({
        "x": rng.normal(0, 1, 1000),
        "cat": rng.choice(["a", "b", "c"], 1000),
    })
    monitor = StreamingDriftMonitor(
        spark.createDataFrame(ref_pdf), ["x"], cat_cols=["cat"], max_categories=10
    )
    ref_cats = monitor.suite.fitted.ref_cats["cat"]
    assert CHI2_OTHER_BUCKET not in ref_cats  # under cap at fit time

    batch_cats = ["a"] * 300 + ["b"] * 300 + [f"id-{i}" for i in range(500)]
    batch_pdf = pd.DataFrame({
        "x": rng.normal(0, 1, len(batch_cats)), "cat": batch_cats,
    })
    rows = {
        (r["check"], r["feature"]): r
        for r in monitor.score_batch(spark.createDataFrame(batch_pdf))
    }

    # pandas mirror of the guard: ref members first, then (count desc, v);
    # keep in-ref or rank < max_categories, fold the rest
    counts = pd.Series(batch_cats).value_counts().to_dict()
    ranked = sorted(
        counts,
        key=lambda v: (v not in ref_cats, -counts[v], v),
    )
    tmap: dict = {}
    for rn, v in enumerate(ranked, start=1):
        keep = v in ref_cats or rn < 10
        key = v if keep else CHI2_OTHER_BUCKET
        tmap[key] = tmap.get(key, 0) + counts[v]
    assert tmap[CHI2_OTHER_BUCKET] == 493  # 500 novel ids, 7 kept
    # assert the COLLECTED COUNT MAP itself: the chi-square is inf on both
    # sides here (novel categories have ref count 0), so a statistic-only
    # comparison could not catch a wrong or missing fold
    got_map = _batch_cat_counts(monitor, spark.createDataFrame(batch_pdf))["cat"]
    assert got_map == tmap
    stat, p, _, _ = chi2_from_count_maps(monitor.suite.fitted.ref_cats["cat"], tmap)
    r = rows[("chi2", "cat")]
    assert r["statistic"] == pytest.approx(stat, abs=1e-12)
    assert r["p_value"] == pytest.approx(p, abs=1e-12)


def test_streaming_chi2_novel_cats_under_cap_kept_separate(spark):
    """Novel batch categories BELOW the cap are NOT folded — the guarded
    path is bit-identical to plain union-aligned chi2."""
    from driftspark.streaming import StreamingDriftMonitor
    from driftspark.verdicts import chi2_from_count_maps

    rng = np.random.RandomState(19)
    ref_pdf = pd.DataFrame({
        "x": rng.normal(0, 1, 900),
        "cat": rng.choice(["a", "b", "c"], 900),
    })
    monitor = StreamingDriftMonitor(
        spark.createDataFrame(ref_pdf), ["x"], cat_cols=["cat"], max_categories=10
    )
    batch_cats = ["a"] * 200 + ["new1"] * 50 + ["new2"] * 30 + ["new3"] * 20
    batch_pdf = pd.DataFrame({
        "x": rng.normal(0, 1, len(batch_cats)), "cat": batch_cats,
    })
    rows = {
        (r["check"], r["feature"]): r
        for r in monitor.score_batch(spark.createDataFrame(batch_pdf))
    }
    tmap = pd.Series(batch_cats).value_counts().to_dict()
    # the map assertion is the real check (the statistic is inf on both
    # sides because of the novel categories): nothing may fold
    got_map = _batch_cat_counts(monitor, spark.createDataFrame(batch_pdf))["cat"]
    assert got_map == tmap
    stat, p, _, _ = chi2_from_count_maps(monitor.suite.fitted.ref_cats["cat"], tmap)
    assert rows[("chi2", "cat")]["statistic"] == pytest.approx(stat, abs=1e-12)
    assert rows[("chi2", "cat")]["p_value"] == pytest.approx(p, abs=1e-12)


def test_cumulative_chi2_stream_partials_and_unseen_fold(spark):
    """The cumulative chi2 stream pre-aggregates per-partition partial
    counts BEFORE the stateful shuffle (the plan carries a MapInPandas
    stage upstream of the stateful op, so the state task receives
    aggregated (feature, v, c) rows, never raw values), and folds every
    category outside the fitted reference set into __chi2_other__ so the
    checkpointed state stays bounded forever."""
    from driftspark.streaming import cumulative_chi2_stream
    from driftspark.verdicts import (
        CHI2_OTHER_BUCKET,
        chi2_from_count_maps,
        fit_ref_category_counts,
    )

    tmp = tempfile.mkdtemp()
    try:
        rng = np.random.RandomState(29)
        # 4 reference categories fitted with max_categories=3: the fit caps
        # to top-2 + __chi2_other__, so the other-bucket has a NONZERO
        # reference count and the cumulative chi-square stays FINITE — an
        # all-unseen fold with ref(other)=0 gives inf on both sides and
        # the statistic assertions below would be vacuous
        ref_pdf = pd.DataFrame({
            "cat": rng.choice(["a", "b", "c", "d"], 3000, p=[0.5, 0.3, 0.15, 0.05])
        })
        ref_counts, capped = fit_ref_category_counts(
            spark.createDataFrame(ref_pdf), ["cat"], max_categories=3
        )
        assert capped == {"cat"}
        from driftspark.verdicts import CHI2_OTHER_BUCKET as OTHER
        assert set(ref_counts["cat"]) == {"a", "b", OTHER}
        assert ref_counts["cat"][OTHER] > 0
        b0 = pd.DataFrame({"cat": ["a"] * 400 + ["b"] * 300 + ["zzz-novel"] * 100})
        b1 = pd.DataFrame({"cat": ["a"] * 300 + [f"id-{i}" for i in range(200)]})
        spark.createDataFrame(b0).coalesce(1).write.parquet(f"{tmp}/in/b0")
        spark.createDataFrame(b1).coalesce(1).write.parquet(f"{tmp}/in/b1")

        stream = (
            spark.readStream.schema("cat string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/*")
        )
        out_df = cumulative_chi2_stream(stream, ref_counts)
        plan = out_df._jdf.queryExecution().analyzed().toString()
        i_map, i_state = plan.find("MapInPandas"), plan.find("FlatMapGroupsInPandasWithState")
        assert i_map != -1 and i_state != -1
        # analyzed plans print top-down: the stateful op appears BEFORE
        # (above) the MapInPandas stage it consumes
        assert i_state < i_map

        q = (
            out_df.writeStream.format("memory")
            .queryName("cumchi2guard")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream timed out"

        final = (
            spark.sql("SELECT * FROM cumchi2guard")
            .toPandas().sort_values("n_seen").iloc[-1]
        )
        assert final["n_seen"] == 1300
        tmap = {"a": 700, "b": 300, CHI2_OTHER_BUCKET: 300}  # all novel folded
        stat, p, _, _ = chi2_from_count_maps(ref_counts["cat"], tmap)
        assert np.isfinite(stat) and 0.0 < p < 1.0  # a REAL comparison
        assert final["chi2_stat"] == pytest.approx(stat, abs=1e-9)
        assert final["p_value"] == pytest.approx(p, abs=1e-12)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_module_has_no_rdd_conversions():
    """No .rdd anywhere in the streaming module: emptiness probing and
    scoring must stay JVM-side (a .rdd conversion pickle-evaluates
    binary payload rows through the Python RDD path every trigger)."""
    import inspect

    import driftspark.streaming as m

    assert ".rdd" not in inspect.getsource(m)


def test_streaming_module_has_one_cumulative_count_operator():
    """The cumulative PSI, KS and chi2 streams share one stateful
    operator: the module calls applyInPandasWithState three times (that
    operator, the embedding stream and the silence stream)."""
    import inspect

    import driftspark.streaming as m

    assert inspect.getsource(m).count("applyInPandasWithState(") == 3


def test_cumulative_psi_trigger_without_in_range_rows_emits_nothing(spark):
    """A trigger whose rows are all out of the fitted range or NULL/NaN
    for a feature gives that feature no partial rows, so the stateful
    update is not called for it and no row is emitted; the other feature
    still scores, and a later in-range trigger scores only its own
    counts."""
    from driftspark.stats import quantile_edges
    from driftspark.streaming import cumulative_psi_stream

    tmp = tempfile.mkdtemp()
    try:
        rng = np.random.RandomState(53)
        ref_df = spark.createDataFrame(
            pd.DataFrame({"x": rng.normal(0, 1, 2000), "y": rng.normal(0, 1, 2000)})
        )
        edges = quantile_edges(ref_df, ["x", "y"], 10)
        props = {c: np.full(10, 0.1) for c in edges}
        lo, hi = float(edges["x"][0]), float(edges["x"][-1])
        # rows, not pandas: a pandas NaN would reach Spark as NULL
        x0 = [lo - 1.0, hi + 1.0, None, float("nan")] * 25
        b0 = list(zip(x0, rng.normal(0, 1, 100).tolist()))
        b1 = pd.DataFrame({"x": rng.normal(0, 1, 50), "y": rng.normal(0, 1, 50)})
        for name, b in (("b0", b0), ("b1", b1)):
            spark.createDataFrame(b, "x double, y double").coalesce(1).write.parquet(
                f"{tmp}/in/{name}"
            )
        stream = (
            spark.readStream.schema("x double, y double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/*")
        )
        q = (
            cumulative_psi_stream(stream, edges, props)
            .writeStream.foreachBatch(
                lambda df, bid: df.withColumn("batch_id", F.lit(bid))
                .write.mode("append").parquet(f"{tmp}/sink")
            )
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream timed out"
        out = spark.read.parquet(f"{tmp}/sink").toPandas()
        got = sorted(zip(out["batch_id"], out["feature"], out["n_seen"]))
        in_range = int(((b1["x"] >= lo) & (b1["x"] <= hi)).sum())
        assert in_range > 0
        assert got == [(0, "y", 100), (1, "x", in_range), (1, "y", 150)]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_monitor_skips_empty_batch(spark):
    """An empty micro-batch file appends NOTHING to the sink (single
    count() emptiness probe), while non-empty batches still score."""
    from driftspark.streaming import StreamingDriftMonitor

    tmp = tempfile.mkdtemp()
    try:
        rng = np.random.RandomState(31)
        ref_pdf = pd.DataFrame({"x": rng.normal(0, 1, 2000)})
        monitor = StreamingDriftMonitor(spark.createDataFrame(ref_pdf), ["x"])

        full = pd.DataFrame({"x": rng.normal(0, 1, 1000)})
        sdf = spark.createDataFrame(full)
        sdf.coalesce(1).write.parquet(f"{tmp}/in/b0")
        sdf.limit(0).coalesce(1).write.parquet(f"{tmp}/in/b1")

        stream = (
            spark.readStream.schema("x double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/*")
        )
        q = monitor.start(stream, f"{tmp}/sink", f"{tmp}/ckpt")
        assert q.awaitTermination(120), "stream timed out"

        out = spark.read.parquet(f"{tmp}/sink").toPandas()
        # only the non-empty batch produced rows (1 psi + 1 ks for x)
        assert len(out) == 2
        assert set(out["n_test"]) == {1000}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_monitor_checkpoint_restart_exactly_once(spark):
    """Restarting the monitor stream against the SAME checkpoint after new
    files landed processes ONLY the new files — already-scored batches are
    not re-appended (exactly-once resume, the streaming face of the
    north-rule resumability)."""
    from driftspark.streaming import StreamingDriftMonitor

    tmp = tempfile.mkdtemp()
    try:
        rng = np.random.RandomState(37)
        monitor = StreamingDriftMonitor(
            spark.createDataFrame(pd.DataFrame({"x": rng.normal(0, 1, 2000)})),
            ["x"],
        )

        def stream():
            return (
                spark.readStream.schema("x double")
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{tmp}/in/*")
            )

        b0 = pd.DataFrame({"x": rng.normal(0, 1, 800)})
        spark.createDataFrame(b0).coalesce(1).write.parquet(f"{tmp}/in/b0")
        assert monitor.start(stream(), f"{tmp}/sink", f"{tmp}/ckpt").awaitTermination(
            120
        ), "stream timed out"
        first = spark.read.parquet(f"{tmp}/sink").toPandas()
        assert len(first) == 2  # psi + ks for x, one batch

        b1 = pd.DataFrame({"x": rng.normal(0, 1, 600)})
        spark.createDataFrame(b1).coalesce(1).write.parquet(f"{tmp}/in/b1")
        assert monitor.start(stream(), f"{tmp}/sink", f"{tmp}/ckpt").awaitTermination(
            120
        ), "stream timed out"
        out = spark.read.parquet(f"{tmp}/sink").toPandas()

        # b0's rows were NOT re-appended; b1 landed under a new batch_id
        assert len(out) == 4
        assert sorted(out["n_test"]) == [600, 600, 800, 800]
        assert out["batch_id"].nunique() == 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_chi2_guard_boundary_exactly_at_cap(spark):
    """Strict-greater cap convention: a batch with EXACTLY max_categories
    distinct values folds nothing (bit-identical to unguarded), one more
    folds exactly the lowest-ranked novel value."""
    from driftspark.streaming import StreamingDriftMonitor
    from driftspark.verdicts import CHI2_OTHER_BUCKET, chi2_from_count_maps

    rng = np.random.RandomState(41)
    ref_pdf = pd.DataFrame({
        "x": rng.normal(0, 1, 600),
        "cat": rng.choice(["a", "b", "c"], 600),
    })
    monitor = StreamingDriftMonitor(
        spark.createDataFrame(ref_pdf), ["x"], cat_cols=["cat"], max_categories=10
    )

    def score(cats):
        pdf = pd.DataFrame({"x": rng.normal(0, 1, len(cats)), "cat": cats})
        rows = {
            (r["check"], r["feature"]): r
            for r in monitor.score_batch(spark.createDataFrame(pdf))
        }
        return rows[("chi2", "cat")]

    def batch_map(cats):
        pdf = pd.DataFrame({"x": rng.normal(0, 1, len(cats)), "cat": cats})
        return _batch_cat_counts(monitor, spark.createDataFrame(pdf))["cat"]

    # exactly 10 distinct (2 ref + 8 novel): nothing folds (n_f <= cap)
    at_cap = ["a"] * 50 + ["b"] * 40 + sum(([f"n{i}"] * 6 for i in range(8)), [])
    assert batch_map(at_cap) == pd.Series(at_cap).value_counts().to_dict()

    # 11 distinct: every novel value ranked AT or past the cap folds — the
    # keep condition is rn < max_categories, so n7 (rn == 10) folds along
    # with n8 (rn == 11); ref members a/b always keep
    over_cap = at_cap + ["n8"] * 5
    counts = pd.Series(over_cap).value_counts().to_dict()
    counts[CHI2_OTHER_BUCKET] = counts.pop("n7") + counts.pop("n8")
    assert batch_map(over_cap) == counts
    # and score_batch consumes exactly that map
    r2 = score(over_cap)
    stat2, p2, _, _ = chi2_from_count_maps(monitor.suite.fitted.ref_cats["cat"], counts)
    assert r2["statistic"] == pytest.approx(stat2, abs=1e-12)
    assert r2["p_value"] == pytest.approx(p2, abs=1e-12)


def test_cumulative_stream_state_stays_bounded_under_adversarial_batches(spark):
    """Regression lock on the bounded-state claim: after N micro-batches
    whose every batch carries FRESH unseen categories (chi2) and
    out-of-grid extreme values (KS), each feature's checkpointed state row
    — read back via the Spark state-store data source — has size
    O(categories) / O(grid) and CONSTANT in N (same array lengths at the
    first and last batch version)."""
    from driftspark.streaming import (
        cumulative_chi2_stream,
        cumulative_ks_stream,
        fit_ks_grid,
    )
    from driftspark.verdicts import CHI2_OTHER_BUCKET, fit_ref_category_counts

    tmp = tempfile.mkdtemp()
    try:
        rng = np.random.RandomState(43)
        n_batches = 6

        # ---- chi2: every batch brings 200 fresh never-seen categories
        ref_counts, _ = fit_ref_category_counts(
            spark.createDataFrame(
                pd.DataFrame({"cat": ["a"] * 500 + ["b"] * 300 + ["c"] * 200})
            ),
            ["cat"],
        )
        for i in range(n_batches):
            b = pd.DataFrame(
                {"cat": ["a"] * 50 + [f"id-{i}-{j}" for j in range(200)]}
            )
            spark.createDataFrame(b).coalesce(1).write.parquet(f"{tmp}/cin/b{i}")
        cstream = (
            spark.readStream.schema("cat string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/cin/*")
        )
        q = (
            cumulative_chi2_stream(cstream, ref_counts)
            .writeStream.format("memory")
            .queryName("sbchi2")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/cckpt")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "stream timed out"
        assert (
            spark.sql("SELECT max(n_seen) AS n FROM sbchi2").first()["n"]
            == 250 * n_batches
        )

        def chi2_state(batch_id):
            rows = (
                spark.read.format("statestore")
                .option("batchId", batch_id)
                .load(f"{tmp}/cckpt")
                .collect()
            )
            assert len(rows) == 1  # one state row per feature
            return rows[0]["value"]["groupState"]["counts"]

        first, last = chi2_state(0), chi2_state(n_batches - 1)
        # bounded: one slot per key of sorted(fitted ref ∪ {other}), NEVER
        # the 1200 fresh ids the stream carried, and constant in N: no
        # growth between the first and last version
        keys = sorted({*ref_counts["cat"], CHI2_OTHER_BUCKET})
        assert len(keys) == len(ref_counts["cat"]) + 1
        assert len(first) == len(last) == len(keys)
        assert last[keys.index(CHI2_OTHER_BUCKET)] == 200 * n_batches
        assert last[keys.index("a")] == 50 * n_batches

        # ---- KS: every batch is far outside the fitted grid's range
        ref_vals = pd.DataFrame({"x": rng.normal(0, 1, 3000)})
        grid = fit_ks_grid(spark.createDataFrame(ref_vals), ["x"], n_grid=64)
        grid_len = len(grid["x"][0])
        for i in range(n_batches):
            b = pd.DataFrame({"x": rng.normal(1e9 * (i + 1), 1.0, 300)})
            spark.createDataFrame(b).coalesce(1).write.parquet(f"{tmp}/kin/b{i}")
        kstream = (
            spark.readStream.schema("x double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/kin/*")
        )
        q = (
            cumulative_ks_stream(kstream, grid)
            .writeStream.format("memory")
            .queryName("sbks")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/kckpt")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "stream timed out"

        def ks_counts(batch_id):
            rows = (
                spark.read.format("statestore")
                .option("batchId", batch_id)
                .load(f"{tmp}/kckpt")
                .collect()
            )
            assert len(rows) == 1
            return rows[0]["value"]["groupState"]["counts"]

        first_k, last_k = ks_counts(0), ks_counts(n_batches - 1)
        # the count vector is ALWAYS len(grid)+1 longs — out-of-grid values
        # land in the overflow bucket, the vector never grows
        assert len(first_k) == len(last_k) == grid_len + 1
        assert last_k[-1] == 300 * n_batches  # all mass beyond the grid
        assert sum(last_k) == 300 * n_batches
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_cumulative_embedding_drift_stateful_stream(spark):
    """applyInPandasWithState embedding monitor: cumulative moments across
    micro-batches — the final emission equals the BATCH embedding_drift
    over everything streamed, and the state is one O(dim) triple."""
    from driftspark.ann import embedding_drift
    from driftspark.streaming import (
        cumulative_embedding_drift_stream,
        fit_embedding_moments,
    )

    tmp = tempfile.mkdtemp()
    rng = np.random.RandomState(17)
    d = 16
    ref_pdf = pd.DataFrame({"embedding": [v.tolist() for v in rng.normal(0, 1, (3000, d))]})
    ref_df = spark.createDataFrame(ref_pdf)
    moments = fit_embedding_moments(ref_df, "embedding", dim=d)
    assert moments[0] == 3000 and len(moments[1]) == d

    def batch(n):
        M = rng.normal(0, 1, (n, d))
        M[:, 2] += 0.35  # weak per-batch, strong cumulative
        M[:, 5] -= 0.35
        return pd.DataFrame({"embedding": [v.tolist() for v in M]})

    b0, b1 = batch(700), batch(700)
    spark.createDataFrame(b0).coalesce(1).write.parquet(f"{tmp}/in/b0")
    spark.createDataFrame(b1).coalesce(1).write.parquet(f"{tmp}/in/b1")

    stream = (
        spark.readStream.schema("embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/in/*")
    )
    out = cumulative_embedding_drift_stream(stream, moments, "embedding")
    q = (
        out.writeStream.format("memory")
        .queryName("cumemb")
        .outputMode("update")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream timed out"

    updates = spark.sql("SELECT * FROM cumemb").toPandas()
    final = updates.sort_values("n_seen").iloc[-1]
    assert final["n_seen"] == 1400

    # batch oracle: embedding_drift over ref vs union of both batches
    both = spark.createDataFrame(pd.concat([b0, b1]))
    batch_out = embedding_drift(ref_df, both, "embedding").toPandas()
    batch_drifted = sorted(batch_out[batch_out["drifted"]]["dim"].tolist())
    assert sorted(final["drifted_dims"]) == batch_drifted == [2, 5]
    assert final["n_drifted"] == 2
    assert final["max_abs_z"] == pytest.approx(
        batch_out["z"].abs().max(), rel=1e-9
    )
    assert bool(final["passed"]) is False


def test_fit_embedding_moments_summarizer_parity(spark):
    """Above max_codegen_dim the fit switches to the pyspark.ml Summarizer
    vector aggregate — its (n, mean, population var) must match the
    codegen partial-sum path on the same data."""
    import numpy as np
    import pandas as pd

    from driftspark.streaming import fit_embedding_moments

    rng = np.random.RandomState(21)
    vecs = [rng.normal(0, 1, 6).tolist() for _ in range(300)]
    df = spark.createDataFrame(pd.DataFrame({"embedding": vecs}))
    n_a, mean_a, var_a = fit_embedding_moments(df, max_codegen_dim=256)
    n_b, mean_b, var_b = fit_embedding_moments(df, max_codegen_dim=2)
    assert n_a == n_b == 300
    assert np.allclose(mean_a, mean_b, rtol=1e-12)
    assert np.allclose(var_a, var_b, rtol=1e-9)
