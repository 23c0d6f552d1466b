"""Checkpoint-restart for the four cumulative stateful streams.

Each stream consumes batch 0, terminates (availableNow — the state store
commits at the batch boundary, exactly where a mid-batch kill would roll
back to on recovery), then a NEW query restarts from the SAME checkpoint
after batch 1 lands.  The restarted query must (a) process ONLY batch 1
(no b0 reprocessing — its offsets are committed) and (b) emit a final
row identical to an UNINTERRUPTED run over both batches with a fresh
checkpoint: the recovered state is the exact (count/moment) state, so
every downstream float matches to representation precision.
"""

import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest


def _run(spark, factory, schema, src, ckpt, sink):
    """availableNow run through a foreachBatch parquet sink — the memory
    sink does NOT support checkpoint recovery, so restart tests need the
    same recoverable sink shape StreamingDriftMonitor uses."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )

    def write_batch(df, bid):
        df.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(sink)

    q = (
        factory(stream)
        .writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream timed out"
    return spark.read.parquet(sink).toPandas()


def _restart_scenario(spark, tmp, factory, schema, b0, b1, name):
    """Returns (restart_final_emission, uninterrupted_final_emission)."""
    spark.createDataFrame(b0).coalesce(1).write.parquet(f"{tmp}/in/b0")
    first = _run(spark, factory, schema, f"{tmp}/in", f"{tmp}/ckpt", f"{tmp}/sink")
    assert len(first) == 1  # one emission for the one batch

    spark.createDataFrame(b1).coalesce(1).write.parquet(f"{tmp}/in/b1")
    both = _run(spark, factory, schema, f"{tmp}/in", f"{tmp}/ckpt", f"{tmp}/sink")
    # exactly-once: the restarted query processed ONLY b1 (b0's offsets
    # are committed in the checkpoint) — one new emission appended, and
    # the batch ids are distinct (no re-delivery of batch 0's output)
    assert len(both) == 2
    assert sorted(both["batch_id"]) == [0, 1]
    second = both.sort_values("batch_id").iloc[-1].drop("batch_id")

    solid = _run(
        spark, factory, schema, f"{tmp}/in", f"{tmp}/ckpt2", f"{tmp}/sink2"
    )
    final_solid = solid.sort_values("n_seen").iloc[-1].drop("batch_id")
    return second, final_solid


def _assert_rows_equal(a, b):
    for col in b.index:
        va, vb = a[col], b[col]
        if isinstance(vb, (list, np.ndarray)):
            assert list(va) == list(vb), col
        elif isinstance(vb, float):
            assert va == pytest.approx(vb, rel=1e-12, abs=1e-300), col
        else:
            assert va == vb, col


def test_cumulative_psi_stream_restart(spark):
    from driftspark.stats import histogram_proportions, quantile_edges
    from driftspark.streaming import cumulative_psi_stream

    tmp = tempfile.mkdtemp()
    try:
        rng = np.random.RandomState(41)
        ref_df = spark.createDataFrame(pd.DataFrame({"x": rng.normal(0, 1, 3000)}))
        edges = quantile_edges(ref_df, ["x"], 10)
        props = {c: p[0] for c, p in histogram_proportions(ref_df, ref_df, edges).items()}
        b0 = pd.DataFrame({"x": rng.normal(0.4, 1, 900)})
        b1 = pd.DataFrame({"x": rng.normal(0.4, 1, 900)})
        restarted, solid = _restart_scenario(
            spark, tmp, lambda s: cumulative_psi_stream(s, edges, props),
            "x double", b0, b1, "rpsi",
        )
        assert restarted["n_seen"] == solid["n_seen"] > 1700
        _assert_rows_equal(restarted, solid)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_cumulative_ks_stream_restart(spark):
    from driftspark.streaming import cumulative_ks_stream, fit_ks_grid

    tmp = tempfile.mkdtemp()
    try:
        rng = np.random.RandomState(43)
        ref_df = spark.createDataFrame(pd.DataFrame({"x": rng.normal(0, 1, 3000)}))
        grid = fit_ks_grid(ref_df, ["x"], n_grid=128)
        b0 = pd.DataFrame({"x": rng.normal(0.3, 1, 800)})
        b1 = pd.DataFrame({"x": rng.normal(0.3, 1, 800)})
        restarted, solid = _restart_scenario(
            spark, tmp, lambda s: cumulative_ks_stream(s, grid),
            "x double", b0, b1, "rks",
        )
        assert restarted["n_seen"] == solid["n_seen"] == 1600
        _assert_rows_equal(restarted, solid)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_cumulative_chi2_stream_restart(spark):
    from driftspark.streaming import cumulative_chi2_stream
    from driftspark.verdicts import fit_ref_category_counts

    tmp = tempfile.mkdtemp()
    try:
        rng = np.random.RandomState(47)
        ref_counts, _ = fit_ref_category_counts(
            spark.createDataFrame(
                pd.DataFrame({"cat": rng.choice(["a", "b", "c"], 3000, p=[0.5, 0.3, 0.2])})
            ),
            ["cat"],
        )
        b0 = pd.DataFrame({"cat": rng.choice(["a", "b", "c"], 900, p=[0.3, 0.3, 0.4])})
        # b1 brings an unseen category: the restart must fold it into
        # __chi2_other__ exactly like the uninterrupted run
        b1 = pd.DataFrame({"cat": rng.choice(["a", "b", "z"], 900, p=[0.3, 0.3, 0.4])})
        restarted, solid = _restart_scenario(
            spark, tmp,
            lambda s: cumulative_chi2_stream(s, ref_counts),
            "cat string", b0, b1, "rchi",
        )
        assert restarted["n_seen"] == solid["n_seen"] == 1800
        _assert_rows_equal(restarted, solid)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_cumulative_embedding_stream_restart(spark):
    from driftspark.streaming import (
        cumulative_embedding_drift_stream,
        fit_embedding_moments,
    )

    tmp = tempfile.mkdtemp()
    try:
        rng = np.random.RandomState(53)
        d = 8
        ref_df = spark.createDataFrame(
            pd.DataFrame({"embedding": [v.tolist() for v in rng.normal(0, 1, (2000, d))]})
        )
        moments = fit_embedding_moments(ref_df, "embedding", dim=d)

        def batch(n):
            M = rng.normal(0, 1, (n, d))
            M[:, 3] += 0.5
            return pd.DataFrame({"embedding": [v.tolist() for v in M]})

        restarted, solid = _restart_scenario(
            spark, tmp,
            lambda s: cumulative_embedding_drift_stream(s, moments, "embedding"),
            "embedding array<double>", batch(600), batch(600), "remb",
        )
        assert restarted["n_seen"] == solid["n_seen"] == 1200
        _assert_rows_equal(restarted, solid)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# volume_anomaly_stream (append-mode windowed agg) + feed_silence_stream
# (event-time-timeout state) — restart from checkpoint must equal the
# uninterrupted run with no window re-emission and recovered group state
# ---------------------------------------------------------------------------

from datetime import datetime, timedelta


def _vol_rows(rows):
    t0 = datetime(2024, 3, 1)
    return pd.DataFrame(
        {
            "grp": [g for g, h, n in rows for _ in range(n)],
            "ts": [
                t0 + timedelta(hours=h, minutes=i % 60)
                for _, h, n in rows
                for i in range(n)
            ],
        }
    )


def _run_mode(spark, factory, schema, src, ckpt, sink, mode):
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )

    def write_batch(df, bid):
        df.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(sink)

    q = (
        factory(stream)
        .writeStream.foreachBatch(write_batch)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream timed out"
    return spark.read.parquet(sink).toPandas()


def test_volume_anomaly_stream_restart(spark):
    from driftspark.streaming import volume_anomaly_stream
    from driftspark.volume import fit_volume_stats

    tmp = tempfile.mkdtemp()
    try:
        fit_df = spark.createDataFrame(_vol_rows([("a", h, 5) for h in range(48)]))
        stats = fit_volume_stats(fit_df, "ts", "grp")
        factory = lambda s: volume_anomaly_stream(  # noqa: E731
            s, "ts", stats, "grp", watermark="2 hours", min_history=6
        )
        schema = "grp string, ts timestamp"
        b0 = _vol_rows([("a", h, 5) for h in range(10)])
        b1 = _vol_rows([("a", h, 5 if h != 15 else 40) for h in range(10, 20)])

        spark.createDataFrame(b0).coalesce(1).write.parquet(f"{tmp}/in/b0")
        first = _run_mode(
            spark, factory, schema, f"{tmp}/in", f"{tmp}/ckpt", f"{tmp}/sink",
            "append",
        )
        assert len(first) > 0  # some windows closed in batch 0

        spark.createDataFrame(b1).coalesce(1).write.parquet(f"{tmp}/in/b1")
        both = _run_mode(
            spark, factory, schema, f"{tmp}/in", f"{tmp}/ckpt", f"{tmp}/sink",
            "append",
        )
        # exactly-once across the restart: no window emitted twice
        assert not both.duplicated(subset=["group", "window_start"]).any()
        # batch 0's offsets are committed: restart emissions arrive in
        # LATER epochs only (ids continue across restarts; append-mode
        # closures land in the trailing no-data batch)
        assert both["batch_id"].max() > first["batch_id"].max()
        assert len(both) > len(first)

        solid = _run_mode(
            spark, factory, schema, f"{tmp}/in", f"{tmp}/ckpt2", f"{tmp}/sink2",
            "append",
        )
        key = ["group", "window_start", "rows", "z", "verdict"]

        def rows_set(df):  # NaN != NaN would fail the tuple compare
            return sorted(
                map(tuple, df[key].fillna({"z": -999.0}).itertuples(index=False))
            )

        assert rows_set(both) == rows_set(solid)
        spike = both[both["verdict"] == "anomalous"]
        assert list(spike["window_start"]) == ["2024-03-01 15:00:00"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_feed_silence_stream_restart(spark):
    from driftspark.streaming import feed_silence_stream

    tmp = tempfile.mkdtemp()
    try:
        factory = lambda s: feed_silence_stream(  # noqa: E731
            s, "ts", "grp", silence_seconds=3 * 3600, watermark="10 minutes"
        )
        schema = "grp string, ts timestamp"
        b0 = _vol_rows([("a", h, 5) for h in range(10)] + [("b", h, 5) for h in range(10)])
        b1 = _vol_rows([("a", h, 5) for h in range(10, 20)])

        spark.createDataFrame(b0).coalesce(1).write.parquet(f"{tmp}/in/b0")
        first = _run_mode(
            spark, factory, schema, f"{tmp}/in", f"{tmp}/ckpt", f"{tmp}/sink",
            "update",
        )
        assert set(first["status"]) == {"active"}

        spark.createDataFrame(b1).coalesce(1).write.parquet(f"{tmp}/in/b1")
        both = _run_mode(
            spark, factory, schema, f"{tmp}/in", f"{tmp}/ckpt", f"{tmp}/sink",
            "update",
        )
        # recovered state: a's post-restart total includes batch 0's rows,
        # and b's timeout (armed before the kill) fires exactly once
        a_final = both[both["group"] == "a"].sort_values("rows_total").iloc[-1]
        assert a_final["rows_total"] == 100 and a_final["status"] == "active"
        b_silent = both[(both["group"] == "b") & (both["status"] == "silent")]
        assert len(b_silent) == 1 and b_silent.iloc[0]["rows_total"] == 50

        solid = _run_mode(
            spark, factory, schema, f"{tmp}/in", f"{tmp}/ckpt2", f"{tmp}/sink2",
            "update",
        )

        def final_state(df):
            out = {}
            for grp, sub in df.groupby("group"):
                sub = sub.sort_values(["rows_total", "status"])
                out[grp] = (
                    int(sub.iloc[-1]["rows_total"]),
                    "silent" in set(sub["status"]),
                )
            return out

        assert final_state(both) == final_state(solid)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
