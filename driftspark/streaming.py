"""Structured Streaming drift monitoring.

The reference engine is strictly two-batch (SURVEY.md §2.9 — no streaming
surface), and the north rule's resumability is batch checkpoint/resume
(driftspark.checkpoint).  This module is the engine's ADDITIONAL streaming
surface for continuously-landing data: a ``readStream`` source of new
reference-vs-production micro-batches, with per-batch drift verdicts
computed in ``foreachBatch`` against a once-fitted reference state and
appended to a verdict sink.

Design: the monitor's PSI, KS and chi2 ARE the batch verdict engine,
driftspark.verdicts._VerdictSuite, fitted once on the static reference
(edges, reference histogram, KS ECDF broadcast once, capped reference
category counts); it scores each micro-batch as ONE partition, so batch
and streaming verdicts are equal on identical rows (parity-locked test),
over the category cap too.  The stream never rescans the reference.

Surfaces:
- StreamingDriftMonitor: per-batch PSI + KS + chi2 verdicts via
  foreachBatch (exactly-once parquet sink).
- cumulative_psi_stream / cumulative_ks_stream / cumulative_chi2_stream:
  one stateful count operator (_cumulative_counts) and three score
  functions.  Each feature's bounded state, one count vector, accumulates
  EVERYTHING seen, catching slow drift no single batch exposes;
  stateless per-partition partial counts bound each feature's state-task
  input regardless of stream volume.
- start_payload_validation_stream: the north-rule per-row PSNR/caption
  invariant over continuously-landing co-located pairs.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from driftspark.numerics import psi_from_proportions, severity_from_psi
from driftspark.session import local_frame
from driftspark.stats import (
    CHI2_OTHER_BUCKET,
    _fold_unfitted,
    _melt_keys,
    _proportions,
    bucket_expr,
)

#: the part column a micro-batch is scored under: one literal partition
_BATCH = "__batch"
#: score_batch's row keys: a verdict row (verdicts.VERDICT_SCHEMA) less part
_ROW_KEYS = (
    "feature", "check", "statistic", "p_value", "severity", "passed", "n_ref", "n_test"
)


class StreamingDriftMonitor:
    """Continuously score arriving micro-batches against a fitted reference.

    Usage::

        monitor = StreamingDriftMonitor(ref_df, numeric_cols=["w", "h"])
        stream = spark.readStream.schema(schema).parquet(incoming_dir)
        query = monitor.start(stream, verdict_sink_dir, checkpoint_dir)
        query.awaitTermination()

    Each micro-batch appends one verdict row per (feature, check) to the
    sink: (batch_id, feature, check, statistic, p_value, severity, passed,
    n_test, processed_at), with checks "psi", "ks" and (when ``cat_cols``
    is given) "chi2"; n_test is the micro-batch's row count.  Every check
    comes from :attr:`suite`, the batch verdict suite fitted once in the
    constructor (``max_ref_ecdf_points`` its driver-row budget), which
    scores each micro-batch as one partition.
    """

    def __init__(
        self,
        reference_df: DataFrame,
        numeric_cols: Sequence[str],
        n_bins: int = 10,
        psi_threshold: float = 0.2,
        min_bin_size: float = 0.001,
        ks_cols: Optional[Sequence[str]] = None,
        ks_threshold: float = 0.05,
        max_ref_ecdf_points: int = 4_000_000,
        cat_cols: Sequence[str] = (),
        chi2_threshold: float = 0.05,
        max_categories: int = 1000,
    ):
        from driftspark.verdicts import _VerdictSuite

        self.suite = _VerdictSuite(
            reference_df, list(numeric_cols), list(cat_cols), part_col=_BATCH,
            psi_threshold=psi_threshold, ks_threshold=ks_threshold,
            chi2_threshold=chi2_threshold, n_bins=n_bins, ks_cols=ks_cols,
            max_categories=max_categories, min_bin_size=min_bin_size,
        ).fit(max_ref_ecdf_points)

    def score_batch(self, batch_df: DataFrame) -> list:
        """Verdict rows for one (micro-)batch — shared by foreachBatch and
        direct batch calls.  Each row: {feature, check, statistic, p_value,
        severity, passed, n_ref, n_test}, the suite's rows for the batch as
        one partition; an empty batch is no partition and gets none."""
        rows = self.suite.rows(batch_df.withColumn(_BATCH, F.lit(0)))
        return [dict(zip(_ROW_KEYS, row[1:])) for row in rows]

    def start(
        self,
        stream_df: DataFrame,
        sink_dir: str,
        checkpoint_dir: str,
        trigger_available_now: bool = True,
        processing_time: Optional[str] = None,
    ):
        """Attach foreachBatch scoring to a streaming DataFrame and start."""
        spark = stream_df.sparkSession

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            # ONE JVM-side action probes emptiness AND yields n_test —
            # no RDD conversion (which would pickle-evaluate payload
            # rows through the Python RDD path), no second count
            n = batch_df.count()
            if n == 0:
                return
            rows = self.score_batch(batch_df)
            out = local_frame(
                spark,
                [
                    (
                        int(batch_id), r["feature"], r["check"], r["statistic"],
                        r["p_value"], r["severity"], r["passed"], n,
                    )
                    for r in rows
                ],
                "batch_id long, feature string, check string, statistic double, "
                "p_value double, severity string, passed boolean, n_test long",
            ).withColumn("processed_at", F.current_timestamp())
            out.write.mode("append").parquet(sink_dir)

        return _start_foreach_batch(
            stream_df, handle, checkpoint_dir, trigger_available_now, processing_time
        )


def _start_foreach_batch(
    stream_df: DataFrame, handle, checkpoint_dir: str, trigger_available_now: bool,
    processing_time: Optional[str],
):
    """Start ``handle(batch_df, batch_id)`` on every micro-batch of
    ``stream_df``, checkpointed in ``checkpoint_dir``: one availableNow
    run, else a ``processing_time`` trigger when one is given."""
    writer = stream_df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def _partial_count_stage(
    stream_df: DataFrame, keys: Dict[str, Column], key_type: str
) -> DataFrame:
    """Stateless per-partition (feature, key, c) partial counts of the
    non-NULL keys (:func:`driftspark.stats._melt_keys`): the
    pre-aggregation a cumulative stream inserts BEFORE its stateful
    shuffle, so the single per-feature state task receives aggregated
    rows, never raw row volume."""
    return (
        _melt_keys(stream_df, keys)
        .where(F.col("key").isNotNull())
        .mapInPandas(
            lambda it: (
                pdf.groupby(["feature", "key"], as_index=False).size().rename(
                    columns={"size": "c"}
                )
                for pdf in it
            ),
            schema=f"feature string, key {key_type}, c long",
        )
    )


def _cumulative_counts(
    partials: DataFrame, n_slots: Dict[str, int], score, score_schema: str
) -> DataFrame:
    """THE cumulative stream operator, over (feature, key int, c) partial
    counts: each feature's state is one ``counts array<long>`` vector of
    ``n_slots[feature]`` slots, to which every trigger adds its partial
    counts, so the state stays O(features x slots) whatever the stream's
    volume.  Each trigger emits (feature, n_seen, *score(feature, counts))
    per feature with rows in it (``score_schema`` types the score), in
    update mode; with no timeout Spark updates no other feature, so n_seen
    is never 0."""
    import pandas as pd_
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructType

    out_schema = "feature string, n_seen long, " + score_schema
    names = StructType.fromDDL(out_schema).fieldNames()

    def update(key, pdfs, state: GroupState):
        feature = key[0]
        counts = np.array(state.get[0] if state.exists else [0] * n_slots[feature], np.int64)
        for pdf in pdfs:
            np.add.at(counts, pdf["key"].to_numpy(np.int64), pdf["c"].to_numpy(np.int64))
        state.update((counts.tolist(),))
        row = (feature, int(counts.sum()), *score(feature, counts))
        yield pd_.DataFrame([row], columns=names)

    return partials.groupBy("feature").applyInPandasWithState(
        update, outputStructType=out_schema, stateStructType="counts array<long>",
        outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cumulative_psi_stream(
    stream_df: DataFrame,
    edges_map: Dict[str, np.ndarray],
    ref_props: Dict[str, np.ndarray],
    psi_threshold: float = 0.2,
    min_bin_size: float = 0.001,
) -> DataFrame:
    """Custom STATEFUL streaming operator: the cumulative test-side
    histogram per feature persists in group state across micro-batches,
    so every trigger emits the PSI of ALL data seen so far vs the fitted
    reference — unlike the per-batch foreachBatch monitor, slow drift that
    no single micro-batch exposes accumulates until it crosses the
    threshold.  State per feature is the bin-count vector (n_bins longs);
    values outside the fitted edges, NULL and NaN count in no bin.
    Returns a streaming DataFrame (feature, n_seen, psi, severity, passed)
    in update mode."""
    ref = {c: np.asarray(p, dtype=np.float64) for c, p in ref_props.items()}

    def score(feature, counts):
        psi = float(psi_from_proportions(ref[feature], _proportions(counts), min_bin_size))
        return psi, severity_from_psi(psi), psi < psi_threshold

    keys = {c: bucket_expr(c, e) for c, e in edges_map.items()}
    return _cumulative_counts(
        _partial_count_stage(stream_df, keys, "int"),
        {c: len(e) - 1 for c, e in edges_map.items()},
        score, "psi double, severity string, passed boolean",
    )


def start_payload_validation_stream(
    pairs_stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    min_psnr: float = 40.0,
    trigger_available_now: bool = True,
    processing_time: Optional[str] = None,
):
    """Validate continuously-landing PRE-JOINED payload pairs (the
    north-rule per-row invariant: decoded-pixel agreement — byte-exact for
    png, PSNR >= min_psnr for lossy — plus byte-exact captions) and append
    per-row verdicts to a parquet sink tagged with the micro-batch id.

    Input stream schema = the co-located pairs layout
    (image_id, ref_bytes, ref_caption, test_bytes, test_caption, fmt, ...):
    validation is a pure scan + mapInPandas per micro-batch — no shuffle,
    decode parallelism scales with executors, exactly-once via the
    checkpointed foreachBatch sink."""
    from driftspark.imageops import validate_image_payloads_paired

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        out = validate_image_payloads_paired(batch_df, min_psnr).withColumn(
            "batch_id", F.lit(int(batch_id)).cast("long")
        )
        out.write.mode("append").parquet(sink_dir)

    return _start_foreach_batch(
        pairs_stream_df, handle, checkpoint_dir, trigger_available_now, processing_time
    )


def fit_ks_grid(
    ref_df: DataFrame,
    cols: Sequence[str],
    n_grid: int = 512,
    max_ref_ecdf_points: int = 4_000_000,
) -> Dict[str, tuple]:
    """{feature: (grid values, reference CDF at grid, n_ref)} — a bounded
    value grid for the cumulative streaming KS operator, thinned from the
    exact reference ECDF by mass quantum (heavy values always retained),
    so the grid resolution error is <= 1/n_grid of reference mass."""
    from driftspark.verdicts import fit_ks_reference_ecdf

    ecdf = fit_ks_reference_ecdf(ref_df, cols, max_ref_ecdf_points)
    out: Dict[str, tuple] = {}
    for c, (vals, cums, n) in ecdf.items():
        if len(vals) > n_grid:
            targets = n * (np.arange(1, n_grid + 1) / n_grid)
            idx = np.unique(
                np.clip(np.searchsorted(cums, targets, side="left"), 0, len(vals) - 1)
            )
            if idx[-1] != len(vals) - 1:
                idx = np.append(idx, len(vals) - 1)
            vals, cums = vals[idx], cums[idx]
        out[c] = (vals.astype(np.float64), cums.astype(np.float64) / n, int(n))
    return out


def cumulative_ks_stream(
    stream_df: DataFrame,
    ks_grid: Dict[str, tuple],
    ks_threshold: float = 0.05,
) -> DataFrame:
    """Custom STATEFUL streaming operator: the cumulative test-side grid
    histogram per feature persists across micro-batches, so every trigger
    emits the KS D of ALL data seen so far vs the fitted reference — the
    KS analog of cumulative_psi_stream.

    D is evaluated at the fitted grid points: exact there, and within
    one grid cell's mass of the true supremum (grid from ``fit_ks_grid``
    → error <= 1/n_grid of reference mass plus the test mass inside one
    cell).  State per feature is one count vector of len(grid)+1 longs.
    Returns a streaming DataFrame (feature, n_seen, ks_d, p_value,
    severity, passed) in update mode."""
    import pandas as pd_

    from driftspark.numerics import ks_2samp_pvalue
    from driftspark.verdicts import pvalue_verdict

    fitted = {
        c: (np.asarray(g, dtype=np.float64), np.asarray(r, dtype=np.float64), n)
        for c, (g, r, n) in ks_grid.items()
    }

    # stateless per-partition grid bucketing + partial counts in numpy: a
    # 512-point comparison chain per value in Spark blows up whole-stage
    # codegen (OPTIMIZATION_r07.md).  Key i <=> value <= grid[i], len(grid)
    # beyond it
    def partial_counts(batches):
        for pdf in batches:
            for c, (g, _, _) in fitted.items():
                v = pdf[c].values.astype(np.float64)
                bc = np.bincount(np.searchsorted(g, v[~np.isnan(v)]), minlength=len(g) + 1)
                nz = np.flatnonzero(bc)
                yield pd_.DataFrame({"feature": c, "key": nz.astype(np.int32), "c": bc[nz]})

    def score(feature, counts):
        _, ref_cdf, n_ref = fitted[feature]
        n_seen = int(counts.sum())
        d = float(np.max(np.abs(ref_cdf - np.cumsum(counts[:-1]) / n_seen)))
        p = float(ks_2samp_pvalue(d, n_ref, n_seen))
        return (d, p, *pvalue_verdict(p, ks_threshold))

    partials = stream_df.select(*fitted).mapInPandas(
        partial_counts, schema="feature string, key int, c long"
    )
    return _cumulative_counts(
        partials, {c: len(g) + 1 for c, (g, _, _) in fitted.items()},
        score, "ks_d double, p_value double, severity string, passed boolean",
    )


def cumulative_chi2_stream(
    stream_df: DataFrame,
    ref_cat_counts: Dict[str, Dict[str, int]],
    chi2_threshold: float = 0.05,
) -> DataFrame:
    """Stateful cumulative chi-square: per-feature cumulative category
    counts persist across micro-batches, emitting the chi-square of ALL
    test data seen so far vs the fitted reference proportions.

    ``ref_cat_counts`` comes from verdicts.fit_ref_category_counts.  Every
    stream category OUTSIDE the fitted reference set folds into the
    other-bucket IN SPARK, for every feature — a cumulative stream holds
    its state forever, so both the checkpointed state and the shuffle into
    each feature's single state task must stay bounded at the fitted
    category set plus one bucket regardless of what the stream contains.
    The state counts each key of sorted(fitted categories ∪
    {__chi2_other__}); a broadcast join of the partial counts with a
    (feature, category, slot) frame keys them by slot."""
    from driftspark.verdicts import chi2_from_count_maps, pvalue_verdict

    keys = {c: sorted({*m, CHI2_OTHER_BUCKET}) for c, m in ref_cat_counts.items()}
    folds = {c: _fold_unfitted(F.col(c).cast("string"), m) for c, m in ref_cat_counts.items()}
    folded = _partial_count_stage(stream_df, folds, "string")
    slots = local_frame(
        stream_df.sparkSession,
        [(c, k, i) for c, ks in keys.items() for i, k in enumerate(ks)],
        "feature string, key string, slot int",
    )
    partials = folded.join(F.broadcast(slots), ["feature", "key"]).select(
        "feature", F.col("slot").alias("key"), "c"
    )

    def score(feature, counts):
        tmap = {k: c for k, c in zip(keys[feature], counts.tolist()) if c}
        stat, p, _, _ = chi2_from_count_maps(ref_cat_counts[feature], tmap)
        return (float(stat), float(p), *pvalue_verdict(p, chi2_threshold))

    return _cumulative_counts(
        partials, {c: len(ks) for c, ks in keys.items()},
        score, "chi2_stat double, p_value double, severity string, passed boolean",
    )


def fit_embedding_moments(
    ref_df: DataFrame,
    vec_col: str = "embedding",
    dim=None,
    max_codegen_dim: int = 256,
):
    """(n, mean, var) of the reference embedding corpus — the broadcastable
    fitted state for :func:`cumulative_embedding_drift_stream`.  One
    column-pruned scan feeding 2*dim+1 partial-sum expressions
    (ann._embedding_moment_frame) up to ``max_codegen_dim``; wider
    embeddings (768/1536 would bloat whole-stage codegen with thousands of
    expressions) use the same pyspark.ml ``Summarizer`` vector aggregate
    as ann.embedding_drift.  Population variance (ddof=0) either way."""
    from driftspark.ann import _embedding_moment_frame

    if dim is None:
        first = ref_df.select(F.size(vec_col).alias("d")).first()
        if first is None or first["d"] is None or int(first["d"]) < 0:
            # size(NULL) is NULL under ANSI but -1 under legacy semantics
            raise ValueError(
                "fit_embedding_moments: empty reference or NULL embedding in"
                " first row — pass dim explicitly"
            )
        dim = int(first["d"])
    from driftspark.ann import _valid_vec, _warn_bad_counts, _warn_invalid_vecs

    tagged_raw = ref_df.select(
        F.lit(0).alias("__side"), F.col(vec_col).alias("__v")
    )
    if dim <= max_codegen_dim:
        # single scan: moments AND invalid-row count in one conditional
        # aggregation (ann._embedding_moment_frame valid_col)
        rows = _embedding_moment_frame(
            tagged_raw, dim, valid_col=_valid_vec("__v", dim)
        ).collect()
        _warn_bad_counts(
            {r["__side"]: r["n_bad"] for r in rows if r["n_bad"]},
            "fit_embedding_moments",
        )
        if not rows or rows[0]["n"] == 0:
            raise ValueError(
                f"fit_embedding_moments: no reference rows of dim {dim}"
            )
        r = rows[0]
        n = int(r["n"])
        mean = np.array([r[f"s{j}"] / n for j in range(dim)])
        var = np.maximum(
            np.array([r[f"q{j}"] / n for j in range(dim)]) - mean * mean, 0.0
        )
        return n, mean, var
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.stat import Summarizer

    _warn_invalid_vecs(tagged_raw, dim, "fit_embedding_moments")
    tagged = tagged_raw.where(_valid_vec("__v", dim))
    vec = tagged.select(
        array_to_vector(F.col("__v").cast("array<double>")).alias("__v")
    )
    s = vec.agg(
        Summarizer.metrics("mean", "variance", "count")
        .summary(F.col("__v"))
        .alias("s")
    ).first()["s"]
    n = int(s["count"])
    if n == 0:
        raise ValueError(f"fit_embedding_moments: no reference rows of dim {dim}")
    mean = np.asarray(s["mean"].toArray(), dtype=np.float64)
    # Summarizer variance is ddof=1; the engine convention is population
    var = np.maximum(
        np.asarray(s["variance"].toArray(), dtype=np.float64)
        * (max(n - 1, 0) / n),
        0.0,
    )
    return n, mean, var


def cumulative_embedding_drift_stream(
    stream_df: DataFrame,
    ref_moments,
    vec_col: str = "embedding",
    z_threshold: float = 4.0,
) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState): the
    cumulative per-dimension embedding moments persist in group state, so
    every trigger emits the Welch-z drift of ALL embeddings seen so far
    against the fitted reference moments — slow representation drift that
    no single micro-batch exposes accumulates until it flags.

    State is one (count, sum-vector, sumsq-vector) triple — O(dim) doubles
    forever, regardless of stream volume.  A stateless mapInPandas partial
    stage reduces every input partition to a single moment row before the
    stateful shuffle, so the one state task receives O(partitions) rows
    per trigger, never raw embeddings.  Emits
    (n_seen, n_drifted, drifted_dims, max_abs_z, passed) in update mode.
    """
    import pandas as pd_
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n0, mean0, var0 = ref_moments
    mean0 = np.asarray(mean0, dtype=np.float64)
    var0 = np.asarray(var0, dtype=np.float64)
    dim = len(mean0)

    # size AND no-NULL-element guard (shared with the batch paths): a NULL
    # element reaches pandas as NaN and would poison the cumulative (s, q)
    # state for its dimensions FOREVER (z=NaN never crosses a threshold).
    # Streams cannot count+warn eagerly, so invalid rows drop silently
    # here; the batch/fit paths warn via ann._warn_invalid_vecs.
    from driftspark.ann import _valid_vec

    filtered = stream_df.select(F.col(vec_col).alias("__v")).where(
        _valid_vec("__v", dim)
    )

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"].values]
            )
            yield pd_.DataFrame(
                {
                    "g": ["emb"],
                    "n": [len(M)],
                    "s": [M.sum(axis=0).tolist()],
                    "q": [(M * M).sum(axis=0).tolist()],
                }
            )

    part = filtered.mapInPandas(
        partials, schema="g string, n long, s array<double>, q array<double>"
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n_st, s_st, q_st = state.get
            n = int(n_st)
            s = np.asarray(s_st, dtype=np.float64)
            q = np.asarray(q_st, dtype=np.float64)
        else:
            n, s, q = 0, np.zeros(dim), np.zeros(dim)
        for pdf in pdfs:
            for i in range(len(pdf)):
                n += int(pdf["n"].iloc[i])
                s = s + np.asarray(pdf["s"].iloc[i], dtype=np.float64)
                q = q + np.asarray(pdf["q"].iloc[i], dtype=np.float64)
        state.update((n, s.tolist(), q.tolist()))
        if n > 0:
            m1 = s / n
            v1 = np.maximum(q / n - m1 * m1, 0.0)
            z = (m1 - mean0) / (np.sqrt(var0 / n0 + v1 / n) + 1e-12)
        else:
            z = np.zeros(dim)
        drifted = np.flatnonzero(np.abs(z) >= z_threshold)
        yield pd_.DataFrame(
            {
                "n_seen": [n],
                "n_drifted": [int(len(drifted))],
                "drifted_dims": [[int(j) for j in drifted]],
                "max_abs_z": [float(np.abs(z).max()) if dim else 0.0],
                "passed": [bool(len(drifted) == 0)],
            }
        )

    return part.groupBy("g").applyInPandasWithState(
        update,
        outputStructType="n_seen long, n_drifted int, drifted_dims array<int>, "
                         "max_abs_z double, passed boolean",
        stateStructType="n long, s array<double>, q array<double>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming volume monitoring (fit on batch history, score closed windows)
# ---------------------------------------------------------------------------


def volume_anomaly_stream(
    stream_df: DataFrame,
    ts_col: str,
    fitted_stats: Dict[str, tuple],
    group_col: Optional[str] = None,
    bucket: str = "hour",
    watermark: str = "2 hours",
    z_threshold: float = 3.0,
    min_history: int = 6,
) -> DataFrame:
    """Score each CLOSED event-time window's per-group row count against
    a batch-fitted baseline (``volume.fit_volume_stats`` — dense-grid
    mean/std, zero-row buckets included, the SAME frame the batch
    report scores, so guards stay in parity).

    The fitted stats ride along as MAP LITERALS in the plan (a streaming
    aggregation cannot be followed by a static join in append mode, and
    the state is one row per group — driver-sized by construction).
    Verdicts mirror the batch ladder exactly, plus ``unknown_group`` for
    a group the baseline never saw — the "column missing from fitted
    state" guard convention.

    Append mode: a window emits ONCE, when the watermark passes its end.
    A window in which a fitted group sent NOTHING emits no row here —
    windowed aggregation cannot key on absent data; silence is
    ``feed_silence_stream``'s job (stateful, timeout-based), and the
    batch ``volume_report`` scores historic craters on the dense grid.

    Returns (group, window_start, window_end, rows, baseline_mean,
    baseline_std, z, verdict) with window bounds formatted as strings
    (engine-portable, mirrors the batch report).
    """
    from driftspark.volume import (
        VERDICT_ANOMALOUS,
        VERDICT_INSUFFICIENT,
        VERDICT_OK,
        _BUCKETS,
    )

    if bucket not in _BUCKETS:
        raise ValueError(f"bucket must be one of {sorted(_BUCKETS)}, got {bucket!r}")
    if min_history < 2:
        raise ValueError(f"min_history must be >= 2, got {min_history}")
    if not fitted_stats:
        raise ValueError("fitted_stats is empty — fit_volume_stats first")

    mean_kv, std_kv, nb_kv = [], [], []
    for grp, (mean, std, nb) in fitted_stats.items():
        mean_kv += [F.lit(grp), F.lit(float(mean))]
        # std is None for a 1-bucket fit; encode as NULL double
        std_kv += [
            F.lit(grp),
            F.lit(float(std)).cast("double") if std is not None
            else F.lit(None).cast("double"),
        ]
        nb_kv += [F.lit(grp), F.lit(int(nb))]
    mean_m, std_m, nb_m = F.create_map(mean_kv), F.create_map(std_kv), F.create_map(nb_kv)

    g = (
        F.col(group_col).cast("string") if group_col else F.lit("__all__")
    ).alias("group")
    counts = (
        stream_df.where(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), f"1 {bucket}").alias("w"), g)
        .agg(F.count(F.lit(1)).alias("rows"))
    )
    mean = mean_m[F.col("group")]
    std = std_m[F.col("group")]
    nb = nb_m[F.col("group")]
    z = F.try_divide(F.col("rows") - mean, std)
    verdict = (
        F.when(mean.isNull(), F.lit("unknown_group"))
        .when(nb < F.lit(min_history), F.lit(VERDICT_INSUFFICIENT))
        .when((std > 0) & (F.abs(z) >= F.lit(z_threshold)), F.lit(VERDICT_ANOMALOUS))
        .when((std == 0) & (F.col("rows") != mean), F.lit(VERDICT_ANOMALOUS))
        .otherwise(F.lit(VERDICT_OK))
    )
    return counts.select(
        "group",
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "rows",
        F.round(mean, 6).alias("baseline_mean"),
        F.round(std, 6).alias("baseline_std"),
        F.round(z, 6).alias("z"),
        verdict.alias("verdict"),
    )


def feed_silence_stream(
    stream_df: DataFrame,
    ts_col: str,
    group_col: str,
    silence_seconds: float = 3600.0,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Detect feeds that go SILENT — the case windowed aggregation can
    never emit (no rows -> no window) and the stateful answer to the
    batch ``freshness_report``.

    Custom stateful operator (applyInPandasWithState + EVENT-TIME
    timeout): per-group state is just (last event time, total rows) —
    O(groups) forever.  Whenever a group receives data it emits an
    ``active`` row and re-arms a timeout at ``last_ts +
    silence_seconds``; when the event-time watermark passes that without
    new data, the group emits one ``silent`` row (once per episode —
    re-armed only by new data, which also emits a recovery ``active``).

    The pre-shuffle stage is a stateless per-partition (group, max ts,
    count) partial — the state task receives one row per group per
    partition, never raw volume.  NULL timestamps and NULL groups are
    dropped with the same predicate as the batch path.
    """
    import pandas as pd_
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if silence_seconds <= 0:
        raise ValueError(f"silence_seconds must be > 0, got {silence_seconds}")

    # the single watermark lives on the partial stage's `last` column
    # (defining one here too would be "redefining watermark" — disallowed)
    pts = (
        stream_df.where(F.col(ts_col).isNotNull() & F.col(group_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias("group"),
            F.col(ts_col).cast("timestamp").alias("__ts"),
        )
    )

    def partials(it):
        for pdf in it:
            if len(pdf):
                yield pdf.groupby("group", as_index=False).agg(
                    last=("__ts", "max"), c=("__ts", "size")
                )

    part = pts.mapInPandas(
        partials, schema="group string, last timestamp, c long"
    ).withWatermark("last", watermark)

    silence_ms = int(silence_seconds * 1000)

    # a disarmed-but-kept state still holds its old timeout timestamp and
    # would re-fire every batch: park fired episodes in year 9999 instead
    _FAR_FUTURE_MS = 253_402_300_799_000

    def update(key, pdfs, state: GroupState):
        grp = key[0]
        if state.hasTimedOut:
            last_ms, total, _ = state.get
            # one silent emission per episode; state kept for recovery
            state.update((last_ms, total, 1))
            state.setTimeoutTimestamp(_FAR_FUTURE_MS)
            yield pd_.DataFrame(
                {
                    "group": [grp],
                    "last_ts": [pd_.Timestamp(last_ms, unit="ms")],
                    "rows_total": [int(total)],
                    "status": ["silent"],
                }
            )
            return
        last_ms, total, _ = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            if not len(pdf):
                continue
            batch_last = max(int(t.value // 1_000_000) for t in pdf["last"])
            last_ms = max(last_ms, batch_last)
            total += int(pdf["c"].sum())
        state.update((last_ms, total, 0))
        state.setTimeoutTimestamp(last_ms + silence_ms)
        yield pd_.DataFrame(
            {
                "group": [grp],
                "last_ts": [pd_.Timestamp(last_ms, unit="ms")],
                "rows_total": [int(total)],
                "status": ["active"],
            }
        )

    return part.groupBy("group").applyInPandasWithState(
        update,
        outputStructType="group string, last_ts timestamp, rows_total long, "
                         "status string",
        stateStructType="last_ms long, total long, silent long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
