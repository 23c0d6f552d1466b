"""Partition-volume anomaly detection + data-freshness reports.

Beyond-reference (the reference has no time-series validation surface —
/root/reference/src/drift_autopsy/ covers only distribution drift), but
core to the validation tier at pipeline scale: the two questions a
100 TB ingest monitor answers every hour are "did a partition's row
count spike/crater vs its own trailing history?" and "which feeds have
gone stale/silent?".

Both reports are ONE scan each:

- ``volume_report``: groupBy(group, time-bucket) partial-agg count →
  a DENSE bucket grid (lazy ``sequence()`` explode between the global
  min/max bucket, cross-joined with the observed groups) left-joined
  with the counts so ZERO-ROW buckets are first-class rows — the
  "partition went silent" case a naive groupBy can never emit — then a
  trailing window (mean/std over the preceding N buckets per group)
  and an explicit z-score verdict.  Output is O(groups × buckets)
  regardless of input rows; the only shuffles are the count partial-agg
  and the per-group window.
- ``freshness_report``: per-group max(ts)/count, lag vs a deterministic
  ``as_of`` (defaults to the GLOBAL max — reproducible, no wall clock),
  plus ``expected_groups`` so a feed that sent NOTHING is reported as
  ``missing`` instead of silently absent.

ANSI notes (Spark 4 default): the z-score denominator can be 0 (a group
whose trailing window is constant) — ``try_divide`` + an explicit rule:
constant history and a deviating count is ``anomalous`` (the z is
infinite in spirit), constant history and an equal count is ``ok``.
Verdicts for buckets with fewer than ``min_history`` trailing buckets
are ``insufficient_history``, never silently scored.
"""

from __future__ import annotations

import logging
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from driftspark.session import local_frame

logger = logging.getLogger(__name__)

_BUCKETS = {"minute", "hour", "day", "week"}

VERDICT_OK = "ok"
VERDICT_ANOMALOUS = "anomalous"
VERDICT_INSUFFICIENT = "insufficient_history"


def _bucket_expr(ts_col: str, bucket: str) -> Column:
    if bucket not in _BUCKETS:  # whitelist: `bucket` reaches F.expr below
        raise ValueError(f"bucket must be one of {sorted(_BUCKETS)}, got {bucket!r}")
    return F.date_trunc(bucket, F.col(ts_col))


def _dense_counts(
    df: DataFrame, ts_col: str, group_col: Optional[str], bucket: str
) -> DataFrame:
    """Per-(group, bucket) row counts on a DENSE grid: the lazy global
    [min,max] sequence-explode cross-joined with the observed groups, so
    zero-row buckets are explicit rows.  Shared by volume_report and
    fit_volume_stats — batch scoring and the streaming monitor's fitted
    baseline see the SAME frame by construction (guard parity)."""
    b = _bucket_expr(ts_col, bucket)
    g = (
        F.col(group_col).cast("string") if group_col else F.lit("__all__")
    ).alias("group")
    pts = df.where(F.col(ts_col).isNotNull())
    counts = pts.select(g, b.alias("__b")).groupBy("group", "__b").agg(
        F.count(F.lit(1)).alias("rows")
    )
    # lazy dense grid: 1-row global [min,max] agg -> sequence explode,
    # cross-joined with the observed groups (both sides tiny; plan
    # construction is job-free)
    span = pts.select(b.alias("__b")).agg(
        F.min("__b").alias("mn"), F.max("__b").alias("mx")
    )
    grid = span.select(
        F.explode(F.expr(f"sequence(mn, mx, interval 1 {bucket})")).alias("__b")
    )
    groups = counts.select("group").distinct()
    return (
        groups.crossJoin(F.broadcast(grid))
        .join(counts, ["group", "__b"], "left")
        .withColumn("rows", F.coalesce(F.col("rows"), F.lit(0)).cast("long"))
    )


def fit_volume_stats(
    df: DataFrame,
    ts_col: str,
    group_col: Optional[str] = None,
    bucket: str = "hour",
) -> dict:
    """Per-group baseline (mean, sample std, n_buckets) of DENSE bucket
    counts over the reference history — zero-row buckets included, via
    the same frame volume_report scores against.  Returns a plain dict
    ``{group: (mean, std, n_buckets)}`` (tiny: one row per group), the
    broadcastable fitted state for ``streaming.volume_anomaly_stream``.
    """
    _bucket_expr(ts_col, bucket)  # validate bucket before running a job
    rows = (
        _dense_counts(df, ts_col, group_col, bucket)
        .groupBy("group")
        .agg(
            F.avg("rows").alias("mean"),
            F.stddev("rows").alias("std"),
            F.count(F.lit(1)).alias("nb"),
        )
        .collect()
    )
    return {
        r["group"]: (
            float(r["mean"]),
            float(r["std"]) if r["std"] is not None else None,
            int(r["nb"]),
        )
        for r in rows
    }


def volume_report(
    df: DataFrame,
    ts_col: str,
    group_col: Optional[str] = None,
    bucket: str = "hour",
    trailing: int = 24,
    min_history: int = 6,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Per-(group, time-bucket) row counts with trailing-window anomaly
    verdicts, on a DENSE bucket grid.

    The grid spans the global [min, max] observed bucket for EVERY
    observed group (cross join of two tiny lazy frames — no driver
    collect, plan construction is job-free), so a group that stops
    sending data accrues explicit zero-count rows and its crater is
    scored like any other value.  SCALE NOTE: the dense grid is
    O(groups x buckets) — ``group_col`` is meant for bounded-cardinality
    partition columns (feeds, event types, sources, tenants); a
    per-user/per-key analysis over millions of groups x years of hourly
    buckets would materialize their product, and belongs to plain
    windowed counts instead.  Trailing mean/std (sample std, the
    SQL default) come from the ``trailing`` buckets strictly BEFORE the
    current one; the first ``min_history`` buckets of each group are
    verdict ``insufficient_history``.

    Returns columns: ``group`` (string; ``__all__`` when ``group_col``
    is None), ``bucket_ts`` (string, engine-portable), ``rows`` (long),
    ``history`` (long), ``trailing_mean``/``trailing_std``/``z``
    (double, 6dp), ``verdict``.
    """
    if trailing < 2:
        raise ValueError(f"trailing must be >= 2, got {trailing}")
    if min_history < 2:
        # a 1-bucket history has undefined sample std — scoring against it
        # would silently verdict "ok" through a NULL z
        raise ValueError(f"min_history must be >= 2, got {min_history}")
    dense = _dense_counts(df, ts_col, group_col, bucket)

    w = (
        Window.partitionBy("group")
        .orderBy("__b")
        .rowsBetween(-trailing, -1)
    )
    hist = F.count(F.lit(1)).over(w)
    mean = F.avg("rows").over(w)
    std = F.stddev("rows").over(w)  # sample std: SQL default in both engines
    z = F.try_divide(F.col("rows") - mean, std)
    verdict = (
        F.when(hist < F.lit(min_history), F.lit(VERDICT_INSUFFICIENT))
        .when(
            (std > 0) & (F.abs(z) >= F.lit(z_threshold)), F.lit(VERDICT_ANOMALOUS)
        )
        # constant trailing history: infinite z in spirit if the count moved
        .when((std == 0) & (F.col("rows") != mean), F.lit(VERDICT_ANOMALOUS))
        .otherwise(F.lit(VERDICT_OK))
    )
    return dense.select(
        "group",
        F.date_format("__b", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        "rows",
        hist.cast("long").alias("history"),
        F.round(mean, 6).alias("trailing_mean"),
        F.round(std, 6).alias("trailing_std"),
        F.round(z, 6).alias("z"),
        verdict.alias("verdict"),
    )


def freshness_report(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    max_lag_seconds: float = 3600.0,
    as_of=None,
    expected_groups: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Per-group staleness: last event time, lag vs ``as_of``, verdict.

    ``as_of`` defaults to the GLOBAL max timestamp (a deterministic,
    re-runnable anchor — never the wall clock); pass a timestamp-like
    value to pin it.  ``expected_groups`` lists feeds that MUST be
    present: one that sent nothing is emitted with null ``last_ts``,
    null ``lag_seconds`` and verdict ``missing`` — absence is the worst
    staleness, and a groupBy alone can never report it.

    Lag is computed in exact integer microseconds (``unix_micros``) and
    returned as seconds (double) — engine-portable, no fractional-second
    truncation.  Returns: ``group`` (string), ``rows`` (long),
    ``last_ts`` (string), ``lag_seconds`` (double), ``verdict``
    (``fresh`` / ``stale`` / ``missing``).
    """
    pts = df.where(F.col(ts_col).isNotNull())
    per = pts.groupBy(F.col(group_col).cast("string").alias("group")).agg(
        F.count(F.lit(1)).alias("rows"), F.max(ts_col).alias("__last")
    )
    if as_of is None:
        anchor = pts.agg(F.max(ts_col).alias("__as_of"))
    else:
        anchor = df.sparkSession.range(1).select(
            F.lit(as_of).cast("timestamp").alias("__as_of")
        )
    out = per.crossJoin(F.broadcast(anchor))
    if expected_groups is not None:
        exp = local_frame(
            df.sparkSession, [(str(x),) for x in expected_groups], "group string"
        )
        out = exp.join(out, "group", "full")
    # parquet timestamps read as TIMESTAMP_NTZ; unix_micros needs TIMESTAMP.
    # The session-tz shift of the cast cancels in the difference.
    micros = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    lag = (micros("__as_of") - micros("__last")) / F.lit(1_000_000.0)
    verdict = (
        F.when(F.col("__last").isNull(), F.lit("missing"))
        .when(lag > F.lit(float(max_lag_seconds)), F.lit("stale"))
        .otherwise(F.lit("fresh"))
    )
    return out.select(
        "group",
        F.coalesce(F.col("rows"), F.lit(0)).cast("long").alias("rows"),
        F.date_format("__last", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.round(lag, 6).alias("lag_seconds"),
        verdict.alias("verdict"),
    )
