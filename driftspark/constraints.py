"""Uniqueness and referential constraints with explicit skew handling
(SURVEY.md §2.3 J4/J5; north rule: "uniqueness and referential constraints
with salted aggregations and broadcast/sort-merge joins to defeat skew").

Design notes for 10^12-row scale:

* Uniqueness counting defaults to a single groupBy: for COUNT-shaped
  aggregation, Spark's map-side partial combine already neutralizes hot
  keys — a hot key emits at most one partial row per map task, so no
  reducer ever receives more than n_map_tasks rows for it, and an extra
  salt level only doubles the key-grain shuffle.  The explicit salted
  two-phase variant (``salt_buckets=N``) remains for aggregates whose
  per-key STATE grows with rows (collect-style payload gathering) or when
  a downstream join on the key is what skews — there the salt genuinely
  bounds per-reducer memory.
* The violation-row join back to the base table broadcasts the duplicate
  key set when it is small (the common case — violations are rare), else
  falls back to a shuffle join with AQE skew splitting.
* Referential checking is a LEFT ANTI join; the parent side is broadcast
  when small (dimension tables), else sort-merge with AQE.
"""

from __future__ import annotations

import logging
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from driftspark.session import local_frame

logger = logging.getLogger(__name__)

BROADCAST_ROW_LIMIT = 2_000_000


# Broadcast-probe design note: a limit(n+1).count() probe looks cheaper
# than count(), but its GlobalLimit funnels every aggregated row through
# ONE task (measured ~10% regression on the 10M-row validation job), and
# its incremental CollectLimit execution materializes cached aggregates in
# stages.  The probes below therefore never move rows: uniqueness_check
# reads n_dup_keys off the report it computes anyway (zero extra jobs),
# uniqueness_violations uses a parallel map-side-partial count over the
# aggregate output, and referential_violations sizes the parent with
# approx_count_distinct (one pass, no distinct shuffle at all).


def duplicate_keys(
    df: DataFrame, key_cols: Sequence[str], salt_buckets: Optional[int] = None
) -> DataFrame:
    """Keys occurring more than once → (key_cols..., dup_count).

    Default: single groupBy (map-side partial combine bounds hot keys —
    see module docstring).  ``salt_buckets=N`` opts into the explicit
    two-phase salted aggregation."""
    key_cols = list(key_cols)
    if salt_buckets:
        salted = df.select(*key_cols).withColumn(
            "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
        )
        partial = salted.groupBy(*key_cols, "__salt").agg(
            F.count(F.lit(1)).alias("__cnt")
        )
        counted = partial.groupBy(*key_cols).agg(F.sum("__cnt").alias("dup_count"))
    else:
        counted = df.select(*key_cols).groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("dup_count")
        )
    return counted.where(F.col("dup_count") > 1)


def uniqueness_violations(
    df: DataFrame,
    key_cols: Sequence[str],
    salt_buckets: Optional[int] = None,
    broadcast_row_limit: int = BROADCAST_ROW_LIMIT,
) -> DataFrame:
    """All base rows whose key is duplicated, with the key's dup_count.

    The duplicate key set is counted (a parallel partial-count over the
    aggregate output — no row movement); when small it is broadcast so
    the violation join is shuffle-free on the base table side."""
    key_cols = list(key_cols)
    # lazy localCheckpoint (NOT .cache()): the count probe and the violation
    # join otherwise each run the full key-grain aggregation, but a
    # CacheManager entry leaks one cached table per call in long-lived
    # sessions — checkpoint blocks are reclaimed by the ContextCleaner
    # when the frame is garbage-collected.  Trade-off: lineage is
    # truncated, so an executor loss fails the job instead of
    # recomputing (drop_near_duplicates precedent).
    dups = duplicate_keys(df, key_cols, salt_buckets).localCheckpoint(eager=False)
    right = F.broadcast(dups) if dups.count() <= broadcast_row_limit else dups
    return df.join(right, on=key_cols, how="inner")


def uniqueness_report(
    df: DataFrame, key_cols: Sequence[str], group_col: Optional[str] = None
) -> DataFrame:
    """Per-group uniqueness metrics: rows, exact distinct keys,
    duplicate rows/keys, unique_ok (SURVEY.md J4)."""
    key_cols = list(key_cols)
    gcols = [group_col] if group_col else []
    counted = df.groupBy(*gcols, *key_cols).agg(F.count(F.lit(1)).alias("c"))
    # coalesce: the UNGROUPED variant over an empty frame yields one row
    # of NULL sums — an empty table is trivially unique_ok, not NULL
    return counted.groupBy(*gcols).agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct_keys"),
        F.coalesce(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_dup_rows"),
        F.coalesce(F.sum((F.col("c") > 1).cast("long")), F.lit(0))
        .cast("long").alias("n_dup_keys"),
    ).withColumn("unique_ok", F.col("n_dup_keys") == 0)


def uniqueness_check(
    df: DataFrame,
    key_cols: Sequence[str],
    salt_buckets: Optional[int] = None,
    broadcast_row_limit: int = BROADCAST_ROW_LIMIT,
):
    """Report + violations from ONE key-count aggregation.

    The per-key counts are computed once (localCheckpoint — blocks are
    GC-reclaimed, unlike a CacheManager .cache() entry, which leaked one
    table per call in long-lived sessions); the report aggregate and the
    duplicate-key filter both derive from it, halving the key-grain
    shuffle work vs calling uniqueness_report and uniqueness_violations
    separately.  Returns (report_df, violations_df).
    """
    key_cols = list(key_cols)
    if salt_buckets:
        salted = df.select(*key_cols).withColumn(
            "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
        )
        counted = (
            salted.groupBy(*key_cols, "__salt")
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .groupBy(*key_cols)
            .agg(F.sum("__cnt").alias("c"))
            .localCheckpoint(eager=False)
        )
    else:
        counted = (
            df.select(*key_cols)
            .groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint(eager=False)
        )
    # coalesce: a global agg over an EMPTY frame returns one row whose
    # sums are NULL — int(None) crashed below and unique_ok was NULL
    # instead of True for an empty (trivially unique) table
    report = counted.groupBy().agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct_keys"),
        F.coalesce(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_dup_rows"),
        F.coalesce(F.sum((F.col("c") > 1).cast("long")), F.lit(0))
        .cast("long").alias("n_dup_keys"),
    ).withColumn("unique_ok", F.col("n_dup_keys") == 0)
    # ONE action materializes the cached counts AND yields the broadcast
    # decision: the report row already carries n_dup_keys, so no separate
    # probe job runs at all (the report is returned as a local one-row
    # frame — collecting it twice would be free anyway)
    report_row = report.first()
    report = local_frame(df.sparkSession, [report_row], report.schema)
    dups = counted.where(F.col("c") > 1).withColumnRenamed("c", "dup_count")
    right = (
        F.broadcast(dups)
        if int(report_row["n_dup_keys"]) <= broadcast_row_limit
        else dups
    )
    violations = df.join(right, on=key_cols, how="inner")
    return report, violations


def referential_violations(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    broadcast_parent: Optional[bool] = None,
    broadcast_row_limit: int = BROADCAST_ROW_LIMIT,
    nulls_violate: bool = False,
    warn_nulls: bool = True,
) -> DataFrame:
    """Child rows whose key has no match in parent (LEFT ANTI join).

    NULL foreign keys follow SQL MATCH SIMPLE by default (a NULL FK is
    SATISFIED — the anti-join would otherwise report every NULL-FK row,
    since NULL never equi-matches); they are COUNTED and warned rather
    than silently dropped (the psi/chi2 null-part convention), skipping
    the probe entirely when the schema marks the column non-nullable.
    The probe is ONE eager column-pruned count job at call time (parquet
    null-count stats serve it without decoding values); callers that need
    a fully-lazy plan — or that validate the same child repeatedly —
    pass ``warn_nulls=False`` to skip it (zero extra jobs, NULL-FK rows
    still correctly treated as satisfied).
    ``nulls_violate=True`` restores the stricter pre-r5 behavior: NULL-FK
    rows are appended to the violation output (lazily — no count probe).

    ``broadcast_parent=None`` (auto): the parent key cardinality is sized
    with approx_count_distinct (HLL — ONE parallel pass over parent, no
    distinct shuffle for the probe) and broadcast when under the limit;
    True/False force the strategy.  At scale a non-broadcastable parent
    goes through sort-merge with AQE skew-join splitting (enabled in
    driftspark.session)."""
    null_rows = None
    if nulls_violate:
        null_rows = child.where(F.col(child_key).isNull())
    elif warn_nulls and child.schema[child_key].nullable:
        # column-pruned IS NULL count (parquet null-count stats serve it
        # without decoding values) so the MATCH SIMPLE drop is observable
        n_null = child.where(F.col(child_key).isNull()).count()
        if n_null:
            logger.warning(
                "referential_violations: %d child row(s) have NULL %s and "
                "are treated as SATISFIED (SQL MATCH SIMPLE); pass "
                "nulls_violate=True to report them as violations",
                n_null, child_key,
            )
    child = child.where(F.col(child_key).isNotNull())
    parent_keys = parent.select(F.col(parent_key).alias(child_key)).distinct()
    if broadcast_parent is None:
        approx_n = parent.agg(
            F.approx_count_distinct(parent_key).alias("n")
        ).first()["n"]
        # HLL carries ~2.3% default relative error — shrink the effective
        # limit so a true count just above it can't sneak into a broadcast
        # and pressure driver/executor memory right at the boundary
        broadcast_parent = int(approx_n) <= int(broadcast_row_limit * 0.95)
    right = F.broadcast(parent_keys) if broadcast_parent else parent_keys
    anti = child.join(right, on=child_key, how="left_anti")
    return anti.unionByName(null_rows) if null_rows is not None else anti
