"""One-call validation runner — the north-rule pipeline in a box.

``run_validation`` executes the complete validated-images pass over a
split-tagged image table: per-partition column profile, uniqueness +
referential constraints, per-partition drift verdicts (PSI / KS / chi2),
optional decoded-payload checks, with optional checkpoint/resume and
table sinks.  The independent pass families run concurrently (driver
threads; Spark interleaves their stages).  This is what
tools/validate_job.py submits via spark-submit.

Every output is computed once, inside its pass, and reading it afterwards
does not re-run its plan:

* driver-local (a ``LocalRelation``, session.local_frame — collecting it
  submits no Spark job): verdicts, the uniqueness report, profile and
  expectations, all O(partitions x columns) rows;
* checkpointed once (``localCheckpoint(eager=True)``; the blocks are
  reclaimed by the ContextCleaner when the frame is garbage-collected):
  the row-grain referential violations, payload checks and contamination;
* lazy: uniqueness violations — each row carries the full base row, so a
  caller that never reads them does not pay for them.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Dict, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from driftspark.session import concurrently, local_frame


@dataclass
class ValidationResult:
    """Handles to every output of a validation run, each computed once
    (see the module docstring): verdicts, uniqueness, profile and
    expectations are driver-local; referential_violations, payload_checks
    and contamination are checkpointed; uniqueness_violations stays lazy.
    Write any of them with driftspark.sinks.write_table."""

    schema_check: Optional[Any] = None  # SchemaCheckResult
    expectations: Optional[DataFrame] = None
    profile: Optional[DataFrame] = None
    uniqueness: Optional[DataFrame] = None
    uniqueness_violations: Optional[DataFrame] = None
    referential_violations: Optional[DataFrame] = None
    verdicts: Optional[DataFrame] = None
    payload_checks: Optional[DataFrame] = None
    contamination: Optional[DataFrame] = None
    n_images: int = 0
    n_pairs: int = 0
    elapsed_sec: float = 0.0
    images_per_sec: float = 0.0
    metadata: Dict[str, Any] = field(default_factory=dict)

    @property
    def passed(self) -> bool:
        """True when no verdict failed and no violation row exists."""
        ok = True
        if self.schema_check is not None:
            ok &= self.schema_check.ok
        if self.expectations is not None:
            ok &= self.expectations.where(~F.col("passed")).limit(1).count() == 0
        if self.verdicts is not None:
            ok &= self.verdicts.where(~F.col("passed")).limit(1).count() == 0
        if self.uniqueness_violations is not None:
            ok &= self.uniqueness_violations.limit(1).count() == 0
        if self.referential_violations is not None:
            ok &= self.referential_violations.limit(1).count() == 0
        if self.payload_checks is not None:
            ok &= (
                self.payload_checks.where(
                    ~(F.col("pixels_ok") & F.col("caption_ok"))
                ).limit(1).count()
                == 0
            )
        return ok


def run_validation(
    images: DataFrame,
    numeric_cols: Sequence[str] = ("w", "h", "phash"),
    cat_cols: Sequence[str] = ("fmt",),
    ks_cols: Optional[Sequence[str]] = ("w", "h"),
    key_cols: Sequence[str] = ("image_id", "split"),
    part_col: str = "part",
    split_col: str = "split",
    pairs: Optional[DataFrame] = None,
    parent: Optional[DataFrame] = None,
    fk_col: str = "fk_dataset_id",
    parent_key: str = "dataset_id",
    approx_quantile_error: Optional[float] = None,
    checkpoint=None,
    run_id: Optional[str] = None,
    min_psnr: float = 40.0,
    expected_schema=None,
    expectations=None,
    contamination_ref: Optional[DataFrame] = None,
    contamination_max_hamming: int = 4,
    **verdict_kwargs,
) -> ValidationResult:
    """Run the full constraint + drift (+ payload) validation concurrently.

    ``pairs``: pre-joined payload pairs (ref_bytes/test_bytes wide layout,
    see synth.synth_image_pairs_wide) or a split-tagged two-copy table.
    ``parent``: optional dimension table for the referential check.
    ``checkpoint``+``run_id``: resume-aware verdict computation
    (driftspark.checkpoint).
    """
    from driftspark.constraints import referential_violations, uniqueness_check
    from driftspark.imageops import validate_image_payloads_auto
    from driftspark.profile import profile_columns
    from driftspark.verdicts import partition_verdicts

    # the image-table KS columns default to w/h — heavily quantized, where
    # pre-aggregating the broadcast-KS test side shrinks hot-partition
    # groups by orders of magnitude (verdicts.ks_d_against_ecdf); callers
    # monitoring continuous columns can pass ks_preaggregate=False
    verdict_kwargs.setdefault("ks_preaggregate", True)

    res = ValidationResult()
    spark = images.sparkSession
    t0 = time.time()

    if expected_schema is not None:
        from driftspark.schema import check_schema

        res.schema_check = check_schema(images, expected_schema)

    def collected(df: DataFrame) -> DataFrame:
        # a partition-bounded aggregate: one job, then served on the driver
        return local_frame(spark, df.collect(), df.schema)

    def pass_profile():
        res.profile = collected(
            profile_columns(
                images,
                columns=list(numeric_cols) + list(cat_cols),
                group_cols=[part_col],
            )
        )

    def pass_uniqueness():
        res.uniqueness, res.uniqueness_violations = uniqueness_check(
            images, list(key_cols)
        )
        # the report counts every row, NULL keys included
        res.n_images = res.uniqueness.first()["n_rows"]

    def pass_referential():
        if parent is not None and fk_col in images.columns:
            res.referential_violations = referential_violations(
                images, fk_col, parent, parent_key
            ).localCheckpoint(eager=True)

    def pass_verdicts():
        if checkpoint is not None and run_id is not None:
            from driftspark.checkpoint import resumable_partition_drift

            res.verdicts = resumable_partition_drift(
                images,
                checkpoint,
                run_id,
                numeric_cols=list(numeric_cols),
                cat_cols=list(cat_cols),
                part_col=part_col,
                ks_cols=list(ks_cols) if ks_cols is not None else None,
                approx_quantile_error=approx_quantile_error,
                **verdict_kwargs,
            )
        else:
            res.verdicts = partition_verdicts(
                images,
                numeric_cols=list(numeric_cols),
                cat_cols=list(cat_cols),
                part_col=part_col,
                split_col=split_col,
                ks_cols=list(ks_cols) if ks_cols is not None else None,
                approx_quantile_error=approx_quantile_error,
                **verdict_kwargs,
            )

    def pass_payload():
        if pairs is None:
            return
        # ONE front door (imageops.validate_image_payloads_auto): the
        # pre-joined layout takes the zero-shuffle paired path; the
        # split-table layout takes the full-outer join and WARNS above
        # the row threshold that the byte shuffle is the job at scale
        if "ref_bytes" in pairs.columns:
            checks = validate_image_payloads_auto(pairs, min_psnr=min_psnr)
        else:
            checks = validate_image_payloads_auto(
                pairs.where(F.col(split_col) == "ref"),
                pairs.where(F.col(split_col) == "test"),
                min_psnr=min_psnr,
            )
        res.payload_checks = checks.localCheckpoint(eager=True)
        res.n_pairs = res.payload_checks.count()

    def pass_contamination():
        # optional decontamination pass: test-split images vs an external
        # reference corpus by phash hamming (a REPORT — leaks are a
        # curation decision, so it does not gate `passed`)
        if contamination_ref is None:
            return
        from driftspark.imageops import phash_contamination

        res.contamination = phash_contamination(
            images.where(F.col(split_col) == "test"),
            contamination_ref,
            max_hamming=contamination_max_hamming,
        ).localCheckpoint(eager=True)

    def pass_expectations():
        if expectations is None:
            return
        from driftspark.schema import run_expectations

        res.expectations = collected(
            run_expectations(images, expectations, group_col=part_col)
        )

    concurrently(
        images.sparkSession,
        pass_profile,
        pass_uniqueness,
        pass_referential,
        pass_verdicts,
        pass_payload,
        pass_expectations,
        pass_contamination,
    )

    res.elapsed_sec = time.time() - t0
    total = res.n_images + res.n_pairs
    res.images_per_sec = total / res.elapsed_sec if res.elapsed_sec > 0 else 0.0
    res.metadata = {
        "numeric_cols": list(numeric_cols),
        "cat_cols": list(cat_cols),
        "ks_cols": list(ks_cols) if ks_cols is not None else None,
        "run_id": run_id,
    }
    return res
