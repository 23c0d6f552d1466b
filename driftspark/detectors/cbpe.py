"""Confidence-Based Performance Estimation — Spark-native.

Semantics parity with /root/reference/src/drift_autopsy/detectors/proxy/cbpe.py:
confidence = max class probability for (n, k) probas, the raw probability
for 1-D binary probas (cbpe.py:70-77, 119-124); decile bins via
``np.digitize(conf, linspace(0,1,11)[:-1]) - 1`` clipped (cbpe.py:80-87);
bins kept when EITHER side has >= min_bin_count (cbpe.py:135); chi-square
of test counts vs reference-proportion-scaled expected counts
(cbpe.py:152-157); reference mean confidence approximated by the LEFT bin
edge (cbpe.py:170-175 — replicated exactly, including the bias);
p-value severity ladder (cbpe.py:183-193).

Spark execution: fit and detect are each ONE keyed count (stats.key_counts)
of the confidence bin (array_max for (n,k) probas — pure column math, no
UDF); the chi-square over <= n_bins numbers runs on the driver.
"""

from __future__ import annotations

import logging

import numpy as np
from pyspark.sql import functions as F

from driftspark.dataset import SparkDataset
from driftspark.detectors.base import BaseDriftDetector
from driftspark.numerics import chisquare, severity_from_pvalue
from driftspark.registry import DetectorRegistry
from driftspark.results import DetectionResult, DriftSeverity
from driftspark.stats import digitize_clip_expr, key_counts

logger = logging.getLogger(__name__)


@DetectorRegistry.register("cbpe")
class CBPE(BaseDriftDetector):
    """CBPE proxy-performance detector (args mirror cbpe.py:38-47)."""

    def __init__(
        self,
        threshold: float = 0.05,
        n_bins: int = 10,
        min_bin_count: int = 5,
    ):
        super().__init__(name="cbpe")
        self.threshold = threshold
        self.n_bins = n_bins
        self.min_bin_count = min_bin_count
        self._reference_bins: np.ndarray | None = None
        self._bin_edges: np.ndarray | None = None

    def _confidence_col(self, ds: SparkDataset) -> F.Column:
        if ds.proba_col is None:
            raise ValueError(
                "CBPE requires a probability column (proba_col) in the dataset. "
                "Please run your model and add predictions to the dataset."
            )
        if ds.proba_is_array():
            return F.array_max(F.col(ds.proba_col)).cast("double")
        return F.col(ds.proba_col).cast("double")

    def _bin_counts(self, ds: SparkDataset) -> np.ndarray:
        b = digitize_clip_expr("__conf", self._bin_edges, self.n_bins)
        counts = np.zeros(self.n_bins, dtype=np.int64)
        rows = key_counts(
            ds.df.select(self._confidence_col(ds).alias("__conf")), {"conf": b}
        ).collect()
        for r in rows:
            if r["key"] is not None:
                counts[r["key"]] = r["c"]
        return counts

    def fit(self, reference_data: SparkDataset) -> None:
        super().fit(reference_data)
        self._bin_edges = np.linspace(0, 1, self.n_bins + 1)
        self._reference_bins = self._bin_counts(reference_data)
        logger.info("CBPE fitted, reference bins: %s", self._reference_bins)

    def detect(self, test_data: SparkDataset) -> DetectionResult:
        self._require_fitted()
        test_bins = self._bin_counts(test_data)

        valid = (self._reference_bins >= self.min_bin_count) | (
            test_bins >= self.min_bin_count
        )
        ref_counts = self._reference_bins[valid]
        test_counts = test_bins[valid]

        if len(ref_counts) < 2:
            return DetectionResult(
                detector_name=self.name,
                drift_detected=False,
                severity=DriftSeverity.NONE,
                score=0.0,
                threshold=self.threshold,
                metadata={"message": "Insufficient data in bins"},
            )

        ref_proportions = ref_counts / ref_counts.sum()
        expected_counts = ref_proportions * test_counts.sum()
        chi2_stat, p_value = chisquare(test_counts, expected_counts)

        # mean-confidence shift: ref mean reconstructed from LEFT bin edges
        # (cbpe.py:170-175), test mean from the actual confidence column
        total_ref = self._reference_bins.sum()
        ref_mean_conf = (
            float(
                np.dot(self._bin_edges[: self.n_bins], self._reference_bins) / total_ref
            )
            if total_ref > 0
            else 0.5
        )
        conf = self._confidence_col(test_data)
        test_mean_conf = float(
            test_data.df.select(F.mean(conf).alias("m")).first()["m"]
        )
        confidence_shift = abs(test_mean_conf - ref_mean_conf)

        drift_detected = p_value < self.threshold
        severity = DriftSeverity(severity_from_pvalue(p_value, self.threshold))

        return DetectionResult(
            detector_name=self.name,
            drift_detected=drift_detected,
            severity=severity,
            score=chi2_stat,
            threshold=self.threshold,
            p_value=p_value,
            statistic=chi2_stat,
            metadata={
                "chi2_statistic": chi2_stat,
                "n_bins": self.n_bins,
                "n_valid_bins": int(len(ref_counts)),
                "ref_mean_confidence": ref_mean_conf,
                "test_mean_confidence": test_mean_conf,
                "confidence_shift": float(confidence_shift),
                "interpretation": (
                    "Confidence distribution has shifted, suggesting performance change"
                    if drift_detected
                    else "Confidence distribution stable, performance likely unchanged"
                ),
            },
        )
