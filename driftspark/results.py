"""Result dataclasses — JSON-shape-compatible with the reference engine.

Mirrors /root/reference/src/drift_autopsy/core/result.py (same field names,
same ``to_dict()`` key layout, same severity enum values) so a consumer of
the reference's result JSON can read ours unchanged.  Per-row outputs
(violations, hallucination flags) additionally materialize as Spark
DataFrames — see driftspark.verdicts / driftspark.detectors.hallucination.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Dict, List, Optional


class DriftSeverity(Enum):
    """Severity levels (reference result.py:9-15)."""

    NONE = "none"
    LOW = "low"
    MEDIUM = "medium"
    HIGH = "high"
    CRITICAL = "critical"


@dataclass
class DetectionResult:
    """Drift detection outcome (reference result.py:18-42)."""

    detector_name: str
    drift_detected: bool
    severity: DriftSeverity
    score: float
    threshold: float
    p_value: Optional[float] = None
    statistic: Optional[float] = None
    metadata: Dict[str, Any] = field(default_factory=dict)

    def to_dict(self) -> Dict[str, Any]:
        return {
            "detector_name": self.detector_name,
            "drift_detected": self.drift_detected,
            "severity": self.severity.value,
            "score": self.score,
            "threshold": self.threshold,
            "p_value": self.p_value,
            "statistic": self.statistic,
            "metadata": self.metadata,
        }


@dataclass
class FeatureDrift:
    """Per-feature drift row (reference result.py:45-54)."""

    feature_name: str
    drift_detected: bool
    score: float
    p_value: Optional[float] = None
    severity: DriftSeverity = DriftSeverity.NONE
    distribution_shift: Optional[Dict[str, Any]] = None


@dataclass
class LocalizationResult:
    """Localization outcome (reference result.py:57-97), including the
    __post_init__ derivation of drifted_features/drift_scores."""

    method_name: str
    feature_drifts: List[FeatureDrift]
    drifted_features: List[str] = field(default_factory=list)
    drift_scores: Dict[str, float] = field(default_factory=dict)
    slice_drifts: Optional[Dict[str, Any]] = None
    metadata: Dict[str, Any] = field(default_factory=dict)

    def __post_init__(self):
        self.drifted_features = [
            fd.feature_name for fd in self.feature_drifts if fd.drift_detected
        ]
        self.drift_scores = {fd.feature_name: fd.score for fd in self.feature_drifts}

    def to_dict(self) -> Dict[str, Any]:
        return {
            "method_name": self.method_name,
            "drifted_features": self.drifted_features,
            "drift_scores": self.drift_scores,
            "feature_drifts": [
                {
                    "feature_name": fd.feature_name,
                    "drift_detected": fd.drift_detected,
                    "score": fd.score,
                    "p_value": fd.p_value,
                    "severity": fd.severity.value,
                }
                for fd in self.feature_drifts
            ],
            "slice_drifts": self.slice_drifts,
            "metadata": self.metadata,
        }


@dataclass
class RCAResult:
    """Root-cause analysis outcome (reference result.py:100-121)."""

    analyzer_name: str
    explanations: Dict[str, Any]
    feature_importances: Optional[Dict[str, float]] = None
    distribution_changes: Optional[Dict[str, Any]] = None
    visualizations: Optional[Dict[str, Any]] = None
    recommendations: List[str] = field(default_factory=list)
    metadata: Dict[str, Any] = field(default_factory=dict)

    def to_dict(self) -> Dict[str, Any]:
        return {
            "analyzer_name": self.analyzer_name,
            "explanations": self.explanations,
            "feature_importances": self.feature_importances,
            "distribution_changes": self.distribution_changes,
            "recommendations": self.recommendations,
            "metadata": self.metadata,
        }


@dataclass
class PipelineResult:
    """Full pipeline outcome (reference result.py:124-142)."""

    detection: DetectionResult
    localization: Optional[LocalizationResult] = None
    rca: Optional[RCAResult] = None
    execution_time_seconds: float = 0.0
    metadata: Dict[str, Any] = field(default_factory=dict)

    def to_dict(self) -> Dict[str, Any]:
        return {
            "detection": self.detection.to_dict(),
            "localization": self.localization.to_dict() if self.localization else None,
            "rca": self.rca.to_dict() if self.rca else None,
            "execution_time_seconds": self.execution_time_seconds,
            "metadata": self.metadata,
        }


@dataclass
class HallucinationResult:
    """Aggregate hallucination-risk outcome (reference result.py:145-231).

    Unlike the reference, per-sample arrays live in a Spark DataFrame
    (``rows``: image_id/row_id, confidence, norm_distance, score, flagged)
    rather than driver-side numpy — at 10^12 rows they cannot be collected.
    ``quadrant_counts`` is computed distributed and stored eagerly.
    """

    detector_name: str
    n_hallucination_risk: int
    hallucination_rate: float
    severity: DriftSeverity
    confidence_threshold: float
    distance_threshold: float
    quadrant_counts: Dict[str, int] = field(default_factory=dict)
    rows: Any = None  # pyspark.sql.DataFrame of per-row scores
    metadata: Dict[str, Any] = field(default_factory=dict)

    def to_dict(self) -> Dict[str, Any]:
        return {
            "detector_name": self.detector_name,
            "n_hallucination_risk": self.n_hallucination_risk,
            "hallucination_rate": float(self.hallucination_rate),
            "severity": self.severity.value,
            "confidence_threshold": self.confidence_threshold,
            "distance_threshold": self.distance_threshold,
            "quadrant_counts": self.quadrant_counts,
            "metadata": self.metadata,
        }
