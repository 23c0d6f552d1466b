"""Root-cause analysis.

Two analyzers:

* ``shap`` — structural parity with the reference SHAPAnalyzer
  (/root/reference/src/drift_autopsy/rca/shap_analyzer.py:42-243):
  driver-side SHAP on 100+100 content-keyed samples (the reference itself
  samples — shap_analyzer.py:124-132), with the reference's exact
  degraded-mode results when no model is supplied (:72-78) or the shap
  library is absent (:80-88, the case in this container).
* ``distribution_change`` — Spark-native, dependency-free RCA: ranks
  features by importance SHIFT using the domain-classifier's distributed
  random-forest importances (how much each feature helps separate
  reference from test — a direct "what changed" signal) combined with
  per-feature moment shifts; same RCAResult shape/keys.
"""

from __future__ import annotations

import logging
import zlib
from functools import partial
from typing import Any, List, Optional

import numpy as np
from pyspark.sql import functions as F

from driftspark.dataset import SparkDataset
from driftspark.registry import RCARegistry
from driftspark.results import LocalizationResult, RCAResult
from driftspark.sampling import content_keyed_top_n
from driftspark.session import concurrently
from driftspark.stats import moment_stats

logger = logging.getLogger(__name__)


class BaseRootCauseAnalyzer:
    def __init__(self, name: str):
        self._name = name

    @property
    def name(self) -> str:
        return self._name

    def analyze(
        self,
        reference_data: SparkDataset,
        test_data: SparkDataset,
        localization: Optional[LocalizationResult] = None,
        model: Optional[Any] = None,
    ) -> RCAResult:
        raise NotImplementedError


@RCARegistry.register("shap")
class SHAPAnalyzer(BaseRootCauseAnalyzer):
    """SHAP importance-shift RCA (reference-parity degraded modes)."""

    def __init__(
        self,
        n_background_samples: int = 100,
        n_test_samples: int = 100,
        feature_subset: Optional[List[str]] = None,
    ):
        super().__init__(name="shap")
        self.n_background_samples = n_background_samples
        self.n_test_samples = n_test_samples
        self.feature_subset = feature_subset

    def _sample(self, ds: SparkDataset, cols, n):
        df = ds.df.select([F.col(c).cast("double").alias(c) for c in cols]).na.fill(0.0)
        return (
            content_keyed_top_n(df, n, F.xxhash64(*cols), cols)
            .toPandas().values.astype(float)
        )

    def analyze(self, reference_data, test_data, localization=None, model=None) -> RCAResult:
        if model is None:
            return RCAResult(
                analyzer_name=self.name,
                explanations={"error": "Model required for SHAP analysis"},
                recommendations=["Provide a trained model to enable SHAP analysis"],
            )
        try:
            import shap
        except ImportError:
            return RCAResult(
                analyzer_name=self.name,
                explanations={"error": "SHAP library not installed"},
                recommendations=["Install SHAP: pip install shap"],
            )

        numeric_cols = reference_data.numeric_features
        if not numeric_cols:
            return RCAResult(
                analyzer_name=self.name,
                explanations={"error": "No numeric features for SHAP"},
            )
        if self.feature_subset:
            focus = [f for f in self.feature_subset if f in numeric_cols]
        elif localization and localization.drifted_features:
            focus = [f for f in localization.drifted_features if f in numeric_cols]
        else:
            focus = numeric_cols
        focus = focus or numeric_cols

        X_ref = self._sample(reference_data, numeric_cols, self.n_background_samples)
        X_test = self._sample(test_data, numeric_cols, self.n_test_samples)
        try:
            explainer = shap.Explainer(model.predict, X_ref)
            sv_ref, sv_test = explainer(X_ref), explainer(X_test)
            shap_ref = getattr(sv_ref, "values", sv_ref)
            shap_test = getattr(sv_test, "values", sv_test)
            if len(shap_ref.shape) == 3:
                shap_ref = np.abs(shap_ref).mean(axis=2)
                shap_test = np.abs(shap_test).mean(axis=2)
            ref_imp = np.abs(shap_ref).mean(axis=0)
            test_imp = np.abs(shap_test).mean(axis=0)
            return _importance_shift_result(
                self.name, numeric_cols, focus, ref_imp, test_imp, localization,
                method="SHAP feature importance comparison",
                n_ref=len(X_ref), n_test=len(X_test),
            )
        except Exception as e:  # noqa: BLE001 — shap_analyzer.py:237-243
            logger.error("SHAP analysis failed: %s", e)
            return RCAResult(
                analyzer_name=self.name,
                explanations={"error": f"SHAP analysis failed: {e}"},
                recommendations=[
                    "Check model compatibility with SHAP",
                    "Verify data format",
                ],
            )


@RCARegistry.register("distribution_change")
class DistributionChangeRCA(BaseRootCauseAnalyzer):
    """Spark-native RCA: domain-classifier importances + moment shifts."""

    def __init__(self, n_estimators: int = 100, max_depth: int = 5, seed: int = 42):
        super().__init__(name="distribution_change")
        self.n_estimators = n_estimators
        self.max_depth = max_depth
        self.seed = seed

    def analyze(self, reference_data, test_data, localization=None, model=None) -> RCAResult:
        from driftspark.detectors.domain_classifier import DomainClassifier

        numeric_cols = [
            c for c in reference_data.numeric_features if c in test_data.df.columns
        ]
        if not numeric_cols:
            return RCAResult(
                analyzer_name=self.name,
                explanations={"error": "No numeric features"},
            )

        dc = DomainClassifier(
            n_estimators=self.n_estimators,
            max_depth=self.max_depth,
            use_cross_val=False,
            random_state=self.seed,
        )
        det = dc.fit_detect(reference_data, test_data)
        importances = dict(det.metadata["top_features"])

        ref_m = moment_stats(reference_data.df, numeric_cols)
        test_m = moment_stats(test_data.df, numeric_cols)
        changes = {}
        for c in numeric_cols:
            rm, rs = ref_m[c]
            tm, ts = test_m[c]
            changes[c] = {
                "ref_mean": rm,
                "test_mean": tm,
                "mean_shift": tm - rm,
                "ref_std": rs,
                "test_std": ts,
                "std_shift": ts - rs,
                "separability_importance": float(importances.get(c, 0.0)),
            }

        ranked = sorted(
            numeric_cols, key=lambda c: importances.get(c, 0.0), reverse=True
        )
        recommendations = []
        top = [c for c in ranked if importances.get(c, 0.0) > 1.0 / max(len(numeric_cols), 1)][:3]
        if top:
            recommendations.append(
                f"Features most responsible for ref/test separability: {', '.join(top)}"
            )
        if localization and localization.drifted_features:
            both = set(localization.drifted_features) & set(ranked[:5])
            if both:
                recommendations.append(
                    f"Features both drifted and importance-ranked: {', '.join(sorted(both))} - likely root causes"
                )

        return RCAResult(
            analyzer_name=self.name,
            explanations={
                "method": "domain-classifier separability importances + moment shifts",
                "domain_auc": det.score,
                "top_importance_changes": [
                    (c, float(importances.get(c, 0.0))) for c in ranked[:10]
                ],
            },
            feature_importances={c: float(importances.get(c, 0.0)) for c in numeric_cols},
            distribution_changes=changes,
            recommendations=recommendations,
            metadata={"n_features_analyzed": len(numeric_cols)},
        )


def _importance_shift_result(
    name, numeric_cols, focus, ref_imp, test_imp, localization, method, n_ref, n_test
) -> RCAResult:
    """Assemble the reference's importance-shift RCAResult layout
    (shap_analyzer.py:159-235)."""
    shift = test_imp - ref_imp
    feature_importances, importance_changes = {}, {}
    for i, f in enumerate(numeric_cols):
        feature_importances[f] = {
            "ref_importance": float(ref_imp[i]),
            "test_importance": float(test_imp[i]),
            "change": float(shift[i]),
            "relative_change": float(shift[i] / (ref_imp[i] + 1e-10)),
        }
        importance_changes[f] = float(shift[i])
    focus_changes = {f: importance_changes[f] for f in focus if f in importance_changes}
    sorted_focus = sorted(focus_changes.items(), key=lambda x: abs(x[1]), reverse=True)
    other = {f: c for f, c in importance_changes.items() if f not in focus}
    sorted_other = sorted(other.items(), key=lambda x: abs(x[1]), reverse=True)
    sorted_changes = sorted_focus + sorted_other

    recommendations = []
    increased = [(f, c) for f, c in sorted_focus if c > 0][:3]
    if increased:
        recommendations.append(
            f"Features with increased model reliance: {', '.join(f for f, _ in increased)}"
        )
    decreased = [(f, c) for f, c in sorted_focus if c < 0][:3]
    if decreased:
        recommendations.append(
            f"Features with decreased model reliance: {', '.join(f for f, _ in decreased)}"
        )
    if localization and localization.drifted_features:
        both = set(localization.drifted_features) & set(f for f, _ in sorted_changes[:5])
        if both:
            recommendations.append(
                f"Features both drifted and importance-shifted: {', '.join(both)} - likely root causes"
            )
    return RCAResult(
        analyzer_name=name,
        explanations={
            "method": method,
            "n_reference_samples": n_ref,
            "n_test_samples": n_test,
            "top_importance_changes": sorted_changes[:10],
        },
        feature_importances=importance_changes,
        distribution_changes=feature_importances,
        recommendations=recommendations,
        metadata={
            "n_features_analyzed": len(numeric_cols),
            "n_features_focused": len(focus),
            "features_focused": focus,
        },
    )


@RCARegistry.register("permutation_importance")
class PermutationImportanceRCA(BaseRootCauseAnalyzer):
    """Model-agnostic permutation importance (Breiman 2001), Spark-native.

    A domain classifier (ref=0 / test=1 random forest) is fitted on a
    hash-split train fold; each feature's importance is the held-out
    ROC-AUC DROP when that feature's column is permuted (batch-local
    permutation inside mapInPandas — the standard large-data
    approximation: each Arrow batch is shuffled independently, which
    breaks the feature/label association just like a global permutation
    while never shuffling rows across the cluster).  Features whose
    permutation destroys ref/test separability are the drivers of the
    drift.  The per-feature scoring jobs run concurrently.

    This is the engine's model-agnostic replacement for SHAP importance
    shift (the shap library is not available in this environment); unlike
    SHAP it needs no python model on the driver — everything is
    distributed pyspark.ml scoring.
    """

    def __init__(
        self,
        n_estimators: int = 50,
        max_depth: int = 5,
        seed: int = 42,
        max_samples_per_side: int = 50_000,
        train_fraction: float = 0.7,
    ):
        super().__init__(name="permutation_importance")
        self.n_estimators = n_estimators
        self.max_depth = max_depth
        self.seed = seed
        self.max_samples_per_side = max_samples_per_side
        self.train_fraction = train_fraction

    def analyze(self, reference_data, test_data, localization=None, model=None) -> RCAResult:
        import pandas as pd
        from pyspark.ml.classification import RandomForestClassifier
        from pyspark.ml.evaluation import BinaryClassificationEvaluator
        from pyspark.ml.feature import VectorAssembler

        cols = [
            c for c in reference_data.numeric_features if c in test_data.df.columns
        ]
        if not cols:
            return RCAResult(
                analyzer_name=self.name,
                explanations={"error": "No numeric features"},
            )

        spark = reference_data.df.sparkSession
        cap = self.max_samples_per_side

        def side(ds, label):
            sel = [F.nanvl(F.col(c).cast("double"), F.lit(None)).alias(c) for c in cols]
            d = ds.df.select(*sel)
            if cap is not None:
                d = content_keyed_top_n(d, cap, F.xxhash64(*cols), cols)
            return d.withColumn("label", F.lit(float(label)))

        u = (
            side(reference_data, 0)
            .unionByName(side(test_data, 1))
            .na.fill(0.0)
            # the global sample limits collapse partitions — spread back
            # out before fitting (same lesson as DomainClassifier)
            .repartition(spark.sparkContext.defaultParallelism)
        )
        # content-keyed hash split: train fold fits, held fold scores
        is_train = F.pmod(
            F.xxhash64(*cols, F.lit(self.seed)), 1000
        ) < int(self.train_fraction * 1000)
        train_raw = u.where(is_train)
        held_raw = u.where(~is_train).cache()
        held_raw.count()

        assembler = VectorAssembler(inputCols=cols, outputCol="features")
        rf = RandomForestClassifier(
            numTrees=self.n_estimators,
            maxDepth=self.max_depth,
            seed=self.seed,
            featuresCol="features",
            labelCol="label",
        )
        evaluator = BinaryClassificationEvaluator(
            labelCol="label", metricName="areaUnderROC"
        )
        fitted = rf.fit(assembler.transform(train_raw).select("features", "label"))
        base_auc = float(
            evaluator.evaluate(fitted.transform(assembler.transform(held_raw)))
        )

        schema = held_raw.schema

        def score_permuted(c: str) -> float:
            # stable digest, NOT builtin hash(): str hashing is randomized
            # per process (PYTHONHASHSEED), which would break the
            # determinism the explicit seed promises
            feat_seed = (self.seed * 1_000_003 + zlib.crc32(c.encode())) % (2**32)

            def permute(batches):
                rng = np.random.default_rng(feat_seed)
                for pdf in batches:
                    out = pdf.copy()
                    out[c] = rng.permutation(out[c].values)
                    yield out

            permuted = held_raw.mapInPandas(permute, schema=schema)
            return float(
                evaluator.evaluate(fitted.transform(assembler.transform(permuted)))
            )

        permuted_aucs = dict(zip(cols, concurrently(
            spark, *[partial(score_permuted, c) for c in cols], max_workers=8
        )))
        held_raw.unpersist()

        drops = {c: float(base_auc - a) for c, a in permuted_aucs.items()}
        total = sum(max(v, 0.0) for v in drops.values())
        importances = {
            c: (max(v, 0.0) / total if total > 0 else 0.0) for c, v in drops.items()
        }
        ranked = sorted(cols, key=lambda c: drops[c], reverse=True)

        recommendations = []
        top = [c for c in ranked[:3] if drops[c] > 0.01]
        if top:
            recommendations.append(
                "Separability collapses when these features are permuted "
                f"(likely drift drivers): {', '.join(top)}"
            )
        if localization and localization.drifted_features:
            both = set(localization.drifted_features) & set(ranked[:5])
            if both:
                recommendations.append(
                    "Features both drifted and permutation-important: "
                    f"{', '.join(sorted(both))} - likely root causes"
                )

        return RCAResult(
            analyzer_name=self.name,
            explanations={
                "method": "held-out AUC drop under per-feature permutation",
                "base_auc": base_auc,
                "permuted_auc": {c: float(a) for c, a in permuted_aucs.items()},
                "auc_drop": drops,
            },
            feature_importances=importances,
            recommendations=recommendations,
            metadata={"n_features_analyzed": len(cols), "base_auc": base_auc},
        )
