"""Domain-classifier drift detector — distributed pyspark.ml edition.

Semantics parity with
/root/reference/src/drift_autopsy/detectors/model_based/domain_classifier.py:
label reference rows 0 and test rows 1 (domain_classifier.py:96-104),
random forest (100 trees, depth 5) (:107-112), 3-fold cross-validated
ROC-AUC (:114-127), top-10 feature importances (:141-154), AUC severity
ladder .55/.65/.75/.85 (:159-170), drift when auc >= threshold (:157).

Spark execution: where the reference trains sklearn in-process, this
trains pyspark.ml RandomForestClassifier DISTRIBUTED, by default on a
deterministic content-keyed sample of <=100k rows per side (a shallow
forest's AUC saturates well below that; ``max_samples_per_side=None``
trains on the full union).  Cross-validation folds are assigned
by a deterministic row hash (content-keyed, partitioning-invariant), AUC
via BinaryClassificationEvaluator (areaUnderROC).  Model family and
hyperparameters match; tree-level randomness necessarily differs from
sklearn, so parity tests assert behavior (AUC ~ 0.5 on identical
distributions, AUC -> 1 on separated ones, severity cutoffs) rather than
bit equality."""

from __future__ import annotations

import logging
from functools import partial

import numpy as np
from pyspark.sql import functions as F

from driftspark.dataset import SparkDataset
from driftspark.detectors.base import BaseDriftDetector
from driftspark.numerics import severity_from_auc
from driftspark.registry import DetectorRegistry
from driftspark.results import DetectionResult, DriftSeverity
from driftspark.sampling import content_keyed_top_n
from driftspark.session import concurrently

logger = logging.getLogger(__name__)


@DetectorRegistry.register("domain_classifier")
class DomainClassifier(BaseDriftDetector):
    """Classifier two-sample test (args mirror domain_classifier.py:37-53)."""

    def __init__(
        self,
        threshold: float = 0.6,
        n_estimators: int = 100,
        max_depth: int = 5,
        use_cross_val: bool = True,
        cv_folds: int = 3,
        random_state: int = 42,
        max_samples_per_side: int | None = 100_000,
        sample_hash: str = "xxhash64",
        sample_key_cols=None,
    ):
        super().__init__(name="domain_classifier")
        self.threshold = threshold
        self.n_estimators = n_estimators
        self.max_depth = max_depth
        self.use_cross_val = use_cross_val
        self.cv_folds = cv_folds
        self.random_state = random_state
        # default cap: deterministic content-keyed per-side sample — at
        # 10^12 rows a shallow forest's AUC saturates at ~10^5 rows per
        # class, so training on the full union is a scale-killer for zero
        # statistical gain; None trains on everything (explicit opt-in)
        self.max_samples_per_side = max_samples_per_side
        # sample_hash="xxhash64" (default): JVM-intrinsic content hash with
        # the bounded-merge pre-filter, CV folds hashed over the assembled
        # ML vector — the scale path.  "md5": sample ordering AND fold
        # assignment from md5(concat_ws('|', sample_key_cols)) — engine-
        # portable, so an external SQL engine can reproduce the exact
        # training-frame membership and fold ids (the deterministic half
        # of this detector; the RF itself stays rows-only).  Requires
        # sample_key_cols: unique, stringable row keys DISJOINT from the
        # feature columns (they ride along untouched by the double cast).
        self.sample_hash = sample_hash
        self.sample_key_cols = list(sample_key_cols) if sample_key_cols else None
        if sample_hash not in ("xxhash64", "md5"):
            raise ValueError(
                f"sample_hash must be 'xxhash64' or 'md5', got {sample_hash!r}"
            )
        if sample_hash == "md5" and not self.sample_key_cols:
            raise ValueError("sample_hash='md5' requires sample_key_cols")
        self._classifier = None

    def _md5_key_hash(self, extra: str | None = None) -> "F.Column":
        parts = [F.col(k).cast("string") for k in self.sample_key_cols]
        if extra is not None:
            parts.append(F.lit(extra))
        return F.md5(F.concat_ws("|", *parts))

    def _md5_fold(self) -> "F.Column":
        """Engine-portable CV fold id: the first 15 hex chars (60 bits) of
        md5(keys || seed) as an integer, mod cv_folds.  An external SQL
        engine reproduces it as
        ``('0x' || substr(md5(concat_ws('|', keys..., 'seed')), 1, 15))
        ::BIGINT % folds`` — 60 bits is non-negative in both engines, so
        pmod == %."""
        h = self._md5_key_hash(extra=str(self.random_state))
        return F.pmod(
            F.conv(F.substring(h, 1, 15), 16, 10).cast("long"),
            F.lit(self.cv_folds),
        )

    def _build_training_frame(self, test_data: SparkDataset, keep_keys: bool):
        """The deterministic, SQL-expressible half of detect(): per-side
        double-cast + NaN->NULL feature selection, content-keyed side
        caps, the labeled union with fillna(0), and (md5 mode, CV on) the
        fold id.  Returns (frame, capped, cols); frame is None when no
        shared numeric features exist."""
        ref = self._reference_data
        cols = [c for c in ref.numeric_features if c in test_data.df.columns]
        if not cols:
            return None, False, cols
        keys: list = []
        if self.sample_hash == "md5":
            keys = self.sample_key_cols
            overlap = set(keys) & set(cols)
            if overlap:
                raise ValueError(
                    f"sample_key_cols must be disjoint from the feature "
                    f"columns in md5 mode, both claim: {sorted(overlap)}"
                )
            for k in keys:
                for side_name, side_df in (("ref", ref.df), ("test", test_data.df)):
                    if k not in side_df.columns:
                        raise ValueError(
                            f"sample_key_cols column {k!r} missing from the "
                            f"{side_name} frame"
                        )

        # union with domain labels (J3), fillna(0) parity (:97-98); key
        # columns ride along in their ORIGINAL types (portable casts)
        sel = [F.col(k) for k in keys] + [
            F.nanvl(F.col(c).cast("double"), F.lit(None)).alias(c) for c in cols
        ]
        ref_side = ref.df.select(*sel)
        test_side = test_data.df.select(*sel)
        if self.max_samples_per_side is not None:
            cap = self.max_samples_per_side
            # only sample when a side actually exceeds the cap — a global
            # orderBy+limit with an over-sized limit materializes a
            # limit-sized top-k heap and OOMs.  Both side counts come from
            # ONE column-pruned job instead of a count() job per side.
            counted = (
                ref_side.select(F.lit(0).alias("__side"))
                .unionByName(test_side.select(F.lit(1).alias("__side")))
                .groupBy("__side")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            n_by_side = {r["__side"]: r["n"] for r in counted}

            def cap_side(side_df, total):
                if self.sample_hash == "md5":
                    return side_df.orderBy(self._md5_key_hash(), *keys).limit(cap)
                return content_keyed_top_n(
                    side_df, cap, F.xxhash64(*cols), cols, total=total
                )

            # the xxhash64 pre-filter verification counts inside
            # content_keyed_top_n are independent jobs per side: overlap them
            sides = [ref_side, test_side]
            over = [i for i in (0, 1) if n_by_side.get(i, 0) > cap]
            for i, capped_side in zip(over, concurrently(
                ref.df.sparkSession,
                *[partial(cap_side, sides[i], n_by_side[i]) for i in over],
            )):
                sides[i] = capped_side
            ref_side, test_side = sides
            capped = bool(over)
        else:
            capped = False
        u = (
            ref_side.withColumn("label", F.lit(0.0))
            .unionByName(test_side.withColumn("label", F.lit(1.0)))
            .na.fill(0.0, subset=cols)
        )
        if self.sample_hash == "md5" and self.use_cross_val:
            u = u.withColumn("fold", self._md5_fold())
        if not keep_keys and keys:
            u = u.drop(*keys)
        return u, capped, cols

    def training_frame(self, test_data: SparkDataset) -> "DataFrame":
        """Deterministic training-frame surface for external verification
        (md5 mode): the labeled union AFTER the content-keyed side caps,
        with ``sample_key_cols`` preserved and — when cross-validation is
        on — the per-row ``fold`` id.  Everything in it is reproducible in
        ANSI SQL; the RF fit consuming it is the only non-SQL step."""
        self._require_fitted()
        frame, _, _ = self._build_training_frame(test_data, keep_keys=True)
        if frame is None:
            raise ValueError("no shared numeric feature columns")
        return frame

    def detect(self, test_data: SparkDataset) -> DetectionResult:
        self._require_fitted()
        from pyspark.ml.classification import RandomForestClassifier
        from pyspark.ml.evaluation import BinaryClassificationEvaluator
        from pyspark.ml.feature import VectorAssembler

        u, capped, cols = self._build_training_frame(test_data, keep_keys=False)
        if u is None:
            return DetectionResult(
                detector_name=self.name,
                drift_detected=False,
                severity=DriftSeverity.NONE,
                score=0.5,
                threshold=self.threshold,
            )
        if capped:
            # a global orderBy+limit collapses each capped side to ONE
            # partition, which serializes every RF split-finding pass (each
            # tree-depth iteration becomes a 1-task job).  Spread the
            # bounded sample back across the cluster before fitting.
            u = u.repartition(u.sparkSession.sparkContext.defaultParallelism)
        assembler = VectorAssembler(inputCols=cols, outputCol="features")
        # cached: the CV fits + the final importance fit all iterate this;
        # in md5 mode the (portable) fold id was computed from the key
        # columns upstream and rides along
        carry = ["features", "label"] + (["fold"] if "fold" in u.columns else [])
        data = assembler.transform(u).select(*carry).cache()

        rf = RandomForestClassifier(
            numTrees=self.n_estimators,
            maxDepth=self.max_depth,
            seed=self.random_state,
            featuresCol="features",
            labelCol="label",
        )
        evaluator = BinaryClassificationEvaluator(
            labelCol="label", metricName="areaUnderROC"
        )

        auc_std = None
        if self.use_cross_val:
            # deterministic content-keyed folds (partitioning-invariant);
            # md5 mode already carries the engine-portable fold column
            if "fold" in data.columns:
                folded = data.cache()
            else:
                folded = data.withColumn(
                    "fold",
                    F.pmod(
                        F.xxhash64("features", F.lit(self.random_state)),
                        self.cv_folds,
                    ),
                ).cache()
            # materialize ONCE so the concurrent fits below share the
            # cached blocks instead of racing to compute them
            folded.count()

            def fit_fold(k: int) -> float:
                est = rf.copy()
                model = est.fit(folded.where(F.col("fold") != k))
                return float(
                    evaluator.evaluate(model.transform(folded.where(F.col("fold") == k)))
                )

            def fit_full():
                # importance fit (:141-147) — RF ignores the extra fold
                # column, so reuse the cached folded table directly
                return rf.copy().fit(folded)

            # the k fold fits and the full-data importance fit are
            # independent Spark jobs — submit them concurrently (all
            # JVM-side pyspark.ml work); wall time drops from 4 serial
            # fits to ~max(one fit)
            *scores, self._classifier = concurrently(
                folded.sparkSession,
                *[partial(fit_fold, k) for k in range(self.cv_folds)],
                fit_full,
            )
            folded.unpersist()
            auc = float(np.mean(scores))
            auc_std = float(np.std(scores))
        else:
            # the AUC model already IS the full-data fit, reuse it
            self._classifier = rf.fit(data)
            auc = float(evaluator.evaluate(self._classifier.transform(data)))
        data.unpersist()
        importances = dict(zip(cols, self._classifier.featureImportances.toArray()))
        sorted_features = sorted(importances.items(), key=lambda x: x[1], reverse=True)[:10]
        sorted_features = [(f, float(v)) for f, v in sorted_features]

        drift_detected = auc >= self.threshold
        severity = DriftSeverity(severity_from_auc(auc))
        return DetectionResult(
            detector_name=self.name,
            drift_detected=drift_detected,
            severity=severity,
            score=auc,
            threshold=self.threshold,
            statistic=auc,
            metadata={
                "auc": auc,
                "auc_std": auc_std,
                "n_features": len(cols),
                "top_features": sorted_features,
                "use_cross_val": self.use_cross_val,
            },
        )
