"""Maximum Mean Discrepancy detector.

Semantics parity with /root/reference/src/drift_autopsy/detectors/distribution/mmd.py:
unbiased MMD^2 estimator over RBF/linear kernel matrices (mmd.py:94-139),
median-heuristic gamma over the first 100 rows/side (mmd.py:108-115),
permutation-test p-value (p = (#null >= obs + 1)/(N + 1), mmd.py:141-170),
seeded subsampling to max_samples (mmd.py:75-92), threshold-multiple
severity ladder (mmd.py:242-252).

Spark execution: the kernel-matrix computation is inherently O(n^2) and
the REFERENCE ITSELF caps it at max_samples (default 5000) per side — so
the Spark engine's job is the deterministic sample: a content-keyed
orderBy(xxhash64(*)) + limit (stable under partitioning/parallelism,
unlike positional RandomState.choice which has no meaning on a distributed
table), collected as one Arrow batch; the numpy kernel math then runs on
the driver exactly as the reference's.  Permutations are seeded (the
reference leaves np.random.permutation unseeded — we default to
perm_seed=42 for reproducible CI; pass perm_seed=None for reference-exact
nondeterminism)."""

from __future__ import annotations

import logging
from typing import Optional

import numpy as np
from pyspark.sql import functions as F

from driftspark.dataset import SparkDataset
from driftspark.detectors.base import BaseDriftDetector
from driftspark.numerics import severity_from_mmd
from driftspark.registry import DetectorRegistry
from driftspark.sampling import content_keyed_top_n
from driftspark.session import concurrently
from driftspark.results import DetectionResult, DriftSeverity

logger = logging.getLogger(__name__)


def _rbf_kernel(X: np.ndarray, Y: np.ndarray, gamma: float) -> np.ndarray:
    XX = np.sum(X**2, axis=1).reshape(-1, 1)
    YY = np.sum(Y**2, axis=1).reshape(1, -1)
    sq = XX + YY - 2 * (X @ Y.T)
    return np.exp(-gamma * sq)


def mmd_unbiased(
    X: np.ndarray, Y: np.ndarray, kernel: str = "rbf", gamma: Optional[float] = None
) -> float:
    """Unbiased MMD estimate (sqrt of the clipped MMD^2), reference math."""
    n, m = len(X), len(Y)
    if gamma is None and kernel == "rbf":
        combined = np.vstack([X[: min(100, n)], Y[: min(100, m)]])
        sq = np.sum((combined[:, None, :] - combined[None, :, :]) ** 2, axis=2)
        med = np.median(sq[sq > 0]) if (sq > 0).any() else 0.0
        gamma = 1.0 / (2 * med) if med > 0 else 1.0
    if kernel == "rbf":
        K_XX, K_YY, K_XY = (
            _rbf_kernel(X, X, gamma),
            _rbf_kernel(Y, Y, gamma),
            _rbf_kernel(X, Y, gamma),
        )
    elif kernel == "linear":
        K_XX, K_YY, K_XY = X @ X.T, Y @ Y.T, X @ Y.T
    else:
        raise ValueError(f"Unknown kernel: {kernel}")
    mmd_sq = (
        (K_XX.sum() - np.trace(K_XX)) / (n * (n - 1))
        + (K_YY.sum() - np.trace(K_YY)) / (m * (m - 1))
        - 2 * K_XY.sum() / (n * m)
    )
    return float(np.sqrt(max(0, mmd_sq)))


@DetectorRegistry.register("mmd")
class MMD(BaseDriftDetector):
    """MMD multivariate drift detector (args mirror mmd.py:32-45)."""

    def __init__(
        self,
        threshold: float = 0.1,
        kernel: str = "rbf",
        gamma: Optional[float] = None,
        n_permutations: int = 100,
        max_samples: int = 5000,
        perm_seed: Optional[int] = 42,
        sample_hash: str = "xxhash64",
        sample_key_cols=None,
    ):
        super().__init__(name="mmd")
        self.threshold = threshold
        self.kernel = kernel
        self.gamma = gamma
        self.n_permutations = n_permutations
        self.max_samples = max_samples
        self.perm_seed = perm_seed
        # sample_hash="xxhash64" (default): JVM-intrinsic content hash with
        # the bounded-merge pre-filter — the scale path.  "md5": ordering by
        # md5(concat_ws('|', sample_key_cols)) — engine-portable, so an
        # external SQL engine (the DuckDB driver oracle) reproduces the
        # sample EXACTLY; requires sample_key_cols (stringable unique row
        # keys — feature doubles would hit cross-engine float formatting).
        self.sample_hash = sample_hash
        self.sample_key_cols = list(sample_key_cols) if sample_key_cols else None
        if sample_hash not in ("xxhash64", "md5"):
            raise ValueError(
                f"sample_hash must be 'xxhash64' or 'md5', got {sample_hash!r}"
            )
        if sample_hash == "md5" and not self.sample_key_cols:
            raise ValueError("sample_hash='md5' requires sample_key_cols")

    def _sample_matrices(self, ref_ds: SparkDataset, test_ds: SparkDataset, cols):
        """Deterministic content-keyed samples of both feature matrices
        (fillna(0) — mmd.py:214-215), collected as Arrow batches.  Both
        side counts come from ONE column-pruned job (the count guards the
        over-sized orderBy+limit top-k heap)."""

        keys = self.sample_key_cols or []

        def prep(ds):
            sel = [F.col(c).cast("double").alias(c) for c in cols]
            return ds.df.select(*sel, *keys).na.fill(0.0, subset=cols)

        a, b = prep(ref_ds), prep(test_ds)
        counts = {
            r["__side"]: r["n"]
            for r in a.select(F.lit(0).alias("__side"))
            .unionByName(b.select(F.lit(1).alias("__side")))
            .groupBy("__side")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

        def take(df, total):
            if total > self.max_samples:
                if self.sample_hash == "md5":
                    h = F.md5(
                        F.concat_ws("|", *[F.col(k).cast("string") for k in keys])
                    )
                    df = df.orderBy(h, *keys).limit(self.max_samples)
                else:
                    df = content_keyed_top_n(
                        df, self.max_samples, F.xxhash64(*cols), cols, total=total
                    )
            pdf = df.toPandas()[cols]
            return np.nan_to_num(pdf.values.astype(np.float64))

        n_ref, n_test = counts.get(0, 0), counts.get(1, 0)
        # the two side collections are independent Spark jobs — overlap
        # them so the sample phase costs ~max(side) instead of the sum
        X, Y = concurrently(
            a.sparkSession, lambda: take(a, n_ref), lambda: take(b, n_test)
        )
        return X, n_ref, Y, n_test

    def _median_gamma(self, X: np.ndarray, Y: np.ndarray) -> float:
        """Median-heuristic gamma over the first 100 rows/side (mmd.py:108-115)."""
        head = np.vstack([X[: min(100, len(X))], Y[: min(100, len(Y))]])
        sq = np.sum((head[:, None, :] - head[None, :, :]) ** 2, axis=2)
        med = np.median(sq[sq > 0]) if (sq > 0).any() else 0.0
        return 1.0 / (2 * med) if med > 0 else 1.0

    def _permutation_pvalue(self, K: np.ndarray, n: int, m: int, mmd_obs: float) -> float:
        """Permutation-test p = (#null >= obs + 1)/(N + 1) (mmd.py:141-170).

        Fast path: reuses the pooled kernel matrix (computed once for the
        observed statistic) — each permutation is O(N^2) mat-vec index
        work instead of a full kernel build.  The permutation gamma is
        fixed to the observed statistic's median-heuristic value (the
        reference recomputes the heuristic per permutation, but its
        permutations are also unseeded, so no reproducible parity exists
        to preserve; fixed-gamma permutation testing is the standard
        formulation)."""
        rng = (
            np.random.RandomState(self.perm_seed)
            if self.perm_seed is not None
            else np.random
        )
        # per-permutation block sums via one mat-vec: with indicator u of
        # the permuted X side, sum_XX = u.K u, sum_XY = u.K(1-u), and
        # sum_YY = total - sum_XX - 2 sum_XY (K symmetric) — O(N^2) per
        # permutation instead of O(N^2) MEMORY gathers per block
        rowsum = K.sum(axis=1)
        total = float(rowsum.sum())
        diag = np.diag(K)
        null_mmds = np.empty(self.n_permutations)
        for i in range(self.n_permutations):
            perm = rng.permutation(n + m)
            u = np.zeros(n + m)
            u[perm[:n]] = 1.0
            Ku = K @ u
            sum_xx = float(u @ Ku)
            sum_xy = float((rowsum - Ku) @ u)
            sum_yy = total - sum_xx - 2 * sum_xy
            tr_xx = float(diag @ u)
            tr_yy = float(diag.sum() - tr_xx)
            mmd_sq = (
                (sum_xx - tr_xx) / (n * (n - 1))
                + (sum_yy - tr_yy) / (m * (m - 1))
                - 2 * sum_xy / (n * m)
            )
            null_mmds[i] = np.sqrt(max(0, mmd_sq))
        return float((np.sum(null_mmds >= mmd_obs) + 1) / (self.n_permutations + 1))

    def detect(self, test_data: SparkDataset) -> DetectionResult:
        self._require_fitted()
        ref = self._reference_data
        cols = [c for c in ref.numeric_features if c in test_data.df.columns]
        if not cols:
            return DetectionResult(
                detector_name=self.name,
                drift_detected=False,
                severity=DriftSeverity.NONE,
                score=0.0,
                threshold=self.threshold,
            )

        X, n_ref_total, Y, n_test_total = self._sample_matrices(ref, test_data, cols)
        n, m = len(X), len(Y)

        # pooled kernel ONCE; the observed MMD^2 reads its blocks and the
        # permutation test re-slices it — mmd_unbiased's per-block kernels
        # would recompute the same exp() work a second time
        gamma = self.gamma
        if gamma is None and self.kernel == "rbf":
            gamma = self._median_gamma(X, Y)
        combined = np.vstack([X, Y])
        if self.kernel == "rbf":
            K = _rbf_kernel(combined, combined, gamma)
        elif self.kernel == "linear":
            K = combined @ combined.T
        else:
            raise ValueError(f"Unknown kernel: {self.kernel}")
        K_XX, K_YY, K_XY = K[:n, :n], K[n:, n:], K[:n, n:]
        mmd_sq = (
            (K_XX.sum() - np.trace(K_XX)) / (n * (n - 1))
            + (K_YY.sum() - np.trace(K_YY)) / (m * (m - 1))
            - 2 * K_XY.sum() / (n * m)
        )
        mmd_value = float(np.sqrt(max(0, mmd_sq)))

        p_value = None
        if self.n_permutations > 0:
            p_value = self._permutation_pvalue(K, n, m, mmd_value)

        drift_detected = mmd_value >= self.threshold
        severity = DriftSeverity(severity_from_mmd(mmd_value, self.threshold))
        return DetectionResult(
            detector_name=self.name,
            drift_detected=drift_detected,
            severity=severity,
            score=mmd_value,
            threshold=self.threshold,
            p_value=p_value,
            statistic=mmd_value,
            metadata={
                "kernel": self.kernel,
                "n_features": len(cols),
                "n_permutations": self.n_permutations,
                "max_samples": self.max_samples,
                "subsampled": len(X) < n_ref_total or len(Y) < n_test_total,
                "actual_ref_samples": len(X),
                "actual_test_samples": len(Y),
            },
        )
