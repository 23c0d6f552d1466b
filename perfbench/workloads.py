"""The benchmark workloads.

Each workload drives driftspark's public entry points on its seeded inputs:

- ``cold_pass`` is the first call, timed as part of set-up;
- ``after_setup`` prepares what the checks need, outside every timed window;
- ``prepare`` + ``run_pass`` make one closed-loop pass (only ``run_pass`` is
  timed), and the pass collects or writes every output it checks;
- ``check`` lists what is wrong with one pass's outputs;
- ``finish`` makes the once-per-run checks and, when tracing, the tagged
  calls into each layer.
"""

from __future__ import annotations

import math
import shutil
from pathlib import Path

from pyspark.sql import functions as F

from driftspark.checkpoint import CheckpointManager, resumable_partition_drift
from driftspark.constraints import referential_violations, uniqueness_check
from driftspark.detectors import (
    MMD,
    PSI,
    CvMAndersonDarling,
    DomainClassifier,
    KSTest,
    WassersteinDistance,
)
from driftspark.dataset import SparkDataset
from driftspark.imageops import validate_image_payloads_auto
from driftspark.profile import profile_columns
from driftspark.runner import run_validation
from driftspark.schema import (
    IMAGE_TABLE_DDL,
    expect_in,
    expect_not_null,
    expect_range,
    expect_regex,
    run_expectations,
)
from driftspark.sinks import write_table
from driftspark.stats import quantile_edges
from driftspark.verdicts import (
    chi2_by_partition,
    fit_ks_reference_ecdf,
    ks_d_against_ecdf,
    partition_verdicts,
    psi_by_partition,
)

from inputs import N_PARTS

# the verdict suite run_validation runs, spelled out for the direct calls
VERDICT_KW = dict(
    numeric_cols=["w", "h", "phash"],
    cat_cols=["fmt"],
    ks_cols=["w", "h"],
    ks_preaggregate=True,
)
CHECKS = [("w", "psi"), ("h", "psi"), ("phash", "psi"), ("w", "ks"), ("h", "ks"), ("fmt", "chi2")]
REL_TOL = 1e-9


def expectations():
    """The tools/validate_job.py expectation set."""
    return [
        expect_not_null("image_id"),
        expect_regex("image_id", r"^img_[0-9]+$"),
        expect_in("fmt", ["png", "jpeg"]),
        expect_range("w", 1, 65536),
        expect_range("h", 1, 65536),
    ]


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    if math.isinf(a) or math.isinf(b):
        return a == b
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-300)


def compare_verdicts(got, want, label: str):
    """Keys, severity, passed, n_ref and n_test exactly; statistic and
    p_value to a relative 1e-9 (PSI may move in the last ulp when the
    batch composition changes)."""
    key = lambda r: (r["part"], r["feature"], r["check"])  # noqa: E731
    g, w = {key(r): r for r in got}, {key(r): r for r in want}
    if len(g) != len(got) or set(g) != set(w):
        return [f"{label}: verdict keys differ ({len(got)} rows vs {len(want)})"]
    bad = [
        k for k in w
        if any(g[k][f] != w[k][f] for f in ("severity", "passed", "n_ref", "n_test"))
        or not (_close(g[k]["statistic"], w[k]["statistic"]) and _close(g[k]["p_value"], w[k]["p_value"]))
    ]
    return [f"{label}: {len(bad)} verdict rows differ, e.g. {bad[0]}"] if bad else []


def verdict_problems(rows, expect, parts, label="verdicts"):
    """What the generator says about the verdict rows of ``parts``: one row
    per partition x check, exact counts, KS D equal to the numpy brute
    force, drifted partitions failing KS and chi2, the others passing PSI."""
    want = {(p, f, c) for p in parts for f, c in CHECKS}
    got = [(r["part"], r["feature"], r["check"]) for r in rows]
    if len(got) != len(set(got)) or set(got) != want:
        return [f"{label}: {len(got)} rows, expected one per partition x check ({len(want)})"]
    drifted = set(expect["drifted"])
    out = []
    for r in rows:
        p, f, c = r["part"], r["feature"], r["check"]
        n_test = expect["test_by_part"][p]
        counts_ok = r["n_ref"] == expect["n_ref"] and (
            r["n_test"] <= n_test if c == "psi" else r["n_test"] == n_test
        )
        if not counts_ok:
            out.append(f"{label}: counts of {p}/{f}/{c}")
        if c == "ks" and not _close(r["statistic"], expect["ks_d"][f"{p}|{f}"]):
            out.append(f"{label}: KS D of {p}/{f} is {r['statistic']}, brute force {expect['ks_d'][f'{p}|{f}']}")
        if p in drifted and c in ("ks", "chi2") and r["passed"]:
            out.append(f"{label}: drifted partition {p} passed {f}/{c}")
        if p not in drifted and c == "psi" and not r["passed"]:
            out.append(f"{label}: undrifted partition {p} failed {f}/psi")
    return out[:5]


class Validate:
    """run_validation over the metadata table, the co-located payload pairs
    and the parent dimension, as tools/validate_job.py submits it."""

    name = "validate"
    sizes = {"n_rows": 100_000, "hot": True, "n_pairs": 8_000, "detector_features": ["w", "h", "phash"]}

    def __init__(self, spark, tracer, data: Path, expect: dict, scratch: Path):
        self.spark, self.tracer, self.expect = spark, tracer, expect
        self.images = spark.read.parquet(str(data / "images.parquet"))
        self.pairs = spark.read.parquet(str(data / "pairs.parquet"))
        self.parent = spark.read.parquet(str(data / "parent.parquet"))
        self.reference = None
        self.images_per_pass = expect["n_rows"] + expect["n_pairs"]

    def cold_pass(self):
        self.reference = self.run_pass()

    def after_setup(self):
        return self.check(self.reference, reference=False)

    def prepare(self):
        pass

    def run_pass(self):
        with self.tracer.span("runner.run_validation"):
            res = run_validation(
                self.images,
                pairs=self.pairs,
                parent=self.parent,
                expected_schema=IMAGE_TABLE_DDL,
                expectations=expectations(),
            )
        return {
            "schema_ok": res.schema_check.ok,
            "n_images": res.n_images,
            "n_pairs": res.n_pairs,
            "verdicts": res.verdicts.collect(),
            "uniqueness": res.uniqueness.collect(),
            "uniqueness_violations": res.uniqueness_violations.select("image_id", "split").collect(),
            "referential_violations": res.referential_violations.select("fk_dataset_id").collect(),
            "expectations": res.expectations.collect(),
            "profile": res.profile.collect(),
            "payload": res.payload_checks.collect(),
        }

    def check(self, out, reference=True):
        e = self.expect
        bad = []
        if not out["schema_ok"]:
            bad.append("schema check failed")
        if (out["n_images"], out["n_pairs"]) != (e["n_rows"], e["n_pairs"]):
            bad.append(f"counted {out['n_images']} images / {out['n_pairs']} pairs")
        u = out["uniqueness"][0]
        if (u["n_rows"], u["n_dup_keys"]) != (e["n_rows"], e["n_dup_keys"]):
            bad.append(f"uniqueness report {u}")
        if len(out["uniqueness_violations"]) != 2 * e["n_dup_keys"]:
            bad.append(f"{len(out['uniqueness_violations'])} uniqueness violation rows")
        if sorted(r[0] for r in out["referential_violations"]) != e["dangling_fks"]:
            bad.append("referential violations differ from the dangling keys")
        rows_by_part = e["rows_by_part"]
        ex = out["expectations"]
        if len(ex) != 5 * N_PARTS or any(
            not r["passed"] or r["n_rows"] != rows_by_part[r["part"]] for r in ex
        ):
            bad.append("expectation rows")
        prof = out["profile"]
        if len(prof) != 4 * N_PARTS or any(
            r["null_count"] != 0 or r["n_rows"] != rows_by_part[r["part"]] for r in prof
        ):
            bad.append("profile rows")
        bad += verdict_problems(out["verdicts"], e, range(N_PARTS))
        if reference:
            bad += compare_verdicts(out["verdicts"], self.reference["verdicts"], "verdicts vs cold pass")
        pay = out["payload"]
        if len(pay) != e["n_pairs"] or any(r["decode_error"] is not None for r in pay):
            bad.append("payload rows or decode errors")
        if sorted(r["image_id"] for r in pay if not r["pixels_ok"]) != e["bad_pixels"]:
            bad.append("pixel failures differ from the corrupted pairs")
        if sorted(r["image_id"] for r in pay if not r["caption_ok"]) != e["bad_captions"]:
            bad.append("caption failures differ from the edited pairs")
        return bad

    def finish(self):
        if not self.tracer.enabled:
            return []
        span, img = self.tracer.span, self.images
        ref_df = img.where(F.col("split") == "ref")
        test_df = img.where(F.col("split") == "test")
        with span("schema.run_expectations"):
            run_expectations(img, expectations(), group_col="part").collect()
        with span("profile.profile_columns"):
            profile_columns(img, columns=["w", "h", "phash", "fmt"], group_cols=["part"]).collect()
        with span("constraints.uniqueness_check"):
            uniqueness_check(img, ["image_id", "split"])[1].collect()
        with span("constraints.referential_violations"):
            referential_violations(img, "fk_dataset_id", self.parent, "dataset_id").collect()
        with span("stats.quantile_edges"):
            edges = quantile_edges(ref_df, VERDICT_KW["numeric_cols"], 10)
        with span("verdicts.psi_by_partition"):
            psi_by_partition(ref_df, test_df, edges).collect()
        with span("verdicts.fit_ks_reference_ecdf"):
            ecdf = fit_ks_reference_ecdf(ref_df, ["w", "h"])
        with span("verdicts.ks_d_against_ecdf"):
            ks = ks_d_against_ecdf(test_df, ["w", "h"], ecdf, preaggregate=True).collect()
        with span("verdicts.chi2_by_partition"):
            chi2_by_partition(ref_df, test_df, ["fmt"])
        with span("verdicts.partition_verdicts"):
            verdicts = partition_verdicts(img, **VERDICT_KW).collect()
        with span("imageops.validate_image_payloads_auto"):
            validate_image_payloads_auto(self.pairs).collect()
        bad = compare_verdicts(verdicts, self.reference["verdicts"], "partition_verdicts vs run_validation")
        bad += [
            f"ks_d_against_ecdf D of {r['part']}/{r['feature']}"
            for r in ks
            if not math.isclose(r["d"], self.expect["ks_d"][f"{r['part']}|{r['feature']}"], rel_tol=REL_TOL)
        ][:3]
        return bad + self._detectors(ref_df, test_df)

    def _detectors(self, ref_df, test_df):
        """The reference's core API, fit_detect per detector, on the same
        image features; KS D and W1 are checked against the numpy brute
        force made with the inputs."""
        feats = self.sizes["detector_features"]
        ref, test = SparkDataset(ref_df.select(*feats)), SparkDataset(test_df.select(*feats))
        detectors = {
            "psi": PSI(),
            "ks": KSTest(),
            "cvm_ad": CvMAndersonDarling(),
            "wasserstein": WassersteinDistance(),
            "mmd": MMD(n_permutations=20, max_samples=3000),
            "domain_classifier": DomainClassifier(
                n_estimators=50, use_cross_val=False, max_samples_per_side=100_000
            ),
        }
        results = {}
        for name, det in detectors.items():
            with self.tracer.span(f"detectors.{name}", input_rows=self.expect["n_rows"]):
                results[name] = det.fit_detect(ref, test)
        bad = []
        truth = self.expect["detectors"]
        for f in feats:
            ks_d = results["ks"].metadata["feature_results"][f]["statistic"]
            w1 = results["wasserstein"].metadata["feature_results"][f]["w1"]
            if not _close(ks_d, truth[f]["ks_d"]):
                bad.append(f"KSTest D of {f}: {ks_d} vs brute force {truth[f]['ks_d']}")
            if not _close(w1, truth[f]["w1"]):
                bad.append(f"WassersteinDistance W1 of {f}: {w1} vs brute force {truth[f]['w1']}")
        return bad


class InjectedCrash(RuntimeError):
    """Raised by CrashingLedger to simulate the application dying mid-run."""


class BenchLedger(CheckpointManager):
    """A checkpoint ledger that also persists each batch's verdict rows with
    sinks.write_table before marking the batch done, as a user would."""

    def __init__(self, spark, path, sink, tracer):
        super().__init__(spark, path)
        self.sink, self.tracer = sink, tracer

    def mark_done(self, run_id, verdicts, snapshot_id=None):
        with self.tracer.span("sinks.write_table"):
            write_table(verdicts, self.sink)
        with self.tracer.span("checkpoint.mark_done"):
            super().mark_done(run_id, verdicts, snapshot_id)


class CrashingLedger(BenchLedger):
    """Raises after the ``crash_after``-th completed mark_done."""

    def __init__(self, *args, crash_after: int):
        super().__init__(*args)
        self.left = crash_after

    def mark_done(self, run_id, verdicts, snapshot_id=None):
        super().mark_done(run_id, verdicts, snapshot_id)
        self.left -= 1
        if self.left == 0:
            raise InjectedCrash("injected crash after mark_done")


class ResumeValidate:
    """resumable_partition_drift over uniform partitions: a crash after the
    2nd of 4 batches, then each timed pass resumes a fresh copy of the
    crashed ledger and persists the remaining partitions' verdicts."""

    name = "resume_validate"
    sizes = {"n_rows": 100_000, "hot": False}
    BATCH_PARTS = 16
    CRASH_AFTER = 2

    def __init__(self, spark, tracer, data: Path, expect: dict, scratch: Path):
        self.spark, self.tracer, self.expect, self.scratch = spark, tracer, expect, scratch
        self.images = spark.read.parquet(str(data / "images.parquet"))
        self.run_id = CheckpointManager.new_run_id()
        self.crashed = (scratch / "ledger-crashed", scratch / "sink-crashed")
        self.passes = []
        done = self.BATCH_PARTS * self.CRASH_AFTER
        self.pending = list(range(done, N_PARTS))
        self.images_per_pass = sum(expect["test_by_part"][p] for p in self.pending)

    def _resume(self, manager):
        with self.tracer.span(
            "checkpoint.resumable_partition_drift", pending_test_rows=self.images_per_pass
        ):
            return resumable_partition_drift(
                self.images, manager, self.run_id, batch_parts=self.BATCH_PARTS, **VERDICT_KW
            )

    def cold_pass(self):
        ledger, sink = self.crashed
        try:
            self._resume(CrashingLedger(self.spark, str(ledger), str(sink), self.tracer, crash_after=self.CRASH_AFTER))
        except InjectedCrash:
            return
        raise RuntimeError("the injected crash did not happen")

    def after_setup(self):
        with self.tracer.span("verdicts.partition_verdicts"):
            self.uninterrupted = partition_verdicts(self.images, **VERDICT_KW).collect()
        bad = verdict_problems(self.uninterrupted, self.expect, range(N_PARTS), "uninterrupted")
        pending = CheckpointManager(self.spark, str(self.crashed[0])).pending_parts(self.run_id, range(N_PARTS))
        if pending != self.pending:
            bad.append(f"crashed ledger leaves {pending} pending")
        return bad

    def prepare(self):
        k = len(self.passes)
        ledger, sink = self.scratch / f"ledger-{k}", self.scratch / f"sink-{k}"
        shutil.copytree(self.crashed[0], ledger)
        shutil.copytree(self.crashed[1], sink)
        self.passes.append((ledger, sink))

    def run_pass(self):
        ledger, sink = self.passes[-1]
        verdicts = self._resume(BenchLedger(self.spark, str(ledger), str(sink), self.tracer))
        return {"verdicts": verdicts.collect()}

    def check(self, out):
        pending = set(self.pending)
        want = [r for r in self.uninterrupted if r["part"] in pending]
        return verdict_problems(out["verdicts"], self.expect, self.pending, "resumed") + compare_verdicts(
            out["verdicts"], want, "resumed vs uninterrupted"
        )

    def finish(self):
        """Resume equivalence, once per run: the verdicts persisted by the
        crash phase plus the first resume equal one uninterrupted
        partition_verdicts, and the ledger has every partition done."""
        if not self.passes:
            return ["no resume pass ran"]
        ledger, sink = self.passes[0]
        persisted = self.spark.read.parquet(str(sink)).collect()
        bad = compare_verdicts(persisted, self.uninterrupted, "persisted vs uninterrupted")
        done = CheckpointManager(self.spark, str(ledger)).run_summary(self.run_id)["parts_done"]
        if done != N_PARTS:
            bad.append(f"ledger has {done} partitions done, expected {N_PARTS}")
        return bad


WORKLOADS = {w.name: w for w in (Validate, ResumeValidate)}
