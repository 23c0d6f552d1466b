"""Per-layer tracing: job-group spans from the benchmark thread, read back
from Spark's event log.

``Tracer.span(call)`` tags every job the benchmark thread submits inside it
with the job group ``bench:<workload>:<call>`` and records the call's wall
window.  Spark's job group is a thread-local property, so jobs that
driftspark submits from its own worker threads carry no tag; they are
attributed to the innermost span whose window contains their submission
time and counted as ``spark.untagged_jobs``.  Calls are made one at a time
by a closed-loop client, so every job lands in exactly one span.

With tracing off, ``span`` does nothing and the session has no event log.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

#: every call the benchmark tags, as <module>.<public function>; each gets
#: wall_s, task_s, shuffle_mb, task_skew and jobs
CALLS = (
    "runner.run_validation",
    "schema.run_expectations",
    "profile.profile_columns",
    "constraints.uniqueness_check",
    "constraints.referential_violations",
    "stats.quantile_edges",
    "verdicts.psi_by_partition",
    "verdicts.fit_ks_reference_ecdf",
    "verdicts.ks_d_against_ecdf",
    "verdicts.chi2_by_partition",
    "verdicts.partition_verdicts",
    "imageops.validate_image_payloads_auto",
    "checkpoint.resumable_partition_drift",
    "checkpoint.mark_done",
    "sinks.write_table",
    "detectors.psi",
    "detectors.ks",
    "detectors.cvm_ad",
    "detectors.wasserstein",
    "detectors.mmd",
    "detectors.domain_classifier",
)
CALL_FIELDS = (("wall_s", "s"), ("task_s", "s"), ("shuffle_mb", "MB"), ("task_skew", "ratio"), ("jobs", "count"))
#: calls that cross the Arrow/pandas-UDF boundary get the Python-worker
#: SQL metrics of their stages as well
PYTHON_CALLS = ("imageops.validate_image_payloads_auto", "verdicts.ks_d_against_ecdf")
PYTHON_FIELDS = (
    ("py_total_s", "s", "time to run Python workers", 1e-3),
    ("py_boot_s", "s", "time to start Python workers", 1e-3),
    ("arrow_sent_mb", "MB", "data sent to Python workers", 1e-6),
    ("arrow_recv_mb", "MB", "data returned from Python workers", 1e-6),
)
EXTRA = (
    ("runner.overlap", "ratio"),
    ("checkpoint.rescan_ratio", "ratio"),
    ("detectors.domain_classifier.scan_ratio", "ratio"),
    ("spark.jobs", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.spill_mb", "MB"),
    ("spark.untagged_jobs", "count"),
    ("trace.pass_s", "s"),
)
#: the pass families run_validation runs concurrently; runner.overlap is
#: their serial walls over the concurrent wall
RUNNER_FAMILIES = (
    "schema.run_expectations",
    "profile.profile_columns",
    "constraints.uniqueness_check",
    "constraints.referential_violations",
    "verdicts.partition_verdicts",
    "imageops.validate_image_payloads_auto",
)


def metric_specs():
    """(name, unit) of every per-layer metric, in report order."""
    out = [(f"{c}.{f}", u) for c in CALLS for f, u in CALL_FIELDS]
    out += [(f"{c}.{f}", u) for c in PYTHON_CALLS for f, u, _, _ in PYTHON_FIELDS]
    return out + list(EXTRA)


class Tracer:
    """Job-group spans around calls made from the benchmark thread."""

    def __init__(self, sc, workload: str, enabled: bool):
        self.sc = sc
        self.prefix = f"bench:{workload}:"
        self.enabled = enabled
        self.spans = []  # (call, start_ms, end_ms, counts)

    @contextmanager
    def span(self, call: str, **counts):
        """Tag the jobs of one call; ``counts`` are input sizes the ratio
        metrics divide by."""
        if not self.enabled:
            yield
            return
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(self.prefix + call, call)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((call, t0 * 1000.0, time.time() * 1000.0, counts))
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(outer, outer[len(self.prefix):])


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def _read_jobs(log: Path):
    """Per-job totals from a plain-JSON event log."""
    jobs, stage_job = {}, {}
    for line in log.open():
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "submit": e["Submission Time"],
                "task_ms": [],
                "shuffle": 0,
                "spill": 0,
                "records_in": 0,
                "failed": 0,
                "py": defaultdict(float),
            }
            for s in e["Stage IDs"]:
                stage_job.setdefault(s, jid)
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(e["Stage ID"]))
            if j is None:
                continue
            if e["Task End Reason"]["Reason"] != "Success":
                j["failed"] += 1
            m = e.get("Task Metrics") or {}
            j["task_ms"].append(m.get("Executor Run Time", 0))
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            j["shuffle"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            j["shuffle"] += sw.get("Shuffle Bytes Written", 0)
            j["spill"] += m.get("Disk Bytes Spilled", 0)
            j["records_in"] += m.get("Input Metrics", {}).get("Records Read", 0)
            for a in e["Task Info"].get("Accumulables", []):
                if a.get("Name", "").endswith("Python workers"):
                    j["py"][a["Name"]] += float(a.get("Update") or 0)
    return jobs


def layer_metrics(log: Path, tracer: Tracer, since_ms: float, pass_walls) -> dict:
    """Fold the event log into the per-layer metrics of ``metric_specs``.

    Per call, wall_s is the median wall of its spans (children included);
    the job fields are medians over its spans of the jobs attributed to
    that span alone, so a nested call's jobs are not counted twice.
    """
    jobs = [j for j in _read_jobs(log).values() if j["submit"] >= since_ms]
    spans = tracer.spans
    per_span = [[] for _ in spans]
    untagged = 0
    for j in jobs:
        inside = [i for i, (_, t0, t1, _) in enumerate(spans) if t0 <= j["submit"] <= t1]
        if j["group"] and j["group"].startswith(tracer.prefix):
            call = j["group"][len(tracer.prefix):]
            inside = [i for i in inside if spans[i][0] == call] or inside
        elif inside:
            untagged += 1
        if inside:
            per_span[min(inside, key=lambda i: spans[i][2] - spans[i][1])].append(j)

    def span_fields(i):
        js = per_span[i]
        tasks = [t for j in js for t in j["task_ms"]]
        med = statistics.median(tasks) if tasks else 0
        return {
            "wall_s": (spans[i][2] - spans[i][1]) / 1000.0,
            "task_s": sum(tasks) / 1000.0,
            "shuffle_mb": sum(j["shuffle"] for j in js) / 1e6,
            "task_skew": max(tasks) / med if med else 0.0,
            "jobs": len(js),
            "records_in": sum(j["records_in"] for j in js),
            **{f: sum(j["py"][acc] for j in js) * scale for f, _, acc, scale in PYTHON_FIELDS},
        }

    by_call = defaultdict(list)
    for i, s in enumerate(spans):
        by_call[s[0]].append((span_fields(i), s[3]))

    out = {}
    for call in CALLS:
        for f, _ in CALL_FIELDS:
            out[f"{call}.{f}"] = _median([x[f] for x, _ in by_call[call]])
    for call in PYTHON_CALLS:
        for f, *_ in PYTHON_FIELDS:
            out[f"{call}.{f}"] = _median([x[f] for x, _ in by_call[call]])
    serial = sum(out[f"{c}.wall_s"] for c in RUNNER_FAMILIES)
    concurrent = out["runner.run_validation.wall_s"]
    out["runner.overlap"] = serial / concurrent if concurrent else 0.0
    out["checkpoint.rescan_ratio"] = _ratio(by_call["checkpoint.resumable_partition_drift"], "pending_test_rows")
    out["detectors.domain_classifier.scan_ratio"] = _ratio(by_call["detectors.domain_classifier"], "input_rows")
    out["spark.jobs"] = len(jobs)
    out["spark.failed_tasks"] = sum(j["failed"] for j in jobs)
    out["spark.spill_mb"] = sum(j["spill"] for j in jobs) / 1e6
    out["spark.untagged_jobs"] = untagged
    out["trace.pass_s"] = _median(pass_walls)
    return out


def _ratio(calls, count_key):
    """Median over a call's spans of the rows its own jobs scanned per
    input row named by ``count_key``."""
    return _median([x["records_in"] / c[count_key] for x, c in calls if c.get(count_key)])
