"""Per-partition verdicts: SQL PSI vs pandas oracle, grouped KS, chi2,
checkpoint/resume."""

import glob
import logging
import os
import shutil
import tempfile
import uuid
from collections import Counter
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import driftspark.stats as st
import driftspark.verdicts as vd
from driftspark import numerics as nm
from driftspark.checkpoint import FIT_SCHEMA, CheckpointManager, resumable_partition_drift
from driftspark.session import local_frame
from driftspark.stats import quantile_edges
from driftspark.synth import synth_image_table
from driftspark.verdicts import (
    ks_d_by_partition_broadcast,
    partition_verdicts,
    psi_by_partition,
    w1_by_partition,
)


@pytest.fixture(scope="module")
def drifted(spark):
    return synth_image_table(
        spark, 8000, n_parts=4, drift=True, with_bytes=False
    ).cache()


@pytest.fixture(scope="module")
def stable(spark):
    return synth_image_table(
        spark, 8000, n_parts=4, drift=False, with_bytes=False
    ).cache()


def _pandas_psi_oracle(ref_vals, test_vals, edges, min_bin_size=0.001):
    rb = pd.cut(pd.Series(ref_vals), bins=edges, include_lowest=True)
    tb = pd.cut(pd.Series(test_vals), bins=edges, include_lowest=True)
    rc = rb.value_counts(normalize=True, sort=False)
    tc = tb.value_counts(normalize=True, sort=False)
    rc, tc = rc.align(tc, fill_value=min_bin_size)
    return nm.psi_from_proportions(rc.values, tc.values, min_bin_size)


def test_psi_by_partition_matches_pandas(spark, drifted):
    ref = drifted.where("split = 'ref'")
    test = drifted.where("split = 'test'")
    edges = quantile_edges(ref, ["w", "phash"], 10)
    got = {
        (r["part"], r["feature"]): r["psi"]
        for r in psi_by_partition(ref, test, edges).collect()
    }
    ref_pdf = ref.select("w", "phash").toPandas()
    test_pdf = test.select("part", "w", "phash").toPandas()
    for part in range(4):
        for col in ["w", "phash"]:
            oracle = _pandas_psi_oracle(
                ref_pdf[col].values,
                test_pdf[test_pdf["part"] == part][col].values,
                edges[col],
            )
            assert got[(part, col)] == pytest.approx(oracle, abs=1e-9), (part, col)


def test_ks_by_partition_matches_numpy(spark, drifted):
    ref = drifted.where("split = 'ref'")
    test = drifted.where("split = 'test'")
    rows = {
        (r["part"], r["feature"]): (r["d"], r["n"], r["m"])
        for r in ks_d_by_partition_broadcast(ref, test, ["w", "h"]).collect()
    }
    ref_pdf = ref.select("w", "h").toPandas()
    test_pdf = test.select("part", "w", "h").toPandas()
    for part in range(4):
        for col in ["w", "h"]:
            tv = test_pdf[test_pdf["part"] == part][col].values.astype(float)
            rv = ref_pdf[col].values.astype(float)
            d, n, m = rows[(part, col)]
            assert n == len(rv) and m == len(tv)
            assert d == pytest.approx(nm.ks_2samp_d(rv, tv), abs=1e-12)


def test_partition_verdicts_drift_vs_stable(spark, drifted, stable):
    vd = partition_verdicts(
        drifted, numeric_cols=["w", "h"], cat_cols=["fmt"]
    ).toPandas()
    vs = partition_verdicts(
        stable, numeric_cols=["w", "h"], cat_cols=["fmt"]
    ).toPandas()
    # every partition x feature x check present
    assert len(vd) == 4 * (2 + 2 + 1)
    # drifted table: w/h PSI and KS and fmt chi2 all fail everywhere
    assert not vd[vd["check"] == "ks"]["passed"].any()
    assert not vd[vd["check"] == "chi2"]["passed"].any()
    # stable table: everything passes
    assert vs["passed"].all()
    assert (vs["severity"] == "none").all()


def test_checkpoint_resume(spark, drifted):
    tmp = tempfile.mkdtemp()
    try:
        cp = CheckpointManager(spark, f"{tmp}/ledger")
        run_id = "testrun01"
        assert cp.pending_parts(run_id, [0, 1, 2, 3]) == [0, 1, 2, 3]
        # first invocation processes only two partitions (simulated crash)
        v1 = resumable_partition_drift(
            drifted.where(F.col("part") < 2),
            cp,
            run_id,
            numeric_cols=["w"],
            cat_cols=[],
        )
        assert sorted({r["part"] for r in v1.select("part").collect()}) == [0, 1]
        assert cp.completed_parts(run_id) == [0, 1]
        # resume over the full table: only 2 and 3 are recomputed
        v2 = resumable_partition_drift(
            drifted, cp, run_id, numeric_cols=["w"], cat_cols=[]
        )
        assert sorted({r["part"] for r in v2.select("part").collect()}) == [2, 3]
        assert cp.completed_parts(run_id) == [0, 1, 2, 3]
        # idempotent: nothing pending on a third run
        v3 = resumable_partition_drift(
            drifted, cp, run_id, numeric_cols=["w"], cat_cols=[]
        )
        assert v3.count() == 0
        summary = cp.run_summary(run_id)
        assert summary["parts_done"] == 4
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


class _CrashAfterFirstBatch(CheckpointManager):
    """A ledger that keeps each batch's verdict rows, as a caller
    persisting them would, and dies right after the first mark_done."""

    def __init__(self, spark, path):
        super().__init__(spark, path)
        self.persisted = []

    def mark_done(self, run_id, verdicts, snapshot_id=None):
        super().mark_done(run_id, verdicts, snapshot_id)
        self.persisted += verdicts.collect()
        raise RuntimeError("injected crash after the first batch")


def _assert_same_verdicts(got, want):
    """Keys, severity, passed, n_ref and n_test exactly; statistic and
    p-value to a relative 1e-9."""
    key = lambda r: (r["part"], r["feature"], r["check"])  # noqa: E731
    by_key = {key(r): r for r in got}
    assert len(by_key) == len(got) and set(by_key) == {key(r) for r in want}
    for w in want:
        g = by_key[key(w)]
        exact = ("severity", "passed", "n_ref", "n_test")
        assert [g[f] for f in exact] == [w[f] for f in exact], key(w)
        assert g["statistic"] == pytest.approx(w["statistic"], rel=1e-9), key(w)
        if w["p_value"] is None:
            assert g["p_value"] is None, key(w)
        else:
            assert g["p_value"] == pytest.approx(w["p_value"], rel=1e-9), key(w)


#: the one reference fit, then the separate fits it falls back to over
#: its row budget (and the GK edges it runs alongside its count)
FIT_FUNCTIONS = (
    "fit_reference", "quantile_edges", "approx_quantile_edges",
    "fit_ks_reference_ecdf", "_ref_bin_counts",
)


@pytest.fixture
def fit_spy(monkeypatch):
    """Counts every reference-fit call in driftspark.verdicts, and keeps the
    PSI edges each score ran with."""
    import driftspark.verdicts as verdicts_mod

    spy = SimpleNamespace(calls=Counter(), edges=[])

    def wrap(name, on_call):
        real = getattr(verdicts_mod, name)

        def wrapped(*args, **kwargs):
            on_call(args)
            return real(*args, **kwargs)

        monkeypatch.setattr(verdicts_mod, name, wrapped)

    for name in FIT_FUNCTIONS:
        wrap(name, lambda args, name=name: spy.calls.update([name]))
    wrap("_score_counts", lambda args: spy.edges.append(args[2]))
    return spy


@pytest.fixture(scope="module")
def drifted_parquet(spark, drifted, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("input") / "drifted.parquet")
    drifted.write.parquet(path)
    return spark.read.parquet(path)


def test_crash_and_resume_equals_uninterrupted_and_fits_once(spark, drifted, fit_spy):
    """A run that dies after its first persisted batch, then resumes,
    yields exactly one uninterrupted partition_verdicts; the crashed call
    fits the reference once (one fit_reference, within its budget),
    whatever its batch count, and the resume loads that fit from the
    checkpoint instead."""
    kw = dict(numeric_cols=["w", "h"], cat_cols=["fmt"])
    want = partition_verdicts(drifted, **kw).collect()
    once = {"fit_reference": 1}
    tmp = tempfile.mkdtemp()
    try:
        crashing = _CrashAfterFirstBatch(spark, f"{tmp}/ledger")
        fit_spy.calls.clear()
        with pytest.raises(RuntimeError, match="injected crash"):
            resumable_partition_drift(drifted, crashing, "crash01", batch_parts=1, **kw)
        assert fit_spy.calls == once
        assert len(crashing.completed_parts("crash01")) == 1

        fit_spy.calls.clear()
        resumed = resumable_partition_drift(
            drifted, CheckpointManager(spark, f"{tmp}/ledger"), "crash01",
            batch_parts=1, **kw,
        ).collect()
        assert fit_spy.calls == Counter()  # three batches, no fit
        assert len({r["part"] for r in resumed}) == 3
        _assert_same_verdicts(crashing.persisted + resumed, want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


class _CrashAtFirstBatch(CheckpointManager):
    """A ledger that dies at its first mark_done: after the fit is
    persisted, before any partition is done."""

    persisted = ()

    def mark_done(self, run_id, verdicts, snapshot_id=None):
        raise RuntimeError("injected crash before the first batch")


def _assert_same_edges(got, want):
    assert list(got) == list(want)
    for f in want:
        assert np.array_equal(got[f], want[f]), f


@pytest.mark.parametrize("approx", [None, 1e-3], ids=["exact_edges", "approx_edges"])
@pytest.mark.parametrize(
    "crashing", [_CrashAtFirstBatch, _CrashAfterFirstBatch],
    ids=["crash_after_fit", "crash_after_first_batch"],
)
def test_resume_loads_the_persisted_fit(
    spark, drifted_parquet, fit_spy, tmp_path, crashing, approx
):
    """The crashed call persists its fit before the first batch; the
    resume loads it, runs none of the fit functions, scores with the
    crashed call's exact edges (GK approximate ones included), and with
    the crashed call's batches equals one uninterrupted run."""
    df = drifted_parquet
    kw = dict(numeric_cols=["w", "h"], cat_cols=["fmt"], approx_quantile_error=approx)
    want = partition_verdicts(df, **kw).collect()
    ledger = str(tmp_path / "ledger")
    crashed = crashing(spark, ledger)
    fit_spy.calls.clear()
    fit_spy.edges.clear()
    with pytest.raises(RuntimeError, match="injected crash"):
        resumable_partition_drift(df, crashed, "fit01", batch_parts=2, **kw)
    once = {"fit_reference": 1}
    if approx is not None:
        once["approx_quantile_edges"] = 1  # the GK edges, beside the count
    assert fit_spy.calls == once
    (crash_edges,) = fit_spy.edges

    fit_spy.calls.clear()
    fit_spy.edges.clear()
    resumed = resumable_partition_drift(
        df, CheckpointManager(spark, ledger), "fit01", batch_parts=2, **kw
    ).collect()
    assert fit_spy.calls == Counter()
    assert fit_spy.edges
    for edges in fit_spy.edges:
        _assert_same_edges(edges, crash_edges)
    _assert_same_verdicts(list(crashed.persisted) + resumed, want)


def _drop_success_marker(spark, store):
    os.remove(f"{store}/_SUCCESS")


def _truncate_stored_edges(spark, store):
    rows = [
        (r["family"], r["feature"],
         r["values"][:-1] if r["family"] == "psi" else r["values"], r["counts"], r["keys"])
        for r in spark.read.parquet(store).collect()
    ]
    local_frame(spark, rows, FIT_SCHEMA).write.mode("overwrite").parquet(store)


def _shift_some_reference_values(df):
    shifted = (F.col("split") == "ref") & (F.col("part") == 0)
    return df.withColumn("w", F.when(shifted, F.col("w") + 1).otherwise(F.col("w")))


@pytest.mark.parametrize(
    "first_rows,resume_rows,resume_kw,damage",
    [
        (lambda df: df.where(F.col("part") < 2), None, {}, None),
        (None, _shift_some_reference_values, {}, None),
        (None, None, {"n_bins": 5}, None),
        (None, None, {"max_categories": 2}, None),
        (None, None, {}, _drop_success_marker),
        (None, None, {}, _truncate_stored_edges),
    ],
    ids=["fewer_parts", "changed_values", "changed_n_bins", "changed_max_categories",
         "no_success_marker", "inconsistent_lengths"],
)
def test_resume_refits_when_the_stored_fit_does_not_apply(
    spark, drifted_parquet, fit_spy, tmp_path, caplog,
    first_rows, resume_rows, resume_kw, damage,
):
    """A resume whose reference rows or fit settings differ from the
    crashed call's, or whose stored fit is unfinished or inconsistent,
    refits, warns, and equals a fresh partition_verdicts.  The new fit is
    stored under its own fingerprint; the old one is never mixed in."""
    kw = dict(numeric_cols=["w", "h"], cat_cols=["fmt"])
    first = first_rows(drifted_parquet) if first_rows else drifted_parquet
    df = resume_rows(drifted_parquet) if resume_rows else drifted_parquet
    ledger = str(tmp_path / "ledger")
    with pytest.raises(RuntimeError, match="injected crash"):
        resumable_partition_drift(
            first, _CrashAfterFirstBatch(spark, ledger), "fp01", batch_parts=1, **kw
        )
    (store,) = glob.glob(f"{ledger}/_fit/run_id=fp01/fp=*")
    if damage:
        damage(spark, store)

    fit_spy.calls.clear()
    with caplog.at_level(logging.WARNING, logger="driftspark.checkpoint"):
        resumed = resumable_partition_drift(
            df, CheckpointManager(spark, ledger), "fp01", batch_parts=1,
            **kw, **resume_kw,
        ).collect()
    assert fit_spy.calls == {"fit_reference": 1}
    assert any("refitting" in r.message for r in caplog.records)
    parts = sorted({r["part"] for r in resumed})
    assert parts == [1, 2, 3]
    _assert_same_verdicts(
        resumed, partition_verdicts(df, parts=parts, **kw, **resume_kw).collect()
    )
    stores = glob.glob(f"{ledger}/_fit/run_id=fp01/fp=*/_SUCCESS")
    assert len(stores) == (1 if damage else 2)


def test_fit_store_round_trips_exactly(spark, tmp_path):
    """Float64 edges and ECDF values, int64 counts and the chi2 reference
    categories come back bit for bit; a run with no store loads nothing
    and does not warn."""
    cp = CheckpointManager(spark, str(tmp_path / "ledger"))
    assert cp.load_fit("rt01", "0" * 16) is None
    edges = {"x": np.array([-np.inf, 0.1 + 0.2, 5e-324, np.nextafter(1.0, 2.0)])}
    counts = {"x": np.array([2**62, 0, 7], np.int64)}
    ecdf = {"y": (np.array([-0.0, 1e308]), np.array([1, 2**53 + 1], np.int64), 2**53 + 1)}
    cats = {"x": {"": 3, "é,\x00": 2**62, vd.CHI2_OTHER_BUCKET: 1}, "empty": {}}
    cp.save_fit("rt01", "f" * 16, (edges, counts, ecdf, cats))
    got_edges, got_counts, got_ecdf, got_cats = cp.load_fit("rt01", "f" * 16)
    assert got_cats == cats
    assert all(type(n) is int for m in got_cats.values() for n in m.values())
    assert got_edges["x"].tobytes() == edges["x"].tobytes()
    assert got_counts["x"].dtype == np.int64
    assert np.array_equal(got_counts["x"], counts["x"])
    vals, cums, n = got_ecdf["y"]
    assert vals.tobytes() == ecdf["y"][0].tobytes()
    assert np.array_equal(cums, ecdf["y"][1]) and n == 2**53 + 1


def test_run_summary_counts_each_part_once(spark, tmp_path):
    """A part marked done twice counts once, with its latest row; the fit
    store inside the ledger directory changes no ledger read."""
    cp = CheckpointManager(spark, str(tmp_path / "ledger"))
    verdicts = "part int, passed boolean"
    cp.mark_done("sum01", spark.createDataFrame([(0, False), (0, True), (1, False)], verdicts))
    cp.mark_done("sum01", spark.createDataFrame([(0, False), (0, False)], verdicts))
    cp.mark_done("other", spark.createDataFrame([(5, False)], verdicts))
    want = {"run_id": "sum01", "parts_done": 2, "n_failed": 3}
    assert cp.run_summary("sum01") == want
    assert cp.completed_parts("sum01") == [0, 1]
    cp.save_fit(
        "sum01", "a" * 16, ({"x": np.array([0.0, 1.0])}, {"x": np.array([3])}, None, {})
    )
    assert cp.run_summary("sum01") == want
    assert cp.completed_parts("sum01") == [0, 1]


@pytest.mark.parametrize("part_type,parts", [("int", (3, 7)), ("string", ("eu", "us"))])
def test_ledger_schema_and_readers(spark, tmp_path, part_type, parts):
    """mark_done writes one row per partition with the ledger's column
    types, the part column typed like the verdicts', and run_summary and
    completed_parts read it."""
    cp = CheckpointManager(spark, str(tmp_path / "ledger"))
    a, b = parts
    verdicts = local_frame(
        spark, [(a, True), (a, False), (a, False), (b, True)],
        f"part {part_type}, passed boolean",
    )
    cp.mark_done("led01", verdicts, snapshot_id=42)
    ledger = spark.read.parquet(str(tmp_path / "ledger"))
    assert ledger.schema.simpleString() == (
        f"struct<run_id:string,part:{part_type},status:string,n_checks:bigint,"
        "n_failed:bigint,snapshot_id:bigint,completed_at:double>"
    )
    got = {r["part"]: (r["run_id"], r["status"], r["n_checks"], r["n_failed"], r["snapshot_id"])
           for r in ledger.collect()}
    assert got == {a: ("led01", "done", 3, 2, 42), b: ("led01", "done", 1, 0, 42)}
    assert cp.completed_parts("led01") == sorted(parts)
    assert cp.run_summary("led01") == {"run_id": "led01", "parts_done": 2, "n_failed": 2}


LEDGER_DDL = (
    "run_id string, part int, status string, n_checks bigint, n_failed bigint, "
    "snapshot_id bigint, completed_at double"
)


def test_a_spark_written_ledger_reads_the_same(spark, tmp_path):
    """A ledger that Spark's parquet writer appended to (part files plus
    _SUCCESS and checksums), then one more driver-written batch, reads
    through completed_parts and run_summary as one ledger."""
    path = str(tmp_path / "ledger")
    rows = [("old01", 0, "done", 3, 1, 7, 1.0), ("old01", 1, "done", 3, 0, 7, 1.0),
            ("old01", 0, "done", 3, 2, 7, 2.0), ("other", 5, "done", 1, 1, None, 1.0)]
    local_frame(spark, rows[:2], LEDGER_DDL).write.mode("append").parquet(path)
    local_frame(spark, rows[2:], LEDGER_DDL).write.mode("append").parquet(path)
    assert os.path.exists(f"{path}/_SUCCESS")
    cp = CheckpointManager(spark, path)
    assert cp.completed_parts("old01") == [0, 1]
    assert cp.run_summary("old01") == {"run_id": "old01", "parts_done": 2, "n_failed": 2}
    cp.mark_done("old01", local_frame(spark, [(2, False), (2, True)], "part int, passed boolean"))
    assert cp.completed_parts("old01") == [0, 1, 2]
    assert cp.run_summary("old01") == {"run_id": "old01", "parts_done": 3, "n_failed": 3}
    assert spark.read.parquet(path).count() == 5


def test_timestamp_parts_read_as_spark_collects_them(spark, tmp_path):
    """Timestamp part ids, appended by Spark (INT96) or by mark_done, come
    back from completed_parts as the naive local datetimes Spark's collect
    gives, so a resume recognises them as done."""
    import datetime

    path = str(tmp_path / "ledger")
    ddl = LEDGER_DDL.replace("part int", "part timestamp")
    t0 = datetime.datetime(2024, 3, 1, 12, 30, 15, 123456)
    local_frame(spark, [("ts01", t0, "done", 1, 0, None, 1.0)], ddl).write.parquet(path)
    cp = CheckpointManager(spark, path)
    t1 = t0 + datetime.timedelta(days=1)
    cp.mark_done("ts01", local_frame(spark, [(t1, True)], "part timestamp, passed boolean"))
    want = sorted(r["part"] for r in spark.read.parquet(path).collect())
    assert want == [t0, t1]
    assert cp.completed_parts("ts01") == want
    assert cp.pending_parts("ts01", [t0, t1, t1 + datetime.timedelta(days=1)]) == [
        t1 + datetime.timedelta(days=1)]


def test_an_unfinished_append_is_invisible(spark, tmp_path):
    """A _tmp- file left by a crash in the middle of an append is read by
    neither the ledger's readers nor Spark's."""
    path = str(tmp_path / "ledger")
    cp = CheckpointManager(spark, path)
    cp.mark_done("tmp01", local_frame(spark, [(0, True)], "part int, passed boolean"))
    (done,) = glob.glob(f"{path}/part-*.parquet")
    shutil.copy(done, f"{path}/_tmp-{uuid.uuid4().hex}.parquet")
    with open(f"{path}/_tmp-{uuid.uuid4().hex}.parquet", "wb") as half:
        half.write(open(done, "rb").read()[:40])
    assert cp.completed_parts("tmp01") == [0]
    assert cp.run_summary("tmp01") == {"run_id": "tmp01", "parts_done": 1, "n_failed": 0}
    assert spark.read.parquet(path).count() == 1


def test_concurrent_appends_all_land(spark, tmp_path):
    """mark_done calls from more threads than cores, on one ledger, all
    persist: no append clobbers another."""
    import sys
    import threading

    cp = CheckpointManager(spark, str(tmp_path / "ledger"))
    n = 2 * (os.cpu_count() or 2)
    frames = [local_frame(spark, [(p, True)], "part int, passed boolean") for p in range(n)]
    start = threading.Barrier(n)

    def append(v):
        start.wait(timeout=60)
        cp.mark_done("conc01", v)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=append, args=(v,)) for v in frames]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert cp.completed_parts("conc01") == list(range(n))
    assert len(glob.glob(str(tmp_path / "ledger" / "part-*.parquet"))) == n


def test_checkpoint_writes_no_spark_job():
    """The ledger and the fit store are driver-written files: checkpoint.py
    makes no DataFrameWriter call, so an append cannot slide back to a
    Spark write job."""
    import driftspark.checkpoint as checkpoint

    with open(checkpoint.__file__) as f:
        assert ".write." not in f.read()


def _last_job_id(sc) -> int:
    """The id of a marker job run now.  Spark numbers jobs in submission
    order whichever thread submits them, so the gap between two markers
    counts the jobs of driftspark's worker threads too."""
    label = f"job-marker-{uuid.uuid4().hex}"
    sc.setJobGroup(label, label)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    (job,) = sc.statusTracker().getJobIdsForGroup(label)
    return job


def _jobs_of(sc, fn) -> int:
    before = _last_job_id(sc)
    fn()
    return _last_job_id(sc) - before - 1


#: Spark jobs of the fit-loading resume below: lower it when a change
#: lowers the count
RESUME_JOB_CEILING = 6


def test_resume_job_budget(spark, drifted_parquet, tmp_path):
    """Loading the stored fit submits fewer jobs than refitting the same
    resume, and no more than the pinned ceiling."""
    kw = dict(numeric_cols=["w", "h"], cat_cols=["fmt"])
    crashed = tmp_path / "crashed"
    with pytest.raises(RuntimeError, match="injected crash"):
        resumable_partition_drift(
            drifted_parquet, _CrashAfterFirstBatch(spark, str(crashed)), "job01",
            batch_parts=2, **kw,
        )
    shutil.copytree(crashed, tmp_path / "loads")
    shutil.copytree(crashed, tmp_path / "refits")
    shutil.rmtree(tmp_path / "refits" / "_fit")

    def resume(name):
        cp = CheckpointManager(spark, str(tmp_path / name))
        return lambda: resumable_partition_drift(
            drifted_parquet, cp, "job01", batch_parts=2, **kw
        ).collect()

    sc = spark.sparkContext
    loads, refits = _jobs_of(sc, resume("loads")), _jobs_of(sc, resume("refits"))
    assert loads < refits, (loads, refits)
    assert loads <= RESUME_JOB_CEILING, loads


@pytest.fixture(scope="module")
def budget_frame(spark, tmp_path_factory):
    """A 4,000-row split table (numeric w/h, categorical fmt and a
    17-category hq, int parts, six days of timestamps, a probability p)
    with its fitted PSI edges and KS ECDF, its verdicts, an empty
    checkpoint ledger, a fitted streaming monitor and a fitted CBPE
    detector."""
    from driftspark.dataset import SparkDataset
    from driftspark.detectors.cbpe import CBPE
    from driftspark.streaming import StreamingDriftMonitor

    rng = np.random.RandomState(29)
    n = 4000
    pdf = pd.DataFrame({
        "w": rng.normal(0, 1, n),
        "h": rng.uniform(0, 5, n),
        "fmt": rng.choice(["png", "jpeg", "webp"], n),
        "hq": rng.randint(0, 17, n).astype(str),
        "part": rng.randint(0, 4, n),
        "split": np.where(rng.rand(n) < 0.5, "ref", "test"),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(rng.randint(0, 6, n), unit="D"),
        "p": rng.uniform(0, 1, n),
    })
    df = spark.createDataFrame(pdf).cache()
    df.count()
    ref, test = df.where("split = 'ref'"), df.where("split = 'test'")
    cbpe = CBPE()
    cbpe.fit(SparkDataset(ref, proba_col="p"))
    ledger = CheckpointManager(spark, str(tmp_path_factory.mktemp("budget") / "ledger"))
    ledger.save_fit(
        "budget01", "0" * 16,
        vd.fit_reference(ref, ["w", "h"], ["w", "h"], cat_cols=["fmt", "hq"]),
    )
    return SimpleNamespace(
        df=df, ref=ref, test=test, edges=quantile_edges(ref, ["w", "h"], 10),
        ecdf=vd.fit_ks_reference_ecdf(ref, ["w", "h"]),
        verdicts=vd.partition_verdicts(df, ["w", "h"], ["fmt", "hq"]),
        ledger=ledger,
        monitor=StreamingDriftMonitor(
            ref, ["w", "h"], cat_cols=["fmt", "hq"], max_categories=10
        ),
        cbpe=cbpe, test_ds=SparkDataset(test, proba_col="p"),
    )


def _loaded(state):
    assert state is not None
    return state


#: {operator: (Spark-job ceiling on ``budget_frame``, the call)}: lower a
#: ceiling when a change lowers the count
JOB_BUDGET = {
    "histogram_proportions": (
        2, lambda f: st.histogram_proportions(f.ref, f.test, f.edges)),
    "psi_counts_fused": (
        2, lambda f: st.psi_counts_fused(f.ref, f.test, f.edges, ["fmt"])),
    "categorical_counts": (
        2, lambda f: st.categorical_counts(f.ref, f.test, "fmt")),
    "category_shift_report": (
        6, lambda f: st.category_shift_report(f.ref, f.test, ["fmt", "hq"]).collect()),
    "ks_d_all": (
        9, lambda f: st.ks_d_all(f.ref, f.test, ["w", "h"])),
    "_ref_bin_counts": (
        2, lambda f: vd._ref_bin_counts(f.ref, f.edges)),
    "psi_by_partition": (
        2, lambda f: vd.psi_by_partition(f.ref, f.test, f.edges).collect()),
    "rolling_psi": (
        7, lambda f: vd.rolling_psi(f.df, "ts", f.edges).collect()),
    "ks_d_against_ecdf[preaggregate]": (
        2, lambda f: vd.ks_d_against_ecdf(f.test, ["w", "h"], f.ecdf, preaggregate=True).collect()),
    "chi2_by_partition": (
        2, lambda f: vd.chi2_by_partition(f.ref, f.test, ["fmt", "hq"])),
    "chi2_by_partition[capped]": (
        2, lambda f: vd.chi2_by_partition(f.ref, f.test, ["fmt", "hq"], max_categories=10)),
    "fit_ref_category_counts": (
        3, lambda f: vd.fit_ref_category_counts(f.ref, ["fmt", "hq"])),
    "fit_ref_category_counts[capped]": (
        3, lambda f: vd.fit_ref_category_counts(f.ref, ["fmt", "hq"], 10)),
    "StreamingDriftMonitor.score_batch": (
        4, lambda f: f.monitor.score_batch(f.test)),
    "CBPE.detect": (
        4, lambda f: f.cbpe.detect(f.test_ds)),
    "fit_reference": (
        3, lambda f: vd.fit_reference(f.ref, ["w", "h"], ["w", "h"])),
    "fit_ks_reference_ecdf": (
        3, lambda f: vd.fit_ks_reference_ecdf(f.ref, ["w", "h"])),
    "fit_reference[categorical]": (
        3, lambda f: vd.fit_reference(
            f.ref, ["w", "h"], ["w", "h"], cat_cols=["fmt", "hq"], max_categories=10)),
    "partition_verdicts": (
        7, lambda f: vd.partition_verdicts(f.df, ["w", "h"], ["fmt", "hq"]).collect()),
    "partition_verdicts[preaggregate]": (
        5, lambda f: vd.partition_verdicts(
            f.df, ["w", "h"], ["fmt", "hq"], ks_preaggregate=True).collect()),
    "CheckpointManager.mark_done": (
        0, lambda f: f.ledger.mark_done("budget01", f.verdicts)),
    "CheckpointManager.completed_parts": (
        0, lambda f: f.ledger.completed_parts("budget01")),
    "CheckpointManager.load_fit": (
        0, lambda f: _loaded(f.ledger.load_fit("budget01", "0" * 16))),
}


@pytest.mark.parametrize("op", list(JOB_BUDGET))
def test_operator_job_budget(spark, budget_frame, op):
    """Each keyed-count operator submits no more Spark jobs than its
    pinned ceiling."""
    ceiling, call = JOB_BUDGET[op]
    jobs = _jobs_of(spark.sparkContext, lambda: call(budget_frame))
    assert jobs <= ceiling, (op, jobs)


@pytest.mark.parametrize("call", ["partition_verdicts", "partition_verdicts[gk]",
                                  "quantile_edges", "run_validation"])
def test_worker_thread_jobs_keep_the_callers_job_group(spark, budget_frame, drifted, call):
    """Every job a call submits, from driftspark's worker threads too,
    carries the job group the caller set."""
    from driftspark.runner import run_validation

    f = budget_frame
    fn = {
        "partition_verdicts": lambda: vd.partition_verdicts(f.df, ["w", "h"], ["fmt"]),
        "partition_verdicts[gk]": lambda: vd.partition_verdicts(
            f.df, ["w", "h"], ["fmt"], approx_quantile_error=1e-3),
        "quantile_edges": lambda: st.quantile_edges(f.ref, ["w", "h"], 10),
        "run_validation": lambda: run_validation(drifted),
    }[call]
    sc = spark.sparkContext
    label = f"caller-{uuid.uuid4().hex}"
    before = _last_job_id(sc)
    sc.setJobGroup(label, label)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = _last_job_id(sc) - before - 1
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert jobs > 0
    assert len(sc.statusTracker().getJobIdsForGroup(label)) == jobs


def test_chi2_with_an_empty_reference_is_nan_and_passes(spark):
    """chi2 against a reference with no category values has no expected
    proportions: NaN statistic and p-value, computed without a numpy
    warning, and the verdict passes with severity none and n_ref 0 — in
    the batch suite and the streaming monitor alike."""
    import warnings

    from driftspark.streaming import StreamingDriftMonitor

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        stat, p, n_ref, n_test = vd.chi2_from_count_maps({}, {"a": 10, "b": 10})
    assert np.isnan(stat) and np.isnan(p) and (n_ref, n_test) == (0, 20)

    df = spark.createDataFrame(
        [("ref", 0, None)] * 5 + [("test", 0, "a")] * 10 + [("test", 0, "b")] * 10,
        "split string, part int, fmt string",
    )
    (row,) = partition_verdicts(df, [], ["fmt"], ks_cols=[]).collect()
    assert row["check"] == "chi2" and np.isnan(row["statistic"]) and np.isnan(row["p_value"])
    assert (row["severity"], row["passed"], row["n_ref"], row["n_test"]) == ("none", True, 0, 20)
    monitor = StreamingDriftMonitor(df.where("split = 'ref'"), [], ks_cols=[], cat_cols=["fmt"])
    (streamed,) = monitor.score_batch(df.where("split = 'test'"))
    assert np.isnan(streamed["statistic"]) and np.isnan(streamed["p_value"])
    assert (streamed["severity"], streamed["passed"]) == ("none", True)


def test_chi2_with_every_category_replaced_fails(spark):
    """A non-empty reference whose categories are all under min_samples
    and absent from the test side (every category replaced) is not an
    empty reference: stat inf, p 0, a critical failed verdict with the
    reference's n_ref, computed without a numpy warning."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        stat, p, n_ref, n_test = vd.chi2_from_count_maps({"z": 4}, {"a": 10, "b": 10})
    assert (stat, p, n_ref, n_test) == (float("inf"), 0.0, 4, 20)

    df = spark.createDataFrame(
        [("ref", 0, "z")] * 4 + [("test", 0, "a")] * 10 + [("test", 0, "b")] * 10,
        "split string, part int, fmt string",
    )
    (row,) = partition_verdicts(df, [], ["fmt"], ks_cols=[]).collect()
    assert (row["statistic"], row["p_value"]) == (float("inf"), 0.0)
    assert (row["severity"], row["passed"], row["n_ref"], row["n_test"]) == (
        "critical", False, 4, 20)


def _null_part_warnings(records) -> list:
    return sorted(r.getMessage() for r in records if "NULL part" in r.getMessage())


@pytest.mark.parametrize("max_categories", [1000, 10], ids=["under_cap", "over_cap"])
def test_score_count_routes_bit_identical(spark, budget_frame, monkeypatch, caplog, max_categories):
    """The PSI + chi2 count collects through the driver-row budget; over
    it, every chi2 feature goes through the Spark-side cap.  Both routes
    give the same verdicts and chi2 rows, bit for bit, and the same
    NULL-part warnings — under the category cap and over it (the
    17-category hq at max_categories=10)."""
    df = budget_frame.df.withColumn(
        "part", F.when(F.col("w") > 1.2, None).otherwise(F.col("part"))
    )
    ref, test = df.where("split = 'ref'"), df.where("split = 'test'")
    caps = []
    real_cap = vd._cap_categories
    monkeypatch.setattr(
        vd, "_cap_categories", lambda *a, **k: caps.append(a[1]) or real_cap(*a, **k)
    )

    def run():
        caplog.clear()
        with caplog.at_level(logging.WARNING, logger="driftspark.verdicts"):
            verdicts = vd.partition_verdicts(
                df, ["w", "h"], ["fmt", "hq"], ks_cols=[], max_categories=max_categories
            ).collect()
            chi2 = vd.chi2_by_partition(ref, test, ["fmt", "hq"], max_categories=max_categories)
        return verdicts, chi2, _null_part_warnings(caplog.records)

    verdicts, chi2, warnings = run()
    assert caps == []  # within the budget the rule runs on the driver
    assert {r["part"] for r in chi2} == {0, 1, 2, 3}
    assert len(warnings) == 3  # PSI and chi2 in the suite, chi2 alone
    monkeypatch.setattr(vd, "MAX_REF_ECDF_POINTS", 5)
    caps.clear()
    over_verdicts, over_chi2, over_warnings = run()
    # every chi2 feature capped in Spark, the reference then the scored
    # parts, in both calls (the suite's reference in its fit)
    assert len(caps) == 4
    assert sorted(map(repr, over_verdicts)) == sorted(map(repr, verdicts))
    assert repr(over_chi2) == repr(chi2)
    assert over_warnings == warnings


def test_resume_with_nothing_pending_keeps_string_part_type(spark):
    """The ledger round-trips string partition ids, and a finished run
    returns an empty frame typed like the run that computed the
    verdicts (it used to be a hard-coded ``part int`` frame)."""
    rng = np.random.RandomState(17)
    df = spark.createDataFrame(pd.concat([
        pd.DataFrame({"x": rng.normal(shift if split == "test" else 0.0, 1, 400),
                      "part": part, "split": split})
        for part, shift in [("eu-west", 0.0), ("us-east", 1.5)]
        for split in ("ref", "test")
    ]))
    tmp = tempfile.mkdtemp()
    try:
        cp = CheckpointManager(spark, f"{tmp}/ledger")
        first = resumable_partition_drift(df, cp, "str01", numeric_cols=["x"])
        assert dict(first.dtypes)["part"] == "string"
        assert cp.completed_parts("str01") == ["eu-west", "us-east"]
        again = resumable_partition_drift(df, cp, "str01", numeric_cols=["x"])
        assert again.count() == 0
        assert again.schema == first.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _two_split_frame(spark, splits_by_part, split_col="split", values=("ref", "test")):
    rng = np.random.RandomState(23)
    rows = [
        (float(x), part, values[split == "test"])
        for part, splits in splits_by_part
        for split in splits
        for x in rng.normal(0, 1, 200)
    ]
    return spark.createDataFrame(rows, f"x double, part int, {split_col} string")


def test_resume_skips_null_part_ids(spark):
    """A NULL part id gets no verdict row, so it is never pending (it used
    to make sorted() raise TypeError)."""
    df = _two_split_frame(
        spark, [(0, ("ref", "test")), (1, ("ref", "test")), (None, ("ref", "test"))]
    )
    tmp = tempfile.mkdtemp()
    try:
        cp = CheckpointManager(spark, f"{tmp}/ledger")
        v = resumable_partition_drift(df, cp, "null01", numeric_cols=["x"])
        assert sorted({r["part"] for r in v.collect()}) == [0, 1]
        assert cp.completed_parts("null01") == [0, 1]
        assert resumable_partition_drift(df, cp, "null01", numeric_cols=["x"]).count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_ignores_reference_only_part_ids(spark, monkeypatch):
    """A part id only reference rows carry gets no verdict row: it must not
    stay pending and be re-scored (with a reference refit) on every
    resume.  The test split comes from the verdict kwargs."""
    import driftspark.verdicts as verdicts_mod

    df = _two_split_frame(
        spark, [(0, ("ref", "test")), (1, ("ref", "test")), (9, ("ref",))],
        split_col="side", values=("base", "cur"),
    )
    kw = dict(numeric_cols=["x"], split_col="side", ref_value="base", test_value="cur")
    tmp = tempfile.mkdtemp()
    try:
        cp = CheckpointManager(spark, f"{tmp}/ledger")
        v = resumable_partition_drift(df, cp, "refonly01", **kw)
        assert sorted({r["part"] for r in v.collect()}) == [0, 1]
        fits = []
        monkeypatch.setattr(
            verdicts_mod, "fit_reference", lambda *a, **k: fits.append(a) or ({}, {}, {})
        )
        again = resumable_partition_drift(df, cp, "refonly01", **kw)
        assert again.count() == 0 and fits == []
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_psi_by_partition_string_partitions(spark):
    """Partition ids keep their original type through the fused one-scan
    plan: string parts (e.g. '2024-01') must NOT be cast-to-NULL and
    merged into the reference histogram."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from driftspark.verdicts import psi_by_partition

    rng = np.random.RandomState(0)
    ref = pd.DataFrame({"x": rng.normal(0, 1, 4000), "part": "REF"})
    t1 = pd.DataFrame({"x": rng.normal(0, 1, 2000), "part": "eu-west"})
    t2 = pd.DataFrame({"x": rng.normal(2, 1, 2000), "part": "us-east"})
    ref_df = spark.createDataFrame(ref)
    test_df = spark.createDataFrame(pd.concat([t1, t2]))
    edges = {"x": np.quantile(ref["x"].values, np.linspace(0, 1, 11))}
    rows = {r["part"]: r for r in
            psi_by_partition(ref_df, test_df, edges).collect()}
    assert set(rows) == {"eu-west", "us-east"}
    assert rows["eu-west"]["n_ref"] == 4000  # ref histogram uncorrupted
    assert rows["eu-west"]["psi"] < 0.1     # same distribution
    assert rows["us-east"]["psi"] > 0.5     # shifted distribution


def test_chi2_and_ks_string_partitions(spark):
    """chi2_by_partition and ks_d_by_partition_broadcast also preserve
    non-integer partition id types."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from driftspark.verdicts import chi2_by_partition, ks_d_by_partition_broadcast

    rng = np.random.RandomState(1)
    ref = pd.DataFrame({
        "x": rng.normal(0, 1, 3000),
        "cat": rng.choice(["a", "b", "c"], 3000),
        "part": "REF",
    })
    test = pd.concat([
        pd.DataFrame({"x": rng.normal(0, 1, 1500),
                      "cat": rng.choice(["a", "b", "c"], 1500), "part": "p-one"}),
        pd.DataFrame({"x": rng.normal(1.5, 1, 1500),
                      "cat": rng.choice(["a", "b", "c"], 1500, p=[0.8, 0.1, 0.1]),
                      "part": "p-two"}),
    ])
    ref_df = spark.createDataFrame(ref)
    test_df = spark.createDataFrame(test)

    chi = {r["part"]: r for r in chi2_by_partition(ref_df, test_df, ["cat"])}
    assert set(chi) == {"p-one", "p-two"}
    assert chi["p-two"]["stat"] > chi["p-one"]["stat"]

    ks = {r["part"]: r for r in
          ks_d_by_partition_broadcast(ref_df, test_df, ["x"]).collect()}
    assert set(ks) == {"p-one", "p-two"}
    assert ks["p-two"]["d"] > 0.3 and ks["p-one"]["d"] < 0.1


def test_partition_verdicts_string_partitions_end_to_end(spark):
    """The public verdict API carries non-integer partition ids through
    all three check families and types the output accordingly."""
    import numpy as np
    import pandas as pd

    from driftspark.verdicts import partition_verdicts

    rng = np.random.RandomState(5)
    frames = []
    for part, shift in [("2024-01", 0.0), ("2024-02", 2.0)]:
        frames.append(pd.DataFrame({
            "x": rng.normal(shift, 1, 1500),
            "cat": rng.choice(["a", "b"], 1500),
            "part": part, "split": "test",
        }))
    frames.append(pd.DataFrame({
        "x": rng.normal(0, 1, 3000),
        "cat": rng.choice(["a", "b"], 3000),
        "part": "REF", "split": "ref",
    }))
    df = spark.createDataFrame(pd.concat(frames))
    v = partition_verdicts(df, numeric_cols=["x"], cat_cols=["cat"])
    assert dict(v.dtypes)["part"] == "string"
    rows = {(r["part"], r["check"]): r for r in v.collect()}
    assert ("2024-01", "psi") in rows and ("2024-02", "ks") in rows
    assert rows[("2024-02", "psi")]["passed"] is False  # shifted month fails
    assert rows[("2024-01", "psi")]["passed"] is True


def test_chi2_high_cardinality_guard(spark, caplog):
    """A high-cardinality string column (e.g. a caption/id passed as a
    cat_col) must not collect unbounded rows: categories beyond
    max_categories merge into the __chi2_other__ tail bucket BEFORE the
    driver collect, and the verdict stays computable and row-stable."""
    import logging

    import numpy as np
    import pandas as pd

    from driftspark.verdicts import chi2_by_partition

    rng = np.random.RandomState(7)
    # 2 common categories + a long unique tail (cardinality 3000+)
    def mk(n, part):
        tail = [f"id-{i}-{part}" for i in range(n // 2)]
        common = list(rng.choice(["hot-a", "hot-b"], n - n // 2))
        return pd.DataFrame({"cat": common + tail, "part": part})

    ref_df = spark.createDataFrame(mk(3000, "REF"))
    test_df = spark.createDataFrame(pd.concat([mk(1500, "p1"), mk(1500, "p2")]))

    with caplog.at_level(logging.WARNING, logger="driftspark.verdicts"):
        rows = chi2_by_partition(ref_df, test_df, ["cat"], max_categories=50)
    assert any("max_categories" in r.message for r in caplog.records)
    got = {r["part"]: r for r in rows}
    assert set(got) == {"p1", "p2"}
    # counts are complete: the other-bucket merge must not lose rows
    assert got["p1"]["n_test"] == 1500 and got["p1"]["n_ref"] == 3000
    assert np.isfinite(got["p1"]["stat"]) and 0.0 <= got["p1"]["p"] <= 1.0

    # under the cap the guard is a no-op: bit-identical results
    small_ref = spark.createDataFrame(
        pd.DataFrame({"cat": rng.choice(["a", "b", "c"], 2000), "part": "REF"})
    )
    small_test = spark.createDataFrame(
        pd.DataFrame({"cat": rng.choice(["a", "b", "c"], 2000), "part": "p1"})
    )
    r_plain = chi2_by_partition(small_ref, small_test, ["cat"])
    r_guard = chi2_by_partition(small_ref, small_test, ["cat"], max_categories=10)
    assert r_plain == r_guard


@pytest.fixture(scope="module")
def over_cap_parts(spark):
    """50 reference categories c00..c49 (c00 the most frequent); part 0
    drawn from the reference without its 10 rarest categories, parts 1-3
    each with the reference's categories plus 10 heavy new ones: 80
    categories over the reference and all parts, 40-60 in each part."""
    ref_counts = {f"c{i:02d}": 20 + 4 * (49 - i) for i in range(50)}
    rows = [("ref", -1, k) for k, n in ref_counts.items() for _ in range(n)]
    rows += [("test", 0, k) for k, n in ref_counts.items() if k < "c40" for _ in range(n // 2)]
    for part in (1, 2, 3):
        rows += [("test", part, k) for k, n in ref_counts.items() for _ in range(n // 4)]
        rows += [("test", part, f"new{part}-{j}") for j in range(10) for _ in range(300)]
    df = spark.createDataFrame(rows, "split string, part int, cat string").cache()
    df.count()
    yield SimpleNamespace(df=df, ref_counts=ref_counts)
    df.unpersist()


def test_over_cap_chi2_depends_on_its_own_partition(spark, over_cap_parts, tmp_path):
    """Over max_categories a partition's chi2 depends on its own rows and
    the reference alone: part 0 scores the same alone and beside parts
    whose new categories push the reference ∪ test count over the cap, and
    a crash and resume one partition per batch equals one uninterrupted
    run."""
    df, kw = over_cap_parts.df, dict(ks_cols=[], max_categories=60)

    def part0(parts):
        (row,) = partition_verdicts(df, [], ["cat"], parts=parts, **kw).where("part = 0").collect()
        return row

    alone, beside = part0([0]), part0([0, 1, 2, 3])
    assert alone == beside
    part0_counts = {k: n // 2 for k, n in over_cap_parts.ref_counts.items() if k < "c40"}
    stat, p, n_ref, n_test = vd.chi2_from_count_maps(over_cap_parts.ref_counts, part0_counts)
    assert (alone["statistic"], alone["p_value"], alone["n_ref"], alone["n_test"]) == (
        stat, p, n_ref, n_test)

    want = partition_verdicts(df, [], ["cat"], **kw).collect()
    crashing = _CrashAfterFirstBatch(spark, str(tmp_path / "ledger"))
    with pytest.raises(RuntimeError, match="injected crash"):
        resumable_partition_drift(df, crashing, "cap01", [], ["cat"], batch_parts=1, **kw)
    resumed = resumable_partition_drift(
        df, CheckpointManager(spark, str(tmp_path / "ledger")), "cap01", [], ["cat"],
        batch_parts=1, **kw,
    ).collect()
    assert len({r["part"] for r in resumed}) == 3
    _assert_same_verdicts(crashing.persisted + resumed, want)


def test_null_part_rows_warned_not_silent(spark, caplog):
    """Test rows with a NULL partition id are excluded from verdicts but
    must be counted and logged (ADVICE: they used to vanish silently)."""
    import logging

    import numpy as np
    import pandas as pd

    from driftspark.stats import quantile_edges
    from driftspark.verdicts import chi2_by_partition, psi_by_partition

    rng = np.random.RandomState(9)
    ref = spark.createDataFrame(pd.DataFrame({
        "x": rng.normal(0, 1, 2000),
        "cat": rng.choice(["a", "b"], 2000),
        "part": "REF",
    }))
    test_pdf = pd.DataFrame({
        "x": rng.normal(0, 1, 2000),
        "cat": rng.choice(["a", "b"], 2000),
        "part": ["p1"] * 1000 + [None] * 1000,
    })
    test = spark.createDataFrame(test_pdf)

    edges = quantile_edges(ref, ["x"], 5)
    with caplog.at_level(logging.WARNING, logger="driftspark.verdicts"):
        psi_rows = psi_by_partition(ref, test, edges).collect()
    assert any("NULL part" in r.message for r in caplog.records)
    assert {r["part"] for r in psi_rows} == {"p1"}
    assert all(r["n_test"] == 1000 for r in psi_rows)

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="driftspark.verdicts"):
        chi_rows = chi2_by_partition(ref, test, ["cat"])
    assert any("NULL part" in r.message for r in caplog.records)
    assert {r["part"] for r in chi_rows} == {"p1"}
    assert all(r["n_test"] == 1000 for r in chi_rows)


def test_fully_shifted_partition_does_not_abort(spark):
    """A partition whose values are ALL outside the fitted bin range used
    to throw DIVIDE_BY_ZERO under Spark 4's default ANSI mode (tsum = 0)
    — exactly the fully-drifted case the suite exists to flag.  It must
    emit a finite max-divergence PSI verdict with n_test = 0 instead."""
    rng = np.random.RandomState(11)
    ref = pd.DataFrame({"x": rng.normal(0, 1, 2000), "part": "p0", "split": "ref"})
    ok = pd.DataFrame({"x": rng.normal(0, 1, 500), "part": "p1", "split": "test"})
    shifted = pd.DataFrame({"x": np.full(500, 1e6), "part": "p2", "split": "test"})
    df = spark.createDataFrame(pd.concat([ref, ok, shifted]))
    out = partition_verdicts(df, ["x"], part_col="part").collect()
    psi = {r["part"]: r for r in out if r["check"] == "psi"}
    assert set(psi) == {"p1", "p2"}
    # PSI is an in-range-shape statistic: the empty-in-range side clamps
    # to uniform and n_test = 0 marks the case; the mass exodus itself is
    # the KS check's job (it scores ALL values: D ~= 1 here)
    assert psi["p2"]["n_test"] == 0
    assert np.isfinite(psi["p2"]["statistic"])
    ks = {r["part"]: r for r in out if r["check"] == "ks"}
    assert ks["p2"]["statistic"] > 0.99 and not ks["p2"]["passed"]
    assert ks["p1"]["passed"]
    # the healthy partition is unaffected
    assert psi["p1"]["n_test"] == 500


def test_all_nan_reference_ks_column_skipped_loudly(spark, caplog):
    """An all-NaN reference column has no fitted ECDF; the batch KS path
    used to KeyError inside applyInPandas and kill the whole job — it must
    skip the column with a warning (the streaming monitor already did)."""
    import logging

    rng = np.random.RandomState(12)
    ref = pd.DataFrame({
        "x": rng.normal(0, 1, 1000),
        "y": np.nan,
        "part": "R",
        "split": "ref",
    })
    test = pd.DataFrame({
        "x": rng.normal(0, 1, 1000),
        "y": rng.normal(0, 1, 1000),
        "part": "p1",
        "split": "test",
    })
    df = spark.createDataFrame(pd.concat([ref, test]))
    with caplog.at_level(logging.WARNING, logger="driftspark.verdicts"):
        out = partition_verdicts(df, ["x", "y"], part_col="part").collect()
    assert any("no fitted reference ECDF" in r.message for r in caplog.records)
    ks = {(r["part"], r["feature"]) for r in out if r["check"] == "ks"}
    assert ks == {("p1", "x")}  # y skipped, x still scored
    # PSI likewise only fits x (quantile_edges drops the all-NULL column)
    psi = {(r["part"], r["feature"]) for r in out if r["check"] == "psi"}
    assert psi == {("p1", "x")}


def test_ks_null_part_rows_excluded(spark):
    """KS verdicts must not emit a part=NULL row (psi/chi2 exclude + warn;
    KS used to silently include one), and the NULL-part rows must not
    leak into the p1 statistic."""
    rng = np.random.RandomState(13)
    ref = spark.createDataFrame(pd.DataFrame({"x": rng.normal(0, 1, 1000)}))
    test = spark.createDataFrame(pd.DataFrame({
        "x": rng.normal(0, 1, 1000),
        "part": ["p1"] * 500 + [None] * 500,
    }))
    rows = ks_d_by_partition_broadcast(ref, test, ["x"]).collect()
    assert {r["part"] for r in rows} == {"p1"}
    assert all(r["m"] == 500 for r in rows)
    pdf = test.toPandas()
    p1 = pdf[pdf["part"] == "p1"]["x"].values.astype(float)
    ref_x = ref.toPandas()["x"].values.astype(float)
    assert rows[0]["d"] == pytest.approx(nm.ks_2samp_d(ref_x, p1), abs=1e-12)


def test_w1_by_partition_partition_with_no_values(spark):
    """w1_by_partition cross-joins reference values with EVERY partition
    — a partition whose rows are all NaN for a feature has a zero test
    total, which must not divide by zero under ANSI.  It must drop the
    empty (part, feature) group instead of aborting."""
    rng = np.random.RandomState(14)
    ref = spark.createDataFrame(pd.DataFrame({"x": rng.normal(0, 1, 500)}))
    test = spark.createDataFrame(pd.DataFrame({
        "x": np.concatenate([rng.normal(0, 1, 300), np.full(200, np.nan)]),
        "part": ["p1"] * 300 + ["p2"] * 200,
    }))
    rows = w1_by_partition(ref, test, ["x"]).collect()
    assert {r["part"] for r in rows} == {"p1"}
    assert (rows[0]["n"], rows[0]["m"]) == (500, 300)


def test_approx_edges_constant_column_keeps_verdict(spark):
    """The approx-quantile scale path must fall back to uniform edges for
    a constant reference column like the exact path does, not silently
    drop the feature from PSI coverage."""
    rng = np.random.RandomState(15)
    ref = pd.DataFrame({"x": 5.0, "y": rng.normal(0, 1, 1000), "part": "R",
                        "split": "ref"}, index=range(1000))
    test = pd.DataFrame({"x": rng.normal(7, 1, 1000), "y": rng.normal(0, 1, 1000),
                         "part": "p1", "split": "test"})
    df = spark.createDataFrame(pd.concat([ref, test]))
    out = partition_verdicts(
        df, ["x", "y"], part_col="part", approx_quantile_error=1e-3
    ).collect()
    psi_feats = {r["feature"] for r in out if r["check"] == "psi"}
    assert psi_feats == {"x", "y"}


def test_all_null_numeric_cols_skip_psi_gracefully(spark, caplog):
    """Every numeric column all-NULL in the reference: PSI skipped with a
    warning, KS/chi2 still run (used to ValueError the whole suite)."""
    import logging

    rng = np.random.RandomState(16)
    ref = pd.DataFrame({"x": np.nan, "cat": rng.choice(["a", "b"], 800),
                        "part": "R", "split": "ref"}, index=range(800))
    test = pd.DataFrame({"x": np.nan, "cat": rng.choice(["a", "b"], 800),
                         "part": "p1", "split": "test"})
    df = spark.createDataFrame(pd.concat([ref, test]))
    with caplog.at_level(logging.WARNING, logger="driftspark.verdicts"):
        out = partition_verdicts(
            df, ["x"], cat_cols=["cat"], part_col="part"
        ).collect()
    assert any("PSI checks skipped" in r.message for r in caplog.records)
    checks = {r["check"] for r in out}
    assert checks == {"chi2"}  # x has no ECDF either; chi2 still ran


def test_w1_by_partition_single_part_equals_wasserstein_all(spark, drifted):
    from driftspark.stats import wasserstein_all

    ref = drifted.where("split = 'ref'")
    test = drifted.where("split = 'test'").withColumn("part", F.lit("all"))
    rows = {r["feature"]: r for r in
            w1_by_partition(ref, test, ["w", "h"]).collect()}
    base = wasserstein_all(ref, test.drop("part"), ["w", "h"])
    for c in ("w", "h"):
        assert rows[c]["w1"] == base[c][0]  # bit-identical quantized sums
        assert (rows[c]["n"], rows[c]["m"]) == base[c][1:]


def test_w1_by_partition_string_parts_and_null_excluded(spark):
    import pandas as pd_

    pdf = pd_.DataFrame(
        {
            "x": list(range(100)) + [v + 50 for v in range(100)],
            "part": ["p1"] * 50 + ["p2"] * 40 + [None] * 10 + ["?"] * 100,
        }
    )
    df = spark.createDataFrame(pdf)
    ref = df.where("part = '?'").select("x")
    test = df.where("part <> '?'")
    rows = {r["part"]: r for r in w1_by_partition(ref, test, ["x"]).collect()}
    # NULL-part rows belong to no partition (psi/chi2 convention)
    assert set(rows) == {"p1", "p2"}
    assert isinstance(next(iter(rows)), str)  # original id type preserved
    # p1 == first half of the reference shifted into it -> strictly less
    # drifted than p2 (upper tail only)
    assert rows["p1"]["m"] == 50 and rows["p2"]["m"] == 40


def test_partition_verdicts_w1_optin(spark, drifted, stable):
    from driftspark.verdicts import partition_verdicts

    # default OFF: no w1 rows (existing oracles stay byte-stable)
    base = partition_verdicts(drifted, numeric_cols=["w"], cat_cols=[])
    assert base.where("check = 'w1'").count() == 0

    v = partition_verdicts(
        drifted, numeric_cols=["w"], cat_cols=[], w1_cols=["w"],
        w1_threshold=0.1,
    ).where("check = 'w1'").collect()
    assert len(v) == 4  # one per partition
    for r in v:
        assert r["p_value"] is None and r["statistic"] >= 0
    # the drifted table must fail somewhere; the stable one must pass
    assert any(not r["passed"] for r in v)
    v0 = partition_verdicts(
        stable, numeric_cols=["w"], cat_cols=[], w1_cols=["w"],
        w1_threshold=0.5,
    ).where("check = 'w1'").collect()
    assert v0 and all(r["passed"] for r in v0)


def _rolling_events(spark, day_specs):
    """day_specs: [(day_offset, values)] -> events-like frame."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 5, 1)
    rows = [
        (t0 + timedelta(days=d, minutes=i % 300), float(v))
        for d, vals in day_specs
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "ts timestamp, value double")


def test_rolling_psi_flags_the_shifted_day(spark):
    from driftspark.verdicts import rolling_psi

    rng = np.random.RandomState(3)
    stable = [(d, rng.uniform(0, 100, 400)) for d in range(10)]
    shifted = [(10, rng.uniform(150, 250, 400))]  # day 10 jumps regime
    tail = [(d, rng.uniform(0, 100, 400)) for d in range(11, 13)]
    df = _rolling_events(spark, stable + shifted + tail)
    edges = {"value": np.array([0.0, 25.0, 50.0, 75.0, 100.0, 150.0, 300.0])}
    rep = {r["bucket_ts"]: r for r in rolling_psi(
        df, "ts", edges, bucket="day", trailing=7, min_history=3
    ).collect()}
    assert len(rep) == 13
    assert rep["2024-05-11 00:00:00"]["severity"] == "critical"
    assert rep["2024-05-11 00:00:00"]["passed"] is False
    assert rep["2024-05-09 00:00:00"]["severity"] == "none"
    # the first min_history days are labeled, never silently scored
    for d in range(3):
        r = rep[f"2024-05-0{d + 1} 00:00:00"]
        assert r["severity"] == "insufficient_history" and r["passed"] is None
    # day 12 compares against a trailing window CONTAINING the shifted
    # day — mild but nonzero drift, and n_trailing spans 7 days
    assert rep["2024-05-12 00:00:00"]["n_trailing"] == 7 * 400


def test_rolling_psi_empty_day_is_a_row_not_a_crash(spark):
    from driftspark.verdicts import rolling_psi

    rng = np.random.RandomState(4)
    days = [(d, rng.uniform(0, 100, 200)) for d in range(8) if d != 5]
    df = _rolling_events(spark, days)
    edges = {"value": np.array([0.0, 50.0, 100.0])}
    rep = {r["bucket_ts"]: r for r in rolling_psi(
        df, "ts", edges, bucket="day", trailing=3, min_history=2
    ).collect()}
    gap = rep["2024-05-06 00:00:00"]
    # the silent day exists on the dense grid with zero test mass; PSI is
    # an in-range-shape statistic so it scores ~uniform-vs-trailing — the
    # volume crater itself is volume_report's verdict
    assert gap["n_test"] == 0 and gap["psi"] is not None
    # and the day after still has a 3-day trailing window including day 5
    assert rep["2024-05-07 00:00:00"]["n_trailing"] == 2 * 200


def test_rolling_psi_validation(spark):
    from driftspark.verdicts import rolling_psi

    df = _rolling_events(spark, [(0, [1.0, 2.0])])
    with pytest.raises(ValueError, match="bucket"):
        rolling_psi(df, "ts", {"value": np.array([0.0, 1.0])}, bucket="eon")
    with pytest.raises(ValueError, match="edges_map"):
        rolling_psi(df, "ts", {})
    with pytest.raises(ValueError, match="trailing"):
        rolling_psi(df, "ts", {"value": np.array([0.0, 1.0])}, trailing=0)


def test_rolling_psi_layout_invariance(spark):
    from driftspark.verdicts import rolling_psi

    rng = np.random.RandomState(7)
    df = _rolling_events(
        spark, [(d, rng.uniform(0, 100, 300)) for d in range(9)]
    )
    edges = {"value": np.array([0.0, 25.0, 50.0, 75.0, 100.0])}
    base = {r["bucket_ts"]: r for r in rolling_psi(df, "ts", edges).collect()}
    relaid = {r["bucket_ts"]: r for r in rolling_psi(
        df.repartition(13), "ts", edges).collect()}
    assert set(base) == set(relaid)
    for k in base:
        assert relaid[k]["psi"] == pytest.approx(base[k]["psi"], abs=1e-12)
        assert relaid[k]["severity"] == base[k]["severity"]
        assert relaid[k]["n_test"] == base[k]["n_test"]
