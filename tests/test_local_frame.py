"""session.local_frame, the one constructor of driver-built result frames,
and run_validation's compute-once outputs."""

import datetime as dt
import shutil
import tempfile
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from driftspark.runner import run_validation
from driftspark.session import local_frame
from driftspark.synth import synth_dataset_dim, synth_image_pairs_wide, synth_image_table

PKG = Path(__file__).resolve().parent.parent / "driftspark"

VALUES = "statistic double, p_value double, n long"
SPECIAL = [
    (None, None, None),
    (float("nan"), float("inf"), 2**63 - 1),
    (-0.0, float("-inf"), -(2**63)),
    (0.1 + 0.2, 5e-324, 0),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exact(rows):
    # repr keeps NaN == NaN and tells -0.0 from 0.0
    return [tuple(repr(v) for v in r) for r in rows]


def _assert_parity(spark, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert _exact(got.collect()) == _exact(want.collect())
    # Row inputs with the StructType of a collected frame round-trip too
    again = local_frame(spark, want.collect(), want.schema)
    assert again.schema == want.schema
    assert _exact(again.collect()) == _exact(want.collect())


@pytest.mark.parametrize(
    "part_type,parts",
    [
        ("int", [1, None, -7, 2**31 - 1]),
        ("string", ["eu-west", None, "", "ü"]),
        ("date", [dt.date(2024, 2, 29), None, dt.date(1970, 1, 1), dt.date(9999, 12, 31)]),
        ("decimal(10,2)", [Decimal("1.50"), None, Decimal("-0.01"), Decimal("99999999.99")]),
    ],
)
def test_local_frame_parity(spark, part_type, parts):
    rows = [(p, f"f{i}", *v) for i, (p, v) in enumerate(zip(parts, SPECIAL))]
    _assert_parity(spark, rows, f"part {part_type}, feature string, {VALUES}")


def test_local_frame_parity_timestamps_non_utc_session(spark):
    """Naive datetimes mean local time, as in createDataFrame(list); the
    session time zone must not shift them."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        parts = [
            dt.datetime(2024, 3, 10, 2, 30, 0, 123456),
            None,
            dt.datetime(2024, 11, 3, 1, 30, tzinfo=dt.timezone(dt.timedelta(hours=5))),
            dt.datetime(1969, 12, 31, 23, 59, 59),
        ]
        rows = [(p, f"f{i}", *v) for i, (p, v) in enumerate(zip(parts, SPECIAL))]
        _assert_parity(spark, rows, f"part timestamp, feature string, {VALUES}")
    finally:
        spark.conf.set(key, old)


def test_local_frame_parity_empty(spark):
    _assert_parity(spark, [], f"part string, feature string, {VALUES}")
    assert local_frame(spark, iter(()), "g string").collect() == []


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_local_frame_is_a_local_table_scan(spark, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        for rows in ([(1, "a", *SPECIAL[1])], []):
            plan = _plan(local_frame(spark, rows, f"part int, feature string, {VALUES}"))
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    finally:
        spark.conf.set(key, old)


def test_no_list_built_frames_in_result_modules():
    """Result frames go through local_frame, never a pickled Python RDD."""
    for mod in ("verdicts", "constraints", "checkpoint", "stats", "streaming", "volume", "runner"):
        assert "createDataFrame(" not in (PKG / f"{mod}.py").read_text(), mod


def test_one_thread_pool():
    """driftspark's concurrency goes through session.concurrently, the one
    ThreadPoolExecutor, whose worker threads keep the caller's job group."""
    users = sorted(
        str(p.relative_to(PKG)) for p in PKG.rglob("*.py")
        if "ThreadPoolExecutor" in p.read_text()
    )
    assert users == ["session.py"], users


def _jobs(spark, label, fn):
    """Spark job ids that ``fn`` submits, tagged under a fresh job group."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(label))


def test_run_validation_outputs_are_read_without_rerunning(spark):
    img = synth_image_table(
        spark, 3000, n_parts=3, drift=True, with_bytes=False, num_partitions=3
    )
    pairs = synth_image_pairs_wide(spark, 120, corrupt_every=40, num_partitions=2)
    from driftspark.schema import expect_not_null, expect_range

    res = run_validation(
        img, pairs=pairs, parent=synth_dataset_dim(spark),
        expectations=[expect_not_null("image_id"), expect_range("w", 1, 65536)],
    )
    for name in ("verdicts", "uniqueness", "profile", "expectations"):
        rows, jobs = _jobs(spark, f"read-{name}", getattr(res, name).collect)
        assert rows and jobs == [], name
    # the probe does see jobs: the lazy violation join runs on read
    _, jobs = _jobs(spark, "read-uniqueness_violations", res.uniqueness_violations.collect)
    assert jobs
    for name in ("payload_checks", "referential_violations"):
        assert "MapInPandas" not in _plan(getattr(res, name)), name
    assert res.payload_checks.where("NOT pixels_ok").count() == 3
    assert res.n_pairs == 120


def test_n_images_counts_null_keys_and_empty_tables(spark):
    rows = [("img_1", "ref", 1), ("img_1", "ref", 1), (None, "ref", 2), (None, None, 2),
            ("img_2", None, 1), ("img_3", "test", 1), ("img_4", "test", 2)]
    df = spark.createDataFrame(rows, "image_id string, split string, part int")
    tmp = tempfile.mkdtemp()
    try:
        # a parquet table, as callers pass it (no local relation shortcut)
        df.write.parquet(f"{tmp}/t")
        table = spark.read.parquet(f"{tmp}/t")
        for t in (table, table.where(F.lit(False))):
            res = run_validation(t, numeric_cols=(), cat_cols=(), ks_cols=None)
            assert res.n_images == t.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
