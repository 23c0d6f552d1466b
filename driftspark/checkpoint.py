"""Checkpoint / resume with per-partition lineage + metrics rows.

North rule (BASELINE.json:6,14): runs are resumable from checkpoints with
per-partition lineage and metrics persisted.  The reference has no
streaming surface (SURVEY.md §2.9) — resume is batch: a completion ledger
keyed by (run_id, part), and a restart scores only the test partitions
the ledger does not list as done.

Storage: the ledger is a parquet directory, one file per completed batch
with one row per partition.  A partition that is marked done twice keeps
both rows; readers count each (run_id, part) once, with its latest row.

Every ledger and fit file is small, driver-held metadata, so the driver
writes and reads it itself through the session's Hadoop FileSystem (any
file system Spark can write) and no ledger operation submits a Spark job
— the way Structured Streaming keeps its offset and commit logs (Armbrust
et al., SIGMOD 2018).  A file is written as ``_tmp-<uuid>.parquet`` and
then renamed to ``part-<uuid>.parquet``: every reader (this one and
Spark's) skips ``_``- and ``.``-prefixed names, so a crash mid-write
leaves no visible half-file, and concurrent appends never share a name
or a ``_temporary`` directory.  Ledgers that Spark's parquet writer made
(``part-*.snappy.parquet`` plus ``_SUCCESS``) read the same.

The ledger directory also holds the fitted PSI/KS/chi2 reference state of
each run, at ``<path>/_fit/run_id=<id>/fp=<fingerprint>``: one small parquet
file plus its ``_SUCCESS`` marker, written the same way.  Readers skip the
``_``-prefixed directory, so reading the ledger never sees it.  A resume with
the same run_id and fingerprint loads that state instead of refitting; the
fingerprint covers the fit settings, the reference row count and a
checksum of the fitted reference columns, so a changed reference refits
(with a warning) and never mixes fits.
"""

from __future__ import annotations

import hashlib
import json
import logging
import time
import uuid
from functools import reduce
from typing import Optional, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from driftspark.session import arrow_table

logger = logging.getLogger(__name__)

#: bytes per Py4J call when a file is written through the Hadoop FileSystem
_CHUNK = 8 << 20

#: one row per fitted (family, feature): PSI edges with the reference bin
#: counts, the KS ECDF's sorted values with their cumulative counts, or
#: the chi2 reference categories (``keys``) with their capped counts
FIT_SCHEMA = (
    "family string, feature string, values array<double>, counts array<bigint>, "
    "keys array<string>"
)


class CheckpointManager:
    """Per-partition completion ledger at ``path`` (parquet files): one
    (run_id, part, status, n_checks, n_failed, snapshot_id, completed_at)
    row per completed partition.  ``part`` keeps the verdicts' partition
    type (int, string, date, ...).  ``<path>/_fit`` holds each run's
    fitted reference state (:meth:`save_fit`, :meth:`load_fit`).  Every
    read and write runs on the driver, through the session's Hadoop
    FileSystem, and submits no Spark job."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _hadoop(self, path: str) -> tuple:
        """(the Hadoop FileSystem of ``path``, its Hadoop Path)."""
        sc = self.spark.sparkContext
        p = sc._jvm.org.apache.hadoop.fs.Path(path)
        return p.getFileSystem(sc._jsc.hadoopConfiguration()), p

    def _exists(self, path: str) -> bool:
        """Whether ``path`` exists, on any file system Spark can write."""
        fs, p = self._hadoop(path)
        return fs.exists(p)

    def _write(self, directory: str, table) -> None:
        """Add ``table`` to ``directory`` as one new parquet file: written
        as ``_tmp-<uuid>.parquet``, which every reader skips, then renamed
        to ``part-<uuid>.parquet``.  Each file has its own name, so
        concurrent writers never clobber each other."""
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        data = memoryview(buf.getvalue())
        name = uuid.uuid4().hex
        fs, tmp = self._hadoop(f"{directory.rstrip('/')}/_tmp-{name}.parquet")
        out = fs.create(tmp, False)
        try:
            for i in range(0, len(data), _CHUNK):
                out.write(bytes(data[i : i + _CHUNK]))
        finally:
            out.close()
        _, final = self._hadoop(f"{directory.rstrip('/')}/part-{name}.parquet")
        if not fs.rename(tmp, final):
            raise IOError(f"could not rename {tmp} to {final}")

    def _tables(self, directory: str) -> list:
        """The ``pyarrow.Table`` of each visible parquet file directly in
        ``directory`` (none when it does not exist): the files Spark's
        reader would read, so ``_``- and ``.``-prefixed names (an
        unfinished ``_tmp-`` file, ``_SUCCESS``, checksums, ``_fit``) are
        skipped.  Reads files this class wrote and ones a Spark parquet
        write made alike."""
        fs, p = self._hadoop(directory)
        if not fs.exists(p):
            return []
        tables = []
        for status in fs.listStatus(p):
            name = status.getPath().getName()
            if name[0] in "_." or not name.endswith(".parquet") or not status.isFile():
                continue
            stream = fs.open(status.getPath())
            try:
                data = stream.readAllBytes()
            finally:
                stream.close()
            tables.append(pq.read_table(pa.BufferReader(data)))
        return tables

    def _ledger_rows(self, run_id: str) -> list:
        """The ledger rows of ``run_id``, as dicts, parts as Spark's
        collect gives them."""
        rows = []
        for table in self._tables(self.path):
            i = table.schema.get_field_index("part")
            t = table.schema.field(i).type
            instant = pa.types.is_timestamp(t) and (t.tz is not None or t.unit == "ns")
            if instant:  # a TIMESTAMP part (``ns``: a Spark write's INT96)
                table = table.set_column(i, "part", table.column(i).cast(pa.timestamp("us", "UTC")))
            for r in table.to_pylist():
                if r["run_id"] == run_id:
                    if instant and r["part"] is not None:
                        # Spark's collect rule: a naive local-time datetime
                        r["part"] = r["part"].astimezone().replace(tzinfo=None)
                    rows.append(r)
        return rows

    @staticmethod
    def new_run_id() -> str:
        return uuid.uuid4().hex[:16]

    def completed_parts(self, run_id: str) -> list:
        return sorted({r["part"] for r in self._ledger_rows(run_id) if r["status"] == "done"})

    def pending_parts(self, run_id: str, all_parts: Sequence) -> list:
        done = set(self.completed_parts(run_id))
        return [p for p in all_parts if p not in done]

    def mark_done(
        self,
        run_id: str,
        verdicts: DataFrame,
        snapshot_id: Optional[int] = None,
    ) -> None:
        """Persist per-partition lineage+metrics rows derived from a
        verdict DataFrame (one ledger row per partition).  The rows are
        tallied on the driver — collecting the suite's LocalRelation
        verdicts runs no job — and appended as one new file."""
        now = time.time()
        tally: dict = {}  # part -> [n_checks, n_failed]; SQL count/sum rules
        for part, passed in verdicts.select("part", "passed").collect():
            t = tally.setdefault(part, [0, None])
            t[0] += 1
            if passed is not None:
                t[1] = (t[1] or 0) + (not passed)
        part_type = verdicts.schema["part"].dataType.simpleString()
        self._write(self.path, arrow_table(
            [(run_id, part, "done", n, failed, snapshot_id, now)
             for part, (n, failed) in tally.items()],
            f"run_id string, part {part_type}, status string, n_checks bigint, "
            "n_failed bigint, snapshot_id bigint, completed_at double",
        ))

    def run_summary(self, run_id: str) -> dict:
        """Partitions done and failed checks, counting each partition once
        (its latest ledger row) however often it was marked done."""
        latest: dict = {}  # part -> its latest row
        for r in self._ledger_rows(run_id):
            last = latest.get(r["part"])
            if last is None or r["completed_at"] > last["completed_at"]:
                latest[r["part"]] = r
        failed = [r["n_failed"] for r in latest.values() if r["n_failed"] is not None]
        return {"run_id": run_id, "parts_done": len(latest), "n_failed": int(sum(failed))}

    def _fit_path(self, run_id: str, fingerprint: Optional[str] = None) -> str:
        path = f"{self.path.rstrip('/')}/_fit/run_id={run_id}"
        return path if fingerprint is None else f"{path}/fp={fingerprint}"

    def save_fit(self, run_id: str, fingerprint: str, state: tuple) -> None:
        """Persist a fitted suite state (edges, reference bin counts, KS
        ECDF or None, reference category counts) for ``run_id`` under
        ``fingerprint``: one parquet file, then the ``_SUCCESS`` marker,
        replacing whatever that fingerprint held."""
        edges, ref_counts, ecdf, ref_cats = state
        rows = [("psi", f, e, ref_counts[f], None) for f, e in edges.items()]
        rows += [("ks", f, v, c, None) for f, (v, c, _) in (ecdf or {}).items()]
        rows += [("chi2", f, None, list(m.values()), list(m)) for f, m in ref_cats.items()]
        path = self._fit_path(run_id, fingerprint)
        fs, p = self._hadoop(path)
        fs.delete(p, True)
        self._write(path, arrow_table(rows, FIT_SCHEMA))
        _, success = self._hadoop(f"{path}/_SUCCESS")
        fs.create(success, True).close()

    def load_fit(self, run_id: str, fingerprint: str) -> Optional[tuple]:
        """The state :meth:`save_fit` stored for ``run_id`` under
        ``fingerprint``, or None (with a warning when the run has a store
        that cannot be used: another fingerprint, no ``_SUCCESS`` marker,
        inconsistent lengths)."""
        path = self._fit_path(run_id, fingerprint)
        state = None
        if self._exists(f"{path}/_SUCCESS"):
            state = _fit_state(self._tables(path))
        if state is None and self._exists(self._fit_path(run_id)):
            logger.warning(
                "resumable_partition_drift: run %s has no complete fit stored "
                "for this reference and these settings (fingerprint %s) — "
                "refitting",
                run_id,
                fingerprint,
            )
        return state


def _fit_state(tables) -> Optional[tuple]:
    """(edges, reference bin counts, KS ECDF, reference category counts)
    from the parquet tables of a stored fit, or None when a row's lengths
    are inconsistent."""

    def rows(table):
        cols = [table.column(n).combine_chunks() for n in ("values", "counts", "keys")]
        for i, (family, feature) in enumerate(
            zip(table.column("family").to_pylist(), table.column("feature").to_pylist())
        ):
            values, counts, keys = (c[i].values for c in cols)  # None: a NULL list
            yield (
                family, feature,
                None if values is None else values.to_numpy(zero_copy_only=False),
                None if counts is None else counts.to_numpy(zero_copy_only=False),
                None if keys is None else keys.to_pylist(),
            )

    n_rows = sum(t.num_rows for t in tables)
    edges, ref_counts, ecdf, ref_cats = {}, {}, {}, {}
    for family, feature, values, counts, keys in (r for t in tables for r in rows(t)):
        is_chi2 = family == "chi2"  # keys, no values; the others the reverse
        if counts is None or (values is None) != is_chi2 or (keys is None) == is_chi2:
            return None
        counts = np.asarray(counts, dtype=np.int64)
        if is_chi2:
            if len(keys) != len(counts):
                return None
            ref_cats[feature] = dict(zip(keys, counts.tolist()))
            continue
        values = np.asarray(values, dtype=np.float64)
        if family == "psi" and len(values) == len(counts) + 1 and len(counts):
            edges[feature], ref_counts[feature] = values, counts
        elif family == "ks" and len(values) == len(counts) and len(counts):
            ecdf[feature] = (values, counts, int(counts[-1]))
        else:
            return None
    if len(edges) + len(ecdf) + len(ref_cats) != n_rows:  # a (family, feature) twice
        return None
    return edges, ref_counts, ecdf, ref_cats


def _universe(df: DataFrame, is_ref: Column, is_test: Column, suite) -> tuple:
    """(the non-NULL test part ids, the fit fingerprint) from ONE
    aggregation over both splits of ``df``.  The fingerprint hashes the
    suite's fit settings, the reference row count and an
    order-independent checksum of the fitted reference columns: the
    decimal sum of per-row xxhash64 values cannot overflow under ANSI
    and, unlike an XOR, does not cancel duplicate rows."""
    row_hash = F.xxhash64(*suite.fit_cols) if suite.fit_cols else F.lit(0)
    rows = (
        df.where(is_ref | is_test)
        .groupBy(
            is_ref.alias("is_ref"),
            F.when(~is_ref, F.col(suite.part_col)).alias("p"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(is_ref, row_hash.cast("decimal(38,0)"))).alias("h"),
        )
        .collect()
    )
    ref = [(r["n"], str(r["h"])) for r in rows if r["is_ref"]]
    key = json.dumps([suite.fit_params, ref], default=str)
    parts = [r["p"] for r in rows if not r["is_ref"] and r["p"] is not None]
    return parts, hashlib.sha256(key.encode()).hexdigest()[:16]


def resumable_partition_drift(
    df: DataFrame,
    checkpoint: CheckpointManager,
    run_id: str,
    numeric_cols: Sequence[str],
    cat_cols: Sequence[str] = (),
    part_col: str = "part",
    snapshot_id: Optional[int] = None,
    batch_parts: int = 64,
    **verdict_kwargs,
) -> DataFrame:
    """Run partition_verdicts over only the PENDING partitions of ``df``,
    persisting lineage per batch — a mid-run crash resumes where it left
    off (idempotent per partition).  The PSI/KS/chi2 reference is fitted
    at most ONCE per call, before the batch loop, and persisted in the
    checkpoint: a resume whose reference and fit settings match loads it
    and runs no fit job.  Each batch then runs one count, filtered to its
    own test partitions, that scores PSI, chi2 and (with
    ``ks_preaggregate``) KS; raw-value KS adds its own scan.  The part
    filter prunes no file, so each scan still reads the whole input.  The
    ledger reads and the append that marks a batch done are driver-side
    file operations that run no Spark job (see the module docstring).
    Returns the verdicts computed in this
    invocation, typed like partition_verdicts' output even when nothing
    is pending.  The partitions are the non-NULL part ids of the TEST
    split, the ones partition_verdicts gives verdict rows."""
    from driftspark.session import concurrently, local_frame
    from driftspark.verdicts import _verdict_schema, _VerdictSuite

    split = F.col(verdict_kwargs.pop("split_col", "split"))
    is_ref = split == verdict_kwargs.pop("ref_value", "ref")
    is_test = split == verdict_kwargs.pop("test_value", "test")
    suite = _VerdictSuite(
        df.where(is_ref), numeric_cols, cat_cols, part_col=part_col, **verdict_kwargs
    )
    # the input and the ledger are different sources: read both at once
    (all_parts, fingerprint), done = concurrently(
        df.sparkSession,
        lambda: _universe(df, is_ref, is_test, suite),
        lambda: checkpoint.completed_parts(run_id),
    )
    done = set(done)
    pending = [p for p in sorted(all_parts) if p not in done]
    if not pending:
        return local_frame(df.sparkSession, [], _verdict_schema(df, part_col))
    state = checkpoint.load_fit(run_id, fingerprint)
    if state is None:
        checkpoint.save_fit(run_id, fingerprint, suite.fit().fitted)
    else:
        suite.use_fit(*state)
    batches = []
    for i in range(0, len(pending), batch_parts):
        # score() returns a LocalRelation (session.local_frame): mark_done
        # and the caller's reads get its rows without a job and without
        # recomputation
        v = suite.score(
            df.where(is_test & F.col(part_col).isin(pending[i : i + batch_parts]))
        )
        checkpoint.mark_done(run_id, v, snapshot_id)
        batches.append(v)
    return reduce(DataFrame.unionByName, batches)
