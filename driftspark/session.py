"""SparkSession construction with scale-oriented defaults."""

from __future__ import annotations

import os
from datetime import timezone
from typing import Callable, List, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType


def get_spark(
    app_name: str = "driftspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults chosen for the validation workload:
    - AQE on (runtime coalescing + skew-join splitting for the constraint
      joins, SURVEY.md §2.3 J4/J5);
    - Arrow on for every pandas-UDF boundary (no per-row Python anywhere);
    - shuffle partitions sized to the local core count in the sandbox; on a
      real cluster pass ``shuffle_partitions`` ~ 2-3x total executor cores.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = 32 if inner == "*" else max(8, int(inner))
        else:
            shuffle_partitions = 200
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Sequence, schema: Union[str, StructType]
) -> DataFrame:
    """A driver-built result frame as a ``LocalRelation``.

    ``rows`` are tuples or ``Row``s in ``schema`` order; ``schema`` is a
    DDL string or a StructType.  The rows go to the JVM as one
    ``pyarrow.Table``, so every later read is a ``LocalTableScan`` served
    on the driver — ``createDataFrame(list)`` would instead build a
    pickled Python RDD and pay a Spark job on every read.  Naive
    TimestampType values mean local time, as they do for
    ``createDataFrame(list)``."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)


def arrow_table(rows: Sequence, schema: Union[str, StructType]):
    """``rows`` (tuples or ``Row``s in ``schema`` order) as the
    ``pyarrow.Table`` of ``schema`` (DDL or StructType), the table
    :func:`local_frame` hands to Spark.  Naive TimestampType values mean
    local time."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = []
    for values, field, arrow_field in zip(columns, schema.fields, arrow_schema):
        if isinstance(field.dataType, TimestampType):
            values = [v if v is None else v.astimezone(timezone.utc) for v in values]
        arrays.append(pa.array(values, type=arrow_field.type))
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def concurrently(
    spark: SparkSession, *fns: Callable, max_workers: Optional[int] = None
) -> List:
    """Results of independent job-submitting callables, in order, run
    concurrently (at most ``max_workers`` at once) so their scheduling
    latency and shuffle waits overlap; a single callable runs inline.
    Each runs with the caller's job group and local properties, cloned
    per callable (pyspark.util.inheritable_thread_target): a plain thread
    starts with none, so its jobs would lose the caller's tag.  This is
    driftspark's one thread pool."""
    if len(fns) <= 1:
        return [fn() for fn in fns]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=min(len(fns), max_workers or len(fns))) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn)) for fn in fns]
        return [f.result() for f in futures]
