"""SparkSession factory.

One global config for the whole engine (BASELINE.md measurement protocol:
"no per-query tuning"). Arrow on, AQE on, UTC session timezone so
timestamp results are comparable with the DuckDB oracle (DuckDB timestamps
are UTC-naive).

At 100 TB the same settings hold except ``shuffle.partitions`` — locally we
pin it near core count; on a real cluster AQE coalescing makes the initial
number a ceiling, so a cluster deploy would set it to ~2-3x total cores and
let ``spark.sql.adaptive.coalescePartitions.enabled`` shrink per-stage.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def session_config(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The engine's pinned Spark config as a dict (testable without
    building a session). Env-overridable knobs are documented in
    docs/DEPLOY.md §0."""
    cores = default_parallelism()
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # 32 MB scan splits locally: bench tables are one parquet file
        # each, and the default 128 MB would cap a 140 MB sf1 scan at 2
        # tasks on a 32-core box (measured 2x on scan-bound aggs). A
        # cluster at real scale has orders of magnitude more files than
        # cores, where 32m only inflates task counts — deployments set
        # SPARK_GRAFT_MAX_PARTITION_BYTES=128m (docs/DEPLOY.md) so the
        # local bench tuning cannot leak into production sessions.
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "SPARK_GRAFT_MAX_PARTITION_BYTES", "32m"
        ),
        # Testdata's events.ts is parquet TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so read as long and convert in catalog.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Spark's default INT96 timestamps carry NO footer statistics,
        # so a timestamp column can never prune (row groups, scan
        # manifests, lake_scan temporal boxes all blind). TIMESTAMP
        # (MICROS) is the modern parquet type every reader supports and
        # it gets min/max stats — at 100 TB this is the difference
        # between skipping and scanning on event-time predicates.
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Generated-class cache (static: read once per JVM). Spark's
        # default of 100 is smaller than one warm request cycle (six
        # registry queries and three RAG requests compile ~210
        # classes), so every cycle evicted and recompiled the previous
        # one. 4000 holds one full pass over the query registry, ~2,500
        # distinct classes (docs/DEPLOY.md §0).
        "spark.sql.codegen.cache.maxEntries": "4000",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }


def get_spark(app_name: str = "mlb_data_pipeline_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession with the pinned config."""
    cores = default_parallelism()
    builder = SparkSession.builder.master(
        os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    ).appName(app_name)
    for k, v in session_config(shuffle_partitions).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable[tuple], schema: StructType | str) -> DataFrame:
    """A driver-side literal frame (manifest rows, query terms, metadata
    records, empty results): ``rows`` are tuples in ``schema`` order,
    ``schema`` a ``StructType`` or a DDL string.

    The rows become one ``pyarrow.Table``, which Spark plans as a
    ``LocalRelation`` (an Arrow-batch scan past
    ``spark.sql.execution.arrow.localRelationThreshold``); no Python
    worker starts. ``createDataFrame`` on a Python list instead runs a
    parallelize job through a Python worker: collecting a 200-row
    manifest frame took 0.70 s of process-tree CPU that way against
    0.07 s here, and an empty one 0.50 s against 0.02 s (4-core VM).
    Every such frame in the package goes through here
    (tests/test_local_frame.py guards it).

    Checks match ``createDataFrame``'s ``verifySchema``: a row of the
    wrong length, a value of the wrong type (a float in an integral
    column included, which Arrow would truncate) or a NULL in a
    non-nullable field raises. A Python int in a DOUBLE field converts
    exactly (the list path rejects it). A naive ``datetime`` is read as
    UTC wall-clock time, the session zone pinned above."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    for r in rows:
        if len(r) != len(arrow):
            raise ValueError(f"local_frame: row {r!r} has {len(r)} fields, schema has {len(arrow)}")
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    arrays = []
    for vals, f in zip(cols, arrow):
        if pa.types.is_integer(f.type) and any(isinstance(v, float) for v in vals):
            raise TypeError(f"local_frame: field {f.name} ({f.type}) got a float")
        a = pa.array(vals, type=f.type)
        if a.null_count and not f.nullable:
            raise ValueError(f"local_frame: field {f.name} is not nullable but got None")
        arrays.append(a)
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)
