"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]`` (single JVM); the configs below are
chosen so the same code is cluster-ready: AQE on (runtime skew-join +
partition coalescing), Arrow on (all Python UDFs are pandas/Arrow
vectorized), shuffle partitions sized to cores rather than the 200 default.
:func:`local_df` builds the small driver-side tables the engine joins in.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Engine-level settings every session of this engine runs with: get_spark
# and the spark-submit jobs in jobs/ all apply this one map. Master, memory
# and local dirs stay with whoever launches the session.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # image payloads ride in binary columns; bound Arrow batch size so a
    # batch of bytes rows fits executor memory at 100TB scale
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # The generated-class cache defaults to 100 entries — smaller than
    # the number of codegen units in ONE multi-strategy composite query
    # (AQE re-plans per stage, each stage compiles), so a single
    # execution can evict its own classes and re-pay multi-second
    # Janino compiles on every run. 2000 entries keeps every plan this
    # engine produces compiled-once per JVM; the cached classes are
    # small (metaspace, not heap).
    "spark.sql.codegen.cache.maxEntries": "2000",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # PySpark otherwise records the Python call site of every
    # pyspark.sql.functions call on the JVM, several py4j round trips per
    # call: most of the driver time spent building a plan. The cost: an
    # analysis error no longer names the Python line that built the column.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "web_crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: parallelism for local mode; defaults to $SPARK_GRAFT_CPUS or '*'.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
    else:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(map=ENGINE_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # 16g, not bigger: oversized heaps measurably GC-anti-scale at high
        # local thread counts (see BENCH.md); real clusters size per-core
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if os.path.isdir("/dev/shm"):
        # tmpfs shuffle: local-mode stand-in for cluster NVMe/shuffle service
        builder = builder.config("spark.local.dir", "/dev/shm/wcs-shuffle")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, rows: list, schema: T.StructType | str) -> DataFrame:
    """A DataFrame of rows built on the driver, planned as a ``LocalRelation``.

    ``createDataFrame`` over a Python list plans as a ``LogicalRDD`` over a
    parallelized RDD, so every execution of a plan that reads it starts
    Python-worker tasks to unpickle the rows. Passed through a pyarrow
    Table, the same rows reach the JVM once and plan as a
    ``LocalRelation``, which executes without any Python worker.

    ``rows`` are tuples in schema order (nested structs as tuples too) or
    dicts keyed by field name, a missing key reading NULL; ``schema`` is a
    StructType or a DDL string, kept exactly, nullability included.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = [
        pa.array(
            [r.get(f.name) if isinstance(r, dict) else r[i] for r in rows],
            type=arrow.field(i).type,
        )
        for i, f in enumerate(schema.fields)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema)
