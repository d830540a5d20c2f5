"""SparkSession factory.

Scale posture (100 TB target, tested on local[32]):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting.
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalescing from the initial partition number.
- UTC session timezone so parquet timestamps are engine-portable.
- Arrow enabled for the few pandas-UDF paths (multimodal, pyproj-style
  transforms); everything hot stays in JVM whole-stage codegen.
"""

from __future__ import annotations

import os
from typing import Any, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def default_parallelism() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


def get_spark(app_name: str = "razulibs-spark", cpus: int | None = None) -> SparkSession:
    n = cpus if cpus is not None else default_parallelism()
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .getOrCreate()
    )


def local_frame(
    spark: SparkSession,
    rows: Sequence[Mapping[str, Any] | Sequence[Any]],
    schema: StructType | str,
) -> DataFrame:
    """A DataFrame over a driver-side row list, built through Arrow.

    ``createDataFrame(<python list>)`` plans the rows as a pickled RDD
    that Python-worker tasks re-serialize on every evaluation, however
    few the rows. The same rows as one ``pyarrow.Table`` are converted
    once on the driver and read by the JVM directly. Rows are dicts
    keyed by field name or sequences in field order; ``schema`` is a
    StructType or a DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    records = [r if isinstance(r, Mapping) else dict(zip(struct.names, r)) for r in rows]
    table = pa.Table.from_pylist(records, schema=to_arrow_schema(struct))
    return spark.createDataFrame(table, schema=struct)
