"""SparkSession factory.

Scale posture (100 TB target, tested on local[32]):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting.
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalescing from the initial partition number.
- UTC session timezone so parquet timestamps are engine-portable.
- Arrow enabled for the few pandas-UDF paths (multimodal, pyproj-style
  transforms); everything hot stays in JVM whole-stage codegen.

JIT policy (``JIT_POLICY``): the driver JVM keeps tiered compilation
but needs ten times the JDK 17 default counts before a method goes to
C2 (tier 4). Session start-up and Catalyst planning run a method a few
thousand times and then stop; with the default thresholds C2 compiled
that code anyway, and its compiler threads spent 42-47 of the 92-102
CPU-s of one short accession (set-up and one ``perfbench``
``sip_lifecycle`` iteration, 4 vCPU) on code that never ran long
enough to pay it back. Such code
now stays in C1, while per-row loops at real input sizes still cross
the raised thresholds within milliseconds and get C2. C1 only
(``-XX:TieredStopAtLevel=1``) was measured and rejected: it halved the
cold cost but doubled the wall time of warm iterations at 10,000
documents; a hundred times the default counts kept methods in
profiled C1 code too long and slowed warm iterations too.

Two packages get ten times those raised counts again (and ten times
the C1 counts), by a ``CompileCommand`` each: Janino
(``org/codehaus``), which compiles Spark's whole-stage Java code, and
ANTLR (``org/antlr``), which runs Spark's SQL and DDL parser. The rule
for picking such a package: its code runs per query plan, never per
row, a few thousand calls per plan, which C2 compiled in a cold
iteration all the same (2.1 s of C2 compile
time for Janino and 0.5 s for ANTLR in one cold ``sip_lifecycle``
iteration, against 0.1 s each with the commands). Over ten alternating
``sip_lifecycle`` pairs (4 vCPU) they read a median ``run_cpu_s`` of
16.0 against 17.1 CPU-s, lower in 10 of 10 pairs. Wider sets measured
no better: ``java/io/Object*`` (task serialization, which runs per
task) raised the CPU, and ClosureCleaner's ASM (``org/apache/xbean``)
and Spark's parser classes changed nothing.
``CompileCommand=quiet`` comes first because HotSpot otherwise echoes
each command on the JVM's standard output, which is the Python
program's.

The policy rides on ``spark.driver.defaultJavaOptions``. Spark puts
that before ``spark.driver.extraJavaOptions`` on the JVM's command
line, so a caller's own ``-XX`` flags there still win, and
``get_spark`` sets no ``extraJavaOptions`` of its own. It reaches only
the driver JVM: in ``local[n]`` the driver is the executor too, while
on a cluster the executors keep the JDK default and the driver only
plans.

Python workers fork from ``razulibs_spark.pyworker``
(``spark.python.daemon.module``), which is pyspark's own daemon except
that an unchanged zip on the workers' path is not re-read every task;
see that module. ``spark.executorEnv.PYTHONPATH`` names the directory
that holds this package, so the daemon starts whatever the driver's
cwd and ``PYTHONPATH``.
"""

from __future__ import annotations

import os
from typing import Any, Callable, Iterable, Iterator, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


# Tier-4 (C2) thresholds at ten times the JDK 17 defaults, and ten times
# more again for the per-plan compilers (Janino, ANTLR); see above.
JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000 "
    "-XX:CompileCommand=quiet "
    "-XX:CompileCommand=CompileThresholdScaling,org/codehaus/*.*,10.0 "
    "-XX:CompileCommand=CompileThresholdScaling,org/antlr/*.*,10.0"
)


# The directory that holds this package: Python workers start in the
# driver's cwd, which need not be a checkout, and must still import the
# daemon module named in ``spark.python.daemon.module``.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        .config("spark.driver.defaultJavaOptions", JIT_POLICY)
        .config("spark.python.daemon.module", "razulibs_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
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


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[Sequence[Any]]],
    schema: StructType | str,
) -> DataFrame:
    """One ``mapInPandas`` pass that calls ``fn(*row)`` for each input
    row, with the row's values in ``df``'s column order, and returns
    the output tuples it yields, each in ``schema``'s field order.

    Output rows are framed every
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows (read when
    the pass is planned; zero or less means no limit, as in Spark) and
    once more at the end, so a task's memory stays bounded whether one
    input row gives one output row (a payload) or millions (a file)."""
    import pandas as pd

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    names = struct.names
    limit = int(df.sparkSession.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))

    def run(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out: list = []
        for pdf in frames:
            for row in pdf.itertuples(index=False, name=None):
                for r in fn(*row):
                    out.append(r)
                    if len(out) == limit:
                        yield pd.DataFrame(out, columns=names)
                        out = []
        if out:
            yield pd.DataFrame(out, columns=names)

    return df.mapInPandas(run, schema=struct)


def map_files(
    spark: SparkSession,
    path: str,
    fn: Callable[[str, bytes], Iterable[Sequence[Any]]],
    schema: StructType | str,
    glob: str | None = None,
) -> DataFrame:
    """One ``binaryFile`` listing of the files under ``path`` (recursive;
    only names matching ``glob`` when it is given) and one ``map_rows``
    pass that calls ``fn(path, data)`` once per file, ``data`` being the
    file's bytes.

    The empty-file rule is Spark's own: its file index lists no
    zero-byte file (``PartitioningAwareFileIndex.listFiles``), so the
    one an empty writer partition leaves never reaches ``fn``, and no
    Python runs for it. Every other file does, a blank one included;
    ``fn`` decides what its bytes mean. Hidden and ``_``-prefixed files
    are not listed either.

    Task packing is left to the source: ``binaryFile`` sizes splits at
    min(maxPartitionBytes, max(openCost, totalBytes/parallelism)), so a
    small-file fixture already fans out to about one task per core and a
    100 TB corpus gets byte-bounded splits. A round-robin widen of the
    (path, content) rows was measured and reverted: with no more files
    than cores it cannot raise parallelism, only shuffle the payload
    bytes."""
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    files = reader.load(path).select("path", "content")
    return map_rows(files, fn, schema)


def each_partition(df: DataFrame, fn: Callable[[Iterator[dict]], None]) -> int:
    """Run the side effect ``fn(rows)`` once per partition on the
    executors and return the number of rows it consumed.

    ``rows`` is an iterator of dicts keyed by column name. The frame is
    coalesced to one partition per core (never more partitions, never a
    shuffle) and run through ``mapInArrow``, the SQL Arrow runner that
    ``mapInPandas`` also uses, so the side effects share the session's
    one Python worker pool and pay its fixed per-task cost once per
    core. ``foreachPartition`` would start a second pool, keyed apart
    by its environment, and run one task per input partition. The count
    is summed from the same action's result; no accumulator is needed."""
    import pyarrow as pa

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        n = 0

        def rows() -> Iterator[dict]:
            nonlocal n
            for batch in batches:
                for row in batch.to_pylist():
                    n += 1
                    yield row

        fn(rows())
        yield pa.RecordBatch.from_pydict({"n": [n]})

    width = df.sparkSession.sparkContext.defaultParallelism
    # The optimizer folds coalesce(width) over a caller's own coalesce
    # into one coalesce(width), which would undo a narrower one (a
    # caller bounding its request parallelism); keep the narrower width.
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.nodeName() == "Repartition" and not plan.shuffle():
        width = min(width, plan.numPartitions())
    return sum(r["n"] for r in df.coalesce(width).mapInArrow(run, "n long").collect())
