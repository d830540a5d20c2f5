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

Class-data sharing (``class_data_archive``): the driver JVM maps the
~11,000 Spark, Scala and Hadoop classes that set-up loads from a
dynamic CDS archive (JEP 350) instead of parsing and verifying them
again. The archive is the library's own, like ``JIT_POLICY``, and no
option turns it on or off. It lives in ``razulibs-spark`` under
``$XDG_CACHE_HOME`` or ``~/.cache``, never in a checkout or under
``TMPDIR`` (a benchmark points that at a directory it deletes). Its
name is keyed by the JDK build (``release``, ``lib/modules``,
``libjvm.so``) and by the jars on the driver class path (names, sizes,
mtimes). The first session of a key dumps it as its JVM exits
(``-XX:ArchiveClassesAtExit``); later sessions map it
(``-XX:SharedArchiveFile``). When that directory cannot be written,
sessions run without an archive.

- Class-path order. JDK 17 will not dump while a non-empty directory
  sits on the class path before the last entry it archives classes
  from, and Spark's launcher puts ``$SPARK_CONF_DIR`` first.
  ``spark.driver.extraClassPath`` goes before it, so it names the
  Spark jars, then any class path the host's ``spark-defaults.conf``
  sets; the conf directory stays where it was. A driver class path in
  ``PYSPARK_SUBMIT_ARGS`` would override this one, so such a session
  runs without an archive.
- Install by rename. A truncated archive at the final name kills every
  JVM that maps it (SIGBUS in
  ``FileMapInfo::relocate_pointers_in_core_regions``). So a JVM dumps
  to a temp name of its own, the program's exit waits for that JVM, and
  only a clean exit (code 0) moves the file into place with
  ``os.replace``, which also removes the archives of this JDK and
  Spark install's other keys. The next session deletes a temp file
  whose process is gone.
- Silence. HotSpot reports an archive it cannot use (stale, or dumped
  for another class path) on the JVM's standard output, which is the
  Python program's, and runs without it; ``CDS_QUIET`` turns that
  report off.
- Cost and gain (``perfbench``, 4 vCPU, ten alternating pairs on
  fresh seeds): ``setup_s`` fell from 13.70 to 8.53 CPU-s on
  ``sip_lifecycle`` and from 12.59 to 7.67 on ``corpus_curation``,
  lower in 10/10 pairs each, and set-up wall time from 7.4-9.7 s to
  3.8-5.4 s. The archive serves 10,839 classes to a set-up, none
  before. The first session of a key pays the dump as its JVM exits:
  7.5 s of wall time and 7.9 CPU-s after a set-up alone, for a 142 MB
  archive (164 MB after one ``sip_lifecycle`` iteration).

Python workers fork from ``razulibs_spark.pyworker``
(``spark.python.daemon.module``), which is pyspark's own daemon except
that an unchanged zip on the workers' path is not re-read every task;
see that module. ``spark.executorEnv.PYTHONPATH`` names the directory
that holds this package, so the daemon starts whatever the driver's
cwd and ``PYTHONPATH``.
"""

from __future__ import annotations

import atexit
import hashlib
import itertools
import os
import re
import shutil
import subprocess
import tempfile
from typing import Any, Callable, Iterable, Iterator, Mapping, Sequence

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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


# HotSpot reports an archive it cannot use on the JVM's standard output,
# which is the Python program's; a missing archive it passes over silently.
CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"

# How long the program's exit waits for a dumping driver JVM (about 8 s
# of wall time on 4 vCPU) before it kills it and installs nothing.
_DUMP_WAIT_S = 120

_dump_seq = itertools.count()


def scratch_path(name: str) -> str:
    """``name`` under this process's own directory in the system temp
    dir, where queries stage the files they write and read back and
    ``get_spark`` puts the SQL warehouse. One directory per process, so
    two runs or two checkouts on one host never share or clobber each
    other's files; it is removed when the process exits."""
    root = os.path.join(tempfile.gettempdir(), f"razulibs-spark-{os.getpid()}")
    if not os.path.isdir(root):
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return os.path.join(root, name)


def archive_dir() -> str | None:
    """The directory of the driver's class-data archives, made if need
    be: ``razulibs-spark`` under ``$XDG_CACHE_HOME`` or ``~/.cache``.
    None when it cannot be written."""
    root = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(root):
        root = os.path.join(os.path.expanduser("~"), ".cache")
    path = os.path.join(root, "razulibs-spark")
    try:
        os.makedirs(path, exist_ok=True)
    except OSError:
        return None
    return path if os.access(path, os.W_OK | os.X_OK) else None


def _java_home() -> str | None:
    """The JDK that Spark's launcher runs: ``$JAVA_HOME``, else the
    ``java`` on the path."""
    home = os.environ.get("JAVA_HOME")
    if not home:
        java = shutil.which("java")
        if java is None:
            return None
        home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    return home


def _host_class_path(spark_home: str) -> str | None:
    """The driver class path the host's ``spark-defaults.conf`` sets
    ("" for none), or None when ``PYSPARK_SUBMIT_ARGS`` names a driver
    class path or a properties file: its ``--conf`` follows, and so
    overrides, the session's."""
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if any(k in submit for k in ("--driver-class-path", "spark.driver.extraClassPath",
                                 "--properties-file")):
        return None
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as fh:
            lines = fh.read().splitlines()
    except OSError:
        return ""
    for line in reversed(lines):
        m = re.match(r"\s*spark\.driver\.extraClassPath(?:\s*[=:]\s*|\s+)(.*)", line)
        if m:
            return m.group(1).strip()
    return ""


def _class_path_files(class_path: str) -> list[str]:
    """The entries of a Java class path, a ``dir/*`` wildcard expanded
    to the jars in ``dir`` as the JVM expands it."""
    files = []
    for entry in filter(None, class_path.split(os.pathsep)):
        if os.path.basename(entry) == "*":
            d = os.path.dirname(entry)
            try:
                files += sorted(os.path.join(d, f) for f in os.listdir(d)
                                if f.lower().endswith(".jar"))
            except OSError:
                continue
        else:
            files.append(entry)
    return files


def class_data_archive() -> tuple[str, str] | None:
    """This host's driver class-data archive: its path (which need not
    exist yet) and the ``spark.driver.extraClassPath`` it is dumped and
    used with. None when the host allows no archive."""
    java_home, spark_home = _java_home(), _find_spark_home()
    host_class_path = _host_class_path(spark_home)
    cache = archive_dir()
    if java_home is None or host_class_path is None or cache is None:
        return None
    jdk = [os.path.join(java_home, f) for f in ("release", "lib/modules", "lib/server/libjvm.so")]
    if not all(os.path.isfile(f) for f in jdk):
        return None
    class_path = os.path.join(spark_home, "jars", "*")
    if host_class_path:
        class_path += os.pathsep + host_class_path
    key = hashlib.sha256()
    for f in jdk + _class_path_files(class_path):
        try:
            st = os.stat(f)
        except OSError:
            continue
        key.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    install = hashlib.sha256(f"{java_home}\0{spark_home}".encode()).hexdigest()[:12]
    path = os.path.join(cache, f"driver-{install}-{key.hexdigest()[:16]}.jsa")
    if re.search(r"[\s\"'\\]", path):
        return None  # the launcher splits the Java options at white space
    return path, class_path


def _remove_dead_dumps(cache: str) -> None:
    """Delete the temp archives of processes that no longer run: a dump
    that was killed, or whose program never saw its JVM exit."""
    for name in os.listdir(cache):
        parts = name.split(".")
        if not (name.startswith("driver-") and name.endswith(".tmp") and len(parts) > 3):
            continue
        try:
            os.kill(int(parts[-3]), 0)
        except (ProcessLookupError, ValueError):
            try:
                os.unlink(os.path.join(cache, name))
            except OSError:
                pass
        except OSError:
            pass  # alive, another user's


def _install_archive(proc: subprocess.Popen, tmp: str, final: str) -> None:
    """At the program's exit: end the driver JVM if it still runs, wait
    while it writes its archive, and move the archive to its final name
    only after a clean exit, dropping the other archives of this JDK and
    Spark install. A JVM killed mid-dump leaves a truncated file, which
    would crash every later JVM that mapped it."""
    if proc.poll() is None:
        sc = SparkContext._active_spark_context
        try:
            if sc is not None and sc._gateway.proc is proc:
                sc.stop()  # its accumulator server would report the JVM's exit
        finally:
            proc.stdin.close()  # the gateway server exits on EOF of its stdin
        try:
            proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    try:
        if proc.returncode == 0 and os.path.getsize(tmp) > 0:
            os.replace(tmp, final)
            cache, name = os.path.split(final)
            install = name.rsplit("-", 1)[0] + "-"
            for other in os.listdir(cache):
                if other.startswith(install) and other.endswith(".jsa") and other != name:
                    os.unlink(os.path.join(cache, other))
    except OSError:
        pass
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def get_spark(app_name: str = "razulibs-spark", cpus: int | None = None) -> SparkSession:
    n = cpus if cpus is not None else default_parallelism()
    java_options = JIT_POLICY
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.warehouse.dir", scratch_path("warehouse"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "razulibs_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Only a JVM this call launches takes the archive's options.
    archive = dump = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        archive = class_data_archive()
    if archive is not None:
        path, class_path = archive
        _remove_dead_dumps(os.path.dirname(path))
        if os.path.isfile(path):
            java_options += f" -XX:SharedArchiveFile={path} {CDS_QUIET}"
        else:
            dump = f"{path}.{os.getpid()}.{next(_dump_seq)}.tmp"
            java_options += f" -XX:ArchiveClassesAtExit={dump} {CDS_QUIET}"
        builder = builder.config("spark.driver.extraClassPath", class_path)
    spark = builder.config("spark.driver.defaultJavaOptions", java_options).getOrCreate()
    if dump is not None:
        atexit.register(_install_archive, spark.sparkContext._gateway.proc, dump, path)
    return spark


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
