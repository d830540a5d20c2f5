"""The session factory's JIT policy and class-data archive reach the
driver JVM, on ``spark.driver.defaultJavaOptions`` and nowhere else,
and say nothing on standard output; the archive is dumped once, installed
whole and only after a clean exit, and then serves the driver's classes;
the SQL warehouse stays out of the working directory; ``each_partition``
runs a side effect over every row once, in at most one task per core;
``map_rows`` calls its row function once per input row and frames the
output ``maxRecordsPerBatch`` rows at a time."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
from types import SimpleNamespace

import pandas as pd
import pytest
from pyspark.find_spark_home import _find_spark_home

from razulibs_spark.session import (
    CDS_QUIET,
    JIT_POLICY,
    _install_archive,
    _java_home,
    archive_dir,
    class_data_archive,
    each_partition,
    map_rows,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_jvm_runs_the_jit_policy(spark):
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
                .getInputArguments())
    flags = JIT_POLICY.split()
    assert flags and all(f.startswith("-XX:") for f in flags)
    assert all(f in args for f in flags), (flags, args)


def test_policy_parses_silently(spark, tmp_path):
    """HotSpot drops a malformed ``CompileCommand`` with exit code 0 and
    says so only on standard output, where it also echoes every command
    unless ``quiet`` comes first; that stream is the Python program's.
    The session's own ``java`` must print nothing there with the whole
    option string ``get_spark`` set, the class-data flags included (a
    dump goes to a file of this test's own, not the session's)."""
    java_home = spark.sparkContext._jvm.System.getProperty("java.home")
    conf = spark.sparkContext.getConf()
    options = [re.sub(r"^-XX:ArchiveClassesAtExit=.*",
                      f"-XX:ArchiveClassesAtExit={tmp_path / 'dump.jsa'}", f)
               for f in conf.get("spark.driver.defaultJavaOptions").split()]
    class_path = conf.get("spark.driver.extraClassPath", "")
    out = subprocess.run(
        [os.path.join(java_home, "bin", "java"), *options, "-cp", class_path, "-version"],
        capture_output=True, text=True, check=True, timeout=60)
    assert out.stdout == "", out.stdout


def test_policy_rides_on_default_java_options(spark):
    conf = spark.sparkContext.getConf()
    options = conf.get("spark.driver.defaultJavaOptions")
    cache = archive_dir()
    if cache is None:
        assert options == JIT_POLICY
    else:
        # the JIT policy, then the archive to use or the temp file to dump
        # to, under the cache directory and never in the checkout or TMPDIR
        m = re.fullmatch(re.escape(JIT_POLICY) + r" -XX:(SharedArchiveFile|ArchiveClassesAtExit)"
                         r"=(\S+) " + re.escape(CDS_QUIET), options)
        assert m, options
        assert os.path.dirname(m.group(2)) == cache
        assert not m.group(2).startswith((REPO + os.sep, tempfile.gettempdir() + os.sep))
        assert conf.get("spark.driver.extraClassPath").startswith(
            os.path.join(_find_spark_home(), "jars", "*"))
    # extraJavaOptions holds only the caller's flags (and Spark's own
    # module options); on the JVM command line they follow, and so
    # override, the policy's
    extra = (conf.get("spark.driver.extraJavaOptions") or "").split()
    assert not any(f in extra for f in options.split()), extra


def test_each_partition_runs_every_row_once_per_core(spark, tmp_path):
    df = spark.range(0, 40, numPartitions=16).selectExpr("id", "id * 2 AS twice")
    assert df.rdd.getNumPartitions() == 16
    out = str(tmp_path)

    def mark(rows):
        # one marker file per call, holding the rows the call saw
        seen = [f"{r['id']} {r['twice']}" for r in rows]
        with open(os.path.join(out, f"call-{os.getpid()}-{id(seen)}.txt"), "w") as fh:
            fh.write("\n".join(seen))

    assert each_partition(df, mark) == 40
    calls = os.listdir(out)
    assert 1 <= len(calls) <= spark.sparkContext.defaultParallelism, calls
    seen = []
    for name in calls:
        with open(os.path.join(out, name)) as fh:
            seen += [tuple(map(int, line.split())) for line in fh.read().split("\n") if line]
    assert sorted(seen) == [(i, 2 * i) for i in range(40)]


def test_each_partition_counts_nothing_on_an_empty_frame(spark):
    assert each_partition(spark.range(0), lambda rows: list(rows)) == 0


def test_each_partition_keeps_a_narrower_coalesce(spark, tmp_path):
    """A caller's coalesce(1) bounds the side effect to one call; the
    helper's own coalesce must not widen it again."""
    out = str(tmp_path)

    def mark(rows):
        with open(os.path.join(out, f"call-{os.getpid()}-{id(rows)}"), "w") as fh:
            fh.write(str(sum(1 for _ in rows)))

    df = spark.range(0, 10, numPartitions=5).coalesce(1)
    assert each_partition(df.select("id"), mark) == 10
    assert len(os.listdir(out)) == 1


def test_map_rows_calls_fn_per_row_in_column_order(spark):
    df = spark.range(0, 5, numPartitions=2).selectExpr(
        "id", "CAST(id AS STRING) AS name", "CAST(NULL AS BINARY) AS blob")
    out = map_rows(
        df,
        lambda i, name, blob: [(i, f"{name}-{k}", blob, type(i) is int) for k in range(i)],
        "id long, label string, blob binary, plain_int boolean",
    )
    got = sorted(map(tuple, out.collect()))
    assert got == [(i, f"{i}-{k}", None, True) for i in range(5) for k in range(i)]


class _Frame:
    """Stands in for a DataFrame: records the batch function map_rows
    hands to ``mapInPandas`` so its framing can be run directly."""

    def __init__(self, limit):
        self.sparkSession = SimpleNamespace(conf=SimpleNamespace(get=lambda key, default: str(limit)))

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self


def _frames(limit, batches):
    frame = map_rows(_Frame(limit), lambda a: [(a, k) for k in range(a)], "a long, k long")
    return list(frame.fn(iter(batches)))


def test_map_rows_frames_every_max_records_per_batch():
    batches = [pd.DataFrame({"a": [1, 2]}), pd.DataFrame({"a": [3]}), pd.DataFrame({"a": [0]})]
    frames = _frames(4, batches)
    assert [len(f) for f in frames] == [4, 2]
    assert all(list(f.columns) == ["a", "k"] for f in frames)
    rows = [tuple(r) for f in frames for r in f.itertuples(index=False)]
    assert rows == [(1, 0), (2, 0), (2, 1), (3, 0), (3, 1), (3, 2)]
    # zero or less: no limit, one frame at the end; no rows: no frame
    assert [len(f) for f in _frames(0, batches)] == [6]
    assert _frames(4, [pd.DataFrame({"a": [0, 0]})]) == []


# A driver program: one catalog table in the default database, then the
# facts the tests check, as one JSON line on standard output.
_PROGRAM = f"""
import json, sys
sys.path.insert(0, {REPO!r})
from razulibs_spark.session import get_spark
from razulibs_spark.sources.bucketed import save_bucketed
spark = get_spark("cds-probe", cpus=1)
save_bucketed(spark.range(20), "probe", "id", buckets=2)
print(json.dumps({{
    "jvm": spark.sparkContext._gateway.proc.pid,
    "rows": spark.table("probe").count(),
    "options": spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions"),
    "warehouse": spark.conf.get("spark.sql.warehouse.dir"),
}}))
if "--stop" in sys.argv:
    spark.stop()
"""


def _start(cwd, cache, *args, submit_args=None):
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM="1g")
    if submit_args:
        env["PYSPARK_SUBMIT_ARGS"] = submit_args + " pyspark-shell"
    return subprocess.Popen([sys.executable, "-c", _PROGRAM, *args], cwd=cwd, env=env,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def _finish(proc):
    out, err = proc.communicate(timeout=600)
    assert proc.returncode == 0, err[-3000:]
    lines = out.splitlines()
    assert len(lines) == 1, out  # the JVM added nothing to the program's output
    assert "Traceback" not in err, err[-3000:]
    return json.loads(lines[0])


def _archive_for(cache):
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("XDG_CACHE_HOME", str(cache))
        found = class_data_archive("1g")
    if found is None:
        pytest.skip("this host allows no class-data archive")
    return found[0]


@pytest.fixture(scope="module")
def first_runs(tmp_path_factory):
    """Two programs start together on a host with no archive yet; one
    stops its session, the other leaves that to the exit. A temp file of
    a dump whose process is gone sits in the cache beforehand. A third
    program then starts with the archive and logs its class loading."""
    root = tmp_path_factory.mktemp("cds")
    cache, cwd = root / "cache", root / "cwd"
    cwd.mkdir()
    archive = _archive_for(cache)
    gone = subprocess.Popen(["true"])
    gone.wait()
    stale_tmp = f"{archive}.{gone.pid}.0.tmp"
    with open(stale_tmp, "wb") as fh:
        fh.write(b"\0" * 4096)  # a truncated archive would crash a JVM that mapped it
    dumps = [_finish(p) for p in [_start(cwd, cache), _start(cwd, cache, "--stop")]]
    listing = sorted(os.listdir(os.path.dirname(archive)))
    log = root / "classes.log"
    use = _finish(_start(cwd, cache, submit_args=(
        f"--conf spark.driver.extraJavaOptions=-Xlog:class+load:file={log}")))
    yield SimpleNamespace(archive=archive, stale_tmp=stale_tmp, cwd=cwd, dumps=dumps,
                          listing=listing, use=use, log=log)
    shutil.rmtree(cache)  # ~150 MB


def test_first_runs_install_one_complete_archive(first_runs):
    for run in first_runs.dumps:
        assert f"-XX:ArchiveClassesAtExit={first_runs.archive}." in run["options"]
        assert run["rows"] == 20
    # one archive at its final name, no temp file of either dump, and the
    # dead process's temp file removed, never used
    assert first_runs.listing == [os.path.basename(first_runs.archive)]
    assert f"-XX:SharedArchiveFile={first_runs.archive} " in first_runs.use["options"]
    assert first_runs.stale_tmp not in first_runs.use["options"]


def test_dumping_session_leaves_no_jvm_running(first_runs):
    for run in first_runs.dumps:
        with pytest.raises(ProcessLookupError):
            os.kill(run["jvm"], 0)


def test_archive_serves_the_driver_classes(first_runs):
    with open(first_runs.log) as fh:
        sources = [line.rsplit("source: ", 1)[-1].strip() for line in fh if "source: " in line]
    top = sources.count("shared objects file (top)")
    assert top > 5000, (top, len(sources))


def test_catalog_use_leaves_no_warehouse_in_cwd(first_runs):
    assert os.listdir(first_runs.cwd) == []
    for run in first_runs.dumps + [first_runs.use]:
        warehouse = run["warehouse"].removeprefix("file:")
        assert os.path.basename(os.path.dirname(warehouse)).startswith("razulibs-spark-")
        assert not warehouse.startswith(str(first_runs.cwd))


def test_stale_archive_is_ignored_silently(spark, first_runs, tmp_path):
    """An archive that does not fit the class path (here: dumped from a
    copy of one Spark jar) makes HotSpot warn on standard output and run
    without it; the session's JVM must stay silent and run."""
    java = os.path.join(spark.sparkContext._jvm.System.getProperty("java.home"), "bin", "java")
    jars = os.path.join(_find_spark_home(), "jars")
    launcher = shutil.copy(glob.glob(os.path.join(jars, "spark-launcher*.jar"))[0], tmp_path)
    cache = tmp_path / "cache"
    archive = _archive_for(cache)
    subprocess.run([java, f"-XX:ArchiveClassesAtExit={archive}", "-cp", launcher,
                    "org.apache.spark.launcher.Main"], capture_output=True, timeout=60)
    loud = subprocess.run([java, f"-XX:SharedArchiveFile={archive}", "-cp",
                           os.path.join(jars, "*"), "-version"],
                          capture_output=True, text=True, timeout=60)
    assert "Unable to use shared archive" in loud.stdout, loud.stdout
    run = _finish(_start(first_runs.cwd, cache))
    assert f"-XX:SharedArchiveFile={archive} " in run["options"] and run["rows"] == 20


def test_archive_installs_only_after_a_clean_exit(tmp_path):
    """The dump is renamed into place only when its JVM exited with 0,
    after the install waits for it; the install drops this install's
    other keys and keeps other installs' archives."""
    final = tmp_path / "driver-aaaa-0002.jsa"
    old, other = tmp_path / "driver-aaaa-0001.jsa", tmp_path / "driver-bbbb-0001.jsa"
    old.write_bytes(b"old")
    other.write_bytes(b"other")
    for argv, installed in ((["false"], False), (["cat"], True)):
        tmp = tmp_path / f"{final.name}.1.0.tmp"
        tmp.write_bytes(b"archive")
        proc = subprocess.Popen(argv, stdin=subprocess.PIPE, stdout=subprocess.DEVNULL)
        if not installed:
            proc.wait()
        _install_archive(proc, str(tmp), str(final))  # closes cat's stdin, waits
        assert proc.returncode == (0 if installed else 1)
        assert not tmp.exists()
        assert final.exists() == installed and old.exists() != installed
        assert other.read_bytes() == b"other"
    assert final.read_bytes() == b"archive"


def test_archive_name_keys_the_compressed_oops_mode(monkeypatch, tmp_path):
    """A heap of 32 GiB or more runs without compressed oops, and an
    archive serves only its own mode: such heaps get their own
    ``<install>`` part, so neither mode's install deletes the other's
    archive. Below 32 GiB the name is the one every earlier version
    gave (install = hash of the JDK and Spark homes)."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    paths = {heap: (class_data_archive(heap) or pytest.skip("no archive on this host"))[0]
             for heap in ("1g", "16g", "31g", "32g", "40g", "32768")}
    small = paths["1g"]
    assert paths["16g"] == paths["31g"] == small
    assert paths["40g"] == paths["32768"] == paths["32g"] != small

    def parts(path):  # driver, <install>, <key>.jsa
        return os.path.basename(path).split("-")

    assert parts(paths["32g"])[::2] == parts(small)[::2]
    install = f"{_java_home()}\0{_find_spark_home()}"
    assert parts(small)[1] == hashlib.sha256(install.encode()).hexdigest()[:12]
    assert class_data_archive("1.5g") is None  # Spark takes no fractional size


def test_unwritable_cache_means_no_archive(monkeypatch, tmp_path):
    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file" / "cache"))
    assert archive_dir() is None and class_data_archive("1g") is None
