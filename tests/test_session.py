"""The session factory's JIT policy reaches the driver JVM, on
``spark.driver.defaultJavaOptions`` and nowhere else, and parses
without a word on standard output; ``each_partition``
runs a side effect over every row once, in at most one task per core;
``map_rows`` calls its row function once per input row and frames the
output ``maxRecordsPerBatch`` rows at a time."""

from __future__ import annotations

import os
import subprocess
from types import SimpleNamespace

import pandas as pd

from razulibs_spark.session import JIT_POLICY, each_partition, map_rows


def test_driver_jvm_runs_the_jit_policy(spark):
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
                .getInputArguments())
    flags = JIT_POLICY.split()
    assert flags and all(f.startswith("-XX:") for f in flags)
    assert all(f in args for f in flags), (flags, args)


def test_policy_parses_silently(spark):
    """HotSpot drops a malformed ``CompileCommand`` with exit code 0 and
    says so only on standard output, where it also echoes every command
    unless ``quiet`` comes first; that stream is the Python program's.
    The session's own ``java`` must print nothing there."""
    java_home = spark.sparkContext._jvm.System.getProperty("java.home")
    out = subprocess.run(
        [os.path.join(java_home, "bin", "java"), *JIT_POLICY.split(), "-version"],
        capture_output=True, text=True, check=True, timeout=60)
    assert out.stdout == "", out.stdout


def test_policy_rides_on_default_java_options(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.defaultJavaOptions") == JIT_POLICY
    # extraJavaOptions holds only the caller's flags (and Spark's own
    # module options); on the JVM command line they follow, and so
    # override, the policy's
    extra = (conf.get("spark.driver.extraJavaOptions") or "").split()
    assert not any(f in extra for f in JIT_POLICY.split()), extra


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
