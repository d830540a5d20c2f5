"""The session factory's JIT policy reaches the driver JVM, on
``spark.driver.defaultJavaOptions`` and nowhere else; ``each_partition``
runs a side effect over every row once, in at most one task per core."""

from __future__ import annotations

import os

from razulibs_spark.session import JIT_POLICY, each_partition


def test_driver_jvm_runs_the_jit_policy(spark):
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
                .getInputArguments())
    flags = JIT_POLICY.split()
    assert flags and all(f.startswith("-XX:") for f in flags)
    assert all(f in args for f in flags), (flags, args)


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
