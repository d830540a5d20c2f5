"""The session factory's JIT policy reaches the driver JVM, on
``spark.driver.defaultJavaOptions`` and nowhere else."""

from __future__ import annotations

from razulibs_spark.session import JIT_POLICY


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
