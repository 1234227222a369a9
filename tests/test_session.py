"""JVM options ``get_spark`` sets on a local master."""

from __future__ import annotations


def test_driver_jvm_keeps_a_fixed_set_of_jit_threads(spark):
    """Dynamic compiler threads are off in the running JVM, so no JIT
    thread is retired part-way through a run."""
    jvm = spark.sparkContext._jvm
    args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean() \
        .getInputArguments()
    assert "-XX:-UseDynamicNumberOfCompilerThreads" in list(args)
