"""Session construction: options the driver JVM starts with."""

from ollie_spark.spark.session import DRIVER_JIT_OPTIONS


def test_driver_jvm_runs_with_jit_options(spark):
    """build_session starts the driver JVM with DRIVER_JIT_OPTIONS."""
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments())
    for flag in DRIVER_JIT_OPTIONS.split():
        assert flag in args, flag
