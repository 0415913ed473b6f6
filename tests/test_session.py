"""The session's JIT defaults reach the driver JVM, and a caller's own
java options replace them."""

from __future__ import annotations

from linkgraph.session import DRIVER_JIT_OPTIONS, jvm_args, session_conf

TIER4_FLAGS = (
    "-XX:Tier4InvocationThreshold=25000",
    "-XX:Tier4MinInvocationThreshold=3000",
    "-XX:Tier4CompileThreshold=75000",
    "-XX:Tier4BackEdgeThreshold=200000",
)


def test_driver_jvm_runs_with_the_tier4_thresholds(spark):
    args = jvm_args(spark)  # RuntimeMXBean.getInputArguments()
    assert set(TIER4_FLAGS) <= set(args), args


def test_callers_default_java_options_win():
    key = "spark.driver.defaultJavaOptions"
    assert session_conf(4)[key] == DRIVER_JIT_OPTIONS
    conf = session_conf(4, {key: "-Xss4m", "spark.driver.extraJavaOptions": "-Da=1"})
    assert conf[key] == "-Xss4m"
    assert conf["spark.driver.extraJavaOptions"] == "-Da=1"
