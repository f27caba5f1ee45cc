"""The session's JVM policy: the driver JVM that ``get_spark`` launches
runs with C2 deferred: tier-4 thresholds raised 10x over the JDK 17
defaults, set through ``spark.driver.extraJavaOptions``."""

from frontier_engine.session import DRIVER_JAVA_OPTIONS


def _vm_option(spark, name: str) -> str:
    jvm = spark.sparkContext._jvm
    bean_cls = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_cls)
    return bean.getVMOption(name).getValue()


def test_driver_jvm_defers_c2(spark):
    # read from the running JVM, not from the conf: the JDK default is 5000
    assert _vm_option(spark, "Tier4InvocationThreshold") == "50000"
    assert _vm_option(spark, "Tier4MinInvocationThreshold") == "6000"
    assert _vm_option(spark, "Tier4CompileThreshold") == "150000"
    assert _vm_option(spark, "Tier4BackEdgeThreshold") == "400000"
    # Spark prepends its own defaults (spark.driver.defaultJavaOptions)
    assert spark.sparkContext.getConf().get("spark.driver.extraJavaOptions").endswith(DRIVER_JAVA_OPTIONS)
