"""Session factory defaults: memory sizing (no JVM) and the JIT policy
read back from the running driver JVM."""

from __future__ import annotations

from fences_spark.session import JIT_POLICY, default_driver_memory


def test_driver_memory_is_a_third_of_the_box_capped_at_16g(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemFree: 1024 kB\nMemTotal:       16456384 kB\n")
    assert default_driver_memory(str(meminfo)) == "5356m"
    meminfo.write_text("MemTotal:      134217728 kB\n")
    assert default_driver_memory(str(meminfo)) == "16384m"


def test_driver_memory_falls_back_to_16g_when_unreadable(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "16384m"
    (tmp_path / "garbled").write_text("MemTotal: lots\n")
    assert default_driver_memory(str(tmp_path / "garbled")) == "16384m"


def test_jit_policy_reaches_the_driver_jvm(spark):
    """Spark starts the driver with ``-XX:+IgnoreUnrecognizedVMOptions``,
    so a misspelt flag would be dropped silently: read each one back."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    for flag in JIT_POLICY.split():
        name, value = flag.removeprefix("-XX:").split("=")
        opt = bean.getVMOption(name)
        assert (opt.getValue(), opt.getOrigin().toString()) == (value, "VM_CREATION"), name
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.defaultJavaOptions") == JIT_POLICY
    # Spark itself fills extraJavaOptions with its module flags; the
    # caller's slot holds nothing of the policy.
    assert "Tier4" not in (conf.get("spark.driver.extraJavaOptions") or "")
