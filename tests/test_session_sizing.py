"""Session defaults sized from the machine: driver heap from MemAvailable,
shuffle on /dev/shm only when it has room, a clear error instead of an
OOM kill. The driver JIT policy rides spark.driver.defaultJavaOptions."""

import pytest

from spinterps_spark import session as S

GIB = S.GIB


def test_parse_mem():
    assert S.parse_mem("24g") == 24 * GIB
    assert S.parse_mem("512m") == 512 << 20
    assert S.parse_mem("2048") == 2048 << 20
    assert S.parse_mem("1.5G") == int(1.5 * GIB)


def test_driver_memory_derived_from_available(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert S.driver_memory(15 * GIB) == "7g"
    assert S.driver_memory(3 * GIB) == "1g"
    assert S.driver_memory(200 * GIB) == "24g"
    assert S.driver_memory(None) == "4g"
    with pytest.raises(RuntimeError, match="available"):
        S.driver_memory(GIB)


def test_driver_memory_env_wins_but_must_fit(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert S.driver_memory(15 * GIB) == "5g"
    assert S.driver_memory(None) == "5g"
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_DRIVER_MEM"):
        S.driver_memory(4 * GIB)


def test_shuffle_dir(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/somewhere")
    assert S.shuffle_dir(GIB, GIB) == "/somewhere"
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR")
    # no room in memory beyond the heap: Spark's default dir
    assert S.shuffle_dir(6 * GIB, 3 * GIB) is None

    class Stat:
        f_frsize = 4096
        f_bavail = 0

    monkeypatch.setattr(S.os.path, "isdir", lambda p: True)
    monkeypatch.setattr(S.os, "statvfs", lambda p: Stat)
    Stat.f_bavail = (GIB // 4096)           # 1 GiB free on /dev/shm
    assert S.shuffle_dir(64 * GIB, 8 * GIB) is None
    Stat.f_bavail = (8 * GIB // 4096)
    assert S.shuffle_dir(64 * GIB, 8 * GIB) == "/dev/shm/spark_graft_local"


def test_jit_policy_in_builder_config(monkeypatch):
    """get_spark hands the policy to the JVM launch as defaultJavaOptions
    and leaves extraJavaOptions to the caller; a caller's own
    defaultJavaOptions replaces it."""
    seen = []

    def capture(self):
        seen.append(dict(self._options))
        raise RuntimeError("captured")

    monkeypatch.setattr(S.SparkSession.Builder, "getOrCreate", capture)
    with pytest.raises(RuntimeError, match="captured"):
        S.get_spark("t", cores=1, extra_conf={
            "spark.driver.extraJavaOptions": "-Dx=1"})
    assert seen[0]["spark.driver.defaultJavaOptions"] == S.DRIVER_JIT_OPTIONS
    assert seen[0]["spark.driver.extraJavaOptions"] == "-Dx=1"
    with pytest.raises(RuntimeError, match="captured"):
        S.get_spark("t", cores=1, extra_conf={
            "spark.driver.defaultJavaOptions": "-Dy=2"})
    assert seen[1]["spark.driver.defaultJavaOptions"] == "-Dy=2"
    assert "spark.driver.extraJavaOptions" not in seen[1]


def test_jit_policy_reaches_live_driver_jvm(spark):
    """The test session comes from get_spark (conftest), so its JVM was
    launched with the policy: HotSpot reports the raised threshold."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    assert bean.getVMOption("Tier4InvocationThreshold").getValue() == "50000"
    assert bean.getVMOption("Tier4BackEdgeThreshold").getValue() == "400000"
