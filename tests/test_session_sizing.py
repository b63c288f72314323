"""Session defaults sized from the machine: driver heap from MemAvailable,
shuffle on /dev/shm only when it has room, a clear error instead of an
OOM kill."""

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
