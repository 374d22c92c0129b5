"""Default driver heap sizing from physical memory and cgroup limits."""

from steel_energy_consumption_prediction_using_pyspark_spark.session import (
    DRIVER_MEMORY_CAP_MB,
    default_driver_memory_mb,
    driver_memory,
)

GIB_KB = 1024 * 1024


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {total_kb} kB\n"
        "MemFree:         1000000 kB\n"
        "MemAvailable:    2000000 kB\n"
    )
    return str(p)


def _limit(tmp_path, name: str, raw: str) -> str:
    p = tmp_path / name
    p.write_text(raw + "\n")
    return str(p)


def test_forty_percent_of_memtotal(tmp_path):
    # A 16 GB host: 40% of MemTotal 16,479,424 kB.
    mi = _meminfo(tmp_path, 16_479_424)
    assert default_driver_memory_mb(mi, ()) == 6437


def test_capped_at_16g_on_large_hosts(tmp_path):
    mi = _meminfo(tmp_path, 256 * GIB_KB)
    assert default_driver_memory_mb(mi, ()) == DRIVER_MEMORY_CAP_MB == 16384


def test_cgroup_v2_limit_below_memtotal_wins(tmp_path):
    mi = _meminfo(tmp_path, 64 * GIB_KB)
    v2 = _limit(tmp_path, "memory.max", str(8 << 30))
    assert default_driver_memory_mb(mi, (v2,)) == 3276


def test_cgroup_v1_limit_below_memtotal_wins(tmp_path):
    mi = _meminfo(tmp_path, 64 * GIB_KB)
    v1 = _limit(tmp_path, "memory.limit_in_bytes", str(4 << 30))
    missing = str(tmp_path / "absent")
    assert default_driver_memory_mb(mi, (missing, v1)) == 1638


def test_unlimited_cgroups_fall_back_to_memtotal(tmp_path):
    mi = _meminfo(tmp_path, 16 * GIB_KB)
    v2 = _limit(tmp_path, "memory.max", "max")
    v1 = _limit(tmp_path, "memory.limit_in_bytes", "9223372036854771712")
    assert default_driver_memory_mb(mi, (v2, v1)) == 6553


def test_nothing_readable_falls_back_to_cap(tmp_path):
    garbage = _limit(tmp_path, "meminfo", "not a meminfo file")
    assert default_driver_memory_mb(garbage, (str(tmp_path / "x"),)) == 16384


def test_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory() == "3g"
    monkeypatch.delenv("SPARK_DRIVER_MEMORY")
    assert driver_memory() == f"{default_driver_memory_mb()}m"
