"""Session factory defaults that do not need a running JVM."""

from __future__ import annotations

from fences_spark.session import default_driver_memory


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
