"""Session defaults sized from the machine."""

from __future__ import annotations

from fluent_bit_spark.session import default_driver_memory


def test_default_driver_memory_is_half_of_ram(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       15728640 kB\n"
                       "MemFree:         1048576 kB\n")
    assert default_driver_memory(str(meminfo)) == "7680m"
    meminfo.write_text("MemTotal:         524288 kB\n")
    assert default_driver_memory(str(meminfo)) == "1024m"


def test_default_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "4g"
