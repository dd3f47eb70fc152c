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


def test_session_enables_the_aqe_rules_the_sink_rebalance_needs(spark):
    """The staged sink write's REBALANCE hint sizes its files only under
    AQE, and splits a skewed (sink, source) group only with the
    rebalance skew rule on."""
    for key in ("spark.sql.adaptive.enabled",
                "spark.sql.adaptive.optimizeSkewsInRebalancePartitions"
                ".enabled"):
        assert spark.conf.get(key) == "true", key
