"""session.get_spark's defaults fit the machine they run on: every core,
and a driver heap bounded by physical RAM. Pure computation — no
session is started."""

from __future__ import annotations

from b2b_data_pipeline_indiamart_spark.session import default_resources

GIB = 1 << 30


def test_defaults_follow_cores_and_ram():
    # 4 cores / 15 GiB: all 4 cores, half the RAM as heap
    assert default_resources(4, 15 * GIB) == ("4", f"{15 * 1024 // 2}m")
    assert default_resources(32, 8 * GIB) == ("32", "4096m")


def test_heap_is_capped_and_floored():
    # a big box keeps the old 16g ceiling; a tiny one still gets 1g
    assert default_resources(64, 512 * GIB)[1] == "16384m"
    assert default_resources(1, GIB // 2)[1] == "1024m"


def test_unknown_machine_falls_back_to_minimum():
    assert default_resources(None, None) == ("1", "1024m")
    assert default_resources(0, 0) == ("1", "1024m")
