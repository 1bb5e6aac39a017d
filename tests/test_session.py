"""Session construction: the driver heap default follows the machine."""

from __future__ import annotations

from metadata_crawler_spark.session import _default_driver_memory


def test_default_driver_memory_is_half_of_physical():
    gib = 2**30
    assert _default_driver_memory(16 * gib) == "8192m"
    # a 15.6 GiB VM: half, rounded down to whole MiB
    assert _default_driver_memory(int(15.6 * gib)) == f"{int(15.6 * gib) // 2 // 2**20}m"
    assert _default_driver_memory(512 * gib) == "262144m"
    # small machines keep Spark's own 1g default as the floor
    assert _default_driver_memory(1 * gib) == "1024m"
    assert _default_driver_memory(0) == "1024m"
