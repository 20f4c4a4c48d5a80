"""Session factory defaults that need no JVM to check."""

from __future__ import annotations

from gibbon_spark.session import _driver_mem


def test_driver_mem_default_is_half_of_host_capped_at_48g():
    assert _driver_mem(15 << 30) == "7680m"
    assert _driver_mem(96 << 30) == "49152m"
    assert _driver_mem(1 << 40) == "49152m"
