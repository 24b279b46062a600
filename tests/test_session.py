"""Session defaults sized to the host."""

from __future__ import annotations

import pytest

from imitation_learning_data_pipeline_spark.session import (
    _driver_memory,
    default_driver_memory,
)

MEMINFO_15G = """MemTotal:       16057424 kB
MemFree:        13410452 kB
MemAvailable:   15214300 kB
"""


def test_driver_memory_is_sixty_percent_of_memtotal():
    # 16057424 kB * 0.6 = 9634454 kB = 9408 MiB
    assert default_driver_memory(MEMINFO_15G) == "9408m"


def test_driver_memory_has_a_one_gib_floor():
    assert default_driver_memory("MemTotal:  524288 kB\n") == "1024m"


def test_meminfo_without_memtotal_raises():
    with pytest.raises(ValueError):
        default_driver_memory("MemFree: 1 kB\n")


def test_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _driver_memory() == "3g"
