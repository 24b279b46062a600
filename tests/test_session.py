"""Session defaults sized to the host, and the driver JIT policy."""

from __future__ import annotations

import types

import pytest

from imitation_learning_data_pipeline_spark import session
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


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: keeps the last value of
    each config key, as Spark's builder does."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None)
        )


def _built_conf(monkeypatch, extra_conf=None) -> dict:
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    session.get_spark("t", master="local[1]", extra_conf=extra_conf)
    return builder.conf


def test_caller_java_options_follow_the_jit_policy(monkeypatch):
    """HotSpot takes the last value of a repeated flag, so a caller's
    own extraJavaOptions come after the policy and can override it."""
    policy = " ".join(session.DRIVER_JIT_OPTIONS)
    assert _built_conf(monkeypatch)["spark.driver.extraJavaOptions"] == policy
    caller = "-Dx=1 -XX:Tier4InvocationThreshold=7"
    conf = _built_conf(monkeypatch, {"spark.driver.extraJavaOptions": caller, "spark.a": "b"})
    assert conf["spark.driver.extraJavaOptions"] == f"{policy} {caller}"
    assert conf["spark.a"] == "b"


def test_jit_policy_is_live_in_the_session_jvm(spark):
    """Spark's launcher passes -XX:+IgnoreUnrecognizedVMOptions, so a
    misspelt flag would be dropped silently: read the effective values
    back from the running JVM."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert len(session.DRIVER_JIT_OPTIONS) == 4
    for option in session.DRIVER_JIT_OPTIONS:
        name, _, value = option.removeprefix("-XX:").partition("=")
        effective = bean.getVMOption(name)
        assert (effective.getValue(), effective.getOrigin().toString()) == (value, "VM_CREATION")
