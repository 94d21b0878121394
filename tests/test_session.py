"""The shuffle-partition default ``get_spark`` derives from the running
context, and the driver JVM's launch flags, checked against the shared
test session so no second session starts."""

from __future__ import annotations

import pytest

from opentimes_spark.session import (
    default_master,
    initial_heap_mb,
    shuffle_partitions_for,
)


@pytest.fixture(autouse=True)
def _no_override(monkeypatch):
    monkeypatch.delenv("SPARK_SHUFFLE_PARTITIONS", raising=False)


def test_local_n_gives_n(spark):
    """The test session runs on ``local[4]``."""
    assert spark.sparkContext.master == "local[4]"
    assert shuffle_partitions_for(spark) == 4


def test_explicit_argument_wins(spark, monkeypatch):
    assert shuffle_partitions_for(spark, 5) == 5
    monkeypatch.setenv("SPARK_SHUFFLE_PARTITIONS", "9")
    assert shuffle_partitions_for(spark, 5) == 5


def test_env_override_wins_over_the_context(spark, monkeypatch):
    monkeypatch.setenv("SPARK_SHUFFLE_PARTITIONS", "9")
    assert shuffle_partitions_for(spark) == 9


@pytest.mark.parametrize("cpus", ["32", None])
def test_default_cpus_keep_a_32_slot_master(monkeypatch, cpus):
    """The registry harness runs at SPARK_GRAFT_CPUS=32 (also the unset
    default): ``local[32]``, so by ``test_local_n_gives_n`` its plans
    keep the 32 partitions they were tuned at."""
    if cpus is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    assert default_master() == "local[32]"


def test_driver_jvm_starts_with_metaspace_and_initial_heap(spark):
    args = list(
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getInputArguments()
    )
    assert "-XX:MetaspaceSize=256m" in args
    assert any(a.startswith("-Xms") for a in args), args


@pytest.mark.parametrize(
    "driver_memory, mib", [("8g", 2048), ("1g", 1024), ("512", 512), ("2048m", 2048)]
)
def test_initial_heap_never_exceeds_the_driver_memory(driver_memory, mib):
    """A bare number is MiB, as Spark reads ``spark.driver.memory``."""
    assert initial_heap_mb(driver_memory) == mib
