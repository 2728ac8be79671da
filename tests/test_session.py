"""build_session's conf assembly, checked on the builder without starting
a second JVM."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from netascore_spark.session import build_session


def test_user_java_options_keep_heap_flag(monkeypatch):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self)
    user = "-Dnetascore.probe=1 -XX:+UseG1GC"
    b = build_session(
        master="local[1]",
        extra_conf={"spark.driver.extraJavaOptions": user},
    )
    driver = b._options["spark.driver.extraJavaOptions"].split()
    assert "-Dnetascore.probe=1" in driver and "-XX:+UseG1GC" in driver
    assert "-XX:MaxHeapFreeRatio=100" in driver
    # a key the caller did not set still gets the heap flag alone
    assert b._options["spark.executor.extraJavaOptions"] == "-XX:MaxHeapFreeRatio=100"


@pytest.mark.parametrize("raw", ["0", "-3", "auto"])
def test_bad_shuffle_width_env_rejected(monkeypatch, raw):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self)
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        build_session(master="local[1]")


def test_shuffle_width_env_sets_conf(monkeypatch):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self)
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    b = build_session(master="local[1]")
    assert b._options["spark.sql.shuffle.partitions"] == "8"
