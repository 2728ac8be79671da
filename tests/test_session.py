"""build_session's conf assembly, checked on the builder without starting
a second JVM."""

from __future__ import annotations

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
