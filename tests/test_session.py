"""Session defaults that depend on the host."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ocr_auto_label_spark.session import build_spark


def test_default_master_uses_the_host_cpus(monkeypatch):
    """With SPARK_GRAFT_CPUS unset the session asks for the cores this
    process may run on, not a fixed count; the variable still overrides."""
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    cpus = len(os.sched_getaffinity(0))
    builder = build_spark()
    assert builder._options["spark.master"] == f"local[{cpus}]"
    assert builder._options["spark.sql.shuffle.partitions"] == str(max(cpus, 32))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert build_spark()._options["spark.master"] == "local[3]"
