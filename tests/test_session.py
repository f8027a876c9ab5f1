"""Session factory defaults that must hold on any host."""

from __future__ import annotations

import os

from nyc_taxi_data_pipeline_spark.session import _default_driver_memory


def test_default_driver_heap_fits_the_host():
    """Unset SPARK_GRAFT_DRIVER_MEM must not ask for more heap than the
    host has: at most half its physical memory (floor 1g), at most 48g."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    mem = _default_driver_memory()
    assert mem.endswith("m")
    mb = int(mem[:-1])
    assert mb <= max(1024, phys_mb // 2)
    assert mb <= 48 << 10


def test_session_carries_the_catalog_read_confs(spark):
    """The confs sources/catalog.load_table sets on a caller's session are
    already in an engine session's SparkConf at creation, so loading a
    table (events included) changes no session conf."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    assert conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
