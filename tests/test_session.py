"""Session defaults that must fit the box they run on."""

from __future__ import annotations

import os

from stream_ingestion_amazon_kinesis_spark.session import driver_memory


def test_default_driver_heap_is_below_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = driver_memory()
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert mem.endswith("m"), mem
    assert 0 < int(mem[:-1]) << 20 < ram, (mem, ram)
    # the deployment override passes through verbatim
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert driver_memory() == "1g"
