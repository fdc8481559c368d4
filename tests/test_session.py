"""Session defaults that must fit the host they run on."""

import os

from pyrosm_spark.session import default_driver_memory

GB = 2**30


def test_driver_memory_default_is_half_of_host_memory(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert default_driver_memory(15 * GB) == "7680m"
    assert default_driver_memory(64 * GB) == "16384m"  # capped at 16 GB
    assert default_driver_memory(GB) == "1024m"  # floor of 1 GB


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert default_driver_memory(15 * GB) == "2g"
    assert default_driver_memory() == "2g"


def test_driver_memory_default_fits_this_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = default_driver_memory()
    assert mem == default_driver_memory(host)
    assert int(mem[:-1]) * 2**20 <= max(host // 2, GB)


def test_session_uses_the_derived_default(spark):
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    assert conf == default_driver_memory()
