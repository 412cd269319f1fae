"""Session sizing: the driver heap never exceeds the host's memory."""

from address_match_recommend_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    driver_memory_mb,
    host_cores,
    host_heap_mb,
    host_mem_total_kb,
    jvm_size_mb,
)


def test_jvm_size_mb():
    assert jvm_size_mb("16g") == 16384
    assert jvm_size_mb("6144m") == 6144
    assert jvm_size_mb("6144") == 6144
    assert jvm_size_mb("2097152k") == 2048
    assert jvm_size_mb("1T") == 1024 * 1024


def test_driver_memory_capped_by_host():
    mem_mb = host_mem_total_kb() / 1024
    assert 0 < host_heap_mb() < mem_mb
    assert driver_memory_mb() == host_heap_mb()
    for requested in ["48g", "1t", f"{int(mem_mb)}m"]:
        assert driver_memory_mb(requested) <= host_heap_mb()
    assert driver_memory_mb("512m") == min(512, host_heap_mb())
    assert host_cores() >= 1


def test_get_spark_heap_within_memtotal(spark):
    """The session get_spark built asks for, and got, no more heap than
    the host has."""
    mem_bytes = host_mem_total_kb() * 1024
    requested = jvm_size_mb(spark.conf.get("spark.driver.memory"))
    assert requested * 1024 * 1024 <= mem_bytes
    max_heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert max_heap <= mem_bytes


def test_codegen_cache_sized_to_engine(spark):
    """The session keeps the engine's generated classes: Spark's default
    of 100 entries is smaller than one pipeline run's working set."""
    conf = spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries")
    assert int(conf) == CODEGEN_CACHE_ENTRIES
