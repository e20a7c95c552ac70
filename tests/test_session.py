"""Session defaults are safe on the host they run on."""

import os


def test_driver_heap_fits_the_host(spark):
    conf = spark.conf.get("spark.driver.memory")
    if os.environ.get("SPARK_DRIVER_MEM"):
        assert conf == os.environ["SPARK_DRIVER_MEM"]
        return
    heap_mb = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsMb(conf)
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024  # MemTotal: N kB
    assert heap_mb <= total_mb
