"""Default driver-heap sizing (no Spark session is started here)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloud_volume_spark.session import driver_memory_for, host_memory_bytes

GB = 1 << 30


def test_driver_memory_is_sixty_percent_of_ram_capped():
    assert driver_memory_for(15 * GB + 600 * (1 << 20)) == "9g"  # 4-core CI
    assert driver_memory_for(64 * GB) == "38g"
    assert driver_memory_for(80 * GB) == "48g"  # 60% is exactly the cap
    assert driver_memory_for(512 * GB) == "48g"
    # small hosts still get a usable heap
    assert driver_memory_for(GB) == "1g"
    assert driver_memory_for(0) == "1g"


def test_host_memory_reads_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemFree:  1000 kB\nMemTotal:  16000000 kB\n")
    assert host_memory_bytes(str(meminfo)) == 16000000 * 1024
    # no procfs: falls back to the POSIX page count
    missing = host_memory_bytes(str(tmp_path / "absent"))
    assert missing == os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert host_memory_bytes() > 0
