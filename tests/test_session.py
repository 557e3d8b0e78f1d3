"""Session defaults come from the host: the pinned driver heap must fit
in physical memory, and the default core count is the usable one."""

import os

from anomaly_detection_spark.session import (HEAP_CAP_MB, default_driver_mem,
                                             usable_cpus)


def _mb(heap: str) -> int:
    assert heap.endswith("m"), heap
    return int(heap[:-1])


def _meminfo(tmp_path, total_kb: int) -> str:
    path = tmp_path / f"meminfo-{total_kb}"
    path.write_text(f"MemTotal:       {total_kb} kB\n"
                    f"MemFree:        {total_kb // 2} kB\n")
    return str(path)


def test_default_heap_never_exceeds_physical_memory(tmp_path):
    # 512 MiB, 15 GiB and 1 TiB hosts
    for total_kb in (512 * 1024, 15 * 1024 ** 2, 1024 ** 3):
        heap = _mb(default_driver_mem(_meminfo(tmp_path, total_kb)))
        assert 0 < heap < total_kb // 1024
        assert heap <= HEAP_CAP_MB
    # the cap binds on a big host
    assert _mb(default_driver_mem(_meminfo(tmp_path, 1024 ** 3))) \
        == HEAP_CAP_MB
    # this host, and the sysconf fallback when meminfo is unreadable
    phys_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
               // 2 ** 20)
    assert 0 < _mb(default_driver_mem()) < phys_mb
    assert 0 < _mb(default_driver_mem(str(tmp_path / "absent"))) < phys_mb


def test_default_cpus_are_usable_cores():
    assert 1 <= usable_cpus() <= (os.cpu_count() or 1)
