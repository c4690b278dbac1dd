"""Session resource defaults come from the host, not a 32-core/32 GB guess."""

import os

from squirtle_spark import session


def _mem_total_mib(path: str = "/proc/meminfo") -> int:
    with open(path) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise AssertionError("no MemTotal line")


def test_default_driver_memory_stays_below_memtotal():
    heap = session.default_driver_memory()
    assert heap.endswith("m")
    mib = int(heap[:-1])
    total = _mem_total_mib()
    # room is left for off-heap, Python workers and the OS
    assert 0 < mib < total
    assert abs(mib - total * 0.6) <= 1


def test_default_driver_memory_reads_meminfo(tmp_path):
    fake = tmp_path / "meminfo"
    fake.write_text("MemFree:  1024 kB\nMemTotal:       16777216 kB\n")
    assert session.default_driver_memory(str(fake)) == "9830m"


def test_default_cpus_follow_affinity_unless_overridden():
    if os.environ.get("SPARK_GRAFT_CPUS"):
        assert session.DEFAULT_CPUS == int(os.environ["SPARK_GRAFT_CPUS"])
    else:
        assert session.DEFAULT_CPUS == len(os.sched_getaffinity(0))
