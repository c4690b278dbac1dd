"""Session resource defaults come from the host, not a 32-core/32 GB guess."""

import os
from types import SimpleNamespace

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


def test_local_session_writes_checkpoints_through_file_system_manager(spark, tmp_path):
    """A local session on file: resolves Spark's checkpoint manager to the
    FileSystem-based class (one rename(2) per checkpoint file, no
    readlink forks), also after the conf is cleared and the session is
    fetched again. Resolving through CheckpointFileManager.create makes
    a Spark upgrade that moves either class fail here, not in a stream."""
    jvm = spark._jvm
    key = "spark.sql.streaming.checkpointFileManagerClass"
    spark.conf.unset(key)
    assert session.get_spark(app_name="squirtle-tests") is spark
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(tmp_path.as_uri()), conf
    )
    assert manager.getClass().getName() == spark.conf.get(key) == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


def test_cluster_session_keeps_default_checkpoint_manager():
    for master in ("yarn", "spark://host:7077", "local-cluster[2,1,1024]", "k8s://x"):
        fake = SimpleNamespace(sparkContext=SimpleNamespace(master=master))
        assert session.configure_checkpoint_manager(fake) is None
