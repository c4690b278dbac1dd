"""Hand-computed checks of the measurement helpers (no Spark needed):
``python -m pytest flockbench -q``."""

import os

import pytest

import harness


def test_tail_leaves_ten_samples_beyond():
    vals = [float(v) for v in range(1, 41)]  # 1..40
    # p75 of 40 by nearest rank is rank 30 -> 30.0, with 31..40 beyond it
    assert harness.tail(vals) == (75.0, 30.0)
    # 24 samples: rank 14 of 24 is the 58.33rd percentile
    pct, val = harness.tail([float(v) for v in range(24)])
    assert pct == pytest.approx(58.333, abs=1e-3) and val == 13.0
    assert harness.tail(list(range(100))) == (90.0, 89)
    assert harness.tail([5.0] * 20) == (50.0, 5.0)
    with pytest.raises(ValueError):
        harness.tail([1.0] * 19)  # ten beyond would leave the tail below the median


def test_median():
    assert harness.median([3.0, 1.0, 2.0]) == 2.0
    assert harness.median([4.0, 1.0, 2.0, 3.0]) == 2.5


def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end, "run": "r"}


def test_self_time_with_overlapping_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),  # overlaps span 2 on [3, 4]
        _span(2, 0, 3.0, 6.0),
        _span(3, 0, 8.0, 12.0),  # runs past its parent: only [8, 10] counts
        _span(4, 1, 2.0, 3.0),
    ]
    st = harness.self_times(spans)
    # children of 0 cover [1, 6] and [8, 10] = 7 of its 10 seconds
    assert st[0] == pytest.approx(3.0)
    assert st[1] == pytest.approx(2.0)  # 3 s minus child 4's 1 s
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_records_parents_and_self_time_by_name():
    tr = harness.Tracer("run-1", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert {s["run"] for s in tr.spans} == {"run-1"}
    by_name = tr.self_time_by_name()
    total = outer["end"] - outer["start"]
    assert by_name["outer"] + by_name["inner"] == pytest.approx(total)
    off = harness.Tracer("run-2", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def _write_proc(root, pid, ppid, comm, utime, stime, cutime, cstime, hwm_kib=None, start=0):
    d = root / str(pid)
    d.mkdir()
    # fields after "(comm)": state ppid pgrp session tty tpgid flags minflt
    # cminflt majflt cmajflt utime stime cutime cstime prio nice threads
    # itrealvalue starttime ...
    rest = ["S", ppid, 1, 1, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime,
            20, 0, 1, 0, start, 0, 0]
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(str(x) for x in rest) + "\n")
    if hwm_kib is not None:
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm_kib} kB\nVmRSS:\t1 kB\n")


def test_process_tree_cpu_and_peak_rss_from_proc(tmp_path):
    t = harness.CLK_TCK
    # 100 python -> 200 java -> 300 python daemon -> 301 worker; 400 is not ours
    _write_proc(tmp_path, 100, 1, "python3", 1 * t, 1 * t, 0, 0, hwm_kib=1024)
    _write_proc(tmp_path, 200, 100, "java", 10 * t, 2 * t, 0, 0, hwm_kib=4096)
    # a worker that already ended was reaped by the daemon: cutime/cstime
    _write_proc(tmp_path, 300, 200, "python3 -m pyspark.daemon", 0, 0, 3 * t, 1 * t, hwm_kib=2048)
    _write_proc(tmp_path, 301, 300, "a (weird) name", 2 * t, 0, 0, 0)
    _write_proc(tmp_path, 400, 1, "other", 50 * t, 0, 0, 0, hwm_kib=9999)
    (tmp_path / "uptime").write_text("1000.50 1.0\n")
    (tmp_path / "self").mkdir()
    table = harness.process_table(str(tmp_path))
    assert table[301] == (300, 2.0)
    assert harness.descendants(100, table) == {100, 200, 300, 301}
    # 2 + 12 + 4 + 2 seconds, and process 400 left out
    assert harness.tree_cpu_s(100, str(tmp_path)) == pytest.approx(20.0)
    assert harness.tree_cpu_s(300, str(tmp_path)) == pytest.approx(6.0)
    # (1024 + 4096 + 2048) KiB; 301 has no status file (it ended meanwhile)
    assert harness.tree_peak_rss_mb(100, str(tmp_path)) == pytest.approx(7.0)


def test_process_age_from_start_ticks(tmp_path):
    t = harness.CLK_TCK
    _write_proc(tmp_path, 42, 1, "python3", 0, 0, 0, 0, start=900 * t)
    (tmp_path / "uptime").write_text("1000.25 3.0\n")
    assert harness.process_age_s(42, str(tmp_path)) == pytest.approx(100.25)


def test_this_process_tree_uses_cpu():
    assert harness.tree_cpu_s(os.getpid()) > 0


def test_manifest_names_what_the_runner_prints():
    import json
    from pathlib import Path

    import run

    manifest = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
    assert [w["name"] for w in manifest["workloads"]] == list(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in manifest["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in manifest["per_layer"]} == run.PER_LAYER


def test_sql_metric_values_parse_to_seconds_and_bytes():
    from spark_counters import parse_metric

    assert parse_metric("2.0 s") == 2.0
    assert parse_metric("442 ms") == pytest.approx(0.442)
    assert parse_metric("1.5 m") == 90.0
    assert parse_metric("1,234") == 1234.0
    assert parse_metric("105.9 KiB") == pytest.approx(105.9 * 1024)
    assert parse_metric("total (min, med, max (stageId: taskId))\n3.8 s (1.0 s, 1.2 s, 1.6 s (stage 4.0: task 9))") == 3.8
