"""Tests for the benchmark's statistics and /proc readers.

    python3 -m pytest perfbench/test_measure.py -q

No Spark: the /proc readers run against a fake tree under tmp_path.
"""

from __future__ import annotations

import json
import math
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from measure import (  # noqa: E402
    CLK_TCK,
    nearest_rank,
    process_age_s,
    process_tree,
    tail_rank,
    tree_cpu_s,
    tree_peak_rss_mb,
)
from spans import event_log_totals  # noqa: E402


def test_tail_rank_leaves_ten_ranks_beyond():
    assert tail_rank(100) == 90
    # 35 samples (7 ops x 5 passes): rank 25 of 35 leaves ten above
    assert tail_rank(35) == 71
    assert 35 - math.ceil(72 * 35 / 100) < 10


def test_tail_rank_falls_back_to_median():
    assert tail_rank(5) == 50
    assert tail_rank(20) == 50


def test_nearest_rank():
    xs = [float(i) for i in range(100, 0, -1)]  # 100..1, unsorted
    assert nearest_rank(xs, 90) == 90.0
    assert nearest_rank(xs, 50) == 50.0
    assert nearest_rank([3.0, 1.0, 2.0], 50) == 2.0
    assert nearest_rank([7.0], 71) == 7.0
    with pytest.raises(ValueError):
        nearest_rank([], 50)


def test_tail_value_is_fixed_percentile_of_a_larger_sample():
    # the percentile comes from the minimum sample; a run with more
    # samples reads the same percentile, and still has ten above it
    p = tail_rank(35)
    xs = [float(i) for i in range(1, 50)]
    v = nearest_rank(xs, p)
    assert v == 35.0 and sum(1 for x in xs if x > v) >= 10


def _fake_proc(root: Path, procs: dict[int, tuple[int, list[int], int]]) -> str:
    """procs: pid -> (ppid, [utime, stime, cutime, cstime] ticks, VmHWM kB)."""
    for pid, (ppid, cpu, hwm) in procs.items():
        d = root / str(pid)
        d.mkdir(parents=True)
        # comm with a space and a parenthesis, as /proc allows
        fields = ["S", str(ppid)] + ["0"] * 9 + [str(c) for c in cpu]
        fields += ["0"] * 4 + ["500"]  # ... field 22: starttime in ticks
        (d / "stat").write_text(f"{pid} (py thon) x) " + " ".join(fields) + "\n")
        (d / "status").write_text(f"Name:\tx\nVmHWM:\t{hwm} kB\nVmRSS:\t1 kB\n")
    (root / "self").mkdir()  # non-numeric entries are skipped
    (root / "uptime").write_text("1000.00 3000.00\n")
    return str(root)


@pytest.fixture
def proc(tmp_path):
    return _fake_proc(
        tmp_path,
        {
            10: (1, [100, 50, 0, 0], 1024),  # the benchmark
            11: (10, [200, 100, 30, 20], 2048),  # JVM, reaped a child
            12: (11, [10, 10, 0, 0], 512),  # Python worker
            20: (1, [9999, 9999, 0, 0], 999999),  # not in the tree
        },
    )


def test_process_tree_walks_descendants_only(proc):
    assert sorted(process_tree(10, proc)) == [10, 11, 12]


def test_tree_cpu_counts_members_and_reaped_children(proc):
    ticks = 150 + 350 + 20
    assert tree_cpu_s(10, proc) == pytest.approx(ticks / CLK_TCK)


def test_tree_peak_rss_sums_vmhwm(proc):
    assert tree_peak_rss_mb(10, proc) == pytest.approx((1024 + 2048 + 512) / 1024)


def test_process_age(proc):
    assert process_age_s(10, proc) == pytest.approx(1000.0 - 500 / CLK_TCK)


def test_live_proc_readers_on_this_process():
    me = os.getpid()
    assert me in process_tree(me)
    assert tree_cpu_s(me) > 0
    assert tree_peak_rss_mb(me) > 1
    assert process_age_s() > 0


def test_event_log_totals_attribute_stages_to_first_job(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "t1|op|exec"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "JVM GC Time": 5, "Executor CPU Time": 2_000_000_000,
            "Disk Bytes Spilled": 7,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Output Metrics": {"Bytes Written": 0}}},
        # a later job reuses stage 1 and skips it; its tasks stay with job 0
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "t1|op|sink"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Shuffle Read Metrics": {"Remote Bytes Read": 3, "Local Bytes Read": 4}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Output Metrics": {"Bytes Written": 50}}},
        # jobs outside any group are not attributed
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    t = event_log_totals(tmp_path)
    assert set(t) == {"t1|op|exec", "t1|op|sink"}
    ex, sink = t["t1|op|exec"], t["t1|op|sink"]
    assert (ex["jobs"], ex["stages"], ex["tasks"]) == (1, 1, 2)
    assert ex["shuffle_write_bytes"] == 100 and ex["shuffle_read_bytes"] == 7
    assert ex["spill_bytes"] == 7
    assert ex["gc_s"] == pytest.approx(0.005)
    assert ex["executor_cpu_s"] == pytest.approx(2.0)
    assert (sink["jobs"], sink["tasks"], sink["output_bytes"]) == (1, 1, 50)
