"""The timing primitive every timer shares (``tools/timing.py``), and the
query names the timers hard-code."""

from __future__ import annotations

import bench
from perfbench.spans import Tracer
from tools import scale_probe
from tools.timing import sample

import __spark_entry__


def test_sample_attributes_jobs_to_its_phases(spark, sf_dir):
    fn = __spark_entry__.queries()["a2_min_max_sum"]
    sc = spark.sparkContext
    tracer = Tracer(spark)
    sc.setJobGroup("caller", "caller")
    try:
        sample(tracer, "timing-cold", "a2", lambda: fn(spark, sf_dir))
        build_s, exec_s = sample(
            tracer, "timing-warm", "a2", lambda: fn(spark, sf_dir)
        )
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup
    assert len(jobs("timing-warm|a2|exec")) >= 1
    assert jobs("timing-warm|a2|build") == []
    assert build_s > 0 and exec_s > 0


def test_timer_query_names_are_registered():
    names = (
        bench.SF1_EXTRA
        + list(bench.SF1_SUBSTITUTE)
        + list(bench.SF1_SUBSTITUTE.values())
        + scale_probe.HEADLINE
    )
    registered = __spark_entry__.queries()
    assert [n for n in names if n not in registered] == []


def test_scale_probe_rejects_unknown_names_before_the_session(monkeypatch):
    monkeypatch.setattr(scale_probe, "get_spark", None)  # must not start
    monkeypatch.setattr("sys.argv", ["scale_probe.py", "a2_min_max_sum", "x"])
    assert scale_probe.main() == 2
