"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own code around each call into a
layer (plan build, Catalyst optimization, execution, the ``write_vc`` sink,
the catalog probe) and kept in memory. Every span sets a Spark job group
``<pass>|<op>|<phase>``, so the Spark event log attributes each job, stage
and task to the span that launched it. The package itself is not
instrumented.
"""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# package subpackages whose execution time is reported as its own layer
EXEC_LAYERS = ("kernels", "operators", "spatial")
PACKAGE = "n2khab_mhq_data_spark."


class Tracer:
    """Collects spans; a disabled tracer records nothing and sets no job
    groups, so the untraced run pays only a branch per phase."""

    def __init__(self, spark=None):
        self.on = spark is not None
        self.spark = spark
        self.spans: list[tuple[str, str, str, float, float]] = []

    @contextmanager
    def phase(self, tag: str, op: str, phase: str):
        if not self.on:
            yield
            return
        sc = self.spark.sparkContext
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"{tag}|{op}|{phase}", phase)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((tag, op, phase, t0, time.perf_counter()))
            sc.setLocalProperty("spark.jobGroup.id", outer)  # None clears

    def durations(self, tags: set[str]) -> dict[str, dict[str, float]]:
        """{phase: {op: seconds summed over the given passes}}."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for tag, op, phase, t0, t1 in self.spans:
            if tag in tags:
                out[phase][op] += t1 - t0
        return out

    def dump(self, path: Path) -> None:
        path.write_text(
            "\n".join(
                json.dumps(
                    {"pass": t, "op": o, "phase": p, "start": a, "end": b}
                )
                for t, o, p, a, b in self.spans
            )
            + "\n"
        )


@contextmanager
def package_calls(found: set[str]):
    """Add to ``found`` the name of each package subpackage whose Python
    functions run in this thread while the block executes."""

    def prof(frame, event, arg):
        if event == "call":
            mod = frame.f_globals.get("__name__", "")
            if mod.startswith(PACKAGE):
                found.add(mod[len(PACKAGE) :].split(".")[0])

    sys.setprofile(prof)
    try:
        yield
    finally:
        sys.setprofile(None)


def event_log_totals(log_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group, totals of the Spark event logs in ``log_dir``:
    jobs, stages, tasks, shuffle and spill bytes, GC and executor CPU
    seconds, and bytes written by output tasks."""
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(log_dir.iterdir()):
        # stage ids restart with each SparkContext: map them per log
        stage_group: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"
                    )
                    if group is None:
                        continue
                    totals[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        # a stage belongs to the first job that lists it;
                        # later jobs that reuse it skip it
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        totals[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or m is None:
                        continue
                    t = totals[group]
                    t["tasks"] += 1
                    sr = m.get("Shuffle Read Metrics", {})
                    t["shuffle_read_bytes"] += sr.get(
                        "Remote Bytes Read", 0
                    ) + sr.get("Local Bytes Read", 0)
                    t["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}
                    ).get("Shuffle Bytes Written", 0)
                    t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["output_bytes"] += m.get("Output Metrics", {}).get(
                        "Bytes Written", 0
                    )
    return totals
