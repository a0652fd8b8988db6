#!/usr/bin/env python3
"""The repository's benchmark: closed-loop workloads over the query registry.

    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 10 --trace 0

One client runs the workload's ops back to back, each op a registry query
(``__spark_entry__.queries()[name](spark, sf_dir)``) whose result is fully
materialized: ``adhoc`` writes to Spark's ``noop`` sink, ``publish``
writes through ``sources.sink.write_vc``. A pass runs every op
of the workload once, in an order drawn from ``--seed``.

A run starts the SparkSession and runs a first pass (set-up), runs
``WARMUP_PASSES`` more untimed passes, then times passes until
``--seconds`` have gone by and the workload's ``passes`` are done; the
metrics come from the first ``passes`` of them. The
set-up pass collects each op's result and checks it against
``expected.json`` (``publish`` checks its data_hash on every pass), so
timed passes stay pure sink writes. The last stdout line is one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics from a traced run
with ``--trace 1`` (see ``spans.py``). Run from the repository root; it
reads and writes only inside it (run output goes to ``.perfbench/``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".perfbench"
DATA = BENCH / "data" / "sf0.01"
CPUS = 2
# Untimed passes after set-up: op times still fall ~25% over the first
# passes (JIT compilation in the JVM), most steeply right after set-up.
WARMUP_PASSES = 2

sys.path.insert(0, str(BENCH))
from measure import (  # noqa: E402
    cpu_probe_s,
    host_steal_s,
    nearest_rank,
    process_age_s,
    process_tree,
    tail_rank,
    tree_cpu_s,
    tree_peak_rss_mb,
)
from spans import (  # noqa: E402
    EXEC_LAYERS,
    Tracer,
    event_log_totals,
    package_calls,
)


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    # timed passes the metrics are taken over: op CPU times still fall
    # from pass to pass, so the metrics come from the same pass positions
    # in every run, however many passes the time window holds
    passes: int
    publish: bool = False


# Why each workload exists is recorded in BENCHMARK.json and NOTES.md. The
# adhoc ops are chosen so that several sit near the median latency: with a
# gap there, the median op time jumped between the ops on either side of it.
WORKLOADS = {
    "adhoc": Workload(
        (
            "a2_min_max_sum", "w2_keep_latest", "j6_semi_join",
            "k1_cover_decode", "k10_incremental_merge", "k11_crs_transform",
            "scd2_user_status",
        ),
        passes=5,
    ),
    "publish": Workload(("mhq_publish_pipeline",), passes=6, publish=True),
}


def digest(rows: list[tuple], cols: list[str]) -> list:
    """[row count, order-insensitive sha256] of a result, through the
    differential checker's normalization (the oracle digests in
    expected.json are made the same way)."""
    from tools.check import normalize

    h = hashlib.sha256("\x1f".join(sorted(cols)).encode())
    for row in normalize(rows, cols):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return [len(rows), h.hexdigest()]


def write_vc(df, op: str) -> dict:
    """Publish ``df`` as ``.perfbench/publish/<op>.tsv`` through the
    package's sink. Every column is a sort key, so the op's rows must be
    distinct (``write_vc`` refuses a sort order that is not total)."""
    from n2khab_mhq_data_spark.sources.sink import write_vc as sink

    return sink(df, op, str(OUT / "publish"), sorting=list(df.columns))


def spark_conf(trace: bool) -> dict[str, str]:
    # The heap is fixed at 1 GB (-Xms = -Xmx) in place of the package's
    # 8 GB maximum: a heap that grows on demand made the JVM's peak RSS
    # follow GC timing, 17-28% apart between runs. Heap use inside the
    # 1 GB therefore does not move peak_rss_mb.
    conf = {
        "spark.driver.memory": "1g",
        "spark.sql.warehouse.dir": str(OUT / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={OUT / 'tmp'} -XX:-UsePerfData -Xms1g"
        ),
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(OUT / "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return conf


@dataclass
class Run:
    """State of one benchmark run: the session, the registry, counters."""

    workload: Workload
    trace: bool
    rng: random.Random
    expected: dict
    spark: object = None
    queries: dict = field(default_factory=dict)
    tracer: Tracer = field(default_factory=Tracer)
    attempted: int = 0
    failed: int = 0
    bad_ops: set = field(default_factory=set)
    layers: dict = field(default_factory=dict)  # op -> package subpackages
    op_log: dict = field(default_factory=dict)  # pass -> {op: [wall, cpu] s}

    def start_session(self) -> None:
        from n2khab_mhq_data_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", cpus=CPUS, extra_conf=spark_conf(self.trace)
        )
        self.tracer = Tracer(self.spark if self.trace else None)

    def run_pass(self, tag: str, check: bool = False) -> list[tuple[float, float]]:
        """Run every op once in seeded order; returns (wall, CPU) seconds
        of each op that completed, in run order. An op's CPU time is the
        process tree's (driver, JVM, Python workers) over its wall time:
        one client runs one op at a time, so that is the op's work plus
        the JVM's background work (JIT compilation, GC) meanwhile."""
        times = []
        for op in self.rng.sample(self.workload.ops, len(self.workload.ops)):
            c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
            ok = self.run_op(tag, op, check)
            dt = time.perf_counter() - t0
            dc = tree_cpu_s(os.getpid()) - c0
            self.op_log.setdefault(tag, {})[op] = [dt, dc]
            self.attempted += 1
            if ok and op not in self.bad_ops:
                times.append((dt, dc))
            else:
                self.failed += 1
        return times

    def run_op(self, tag: str, op: str, check: bool) -> bool:
        tr = self.tracer
        discover = tr.on and op not in self.layers
        found: set[str] = set()
        try:
            with tr.phase(tag, op, "op"):
                with tr.phase(tag, op, "build"):
                    with package_calls(found) if discover else nullcontext():
                        df = self.queries[op](self.spark, str(DATA))
                if discover:
                    # the family's own module counts too: plans/kernels.py
                    # is the kernels family, plans/spatial.py the spatial one
                    found.add(self.queries[op].__module__.rsplit(".", 1)[-1])
                    self.layers[op] = found
                if tr.on:
                    with tr.phase(tag, op, "optimize"):
                        df._jdf.queryExecution().executedPlan()
                if check:
                    got = digest([tuple(r) for r in df.collect()], df.columns)
                    if got != self.expected["noop"][op]:
                        print(f"# {op}: output {got} != expected", file=sys.stderr)
                        self.bad_ops.add(op)
                        return False
                elif self.workload.publish:
                    with tr.phase(tag, op, "sink"):
                        return self.publish(op, df)
                else:
                    with tr.phase(tag, op, "exec"):
                        df.write.format("noop").mode("overwrite").save()
            return True
        except Exception:  # one failing op must not end the run
            traceback.print_exc()
            return False

    def publish(self, op: str, df) -> bool:
        meta = write_vc(df, op)
        want = self.expected["write_vc"][op]
        if meta["data_hash"] != want:
            print(f"# {op}: data_hash {meta['data_hash']} != {want}", file=sys.stderr)
            return False
        return True


def prepare_out() -> None:
    shutil.rmtree(OUT, ignore_errors=True)
    for d in ("local", "tmp", "events", "publish"):
        (OUT / d).mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(OUT / "local")
    os.environ["TMPDIR"] = str(OUT / "tmp")
    tempfile.tempdir = str(OUT / "tmp")
    # Python workers import the package from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def stop_all(run: Run) -> None:
    """Stop the SparkContext and the JVM, then wait for every process this
    run started to end."""
    from pyspark import SparkContext

    if run.spark is not None:
        run.spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while rest := process_tree(os.getpid())[1:]:
        for pid in rest:
            try:
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, os.WNOHANG)
            except (ChildProcessError, ProcessLookupError):
                pass  # not our child (its parent reaps it), or gone
        time.sleep(0.1)


def setup(run: Run) -> tuple[float, float]:
    """Start the session and run the first pass, which collects and checks
    each op's output instead of writing it to the sink. Returns the set-up
    seconds, from process start (interpreter, registry import, JVM launch
    and session, a cold pass) to the end of that pass, and the session
    start's seconds."""
    t0 = time.perf_counter()
    run.start_session()
    session_s = time.perf_counter() - t0
    run.run_pass("setup", check=not run.workload.publish)
    return process_age_s(), session_s


def end_to_end(run: Run, seconds: float, setup_s: float) -> tuple[dict, dict]:
    passes, ops = [], []
    deadline = time.perf_counter() + seconds
    while len(passes) < run.workload.passes or time.perf_counter() < deadline:
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        ops.append(run.run_pass(f"t{len(passes)}"))
        passes.append((time.perf_counter() - t0, tree_cpu_s(os.getpid()) - c0))
    n = run.workload.passes
    passes = passes[:n]
    pooled = [x for xs in ops[:n] for x in xs]
    tail_p = tail_rank(n * len(run.workload.ops))
    op_cpu = [c for _, c in pooled]
    metrics = {
        "setup_s": setup_s,
        "pass_cpu_s": statistics.median(c for _, c in passes),
        "op_cpu_p50_s": statistics.median(op_cpu),
        "op_cpu_tail_s": nearest_rank(op_cpu, tail_p),
        "succeeded_frac": (run.attempted - run.failed) / run.attempted,
        "peak_rss_mb": tree_peak_rss_mb(os.getpid()),
    }
    # wall-clock figures, recorded but not bounded (see NOTES.md)
    info = {
        "pass_wall_s": statistics.median(w for w, _ in passes),
        "op_wall_p50_s": statistics.median(w for w, _ in pooled),
        "passes_s": passes,
        "pooled_op_samples": len(pooled),
        "op_tail_percentile": tail_p,
    }
    return metrics, info


def traced(run: Run, seconds: float, session_s: float, import_s: float) -> tuple[dict, dict]:
    """Time passes alternately without and with spans (the difference is
    the tracing overhead); per-layer metrics come from the traced ones."""
    from n2khab_mhq_data_spark.catalog import TESTDATA_TABLES, load

    jvm = run.spark._jvm
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    tracer, off = run.tracer, Tracer()
    plain, spanned, tags = [], [], set()
    acc = dict.fromkeys(
        ("cpu_s", "steal_s", "codegen_s", "codegen_compiles"), 0.0
    )
    probes = [cpu_probe_s()]
    deadline = time.perf_counter() + seconds
    i = 0
    while len(spanned) < 1 or not plain or time.perf_counter() < deadline:
        tag = f"t{i}"
        on = i % 2 == 1
        run.tracer = tracer if on else off
        before = (
            tree_cpu_s(os.getpid()), host_steal_s(),
            codegen.compileTime(), compiles.getCount(),
        )
        t0 = time.perf_counter()
        run.run_pass(tag)
        dt = time.perf_counter() - t0
        if on:
            after = (
                tree_cpu_s(os.getpid()), host_steal_s(),
                codegen.compileTime(), compiles.getCount(),
            )
            acc["cpu_s"] += after[0] - before[0]
            acc["steal_s"] += after[1] - before[1]
            acc["codegen_s"] += (after[2] - before[2]) / 1e9
            acc["codegen_compiles"] += after[3] - before[3]
            spanned.append(dt)
            tags.add(tag)
            for table in TESTDATA_TABLES:  # catalog probe, outside the pass
                with tracer.phase(f"c{i}", table, "catalog"):
                    load(run.spark, str(DATA), table)
        else:
            plain.append(dt)
        probes.append(cpu_probe_s())
        i += 1
    run.tracer = tracer
    return acc, {
        "plain": plain, "spanned": spanned, "tags": tags,
        "probes": probes, "session_s": session_s, "import_s": import_s,
    }


def layer_metrics(run: Run, acc: dict, t: dict) -> dict:
    n = len(t["spanned"])
    dur = run.tracer.durations(t["tags"])
    groups = event_log_totals(OUT / "events")

    def total(key: str, tags: set[str], phases: set[str]) -> float:
        """Event-log total of ``key`` per traced pass, over the job groups
        of the given passes and phases."""
        return sum(
            v[key]
            for g, v in groups.items()
            for tag, _, phase in [g.split("|")]
            if tag in tags and phase in phases
        ) / n

    tags = t["tags"]
    cats = {f"c{tag[1:]}" for tag in tags}  # catalog probes after each pass
    cat = run.tracer.durations(cats).get("catalog", {})
    work = {"build", "optimize", "exec", "sink"}
    action = {**dur.get("exec", {}), **dur.get("sink", {})}
    op_wall = sum(dur["op"].values())
    covered = sum(sum(dur.get(p, {}).values()) for p in work)
    tsv = sum(
        (OUT / "publish" / f"{op}.tsv").stat().st_size
        for op in run.workload.ops
    ) if run.workload.publish else 0
    m = {
        "session.start_s": t["session_s"],
        "plans.import_s": t["import_s"],
        "plans.build_s": sum(dur["build"].values()) / n,
        "plans.build_jobs": total("jobs", tags, {"build"}),
        "catalog.load_s": sum(cat.values()) / n,
        "catalog.load_jobs": total("jobs", cats, {"catalog"}),
        "spark.optimize_s": sum(dur["optimize"].values()) / n,
        "spark.codegen_compiles": acc["codegen_compiles"] / n,
        "spark.codegen_s": acc["codegen_s"] / n,
        "spark.exec_s": sum(action.values()) / n,
        "spark.jobs": total("jobs", tags, work),
        "spark.stages": total("stages", tags, work),
        "spark.tasks": total("tasks", tags, work),
        "spark.shuffle_write_mb": total("shuffle_write_bytes", tags, work) / 2**20,
        "spark.shuffle_read_mb": total("shuffle_read_bytes", tags, work) / 2**20,
        "spark.spill_mb": total("spill_bytes", tags, work) / 2**20,
        "spark.gc_s": total("gc_s", tags, work),
        "spark.executor_cpu_s": total("executor_cpu_s", tags, work),
    }
    for layer in EXEC_LAYERS:
        m[f"{layer}.exec_s"] = sum(
            s for op, s in action.items() if layer in run.layers.get(op, ())
        ) / n
    sink_out = total("output_bytes", tags, {"sink"})
    m |= {
        "sink.write_s": sum(dur.get("sink", {}).values()) / n,
        "sink.jobs_per_table": total("jobs", tags, {"sink"}) / len(run.workload.ops)
        if run.workload.publish else 0.0,
        "sink.bytes_written_per_byte": (sink_out + tsv) / tsv if tsv else 0.0,
        "proc.cpu_s": acc["cpu_s"] / n,
        "proc.cpu_per_wall": acc["cpu_s"] / sum(t["spanned"]),
        "proc.pass_wall_s": statistics.median(t["plain"]),
        "host.steal_s": acc["steal_s"] / n,
        "host.probe_s": statistics.median(t["probes"]),
        "trace.overhead_frac": (
            statistics.median(t["spanned"]) / statistics.median(t["plain"]) - 1
        ),
        "trace.coverage_frac": covered / op_wall,
    }
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    wl = WORKLOADS[args.workload]
    missing = [
        p for p in (ROOT / "BENCHMARK.json", ROOT / "__spark_entry__.py",
                    ROOT / "n2khab_mhq_data_spark", DATA, BENCH / "expected.json")
        if not p.exists()
    ]
    if missing:
        print(f"perfbench: run from a repository checkout; missing {missing}",
              file=sys.stderr)
        return 2

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    prepare_out()
    sys.path.insert(0, str(ROOT))
    t0 = time.perf_counter()
    import __spark_entry__

    queries = __spark_entry__.queries()
    import_s = time.perf_counter() - t0
    pre_s = process_age_s()
    run = Run(
        workload=wl,
        trace=bool(args.trace),
        rng=random.Random(args.seed),
        expected=json.loads((BENCH / "expected.json").read_text()),
        queries=queries,
    )
    try:
        setup_s, session_s = setup(run)
        setup_cpu_s = tree_cpu_s(os.getpid())
        for i in range(WARMUP_PASSES):
            run.run_pass(f"warmup{i}")
        if args.trace:
            acc, t = traced(run, args.seconds, session_s, import_s)
        else:
            metrics, info = end_to_end(run, args.seconds, setup_s)
            # host speed after the window, for comparing runs: the same
            # loop ran ~2x slower in slow phases of a shared host
            info["host_probe_s"] = statistics.median(cpu_probe_s() for _ in range(5))
    finally:
        stop_all(run)

    if args.trace:
        metrics = layer_metrics(run, acc, t)
        run.tracer.dump(OUT / f"spans-{args.workload}-{args.seed}.jsonl")
        info = {
            "traced_passes_s": t["spanned"],
            "untraced_passes_s": t["plain"],
            "op_layers": {k: sorted(v) for k, v in run.layers.items()},
        }
    units = {
        m["name"]: m["unit"]
        for m in spec["per_layer" if args.trace else "end_to_end"]
    }
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics {sorted(metrics)} != BENCHMARK.json {sorted(units)}")
    record = {
        "workload": args.workload, "seed": args.seed, "cpus": CPUS,
        "sf": 0.01, "ops": len(wl.ops), "pre_s": pre_s,
        "setup_cpu_s": setup_cpu_s, **info,
        "op_s": run.op_log,
    }
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
