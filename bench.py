#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "build_s": ..., "exec_s": ..., "sf": ...}.

Per query: ONE untimed warm-up sample (plan + codegen + IO cache), then
the MEDIAN of $SPARK_GRAFT_BENCH_RUNS timed samples (default 3), with GC +
cleaner settle quarantined outside the timed region. A sample
(``tools/timing.py``) builds the query's DataFrame, then writes it to
Spark's ``noop`` sink, so the full plan runs: ``df.count()`` let Catalyst
prune the work the query specifies. A global warm-up runs first so JVM
startup isn't billed to q1, and the shared build steps (``plans.SHARED``)
are prebuilt and timed as their own line items (``build_seconds``).

Drift observability (r10): ambient host drift on this box moves ALL
back-to-back samples of a query together (observed ±40% on identical
code across a round), so medians alone can't exonerate a riser. The
run therefore re-times a fixed calibration probe every
``_CAL_INTERVAL`` queries and emits the TIMELINE: ``calibration_sec``
(median of all probes), ``calibration_timeline``, and ``drift_ratio``
(max/min probe). Every query's raw samples land in the
``BENCH_SAMPLES*.json`` sidecar keyed with its calibration segment and
its per-run ``t_start`` wall-clock offsets — the probes carry
``calibration_t_start`` offsets too — so a cross-round delta can be
normalized — or dismissed as drift — from the artifacts alone. (For
adjudicating a specific rewrite, ``tools/ab_same_jvm.py``'s same-JVM
alternation is still the stronger instrument.)

Layers: each sidecar sample record carries per-run ``build_s`` and
``exec_s`` and, per timed sample, the ``jobs``, ``build_jobs``,
``stages``, ``tasks``, ``shuffle_read_bytes``, ``shuffle_write_bytes``
and ``spill_bytes`` of its job groups, rolled up from the Spark event
log the run writes to ``.bench_events/`` (read after the session stops,
because a live log can end in a partial line).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

from n2khab_mhq_data_spark.session import get_spark  # noqa: E402
from perfbench.spans import Tracer, event_log_totals  # noqa: E402
from tools.make_sf1 import DST as SF1_DIR  # noqa: E402
from tools.timing import last_span_s, sample, settle  # noqa: E402

# when the sf1.0 scratch tier (tools/make_sf1.py output) is present, the
# top-N most expensive sf0.1 queries are re-timed at 10x data so
# cross-round regressions are caught at the scale where they matter
SF1_TOP_N = 20
# sf1.0 stand-ins (r7 VERDICT item 6): queries whose sf1.0 cost is
# measured OUTPUT materialization, not plan waste, are re-timed through
# a registered deterministic-slice sibling — same operator, same oracle
# guarantee, ~4x less intrinsic pair cardinality. The full query keeps
# its slot on the sf0.1 board and its driver oracle rows.
SF1_SUBSTITUTE = {
    "j13_interval_overlap_binned": "j13_interval_overlap_sliced",
}
# r12: queries whose round-11/12 rewrites rest on a SCALE argument that
# sf0.1 cannot confirm (fewer fact scans / fewer shuffled bytes trading
# against idle-core parallelism) are ALWAYS included in the sf1.0 tier,
# on top of the top-N slowest — VERDICT r11 item 2: the locally-negative
# trades must be proven (or reverted) at 10x data.
SF1_EXTRA = [
    "audit_psi_drift",
    "pipeline_curation_v2",
    "pipeline_dsir_weights",
    "dedup_ngram_jaccard",
    "dedup_ngram_capped",
    "tpch_q2_min_cost_supplier",
    "ts_mann_kendall",
    "u4_cycle_drift_audit",
    "sketch_kmv_jaccard",
    "link_golden_record",
    "graph_kcore",
    "dedup_components",
    "graph_shortest_paths",
]
# event_log_totals reads every file in the directory, so a run empties it
EVENTS = ROOT / ".bench_events"
COUNTERS = (
    "jobs", "stages", "tasks",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)
_CAL_INTERVAL = 25


def _prebuild_memos(
    spark, tracer: Tracer, tier: str, sf_dir: str
) -> dict[str, float]:
    """Build each registered shared intermediate (``plans.SHARED``) under
    a ``build`` phase and return {name: seconds}. Queries then all run
    against warm values. Every value is materialized as it is built
    (``localCheckpoint``, a driver-side collect, or a store directory
    written under the session's Spark temp root), so there is no
    ``exec`` phase to time."""
    from n2khab_mhq_data_spark.plans import SHARED

    steps = {}
    for name, get in SHARED.items():
        with tracer.phase(f"{tier}:shared", name, "build"):
            get(spark, sf_dir)
        steps[name] = round(last_span_s(tracer), 3)
    return steps


def _layers(groups: dict, tier: str, name: str, runs: int) -> dict[str, float]:
    """Event-log counters of one query's timed samples, per sample."""
    build = groups.get(f"{tier}|{name}|build", {})
    ex = groups.get(f"{tier}|{name}|exec", {})
    out = {k: (build.get(k, 0) + ex.get(k, 0)) / runs for k in COUNTERS}
    out["build_jobs"] = build.get("jobs", 0) / runs
    return {k: round(v, 2) for k, v in out.items()}


def _median(xs: list[float]) -> float:
    return sorted(xs)[len(xs) // 2]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # scale label from the LAST path component only (a parent dir that
    # happens to contain 'sf' must not leak separators into the sidecar
    # filename), sanitized to filename-safe chars
    base = os.path.basename(sf_dir.rstrip("/"))
    sf = base[2:] if base.startswith("sf") else base
    sf = "".join(ch for ch in sf if ch.isalnum() or ch in "._-")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    shutil.rmtree(EVENTS, ignore_errors=True)
    EVENTS.mkdir()
    spark = get_spark(
        "bench",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(EVENTS),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    tracer = Tracer(spark)

    # warm up the JVM, parquet footers, the events (nanos) reader, and the
    # Python worker pool once, outside any query's bill
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    from n2khab_mhq_data_spark.catalog import load as _load

    _load(spark, sf_dir, "events").count()
    spark.createDataFrame([(1,)], "x int").count()  # spin Python workers

    # BASELINE.md protocol: one warm-up run, then median of N timed runs
    # (N=3 by default; SPARK_GRAFT_BENCH_RUNS=1 for a quick pass)
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    # Fixed calibration probe: median of 3 executions of a canonical
    # scan+agg, re-timed every _CAL_INTERVAL queries (see module
    # docstring). A single start-of-run probe cannot key minutes-scale
    # drift: in r9 one bench run had a FASTER calibration than another
    # yet a 44% slower total, because the host degraded after the probe
    # fired.
    cal_df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_returnflag")
        .count()
    )
    sample(tracer, "cal", "calibration", lambda: cal_df)

    # every probe and every timed sample records its wall-clock start
    # relative to bench_t0, so a riser maps onto the drift curve by one
    # lookup instead of cross-evidence (VERDICT r10 item 3: the k6 case
    # needed the sf1.0 row because 25-query probe granularity left its
    # segment ambiguous)
    bench_t0 = time.time()
    cal_times: list[float] = []

    def cal_probe() -> float:
        cal_times.append(round(time.time() - bench_t0, 2))
        cs = [
            sample(tracer, "cal", "calibration", lambda: cal_df)[1]
            for _ in range(3)
        ]
        return round(_median(cs), 4)

    cal_timeline = [cal_probe()]

    def time_tier(
        tier: str, sf_dir: str, names: list[str], runs: int
    ) -> dict[str, dict]:
        """{name: raw samples} of each query at ``sf_dir``, its timed
        samples tagged ``tier``."""
        out: dict[str, dict] = {}
        for qi, name in enumerate(names):
            if qi and qi % _CAL_INTERVAL == 0:
                cal_timeline.append(cal_probe())
            # collect garbage OUTSIDE the timed region: ~100 queries
            # accumulate broadcasts/shuffle state in the driver JVM, and a
            # full GC landing inside a timed run showed up as 0.8 s
            # queries spiking to 7-10 s late in the sequence
            settle(spark)

            def build(fn=qs[name]):
                return fn(spark, sf_dir)

            sample(tracer, f"{tier}:warm", name, build)
            starts, layers = [], []
            for _ in range(runs):
                starts.append(round(time.time() - bench_t0, 2))
                layers.append(sample(tracer, tier, name, build))
            totals = [b + e for b, e in layers]
            rec = out[name] = {
                "runs": [round(t, 3) for t in totals],
                "build_s": [round(b, 3) for b, _ in layers],
                "exec_s": [round(e, 3) for _, e in layers],
                "t_start": starts,
                "cal_segment": len(cal_timeline) - 1,
            }
            print(f"# {tier} {name}: {rec}", file=sys.stderr)
        return out

    # Pre-build the shared intermediates (near-dup pair table, BPE
    # merge table, IVF centroids, ...) ONCE, timed as declared build steps.
    # This makes every per-query timing order-INdependent — all memo
    # consumers run warm, none of them hides the build cost in its own
    # number, and the build cost is its own line instead of vanishing
    # into whichever consumer's untimed warm-up ran first (ADVICE r4).
    build_steps = _prebuild_memos(spark, tracer, "q", sf_dir)
    samples_out = time_tier("q", sf_dir, list(qs), runs)
    timings = {name: _median(s["runs"]) for name, s in samples_out.items()}

    # Optional sf1.0 tier: re-time the top-N most expensive queries at
    # 10x data (one warmed sample each — regression detection, not a
    # median-of-3 microbenchmark). Skipped when explicitly disabled;
    # reported as "absent" when the scratch tier hasn't been generated.
    sf1: dict | None = None
    sf1_samples: dict[str, dict] = {}
    run_sf1 = os.environ.get("SPARK_GRAFT_BENCH_SF1", "1") != "0"
    if (
        run_sf1
        and os.path.isdir(SF1_DIR)
        # realpath compare: a symlink/relative/trailing-dot spelling of
        # the sf1 dir must not double-run the tier against itself
        and os.path.realpath(sf_dir) != os.path.realpath(SF1_DIR)
    ):
        top = list(
            dict.fromkeys(  # substitution can alias two slots to one
                SF1_SUBSTITUTE.get(n, n)
                for n, _ in sorted(timings.items(), key=lambda kv: -kv[1])
            )
        )[:SF1_TOP_N]
        # scale-argument queries ride along even when not in the top-N
        # (r12; see SF1_EXTRA) — additions only, never displacements
        top += [
            n for n in SF1_EXTRA if n in timings and n not in top
        ]
        sf1_build = _prebuild_memos(spark, tracer, "sf1", SF1_DIR)
        sf1_samples = time_tier("sf1", SF1_DIR, top, 1)
        sf1_timings = {name: s["runs"][0] for name, s in sf1_samples.items()}
        sf1 = {
            "dir": SF1_DIR,
            "total": round(sum(sf1_timings.values()), 3),
            "build_seconds": sf1_build,
            "queries": sf1_timings,
        }

    # closing probe: a cross-round riser is adjudicated by comparing its
    # runs against its segment's probe, no forensic re-run needed
    cal_timeline.append(cal_probe())
    spark.stop()
    t0 = time.time()
    groups = event_log_totals(EVENTS)
    size = sum(p.stat().st_size for p in EVENTS.iterdir())
    print(
        f"# event log: {size / 2**20:.1f} MB,"
        f" rolled up in {time.time() - t0:.1f}s",
        file=sys.stderr,
    )
    for tier, recs, n in (("q", samples_out, runs), ("sf1", sf1_samples, 1)):
        for name, rec in recs.items():
            rec |= _layers(groups, tier, name, n)

    # Full per-query timings go to a sidecar file; the stdout JSON line
    # stays small (the driver's round-1 capture truncated a ~4 KB line to
    # "parsed: null") — it carries the totals plus only the 10 slowest.
    # The unsuffixed BENCH_QUERIES.json is the CANONICAL sf0.1 table the
    # judge diffs round-to-round; a run at any other sf writes a
    # suffixed sidecar instead of clobbering it (an sf0.001 smoke run
    # once overwrote the sf0.1 table mid-round).
    suffix = "" if sf == "0.1" else f"_sf{sf}"
    queries_file = str(ROOT / f"BENCH_QUERIES{suffix}.json")
    with open(queries_file, "w") as fh:
        json.dump(timings, fh, indent=1, sort_keys=True)
    cal_med = _median(cal_timeline)
    drift_ratio = round(max(cal_timeline) / min(cal_timeline), 3)
    samples_file = str(ROOT / f"BENCH_SAMPLES{suffix}.json")
    with open(samples_file, "w") as fh:
        json.dump(
            {
                "calibration_timeline": cal_timeline,
                "calibration_t_start": cal_times,
                "cal_interval": _CAL_INTERVAL,
                "samples": samples_out,
                "sf1_samples": sf1_samples,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    out = {
        "metric": "total_query_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n_queries": len(timings),
        "calibration_sec": cal_med,
        "calibration_timeline": cal_timeline,
        "drift_ratio": drift_ratio,
        # shared-intermediate build steps, timed separately so no
        # query's number hides (or pays) them — see _prebuild_memos
        "build_seconds": build_steps,
        # each phase's per-query median, summed over the queries
        **{
            k: round(sum(_median(s[k]) for s in samples_out.values()), 3)
            for k in ("build_s", "exec_s")
        },
        "queries": slowest,
        "queries_file": queries_file,
        "samples_file": samples_file,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if sf1 is not None:
        out["sf1"] = sf1
    elif not os.path.isdir(SF1_DIR):
        out["sf1"] = "absent"  # say so: a missing tier must not pass silently
    # r12 (VERDICT r11 item 5 — de-noise the driver comparison): with
    # only the 10 slowest on stdout, consecutive rounds overlapped on
    # ~4 query names and the per-query PERF diff was mostly churn.
    # Keep ADDING next-slowest entries to `queries` while the
    # serialized line stays under a conservative byte budget (the
    # round-1 driver capture truncated a ~4 KB line, so stay well
    # clear) — additions only: the 10 slowest are always present, no
    # entry is ever removed or renamed, and every other field is
    # unchanged.
    _LINE_BUDGET = 3400
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1])[10:]:
        out["queries"][name] = sec
        if len(json.dumps(out)) > _LINE_BUDGET:
            del out["queries"][name]
            break
    print(json.dumps(out))


if __name__ == "__main__":
    main()
