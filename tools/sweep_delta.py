#!/usr/bin/env python
"""Incremental sf1.0 differential sweep (round-9 VERDICT item 7).

The full 298-query sf1.0 sweep costs ~2 h; per round only queries whose
PLAN changed need re-proving at 10x scale. This tool fingerprints every
registered query's canonicalized logical plan (expression ids and column
names normalized away by Spark itself; schema appended so pure renames
still register) and diffs against the committed baseline
``tools/plan_fingerprints.json``:

    python tools/sweep_delta.py --update         # refresh baseline (round end)
    python tools/sweep_delta.py                  # print changed queries
    python tools/sweep_delta.py --rotate 12 --seed 9
        # changed + a deterministic 12-query rotating sample for round 9
    python tools/sweep_delta.py --run [sf_dir]   # and sweep them via check.py

Plan build plus the shared steps and checkpoints each build runs (at
sf0.001), so the fingerprint pass costs ~2 min.
The rotating sample guards against drift the fingerprint can't see
(engine version, data regen, conf changes): over ~25 rounds the rotation
covers the whole registry.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.make_sf1 import DST as SF1_DIR  # noqa: E402

BASELINE = Path(__file__).resolve().parent / "plan_fingerprints.json"
FP_SF_DIR = "/root/testdata/sf0.001"  # fingerprints only need a schema-true dir
# The core count is part of many plans (shuffle.partitions, repartition by
# defaultParallelism), so fingerprints are taken on a fixed one: a baseline
# made on another machine would otherwise differ in dozens of queries.
FP_CPUS = 4


def _normalize(plan: str) -> str:
    """Renumber exprIds (#123 -> #e0, #e1, ... in first-appearance order)
    and lambda variables (x_17 -> x_l0, ...: Spark names them from a
    JVM-wide counter, so the suffix counts the lambdas of every earlier
    build) so the fingerprint survives session-dependent id allocation
    and the order the queries are built in. The RAW analyzed plan is
    used, NOT Spark's canonicalized() form: canonical-
    ization reorders commutative operand chains (multicommutativeop) by
    expression hashCode, which is NOT stable across JVM launches — the
    unrolled 64-term dot products of the ann_* family fingerprinted
    differently every session until this switch."""
    import re

    ids: dict[str, str] = {}
    lambdas: dict[str, str] = {}

    def sub(m: "re.Match[str]") -> str:
        return ids.setdefault(m.group(0), f"#e{len(ids)}")

    def sub_lambda(m: "re.Match[str]") -> str:
        return lambdas.setdefault(
            m.group(0), f"{m.group(1)}_l{len(lambdas)}"
        )

    plan = re.sub(r"(?<=lambda )(\w+?)_\d+(?=#)", sub_lambda, plan)
    return re.sub(r"#\d+", sub, plan)


def _analyzed(df) -> str:
    return _normalize(df._jdf.queryExecution().analyzed().toString())


def fingerprints() -> dict[str, str]:
    """{query: md5 of its analyzed plan, schema and the analyzed plan of
    every frame its build checkpoints}. A checkpointed frame shows up
    downstream only as a ``LogicalRDD``, so without the recorded plans
    an edit above a checkpoint would leave the fingerprint unchanged.
    The shared build steps are rebuilt for every query, so each query
    records its own inputs whatever ran before it."""
    from n2khab_mhq_data_spark import plans
    from n2khab_mhq_data_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark(cpus=FP_CPUS)
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame
    checkpointed: list[str] = []
    local_checkpoint = frame_cls.localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        checkpointed.append(_analyzed(self))
        return local_checkpoint(self, *args, **kwargs)

    frame_cls.localCheckpoint = recording_checkpoint
    fps = {}
    try:
        for name, fn in sorted(entry.queries().items()):
            plans._SHARED_VALUES.clear()
            checkpointed.clear()
            try:
                df = fn(spark, FP_SF_DIR)
                parts = [_analyzed(df), df.schema.json(), *checkpointed]
                fps[name] = hashlib.md5(
                    "\n".join(parts).encode()
                ).hexdigest()
            except Exception as exc:  # a broken build must surface
                fps[name] = f"BUILD_ERROR:{type(exc).__name__}"
    finally:
        frame_cls.localCheckpoint = local_checkpoint
    return fps


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--update", action="store_true",
                    help="write current fingerprints as the new baseline")
    ap.add_argument("--rotate", type=int, default=0,
                    help="add a deterministic N-query rotating sample")
    ap.add_argument("--seed", type=int, default=0,
                    help="rotation round index (use the round number)")
    ap.add_argument("--run", nargs="?", const=SF1_DIR, default=None,
                    help="run tools/check.py at this sf dir on the selection")
    args = ap.parse_args()

    fps = fingerprints()
    if args.update:
        # refuse to bake a broken build into the baseline: a
        # BUILD_ERROR fingerprint would diff CLEAN next round (same
        # error -> same string) and the broken query would silently
        # drop out of the sweep forever (r10 adversarial review)
        broken = sorted(
            n for n, fp in fps.items() if str(fp).startswith("BUILD_ERROR")
        )
        if broken:
            raise SystemExit(
                f"--update refused: {len(broken)} queries fail to build"
                f" ({', '.join(broken[:5])}{'...' if len(broken) > 5 else ''})"
                " — fix them first, a BUILD_ERROR baseline would exempt"
                " them from every future sweep"
            )
        BASELINE.write_text(json.dumps(fps, indent=1, sort_keys=True) + "\n")
        print(f"baseline updated: {len(fps)} fingerprints -> {BASELINE}")
        return

    base = json.loads(BASELINE.read_text()) if BASELINE.exists() else {}
    changed = sorted(
        n for n, fp in fps.items() if base.get(n) != fp
    )
    removed = sorted(set(base) - set(fps))
    sample: list[str] = []
    if args.rotate:
        stable = sorted(set(fps) - set(changed))
        # deterministic rotation: md5(seed, name) orders the registry
        # differently each round; over ceil(N/rotate) rounds every
        # query is sampled at least once
        stable.sort(
            key=lambda n: hashlib.md5(f"{args.seed}:{n}".encode()).hexdigest()
        )
        sample = stable[: args.rotate]
    print(json.dumps({
        "changed": changed,
        "removed": removed,
        "rotating_sample": sample,
        "total_registered": len(fps),
    }, indent=1))
    target = changed + sample
    if args.run and target:
        sys.stdout.flush()
        rc = subprocess.call(
            [sys.executable, str(Path(__file__).parent / "check.py"),
             args.run, *target]
        )
        sys.exit(rc)


if __name__ == "__main__":
    main()
