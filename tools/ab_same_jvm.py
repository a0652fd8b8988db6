#!/usr/bin/env python
"""Same-JVM alternating A/B for perf rewrites — the drift-proof protocol.

Usage:
    python tools/ab_same_jvm.py <sf_dir> <variant.py> [<variant.py> ...]
        [--runs N] [--fn minhash_dedup_pairs]

Each <variant.py> is a full copy of ``n2khab_mhq_data_spark/llmdata/
dedup.py`` (e.g. ``git show r9:…/dedup.py > /tmp/a.py`` plus an edited
``/tmp/b.py``). All variants are loaded as separate modules into ONE
SparkSession; their plans are built once, warmed once, then timed in
STRICT ALTERNATION (a, b, a, b, …) for ``--runs`` rounds; per-variant
medians and mins are printed. Each timed sample builds the variant's
plan and writes it to the ``noop`` sink (``tools/timing.py``), and the
warm-up collects every variant's rows and requires them equal after
``tools/check.py``'s normalization (an A/B that changes the answer is a
bug, not a speedup).

Why this exists (r10): separate-process warm medians on this box swing
±20-40% on identical code over minutes (BENCH_r09's ten false risers;
this round, the SAME pair of minhash-routing variants ordered
both ways across four separate-process A/B sessions). Alternating runs
inside one JVM removes the two dominant noise sources — per-process
JIT/codegen state and minutes-scale host drift (both variants sample
the same drift window, so the DIFFERENCE is clean even when the level
moves). With it, 5-7 rounds resolve ~5% effects that separate-process
medians cannot see at all; it is how the r9 VERDICT's suggested
post-aggregation rewrite of ``minhash_lsh_candidates`` was shown to be
a regression (+34% at sf1.0) and the incumbent window shape shown to be
within ~1.05x of the no-routing floor, retiring the '+24% routing
overhead' item as drift.

The technique requires the rewrite to be contained in one module whose
functions take DataFrames (true for the llmdata/operators families);
rewrites spanning the plans/ registry still need the stash-and-rerun
protocol, paired tightly and repeated both orders.
"""

from __future__ import annotations

import argparse
import importlib.util
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from n2khab_mhq_data_spark.catalog import load  # noqa: E402
from n2khab_mhq_data_spark.session import get_spark  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402
from tools.check import normalize  # noqa: E402
from tools.timing import sample  # noqa: E402

# call shapes per comparable function: build the query DataFrame from
# (module, docs). Extend as rewrites target other families.
SHAPES = {
    "minhash_dedup_pairs": lambda m, docs: m.minhash_dedup_pairs(
        docs, "text", "doc_id", k=3, threshold=0.8, num_hashes=64, bands=32
    ),
    "prefix_filter_pairs": lambda m, docs: m.prefix_filter_pairs(
        docs, "text", "doc_id", threshold=0.8
    ),
    "ngram_jaccard_pairs": lambda m, docs: m.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.8
    ),
    "ngram_capped_pairs": lambda m, docs: m.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.8, max_doc_freq=20
    ),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("variants", nargs="+")
    ap.add_argument("--runs", type=int, default=7)
    ap.add_argument("--fn", default="minhash_dedup_pairs",
                    choices=sorted(SHAPES))
    args = ap.parse_args()

    mods = {}
    for k, path in enumerate(args.variants):
        # key by index + stem: two variants named dedup.py in different
        # dirs must NOT collide into one entry (the tool would then
        # compare a variant against itself and print a false
        # 'no difference' — the exact wrong adjudication it exists to
        # prevent)
        name = f"{k}:{Path(path).stem}"
        spec = importlib.util.spec_from_file_location(f"ab_v{k}", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        mods[name] = mod

    spark = get_spark("ab")
    docs = load(spark, args.sf_dir, "documents")
    shape = SHAPES[args.fn]
    # factories, not pre-built plans: a variant whose plan pins an
    # intermediate (localCheckpoint) would otherwise materialize once at
    # warm-up and every timed sample would ride the cached blocks — the
    # bench protocol rebuilds the DataFrame per sample, so the A/B must
    # too (r11: caught overstating a checkpoint rewrite 0.06x vs its
    # honest 0.48x)
    factories = {k: (lambda m=m: shape(m, docs)) for k, m in mods.items()}
    order = list(factories)
    rows = {}
    for k, f in factories.items():  # warm + verify
        df = f()
        rows[k] = normalize([tuple(r) for r in df.collect()], df.columns)
    if any(r != rows[order[0]] for r in rows.values()):
        counts = {k: len(r) for k, r in rows.items()}
        raise SystemExit(f"variants disagree on rows (counts {counts})")
    tracer = Tracer(spark)
    samples: dict[str, list[tuple[float, float]]] = {k: [] for k in factories}
    for r in range(args.runs):
        # serpentine: a,b then b,a — a fixed within-round order would
        # hand the same variant the post-GC/cleaner-backlog slot every
        # round, a small systematic bias alternation alone can't cancel
        # (r11 adversarial review of this tool)
        for k in order if r % 2 == 0 else reversed(order):
            samples[k].append(sample(tracer, f"ab{r}", k, factories[k]))
    for k, bes in samples.items():
        ts = [b + e for b, e in bes]
        print(
            f"{k}: median={statistics.median(ts):.2f}s min={min(ts):.2f}s"
            f" build={statistics.median(b for b, _ in bes):.2f}s"
            f" exec={statistics.median(e for _, e in bes):.2f}s"
            f" rows={len(rows[k])} runs={[round(t, 2) for t in ts]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
