#!/usr/bin/env python
"""Empirical scaling probe — run headline queries at sf0.001 / sf0.01 /
sf0.1 in ONE warm session and report how wall-clock grows with data size.

The point: SCALE.md argues each family's plan shape is linear (or
n log n) in input; this tool MEASURES it. A query whose 0.01→0.1 ratio
(10x data) is far above ~10x has a super-linear stage hiding somewhere
and gets flagged.

Interpreting local[32] numbers: at these SFs per-query time is a mix of
fixed scheduling overhead (dominates at sf0.001) and real data work, so
ratios are *upper-bounded* by the asymptotic slope — we flag only
ratios well above the data growth factor.

Each tier's time is one sample (``tools/timing.py``): the query's plan
build plus a write of its result to the ``noop`` sink, so the full plan
runs at every scale. An unknown query name exits 2 before the session
starts.

Usage: python tools/scale_probe.py [query ...]   (default: headline set)
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from n2khab_mhq_data_spark.session import get_spark  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402
from tools.make_sf1 import DST as SF1  # noqa: E402
from tools.timing import sample  # noqa: E402

# one representative per family, biased toward the shapes with
# quadratic risk (pair generation, self-joins, iterative graph passes)
HEADLINE = [
    "p3_null_domain_filter",      # map-only scan
    "a2_min_max_sum",             # one-shuffle agg
    "w2_keep_latest",             # window
    "j3_chained_left_join",       # broadcast-dim joins
    "k7_lsvi_globaal",            # layered agg kernel
    "k9_reconciliation_cascade",  # multi-join cascade
    "dedup_exact",                # content-hash groupBy
    "dedup_minhash_lsh",          # banded LSH pair generation
    "dedup_ngram_capped",         # capped gram self-join
    "dedup_components_twophase",  # un-memoized min-label CC loop
    "ann_lsh_topk",               # bucketed ANN
    "text_tfidf_topk",            # explode + window
    "pipeline_end_to_end",        # composed corpus-prep flow
    "graph_triangle_stats",       # oriented triangle join
    "link_sorted_neighborhood",   # blocked window linkage
    "graph_pagerank",             # iterative joins (1 shuffle/round)
    "pipeline_leakage_safe_split",  # components + split attach
    "ts_ewma",                    # Arrow grouped map (pinned dispatch)
    # the rest of the r3-bench top-10 most expensive queries: where a
    # hidden quadratic would cost the most
    "dedup_component_sizes",      # exact-pair edges + CC + histogram
    "ann_ivf_topk",               # IVF inverted-list rerank
    "dedup_lsh_recall_audit",     # exact pairs vs banded capture
    "dedup_components",           # single-phase min-label CC
    "k7_lsvi_species",            # species-branch rule engine
    "ann_ivf_multiprobe",         # nprobe=2 closure routing (r4)
    "spatial_knn_join",           # grid kNN with runtime exactness guard
    "events_trending_topk",       # windowed leaderboard (batch leg)
    # r5 additions
    "multimodal_image_stats",     # real PNG encode+decode Arrow passes
    "multimodal_audio_stats",     # real WAV encode+decode Arrow passes
    "multimodal_video_frames",    # AVI demux + per-frame JPEG decode
    "s7_gpkg_distributed",        # GPKG write + rowid-window read + WKT
    "graph_link_prediction",      # wedge join + anti join (r4 top-10)
    "text_bm25_topk",             # postings shuffle + pruned retrieval (r5)
    "sim_rrf_fusion",             # BM25 + cosine legs fused (r5)
    "text_char_entropy",          # zero-shuffle HOF fold (r5)
    "s11_jsonl_roundtrip",        # JSONL write + text/from_json read (r5)
    "o3_global_rank",             # TeraSort two-pass global ranking (r5)
    "graph_lpa_communities",      # 1 shuffle per LPA round (r5)
    "multimodal_image_dedup",     # real decode + dHash + hash groupBy (r5)
    "text_chunk_stitch",          # chunk fan-out + doc-grain stitch (r5)
    "dedup_prefix_filter",        # AllPairs prefix self-join (r5)
    "j13_interval_overlap_binned",  # binned interval-overlap join (r5)
    "link_edit_distance_join",    # deletion-neighborhood variant join (r5)
    "sketch_hll_merge_rollup",    # register build + max-merge rollup (r5)
    "ann_jl_distortion",          # 28KB unrolled projection expr (r5)
    "ann_pca_compress",           # Gram partials + Arrow projection (r5)
    "audit_table_profile",        # one-pass profile (Expand distinct) (r5)
    # r5 part-2 additions
    "graph_kcore",                # 12 bounded peel rounds (r5)
    "graph_item_cf_topk",         # pair-list CF + per-item window (r5)
    "sketch_kmv_distinct",        # distinct + per-group k-min window (r5)
    "streaming_late_data_audit",  # distributed exclusive prefix max (r5)
    "audit_equidepth_histogram",  # TeraSort rank + closed-form bins (r5)
    "dedup_overlap_fraction",     # broadcast-bench gram ratio (r5)
    "tpch_q1_pricing_summary",    # pruned-scan single-pass agg (r5)
    "tpch_q18_large_volume_customer",  # aggregate-then-join (r5)
    "j14_scd2_point_in_time",     # interval-predicate PIT equi-join (r5)
    "ts_mann_kendall",            # day-grain pair stats (r5)
    "a19_weighted_median",        # grouped distributed cumsum (r5)
    "w13_pareto_abc",             # single-group global cumsum (r5)
    "events_dau_wau_stickiness",  # cover-explode sliding distinct (r5)
    "pipeline_contrastive_triplets",  # pair memo + anti-join gates (r5)
    "a21_corr_matrix",            # one-pass DECIMAL(38) moments (r5)
    "j16_nearest_event_join",     # union-stream nearest pick (r5)
    "pipeline_curation_v2",       # composed 3-signal funnel (r5)
    "s13_hive_partition_prune",   # partition-pruned store read (r5)
    "a22_gini_spend",             # TeraSort rank + DECIMAL sums (r5)
    # r6 additions
    "link_edit_distance_join_blocked",  # blocked deletion-join headline (r6)
    "tpch_q9_product_type_profit",      # multi-fact star, AQE broadcast (r6)
    "tpch_q2_min_cost_supplier",        # decorrelated window-min vs
                                        # correlated-subquery oracle (r6)
    "ml_roc_auc",                       # score-grid groupBy + grid window
]

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
       "/root/testdata/sf0.1"]


def main() -> int:
    names = sys.argv[1:] or HEADLINE
    import __spark_entry__ as entry

    qs = entry.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark()
    tracer = Tracer(spark)
    # warm the JVM + parquet footers so sf0.001 isn't charged the
    # session fixed costs
    sample(tracer, "warm", "p1_select_rename",
           lambda: qs["p1_select_rename"](spark, SFS[0]))

    sfs = list(SFS)
    # optional 4th tier: the 0.1 -> 1.0 leg (tools/make_sf1.py output) —
    # the slope where a hidden quadratic would first dominate real work
    if Path(SF1).is_dir():
        sfs.append(SF1)
        print("sf1.0 tier found — probing the 0.1 -> 1.0 leg too")

    rows = []
    for name in names:
        times = [
            sum(sample(tracer, Path(sf).name, name,
                       lambda: qs[name](spark, sf)))
            for sf in sfs
        ]
        r_mid = times[1] / times[0] if times[0] > 0 else float("nan")
        r_big = times[2] / times[1] if times[1] > 0 else float("nan")
        # 10x data; flag only clearly super-linear growth (>2x slope)
        flag = "SUPER-LINEAR" if r_big > 20 else ""
        row = {
            "query": name,
            "sf0.001_s": round(times[0], 2),
            "sf0.01_s": round(times[1], 2),
            "sf0.1_s": round(times[2], 2),
            "ratio_0.01/0.001": round(r_mid, 1),
            "ratio_0.1/0.01": round(r_big, 1),
        }
        tail = f"x{r_big:5.1f}"
        if len(times) > 3:
            r_sf1 = times[3] / times[2] if times[2] > 0 else float("nan")
            row["sf1.0_s"] = round(times[3], 2)
            row["ratio_1.0/0.1"] = round(r_sf1, 1)
            # at this leg real data work dominates scheduling overhead,
            # so linear shapes approach ~10x for 10x data — flag only
            # clearly super-linear growth
            if r_sf1 > 20:
                flag = "SUPER-LINEAR"
            tail += f" x{r_sf1:5.1f}"
        row["flag"] = flag
        rows.append(row)
        print(
            f"{name:28s} "
            + " ".join(f"{t:6.2f}" for t in times)
            + f"   {tail} {flag}"
        )

    n_flag = sum(1 for r in rows if r["flag"])
    if sys.argv[1:]:
        # subset run (explicit query args): never clobber the canonical
        # full-run artifact with a partial table — the same guard
        # bench.py applies to BENCH_QUERIES.json
        out = Path(__file__).resolve().parent.parent / "SCALE_PROBE_subset.json"
        out.write_text(json.dumps(rows, indent=1))
        print(
            f"\n{len(rows)} queries probed, {n_flag} flagged;"
            f" subset run -> {out} (canonical SCALE_PROBE.json untouched)"
        )
        return 1 if n_flag else 0
    out = Path(__file__).resolve().parent.parent / "SCALE_PROBE.json"
    out.write_text(json.dumps(rows, indent=1))
    print(f"\n{len(rows)} queries probed, {n_flag} flagged; -> {out}")
    return 1 if n_flag else 0


if __name__ == "__main__":
    sys.exit(main())
