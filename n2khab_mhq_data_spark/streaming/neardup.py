"""Streaming near-duplicate ingest gate (MinHash signature store).

The batch dedup tiers (llmdata/dedup.py) answer "which docs in THIS
corpus are near-dups"; an ingest pipeline needs the online question:
"is this NEW doc a near-dup of anything we already accepted?" — asked
continuously, without re-signaturing the accepted corpus per batch.

Shape per micro-batch (foreachBatch):

1. signature the batch once (shingles -> 64 min-agg minhash + the gram
   set for verification — the same combined aggregation as
   ``minhash_dedup_pairs``);
2. banded-LSH candidate join of batch signatures against the
   ACCUMULATED signature store (plus within-batch pairs), exact-Jaccard
   verification on candidates only;
3. emit a verdict row per batch doc (``is_dup``, ``dup_of`` = the
   ACCEPTED canonical doc reached by resolving matched-dup chains —
   never a doc gated out in the same batch);
4. extend the store with the batch's CANONICAL docs only (dups are
   gated out), via the atomic-rename swap shared with merge_stream.

Scale: the store is signatures + gram sets, not raw text; the batch
side is small, so the band join broadcasts it; store signatures are
never recomputed. State grows with the accepted corpus — at 100 TB
partition the store by band prefix so the candidate join prunes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from n2khab_mhq_data_spark.llmdata.dedup import (
    lsh_band_buckets,
    minhash_combined,
    minhash_lsh_candidates,
    shingle_table,
)
from n2khab_mhq_data_spark.operators.merge import incremental_merge
from n2khab_mhq_data_spark.streaming.incremental import (
    _fs_path,
    publish_state,
    publish_state_partitioned,
    read_state,
)

#: width of the store's doc-id range partitions: under the monotonic-id
#: contract a micro-batch's canonical docs land in the TOP range
#: partition(s), so the partitioned publish rewrites a bounded number of
#: partitions per trigger instead of the whole accumulated store
SIG_PART_WIDTH = 1_000_000


def _range_part(col: str):
    return F.floor(F.col(col) / SIG_PART_WIDTH).cast("long")


def _has_partition_dirs(s: SparkSession, path: str, col: str) -> bool:
    """True when ``path`` is laid out as hive partition dirs on ``col``
    — the precondition for a dynamic partition overwrite (a flat-file
    dir must take the full-swap publish instead, or the untouched flat
    files would be double-read next to the new partition dirs)."""
    fs, hpath = _fs_path(s, path)
    p = hpath(path)
    if not fs.exists(p):
        return False
    for st in fs.listStatus(p):
        if st.getPath().getName().startswith(col + "="):
            return True
    return False


def neardup_gate_stream(
    spark: SparkSession,
    source: DataFrame,
    sig_path: str,
    verdict_path: str,
    text_col: str,
    id_col: str,
    checkpoint: str,
    k: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 32,
) -> StreamingQuery:
    """readStream -> foreachBatch near-dup gate against a persistent
    MinHash signature store. Per-doc verdicts accumulate in
    ``verdict_path`` (a keyed state table, latest-wins — NOT an append
    log, so a replayed micro-batch rewrites the same rows instead of
    duplicating them); canonical (non-dup) signatures extend
    ``sig_path`` with a per-doc dedup for the same reason.
    Effectively-once under foreachBatch's at-least-once contract: every
    state transition is idempotent.

    Contract: doc ids are monotonically increasing across batches (the
    usual ingest sequence) — "dup of" always points at the SMALLER id,
    so an accepted doc is never retroactively demoted by a later
    arrival. The contract is ENFORCED per batch (min batch id must
    exceed the store's max id): a breach would silently route the pair's
    store doc to the batch side of the candidate prune and admit the
    near-dup as canonical, so it fails loudly instead. ``dup_of`` is
    resolved transitively, so it always names an ACCEPTED (stored) doc,
    never a doc gated out in the same batch."""

    def gate(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        # intra-batch duplicate-id guard: minhash_combined groups by
        # doc, so two same-id rows with DIFFERENT text would silently
        # sign a chimera gram set matching neither document — the id
        # contract says ids are unique, so enforce it loudly (one
        # batch-sized aggregation)
        dup_ids = [
            r[0]
            for r in batch.groupBy(F.col(id_col))
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") > 1)
            .limit(3)
            .collect()
        ]
        if dup_ids:
            raise ValueError(
                f"neardup gate id contract breach: duplicate ids within"
                f" one micro-batch {dup_ids} — each id must appear once"
            )
        # the gate runs TWO publish actions (verdicts, store) over the
        # same signature/verification pipeline; persist the batch
        # signatures and the (small) dup map so the 64-min-agg shingle
        # aggregation and the candidate verification run once, not per
        # action (the trending.py rerank precedent)
        bsig = minhash_combined(
            shingle_table(batch, text_col, id_col, k), num_hashes
        ).persist()
        dup_of = None
        # unpersist on EVERY exit (the ingest.py try/finally
        # shape): the id-contract guard and publish_state raise,
        # and a restarting query replaying the batch would pin
        # leaked cache entries on executors each restart
        try:
            store = read_state(s, sig_path)
            if store is not None:
                # signature-scheme version guard (ADVICE r9): the store
                # persists minhash_combined rows, whose 'grams' column
                # changed array<string> -> array<bigint> when
                # verification moved to xxhash64(gram) longs. A store
                # written under the old scheme would otherwise die at
                # ANALYSIS time inside the unionByName/array_intersect
                # below with an opaque type-mismatch — fail with a
                # regenerate instruction instead. (Re-hashing in place
                # is NOT possible: the old store holds gram strings,
                # but signatures h0..hN were already min-folded, so the
                # only consistent migration is re-signing the corpus.)
                want = dict(bsig.dtypes).get("grams")
                got = dict(store.dtypes).get("grams")
                if got != want:
                    raise ValueError(
                        f"neardup gate signature store at {sig_path} was"
                        f" written under an incompatible scheme (grams:"
                        f" {got}, current: {want}) — delete the store and"
                        " verdict state and re-run the stream from the"
                        " source to regenerate signatures"
                    )
                # enforce the monotonic-id contract: the candidate prune
                # below keys on "larger side is a batch doc", so a NEW batch
                # id below the store's max would silently drop its pairs and
                # admit a near-dup — fail loudly instead. Replays are exempt:
                # a re-delivered doc already has a verdict row, and the gate's
                # state transitions are idempotent for it. The guard costs a
                # 2-scalar agg (parquet min/max stats) and, only when the
                # ranges overlap, one anti-join against the verdict state.
                lo = bsig.agg(F.min("doc")).first()[0]
                hi = store.agg(F.max("doc")).first()[0]
                if lo is not None and hi is not None and lo <= hi:
                    prev_v = read_state(s, verdict_path)
                    offending = bsig.select("doc").filter(F.col("doc") <= hi)
                    if prev_v is not None:
                        offending = offending.join(
                            prev_v.select(F.col(id_col).alias("doc")),
                            "doc",
                            "anti",
                        )
                    bad = [r.doc for r in offending.limit(3).collect()]
                    if bad:
                        raise ValueError(
                            f"neardup gate id contract breach: never-seen"
                            f" batch doc ids {bad} <= store max doc id {hi};"
                            " ingest ids must be monotonically increasing"
                            " across batches"
                        )
            sig_cols = [c for c in bsig.columns]
            pool = (
                bsig
                if store is None
                else store.select(*sig_cols).unionByName(bsig)
            )
            # ASYMMETRIC candidate generation — per-batch shuffle cost
            # must scale with the BATCH, not the accumulated store:
            # within-batch pairs via the normal banded self-join of the
            # (small) batch signatures, and store x batch pairs by
            # joining the batch's band buckets (broadcast) against the
            # store's band-bucket PROJECTION — no groupBy/collect_list
            # over the store's 32-bands-per-doc rows per trigger, and
            # store-store buckets are never materialized at all. The
            # monotonic-id contract makes every store id < every batch
            # id, so d1 < d2 holds by construction on the store leg.
            bb = minhash_lsh_candidates(bsig, num_hashes, bands).select(
                "d1", "d2"
            )
            if store is None:
                cand = bb
            else:
                qbk = lsh_band_buckets(bsig, num_hashes, bands).select(
                    F.col("doc").alias("d2"), "band", "bh"
                )
                sbk = lsh_band_buckets(
                    store.select(*sig_cols), num_hashes, bands
                )
                bs = (
                    sbk.join(F.broadcast(qbk), ["band", "bh"])
                    .select(F.col("doc").alias("d1"), "d2")
                    # strict inequality, matching minhash_lsh_candidates:
                    # the monotonic-id contract makes store ids < batch
                    # ids for NEW docs, but on a foreachBatch REPLAY the
                    # store already holds the batch's docs with EQUAL
                    # ids — without this filter each replayed doc pairs
                    # with itself at Jaccard 1, dup_of maps it to
                    # itself, and the pointer-jump loop never terminates
                    .filter(F.col("d1") < F.col("d2"))
                    .distinct()
                )
                cand = bs.unionByName(bb).distinct()
            # SHUFFLE_MERGE: the pool is store+batch signatures —
            # doc-grain, growing without bound across triggers — and the
            # no-stats union invites the planner to broadcast it into
            # the verification joins (the prefix_filter 10x-tier OOM
            # class, r10 plan audit BCAST_DERIVED). The qbk broadcast
            # above is different: BATCH band buckets, bounded by the
            # micro-batch, broadcast deliberately.
            g1 = pool.hint("shuffle_merge").select(
                F.col("doc").alias("d1"), F.col("grams").alias("g1")
            )
            g2 = pool.hint("shuffle_merge").select(
                F.col("doc").alias("d2"), F.col("grams").alias("g2")
            )
            inter = F.size(F.array_intersect("g1", "g2"))
            union = F.size("g1") + F.size("g2") - inter
            # a batch doc is a dup of any matched SMALLER doc id (store ids
            # precede batch ids under the monotonic-id contract; within-batch
            # ties resolve to the smaller id, which stays canonical) — d1 < d2
            # by construction
            dup_of = (
                cand.join(g1, "d1")
                .join(g2, "d2")
                .filter(inter.cast("double") / union > threshold)
                .groupBy(F.col("d2").alias("doc"))
                .agg(F.min("d1").alias("dup_of"))
                .persist()
            )
            # resolve transitive chains (A<B<C where C matched only B and B
            # matched A): a dup_of target flagged in the SAME batch is not
            # stored, so pointer-jump the tiny per-batch dup map until every
            # target is an accepted doc — each pass at least halves chain
            # length, and dup_of strictly decreases so the loop terminates
            while True:
                parent = dup_of.select(
                    F.col("doc").alias("dup_of"), F.col("dup_of").alias("next")
                )
                jumped = (
                    dup_of.join(parent, "dup_of", "left")
                    .select(
                        "doc", F.coalesce("next", "dup_of").alias("dup_of")
                    )
                    .persist()
                )
                unresolved = (
                    jumped.join(
                        jumped.select(F.col("doc").alias("dup_of")),
                        "dup_of",
                        "semi",
                    )
                    .limit(1)
                    .count()
                )
                dup_of.unpersist()
                dup_of = jumped
                if unresolved == 0:
                    break
            batch_verdicts = (
                bsig.select("doc")
                .join(dup_of, "doc", "left")
                .select(
                    F.col("doc").alias(id_col),
                    F.col("dup_of").isNotNull().alias("is_dup"),
                    "dup_of",
                )
            )
            # BOTH states publish PARTITIONED by doc-id range, rewriting
            # only the partitions the batch touches: under the
            # monotonic-id contract those are the top range partition(s),
            # so per-trigger write IO is bounded by the batch + one
            # partition's residents — a full-store rewrite per batch
            # would make lifetime IO quadratic in the accepted corpus.
            prev_verdicts = read_state(s, verdict_path)
            if prev_verdicts is not None and "vpart" in prev_verdicts.columns:
                prev_verdicts = prev_verdicts.drop("vpart")
            v_incr = prev_verdicts is not None and _has_partition_dirs(
                s, verdict_path, "vpart"
            )
            # total-order tiebreak (dedup_keep_latest contract): replays are
            # identical rows, and a contract-breaching re-ingest resolves
            # DETERMINISTICALLY to the dup-flagged / smallest-dup_of row
            # instead of flip-flopping per run. In the incremental
            # (partitioned) path the merge only needs the prev rows of
            # the TOUCHED id-range partitions — everything else is
            # untouched on disk.
            if prev_verdicts is None:
                new_verdicts = batch_verdicts
            else:
                prev_side = prev_verdicts
                if v_incr:
                    prev_side = prev_verdicts.join(
                        batch_verdicts.select(
                            _range_part(id_col).alias("__p")
                        ).distinct(),
                        _range_part(id_col) == F.col("__p"),
                        "semi",
                    )
                new_verdicts = incremental_merge(
                    prev_side,
                    batch_verdicts,
                    [id_col],
                    ["is_dup DESC", "dup_of ASC NULLS LAST"],
                )
            new_verdicts = new_verdicts.withColumn(
                "vpart", _range_part(id_col)
            )
            if v_incr:
                publish_state_partitioned(
                    s, verdict_path, new_verdicts, "vpart"
                )
            else:  # bootstrap / one-time flat->partitioned migration
                publish_state(s, verdict_path, new_verdicts, "vpart")
            # canonical store: the batch's canon rows merge into their
            # touched partitions only (replay: the partition already
            # holds this batch's rows — dropDuplicates converges)
            s_incr = store is not None and _has_partition_dirs(
                s, sig_path, "sig_part"
            )
            batch_canon = bsig.join(
                dup_of.select("doc"), "doc", "anti"
            ).withColumn("sig_part", _range_part("doc"))
            if store is None:
                keep = batch_canon
            else:
                store_p = store
                if "sig_part" not in store_p.columns:
                    store_p = store_p.withColumn(
                        "sig_part", _range_part("doc")
                    )
                if s_incr:
                    store_p = store_p.join(
                        batch_canon.select("sig_part").distinct(),
                        "sig_part",
                        "semi",
                    )
                keep = store_p.unionByName(batch_canon).dropDuplicates(
                    ["doc"]
                )
            if s_incr:
                publish_state_partitioned(s, sig_path, keep, "sig_part")
            else:  # bootstrap / one-time flat->partitioned migration
                publish_state(s, sig_path, keep, "sig_part")
        finally:
            bsig.unpersist()
            if dup_of is not None:
                dup_of.unpersist()

    return (
        source.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
