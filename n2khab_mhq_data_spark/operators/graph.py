"""Co-occurrence graph analytics — degree / wedge / triangle statistics.

The near-dup dedup family (llmdata/dedup.py) already builds similarity
*graphs* (candidate pairs -> connected components); this module adds the
read-side analytics a curation pipeline runs over such graphs before
deciding thresholds: degree distributions (how connected is the corpus?)
and triangle / clustering statistics (are candidate pairs transitive —
i.e. will component-based canonicalization over-merge?).

The same operators apply to any co-occurrence graph; the registered
queries exercise them on the TPC-H-ish co-purchase graph (parts that
appear in the same order), which is the classic market-basket shape.

Scale design (100 TB):

- Edge generation is a self-join co-partitioned on the group key
  (one shuffle each side); fan-out per group is bounded by the group's
  item count, so there is no global quadratic blow-up — the pair count
  is sum_g n_g^2, controlled by the natural group size (order lines
  here, LSH bucket size in dedup). Hot groups would be capped upstream
  exactly like ``dedup.py``'s ``max_doc_freq`` cap.
- Triangle counting uses the degree-ordered orientation (the
  node-iterator++ / Suri-Vassilvitskii MapReduce formulation): every
  edge is directed from the (degree, node)-smaller endpoint to the
  larger, which bounds every out-neighborhood by O(sqrt(m)) and keeps
  the path-join skew-free even on power-law graphs. The count is
  identical to the naive a<b<c enumeration, which is what the DuckDB
  oracle runs.
- All statistics are algebraic aggregates (sums over per-node partials)
  — map-side combinable, one shuffle per groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_support: int = 1,
    keep_support: bool = False,
) -> DataFrame:
    """Distinct undirected co-occurrence edges ``(a, b)`` with ``a < b``:
    two items are linked when they appear under at least ``min_support``
    common group keys.

    ``min_support`` is the market-basket noise gate and the *scale
    control*: on a random co-occurrence graph almost all pairs have
    support 1, so ``min_support=2`` shrinks the edge set by orders of
    magnitude before any downstream graph pass — the same role
    ``max_doc_freq`` plays for n-gram dedup. One shuffle on
    ``group_col`` for the dedup + self-join (AQE picks the strategy);
    one shuffle on the pair for the support count (map-side combinable).
    """
    items = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("a")
    ).distinct()
    right = items.select(F.col("g"), F.col("a").alias("b"))
    out = (
        items.join(right, "g")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    return out if keep_support else out.select("a", "b")


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree of an undirected ``(a, b)`` edge list (each edge
    counted once per endpoint)."""
    both = edges.select(F.col("a").alias("node")).unionAll(
        edges.select(F.col("b").alias("node"))
    )
    return both.groupBy("node").agg(F.count("*").alias("degree"))


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Degree distribution: ``(degree, n_nodes)`` — the first thing to
    look at before running components on a candidate graph (a heavy tail
    here predicts giant-component over-merge)."""
    return (
        degrees(edges)
        .groupBy("degree")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Single-row global graph statistics: nodes, edges, wedges (open
    2-paths), triangles, and the global clustering coefficient
    ``3*triangles / wedges``.

    Triangles via degree-ordered orientation: edge ``{u, v}`` is directed
    ``u -> v`` iff ``(deg(u), u) < (deg(v), v)``; a triangle is a
    directed path ``u -> v -> w`` closed by the edge ``u -> w``. Every
    triangle is counted exactly once, and out-degrees are O(sqrt(m)),
    so the two joins below stay balanced even when a stop-item links a
    large fraction of all groups.

    The edge list feeds five consumers (degrees, both orientation
    joins, the path join, the closing join), so pass a materialized
    frame (the registered caller hands in the checkpointed co-purchase
    edges); an unmaterialized one re-runs its upstream per consumer.
    """
    deg = degrees(edges).localCheckpoint()
    da = deg.select(
        F.col("node").alias("a"), F.col("degree").alias("deg_a")
    )
    db = deg.select(
        F.col("node").alias("b"), F.col("degree").alias("deg_b")
    )
    with_deg = edges.join(da, "a").join(db, "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    paths = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        "v",
    )
    closing = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w")
    )
    tri = paths.join(closing, ["u", "w"]).agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )
    node_stats = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        # integer DIV, not /: bigint / 2 is a DOUBLE quotient in Spark,
        # so the summed wedge count would silently lose low-order bits
        # past 2^53 (a hub of degree ~1.35e8 alone crosses it);
        # d*(d-1) is always even, so DIV 2 is exact
        F.sum(F.expr("degree * (degree - 1) DIV 2"))
        .cast("bigint")
        .alias("n_wedges"),
    )
    edge_stats = edges.agg(F.count("*").cast("bigint").alias("n_edges"))
    # three 1-row frames: cross join is trivially safe
    out = node_stats.crossJoin(edge_stats).crossJoin(tri)
    return out.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        # +1e-9 knife-edge shield (repo-wide convention): 3T/W can land
        # on an exactly-representable 7-decimal midpoint where Spark
        # HALF_UP and DuckDB half-even disagree (e.g. 3/384 = 0.0078125)
        F.round(
            F.lit(3.0)
            * F.col("n_triangles")
            / F.when(F.col("n_wedges") > 0, F.col("n_wedges"))
            + F.lit(1e-9),
            6,
        ).alias("global_cc"),
    )


def label_propagation(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. '07) over an
    undirected ``(a, b)`` edge list: every node starts labeled with its
    own id; each of the ``iters`` rounds relabels every node with the
    most frequent label among its neighbours, ties broken toward the
    SMALLEST label. Finds density-based communities — a different
    grouping than connected components (which merge through any single
    bridge edge), and the cheap first cut at "near-dup neighbourhoods"
    / item communities in a co-purchase graph.

    Determinism: synchronous updates + fixed iteration count + min-label
    tie-break make the result a pure integer function of the edge list,
    so a SQL oracle unrolls the same rounds exactly. Scale: the directed
    edge list is built once and localCheckpoint'ed; every round is ONE
    shuffle (labels join edges on src — shuffle_hash, no per-round sort
    — then a map-side-combinable count per (dst, label) and a bounded
    per-dst argmax window). Labels are relabeled per round, never
    accumulated, so state stays one row per node."""
    de = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .repartition("src")
        .localCheckpoint()
    )
    labels = de.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = W.partitionBy("dst").orderBy(
        F.col("n").desc(), F.col("label").asc()
    )
    for _ in range(iters):
        counts = (
            de.join(
                labels.hint("shuffle_hash"), de["src"] == labels["node"]
            )
            .groupBy("dst", "label")
            .agg(F.count("*").alias("n"))
        )
        labels = (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col("dst").alias("node"), "label")
        )
    return labels.select("node", F.col("label").alias("community"))


def pagerank(edges: DataFrame, iters: int = 3, damping: float = 0.85) -> DataFrame:
    """PageRank over an undirected ``(a, b)`` edge list (each edge walked
    in both directions), fixed ``iters`` power iterations with uniform
    1/n initialization — the importance ranking a curation pipeline uses
    to pick canonical representatives inside near-dup components (keep
    the best-connected doc) or to weight hub items in a co-purchase
    graph.

    Scale design (100 TB): the classic Spark PageRank shape —
    ``de`` (directed edge list) and per-source out-degree are built once
    and localCheckpoint'ed, so every iteration is ONE shuffle: join
    current ranks to the edge list on ``src`` (both sides hash-partition
    on the same key, and AQE reuses the exchange), then groupBy ``dst``
    with a map-side-combinable sum. No driver-side state beyond the
    node-count scalar (one long). Undirected edges mean every node has
    degree >= 1, so there is no dangling-mass term to redistribute.
    Convergence-by-tolerance would add a per-iteration driver sync;
    fixed iteration count keeps the job a static DAG.
    """
    de = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint()
    )
    # checkpointed: deg feeds THREE materializations (the adj
    # checkpoint, n = deg.count(), the ranks init) — without the pin
    # each one re-runs the full-edge-list shuffle (triangle_stats
    # checkpoints its deg for the same multi-consumer reason)
    deg = de.groupBy("src").agg(F.count("*").alias("d")).localCheckpoint()
    # edge list + out-degree, hash-partitioned on the join key ONCE and
    # checkpointed: every iteration's ranks join then reshuffles only the
    # (small) ranks side onto adj's existing partitioning, and the
    # shuffle_hash hint skips the sort a SortMergeJoin would pay per
    # round (no ordering is ever reused here)
    adj = (
        de.join(deg.hint("shuffle_hash"), "src")
        .repartition("src")
        .localCheckpoint()
    )
    n = deg.count()  # bounded driver scalar (one long), like k-means K*dim
    if n == 0:
        # empty edge list (everything support-pruned, or a pair graph
        # with no pairs): zero rows — node keeps the EDGE KEY TYPE so
        # empty and non-empty outputs union/join cleanly (a hardcoded
        # long diverged for string-keyed graphs)
        node_t = edges.schema[edges.columns[0]].dataType.simpleString()
        return edges.sparkSession.createDataFrame(
            [], f"node {node_t}, pagerank double"
        )
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(1.0 / n).alias("r")
    )
    for _ in range(iters):
        contribs = adj.join(
            ranks.hint("shuffle_hash"), adj["src"] == ranks["node"]
        ).select("dst", (F.col("r") / F.col("d")).alias("c"))
        ranks = contribs.groupBy("dst").agg(
            (F.lit((1.0 - damping) / n) + F.lit(damping) * F.sum("c")).alias(
                "r"
            )
        ).select(F.col("dst").alias("node"), "r")
    # +1e-12 nudge keeps engine-order float sums from flipping a half-ulp
    # rounding boundary between Spark and the oracle (same convention as
    # the jaccard queries)
    return ranks.select(
        "node", F.round(F.col("r") + F.lit(1e-12), 6).alias("pagerank")
    )
