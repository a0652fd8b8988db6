"""Distributed global order statistics — ranking without the
single-partition window trap.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY moves the
ENTIRE dataset to one task (Spark warns exactly this), which is the
canonical 100 TB scale-killer. This module implements the TeraSort-style
two-pass alternative: range-shuffle on the sort key so partitions hold
disjoint key ranges, compute cumulative per-partition offsets, and add
them to the per-partition ``row_number``.

r11 (optimization round): the offset side-computation moved FULLY
IN-PLAN. The original implementation pinned the range shuffle with
``localCheckpoint`` (the range sampler re-samples per execution, so two
separate jobs over one ``repartitionByRange`` can see different
partition boundaries), collected the <= P partition sizes to the
driver, and broadcast them back via ``createDataFrame``. That is
correct but pays, PER CALL: a full materialization of the shuffled
relation into block-manager storage (at 100 TB that is a second copy of
the dataset on executor disks), a driver round-trip, and long-lived
checkpoint blocks that only a GC can reclaim (measured locally as
multi-second run-to-run jitter on checkpoint-heavy queries). The
in-plan form instead references the SAME range exchange twice inside
ONE physical plan — once to aggregate per-partition counts into a
<= P-row offsets relation (exclusive prefix sum over a window ORDERED
BY the partition id: bounded by the partition count, the benign
planning-table window class), once for the ranking pass — and lets
Spark's exchange/stage reuse execute the shuffle exactly once, which
guarantees both consumers read the same boundaries. ``explain`` shows
two range Exchanges; at runtime AQE materializes one shuffle stage
(verified: 600k-row rank is an exact 1..n permutation, which cannot
survive independently-sampled boundaries — and a direct experiment
shows separate executions DO sample different boundaries). No
checkpoint, no driver collect, no storage residency; measured ~2.3x
faster per call at the bench tier in same-JVM alternation.

Correctness precondition: exchange reuse (``spark.sql.exchange.reuse``,
default true, plus AQE's stage-cache path) must not be disabled. Every
entry point raises ``ValueError`` on a session that has it off, rather
than rank against two independently-sampled partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W


def _sum_result_type(dt: T.DataType) -> str:
    """DDL string of ``F.sum(col)``'s result type for an input type ``dt``
    (Spark widens sums: integral -> bigint, float -> double,
    decimal(p,s) -> decimal(min(38, p+10), s))."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "bigint"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "double"
    if isinstance(dt, T.DecimalType):
        return f"decimal({min(38, dt.precision + 10)},{dt.scale})"
    return dt.simpleString()


def _num_partitions(df: DataFrame, num_partitions: int | None) -> int:
    return num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )


def _full_range_key(df: DataFrame, order_by: list[Column]) -> list[Column]:
    """The range-partitioning key: the caller's total order FOLLOWED BY
    every df column. The suffix never influences placement (the prefix
    is already a total order) — it exists so that BOTH in-plan consumers
    of the exchange (the ranking pass and the counts/offsets aggregate)
    reference the same column set. Without it, column pruning narrows
    the counts branch's scan to the key columns only, the two exchange
    subplans stop being canonically equal, stage reuse does NOT fire,
    and the two independently-sampled partitionings silently misalign
    counts with ranks (caught live at sf0.01: ml_gains_deciles produced
    an 11th decile). With the suffix, pruning keeps both branches
    byte-identical and reuse is structural, not incidental."""
    return [*order_by, *[F.col(c) for c in df.columns]]


def _range_shuffle(
    df: DataFrame, order_by: list[Column], p: int
) -> DataFrame:
    """``df`` range-partitioned on ``_full_range_key`` and tagged with
    its partition id — the exchange that BOTH in-plan consumers read.
    Raises when the session has exchange reuse off: both the non-AQE
    ReuseExchange rule and AQE's stage cache honor that flag, and
    without reuse the two consumers would each sample their own range
    boundaries (wrong offsets, silently)."""
    conf = df.sparkSession.conf
    if conf.get("spark.sql.exchange.reuse", "true") == "false":
        raise ValueError(
            "distributed ranking needs spark.sql.exchange.reuse=true: the"
            " offsets and the ranking pass must read one range shuffle"
        )
    return df.repartitionByRange(
        p, *_full_range_key(df, order_by)
    ).withColumn("__pid", F.spark_partition_id())


def _range_parts(
    df: DataFrame, order_by: list[Column], p: int
) -> tuple[DataFrame, DataFrame]:
    """The shared in-plan machinery: (range-partitioned rows tagged with
    their partition id, per-partition row counts). BOTH returned frames
    reference the SAME analyzed subplan for the range exchange, so the
    physical planner / AQE reuses one shuffle stage — the determinism
    contract the module docstring explains (and see ``_full_range_key``
    for why the partitioning key carries every column)."""
    part = _range_shuffle(df, order_by, p)
    counts = part.groupBy("__pid").agg(F.count("*").alias("__c"))
    return part, counts


# Exclusive prefix over the <= P-row counts relation. The window is
# deliberately partition-less: its input is bounded by the partition
# COUNT (a config constant), never by the data — the planning-table
# window class (tools/explain_audit.py exempts windows ordered by
# ``__pid`` on exactly this argument).
def _offsets(counts: DataFrame, with_total: bool = False) -> DataFrame:
    woff = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    cols = [
        F.col("__pid"),
        F.coalesce(F.sum("__c").over(woff), F.lit(0))
        .cast("long")
        .alias("__offset"),
    ]
    if with_total:
        wall = W.orderBy("__pid").rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )
        cols.append(F.sum("__c").over(wall).cast("long").alias("__total"))
    return counts.select(*cols)


def global_rank(
    df: DataFrame,
    order_by: list[Column],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach a global 1-based ``row_number`` under the total order
    ``order_by`` — distributed (no single-partition window, no driver
    state, no checkpoint; see module docstring).

    The caller's ``order_by`` must be a TOTAL order (include a unique
    tie-break column): range partitioning keeps equal keys in one
    partition, and a unique order makes ranks reproducible and range
    partitions balanced (no single hot key ever exceeds one partition).
    """
    p = _num_partitions(df, num_partitions)
    part, counts = _range_parts(df, order_by, p)
    w = W.partitionBy("__pid").orderBy(*order_by)
    return (
        part.join(F.broadcast(_offsets(counts)), "__pid")
        .withColumn(
            rank_col,
            (F.col("__offset") + F.row_number().over(w)).cast("long"),
        )
        .drop("__pid", "__offset")
    )


def global_rank_with_total(
    df: DataFrame,
    order_by: list[Column],
    rank_col: str = "rank",
    total_col: str = "n_total",
    num_partitions: int | None = None,
) -> DataFrame:
    """``global_rank`` carrying the exact total row count as a COLUMN
    (r11): for callers whose downstream logic needs ``n`` only inside
    expressions (median midpoints, trim cuts), the in-plan ``__total``
    of the offsets relation replaces a ``df.count()`` driver
    round-trip — zero extra jobs, zero driver-side state, one fewer
    pass over the input per call."""
    p = _num_partitions(df, num_partitions)
    part, counts = _range_parts(df, order_by, p)
    w = W.partitionBy("__pid").orderBy(*order_by)
    return (
        part.join(F.broadcast(_offsets(counts, with_total=True)), "__pid")
        .withColumn(
            rank_col,
            (F.col("__offset") + F.row_number().over(w)).cast("long"),
        )
        .withColumnRenamed("__total", total_col)
        .drop("__pid", "__offset")
    )


def quantile_bins(
    df: DataFrame,
    order_by: list[Column],
    n_bins: int = 10,
    bin_col: str = "bin",
) -> DataFrame:
    """Assign each row an exact quantile bin 0..n_bins-1 under the total
    order ``order_by`` — the curriculum/difficulty-binning primitive.

    bin = ((rank - 1) * n_bins) div n_rows — INTEGER arithmetic, so both
    engines agree exactly and bins differ in size by at most one row.
    (Deliberately NOT SQL ntile: ntile front-loads its remainder rows
    while this formula spreads them — the formula is reproducible from
    (rank, n) alone, which keeps oracles trivial.) Rides the in-plan
    rank machinery; the total row count joins in as a column of the
    <= P-row offsets relation (``__total``), so the whole computation is
    ONE action with zero driver round-trips."""
    p = _num_partitions(df, None)
    part, counts = _range_parts(df, order_by, p)
    w = W.partitionBy("__pid").orderBy(*order_by)
    return (
        part.join(F.broadcast(_offsets(counts, with_total=True)), "__pid")
        .withColumn(
            "__rank", F.col("__offset") + F.row_number().over(w)
        )
        .withColumn(
            bin_col,
            F.expr(f"CAST(((__rank - 1) * {n_bins}) DIV __total AS INT)"),
        )
        .drop("__pid", "__offset", "__total", "__rank")
    )


def global_running_max(
    df: DataFrame,
    order_by: list[Column],
    value_col: str,
    out_col: str = "running_max",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach the running max of ``value_col`` over all STRICTLY EARLIER
    rows in the total order ``order_by`` (exclusive prefix max; NULL for
    the global first row) — distributed, never a single-partition window.

    Same in-plan shape as ``global_rank``: the <= P-row side relation
    carries each partition's exclusive prefix max (max over earlier
    partitions' maxima — engine ``max``/``greatest`` semantics
    throughout, so NaN-greatest and null-skipping match the window
    semantics by construction instead of by a Python mirror). This is
    the streaming-watermark simulation primitive: the watermark a row
    sees is the max event time of everything that ARRIVED before it."""
    p = _num_partitions(df, num_partitions)
    part = _range_shuffle(df, order_by, p)
    pmax = part.groupBy("__pid").agg(F.max(value_col).alias("__m"))
    woff = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    prefix = pmax.select(
        "__pid", F.max("__m").over(woff).alias("__prefix")
    )
    w = (
        W.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = F.max(value_col).over(w)
    return (
        part.join(F.broadcast(prefix), "__pid")
        .withColumn(out_col, F.greatest(local, F.col("__prefix")))
        .drop("__pid", "__prefix")
    )


def grouped_running_sum(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """INCLUSIVE running sum of ``value_col`` within each group under
    the total order ``order_by`` — distributed across partitions even
    when one group dwarfs a partition (the regime where the plain
    ``Window.partitionBy(group)`` cumsum becomes a single-task sort).

    In-plan form of the original: range-shuffle on (group, order) so
    each partition holds a contiguous slice of one-or-more groups,
    per-partition cumsum inside the slice, and a <= P x groups-per-
    partition-row side relation carrying each (partition, group)'s
    exclusive prefix (window over ascending partition id WITHIN the
    group — rows bounded by P x #groups; the operator's contract is
    FEW-LARGE-GROUPS data, for many small groups the plain partitioned
    window is already parallel). The prefix window adds slice totals in
    ascending-partition order — the same association order as the
    replaced Python loop, so even double-typed values reproduce the old
    bits (the registered callers all use integer grids per the money-
    grid rule).

    NULL semantics match the plain partitioned window exactly: the
    cumsum at a row is NULL iff the GROUP has no non-null value up to
    and including that row; ``__pcnt`` (count of non-null values in
    earlier slices of the group) distinguishes "slice empty so far" from
    "group empty so far"."""
    p = _num_partitions(df, num_partitions)
    gcols = [F.col(c) for c in group_cols]
    part = _range_shuffle(df, [*gcols, *order_by], p)
    totals = part.groupBy("__pid", *group_cols).agg(
        F.sum(value_col).alias("__t"),
        F.count(value_col).alias("__cnt"),
    )
    field = _sum_result_type(df.schema[value_col].dataType)
    wg = (
        W.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    off_dim = totals.select(
        "__pid",
        *group_cols,
        F.coalesce(F.sum("__t").over(wg), F.lit(0))
        .cast(field)
        .alias("__prefix"),
        F.coalesce(F.sum("__cnt").over(wg), F.lit(0))
        .cast("long")
        .alias("__pcnt"),
    )
    w = (
        W.partitionBy("__pid", *group_cols)
        .orderBy(*order_by)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = F.sum(value_col).over(w)
    # NULL-SAFE equality on the group keys: the plain partitioned
    # window treats NULL as an ordinary group, so the prefix join must
    # match it too (a name-list join would silently drop every
    # NULL-group row). Only pay the null-safe comparison for keys whose
    # schema says NULLs are possible — plain equality keeps the tighter
    # hash-join codegen path for provably non-null keys.
    cond = part["__pid"] == off_dim["__pid"]
    for c in group_cols:
        if df.schema[c].nullable:
            cond = cond & part[c].eqNullSafe(off_dim[c])
        else:
            cond = cond & (part[c] == off_dim[c])
    return (
        part.join(F.broadcast(off_dim), cond)
        .drop(off_dim["__pid"])
        .drop(*[off_dim[c] for c in group_cols])
        .withColumn(
            out_col,
            F.when(
                local.isNull(),
                F.when(F.col("__pcnt") > 0, F.col("__prefix")),
            ).otherwise(local + F.col("__prefix")),
        )
        .drop("__pid", "__prefix", "__pcnt")
    )
