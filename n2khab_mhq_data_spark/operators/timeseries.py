"""Per-key sequential time-series kernels that plain window frames can't
express (genuinely recursive state), run as Arrow-batched grouped maps.

EWMA is the canonical example: ``s_t = alpha * v_t + (1-alpha) * s_{t-1}``
depends on its own previous OUTPUT, which Spark window functions cannot
reference (the closed form ``alpha * sum((1-alpha)^(t-i) v_i)`` exists
but needs ``(1-alpha)^{-i}`` prefix factors that overflow doubles after
~700 rows). So this is one of the few places the repo's UDF policy
allows Python: an ``applyInPandas`` grouped map — Arrow-batched,
vectorized inside pandas' C ewm loop, never row-at-a-time.

Scale: one shuffle on the key columns; each key's series is processed
by exactly one task, so the operator scales with the number of keys
(time-series cardinality), which is the natural parallelism of the
problem. A single pathological key with billions of rows would need
chunked carry-state processing; batch corpora key series are bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType


def ewma(
    df: DataFrame,
    keys: list[str],
    order: list[str],
    value_col: str,
    alpha: float = 0.25,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially-weighted moving average per key group, ordered by
    ``order`` (ties must be broken by the caller's order columns —
    include a unique id). ``adjust=False`` semantics: ``s_1 = v_1``,
    then the recurrence above — matching the textbook online form.

    NULL values are REJECTED (raise): the recurrence is undefined at a
    missing observation, and pandas' ewm would neither skip nor
    propagate it — it fabricates a carried value at the NULL row and
    gap-adjusts subsequent weights (ignore_na=False), so the output
    would match NO SQL recomputation of the documented recurrence (and
    a leading NULL would leak NaN, not SQL NULL, into the column).
    Callers filter or impute first (plans/windows.py::ts_ewma
    pre-filters)."""
    import pandas as pd

    if out_col in df.columns:
        # appending blindly would declare a duplicate field to Arrow and
        # die with an opaque runtime AnalysisException
        raise ValueError(
            f"ewma: out_col {out_col!r} already exists in the input;"
            " pass a different name"
        )
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, DoubleType())]
    )

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if pdf[value_col].isna().any():
            raise ValueError(
                f"ewma: NULL/NaN in {value_col!r} — the recurrence is"
                " undefined at missing observations; filter or impute"
                " before calling"
            )
        pdf = pdf.sort_values(order, kind="mergesort")
        pdf[out_col] = (
            pdf[value_col].ewm(alpha=alpha, adjust=False).mean()
        )
        return pdf

    from n2khab_mhq_data_spark.operators.grouped import grouped_map

    return grouped_map(df, keys, fn, schema)


def holt_linear(
    df: DataFrame,
    keys: list[str],
    order: list[str],
    value_col: str,
    alpha: float = 0.3,
    beta: float = 0.2,
    level_col: str = "level",
    trend_col: str = "trend",
) -> DataFrame:
    """Holt's linear (double exponential) smoothing per key group —
    COUPLED recursive state no window frame or single ewm pass can
    express: ``s_t = alpha*v_t + (1-alpha)*(s_{t-1} + b_{t-1})``,
    ``b_t = beta*(s_t - s_{t-1}) + (1-beta)*b_{t-1}``; init
    ``s_1 = v_1, b_1 = 0`` (documented flat-start convention, so the
    recurrence is total without a second-point special case).

    The kernel is a per-group scalar loop over the series (no
    vectorized spelling exists for the coupled pair) — cost linear in
    series length, parallel across keys. The arithmetic mirrors the
    oracle's recursive-CTE expressions TERM FOR TERM (same literals,
    same association), so both engines walk identical doubles. NULLs
    are rejected for the same reason as :func:`ewma`.

    r11 (guide §4): runs as ``mapInPandas`` over key-hash partitions
    sorted by (keys, order) — ONE Python call per Arrow batch instead
    of one ``applyInPandas`` dispatch per group (1500 series at sf0.1 =
    1500 pandas calls + per-group Arrow framing; the loop itself is a
    fraction of that). Group boundaries are detected in-batch via a
    vectorized key-change comparison (null-safe), and the (key, s, b)
    state carries across batch boundaries inside the partition
    iterator, so a series split across Arrow batches continues its
    recursion exactly. The in-group sort moved from pandas
    ``sort_values`` (per group, Python) to ``sortWithinPartitions``
    (JVM radix/Tungsten, once per partition). Same doubles, same rows;
    measured ~2x at the bench tier in same-JVM alternation."""
    import pandas as pd

    for c in (level_col, trend_col):
        if c in df.columns:
            raise ValueError(
                f"holt_linear: out col {c!r} already exists; rename"
            )
    schema = StructType(
        list(df.schema.fields)
        + [StructField(level_col, DoubleType()),
           StructField(trend_col, DoubleType())]
    )
    try:
        p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # "auto" or unset
        p = df.sparkSession.sparkContext.defaultParallelism

    def fn(batches):
        prev_key: tuple | None = None
        s = b = 0.0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf
                continue
            if pdf[value_col].isna().any():
                raise ValueError(
                    f"holt_linear: NULL/NaN in {value_col!r} — filter"
                    " or impute before calling"
                )
            ka = pdf[keys]
            shifted = ka.shift()
            # null-safe per-row key-change marker (NULL keys form one
            # group under groupBy semantics, so NaN==NaN must not split)
            new = ((ka.ne(shifted)) & ~(ka.isna() & shifted.isna())).any(
                axis=1
            )
            new = new.to_numpy(copy=True)
            first = tuple(pdf.iloc[0][k] for k in keys)
            same_as_prev = prev_key is not None and all(
                (x == y) or (x != x and y != y)
                for x, y in zip(first, prev_key)
            )
            new[0] = not same_as_prev
            vals = pdf[value_col].to_numpy(dtype="float64")
            levels = [0.0] * n
            trends = [0.0] * n
            for i in range(n):
                v = float(vals[i])
                if new[i]:
                    s, b = v, 0.0
                else:
                    s_new = alpha * v + (1 - alpha) * (s + b)
                    b = beta * (s_new - s) + (1 - beta) * b
                    s = s_new
                levels[i], trends[i] = s, b
            prev_key = tuple(pdf.iloc[-1][k] for k in keys)
            out = pdf.copy()
            out[level_col] = levels
            out[trend_col] = trends
            yield out

    return (
        df.repartition(p, *keys)
        .sortWithinPartitions(*keys, *order)
        .mapInPandas(fn, schema)
    )
