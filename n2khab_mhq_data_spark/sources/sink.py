"""S8/S9 — the deterministic versioned sink (git2rdata ``write_vc`` parity).

The reference publishes every table as a *sorted* TSV plus a YAML sidecar
with per-column classes and content hashes (query_fieldmap.Rmd:1959-1974;
sidecars like processed/fieldmap_mhq/cover_species.yml). Reruns are
byte-identical, so git diffs show only real data changes — the de-facto
golden-file system (SURVEY.md §5).

Factor columns (git2rdata's R-factor class): stored in the TSV as 1-based
LEVEL INDICES (git2rdata's optimized storage), with the level labels and
ordered flag in the yml sidecar — ``read_vc`` restores the labels from the
sidecar, so level order survives a write/read cycle.

Scale design (SURVEY.md §7.4.5): a global ``orderBy`` + single file is
inherently serial at the last step. We keep writes parallel by
range-partitioning on the sort keys (``repartitionByRange`` + per-partition
sort, partition count left to AQE), writing part files that are *globally*
ordered by construction, then concatenating sequentially on the driver — an
O(bytes) streamed merge, no re-sort. The content hash (md5 over the ordered
TSV bytes) is identical regardless of the part-file count. ``write_csv2``
(S9) shares the same machinery — no ``coalesce(1)`` anywhere.

Single pass: the input plan runs once, in the write itself. ``write_vc``'s
total-order check is a ``count(1)`` window over the sort keys on the
range-sorted frame — range partitioning already clusters equal keys, so
the window adds no exchange and no sort — and a ``raise_error`` filter
fails the write task that meets a duplicate key. No action runs before
the write (no count, no ``df.rdd`` partition probe). Floating sort keys
are the one exception to the shared shuffle: Catalyst normalizes NaN and
-0.0 in window keys, so for them the check runs first and the range sort
reshuffles the checked rows — still one run of the input plan."""

from __future__ import annotations

import hashlib
import os
import shutil
from datetime import date

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from n2khab_mhq_data_spark.catalog import TableSpec

# raise_error message of the total-order check, mapped back to ValueError
_NOT_TOTAL = "write_vc: duplicate sort keys"

_SPARK_TO_YML = {
    T.IntegerType(): "integer",
    T.LongType(): "integer",
    T.DoubleType(): "numeric",
    T.FloatType(): "numeric",
    T.StringType(): "character",
    T.BooleanType(): "logical",
    T.DateType(): "Date",
    T.TimestampType(): "timestamp",
}


def _factor_index(col: str, levels: tuple[str, ...]) -> F.Column:
    """1-based level index (R factor codes / git2rdata optimized storage).
    An out-of-domain value fails fast — git2rdata would refuse it too."""
    arr = F.array(*[F.lit(x) for x in levels])
    pos = F.array_position(arr, F.col(col))
    return (
        F.when(F.col(col).isNull(), F.lit(None).cast("int"))
        .when(
            pos == 0,
            F.raise_error(
                F.concat(
                    F.lit(f"factor level not in spec for '{col}': "),
                    F.col(col),
                )
            ).cast("int"),
        )
        .otherwise(pos.cast("int"))
    )


def _fmt(
    col: str,
    dtype: T.DataType,
    digits: int,
    decimal: str = ".",
    levels: tuple[str, ...] | None = None,
) -> F.Column:
    c = F.col(col)
    if levels is not None:
        c = _factor_index(col, levels).cast("string")
    elif isinstance(dtype, T.DateType):
        # git2rdata stores Dates as integer days since 1970-01-01
        c = F.datediff(c, F.lit("1970-01-01").cast("date")).cast("string")
    elif isinstance(dtype, (T.DoubleType, T.FloatType)):
        c = F.round(c + F.signum(c) * 1e-9, digits).cast("string")
        if decimal != ".":
            c = F.translate(c, ".", decimal)
    elif isinstance(dtype, T.BooleanType):
        c = F.when(c, "TRUE").when(~c, "FALSE")
    else:
        c = c.cast("string")
    return F.coalesce(c, F.lit("NA")).alias(col)


def _merge_parts(
    ordered: DataFrame, root: str, name: str, header: str, sep: str,
    ext: str,
) -> str:
    """Write the range-partitioned frame as ``sep``-separated part files
    and stream-concatenate them (filename order == global order) into one
    ``root/name.ext``; returns the md5 of the merged bytes. The part-file
    directory is removed whether or not the write succeeds, and a failed
    Spark write leaves a previously published ``name.ext`` untouched."""
    tmp = os.path.join(root, f"_tmp_{name}")
    try:
        # Embedded quotes are DOUBLED (R qmethod="double" / RFC 4180), not
        # Spark's default backslash-escape; an empty non-NULL string keeps
        # Spark's quoted "" form — unambiguous against the unquoted NA null
        # marker, and read_vc/read_csv2 (escape='"') round-trip both
        # losslessly.
        ordered.write.mode("overwrite").option("sep", sep).option(
            "escape", '"'
        ).option(
            "header", False
        ).csv(tmp)
        out_path = os.path.join(root, f"{name}.{ext}")
        md5 = hashlib.md5()
        with open(out_path, "wb") as out:
            out.write(header.encode())
            md5.update(header.encode())
            parts = sorted(p for p in os.listdir(tmp) if p.startswith("part-"))
            for p in parts:
                with open(os.path.join(tmp, p), "rb") as fh:
                    while chunk := fh.read(1 << 20):
                        out.write(chunk)
                        md5.update(chunk)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return md5.hexdigest()


def _range_ordered(
    df: DataFrame, sorting: list[str], partitions: int | None
) -> DataFrame:
    keys = [F.col(c) for c in sorting]
    # without an explicit count AQE sizes the range shuffle; the part-file
    # count never changes the merged bytes or their hash
    ranged = (
        df.repartitionByRange(partitions, *keys)
        if partitions
        else df.repartitionByRange(*keys)
    )
    return ranged.sortWithinPartitions(*sorting)


def _floating(dt: T.DataType) -> bool:
    if isinstance(dt, T.StructType):
        return any(_floating(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _floating(dt.elementType)
    return isinstance(dt, (T.FloatType, T.DoubleType))


def _total_order_checked(
    df: DataFrame, sorting: list[str], partitions: int | None
) -> DataFrame:
    """``_range_ordered`` plus a check that fails the write task meeting a
    duplicate key: a count over the sort keys and a filter that raises on
    a count above one. It must stay a filter — a projected flag column
    that a later select drops would be pruned away, and the check with
    it. Duplicates follow groupBy semantics: NULLs are equal, and so are
    NaNs and -0.0/0.0."""
    n = F.count(F.lit(1)).over(Window.partitionBy(*sorting))

    def check(frame: DataFrame) -> DataFrame:
        return (
            frame.withColumn("__vc_n", n)
            .filter(
                F.when(
                    F.col("__vc_n") > 1, F.raise_error(F.lit(_NOT_TOTAL))
                ).otherwise(True)
            )
            .drop("__vc_n")
        )

    if any(_floating(df.schema[c].dataType) for c in sorting):
        # Catalyst normalizes NaN and -0.0 in floating window keys, and
        # the range partitioning on the raw keys no longer satisfies the
        # normalized clustering: an added hash exchange would undo the
        # range order. Check first, then range-sort the checked rows.
        return _range_ordered(check(df), sorting, partitions)
    # range partitioning on the keys already clusters equal keys and the
    # per-partition sort orders them: the window adds no exchange or sort
    return check(_range_ordered(df, sorting, partitions))


def write_vc(
    df: DataFrame,
    name: str,
    root: str,
    sorting: list[str],
    digits: int = 6,
    partitions: int | None = None,
    spec: TableSpec | None = None,
) -> dict:
    """Write ``root``/``name``.tsv + ``name``.yml deterministically.

    ``sorting`` must be a total order (write_vc errors on duplicate sort
    keys in the reference too — same contract). Pass ``spec`` to serialize
    its factor columns as level indices with labels/ordered in the yml."""
    os.makedirs(root, exist_ok=True)
    schema = df.schema
    factors: dict[str, tuple[tuple[str, ...], bool]] = {}
    if spec is not None:
        for c in spec.columns:
            if c.yml_class == "factor" and c.levels:
                # the sidecar stores labels as an unquoted comma-joined
                # flow list and read_vc_meta splits on commas — a label
                # carrying YAML-significant characters would round-trip
                # silently wrong, so refuse it at write time (same
                # fail-fast posture as the out-of-domain check)
                bad = [
                    lv
                    for lv in c.levels
                    # empty labels are also unsafe: read_vc_meta's
                    # comma-split drops blanks, silently shifting every
                    # level index on round-trip
                    if not lv
                    or any(ch in lv for ch in ",:[]{}#\n\t")
                    or lv != lv.strip()
                ]
                if bad:
                    raise ValueError(
                        f"factor {c.name!r} labels not yml-safe: {bad!r}"
                    )
                factors[c.name] = (tuple(c.levels), c.ordered)
    out_cols = [
        _fmt(
            f.name,
            f.dataType,
            digits,
            levels=factors.get(f.name, (None, None))[0],
        )
        for f in schema.fields
    ]
    # enforce the documented total-order contract instead of assuming
    # it: with duplicate sort keys the tie order follows the incoming
    # partition layout, so a rerun could emit different bytes and a
    # different data_hash — the exact failure this sink exists to
    # prevent. The check rides along in the write (no separate action),
    # same fail-fast posture as the factor-domain check.
    ordered = _total_order_checked(df, sorting, partitions).select(out_cols)
    header = "\t".join(f.name for f in schema.fields) + "\n"
    try:
        data_hash = _merge_parts(ordered, root, name, header, "\t", "tsv")
    except (PySparkException, Py4JJavaError) as e:
        if _NOT_TOTAL not in str(e):
            raise
        raise ValueError(
            f"write_vc({name!r}): sorting {sorting} is not a total order"
            " — duplicate sort keys would make the TSV bytes and"
            " data_hash nondeterministic across reruns"
        ) from e

    col_meta: dict[str, object] = {}
    for f in schema.fields:
        if f.name in factors:
            levels, is_ordered = factors[f.name]
            col_meta[f.name] = {
                "class": "factor",
                "labels": list(levels),
                "ordered": is_ordered,
            }
        else:
            col_meta[f.name] = _SPARK_TO_YML.get(f.dataType, "character")
    meta = {
        "name": name,
        "sorting": list(sorting),
        "data_hash": data_hash,
        "columns": col_meta,
        "digits": digits,
        "written": str(date.today()),
    }
    yml_path = os.path.join(root, f"{name}.yml")
    with open(yml_path, "w") as fh:
        fh.write(f"name: {meta['name']}\n")
        fh.write(f"data_hash: {meta['data_hash']}\n")
        fh.write(f"digits: {digits}\n")
        fh.write(f"sorting: [{', '.join(sorting)}]\n")
        fh.write("columns:\n")
        for cname, cls in col_meta.items():
            if isinstance(cls, dict):
                fh.write(f"  {cname}:\n")
                fh.write("    class: factor\n")
                fh.write(
                    "    labels: ["
                    + ", ".join(cls["labels"])  # type: ignore[index]
                    + "]\n"
                )
                fh.write(
                    f"    ordered: {'true' if cls['ordered'] else 'false'}\n"
                )
            else:
                fh.write(f"  {cname}: {cls}\n")
    return meta


def read_vc_meta(yml_path: str) -> TableSpec:
    """Parse a write_vc yml sidecar back into a TableSpec (the read half of
    the factor round-trip: labels + ordered flag are restored from here)."""
    from n2khab_mhq_data_spark.catalog import ColumnSpec

    cols: list[ColumnSpec] = []
    name = ""
    sorting: tuple[str, ...] = ()
    in_cols = False
    cur: ColumnSpec | None = None
    with open(yml_path) as fh:
        for raw in fh:
            line = raw.rstrip("\n")
            if line.startswith("name:"):
                name = line.split(":", 1)[1].strip()
            elif line.startswith("sorting:"):
                inner = line.split("[", 1)[1].rstrip("]")
                sorting = tuple(
                    s.strip() for s in inner.split(",") if s.strip()
                )
            elif line == "columns:":
                in_cols = True
            elif in_cols and line.startswith("    "):
                assert cur is not None
                k, v = line.strip().split(":", 1)
                v = v.strip()
                if k == "class":
                    cur.yml_class = v
                elif k == "labels":
                    cur.levels = tuple(
                        s.strip() for s in v.strip("[]").split(",") if s.strip()
                    )
                elif k == "ordered":
                    cur.ordered = v == "true"
            elif in_cols and line.startswith("  "):
                head = line.strip()
                if head.endswith(":"):
                    cur = ColumnSpec(head[:-1], "character")
                else:
                    cname, cls = head.split(":", 1)
                    cur = ColumnSpec(cname.strip(), cls.strip())
                cols.append(cur)
    return TableSpec(name, cols, sorting=sorting)


def write_published(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    sort_keys: list[str] | None = None,
) -> None:
    """Partitioned parquet store for published tables — the 100 TB layout.

    The reference's published tables are keyed by lineage dimensions
    (``db``, ``mon_cycle``, survey; SURVEY.md §4 'partition pruning'):
    writing them hive-partitioned means any downstream filter on those
    columns prunes whole directories at plan time (PartitionFilters in the
    scan) instead of reading 100 TB to discard 99%. Within each partition,
    rows are sorted by ``sort_keys`` so parquet min/max row-group stats
    also prune within files."""
    out = df.repartition(*[F.col(c) for c in partition_by])
    if sort_keys:
        out = out.sortWithinPartitions(*partition_by, *sort_keys)
    out.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def write_csv2(
    df: DataFrame,
    name: str,
    root: str,
    sorting: list[str] | None = None,
    digits: int = 6,
    partitions: int | None = None,
) -> dict:
    """S9 — write_csv2 CSV extract sink (HT31xx_LSVI.Rmd:320-332): ';'
    separator, ',' decimal mark (the R locale), NA for nulls, sorted.

    Same parallel shape as write_vc — range-partitioned part files merged
    by a streamed driver concat (serial only in O(bytes), never a
    ``coalesce(1)`` single-task sort+write). Default sort = all columns,
    so the extract is deterministic even without a declared key."""
    os.makedirs(root, exist_ok=True)
    keys = sorting or list(df.columns)
    out_cols = [
        _fmt(f.name, f.dataType, digits, decimal=",")
        for f in df.schema.fields
    ]
    ordered = _range_ordered(df, keys, partitions).select(out_cols)
    header = ";".join(f.name for f in df.schema.fields) + "\n"
    data_hash = _merge_parts(ordered, root, name, header, ";", "csv")
    return {"name": name, "data_hash": data_hash, "sorting": keys}


def compact_published(
    spark,
    path: str,
    partition_by: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_keys: list[str] | None = None,
) -> dict:
    """Small-files compaction for the published store — the maintenance
    op every incremental-append layout (K10 merge, streaming
    foreachBatch) eventually needs: micro-batches leave hundreds of tiny
    parquet files per partition, and at 100 TB the scan's task-per-file
    overhead and NameNode/listing pressure dominate.

    Reads the store, re-buckets EACH hive partition to
    ``ceil(partition_bytes / target_file_bytes)`` output files from its
    OWN on-disk footprint (a broadcast per-partition bucket-count dim,
    so a fat partition splits across writers while small partitions
    collapse to one file — a single global bucket count would fragment
    every small partition by the fattest one's count), restores the
    in-file sort (row-group min/max pruning survives compaction), and
    swaps the directory (write to sibling tmp, two renames).

    Crash-safe to RE-RUN, including from a crash BETWEEN the two
    renames: on entry, if the live path is missing but the ``.old``
    sibling exists, the old store is RESTORED (renamed back) before
    anything else — never deleted — and only then are stale tmp/old
    dirs cleared. All directory walking and swapping goes through the
    Hadoop FileSystem API (same as streaming's publish_state), so the
    op works against HDFS/S3A stores, not just the driver's local
    disk. Returns before/after file counts so operators can alert on
    ineffective runs."""
    import math
    import urllib.parse

    from pyspark.sql import functions as F  # noqa: F811

    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    live_p = hpath(path.rstrip("/"))
    tmp_p = hpath(path.rstrip("/") + ".__compact_tmp__")
    old_p = hpath(path.rstrip("/") + ".__compact_old__")
    # recover a crash between the renames FIRST: old holds the only
    # surviving copy of the data — restore it, never delete it
    if not fs.exists(live_p) and fs.exists(old_p):
        fs.rename(old_p, live_p)
    for stale in (tmp_p, old_p):
        if fs.exists(stale):
            fs.delete(stale, True)

    base = fs.makeQualified(live_p).toString().rstrip("/")

    def parquet_files() -> list[tuple[str, int]]:
        # (parent dir relative to the store root, bytes) per data file
        out = []
        it = fs.listFiles(live_p, True)
        while it.hasNext():
            st = it.next()
            name = st.getPath().getName()
            if name.endswith(".parquet") and not name.startswith("."):
                parent = st.getPath().getParent().toString()
                rel = parent[len(base):].strip("/")
                out.append((rel, int(st.getLen())))
        return out

    files = parquet_files()
    before = len(files)
    df = spark.read.parquet(path)
    # per-partition bucket counts from the hive dir sizes (keys parsed
    # from the "col=value" path segments; hive-escaped values unquoted)
    sizes: dict[str, int] = {}
    for rel, b in files:
        sizes[rel] = sizes.get(rel, 0) + b
    dim_rows = []
    for rel, b in sizes.items():
        kv = dict(
            seg.split("=", 1) for seg in rel.split("/") if "=" in seg
        )
        if len(kv) != len(partition_by):
            continue
        dim_rows.append(
            tuple(urllib.parse.unquote(kv[c]) for c in partition_by)
            + (max(1, math.ceil(b / target_file_bytes)),)
        )
    key_cols = [f"__k_{c}" for c in partition_by]
    bdf = spark.createDataFrame(
        dim_rows or [tuple("" for _ in partition_by) + (1,)],
        ", ".join(f"{k} string" for k in key_cols) + ", __nb int",
    )
    # NULL partition values land on disk as __HIVE_DEFAULT_PARTITION__;
    # match them explicitly or a fat null partition silently falls back
    # to 1 bucket (one giant file / straggler task)
    cond = [
        F.coalesce(df[c].cast("string"),
                   F.lit("__HIVE_DEFAULT_PARTITION__")) == bdf[k]
        for c, k in zip(partition_by, key_cols)
    ]
    joined = df.join(F.broadcast(bdf), cond, "left")
    bucket = F.pmod(
        F.xxhash64(*[df[c] for c in df.columns]),
        F.coalesce(F.col("__nb"), F.lit(1)),
    )
    out = joined.select(
        *[df[c] for c in df.columns], bucket.alias("__b")
    ).repartition(*[F.col(c) for c in partition_by], F.col("__b"))
    if sort_keys:
        out = out.sortWithinPartitions(*partition_by, *sort_keys)
    # AQE partition coalescing would merge the buckets right back (it
    # targets the advisory size, not ours) — this op IS the sizing
    # policy, so pin the exact bucket layout for the write only
    coalesce_conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_conf, "true")
    spark.conf.set(coalesce_conf, "false")
    try:
        out.drop("__b").write.mode("overwrite").partitionBy(
            *partition_by
        ).parquet(tmp_p.toString())
    finally:
        spark.conf.set(coalesce_conf, prev)
    # Hadoop FileSystem.rename signals failure by returning False (unlike
    # os.rename) — check each step and never delete old_p unless the new
    # live directory verifiably exists, or a failed swap would destroy the
    # only surviving copy of the published data.
    if not fs.rename(live_p, old_p):
        raise IOError(f"compact_published: rename {live_p} -> {old_p} failed")
    if not fs.rename(tmp_p, live_p):
        # roll back so the table stays readable at its published path
        fs.rename(old_p, live_p)
        raise IOError(f"compact_published: rename {tmp_p} -> {live_p} failed")
    if fs.exists(live_p):
        fs.delete(old_p, True)
    after = len(parquet_files())
    return {"files_before": before, "files_after": after}
