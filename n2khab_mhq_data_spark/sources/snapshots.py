"""Versioned snapshot store with AS-OF reads (time travel).

The reference's whole publishing model is version control: every
``write_vc`` output is committed so any past state is recoverable via
git (README.md:1-6; the golden-file workflow in SURVEY.md §5). On a
100 TB lake, git over TSVs doesn't scale — the equivalent capability is
an append-only SNAPSHOT LOG over parquet, the directory-level core of
what table formats (Iceberg/Delta, public designs) provide:

- each publish writes a NEW immutable version directory
  (``<path>/v=<n>/`` parquet) — previous versions are never rewritten
  or touched, so concurrent readers of any version are safe;
- a tiny JSON manifest per version (``<path>/_manifests/<n>.json``)
  records schema, row count, and a content hash; the manifest is
  renamed into place LAST, so a torn write can never surface as a
  readable version (readers only trust manifested versions);
- ``read_snapshot(..., version=k)`` is time travel; ``version=None``
  reads the latest manifested version; ``snapshot_log`` lists history.

Scale notes: version data is written with Spark's normal parallel
parquet writer (no driver-side bytes); the manifest content hash is an
ORDER-INSENSITIVE aggregate (sum of per-row 64-bit hashes mod 2^64)
computed in the same job that counts rows — one extra map-side
expression, no extra pass, independent of partitioning. The manifest
directory is O(versions) tiny JSON files; history pruning is
whole-directory deletes of expired ``v=<n>`` dirs.

Writer contract: SINGLE WRITER at a time (the reference's publishing
model is one batch pipeline committing sequentially; Iceberg/Delta
solve multi-writer with a commit service or atomic log swap, out of
scope here). Under that contract an unmanifested ``v=<n>`` dir can
only be an ABANDONED torn publish, which is why ``write_snapshot``
clears it instead of failing forever — with concurrent writers that
same cleanup could delete a peer's in-flight write, so don't run two
publishers against one store path."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _versions(path: str) -> list[int]:
    d = _manifest_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.endswith(".json"):
            try:
                out.append(int(f[:-5]))
            except ValueError:
                continue
    return sorted(out)


def _content_stats(df: DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive content hash) in ONE job: sum of
    per-row xxhash64 over all columns, mod 2^64 — commutative, so the
    result is independent of partitioning and row order."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
        ).alias("h"),
    ).first()
    n = int(row["n"])
    h = 0 if row["h"] is None else int(row["h"]) % (1 << 64)
    return n, h


def write_snapshot(
    df: DataFrame,
    path: str,
    validate=None,
) -> int:
    """Publish ``df`` as the next snapshot version; returns the version
    number. Append-only: never touches existing version directories.

    ``validate(manifest)`` runs before the manifest is renamed into
    place: if it raises, the unmanifested data dir is removed and
    nothing ever became reader-visible (the OPTIMIZE drift check)."""
    versions = _versions(path)
    v = (versions[-1] + 1) if versions else 1
    data_dir = os.path.join(path, f"v={v}")
    # A torn publish (crash between the parquet write and the manifest
    # rename) leaves an orphaned UNMANIFESTED v=<n> dir; readers never
    # trust it, so it is garbage — clear it rather than letting the
    # mode("errorifexists") write brick the store permanently.
    if os.path.isdir(data_dir):
        shutil.rmtree(data_dir)
    df.write.mode("errorifexists").parquet(data_dir)
    n, h = _content_stats(df.sparkSession.read.parquet(data_dir))
    os.makedirs(_manifest_dir(path), exist_ok=True)
    manifest = {
        "version": v,
        "n_rows": n,
        "content_hash": h,
        "schema": df.schema.jsonValue(),
        "parent": versions[-1] if versions else None,
    }
    tmp = os.path.join(_manifest_dir(path), f".{v}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    if validate is not None:
        try:
            validate(manifest)
        except BaseException:
            os.remove(tmp)
            shutil.rmtree(data_dir, ignore_errors=True)
            raise
    # rename LAST: the version becomes visible atomically
    os.replace(tmp, os.path.join(_manifest_dir(path), f"{v}.json"))
    return v


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a manifested snapshot version (latest when ``version`` is
    None). Reading an unmanifested or missing version raises — a torn
    write can never be silently read."""
    versions = _versions(path)
    if not versions:
        raise ValueError(f"no snapshot versions at {path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(
            f"snapshot version {version} not in manifest log {versions}"
        )
    return spark.read.parquet(os.path.join(path, f"v={version}"))


def verify_snapshot(spark: SparkSession, path: str, version: int) -> None:
    """Re-compute the content stats of a stored version and fail loudly
    on any drift from its manifest (bit-rot / out-of-band edits)."""
    with open(os.path.join(_manifest_dir(path), f"{version}.json")) as fh:
        manifest = json.load(fh)
    n, h = _content_stats(read_snapshot(spark, path, version))
    if n != manifest["n_rows"] or h != manifest["content_hash"]:
        raise ValueError(
            f"snapshot v{version} drifted from its manifest:"
            f" rows {n} vs {manifest['n_rows']},"
            f" hash {h} vs {manifest['content_hash']}"
        )


def snapshot_log(spark: SparkSession, path: str) -> DataFrame:
    """The version history as a DataFrame (version, n_rows,
    content_hash as its decimal string, parent)."""
    rows = []
    for v in _versions(path):
        with open(os.path.join(_manifest_dir(path), f"{v}.json")) as fh:
            m = json.load(fh)
        rows.append(
            (m["version"], m["n_rows"], str(m["content_hash"]), m["parent"])
        )
    return spark.createDataFrame(
        rows, "version int, n_rows long, content_hash string, parent int"
    )


def prune_snapshots(path: str, keep_last: int) -> list[int]:
    """Expire all but the newest ``keep_last`` versions: manifests are
    removed FIRST (the version disappears from the readable log before
    its data does), then the data directories — whole-directory
    deletes, never a rewrite of surviving versions."""
    versions = _versions(path)
    expired = versions[:-keep_last] if keep_last > 0 else versions
    for v in expired:
        os.remove(os.path.join(_manifest_dir(path), f"{v}.json"))
        shutil.rmtree(os.path.join(path, f"v={v}"), ignore_errors=True)
    return expired


def merge_snapshot(
    path: str,
    delta: DataFrame,
    keys: list,
    order_by: list[str],
) -> int:
    """MERGE-publish: read the latest snapshot, upsert ``delta`` into
    it (latest-wins on ``keys`` per ``order_by``, SQL ORDER BY items — the
    K10 incremental-merge kernel), and publish the result as a NEW version.
    The previous version is untouched, so a bad merge is recoverable by
    reading AS OF its parent — the snapshot-log property that makes
    upserts safe at 100 TB without table locks (single-writer
    assumption, as in the reference's commit workflow)."""
    from n2khab_mhq_data_spark.operators.merge import incremental_merge

    spark = delta.sparkSession
    base = read_snapshot(spark, path)
    return write_snapshot(incremental_merge(base, delta, keys, order_by), path)


def _aligned_val_cols(
    a: DataFrame, b: DataFrame, keys: list[str]
) -> tuple[list[str], dict]:
    """Union of both versions' non-key columns (b's order, then
    a-only appended) + a name->DataType map. The write path explicitly
    tolerates schema drift (merge_snapshot unions with
    allowMissingColumns), so the diff must too: deriving val_cols from
    one side alone either crashed on a column the other side lacks or
    silently excluded a DROPPED column from the compare (a version
    dropping a column reported zero updates)."""
    types = {f.name: f.dataType for f in a.schema.fields}
    types.update({f.name: f.dataType for f in b.schema.fields})
    val_cols = [c for c in b.columns if c not in keys] + [
        c for c in a.columns if c not in keys and c not in b.columns
    ]
    return val_cols, types


def _side_vals(df: DataFrame, val_cols: list[str], types: dict) -> list:
    return [
        F.col(c) if c in df.columns else F.lit(None).cast(types[c]).alias(c)
        for c in val_cols
    ]


def _row_hash(val_exprs: list):
    """Content hash that is NULL-POSITION sensitive: Spark's xxhash64
    SKIPS null children (xxhash64(5, NULL) == xxhash64(NULL, 5) ==
    xxhash64(5)), so a value moving between columns across NULLs would
    hash identically and the update would be silently missed.
    Interleaving each column's isNull flag (a never-null boolean) folds
    a distinct bit per position. A keys-only table hashes to a constant
    — insert/delete diffs still work, and no update leg exists."""
    if not val_exprs:
        return F.lit(0).cast("long")
    parts = []
    for e in val_exprs:
        parts += [e.isNull(), e]
    return F.xxhash64(*parts)


def snapshot_diff(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int,
    keys: list[str],
) -> DataFrame:
    """Change-data feed between two snapshot versions: one row per
    changed key with ``op`` in (insert, delete, update). Computed as a
    full outer join on ``keys`` with a null-position-sensitive xxhash64
    compare over the UNION of both versions' non-key columns — one
    shuffle on the key, no row-level history needed because versions
    are immutable. This is the read-side complement of merge_snapshot:
    downstream consumers subscribe to version-pair diffs instead of
    rescanning full snapshots."""
    a = read_snapshot(spark, path, from_version)
    b = read_snapshot(spark, path, to_version)
    val_cols, types = _aligned_val_cols(a, b, keys)
    ah = a.select(*keys, _row_hash(_side_vals(a, val_cols, types)).alias("__ha"))
    bh = b.select(*keys, _row_hash(_side_vals(b, val_cols, types)).alias("__hb"))
    j = ah.join(bh, keys, "full_outer")
    op = (
        F.when(F.col("__ha").isNull(), F.lit("insert"))
        .when(F.col("__hb").isNull(), F.lit("delete"))
        .when(F.col("__ha") != F.col("__hb"), F.lit("update"))
    )
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(*keys, "op")
    )


def snapshot_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int,
    keys: list[str],
) -> DataFrame:
    """Change feed WITH before/after images: one row per changed key
    carrying ``op`` plus every non-key column twice (``old_*`` from the
    parent version, ``new_*`` from the child; null on the missing side
    of inserts/deletes). Same single key-shuffle full outer join as
    ``snapshot_diff`` — this is the feed an incremental view maintainer
    consumes, since delta algebra needs the retracted values, not just
    the keys."""
    a = read_snapshot(spark, path, from_version)
    b = read_snapshot(spark, path, to_version)
    val_cols, types = _aligned_val_cols(a, b, keys)
    a_vals = _side_vals(a, val_cols, types)
    b_vals = _side_vals(b, val_cols, types)
    ah = a.select(
        *keys,
        _row_hash(a_vals).alias("__ha"),
        *[e.alias(f"old_{c}") for c, e in zip(val_cols, a_vals)],
    )
    bh = b.select(
        *keys,
        _row_hash(b_vals).alias("__hb"),
        *[e.alias(f"new_{c}") for c, e in zip(val_cols, b_vals)],
    )
    j = ah.join(bh, keys, "full_outer")
    op = (
        F.when(F.col("__ha").isNull(), F.lit("insert"))
        .when(F.col("__hb").isNull(), F.lit("delete"))
        .when(F.col("__ha") != F.col("__hb"), F.lit("update"))
    )
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            *keys,
            "op",
            *[f"old_{c}" for c in val_cols],
            *[f"new_{c}" for c in val_cols],
        )
    )


def optimize_snapshot(
    spark: SparkSession,
    path: str,
    n_files: int = 1,
    zorder_cols: list[str] | None = None,
) -> int:
    """Compaction / clustering maintenance (the OPTIMIZE [ZORDER]
    analog): rewrite the LATEST version's data into ``n_files``
    partitions — optionally sorted by a Morton z-order interleave of
    ``zorder_cols`` for multi-column row-group pruning — and publish it
    as a NEW version. Content is provably unchanged: the manifest's
    order-insensitive content hash of the optimized version EQUALS its
    parent's, which ``verify`` asserts before the new version becomes
    visible; old readers are untouched (append-only log)."""

    from n2khab_mhq_data_spark.spatial.zorder import zvalue

    versions = _versions(path)
    if not versions:
        raise ValueError(f"no snapshot versions at {path}")
    parent = versions[-1]
    df = read_snapshot(spark, path, parent)
    if zorder_cols:
        if len(zorder_cols) == 2:
            # zvalue reads only the low 7 bits of each cell id, so raw
            # user domains (epoch micros, surrogate keys) must be
            # min/max-rescaled into the [0, 128) grid first — otherwise
            # the interleave keys on `value mod 128` and the layout is
            # near-random while every check still passes (content is
            # unchanged). One 1-row stats aggregate, broadcast-crossed
            # (the 1-row global-stat pattern); constant columns land in
            # cell 0.
            bits = 7
            lim = (1 << bits) - 1
            a, b = zorder_cols
            stats = df.agg(
                F.min(F.col(a).cast("double")).alias("__min_a"),
                F.max(F.col(a).cast("double")).alias("__max_a"),
                F.min(F.col(b).cast("double")).alias("__min_b"),
                F.max(F.col(b).cast("double")).alias("__max_b"),
            )

            def cell(col, lo, hi):
                span = F.col(hi) - F.col(lo)
                frac = F.when(span > 0, (
                    F.col(col).cast("double") - F.col(lo)
                ) / span).otherwise(F.lit(0.0))
                # coalesce BEFORE least: F.least SKIPS nulls, so a NULL
                # coordinate (NULL frac/floor) would return lim — NULL
                # rows silently clustering in the far-corner cell 127.
                # An outer coalesce can never fire (least's result is
                # non-null); the inner one routes NULLs to cell 0
                # alongside the constant-column case.
                return F.least(
                    F.coalesce(
                        F.floor(frac * (lim + 1)).cast("long"),
                        F.lit(0).cast("long"),
                    ),
                    F.lit(lim),
                )

            df = df.crossJoin(F.broadcast(stats))
            key = zvalue(
                cell(a, "__min_a", "__max_a"),
                cell(b, "__min_b", "__max_b"),
                bits,
            )
            df = (
                df.repartitionByRange(n_files, key)
                .sortWithinPartitions(key)
                .drop("__min_a", "__max_a", "__min_b", "__max_b")
            )
        elif len(zorder_cols) == 1:
            key = F.col(zorder_cols[0])
            df = df.repartitionByRange(n_files, key).sortWithinPartitions(
                key
            )
        else:
            raise ValueError("zorder_cols supports 1 or 2 columns")
    else:
        df = df.coalesce(n_files)
    mdir = _manifest_dir(path)
    with open(os.path.join(mdir, f"{parent}.json")) as fh:
        pm = json.load(fh)

    def check_no_drift(nm: dict) -> None:
        if (
            nm["content_hash"] != pm["content_hash"]
            or nm["n_rows"] != pm["n_rows"]
        ):
            raise ValueError(
                "optimize_snapshot produced content drift vs parent"
                f" (v{parent} -> v{nm['version']}); nothing published"
            )

    # validate BEFORE the manifest rename: a drifted rewrite must never
    # become reader-visible, even transiently (the old publish-then-
    # rollback left both a concurrent-reader window and a crash window
    # where the drifted version stayed permanently manifested)
    return write_snapshot(df, path, validate=check_no_drift)
