"""JSONL (newline-delimited JSON) source and sink.

JSONL is the interchange format of LLM training corpora (one document
object per line — the shape HuggingFace datasets, Dolma, RedPajama and
every crawl pipeline publish). The reference's extract surface is
CSV/TSV (SURVEY.md §2.1 S5/S6/S8/S9); this module is the corpus-side
analog with the same determinism contract as ``write_vc``/``write_csv2``:
a given DataFrame always produces byte-identical shard files.

Scale notes:
- READ is splittable: line-delimited JSON parses per HDFS block (Spark's
  JSON datasource in default single-line mode), so a 100 TB corpus fans
  out across all executors — unlike ``multiLine`` JSON, which forces one
  task per file. The schema is supplied explicitly, which skips the
  sampling inference pass (one full extra scan at scale) AND pins types
  against drift in heterogeneous shards.
- Malformed lines are captured, not dropped: PERMISSIVE mode routes them
  to a corrupt-record column so the pipeline can count/quarantine them
  (a crawl corpus ALWAYS has some), while ``read_jsonl_strict`` raises
  on first corruption for publish-grade inputs.
- WRITE is shard-parallel: rows are hash-assigned to ``n_shards``
  writers and sorted within each shard, so output bytes are independent
  of the incoming partitioning/row order — no ``coalesce(1)`` driver
  funnel anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str,
) -> DataFrame:
    """Read line-delimited JSON with an explicit schema; malformed lines
    land in ``_corrupt_record`` (all data columns null) instead of being
    silently dropped. Returns the full frame including the corrupt
    column — callers split it with ``split_corrupt``.

    Implemented as text scan + ``from_json`` rather than the JSON
    datasource: the datasource forbids any plan whose pruned scan
    schema is only the corrupt column (UNSUPPORTED_FEATURE.QUERY_ONLY_
    CORRUPT_RECORD_COLUMN), which breaks the most natural quarantine
    query of all — ``bad.count()``. The text scan is equally
    line-splittable and ``from_json`` is JVM-side codegen, so nothing
    is lost at scale; Catalyst still prunes parsed struct fields."""
    return parse_jsonl_lines(spark.read.text(path), schema)


def parse_jsonl_lines(lines: DataFrame, text_schema: str) -> DataFrame:
    """The ONE line->row parse projection, shared by ``read_jsonl`` and
    ``read_jsonl_strict`` so both agree line for line. ``lines`` carries
    a ``value`` string column.

    from_json yields a NULL struct — NOT a populated corrupt column —
    for blank/whitespace-only lines and the bare JSON literal ``null``;
    the coalesce override routes such phantom lines to the corrupt leg
    (confirmed empirically) instead of the GOOD corpus as all-null
    rows."""
    from pyspark.sql.types import StructType

    full = f"{text_schema}, {CORRUPT_COL} string"
    data_cols = StructType.fromDDL(text_schema).names
    parsed = lines.select(
        "value",
        F.from_json(
            "value",
            full,
            {
                "mode": "PERMISSIVE",
                "columnNameOfCorruptRecord": CORRUPT_COL,
            },
        ).alias("r"),
    )
    return parsed.select(
        *[F.col(f"r.{c}").alias(c) for c in data_cols],
        F.coalesce(
            F.col(f"r.{CORRUPT_COL}"),
            F.when(F.col("r").isNull(), F.coalesce("value", F.lit(""))),
        ).alias(CORRUPT_COL),
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, bad): good rows with the corrupt column dropped; bad rows
    kept WHOLE (all data columns null + the raw line in
    ``_corrupt_record``) for quarantine. The bad leg deliberately keeps
    every column: Spark refuses a scan whose pruned schema is ONLY the
    internal corrupt column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_
    RECORD_COLUMN — it could never be populated), and a quarantine sink
    wants the full row context anyway."""
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull())
    return good, bad


def read_jsonl_strict(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """FAILFAST read for publish-grade inputs: any malformed line aborts
    the job at action time (the JSONL analog of the versioned-TSV hash
    check).

    Built on the SAME text-scan + parse pipeline as ``read_jsonl``
    rather than the JSON datasource's FAILFAST mode: the datasource
    silently SKIPS blank/whitespace-only lines (they never reach the
    parser), so a publish-grade file with stray blank lines would pass
    the "strict" gate while failing any line-count reconciliation
    against the permissive reader. Here every physical line is
    accounted for — a blank line is malformed and raises like any other
    corruption."""
    parsed = parse_jsonl_lines(spark.read.text(path), schema)
    guard = F.when(
        F.col(CORRUPT_COL).isNotNull(),
        F.raise_error(
            F.concat(
                F.lit("read_jsonl_strict: malformed JSONL line: "),
                F.col(CORRUPT_COL),
            )
        ).cast("boolean"),
    ).otherwise(F.lit(True))
    return parsed.filter(guard).drop(CORRUPT_COL)


def write_jsonl(
    df: DataFrame,
    path: str,
    order_by: list[str],
    n_shards: int = 8,
    shard_by: list[str] | None = None,
) -> None:
    """Deterministic sharded JSONL export: rows are assigned to shards
    by a hash of ``shard_by`` (default: the sort key) and sorted by
    ``order_by`` within each shard, so the emitted bytes are a pure
    function of the data — independent of input partitioning, task
    scheduling, or cluster size. NaN-free numeric columns round-trip
    exactly (JSON longs are exact; doubles print shortest-round-trip).

    ``to_json(struct(*))`` keeps serialization JVM-side (codegen), and
    each shard writes in parallel — the merge step CSV needs for a
    single file is unnecessary here because JSONL consumers glob.

    Shard routing detail: ``repartition(n, "__shard")`` re-HASHES the
    shard id, so distinct ids collide onto few partitions (n_shards=2
    puts both shards in ONE task — the coalesce(1) funnel this sink
    exists to avoid). The ids are instead remapped through a probe-built
    token table: for each target partition we find (once, driver-side,
    via the same Murmur3 ``F.hash`` repartition uses) an integer token
    that hash-routes to it, giving an exact one-shard-per-partition
    bijection at any n_shards."""
    keys = shard_by or order_by
    # write_vc's fail-fast total-order posture: duplicate sort keys
    # would leave tie order to shuffle arrival, so a rerun could emit
    # different bytes — the opposite of this sink's contract
    dup = df.groupBy(*order_by).count().filter(F.col("count") > 1).limit(1)
    if dup.count() > 0:
        raise ValueError(
            f"write_jsonl: order_by {order_by} is not a total order —"
            " duplicate sort keys would make shard bytes"
            " nondeterministic across reruns"
        )
    spark = df.sparkSession
    # token probe: pmod(F.hash(id), n) IS repartition's partition id
    # (both are Murmur3 seed 42 mod n), so the first id seen per
    # partition is a token that routes there deterministically
    probe = (
        spark.range(0, max(4096, 64 * n_shards))
        .select("id", F.pmod(F.hash("id"), F.lit(n_shards)).alias("p"))
        .collect()
    )
    token: dict[int, int] = {}
    for r in probe:
        token.setdefault(r["p"], r["id"])
    if len(token) < n_shards:  # pragma: no cover — P(miss) < 1e-27
        raise RuntimeError(
            f"write_jsonl: probe found only {len(token)}/{n_shards}"
            " shard tokens; widen the probe range"
        )
    # token values must be LONG: the probe hashed spark.range's LongType
    # ids, and Murmur3 hashes int32 and int64 DIFFERENTLY — a plain
    # F.lit(token) would re-inject the token as IntegerType, repartition
    # would hash the int32, and the claimed shard->partition bijection
    # silently breaks (shards collide into shared files)
    tok_map = F.create_map(
        *[
            e
            for s in range(n_shards)
            for e in (F.lit(s), F.lit(token[s]).cast("long"))
        ]
    )
    shard = F.pmod(F.xxhash64(*[F.col(c) for c in keys]), n_shards).cast(
        "int"
    )
    (
        df.withColumn("__tok", tok_map[shard])
        .repartition(n_shards, "__tok")
        .sortWithinPartitions(*order_by)
        .select(F.to_json(F.struct(*df.columns)).alias("value"))
        .write.mode("overwrite")
        .text(path)
    )
