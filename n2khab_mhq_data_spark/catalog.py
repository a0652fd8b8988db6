"""Schema catalog.

The reference serializes every published table as TSV + a YAML sidecar
declaring per-column classes (git2rdata ``write_vc``; see e.g.
``/root/reference/processed/fieldmap_mhq/trees_a3a4.yml``). This module is
the Spark equivalent: a registry of ``TableSpec``s mapping the reference's
yml classes to Spark types, carrying factor-level domains (the reference's
``factor`` class has no Spark native; we validate against the level list)
and deterministic sort keys (needed to reproduce ``write_vc`` output).

Reference type system observed (SURVEY.md §1.2):
  integer -> IntegerType, numeric -> DoubleType (+digits on write),
  character -> StringType, logical -> BooleanType,
  Date -> DateType (stored as int days since 1970-01-01 in the TSV),
  factor -> StringType + level domain.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# reference yml class -> Spark type (SURVEY.md §1.2 table)
YML_CLASS_TO_SPARK: dict[str, T.DataType] = {
    "integer": T.IntegerType(),
    "numeric": T.DoubleType(),
    "character": T.StringType(),
    "logical": T.BooleanType(),
    "Date": T.DateType(),
    "factor": T.StringType(),
    "timestamp": T.TimestampType(),
}


@dataclass
class ColumnSpec:
    name: str
    yml_class: str
    nullable: bool = True
    digits: int | None = None              # numeric rounding on write
    levels: tuple[str, ...] | None = None  # factor domain
    ordered: bool = False

    @property
    def spark_type(self) -> T.DataType:
        return YML_CLASS_TO_SPARK[self.yml_class]


@dataclass
class TableSpec:
    name: str
    columns: list[ColumnSpec]
    sorting: tuple[str, ...] = ()          # write_vc sort keys
    grain: tuple[str, ...] = ()            # key columns asserted unique

    def struct_type(self) -> T.StructType:
        return T.StructType(
            [T.StructField(c.name, c.spark_type, c.nullable) for c in self.columns]
        )

    def conform(self, df: DataFrame) -> DataFrame:
        """Cast/reorder ``df`` to this spec (schema-drift unions: the
        reference unions 4 DB generations with differing column sets/types,
        query_fieldmap.Rmd:1363-1366,607-611 — missing columns become null,
        mistyped columns are cast). ``try_cast``, not ``cast``: this
        project runs Spark 4 with ANSI on, where a plain cast THROWS on
        the first malformed value — but drift tolerance is this
        method's whole purpose, and R's coercion (the reference
        behavior) yields NA for unparseable values, not an abort."""
        cols = []
        have = {c.lower(): c for c in df.columns}
        for c in self.columns:
            if c.name.lower() in have:
                cols.append(
                    F.col(have[c.name.lower()])
                    .try_cast(c.spark_type)
                    .alias(c.name)
                )
            else:
                cols.append(F.lit(None).cast(c.spark_type).alias(c.name))
        return df.select(*cols)

    def validate_factors(self, df: DataFrame) -> dict[str, int]:
        """CHECK-style domain validation for factor columns: returns the
        number of out-of-domain, non-null values per factor column."""
        checks = {
            c.name: F.sum(
                (
                    F.col(c.name).isNotNull()
                    & ~F.col(c.name).isin(*c.levels)
                ).cast("long")
            ).alias(c.name)
            for c in self.columns
            if c.yml_class == "factor" and c.levels
        }
        if not checks:
            return {}
        # ONE aggregation pass over the table, not one count() job per
        # factor column — at the 100 TB scale this module targets the
        # per-column rescans are pure repeated I/O
        (row,) = df.agg(*checks.values()).collect()
        return {name: int(row[name] or 0) for name in checks}


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

_REGISTRY: dict[str, TableSpec] = {}


def register(spec: TableSpec) -> TableSpec:
    _REGISTRY[spec.name] = spec
    return spec


def get_spec(name: str) -> TableSpec:
    return _REGISTRY[name]


def specs() -> dict[str, TableSpec]:
    return dict(_REGISTRY)


# Conformed-model specs for the reference's core published tables
# (grain/sort keys from query_fieldmap.Rmd:1959-1974 write_vc calls).
register(
    TableSpec(
        "sample_status",
        [
            ColumnSpec("plot_id", "integer", False),
            ColumnSpec("mon_cycle", "integer", False),
            ColumnSpec("status_fieldwork", "factor"),
            ColumnSpec("date_status", "Date"),
            ColumnSpec("db", "character"),
        ],
        sorting=("plot_id", "mon_cycle"),
        grain=("plot_id", "mon_cycle"),
    )
)
register(
    TableSpec(
        "cover_species",
        [
            ColumnSpec("plot_id", "integer", False),
            ColumnSpec("mon_cycle", "integer", False),
            ColumnSpec("layer", "character"),
            ColumnSpec("name_sc", "character"),
            ColumnSpec("cover_class", "character"),
            ColumnSpec("cover_mean", "numeric", digits=6),
            ColumnSpec("coverscale_name", "character"),
        ],
        sorting=("plot_id", "mon_cycle", "layer", "name_sc"),
        grain=("plot_id", "mon_cycle", "layer", "name_sc"),
    )
)
register(
    TableSpec(
        "site_characteristics",
        [
            ColumnSpec("recording_givid", "character", False),
            ColumnSpec("var_code", "character", False),
            ColumnSpec("var", "character"),
            ColumnSpec("value", "character"),
            ColumnSpec("value_numeric", "numeric", digits=6),
            ColumnSpec("is_below_LOQ", "logical"),
            ColumnSpec("is_above_LOQ", "logical"),
            ColumnSpec("is_numeric", "logical"),
            ColumnSpec("unit", "character"),
        ],
        sorting=("recording_givid", "var_code", "value"),
    )
)


# ---------------------------------------------------------------------------
# Test-bed tables (driver synthetic parquet, TESTDATA.md)
# ---------------------------------------------------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_cols(path: str) -> list[str]:
    """Column names stored as TIMESTAMP(NANOS) in the parquet footer —
    a driver-side pyarrow peek at ONE file's schema (cheap: footer
    only). Empty list when the footer can't be read; the try/except
    fallback in load() still covers that case."""
    try:
        import glob as _glob
        import os as _os

        import pyarrow.parquet as pq

        f = path
        if _os.path.isdir(path):
            parts = sorted(_glob.glob(_os.path.join(path, "*.parquet")))
            if not parts:
                return []
            f = parts[0]
        schema = pq.read_schema(f)
        # prefix match, not equality: a tz-aware TIMESTAMP(NANOS)
        # column prints as 'timestamp[ns, tz=UTC]' and would escape an
        # exact 'timestamp[ns]' comparison — then surface as a bare
        # bigint after the legacy-conf read
        return [
            name
            for name, typ in zip(schema.names, schema.types)
            if str(typ).startswith("timestamp[ns")
        ]
    except Exception:
        return []


def parquet_fingerprint(sf_dir: str, table: str) -> tuple:
    """(path, mtime_ns, size) tuple over a source table's parquet
    file(s) — the ONE memo-invalidation key recipe (the schema memo in
    load(), the build-step memos in plans/ and the names of the
    fingerprinted scratch stores); regenerated data at the same sf_dir
    must invalidate every one. Tolerates a file vanishing between glob
    and stat (TOCTOU) by skipping it — the changed listing itself
    already invalidates the key."""
    import glob
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    files = sorted(glob.glob(os.path.join(path, "*"))) or [path]
    out = []
    for f in files:
        try:
            st = os.stat(f)
        except FileNotFoundError:
            continue
        out.append((f, int(st.st_mtime_ns), st.st_size))
    return tuple(out)


# Session confs that change the schema Spark infers from a parquet
# footer (nanos as long, binary as string, INT96/NTZ timestamp typing,
# column-name case, schema merging across part files).
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
)

# (parquet_fingerprint, inference confs) -> (raw inferred schema, nanos
# columns). Plain StructTypes, no Spark handles, so entries outlive the
# session that inferred them and need no eviction.
_SCHEMAS: dict[tuple, tuple[T.StructType, list[str]]] = {}


def _schema_key(spark: SparkSession, sf_dir: str, name: str) -> tuple:
    return (
        parquet_fingerprint(sf_dir, name),
        tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
    )


def _read_parquet(
    spark: SparkSession, path: str
) -> tuple[DataFrame, list[str]]:
    """First read of a table: infer its schema (one Spark job) and find
    its nanos columns.

    TIMESTAMP(NANOS) columns (the driver writes events.parquet this
    way) are rejected by vanilla Spark (PARQUET_TYPE_ILLEGAL). We read
    nanos as long (legacy conf); load() rebuilds a microsecond timestamp
    from each.

    The legacy conf is session-wide and must STAY set while the
    returned scan executes, so it cannot be save/restored around the
    read. To keep that from silently turning some OTHER table's nanos
    column into a bare bigint later in the session, nanos columns are
    detected per table from the parquet FOOTER (driver-side pyarrow
    peek) and every one is rebuilt — the conf leak is then harmless by
    construction for anything read through this catalog."""
    nanos = _nanos_cols(path)
    if nanos:
        # Proactive, not try/except: the lazy schema merge would otherwise
        # fail a whole Spark job before we could retry with the conf set.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        return spark.read.parquet(path), nanos
    except Exception as e:
        # retry with the legacy conf ONLY for the nanos-timestamp
        # rejection it exists for — a bare retry would swallow the real
        # error (missing/corrupt file)
        if "PARQUET_TYPE_ILLEGAL" not in str(e):
            raise
    # footer peek missed (unreadable footer); the conf must stay set: the
    # returned DataFrame's SCAN reads it at execution time, not just at
    # schema resolution
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    # re-peek the footer now that we KNOW a nanos column exists — the
    # proactive peek can miss (e.g. first part file unreadable by
    # pyarrow) while other footers are fine; only if every footer stays
    # unreadable fall back to the 'ts' heuristic
    nanos = _nanos_cols(path) or [
        c for c, t in df.dtypes if t == "bigint" and c == "ts"
    ]
    return df, nanos


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table. Parquet scan => Catalyst gets column
    pruning + predicate pushdown for free; never cache here.

    The first load of a table infers its schema, which costs one Spark
    job (see _read_parquet for the nanos-timestamp handling); later
    loads reuse that raw inferred schema through
    ``spark.read.schema(...)``, which launches no job. The memo key is
    the table's parquet_fingerprint plus the session's values of the
    confs that change parquet inference (_INFERENCE_CONFS), so rewritten
    data, or a session whose confs differ, infers again. A hit implies
    the session already has the confs the schema was inferred under,
    the nanos-as-long conf included.

    Every nanos-as-long column is rebuilt as a microsecond timestamp
    with integer division — ``ts div 1000``, not ``/1000.0``, because
    nano-epoch values (~1.7e18) overflow double's 53-bit mantissa and
    would corrupt the microseconds."""
    path = f"{sf_dir}/{name}.parquet"
    hit = _SCHEMAS.get(_schema_key(spark, sf_dir, name))
    if hit is not None:
        schema, nanos = hit
        df = spark.read.schema(schema).parquet(path)
    else:
        df, nanos = _read_parquet(spark, path)
        schema = df.schema
        # keyed AFTER the read: it may have set the nanos-as-long conf
        _SCHEMAS[_schema_key(spark, sf_dir, name)] = (schema, nanos)
    dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    for c in nanos:
        if dtypes.get(c) == "bigint":
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"{c} div 1000"))
            )
    if name == "events" and dtypes.get("ts") == "timestamp_ntz":
        # driver may write plain TIMESTAMP(MICROS) without UTC
        # adjustment, which Spark 4 infers as TIMESTAMP_NTZ; session
        # timezone is pinned to UTC so this cast is value-preserving
        # and keeps downstream session_window/unix_millis plans typed
        # as they expect
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TESTDATA_TABLES}


def local_dim(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Small dimension table as a JVM ``VALUES`` LocalRelation.

    Unlike ``spark.createDataFrame(list)`` this puts no Python-RDD scan in
    the plan, so broadcasting the dim never round-trips through Python
    workers (observed as multi-second flaky stalls when such a dim was the
    build side of a broadcast join). Supports the primitive types our
    dimensions use (string/int/double/boolean + NULL).
    """
    fields = [f.strip().rsplit(None, 1) for f in schema.split(",")]
    if not rows:
        # "VALUES" with zero tuples is a parse trap (Spark reports a
        # misleading TABLE_OR_VIEW_NOT_FOUND on `VALUES`); an empty
        # typed relation is the correct value
        return spark.createDataFrame([], schema)

    def lit(v: object, typ: str) -> str:
        if v is None:
            return f"CAST(NULL AS {typ})"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            # backslash FIRST: Spark SQL string literals interpret
            # C-style escapes, so an unescaped backslash silently
            # corrupts the value ('C:\\temp' -> 'C:<TAB>emp') or breaks
            # the generated SQL outright
            v = v.replace("\\", "\\\\").replace("'", "\\'")
            return f"'{v}'"
        if isinstance(v, float) and (v != v or v in (
            float("inf"), float("-inf")
        )):
            # repr gives 'nan'/'inf', which Spark SQL parses as COLUMN
            # REFERENCES; the string forms cast correctly
            s = "NaN" if v != v else ("Infinity" if v > 0 else "-Infinity")
            return f"'{s}'"
        return repr(v)

    rows_sql = ",\n".join(
        "("
        + ", ".join(
            f"CAST({lit(v, t)} AS {t})" for v, (_, t) in zip(r, fields)
        )
        + ")"
        for r in rows
    )
    cols = ", ".join(n for n, _ in fields)
    return spark.sql(f"SELECT * FROM (VALUES {rows_sql}) AS t({cols})")
