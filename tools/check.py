#!/usr/bin/env python
"""Local differential checker — mimics the driver's verify step.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, then compares row count, column names, and an
order-insensitive value comparison (columns sorted by name, rows sorted,
floats compared exactly after both engines' own rounding — mirroring a
value-hash check as closely as we can locally).

The value comparison stringifies, so it cannot see a type mismatch — yet
the driver's value-hash is type-sensitive (DuckDB integer ``sum()`` returns
HUGEINT where Spark returns BIGINT: identical values, different hash). Each
output column's type pairing is therefore checked too, and a hash-risky
one fails the query (see ``risky``).

Usage: python tools/check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from n2khab_mhq_data_spark.catalog import TESTDATA_TABLES  # noqa: E402
from n2khab_mhq_data_spark.session import get_spark  # noqa: E402


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written tables are DIRECTORIES of part files (the sf1.0
        # tier, tools/make_sf1.py's DST); the driver's testdata is single
        # files
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


# DuckDB type name -> the Spark dtypes the driver's hash agrees with
_EQUIV = {
    "BIGINT": {"bigint"},
    "INTEGER": {"int", "bigint"},
    "SMALLINT": {"smallint", "int", "bigint"},
    "TINYINT": {"tinyint", "smallint", "int", "bigint"},
    "DOUBLE": {"double"},
    "FLOAT": {"float", "double"},
    "VARCHAR": {"string"},
    "BOOLEAN": {"boolean"},
    "DATE": {"date"},
    "TIMESTAMP": {"timestamp", "timestamp_ntz"},
    "TIMESTAMP WITH TIME ZONE": {"timestamp"},
    "BLOB": {"binary"},
}


def risky(duck_type: str, spark_type: str) -> bool:
    """True when the driver's type-sensitive hash may reject the pairing:
    DuckDB HUGEINT / INT128 / DECIMAL against anything (CAST the oracle),
    scalar against array, or a pairing outside ``_EQUIV``."""
    d = duck_type.upper()
    if d.startswith(("DECIMAL", "HUGEINT", "INT128", "UHUGEINT")):
        return True
    d_is_arr = d.endswith("[]")
    s_is_arr = spark_type.startswith("array<") and spark_type.endswith(">")
    if d_is_arr != s_is_arr:
        return True  # scalar vs array can never hash-match
    if d_is_arr:
        return risky(d[:-2], spark_type[len("array<") : -1])
    return spark_type not in _EQUIV.get(d, {spark_type})


def normalize(rows: list[tuple], colnames: list[str]) -> list[tuple]:
    """Sort columns by name, stringify values, sort rows."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def fix(v):
        if v is None:
            return "\x00NULL"
        if isinstance(v, float):
            if v != v:
                return "NaN"
            # magnitude gate FIRST: int(inf) raises OverflowError, which
            # would abort the whole checker run instead of failing one
            # query's comparison
            if abs(v) < 1e15 and v == int(v):
                return str(int(v)) + ".0"
            return repr(v)
        if isinstance(v, bool):
            return str(bool(v))
        return str(v)

    return sorted(tuple(fix(r[i]) for i in order) for r in rows)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args or list(qs)

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # mimic the driver's verify: a DEFAULT-conf session (no tuned
        # shuffle count, no pinned timezone, 10MB broadcast threshold) —
        # any query whose result depends on our session tuning fails here
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[*]")
            .appName("check-vanilla")
            .getOrCreate()
        )
    else:
        # the checker COLLECTS full results for value comparison; at the
        # sf1.0 tier a single wide-output query can serialize >1 GiB
        # (dedup_simhash_pairs: 1.4 GiB), so the default 1g
        # maxResultSize is a checker limit, not a query defect — raise
        # it for check sessions only
        spark = get_spark(
            "check", extra_conf={"spark.driver.maxResultSize": "8g"}
        )
    con = duck_connect(sf_dir)
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            stypes = dict(sdf.dtypes)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [c for c in rel.columns]
            dtypes = [str(t) for t in rel.types]
            drows = rel.fetchall()
        except Exception:
            print(f"FAIL  {name}: duckdb error")
            traceback.print_exc()
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            a = normalize(srows, scols)
            b = normalize(drows, dcols)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ; first: {diff}")
        bad_types = [
            f"{c}: duck={d} spark={stypes[c]}"
            for c, d in zip(dcols, dtypes)
            if c in stypes and risky(d, stypes[c])
        ]
        if bad_types:
            problems.append("types " + " | ".join(bad_types))
        if problems:
            print(f"FAIL  {name}: " + " | ".join(problems))
            failures.append(name)
        else:
            print(f"OK    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    if failures:
        print("failed:", " ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
