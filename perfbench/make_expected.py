#!/usr/bin/env python3
"""Regenerate ``expected.json``, the outputs the benchmark checks against.

    python3 perfbench/make_expected.py

For the ``noop`` workloads each op's [row count, digest] comes from its
DuckDB oracle (``oracle_sql()``) run on the benchmark's own data, through
``tools/check.py``'s normalization. ``write_vc`` has no oracle, so each
``publish`` op's data_hash is the one Spark's ``write_vc`` produces here;
the benchmark then requires every pass to reproduce it.
"""

from __future__ import annotations

import json
import random
import sys

import run as bench

sys.path.insert(0, str(bench.ROOT))

import __spark_entry__  # noqa: E402
from tools.check import duck_connect  # noqa: E402


def main() -> None:
    oracles = __spark_entry__.oracle_sql()
    expected: dict = {"noop": {}, "write_vc": {}}
    con = duck_connect(str(bench.DATA))
    for wl in bench.WORKLOADS.values():
        if wl.publish:
            continue
        for op in wl.ops:
            rel = con.sql(oracles[op])
            expected["noop"][op] = bench.digest(rel.fetchall(), rel.columns)
    bench.prepare_out()
    for wl in bench.WORKLOADS.values():
        if not wl.publish:
            continue
        run = bench.Run(wl, False, random.Random(0), {}, queries=__spark_entry__.queries())
        run.start_session()
        try:
            for op in wl.ops:
                df = run.queries[op](run.spark, str(bench.DATA))
                meta = bench.write_vc(df, op)
                expected["write_vc"][op] = meta["data_hash"]
        finally:
            bench.stop_all(run)
    (bench.BENCH / "expected.json").write_text(
        json.dumps(expected, indent=1, sort_keys=True) + "\n"
    )


if __name__ == "__main__":
    main()
