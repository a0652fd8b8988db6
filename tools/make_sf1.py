#!/usr/bin/env python
"""Generate an sf1.0 tier (~6M lineitem) by structure-preserving 10x
upsampling of the driver's sf0.1 tables, for the 0.1 -> 1.0 leg of the
scaling probe (tools/scale_probe.py). The driver's generator is not
available, so each table is replicated 10x with per-replica key shifts
that keep every join consistent within a replica.

Two perturbations keep the WORKLOAD shape linear instead of
manufacturing artificial quadratic blowups:

- document text gets a per-replica word suffix (``_r<i>``), so
  cross-replica docs share no shingles — otherwise every doc would gain
  9 exact/near duplicates and the LSH/dedup pair count would grow 100x
  for 10x data *by construction of the data*, not the algorithm;
- embedding vectors are rotated by ``i`` components per replica, so
  cross-replica cosines decorrelate while within-replica geometry (and
  thus ANN/top-k workload structure) is preserved exactly.

region/nation stay fixed (TPC-H semantics: 5/25 rows at every SF).

Output: ``.scale/sf1.0/*.parquet`` under the repository root (``DST``,
gitignored scratch); bench.py, tools/scale_probe.py and
tools/sweep_delta.py read the tier from there.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from n2khab_mhq_data_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = str(Path(__file__).resolve().parent.parent / ".scale" / "sf1.0")
SHIFT = 100_000_000
REPLICAS = 10


def main() -> None:
    spark = get_spark("make_sf1", cpus=32)
    out = Path(DST)
    out.mkdir(parents=True, exist_ok=True)

    for t in ("region", "nation"):
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{DST}/{t}.parquet")

    id_cols = {
        "customer": ["c_custkey"],
        "supplier": ["s_suppkey"],
        "part": ["p_partkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "events": ["event_id", "user_id"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
    }
    for t, keys in id_cols.items():
        base = spark.read.parquet(f"{SRC}/{t}.parquet")
        reps = []
        for i in range(REPLICAS):
            r = base
            for k in keys:
                r = r.withColumn(k, (F.col(k) + F.lit(i * SHIFT)).cast("long"))
            if t == "documents" and i > 0:
                words = F.split(F.col("text"), " ")
                r = r.withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            words, lambda w: F.concat(w, F.lit(f"_r{i}"))
                        ),
                        " ",
                    ),
                ).withColumn("n_chars", F.length("text").cast("long"))
            if t == "embeddings" and i > 0:
                r = r.withColumn(
                    "embedding",
                    F.concat(
                        F.slice("embedding", i + 1, 64 - i),
                        F.slice("embedding", 1, i),
                    ),
                )
            reps.append(r)
        df = reps[0]
        for r in reps[1:]:
            df = df.unionByName(r)
        df.write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
        n = spark.read.parquet(f"{DST}/{t}.parquet").count()
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    main()
