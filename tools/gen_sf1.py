"""Build the 10x scale-up dataset the sf1 oracle gate runs on.

    python tools/gen_sf1.py [src] [dst]    # defaults: /root/testdata/sf0.1 /tmp/sf1
    python tools/check_oracle.py /tmp/sf1

The fact tables (lineitem, orders, events, documents, embeddings) become
ten copies whose keys are shifted by `i * SHIFT`, so joins stay intact and
no copy's keys meet another's; the dimension tables are copied unchanged.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import pyspark.sql.functions as F  # noqa: E402

from sanef_election_dashboard_etl_spark.catalog import table  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sf1"
SHIFT = 10_000_000
COPIES = 10
DIMENSIONS = ("customer", "supplier", "nation", "region", "part")


def _copies(df, shift_cols, text_salt=False):
    """COPIES unioned copies of `df`, copy i with `shift_cols` + i*SHIFT."""
    out = None
    for i in range(COPIES):
        di = df
        for c in shift_cols:
            di = di.withColumn(c, F.col(c) + F.lit(i * SHIFT))
        if text_salt:
            di = di.withColumn("text", F.regexp_replace("text", r"(\S+)",
                                                        f"$1c{i}"))
        out = di if out is None else out.unionByName(di)
    return out


def generate(spark, src: str = SRC, dst: str = DST) -> int:
    """Write the 10x copy of `src` to `dst`; returns its lineitem rows."""
    def read(name):
        return spark.read.parquet(f"{src}/{name}.parquet")

    def write(df, name, parts):
        df.repartition(parts).write.mode("overwrite") \
            .parquet(f"{dst}/{name}.parquet")

    write(_copies(read("lineitem"), ["l_orderkey"]), "lineitem", 32)
    write(_copies(read("orders"), ["o_orderkey"]), "orders", 8)
    for t in DIMENSIONS:
        read(t).write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
    # events: shift event/user ids, keep timestamps, so 10x users share the
    # same time range and per-user session density is preserved. Read via
    # catalog.table (it normalizes the fixture's ts encoding) and write
    # TIMESTAMP_NTZ, the fixture encoding both Spark and DuckDB read.
    ev = _copies(table(spark, src, "events"), ["event_id", "user_id"])
    write(ev.withColumn("ts", F.col("ts").cast("timestamp_ntz")), "events", 4)
    # documents: every token salted with the copy index, so copies share no
    # shingles and near-duplicate density stays that of the source
    write(_copies(read("documents"), ["doc_id"], text_salt=True),
          "documents", 8)
    # embeddings: vector values reused; ANN cost is rows x dims
    write(_copies(read("embeddings"), ["vec_id"]), "embeddings", 8)
    return spark.read.parquet(f"{dst}/lineitem.parquet").count()


def main(argv: list[str]) -> None:
    from sanef_election_dashboard_etl_spark.session import get_spark

    src = argv[0] if argv else SRC
    dst = argv[1] if len(argv) > 1 else DST
    n = generate(get_spark("gen_sf1"), src, dst)
    print(f"{dst}: {n} lineitem rows")


if __name__ == "__main__":
    main(sys.argv[1:])
