"""Order-insensitive content digests of Spark tables, for golden checks.

A table's digest per epoch is its row count and the sum, modulo 2^64, of
one 64-bit hash per row. The row hash covers every column except the
grouping one, taken in sorted name order, so neither row order,
partitioning nor column order changes the digest, while any changed,
added or dropped row does. The hashing runs in Spark; only one row per
epoch reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MASK = (1 << 64) - 1


def row_hash(df: DataFrame, exclude: tuple[str, ...] = ()):
    cols = sorted(c for c in df.columns if c not in exclude)
    return F.xxhash64(*[F.col(f"`{c}`") for c in cols])


def digest_tables(tables: dict[str, DataFrame], key: str = "epoch") -> dict[str, dict]:
    """{table: {str(key value): [rows, 16-hex-digit hash]}} for every table
    and key value, in one Spark job over the union of the tables."""
    parts = [
        df.select(F.lit(name).alias("t"), F.col(key).cast("string").alias("k"),
                  row_hash(df, (key,)).alias("h"))
        for name, df in tables.items()
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    rows = (
        union.groupBy("t", "k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("h"))
        .collect()
    )
    out: dict[str, dict] = {name: {} for name in tables}
    for r in rows:
        out[r["t"]][r["k"]] = [int(r["n"]), format(int(r["h"]) & _MASK, "016x")]
    return out
