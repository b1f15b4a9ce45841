"""Skew-kill salting (SURVEY.md §2.3 G4).

Dense urban extents make some cells hold a huge share of documents
(BASELINE.json:6 calls this out explicitly). AQE's skew-join splitting
only splits oversized shuffle PARTITIONS; it cannot split one hot KEY.
So heavy keys get an explicit salt:

    1. measure: one cheap count-by-key pass -> heavy-hitter map
       {key -> salt_k} for keys above a row threshold (broadcast);
    2. big side: salt = pmod(hash(row-unique-col), salt_k(key));
    3. small side (if joining): replicate each heavy key's rows across
       all salt values with explode(sequence(0, k-1)).

Works for aggregations (groupBy(key, salt) partial -> groupBy(key)
final) and joins (join on (key, salt)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def heavy_hitters(
    df: DataFrame, key_col: str, threshold: int, max_salt: int = 64
) -> dict[int, int]:
    """Count rows per key; return {key: salt_k} for keys over threshold.

    salt_k scales with how far over the threshold the key is, capped.
    On a cluster this is one partial-aggregated pass (cheap: one long
    per distinct key).
    """
    counts = df.groupBy(key_col).count().filter(F.col("count") > threshold).collect()
    return {
        r[key_col]: int(min(max_salt, max(2, r["count"] // max(threshold, 1) + 1)))
        for r in counts
    }


def with_salt(
    df: DataFrame,
    key_col: str,
    heavy: dict[int, int],
    unique_cols: str | list[str],
    salt_col: str = "salt",
) -> DataFrame:
    """Attach salt: pmod(hash(unique_cols), k) for heavy keys, 0 otherwise."""
    if not heavy:
        return df.withColumn(salt_col, F.lit(0))
    if isinstance(unique_cols, str):
        unique_cols = [unique_cols]
    k_map = F.create_map(*[F.lit(x) for kv in heavy.items() for x in kv])
    k = F.coalesce(k_map[F.col(key_col)], F.lit(1))
    return df.withColumn(
        salt_col, F.pmod(F.hash(*[F.col(c) for c in unique_cols]), k).cast("int")
    )


def replicate_for_salt(
    df: DataFrame, key_col: str, heavy: dict[int, int], salt_col: str = "salt"
) -> DataFrame:
    """Small-side replication: one row per (row, salt value)."""
    if not heavy:
        return df.withColumn(salt_col, F.lit(0))
    k_map = F.create_map(*[F.lit(x) for kv in heavy.items() for x in kv])
    k = F.coalesce(k_map[F.col(key_col)], F.lit(1))
    return df.withColumn(salt_col, F.explode(F.sequence(F.lit(0), k - 1))).withColumn(
        salt_col, F.col(salt_col).cast("int")
    )
