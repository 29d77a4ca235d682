"""Co-located joins via bucketing, and skew salting.

The reference co-locates joins by hash-partitioned exchanges chosen by
the planner (``fe/.../planner/Planner.java:431-530``; DataStreamSender
HASH_PARTITIONED). Spark's durable equivalent is bucketed tables: both
sides pre-hashed into the same bucket count on the join key means the
join runs with NO exchange at query time — the decisive layout choice
at 100 TB, where shuffling a fact table per query is the bottleneck.

Salting handles the other failure mode: one hot key overwhelming a
single reducer. AQE skew-join splitting (on in session.py) covers most
cases at runtime; explicit salting is for the pathological producer-
side skew AQE can't split (e.g. one key = 30% of rows in a groupBy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Persist a table bucketed (and optionally sorted) on the join
    key. Equal bucket counts on both sides of an equi-join eliminate
    the exchange; sorted buckets additionally skip the sort of a
    sort-merge join."""
    w = df.write.format(fmt).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.mode("overwrite").saveAsTable(table)


def salted_groupby_count(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """Two-phase skew-proof count per key: phase 1 groups on
    (key, random salt) so a hot key spreads over ``n_salts`` reducers;
    phase 2 merges the per-salt partials — its input is ≤ n_salts rows
    per key regardless of skew."""
    salted = df.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    partial = salted.groupBy(key, "_salt").agg(F.count(F.lit(1)).alias("_partial"))
    return partial.groupBy(key).agg(F.sum("_partial").alias("n"))


def salted_join(
    big: DataFrame, small: DataFrame, key: str, n_salts: int = 8
) -> DataFrame:
    """Skew-proof equi-join: salt the big side's key, replicate the
    small side across all salt values — a hot key's rows land on
    ``n_salts`` reducers instead of one. Output = plain inner join
    columns. Use when AQE's skew splitting can't help (e.g. the skew
    is in a single in-flight partition of a shuffled hash join)."""
    big_s = big.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    joined = big_s.join(small_s, [key, "_salt"])
    return joined.drop("_salt")
