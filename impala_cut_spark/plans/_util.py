"""Shared helpers for deterministic cross-engine (Spark vs DuckDB) plans."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from impala_cut_spark.sources.catalog import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def dec(c, prec: int = 9, scale: int = 2) -> Column:
    """Exact money/quantity value: double → DECIMAL(prec,scale).

    Both Spark and DuckDB round the double to the same nearest 2-dec
    value, and decimal arithmetic is exact in both — the foundation of
    hash-identical aggregates (registry.py rules).
    """
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({prec},{scale})")


def dsum(c, alias: str) -> Column:
    """SUM over exact decimals, emitted as DOUBLE."""
    return F.sum(dec(c)).cast("double").alias(alias)


def davg(c, alias: str) -> Column:
    """Deterministic AVG: exact decimal SUM / COUNT, in doubles."""
    col = F.col(c) if isinstance(c, str) else c
    return (F.sum(dec(col)).cast("double") / F.count(col)).alias(alias)


#: lineitem discounted price as exact decimal: (9,2)*(10,2) → (20,4)
def disc_price() -> Column:
    return dec("l_extendedprice") * (F.lit(1).cast("decimal(10,2)") - dec("l_discount", 10, 2))


#: + tax: (20,4)*(10,2) → (31,6); SUM caps at (38,6) without loss
def charge() -> Column:
    return disc_price() * (F.lit(1).cast("decimal(10,2)") + dec("l_tax", 10, 2))


# DuckDB-side equivalents (keep textually close to the Spark builders)
SQL_DISC_PRICE = (
    "cast(l_extendedprice as decimal(9,2))"
    " * (cast(1 as decimal(10,2)) - cast(l_discount as decimal(10,2)))"
)
SQL_CHARGE = SQL_DISC_PRICE + " * (cast(1 as decimal(10,2)) + cast(l_tax as decimal(10,2)))"


def sql_dsum(expr: str, alias: str) -> str:
    return f"cast(sum({expr}) as double) AS {alias}"


def sql_davg(col: str, alias: str) -> str:
    return f"(cast(sum(cast({col} as decimal(9,2))) as double) / count({col})) AS {alias}"


#: DuckDB replica of the cross-engine 60-bit md5 string hash
#: (operators/dedup.py md5_hash60 and its SQL text MD5_HASH60_SQL).
#: ONE definition: every oracle that must stay bit-identical to the
#: engine's md5-derived hashes formats this template.
SQL_H60 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"
