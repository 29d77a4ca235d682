"""Impala builtin-function compat layer.

The reference registers 275 builtins from
``/root/reference/common/function-registry/impala_functions.py`` into
its FE catalog (``fe/.../catalog/BuiltinsDb.java``). Spark already has
near-1:1 builtins for almost all of them (SURVEY.md §2.8); the deltas
are handled two ways:

1. SQL-text callers: the dialect rewriter expands Impala-only names
   inline (dialect.CALL_REWRITES) — zero runtime cost, type-generic.
2. DataFrame-API callers: Column helpers below.

Additionally ``register_all`` registers a handful of names as Spark
SQL UDFs (Spark ≥3.5 ``CREATE TEMPORARY FUNCTION … RETURN expr``,
inlined by the analyzer → still whole-stage-codegen'd) so raw
``spark.sql`` without the dialect layer also resolves them. Names that
are already Spark builtins cannot be replaced by a SQL UDF and are not
registered: ``zeroifnull`` and ``nullifzero`` match Impala as they
are, but Spark's ``dayname`` returns the abbreviated day (``'Thu'``),
so raw ``spark.sql`` differs from Impala's ``'Thursday'``; only the
dialect layer (``CALL_REWRITES``) gives the full name.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

# --- Column helpers (DataFrame-API mirror of dialect.CALL_REWRITES) ------


def zeroifnull(c: Column) -> Column:
    return F.coalesce(c, F.lit(0))


def nullifzero(c: Column) -> Column:
    return F.nullif(c, F.lit(0)) if hasattr(F, "nullif") else F.when(c != 0, c)


def strleft(c: Column, n) -> Column:
    return F.substring(c, 1, n)


def strright(c: Column, n) -> Column:
    return F.substring(c, -n, n)


def quotient(a: Column, b: Column) -> Column:
    """Integer division (sql-parser.y DIV operator / quotient()).

    True integer ``div`` (truncates toward zero, exact for the full
    bigint range) — not double division then cast, which loses
    precision for |values| >= 2**53."""
    return F.call_function("div", a.cast("bigint"), b.cast("bigint"))


def fnv_hash(*cols: Column) -> Column:
    """64-bit hash alias. NOT bit-compatible with Impala's FNV
    (be/src/exprs/utility-functions.{h,cc}); documented alias to
    xxhash64 — stable within this engine, used for hash-partitioning
    and fingerprints."""
    return F.xxhash64(*cols)


def ndv(c: Column) -> Column:
    """Approximate count-distinct. Impala uses HLL p=10
    (be/src/exprs/aggregate-functions.cc:89-93); Spark uses HLL++ —
    approximate-compatible, not value-identical (SURVEY §7 risk 2)."""
    return F.approx_count_distinct(c)


def group_concat(c: Column, sep: str = ", ") -> Column:
    """Deterministic group_concat: sorted before joining (Impala gives
    no internal ordering guarantee — BuiltinsDb.java:359-367)."""
    return F.array_join(F.sort_array(F.collect_list(c)), sep)


# --- SQL-name registration ------------------------------------------------

# (name, param list, return-expression) — types chosen as the widest
# overload; the dialect layer handles type-generic call sites.
_SQL_UDFS: list[tuple[str, str, str]] = [
    ("strleft", "(s STRING, n INT)", "left(s, n)"),
    ("strright", "(s STRING, n INT)", "right(s, n)"),
    ("fnv_hash", "(s STRING)", "xxhash64(s)"),
    ("is_inf", "(x DOUBLE)", "abs(x) = double('Infinity')"),
    ("is_nan", "(x DOUBLE)", "isnan(x)"),
    ("truncate", "(x DOUBLE, n INT)", "cast(x * pow(10, n) as bigint) / pow(10, n)"),
    ("quotient", "(a BIGINT, b BIGINT)", "a div b"),
] + [
    # interval arithmetic on TIMESTAMP (impala_functions.py:272-356);
    # ns variants truncate to µs (Spark has no ns type)
    (f"{name}_{suffix}", "(t TIMESTAMP, n INT)", f"timestampadd({unit}, {sign}n, t)")
    for name, unit in {
        "years": "YEAR",
        "months": "MONTH",
        "weeks": "WEEK",
        "days": "DAY",
        "hours": "HOUR",
        "minutes": "MINUTE",
        "seconds": "SECOND",
        "milliseconds": "MILLISECOND",
        "microseconds": "MICROSECOND",
    }.items()
    for suffix, sign in (("add", ""), ("sub", "-"))
]


def register_all(spark: SparkSession) -> None:
    """Register compat functions on the session. Never raises — a
    missing capability degrades to dialect-layer-only support."""
    import os
    import time

    for name, params, body in _SQL_UDFS:
        try:
            spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{params} "
                f"RETURNS {_ret_type(body)} RETURN {body}"
            )
        except Exception:
            pass
    try:
        # utility builtins (utility-functions.{h,cc}): pid() is the
        # coordinator pid here (one JVM, no per-backend daemons);
        # sleep(ms) -> true after sleeping, as in the reference.
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION pid() RETURNS INT RETURN {os.getpid()}"
        )
        spark.udf.register(
            "sleep", lambda ms: (time.sleep((ms or 0) / 1000.0), True)[1], "boolean"
        )
    except Exception:
        pass


def _ret_type(body: str) -> str:
    if body.startswith(("left", "right")):
        return "STRING"
    if body.startswith("timestampadd"):
        return "TIMESTAMP"
    if body.startswith("xxhash64") or body == "a div b":
        return "BIGINT"
    if "isnan" in body or "Infinity" in body:
        return "BOOLEAN"
    return "DOUBLE"
