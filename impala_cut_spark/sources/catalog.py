"""Table catalog over the driver's parquet testdata.

Plays the role of the reference's catalog + HdfsTable metadata
(``fe/.../catalog/HdfsTable.java``): each table's schema is read once
from its parquet footer on the driver, as catalogd loads table
metadata, and handed to the scan, so no Spark job runs to learn it.
The statestore/catalogd distribution machinery
(``be/src/statestore``) is cluster plumbing Spark's own catalog
replaces — not rebuilt (SURVEY.md §1.3).

Scale notes: each table is a plain parquet scan — Catalyst handles
column pruning + predicate/partition pushdown. At 100 TB these would
be partitioned/bucketed catalog tables; the query code in plans/ and
operators/ only depends on the view names, so swapping the storage
layer is a catalog concern, not a query concern.
"""

from __future__ import annotations

import json

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: all driver-provided tables (TESTDATA.md)
TABLES = (
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


#: runtime confs every registered query's oracle contract depends on —
#: set defensively because the round driver runs queries() on ITS OWN
#: bare SparkSession (__spark_entry__), where Spark 4 defaults would
#: flip the semantics: ANSI on (errors instead of the reference's
#: NULL-on-error dialect), arbitrary local TZ (timestamp rendering must
#: be UTC to hash-match the DuckDB oracle). Both are runtime-settable;
#: load_table is the one funnel every registered query reads through.
_RUNTIME_CONTRACT = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def _ensure_runtime_contract(spark: SparkSession) -> None:
    for k, v in _RUNTIME_CONTRACT.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — a locked conf must not kill the scan
            pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Resolve a driver table to a DataFrame, through a per-session
    catalog memo.

    The memo caches the lazy PLAN (scan relation + schema), never data:
    every action on the returned DataFrame re-reads the parquet files.
    Without it, each of the bench's repeated query constructions pays
    driver-side file listing, a footer read (``footer_schema``) and the
    scan's analysis again per table per run, where a real engine
    resolves tables through a catalog exactly once — the reference
    caches HdfsTable metadata in catalogd, and bench.py's DuckDB proxy
    likewise registers its views once. Keyed on the session object
    itself so a stopped session's plans die with it; sf_dir/name key
    the immutable driver testdata."""
    cache = spark.__dict__.setdefault("_icg_table_plans", {})
    key = (sf_dir, name)
    cached = cache.get(key)
    if cached is not None:
        _ensure_runtime_contract(spark)
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    cache[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_runtime_contract(spark)
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects unless nanos are surfaced as BIGINT. Runtime
        # SQL conf, so set it here rather than requiring the caller's
        # session to be pre-configured (the driver builds its own).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(footer_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # events.ts is TIMESTAMP(NANOS) parquet, read as epoch-nanos via
        # spark.sql.legacy.parquet.nanosAsLong (session.py). Truncate to
        # µs exactly like DuckDB's ns→µs scan so oracle values align,
        # keeping the raw nanos alongside (no precision loss).
        df = df.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
        df = df.select("event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props")
    return df


def footer_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, read on the
    driver without inference's one-task Spark job: the job's own code
    (``ParquetFooterReader``, ``ParquetFileFormat.readSchemaFromFooter``
    and a converter built from the session's SQL conf), so Spark's rules
    for its row-metadata key, INT96, NTZ and ``nanosAsLong`` hold. A
    directory is read through its first file in path order that does
    not start with ``_`` or ``.``, as inference picks it when there is
    no summary file."""
    # classes by full name: py4j resolves spark._jvm.a.b.C one package per call
    client = spark.sparkContext._gateway._gateway_client
    pq = "org.apache.spark.sql.execution.datasources.parquet."
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    Path = JavaClass("org.apache.hadoop.fs.Path", client)
    file = Path(path)
    fs = file.getFileSystem(conf)
    if fs.getFileStatus(file).isDirectory():
        file = fs.globStatus(Path(file, "[!_.]*"))[0].getPath()  # sorted by path
    meta = JavaClass(pq + "ParquetFooterReader", client).readFooter(
        JavaClass("org.apache.parquet.hadoop.util.HadoopInputFile", client).fromPath(file, conf),
        JavaClass("org.apache.parquet.format.converter.ParquetMetadataConverter", client).NO_FILTER,
    )
    schema = JavaClass(pq + "ParquetFileFormat", client).readSchemaFromFooter(
        JavaClass("org.apache.parquet.hadoop.Footer", client)(file, meta),
        JavaClass(pq + "ParquetToSparkSchemaConverter", client)(state.conf()),
    )
    return StructType.fromJson(json.loads(schema.json()))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register all tables as temp views (the SQL entry surface).

    The table PLANS come from the per-session ``load_table`` memo (the
    expensive part — file listing + footer read happens once per
    session), but the temp views themselves are re-registered
    unconditionally: a sentinel ``tableExists`` guard (r12) could not
    see a view REPLACED out from under us (``CREATE OR REPLACE TEMP
    VIEW lineitem AS SELECT 1`` left the sentinel true and SQL queries
    silently read the shadow — ADVICE r12 #1), and the ten
    ``createOrReplaceTempView`` calls over already-analyzed memoized
    plans are ~1 ms each (measured) — noise next to the listing cost
    the memo exists for, and the same price any plan-identity check
    (sameSemantics per view) would pay."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def mount_mixed_table(
    spark: SparkSession,
    name: str,
    partitions: list[tuple[dict[str, str], str, str]],
    schema: str,
    text_options: dict[str, str] | None = None,
) -> DataFrame:
    """Mount a partitioned table whose partitions use DIFFERENT file
    formats as one view — the reference's mixed-format table support
    (``testdata/workloads/functional-query/queries/QueryTest/
    mixed-format.test``; per-partition ``ALTER TABLE … PARTITION …
    SET FILEFORMAT`` in ``HdfsTable.java`` partition descriptors).

    ``partitions``: [(partition_values, fmt, path)] with fmt in
    {"parquet", "text"}. Each partition directory is read with its own
    format reader against the shared data-column ``schema`` (DDL
    string, partition columns excluded), the partition-key columns are
    attached as literals (exactly how Impala's planner materializes
    partition keys — they live in metadata, not files), and the
    branches union.

    Scale: the union is N single-partition scans — Catalyst prunes
    whole branches when a filter fixes a partition key (constant
    folding turns ``k = 'x'`` into ``false`` on non-matching branches),
    so partition pruning works across formats exactly like a
    single-format table.
    """
    _ensure_runtime_contract(spark)
    out: DataFrame | None = None
    for part_values, fmt, path in partitions:
        if fmt in ("parquet",):
            df = spark.read.schema(schema).parquet(path)
        elif fmt in ("text", "textfile", "csv"):
            opts = {"sep": ",", "nullValue": r"\N", **(text_options or {})}
            df = spark.read.schema(schema).options(**opts).csv(path)
        else:
            raise ValueError(f"unsupported mixed-format partition format {fmt!r}")
        for k, v in part_values.items():
            df = df.withColumn(k, F.lit(v))
        out = df if out is None else out.unionByName(df)
    if out is None:
        raise ValueError("mount_mixed_table: no partitions given")
    out.createOrReplaceTempView(name)
    return out
