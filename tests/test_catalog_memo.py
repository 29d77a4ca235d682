"""Catalog memo boundaries (r12 verdict #5 / ADVICE r12 #1).

The per-session table-plan memo must (a) never serve a SHADOWED temp
view back to the SQL surface after register_views, and (b) never cover
tables the INSERT/DDL surface writes — only the immutable driver
testdata under sf_dir. Filling it reads each table's schema from its
footer on the driver: the scan gets the schema Spark's inference would
give, and no Spark job runs.
"""

from __future__ import annotations


def test_register_views_restores_replaced_view(spark, sf_dir):
    """ADVICE r12 #1 repro: a CREATE OR REPLACE TEMP VIEW that shadows
    a catalog table name must be overwritten by the next
    register_views — the r12 sentinel-existence memo returned early
    and left SQL queries silently reading the shadow."""
    from impala_cut_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    orig = spark.sql("SELECT count(*) AS c FROM lineitem").collect()[0]["c"]
    assert orig > 1

    spark.sql("CREATE OR REPLACE TEMP VIEW lineitem AS SELECT 1 AS x")
    assert spark.sql("SELECT count(*) AS c FROM lineitem").collect()[0]["c"] == 1

    register_views(spark, sf_dir)
    after = spark.sql("SELECT count(*) AS c FROM lineitem").collect()[0]["c"]
    assert after == orig


def test_register_views_restores_dropped_view(spark, sf_dir):
    from impala_cut_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    spark.catalog.dropTempView("embeddings")
    register_views(spark, sf_dir)
    assert spark.sql("SELECT count(*) FROM embeddings").collect()[0][0] > 0


def test_load_table_memo_never_covers_mutable_tables(spark, sf_dir):
    """The memo keys (sf_dir, name) over the driver's immutable
    testdata only. Tables written through the DDL/DML surface resolve
    through Spark's own catalog — two INSERTs must both be visible
    (a stale pinned file listing would freeze the first)."""
    from impala_cut_spark.session import ImpalaSession
    from impala_cut_spark.sources.catalog import TABLES

    sess = ImpalaSession(spark)
    sess.sql("DROP TABLE IF EXISTS _memo_boundary_t")
    sess.sql("CREATE TABLE _memo_boundary_t (k INT, v STRING) STORED AS PARQUET")
    sess.sql("INSERT INTO _memo_boundary_t VALUES (1, 'a')")
    assert sess.sql("SELECT count(*) FROM _memo_boundary_t").collect()[0][0] == 1
    sess.sql("INSERT INTO _memo_boundary_t VALUES (2, 'b')")
    assert sess.sql("SELECT count(*) FROM _memo_boundary_t").collect()[0][0] == 2

    # the plan memo holds only declared driver tables — never DML targets
    memo = spark.__dict__.get("_icg_table_plans", {})
    for sf, name in memo:
        assert name in TABLES
    sess.sql("DROP TABLE _memo_boundary_t")


def test_register_views_runs_no_spark_job(spark, sf_dir, tmp_path):
    """Each table's schema comes from its footer, read on the driver:
    registering the views of a fresh copy (so the memo is cold) starts
    no Spark job, where parquet schema inference runs one per table."""
    import shutil

    from impala_cut_spark.sources.catalog import TABLES, register_views

    copy = tmp_path / "sf"
    copy.mkdir()
    for t in TABLES:
        shutil.copy(f"{sf_dir}/{t}.parquet", copy / f"{t}.parquet")
    sc = spark.sparkContext
    tag = "register-views-no-job"
    sc.addJobTag(tag)
    try:
        register_views(spark, str(copy))
    finally:
        sc.removeJobTag(tag)
        register_views(spark, sf_dir)  # the other tests read the fixture's tables
    assert list(sc._jsc.sc().statusTracker().getJobIdsForTag(tag)) == []


def _same_scan_schema(spark, path):
    from impala_cut_spark.sources.catalog import footer_schema

    inferred = spark.read.parquet(path).schema
    assert spark.read.schema(footer_schema(spark, path)).parquet(path).schema == inferred


def test_footer_schema_matches_inference(spark, sf_dir, tmp_path):
    """footer_schema gives the scan the schema Spark's own inference
    would: the driver tables, a Spark-written multi-part directory with
    INT96 and NTZ timestamps and an array of floats, and a pyarrow
    TIMESTAMP(NANOS) file read as BIGINT under nanosAsLong."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from impala_cut_spark.sources.catalog import TABLES

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for t in TABLES:
        _same_scan_schema(spark, f"{sf_dir}/{t}.parquet")

    multi = str(tmp_path / "multi.parquet")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.sql(
            "SELECT id, cast(id AS timestamp) AS ts, cast(cast(id AS timestamp) AS timestamp_ntz)"
            " AS ntz, array(cast(id AS float), 1.5f) AS af FROM range(40)"
        ).repartition(4).write.parquet(multi)
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    _same_scan_schema(spark, multi)
    assert spark.read.parquet(multi).schema.simpleString() == (
        "struct<id:bigint,ts:timestamp,ntz:timestamp_ntz,af:array<float>>"
    )

    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), nanos)
    _same_scan_schema(spark, nanos)
    assert spark.read.parquet(nanos).schema.simpleString() == "struct<ts:bigint>"
