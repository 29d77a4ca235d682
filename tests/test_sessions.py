"""Custom stateful sessionization (applyInPandasWithState) must emit
exactly the sessions the built-in session_window computes in batch.

Watermark mechanics: a session only closes when the event-time
watermark passes last_event + gap, so the replay appends two sentinel
files (far-future events) processed as separate micro-batches
(maxFilesPerTrigger=1) to push the watermark across every real
session's timeout.

The engine SparkSession that ``session.build_session`` builds is
checked at the end: a warm query mix larger than Spark's default
codegen cache recompiles nothing, reusing the live context names the
settings it cannot apply, and an ImpalaSession registers its Python
DataSources only on first use.
"""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F

from impala_cut_spark.session import ENGINE_CONF, build_session
from impala_cut_spark.sources.catalog import load_table
from impala_cut_spark.streaming.sessions import sessionize_stateful, user_sessions

GAP = "30 minutes"


def test_stateful_sessions_equal_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    max_ts = events.agg(F.max("ts")).collect()[0][0]

    # file 1: the real events; files 2-3: one sentinel per user pushing
    # the watermark +10h then +20h so every real session times out
    src = tmp_path / "stream_src"
    users = events.select("user_id").distinct()
    events.coalesce(1).write.parquet(str(src / "f1"))
    for i, hours in enumerate((10, 20), start=2):
        users.withColumn(
            "ts", F.lit(max_ts).cast("timestamp") + F.expr(f"interval {hours} hours")
        ).withColumn("value", F.lit(0.0)).select("user_id", "ts", "value").coalesce(
            1
        ).write.parquet(str(src / f"f{i}"))

    # flatten into one dir with increasing mtimes (file-source ordering)
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    t0 = time.time()
    for i in (1, 2, 3):
        for f in (src / f"f{i}").glob("*.parquet"):
            dst = stream_dir / f"{i}_{f.name}"
            dst.write_bytes(f.read_bytes())
            os.utime(dst, (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )
    q = (
        sessionize_stateful(stream, GAP)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    emitted = spark.table("sess_test").filter(F.col("session_start") <= F.lit(max_ts))
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in emitted.collect()
    }
    expected = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in user_sessions(events, GAP).collect()
    }
    assert len(got) == len(expected)
    assert got == expected


# --- the engine SparkSession -------------------------------------------


def test_warm_mix_recompiles_nothing(spark):
    """150 queries, each its own generated class (Spark inlines int
    literals), planned twice: more than the default 100-entry codegen
    cache holds, which an LRU cycle would miss on every access."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    queries = [f"SELECT id + {k} AS v FROM range(10)" for k in range(150)]

    def cycle() -> None:
        for q in queries:  # physical planning compiles; no job needed
            spark.sql(q)._jdf.queryExecution().toRdd()

    cycle()
    before = compiles.getCount()
    cycle()
    assert compiles.getCount() - before == 0


def test_reuse_warning_names_every_setting_that_cannot_apply(spark):
    """build_session on a live context warns with each launch-time
    setting and static SQL conf it was asked for and cannot apply, as
    merged with the caller's.  Same master, partitions and warehouse as
    the fixture, so the runtime confs it re-applies change nothing."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    with pytest.warns(UserWarning, match="reusing an already-running SparkContext") as rec:
        again = build_session(
            app_name="impala-cut-spark-tests",
            master="local[8]",
            shuffle_partitions=8,
            extra_conf={
                "spark.sql.warehouse.dir": warehouse,
                "spark.driver.extraJavaOptions": "-Dimpala.cut.reuse=1",
            },
        )
    assert again is spark
    msg = str(rec[0].message)
    for setting in (
        "spark.driver.memory=",
        f"spark.driver.extraJavaOptions={ENGINE_CONF['spark.driver.extraJavaOptions']} -Dimpala.cut.reuse=1",
        f"spark.executor.extraJavaOptions={ENGINE_CONF['spark.executor.extraJavaOptions']}",
        f"spark.sql.codegen.cache.maxEntries={ENGINE_CONF['spark.sql.codegen.cache.maxEntries']}",
        f"spark.sql.warehouse.dir={warehouse}",
    ):
        assert setting in msg
    assert "spark.sql.shuffle.partitions" not in msg  # a runtime conf applies


def test_session_registers_python_sources_on_first_use(spark, tmp_path, monkeypatch):
    """A new ImpalaSession registers no Python DataSource (the first
    registration starts a Python worker); STORED AS AVRO|WARC …
    LOCATION registers its source when it mounts."""
    from pyspark.sql.datasource import DataSourceRegistration

    from impala_cut_spark.session import ImpalaSession
    from impala_cut_spark.sources.avro import write_avro
    from impala_cut_spark.sources.warc import write_warc_files

    registered = []
    register = DataSourceRegistration.register

    def recording(self, source):
        registered.append(source.name())
        return register(self, source)

    monkeypatch.setattr(DataSourceRegistration, "register", recording)
    sess = ImpalaSession(spark)
    assert registered == []

    avro = str(tmp_path / "t.avro")
    write_avro(avro, [("id", "long")], [(1,), (2,)])
    warc = str(tmp_path / "crawl")
    write_warc_files([({"WARC-Type": "response"}, b"body")], warc)
    try:
        sess.sql(f"CREATE EXTERNAL TABLE first_use_avro STORED AS AVRO LOCATION '{avro}'")
        sess.sql(f"CREATE EXTERNAL TABLE first_use_warc STORED AS WARC LOCATION '{warc}'")
        assert sess.sql("SELECT sum(id) FROM first_use_avro").collect()[0][0] == 3
        assert sess.sql("SELECT count(*) FROM first_use_warc").collect()[0][0] == 1
    finally:
        spark.catalog.dropTempView("first_use_avro")
        spark.catalog.dropTempView("first_use_warc")
    assert sorted(set(registered)) == ["pyavro", "pywarc"]
