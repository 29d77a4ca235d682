"""SparkSession bootstrap + Impala-compat session wrapper.

Replaces the reference's impalad/statestore/catalogd bootstrap
(``/root/reference/be/src/service/impala-server.cc:531``,
``be/src/statestore/statestore.cc``): Spark provides the cluster
runtime; we only own session configuration, the SQL dialect shim and
function registration.

Scale notes (100 TB / 1000-executor design intent):
- AQE on: runtime coalescing, skew-join splitting, dynamic
  broadcast-join conversion replace Impala's static FE decisions
  (``fe/.../planner/Planner.java:431-530``).
- ``spark.sql.shuffle.partitions`` is only the pre-AQE ceiling; AQE
  coalesces down. At cluster scale set it ~2-3× total cores.
- Parquet pushdown/pruning left at defaults (on) — equivalent of the
  reference's scan conjuncts + partition pruning
  (``fe/.../planner/HdfsScanNode.java:125-330``).
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import subprocess
import threading
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

#: Configs that encode the engine's execution policy. Every entry is a
#: plain Spark conf so a real cluster deployment can lift them into
#: spark-defaults.conf unchanged.
ENGINE_CONF: dict[str, str] = {
    # --- optimizer / runtime re-planning ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # runtime filters: subsumes Impala's probe-side bitmap filters
    # (be/src/exec/hash-join-node.cc:52,176-180)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # --- dialect semantics ---
    # The reference engine (pre-ANSI Impala era) returns NULL for
    # division by zero and failed casts rather than erroring
    # (be/src/exprs/ arithmetic + cast semantics); Spark 4 defaults to
    # ANSI errors — switch to the permissive dialect for parity.
    "spark.sql.ansi.enabled": "false",
    # --- deterministic cross-engine comparison ---
    "spark.sql.session.timeZone": "UTC",
    # --- python boundary ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python DataSource predicate offer (sources/external.py — the
    # ExternalDataSource.thrift accepted-conjuncts semantics)
    "spark.sql.python.filterPushdown.enabled": "true",
    # --- JVM code cache (r12) ---
    # Spark generates a Janino class per codegen unit per query; a
    # long-lived session cycling many queries fills HotSpot's default
    # ~240 MB reserved code cache, after which the JIT shuts off and
    # whole stages run INTERPRETED — measured on this workload as
    # intermittent 10-100× task-time spikes (2 s → 50-140 s on
    # identical re-runs) that vanish entirely with a 1 GiB cache +
    # flushing.  Scale-neutral: any production driver/executor running
    # a query mix needs the code cache sized for it (stock JVM tuning,
    # not a local-mode trick).  Takes effect at JVM launch, so it only
    # helps sessions this module itself builds (bench.py, servers,
    # tools) — which is where the many-queries-one-JVM pattern lives.
    # G1HeapRegionSize=16m (driver only): keeps Spark's 1-4 MB per-query
    # buffers (4 MB broadcast blocks, 1 MB serializer chunks) out of
    # humongous regions; a 4 GB driver heap's 2 MB regions let 0.9-1.4 GB
    # of them pile up between young GCs while ~95 MB was live.  G1 picks
    # 16 MB itself only from a 32 GB heap (heap / 2048), above the
    # default driver (build_session: half the host, at most 31 GB).
    # Executors keep G1's choice (1 MB regions at the default 1 GB heap)
    # until a workload measures one.
    # The heap also splits the driver's class-data-sharing archives
    # (_class_data_sharing): from 32 GB on, the JVM drops compressed
    # oops and maps the JDK's classes_nocoops.jsa as its base, so it
    # rejects an archive dumped under a smaller heap, and vice versa.
    # Heaps on either side of 32 GB each get their own.
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
    " -XX:G1HeapRegionSize=16m",
    "spark.executor.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
    # --- codegen cache ---
    # Spark's generated-class LRU holds 100; the 13 registry_pipeline
    # headliners need ~230 (all 23 bench headliners ~470), so every warm
    # pass recompiled as much as the cold one.  Static: applies only to
    # a session built here.  Needs the region size above: without class
    # churn the metadata GCs that reaped humongous garbage stop.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # --- storage quirks of the driver testdata ---
    # events.parquet stores TIMESTAMP(NANOS); Spark has no ns type, so
    # read as epoch-nanos BIGINT and convert at the catalog layer
    # (sources/catalog.py) with µs truncation to match DuckDB's scan.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # INSERT OVERWRITE ... PARTITION semantics of HdfsTableSink
    # (be/src/exec/hdfs-table-sink.cc:341-347): replace only written
    # partitions.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
}

#: Launch-time sources of class-path directories other than the conf dir.
_CLASS_PATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES")
_CDS_FLAG = re.compile(r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit|SharedClassListFile")
_UNIT_SHIFT = {"k": 10, "": 20, "m": 20, "g": 30, "t": 40}  # Spark reads a bare number as MiB


def _take_lock(lock: Path) -> bool:
    """Create ``lock`` holding this PID; first reclaim it, and its
    holder's unpromoted dump, if that PID is gone."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            try:
                os.kill(pid := int(lock.read_text()), 0)
                return False  # its holder runs
            except ProcessLookupError:
                lock.with_suffix(f".{pid}.tmp").unlink(missing_ok=True)
            except (ValueError, FileNotFoundError):  # being written or released
                pass
            lock.unlink(missing_ok=True)
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def _cds_plan(conf: dict[str, str]) -> tuple[str, Path, Path | None] | None:
    """(flag, archive path stem, dump file or None), or None when no
    class-data-sharing flag applies to the JVM about to launch."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if (
        SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or _CDS_FLAG.search(conf.get("spark.driver.extraJavaOptions", ""))
        or any(os.environ.get(k) for k in _CLASS_PATH_ENV)
        or "spark.driver.extraClassPath" in conf
        or "class-path" in os.environ.get("PYSPARK_SUBMIT_ARGS", "")
        or any(not n.endswith(".template") for n in os.listdir(conf_dir))
    ):
        return None
    java = shutil.which("java")
    java_home = os.environ.get("JAVA_HOME") or (java and Path(java).resolve().parents[1])
    heap = re.fullmatch(r"(\d+)([kmgt]?)b?", conf.get("spark.driver.memory", "1g").lower())
    if not java_home or heap is None:
        return None
    jdk = os.stat(os.path.join(java_home, "lib", "modules"))
    jars = sorted(
        (e.name, e.stat().st_size, e.stat().st_mtime_ns)
        for e in os.scandir(os.path.join(spark_home, "jars"))
    )
    coops = int(heap[1]) << _UNIT_SHIFT[heap[2]] < 32 << 30  # see ENGINE_CONF's driver options
    key = repr((str(java_home), jdk.st_size, jdk.st_mtime_ns, jars, coops))
    cds = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache") / "impala_cut_spark" / "cds"
    (cds / "conf").mkdir(parents=True, exist_ok=True)
    stem = cds / hashlib.sha256(key.encode()).hexdigest()[:16]
    for jsa in cds.glob(f"{stem.name}.*.jsa"):  # named with its size when promoted
        if jsa.name.split(".")[1] == str(jsa.stat().st_size):
            return f"-XX:SharedArchiveFile={jsa}", stem, None
        jsa.unlink(missing_ok=True)  # truncated: JDK 17 maps it unchecked and dies of SIGBUS
    tmp = Path(f"{stem}.{os.getpid()}.tmp")
    if _take_lock(stem.with_suffix(".lock")):
        return f"-XX:ArchiveClassesAtExit={tmp}", stem, tmp
    return None


def _promote(proc, tmp: Path, stem: Path) -> None:
    """At exit: end the gateway JVM, which writes ``tmp`` as it exits,
    and publish the dump only if the JVM exited cleanly."""
    try:
        proc.stdin.close()  # the gateway exits on EOF
        if proc.wait(timeout=300) == 0:
            os.replace(tmp, f"{stem}.{tmp.stat().st_size}.jsa")
    except (OSError, subprocess.TimeoutExpired):  # no dump written: nothing to publish
        pass
    tmp.unlink(missing_ok=True)
    stem.with_suffix(".lock").unlink(missing_ok=True)


@contextlib.contextmanager
def _class_data_sharing(conf: dict[str, str]):
    """Launch the driver JVM with a class-data-sharing archive (JEP 350):
    loading Spark's classes is most of a cold driver's set-up.

    Maps the promoted archive for this JDK, ``$SPARK_HOME/jars`` listing
    and compressed-oops mode; else the one process holding the archive's
    lock dumps it at JVM exit.  Yields the options to append to
    ``spark.driver.extraJavaOptions``, or None when a gateway exists, the
    caller set a CDS flag, or a directory other than a templates-only
    conf dir can reach the class path (a JDK 17 dump of one is fatal).
    For the launch only, the conf dir is swapped for an empty one: Spark
    reads no template.  A JVM that rejects the archive starts as without.
    """
    try:
        plan = _cds_plan(conf)
    except OSError:  # no JDK, jars or writable cache: launch as without an archive
        plan = None
    if plan is None:
        yield None
        return
    flag, stem, tmp = plan
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = str(stem.parent / "conf")
    try:
        yield f'"{flag}" -Xlog:cds*=off'
    except BaseException:
        if tmp is not None:
            stem.with_suffix(".lock").unlink(missing_ok=True)
        raise
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if tmp is not None:
        from pyspark import SparkContext

        atexit.register(_promote, SparkContext._gateway.proc, tmp, stem)


def _half_host_memory() -> str:
    """Half the host's physical memory in MB, capped at 31g."""
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(host >> 21, 31 << 10)}m"


def build_session(
    app_name: str = "impala-cut-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for local work;
    on a real cluster pass None and let spark-submit own it.  A new
    driver JVM starts from the host's class-data-sharing archive
    (``_class_data_sharing``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~#cores. Cluster mode: override upward.
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # local mode: the driver JVM IS the executor — 32 threads at 16g
        # (~0.5g/thread) was GC-bound on cached indexes + broadcasts
        # (measured: minhash bench -40% at a larger heap), so the default
        # is as large as the host allows: half its physical memory, the
        # rest left to Python workers and the OS, at most 31g so the heap
        # keeps compressed oops.  $SPARK_DRIVER_MEM overrides it.
        # Cluster mode: spark-submit owns executor sizing and this only
        # affects the driver process.
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM") or _half_host_memory(),
        "spark.ui.enabled": "false",
        **ENGINE_CONF,
    }
    for k, v in (extra_conf or {}).items():
        if k.endswith(".extraJavaOptions") and k in ENGINE_CONF:
            # APPEND caller JVM flags to the engine's code-cache flags
            # instead of silently replacing them (ADVICE r12 #2) —
            # within one extraJavaOptions string the last occurrence of
            # a -XX flag wins, so caller overrides still apply.
            v = f"{ENGINE_CONF[k]} {v}"
        conf[k] = v
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        # getOrCreate will REUSE the live JVM and context: JVM flags and
        # static SQL confs silently cannot apply to it (ADVICE r12 #2).
        # Surface that instead of letting a long session hit JIT-off
        # cliffs or codegen-cache churn with no breadcrumb.  SQLConf
        # knows the static keys once a session has started, which is
        # when they become fixed.
        import warnings

        is_static = sc._jvm.org.apache.spark.sql.internal.SQLConf.isStaticConfigKey
        fixed = "; ".join(
            f"{k}={v}"
            for k, v in conf.items()
            if k == "spark.driver.memory" or k.endswith(".extraJavaOptions") or is_static(k)
        )
        warnings.warn(
            f"build_session: reusing an already-running SparkContext — "
            f"these settings do not apply: {fixed}",
            stacklevel=2,
        )
    with _class_data_sharing(conf) if sc is None else contextlib.nullcontext() as cds:
        if cds:
            conf["spark.driver.extraJavaOptions"] += f" {cds}"
        spark = SparkSession.builder.appName(app_name).master(master).config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from impala_cut_spark.functions.registry import register_all

    register_all(spark)
    return spark


class ImpalaSession:
    """Impala-compatible façade over a SparkSession.

    Mirrors the client-visible surface of the reference coordinator
    (Beeswax/HS2 ``query``/``fetch`` —
    ``be/src/service/impala-beeswax-server.cc``): ``sql()`` accepts
    Impala-dialect SQL, rewrites it to Spark SQL (dialect.py), and
    returns a DataFrame. Query options (`SET`) map onto Spark confs.
    """

    #: Impala query options → Spark conf (None = accepted no-op).
    #: Option list: /root/reference/common/thrift/ImpalaService.thrift:28-118
    _OPTION_MAP: dict[str, str | None] = {
        "num_nodes": None,
        "batch_size": None,
        "mem_limit": None,
        "abort_on_error": None,
        "allow_unsupported_formats": None,
        "disable_codegen": "spark.sql.codegen.wholeStage",
        "num_scanner_threads": None,
        "max_errors": None,
        "parquet_file_size": "spark.sql.files.maxPartitionBytes",
        "sync_ddl": None,
        # honored options (TImpalaQueryOptions, ImpalaService.thrift:33-120)
        "max_scan_range_length": "spark.sql.files.maxPartitionBytes",
        "parquet_compression_codec": "spark.sql.parquet.compression.codec",
        "default_order_by_limit": None,  # applied in sql() below
        # accepted no-ops (debug/HBase/io knobs with no Spark analogue)
        "abort_on_default_limit_exceeded": None,
        "debug_action": None,
        "max_io_buffers": None,
        "hbase_caching": None,
        "hbase_cache_blocks": None,
    }

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or build_session()
        self._options: dict[str, str] = {}
        #: option key → (leasing owner, value to restore); see lease_options
        self._leases: dict[str, tuple[object, str | None]] = {}
        #: held by lease/release; hold it across a lease and the
        #: planning that must see the leased values
        self.option_lock = threading.RLock()
        #: CREATE DATASOURCE registry: name → (location, class, api_version)
        #: (CreateDataSrcStmt; the reference keeps these in the catalog)
        self._data_sources: dict[str, tuple[str, str, str]] = {}
        #: view name → original SELECT body, recorded at CREATE/ALTER
        #: VIEW time so SHOW CREATE TABLE can render CREATE VIEW … AS
        #: with the definition text (ToSqlUtils.getCreateViewSql —
        #: Spark's temp-view catalog keeps the plan, not the SQL)
        self._view_defs: dict[str, str] = {}
        # read_avro/read_warc register the pyavro/pywarc Python sources
        # on first use: the first registration makes the JVM start a
        # Python worker (~2 s), which most sessions never need

    def sql(self, text: str) -> DataFrame:
        from impala_cut_spark.dialect import rewrite

        m = re.match(r"^\s*set\s+([A-Za-z_]\w*)\s*=\s*(\S+)\s*;?\s*$", text, re.IGNORECASE)
        if m and m.group(1).lower() in self._OPTION_MAP:
            # Impala query option (SET k=v through SQL, as impala-shell
            # issues it) — route to the option map, not Spark's SET
            self.set_option(m.group(1), m.group(2))
            return self.spark.sql("select 1 where false")
        out = self._data_source_ddl(text)
        if out is not None:
            return out
        m = self._LEGACY_TABLE.match(text)
        if m:
            # STORED AS AVRO/SEQUENCEFILE/RCFILE … LOCATION → mount
            # through the pure-Python container readers as a session
            # view (Spark's catalog does not replay DataSource options
            # to Python sources at read time, so a persistent USING
            # table can't work for these)
            name, collist, sep, fmt, path = m.groups()
            fmt = fmt.lower()
            path = path.replace("''", "'")
            if "." in name:
                raise ValueError(
                    f"STORED AS {fmt.upper()} mounts as a session temp view; "
                    f"qualified name {name!r} is not valid — use an "
                    f"unqualified name"
                )
            if fmt == "avro":
                from impala_cut_spark.sources.avro import read_avro

                df = read_avro(self.spark, path)
            elif fmt == "warc":
                # self-describing like avro: records carry their own
                # headers; the scan schema is the fixed record shape
                from impala_cut_spark.sources.warc import read_warc

                df = read_warc(self.spark, path)
            else:
                if not collist:
                    raise ValueError(
                        f"STORED AS {fmt.upper()} needs an explicit column "
                        f"list — the text payload carries no schema"
                    )
                schema = collist.strip()[1:-1]
                if fmt == "sequencefile":
                    from impala_cut_spark.sources.seqfile import read_sequencefile_text

                    df = read_sequencefile_text(
                        self.spark, path, schema,
                        sep=(sep or ",").replace("''", "'"),
                    )
                elif fmt == "lzotext":
                    # the reference's LZO_TEXT format (HdfsFileFormat.java:29,
                    # input class DeprecatedLzoTextInputFormat) — here the
                    # pure-Python lzop reader, block-split via .index
                    from impala_cut_spark.sources.lzo import read_lzo_text

                    df = read_lzo_text(
                        self.spark, path, schema,
                        sep=(sep or ",").replace("''", "'"),
                    )
                else:
                    from impala_cut_spark.sources.rcfile import read_rcfile

                    df = read_rcfile(self.spark, path, schema)
            df.createOrReplaceTempView(name)
            return self.spark.sql("select 1 where false")
        # SHOW TABLE STATS / SHOW COLUMN STATS / SHOW PARTITIONS
        # (sql-parser.y:1306-1314, ShowStatsStmt/ShowPartitionsStmt):
        # synthesized from Spark's catalog statistics (ANALYZE output).
        m = re.match(
            r"^\s*show\s+(table|column)\s+stats\s+([A-Za-z_][\w.]*)\s*;?\s*$",
            text,
            re.IGNORECASE,
        )
        if m:
            if m.group(1).lower() == "table":
                return self._show_table_stats(m.group(2))
            return self._show_column_stats(m.group(2))
        m = re.match(
            r"^\s*show\s+partitions\s+([A-Za-z_][\w.]*)\s*;?\s*$", text, re.IGNORECASE
        )
        if m:
            return self.spark.sql(f"SHOW PARTITIONS {m.group(1)}")
        # CREATE [AGGREGATE] FUNCTION … LOCATION '…' SYMBOL='…'
        # (sql-parser.y:686-710): native C++ UDF/UDA loading has no
        # Spark analogue (the .so ABI is udf.h FunctionContext) — fail
        # with a pointer to the supported registration surfaces instead
        # of Spark's opaque parse error. SQL-bodied CREATE FUNCTION
        # (RETURN expr) and Hive-style AS 'JavaClass' pass through to
        # Spark natively.
        # discriminator: LOCATION '…' plus a SYMBOL=/UPDATE_FN=/…_FN=
        # clause — the word "location" alone inside a SQL function
        # body (e.g. RETURN concat('location ', '/x')) must NOT trip
        # the guard (ADVICE r3 #3)
        if re.match(
            r"^\s*create\s+(?:aggregate\s+)?function\b.*\blocation\s+'",
            text,
            re.IGNORECASE | re.DOTALL,
        ) and re.search(r"\b(symbol|[a-z_]*_fn)\s*=", text, re.IGNORECASE):
            raise ValueError(
                "native C++ UDF/UDA libraries (LOCATION/SYMBOL DDL) have no "
                "Spark analogue here — register Python/pandas UDFs via "
                "impala_cut_spark.functions.udf.create_function / "
                "create_aggregate_function, Hive Java UDFs via "
                "create_java_function or CREATE FUNCTION name AS '<class>', "
                "or use a SQL-bodied CREATE FUNCTION ... RETURN <expr>"
            )
        # LOAD DATA INPATH (sql-parser.y:470-481): Spark's own statement
        # refuses datasource tables, so route to the filesystem-move
        # implementation (sources/sinks.py load_data)
        m = re.match(
            r"^\s*load\s+data\s+inpath\s+'((?:[^']|'')*)'\s+(overwrite\s+)?into\s+table\s+"
            r"([A-Za-z_][\w.]*)\s*(?:partition\s*\(([^)]*)\))?\s*;?\s*$",
            text,
            re.IGNORECASE,
        )
        if m:
            from impala_cut_spark.sources.sinks import load_data

            part = None
            if m.group(4):
                part = {}
                for kv in m.group(4).split(","):
                    k, v = kv.split("=", 1)
                    part[k.strip()] = v.strip().strip("'\"")
            load_data(
                self.spark,
                m.group(1).replace("''", "'"),
                m.group(3),
                overwrite=bool(m.group(2)),
                partition=part,
            )
            return self.spark.sql("select 1 where false")
        # SHOW CREATE TABLE t (sql-parser.y:1298-1300; the FE renders
        # DDL from catalog metadata in ToSqlUtils.getCreateTableSql —
        # fe/src/main/java/com/cloudera/impala/analysis/ToSqlUtils.java).
        m = re.match(
            r"^\s*show\s+create\s+table\s+([A-Za-z_][\w.]*)\s*;?\s*$",
            text,
            re.IGNORECASE,
        )
        if m:
            return self._show_create_table(m.group(1))
        # CREATE VIEW IF NOT EXISTS: catalog views map to session temp
        # views (dialect.rewrite_statements), but Spark's temp-view
        # grammar has no IF NOT EXISTS — emulate it with a catalog
        # existence check (Impala semantics: silently keep the old
        # definition).
        m = re.match(
            r"^\s*create\s+view\s+if\s+not\s+exists\s+([A-Za-z_][\w.]*)",
            text,
            re.IGNORECASE,
        )
        if m:
            if self.spark.catalog.tableExists(m.group(1)):
                return self.spark.sql("select 1 where false")
            text = re.sub(
                r"(?i)^(\s*create\s+view\s+)if\s+not\s+exists\s+", r"\1", text, count=1
            )
        # abort_on_error (ImpalaService.thrift; tests/data_errors/):
        # 1 → text scans FAILFAST on malformed rows, 0 → PERMISSIVE
        # (bad cells become NULL, ragged rows pad/truncate). Spark pins
        # read options at DDL time, so the policy is captured into
        # text-table CREATEs; read_text_table applies it per-read.
        text = self._apply_default_order_by_limit(text)
        abort = (self._options.get("abort_on_error") or "").lower() in ("1", "true")
        out = self.spark.sql(
            rewrite(
                self._expand_like_file(text),
                csv_mode="FAILFAST" if abort else None,
            )
        )
        # record view definitions AFTER a successful execution (a
        # failed CREATE must not leave a phantom definition behind)
        m = re.match(
            r"(?is)^\s*(?:create\s+(?:or\s+replace\s+)?|alter\s+)view\s+"
            r"(?:if\s+not\s+exists\s+)?([A-Za-z_][\w.]*)\s*"
            r"(?:\([^)]*\)\s*)?as\s+(.*?);?\s*$",
            text,
        )
        if m:
            # record under both the qualified and the bare name so
            # SHOW CREATE TABLE finds `db.v` and `v` alike — but the
            # bare alias must never clobber an UNRELATED view `v`
            # created under that bare name (round-5 advice)
            name, body = m.group(1).lower(), m.group(2).strip()
            prev = self._view_defs.get(name)
            self._view_defs[name] = body
            if "." in name:
                bare = name.rsplit(".", 1)[1]
                # refresh an alias this view owns (== its previous def);
                # otherwise only claim the bare name if it's free
                if self._view_defs.get(bare) == prev or bare not in self._view_defs:
                    self._view_defs[bare] = body
        m = re.match(
            r"(?i)^\s*drop\s+view\s+(?:if\s+exists\s+)?([A-Za-z_][\w.]*)\s*;?\s*$",
            text,
        )
        if m:
            name = m.group(1).lower()
            dropped = self._view_defs.pop(name, None)
            if "." in name:
                # drop the bare alias only when it still points at THIS
                # view's definition — `drop view db.v` must not erase an
                # unrelated `v` (round-5 advice)
                bare = name.rsplit(".", 1)[1]
                if dropped is not None and self._view_defs.get(bare) == dropped:
                    self._view_defs.pop(bare, None)
        return out

    #: CREATE TABLE t LIKE PARQUET '<hdfs-path>' (sql-parser.y:661-810;
    #: fe/.../analysis/CreateTableLikeFileStmt.java): infer the column
    #: list from the parquet footer. Needs the session (schema read),
    #: so it lives here rather than in the pure-text dialect layer.
    _LIKE_FILE = re.compile(
        r"(?i)^(\s*create\s+(?:external\s+)?table\s+(?:if\s+not\s+exists\s+)?"
        r"[\w.]+)\s+like\s+parquet\s+'([^']+)'(.*)$",
        re.DOTALL,
    )

    #: CREATE [EXTERNAL] TABLE t [(…)] STORED AS
    #: AVRO|SEQUENCEFILE|RCFILE … LOCATION '<p>' — the legacy
    #: read-only container formats, mounted through the pure-Python
    #: readers (sources/avro.py, seqfile.py, rcfile.py).  The optional
    #: column list tolerates one paren-nesting level so typed columns
    #: like decimal(10,2) still match (ADVICE r2 #4); seqfile/rcfile
    #: REQUIRE it (text payloads carry no schema, exactly like the
    #: reference's metastore-declared schemas), avro and warc
    #: self-describe.
    _LEGACY_TABLE = re.compile(
        r"^\s*create\s+(?:external\s+)?table\s+(?:if\s+not\s+exists\s+)?"
        r"([A-Za-z_][\w.]*)\s*(\((?:[^()]|\([^()]*\))*\))?\s*"
        r"(?:row\s+format\s+delimited\s+fields\s+terminated\s+by\s+'((?:[^']|'')*)'\s*)?"
        r"stored\s+as\s+(avro|sequencefile|rcfile|lzotext|warc)\b.*?"
        r"\blocation\s+'((?:[^']|'')*)'",
        re.IGNORECASE | re.DOTALL,
    )

    #: CREATE DATASOURCE name LOCATION '…' CLASS '…' API_VERSION '…'
    #: (sql-parser.y:873 CreateDataSrcStmt; example DDL in
    #: testdata/bin/create-data-source-table.sql)
    _CREATE_DATA_SRC = re.compile(
        r"^\s*create\s+datasource\s+(if\s+not\s+exists\s+)?([A-Za-z_]\w*)\s+"
        r"location\s+'((?:[^']|'')*)'\s+class\s+'((?:[^']|'')*)'\s+"
        r"api_version\s+'((?:[^']|'')*)'\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _DROP_DATA_SRC = re.compile(
        r"^\s*drop\s+datasource\s+(if\s+exists\s+)?([A-Za-z_]\w*)\s*;?\s*$",
        re.IGNORECASE,
    )
    _SHOW_DATA_SRCS = re.compile(
        r"^\s*show\s+datasources(?:\s+(?:like\s+)?'((?:[^']|'')*)')?\s*;?\s*$",
        re.IGNORECASE,
    )
    #: CREATE TABLE t (cols) PRODUCED BY DATASOURCE src [('init')]
    #: (sql-parser.y:674-683 CreateTableDataSrcStmt)
    _PRODUCED_BY = re.compile(
        r"^\s*create\s+table\s+(?:if\s+not\s+exists\s+)?([A-Za-z_]\w*)\s*"
        r"\((?P<cols>(?:[^()]|\([^()]*\))*)\)\s*"
        r"produced\s+by\s+datasource\s+([A-Za-z_]\w*)"
        r"(?:\s*\(\s*'((?:[^']|'')*)'\s*\))?\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def _data_source_ddl(self, text: str) -> DataFrame | None:
        """External data-source DDL (SURVEY §2.1 DataSourceScanNode DDL
        surface).  ADAPTED: the reference's CLASS names a Java class in
        the LOCATION jar; here CLASS is a dotted Python path to an
        ``ExternalSource`` subclass (sources/external.py) and LOCATION
        is recorded for SHOW but not loaded."""
        from pyspark.sql import Row

        m = self._CREATE_DATA_SRC.match(text)
        if m:
            if_not_exists, name = bool(m.group(1)), m.group(2).lower()
            if name in self._data_sources:
                if if_not_exists:
                    return self.spark.sql("select 1 where false")
                raise ValueError(f"Data source already exists: {name}")
            self._data_sources[name] = (
                m.group(3).replace("''", "'"),
                m.group(4).replace("''", "'"),
                m.group(5).replace("''", "'"),
            )
            return self.spark.sql("select 1 where false")
        m = self._DROP_DATA_SRC.match(text)
        if m:
            if_exists, name = bool(m.group(1)), m.group(2).lower()
            if self._data_sources.pop(name, None) is None and not if_exists:
                raise ValueError(f"Data source does not exist: {name}")
            return self.spark.sql("select 1 where false")
        m = self._SHOW_DATA_SRCS.match(text)
        if m:
            pat = m.group(1)
            rx = None
            if pat is not None:
                import fnmatch

                rx = re.compile(fnmatch.translate(pat.lower()))
            rows = [
                Row(name=n, location=loc, class_name=cls, api_version=ver)
                for n, (loc, cls, ver) in sorted(self._data_sources.items())
                if rx is None or rx.match(n)
            ]
            schema = "name string, location string, class_name string, api_version string"
            return self.spark.createDataFrame(rows, schema)
        m = self._PRODUCED_BY.match(text)
        if m:
            tbl, src = m.group(1), m.group(3).lower()
            init_string = (m.group(4) or "").replace("''", "'")
            if src not in self._data_sources:
                raise ValueError(f"Data source does not exist: {src}")
            _, cls, _ = self._data_sources[src]
            import importlib

            mod_name, _, cls_name = cls.rpartition(".")
            factory = getattr(importlib.import_module(mod_name), cls_name)
            from impala_cut_spark.sources.external import make_datasource

            fmt = f"extsrc_{src}"
            try:
                self.spark.dataSource.register(make_datasource(fmt, factory))
            except Exception:  # noqa: BLE001 — already registered
                pass
            self.spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
            reader = self.spark.read.format(fmt)
            if init_string:
                reader = reader.option("init_string", init_string)
            df = reader.load()
            from impala_cut_spark.dialect import _split_args

            declared = [c.split()[0] for c in _split_args(m.group("cols")) if c.strip()]
            if len(declared) != len(df.columns):
                raise ValueError(
                    f"PRODUCED BY DATASOURCE column count mismatch: table "
                    f"declares {len(declared)}, source produces {len(df.columns)}"
                )
            df = df.toDF(*declared)
            df.createOrReplaceTempView(tbl)
            return self.spark.sql("select 1 where false")
        return None

    def _show_table_stats(self, name: str) -> DataFrame:
        """SHOW TABLE STATS t (ShowStatsStmt, sql-parser.y:1306-1308):
        (#rows, size, format) from the catalog statistics that
        COMPUTE STATS → ANALYZE wrote; -1 row count before stats exist
        (Impala's unknown marker)."""
        n_rows, size_bytes, fmt = -1, -1, ""
        for r in self.spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect():
            key = (r.col_name or "").strip().lower()
            if key == "statistics":
                m = re.search(r"(\d+)\s+bytes(?:,\s*(\d+)\s+rows)?", r.data_type or "")
                if m:
                    size_bytes = int(m.group(1))
                    if m.group(2) is not None:
                        n_rows = int(m.group(2))
            elif key == "provider":
                fmt = (r.data_type or "").strip().upper()
        return self.spark.createDataFrame(
            [(n_rows, size_bytes, fmt)], "n_rows bigint, size_bytes bigint, format string"
        )

    #: Spark USING provider → Impala STORED AS clause (inverse of
    #: dialect._FORMAT_MAP)
    _PROVIDER_TO_STORED = {"parquet": "PARQUET", "csv": "TEXTFILE"}

    def _show_create_table(self, name: str) -> DataFrame:
        """SHOW CREATE TABLE t — Impala-style DDL reconstructed from the
        catalog (ToSqlUtils.getCreateTableSql; show-create-table.test).

        Output delta vs the reference: one row per DDL clause (the
        reference packs the whole multi-line DDL into a single cell;
        one-clause-per-row keeps the result line-oriented for the golden
        runner and shells). The emitted text is valid Impala dialect:
        typed PARTITIONED BY columns outside the main list, STORED AS
        format, ROW FORMAT for text tables, LOCATION only when the
        table is EXTERNAL (managed locations are warehouse-internal) —
        so feeding the rows back through ``sql()`` recreates the table
        (round-trip pinned in tests/test_ddl_alter.py).
        """
        body = self._view_defs.get(name.lower())
        if body is not None:
            # a view renders as its definition (ToSqlUtils
            # .getCreateViewSql; views-ddl.test), not as a column list
            return self.spark.createDataFrame(
                [(f"CREATE VIEW {name} AS",), (body,)], "result string"
            )
        cols = self.spark.catalog.listColumns(name)
        data_cols = [c for c in cols if not c.isPartition]
        part_cols = [c for c in cols if c.isPartition]
        provider, external, location, props = "", False, "", {}
        for r in self.spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect():
            key = (r.col_name or "").strip().lower()
            val = (r.data_type or "").strip()
            if key == "provider":
                provider = val.lower()
            elif key == "type":
                external = val.upper() == "EXTERNAL"
            elif key == "location":
                location = val
        if provider == "csv":
            # read sep/escape from Spark's own (quoted) DDL rendering —
            # DESCRIBE's "[sep=,, escape=\]" form is ambiguous when the
            # delimiter itself is a comma
            native = " ".join(
                r[0] for r in self.spark.sql(f"SHOW CREATE TABLE {name}").collect()
            )
            for k in ("sep", "escape"):
                m2 = re.search(rf"'{k}'\s*=\s*'((?:[^']|'')*)'", native)
                if m2:
                    props[k] = m2.group(1).replace("''", "'")
        ext = "EXTERNAL " if external else ""
        col_list = ", ".join(f"{c.name} {c.dataType}" for c in data_cols)
        rows = [f"CREATE {ext}TABLE {name} ({col_list})"]
        if part_cols:
            plist = ", ".join(f"{c.name} {c.dataType}" for c in part_cols)
            rows.append(f"PARTITIONED BY ({plist})")
        stored = self._PROVIDER_TO_STORED.get(provider)
        if stored == "TEXTFILE":
            sep = props.get("sep")
            esc = props.get("escape")
            rf = "ROW FORMAT DELIMITED"
            if sep:
                rf += f" FIELDS TERMINATED BY '{sep}'"
            if esc:
                rf += f" ESCAPED BY '{esc}'"
            rows.append(rf)
        if stored:
            rows.append(f"STORED AS {stored}")
        if external and location:
            rows.append(f"LOCATION '{location}'")
        return self.spark.createDataFrame([(r,) for r in rows], "result string")

    def _show_column_stats(self, name: str) -> DataFrame:
        """SHOW COLUMN STATS t (sql-parser.y:1309-1310): one row per
        column — (column, type, #distinct, #nulls, max_size, avg_size)
        assembled from Spark's per-column DESCRIBE EXTENDED (populated
        by ANALYZE … FOR ALL COLUMNS, which COMPUTE STATS issues).
        The loop is over the SCHEMA (bounded by column count), not
        data."""
        rows = []
        for f in self.spark.table(name).schema.fields:
            stats = {
                (r.info_name or "").strip().lower(): (r.info_value or "").strip()
                for r in self.spark.sql(
                    f"DESCRIBE TABLE EXTENDED {name} {f.name}"
                ).collect()
            }

            def _i(key: str) -> int:
                v = stats.get(key, "")
                return int(v) if v.isdigit() else -1

            rows.append(
                (
                    f.name,
                    f.dataType.simpleString(),
                    _i("distinct_count"),
                    _i("num_nulls"),
                    _i("max_col_len"),
                    _i("avg_col_len"),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "column string, type string, ndv bigint, num_nulls bigint, "
            "max_size bigint, avg_size bigint",
        )

    def _expand_like_file(self, text: str) -> str:
        m = self._LIKE_FILE.match(text)
        if not m:
            return text
        schema = self.spark.read.parquet(m.group(2)).schema
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
        return f"{m.group(1)} ({cols}){m.group(3)}"

    #: Impala EXPLAIN levels (Types.thrift:65-70) → Spark explain modes
    _EXPLAIN_LEVELS = {
        "minimal": "simple",
        "standard": "formatted",
        "extended": "extended",
        "verbose": "codegen",
    }

    def explain(self, text: str, level: str = "standard") -> str:
        """EXPLAIN [level] query — returns the plan as a string."""
        mode = self._EXPLAIN_LEVELS.get(level.lower())
        if mode is None:
            raise ValueError(f"unknown explain level {level!r}; one of {list(self._EXPLAIN_LEVELS)}")
        df = self.sql(text)
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
            df._jdf.queryExecution(), mode
        )

    def set_option(self, key: str, value: str) -> None:
        """`SET key=value` — Impala query option surface."""
        key, raw = key.lower(), value
        conf = self._OPTION_MAP.get(key)
        if conf:
            if key == "disable_codegen":
                value = "false" if value in ("1", "true") else "true"
            elif key == "parquet_compression_codec":
                # Impala values snappy|gzip|none (ImpalaService.thrift
                # PARQUET_COMPRESSION_CODEC); Spark spells the last one
                # "uncompressed"
                value = value.lower()
                value = "uncompressed" if value in ("none", '""', "''") else value
            # Spark rejects a bad value here, before the option is recorded
            self.spark.conf.set(conf, value)
        self._options[key] = raw

    def _apply_default_order_by_limit(self, text: str) -> str:
        """DEFAULT_ORDER_BY_LIMIT (ImpalaService.thrift:77-80;
        QueryStmt.java analyzeOrderBy): when set >= 0, a TOP-LEVEL
        SELECT with an ORDER BY but no LIMIT gets the default limit
        appended (a statement with its own LIMIT is untouched). The
        top-level check masks strings and parenthesized subtrees so an
        ORDER BY inside an inline view doesn't trip it."""
        raw = self._options.get("default_order_by_limit")
        if raw is None:
            return text
        try:
            n = int(raw)
        except ValueError:
            return text
        if n < 0 or not re.match(r"\s*(select|with)\b", text, re.IGNORECASE):
            return text
        # mask quoted strings, `--`-to-EOL comments, and anything
        # inside parens (a commented-out ORDER BY must not trip the
        # scan, and a LIMIT inside a comment must not suppress it)
        masked = []
        depth = 0
        in_str = in_comment = False
        for i, ch in enumerate(text):
            if in_comment:
                masked.append("\n" if ch == "\n" else " ")
                if ch == "\n":
                    in_comment = False
                continue
            if in_str:
                masked.append(" ")
                if ch == "'":
                    in_str = False
                continue
            if ch == "-" and text[i : i + 2] == "--":
                in_comment = True
                masked.append(" ")
            elif ch == "'":
                in_str = True
                masked.append(" ")
            elif ch == "(":
                depth += 1
                masked.append(" ")
            elif ch == ")":
                depth = max(0, depth - 1)
                masked.append(" ")
            else:
                masked.append(ch if depth == 0 else " ")
        m = "".join(masked)
        if re.search(r"\border\s+by\b", m, re.IGNORECASE) and not re.search(
            r"\blimit\s+\d", m, re.IGNORECASE
        ):
            # newline, not a space: a statement ending in a trailing
            # `-- comment` must not swallow the appended LIMIT
            return f"{text.rstrip().rstrip(';')}\nLIMIT {n}"
        return text

    def unset_option(self, key: str) -> None:
        """``unset key`` — drop a query option (impala_shell.py:549
        do_unset); a mapped Spark conf reverts to its session default."""
        key = key.lower()
        self._options.pop(key, None)
        conf = self._OPTION_MAP.get(key)
        if conf:
            self.spark.conf.unset(conf)

    def options(self) -> dict[str, str]:
        return dict(self._options)

    def lease_options(self, owner, pairs) -> None:
        """Apply (key, value) ``pairs`` for ``owner`` until
        ``release_options(owner)``.  The reference gives every query a
        private TQueryCtx; one shared SparkSession cannot, so a later
        lease on a key takes it over, with the restore target of the
        live owner it displaces (last-writer-wins).  A rejected pair
        raises, the pairs before it stay leased."""
        with self.option_lock:
            for k, v in pairs:
                k = k.lower()
                held = self._leases.get(k)
                restore = held[1] if held else self._options.get(k)
                self.set_option(k, v)
                self._leases[k] = (owner, restore)

    def release_options(self, owner) -> None:
        """Restore the keys ``owner`` still holds (absent → unset)."""
        with self.option_lock:
            for k in [k for k, (o, _) in self._leases.items() if o == owner]:
                restore = self._leases.pop(k)[1]
                if restore is None:
                    self.unset_option(k)
                else:
                    self.set_option(k, restore)
