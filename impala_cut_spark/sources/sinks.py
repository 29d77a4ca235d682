"""Table sinks: the write surface of the engine.

Mirrors the reference's ``HdfsTableSink``
(``/root/reference/be/src/exec/hdfs-table-sink.cc:341-347`` — INSERT
INTO/OVERWRITE into TEXT or PARQUET tables, static + dynamic
partitions; FE semantics ``fe/.../analysis/InsertStmt.java:63-110``)
plus LOAD DATA (``sql-parser.y:470-481``).

Scale notes:
- Writers inherit the input DataFrame's partitioning — an INSERT of a
  shuffled aggregate writes one file per task, no driver funnel.
- Dynamic-partition INSERT OVERWRITE uses Spark's dynamic
  partitionOverwriteMode (session.py) so only touched partitions are
  replaced — the exact semantics of the reference's partition-staging
  finalize (hdfs-table-sink.cc + coordinator FinalizeQuery).
- At 100 TB: prefer repartition(partition_cols) before a dynamic-
  partition write so each task writes few files (small-files problem);
  exposed here as ``cluster_by_partitions``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: formats the reference's table sink writes (hdfs-table-sink.cc:341-347)
WRITE_FORMATS = {"text": "csv", "textfile": "csv", "csv": "csv", "parquet": "parquet"}


def _provider(fmt: str) -> str:
    p = WRITE_FORMATS.get(fmt.lower())
    if p is None:
        raise ValueError(
            f"unsupported write format {fmt!r}: the engine writes text and "
            "parquet only (reference hdfs-table-sink.cc:341-347)"
        )
    return p


def cluster_by_partitions(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """Repartition on the partition columns before a partitioned write
    so each task owns whole partitions — one file per (task, partition)
    instead of #tasks × #partitions small files at scale."""
    return df.repartition(*partition_cols)


def insert_into(
    df: DataFrame,
    table: str,
    overwrite: bool = False,
    partition: dict[str, object] | None = None,
) -> None:
    """INSERT INTO/OVERWRITE [PARTITION (…)] (InsertStmt.java:63-110).

    ``partition`` maps partition-key → value for STATIC keys, or → None
    for DYNAMIC keys (the reference allows mixing: static keys first).
    Static values become literal columns appended in partition order;
    dynamic keys must already be trailing columns of ``df``.
    """
    from pyspark.sql import functions as F

    if partition:
        for k, v in partition.items():
            if v is not None:  # static partition key: inject the literal
                df = df.withColumn(k, F.lit(v))
        # partition columns must be the trailing columns, in table order
        data_cols = [c for c in df.columns if c not in partition]
        df = df.select(*data_cols, *partition.keys())
    df.write.insertInto(table, overwrite=overwrite)


def load_data(
    spark: SparkSession,
    path: str,
    table: str,
    overwrite: bool = False,
    partition: dict[str, str] | None = None,
) -> None:
    """LOAD DATA INPATH '<path>' INTO TABLE t [PARTITION (k=v)]
    (sql-parser.y:470-481; LoadDataStmt.java).

    File-MOVE semantics, implemented directly: the reference's planner
    moves the staged files into the table/partition directory without
    parsing them (format must already match the table). Spark's own
    LOAD DATA statement refuses datasource tables ("not supported for
    datasource tables"), and every table this engine creates IS a
    datasource table — so the move is done at the filesystem layer
    followed by REFRESH, which is exactly the reference's contract
    (impalad moves HDFS files + issues a metadata reload).
    """
    import glob as globmod
    import os
    import shutil

    loc = ""
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if (r.col_name or "").strip().lower() == "location":
            loc = (r.data_type or "").strip()
            break
    if not loc:
        raise ValueError(f"LOAD DATA: cannot resolve location of table {table!r}")
    dest = loc[len("file:") :] if loc.startswith("file:") else loc
    if partition:
        # partition directory layout k=v/... (hive-style, what the
        # datasource writer produces); create it if absent (Impala
        # requires the partition to exist — we mirror ADD PARTITION)
        for k, v in partition.items():
            dest = os.path.join(dest, f"{k}={v}")
    os.makedirs(dest, exist_ok=True)
    src = path[len("file:") :] if path.startswith("file:") else path
    files = sorted(globmod.glob(src)) if any(c in src for c in "*?[") else (
        [os.path.join(src, f) for f in sorted(os.listdir(src))]
        if os.path.isdir(src)
        else [src]
    )
    files = [f for f in files if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))]
    if not files:
        raise ValueError(f"LOAD DATA: no files at {path!r}")
    if overwrite:
        for old in os.listdir(dest):
            p = os.path.join(dest, old)
            if os.path.isfile(p) and not old.startswith(("_", ".")):
                os.remove(p)
    for f in files:
        shutil.move(f, os.path.join(dest, os.path.basename(f)))
    spark.sql(f"REFRESH TABLE {table}")


def write_text_table(
    df: DataFrame,
    path: str,
    sep: str = ",",
    escape: str = "\\",
    header: bool = False,
    mode: str = "overwrite",
) -> None:
    """Delimited-text writer (hdfs-text-table-writer.cc parity: field
    delimiter + escape char + \\N null sentinel — HdfsTable.java:93
    DEFAULT_NULL_COLUMN_VALUE).

    Leading/trailing whitespace in string fields is preserved (Spark's
    csv writer TRIMS both by default — the reference's text writer
    never does). Known shared delta: a string field whose value is
    literally ``\\N`` round-trips to NULL — the same collision the
    reference has on default (non-ESCAPED BY) text tables, whose
    TextConverter maps any ``\\N`` field to NULL on read."""
    df.write.mode(mode).options(
        sep=sep,
        escape=escape,
        header=header,
        nullValue="\\N",
        ignoreLeadingWhiteSpace=False,
        ignoreTrailingWhiteSpace=False,
    ).csv(path)


def read_text_table(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    sep: str = ",",
    escape: str = "\\",
    header: bool = False,
    abort_on_error: bool = False,
    encoding: str = "UTF-8",
) -> DataFrame:
    """Delimited-text scanner (hdfs-text-scanner.cc parity: delimiters
    + escaping; SSE4.2 search is Spark-internal).

    Malformed-row policy mirrors the reference's ``abort_on_error``
    query option (ImpalaService.thrift; tests/data_errors/): False →
    ragged/unparseable fields become NULL and the scan continues
    (PERMISSIVE); True → the query fails on the first bad row
    (FAILFAST).

    ``encoding``: charset of the files (the reference's
    delimited-latin-text.test reads ISO-8859-1 tables; Spark's csv
    reader decodes any JVM charset).
    """
    reader = spark.read.options(
        sep=sep,
        escape=escape,
        header=header,
        encoding=encoding,
        nullValue="\\N",  # \N sentinel (text-converter.inline.h:41)
        mode="FAILFAST" if abort_on_error else "PERMISSIVE",
    )
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


#: sentinels for the exact text parser: \x00 cannot appear in the
#: reference's text tables (its writer has no binary escape), so a
#: 2-byte \x00-prefixed token is collision-free for substituted
#: escaped-escape / escaped-delimiter sequences.
_TXT_SENT_ESC = "\x00E"
_TXT_SENT_SEP = "\x00D"
_TXT_SENT_NL = "\x00L"


def read_text_table_exact(
    spark: SparkSession,
    path: str,
    schema: str,
    sep: str = ",",
    escape: str = "\\",
    abort_on_error: bool = False,
    multiline: bool = False,
) -> DataFrame:
    """Impala-EXACT delimited-text scan (hdfs-text-scanner.cc +
    delimited-text-parser.cc + text-converter.inline.h semantics) as a
    pure JVM expression chain over ``spark.read.text`` — closes the two
    csv-reader deltas documented in SURVEY §2.1 (round 10):

    * an empty unquoted field is the EMPTY STRING, not NULL — the
      reference's TextConverter nulls only the literal 2-byte ``\\N``
      sentinel (text-converter.inline.h:41), while univocity nulls any
      unquoted empty field;
    * the escape character escapes delimiters inside unquoted fields —
      the reference's text format has NO quoting at all
      (delimited-text-parser.cc:110 tracks escapes while scanning for
      delimiters), while univocity honors escapes only inside quotes.

    Parse, entirely inside whole-stage codegen: (1) substitute
    escaped-escape then escaped-delimiter with \\x00 sentinels (two
    literal ``replace`` calls), (2) split on the now-unambiguous bare
    delimiter, then per field (3) the RAW 2-char ``\\N`` sentinel →
    NULL (checked before unescaping, as the reference does), (4) drop
    remaining escape chars (TextConverter::UnescapeString: escape
    removed, following byte kept literal), (5) restore sentinels,
    (6) cast to the target type (non-ANSI cast = the reference's
    convert-or-NULL).  ``abort_on_error=True`` mirrors the reference's
    query option: ragged rows or unconvertible non-null fields raise
    instead of degrading to NULL.

    ``multiline=True`` honors ESCAPED ROW DELIMITERS too (fields may
    contain newlines, written as escape+\\n by the exact writer): the
    file is read wholetext — one scan unit per file, the same
    file-granular parallelism .gz text has — the three escape pairs are
    sentinel-substituted over the whole file, rows split on the then-
    unambiguous bare newline, and the newline sentinel restores inside
    fields.  Default (line-granular, splittable) keeps the documented
    boundary: an escaped row delimiter splits, as a scan-range split
    would in the reference.
    """
    import re as _re

    from pyspark.sql import functions as F
    from pyspark.sql.types import _parse_datatype_string

    if "\x00" in sep + escape or "N" in sep + escape:
        raise ValueError("text-exact: delimiter/escape may not be NUL or 'N'")
    st = _parse_datatype_string(schema)
    nullsent = escape + "N"
    if multiline:
        base = F.col("value")  # substituted whole-file, pre-split
    else:
        base = F.col("value")
        base = F.replace(base, F.lit(escape + escape), F.lit(_TXT_SENT_ESC))
        base = F.replace(base, F.lit(escape + sep), F.lit(_TXT_SENT_SEP))
    fields = F.split(base, _re.escape(sep), -1)
    cols = []
    for i, fld in enumerate(st.fields):
        raw = fields.getItem(i)
        un = F.regexp_replace(raw, _re.escape(escape) + "(.)", "$1")
        un = F.replace(un, F.lit(_TXT_SENT_SEP), F.lit(sep))
        un = F.replace(un, F.lit(_TXT_SENT_NL), F.lit("\n"))
        un = F.replace(un, F.lit(_TXT_SENT_ESC), F.lit(escape))
        val = F.when(raw == F.lit(nullsent), F.lit(None)).otherwise(un).cast(
            fld.dataType
        )
        if abort_on_error and fld.dataType.simpleString() != "string":
            ok = raw.isNull() | (raw == F.lit(nullsent)) | val.isNotNull()
            val = F.when(
                F.assert_true(
                    ok,
                    F.concat(
                        F.lit(f"text scan: cannot convert column {fld.name}: "),
                        un,
                    ),
                ).isNull(),
                val,
            )
        cols.append(val.alias(fld.name))
    if multiline:
        whole = spark.read.text(path, wholetext=True).filter(
            F.col("value") != ""  # empty file → zero rows, like read.text
        )
        sub = F.col("value")
        sub = F.replace(sub, F.lit(escape + escape), F.lit(_TXT_SENT_ESC))
        sub = F.replace(sub, F.lit(escape + sep), F.lit(_TXT_SENT_SEP))
        sub = F.replace(sub, F.lit(escape + "\n"), F.lit(_TXT_SENT_NL))
        sub = F.regexp_replace(sub, "\n$", "")  # final newline = terminator
        df = whole.select(F.explode(F.split(sub, "\n", -1)).alias("value"))
    else:
        df = spark.read.text(path)
    if abort_on_error:
        n = len(st.fields)
        ragged = F.assert_true(
            F.size(fields) == F.lit(n),
            F.concat(
                F.lit(f"text scan: expected {n} fields, got "),
                F.size(fields).cast("string"),
            ),
        )
        # Woven into EVERY output column (not just cols[0]): a query
        # that prunes the first column must still trip the guard —
        # Catalyst drops checks attached only to pruned columns (the
        # same hazard dedup.py's simhash lane guard documents).
        cols = [
            F.when(ragged.isNull(), c).alias(st.fields[i].name)
            for i, c in enumerate(cols)
        ]
    return df.select(*cols)


def write_text_table_exact(
    df: DataFrame,
    path: str,
    sep: str = ",",
    escape: str = "\\",
    mode: str = "overwrite",
) -> None:
    """Impala-EXACT text writer (hdfs-text-table-writer.cc parity,
    round 10): fields joined by the bare delimiter with the escape char
    doubled and delimiters/newlines escaped IN-PLACE — the reference
    NEVER quotes (Spark's csv writer wraps such fields in quotes
    instead) — and NULL written as the unescaped ``\\N`` sentinel.
    Inverse of read_text_table_exact; round-trip property-tested."""
    from pyspark.sql import functions as F

    cols = []
    for f in df.schema.fields:
        c = F.col(f.name).cast("string")
        # NUL bytes cannot round-trip: the exact reader's \x00-prefixed
        # sentinels assume none (true for the reference writer, not for
        # arbitrary Spark data) — guard in-plan instead of corrupting.
        nul_ok = F.assert_true(
            ~c.contains("\x00"),
            F.lit(f"text write: NUL byte in column {f.name} unsupported"),
        )
        esc = F.replace(c, F.lit(escape), F.lit(escape + escape))
        esc = F.replace(esc, F.lit(sep), F.lit(escape + sep))
        esc = F.replace(esc, F.lit("\n"), F.lit(escape + "\n"))
        cols.append(
            F.when(c.isNull(), F.lit(escape + "N")).otherwise(
                F.when(nul_ok.isNull(), esc)
            )
        )
    df.select(F.concat_ws(sep, *cols).alias("value")).write.mode(mode).text(path)
