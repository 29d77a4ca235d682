"""One query over EVERY scanner format — the reference's most-exercised
scan coverage pattern, ported.

Reference mechanism: `tests/query_test/test_scanners_all_table_formats.py`
runs the functional workload across the format × codec grid of
`testdata/workloads/tpch/tpch_dimensions.csv` (text/seq/rc/avro/parquet).
Here: the same TPC-H join+agg runs over nation+region materialized in
each format this engine scans — parquet (baseline), delimited text,
SequenceFile, RCFile (plain + gzip codec), LZO text (lzop container),
compressed text (.snappy/.lz4 via the from-scratch codecs, decoded by
the JVM codec factory in the real scan path), and Avro (null +
deflate codecs) — mounted through the Impala DDL
surface (`STORED AS … LOCATION`), and every format must produce the
identical result.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

QUERY = """
select r_name, count(*) as n, sum(n_nationkey) as s
from {nation} join {region} on n_regionkey = r_regionkey
group by r_name
"""

NATION_COLS = "(n_nationkey int, n_name string, n_regionkey int)"
REGION_COLS = "(r_regionkey int, r_name string)"


@pytest.fixture(scope="module")
def isession(spark):
    from impala_cut_spark.session import ImpalaSession

    return ImpalaSession(spark)


@pytest.fixture(scope="module")
def frames(spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return nation, region


@pytest.fixture(scope="module")
def expected(isession, frames, sf_dir):
    nation, region = frames
    nation.createOrReplaceTempView("fmt_nation_parquet")
    region.createOrReplaceTempView("fmt_region_parquet")
    rows = isession.sql(
        QUERY.format(nation="fmt_nation_parquet", region="fmt_region_parquet")
    ).collect()
    assert rows
    return sorted((r["r_name"], int(r["n"]), int(r["s"])) for r in rows)


def run_fmt(isession, nation_name, region_name, expected):
    rows = isession.sql(QUERY.format(nation=nation_name, region=region_name)).collect()
    got = sorted((r["r_name"], int(r["n"]), int(r["s"])) for r in rows)
    assert got == expected


def test_format_text(isession, frames, expected, tmp_path_factory):
    from impala_cut_spark.sources.sinks import read_text_table, write_text_table

    base = tmp_path_factory.mktemp("fmt_text")
    nation, region = frames
    write_text_table(nation, str(base / "nation"))
    write_text_table(region, str(base / "region"))
    read_text_table(
        isession.spark, str(base / "nation"), "n_nationkey int, n_name string, n_regionkey int"
    ).createOrReplaceTempView("fmt_nation_text")
    read_text_table(
        isession.spark, str(base / "region"), "r_regionkey int, r_name string"
    ).createOrReplaceTempView("fmt_region_text")
    run_fmt(isession, "fmt_nation_text", "fmt_region_text", expected)


def test_format_sequencefile(isession, frames, expected, tmp_path_factory):
    from impala_cut_spark.sources.seqfile import write_sequencefile_text

    base = tmp_path_factory.mktemp("fmt_seq")
    nation, region = frames
    write_sequencefile_text(nation, str(base / "nation"))
    write_sequencefile_text(region, str(base / "region"))
    isession.sql(
        f"CREATE EXTERNAL TABLE fmt_nation_seq {NATION_COLS} "
        f"STORED AS SEQUENCEFILE LOCATION '{base}/nation'"
    )
    isession.sql(
        f"CREATE EXTERNAL TABLE fmt_region_seq {REGION_COLS} "
        f"STORED AS SEQUENCEFILE LOCATION '{base}/region'"
    )
    run_fmt(isession, "fmt_nation_seq", "fmt_region_seq", expected)


@pytest.mark.parametrize(
    "codec",
    [
        None,
        "org.apache.hadoop.io.compress.DefaultCodec",
        "org.apache.hadoop.io.compress.GzipCodec",
    ],
)
def test_format_rcfile(isession, frames, expected, tmp_path_factory, codec):
    from impala_cut_spark.sources.rcfile import write_rcfile

    suffix = "plain" if codec is None else codec.rsplit(".", 1)[1].lower()
    base = tmp_path_factory.mktemp(f"fmt_rc_{suffix}")
    nation, region = frames
    for df, name, ncols in [(nation, "nation", 3), (region, "region", 2)]:
        rows = [[None if v is None else str(v) for v in r] for r in df.collect()]
        write_rcfile(rows, ncols, str(base / f"{name}.rc"), codec=codec)
    isession.sql(
        f"CREATE EXTERNAL TABLE fmt_nation_rc_{suffix} {NATION_COLS} "
        f"STORED AS RCFILE LOCATION '{base}/nation.rc'"
    )
    isession.sql(
        f"CREATE EXTERNAL TABLE fmt_region_rc_{suffix} {REGION_COLS} "
        f"STORED AS RCFILE LOCATION '{base}/region.rc'"
    )
    run_fmt(isession, f"fmt_nation_rc_{suffix}", f"fmt_region_rc_{suffix}", expected)


def test_format_lzo_text(isession, frames, expected, tmp_path_factory):
    from impala_cut_spark.sources.lzo import write_lzo_text

    base = tmp_path_factory.mktemp("fmt_lzo")
    nation, region = frames
    write_lzo_text(nation, str(base / "nation.lzo"))
    write_lzo_text(region, str(base / "region.lzo"))
    isession.sql(
        f"CREATE EXTERNAL TABLE fmt_nation_lzo {NATION_COLS} "
        f"STORED AS LZOTEXT LOCATION '{base}/nation.lzo'"
    )
    isession.sql(
        f"CREATE EXTERNAL TABLE fmt_region_lzo {REGION_COLS} "
        f"STORED AS LZOTEXT LOCATION '{base}/region.lzo'"
    )
    run_fmt(isession, "fmt_nation_lzo", "fmt_region_lzo", expected)


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_format_avro(isession, frames, expected, tmp_path_factory, codec):
    from impala_cut_spark.sources.avro import write_avro

    base = tmp_path_factory.mktemp(f"fmt_avro_{codec}")
    nation, region = frames
    write_avro(
        str(base / "nation.avro"),
        [("n_nationkey", "long"), ("n_name", "string"), ("n_regionkey", "long")],
        [tuple(r) for r in nation.collect()],
        codec=codec,
    )
    write_avro(
        str(base / "region.avro"),
        [("r_regionkey", "long"), ("r_name", "string")],
        [tuple(r) for r in region.collect()],
        codec=codec,
    )
    isession.sql(
        f"CREATE EXTERNAL TABLE fmt_nation_avro_{codec} "
        f"STORED AS AVRO LOCATION '{base}/nation.avro'"
    )
    isession.sql(
        f"CREATE EXTERNAL TABLE fmt_region_avro_{codec} "
        f"STORED AS AVRO LOCATION '{base}/region.avro'"
    )
    run_fmt(
        isession, f"fmt_nation_avro_{codec}", f"fmt_region_avro_{codec}", expected
    )


def test_formats_cross_join_text_with_parquet(isession, frames, expected, tmp_path_factory):
    """Mixed-format join: the text-mounted nation against the parquet
    region — formats interoperate inside one plan (the reference's
    mixed-format table semantics at query level)."""
    from impala_cut_spark.sources.sinks import read_text_table, write_text_table

    base = tmp_path_factory.mktemp("fmt_mixed")
    nation, region = frames
    write_text_table(nation, str(base / "nation"))
    read_text_table(
        isession.spark, str(base / "nation"), "n_nationkey int, n_name string, n_regionkey int"
    ).createOrReplaceTempView("fmt_nation_text2")
    region.createOrReplaceTempView("fmt_region_parquet2")
    run_fmt(isession, "fmt_nation_text2", "fmt_region_parquet2", expected)


@pytest.mark.parametrize("ext", ["snappy", "lz4"])
def test_formats_compressed_text(isession, frames, expected, tmp_path_factory, ext):
    """The text/snap-block axis of the reference's format x codec grid:
    delimited text compressed with snappy/lz4 (sources/codecs.py) in
    Hadoop framing, named .snappy/.lz4 — Spark's text reader
    resolves the codec BY EXTENSION through the Hadoop codec factory
    (i.e. the JVM SnappyCodec/Lz4Codec decodes OUR framed bytes in the
    real scan path, a second independent conformance check), and the
    scan result must match parquet exactly."""
    from impala_cut_spark.sources import codecs
    from impala_cut_spark.sources.sinks import read_text_table

    base = tmp_path_factory.mktemp(f"fmt_text_{ext}")
    nation, region = frames
    codec = {"snappy": "snappy", "lz4": "lz4_raw"}[ext]
    for name, df in (("nation", nation), ("region", region)):
        rows = df.collect()
        lines = (
            "\n".join(",".join("" if v is None else str(v) for v in r) for r in rows)
            + "\n"
        ).encode()
        d = base / name
        d.mkdir()
        (d / f"part-0.{ext}").write_bytes(codecs.hadoop_compress(codec, lines))
    read_text_table(
        isession.spark, str(base / "nation"),
        "n_nationkey int, n_name string, n_regionkey int",
    ).createOrReplaceTempView(f"fmt_nation_text_{ext}")
    read_text_table(
        isession.spark, str(base / "region"), "r_regionkey int, r_name string"
    ).createOrReplaceTempView(f"fmt_region_text_{ext}")
    run_fmt(isession, f"fmt_nation_text_{ext}", f"fmt_region_text_{ext}", expected)


class TestExactTextSemantics:
    """read/write_text_table_exact (round 10): the Impala text format
    has NO quoting — escape-in-place, '' ≠ NULL, the \\N sentinel
    checked on raw bytes before unescaping."""

    SCHEMA = "a string, b string, n int"

    def _rt(self, spark, tmp_path, rows, **kw):
        from impala_cut_spark.sources.sinks import (
            read_text_table_exact,
            write_text_table_exact,
        )

        df = spark.createDataFrame(rows, self.SCHEMA)
        p = str(tmp_path / "t")
        write_text_table_exact(df, p, **kw)
        back = read_text_table_exact(spark, p, self.SCHEMA, **kw)
        return sorted(map(tuple, back.collect()), key=lambda r: r[2])

    def test_deltas_closed(self, spark, tmp_path):
        rows = [
            ("has,comma", "x", 1),        # delimiter inside a field
            ("", "empty stays empty", 2),  # '' reads back '', NOT NULL
            (None, "real null", 3),        # NULL → \N → NULL
            ("ends with \\", "x\\,y", 4),  # escape char data, both shapes
            ("\\N", "literal backslash-N DATA", 5),  # escaped ≠ sentinel
        ]
        assert self._rt(spark, tmp_path, rows) == rows

    def test_raw_file_shape_is_impala_not_csv(self, spark, tmp_path):
        """The on-disk bytes must be escape-in-place (no quotes): the
        reference's writer emits a\\,b — Spark's csv writer would emit
        \"a,b\"."""
        import glob

        from impala_cut_spark.sources.sinks import write_text_table_exact

        df = spark.createDataFrame([("a,b", None)], "x string, y string")
        p = str(tmp_path / "raw")
        write_text_table_exact(df, p)
        data = b"".join(
            open(f, "rb").read() for f in glob.glob(p + "/part-*")
        )
        assert data.strip() == b"a\\,b,\\N"

    def test_reads_reference_style_file(self, spark, tmp_path):
        """Hand-written unquoted file with every delta case decodes per
        text-converter.inline.h: \\N → NULL, empty → '', a\\,b → 'a,b',
        stray escape dropped (\\x → x)."""
        from impala_cut_spark.sources.sinks import read_text_table_exact

        (tmp_path / "f.txt").write_text(
            "a\\,b,,1\n\\N,\\x,2\ntrail\\\\,\\N,\\N\n"
        )
        got = sorted(
            map(
                tuple,
                read_text_table_exact(
                    spark, str(tmp_path), self.SCHEMA
                ).collect(),
            ),
            key=lambda r: (r[2] is None, r[2]),
        )
        assert got == [
            ("a,b", "", 1),
            (None, "x", 2),
            ("trail\\", None, None),
        ]

    def test_abort_on_error(self, spark, tmp_path):
        from impala_cut_spark.sources.sinks import read_text_table_exact

        (tmp_path / "bad.txt").write_text("a,b,notanint\n")
        with pytest.raises(Exception, match="cannot convert"):
            read_text_table_exact(
                spark, str(tmp_path), self.SCHEMA, abort_on_error=True
            ).collect()
        (tmp_path / "bad.txt").write_text("onlyonefield\n")
        with pytest.raises(Exception, match="expected 3 fields"):
            read_text_table_exact(
                spark, str(tmp_path), self.SCHEMA, abort_on_error=True
            ).collect()
        # permissive: both rows degrade to NULLs instead
        (tmp_path / "bad.txt").write_text("a,b,notanint\nonlyonefield\n")
        got = read_text_table_exact(spark, str(tmp_path), self.SCHEMA).collect()
        assert len(got) == 2 and all(r.n is None for r in got)

    def test_abort_on_error_survives_column_pruning(self, spark, tmp_path):
        """ADVICE r10: the ragged-row guard was woven only into the
        FIRST output column, so a query pruning it silently null-padded
        ragged rows despite abort_on_error=True.  The guard now rides
        every column."""
        from impala_cut_spark.sources.sinks import read_text_table_exact

        (tmp_path / "bad.txt").write_text("onlyonefield\n")
        df = read_text_table_exact(
            spark, str(tmp_path), self.SCHEMA, abort_on_error=True
        )
        for keep in ("a", "b", "n"):
            with pytest.raises(Exception, match="expected 3 fields"):
                df.select(keep).collect()

    def test_writer_rejects_nul_bytes(self, spark, tmp_path):
        """ADVICE r10: a literal \\x00 in a field would collide with the
        reader's sentinel tokens and round-trip corrupted — the writer
        now raises in-plan instead (the no-NUL assumption holds for the
        reference writer, not arbitrary Spark data)."""
        from impala_cut_spark.sources.sinks import write_text_table_exact

        df = spark.createDataFrame([("ok", "has\x00Dnul", 1)], self.SCHEMA)
        with pytest.raises(Exception, match="NUL byte in column b"):
            write_text_table_exact(df, str(tmp_path / "t"))
        # NULL fields take the \N branch and must NOT trip the guard
        ok = spark.createDataFrame([("x", None, 2)], self.SCHEMA)
        write_text_table_exact(ok, str(tmp_path / "t2"))

    def test_hypothesis_roundtrip(self, spark, tmp_path):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from impala_cut_spark.sources.sinks import (
            read_text_table_exact,
            write_text_table_exact,
        )

        # any char except the row delimiter and NUL (documented bounds)
        field = st.text(
            alphabet=st.characters(
                blacklist_characters="\n\r\x00",
                blacklist_categories=("Cs",),  # lone surrogates aren't UTF-8
            ),
            max_size=12,
        )
        cases = st.lists(
            st.tuples(st.one_of(st.none(), field), st.one_of(st.none(), field)),
            min_size=1,
            max_size=6,
        )

        @settings(
            max_examples=12,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        @given(cases)
        def rt(rows):
            rows = [(a, b, i) for i, (a, b) in enumerate(rows)]
            df = spark.createDataFrame(rows, self.SCHEMA)
            p = str(tmp_path / "h")
            write_text_table_exact(df, p)
            back = read_text_table_exact(spark, p, self.SCHEMA)
            assert sorted(map(tuple, back.collect()), key=lambda r: r[2]) == rows

        rt()

    def test_multiline_escaped_row_delimiters(self, spark, tmp_path):
        """multiline=True honors ESCAPED newlines inside fields (the
        reference's delimited-text-parser escape tracking), whole-file
        scan units; empty files read as zero rows."""
        from impala_cut_spark.sources.sinks import (
            read_text_table_exact,
            write_text_table_exact,
        )

        rows = [
            ("line1\nline2", "x,y", 1),
            (None, "trail\\", 2),
            ("", "\nstarts", 3),
            ("ends\n", "\\N", 4),
        ]
        df = spark.createDataFrame(rows, self.SCHEMA)
        p = str(tmp_path / "ml")
        write_text_table_exact(df, p)
        back = read_text_table_exact(spark, p, self.SCHEMA, multiline=True)
        assert sorted(map(tuple, back.collect()), key=lambda r: r[2]) == rows
        # the same file read WITHOUT multiline splits at the escaped
        # newline — the documented line-granular boundary
        flat = read_text_table_exact(spark, p, self.SCHEMA)
        assert flat.count() > len(rows)
        # empty file → zero rows
        (tmp_path / "empty").mkdir()
        (tmp_path / "empty" / "f.txt").write_text("")
        assert (
            read_text_table_exact(
                spark, str(tmp_path / "empty"), self.SCHEMA, multiline=True
            ).count()
            == 0
        )

    def test_multiline_hypothesis_roundtrip(self, spark, tmp_path):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from impala_cut_spark.sources.sinks import (
            read_text_table_exact,
            write_text_table_exact,
        )

        field = st.text(
            alphabet=st.characters(
                blacklist_characters="\r\x00",
                blacklist_categories=("Cs",),  # lone surrogates aren't UTF-8
            ),
            max_size=10,
        )  # newlines ALLOWED in multiline mode

        @settings(max_examples=10, deadline=None,
                  suppress_health_check=[HealthCheck.too_slow])
        @given(st.lists(st.tuples(st.one_of(st.none(), field),
                                  st.one_of(st.none(), field)),
                        min_size=1, max_size=5))
        def rt(pairs):
            rows = [(a, b, i) for i, (a, b) in enumerate(pairs)]
            df = spark.createDataFrame(rows, self.SCHEMA)
            p = str(tmp_path / "mh")
            write_text_table_exact(df, p)
            back = read_text_table_exact(
                spark, p, self.SCHEMA, multiline=True
            )
            assert (
                sorted(map(tuple, back.collect()), key=lambda r: r[2]) == rows
            )

        rt()
