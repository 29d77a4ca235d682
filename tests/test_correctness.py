"""Every registry query vs its DuckDB oracle at sf0.001.

The same check the driver runs at sf0.01 (tools/check_correctness.py
logic): row count, column names, order-insensitive normalized values.
Oracle-less queries get a runs-and-returns-rows smoke check.
"""

from __future__ import annotations

import pytest

from check_correctness import frame_to_rows

from impala_cut_spark.plans import REGISTRY

ALL = sorted(REGISTRY)


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(name, spark, oracle, sf_dir):
    spec = REGISTRY[name]
    sdf = spec.spark(spark, sf_dir)
    srows = sdf.collect()

    if spec.oracle is None:
        # rows-only contract (driver's weaker check): must run and
        # produce a stable, non-degenerate schema
        assert sdf.columns, f"{name}: no columns"
        return

    orel = oracle.sql(spec.oracle)
    sc, sr = frame_to_rows([c.lower() for c in sdf.columns], srows)
    oc, orw = frame_to_rows([c.lower() for c in orel.columns], orel.fetchall())

    assert sc == oc, f"{name}: column mismatch {sc} vs {oc}"
    assert len(sr) == len(orw), f"{name}: rowcount {len(sr)} vs {len(orw)}"
    bad = [(a, b) for a, b in zip(sr, orw) if a != b]
    assert not bad, f"{name}: {len(bad)}/{len(sr)} differing rows; first: {bad[0]}"


def test_cached_fixtures_are_keyed_by_their_writers_source(tmp_path, monkeypatch):
    """The file-format queries above read fixtures cached under /tmp; a
    changed writer must get a fresh path, not its predecessor's files."""
    import sys
    from types import SimpleNamespace

    from impala_cut_spark.plans.coverage import _fixture_path

    writer = tmp_path / "writer.py"
    monkeypatch.setitem(sys.modules, "impala_cut_spark.sources.fake_writer", SimpleNamespace(__file__=str(writer)))
    writer.write_text("v1")
    before = _fixture_path("seqfile_nation", "/data/sf0.001/", "fake_writer")
    assert before.startswith("/tmp/impala_cut_spark_fixtures/seqfile_nation_sf0.001_")
    assert _fixture_path("seqfile_nation", "/data/sf0.001/", "fake_writer") == before
    writer.write_text("v2")
    assert _fixture_path("seqfile_nation", "/data/sf0.001/", "fake_writer") != before
