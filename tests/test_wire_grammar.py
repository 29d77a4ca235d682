"""Wire-level grammar fuzz (r7 verdict #6): replay a pinned window of
query-grammar seeds through the REAL Beeswax client/server path —
thrift binary marshalling, TCP framing, paged fetch — and require the
wire result to be byte-identical to the in-process rendering of the
same query.

The in-process differential (tests/test_query_grammar.py) proves the
ENGINE matches DuckDB; this file proves the WIRE carries that result
faithfully: NULL sentinels, decimal/timestamp string forms, TSV
escaping, page offsets — the layers ImpalaSession.sql never touches.
The expected side uses the server's own cursor and row renderer
(service.Operation, thrift_server.render_tsv) directly on the
in-process DataFrame, so any divergence
localizes to marshalling/framing/dispatch, not the renderer.
"""

from __future__ import annotations

import random

import pytest

#: slow tier: property fuzz over the wire grammar — run with `pytest -m slow`
pytestmark = pytest.mark.slow

from query_grammar import LiteralPool, QueryGen, install_oracle_macros

#: pinned window, disjoint from the in-process differential's seeds
#: (0..119) and the CLI sweep ranges — reproducible in CI
WIRE_SEEDS = range(7000, 7040)


@pytest.fixture(scope="module")
def isession(spark):
    from impala_cut_spark.session import ImpalaSession
    from impala_cut_spark.sources.catalog import register_views

    register_views(spark, "/root/testdata/sf0.001")
    return ImpalaSession(spark)


@pytest.fixture(scope="module")
def wire(isession):
    from impala_cut_spark.thrift_server import (
        BeeswaxThriftClient,
        BeeswaxThriftServer,
    )

    srv = BeeswaxThriftServer(isession)
    srv.serve_background()
    c = BeeswaxThriftClient(srv.host, srv.port)
    yield c
    c.close()
    srv.shutdown()


@pytest.fixture(scope="module")
def pool(oracle):
    install_oracle_macros(oracle)
    return LiteralPool("/root/testdata/sf0.001", oracle)


@pytest.mark.parametrize("seed", WIRE_SEEDS)
def test_grammar_seed_replays_byte_identical_over_wire(seed, isession, wire, pool):
    from impala_cut_spark.service import Operation
    from impala_cut_spark.thrift_server import render_tsv

    q = QueryGen(random.Random(seed), pool).create_query(depth=2)

    # in-process expectation, rendered by the server's own TSV renderer
    op = Operation.from_df(isession.sql(q.sql))
    expected: list[str] = []
    while not op.eos:
        expected.extend(render_tsv(op.fetch(64)[1]))

    # the same query over the thrift wire, small pages to exercise
    # the paging/offset path
    h = wire.query(q.sql)
    got: list[str] = []
    while True:
        fr = wire.fetch(h, fetch_size=17)
        assert fr["start_row"] == len(got)
        got.extend(fr["data"])
        if not fr["has_more"]:
            break
    wire.close_query(h)

    assert got == expected, f"wire/in-process divergence\n{q.sql}"


@pytest.fixture(scope="module")
def hs2_pair(isession):
    """One V6 (columnar TRowSet) and one V1 (row-oriented) client on
    the same HS2 server."""
    from impala_cut_spark.hs2_server import HS2ThriftClient, HS2ThriftServer

    srv = HS2ThriftServer(isession)
    srv.serve_background()
    v6 = HS2ThriftClient(srv.host, srv.port)
    v6.open_session()
    v1 = HS2ThriftClient(srv.host, srv.port)
    v1.open_session(protocol=0)
    yield v6, v1
    for c in (v6, v1):
        c.close_session()
        c.close()
    srv.shutdown()


#: HS2 window: smaller (two wire round-trips per seed) but the same
#: generator — typed columnar encoding is the surface under test
HS2_SEEDS = range(7100, 7120)


@pytest.mark.parametrize("seed", HS2_SEEDS)
def test_grammar_seed_v6_columnar_matches_v1_rows(seed, hs2_pair, pool):
    """The V6 columnar TRowSet (per-column typed arms + nulls bitmaps)
    must carry exactly the rows the V1 row-oriented encoding carries
    for arbitrary grammar shapes — a transpose/bitmap/typed-arm bug on
    either side breaks the equality."""
    v6, v1 = hs2_pair
    q = QueryGen(random.Random(seed), pool).create_query(depth=2)
    op6 = v6.execute(q.sql)
    rows6 = v6.fetch_all(op6, page=13)
    v6.close_operation(op6)
    op1 = v1.execute(q.sql)
    rows1 = v1.fetch_all(op1, page=13)
    v1.close_operation(op1)
    assert rows6 == rows1, f"V6/V1 wire divergence\n{q.sql}"
