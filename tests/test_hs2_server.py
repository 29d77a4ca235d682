"""TCLIService (HiveServer2) over the real thrift binary protocol
(impala_cut_spark/hs2_server.py) — the reference's JDBC/ODBC surface
(be/src/service/impala-hs2-server.cc; common/thrift/cli_service.thrift
protocol V1, row-oriented TRowSet)."""

from __future__ import annotations

import pytest

from impala_cut_spark.hs2_server import HS2Error, HS2ThriftClient, HS2ThriftServer
from impala_cut_spark.session import ImpalaSession
from impala_cut_spark.sources.catalog import register_views


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    register_views(spark, sf_dir)
    srv = HS2ThriftServer(ImpalaSession(spark))
    srv.serve_background()
    yield srv
    srv.shutdown()


@pytest.fixture()
def client(server):
    c = HS2ThriftClient(server.host, server.port)
    c.open_session()
    yield c
    c.close()


def test_session_statement_lifecycle(client):
    op = client.execute("select n_nationkey, n_name from nation order by n_nationkey")
    assert client.operation_state(op) == 2  # FINISHED_STATE
    md = client.metadata(op)
    assert md == [("n_nationkey", 3), ("n_name", 7)]  # INT_TYPE, STRING_TYPE
    rows = client.fetch_all(op, page=10)
    client.close_operation(op)
    assert len(rows) == 25
    assert rows[0] == (0, "NATION_0")  # typed arms: i64 + string


def test_paged_fetch_offsets(client):
    # a non-positive max_rows means 1024 rows, as on the Beeswax port
    for max_rows in (100, 0, -1):
        op = client.execute("select o_orderkey from orders order by o_orderkey limit 250")
        seen, offset = 0, 0
        while True:
            fr = client.fetch(op, max_rows)
            assert fr["start_row"] == offset
            offset += len(fr["rows"])
            seen += len(fr["rows"])
            if not fr["has_more"]:
                break
        client.close_operation(op)
        assert seen == 250


def test_typed_value_arms_and_nulls(client):
    op = client.execute(
        "select cast(1 as int) i, cast(2 as bigint) l, cast(1.5 as double) d, "
        "true b, cast(null as int) n, 's' s, cast(3.25 as decimal(9,2)) dec"
    )
    md = dict(client.metadata(op))
    assert (md["i"], md["l"], md["d"], md["b"], md["s"], md["dec"]) == (3, 4, 6, 0, 7, 15)
    rows = client.fetch_all(op)
    client.close_operation(op)
    assert rows == [(1, 2, 1.5, True, None, "s", "3.25")]


def test_timestamp_renders_as_string(client):
    """impala-hs2-server.cc:879-884: TIMESTAMP goes through stringVal."""
    op = client.execute("select min(ts) as t from events")
    rows = client.fetch_all(op)
    client.close_operation(op)
    assert isinstance(rows[0][0], str) and rows[0][0][:2] == "20"


def test_impala_dialect_through_hs2(client):
    op = client.execute("select isnull(null, 7) a, zeroifnull(cast(null as int)) b")
    assert client.fetch_all(op) == [(7, 0)]
    client.close_operation(op)


def test_get_tables_and_columns_metadata_ops(client):
    op = client.get_tables(table="nation")
    tables = client.fetch_all(op)
    client.close_operation(op)
    assert any(t[2] == "nation" for t in tables)

    op = client.get_columns(table="nation")
    cols = client.fetch_all(op)
    client.close_operation(op)
    names = [c[3] for c in cols if c[2] == "nation"]
    assert names == ["n_nationkey", "n_name", "n_regionkey"]
    # DATA_TYPE is the TTypeId int (JDBC convention via typed i32 arm)
    assert [c[4] for c in cols if c[2] == "nation"] == [3, 7, 3]


def test_get_info_and_table_patterns(client):
    assert "Impala" in client.get_info(17)  # CLI_DBMS_NAME
    op = client.get_tables(table="nat%")
    assert any(t[2] == "nation" for t in client.fetch_all(op))
    client.close_operation(op)
    op = client.get_tables(table="zz_nothing_%")
    assert client.fetch_all(op) == []
    client.close_operation(op)


def test_error_statement_returns_error_status_and_survives(client):
    with pytest.raises(HS2Error):
        client.execute("select * from missing_table_zzz")
    op = client.execute("select 1 as one")
    assert client.fetch_all(op) == [(1,)]
    client.close_operation(op)


def test_invalid_operation_handle_status(client):
    with pytest.raises(HS2Error) as ei:
        client.fetch(b"\x00" * 16)
    assert ei.value.code == 4  # INVALID_HANDLE_STATUS


def test_session_configuration_applies_options(server):
    """OpenSession configuration applies for the session's lifetime and
    is restored at CloseSession (round-6: like the reference's
    per-session default_query_options, it must not leak to other
    sessions after this one closes)."""
    server.session.set_option("mem_limit", "1g")
    c = HS2ThriftClient(server.host, server.port)
    c.open_session({"explain_level": "3", "mem_limit": "2g"})
    try:
        opts = dict(server.session.options())
        assert opts.get("explain_level") == "3"
        assert opts.get("mem_limit") == "2g"
    finally:
        c.close_session()
        c.close()
    opts = dict(server.session.options())
    assert "explain_level" not in opts  # fresh key dropped on close
    assert opts.get("mem_limit") == "1g"  # pre-existing value restored
    server.session.unset_option("mem_limit")


def test_unknown_method_is_application_exception(client):
    """Unknown TCLIService method → thrift EXCEPTION message with
    TApplicationException(UNKNOWN_METHOD), not a REPLY (round-4
    advice; same contract as the Beeswax twin)."""
    from impala_cut_spark import thrift_proto as tp

    with pytest.raises(tp.TApplicationError) as ei:
        client._call("RenewDelegationToken", lambda w: None)
    assert ei.value.type == tp.UNKNOWN_METHOD


# -- protocol V6: columnar TRowSets + FETCH_FIRST (round-5 advice) ----------


def _raw_fetch(client, op, max_rows=1024):
    """FetchResults without the client's parsing — the raw resp dict."""
    from impala_cut_spark.hs2_server import FETCH_NEXT
    from impala_cut_spark import thrift_proto as tp

    def build(w):
        client._handle_req(op)(w)
        w.field(tp.I32, 2)
        w.write_i32(FETCH_NEXT)
        w.field(tp.I64, 3)
        w.write_i64(max_rows)

    return client._call("FetchResults", build)


def test_v6_negotiation_and_columnar_rowset(client):
    """The default client asks for V6 and the server clamps to V6:
    results arrive as list<TColumn> (TRowSet field 3) with the
    required row-oriented list empty, NULLs as bitmap bits."""
    from impala_cut_spark.hs2_server import PROTOCOL_V6

    assert client.proto == PROTOCOL_V6
    op = client.execute(
        "select cast(1 as int) i, cast(null as int) n, 's' s, "
        "cast(null as string) ns"
    )
    resp = _raw_fetch(client, op)
    rowset = resp[3]
    assert rowset.get(2) == []  # rows arm present but empty in V6
    cols = rowset[3]
    assert len(cols) == 4
    # i32Val arm (union field 4) for ints, stringVal (7) for strings
    assert list(cols[0]) == [4] and list(cols[2]) == [7]
    # NULL slot: bitmap bit set, placeholder value in the list
    assert cols[1][4][2][0] & 0x01  # n: null bit for row 0
    assert cols[3][7][2][0] & 0x01  # ns
    client.close_operation(op)
    # the client-side transpose reproduces typed rows end-to-end
    op2 = client.execute("select n_nationkey, n_name from nation order by n_nationkey")
    rows = client.fetch_all(op2, page=10)
    client.close_operation(op2)
    assert len(rows) == 25 and rows[0] == (0, "NATION_0")


def test_v1_client_still_gets_row_oriented(server):
    """A legacy client that negotiates V1 keeps the row-oriented
    TRowSet (no columns field) — version-gated, not flag-day."""
    c = HS2ThriftClient(server.host, server.port)
    c.open_session(protocol=0)
    try:
        assert c.proto == 0
        op = c.execute("select n_nationkey from nation order by n_nationkey limit 3")
        resp = _raw_fetch(c, op)
        rowset = resp[3]
        assert rowset.get(3) is None  # no columnar arm for V1
        assert len(rowset[2]) == 3  # rows populated
        c.close_operation(op)
        # the raw fetch above consumed the cursor; parse a fresh op
        # through the client's row-oriented arm
        op = c.execute("select n_nationkey from nation order by n_nationkey limit 3")
        assert c.fetch_all(op) == [(0,), (1,), (2,)]
        c.close_operation(op)
    finally:
        c.close_session()
        c.close()


def test_protocol_clamped_to_v6(server):
    """A client asking for a newer version than the server implements
    gets V6 back (thrift TProtocolVersion handshake: min of the two)."""
    from impala_cut_spark.hs2_server import PROTOCOL_V6

    c = HS2ThriftClient(server.host, server.port)
    c.open_session(protocol=9)  # e.g. HIVE_CLI_SERVICE_PROTOCOL_V10
    try:
        assert c.proto == PROTOCOL_V6
    finally:
        c.close_session()
        c.close()


def test_fetch_first_restarts_cursor(client):
    """FETCH_FIRST re-runs the bounded fetch cursor from row 0 —
    what a JDBC driver's beforeFirst()/re-read does."""
    from impala_cut_spark.hs2_server import FETCH_FIRST

    op = client.execute("select o_orderkey from orders order by o_orderkey limit 50")
    first_page = client.fetch(op, 20)
    assert first_page["start_row"] == 0 and len(first_page["rows"]) == 20
    client.fetch(op, 20)  # advance further
    again = client.fetch(op, 20, orientation=FETCH_FIRST)
    assert again["start_row"] == 0
    assert again["rows"] == first_page["rows"]
    # and the cursor continues normally after the restart
    nxt = client.fetch(op, 20)
    assert nxt["start_row"] == 20
    client.close_operation(op)


def test_concurrent_clients_result_integrity_stress(server):
    """r7 verdict #5: N threaded JDBC-ish clients interleaving session
    opens, statements and paged fetches on the shared session — every
    client must get ITS OWN result rows (no cross-client corruption)
    and closed sessions must leave no option residue."""
    import threading

    n_threads, iters = 4, 5
    errs: list[str] = []

    def run(i: int) -> None:
        try:
            c = HS2ThriftClient(server.host, server.port)
            c.open_session()
            for j in range(iters):
                tag = i * 100 + j
                op = c.execute(
                    f"select {tag} as tag, n_nationkey from nation "
                    "order by n_nationkey limit 5"
                )
                rows = c.fetch_all(op, page=2)
                c.close_operation(op)
                if len(rows) != 5 or any(r[0] != tag for r in rows):
                    errs.append(f"client {i}: corrupted rows {rows!r}")
                if [r[1] for r in rows] != [0, 1, 2, 3, 4]:
                    errs.append(f"client {i}: wrong keys {rows!r}")
            c.close_session()
            c.close()
        except Exception as e:  # noqa: BLE001 — surfaced via errs
            errs.append(f"client {i}: {type(e).__name__}: {e}")

    threads = [threading.Thread(target=run, args=(i,)) for i in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs


def test_disconnect_releases_session_options(server):
    """A JDBC-ish client that disconnects without CloseSession (crash)
    must not leave its OpenSession configuration applied to the shared
    engine session: connection teardown closes the sessions and
    operations the client left open (round-8 — the same failure mode
    the Beeswax port fixed per r7 ADVICE)."""
    import time

    server.session.set_option("mem_limit", "1g")
    c = HS2ThriftClient(server.host, server.port)
    c.open_session({"explain_level": "3", "mem_limit": "2g"})
    op = c.execute("select 1 as one")
    assert server.session.options().get("mem_limit") == "2g"
    c.close()  # drop the TCP connection; no CloseOperation/CloseSession
    try:
        for _ in range(200):  # teardown runs on the handler thread
            if "explain_level" not in server.session.options():
                break
            time.sleep(0.05)
        opts = dict(server.session.options())
        assert "explain_level" not in opts
        assert opts.get("mem_limit") == "1g"  # pre-existing value restored
        assert op not in server.handles  # leaked operation reaped
        assert not server.handles
    finally:
        server.session.unset_option("mem_limit")


def test_overlapping_sessions_share_an_option_key(server):
    """Two sessions overlap on one key over a prior value: the later
    session's value survives the first close, and the prior value
    returns after the last close (last-writer-wins, as on the Beeswax
    port).  A key set_option rejects is ignored and leaves nothing."""
    server.session.set_option("mem_limit", "1g")
    a = HS2ThriftClient(server.host, server.port)
    b = HS2ThriftClient(server.host, server.port)
    try:
        a.open_session({"mem_limit": "2g"})
        b.open_session({"mem_limit": "3g", "parquet_file_size": "not-a-size"})
        assert server.session.options().get("mem_limit") == "3g"
        a.close_session()
        assert server.session.options().get("mem_limit") == "3g"
        b.close_session()
        assert server.session.options().get("mem_limit") == "1g"
        assert "parquet_file_size" not in server.session.options()
    finally:
        a.close()
        b.close()
        server.session.unset_option("mem_limit")


def test_close_session_closes_its_operations(server):
    """CloseSession unregisters the session's open operations
    (impala-server.cc CloseSessionInternal), on a connection that stays
    open — not only when the TCP connection drops."""
    c = HS2ThriftClient(server.host, server.port)
    try:
        c.open_session()
        op = c.execute("select 1 as one")
        c.close_session()
        with pytest.raises(HS2Error) as ei:
            c.fetch(op)
        assert ei.value.code == 4  # INVALID_HANDLE_STATUS
        assert op not in server.handles
    finally:
        c.close()
