"""BeeswaxService over the real thrift binary wire protocol
(impala_cut_spark/thrift_server.py + thrift_proto.py) — the §3
network entry point at wire-format parity with
be/src/service/impala-beeswax-server.cc / shell/impala_shell.py."""

from __future__ import annotations

import pytest

from impala_cut_spark.session import ImpalaSession
from impala_cut_spark.sources.catalog import register_views
from impala_cut_spark.thrift_server import (
    BeeswaxError,
    BeeswaxThriftClient,
    BeeswaxThriftServer,
    QueryNotFound,
)


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    register_views(spark, sf_dir)
    srv = BeeswaxThriftServer(ImpalaSession(spark))
    srv.serve_background()
    yield srv
    srv.shutdown()


@pytest.fixture()
def client(server):
    c = BeeswaxThriftClient(server.host, server.port)
    yield c
    c.close()


def test_query_lifecycle_over_thrift(client):
    h = client.query("select n_nationkey, n_name from nation order by n_nationkey")
    assert client.get_state(h) == 4  # QueryState.FINISHED
    md = client.get_results_metadata(h)
    assert [c for c, _ in md] == ["n_nationkey", "n_name"]
    data, pages = [], 0
    while True:
        fr = client.fetch(h, fetch_size=10)
        assert fr["start_row"] == len(data)
        data.extend(fr["data"])
        pages += 1
        if not fr["has_more"]:
            break
    client.close_query(h)
    assert pages > 1 and len(data) == 25
    assert data[0] == "0\tNATION_0"  # Beeswax TSV rows


def test_execute_and_wait_and_echo(client):
    # a non-positive fetch size means 1024 rows, not an empty page
    for fetch_size in (1024, 0, -1):
        h = client.execute_and_wait("select 1 as one")
        assert client.fetch(h, fetch_size)["data"] == ["1"]
        client.close_query(h)
    assert client.echo("round trip") == "round trip"


def test_explain_over_thrift(client):
    text = client.explain("select count(*) from orders")
    assert "orders" in text.lower() or "aggregate" in text.lower()


def test_impala_dialect_through_thrift(client):
    h = client.query("select isnull(null, 7) a, zeroifnull(cast(null as int)) b")
    assert client.fetch(h)["data"] == ["7\t0"]
    client.close_query(h)


def test_null_renders_NULL(client):
    h = client.query("select cast(null as int) n, 'x' s")
    assert client.fetch(h)["data"] == ["NULL\tx"]
    client.close_query(h)


def test_unknown_handle_raises_query_not_found(client):
    with pytest.raises(QueryNotFound):
        client.fetch("424242")
    with pytest.raises(QueryNotFound):
        client.get_state("424242")
    with pytest.raises(QueryNotFound):
        client.get_results_metadata("424242")
    with pytest.raises(QueryNotFound):
        client.close_query("424242")


def test_analysis_error_is_beeswax_exception(client):
    with pytest.raises(BeeswaxError):
        client.query("select * from table_that_does_not_exist_xyz")
    # connection must survive the error
    h = client.query("select 2 as two")
    assert client.fetch(h)["data"] == ["2"]
    client.close_query(h)


def test_start_over_not_implemented(client):
    h = client.query("select 1 as one")
    with pytest.raises(BeeswaxError, match="start over"):
        client.fetch(h, start_over=True)
    client.close_query(h)


def test_wire_bytes_are_strict_binary_protocol(server):
    """Drive one RPC with HAND-ENCODED bytes (no client helper) and
    check the reply's raw framing: version word 0x8001, type REPLY,
    echoed method name + seqid — what a generated thrift client
    asserts before parsing."""
    import socket
    import struct

    s = socket.create_connection((server.host, server.port))
    f = s.makefile("rwb")
    body = b"ping-payload"
    msg = struct.pack(">i", -2147418111)  # 0x80010001 = version|CALL
    msg += struct.pack(">i", 4) + b"echo"
    msg += struct.pack(">i", 77)  # seqid
    msg += struct.pack(">bh", 11, 1) + struct.pack(">i", len(body)) + body
    msg += b"\x00"
    f.write(msg)
    f.flush()
    hdr = f.read(4)
    assert struct.unpack(">i", hdr)[0] == -2147418110  # version|REPLY
    nlen = struct.unpack(">i", f.read(4))[0]
    assert f.read(nlen) == b"echo"
    assert struct.unpack(">i", f.read(4))[0] == 77
    # success field 0, type STRING, then the echoed payload
    ftype, fid = struct.unpack(">bh", f.read(3))
    assert (ftype, fid) == (11, 0)
    slen = struct.unpack(">i", f.read(4))[0]
    assert f.read(slen) == body
    assert f.read(1) == b"\x00"
    f.close()
    s.close()


def test_unknown_method_is_application_exception(client):
    """An unimplemented method name must come back as a thrift
    EXCEPTION message carrying TApplicationException(UNKNOWN_METHOD) —
    a REPLY with an error in a declared-exception slot would be
    misparsed by a stock generated client (round-4 advice)."""
    from impala_cut_spark import thrift_proto as tp

    with pytest.raises(tp.TApplicationError) as ei:
        client._call("ResetCatalogue", lambda w: None)
    assert ei.value.type == tp.UNKNOWN_METHOD
    assert "ResetCatalogue" in str(ei.value)
    # the connection survives a rejected method
    h = client.query("select 1 as one")
    assert client.fetch(h)["data"] == ["1"]
    client.close_query(h)


def test_query_configuration_applies_options(server, client):
    """Query.configuration (beeswax.thrift field 3) 'k=v' items are
    applied server-side, like impalad's QueryToTQueryContext — SET in
    the remote shell is not client-local.  And like the reference's
    per-query TQueryCtx, they scope to THAT operation only: held while
    the client fetches (execution-time confs stay active — round-6
    advice), restored at close so they never stick for other clients
    (round-5 advice)."""
    # plan-time option observably honored: the default limit caps rows
    h = client.query(
        "select n_nationkey from nation order by n_nationkey",
        configuration=["default_order_by_limit=3"],
    )
    # op-lifetime scoping: the option is live while the handle is open…
    assert server.session.options().get("default_order_by_limit") == "3"
    rows = client.fetch(h, fetch_size=100)["data"]
    client.close_query(h)
    assert len(rows) == 3
    # ...but it does not leak into the shared session afterwards
    assert "default_order_by_limit" not in server.session.options()
    h = client.query("select n_nationkey from nation order by n_nationkey")
    assert len(client.fetch(h, fetch_size=100)["data"]) == 25
    client.close_query(h)
    # a pre-existing session option is restored, not clobbered
    server.session.set_option("mem_limit", "1g")
    try:
        h = client.query("select 1 as one", configuration=["mem_limit=2g"])
        client.close_query(h)
        assert server.session.options().get("mem_limit") == "1g"
    finally:
        server.session.unset_option("mem_limit")


def test_dump_config_with_options_set(server, client):
    """dump_config must render set options (same k,v-unpack-over-dict-KEYS
    bug as get_default_configuration, fixed round 6 per advice) — and a
    handler crash must come back as TApplicationException, not a
    dropped connection."""
    server.session.set_option("mem_limit", "1g")
    try:
        out = client._call("dump_config", lambda w: None)[0].decode()
        assert "mem_limit=1g" in out
    finally:
        server.session.unset_option("mem_limit")
    # the connection is still usable (nothing raised mid-dispatch)
    h = client.query("select 1 as one")
    assert client.fetch(h)["data"] == ["1"]
    client.close_query(h)


def test_internal_error_returns_application_exception(server, client):
    """An unexpected handler exception maps to
    TApplicationException(INTERNAL_ERROR) with the connection intact."""
    import impala_cut_spark.thrift_proto as tp

    orig = server.session.options
    server.session.options = lambda: (_ for _ in ()).throw(ValueError("boom"))
    try:
        with pytest.raises(tp.TApplicationError) as ei:
            client._call("dump_config", lambda w: None)
        assert ei.value.type == tp.INTERNAL_ERROR
        assert "boom" in str(ei.value)
    finally:
        server.session.options = orig
    h = client.query("select 1 as one")
    assert client.fetch(h)["data"] == ["1"]
    client.close_query(h)


def test_get_default_configuration_with_options_set(server, client):
    """get_default_configuration must render set options (its k,v
    unpack iterated dict KEYS before round 5 — crashed whenever any
    option was set)."""
    server.session.set_option("mem_limit", "1g")
    try:
        cfg = client._call("get_default_configuration", lambda w: (
            w.field(0x02, 1), w.write_bool(False)))
        items = cfg[0]
        pairs = {d[1].decode(): d[2].decode() for d in items}
        assert pairs.get("mem_limit") == "1g"
    finally:
        server.session.unset_option("mem_limit")


def test_reader_rejects_hostile_sizes():
    """Wire-supplied sizes are untrusted: negative string lengths would
    desync the stream; huge container counts would allocate unbounded
    (round-4 advice)."""
    import io
    import struct as st

    from impala_cut_spark import thrift_proto as tp

    # negative string length
    r = tp.BinaryReader(io.BytesIO(st.pack(">i", -5)))
    with pytest.raises(tp.TProtocolError, match="string length"):
        r.read_string()
    # absurd string length
    r = tp.BinaryReader(io.BytesIO(st.pack(">i", 1 << 30)))
    with pytest.raises(tp.TProtocolError, match="string length"):
        r.read_string()
    # huge list count (would loop allocating before the cap)
    r = tp.BinaryReader(io.BytesIO(st.pack(">bi", tp.STRING, 2_000_000)))
    with pytest.raises(tp.TProtocolError, match="container size"):
        r.read_value(tp.LIST)
    # negative map count
    r = tp.BinaryReader(io.BytesIO(st.pack(">bbi", tp.STRING, tp.STRING, -1)))
    with pytest.raises(tp.TProtocolError, match="container size"):
        r.read_value(tp.MAP)


# -- ImpalaService extension (ImpalaService.thrift:172-200) ------------------
# The reference's stock shell cannot even connect without these:
# PingImpalaService is the FIRST rpc it sends (impala_shell.py:642).


def test_stock_shell_rpc_sequence_select(client):
    """Replay the stock reference shell's exact RPC sequence for a
    SELECT: connect → PingImpalaService (:642) → query → get_state
    (:990) → fetch loop (:806) → get_results_metadata →
    GetRuntimeProfile (:999) → GetExecSummary (:1007) → close (:871)."""
    version = client.ping_impala_service()
    assert "impala_cut_spark" in version and "spark" in version
    h = client.query("select n_name from nation where n_nationkey < 3 order by n_name")
    assert client.get_state(h) == 4  # FINISHED
    page = client.fetch(h, fetch_size=2)
    assert page["data"] == ["NATION_0", "NATION_1"] and page["has_more"]
    page = client.fetch(h, fetch_size=100)
    assert page["data"] == ["NATION_2"] and not page["has_more"]
    assert client.get_results_metadata(h) == [("n_name", "string")]
    profile = client.get_runtime_profile(h)
    assert "Query Runtime Profile" in profile and "Physical Plan" in profile
    assert client.get_exec_summary(h) == 4  # TExecState.FINISHED
    client.close_query(h)
    with pytest.raises(QueryNotFound):
        client.fetch(h)


def test_stock_shell_rpc_sequence_insert(server, client, tmp_path):
    """The shell's DML path: do_insert → query → poll get_state →
    CloseInsert (impala_shell.py:844) which returns TInsertResult and
    CLOSES the handle; the shell sums rows_appended.values() (:852)."""
    server.session.sql(
        f"create table thrift_ins (a int, b string) using parquet "
        f"location '{tmp_path}/thrift_ins'"
    )
    try:
        h = client.query("insert into thrift_ins values (1,'x'),(2,'y'),(3,'z')")
        assert client.get_state(h) == 4
        rows = client.close_insert(h)
        assert sum(rows.values()) == 3
        # CloseInsert closed the handle (the shell never calls close after it)
        with pytest.raises(QueryNotFound):
            client.close_insert(h)
        h2 = client.query("select count(*) as n from thrift_ins")
        assert client.fetch(h2)["data"] == ["3"]
        client.close_query(h2)
    finally:
        server.session.spark.sql("drop table if exists thrift_ins")


def test_cancel_reset_catalog_reset_table(server, client):
    """Cancel/ResetCatalog/ResetTable return TStatus structs; Cancel on
    an unknown handle throws BeeswaxException (the IDL contract)."""
    h = client.query("select 1 as one")
    assert client.cancel(h) == 0  # TStatusCode.OK — query already finished
    client.close_query(h)
    with pytest.raises(BeeswaxError):
        client.cancel("no-such-handle")
    assert client.reset_catalog() == 0
    assert client.reset_table("default", "nation") == 0
    # unknown table → RUNTIME_ERROR status (returned, not thrown)
    assert client.reset_table("default", "definitely_not_a_table") == 4


def test_runtime_profile_unknown_handle_is_beeswax_error(client):
    """GetRuntimeProfile declares only BeeswaxException (fid 1) — an
    unknown handle must surface as that, not QueryNotFound."""
    with pytest.raises(BeeswaxError, match="Invalid query handle"):
        client.get_runtime_profile("no-such-handle")


def test_exec_summary_unknown_handle_is_query_not_found(client):
    """GetExecSummary declares QueryNotFoundException at fid 1."""
    with pytest.raises(QueryNotFound):
        client.get_exec_summary("no-such-handle")


def test_option_owner_arbitration(server, client):
    """Two overlapping operations shipping the same option key: the
    later apply takes ownership, so the earlier op's close must NOT
    clobber the later op's live value (last-writer-wins during the
    overlap; final close restores the pre-existing session value)."""
    server.session.set_option("mem_limit", "1g")
    try:
        h1 = client.query("select 1 as one", configuration=["mem_limit=2g"])
        h2 = client.query("select 2 as two", configuration=["mem_limit=3g"])
        assert server.session.options().get("mem_limit") == "3g"
        client.close_query(h1)  # h2 owns the key now — no-op restore
        assert server.session.options().get("mem_limit") == "3g"
        client.close_query(h2)  # owner closes → restored
        assert server.session.options().get("mem_limit") == "1g"
    finally:
        server.session.unset_option("mem_limit")


def test_clean_releases_operation_and_shipped_options(server, client):
    """clean(1: LogContextId) takes a plain STRING (beeswax.thrift), not
    a QueryHandle struct — the r7 server parsed it with _read_handle,
    got '' for a string field, and never released the operation: a
    client finishing via clean leaked the op AND its shipped options."""
    h = client.query(
        "select 1 as one", configuration=["default_order_by_limit=3"]
    )
    assert server.session.options().get("default_order_by_limit") == "3"
    client.clean(h)
    assert "default_order_by_limit" not in server.session.options()
    assert h not in server.handles


def test_disconnect_releases_shipped_options(server):
    """A client that disconnects without close/CloseInsert/clean (a
    crashed shell) must not permanently mutate the shared session:
    connection teardown closes its open operations and restores their
    shipped options (r7 ADVICE)."""
    import time

    c = BeeswaxThriftClient(server.host, server.port)
    h = c.query("select 1 as one", configuration=["default_order_by_limit=7"])
    assert server.session.options().get("default_order_by_limit") == "7"
    c.close()  # drop the TCP connection with the op still open
    for _ in range(200):  # teardown runs on the handler thread
        if "default_order_by_limit" not in server.session.options():
            break
        time.sleep(0.05)
    assert "default_order_by_limit" not in server.session.options()
    assert h not in server.handles


def test_double_close_insert_is_query_not_found(client):
    """CloseInsert pops the op atomically: a second CloseInsert on the
    same handle must surface QueryNotFoundException, not the
    TApplicationException(INTERNAL_ERROR) the r7 check-then-act pair
    produced when the get/close raced (r7 ADVICE)."""
    h = client.query("select 1 as one")
    assert client.close_insert(h) == {"": 0}
    with pytest.raises(QueryNotFound):
        client.close_insert(h)


def test_concurrent_clients_option_isolation_stress(server):
    """r7 verdict #5: N threaded clients interleaving shipped SET
    options + queries + fetches on the shared session.  Plan-time
    options are applied under the server lock, so every client's
    row-limit must bind to ITS OWN plan — no option bleed, no
    cross-client result corruption — and nothing may leak after all
    handles close."""
    import threading

    n_threads, iters = 4, 5
    errs: list[str] = []

    def run(i: int) -> None:
        limit = i + 2
        try:
            c = BeeswaxThriftClient(server.host, server.port)
            for _ in range(iters):
                h = c.query(
                    "select n_nationkey from nation order by n_nationkey",
                    configuration=[f"default_order_by_limit={limit}"],
                )
                rows = c.fetch(h, fetch_size=100)["data"]
                if len(rows) != limit:
                    errs.append(f"client {i}: {len(rows)} rows, want {limit}")
                if rows and rows[0] != "0":
                    errs.append(f"client {i}: corrupted first row {rows[0]!r}")
                c.close_query(h)
            c.close()
        except Exception as e:  # noqa: BLE001 — surfaced via errs
            errs.append(f"client {i}: {type(e).__name__}: {e}")

    threads = [threading.Thread(target=run, args=(i,)) for i in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert "default_order_by_limit" not in server.session.options()
    assert not server.session._leases
