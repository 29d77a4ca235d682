"""Beeswax and HS2 served over ONE ImpalaSession (impala_cut_spark/
service.py), as one impalad serves both ports: query options leased
from either port arbitrate on one lease table, and handles reaped on
either port release what they leased."""

from __future__ import annotations

import gc
import sys
import threading
import time
import warnings

import pytest

from impala_cut_spark.hs2_server import HS2ThriftClient, HS2ThriftServer
from impala_cut_spark.session import ImpalaSession
from impala_cut_spark.sources.catalog import register_views
from impala_cut_spark.thrift_server import BeeswaxThriftClient, BeeswaxThriftServer


@pytest.fixture(scope="module")
def ports(spark, sf_dir):
    register_views(spark, sf_dir)
    isess = ImpalaSession(spark)
    beeswax, hs2 = BeeswaxThriftServer(isess), HS2ThriftServer(isess)
    beeswax.serve_background()
    hs2.serve_background()
    yield beeswax, hs2
    beeswax.shutdown()
    hs2.shutdown()


def test_hs2_session_and_beeswax_operation_share_an_option_key(ports):
    """An HS2 session and a later Beeswax operation ship the same key:
    closing the session keeps the operation's live value, and closing
    the operation brings back the prior value."""
    beeswax, hs2 = ports
    isess = beeswax.session
    isess.set_option("mem_limit", "1g")
    hc = HS2ThriftClient(hs2.host, hs2.port)
    bc = BeeswaxThriftClient(beeswax.host, beeswax.port)
    try:
        hc.open_session({"mem_limit": "2g"})
        h = bc.query("select 1 as one", configuration=["mem_limit=3g"])
        assert isess.options().get("mem_limit") == "3g"
        hc.close_session()
        assert isess.options().get("mem_limit") == "3g"
        bc.close_query(h)
        assert isess.options().get("mem_limit") == "1g"
    finally:
        hc.close()
        bc.close()
        isess.unset_option("mem_limit")


def test_closing_an_undrained_operation_closes_its_cursor(ports, monkeypatch):
    """CloseOperation before the last row closes the operation's row
    socket (and so the JVM thread serving it) at once: nothing is left
    for garbage collection to find unclosed.  A FETCH_FIRST rewind that
    reached the operation just before the close must not reopen it."""
    _, hs2 = ports
    gc.collect()
    unraisable: list = []
    monkeypatch.setattr(sys, "unraisablehook", unraisable.append)
    hc = HS2ThriftClient(hs2.host, hs2.port)
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error", ResourceWarning)
            hc.open_session()
            op = hc.execute("select o_orderkey from orders")
            assert len(hc.fetch(op, 2)["rows"]) == 2
            server_op = hs2.handles.get(op)
            hc.close_operation(op)
            server_op.rewind()
            assert server_op.fetch(5) == (2, []) and server_op.eos
            del server_op
            hc.close_session()
            gc.collect()
    finally:
        hc.close()
    assert not [u.exc_value for u in unraisable], unraisable


def test_concurrent_clients_across_both_ports(ports):
    """4 threads x 5 iterations on both ports at once: execute, paged
    fetch, cancel and close (an HS2 operation every other time by
    CloseSession alone), all with shipped options — including a
    plan-time key on both ports — and half the threads end by dropping
    their connections with a session and an operation open.  Every
    client gets its own rows; afterwards no option, handle or lease is
    left."""
    beeswax, hs2 = ports
    isess = beeswax.session
    before = isess.options()
    n_threads, iters = 4, 5
    errs: list[str] = []

    def run(i: int) -> None:
        try:
            bc = BeeswaxThriftClient(beeswax.host, beeswax.port)
            hc = HS2ThriftClient(hs2.host, hs2.port)
            for j in range(iters):
                tag = i * 100 + j
                hc.open_session({"default_order_by_limit": "1", "mem_limit": f"{i + 1}g"})
                op = hc.execute(
                    f"select {tag} as tag, n_nationkey from nation "
                    "order by n_nationkey limit 5"
                )
                h = bc.query(
                    "select n_nationkey from nation order by n_nationkey",
                    configuration=[f"default_order_by_limit={i + 2}", f"mem_limit={i + 5}g"],
                )
                rows = hc.fetch_all(op, page=2)
                if rows != [(tag, k) for k in range(5)]:
                    errs.append(f"hs2 client {i}: rows {rows!r}")
                data = bc.fetch(h, fetch_size=100)["data"]
                if data != [str(k) for k in range(i + 2)]:
                    errs.append(f"beeswax client {i}: rows {data!r}")
                hc._call("CancelOperation", hc._handle_req(op))
                bc.cancel(h)
                if j % 2:
                    hc.close_operation(op)
                hc.close_session()
                bc.close_query(h)
            if i % 2:  # crash: leave a session and an operation open
                hc.open_session({"explain_level": "3"})
                hc.execute("select 1 as one")
                bc.query("select 1 as one", configuration=["parquet_compression_codec=gzip"])
            hc.close()
            bc.close()
        except Exception as e:  # noqa: BLE001 — surfaced via errs
            errs.append(f"client {i}: {type(e).__name__}: {e}")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=run, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert not errs, errs
    for _ in range(200):  # disconnect teardown runs on the handler threads
        if not beeswax.handles and not hs2.handles and not isess._leases:
            break
        time.sleep(0.05)
    assert not beeswax.handles and not hs2.handles
    assert not isess._leases
    assert isess.options() == before
