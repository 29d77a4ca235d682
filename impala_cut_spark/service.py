"""The query front end both client protocols share.

The reference's impalad serves Beeswax and HS2 from one query-exec
state (``be/src/service/``): one handle table, one set of session
options, one thrift service loop.  This module holds each of those
once; ``thrift_server.py`` (BeeswaxService) and ``hs2_server.py``
(TCLIService) keep only their own struct maps, replies and exception
mappings.  Query options are leased through the shared
``ImpalaSession`` (``lease_options``/``release_options``), which owns
them.

Run both ports over one session, as one impalad does::

    python -m impala_cut_spark.service --sf-dir DIR
"""

from __future__ import annotations

import itertools
import socket
import socketserver
import threading
from typing import Any, Callable, Hashable, Iterator

from pyspark.serializers import BatchedSerializer, CPickleSerializer, read_int, write_int
from pyspark.traceback_utils import SCCallSiteSync
from pyspark.util import local_connect_and_auth

from impala_cut_spark import sasl_transport as st
from impala_cut_spark import thrift_proto as tp
from impala_cut_spark.session import ImpalaSession

#: rows per fetch page when a client asks for a non-positive size: an
#: empty page without end-of-stream would spin a drain-until-eos client
DEFAULT_FETCH_ROWS = 1024


def _local_rows(df) -> Iterator:
    """``df.toLocalIterator()`` whose socket closes with the generator.
    Rows cross to the driver one partition per request, like the
    reference's plan-root sink, never as a full collect.  pyspark's own
    iterator leaves the socket, and the JVM thread serving it, open
    until garbage collection.  The first ``next()`` plans the query and
    connects; it yields nothing.

    Mirrors pyspark 4.1.2's ``DataFrame.toLocalIterator`` and
    ``pyspark.util._local_iterator_from_socket`` (private: the
    ``toPythonIterator`` call and the 1/0/-1 status words), so a
    pyspark upgrade must re-check it."""
    with SCCallSiteSync(df.sparkSession.sparkContext):
        port, secret, server = df._jdf.toPythonIterator(False)
    f, sock = local_connect_and_auth(port, secret)
    sock.settimeout(None)  # a partition takes unbounded time to compute
    part, status = iter(()), 1
    with sock, f:
        try:
            yield
            while status == 1:
                write_int(1, f)  # ask for the next partition
                f.flush()
                status = read_int(f)  # 1: one follows, 0: done, -1: failed
                if status == 1:
                    part = BatchedSerializer(CPickleSerializer()).load_stream(f)
                    for row in part:  # not ``yield from``: close must not close it
                        yield row
            if status == -1:
                server.getResult()  # raises the JVM-side error
        finally:
            if status == 1:  # closed early: finish the partition, say stop
                try:
                    for _ in part:
                        pass
                    write_int(0, f)
                    f.flush()
                except (OSError, EOFError):
                    pass  # the JVM end is gone already


class Operation:
    """An executed statement: the schema as (name, dtype) pairs plus a
    row cursor that can restart from row 0 (HS2 FETCH_FIRST)."""

    def __init__(self, columns: list[tuple[str, str]], restart: Callable[[], Any]):
        self.columns = columns
        self._restart = restart
        #: DML only: rows written, for Beeswax CloseInsert
        self.rows_appended: dict[str, int] | None = None
        self.df = None
        #: set once by close(); a closed operation never reopens its cursor
        self.closed = False
        # held while the cursor is read or replaced: a generator cannot
        # be closed while another thread runs it
        self._lock = threading.Lock()
        self._rows = iter(())
        self.rewind()

    @classmethod
    def from_df(cls, df) -> "Operation":
        def restart() -> Iterator:
            rows = _local_rows(df)
            next(rows)  # plan now: a planning error belongs to execute
            return rows

        op = cls(list(df.dtypes), restart)
        op.df = df
        return op

    def rewind(self) -> None:
        with self._lock:
            if not self.closed:
                self._close_rows()
                self._rows = iter(self._restart())
                self._next_row = 0
                self.eos = False
        self._close_if_closed()

    def close(self) -> None:
        """Release the row cursor now rather than at garbage collection.
        Does not wait for a fetch or rewind in flight: that call
        releases the cursor as it ends."""
        self.closed = True
        self._close_if_closed()

    def _close_if_closed(self) -> None:
        # whoever holds the lock calls this again after releasing it
        if self.closed and self._lock.acquire(blocking=False):
            try:
                self._close_rows()
            finally:
                self._lock.release()

    def _close_rows(self) -> None:
        close = getattr(self._rows, "close", None)
        if close is not None:
            close()

    def fetch(self, n: int) -> tuple[int, list]:
        """Up to ``n`` rows (non-positive: DEFAULT_FETCH_ROWS) →
        (start_row, rows)."""
        if n <= 0:
            n = DEFAULT_FETCH_ROWS
        with self._lock:
            rows = [] if self.closed else list(itertools.islice(self._rows, n))
            self.eos = len(rows) < n
            start = self._next_row
            self._next_row += len(rows)
        self._close_if_closed()
        return start, rows


class HandleTable:
    """Live handles of one server under one lock.  Every entry may have
    an owner entry, and closing a handle closes everything it owns: a
    connection owns its Beeswax operations and HS2 sessions, an HS2
    session owns its operations, so a disconnect or CloseSession reaps
    what the client left open."""

    def __init__(self, key: Callable[[int], Hashable]):
        self._key = key
        self._lock = threading.Lock()
        self._next = itertools.count(1)
        self._entries: dict[Hashable, tuple[Any, Hashable]] = {}  # handle → (item, owner)

    def __contains__(self, handle) -> bool:
        return handle in self._entries

    def __len__(self) -> int:
        return len(self._entries)

    def new_handle(self) -> Hashable:
        return self._key(next(self._next))

    def register(self, item, owner=None, handle=None) -> Hashable | None:
        """Add ``item``; None when ``owner`` is given but not live."""
        with self._lock:
            if owner is not None and owner not in self._entries:
                return None
            handle = self.new_handle() if handle is None else handle
            self._entries[handle] = (item, owner)
            return handle

    def get(self, handle, kind: type = Operation):
        item = self._entries.get(handle, (None, None))[0]
        return item if isinstance(item, kind) else None

    def owner(self, handle):
        return self._entries.get(handle, (None, None))[1]

    def close(self, handle, kind: type = Operation) -> list[tuple[Hashable, Any]]:
        """Remove ``handle`` (if it holds a ``kind``) and everything it
        owns, transitively; → the removed (handle, item) pairs, the
        given handle first."""
        with self._lock:
            entry = self._entries.get(handle)
            if entry is None or not isinstance(entry[0], kind):
                return []
            closed = [handle]
            for h in closed:  # grows as owned entries are found
                closed += [c for c, (_, o) in self._entries.items() if o == h]
            return [(h, self._entries.pop(h)[0]) for h in closed]


class ThriftServer:
    """Threaded TCP thrift service around one ImpalaSession: optional
    SASL/PLAIN, then one message at a time dispatched to ``_m_<name>``
    through ``_reply(name, seqid, fn, args) -> bytes``, where each
    protocol maps its replies and exceptions.  Each connection is a handle
    that owns what it opens, and its teardown closes them — a crashed
    client must not leave shipped options applied to the shared
    session for every future client."""

    #: handle number → wire handle
    handle_key: Callable[[int], Hashable] = str

    def __init__(
        self,
        session: ImpalaSession | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
        auth=None,
    ):
        """``auth``: optional (user, password) → bool validator — when
        set, every connection must complete a SASL/PLAIN negotiation
        first (the reference's LDAP path wraps both the Beeswax and
        HS2 services: auth-provider.h:114-121)."""
        self.session = session or ImpalaSession()
        self.handles = HandleTable(self.handle_key)
        self._auth = auth
        self._conn = threading.local()  # .handle: this thread's connection
        outer = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self) -> None:
                outer._serve_connection(self.rfile, self.wfile)

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server((host, port), Handler)
        self.host, self.port = self._server.server_address

    def _serve_connection(self, rfile, wfile) -> None:
        if self._auth is not None:
            try:
                st.server_negotiate(rfile, wfile, self._auth)
            except (st.SaslError, EOFError):
                return  # reject: negotiation reply already sent
            # reuse the SAME rfile/wfile pair (the buffered reader may
            # have consumed bytes past negotiation)
            rfile = wfile = st.FramedFile(rfile, wfile)
        self._conn.handle = conn = self.handles.register(None)
        try:
            r = tp.BinaryReader(rfile)
            while True:
                try:
                    name, _, seqid = r.message_begin()
                except EOFError:
                    return
                args = r.read_struct()
                fn = getattr(self, f"_m_{name}", None)
                if fn is None:
                    # a stock generated client has no IDL for this
                    # method, so a REPLY would be misparsed — thrift's
                    # contract is TApplicationException(UNKNOWN_METHOD)
                    reply = tp.application_exception(
                        name, seqid, f"Invalid method name: '{name}'"
                    )
                else:
                    reply = self._reply(name, seqid, fn, args)
                wfile.write(reply)
                wfile.flush()
        finally:
            self.close_handle(conn, object)

    def _conn_handle(self):
        """The calling connection's handle; None for an in-process call."""
        return getattr(self._conn, "handle", None)

    def close_handle(self, handle, kind: type = Operation):
        """Close ``handle`` and what it owns, releasing their leased
        options; → its item, or None when no such live ``kind``."""
        closed = self.handles.close(handle, kind)
        for h, item in closed:
            if isinstance(item, Operation):
                item.close()
            self.session.release_options(h)
        return closed[0][1] if closed else None

    def serve_background(self) -> threading.Thread:
        t = threading.Thread(target=self._server.serve_forever, daemon=True)
        t.start()
        return t

    def shutdown(self) -> None:
        self._server.shutdown()
        self._server.server_close()


class ThriftClient:
    """Blocking TBinaryProtocol client, one call at a time (what a
    generated thrift client does) — used by tests, the remote shell
    and the benchmark to drive a server exactly as a stock client."""

    def __init__(self, host: str, port: int, user: str | None = None, password: str = ""):
        """``user``: when given, run the SASL/PLAIN negotiation first —
        the stock shell's LDAP mode (TSaslClientTransport(…, "PLAIN",
        sock), shell/impala_shell.py:694)."""
        self._sock = socket.create_connection((host, port))
        self._f = self._sock.makefile("rwb")
        if user is not None:
            st.client_negotiate(self._f, user, password)
            self._f = st.FramedFile(self._f)
        self._seq = itertools.count(1)

    def _roundtrip(self, name: str, build_args) -> dict[int, Any]:
        """Send a CALL whose argument fields ``build_args`` writes; →
        the reply's result struct (TApplicationException raised)."""
        w = tp.BinaryWriter()
        seqid = next(self._seq)
        w.message_begin(name, tp.CALL, seqid)
        build_args(w)
        w.stop()
        self._f.write(w.bytes())
        self._f.flush()
        r = tp.BinaryReader(self._f)
        rname, mtype, rseq = r.message_begin()
        if (rname, rseq) != (name, seqid):
            raise tp.TProtocolError(f"out-of-order reply {rname}/{rseq}")
        result = r.read_struct()
        tp.raise_if_exception(mtype, result)
        return result

    def close(self) -> None:
        self._f.close()
        self._sock.close()


def main() -> None:  # pragma: no cover — interactive entry point
    import argparse

    from impala_cut_spark.hs2_server import HS2ThriftServer
    from impala_cut_spark.sources.catalog import register_views
    from impala_cut_spark.thrift_server import BeeswaxThriftServer

    ap = argparse.ArgumentParser(description="impala_cut_spark Beeswax + HS2 thrift server")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--beeswax-port", type=int, default=21000)  # reference defaults
    ap.add_argument("--hs2-port", type=int, default=21050)
    ap.add_argument("--sf-dir", required=True, help="register the tables in this directory")
    args = ap.parse_args()
    session = ImpalaSession()
    register_views(session.spark, args.sf_dir)
    beeswax = BeeswaxThriftServer(session, host=args.host, port=args.beeswax_port)
    hs2 = HS2ThriftServer(session, host=args.host, port=args.hs2_port)
    beeswax.serve_background()
    print(f"BeeswaxService on {beeswax.host}:{beeswax.port}, "
          f"TCLIService on {hs2.host}:{hs2.port}", flush=True)
    hs2._server.serve_forever()


if __name__ == "__main__":
    main()
